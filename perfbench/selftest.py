"""The benchmark's own tests, run by `python3 perfbench/run.py --selftest`.

The Scala unit checks (order statistics, metric names, JSON codec, input
determinism) run first; then a toy-size run of each workload must pass its
checks and print exactly the declared metrics, and a run with a planted
wrong output (one gold row dropped after each commit) must count failures.
"""
import json
import os
import re

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def run(bench, jvm):
    failures = []

    def check(name, ok):
        print(("ok  " if ok else "FAIL") + " " + name)
        if not ok:
            failures.append(name)

    for line in jvm(["selftest", os.path.join(HERE, ".work", "selftest")]):
        print(line)

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    check("every declared metric name is well formed",
          all(NAME.match(n) for n in e2e | layer | {w["name"] for w in spec["workloads"]}))

    # the suite's inputs are already small; below full size q40 finds no pairs
    toy = {"pipeline_daily": "0.2", "suite_heavy": "1"}
    for w in spec["workloads"]:
        name = w["name"]
        for trace, names in ((0, e2e), (1, layer)):
            res = json.loads(bench(workload=name, seed=11, seconds=1, trace=trace, scale=toy[name])[-1])
            check(f"{name} trace={trace}: toy run passes its checks",
                  res["correct"] and res["failed"] == 0 and res["attempted"] >= 1)
            check(f"{name} trace={trace}: prints exactly the declared metrics",
                  set(res["metrics"]) == names)
            check(f"{name} trace={trace}: every metric is a number",
                  all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()))

    res = json.loads(bench(workload="pipeline_daily", seed=11, seconds=1, trace=0, scale="0.2",
                           plant="drop_gold_row")[-1])
    check("a dropped gold row is counted as failed", not res["correct"] and res["failed"] > 0)

    print(f"{len(failures)} failure(s)" if failures else "all self-tests passed")
    return 1 if failures else 0
