package graft.bench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds it and calls it
  * twice per run: `gen` writes the seeded inputs when they are not on disk
  * yet, and `run` measures one workload on a fresh JVM, so JVM warmth
  * never depends on whether the inputs were cached.
  *
  *   gen --workload W --seed N --data DIR [--scale F]
  *   run --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *       --out DIR --expected FILE [--scale F] [--record 1]
  *       [--plant drop_gold_row]
  *
  * The last stdout line of `run` is the result object; the line before it
  * is the artifact (seed, load, settings, per-query times, the workload's
  * own named figures and every check). */
object PerfBench {
  val Cores = 4
  /** Calibration time the declared metrics are scaled to: each reads as it
    * would on a machine whose [[Proc.calibrationNs]] is this. */
  val NominalCalibrationNs = 60e6

  /** The one session shape every workload runs on. */
  def session(localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def parse(args: Seq[String]): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("")
    lazy val a = parse(argv.toSeq.drop(1))
    mode match {
      case "gen" => gen(a)
      case "run" => run(a)
      case "selftest" => SelfTest.main(argv.drop(1))
      case _ =>
        System.err.println("usage: PerfBench gen|run --workload W --seed N ...")
        sys.exit(2)
    }
  }

  def inputDir(a: Map[String, String]): String = {
    val scale = a.getOrElse("scale", "1")
    val tag = if (scale == "1") "" else s"-x$scale"
    s"${a("data")}/${a("workload")}-seed${a("seed")}$tag"
  }

  def gen(a: Map[String, String]): Unit = {
    val workload = a("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val dir = inputDir(a)
    if (new File(dir, "meta.json").isFile) return
    val tmp = s"${a("data")}/tmp"
    stop(Inputs.generate(session(tmp), workload, a("seed").toLong, dir,
      a.getOrElse("scale", "1").toDouble, () => session(tmp)))
  }

  def loadPerCore(): Double = {
    val f = new File("/proc/loadavg")
    if (!f.isFile) -1.0
    else new String(Files.readAllBytes(f.toPath), UTF_8).split("\\s+")(0).toDouble / Cores
  }

  def run(a: Map[String, String]): Unit = {
    val workload = Workloads(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val in = inputDir(a)
    val work = a("work")
    val meta = Inputs.readMeta(in)
    require(meta.nonEmpty, s"no generated inputs at $in")
    val loadBefore = loadPerCore()

    // set-up: session start through the workload's base-building pass.
    // Calibrations before and after it (the first ones warm the kernel's
    // JIT) scale it to the nominal machine speed.
    Inputs.deleteTree(new File(work))
    new File(work).mkdirs()
    (0 until 3).foreach(_ => Proc.calibrationNs())
    val calBefore = Proc.calibrationNs()
    val setupCpu0 = Proc.cpuNs
    val setup0 = System.nanoTime()
    val spark = session(s"$work/tmp")
    val tracer = new Tracer(spark)
    val ctx = Ctx(spark, tracer, in, s"$work/state", meta, a.getOrElse("plant", ""))
    tracer.enabled = trace
    workload.setup(ctx)
    val setupSeconds = (System.nanoTime() - setup0) / 1e9
    val setupCpuSeconds = (Proc.cpuNs - setupCpu0) / 1e9
    val calSetup = (calBefore + Proc.calibrationNs()) / 2

    workload match {
      case s: SuiteHeavy => s.hashResults = a.get("record").contains("1") ||
        readExpected(a).keys.exists(_.startsWith(expectedKey(a, "query/")))
      case _ =>
    }
    // the closed loop: one client, next iteration when the last one ends.
    // A traced run traces iterations 2, 4, ... and leaves the others
    // untraced, so each traced iteration sits between two untraced ones
    // and the tracing overhead is measured inside the same run. Iteration
    // 0 is never traced, because it also warms the JIT.
    val iters = scala.collection.mutable.ArrayBuffer[Seq[Op]]()
    val traced = scala.collection.mutable.ArrayBuffer[Boolean]()
    val planningAt = scala.collection.mutable.ArrayBuffer[Long]()
    val memoAt = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val iterSteal = scala.collection.mutable.ArrayBuffer[Double]()
    // per iteration, the mean of the calibration just before it and those
    // after each of its ops
    val iterCal = scala.collection.mutable.ArrayBuffer[Double]()
    var calLast = calSetup
    ctx.calibrating = true
    val ticks0 = Proc.cpuTicks
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minIters = if (trace) math.max(4, workload.minIterations) else workload.minIterations
    def more = elapsed < seconds || iters.length < minIters || (trace && iters.length % 2 == 1)
    while (more && iters.length < workload.maxIterations(ctx)) {
      val i = iters.length
      tracer.enabled = trace && i > 0 && i % 2 == 0
      val memo0 = (graft.queries.VectorOps.memoHits.get, graft.queries.VectorOps.memoMisses.get)
      val p0 = tracer.planningMs
      val k0 = Proc.cpuTicks
      val n0 = ctx.calibrations.length
      iters += workload.iteration(ctx, i)
      iterSteal += Proc.stealShare(k0, Proc.cpuTicks)
      traced += tracer.enabled
      tracer.enabled = false
      planningAt += tracer.planningMs - p0
      memoAt += ((graft.queries.VectorOps.memoHits.get - memo0._1,
        graft.queries.VectorOps.memoMisses.get - memo0._2))
      val cals = calLast +: ctx.calibrations.drop(n0).toSeq
      iterCal += cals.sum / cals.length
      calLast = cals.last
    }
    ctx.calibrating = false
    val loopWall = elapsed
    val stealShare = Proc.stealShare(ticks0, Proc.cpuTicks)
    val loadAfter = loadPerCore()

    val checks = workload.verify(ctx) ++ inputChecks(spark, a, in, meta, workload)
    val ops = iters.toSeq.flatten
    val failedOps = ops.count(!_.ok) + checks.count(!_._2)
    val attempted = ops.length + checks.length
    val figures = workload.figures(ctx, iters.toSeq)
    val passSeconds = iters.map(_.map(_.seconds).sum)
    // a pass's wall time without the share of it the host stole from the
    // VM: it still grows when the program loses parallelism or waits
    val passUnstolen = passSeconds.zip(iterSteal).map { case (w, st) => w * (1 - st) }
    // the end-to-end values as measured, and scaled to the nominal speed
    def perIter(xs: Seq[Double]) = Stats.median(xs.zip(iterCal).map { case (x, c) => x * NominalCalibrationNs / c })
    val raw = ListMap(
      "setup_s" -> setupCpuSeconds,
      "op_cpu_p50_ms" -> Stats.median(workload.opCpuSeconds(iters.toSeq)) * 1000,
      "pass_cpu_s" -> Stats.median(iters.toSeq.map(_.map(_.cpuSeconds).sum)),
      "pass_wall_s" -> Stats.median(passUnstolen.toSeq))

    val metrics: ListMap[String, (Double, String)] =
      if (!trace) ListMap(
        "setup_s" -> (setupCpuSeconds * NominalCalibrationNs / calSetup, "s"),
        "op_cpu_p50_ms" -> (perIter(workload.opCpuSeconds(iters.toSeq)) * 1000, "ms"),
        "pass_cpu_s" -> (perIter(iters.toSeq.map(_.map(_.cpuSeconds).sum)), "s"),
        "pass_wall_s" -> (perIter(passUnstolen.toSeq), "s"))
      else Layers.metrics(ctx, workload, iters.toSeq, traced.toSeq,
        planningAt.toSeq, memoAt.toSeq)

    if (a.get("record").contains("1")) record(a, spark, in, meta, workload)

    val artifact = ListMap[String, Any](
      "artifact" -> "perfbench",
      "workload" -> workload.name, "seed" -> seed, "trace" -> trace,
      "loop" -> "closed", "clients" -> 1,
      "load_per_core_before" -> loadBefore, "load_per_core_after" -> loadAfter,
      "settings" -> settings(spark),
      "steal_share" -> stealShare,
      "iteration_steal_share" -> iterSteal.toSeq,
      "calibration_ms" -> ListMap("setup" -> calSetup / 1e6, "iterations" -> iterCal.toSeq.map(_ / 1e6)),
      "unscaled" -> raw,
      "setup_wall_s" -> setupSeconds,
      "iterations" -> iters.length, "loop_wall_s" -> loopWall,
      "op_p50_ms" -> Stats.median(workload.opSeconds(iters.toSeq)) * 1000,
      "pass_s" -> Stats.median(passSeconds.toSeq),
      "error_rate" -> failedOps.toDouble / attempted,
      "figures" -> figures.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
      "ops" -> ops.toSeq.groupBy(_.kind).map { case (k, xs) =>
        k -> ListMap("n" -> xs.length, "p50_ms" -> Stats.median(xs.map(_.seconds * 1000)),
          "cpu_p50_ms" -> Stats.median(xs.map(_.cpuSeconds * 1000)), "failed" -> xs.count(!_.ok)) },
      "failures" -> (ops.filter(!_.ok).map(o => s"${o.kind}: ${o.note}") ++
        checks.filter(!_._2).map(_._1)),
      "checks" -> checks.map { case (k, v) => k -> v }.toMap) ++ (workload match {
        case s: SuiteHeavy => ListMap(
          "cold_query_s" -> s.coldSeconds,
          "query_s" -> s.Queries.map(q => q -> iters.map(_.find(_.kind == q).get.seconds)).toMap,
          "query_result" -> s.finalHash)
        case _ => ListMap.empty
      })

    val out = a("out")
    new File(out).mkdirs()
    val stem = s"$out/${new File(in).getName}-trace${if (trace) 1 else 0}"
    Files.write(Paths.get(s"$stem.json"), Json.encode(artifact).getBytes(UTF_8))
    if (trace) Files.write(Paths.get(s"$stem.spans.json"),
      Json.encode(tracer.records).getBytes(UTF_8))

    stop(spark)
    Inputs.deleteTree(new File(work))
    val result = ListMap[String, Any](
      "correct" -> (failedOps == 0), "attempted" -> attempted, "failed" -> failedOps,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
    println(Json.encode(artifact))
    println(Json.encode(result))
    Console.out.flush()
  }

  def settings(spark: SparkSession): Map[String, Any] = {
    val conf = spark.conf
    Map(
      "master" -> spark.sparkContext.master,
      "spark.sql.shuffle.partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled"),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "nproc" -> Runtime.getRuntime.availableProcessors)
  }

  private def expectedKey(a: Map[String, String], what: String): String =
    s"${a("workload")}/${a("seed")}${if (a.getOrElse("scale", "1") == "1") "" else "x" + a("scale")}/$what"

  private def readExpected(a: Map[String, String]): Map[String, String] = {
    val f = new File(a("expected"))
    if (f.isFile) Json.parseFlat(new String(Files.readAllBytes(f.toPath), UTF_8)) else Map.empty
  }

  /** The inputs on disk still match the fingerprint recorded when they
    * were generated, and the one recorded at this commit for this seed. */
  def inputChecks(spark: SparkSession, a: Map[String, String], in: String,
                  meta: Map[String, String], w: Workload): Seq[(String, Boolean)] = {
    val expected = readExpected(a)
    Inputs.fingerprints(spark, w.name, in).toSeq.sortBy(_._1).flatMap { case (t, fp) =>
      Seq(s"input.$t.unchanged" -> meta.get(s"fingerprint.$t").contains(fp)) ++
        expected.get(expectedKey(a, s"input/$t")).map(e => s"input.$t.recorded" -> (e == fp))
    } ++ (w match {
      case s: SuiteHeavy => s.Queries.flatMap(q =>
        expected.get(expectedKey(a, s"query/$q")).map(e => s"query.$q.recorded" -> s.finalHash.get(q).contains(e)))
      case _ => Nil
    })
  }

  /** Add this seed's fingerprints to the expected file (kept entries win). */
  def record(a: Map[String, String], spark: SparkSession, in: String,
             meta: Map[String, String], w: Workload): Unit = {
    val fresh = Inputs.fingerprints(spark, w.name, in).map { case (t, fp) =>
      expectedKey(a, s"input/$t") -> fp } ++ (w match {
      case s: SuiteHeavy => s.finalHash.map { case (q, h) => expectedKey(a, s"query/$q") -> h }
      case _ => Map.empty
    })
    val merged = fresh ++ readExpected(a)
    Files.write(Paths.get(a("expected")), Json.flat(merged).getBytes(UTF_8))
  }
}
