package graft.bench

import scala.collection.immutable.ListMap

import graft.etl.TxTable

/** Per-layer metrics of a traced run, from the spans of its traced
  * iterations. Times are medians over calls; counts and bytes are medians
  * over iterations (a day, a suite pass), so they do not depend on how
  * many iterations fit in the run. A call the loop never makes is measured
  * in the set-up when the set-up makes it (the daily base's
  * `Gold.refresh`); a layer a workload never calls reads 0. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "bronze.land_s" -> "s", "bronze.cpu_s" -> "s",
    "bronze.shuffle_bytes_per_input_byte" -> "ratio", "bronze.keep_ratio" -> "ratio",
    "silver.cpu_s" -> "s", "silver.task_skew" -> "ratio",
    "silver.bytes_written_per_input_byte" -> "ratio", "silver.refresh_partition_s" -> "s",
    "silver.chunks_per_doc" -> "ratio",
    "gold.refresh_s" -> "s", "gold.cpu_s" -> "s", "gold.upsert_s" -> "s",
    "gold.write_amplification" -> "ratio", "gold.search_jobs" -> "count",
    "gold.search_tasks" -> "count", "gold.search_scan_bytes" -> "bytes",
    "gold.ivf_jobs" -> "count",
    "txtable.manifest_reads" -> "count", "txtable.full_listings" -> "count",
    "txtable.manifest_probes" -> "count", "txtable.cache_hit_ratio" -> "ratio",
    "txtable.rebase_recomputes" -> "count", "txtable.versions" -> "count",
    "txtable.files_per_version" -> "count",
    "queries.relational_s" -> "s", "queries.textops_s" -> "s", "queries.vectorops_s" -> "s",
    "queries.trainingops_s" -> "s", "queries.memo_hits" -> "count",
    "queries.memo_misses" -> "count", "queries.planning_s" -> "s",
    "queries.cold_pass_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.tasks_per_query_p50" -> "count", "spark.sched_delay_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.stage_skew_p90" -> "ratio", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.input_bytes" -> "bytes", "spark.core_busy_ratio" -> "ratio",
    "process.heap_peak_mb" -> "MB", "process.rss_peak_mb" -> "MB",
    "trace.overhead_ratio" -> "ratio")

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def metrics(c: Ctx, w: Workload, iters: Seq[Seq[Op]], traced: Seq[Boolean],
              planningMs: Seq[Long],
              memo: Seq[(Long, Long)]): ListMap[String, (Double, String)] = {
    val t = c.tracer
    t.drain()
    val tracedIdx = traced.indices.filter(traced)
    val spans = t.spans.toSeq.filter(s => s.op >= 0 && traced(s.op))
    val setupSpans = t.spans.toSeq.filter(_.op < 0)
    val top = spans.filter(_.parent < 0)
    def named(n: String) = spans.filter(_.name == n)
    def secs(n: String) = med(named(n).map(t.seconds))
    /** Median over iterations of a per-iteration sum over spans named `n`. */
    def perIter(ss: Seq[Span])(f: SparkTotals => Double): Double = {
      val ops = ss.map(_.op).distinct
      med(ops.map(i => ss.filter(_.op == i).map(s => f(t.subtreeTotals(s.id))).sum))
    }
    def perIterNamed(n: String)(f: SparkTotals => Double) = perIter(named(n))(f)
    def perCall(n: String)(f: SparkTotals => Double) = med(named(n).map(s => f(t.subtreeTotals(s.id))))
    val meta = c.meta
    // the raw input of one iteration: the day's batch
    val inputBytes: Double = meta.getOrElse("day.0.text_bytes", "1").toDouble
    val gold = s"${c.work}/gold"
    val goldExists = TxTable.exists(gold)

    // bronze/silver ratios come from the workload's own row counts
    val (keep, chunksPerDoc) = w match {
      case _: PipelineDaily =>
        def ratio(a: String, b: String) = med(tracedIdx.map(i => meta(s"day.$i.$a").toDouble / meta(s"day.$i.$b").toDouble))
        (ratio("distinct", "rows"), ratio("chunks", "distinct"))
      case _ => (0.0, 0.0)
    }
    // bytes the upsert wrote over the stored size of the rows it added
    val writeAmplification = w match {
      case d: PipelineDaily => med(named("gold.upsert").flatMap(s => d.goldGrowth.get(s.op)
        .filter(_ > 0).map(t.subtreeTotals(s.id).outputBytes.toDouble / _)))
      case _ => 0.0
    }
    def counter(k: String): Double =
      med(tracedIdx.map(i => top.filter(_.op == i).map(_.counters.getOrElse(k, 0L)).sum.toDouble))
    val hits = top.map(_.counters.getOrElse("cache_hits", 0L)).sum.toDouble
    val reads = top.map(_.counters.getOrElse("manifest_reads", 0L)).sum.toDouble

    val queryModule = (m: String) => {
      val ss = spans.filter(_.name.startsWith(s"queries.$m."))
      med(tracedIdx.map(i => ss.filter(_.op == i).map(t.seconds).sum))
    }
    val querySpans = spans.filter(_.name.startsWith("queries."))
    val all = new SparkTotals
    top.foreach(s => all.add(t.subtreeTotals(s.id)))
    val opTime = (i: Int) => iters(i).map(_.seconds).sum
    val tracedWall = tracedIdx.map(opTime).sum
    // overhead: a traced iteration's op time over the mean of its two
    // untraced neighbours', which cancels the daily table's steady growth
    val overhead = med(tracedIdx.filter(i => i > 0 && i + 1 < iters.length && !traced(i - 1) && !traced(i + 1))
      .map(i => opTime(i) / ((opTime(i - 1) + opTime(i + 1)) / 2)))

    val v: Map[String, Double] = Map(
      "bronze.land_s" -> secs("bronze.land"),
      "bronze.cpu_s" -> perIterNamed("bronze.land")(_.cpuNs / 1e9),
      "bronze.shuffle_bytes_per_input_byte" ->
        perIterNamed("bronze.land")(_.shuffleWriteBytes.toDouble) / inputBytes,
      "bronze.keep_ratio" -> keep,
      "silver.cpu_s" -> perIterNamed("silver.refresh_partition")(_.cpuNs / 1e9),
      "silver.task_skew" -> med(named("silver.refresh_partition")
        .map(s => t.subtreeTotals(s.id).stageSkews.maxOption.getOrElse(1.0))),
      "silver.bytes_written_per_input_byte" ->
        perIterNamed("silver.refresh_partition")(_.outputBytes.toDouble) / inputBytes,
      "silver.refresh_partition_s" -> secs("silver.refresh_partition"),
      "silver.chunks_per_doc" -> chunksPerDoc,
      "gold.refresh_s" -> med(setupSpans.filter(_.name == "gold.refresh").map(t.seconds)),
      "gold.cpu_s" -> perIterNamed("gold.upsert")(_.cpuNs / 1e9),
      "gold.upsert_s" -> secs("gold.upsert"),
      "gold.write_amplification" -> writeAmplification,
      "gold.search_jobs" -> perCall("gold.search")(_.jobs.toDouble),
      "gold.search_tasks" -> perCall("gold.search")(_.tasks.toDouble),
      "gold.search_scan_bytes" -> perCall("gold.search")(_.inputBytes.toDouble),
      "gold.ivf_jobs" -> perCall("gold.search_ivf")(_.jobs.toDouble),
      "txtable.manifest_reads" -> counter("manifest_reads"),
      "txtable.full_listings" -> counter("full_listings"),
      "txtable.manifest_probes" -> counter("manifest_probes"),
      "txtable.cache_hit_ratio" -> (if (hits + reads > 0) hits / (hits + reads) else 0.0),
      "txtable.rebase_recomputes" -> counter("rebase_recomputes"),
      "txtable.versions" -> (if (goldExists) TxTable.latestVersion(gold) + 1.0 else 0.0),
      "txtable.files_per_version" -> (if (goldExists) Workloads.snapshotFiles(gold).length.toDouble else 0.0),
      "queries.relational_s" -> queryModule("relational"),
      "queries.textops_s" -> queryModule("textops"),
      "queries.vectorops_s" -> queryModule("vectorops"),
      "queries.trainingops_s" -> queryModule("trainingops"),
      "queries.memo_hits" -> (if (querySpans.isEmpty) 0.0 else med(tracedIdx.map(i => memo(i)._1.toDouble))),
      "queries.memo_misses" -> (if (querySpans.isEmpty) 0.0 else med(tracedIdx.map(i => memo(i)._2.toDouble))),
      "queries.planning_s" -> (if (querySpans.isEmpty) 0.0 else med(tracedIdx.map(i => planningMs(i) / 1000.0))),
      "queries.cold_pass_s" -> (w match { case s: SuiteHeavy => s.coldPassSeconds; case _ => 0.0 }),
      "spark.jobs" -> perIter(top)(_.jobs.toDouble),
      "spark.stages" -> perIter(top)(_.stages.toDouble),
      "spark.tasks" -> perIter(top)(_.tasks.toDouble),
      "spark.tasks_per_query_p50" -> med(top.map(s => t.subtreeTotals(s.id).tasks.toDouble)),
      "spark.sched_delay_s" -> perIter(top)(_.schedDelayMs / 1000.0),
      "spark.shuffle_write_bytes" -> perIter(top)(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> perIter(top)(_.spillBytes.toDouble),
      "spark.stage_skew_p90" -> (if (all.stageSkews.isEmpty) 0.0 else Stats.percentile(all.stageSkews.toSeq, 90)),
      "spark.executor_cpu_s" -> perIter(top)(_.cpuNs / 1e9),
      "spark.gc_s" -> perIter(top)(_.gcMs / 1000.0),
      "spark.input_bytes" -> perIter(top)(_.inputBytes.toDouble),
      "spark.core_busy_ratio" -> (if (tracedWall > 0) all.runMs / 1000.0 / (tracedWall * PerfBench.Cores) else 0.0),
      "process.heap_peak_mb" -> Proc.heapPeakMb,
      "process.rss_peak_mb" -> Proc.rssPeakMb,
      "trace.overhead_ratio" -> overhead)
    ListMap(Names.map { case (n, u) => n -> (v(n), u) }: _*)
  }
}
