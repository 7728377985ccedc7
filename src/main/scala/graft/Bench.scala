package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * The contract:
  *   1. a warmup pass on sf0.001 compiles JIT and codegen before anything
  *      is timed; it runs the queries the run times (the whole suite, or
  *      the SPARK_GRAFT_BENCH_QUERIES subset);
  *   2. each query is timed REPS times (default 3) and reports the MEDIAN;
  *      a query whose spread (max/min) exceeds 3x is re-timed with five
  *      fresh reps and reports their median, with its raw rep times in
  *      `reps_raw`;
  *   3. the line goes to stdout, before and after the teardown, and to a
  *      file (BENCH.json, or SPARK_GRAFT_BENCH_OUT); seconds are rounded
  *      to 3 decimals and the log level is ERROR while timing, so the line
  *      stays short and last in the stdout tail;
  *   4. the line carries `loadavg_before`/`loadavg_after`, per-query
  *      `spread`, `n_ok` (how many queries the total covers) and
  *      `contended` (loadavg_before > 1.5 or a spread still over 3x).
  *
  * A SPARK_GRAFT_BENCH_QUERIES subset run tags the line with
  * "metric":"total_subset" and defaults the out file to BENCH_subset.json,
  * so a partial total never overwrites the full-suite BENCH.json; unknown
  * query names abort.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // optional comma-separated subset; empty/unset = the full suite
    val only = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    }
    val selected = SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "BENCH_subset.json" else "BENCH.json")
    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val spark = LocalSession(32)
    spark.sparkContext.setLogLevel("WARN")

    // wait for the 1-min loadavg to fall below the contention threshold,
    // up to SPARK_GRAFT_BENCH_WAIT_SECS (default 900 s; 0 disables), then
    // run anyway: the `contended` stamp still marks a loaded box
    val waitCap = sys.env.getOrElse("SPARK_GRAFT_BENCH_WAIT_SECS", "900").toLong
    val waitT0 = System.nanoTime()
    while (loadavg() > 1.5 && (System.nanoTime() - waitT0) / 1e9 < waitCap) {
      System.err.println(s"[bench] loadavg ${loadavg()} > 1.5 — waiting for an idle box")
      Thread.sleep(15000)
    }

    // sampled before the warmup, which itself drives the loadavg past the
    // threshold
    val loadBefore = loadavg()

    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      selected.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
        try { TempCaches.releaseAll(); spark.catalog.clearCache() }
        catch { case _: Throwable => () }
      }
      // let the ContextCleaner drain the warmup's broadcast/shuffle refs
      // outside the timed region, not inside the first timed query
      System.gc()
      Thread.sleep(3000)
      System.gc()
    }

    // a failing query reports -1.000, never the time to the throw, and
    // its exception class goes into the line's "errors" map
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // each rep releases the frames its query cached, outside the timed
    // region, so no later query pays their eviction
    def timeOnce(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val dt =
        try {
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            errors.getOrElseUpdate(name, e.getClass.getSimpleName)
            -1.0
        }
      try { TempCaches.releaseAll(); spark.catalog.clearCache() }
      catch { case _: Throwable => () }
      dt
    }

    spark.sparkContext.setLogLevel("ERROR") // WARN spam must not dilute the stdout tail
    // (median, spread = max/min of the reps that produced it, raw reps of
    // a re-repped query)
    val results: Seq[(String, (Double, Double, Option[(Seq[Double], Seq[Double])]))] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
          def stats(ts: Seq[Double]): (Double, Double) =
            if (ts.exists(_ < 0)) (-1.0, -1.0) // any erroring rep = broken query
            else {
              val s = ts.sorted
              (s(s.length / 2), if (s.head > 0) s.last / s.head else -1.0)
            }
          val firstRaw = (1 to reps).map(_ => timeOnce(name, fn))
          val first = stats(firstRaw)
          if (reps > 1 && first._1 >= 0 && first._2 > 3.0) {
            // the median of reps + 2 fresh reps: a transient must
            // out-vote three clean ones
            val rerepRaw = (1 to reps).map(_ => timeOnce(name, fn)) ++
              (1 to 2).map(_ => timeOnce(name, fn))
            val fin = stats(rerepRaw)
            name -> (fin._1, fin._2, Some((firstRaw, rerepRaw)))
          } else name -> (first._1, first._2, None)
        }
    val loadAfter = loadavg()
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def r1(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, (m, _, _)) => "\"" + k + "\":" + r3(m) }
      .mkString("{", ",", "}")
    // spread only where it is >= 1.2x or the -1 error marker; an absent
    // key means the reps agreed within 1.2x
    val spreads = results.collect {
      case (k, (_, sp, _)) if sp >= 1.2 || sp < 0 => "\"" + k + "\":" + r1(sp)
    }.mkString("{", ",", "}")
    // raw reps of re-repped queries, [[first], [rerep]]: the line carries
    // the 8 widest-spread entries, so it stays bounded; the full map goes
    // to a `.reps_raw` file next to the out file
    val repsRawAll = results.collect {
      case (k, (_, sp, Some((f, rr)))) =>
        (k, sp, "\"" + k + "\":[" + f.map(r3).mkString("[", ",", "]") + "," +
          rr.map(r3).mkString("[", ",", "]") + "]")
    }
    val repsRaw = repsRawAll.sortBy(-_._2).take(8).sortBy(_._1)
      .map(_._3).mkString("{", ",", "}")
    val repsRawFull = repsRawAll.map(_._3).mkString("{", ",", "}")
    // the total sums the healthy medians only; n_ok counts them
    val healthy = results.map(_._2._1).filter(_ >= 0)
    val total = healthy.sum
    val errJson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val contended = loadBefore > 1.5 ||
      results.exists { case (_, (_, sp, _)) => sp > 3.0 }
    val metric = if (only.isDefined) "total_subset" else "total"
    // trained-artifact memo hits and misses: an ANN query's first rep
    // trains, later reps reuse, so its median is the trained shape
    val memo = s"""{"hits":${graft.queries.VectorOps.memoHits.get},"misses":${graft.queries.VectorOps.memoMisses.get}}"""
    val line =
      s"""{"metric":"$metric","value":${r3(total)},"unit":"sec","n_ok":${healthy.size},"contended":$contended,"queries":$qs,"sf":"$sfDir","reps":$reps,"errors":$errJson,"loadavg_before":${r1(loadBefore)},"loadavg_after":${r1(loadAfter)},"memo":$memo,"spread":$spreads,"reps_raw":$repsRaw}"""
    // printed before and after the teardown, so either end of a truncated
    // stdout tail holds a complete copy
    println(line)
    Console.out.flush()
    try {
      val w = new java.io.PrintWriter(new java.io.File(outFile))
      try w.println(line) finally w.close()
    } catch { case _: Throwable => () } // file emit is best-effort; stdout is the contract
    if (repsRawAll.size > 8) {
      try {
        val w = new java.io.PrintWriter(new java.io.File(outFile + ".reps_raw"))
        try w.println(s"""{"reps_raw":$repsRawFull}""") finally w.close()
      } catch { case _: Throwable => () }
    }
    spark.stop()
    println(line)
    Console.out.flush()
  }
}
