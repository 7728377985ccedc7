package graft

import org.apache.spark.sql.SparkSession

/** The session every spec runs on: `local[4]`, 4 shuffle partitions,
  * UTC, UI off.
  *
  * All suites share one forked test JVM, and `getOrCreate` hands each of
  * them the session the first suite built: a builder-level conf set by
  * one suite would only take effect when that suite happened to run
  * first. A test that needs a different runtime conf sets it with
  * `spark.conf.set` (and restores it). */
trait LocalSpark {
  lazy val spark: SparkSession = LocalSpark.session()
}

object LocalSpark {
  def session(): SparkSession = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()
}
