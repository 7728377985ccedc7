package graft

import org.apache.spark.sql.SparkSession

/** The one session shape every local main runs on: `local[n]` with `n`
  * shuffle partitions, UTC session time zone, UI off.
  *
  * `n` comes from SPARK_GRAFT_CPUS, or `fallbackCpus` when it is unset.
  * `getOrCreate` reuses an active session and applies the runtime confs
  * (shuffle partitions, time zone) to it, so a main called from inside
  * another program (perfbench calls `ScaleGen.main`) writes with this
  * partition count too. The caller sets its own log level. */
object LocalSession {
  def apply(fallbackCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", fallbackCpus.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
