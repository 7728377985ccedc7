package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the evidence artifact behind plans/r19/<query>_{before,after}.txt
  * (the optimization-round judge checks plan claims against these).
  *
  * Usage: tools/run.sh graft.PlanDump <sfDir> <outDir> <suffix> [q1,q2,...]
  * (no query list = all queries). Writes <outDir>/<query>_<suffix>.txt.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    }
    val spark = LocalSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        try { TempCaches.releaseAll(); spark.catalog.clearCache() }
        catch { case _: Throwable => () }
        System.err.println(s"[plandump] $name")
      }
    spark.stop()
  }
}
