package graft

/** Local smoke main: runs the flagship `SparkEntry.entry` the way the
  * driver does (rows>0 check) and prints the plan + row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(8)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.explain("formatted")
    val rows = df.collect()
    println(s"entry rows=${rows.length}")
    rows.take(5).foreach(println)
    spark.stop()
  }
}
