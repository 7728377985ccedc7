package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Scale posture: bucketed tables co-locate join keys so repeated
  * fact-to-fact joins run shuffle-free (SURVEY §4 / builder mandate:
  * "co-locate joins via bucketing"). */
class BucketingSpec extends AnyFunSuite with LocalSpark {

  private lazy val wh = Files.createTempDirectory("graft-warehouse").toString

  test("bucketed orders<->lineitem join plans without shuffle exchanges") {
    val dir = "/root/testdata/sf0.001"
    // getOrCreate may hand back a session created by another suite, which
    // silently drops builder-level confs; set the runtime conf explicitly
    // (and restore it) so the non-broadcast path is actually forced.
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
    // explicit per-run locations: the shared session's default warehouse may
    // hold a stale li_b/ dir from a previous JVM (LOCATION_ALREADY_EXISTS)
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Tables(spark, dir, "lineitem").write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_b").saveAsTable("li_b")
    Tables(spark, dir, "orders").write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_b").saveAsTable("ord_b")

    val joined = spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("q"))
    val plan = joined.queryExecution.executedPlan.toString

    // the join itself must read co-located buckets: no Exchange below it
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    val joinPart = plan.split("SortMergeJoin")(1)
    assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey") &&
      !joinPart.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join should not reshuffle join keys:\n$plan")

    // and the result agrees with the unbucketed plan
    val plain = Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("q"))
      .collect().map(_.toSeq).toSet
    assert(joined.collect().map(_.toSeq).toSet == plain)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
}
