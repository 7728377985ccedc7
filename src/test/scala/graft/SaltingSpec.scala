package graft

import graft.operators.Salting
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Salted two-phase aggregation / replicated-salt join must equal their
  * direct forms exactly. */
class SaltingSpec extends AnyFunSuite with LocalSpark {

  test("salted count+sum equals direct aggregation exactly") {
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
    val direct = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(30, 6))).cast("double").as("total"))
      .collect().map(_.toSeq).toSet
    val salted = Salting.saltedCountSum(li, Seq("l_returnflag"), "l_orderkey", "l_quantity")
      .collect().map(_.toSeq).toSet
    assert(salted == direct)
  }

  test("salted join equals plain join (row multiset)") {
    val li = Tables(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_orderkey").as("k"), col("l_quantity"))
    val ord = Tables(spark, "/root/testdata/sf0.001", "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(df.columns.map(col): _*).count().collect().map(_.toSeq).toSet
    assert(canon(Salting.saltedJoin(li, ord, "k")) == canon(li.join(ord, Seq("k"))))
  }
}
