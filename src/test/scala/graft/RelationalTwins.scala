package graft

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational forms the JVM vector kernels replaced, kept as test
  * oracles: the Lloyd step as a broadcast cross join with an agg-min
  * assignment ([[Similarity.nearestCentroid]]) and a posexplode/groupBy
  * mean, and IVF as nearestCentroid ⋈ [[Similarity.assignProbes]] ranked
  * by a row_number window. The kernels must match them bit for bit. */
object RelationalTwins {

  def kmeansCentroids(spark: SparkSession, vectors: DataFrame, k: Int, iters: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      trainSampleCap: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    val train =
      if (trainSampleCap == Long.MaxValue) vectors
      else vectors.orderBy(
          expr(graft.queries.Idioms.hash60Expr(s"CAST($idCol AS STRING)")).asc,
          col(idCol).asc)
        .limit(trainSampleCap.toInt)
    var cents: Array[(Long, Array[Float])] = train
      .orderBy(col(idCol).asc).limit(k)
      .select(col(idCol), col(vecCol)).as[(Long, Array[Float])].collect()
      .zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    for (_ <- 1 to iters) {
      val cdf = cents.toSeq.toDF("centroid_id", "cvec")
      val assigned = Similarity.nearestCentroid(
        train.select(col(idCol), col(vecCol)), cdf, vecCol, idCol, Seq(vecCol))
      val means = assigned
        .select(col("centroid_id"), posexplode(col(vecCol)))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(sum(floor(col("col").cast("double") * lit(1000000.0))).as("sm"),
          count(lit(1)).as("cnt"))
        .withColumn("m",
          (col("sm").cast("double") / col("cnt").cast("double") / lit(1000000.0)).cast("float"))
        .groupBy(col("centroid_id"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
          .as("cvec"))
        .as[(Long, Array[Float])].collect().toMap
      cents = cents.map { case (cid, v) => (cid, means.getOrElse(cid, v)) }
    }
    cents.toSeq.toDF("centroid_id", "cvec")
  }

  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame, k: Int,
              nprobe: Int = 1): DataFrame = {
    val corpusAssigned = Similarity.nearestCentroid(corpus, centroids, "cv", "neighbor_id", Seq("cv"))
      .drop("casim")
    val queriesAssigned = Similarity.assignProbes(queries, centroids, nprobe)
    val cands = corpusAssigned.join(broadcast(queriesAssigned), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.guardedCosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank").cast("long"))
  }

  /** q92's relational power iteration, which the co-partitioned RDD form
    * ([[graft.queries.TextOps.textRank]]) replaced: symmetrize the
    * directed pair counts by union/flip, weighted degree by groupBy, and
    * three join + groupBy rounds in integer-exact SQL arithmetic. */
  def textRank(pc: DataFrame): DataFrame = {
    val und = pc.union(pc.select(col("b").as("a"), col("a").as("b"), col("c")))
    val edges = und.groupBy(col("a"), col("b")).agg(sum(col("c")).as("w"))
    val wdeg = edges.groupBy(col("a")).agg(sum(col("w")).as("wdeg"))
    val e = edges.join(wdeg, "a").select(col("a"), col("b"), col("w"), col("wdeg"))
    var ranks = e.select(col("a").as("word")).distinct()
      .withColumn("score", lit(1000000000L))
    for (_ <- 1 to 3) {
      ranks = e.join(ranks, e("a") === ranks("word"))
        .select(col("b"), expr("score * w div wdeg").as("c"))
        .groupBy(col("b"))
        .agg((lit(150000000L) + expr("85 * sum(c) div 100")).as("score"))
        .select(col("b").as("word"), col("score"))
    }
    ranks
  }

  /** Centroids as (id, raw float bits) — equality is bit equality. */
  def bits(cents: DataFrame): Seq[(Long, Seq[Int])] =
    cents.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits))).toSeq.sortBy(_._1)
}
