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

  /** Centroids as (id, raw float bits) — equality is bit equality. */
  def bits(cents: DataFrame): Seq[(Long, Seq[Int])] =
    cents.collect().map(r => (r.getLong(0),
      r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits))).toSeq.sortBy(_._1)
}
