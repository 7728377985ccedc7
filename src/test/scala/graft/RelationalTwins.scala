package graft

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational forms the JVM vector kernels replaced, kept as test
  * oracles: brute top-k as a broadcast cross join ranked by a window
  * ([[topKWindow]]), assignment as an agg-min ([[nearestCentroid]]), the
  * query-side probe as a window over the query × centroid cross join
  * ([[assignProbes]]), the Lloyd step as nearestCentroid plus a
  * posexplode/groupBy mean, and IVF — q90, q95 and the standing-index
  * searches included — as nearestCentroid ⋈ assignProbes ranked by a
  * window. The kernels must match them bit for bit, apart from the
  * differences the kernel scaladocs name (NULL vectors, shared ids). */
object RelationalTwins {

  /** queries: (query_id: Long, qv: Array[Float]); corpus: (neighbor_id,
    * cv). Returns (query_id, neighbor_id, cosine, rank), rank ≤ k.
    * NULL vectors are excluded up front on both sides, as in the kernel. */
  def topKWindow(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val sims = corpus.filter(col("cv").isNotNull)
      .crossJoin(broadcast(queries.filter(col("qv").isNotNull)))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.guardedCosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank").cast("long"))
  }

  /** Nearest-centroid assignment by a map-side-combinable aggregation:
    * `min(struct(-casim, centroid_id, payload…))` picks the
    * (max-cosine, min-centroid_id) winner per id. A NULL casim (NULL or
    * ragged vector) sorts first, so such a row takes the lowest
    * centroid_id. `carry` columns ride along inside the packed struct. */
  def nearestCentroid(df: DataFrame, centroids: DataFrame, vecCol: String,
                      idCol: String, carry: Seq[String] = Nil): DataFrame = {
    val packed = struct(
      (col("casim") * lit(-1.0)).as("neg_sim") +: col("centroid_id").as("cid") +:
        col("casim").as("sim") +: carry.map(col): _*)
    df.crossJoin(broadcast(centroids))
      .withColumn("casim", Similarity.guardedCosine(col(vecCol), col("cvec")))
      .groupBy(col(idCol))
      .agg(min(packed).as("_w"))
      .select(col(idCol) +: col("_w.cid").as("centroid_id") +: col("_w.sim").as("casim") +:
        carry.map(c => col(s"_w.$c").as(c)): _*)
  }

  /** Top-`nprobe` nearest centroids per query: the query rows with
    * `centroid_id` attached, one row per (query, probed centroid). */
  def assignProbes(queries: DataFrame, centroids: DataFrame, nprobe: Int,
                   vecCol: String = "qv", idCol: String = "query_id"): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val w = Window.partitionBy(col(idCol)).orderBy(col("casim").desc, col("centroid_id").asc)
    queries.crossJoin(broadcast(centroids))
      .withColumn("casim", Similarity.guardedCosine(col(vecCol), col("cvec")))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= nprobe)
      .drop("casim", "_rk", "cvec")
  }

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
      val assigned = nearestCentroid(
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
    val corpusAssigned = nearestCentroid(corpus, centroids, "cv", "neighbor_id", Seq("cv"))
      .drop("casim")
    val queriesAssigned = assignProbes(queries, centroids, nprobe)
    val cands = corpusAssigned.join(broadcast(queriesAssigned), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.guardedCosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank").cast("long"))
  }

  /** q90's inputs, as the query reads them from `dir`. */
  private def labeledIvfInputs(s: SparkSession, dir: String) = {
    val e = Tables(s, dir, "embeddings")
    (e.filter(col("vec_id") < graft.queries.VectorOps.Q25Cap && col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          col("label").as("qlabel")),
      e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"), col("label").as("clabel")),
      e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec")))
  }

  /** q90 as nearestCentroid ⋈ assignProbes → a same-label filter → a rank
    * window. */
  def q90(s: SparkSession, dir: String): DataFrame = {
    val (q, c, cents) = labeledIvfInputs(s, dir)
    val corpusAssigned = nearestCentroid(c, cents, "cv",
        "neighbor_id", Seq("cv", "clabel")).drop("casim")
    val probes = assignProbes(q, cents, 1)
    val cands = corpusAssigned.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("clabel") === col("qlabel") &&
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.guardedCosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("qlabel").cast("long").as("qlabel"),
        col("neighbor_id"), col("cosine"), col("rank").cast("long").as("rank"))
  }

  /** q95 as one shared candidate frame (nearestCentroid ⋈ assignProbes,
    * nprobe = 2) split into a same-label max and a different-label rank
    * window. */
  def q95(s: SparkSession, dir: String): DataFrame = {
    val (q, c, cents) = labeledIvfInputs(s, dir)
    val corpusAssigned = nearestCentroid(c, cents, "cv",
        "neighbor_id", Seq("cv", "clabel")).drop("casim")
    val probes = assignProbes(q, cents, 2)
    val cands = corpusAssigned.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.guardedCosine(col("qv"), col("cv")))
      .select(col("query_id"), col("qlabel"), col("neighbor_id"),
        col("clabel"), col("cosine"))
    val pos = cands.filter(col("clabel") === col("qlabel"))
      .groupBy(col("query_id")).agg(max(col("cosine")).as("pos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands.filter(col("clabel") =!= col("qlabel"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .join(pos, Seq("query_id"), "left")
      .withColumn("margin", coalesce(col("pos_sim"), lit(0.0)) - col("cosine"))
      .select(col("query_id"), col("qlabel").cast("long").as("qlabel"),
        col("neighbor_id"), col("clabel").cast("long").as("clabel"),
        col("cosine"), col("rank").cast("long").as("rank"), col("margin"))
  }

  /** Top-k against a `centroid_id`-partitioned standing index: the probe
    * frame broadcast-joined on the stored `centroid_id` (dynamic
    * partition pruning), then a rank window. */
  def searchIndex(spark: SparkSession, indexDir: String, queries: DataFrame,
                  centroids: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    val index = spark.read.parquet(indexDir)
      .select(col("centroid_id"), col("vec_id").as("neighbor_id"),
        col("embedding").as("cv"))
    val probes = assignProbes(queries, centroids, nprobe)
    val cands = index.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.guardedCosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank").cast("long"))
  }

  /** [[searchIndex]] over a (centroid_id, label)-partitioned index, with
    * the query's label as a second join key. */
  def searchIndexFiltered(spark: SparkSession, indexDir: String,
                          queries: DataFrame, centroids: DataFrame, k: Int,
                          nprobe: Int = 1): DataFrame = {
    val index = spark.read.parquet(indexDir)
      .select(col("centroid_id"), col("label"),
        col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val probes = assignProbes(queries, centroids, nprobe)
    val cands = index
      .join(broadcast(probes),
        index("centroid_id") === probes("centroid_id") &&
          index("label") === probes("qlabel"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.guardedCosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("rank").cast("long"))
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
