package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column
  * (reference capability A8 — the Milvus vector store's retrieval surface,
  * dags/utils/seed_milvus.py:7-25).
  *
  * Two equivalent implementations of brute-force top-k:
  *  - [[topKWindow]]: declarative — broadcast the query side, NaN-guarded
  *    codegen'd cosine, `row_number` window. Catalyst/codegen
  *    handles everything; the window shuffles |corpus|×|queries| rows.
  *  - [[topKPartitioned]]: the 100 TB path — per-partition bounded heaps
  *    (map-side top-k) reduce the shuffle to |partitions|×|queries|×k
  *    rows before the final window. Equality with topKWindow is asserted
  *    in SimilaritySpec.
  * Both order by (cosine desc, neighbor_id asc) so results are fully
  * deterministic under ties. The heaps are [[partitionTopK]], the one
  * per-partition kernel behind every JVM top-k surface: exact
  * (topKPartitioned, Gold.search) and IVF-probed (ivfTopK,
  * Gold.searchIvf). [[kmeansCentroids]] shares its centroid assignment.
  */
object Similarity {

  /** queries: (query_id: Long, qv: Array[Float]); corpus: (neighbor_id,
    * cv). Returns (query_id, neighbor_id, cosine, rank), rank ≤ k.
    * NULL vectors are excluded up front on BOTH sides in BOTH forms —
    * a null embedding is even more degenerate than a zero-norm one
    * (which already ranks -Infinity) and, unfiltered, it would NPE the
    * partitioned kernel while the window form quietly ranked it last;
    * the shared filter keeps the two forms result-identical on any
    * input (SimilaritySpec pins the null case). */
  def topKWindow(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val sims = corpus.filter(col("cv").isNotNull)
      .crossJoin(broadcast(queries.filter(col("qv").isNotNull)))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", guardedSim(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank").cast("long"))
  }

  /** Map-side top-k: each partition keeps a bounded worst-first heap per
    * query ([[partitionTopK]]), so only |partitions|·|queries|·k
    * candidate rows shuffle into the final rank window. The dot/norm
    * accumulation is sequential IEEE double, identical to the HOF
    * expression in [[topKWindow]].
    *
    * Scale bound: the query side is collected and broadcast — memory is
    * O(|queries|·dim) on driver and executors, NOT corpus-sized. That is
    * the operator's contract (a query batch against a huge corpus, the
    * reference's retrieval shape); for query sets too large to broadcast,
    * use the bucketed pair join (q40's LSH form) instead. Every corpus
    * vector must have the queries' length (checked per row). */
  def topKPartitioned(spark: SparkSession, queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val (qids, qvs) = collectQueries(queries)
    rankedFrame(spark, corpus, qids, qvs, k, None)
  }

  /** IVF (inverted-file) approximate top-k: each corpus vector belongs to
    * its nearest centroid's partition; a query probes its `nprobe`
    * nearest centroids' partitions (the standard ANN recall/cost knob —
    * each +1 adds one more 1/|centroids| corpus slice per query). At
    * 100 TB this turns a full-corpus scan per query into an
    * nprobe/|centroids| partition scan. Recall monotonicity in nprobe is
    * asserted in SimilaritySpec.
    *
    * centroids: (centroid_id: Long, cvec: Array[Float]) — small, collected
    * with the queries (use [[kmeansCentroids]] to train them). The probe
    * lists are chosen on the driver ([[ivfProbe]]); the corpus side runs
    * in the same per-partition heap kernel as [[topKPartitioned]], which
    * assigns each row to its nearest centroid and scores it only for the
    * queries probing that centroid. Both sides use [[guardedCosine]]'s
    * arithmetic and tiebreaks — centroid assignment is [[nearestCentroid]]'s
    * (max cosine, lowest centroid_id), probe selection is
    * [[assignProbes]]'s — so the result equals the relational form
    * (nearestCentroid ⋈ assignProbes → rank window) and the streamed
    * index search (StreamingSpec pins it). Returns the same shape as
    * [[topKWindow]]. NULL vectors are excluded on both sides as in the
    * other top-k forms; ids must be unique per side. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame, k: Int,
              nprobe: Int = 1): DataFrame = {
    val (qids, qvs) = collectQueries(queries)
    val cents = centroids.orderBy(col("centroid_id")).select(col("centroid_id"), col("cvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    require(cents.map(_._1).distinct.length == cents.length, "ivfTopK: duplicate centroid_id")
    require(cents.forall(_._2 != null), "ivfTopK: NULL cvec centroid")
    rankedFrame(queries.sparkSession, corpus, qids, qvs, k,
      Some(ivfProbe(qvs, cents.map(_._2.toArray), nprobe)))
  }

  /** Nearest-centroid assignment by a map-side-combinable aggregation:
    * `min(struct(-casim, centroid_id, payload…))` picks the
    * (max-cosine, min-centroid_id) winner per id with PARTIAL
    * aggregation — each input partition emits one packed row per id,
    * instead of the window form's full n×k sort-shuffle. Identical
    * results to the window form (same sim doubles, same tiebreak; the
    * struct order never reaches the payload fields because centroid_id
    * is unique per id) because BOTH forms see the NaN-guarded
    * similarity: cosine of a zero-norm vector (hashEmbed of empty text
    * is all-zeros) is NaN, which Spark orders LARGEST — unguarded, the
    * window form would pick a NaN centroid while min(struct(-sim,…))
    * would skip it. [[guardedSim]] maps NaN → -Infinity so a NaN
    * centroid never beats a real one in either form. Use this for
    * CORPUS-sized sides; the window form stays for small query sides
    * needing top-nprobe. `carry` columns ride along inside the packed
    * struct. */
  def nearestCentroid(df: DataFrame, centroids: DataFrame, vecCol: String,
                      idCol: String, carry: Seq[String] = Nil): DataFrame = {
    val packed = struct(
      (col("casim") * lit(-1.0)).as("neg_sim") +: col("centroid_id").as("cid") +:
        col("casim").as("sim") +: carry.map(col): _*)
    df.crossJoin(broadcast(centroids))
      .withColumn("casim", guardedSim(col(vecCol), col("cvec")))
      .groupBy(col(idCol))
      .agg(min(packed).as("_w"))
      .select(col(idCol) +: col("_w.cid").as("centroid_id") +: col("_w.sim").as("casim") +:
        carry.map(c => col(s"_w.$c").as(c)): _*)
  }

  /** Cosine similarity with NaN (zero-norm input) mapped to -Infinity,
    * so "most similar" rankings never prefer a degenerate vector
    * regardless of whether the ranking is a window sort (NaN sorts
    * first under desc) or a min-struct agg (NaN sorts last). Public so
    * every ranking surface (ivfTopK, the streamed-index search) applies
    * the SAME guard — a divergence here would silently change top-k
    * results between the batch and index paths. [[cosine]] is its
    * scalar twin for the JVM kernels. */
  def guardedCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    nanvl(graft.plans.GraftExpressions.cosineSimNative(a, b), lit(Double.NegativeInfinity))
  private def guardedSim(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    guardedCosine(a, b)

  /** Top-`nprobe` nearest centroids per query (the QUERY side of IVF;
    * the corpus side is [[nearestCentroid]]'s agg-min — queries are a
    * bounded batch, so a window over the k-row cross join is fine).
    * Returns the query rows with `centroid_id` attached, one row per
    * (query, probed centroid). */
  def assignProbes(queries: DataFrame, centroids: DataFrame, nprobe: Int,
                   vecCol: String = "qv", idCol: String = "query_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val w = Window.partitionBy(col(idCol)).orderBy(col("casim").desc, col("centroid_id").asc)
    queries.crossJoin(broadcast(centroids))
      .withColumn("casim", guardedSim(col(vecCol), col("cvec")))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= nprobe)
      .drop("casim", "_rk", "cvec")
  }

  // ------------------------------------------------ the JVM vector kernels

  /** Guarded cosine over two equal-length vectors with precomputed norms:
    * the arithmetic of [[guardedCosine]] (sequential double dot divided by
    * the product of the two norms, NaN → -Infinity), bit for bit. */
  private def cosine(a: Array[Float], an: Double, b: Array[Float], bn: Double): Double = {
    val c = dot(a, b) / (an * bn)
    if (c.isNaN) Double.NegativeInfinity else c
  }

  /** Spark's (cosine desc, id asc) rank order: true iff (c1, id1) ranks
    * before (c2, id2). Primitive comparisons on purpose — -0.0 and 0.0
    * tie as under Spark's `compareDoubles`, where `Double.compare` (and
    * `Ordering.Double.TotalOrdering`) would split them. Cosines reach it
    * NaN-guarded, so the primitive order is total. */
  private[graft] def ranksBefore(c1: Double, id1: Long, c2: Double, id2: Long): Boolean =
    c1 > c2 || (c1 == c2 && id1 < id2)

  /** Bounded top-k in [[ranksBefore]] order; the head is the current
    * worst, so a full heap admits a row only if it ranks before the head. */
  private[graft] final class TopKHeap[P](k: Int) {
    private val q = new java.util.PriorityQueue[(Double, Long, P)](
      (a: (Double, Long, P), b: (Double, Long, P)) =>
        if (ranksBefore(a._1, a._2, b._1, b._2)) 1
        else if (ranksBefore(b._1, b._2, a._1, a._2)) -1 else 0)
    def offer(c: Double, id: Long, payload: P): Unit =
      if (q.size < k) q.add((c, id, payload))
      else if (ranksBefore(c, id, q.peek._1, q.peek._2)) { q.poll(); q.add((c, id, payload)) }
    def iterator: Iterator[(Double, Long, P)] = {
      import scala.jdk.CollectionConverters._
      q.iterator.asScala
    }
  }

  /** The corpus side of an IVF probe: centroids (index = rank of the
    * centroid_id) and, per centroid, the queries that probe it. */
  private[graft] final case class IvfProbe(cents: Array[Array[Float]], queriesOf: Array[Array[Int]])

  /** Each query's top-`nprobe` centroids by (guarded cosine desc,
    * centroid index asc) — [[assignProbes]]'s window order — inverted
    * into per-centroid query lists. `cents` are ordered by centroid_id. */
  private[graft] def ivfProbe(qvs: Array[Array[Float]], cents: Array[Array[Float]],
                              nprobe: Int): IvfProbe = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    cents.foreach(checkDim(_, cents(0).length, "cvec"))
    val cnorm = cents.map(c => math.sqrt(sumsq(c)))
    val queriesOf = Array.fill(cents.length)(Array.newBuilder[Int])
    if (cents.nonEmpty) for ((qv, qi) <- qvs.zipWithIndex) {
      checkDim(qv, cents(0).length, "qv")
      val qn = math.sqrt(sumsq(qv))
      val sims = cents.indices.map(j => cosine(qv, qn, cents(j), cnorm(j)))
      cents.indices.sortWith((a, b) => ranksBefore(sims(a), a, sims(b), b))
        .take(nprobe).foreach(j => queriesOf(j) += qi)
    }
    IvfProbe(cents, queriesOf.map(_.result()))
  }

  /** Index of `v`'s nearest centroid: max guarded cosine, lowest index on
    * a tie ([[nearestCentroid]]'s winner). `cents` is non-empty. */
  private def nearest(v: Array[Float], vn: Double, cents: Array[Array[Float]],
                      cnorm: Array[Double]): Int = {
    var best = 0
    var bestSim = cosine(v, vn, cents(0), cnorm(0))
    var j = 1
    while (j < cents.length) {
      val c = cosine(v, vn, cents(j), cnorm(j))
      if (c > bestSim) { bestSim = c; best = j }
      j += 1
    }
    best
  }

  private def checkDim(v: Array[Float], dim: Int, column: String): Unit =
    if (v.length != dim) throw new IllegalArgumentException(
      s"column $column holds a vector of length ${v.length}; every vector must have length $dim")

  /** THE top-k kernel, run once per corpus partition: per query a bounded
    * [[TopKHeap]] of (guarded cosine, neighbor id, payload), skipping
    * NULL vectors and the query's own id. With a probe, a row is first
    * assigned to its nearest centroid and scored only for the queries
    * probing it (IVF); without, for every query (exact). Every vector
    * must have the queries' length — `column` names it in the error.
    * Emits (query index, neighbor id, cosine, payload), at most
    * |queries|·k rows. */
  private[graft] def partitionTopK[P](rows: Iterator[(Long, Array[Float], P)],
                                      qids: Array[Long], qvs: Array[Array[Float]], k: Int,
                                      probe: Option[IvfProbe], column: String)
      : Iterator[(Int, Long, Double, P)] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val nq = qvs.length
    val dim = if (nq == 0) 0 else qvs(0).length
    qvs.foreach(checkDim(_, dim, "qv"))
    val qnorm = qvs.map(q => math.sqrt(sumsq(q)))
    val everyQuery = Array.range(0, nq)
    val cnorm = probe.map(_.cents.map(c => math.sqrt(sumsq(c))))
    val heaps = Array.fill(nq)(new TopKHeap[P](k))
    if (nq > 0) for ((nid, cv, payload) <- rows if cv != null) {
      checkDim(cv, dim, column)
      val cn = math.sqrt(sumsq(cv))
      val scored = probe match {
        case None => everyQuery
        case Some(p) if p.cents.isEmpty => Array.emptyIntArray
        case Some(p) => p.queriesOf(nearest(cv, cn, p.cents, cnorm.get))
      }
      var i = 0
      while (i < scored.length) {
        val qi = scored(i)
        if (qids(qi) != nid) heaps(qi).offer(cosine(qvs(qi), qnorm(qi), cv, cn), nid, payload)
        i += 1
      }
    }
    heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
      h.iterator.map { case (c, nid, payload) => (qi, nid, c, payload) }
    }
  }

  /** The frame form of [[partitionTopK]] over a (neighbor_id, cv) corpus:
    * heaps per partition, then a rank window over the survivors. */
  private def rankedFrame(spark: SparkSession, corpus: DataFrame, qids: Array[Long],
                          qvs: Array[Array[Float]], k: Int, probe: Option[IvfProbe]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((qids, qvs, probe))
    val partial = corpus.select(col("neighbor_id"), col("cv")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (ids, vs, p) = bc.value
        partitionTopK(it.map { case (nid, cv) => (nid, cv, ()) }, ids, vs, k, p, "cv")
          .map { case (qi, nid, c, _) => (ids(qi), nid, c) }
      }.toDF("query_id", "neighbor_id", "cosine")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank").cast("long"))
  }

  private def collectQueries(queries: DataFrame): (Array[Long], Array[Array[Float]]) = {
    import queries.sparkSession.implicits._
    val qs = queries.filter(col("qv").isNotNull)
      .select(col("query_id"), col("qv")).as[(Long, Array[Float])].collect()
    (qs.map(_._1), qs.map(_._2))
  }

  /** Spherical k-means centroid training for the IVF family: deterministic
    * Lloyd iterations (no RNG — seeds are the `k` lowest-id vectors,
    * renumbered 0..k-1; ties in assignment break by centroid_id asc).
    *
    * Scale shape: one Spark job per Lloyd iteration. Each partition
    * assigns its vectors to the nearest BROADCAST centroid (the
    * [[nearestCentroid]] winner, computed with [[guardedCosine]]'s
    * arithmetic) and folds them into per-centroid sums; a treeAggregate
    * merges the k×dim partial sums, and only they reach the driver,
    * which divides once and re-broadcasts. An empty cluster keeps its
    * previous centroid. The seeds are one more job.
    *
    * The per-dimension mean is EXACT and engine-portable: each component
    * is floored to integer micro-units (floor(x·1e6) — floor, not round,
    * because the engines disagree on rounding mode at exact halves),
    * summed in integer arithmetic (`Math.addExact`; associative, so
    * partition order cannot change the result), and divided once as
    * float((sum/count)/1e6) — both divisions correctly-rounded IEEE
    * doubles of identical integers. The trained centroids are therefore
    * BIT-IDENTICAL run-to-run and across Spark/DuckDB, which is what
    * lets q47's full 3-iteration chain be oracle-checked as a DuckDB
    * CTE. Exactness holds while Σ|x|·1e6 per (cluster, dim) < 2^53 —
    * ~9e9 unit-scale rows per cluster, far beyond any real shard.
    *
    * vectors: (idCol: Long, vecCol: Array[Float]), ids unique. NULL
    * vectors are skipped (neither seeds nor cluster members); every
    * other vector must have the seeds' length, or training fails with
    * an error naming `vecCol`. Returns (centroid_id: Long 0..k-1,
    * cvec: Array[Float]) — fewer than k rows when there are fewer
    * vectors.
    *
    * `trainSampleCap` bounds the TRAINING set (not the later corpus
    * assignment) to the `cap` vectors with the smallest
    * (hash60(id), id) — a deterministic, content-independent,
    * engine-replayable sample (the q53/q64 hash idiom; faiss calls the
    * same idea max_points_per_centroid). Full-batch Lloyd is Θ(n·k)
    * per iteration, which with SemDeDup's k ∝ n is Θ(n²) — the sample
    * caps it at Θ(cap·k) ∝ n, restoring a linear end-to-end q68
    * (measured in SCALE.md). When n ≤ cap the sample IS the corpus,
    * so at the oracle gates results are bit-identical to uncapped
    * training; seeds and means are set-semantics over the training
    * set, so the sample's ordering never matters. */
  def kmeansCentroids(spark: SparkSession, vectors: DataFrame, k: Int, iters: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      trainSampleCap: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    trainCentroids(spark, vectors, k, iters, idCol, vecCol, trainSampleCap)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("centroid_id", "cvec")
  }

  /** [[kmeansCentroids]]' centroids as arrays, index = centroid_id. */
  private[graft] def trainCentroids(spark: SparkSession, vectors: DataFrame, k: Int, iters: Int,
                                    idCol: String, vecCol: String,
                                    trainSampleCap: Long = Long.MaxValue): Array[Array[Float]] = {
    import spark.implicits._
    require(k >= 1 && iters >= 0, s"bad kmeans config ($k,$iters)")
    val sampled = trainSampleCap != Long.MaxValue
    // repartition after the limit: a mid-plan GlobalLimit collapses to
    // ONE partition, which would serialize every downstream Lloyd pass;
    // cache so the top-cap sort runs once, not once per iteration
    val train =
      if (!sampled) vectors
      else vectors.orderBy(
          expr(graft.queries.Idioms.hash60Expr(s"CAST($idCol AS STRING)")).asc,
          col(idCol).asc)
        .limit(trainSampleCap.toInt)
        .repartition(spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
        .cache()
    val live = train.filter(col(vecCol).isNotNull)
    var cents: Array[Array[Float]] = live
      .orderBy(col(idCol).asc).limit(k)
      .select(col(vecCol)).as[Array[Float]].collect()
    if (cents.nonEmpty) {
      val dim = cents(0).length
      cents.foreach(checkDim(_, dim, vecCol))
      val stride = dim + 1 // per centroid: dim micro-unit sums, then the member count
      val rows = live.select(col(vecCol)).as[Array[Float]].rdd
      for (_ <- 1 to iters) {
        val bc = spark.sparkContext.broadcast((cents, cents.map(c => math.sqrt(sumsq(c)))))
        val acc = try rows.treeAggregate(new Array[Long](cents.length * stride))(
          (acc, v) => {
            checkDim(v, dim, vecCol)
            val (cs, cnorm) = bc.value
            val base = nearest(v, math.sqrt(sumsq(v)), cs, cnorm) * stride
            var p = 0
            while (p < dim) {
              acc(base + p) = Math.addExact(acc(base + p), math.floor(v(p).toDouble * 1e6).toLong)
              p += 1
            }
            acc(base + dim) += 1
            acc
          },
          (a, b) => { var i = 0; while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }; a })
        finally bc.destroy()
        cents = cents.indices.map { j =>
          val cnt = acc(j * stride + dim)
          if (cnt == 0) cents(j)
          else Array.tabulate(dim)(p => (acc(j * stride + p).toDouble / cnt.toDouble / 1e6).toFloat)
        }.toArray
      }
    }
    if (sampled) train.unpersist(blocking = false)
    cents
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): cluster the corpus with
    * k-means, then mark a vector a duplicate iff some LOWER-id member
    * of ITS OWN cluster sits above the cosine threshold — the paper's
    * keep-one-per-near-dup-group rule with a deterministic keeper
    * (lowest id, the exact-dedup q03 precedent). Returns one row per
    * input vector: (idCol, centroid_id, dup_of) where dup_of is the
    * smallest qualifying lower id, NULL for survivors — survivors are
    * `dup_of IS NULL`, and the keeper attribution is what lets a
    * pipeline audit WHY a document was dropped.
    *
    * Scale shape: the pair join is per-cluster, so cost is
    * O(Σ cluster²) ≈ n²/k for balanced clusters — the SemDeDup paper's
    * sizing rule is k ∝ n (it uses 11k clusters for 100M embeddings),
    * which holds per-cluster occupancy (and with it pair cost per
    * vector) constant, the same occupancy argument as q40's autoBits.
    * Training cost is |train|·k per Lloyd iteration — with k ∝ n and
    * FULL-batch training that is itself Θ(n²) and dominates (SCALE.md
    * measured it 12× the pair join at 100×), which is why the shipped
    * q68 also bounds the training set ([[kmeansCentroids]]
    * trainSampleCap, a no-op at the oracle gates). The per-cluster
    * join shuffles on centroid_id — with k ∝ n keys the shuffle is
    * well-spread (at the gates' k=8 it is 8 partitions, fine at gate
    * sizes).
    *
    * Cosine is the plain (unguarded) expression, like q25: the oracle
    * gate corpus has no zero-norm vectors, and a NaN cosine fails
    * `> thresh` in Spark (a zero-norm vector is never marked dup). */
  def semDedup(vectors: DataFrame, centroids: DataFrame, thresh: Double,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = nearestCentroid(
      vectors.select(col(idCol), col(vecCol)), centroids, vecCol, idCol, Seq(vecCol))
    val a = assigned.select(col("centroid_id"), col(idCol), col(vecCol).as("va"))
    val b = assigned.select(col("centroid_id").as("_cb"), col(idCol).as("_idb"),
      col(vecCol).as("vb"))
    val dups = a.join(b, col("centroid_id") === col("_cb") && col("_idb") < col(idCol))
      .withColumn("sim", graft.plans.GraftExpressions.cosineSimNative(col("va"), col("vb")))
      .filter(col("sim") > thresh)
      .groupBy(col(idCol)).agg(min(col("_idb")).as("dup_of"))
    assigned.select(col(idCol), col("centroid_id"))
      .join(dups, Seq(idCol), "left")
      .select(col(idCol), col("centroid_id"), col("dup_of"))
  }

  /** Scalar-quantized (SQ8-style, the Faiss/Milvus storage trick) top-k
    * with exact rescoring: rank ALL candidates by the cosine of the
    * int8-quantized (then dequantized) vectors, keep the top
    * `oversample` per query, rescore ONLY those against the original
    * float vectors, return the exact-rescored top `k`.
    *
    * Why it matters at 100 TB: the first (full-scan) phase reads the
    * 4×-smaller int8 representation — on a storage-bound cluster that
    * is a 4× scan-cost cut — and the exact phase touches only
    * |queries|·oversample full-precision rows. Here both columns ride
    * the same DataFrame for oracle-checkability; a deployment stores
    * the quantized column (+ its scale) in its own parquet and scans
    * the float column only in phase 2.
    *
    * queries: (query_id, qv float[], qdv float[]); corpus:
    * (neighbor_id, cv, cdv) where *dv is the dequantized-quantized
    * vector (see VectorOps.dequantizedCol — floor-based, so both
    * engines derive bit-identical grids). Deterministic under ties on
    * both phases (neighbor_id asc). */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                    oversample: Int): DataFrame = {
    // phase 1 emits SCALARS ONLY (query_id, neighbor_id, approx) into
    // the ranking shuffle — carrying the vectors through the window
    // would put ~1 KB/row through the exchange (corpus×queries rows: a
    // near-TB shuffle at the 100× replica); pruned, the same shuffle
    // moves 24-byte rows. The full-precision vectors are joined back
    // AFTER the shortlist, touching |queries|·oversample rows only.
    // norms precomputed once per side (q25 trick): the pair loop runs
    // the codegen'd dot alone; dot/(qn·cn) is bit-identical to the full
    // cosine (qn = sqrt(sumsq) is the same double either way), and a
    // zero-norm side divides to NaN → nanvl → -Infinity, exactly
    // guardedSim's contract
    val qn = queries.select(col("query_id"), col("qdv"))
      .withColumn("qn", sqrt(expr(graft.functions.VectorFunctions.sumsqExpr("qdv"))))
    val cn = corpus.select(col("neighbor_id"), col("cdv"))
      .withColumn("cn", sqrt(expr(graft.functions.VectorFunctions.sumsqExpr("cdv"))))
    val cands = cn.crossJoin(broadcast(qn))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        nanvl(graft.plans.GraftExpressions.dotNative(col("qdv"), col("cdv"))
          / (col("qn") * col("cn")), lit(Double.NegativeInfinity)).as("approx"))
    val w1 = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val shortlist = cands.withColumn("_ar", row_number().over(w1))
      .filter(col("_ar") <= oversample)
      .select(col("query_id"), col("neighbor_id"))
    // rescore: tiny shortlist broadcasts against the corpus to fetch
    // cv; qv rides the (always-small) query batch
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    corpus.select(col("neighbor_id"), col("cv"))
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(queries.select(col("query_id"), col("qv"))), Seq("query_id"))
      .withColumn("cosine", guardedSim(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank").cast("long"))
  }

  /** Sequential left-to-right double dot product — bit-identical to the
    * `aggregate(zip_with(...))` HOF and DuckDB's list_sum/list_transform. */
  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  private def sumsq(a: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
    s
  }
}
