package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Approximate/exact nearest-neighbor search over an embedding column
  * (reference capability A8 — the Milvus vector store's retrieval surface,
  * dags/utils/seed_milvus.py:7-25).
  *
  * ONE kernel scores a vector against centroids or queries, with
  * [[guardedCosine]]'s arithmetic and the (cosine desc, id asc) order:
  * [[nearest]] picks a vector's centroid and [[partitionTopK]] keeps
  * per-partition bounded heaps of the best rows per query. Every surface
  * is a thin frame form over them, with no shuffle before the heaps:
  *  - [[assign]]: nearest-centroid assignment (q35, q68, q103, the
  *    stream ingests), a `mapPartitions` over `nearest`;
  *  - [[probePairs]]/[[probeFrame]]: each query's `nprobe` nearest
  *    centroids, chosen on the driver ([[ivfProbe]]);
  *  - [[topKPartitioned]] (exact), [[ivfTopK]] (IVF-probed) and
  *    [[ivfRanked]] (IVF with a label predicate or stored cells: q90,
  *    q95, the standing-index searches): the heaps, then one rank
  *    window over |partitions|·|queries|·k survivors;
  *  - Gold.search/searchIvf run `partitionTopK` directly, and
  *    [[kmeansCentroids]] assigns with `nearest`.
  * The relational forms these replaced — a broadcast cross join ranked
  * by an agg-min or a rank window — are test oracles
  * (RelationalTwins), and SimilaritySpec pins each kernel form to its
  * twin bit for bit. NULL vectors never rank: the top-k forms drop them
  * (the twins ranked their NULL cosines last), and [[assign]] gives them
  * the twin's answer (lowest centroid_id, NULL casim).
  */
object Similarity {

  /** Map-side top-k: each partition keeps a bounded worst-first heap per
    * query ([[partitionTopK]]), so only |partitions|·|queries|·k
    * candidate rows shuffle into the final rank window. The dot/norm
    * accumulation is sequential IEEE double, identical to
    * [[guardedCosine]].
    *
    * queries: (query_id: Long, qv: Array[Float]); corpus: (neighbor_id,
    * cv). Returns (query_id, neighbor_id, cosine, rank), rank ≤ k, a
    * query never ranking its own id. NULL vectors are excluded up front
    * on both sides.
    *
    * Scale bound: the query side is collected and broadcast — memory is
    * O(|queries|·dim) on driver and executors, NOT corpus-sized. That is
    * the operator's contract (a query batch against a huge corpus, the
    * reference's retrieval shape); for query sets too large to broadcast,
    * use the bucketed pair join (q40's LSH form) instead. Every corpus
    * vector must have the queries' length (checked per row). */
  def topKPartitioned(spark: SparkSession, queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val (qids, qvs, _) = collectQueries(queries, labeled = false)
    rankedFrame(corpus, qids, qvs, k, None)
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
    * queries probing that centroid. Returns the same shape as
    * [[topKPartitioned]]; ids must be unique per side. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame, k: Int,
              nprobe: Int = 1): DataFrame =
    ivfRanked(queries, corpus, centroids, k, nprobe)

  /** [[ivfTopK]] with the two variations the filtered and the
    * standing-index searches need, on the same heaps:
    *  - `sameLabel`: a per-(query, row) predicate — a row is a candidate
    *    for a query only when its `clabel` equals (`Some(true)`) or
    *    differs from (`Some(false)`) the query's `qlabel`. Pre-filter
    *    semantics: the heaps admit only qualifying rows, so a top-k
    *    comes back short only when fewer qualifying rows exist. NULL
    *    labels never qualify (SQL comparison). The frame then carries
    *    (query_id, qlabel, neighbor_id, clabel, cosine, rank), labels as
    *    longs.
    *  - `storedCells`: each corpus row keeps its stored `centroid_id` as
    *    its cell instead of being re-assigned, so an index searched with
    *    recentered centroids ranks exactly what its partitions hold.
    *
    * Probes are computed on the driver, so the corpus is filtered to
    * `centroid_id IN (probed cells)` when cells are stored, and to
    * `clabel IN (query labels)` for `sameLabel = Some(true)`: on an
    * index partitioned by those columns that is static partition
    * pruning at the scan. */
  private[graft] def ivfRanked(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
                               k: Int, nprobe: Int = 1, sameLabel: Option[Boolean] = None,
                               storedCells: Boolean = false): DataFrame = {
    val (qids, qvs, qlabels) = collectQueries(queries, labeled = sameLabel.isDefined)
    val (cids, cents) = collectCentroids(centroids)
    val probe = ivfProbe(qvs, cents, nprobe)
    val probed = cids.indices.filter(probe.queriesOf(_).nonEmpty).map(cids)
    val pruned = corpus
      .transform(c => if (storedCells) c.filter(col("centroid_id").isin(probed: _*)) else c)
      .transform(c => if (sameLabel.contains(true)) c.filter(col("clabel").isin(qlabels.distinct: _*)) else c)
    rankedFrame(pruned, qids, qvs, k, Some(probe), sameLabel.map((qlabels, _)),
      if (storedCells) Some(cids) else None)
  }

  /** Nearest-centroid assignment: each row of `df` gets its max-guarded-
    * cosine centroid (lowest centroid_id on a tie — [[nearest]]), in one
    * `mapPartitions` with the centroids collected on the driver and
    * broadcast; no shuffle, no window. Returns (idCol, centroid_id,
    * casim, carry…). A NULL vector, or one whose length differs from the
    * centroids', gets the lowest centroid_id and a NULL casim, as the
    * relational agg-min twin gave it (its NULL cosines sorted first in
    * `min(struct)`). Each input row is assigned on its own: unlike the
    * twin's groupBy, rows sharing an id are not merged. Centroid ids
    * must be unique and no centroid vector NULL. */
  def assign(df: DataFrame, centroids: DataFrame, vecCol: String, idCol: String,
             carry: Seq[String] = Nil): DataFrame = {
    val (cids, cents) = collectCentroids(centroids)
    cents.foreach(checkDim(_, cents(0).length, "cvec"))
    val in = df.select(col(idCol) +: col(vecCol) +: carry.map(col): _*)
    val fields = in.schema.fields
    val out = StructType(fields(0) +: StructField("centroid_id", LongType, nullable = false) +:
      StructField("casim", DoubleType) +: fields.drop(2).toSeq)
    val bc = df.sparkSession.sparkContext.broadcast((cids, cents))
    in.mapPartitions { rows =>
      val (ids, cs) = bc.value
      val cnorm = cs.map(c => math.sqrt(sumsq(c)))
      if (cs.isEmpty) Iterator.empty
      else rows.map { r =>
        val v = if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray
        val (j, sim) =
          if (v == null || v.length != cs(0).length) (0, null)
          else {
            val vn = math.sqrt(sumsq(v))
            val j = nearest(v, vn, cs, cnorm)
            (j, cosine(v, vn, cs(j), cnorm(j)))
          }
        Row.fromSeq(Seq(r.get(0), ids(j), sim) ++ (2 until r.length).map(r.get))
      }
    }(Encoders.row(out))
  }

  /** Cosine similarity with NaN (zero-norm input) mapped to -Infinity,
    * so "most similar" rankings never prefer a degenerate vector
    * regardless of whether the ranking is a window sort (NaN sorts
    * first under desc) or a min-struct agg (NaN sorts last). Public so
    * every relational ranking (the q102/q103 PQ encode, SQ8 rescoring,
    * the twins) applies the SAME guard as the kernel — [[cosine]] is its
    * scalar twin. */
  def guardedCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    nanvl(graft.plans.GraftExpressions.cosineSimNative(a, b), lit(Double.NegativeInfinity))

  /** The query side of IVF: each query's `nprobe` nearest centroids
    * ([[ivfProbe]] on the driver), as (query_id, centroid_id) pairs.
    * queries: (query_id, qv); NULL vectors probe nothing. */
  private[graft] def probePairs(queries: DataFrame, centroids: DataFrame,
                                nprobe: Int): Seq[(Long, Long)] = {
    val (qids, qvs, _) = collectQueries(queries, labeled = false)
    val (cids, cents) = collectCentroids(centroids)
    val probe = ivfProbe(qvs, cents, nprobe)
    for (j <- cids.indices; qi <- probe.queriesOf(j).toSeq) yield (qids(qi), cids(j))
  }

  /** The probe frame: the query rows joined to their [[probePairs]], one
    * row per (query, probed centroid) with `centroid_id` attached. */
  private[graft] def probeFrame(queries: DataFrame, pairs: Seq[(Long, Long)]): DataFrame = {
    import queries.sparkSession.implicits._
    queries.join(broadcast(pairs.toDF("query_id", "centroid_id")), Seq("query_id"))
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
    * centroid index asc) — the relational twin's probe window order —
    * inverted into per-centroid query lists. `cents` are ordered by
    * centroid_id. */
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
    * a tie (the relational agg-min's winner). `cents` is non-empty. */
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
    * NULL vectors and the query's own id. With a probe, a row is scored
    * only for the queries probing its cell — its nearest centroid, or
    * `cell(payload)` (an index into the probe's centroids, negative for
    * none) when the row stores its cell; without, for every query
    * (exact). `keep(query index, payload)` is a per-pair predicate
    * tested before the pair is scored. Every vector must have the
    * queries' length — `column` names it in the error. Emits (query
    * index, neighbor id, cosine, payload), at most |queries|·k rows. */
  private[graft] def partitionTopK[P](rows: Iterator[(Long, Array[Float], P)],
                                      qids: Array[Long], qvs: Array[Array[Float]], k: Int,
                                      probe: Option[IvfProbe], column: String,
                                      keep: Option[(Int, P) => Boolean] = None,
                                      cell: Option[P => Int] = None)
      : Iterator[(Int, Long, Double, P)] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val nq = qvs.length
    val dim = if (nq == 0) 0 else qvs(0).length
    qvs.foreach(checkDim(_, dim, "qv"))
    val qnorm = qvs.map(q => math.sqrt(sumsq(q)))
    val everyQuery = Array.range(0, nq)
    val cnorm = probe.map(_.cents.map(c => math.sqrt(sumsq(c))))
    val admits = keep.getOrElse((_: Int, _: P) => true)
    val heaps = Array.fill(nq)(new TopKHeap[P](k))
    if (nq > 0) for ((nid, cv, payload) <- rows if cv != null) {
      checkDim(cv, dim, column)
      val cn = math.sqrt(sumsq(cv))
      val scored = probe match {
        case None => everyQuery
        case Some(p) =>
          val j = cell match {
            case Some(c) => c(payload)
            case None => if (p.cents.isEmpty) -1 else nearest(cv, cn, p.cents, cnorm.get)
          }
          if (j < 0) Array.emptyIntArray else p.queriesOf(j)
      }
      var i = 0
      while (i < scored.length) {
        val qi = scored(i)
        if (qids(qi) != nid && admits(qi, payload))
          heaps(qi).offer(cosine(qvs(qi), qnorm(qi), cv, cn), nid, payload)
        i += 1
      }
    }
    heaps.iterator.zipWithIndex.flatMap { case (h, qi) =>
      h.iterator.map { case (c, nid, payload) => (qi, nid, c, payload) }
    }
  }

  /** The frame form of [[partitionTopK]] over a (neighbor_id, cv) corpus:
    * heaps per partition, then a rank window over the survivors. With
    * `labels` — the queries' labels, and whether a row's `clabel` must
    * equal or differ from its query's — the heaps admit only qualifying
    * rows and the frame also carries (qlabel, clabel); with `cellIds`
    * (the centroid ids in the probe's order) a row's cell is its stored
    * `centroid_id`. */
  private def rankedFrame(corpus: DataFrame, qids: Array[Long], qvs: Array[Array[Float]],
                          k: Int, probe: Option[IvfProbe],
                          labels: Option[(Array[Long], Boolean)] = None,
                          cellIds: Option[Array[Long]] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((qids, qvs, probe, labels, cellIds))
    val partial = corpus
      .transform(c => if (labels.isDefined) c.filter(col("clabel").isNotNull) else c)
      .select(col("neighbor_id"), col("cv"),
        if (labels.isDefined) col("clabel").cast("long") else lit(0L),
        if (cellIds.isDefined) col("centroid_id").cast("long") else lit(-1L))
      .as[(Long, Array[Float], Long, Long)]
      .mapPartitions { it =>
        val (ids, vs, p, ls, cs) = bc.value
        // payload: (clabel, stored centroid_id)
        val keep = ls.map { case (ql, same) => (qi: Int, lc: (Long, Long)) => (lc._1 == ql(qi)) == same }
        val cell = cs.map(c => (lc: (Long, Long)) => java.util.Arrays.binarySearch(c, lc._2))
        partitionTopK(it.map { case (nid, cv, l, c) => (nid, cv, (l, c)) }, ids, vs, k, p, "cv",
            keep, cell)
          .map { case (qi, nid, c, (l, _)) => (ids(qi), nid, c, ls.fold(0L)(_._1(qi)), l) }
      }.toDF("query_id", "neighbor_id", "cosine", "qlabel", "clabel")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val labelled = if (labels.isDefined) Seq("qlabel", "neighbor_id", "clabel") else Seq("neighbor_id")
    partial.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((col("query_id") +: labelled.map(col)) ++ Seq(col("cosine"), col("rank").cast("long")): _*)
  }

  /** The query batch on the driver: ids, vectors and (`labeled`) the
    * `qlabel`s as longs; queries with a NULL vector or label are dropped. */
  private def collectQueries(queries: DataFrame, labeled: Boolean)
      : (Array[Long], Array[Array[Float]], Array[Long]) = {
    import queries.sparkSession.implicits._
    val qs = queries.filter(col("qv").isNotNull && (if (labeled) col("qlabel").isNotNull else lit(true)))
      .select(col("query_id"), col("qv"), if (labeled) col("qlabel").cast("long") else lit(0L))
      .as[(Long, Array[Float], Long)].collect()
    (qs.map(_._1), qs.map(_._2), qs.map(_._3))
  }

  /** Centroids (centroid_id, cvec) on the driver, in centroid_id order
    * (sorted there: a global sort would add a sampling job). */
  private def collectCentroids(centroids: DataFrame): (Array[Long], Array[Array[Float]]) = {
    val cents = centroids.select(col("centroid_id"), col("cvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    require(cents.map(_._1).distinct.length == cents.length, "duplicate centroid_id")
    require(cents.forall(_._2 != null), "NULL cvec centroid")
    (cents.map(_._1), cents.map(_._2.toArray))
  }

  /** Spherical k-means centroid training for the IVF family: deterministic
    * Lloyd iterations (no RNG — seeds are the `k` lowest-id vectors,
    * renumbered 0..k-1; ties in assignment break by centroid_id asc).
    *
    * Scale shape: one Spark job per Lloyd iteration. Each partition
    * assigns its vectors to the nearest BROADCAST centroid ([[nearest]],
    * [[guardedCosine]]'s arithmetic) and folds them into per-centroid sums; a treeAggregate
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
    val assigned = assign(
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
    // guardedCosine's contract
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
      .withColumn("cosine", guardedCosine(col("qv"), col("cv")))
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
