package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Structured Streaming over the EMBEDDING side of the pipeline: the
  * vector-store sink (SURVEY §2.1 S12/S13) maintained INCREMENTALLY
  * instead of rebuilt — the streaming form of the reference's
  * seed-then-search collection (seed_milvus.py:42-86 re-seeds the whole
  * collection per run; a Milvus deployment at volume inserts into a
  * standing IVF index instead, which is exactly this shape).
  *
  *  - [[ivfIngest]]: each arriving micro-batch of vectors is assigned to
  *    its nearest static centroid ([[Similarity.assign]], the SAME
  *    kernel the batch q35 oracle checks) and appended to a
  *    parquet index PARTITIONED BY `centroid_id`. Assignment is
  *    state-free given fixed centroids — a vector's partition depends
  *    only on itself — so micro-batch boundaries cannot change the
  *    index: after any sequence of drops it is row-identical to a batch
  *    build over the union (StreamingSpec asserts this, plus
  *    exactly-once replay via the checkpoint).
  *
  *  - [[searchIndex]]: top-k retrieval AGAINST the standing index. The
  *    probe set (top-`nprobe` centroids per query) is computed on the
  *    driver, so the scan is filtered to `centroid_id IN (probed)` —
  *    the index's PARTITION column — and static partition pruning
  *    skips every unprobed partition's files (PlanSpec pins the
  *    partition filter and the file count). At 100 TB this is the
  *    difference between reading nprobe/k-th of the index and reading
  *    all of it. The ranking is the vector kernel's
  *    ([[Similarity.ivfRanked]]), and each row keeps its STORED
  *    `centroid_id` as its cell — it is never re-assigned — so an
  *    index searched with the centroids it was built with equals
  *    [[Similarity.ivfTopK]] over the same corpus, and one searched
  *    with recentered centroids ranks exactly what its probed
  *    partitions hold.
  *
  * Centroids stay static here (the faiss/Milvus deployment shape:
  * retrain offline, re-assign on rebuild); drift is handled by the batch
  * path — retrain via [[Similarity.kmeansCentroids]] and rebuild with
  * [[graft.etl.Gold.refresh]], the drop_old=True analog.
  */
object EmbeddingsStream {

  /** embeddings schema as the corpus parquet stores it. */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-stream source over a directory of parquet embedding drops. */
  def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(embSchema).parquet(dir)

  /** Assign every arriving vector to its nearest centroid and append it
    * to the `centroid_id`-partitioned index at `indexDir`. Drains
    * available input and stops (AvailableNow); re-runs process only new
    * files (checkpointed file-source offsets), so a duplicate drop of
    * the SAME file never double-inserts — and because foreachBatch is
    * only at-LEAST-once (a crash after the sink write but before the
    * offset commit replays the batch), both sink effects are replay-
    * idempotent by batchId: the index append goes through
    * [[AtomicState.appendOnce]]'s stage-and-move protocol, and the
    * stats fold skips batches whose applied-marker is already in the
    * state ([[AtomicState.alreadyApplied]]). */
  def ivfIngest(spark: SparkSession, srcDir: String, centroids: DataFrame,
                indexDir: String, checkpointDir: String,
                statsDir: String = null,
                subpartitionByLabel: Boolean = false,
                pqCodebooks: DataFrame = null,
                storeRaw: Boolean = true): StreamingQuery = {
    AtomicState.drain(source(spark, srcDir), checkpointDir) { (batch, batchId) =>
      ingestBatch(batch, batchId, centroids, indexDir, statsDir,
        subpartitionByLabel, pqCodebooks, storeRaw)
    }
  }

  /** One ivfIngest micro-batch — exposed so StreamingSpec can replay it
    * with the same batchId and assert both sink effects are no-ops the
    * second time (the crash-between-write-and-offset-commit window). */
  private[graft] def ingestBatch(batch: DataFrame, batchId: Long,
                                 centroids: DataFrame, indexDir: String,
                                 statsDir: String,
                                 subpartitionByLabel: Boolean,
                                 pqCodebooks: DataFrame = null,
                                 storeRaw: Boolean = true): Unit = {
    val ss = batch.sparkSession
    val assigned = Similarity.assign(
        batch.select(col("vec_id"), col("embedding")),
        centroids, "embedding", "vec_id", Seq("embedding"))
      .select(col("centroid_id"), col("vec_id"), col("casim"), col("embedding"))
    // optional residual-PQ compression (the IVFADC deployment shape,
    // batch q103's encode verbatim): each arriving vector's residual
    // against its coarse centroid is encoded to M codebook codes, and
    // with storeRaw=false the index row keeps ONLY (centroid_id,
    // vec_id, codes) — M small ints instead of dim float32s (4 vs 64
    // logical values here; parquet bit-packs the Ks-valued codes
    // further), which is what makes a standing 100 TB index fit the
    // ADC search path without ever re-reading raw vectors. The join
    // back onto the assignment is micro-batch-bounded (arriving rows,
    // not the standing corpus).
    val encoded =
      if (pqCodebooks == null) assigned
      else {
        val withCodes = assigned
          .join(pqCodesOf(assigned, centroids, pqCodebooks),
            Seq("vec_id", "centroid_id"))
        if (storeRaw) withCodes else withCodes.drop("embedding", "casim")
      }
    // layout: always centroid-partitioned; optionally sub-partitioned
    // by the metadata column filtered searches predicate on, so a
    // label filter prunes FILES exactly like the probe does (the
    // q90 deployment layout — see [[searchIndexFiltered]])
    val (toWrite, parts) =
      if (!subpartitionByLabel) (encoded, Seq("centroid_id"))
      else (encoded.join(batch.select(col("vec_id"), col("label")), Seq("vec_id")),
        Seq("centroid_id", "label"))
    AtomicState.appendOnce(ss, indexDir, batchId) { staging =>
      toWrite.write.mode("overwrite").partitionBy(parts: _*).parquet(staging)
    }
    // optional sufficient-statistics fold (see [[recenter]]): the
    // per-centroid dim-wise micro-unit sums and counts ADD across
    // batches (linearity), so the standing state is k·dim rows
    // however many vectors the index holds. Read back what was just
    // written? No — fold the assigned batch directly; the index
    // append and the stats fold see the same rows. The fold is
    // additive, NOT idempotent — the applied-marker check is what
    // keeps a replayed batch from double-counting.
    if (statsDir != null && !AtomicState.alreadyApplied(ss, statsDir, batchId)) {
      val batchStats = centroidStats(assigned)
      val merged =
        if (!AtomicState.exists(ss, statsDir)) batchStats
        else ss.read.parquet(statsDir).unionByName(batchStats)
          .groupBy(col("centroid_id"), col("d"))
          .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))
      AtomicState.swapIn(ss, statsDir, merged, batchId)
    }
  }

  /** Standing SemDeDup gate (round-16, verdict task 6): classify every
    * ARRIVING vector dup/survivor against the standing corpus with
    * batch q68's exact semantics (Abbas et al. 2023 — same-cluster
    * pairs, cosine > `thresh`, lowest-id keeper), maintained
    * incrementally: each drop appends its vectors to the
    * `centroid_id`-partitioned index (ingestBatch's layout, so
    * [[searchIndex]] works against the same store) and folds the
    * standing dedup table `(vec_id, centroid_id, dup_of)`.
    *
    * Why the fold is exact across ANY batch boundaries: q68's
    * `dup_of(a) = min{ b.id : same cluster, b.id < a.id, cos > t }` is
    * a MIN over a's qualifying-pair set, and the qualifying pairs of
    * the union are exactly (old×old) ∪ (pairs with ≥1 member in the
    * new batch); the old state already holds min over old×old, so
    * folding `min(state, batch-pair mins)` per vec_id reconstructs the
    * union min — INCLUDING the late-lowest-id case where a newly
    * arrived vector demotes an old survivor to dup ("lowest-id keeper
    * wins across batches"; StreamingSpec pins stream ≡ batch q68 on
    * the union, out-of-order ids included).
    *
    * Scale shape: the standing corpus NEVER self-joins — per drop, the
    * only pair work is (batch × same-cluster standing members) twice
    * (new-vs-old and old-vs-new) plus batch × batch, with the
    * micro-batch side BROADCAST both times; the standing index is
    * scanned through a broadcast equi-join on its PARTITION column, so
    * dynamic partition pruning reads only the clusters the batch
    * touches. Per-batch cost is |batch| · (touched-cluster sizes) —
    * the same bound as batch q68's per-cluster pair join, paid
    * incrementally. Centroids stay static across drops (the class-doc
    * contract; [[recenter]]/retrain implies a batch rebuild, exactly
    * like the IVF index itself).
    *
    * Replay safety: the index append is [[AtomicState.appendOnce]]
    * (batchId-keyed), the state fold is guarded by
    * [[AtomicState.alreadyApplied]] — and the fold is ALSO
    * duplicate-insensitive by construction (a min over a pair set is
    * unchanged by re-observed pairs), so even the crash window between
    * the two sink effects cannot drift the table. */
  def semDedupIngest(spark: SparkSession, srcDir: String, centroids: DataFrame,
                     indexDir: String, dedupDir: String, checkpointDir: String,
                     thresh: Double): StreamingQuery = {
    AtomicState.drain(source(spark, srcDir), checkpointDir) { (batch, batchId) =>
      semDedupBatch(batch, batchId, centroids, indexDir, dedupDir, thresh)
    }
  }

  /** One semDedupIngest micro-batch — exposed so StreamingSpec can
    * replay it with the same batchId and assert both sink effects are
    * no-ops the second time. */
  private[graft] def semDedupBatch(batch: DataFrame, batchId: Long,
                                   centroids: DataFrame, indexDir: String,
                                   dedupDir: String, thresh: Double): Unit = {
    val ss = batch.sparkSession
    val assigned = Similarity.assign(
        batch.select(col("vec_id"), col("embedding")),
        centroids, "embedding", "vec_id", Seq("embedding"))
      .select(col("centroid_id"), col("vec_id"), col("casim"), col("embedding"))
    if (!AtomicState.alreadyApplied(ss, dedupDir, batchId)) {
      val aNew = assigned.select(col("centroid_id"), col("vec_id"),
        col("embedding").as("va"))
      val bNew = assigned.select(col("centroid_id").as("_cb"),
        col("vec_id").as("_idb"), col("embedding").as("vb"))
      val standing =
        if (AtomicState.exists(ss, indexDir))
          Some(ss.read.parquet(indexDir)
            .select(col("centroid_id"), col("vec_id"), col("embedding")))
        else None
      val cond = col("centroid_id") === col("_cb") && col("_idb") < col("vec_id")
      def dupMins(pairs: DataFrame): DataFrame = pairs
        .withColumn("sim",
          graft.plans.GraftExpressions.cosineSimNative(col("va"), col("vb")))
        .filter(col("sim") > thresh)
        .groupBy(col("vec_id"), col("centroid_id"))
        .agg(min(col("_idb")).as("dup_of"))
      // pairs with ≥1 batch member; the batch side is broadcast in both
      // joins so the standing scan is pruned to the touched clusters
      val newVsAll = dupMins( // b ∈ batch: batch×batch and old-demoted-by-new
        standing.map(s =>
            s.select(col("centroid_id"), col("vec_id"), col("embedding").as("va"))
              .unionByName(aNew))
          .getOrElse(aNew)
          .join(broadcast(bNew), cond))
      val newVsOld = standing.map { s => // a ∈ batch, b ∈ standing
        dupMins(s.select(col("centroid_id").as("_cb"), col("vec_id").as("_idb"),
            col("embedding").as("vb"))
          .join(broadcast(aNew), cond))
      }
      val arrivals = assigned.select(col("vec_id"), col("centroid_id"),
        lit(null).cast("long").as("dup_of"))
      val prior =
        if (AtomicState.exists(ss, dedupDir))
          Some(ss.read.parquet(dedupDir)
            .select(col("vec_id"), col("centroid_id"), col("dup_of")))
        else None
      val merged = (Seq(arrivals, newVsAll) ++ newVsOld ++ prior)
        .reduce(_ unionByName _)
        .groupBy(col("vec_id"), col("centroid_id"))
        .agg(min(col("dup_of")).as("dup_of"))
      // the fold materializes BEFORE the index append below, so
      // `standing` is the pre-batch corpus (never batch-inclusive)
      AtomicState.swapIn(ss, dedupDir, merged, batchId)
    }
    AtomicState.appendOnce(ss, indexDir, batchId) { staging =>
      assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(staging)
    }
  }

  /** Filtered top-k against a label-subpartitioned standing index (the
    * q90 batch query's deployment shape): each query probes its
    * `nprobe` centroid partitions, and a row is a candidate only for
    * the queries of its own label. Probes and query labels are known on
    * the driver, so the scan is filtered to `centroid_id IN (probed)`
    * and `label IN (query labels)` — static pruning on BOTH partition
    * levels skips every unprobed (centroid, label) directory. Rows keep
    * their stored `centroid_id` as their cell ([[searchIndex]]).
    * Pre-filter semantics: candidates are label-matching BEFORE
    * ranking, so the top-k never comes back short while qualifying
    * neighbors exist.
    * queries: (query_id: Long, qv: Array[Float], qlabel: Int). */
  def searchIndexFiltered(spark: SparkSession, indexDir: String,
                          queries: DataFrame, centroids: DataFrame, k: Int,
                          nprobe: Int = 1): DataFrame =
    Similarity.ivfRanked(queries,
        spark.read.parquet(indexDir).select(col("centroid_id"), col("label").as("clabel"),
          col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
        centroids, k, nprobe, sameLabel = Some(true), storedCells = true)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))

  /** Standing PCA moment state: the (i, j, sij, sid, cnt) second/first
    * moment table of every embedding seen so far — q98's distributed
    * half as a streaming fold. Moments are LINEAR (sums and counts add
    * across drops), so each batch's moment table merges cell-wise into
    * a d(d+1)/2-row state that is bit-identical to one batch pass over
    * the union, at O(d²) standing cost however many vectors have
    * arrived. */
  def momentState(spark: SparkSession, momentsDir: String): DataFrame = {
    AtomicState.recover(spark, momentsDir)
    spark.read.parquet(momentsDir)
  }

  /** Drain available embedding drops, folding each batch's moments into
    * the standing state. Checkpointed offsets keep a completed re-run or
    * duplicate drop of the same file from re-entering the source, and
    * the batchId applied-marker ([[AtomicState.alreadyApplied]]) keeps
    * the one at-least-once window foreachBatch leaves open — a crash
    * after the swap but before the offset commit — from folding the
    * replayed batch's moments in a second time (the fold is additive,
    * not idempotent). */
  def momentIngest(spark: SparkSession, srcDir: String, momentsDir: String,
                   checkpointDir: String): StreamingQuery = {
    AtomicState.drain(source(spark, srcDir), checkpointDir) { (batch, batchId) =>
      momentBatch(batch, batchId, momentsDir)
    }
  }

  /** One momentIngest micro-batch — exposed so StreamingSpec can replay
    * it with the same batchId and assert the fold is a no-op. */
  private[graft] def momentBatch(batch: DataFrame, batchId: Long,
                                 momentsDir: String): Unit = {
    val ss = batch.sparkSession
    if (AtomicState.alreadyApplied(ss, momentsDir, batchId)) return
    val bm = graft.queries.VectorOps.pcaMomentsOf(batch)
    val merged =
      if (!AtomicState.exists(ss, momentsDir)) bm
      else momentState(ss, momentsDir).unionByName(bm)
        .groupBy(col("i"), col("j"))
        .agg(sum(col("sij")).as("sij"), sum(col("sid")).as("sid"),
          sum(col("cnt")).as("cnt"))
    AtomicState.swapIn(ss, momentsDir, merged, batchId)
  }

  /** The top principal component read off the standing moment state —
    * covariance + driver-side eigeniteration shared with batch q98
    * ([[graft.queries.VectorOps.pcaPowerOf]]), so the result is
    * bit-identical to running q98 over the union of every drop, WITHOUT
    * rescanning a single vector: the read costs O(d²) however large the
    * indexed corpus. */
  def principalComponent(spark: SparkSession, momentsDir: String): DataFrame =
    graft.queries.VectorOps.pcaPowerOf(spark,
      graft.queries.VectorOps.pcaCovarianceOf(momentState(spark, momentsDir)))

  /** Per-(centroid, dimension) sufficient statistics of an assigned
    * frame: s = Σ floor(v_d·10⁶) (the trainer's exact micro-unit sum,
    * [[graft.queries.VectorOps]]'s Lloyd arithmetic), n = row count. */
  private[graft] def centroidStats(assigned: DataFrame): DataFrame =
    assigned
      .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy(col("centroid_id"), col("d"))
      .agg(sum(expr("CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)")).as("s"),
        count(lit(1)).as("n"))

  /** Exact centroid refinement WITHOUT rescanning the index: one Lloyd
    * mean per centroid computed from the standing sufficient-statistics
    * state (k·dim rows — the fold [[ivfIngest]] maintains), with the
    * trainer's exact arithmetic (micro-unit sum / count, floored to
    * FLOAT), so the result is bit-identical to re-aggregating every
    * vector in the index. Centroids with no assigned vectors keep their
    * previous position (the trainer's empty-cluster rule). At 100 TB
    * this is the difference between a periodic O(k·dim) state read and
    * an index-wide scan per refresh. */
  def recenter(spark: SparkSession, statsDir: String,
               centroids: DataFrame): DataFrame = {
    val dims = spark.read.parquet(statsDir)
      .withColumn("m",
        expr("CAST(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS FLOAT)"))
      .groupBy(col("centroid_id"))
      .agg(array_sort(collect_list(struct(col("d"), col("m")))).as("dm"))
      .select(col("centroid_id"),
        expr("transform(dm, x -> x.m)").as("new_centroid"))
    centroids.join(dims, Seq("centroid_id"), "left")
      .select(col("centroid_id"),
        coalesce(col("new_centroid"), col("cvec")).as("cvec"))
  }

  /** Top-k cosine retrieval against the standing index: probe the
    * `nprobe` nearest centroids per query on the driver, scan ONLY those
    * index partitions (a `centroid_id IN (probed)` filter — static
    * partition pruning), rank within with the vector kernel. Each row's
    * cell is its stored `centroid_id`, never a re-assignment. Output
    * shape and values match [[Similarity.ivfTopK]] on the same
    * corpus/centroids/k/nprobe when the index was built with these
    * centroids. queries: (query_id: Long, qv: Array[Float]). */
  def searchIndex(spark: SparkSession, indexDir: String, queries: DataFrame,
                  centroids: DataFrame, k: Int, nprobe: Int = 1): DataFrame =
    Similarity.ivfRanked(queries,
      spark.read.parquet(indexDir).select(col("centroid_id"), col("vec_id").as("neighbor_id"),
        col("embedding").as("cv")),
      centroids, k, nprobe, storedCells = true)

  /** Residual-PQ codes for an assigned micro-batch, packed one row per
    * vector: (vec_id, centroid_id, codes: Array[Int] ordered by sub).
    * The arithmetic is batch q103's encode verbatim — float32 residual
    * via zip_with against the BROADCAST coarse centroid, then
    * [[graft.queries.VectorOps.pqEncode]]'s agg-min (guarded cosine,
    * map-side partial aggregation — never a window over the n·M·Ks
    * candidates) — so a streamed index's codes are bit-identical to a
    * batch encode over the union of every drop (StreamingSpec pins
    * this). The final fold to an array sorts on `sub` inside the
    * packed struct, so partition order cannot permute the codes. */
  private[graft] def pqCodesOf(assigned: DataFrame, centroids: DataFrame,
                               pqCodebooks: DataFrame): DataFrame = {
    import graft.queries.VectorOps
    val res = assigned
      .join(broadcast(centroids), Seq("centroid_id"))
      .withColumn("r", expr(
        "zip_with(embedding, cvec, (a, b) -> CAST(a AS FLOAT) - CAST(b AS FLOAT))"))
      .select(col("vec_id"), col("centroid_id"), col("r"))
    VectorOps.pqEncode(
        VectorOps.pqSubvectors(res, "vec_id", "r", carry = Seq("centroid_id")),
        pqCodebooks, Seq("vec_id", "centroid_id"))
      .groupBy(col("vec_id"), col("centroid_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
      .select(col("vec_id"), col("centroid_id"),
        expr("transform(sc, x -> CAST(x.code AS INT))").as("codes"))
  }

  /** ADC top-k against a standing residual-PQ index (built by
    * [[ivfIngest]] with `pqCodebooks`, raw vectors NOT required —
    * works on a storeRaw=false index): per query, probe the `nprobe`
    * nearest coarse cells, build the PER-CELL residual distance table
    * (floored-micro subvector dot products against the broadcast
    * codebooks — batch q103's integer ADC verbatim), and score ONLY
    * the probed partitions' members by summing their M table entries.
    * The probes are chosen on the driver ([[Similarity.probePairs]]),
    * so the scan is filtered to `centroid_id IN (probed)` — the index's
    * partition column — and static partition pruning skips every
    * unprobed partition's files (PlanSpec pins the partition filter),
    * and each candidate costs M integer adds with no float vector ever
    * read:
    * at 100 TB the search touches nprobe/k-th of an index that is
    * itself ~16× smaller than its raw-vector form. Results are
    * bit-equal to the batch ADC over the same corpus + artifacts
    * because both sides share the encode and the floored-integer
    * table arithmetic (StreamingSpec asserts row equality).
    * queries: (query_id: Long, qv: Array[Float]). */
  def searchIndexAdc(spark: SparkSession, indexDir: String, queries: DataFrame,
                     centroids: DataFrame, pqCodebooks: DataFrame, k: Int,
                     nprobe: Int = 2): DataFrame = {
    import graft.functions.VectorFunctions
    import graft.queries.VectorOps.{PqM, PqSubDim}
    val pairs = Similarity.probePairs(queries, centroids, nprobe)
    val index = spark.read.parquet(indexDir)
      .select(col("centroid_id"), col("vec_id"), col("codes"))
      .filter(col("centroid_id").isin(pairs.map(_._2).distinct: _*))
    val qtab = Similarity.probeFrame(queries, pairs)
      .join(broadcast(centroids), Seq("centroid_id"))
      .withColumn("qr", expr(
        "zip_with(qv, cvec, (a, b) -> CAST(a AS FLOAT) - CAST(b AS FLOAT))"))
      .select(col("query_id"), col("centroid_id"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), m -> " +
          s"struct(m AS sub, slice(qr, m * $PqSubDim + 1, $PqSubDim) AS sv))")).as("x"))
      .select(col("query_id"), col("centroid_id"),
        col("x.sub").as("sub"), col("x.sv").as("sv"))
      .join(broadcast(pqCodebooks), Seq("sub"))
      .withColumn("t", expr(
        s"CAST(FLOOR((${VectorFunctions.dotExpr("sv", "cvec")}) * 1000000.0) AS BIGINT)"))
      .select(col("query_id"), col("centroid_id"), col("sub"),
        col("code").cast("int").as("code"), col("t"))
    index
      .select(col("centroid_id"), col("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(qtab), Seq("centroid_id", "sub", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("t")).as("adc_micro"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("adc_micro").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adc_micro"), col("rank"))
  }
}
