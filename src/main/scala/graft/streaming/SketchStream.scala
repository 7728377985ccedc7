package graft.streaming

import graft.queries.{Idioms, TrainingOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming corpus-statistics sketches — the standing twin
  * of batch q84 (KMV distinct vocabulary) and q85 (count–min gram
  * frequencies), and the use case mergeable sketches exist for: at
  * 100 TB you cannot re-scan the corpus per drop to keep "distinct
  * tokens per (lang, source)" or "hot 2-grams" current, but both
  * sketches fold batch-into-state losslessly, so the standing state
  * after N drops is BIT-IDENTICAL to the batch sketch over the union
  * (StreamingSpec pins both equalities exactly — not approximately):
  *
  *  - KMV: the k smallest distinct hashes of (state ∪ batch) is
  *    kmv(state-sketch ∪ batch-hashes) — one distinct [[graft.functions
  *    .MinKLongsAggregator]] pass over the exploded standing sketches
  *    (≤ groups·k rows) unioned with the batch's own hash stream.
  *  - CMS: the sketch is LINEAR (Cormode & Muthukrishnan §4.1), so
  *    cells add: state cells + batch cells, grouped sum, never more
  *    than d·w = 4096 rows standing.
  *  - log-histogram (q87's quantile sketch): the same linearity —
  *    (lang, bin) counts add, ≤ 8·log2(max) bins per language standing,
  *    and [[quantiles]] reads p50/p90 off the folded cells with q87's
  *    integer thresholds.
  *  - weighted sample (q88): the k smallest of (state ∪ batch keys) is
  *    the k smallest over everything seen — the KMV argument at the
  *    document level, so the standing k-row sample after N drops IS
  *    the batch q88 over their union.
  *  - BPE pair counts (q94's round-1 statistics): adjacent-character
  *    pair counts are linear AND the key space is bounded by the
  *    character alphabet squared, so the standing state is exact;
  *    [[currentMerge]] reads the argmax — bit-identical to batch q94's
  *    first merge over the union.
  *
  * Both states are tiny by construction (groups·k longs; 4096 cells),
  * which is the whole point: per micro-batch the corpus-sized work is
  * one aggregation of the BATCH, and the standing merge touches only
  * sketch-sized data. Updates go through the write-temp + atomic-rename
  * swap ([[graft.etl.Gold.upsert]]'s crash contract: a failure
  * mid-batch leaves the previous state intact).
  *
  * Exactly-once: the file-source checkpoint replays only new files
  * (the [[TextIndexStream]] contract; the spec asserts a replay
  * leaves both states byte-identical).
  */
object SketchStream {

  def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(TextIndexStream.docSchema).parquet(dir)

  /** Standing KMV state: (lang, source, sketch ARRAY<BIGINT> sorted
    * ascending, ≤ [[TrainingOps.KmvK]] elements). */
  def kmvState(spark: SparkSession, sketchDir: String): DataFrame =
    spark.read.parquet(s"$sketchDir/kmv")

  /** Standing CMS state: (j, pos, cell_cnt), ≤ d·w rows. */
  def cmsCells(spark: SparkSession, sketchDir: String): DataFrame =
    spark.read.parquet(s"$sketchDir/cms")

  /** Standing log-histogram state (q87's sketch): (lang, bin, cnt),
    * ≤ 8·log2(max value) bins per language. */
  def histCells(spark: SparkSession, sketchDir: String): DataFrame =
    spark.read.parquet(s"$sketchDir/hist")

  /** Per-language quantile reads off the standing histogram — q87's
    * p50/p90 columns, recomputed from the folded cells. */
  def quantiles(spark: SparkSession, sketchDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val cum = histCells(spark, sketchDir)
      .withColumn("cum",
        sum(col("cnt")).over(w.partitionBy(col("lang")).orderBy(col("bin"))))
      .withColumn("n_docs", sum(col("cnt")).over(w.partitionBy(col("lang"))))
    cum.groupBy(col("lang"), col("n_docs"))
      .agg(
        min(when(col("cum") * 2 >= col("n_docs"), col("bin"))).as("p50_bin"),
        min(when(col("cum") * 10 >= col("n_docs") * 9, col("bin"))).as("p90_bin"))
  }

  /** Distinct-vocabulary estimates read off the standing KMV state —
    * q84's estimator columns (without q84's exact-count audit rail,
    * which is precisely what a standing sketch exists to avoid). */
  def distinctEstimates(spark: SparkSession, sketchDir: String): DataFrame =
    kmvState(spark, sketchDir)
      .select(col("lang"), col("source"),
        expr("CAST(size(sketch) AS BIGINT)").as("sk_size"),
        expr("element_at(sketch, -1)").as("kth_min"))
      .withColumn("n_est", expr(
        s"""CASE WHEN sk_size < ${TrainingOps.KmvK} THEN sk_size
           | ELSE CAST(${TrainingOps.KmvK - 1} AS DECIMAL(38,0))
           |   * ${TrainingOps.KmvH} div kth_min
           | END""".stripMargin))

  /** CMS frequency read for caller-supplied grams against the standing
    * cells: min over the d row estimates (q85's read, any gram). */
  def estimateGrams(spark: SparkSession, sketchDir: String,
                    grams: Seq[String]): DataFrame = {
    import spark.implicits._
    val probes = grams.toDF("gram")
      .select(col("gram"), expr(Idioms.hash60Expr("gram")).as("h"))
      .select(col("gram"), explode(posArray).as("c"))
    val cells = cmsCells(spark, sketchDir)
    probes
      .join(broadcast(cells),
        col("c.j") === cells("j") && col("c.pos") === cells("pos"), "left")
      .groupBy(col("gram"))
      // a position no gram ever touched means count 0, not "unknown"
      .agg(min(coalesce(col("cell_cnt"), lit(0L))).as("cms_est"))
  }

  /** The d probe positions of hash column `h` as (j, pos) structs. */
  private def posArray =
    array((0 until TrainingOps.CmsD).map(j =>
      struct(lit(j).as("j"), expr(TrainingOps.cmsPosExpr(j)).as("pos"))): _*)

  /** Batch-side (lang, source, h) token-hash rows — q84's input shape. */
  private[graft] def tokenHashes(batch: DataFrame): DataFrame =
    batch
      .select(col("lang"), col("source"),
        explode(expr(s"array_distinct(${Idioms.toksExpr})")).as("tok"))
      .select(col("lang"), col("source"),
        expr(Idioms.hash60Expr("tok")).as("h"))

  /** Batch-side CMS cells — q85's codegen gram pipeline. */
  private[graft] def batchCells(batch: DataFrame): DataFrame =
    batch
      .withColumn("toks", expr(Idioms.toksExpr))
      .withColumn("n", expr("size(toks) - 1"))
      .filter(col("n") > 0)
      .select(explode(expr("sequence(1, n)")).as("i"), col("toks"))
      .select(expr(Idioms.gramAtExpr("toks", "i", 2)).as("gram"))
      .select(expr(Idioms.hash60Expr("gram")).as("h"))
      .select(explode(posArray).as("c"))
      .groupBy(col("c.j").as("j"), col("c.pos").as("pos"))
      .agg(count(lit(1)).as("cell_cnt"))

  /** Standing weighted sample (q88's sketch): exactly
    * [[TrainingOps.WeightedSampleK]] rows once enough docs have
    * arrived — (doc_id, n_chars, n_tickets, skey). */
  def weightedSample(spark: SparkSession, sketchDir: String): DataFrame =
    spark.read.parquet(s"$sketchDir/sample")

  /** Standing BPE pair-count state (q94's round-1 statistics): (l, r,
    * cnt) adjacent-character pair counts over every token instance seen
    * — bounded by the CHARACTER alphabet squared however large the
    * corpus, and linear (counts add across drops), so the fold is the
    * CMS argument with an exact, not probabilistic, state. */
  def pairState(spark: SparkSession, sketchDir: String): DataFrame =
    spark.read.parquet(s"$sketchDir/bpe")

  /** The current best first merge read off the standing pair counts —
    * BIT-identical to batch q94's step-1 row over the union of all
    * drops (same argmax, same lexicographic tie-break). A standing
    * tokenizer-statistics service reads this without re-scanning the
    * corpus; later merges need the re-tokenized corpus and stay a
    * batch job (q94) by design. */
  def currentMerge(spark: SparkSession, sketchDir: String): DataFrame =
    pairState(spark, sketchDir)
      .orderBy(col("cnt").desc, col("l").asc, col("r").asc).limit(1)
      .select(col("l"), col("r"), concat(col("l"), col("r")).as("merged"),
        col("cnt"))

  /** Batch-side pair cells — q94's round-1 pair counting, per token
    * INSTANCE (instance counts ≡ vocab-frequency-weighted counts). */
  private[graft] def batchPairs(batch: DataFrame): DataFrame =
    batch
      .select(explode(expr(Idioms.toksExpr)).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> struct(substr(w, i, 1) AS l, substr(w, i + 1, 1) AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("cnt"))

  /** Batch-side histogram cells — q87's pl2-div-128 binning. */
  private[graft] def batchHist(batch: DataFrame): DataFrame =
    batch
      .filter(col("n_chars") > 0)
      .select(col("lang"), col("n_chars").as("v"))
      .select(col("lang"), expr(s"(${Idioms.pl2Expr("v")}) div 128").as("bin"))
      .groupBy(col("lang"), col("bin")).agg(count(lit(1)).as("cnt"))

  /** Drain available drops from `srcDir`, folding each batch into the
    * standing KMV and CMS states under `sketchDir`. */
  def ingest(spark: SparkSession, srcDir: String, sketchDir: String,
             checkpointDir: String): StreamingQuery = {
    AtomicState.drain(source(spark, srcDir), checkpointDir) { (batch, batchId) =>
      sketchBatch(batch, batchId, sketchDir)
    }
  }

  /** One ingest micro-batch: five independent standing-state folds.
    * foreachBatch is at-least-once, and four of the folds are ADDITIVE
    * (re-folding a replayed batch double-counts; the min-of-union
    * sample alone happens to be idempotent), so each substate carries
    * its own applied-batch marker
    * ([[AtomicState.alreadyApplied]]): a replay after a crash between
    * two of the five swaps re-runs only the folds that did not land,
    * and a full replay is a no-op. Exposed so StreamingSpec can replay
    * it with the same batchId and assert exactly that. */
  private[graft] def sketchBatch(batch: DataFrame, batchId: Long,
                                 sketchDir: String): Unit = {
    val ss = batch.sparkSession
    def fold(path: String)(merged: => DataFrame): Unit =
      if (!AtomicState.alreadyApplied(ss, path, batchId)) {
        AtomicState.swapIn(ss, path, merged, batchId)
      }
    val kmv = udaf(graft.functions.MinKLongsAggregator(TrainingOps.KmvK, distinct = true))
    // KMV: standing sketches re-enter as plain hash rows — kmv() of
    // the union IS the merged sketch (mergeability), so the standing
    // side costs ≤ groups·k rows, not a corpus re-scan
    fold(s"$sketchDir/kmv") {
      val kmvIn =
        if (!AtomicState.exists(ss, s"$sketchDir/kmv")) tokenHashes(batch)
        else kmvState(ss, s"$sketchDir")
          .select(col("lang"), col("source"), explode(col("sketch")).as("h"))
          .unionByName(tokenHashes(batch))
      kmvIn.groupBy(col("lang"), col("source")).agg(kmv(col("h")).as("sketch"))
    }
    // CMS: linearity — cells add
    fold(s"$sketchDir/cms") {
      val cmsIn =
        if (!AtomicState.exists(ss, s"$sketchDir/cms")) batchCells(batch)
        else cmsCells(ss, sketchDir).unionByName(batchCells(batch))
      cmsIn.groupBy(col("j"), col("pos"))
        .agg(sum(col("cell_cnt")).as("cell_cnt"))
    }
    // log-histogram: the same linearity — bins add
    fold(s"$sketchDir/hist") {
      val histIn =
        if (!AtomicState.exists(ss, s"$sketchDir/hist")) batchHist(batch)
        else histCells(ss, sketchDir).unionByName(batchHist(batch))
      histIn.groupBy(col("lang"), col("bin"))
        .agg(sum(col("cnt")).as("cnt"))
    }
    // BPE pair counts: linearity again — exact cells add, state
    // bounded by the character alphabet squared
    fold(s"$sketchDir/bpe") {
      val bpeIn =
        if (!AtomicState.exists(ss, s"$sketchDir/bpe")) batchPairs(batch)
        else pairState(ss, sketchDir).unionByName(batchPairs(batch))
      bpeIn.groupBy(col("l"), col("r"))
        .agg(sum(col("cnt")).as("cnt"))
    }
    // weighted sample: k smallest of (standing k ∪ batch keys)
    fold(s"$sketchDir/sample") {
      val batchKeys = TrainingOps.weightedKeys(batch)
      val sampleIn =
        if (!AtomicState.exists(ss, s"$sketchDir/sample")) batchKeys
        else weightedSample(ss, sketchDir).unionByName(batchKeys)
      sampleIn.orderBy(col("skey").asc, col("doc_id").asc)
        .limit(TrainingOps.WeightedSampleK)
    }
  }
}
