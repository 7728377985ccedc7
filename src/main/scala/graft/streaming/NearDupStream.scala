package graft.streaming

import graft.queries.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming near-duplicate detection against a STANDING
  * MinHash band index — the approximate-dedup twin of
  * [[DocumentsStream]]'s exact cross-batch content-hash dedup, and the
  * streaming form of the batch q22/q48 family. At corpus volume you
  * cannot re-run a full-corpus pair join per drop; you keep the band
  * index standing and probe it with each arriving batch.
  *
  *  - [[ingest]]: each arriving micro-batch is shingled and
  *    min-hashed with the EXACT batch pipeline
  *    ([[TextOps.minhashSig]] → [[TextOps.bandedRows]], 8 bands × 2
  *    rows — the q48 recall point), then:
  *    1. PROBE — batch band keys join the standing index on
  *       (pband, band, bucket), where `pband` = pmod(hash60(bucket),
  *       [[NBuckets]]) is the parquet PARTITION column, so dynamic
  *       partition pruning skips every band file the batch's keys
  *       don't touch (the [[TextIndexStream]] shape). Collisions with
  *       PRIOR documents become matches oriented (new doc_id →
  *       matched_id).
  *    2. WITHIN-BATCH — the batch's own capped bucket pairs
  *       ([[TextOps.bucketPairs]]) are added, oriented greater→lesser,
  *       so two near-dup docs landing in the SAME drop are not missed.
  *    3. CONFIRM — every match carries `n_agree` = how many of the 16
  *       minhash positions the two signatures share (E[n_agree/16] =
  *       Jaccard); signatures come from the standing `minhash` table
  *       plus the batch, so the estimate needs no re-shingling of old
  *       documents. Consumers threshold n_agree (≥8 ≈ the q48 J≥0.5
  *       gate) or route flagged pairs to an exact batch confirm.
  *    4. APPEND — the batch's band rows and signatures join the
  *       standing index; matches append to `dupDir/matches` with the
  *       batch id.
  *
  * Exactly-once: the file-source checkpoint replays only new files
  * (the [[TextIndexStream]] contract; the spec asserts replay no-op).
  * A duplicate CONTENT in a new file is not an error — it collides on
  * all 8 bands and surfaces as a match with n_agree = 16.
  *
  * Scale shape: probe cost is |batch band keys| joined against a
  * DPP-pruned slice of the index; the standing side never rewrites
  * (append-only); within-batch pair expansion is bucket-capped exactly
  * like the batch path. The index grows as 8 rows + one signature row
  * per document — linear, and partition-pruned at every probe.
  */
object NearDupStream {

  /** Band-hash partition count for the standing index (the
    * [[TextIndexStream.NBuckets]] sizing argument). */
  val NBuckets = 64

  private val Bands = 8

  def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(TextIndexStream.docSchema).parquet(dir)

  /** The standing match log: (batch_id, doc_id, matched_id, n_agree). */
  def matches(spark: SparkSession, dupDir: String): DataFrame =
    spark.read.parquet(s"$dupDir/matches")

  private def withPband(banded: DataFrame): DataFrame =
    banded.withColumn("pband",
      pmod(expr(graft.queries.Idioms.hash60Expr("bucket")), lit(NBuckets.toLong)))

  /** Shingle + minhash one batch with the exact batch pipeline. */
  private def sigOf(batch: DataFrame): DataFrame =
    TextOps.minhashSig(
      batch.withColumn("arr",
          graft.plans.GraftExpressions.distinctShingles(col("text"), 3))
        .select(col("doc_id"), explode(col("arr")).as("s")))

  /** n_agree between two signature rows joined as a_mhN / b_mhN columns. */
  private def agreeExpr: org.apache.spark.sql.Column =
    (0 until 16).map(i =>
      when(col(s"a_mh$i") === col(s"b_mh$i"), 1).otherwise(0)).reduce(_ + _)
      .cast("long")

  def ingest(spark: SparkSession, srcDir: String, dupDir: String,
             checkpointDir: String): StreamingQuery = {
    AtomicState.drain(source(spark, srcDir), checkpointDir) { (batch, batchId) =>
      dedupBatch(batch, batchId, dupDir)
    }
  }

  /** One ingest micro-batch. Replay-safe under foreachBatch's
    * at-least-once via [[AtomicState.appendOnce]] on all three sinks,
    * with the state-DEPENDENT match log committed FIRST: a naive
    * replay after the index appends landed would probe an index that
    * already CONTAINS the batch and log every document as a 16/16
    * match of itself. With the ordering, a replay skips the committed
    * match log without re-evaluating it, and the two index appends
    * (pure functions of the batch) stage deterministically. Exposed so
    * StreamingSpec can replay it with the same batchId and assert the
    * match log and index are unchanged. */
  private[graft] def dedupBatch(batch: DataFrame, batchId: Long,
                                dupDir: String): Unit = {
    val ss = batch.sparkSession
    def exists(p: String) = AtomicState.appendedAny(ss, p)
    val sig = sigOf(batch).cache()
    try {
      val banded = withPband(TextOps.bandedRows(sig, Bands)).cache()
      try {
        AtomicState.appendOnce(ss, s"$dupDir/matches", batchId) { staging =>
          // 1. probe the standing index (DPP on pband)
          val prior =
            if (!exists(s"$dupDir/bands")) None
            else Some(ss.read.parquet(s"$dupDir/bands"))
          val vsPrior = prior.map { p =>
            // the drop is small BY DEFINITION — broadcast it so the
            // standing index streams through the probe join with no
            // shuffle of its (corpus × 8)-row band table
            p.select(col("pband"), col("band"), col("bucket"),
                col("doc_id").as("matched_id"))
              .join(broadcast(banded), Seq("pband", "band", "bucket"))
              .select(col("doc_id"), col("matched_id")).distinct()
          }
          // 2. within-batch pairs, capped exactly like the batch path
          val inBatch = TextOps.bucketPairs(banded.drop("pband"))
            .select(col("doc_b").as("doc_id"), col("doc_a").as("matched_id"))
          val cand = vsPrior.map(_.union(inBatch)).getOrElse(inBatch)
            .distinct()
          // 3. confirm estimate: the NEW side's signatures are the
          // batch's own (already in hand — no table read); the
          // matched side may be a prior doc (standing table) or a
          // same-batch doc (the batch again)
          val allSigs =
            if (exists(s"$dupDir/minhash"))
              ss.read.parquet(s"$dupDir/minhash").unionByName(sig)
            else sig
          def side(src: DataFrame, p: String) = src.select(
            col("doc_id").as(s"${p}_id") +:
              (0 until 16).map(i => col(s"mh$i").as(s"${p}_mh$i")): _*)
          cand
            .join(side(sig, "a"), col("doc_id") === col("a_id"))
            .join(side(allSigs, "b"), col("matched_id") === col("b_id"))
            .select(lit(batchId).as("batch_id"), col("doc_id"),
              col("matched_id"), agreeExpr.as("n_agree"))
            .write.mode("overwrite").parquet(staging)
        }
        // 4. append the batch to the standing index
        AtomicState.appendOnce(ss, s"$dupDir/bands", batchId) { staging =>
          banded.write.mode("overwrite").partitionBy("pband").parquet(staging)
        }
        AtomicState.appendOnce(ss, s"$dupDir/minhash", batchId) { staging =>
          sig.write.mode("overwrite").parquet(staging)
        }
      } finally banded.unpersist()
    } finally sig.unpersist()
  }
}
