package graft.streaming

import graft.queries.TrainingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming over the TRAINING-LAYOUT side of the pipeline:
  * incremental sequence packing — the streaming twin of the batch q81
  * (reference anchor: the reference re-seeds its serving layer from
  * scratch per run; at training-corpus volume the packed-window layout
  * is likewise something you maintain incrementally as document drops
  * land, not something you recompute over the whole corpus).
  *
  *  - [[ingest]]: each arriving micro-batch of documents is packed into
  *    back-to-back fixed-token context windows CONTINUING from where
  *    the previous batch stopped: the running corpus token total is
  *    carried in `packDir/state` (one tiny row appended per batch — the
  *    [[TextIndexStream]] stats idiom, aggregated at read time, never a
  *    per-doc table) and passed to
  *    [[TrainingOps.sequencePack]] as the batch's base offset. A
  *    document arriving at a window boundary splits across windows
  *    exactly as it would have in the batch build, so the standing
  *    layout equals the batch q81 over the union of all drops row for
  *    row (the spec asserts bit-equality).
  *
  *  - [[segments]] / [[totalTokens]]: read the standing layout and the
  *    carried offset back.
  *
  * Exactly-once: the file-source checkpoint replays only new files, so
  * crash-retries and duplicate drops of the same file never
  * double-pack (same contract as [[TextIndexStream.ingest]], asserted
  * by the spec's replay test).
  *
  * Scale shape: per batch the only non-map work is q81's two-level
  * cumsum (per-bucket window + broadcast bucket offsets — no global
  * sort) and the state read is an aggregate over batch-count rows. The
  * standing segments table only ever APPENDS, partition-friendly for a
  * downstream trainer reading windows `seq_id` range by range.
  */
object PackStream {

  /** File-stream source over a directory of parquet document drops
    * (same schema contract as [[TextIndexStream.source]]). */
  def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(TextIndexStream.docSchema).parquet(dir)

  /** The carried corpus token total: 0 before any batch. */
  def totalTokens(spark: SparkSession, packDir: String): Long = {
    val p = s"$packDir/state"
    if (!AtomicState.appendedAny(spark, p)) return 0L
    spark.read.parquet(p).agg(coalesce(sum(col("t")), lit(0L)))
      .first().getLong(0)
  }

  /** The standing packed layout: (doc_id, seq_id, tok_offset, seg_len). */
  def segments(spark: SparkSession, packDir: String): DataFrame =
    spark.read.parquet(s"$packDir/segments")

  /** Drain available document drops from `srcDir`, appending their
    * packed segments to `packDir/segments` and the batch token total to
    * `packDir/state`. AvailableNow + checkpoint = exactly-once over
    * files. */
  def ingest(spark: SparkSession, srcDir: String, packDir: String,
             checkpointDir: String): StreamingQuery = {
    AtomicState.drain(source(spark, srcDir), checkpointDir) { (batch, batchId) =>
      packBatch(batch, batchId, packDir)
    }
  }

  /** One ingest micro-batch. Replay-safe under foreachBatch's
    * at-least-once via [[AtomicState.appendOnce]] on both sinks, with
    * segments committed BEFORE the state total: `base` (and so every
    * packed offset) depends on the state, so a replay must recompute it
    * from the state AS OF the original attempt — which holds at every
    * crash point because the state row lands last. Exposed so
    * StreamingSpec can replay it with the same batchId and assert the
    * layout and total are unchanged. */
  private[graft] def packBatch(batch: DataFrame, batchId: Long,
                               packDir: String): Unit = {
    val ss = batch.sparkSession
    val base = totalTokens(ss, packDir)
    val segs = TrainingOps.sequencePack(batch, base).cache()
    try {
      AtomicState.appendOnce(ss, s"$packDir/segments", batchId) { staging =>
        segs.write.mode("overwrite").parquet(staging)
      }
      AtomicState.appendOnce(ss, s"$packDir/state", batchId) { staging =>
        segs.agg(coalesce(sum(col("seg_len")), lit(0L)).as("t"))
          .write.mode("overwrite").parquet(staging)
      }
    } finally segs.unpersist()
  }
}
