package graft.streaming

import graft.queries.TrainingOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Structured Streaming over the DOCUMENT side of the pipeline — the
  * training-data twin of [[EventsStream]] (SURVEY.md §2.7: the
  * reference's bronze landing is batch-incremental, bronze.py:127; an
  * unbounded corpus drop is the same model read as a stream). Two ops:
  *
  *  - [[dedupStream]]: content-hash exact dedup ACROSS micro-batches —
  *    the streaming form of q03/A1. `dropDuplicates` keeps the seen-hash
  *    set in state, so a document replayed in a later file (crash-retry
  *    re-drops, crawler re-fetches) is emitted exactly once. Documents
  *    carry no event time, so state is unbounded by design here; at
  *    100 TB the deployment shape bounds it with an ingest-time column +
  *    `dropDuplicatesWithinWatermark` (dedup horizon = the re-drop
  *    window, exactly how the reference's daily re-crawl overlaps), or
  *    periodically compacts state via the batch q03.
  *
  *  - [[perplexityGate]]: the q74 CCNet gate as a stream-static
  *    pipeline — the reference LM (vocab + totals) is built ONCE from a
  *    static corpus, persisted, and every arriving micro-batch is scored
  *    against it via `foreachBatch` + [[TrainingOps.pplScore]] (the SAME
  *    code the batch oracle checks). Per-document scoring is state-free
  *    — a doc's tier depends only on its own tokens + the static LM —
  *    so micro-batch boundaries cannot change results and the stream
  *    output equals the batch twin row-for-row (StreamingSpec asserts
  *    this). foreachBatch is the right tool precisely because no
  *    cross-batch state exists: the per-batch plan is the full broadcast
  *    LM join pipeline, checkpointed for exactly-once file-sink output.
  */
object DocumentsStream {

  /** documents schema as the corpus parquet stores it. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-stream source over a directory of parquet document drops. */
  def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)

  /** Exact content dedup across micro-batches: first arrival of each
    * sha-256(text) wins, replays are dropped from streaming state. */
  def dedupStream(docs: DataFrame): DataFrame =
    docs.withColumn("content_hash", sha2(col("text"), 256))
      .dropDuplicates("content_hash")

  /** Score every arriving document against the static reference LM and
    * append (doc_id, lang, n_toks, score, ppl_bucket) to `destDir`.
    * Drains available input and stops (AvailableNow), like
    * [[EventsStream.incrementalIngest]]: re-runs process only new files.
    */
  def perplexityGate(spark: SparkSession, srcDir: String, refDocs: DataFrame,
                     destDir: String, checkpointDir: String): StreamingQuery = {
    val (vocab, totals) = TrainingOps.pplLm(refDocs)
    // the LM is reused every micro-batch — materialize it once instead
    // of re-aggregating the reference corpus per batch
    vocab.persist(); totals.persist()
    val q = AtomicState.drain(source(spark, srcDir), checkpointDir) { (batch, batchId) =>
      // appendOnce: a foreachBatch replay (crash between write and
      // offset commit) must not duplicate the batch's scored rows
      AtomicState.appendOnce(batch.sparkSession, destDir, batchId) { staging =>
        TrainingOps.pplScore(batch, vocab, totals)
          .write.mode("overwrite").parquet(staging)
      }
    }
    vocab.unpersist(); totals.unpersist()
    q
  }
}
