package graft.streaming

import graft.queries.{Idioms, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Structured Streaming over the TEXT-RETRIEVAL side of the pipeline: a
  * STANDING INVERTED INDEX maintained incrementally — the BM25 twin of
  * [[EmbeddingsStream]]'s standing IVF index (reference anchor: the
  * vector-store collection that is re-seeded per run in the reference
  * would, at volume, be an incrementally-maintained index; the same
  * argument applies to its text side).
  *
  *  - [[ingest]]: each arriving micro-batch of documents is tokenized
  *    (the corpus-wide `Idioms.toksExpr` contract shared with
  *    q18/q55/q75), exploded to (doc_id, dl, tok, f) postings, and
  *    appended to a parquet index PARTITIONED BY `bucket` =
  *    pmod(hash60(tok), [[NBuckets]]). The bucket is a pure function of
  *    the term, so EVERY posting of a given term lives in exactly one
  *    partition — which is what makes query-time df exact over a
  *    partition-pruned scan, and what makes ingest state-free (a
  *    posting's partition depends only on its own row; micro-batch
  *    boundaries cannot change the index). Corpus stats needed by BM25
  *    (N docs, T tokens) are appended per batch as ONE row to
  *    `indexDir/stats` — query-time reads aggregate a file of
  *    batch-count rows, never a per-doc table.
  *
  *  - [[search]]: BM25 top-k against the standing index. Query terms
  *    carry their bucket, the postings scan is equi-joined on the
  *    PARTITION column — dynamic partition pruning skips every unprobed
  *    bucket's files at the scan — and the surviving slice feeds the
  *    SAME all-integer scoring stage as the batch q75
  *    ([[VectorOps.bm25ScoreStage]]), so scores are bit-equal to a full
  *    batch build over the union of all drops. At 100 TB the probed
  *    fraction is ≤ |distinct query terms|/[[NBuckets]] of the index
  *    bytes; the full-corpus postings build that q75 pays per run is
  *    paid ONCE here, at ingest.
  *
  * Exactly-once: the file-source checkpoint replays only new files, so
  * crash-retries and duplicate drops of the same file never
  * double-insert (same contract as [[EmbeddingsStream.ivfIngest]],
  * asserted by the spec's replay test).
  */
object TextIndexStream {

  /** Term-hash partition count. 64 keeps per-bucket file counts sane at
    * test scale while giving DPP a 64-way pruning grain; a deployment
    * sizes this to (cluster cores × a small factor). */
  val NBuckets = 64

  /** documents schema as the corpus parquet stores it. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-stream source over a directory of parquet document drops. */
  def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)

  private def hash60(c: String): String = Idioms.hash60Expr(c)

  /** Tokenize one batch into (doc_id, dl, tok, f, bucket) postings. */
  private[graft] def postingsOf(batch: DataFrame): DataFrame =
    batch
      .withColumn("toks", expr(Idioms.toksExpr))
      .select(col("doc_id"), col("toks"),
        expr("CAST(size(toks) AS BIGINT)").as("dl"))
      .filter(col("dl") > 0)
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .groupBy(col("doc_id"), col("dl"), col("tok")).agg(count(lit(1)).as("f"))
      .withColumn("bucket", pmod(expr(hash60("tok")), lit(NBuckets.toLong)))

  /** Drain available document drops from `srcDir` into the standing
    * index at `indexDir` (postings partitioned by term bucket + one
    * stats row per batch). AvailableNow + checkpoint = exactly-once
    * over FILES; the at-least-once foreachBatch replay window (crash
    * between sink write and offset commit) is closed by routing both
    * appends through [[AtomicState.appendOnce]], so a replayed batch
    * never duplicates postings or stats rows. */
  def ingest(spark: SparkSession, srcDir: String, indexDir: String,
             checkpointDir: String): StreamingQuery = {
    AtomicState.drain(source(spark, srcDir), checkpointDir) { (batch, batchId) =>
      indexBatch(batch, batchId, indexDir)
    }
  }

  /** One ingest micro-batch — exposed so StreamingSpec can replay it
    * with the same batchId and assert the index is unchanged. */
  private[graft] def indexBatch(batch: DataFrame, batchId: Long,
                                indexDir: String): Unit = {
    val ss = batch.sparkSession
    val posts = postingsOf(batch).cache()
    try {
      AtomicState.appendOnce(ss, s"$indexDir/postings", batchId) { staging =>
        posts.write.mode("overwrite").partitionBy("bucket").parquet(staging)
      }
      // batch-level corpus stats: one tiny row, not a per-doc table
      AtomicState.appendOnce(ss, s"$indexDir/stats", batchId) { staging =>
        posts.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
          .agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
          .write.mode("overwrite").parquet(staging)
      }
    } finally posts.unpersist()
  }

  /** BM25 top-k against the standing index. `queries`: (query_id: Long,
    * text: String); terms are the first `nTerms` tokens, distinct — the
    * q75 query contract. The postings join hits the `bucket` partition
    * column first, so DPP prunes every unprobed bucket's files. */
  def search(spark: SparkSession, indexDir: String, queries: DataFrame,
             k: Int, nTerms: Int = 8): DataFrame = {
    // coalesce: a batch of only empty/whitespace docs writes n=0 with a
    // NULL t (sum over zero posting rows), and a stats dir of only such
    // rows aggregates to NULL — getLong on that is an opaque NPE
    val nt = spark.read.parquet(s"$indexDir/stats")
      .agg(coalesce(sum(col("n")), lit(0L)), coalesce(sum(col("t")), lit(0L)))
      .first()
    val (bigN, bigT) = (nt.getLong(0), nt.getLong(1))
    require(bigN > 0,
      s"text index at $indexDir is empty (no non-empty documents ingested)")
    val qterms = queries
      .withColumn("toks", expr(Idioms.toksExpr))
      .select(col("query_id"),
        explode(expr(s"slice(toks, 1, $nTerms)")).as("tok"))
      .distinct()
      .withColumn("bucket", pmod(expr(hash60("tok")), lit(NBuckets.toLong)))
    val postings = spark.read.parquet(s"$indexDir/postings")
    // equi-join on (bucket, tok): bucket is the partition column → DPP
    // file-prunes; tok completes the term match within the bucket
    val slice = postings.join(broadcast(qterms.select(col("bucket"), col("tok")).distinct()),
        Seq("bucket", "tok"))
      .select(col("doc_id"), col("dl"), col("tok"), col("f"))
    // keyCol = "tok": the standing index stores token STRINGS (the
    // bucket partition layout needs them for the per-bucket term
    // match); the batch family keys on xxhash64 longs — see bm25Parts
    VectorOps.bm25ScoreStage(slice, qterms.select(col("query_id"), col("tok")),
      bigN, bigT, k, keyCol = "tok")
  }
}
