package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Structured Streaming change-data-capture over the landing layer: the
  * streaming complement of the batch q82 snapshot diff. q82 compares
  * two complete snapshots; here drops arrive incrementally, so each
  * arriving document is classified against a STANDING (doc_id →
  * content-hash) state instead: `added` (key never seen), `modified`
  * (key seen, content changed), `unchanged` (a byte-identical re-drop —
  * the crawler re-fetched an unchanged page). Removals are not
  * observable in a drop stream (a batch carries what WAS crawled, not
  * what wasn't) — that question stays with the batch q82 over full
  * snapshots.
  *
  *  - [[ingest]]: per micro-batch, one right-outer join with the batch
  *    broadcast (the batch is the small side by construction; the
  *    standing key/hash table streams through unshuffled), an appended
  *    change log row per document, and a key-based last-writer-wins
  *    upsert of the state via [[graft.etl.Gold.upsert]] — TxTable-
  *    committed since round 15 (a crash mid-batch leaves the previous
  *    VERSION intact, and the last few versions stay time-travel
  *    readable). Because every batch commits a full state copy, the
  *    ingest bounds storage by vacuuming past [[RetainVersions]] after
  *    each upsert — without that a long-lived stream would hold one
  *    state copy PER BATCH (the cost the old rename-swap never had);
  *    the vacuum's grace window keeps this safe against the (single,
  *    serialized) writer itself.
  *  - [[changes]] / [[state]]: read the log and the current state back.
  *
  * Exactly-once: the file-source checkpoint replays only new files
  * (same contract as [[TextIndexStream.ingest]]); a byte-identical
  * re-drop in a NEW file is not an error but data — it logs as
  * `unchanged`, which is exactly what a crawler's conditional-GET
  * accounting wants to count.
  *
  * Scale shape: state grows with |distinct keys| but each batch touches
  * it once, hash-joined on the key; the change log is append-only. At
  * 100 TB the upsert rewrite is the cost to watch, so the state is
  * PARTITION-SCOPED since round 16: rows carry a `b =
  * pmod(xxhash64(doc_id), StateBuckets)` bucket and commit through
  * [[graft.etl.TxTable.mergeUpsertPartitioned]] — a micro-batch
  * rewrites only the buckets its doc_ids hash into (untouched buckets'
  * dirs are carried into the new manifest BY REFERENCE), so a
  * small-drop batch against a large standing state costs
  * |touched buckets| / StateBuckets of the state instead of all of it.
  * Uniform hashing means a batch of K docs touches min(K, StateBuckets)
  * buckets: the scoped win is the small-incremental-drop case (the CDC
  * cadence norm), while a bulk backfill touching every bucket degrades
  * gracefully to the whole-state rewrite it would have paid anyway.
  * Size StateBuckets at deployment so one bucket's rewrite fits the
  * per-batch budget. Pre-round-16 states (whole-table TxTable history
  * or plain parquet) keep committing through [[graft.etl.Gold.upsert]]
  * — the format rejects mixing scoped and whole-table entries, and a
  * standing stream must not rewrite its history to upgrade. The log
  * itself never rewrites.
  */
object ChangeStream {

  /** File-stream source over a directory of parquet document drops. */
  def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(TextIndexStream.docSchema).parquet(dir)

  /** The appended change log: (batch_id, doc_id, status, h). */
  def changes(spark: SparkSession, cdcDir: String): DataFrame =
    spark.read.parquet(s"$cdcDir/changes")

  /** The standing (doc_id, h) state after all ingested drops —
    * TxTable-backed since round 15; the internal bucket column of a
    * partition-scoped state (round 16) is not part of the surface. */
  def state(spark: SparkSession, cdcDir: String): DataFrame =
    graft.etl.Gold.readTable(spark, s"$cdcDir/hashes")
      .select(col("doc_id"), col("h"))

  /** Drain available drops from `srcDir`, appending per-doc change rows
    * to `cdcDir/changes` and upserting `cdcDir/hashes`. */
  def ingest(spark: SparkSession, srcDir: String, cdcDir: String,
             checkpointDir: String): StreamingQuery = {
    AtomicState.drain(source(spark, srcDir), checkpointDir) { (batch, batchId) =>
      changeBatch(batch, batchId, cdcDir)
    }
  }

  /** One ingest micro-batch. Replay-safe under foreachBatch's
    * at-least-once: the diff (the only state-DEPENDENT frame — a
    * replay computed after the upsert would mislabel every row
    * `unchanged`) commits FIRST through [[AtomicState.appendOnce]], so
    * a replay skips it without re-evaluating; the upsert that follows
    * is keyed-overwrite idempotent. Exposed so StreamingSpec can
    * replay it with the same batchId and assert log + state are
    * unchanged. */
  private[graft] def changeBatch(batch: DataFrame, batchId: Long,
                                 cdcDir: String): Unit = {
    val ss = batch.sparkSession
    val statePath = s"$cdcDir/hashes"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(statePath), ss.sparkContext.hadoopConfiguration)
    val cur = batch
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .dropDuplicates("doc_id") // within-batch: one verdict per key
      .cache()
    try {
      AtomicState.appendOnce(ss, s"$cdcDir/changes", batchId) { staging =>
        val diffed =
          if (!graft.etl.TxTable.exists(statePath) &&
              !fs.exists(new org.apache.hadoop.fs.Path(statePath)))
            cur.withColumn("status", lit("added"))
          else {
            // the batch is the small side: RIGHT outer with the batch
            // broadcast (a right-outer BHJ builds on the left), so the
            // standing state streams through the join unshuffled
            val prev = graft.etl.Gold.readTable(ss, statePath)
              .withColumnRenamed("h", "h_prev")
            prev.join(broadcast(cur), Seq("doc_id"), "right")
              .select(col("doc_id"), col("h"),
                when(col("h_prev").isNull, "added")
                  .when(col("h_prev") =!= col("h"), "modified")
                  .otherwise("unchanged").as("status"))
          }
        diffed.select(lit(batchId).as("batch_id"), col("doc_id"),
            col("status"), col("h"))
          .write.mode("overwrite").parquet(staging)
      }
      // partition-scoped state commit (round 16): fresh/bucketed states
      // rewrite only the buckets this batch's doc_ids hash into; a
      // legacy whole-table history stays on the whole-table merge (the
      // format rejects mixing, and history must not be rewritten)
      val legacy = (graft.etl.TxTable.exists(statePath) &&
        graft.etl.TxTable.snapshot(statePath).entries.exists(_._2.isEmpty)) ||
        (!graft.etl.TxTable.exists(statePath) &&
          fs.exists(new org.apache.hadoop.fs.Path(statePath)))
      if (legacy) graft.etl.Gold.upsert(ss, statePath, cur, "doc_id")
      else {
        // bucket count comes from the TABLE's layout descriptor, not the
        // compile-time constant: a binary rebuilt with a different
        // StateBuckets would otherwise hash the same doc_id into a FRESH
        // bucket that never collides with its old rows — duplicate keys
        // (r16 verdict task). The descriptor is recorded at layout
        // creation and validated by mergeUpsertPartitioned thereafter;
        // a pre-descriptor scoped state (r16 builds, all 16-bucket) gets
        // it recorded retroactively.
        val buckets = bucketCountOf(statePath).getOrElse(StateBuckets)
        graft.etl.TxTable.mergeUpsertPartitioned(ss, statePath,
          cur.withColumn("b",
            pmod(xxhash64(col("doc_id")), lit(buckets)).cast("string")),
          "doc_id", "b", layout = layoutDescriptor(buckets))
      }
      // bound the state's version history: keep the last RetainVersions
      // commits readable (crash forensics / stream debugging), drop the
      // bytes behind older ones — otherwise a long-lived stream holds
      // one full state copy per micro-batch (with the scoped commit the
      // per-version overhead is already only the touched buckets, but
      // carried-forward old bucket dirs still pin their bytes until the
      // referencing manifests age out)
      val latest = graft.etl.TxTable.latestVersion(statePath)
      if (latest >= RetainVersions)
        graft.etl.TxTable.vacuum(statePath, keepFrom = latest - RetainVersions + 1)
    } finally cur.unpersist()
  }

  /** How many recent state versions an ingesting stream keeps readable. */
  val RetainVersions = 3

  /** Hash-bucket count for a NEWLY CREATED partition-scoped state (an
    * existing state's count always comes from its recorded layout
    * descriptor — see [[bucketCountOf]]). Deployment rule: size so one
    * bucket's rewrite (|state| / StateBuckets plus the batch's matching
    * rows) fits the per-micro-batch write budget. */
  val StateBuckets = 16

  /** The layout descriptor recorded in the state table's manifest:
    * `pmod(xxhash64(doc_id), N)` spelled out, so the scoping rule is
    * self-describing and a mismatched writer fails fast in
    * [[graft.etl.TxTable.mergeUpsertPartitioned]]. */
  private[graft] def layoutDescriptor(buckets: Int): String =
    s"hash-bucket(doc_id):$buckets"

  private val LayoutPattern = """hash-bucket\(doc_id\):(\d+)""".r

  /** The bucket count the state table was CREATED with, read from its
    * recorded layout descriptor; None for a fresh table or a
    * pre-descriptor history (all of which were built with 16). */
  private[graft] def bucketCountOf(statePath: String): Option[Int] =
    if (!graft.etl.TxTable.exists(statePath)) None
    else graft.etl.TxTable.snapshot(statePath).layout match {
      case LayoutPattern(n) => Some(n.toInt)
      case _ => None
    }
}
