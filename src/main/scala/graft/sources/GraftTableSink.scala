package graft.sources

import graft.etl.TxTable

import org.apache.spark.sql.{DataFrame, GraftBridge, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.OutputMode

/** `df.writeStream.format("graft")` — the transactional sink half of
  * the streaming story (the source half is [[GraftMicroBatchStream]]):
  * each micro-batch commits through the manifest's txn ledger tagged
  * (appId, batchId), so the engine's at-least-once `addBatch` replay
  * (crash after the table commit, before the engine's own batch
  * commit) lands EXACTLY ONCE in the table — the replayed batch id is
  * already recorded in the manifest's txn map and the call no-ops.
  * This is Delta's documented sink recipe (txn action + idempotent
  * writes); together with the tail stream, a standing pipeline can
  * read a TxTable incrementally, transform, and write a TxTable, with
  * exactly-once on BOTH edges.
  *
  * Output modes: Append commits each batch's rows
  * ([[TxTable.appendIdempotent]]); Complete commits a full-replace
  * [[TxTable.refresh]] per batch (the full-result shape of streaming
  * aggregations — replay repeats the identical refresh, harmless by
  * idempotence of content); Update, with `option("mergeKey", "k1,k2")`,
  * MERGES each batch's rows by key through
  * [[TxTable.mergeUpsertIdempotent]] — the standing-CDC upsert
  * pipeline as one `writeStream`, last-writer-wins per key,
  * exactly-once across replays.
  *
  * `appId` option: the writer identity for the txn map; defaults to
  * the query's checkpoint location (stable across restarts, exactly
  * what Delta keys on). A table written by several streams needs
  * distinct appIds, which distinct checkpoints give for free. */
final case class GraftTableSink(sqlContext: SQLContext, root: String,
                                appId: String, mode: OutputMode,
                                mergeKeys: Option[Seq[String]]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = GraftBridge.batchFrame(data)
    val spark = sqlContext.sparkSession
    mergeKeys match {
      case Some(keys) =>
        TxTable.mergeUpsertIdempotent(spark, root, batch, keys, appId, batchId)
      case None if mode == OutputMode.Complete() =>
        TxTable.refresh(spark, root, batch)
      case None =>
        TxTable.appendIdempotent(spark, root, batch, appId, batchId)
    }
  }
}
