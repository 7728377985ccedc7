package graft.sources

import graft.etl.TxTable

import org.apache.spark.sql.{GraftParquetBridge, SparkSession}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, SupportsAdmissionControl, Offset => V2Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A graft stream offset: the bare table version as JSON — byte-equal
  * to Spark's `LongOffset` wire format, so a checkpoint whose offset
  * log holds `LongOffset`s resumes unchanged. */
private[sources] final case class GraftVersionOffset(version: Long)
    extends V2Offset {
  override def json: String = version.toString
}

/** The one tailing engine over a [[TxTable]] commit log: the DSv2
  * micro-batch stream behind `spark.readStream.format("graft").load(path)`
  * and `spark.readStream.table("graft.ns.t")`, reader options flowing
  * through the scan builder. It follows the Delta streaming-source
  * recipe (Armbrust et al. §4.4: "treat the log as a message queue"):
  *
  *  - offset = table version, batch = the dirs versions (from, to]
  *    ADDED (immutable dirs + dense versions make the range
  *    replay-stable, so the checkpoint's offset log gives exactly-once
  *    per committed dir across restarts);
  *  - a version REWRITES rows iff it DROPS a dir its predecessor listed
  *    (refresh/compact/merge/delete have this shape; an append, a
  *    migrate, a metadata-only commit, or a first commit drop nothing).
  *    Such a version fails the stream unless `ignoreChanges=true`
  *    re-emits its fresh dirs (at-least-once on rewritten rows,
  *    downstream dedupes by key — Delta's documented contract, with its
  *    `ignoreDeletes` case folded into the one option);
  *  - a FRESH stream bootstraps past vacuumed history (the first
  *    retained version is a full snapshot); a RESUMED stream finding a
  *    vacuumed version fails loudly, because the diff against
  *    already-emitted rows is lost.
  *
  * Options: `startingVersion` = N (tail from version N inclusive;
  * default: the full committed history) or `"latest"` (only versions
  * committed after stream start, its anchor persisted under the
  * checkpoint at `<checkpoint>/sources/N/graft-latest-anchor`);
  * `ignoreChanges` as above; `maxVersionsPerBatch` = N (admission
  * control, Delta's `maxFilesPerTrigger` role: a stream restarted after
  * a week of commits drains the backlog in bounded batches).
  *
  * Admission control rides `SupportsAdmissionControl`: the engine
  * hands [[latestOffset(start:V2Offset,limit:ReadLimit)*]] the PREVIOUS
  * end offset, so the `maxVersionsPerBatch` cap is applied against
  * exactly what the offset log has admitted — restart-safe with no
  * source-side watermark state at all.
  *
  * Scale posture: planning a batch is O(versions in the batch) manifest
  * reads (each O(1) via hinted discovery); the data read itself is
  * Spark's own vectorized parquet reader over exactly the added dirs —
  * the same columnar scan the batch connector delegates to, so a
  * 1000-executor stream reads a micro-batch with the same per-file
  * parallelism as a batch job over those dirs. */
final class GraftMicroBatchStream(spark: SparkSession, root: String,
                                  tableSchema: StructType,
                                  options: CaseInsensitiveStringMap,
                                  checkpointLocation: String)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val ignoreChanges = Option(options.get("ignoreChanges")).exists(_.trim.toBoolean)
  private val maxVersions = Option(options.get("maxVersionsPerBatch")).map(_.trim.toLong).map { m =>
    require(m > 0, s"maxVersionsPerBatch must be positive, got $m"); m
  }
  /** Resolved once per stream instance; for `startingVersion=latest`
    * the durable anchor under the checkpoint makes the value stable
    * across restarts even when the engine re-asks for initialOffset
    * (crash before the first offset-log write). */
  private val startExclusive: Long = GraftMicroBatchStream.resolveStartExclusive(
    spark, root, Option(options.get("startingVersion")), checkpointLocation)

  private def ver(o: V2Offset): Long = o match {
    case GraftVersionOffset(v) => v
    case other                 => other.json.trim.toLong
  }

  override def initialOffset(): V2Offset = GraftVersionOffset(startExclusive)

  override def deserializeOffset(json: String): V2Offset =
    GraftVersionOffset(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** The engine calls the admission-control overload below; this one
    * is unreachable while SupportsAdmissionControl is implemented. */
  override def latestOffset(): V2Offset = throw new UnsupportedOperationException(
    "latestOffset(start, limit) is the admission-control entry")

  override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = {
    val base = ver(start)
    val latest = TxTable.latestVersion(root)
    val capped = maxVersions match {
      case Some(m) => math.min(latest, base + m)
      case None    => latest
    }
    if (capped <= base) start else GraftVersionOffset(capped)
  }

  /** Uncapped head of the table, for progress reporting (the lag a
    * capped stream still has to drain). */
  override def reportLatestOffset(): V2Offset =
    GraftVersionOffset(TxTable.latestVersion(root))

  override def planInputPartitions(start: V2Offset, end: V2Offset): Array[InputPartition] = {
    val from = ver(start)
    val to = ver(end)
    // bootstrap = the stream's first batch (fresh start, or a replay
    // of batch 0 before anything was committed): from is exactly the
    // initial exclusive bound — the engine hands every later batch a
    // logged predecessor offset.
    val fresh = GraftMicroBatchStream.freshDirs(root, from, to,
      bootstrap = from == startExclusive, ignoreChanges = ignoreChanges)
    if (fresh.isEmpty) Array.empty
    else GraftParquetBridge.parquetScan(spark, fresh.map(d => s"$root/$d"),
      tableSchema, tableSchema, Nil).toBatch.planInputPartitions()
  }

  /** One factory serves every batch: Spark's parquet reader factory
    * carries the read schema + conf, not a file list — each batch's
    * [[InputPartition]]s name their own files. */
  override def createReaderFactory(): PartitionReaderFactory =
    GraftParquetBridge.parquetScan(spark, Nil, tableSchema, tableSchema, Nil)
      .toBatch.createReaderFactory()

  override def commit(end: V2Offset): Unit = () // offsets live in the checkpoint
  override def stop(): Unit = ()

  override def toString: String = s"GraftMicroBatchStream[$root]"
}

private object GraftMicroBatchStream {

  /** Highest version NOT part of the stream (exclusive lower bound) for
    * the `startingVersion` option.
    * `latest` is resolved ONCE per stream and persisted in the
    * source's checkpoint metadata dir: re-deriving it on every source
    * re-creation would silently anchor a RESTART at the new latest —
    * a replayed first batch returns empty (committed data lost) and
    * commits made while the stream was down are withheld until an
    * unrelated later commit (r17 reviewer). The anchor goes through
    * the CHECKPOINT's Hadoop FileSystem (not java.nio), so a non-local
    * checkpoint (hdfs:/s3a:) persists it too; a persist failure is
    * LOUD — falling back to re-deriving 'latest' would reintroduce the
    * exact restart data-loss mode the anchor prevents (r17 advisor). */
  private def resolveStartExclusive(spark: SparkSession, root: String,
                                    startingVersion: Option[String],
                                    metadataPath: String): Long =
    startingVersion.map(_.trim) match {
      case None           => -1L // full history
      case Some("latest") =>
        import org.apache.hadoop.fs.{FileSystem, Path => HPath}
        val mdir = new HPath(metadataPath)
        val fs: FileSystem = mdir.getFileSystem(
          spark.sessionState.newHadoopConf())
        val anchor = new HPath(mdir, "graft-latest-anchor")
        def readAnchor(): Long = {
          val in = fs.open(anchor)
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim.toLong
          finally in.close()
        }
        if (fs.exists(anchor)) readAnchor()
        else {
          val v = TxTable.latestVersion(root)
          try {
            fs.mkdirs(mdir)
            val tmp = new HPath(mdir, s".anchor-tmp-${java.util.UUID.randomUUID()}")
            val out = fs.create(tmp, true)
            try out.write(v.toString.getBytes(
              java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
            if (!fs.rename(tmp, anchor)) fs.delete(tmp, false) // lost a race
          } catch { case _: Exception => () } // adjudicated below, loudly
          if (fs.exists(anchor)) readAnchor()
          else throw new IllegalStateException(
            s"graft stream on $root: could not persist the " +
              s"startingVersion=latest anchor at $anchor — refusing to " +
              "re-derive 'latest' (a restart would silently drop the " +
              "commits made while the stream was down); fix the " +
              "checkpoint filesystem or pass an explicit startingVersion")
        }
      case Some(n)        => n.toLong - 1L
    }

  /** The data dirs versions (from, to] ADDED, with the rewrite-hazard
    * and vacuum contracts applied. `bootstrap` = this is the stream's
    * FIRST batch (nothing emitted yet): vacuumed versions contribute
    * nothing and the first retained version bootstraps as a full
    * snapshot; on a non-bootstrap batch a vacuumed version (or a
    * vacuumed predecessor needed for the diff) fails loudly instead —
    * rows were already emitted, so both skipping and re-emission would
    * silently break exactly-once. */
  private def freshDirs(root: String, from: Long, to: Long,
                        bootstrap: Boolean, ignoreChanges: Boolean): Seq[String] = {
    def gone(v: Long): Nothing = throw new IllegalStateException(
      s"graft stream on $root: version $v was vacuumed under a running " +
        "stream — the diff against already-emitted data is lost; keep " +
        "vacuum retention behind the slowest stream's offset")
    ((from + 1) to to).flatMap { v =>
      if (!TxTable.versionExists(root, v)) {
        if (bootstrap) Nil else gone(v)
      } else {
        val s = TxTable.snapshot(root, v)
        val prev =
          if (v == 0) Set.empty[String]
          else if (TxTable.versionExists(root, v - 1))
            TxTable.snapshot(root, v - 1).dirs.toSet
          else if (bootstrap) Set.empty[String] // full-snapshot bootstrap
          else gone(v - 1)
        val added = s.dirs.filterNot(prev)
        val dropped = prev -- s.dirs.toSet
        if (dropped.nonEmpty && !ignoreChanges)
          throw new IllegalStateException(
            s"graft stream on $root: version $v ('${s.action}') drops " +
              s"${dropped.size} dir(s) the stream may already have emitted " +
              "rows from — rewritten/deleted rows cannot stream exactly-once; " +
              "pass option(\"ignoreChanges\",\"true\") to re-emit the " +
              "version's fresh dirs (dedupe downstream by key), or keep the " +
              "table append-only")
        added
      }
    }
  }
}
