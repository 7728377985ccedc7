package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Atomic swap-in for small standing-state tables that are READ while
  * computing their own replacement (sketch folds, sufficient-statistic
  * accumulators): write the merged state to a temp dir first — the old
  * state stays readable throughout — then rename the old state aside,
  * rename the new one in, and drop the old. A crash at any point leaves
  * either the old state or the new state, never a torn one
  * ([[graft.etl.Gold.upsert]]'s contract, without the keyed merge);
  * [[recover]] heals the one crash window where the state sits under
  * the `.old-swap` name between the two renames.
  *
  * REPLAY idempotence: `foreachBatch` is at-least-once — a crash after
  * the swap but before Structured Streaming commits the source offsets
  * replays the batch, and an ADDITIVE fold (moments, sufficient
  * statistics) would silently double-count it. Each swap therefore
  * records the id of the batch it folded as an empty
  * `_applied_batch_<id>` marker file INSIDE the new state directory
  * (written to the temp dir before the rename, so marker and state
  * land atomically together; Spark's file index ignores `_`-prefixed
  * files, so reads of the state are unaffected). A replaying fold
  * checks [[alreadyApplied]] first and skips the fold — under
  * AvailableNow + checkpointed offsets only the LAST uncommitted batch
  * can replay, so one marker suffices.
  */
private[graft] object AtomicState {

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private def oldPath(path: String) = new Path(path + ".old-swap")

  /** Drain every input `source` has available through `batchFn` and
    * stop: a foreachBatch sink in Append mode under the AvailableNow
    * trigger, with its offsets checkpointed at `checkpointDir`, so a
    * re-run processes only new files. Blocks until the drain ends and
    * returns the finished query. foreachBatch is at-least-once, so
    * `batchFn` keeps its sink effects replay-idempotent by batchId
    * ([[appendOnce]], [[alreadyApplied]]). */
  def drain(source: DataFrame, checkpointDir: String)
           (batchFn: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = source.writeStream
      .foreachBatch(batchFn)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Heal the rename gap: if a crash left the state under `.old-swap`
    * (target renamed aside, replacement not yet renamed in), restore
    * it. Call before any read/exists decision on the state dir. */
  def recover(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val target = new Path(path)
    if (!fs.exists(target) && fs.exists(oldPath(path))) {
      fs.rename(oldPath(path), target)
    }
  }

  /** True iff the standing state at `path` exists (post-recovery). */
  def exists(spark: SparkSession, path: String): Boolean = {
    recover(spark, path)
    fsOf(spark, path).exists(new Path(path))
  }

  /** True iff `batchId` is the batch most recently folded into the
    * state at `path` — i.e. this is a foreachBatch REPLAY of an
    * already-applied fold and must be skipped. */
  def alreadyApplied(spark: SparkSession, path: String, batchId: Long): Boolean = {
    recover(spark, path)
    fsOf(spark, path).exists(new Path(s"$path/_applied_batch_$batchId"))
  }

  /** Exactly-once parquet APPEND for a foreachBatch sink (the standing
    * IVF index): at-least-once replay of a plain `mode("append")` write
    * would duplicate the batch's rows. Protocol, idempotent at every
    * crash point:
    *
    *  1. committed-marker `_graft_committed/<batchId>` exists → the
    *     batch is fully in the index; do nothing (pure replay).
    *  2. staged-marker absent → write the batch under
    *     `_staging/batch-<batchId>` (overwrite: a torn earlier attempt
    *     is discarded wholesale), then create the staged-marker. From
    *     here the staged FILE NAMES are frozen.
    *  3. move every staged data file into the live tree by rename,
    *     preserving relative (partition) paths and SKIPPING names that
    *     already arrived — a replay that crashed mid-move resumes
    *     without duplicating the files it already moved.
    *  4. create the committed-marker, drop the staging dir.
    *
    * `_`-prefixed dirs are invisible to Spark's file index, so readers
    * never see staging or markers; renames within one filesystem move
    * no bytes. `writeTo` receives the staging path and must write the
    * batch there with the SAME layout (partitioning) as the live tree. */
  def appendOnce(spark: SparkSession, destDir: String, batchId: Long)
                (writeTo: String => Unit): Unit = {
    val fs = fsOf(spark, destDir)
    val committed = new Path(s"$destDir/_graft_committed/$batchId")
    if (fs.exists(committed)) return
    val staging = s"$destDir/_staging/batch-$batchId"
    val staged = new Path(s"$destDir/_staging/staged-$batchId")
    if (!fs.exists(staged)) {
      writeTo(staging)
      fs.create(staged, true).close()
    }
    moveTree(fs, new Path(staging), new Path(destDir))
    fs.mkdirs(committed.getParent)
    fs.create(committed, true).close()
    fs.delete(new Path(staging), true)
    fs.delete(staged, false)
  }

  /** True iff an [[appendOnce]]-managed dir holds at least one DATA
    * file — `fs.exists` alone is wrong for these dirs, which may hold
    * only `_staging`/marker entries (e.g. after a first batch staged
    * but committed nothing, or committed an empty frame). */
  def appendedAny(spark: SparkSession, destDir: String): Boolean = {
    val fs = fsOf(spark, destDir)
    def any(d: Path): Boolean = fs.listStatus(d).exists { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) false
      else if (st.isDirectory) any(st.getPath)
      else true
    }
    val p = new Path(destDir)
    fs.exists(p) && any(p)
  }

  /** Move every non-hidden file under `src` into `dst`, preserving
    * relative paths, skipping files already present by name. */
  private def moveTree(fs: FileSystem, src: Path, dst: Path): Unit =
    fs.listStatus(src).foreach { st =>
      val name = st.getPath.getName
      val t = new Path(dst, name)
      if (st.isDirectory) { fs.mkdirs(t); moveTree(fs, st.getPath, t) }
      else if (!name.startsWith("_") && !name.startsWith(".") && !fs.exists(t)) {
        fs.rename(st.getPath, t)
      }
    }

  /** Atomically replace the state at `path` with `df`, stamping
    * `batchId`'s applied-marker into the same swap (pass a negative
    * `batchId` for non-streaming callers that don't need replay
    * protection). */
  def swapIn(spark: SparkSession, path: String, df: DataFrame,
             batchId: Long = -1L): Unit = {
    val fs = fsOf(spark, path)
    val target = new Path(path)
    val tmp = new Path(path + ".tmp-swap")
    df.write.mode("overwrite").parquet(tmp.toString)
    if (batchId >= 0L) {
      fs.create(new Path(s"$tmp/_applied_batch_$batchId"), true).close()
    }
    // old-aside, new-in: the state is never deleted before its
    // replacement is fully written, and [[recover]] covers the gap
    // between the two renames
    fs.delete(oldPath(path), true)
    if (fs.exists(target)) fs.rename(target, oldPath(path))
    fs.rename(tmp, target)
    fs.delete(oldPath(path), true)
  }
}
