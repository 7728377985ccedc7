package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry for short-lived persisted frames and RDDs
  * inside query closures (round-13 verdict item 2: `.cache()` calls in q92/q94/q95/
  * q97/q98/q102-q104 closures were never unpersisted, so a long-lived
  * session — or Bench's 104-query × reps loop — accumulated hundreds of
  * cached frames and storage-memory eviction taxed everything downstream).
  *
  * The query contract returns a LAZY DataFrame, so the closure itself can
  * never unpersist (the action happens after it returns). Instead every
  * within-query cache registers here, and the harness that RUNS the
  * action (Bench.timeOnce, Verify's per-query write loop, specs) calls
  * [[releaseAll]] once the result is fully consumed. The same holds for
  * an RDD a query closure persists (q92's adjacency lists): it registers
  * through the RDD overload and releases in the same drain. Release is
  * unpersist-only: for a plain `.persist()` frame or RDD correctness never
  * depends on the cache (recompute is always possible), it only bounds
  * the double-computation a within-query reuse would otherwise pay.
  *
  * CONCURRENCY CONTRACT (round-15 advisor note): the registry is
  * process-global and releaseAll drains it wholesale — and the harness
  * pairs it with `spark.catalog.clearCache()`. This assumes the
  * SINGLE-THREADED run-one-query-then-release harness shape
  * (Bench/Verify/specs). Running queries concurrently on one session
  * would let one query's release unpersist another's in-flight tracked
  * frames — never a correctness problem (Spark recomputes), but a
  * silent performance trap: a concurrent driver should scope releases
  * per query (hold the frames it tracked and unpersist exactly those)
  * instead of calling releaseAll.
  */
object TempCaches {
  private val reg = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Persist `ds` and register its release. Returns `ds` for chaining —
    * a drop-in replacement for `.cache()` at within-query reuse sites. */
  def tracked[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist()
    reg.add(() => { try ds.unpersist(blocking = false) catch { case _: Throwable => () }; () })
    ds
  }

  /** The RDD form: persist at MEMORY_AND_DISK and register its release. */
  def tracked[T](rdd: RDD[T]): RDD[T] = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    reg.add(() => { try rdd.unpersist(blocking = false) catch { case _: Throwable => () }; () })
    rdd
  }

  /** Unpersist every tracked frame and RDD. Call only after the current query's
    * result has been fully consumed (counted / written / collected). */
  def releaseAll(): Unit = {
    var f = reg.poll()
    while (f != null) { f(); f = reg.poll() }
  }
}
