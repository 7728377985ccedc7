package graft

import graft.etl.TxTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multi-writer chaos tests (round-17 verdict stretch): N concurrent
  * threads hammer ONE table with a mix of commit shapes for ~a hundred
  * versions, then every protocol invariant is asserted over the WHOLE
  * history — the Delta-class claim needs more than the pairwise races
  * TxTableSpec pins.
  *
  * Determinism model: each writer owns a disjoint key space, so the
  * final expected state is computable per thread even though the
  * interleaving is not — appends must persist exactly once, replayed
  * idempotent batches must no-op (first content wins), upserts must
  * hold the thread's last value, deletes must remove exactly the
  * targeted rows, and compaction must change nothing. On the scoped
  * table, threads share PARTITIONS (forcing the fast-forward/rebase
  * paths) but not keys. */
class TxChaosSpec extends AnyFunSuite with LocalSpark {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-chaos").toString + "/t"

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  test("whole-table chaos: appends, idempotent replays, upserts, deletes, compact — 4 writers") {
    val root = tmp()
    val writers = 4
    val opsPerWriter = 18
    TxTable.refresh(spark, root, df(Seq((-1L, "seed"))))
    TxTable.setStatsColumns(spark, root, Seq("k"))

    // expected end-state per writer, built from the ops each thread
    // ACTUALLY performed (thread-local, no cross-thread nondeterminism)
    val expected = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()

    def writer(w: Int): Thread = new Thread(() => {
      try {
        val rnd = new scala.util.Random(1000 + w) // deterministic mix
        var batchId = 0L
        val myUpsertKey = w * 1000000L + 999L
        (0 until opsPerWriter).foreach { op =>
          val baseKey = w * 1000000L + op * 100L
          rnd.nextInt(5) match {
            case 0 => // plain append: rows live forever
              val rows = (0 until 3).map(j => (baseKey + j, s"app-$w-$op"))
              TxTable.append(spark, root, df(rows))
              rows.foreach { case (k, v) => expected.put(k, v) }
            case 1 => // idempotent append + REPLAY with different content:
              // the replay must no-op, first content wins
              val rows = (0 until 2).map(j => (baseKey + j, s"idem-$w-$op"))
              TxTable.appendIdempotent(spark, root, df(rows), s"chaos-app-$w", batchId)
              TxTable.appendIdempotent(spark, root,
                df(Seq((baseKey + 50L, s"REPLAY-MUST-NOT-LAND-$w-$op"))),
                s"chaos-app-$w", batchId)
              batchId += 1
              rows.foreach { case (k, v) => expected.put(k, v) }
            case 2 => // keyed upsert on the writer's own key: last write wins
              TxTable.mergeUpsert(spark, root,
                df(Seq((myUpsertKey, s"ups-$w-$op"))), "k")
              expected.put(myUpsertKey, s"ups-$w-$op")
            case 3 => // append then DELETE those keys again
              val rows = (0 until 2).map(j => (baseKey + j, s"del-$w-$op"))
              TxTable.append(spark, root, df(rows))
              TxTable.deleteKeys(spark, root, "k", rows.map(_._1))
              rows.foreach { case (k, _) => expected.remove(k) }
            case 4 => // content-preserving maintenance
              TxTable.compact(spark, root)
          }
        }
      } catch { case t: Throwable => errors.add(t) }
    })

    val threads = (0 until writers).map(writer)
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(errors.isEmpty, s"writer failed: ${Option(errors.peek()).map(_.toString)}")

    val latest = TxTable.latestVersion(root)
    assert(latest >= writers * opsPerWriter / 2,
      s"suspiciously few versions committed: $latest")
    // versions are DENSE and every manifest parses with a consistent
    // txn ledger (the txns accessor throws on a desynced ledger)
    (0L to latest).foreach { v =>
      assert(TxTable.versionExists(root, v), s"version gap at $v")
      val s = TxTable.snapshot(root, v)
      assert(s.version == v)
      s.txns // throws on apps/ids desync
      assert(s.entries.forall(_._2.isEmpty), "whole-table layout violated")
    }
    // final state equals the per-writer deterministic model exactly:
    // no lost appends, no doubled idempotent batches, no replay
    // content, last-writer-wins upserts, deletes applied
    import scala.jdk.CollectionConverters._
    val exp = expected.asScala.toMap + (-1L -> "seed")
    val got = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val gotMap = got.toMap
    assert(got.length == got.map(_._1).distinct.length,
      s"duplicate keys in final state: ${got.groupBy(_._1).filter(_._2.length > 1).keys.take(5)}")
    assert(gotMap == exp,
      s"state drift: missing=${(exp.keySet -- gotMap.keySet).take(5)} " +
        s"extra=${(gotMap.keySet -- exp.keySet).take(5)} " +
        s"diff=${exp.collect { case (k, v) if gotMap.get(k).exists(_ != v) => (k, v, gotMap(k)) }.take(5)}")
    assert(!gotMap.values.exists(_.startsWith("REPLAY-MUST-NOT-LAND")),
      "a replayed idempotent batch landed")
    // every writer's ledger high-water mark is its last batch id
    val txns = TxTable.snapshot(root).txns
    (0 until writers).foreach { w =>
      txns.get(s"chaos-app-$w").foreach(b => assert(b >= 0))
    }
    // a sample of historical versions stays readable (time travel
    // survives the chaos, incl. across compactions)
    val probe = Seq(0L, latest / 3, 2 * latest / 3, latest).distinct
    probe.foreach(v => assert(TxTable.read(spark, root, v).count() >= 1))
  }

  test("partition-scoped chaos: 4 writers share partitions, never keys — fast-forward + rebase") {
    import spark.implicits._
    val root = tmp()
    val writers = 4
    val opsPerWriter = 12
    def pdf(rows: Seq[(Long, String, String)]): DataFrame =
      rows.toDF("k", "v", "p")

    val expected = new java.util.concurrent.ConcurrentHashMap[Long, (String, String)]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()

    def writer(w: Int): Thread = new Thread(() => {
      try {
        val rnd = new scala.util.Random(2000 + w)
        (0 until opsPerWriter).foreach { op =>
          // keys are writer-owned; PARTITION is shared across writers
          // (k % 3), so concurrent scoped merges collide on partitions
          // and exercise both the disjoint fast-forward and the
          // overlapping rebase paths
          val ks = (0 until 3).map(j => w * 1000000L + rnd.nextInt(200).toLong * 10 + j)
          val rows = ks.map(k => (k, s"sc-$w-$op", s"part-${k % 3}"))
          TxTable.mergeUpsertPartitioned(spark, root, pdf(rows), "k", "p")
          rows.foreach { case (k, v, p) => expected.put(k, (v, p)) }
        }
      } catch { case t: Throwable => errors.add(t) }
    })

    val threads = (0 until writers).map(writer)
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(errors.isEmpty, s"writer failed: ${Option(errors.peek()).map(_.toString)}")

    val latest = TxTable.latestVersion(root)
    assert(latest + 1 >= writers * opsPerWriter,
      s"every scoped merge commits a version: got ${latest + 1} for ${writers * opsPerWriter} merges")
    (0L to latest).foreach { v =>
      val s = TxTable.snapshot(root, v)
      assert(s.entries.forall(_._2.nonEmpty),
        s"scoped table grew a whole-table entry at version $v")
    }
    import scala.jdk.CollectionConverters._
    val exp = expected.asScala.toMap
    val got = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getString(2)))).toMap
    assert(got.size == exp.size && got == exp,
      s"scoped state drift: missing=${(exp.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- exp.keySet).take(5)}")
    // at least one of the concurrency paths actually fired
    assert(TxTable.fastForwardCommits.get() + TxTable.rebaseRecomputes.get() > 0,
      "chaos produced zero commit races — raise contention")
  }
}
