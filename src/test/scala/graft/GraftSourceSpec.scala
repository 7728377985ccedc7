package graft

import graft.etl.TxTable
import graft.sources.GraftTableSource
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

/** The `format("graft")` connector: the TxTable format behind Spark's
  * standard reader/writer/readStream API. Pins the three contracts the
  * Scaladoc claims: (1) reads are pinned consistent snapshots with
  * versionAsOf time travel and WHERE-clause-driven manifest-level dir
  * skipping that can only skip, never change a result; (2) writes are
  * transactional commits with the SaveMode semantics; (3) the streaming
  * tail is exactly-once per committed dir across restarts and fails
  * loudly on rewriting versions unless ignoreChanges opts into
  * re-emission (the Delta streaming-source contract). */
class GraftSourceSpec extends AnyFunSuite with LocalSpark {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-src-$name").toString + "/t"

  private def kv(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def ks(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(r.fieldIndex("k")), r.getString(r.fieldIndex("v")))).toSet

  test("write/read round-trip with SaveMode semantics and time travel") {
    val root = tmp("rt")
    // default mode is ErrorIfExists: first save creates the table
    kv(1L -> "a", 2L -> "b").write.format("graft").save(root)
    assert(ks(spark.read.format("graft").load(root)) == Set(1L -> "a", 2L -> "b"))
    intercept[IllegalStateException] {
      kv(9L -> "x").write.format("graft").save(root)
    }
    kv(3L -> "c").write.format("graft").mode(SaveMode.Append).save(root)
    assert(ks(spark.read.format("graft").load(root)) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // Ignore: existing table -> no-op
    kv(9L -> "x").write.format("graft").mode(SaveMode.Ignore).save(root)
    assert(ks(spark.read.format("graft").load(root)) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
    kv(9L -> "z").write.format("graft").mode(SaveMode.Overwrite).save(root)
    assert(ks(spark.read.format("graft").load(root)) == Set(9L -> "z"))
    // time travel: every prior version is still a readable pinned snapshot
    assert(ks(spark.read.format("graft").option("versionAsOf", 0).load(root)) ==
      Set(1L -> "a", 2L -> "b"))
    assert(ks(spark.read.format("graft").option("versionAsOf", 1).load(root)) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("a loaded DataFrame is a pinned snapshot: later commits are invisible to it") {
    val root = tmp("pin")
    kv(1L -> "a").write.format("graft").save(root)
    val pinned = spark.read.format("graft").load(root)
    kv(2L -> "b").write.format("graft").mode(SaveMode.Append).save(root)
    assert(ks(pinned) == Set(1L -> "a"))
    assert(ks(spark.read.format("graft").load(root)) == Set(1L -> "a", 2L -> "b"))
  }

  /** An ingest-shaped table: batches of 100 contiguous keys, stats on k
    * declared after the first batch, never compacted. */
  private def ingestTable(name: String, batches: Int): String = {
    import spark.implicits._
    val root = tmp(name)
    (0L until 100L).map(k => (k, s"v$k")).toDF("k", "v")
      .write.format("graft").save(root)
    TxTable.setStatsColumns(spark, root, Seq("k"))
    (1 until batches).foreach { b =>
      (b * 100L until (b + 1) * 100L).map(k => (k, s"v$k")).toDF("k", "v")
        .write.format("graft").mode(SaveMode.Append).save(root)
    }
    root
  }

  test("WHERE-clause range pushdown prunes dirs at the manifest level, result identical") {
    import spark.implicits._
    val root = ingestTable("prune", 8)
    val t = spark.read.format("graft").load(root)
    val got = t.where($"k" >= 250L && $"k" < 320L)
    assert(ks(got) == (250L until 320L).map(k => k -> s"v$k").toSet)
    // the range spans batches 2 and 3 only: at least 6 of 8 dirs skipped
    assert(GraftTableSource.lastPrunedDirs.get >= 6,
      s"expected >=6 pruned, got ${GraftTableSource.lastPrunedDirs.get}")
    assert(GraftTableSource.lastKeptDirs.get <= 2)
    // equality lands in exactly one dir
    assert(ks(t.where($"k" === 555L)) == Set(555L -> "v555"))
    assert(GraftTableSource.lastKeptDirs.get == 1)
    // IN-list prunes to the min..max span
    assert(ks(t.where($"k".isin(10L, 20L))) == Set(10L -> "v10", 20L -> "v20"))
    assert(GraftTableSource.lastKeptDirs.get == 1)
    // no filter: nothing pruned, full table back
    assert(t.count() == 800L)
    assert(GraftTableSource.lastPrunedDirs.get == 0)
  }

  test("all-pruned scan returns an empty frame with the table schema") {
    import spark.implicits._
    val root = ingestTable("allpruned", 3)
    val t = spark.read.format("graft").load(root)
    val empty = t.where($"k" > 100000L)
    assert(empty.count() == 0)
    assert(GraftTableSource.lastKeptDirs.get == 0)
    assert(empty.columns.toSeq == Seq("k", "v"))
  }

  test("untranslatable / disjunctive predicates do not prune and stay correct") {
    import spark.implicits._
    val root = ingestTable("safe", 4)
    val t = spark.read.format("graft").load(root)
    // OR spans two far-apart dirs: connector must not range-collapse it wrongly
    assert(ks(t.where($"k" === 5L || $"k" === 350L)) ==
      Set(5L -> "v5", 350L -> "v350"))
    // predicate on the unstatted string column: all dirs kept, exact rows back
    assert(ks(t.where($"v" === "v123")) == Set(123L -> "v123"))
    assert(GraftTableSource.lastPrunedDirs.get == 0)
  }

  test("column projection through the connector") {
    import spark.implicits._
    val root = ingestTable("proj", 2)
    val vs = spark.read.format("graft").load(root)
      .where($"k" < 3L).select("v").collect().map(_.getString(0)).toSet
    assert(vs == Set("v0", "v1", "v2"))
  }

  /** A lang-partitioned-arrival table: one batch per language code,
    * string stats declared on `lang` (plus numeric on `k`). */
  private def langTable(name: String): (String, Seq[String]) = {
    import spark.implicits._
    val langs = Seq("de", "en", "fr", "ja")
    val root = tmp(name)
    def batch(i: Int) =
      (0L until 50L).map(j => (i * 50L + j, langs(i))).toDF("k", "lang")
    batch(0).write.format("graft").save(root)
    TxTable.setStatsColumns(spark, root, Seq("k", "lang"))
    (1 until langs.length).foreach(i =>
      batch(i).write.format("graft").mode(SaveMode.Append).save(root))
    (root, langs)
  }

  test("string-column stats prune: equality, prefix, IN, and mixed conjunctions") {
    import spark.implicits._
    val (root, _) = langTable("strprune")
    val t = spark.read.format("graft").load(root)
    // equality on the string column lands in exactly one batch dir
    assert(t.where($"lang" === "en").count() == 50L)
    assert(GraftTableSource.lastKeptDirs.get == 1)
    // prefix predicate (StartsWith pushes as StringStartsWith)
    assert(t.where($"lang".startsWith("f")).count() == 50L)
    assert(GraftTableSource.lastKeptDirs.get == 1)
    // IN-list spans its min..max in code-point order
    assert(t.where($"lang".isin("de", "en")).count() == 100L)
    assert(GraftTableSource.lastKeptDirs.get == 2)
    // string + numeric conjunction: both stat families prune together
    val got = t.where($"lang" === "ja" && $"k" < 155L)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(150L, 151L, 152L, 153L, 154L))
    assert(GraftTableSource.lastKeptDirs.get == 1)
    // string range predicate
    assert(t.where($"lang" >= "e" && $"lang" <= "g").count() == 100L)
    assert(GraftTableSource.lastKeptDirs.get == 2)
  }

  test("pruning composes with time travel: a versionAsOf read prunes on that version's sidecar") {
    import spark.implicits._
    val root = ingestTable("ttprune", 4)
    val oldV = TxTable.latestVersion(root)
    // later commits extend the key range; the pinned old version must
    // prune (and see) only ITS OWN dirs
    (4 until 6).foreach { b =>
      (b * 100L until (b + 1) * 100L).map(k => (k, s"v$k")).toDF("k", "v")
        .write.format("graft").mode(SaveMode.Append).save(root)
    }
    val pinned = spark.read.format("graft").option("versionAsOf", oldV).load(root)
    assert(ks(pinned.where($"k" >= 150L && $"k" < 250L)) ==
      (150L until 250L).map(k => k -> s"v$k").toSet)
    assert(GraftTableSource.lastKeptDirs.get == 2)
    // rows committed after the pinned version are invisible even when
    // their range matches
    assert(pinned.where($"k" >= 400L).count() == 0)
  }

  test("bloom-column equality pushdown prunes through the connector") {
    import spark.implicits._
    val root = tmp("bloom")
    def batch(i: Int) = (0 until 30)
      .map(j => (i * 30L + j, f"h-${(j * 11 + i) % 30}%02d-$i%02d")).toDF("k", "sha")
    batch(0).write.format("graft").save(root)
    TxTable.setBloomColumns(spark, root, Seq("sha"))
    (1 until 5).foreach(i =>
      batch(i).write.format("graft").mode(SaveMode.Append).save(root))
    val t = spark.read.format("graft").load(root)
    // WHERE sha = <present> reads the one dir holding it (fpp-modulo)
    val probe = f"h-${(5 * 11 + 2) % 30}%02d-${2}%02d"
    val hit = t.where($"sha" === probe).collect()
    assert(hit.length == 1 && hit.head.getString(1) == probe)
    assert(GraftTableSource.lastKeptDirs.get <= 2,
      s"bloom pushdown kept ${GraftTableSource.lastKeptDirs.get} of 5 dirs")
    // IN-list keeps the union of matching dirs; result exact
    val p2 = f"h-${(5 * 11 + 4) % 30}%02d-${4}%02d"
    assert(t.where($"sha".isin(probe, p2)).count() == 2)
    // absent key: everything prunable pruned, empty result
    assert(t.where($"sha" === "h-zz-zz").count() == 0)
  }

  test("SQL surface: CREATE TEMPORARY VIEW ... USING graft prunes from the WHERE clause") {
    val (root, _) = langTable("sqlview")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_sql_t USING graft OPTIONS (path '$root')")
    val n = spark.sql("SELECT count(*) AS n FROM graft_sql_t WHERE lang = 'de' AND k < 10")
      .head().getLong(0)
    assert(n == 10L)
    assert(GraftTableSource.lastKeptDirs.get == 1,
      s"SQL WHERE should reach buildScan: kept ${GraftTableSource.lastKeptDirs.get}")
  }

  test("SQL DML: INSERT INTO / INSERT OVERWRITE a USING graft view are transactional commits") {
    val root = tmp("dml")
    kv(1L -> "a").write.format("graft").save(root)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_dml_t USING graft OPTIONS (path '$root')")
    spark.sql("INSERT INTO graft_dml_t VALUES (2, 'b'), (3, 'c')")
    // the view itself is a pinned snapshot (pre-insert); a fresh read
    // sees the appended commit, and history records it
    assert(ks(spark.read.format("graft").load(root)) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
    spark.sql("INSERT OVERWRITE TABLE graft_dml_t VALUES (9, 'z')")
    assert(ks(spark.read.format("graft").load(root)) == Set(9L -> "z"))
    assert(TxTable.history(spark, root).collect().map(_.getString(1)).toSeq ==
      Seq("refresh", "append", "refresh"))
    // pre-DML versions remain readable
    assert(ks(spark.read.format("graft").option("versionAsOf", 0).load(root)) ==
      Set(1L -> "a"))
  }

  test("statsOf exposes the skipping state: range, string, and bloom rows per dir") {
    import spark.implicits._
    val root = tmp("stats")
    Seq((1L, "en", "h-1")).toDF("k", "lang", "sha")
      .write.format("graft").save(root)
    TxTable.setStatsColumns(spark, root, Seq("k", "lang"))
    TxTable.setBloomColumns(spark, root, Seq("sha"))
    Seq((2L, "fr", "h-2")).toDF("k", "lang", "sha")
      .write.format("graft").mode(SaveMode.Append).save(root)
    val st = TxTable.statsOf(spark, root).collect()
      .map(r => (r.getString(1), r.getString(2))).groupBy(identity)
      .map { case (kc, rows) => kc -> rows.length }
    // both dirs statted on both declared columns + bloomed on sha
    assert(st(("k", "range")) == 2 && st(("lang", "str_range")) == 2 &&
      st(("sha", "bloom")) == 2, s"unexpected stats shape: $st")
  }

  test("streaming tail: full-history replay, incremental appends, exactly-once across restart") {
    import spark.implicits._
    val root = tmp("tail")
    val out = tmp("tail-out")
    val ckpt = tmp("tail-ckpt")
    kv(1L -> "a", 2L -> "b").write.format("graft").save(root)
    kv(3L -> "c").write.format("graft").mode(SaveMode.Append).save(root)

    def run(): Unit = {
      val q = spark.readStream.format("graft").load(root)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
    }
    run() // replays the full committed history (versions 0..1)
    assert(ks(spark.read.parquet(out)) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // two more appends while the stream is DOWN, then restart from the
    // checkpoint: each committed dir arrives exactly once (no replay of
    // 0..1, no loss of 2..3) — the offsets-are-versions contract
    kv(4L -> "d").write.format("graft").mode(SaveMode.Append).save(root)
    kv(5L -> "e").write.format("graft").mode(SaveMode.Append).save(root)
    run()
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 5, s"exactly-once violated: ${rows.length} rows")
    assert(ks(spark.read.parquet(out)) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e"))
  }

  test("streaming tail fails on a rewriting version unless ignoreChanges") {
    val root = tmp("rw")
    kv(1L -> "a").write.format("graft").save(root)
    TxTable.mergeUpsert(spark, root, kv(1L -> "A2", 2L -> "b"), "k")

    def drain(ignoreChanges: Boolean): Set[(Long, String)] = {
      val name = s"rwsink_$ignoreChanges"
      val reader = spark.readStream.format("graft")
      val src = (if (ignoreChanges) reader.option("ignoreChanges", "true") else reader)
        .load(root)
      val q = src.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try { q.processAllAvailable() } finally q.stop()
      ks(spark.table(name))
    }
    val ex = intercept[StreamingQueryException] { drain(ignoreChanges = false) }
    assert(ex.getMessage.contains("ignoreChanges") ||
      Option(ex.getCause).exists(_.getMessage.contains("ignoreChanges")))
    // with ignoreChanges: version 1's fresh (rewritten) dirs re-emit; the
    // stream sees v0's original row AND v1's merged rows — at-least-once
    // on rewrites, dedupe downstream by key (the documented contract)
    assert(drain(ignoreChanges = true) ==
      Set(1L -> "a", 1L -> "A2", 2L -> "b"))
  }

  test("startingVersion=latest anchor persists across restart: down-time commits are not lost") {
    val root = tmp("lrestart")
    val out = tmp("lrestart-out")
    val ckpt = tmp("lrestart-ckpt")
    kv(1L -> "old").write.format("graft").save(root) // v0, pre-anchor
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("startingVersion", "latest").load(root)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // anchors "latest" = v0 in the checkpoint metadata; emits nothing
    // two commits while the stream is DOWN — a re-derived anchor would
    // silently withhold (or on crash-replay, lose) exactly these
    kv(2L -> "b").write.format("graft").mode(SaveMode.Append).save(root)
    kv(3L -> "c").write.format("graft").mode(SaveMode.Append).save(root)
    run()
    assert(ks(spark.read.parquet(out)) == Set(2L -> "b", 3L -> "c"),
      "restart re-anchored 'latest' and dropped down-time commits")
  }

  test("fresh stream bootstraps past vacuumed history; resumed stream fails on a vacuumed gap") {
    // fresh start: versions 0-1 vacuumed, 2-3 retained — the first
    // retained version bootstraps as a full snapshot, then normal tail
    val root = tmp("vacboot")
    kv(1L -> "a").write.format("graft").save(root)
    kv(2L -> "b").write.format("graft").mode(SaveMode.Append).save(root)
    kv(3L -> "c").write.format("graft").mode(SaveMode.Append).save(root)
    kv(4L -> "d").write.format("graft").mode(SaveMode.Append).save(root)
    TxTable.vacuum(root, 2, graceMs = 0)
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("memory").queryName("vacboot_sink")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(ks(spark.table("vacboot_sink")) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    // resumed stream: offset log says v0 was consumed; v1 is then
    // vacuumed — the diff against emitted data is unrecoverable, the
    // stream must fail loudly rather than skip or double-emit
    val root2 = tmp("vacgap")
    val out2 = tmp("vacgap-out")
    val ckpt2 = tmp("vacgap-ckpt")
    kv(1L -> "a").write.format("graft").save(root2)
    def run2(): Unit = {
      val q2 = spark.readStream.format("graft").load(root2)
        .writeStream.format("parquet")
        .option("path", out2).option("checkpointLocation", ckpt2)
        .outputMode("append").start()
      try q2.processAllAvailable() finally q2.stop()
    }
    run2() // consumes v0
    kv(2L -> "b").write.format("graft").mode(SaveMode.Append).save(root2)
    kv(3L -> "c").write.format("graft").mode(SaveMode.Append).save(root2)
    TxTable.vacuum(root2, 2, graceMs = 0) // v1's manifest is gone mid-stream
    val ex = intercept[StreamingQueryException] { run2() }
    assert(ex.getMessage.contains("vacuumed") ||
      Option(ex.getCause).exists(_.getMessage.contains("vacuumed")))
  }

  test("table-to-table streaming: graft source -> graft sink, exactly-once on both edges") {
    val a = tmp("t2t-a")
    val b = tmp("t2t-b")
    val ckpt = tmp("t2t-ckpt")
    kv(1L -> "a").write.format("graft").save(a)
    def run(): Unit = {
      val q = spark.readStream.format("graft").load(a)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start(b)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(ks(spark.read.format("graft").load(b)) == Set(1L -> "a"))
    // appends while the stream is down, then restart: each source dir
    // consumed once, each sink batch committed once
    kv(2L -> "b").write.format("graft").mode(SaveMode.Append).save(a)
    kv(3L -> "c").write.format("graft").mode(SaveMode.Append).save(a)
    run()
    val rows = spark.read.format("graft").load(b).collect()
    assert(rows.length == 3, s"exactly-once violated: ${rows.length} rows")
    assert(ks(spark.read.format("graft").load(b)) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // the sink's txn ledger rides B's manifest…
    val txns = TxTable.snapshot(b).txns
    assert(txns.nonEmpty, "sink committed without a txn record")
    // …and a replayed batch id no-ops instead of double-committing
    val before = TxTable.latestVersion(b)
    TxTable.appendIdempotent(spark, b, kv(9L -> "z"), txns.keys.head, 0L)
    assert(TxTable.latestVersion(b) == before, "replayed batch committed twice")
    assert(spark.read.format("graft").load(b).count() == 3)
  }

  test("standing CDC consumption: scoped merges tail with ignoreChanges + last-writer dedup") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val root = tmp("cdc")
    def pdf(rows: (Long, String, String, Long)*) = rows.toDF("k", "v", "p", "seq")
    // upstream: a partition-scoped upsert pipeline (the ChangeStream
    // shape) — v1 rewrites partition x only, y carries by reference
    TxTable.mergeUpsertPartitioned(spark, root,
      pdf((1L, "a", "x", 1L), (2L, "b", "y", 1L)), "k", "p")
    TxTable.mergeUpsertPartitioned(spark, root, pdf((1L, "a2", "x", 2L)), "k", "p")
    val q = spark.readStream.format("graft").option("ignoreChanges", "true")
      .load(root)
      .writeStream.format("memory").queryName("cdc_sink")
      .outputMode("append").start()
    def state = {
      val w = Window.partitionBy($"k").orderBy($"seq".desc)
      spark.table("cdc_sink").withColumn("rn", row_number().over(w))
        .filter($"rn" === 1).select("k", "v")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }
    try {
      q.processAllAvailable()
      // re-emission is at-least-once on the rewritten partition (k=1
      // appears as both "a" and "a2"); last-writer dedup restores state
      assert(state == Set(1L -> "a2", 2L -> "b"))
      // a live upsert while the stream runs
      TxTable.mergeUpsertPartitioned(spark, root,
        pdf((2L, "b2", "y", 3L), (3L, "c", "y", 3L)), "k", "p")
      q.processAllAvailable()
      assert(state == Set(1L -> "a2", 2L -> "b2", 3L -> "c"))
      // the deduped downstream state ≡ the upstream table's latest
      assert(TxTable.read(spark, root).select("k", "v")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet == state)
    } finally q.stop()
  }

  test("startingVersion=latest tails only post-start commits") {
    val root = tmp("latest")
    kv(1L -> "old").write.format("graft").save(root)
    val src = spark.readStream.format("graft")
      .option("startingVersion", "latest").load(root)
    val q = src.writeStream.format("memory").queryName("latest_sink")
      .outputMode("append").start()
    q.processAllAvailable()
    assert(spark.table("latest_sink").count() == 0)
    kv(2L -> "new").write.format("graft").mode(SaveMode.Append).save(root)
    q.processAllAvailable()
    q.stop()
    assert(ks(spark.table("latest_sink")) == Set(2L -> "new"))
  }

  test("maxVersionsPerBatch drains a backlog in bounded batches, exactly-once across restart") {
    val root = tmp("adm")
    val ckpt = tmp("adm-ckpt")
    // 7 versions committed before the stream ever starts (the
    // restarted-after-downtime shape), one row per version
    kv(0L -> "v0").write.format("graft").save(root)
    (1L to 6L).foreach(i =>
      kv(i -> s"v$i").write.format("graft").mode(SaveMode.Append).save(root))

    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Set[(Long, String)])]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerBatch", "2").load(root)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = ks(df)
          if (rows.nonEmpty) batches.add(id -> rows): Unit
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    import scala.jdk.CollectionConverters._
    val first = batches.asScala.toSeq
    // ceil(7 versions / 2 per batch) = 4 batches, each ≤ 2 rows, union
    // exact, no duplicates
    assert(first.size == 4, s"expected 4 bounded batches, got ${first.map(_._2)}")
    assert(first.forall(_._2.size <= 2), s"a batch exceeded the cap: $first")
    val firstRows = first.flatMap(_._2)
    assert(firstRows.size == 7 && firstRows.toSet ==
      (0L to 6L).map(i => i -> s"v$i").toSet, s"not exactly-once: $firstRows")

    // 3 more commits while the stream is DOWN; the restart must drain
    // them in ceil(3/2) = 2 batches without re-admitting versions the
    // checkpoint already covers (the cap base restores via the engine's
    // re-init getBatch)
    batches.clear()
    (7L to 9L).foreach(i =>
      kv(i -> s"v$i").write.format("graft").mode(SaveMode.Append).save(root))
    drain()
    val second = batches.asScala.toSeq
    assert(second.size == 2, s"expected 2 bounded batches, got ${second.map(_._2)}")
    val secondRows = second.flatMap(_._2)
    assert(secondRows.size == 3 && secondRows.toSet ==
      (7L to 9L).map(i => i -> s"v$i").toSet, s"not exactly-once: $secondRows")
  }

  test("maxVersionsPerBatch rejects non-positive values") {
    val root = tmp("adm-bad")
    kv(1L -> "a").write.format("graft").save(root)
    val ex = intercept[Exception] {
      val q = spark.readStream.format("graft")
        .option("maxVersionsPerBatch", "0").load(root)
        .writeStream.format("memory").queryName("adm_bad").start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(ex.getMessage != null)
  }

  // --- round 18: DSv2 read path ---

  test("DSv2: a connector read plans as a columnar BatchScan ParquetScan, no RDD boundary") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = ingestTable("v2plan", 4)
    val df = spark.read.format("graft").load(root)
      .where($"k" >= 150L && $"k" < 250L).select("v")
    assert(df.collect().map(_.getString(0)).toSet ==
      (150L until 250L).map(k => s"v$k").toSet)
    // tree-walk the executed plan (house rule: never string-match
    // toString — it truncates)
    val nodes = PlanSpec.allNodes(df.queryExecution.executedPlan)
    val batchScans = nodes.collect { case b: BatchScanExec => b }
    assert(batchScans.nonEmpty, s"expected a DSv2 BatchScan:\n${nodes.map(_.nodeName)}")
    val scan = batchScans.head.scan
    assert(scan.isInstanceOf[graft.sources.GraftScan],
      s"expected the runtime-filterable GraftScan, got ${scan.getClass}")
    assert(scan.description().contains("ParquetScan"),
      s"expected delegation to the vectorized ParquetScan:\n${scan.description()}")
    assert(batchScans.head.supportsColumnar,
      "delegated parquet scan should produce columnar batches")
    assert(!nodes.exists(_.nodeName.contains("ExistingRDD")),
      s"DSv1 RDD[Row] boundary leaked into the V2 plan:\n${nodes.map(_.nodeName)}")
    assert(nodes.exists(_.nodeName.contains("ColumnarToRow")),
      s"expected a vectorized columnar read:\n${nodes.map(_.nodeName)}")
    // the filters reach the parquet scan (row-group skipping below the
    // manifest-level dir skip)
    assert(scan.description().contains("GreaterThanOrEqual(k,150)"),
      s"filters not pushed into the delegated scan:\n${scan.description()}")
    // manifest-level pruning engaged on the same read
    assert(GraftTableSource.lastKeptDirs.get <= 2 &&
      GraftTableSource.lastPrunedDirs.get >= 2)
  }

  test("useV1SourceList forces the DSv1 fallback: identical results and pruning") {
    import spark.implicits._
    val root = ingestTable("v1fb", 4)
    val expected = (150L until 250L).map(k => k -> s"v$k").toSet
    spark.conf.set("spark.sql.sources.useV1SourceList", "graft")
    try {
      val df = spark.read.format("graft").load(root)
        .where($"k" >= 150L && $"k" < 250L)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BatchScan"), s"V1 fallback not taken:\n$plan")
      assert(ks(df) == expected)
      assert(GraftTableSource.lastKeptDirs.get <= 2 &&
        GraftTableSource.lastPrunedDirs.get >= 2)
    } finally spark.conf.unset("spark.sql.sources.useV1SourceList")
    // and back on V2, same answer
    assert(ks(spark.read.format("graft").load(root)
      .where($"k" >= 150L && $"k" < 250L)) == expected)
  }

  test("runtime (join-driven) dir pruning: a broadcast dim join prunes fact dirs at execution") {
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    val root = ingestTable("rtprune", 8) // 8 dirs of 100 contiguous keys, stats on k
    // a dim table whose selected keys all land in ONE fact dir; the
    // filter must be a real scan predicate (a folded LocalRelation has
    // no selective predicate and DPP correctly declines)
    val dimPath = tmp("rtprune-dim")
    (0L until 800L).map(k => (k, k / 100)).toDF("k", "grp").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"grp" === 3L).select("k")
    val fact = spark.read.format("graft").load(root)
    val joined = fact.join(broadcast(dim), "k")
    assert(joined.count() == 100L)
    // the scan declared its stats columns as runtime-filterable; Spark
    // passed the build side's keys at execution and the manifest-level
    // prune kept only the covering dir
    assert(GraftTableSource.lastKeptDirs.get == 1 &&
      GraftTableSource.lastPrunedDirs.get == 7,
      s"runtime pruning kept ${GraftTableSource.lastKeptDirs.get}, " +
        s"pruned ${GraftTableSource.lastPrunedDirs.get} of 8 dirs")
    // result identity vs the unpruned direct read
    val expect = TxTable.read(spark, root).join(broadcast(dim), "k")
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(joined.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == expect)
  }

  test("a commit racing a DPP-pruned read returns the pinned snapshot's rows exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    val root = ingestTable("rtrace", 8) // 8 dirs of 100 contiguous keys, stats on k
    val dimPath = tmp("rtrace-dim")
    (0L until 800L).map(k => (k, k / 100)).toDF("k", "grp").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter($"grp" === 3L).select("k")
    // pin the snapshot NOW; the runtime dir prune runs at EXECUTION
    // time, i.e. after the racing commits below — it must re-prune
    // against the pinned version's dir list, never the latest's
    val fact = spark.read.format("graft").load(root)
    val joined = fact.join(broadcast(dim), "k").select("k", "v")
    // racing writer 1: an append duplicating the joined key range
    (300L until 400L).map(k => (k, "raced")).toDF("k", "v")
      .write.format("graft").mode(SaveMode.Append).save(root)
    val rows = joined.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length == 100 &&
      rows.forall { case (k, v) => v == s"v$k" },
      s"pinned DPP read leaked racing rows: ${rows.filter(_._2 == "raced").length} raced")
    // pruning stayed engaged against the PINNED dir list (1 of its 8)
    assert(GraftTableSource.lastKeptDirs.get == 1 &&
      GraftTableSource.lastPrunedDirs.get == 7,
      s"kept=${GraftTableSource.lastKeptDirs.get} pruned=${GraftTableSource.lastPrunedDirs.get}")
    // racing writer 2: a full REWRITE (refresh drops every pinned dir);
    // the pinned frame still reads its snapshot — old dirs stay on disk
    // until vacuum, the time-travel contract
    (0L until 10L).map(k => (k, "rewritten")).toDF("k", "v")
      .write.format("graft").mode(SaveMode.Overwrite).save(root)
    val afterRewrite = joined.collect().map(r => (r.getLong(0), r.getString(1)))
    assert(afterRewrite.length == 100 &&
      afterRewrite.forall { case (k, v) => v == s"v$k" },
      "pinned DPP read must survive a concurrent full rewrite")
    // a FRESH load sees the rewrite
    assert(spark.read.format("graft").load(root).count() == 10L)
  }

  test("aggregate pushdown: whole-table count/min/max answer from parquet metadata") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, max, min}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val root = ingestTable("aggpush", 4)
    def stats() = spark.read.format("graft").load(root)
      .agg(count("*").as("n"), min("k").as("lo"), max("k").as("hi"))
    val expect = (400L, 0L, 399L)
    def got(df: org.apache.spark.sql.DataFrame) = {
      val r = df.head(); (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    // conf off (default): normal scan, exact result
    assert(got(stats()) == expect)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val df = stats()
      assert(got(df) == expect, "pushed aggregate changed the answer")
      val scans = PlanSpec.allNodes(df.queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b }
      assert(scans.nonEmpty)
      assert(scans.head.scan.description().contains("PushedAggregation: [COUNT(*)"),
        s"aggregation not pushed to the parquet scan:\n${scans.head.scan.description()}")
      // a FILTERED aggregate must NOT push (this connector keeps every
      // filter residual, which blocks aggregate pushdown by design) —
      // and stays correct
      val filtered = spark.read.format("graft").load(root)
        .where($"k" >= 100L).agg(count("*"))
      assert(filtered.head().getLong(0) == 300L)
      val fScans = PlanSpec.allNodes(filtered.queryExecution.executedPlan)
        .collect { case b: BatchScanExec => b }
      assert(fScans.forall(!_.scan.description().contains("PushedAggregation: [COUNT")),
        "a filtered aggregate was pushed past a residual filter")
    } finally spark.conf.unset("spark.sql.parquet.aggregatePushdown")
  }

  test("a cached older load does not alias a newer load (pinned version is plan identity)") {
    val root = tmp("cachealias")
    kv(1L -> "a").write.format("graft").save(root)
    val before = spark.read.format("graft").load(root)
    before.cache()
    try {
      assert(ks(before) == Set(1L -> "a")) // materialize the cache
      kv(2L -> "b").write.format("graft").mode(SaveMode.Append).save(root)
      // the new load pins a NEWER version: the cache manager must not
      // substitute the cached v0 data (relation equality includes the
      // resolved version)
      assert(ks(spark.read.format("graft").load(root)) ==
        Set(1L -> "a", 2L -> "b"),
        "cached older snapshot aliased a newer load")
      // and the cached frame still serves its own pinned snapshot
      assert(ks(before) == Set(1L -> "a"))
      // same property under the V1 fallback
      spark.conf.set("spark.sql.sources.useV1SourceList", "graft")
      try {
        val v1a = spark.read.format("graft").load(root)
        v1a.cache()
        try {
          assert(ks(v1a) == Set(1L -> "a", 2L -> "b"))
          kv(3L -> "c").write.format("graft").mode(SaveMode.Append).save(root)
          assert(ks(spark.read.format("graft").load(root)) ==
            Set(1L -> "a", 2L -> "b", 3L -> "c"),
            "V1: cached older snapshot aliased a newer load")
        } finally v1a.unpersist()
      } finally spark.conf.unset("spark.sql.sources.useV1SourceList")
    } finally before.unpersist()
  }

  test("temp view pins snapshot at creation: its own INSERT INTO is invisible until re-created") {
    val root = tmp("viewpin")
    kv(1L -> "a").write.format("graft").save(root)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_pin_t USING graft OPTIONS (path '$root')")
    spark.sql("INSERT INTO graft_pin_t VALUES (2, 'b')")
    // the documented pinned-view contract: the view still reads its
    // creation-time snapshot — the insert landed (fresh reads see it)
    // but the view does not, until re-created
    assert(ks(spark.table("graft_pin_t")) == Set(1L -> "a"),
      "temp view silently un-pinned: saw a post-creation commit")
    assert(ks(spark.read.format("graft").load(root)) ==
      Set(1L -> "a", 2L -> "b"))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_pin_t USING graft OPTIONS (path '$root')")
    assert(ks(spark.table("graft_pin_t")) == Set(1L -> "a", 2L -> "b"))
  }

  // --- round 18: writer-declared skipping + Update-mode sink ---

  test("statsColumns/bloomColumns writer options declare skipping without Scala calls") {
    import spark.implicits._
    val root = tmp("wopts")
    (0L until 100L).map(k => (k, f"h-$k%03d")).toDF("k", "sha")
      .write.format("graft")
      .option("statsColumns", "k").option("bloomColumns", "sha")
      .save(root)
    (100L until 200L).map(k => (k, f"h-$k%03d")).toDF("k", "sha")
      .write.format("graft").mode(SaveMode.Append).save(root)
    // recorded state is visible in the stats surface
    val st = TxTable.statsOf(spark, root).collect()
      .map(r => (r.getString(1), r.getString(2))).groupBy(identity)
      .map { case (kc, rows) => kc -> rows.length }
    assert(st(("k", "range")) == 2 && st(("sha", "bloom")) == 2,
      s"writer options did not declare skipping: $st")
    val t = spark.read.format("graft").load(root)
    // range pruning from the option-declared stats column
    assert(t.where($"k" === 150L).count() == 1L)
    assert(GraftTableSource.lastKeptDirs.get == 1)
    // bloom pruning from the option-declared bloom column
    assert(t.where($"sha" === "h-042").count() == 1L)
    assert(GraftTableSource.lastKeptDirs.get == 1)
  }

  test("Update-mode sink with mergeKey: keyed upserts land exactly-once across replays") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = tmp("upsink")
    val ckpt = tmp("upsink-ckpt")
    val in = MemoryStream[(Long, String)]
    def run(): Unit = {
      val q = in.toDF().toDF("k", "v")
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .option("mergeKey", "k")
        .outputMode("update").start(root)
      try q.processAllAvailable() finally q.stop()
    }
    in.addData((1L, "a"), (2L, "b"))
    run()
    assert(ks(spark.read.format("graft").load(root)) == Set(1L -> "a", 2L -> "b"))
    in.addData((1L, "a2"), (3L, "c")) // upsert k=1, insert k=3
    run()
    assert(ks(spark.read.format("graft").load(root)) ==
      Set(1L -> "a2", 2L -> "b", 3L -> "c"),
      "mergeKey upsert did not last-writer-win")
    // replaying an already-committed batch id no-ops (txn ledger)
    val txns = TxTable.snapshot(root).txns
    assert(txns.nonEmpty)
    val before = TxTable.latestVersion(root)
    TxTable.mergeUpsertIdempotent(spark, root, kv(9L -> "z"), Seq("k"),
      txns.keys.head, txns.values.head)
    assert(TxTable.latestVersion(root) == before, "replayed merge batch committed twice")
    assert(ks(spark.read.format("graft").load(root)) ==
      Set(1L -> "a2", 2L -> "b", 3L -> "c"))
    // Update without mergeKey fails loudly at sink creation
    val ex = intercept[Exception] {
      in.toDF().toDF("k", "v").writeStream.format("graft")
        .option("checkpointLocation", tmp("upsink-bad"))
        .outputMode("update").start(tmp("upsink-bad-t"))
    }
    assert(ex.getMessage.contains("mergeKey"))
  }

  // --- round 19 (stretch): the checkpoint-portability restart matrix.
  // Perturb a stream's identity inputs (moved checkpoint dir, renamed
  // query / changed conf root → both reduce to "derived identity
  // changed") and pin what each writer-identity mode does: explicit
  // appId stays exactly-once through any perturbation (the txn ledger
  // carries the high-water mark in the TABLE, not the checkpoint);
  // derived identity + perturbation is a DELIBERATE new writer — append
  // re-emits everything (clean at-least-once, never a partial/corrupt
  // state), keyed Update re-merges to the identical state (content
  // idempotence). Nothing silently re-keys: the one silent-corruption
  // shape (two queries sharing a bare conf-root identity) is already
  // rejected at sink creation (r17). ---

  test("restart matrix: explicit appId is exactly-once across a moved checkpoint") {
    val src = tmp("rm-src"); val dst = tmp("rm-dst")
    kv(1L -> "a").write.format("graft").save(src)
    kv(2L -> "b").write.format("graft").mode(SaveMode.Append).save(src)
    def run(ckpt: String): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .option("appId", "rm-writer-1")
        .outputMode("append").start(dst)
      try q.processAllAvailable() finally q.stop()
    }
    run(tmp("rm-ckpt1"))
    assert(ks(spark.read.format("graft").load(dst)) == Set(1L -> "a", 2L -> "b"))
    // "moved" checkpoint = the stream restarts with NO offset history
    // and replays the full source; the ledger's (appId, batchId) record
    // drops the replayed batches — table contents stay exactly-once
    run(tmp("rm-ckpt2"))
    val rows = spark.read.format("graft").load(dst).collect()
    assert(rows.length == 2 &&
      ks(spark.read.format("graft").load(dst)) == Set(1L -> "a", 2L -> "b"),
      s"explicit-appId replay duplicated rows: ${rows.length}")
  }

  test("restart matrix: derived identity + moved checkpoint = a new writer, clean re-emission") {
    val src = tmp("rm2-src"); val dst = tmp("rm2-dst")
    kv(1L -> "a").write.format("graft").save(src)
    def run(ckpt: String): Unit = {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt) // identity = this path
        .outputMode("append").start(dst)
      try q.processAllAvailable() finally q.stop()
    }
    run(tmp("rm2-ckpt1"))
    run(tmp("rm2-ckpt2")) // deliberately new identity
    // at-least-once, and CLEANLY so: the full source re-emitted exactly
    // once more (2 copies of each row), never a torn subset
    val rows = spark.read.format("graft").load(dst).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.sorted == Seq(1L -> "a", 1L -> "a").sorted,
      s"derived-identity re-run must re-emit the whole source exactly once more: $rows")
    // both writers' ledgers coexist in the table
    assert(TxTable.snapshot(dst).txns.size == 2)
  }

  test("restart matrix: keyed Update re-merges to the identical state under any identity") {
    val src = tmp("rm3-src"); val dst = tmp("rm3-dst")
    kv(1L -> "a", 2L -> "b").write.format("graft").save(src)
    TxTable.mergeUpsert(spark, src, kv(1L -> "a2"), "k")
    // maxVersionsPerBatch=1 is load-bearing for keyed replays: a
    // replay-from-scratch otherwise coalesces the whole history into
    // ONE batch, and a batch carrying two versions of the same key has
    // no defined upsert winner — per-version batches re-merge in commit
    // order, so the replay converges to the exact upstream state (the
    // admission control composing with the keyed sink)
    def run(ckpt: String): Unit = {
      val q = spark.readStream.format("graft")
        .option("ignoreChanges", "true")
        .option("maxVersionsPerBatch", "1").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .option("mergeKey", "k")
        .outputMode("update").start(dst)
      try q.processAllAvailable() finally q.stop()
    }
    run(tmp("rm3-ckpt1"))
    val state = ks(spark.read.format("graft").load(dst))
    assert(state == Set(1L -> "a2", 2L -> "b"))
    // moved checkpoint → new derived identity → full re-merge: the
    // keyed upsert is content-idempotent, so the state is unchanged
    run(tmp("rm3-ckpt2"))
    assert(ks(spark.read.format("graft").load(dst)) == state,
      "keyed Update re-run under a new identity must re-merge to the same state")
  }

  test("composite mergeKey: upsert by (k, v) tuple") {
    import spark.implicits._
    val root = tmp("comp")
    def df(rows: (Long, String, Long)*) = rows.toDF("k", "g", "n")
    TxTable.refresh(spark, root, df((1L, "x", 10L), (1L, "y", 20L)))
    TxTable.mergeUpsertIdempotent(spark, root, df((1L, "y", 99L), (2L, "x", 30L)),
      Seq("k", "g"), "app", 0L)
    val got = spark.read.format("graft").load(root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "x", 10L), (1L, "y", 99L), (2L, "x", 30L)))
  }

  // --- round 18: sink writer-identity hardening (r17 advisor) ---

  test("sink rejects the bare conf checkpoint root as writer identity; accepts root+queryName") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val confRoot = tmp("confroot")
    spark.conf.set("spark.sql.streaming.checkpointLocation", confRoot)
    try {
      // bare conf root: the engine would checkpoint under a random UUID
      // subdir — two queries would share one appId. Must throw.
      val ex = intercept[Exception] {
        in.toDF().toDF("k", "v").writeStream.format("graft")
          .outputMode("append").start(tmp("idbad"))
      }
      assert(ex.getMessage.contains("appId") ||
        ex.getMessage.contains("identity"), s"wrong error: ${ex.getMessage}")
      // conf root + queryName is a stable identity: accepted
      val root = tmp("idgood")
      in.addData((1L, "a"))
      val q = in.toDF().toDF("k", "v").writeStream.format("graft")
        .queryName("idgood_q").outputMode("append").start(root)
      try q.processAllAvailable() finally q.stop()
      assert(ks(spark.read.format("graft").load(root)) == Set(1L -> "a"))
      val appId = TxTable.snapshot(root).txns.keys.head
      assert(appId.contains("idgood_q"),
        s"appId should derive from conf root + queryName, got $appId")
    } finally spark.conf.unset("spark.sql.streaming.checkpointLocation")
  }

  test("writer option evolve: schema change rejected by default, recorded with evolve=true") {
    import spark.implicits._
    val root = tmp("evolve")
    kv(1L -> "a").write.format("graft").save(root)
    val wider = Seq((2L, "b", 9L)).toDF("k", "v", "extra")
    // default: the table contract rejects the mismatched commit up front
    val ex = intercept[Exception] {
      wider.write.format("graft").mode(SaveMode.Append).save(root)
    }
    assert(ex.getMessage.contains("schema mismatch") || ex.getMessage.contains("evolve"),
      s"wrong rejection: ${ex.getMessage}")
    // evolve=true records the new schema; the old rows read with a NULL extra
    wider.write.format("graft").mode(SaveMode.Append)
      .option("evolve", "true").save(root)
    val rows = spark.read.format("graft").load(root).collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSet
    assert(rows == Set((1L, "a", None), (2L, "b", Some(9L))))
    // and subsequent commits enforce the NEW schema
    intercept[Exception] { kv(3L -> "c").write.format("graft").mode(SaveMode.Append).save(root) }
  }

  test("checkpoint identity normalization: local respellings converge, remote URIs pass verbatim") {
    val n = GraftTableSource.normalizeCheckpoint _
    // cosmetic local respellings converge to one identity
    assert(n("/a/b/ckpt") == n("/a/b/ckpt/"))
    assert(n("/a/b/./ckpt") == n("/a/b/ckpt"))
    assert(n("file:///a/b/ckpt") == n("/a/b/ckpt"))
    // scheme'd URIs must NOT resolve against the driver CWD: verbatim
    // minus trailing slashes (r17 advisor — a CWD change would silently
    // fork the writer identity and un-record the replay high-water mark)
    assert(n("hdfs://nn:8020/ckpt/q1/") == "hdfs://nn:8020/ckpt/q1")
    assert(n("hdfs://nn2:8020/warehouse/ckpt") == "hdfs://nn2:8020/warehouse/ckpt")
  }

  test("a write that creates the table declares statsColumns/bloomColumns in version 0, stats from the write") {
    import spark.implicits._
    val rows = (0L until 100L).map(k => (k, f"h-$k%03d")).toDF("k", "sha")
    def jobs(body: => Unit): Int = org.apache.spark.JobCounter(spark.sparkContext)(body)._2
    val plainJobs = jobs(rows.write.format("graft").save(tmp("decl-plain")))
    // stats only: the data commit's own write observes them, no read-back
    for (mode <- Seq(SaveMode.ErrorIfExists, SaveMode.Append)) {
      val root = tmp(s"decl-$mode")
      val n = jobs(rows.write.format("graft").mode(mode).option("statsColumns", "k").save(root))
      assert(n == plainJobs, s"$mode: $n jobs against $plainJobs for a plain write")
      val s = TxTable.snapshot(root)
      assert(TxTable.latestVersion(root) == 0 && s.statsCols == Seq("k"))
      assert(TxTable.readStats(root, 0).map(st => (st.dir, st.col, st.min, st.max)) ==
        Seq((s.dirs.head, "k", 0.0, 99.0)))
    }
    // stats and bloom: still one version, the dir carries both
    val root = tmp("decl-both")
    rows.write.format("graft").option("statsColumns", "k").option("bloomColumns", "sha").save(root)
    val s = TxTable.snapshot(root)
    assert(TxTable.latestVersion(root) == 0 && s.action == "refresh" &&
      s.statsCols == Seq("k") && s.bloomCols == Seq("sha"))
    assert(TxTable.readStats(root, 0).exists(st => st.col == "k" && st.max == 99.0))
    assert(TxTable.readBloom(root, s.dirs.head, "sha").exists(_.mightContain("h-042")))
    // the same options on a table that declares them commit nothing more
    rows.write.format("graft").mode(SaveMode.Append)
      .option("statsColumns", "k").option("bloomColumns", "sha").save(root)
    assert(TxTable.latestVersion(root) == 1 && TxTable.snapshot(root).action == "append")
  }

  test("BIGINT at 2^53: typed bounds prune and return exact rows; Double bounds read unpruned") {
    import spark.implicits._
    val p53 = 1L << 53
    val root = tmp("p53")
    Seq(1L, 2L).toDF("k").write.format("graft").option("statsColumns", "k").save(root)
    // 2^53 + 1 has no Double: its dir's stat rounds onto 2^53; 2^53 + 4 is exact
    for (k <- Seq(p53, p53 + 1, p53 + 4))
      Seq(k).toDF("k").write.format("graft").mode(SaveMode.Append).save(root)
    val t = spark.read.format("graft").load(root)
    def keys(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSet
    def pruning = (GraftTableSource.lastKeptDirs.get, GraftTableSource.lastPrunedDirs.get)
    assert(keys(t.where($"k" === p53)) == Set(p53))
    assert(pruning == (2, 2)) // the dirs of 2^53 and 2^53 + 1 share one stat
    assert(keys(t.where($"k" === (p53 + 1))) == Set(p53 + 1))
    assert(pruning == (2, 2))
    assert(keys(t.where($"k".between(p53, p53 + 1))) == Set(p53, p53 + 1))
    assert(pruning == (2, 2))
    // Spark does not unwrap a Long->Double cast (SPARK-39476): the
    // predicate on cast(k as double) reaches no scan, nothing prunes, and
    // the rows are the ones that predicate holds for
    val asDouble = t.where($"k" === p53.toDouble)
    assert(keys(asDouble) == Set(p53, p53 + 1))
    assert(pruning == (4, 0))
    assert(keys(asDouble) == keys(TxTable.read(spark, root).where($"k" === p53.toDouble)))
  }

  test("graft_table(p) WHERE ... reaches the connector scan and prunes its dirs") {
    val root = ingestTable("tvf", 4)
    val ext = org.apache.spark.sql.GraftBridge.sessionWithInjected(spark)(ext =>
      new graft.plans.GraftSparkExtensions().apply(ext))
    val got = ext.sql(s"SELECT k, v FROM graft_table('$root') WHERE k BETWEEN 150 AND 249")
    assert(ks(got) == (150L until 250L).map(k => k -> s"v$k").toSet)
    assert(GraftTableSource.lastPrunedDirs.get == 2 && GraftTableSource.lastKeptDirs.get == 2)
    // time travel through the version argument: version 2 holds batches 0 and 1
    assert(ext.sql(s"SELECT count(*) FROM graft_table('$root', 2) WHERE k >= 200").head.getLong(0) == 0L)
    assert(GraftTableSource.lastPrunedDirs.get == 2 && GraftTableSource.lastKeptDirs.get == 0)
  }

  test("readStream.format(\"graft\") on a path runs on GraftMicroBatchStream") {
    val root = tmp("engine")
    kv(1L -> "a").write.format("graft").save(root)
    val q = spark.readStream.format("graft").load(root)
      .writeStream.format("noop").option("checkpointLocation", tmp("engine-ckpt")).start()
    try {
      q.processAllAvailable()
      assert(q.lastProgress.sources(0).description == s"GraftMicroBatchStream[$root]")
      assert(q.recentProgress.map(_.numInputRows).sum == 1L)
    } finally q.stop()
  }
}
