package graft

import graft.etl.TxTable
import org.scalatest.funsuite.AnyFunSuite

/** The Delta-class commit log (round-13 verdict stretch item 7):
  * versioned manifests + optimistic concurrency + time travel. The
  * headline assertions are the verdict's own "done" criteria:
  * two concurrent upserts lose neither writer's rows, and version N-1
  * stays readable after N commits.
  */
class TxTableSpec extends AnyFunSuite with LocalSpark {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-tx").toString + "/table"

  private def df(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def rowsOf(root: String, version: Long = -1L): Set[(Long, String)] =
    TxTable.read(spark, root, version).collect()
      .map(r => (r.getLong(r.fieldIndex("k")), r.getString(r.fieldIndex("v")))).toSet

  private def connector(root: String, version: Long) = {
    val r = spark.read.format("graft")
    (if (version >= 0) r.option("versionAsOf", version) else r).load(root)
  }

  /** `c BETWEEN lo AND hi` read through the connector, whose scan prunes
    * dirs by their stats before Spark filters the rows. */
  private def rangeRead(root: String, c: String, lo: Any, hi: Any,
                        version: Long = -1L): org.apache.spark.sql.DataFrame =
    connector(root, version).where(org.apache.spark.sql.functions.col(c).between(lo, hi))

  /** `c = v` read through the connector (Bloom filters prune its dirs). */
  private def pointRead(root: String, c: String, v: Any): org.apache.spark.sql.DataFrame =
    connector(root, -1L).where(org.apache.spark.sql.functions.col(c) === v)

  /** The manifest prune decision for one closed range on `c`. */
  private def pruneRange(root: String, c: String, lo: Double, hi: Double,
                         version: Long = -1L): (Seq[String], Int) =
    TxTable.pruneSnapshot(root, TxTable.snapshot(root, version), Map(c -> (lo, hi)))

  private def lastKept = graft.sources.GraftTableSource.lastKeptDirs.get

  test("refresh/append/merge commit monotonically increasing versions") {
    val root = tmp()
    assert(!TxTable.exists(root))
    assert(TxTable.refresh(spark, root, df(1L -> "a", 2L -> "b")) == 0)
    assert(TxTable.append(spark, root, df(3L -> "c")) == 1)
    assert(TxTable.mergeUpsert(spark, root, df(2L -> "B2", 4L -> "d"), "k") == 2)
    assert(TxTable.latestVersion(root) == 2)
    assert(rowsOf(root) == Set(1L -> "a", 2L -> "B2", 3L -> "c", 4L -> "d"))
  }

  test("time travel: every prior version reads back exactly as committed") {
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a"))
    TxTable.append(spark, root, df(2L -> "b"))
    TxTable.mergeUpsert(spark, root, df(1L -> "A2"), "k")
    assert(rowsOf(root, 0) == Set(1L -> "a"))
    assert(rowsOf(root, 1) == Set(1L -> "a", 2L -> "b"))
    assert(rowsOf(root, 2) == Set(1L -> "A2", 2L -> "b"))
    assert(rowsOf(root) == rowsOf(root, 2))
  }

  test("optimistic concurrency: the claim admits exactly one writer per version") {
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a"))
    // two writers race for version 1 — exactly one tryCommit wins
    val d1 = "data/v1-x"; val d2 = "data/v1-y"
    df(9L -> "x").write.parquet(s"$root/$d1")
    df(8L -> "y").write.parquet(s"$root/$d2")
    val r1 = TxTable.tryCommit(root, 1, "append", Seq("data/v0-keep", d1))
    val r2 = TxTable.tryCommit(root, 1, "append", Seq("data/v0-keep", d2))
    assert(r1 != r2, "both writers claimed the same version")
  }

  test("concurrent upserts from a shared base: no lost update (the rebase path)") {
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a", 2L -> "b"))
    // two threads upsert DIFFERENT keys concurrently through the public
    // API; whichever loses the version race must rebase on the winner
    // and re-apply, so the final table carries BOTH writers' rows
    val t1 = new Thread(() => TxTable.mergeUpsert(spark, root, df(1L -> "A", 3L -> "c"), "k"))
    val t2 = new Thread(() => TxTable.mergeUpsert(spark, root, df(2L -> "B", 4L -> "d"), "k"))
    t1.start(); t2.start(); t1.join(60000); t2.join(60000)
    assert(TxTable.latestVersion(root) == 2, "both upserts must commit (as v1 and v2)")
    assert(rowsOf(root) == Set(1L -> "A", 2L -> "B", 3L -> "c", 4L -> "d"),
      s"lost update: ${rowsOf(root)}")
  }

  test("uncommitted data dirs are invisible to readers (crash window 1)") {
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a"))
    // simulate a writer that crashed after writing data, before commit
    df(99L -> "orphan").write.parquet(s"$root/data/v1-orphan")
    assert(rowsOf(root) == Set(1L -> "a"))
    assert(TxTable.latestVersion(root) == 0)
  }

  test("a crashed writer's temp manifest is invisible; the version stays available (crash window 2)") {
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a"))
    // simulate a writer that crashed between temp-write and the atomic
    // link publish: the leftover .tmp-* is ignored by version resolution
    // and does NOT burn the version — publish is single-step atomic, so
    // there is no claimed-but-unreadable window in this protocol
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_txlog", "v1.json.tmp-deadbeef"),
      """{"version":1,"action":"append","dirs":["data/ghost"]}""")
    assert(TxTable.latestVersion(root) == 0)
    assert(rowsOf(root) == Set(1L -> "a"))
    val v = TxTable.append(spark, root, df(2L -> "b"))
    assert(v == 1 && rowsOf(root) == Set(1L -> "a", 2L -> "b"))
  }

  test("vacuum drops pre-horizon versions but keeps everything from the horizon") {
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a"))
    TxTable.mergeUpsert(spark, root, df(1L -> "A2"), "k")
    TxTable.mergeUpsert(spark, root, df(1L -> "A3"), "k")
    TxTable.vacuum(root, keepFrom = 1, graceMs = 0)
    assert(rowsOf(root, 1) == Set(1L -> "A2"))
    assert(rowsOf(root, 2) == Set(1L -> "A3"))
    // reader semantics (round-15 stretch item): resolving a vacuumed
    // version fails CLEANLY at snapshot resolution (its manifest is
    // deleted before any of its data), never a partial read
    intercept[IllegalArgumentException] { TxTable.snapshot(root, 0) }
    // with zero grace, the dropped version's bytes are actually gone
    val dataDirs = new java.io.File(s"$root/data").listFiles().map(_.getName).toSet
    val kept = (TxTable.snapshot(root, 1).dirs ++ TxTable.snapshot(root, 2).dirs)
      .map(_.stripPrefix("data/")).toSet
    assert(dataDirs == kept, s"unreferenced dirs survived a zero-grace vacuum: $dataDirs vs $kept")
  }

  /** Index sidecar names under the table's `_txlog/index`. */
  private def indexNames(root: String): Set[String] =
    Option(new java.io.File(s"$root/_txlog/index").list()).map(_.toSet).getOrElse(Set.empty)

  test("vacuum keeps exactly the index sidecars a retained version can select") {
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a"))                              // v0
    TxTable.publishIndex(root, 0, "ivf", Array[Byte](0))
    TxTable.publishIndex(root, 0, "other", Array[Byte](0))
    TxTable.mergeUpsert(spark, root, df(1L -> "A1"), "k")                    // v1
    TxTable.publishIndex(root, 1, "ivf", Array[Byte](1))
    TxTable.mergeUpsert(spark, root, df(1L -> "A2"), "k")                    // v2
    TxTable.mergeUpsert(spark, root, df(1L -> "A3"), "k")                    // v3
    TxTable.publishIndex(root, 3, "ivf", Array[Byte](3))
    assert(TxTable.indexAt(root, "ivf", 2).map(_._1).contains(1L))
    TxTable.vacuum(root, keepFrom = 2, graceMs = 0)
    // ivf v0 is older than v1, which v2 selects; "other" v0 is still selected
    assert(indexNames(root) == Set("v00000001.ivf", "v00000003.ivf", "v00000000.other"))
    assert(TxTable.indexAt(root, "ivf", 2).map(_._1).contains(1L))
    assert(TxTable.indexAt(root, "other", 3).map(_._1).contains(0L))
    TxTable.vacuum(root, keepFrom = 3, graceMs = 0)
    assert(indexNames(root) == Set("v00000003.ivf", "v00000000.other"))
  }

  test("index selection stops at a refresh; vacuum and clone follow it") {
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a"))                              // v0
    TxTable.publishIndex(root, 0, "ivf", Array[Byte](0))
    TxTable.mergeUpsert(spark, root, df(2L -> "b"), "k")                     // v1
    TxTable.refresh(spark, root, df(3L -> "c"))                              // v2, no index yet
    TxTable.mergeUpsert(spark, root, df(4L -> "d"), "k")                     // v3
    assert(TxTable.indexAt(root, "ivf", 1).map(_._1).contains(0L))
    assert(TxTable.indexAt(root, "ivf", 2).isEmpty && TxTable.indexAt(root, "ivf", 3).isEmpty)
    val clone = tmp()
    assert(TxTable.cloneTable(spark, root, clone) && indexNames(clone).isEmpty)
    // v0's index is selectable only below the refresh: vacuum drops it
    // before the manifests that place the refresh, so it stays unselected
    TxTable.vacuum(root, keepFrom = 3, graceMs = 0)
    assert(indexNames(root).isEmpty && TxTable.indexAt(root, "ivf", 3).isEmpty)
    TxTable.publishIndex(root, 3, "ivf", Array[Byte](3))
    TxTable.mergeUpsert(spark, root, df(5L -> "e"), "k")                     // v4
    assert(TxTable.indexAt(root, "ivf", 4).map(_._1).contains(3L))
  }

  test("vacuum grace window protects an in-flight writer's unreferenced data dir") {
    // the r14 advisor's race: writer writes its data dir, vacuum runs
    // before the writer's tryCommit, writer then WINS the commit — with
    // zero grace the new manifest would reference deleted data (a torn
    // latest). The mtime grace keeps the young dir alive.
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a"))
    TxTable.mergeUpsert(spark, root, df(1L -> "A2"), "k")
    // in-flight writer: data written, commit not yet attempted
    val rel = "data/v2-inflight"
    df(2L -> "b").write.parquet(s"$root/$rel")
    TxTable.vacuum(root, keepFrom = 1) // default grace
    assert(new java.io.File(s"$root/$rel").isDirectory,
      "vacuum deleted a data dir inside the in-flight grace window")
    // the writer's commit lands on intact data
    assert(TxTable.tryCommit(root, 2, "append",
      TxTable.snapshot(root, 1).dirs :+ rel))
    assert(rowsOf(root, 2) == Set(1L -> "A2", 2L -> "b"))
  }

  test("concurrent upsert and compact serialize: no lost update, content preserved") {
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a", 2L -> "b"))
    val t1 = new Thread(() => TxTable.mergeUpsert(spark, root, df(3L -> "c"), "k"))
    val t2 = new Thread(() => TxTable.compact(spark, root, targetBytes = Long.MaxValue))
    t1.start(); t2.start(); t1.join(60000); t2.join(60000)
    assert(TxTable.latestVersion(root) == 2, "both commits must land (as v1 and v2)")
    assert(rowsOf(root) == Set(1L -> "a", 2L -> "b", 3L -> "c"),
      s"compact/upsert race lost an update: ${rowsOf(root)}")
  }

  test("compact is a same-data re-layout commit: rows identical, fewer files, history readable") {
    import spark.implicits._
    val root = tmp()
    val wide = (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v").repartition(8)
    TxTable.refresh(spark, root, wide)
    def files(v: Long): Int = TxTable.snapshot(root, v).dirs.map { d =>
      new java.io.File(s"$root/$d").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    }.sum
    val before = rowsOf(root, 0)
    val cv = TxTable.compact(spark, root)
    assert(cv == 1)
    assert(TxTable.snapshot(root, cv).action == "compact")
    assert(rowsOf(root, cv) == before)
    assert(files(cv) < files(0), s"${files(cv)} !< ${files(0)}")
    assert(rowsOf(root, 0) == before, "pre-compaction version must stay readable")
  }

  test("partition-scoped merge rewrites only touched partitions; untouched dirs carried by reference") {
    import spark.implicits._
    val root = tmp()
    def pdf(rows: (Long, String, String)*) = rows.toDF("k", "v", "p")
    TxTable.mergeUpsertPartitioned(spark, root,
      pdf((1L, "a", "x"), (2L, "b", "x"), (10L, "m", "y"), (20L, "n", "z")), "k", "p")
    val s0 = TxTable.snapshot(root, 0)
    assert(s0.entries.map(_._2).toSet == Set("x", "y", "z"))
    // second batch touches ONLY partition x
    TxTable.mergeUpsertPartitioned(spark, root, pdf((2L, "B2", "x"), (3L, "c", "x")), "k", "p")
    val s1 = TxTable.snapshot(root, 1)
    // y and z entries are the SAME dirs (zero bytes moved for them)
    def dirOf(s: TxTable.Snapshot, p: String) = s.entries.filter(_._2 == p).map(_._1).toSet
    assert(dirOf(s1, "y") == dirOf(s0, "y") && dirOf(s1, "z") == dirOf(s0, "z"),
      "untouched partitions were rewritten")
    assert(dirOf(s1, "x") != dirOf(s0, "x"), "touched partition was not rewritten")
    val all = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(all == Set((1L, "a", "x"), (2L, "B2", "x"), (3L, "c", "x"),
      (10L, "m", "y"), (20L, "n", "z")), s"partitioned merge content wrong: $all")
    // time travel still works across scoped commits
    val v0 = TxTable.read(spark, root, 0).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(v0 == Set((1L, "a", "x"), (2L, "b", "x"), (10L, "m", "y"), (20L, "n", "z")))
  }

  test("partition-scoped merge refuses a whole-table history (cannot scope over mixed rows)") {
    import spark.implicits._
    val root = tmp()
    TxTable.refresh(spark, root, Seq((1L, "a", "x")).toDF("k", "v", "p"))
    intercept[IllegalArgumentException] {
      TxTable.mergeUpsertPartitioned(spark, root,
        Seq((2L, "b", "x")).toDF("k", "v", "p"), "k", "p")
    }
  }

  test("log discovery is O(1) on a 1000-commit table: hint + forward probe, no full listing") {
    // verdict r15 task 4: a standing CDC pipeline commits one version per
    // micro-batch; resolution must not list (or read) the whole log.
    // Manifests here are full snapshots (one read resolves any version);
    // the _latest.hint bounds DISCOVERY — assert via the counters.
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a"))
    val dir = TxTable.snapshot(root, 0).dirs.head
    (1 to 999).foreach(v => assert(TxTable.tryCommit(root, v, "append", Seq(dir))))
    TxTable.resetCounters()
    assert(TxTable.latestVersion(root) == 999)
    assert(TxTable.read(spark, root).collect().length == 1)
    assert(TxTable.fullListings.get() == 0,
      "latest resolution fell back to an O(versions) directory listing")
    assert(TxTable.manifestReads.get() <= 2,
      s"resolution read ${TxTable.manifestReads.get()} manifests (expected ≤ 2)")
    assert(TxTable.manifestProbes.get() <= 4,
      s"resolution probed ${TxTable.manifestProbes.get()} manifests (expected ≤ 4)")
    // time travel stays O(1) too: direct manifest read (or an
    // immutable-manifest cache hit — r18), no discovery at all
    TxTable.resetCounters()
    assert(TxTable.snapshot(root, 123).version == 123)
    assert(TxTable.fullListings.get() == 0 && TxTable.manifestReads.get() <= 1)
    // a second resolve of the same immutable version reads nothing
    TxTable.resetCounters()
    assert(TxTable.snapshot(root, 123).version == 123)
    assert(TxTable.manifestReads.get() == 0 && TxTable.cacheHits.get() >= 1,
      "repeat resolve of an immutable manifest should be a cache hit")
    // hintless legacy log: first resolution pays ONE listing and re-seeds
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "_txlog", "_latest.hint"))
    TxTable.resetCounters()
    assert(TxTable.latestVersion(root) == 999 && TxTable.fullListings.get() == 1)
    TxTable.resetCounters()
    assert(TxTable.latestVersion(root) == 999 && TxTable.fullListings.get() == 0)
  }

  test("scoped merge fails fast on NULL or unrepresentable partition values") {
    import spark.implicits._
    val root = tmp()
    // NULL partition: previously silently dropped (r15 advisor) — now an error
    val withNull = Seq((1L, "a", "x"), (2L, "b", null: String)).toDF("k", "v", "p")
    val e1 = intercept[IllegalArgumentException] {
      TxTable.mergeUpsertPartitioned(spark, root, withNull, "k", "p")
    }
    assert(e1.getMessage.contains("NULL"))
    // empty value: render would omit the parts field → layout degrades
    intercept[IllegalArgumentException] {
      TxTable.mergeUpsertPartitioned(spark, root,
        Seq((1L, "a", "")).toDF("k", "v", "p"), "k", "p")
    }
    // ']' value: parse's bracket-delimited list would truncate
    intercept[IllegalArgumentException] {
      TxTable.mergeUpsertPartitioned(spark, root,
        Seq((1L, "a", "x]y")).toDF("k", "v", "p"), "k", "p")
    }
    assert(!TxTable.exists(root), "a rejected batch must not commit anything")
  }

  test("disjoint-partition concurrent merges both commit without recompute (fast-forward)") {
    import spark.implicits._
    val root = tmp()
    def pdf(rows: (Long, String, String)*) = rows.toDF("k", "v", "p")
    TxTable.mergeUpsertPartitioned(spark, root,
      pdf((1L, "a", "x"), (10L, "m", "y")), "k", "p")
    val s0 = TxTable.snapshot(root, 0)
    TxTable.resetCounters()
    // writer B (partition y) lands INSIDE writer A's (partition x)
    // write→commit window, via the deterministic test seam; the seam
    // disarms itself so B's own commit doesn't recurse
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    TxTable.beforeCommitHook = () =>
      if (armed.compareAndSet(true, false))
        TxTable.mergeUpsertPartitioned(spark, root, pdf((11L, "M2", "y")), "k", "p")
    try {
      TxTable.mergeUpsertPartitioned(spark, root, pdf((2L, "b", "x")), "k", "p")
    } finally TxTable.beforeCommitHook = () => ()
    assert(TxTable.latestVersion(root) == 2, "both writers must commit")
    assert(TxTable.fastForwardCommits.get() == 1,
      "the disjoint loser must fast-forward, not recompute")
    assert(TxTable.rebaseRecomputes.get() == 0,
      "no recompute is needed for a disjoint conflict")
    // A's carried y entry is B's committed y dir (the winner's data adopted)
    def dirOf(s: TxTable.Snapshot, p: String) = s.entries.filter(_._2 == p).map(_._1).toSet
    val s1 = TxTable.snapshot(root, 1); val s2 = TxTable.snapshot(root, 2)
    assert(dirOf(s2, "y") == dirOf(s1, "y") && dirOf(s1, "y") != dirOf(s0, "y"))
    val all = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(all == Set((1L, "a", "x"), (2L, "b", "x"), (10L, "m", "y"), (11L, "M2", "y")),
      s"combined state wrong: $all")
  }

  test("overlapping-partition concurrent merges still rebase (recompute path)") {
    import spark.implicits._
    val root = tmp()
    def pdf(rows: (Long, String, String)*) = rows.toDF("k", "v", "p")
    TxTable.mergeUpsertPartitioned(spark, root, pdf((1L, "a", "x")), "k", "p")
    TxTable.resetCounters()
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    TxTable.beforeCommitHook = () =>
      if (armed.compareAndSet(true, false))
        TxTable.mergeUpsertPartitioned(spark, root, pdf((2L, "B", "x")), "k", "p")
    try {
      TxTable.mergeUpsertPartitioned(spark, root, pdf((3L, "c", "x")), "k", "p")
    } finally TxTable.beforeCommitHook = () => ()
    assert(TxTable.latestVersion(root) == 2)
    assert(TxTable.rebaseRecomputes.get() == 1, "overlap must force a recompute")
    assert(TxTable.fastForwardCommits.get() == 0)
    val all = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(all == Set((1L, "a", "x"), (2L, "B", "x"), (3L, "c", "x")),
      s"overlapping rebase lost an update: $all")
  }

  test("a scoped merge that loses to a stats/bloom declaration recomputes instead of reverting it") {
    import spark.implicits._
    def pdf(rows: (Long, String, String)*) = rows.toDF("k", "v", "p")
    Seq[(String, String => Long, TxTable.Snapshot => Seq[String])](
      ("setStatsColumns", TxTable.setStatsColumns(spark, _, Seq("k")), _.statsCols),
      ("setBloomColumns", TxTable.setBloomColumns(spark, _, Seq("k")), _.bloomCols)
    ).foreach { case (name, declare, declared) =>
      val root = tmp()
      TxTable.mergeUpsertPartitioned(spark, root, pdf((1L, "a", "x"), (10L, "m", "y")), "k", "p")
      TxTable.resetCounters()
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      TxTable.beforeCommitHook = () => if (armed.compareAndSet(true, false)) declare(root)
      try TxTable.mergeUpsertPartitioned(spark, root, pdf((2L, "b", "x")), "k", "p")
      finally TxTable.beforeCommitHook = () => ()
      val fin = TxTable.snapshot(root)
      assert(fin.version == 2 && declared(fin) == Seq("k"), s"$name was reverted: $fin")
      assert(TxTable.rebaseRecomputes.get() == 1 && TxTable.fastForwardCommits.get() == 0, name)
      // the recomputed x dir is statted / bloomed for the declared column
      val xDir = fin.entries.find(_._2 == "x").get._1
      if (name == "setStatsColumns")
        assert(TxTable.readStats(root, 2).exists(s => s.dir == xDir && s.col == "k"))
      else assert(TxTable.readBloom(root, xDir, "k").nonEmpty)
    }
  }

  test("clustered compact + dir stats: pruned scan reads only overlapping dirs, result exact") {
    import spark.implicits._
    val root = tmp()
    val mk = (pred: Long => Boolean) =>
      (0L until 4000L).filter(pred).map(i => (i, s"v$i")).toDF("k", "v")
    // land UNCLUSTERED (interleaved halves): every pre-compact dir spans
    // the whole key range, so nothing is prunable before the re-layout
    TxTable.refresh(spark, root, mk(_ % 2 == 0))
    TxTable.append(spark, root, mk(_ % 2 == 1))
    import scala.jdk.CollectionConverters._
    def bytesUnder(rel: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root, rel))
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => java.nio.file.Files.size(p)).sum
      finally s.close()
    }
    val total = TxTable.snapshot(root).dirs.map(bytesUnder).sum
    val cv = TxTable.compact(spark, root, targetBytes = math.max(1L, total / 6),
      clusterBy = Seq("k"))
    val s = TxTable.snapshot(root, cv)
    assert(s.dirs.length >= 4, s"expected a multi-dir clustered layout, got ${s.dirs.length}")
    // exact, complete stats: one per dir, and tight (each dir covers a
    // narrow slice of the 0..3999 range, not all of it)
    val stats = TxTable.readStats(root, cv)
    assert(stats.map(_.dir).toSet == s.dirs.toSet, "every clustered dir must carry a stat")
    assert(stats.forall(st => st.max - st.min < 3999.0 / 2),
      s"clustered ranges not tight: ${stats.map(st => (st.min, st.max))}")
    // a narrow range prunes most dirs at the MANIFEST level…
    val (kept, dropped) = pruneRange(root, "k", 100, 300)
    assert(dropped > 0 && kept.length < s.dirs.length,
      s"no manifest-level pruning: kept ${kept.length} of ${s.dirs.length}")
    // …and the pruned scan is value-identical to the unpruned filter
    def asSet(df: org.apache.spark.sql.DataFrame) = df.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = asSet(TxTable.read(spark, root)
      .filter(org.apache.spark.sql.functions.col("k").between(100, 300)))
    assert(want.size == 201 && asSet(rangeRead(root, "k", 100, 300)) == want)
    assert(lastKept == kept.length, s"the connector scan kept $lastKept dirs, the prune ${kept.length}")
    // an all-pruned range returns an EMPTY frame with the table schema
    val empty = rangeRead(root, "k", 100000, 200000)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("k", "v"))
    assert(lastKept == 0)
    // rows are physically clustered inside each dir too (the in-dir sort)
    assert(TxTable.compact(spark, root, clusterBy = Seq("k")) == cv + 1)
  }

  test("dir stats carry forward across scoped merges; unstatted dirs are never pruned") {
    import spark.implicits._
    val root = tmp()
    def pdf(rows: (Long, String, String)*) = rows.toDF("k", "v", "p")
    TxTable.mergeUpsertPartitioned(spark, root,
      pdf((0L until 100L).map(i => (i, s"v$i", if (i < 50) "x" else "y")): _*), "k", "p")
    val cv = TxTable.compact(spark, root, targetBytes = 1L, clusterBy = Seq("k"))
    val nStats = TxTable.readStats(root, cv).length
    assert(nStats >= 2, "clustered compact recorded no stats")
    // scoped merge touches ONLY partition x: y's dirs (and their stats)
    // are carried by reference; x's rewritten dir has no stats yet
    val mv = TxTable.mergeUpsertPartitioned(spark, root, pdf((1L, "X", "x")), "k", "p")
    val after = TxTable.readStats(root, mv)
    val yDirs = TxTable.snapshot(root, mv).entries.filter(_._2 == "y").map(_._1).toSet
    assert(yDirs.subsetOf(after.map(_.dir).toSet),
      "carried partition lost its stats across a scoped merge")
    // pruning still honors the unstatted rewritten dirs (always kept):
    // the updated row (k=1 in the new x dir) must survive a pruned scan
    val got = rangeRead(root, "k", 0, 10).select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got.contains(1L -> "X"), s"pruned scan lost the unstatted dir's rows: $got")
    assert(got == (0L to 10L).map(i => (i, if (i == 1) "X" else s"v$i")).toSet)
  }

  test("migrate is a fixed-target version-0 adoption: the loser never replays over a winner") {
    val root = tmp()
    assert(TxTable.migrate(spark, root, df(1L -> "legacy")), "first migrate must win v0")
    // a second migrator (the r15 advisor's check-then-act race, with the
    // slow side arriving after the table exists) must NOT clobber v1+
    TxTable.mergeUpsert(spark, root, df(1L -> "merged", 2L -> "b"), "k")
    assert(!TxTable.migrate(spark, root, df(1L -> "legacy")))
    assert(TxTable.latestVersion(root) == 1)
    assert(rowsOf(root) == Set(1L -> "merged", 2L -> "b"),
      "a losing migrator replayed legacy contents over a later commit")
  }

  test("declared stats columns: merge commits stat fresh dirs; a never-compacted table prunes scans") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tmp()
    def pdf(rows: (Long, String, String)*) = rows.toDF("k", "v", "p")
    // seed two partitions with disjoint key ranges through the MERGE path
    TxTable.mergeUpsertPartitioned(spark, root,
      pdf(((0L until 50L).map(i => (i, s"v$i", "x")) ++
        (1000L until 1050L).map(i => (i, s"v$i", "y"))): _*), "k", "p")
    // declare stats on k: a metadata commit that BACKFILLS current dirs
    val sv = TxTable.setStatsColumns(spark, root, Seq("k"))
    assert(TxTable.snapshot(root, sv).statsCols == Seq("k"))
    val backfilled = TxTable.readStats(root, sv)
    assert(TxTable.snapshot(root, sv).dirs.forall(d =>
      backfilled.exists(s => s.dir == d && s.col == "k")),
      "setStatsColumns must backfill every current dir")
    // subsequent scoped merges stat their FRESH dirs too — no compact ever
    val mv = TxTable.mergeUpsertPartitioned(spark, root,
      pdf((2000L, "z0", "z"), (2001L, "z1", "z")), "k", "p")
    val after = TxTable.readStats(root, mv)
    assert(TxTable.snapshot(root, mv).dirs.forall(d =>
      after.exists(s => s.dir == d && s.col == "k")),
      "a merge commit on a stats-declared table left its fresh dir unstatted")
    // …and so does a scoped merge opening a brand-new partition
    // (plain append on a partition-scoped layout is now REJECTED —
    // it would permanently break scoped merges; the append-path stats
    // behavior is covered on whole-table layouts in GraftSourceSpec)
    val av = TxTable.mergeUpsertPartitioned(spark, root,
      pdf((3000L, "a0", "w")), "k", "p")
    assert(TxTable.readStats(root, av).exists(s =>
      s.col == "k" && s.min == 3000.0 && s.max == 3000.0))
    // a narrow range over this never-compacted table prunes at the
    // manifest level, with result identity vs the unpruned filter
    val (kept, dropped) = pruneRange(root, "k", 1000, 1049)
    assert(dropped >= 3 && kept.length == 1,
      s"merge-committed table did not prune: kept ${kept.length}, dropped $dropped")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = asSet(TxTable.read(spark, root).filter(col("k").between(1000, 1049)))
    assert(want.size == 50 && asSet(rangeRead(root, "k", 1000, 1049)) == want)
    assert(lastKept == 1)
  }

  test("schema contract: mismatched commit rejected up front; evolve records the new schema") {
    import spark.implicits._
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a"))
    assert(TxTable.snapshot(root).schemaDdl.nonEmpty, "commits must record the schema")
    val wrong = Seq((1L, "a", 3.5)).toDF("k", "v", "w")
    val e = intercept[IllegalArgumentException] { TxTable.append(spark, root, wrong) }
    assert(e.getMessage.contains("schema mismatch"))
    intercept[IllegalArgumentException] { TxTable.mergeUpsert(spark, root, wrong, "k") }
    intercept[IllegalArgumentException] { TxTable.refresh(spark, root, wrong) }
    assert(TxTable.latestVersion(root) == 0, "a rejected commit must not advance the version")
    // nullability is normalized OUT of the fingerprint: a parquet
    // round-trip of the table's own rows commits fine
    assert(TxTable.append(spark, root, TxTable.read(spark, root).limit(0)) == 1)
    // evolve: accepted, recorded, and ENFORCED for later commits
    val ev = TxTable.refresh(spark, root, wrong, evolve = true)
    assert(TxTable.snapshot(root, ev).schemaDdl.contains("w"))
    intercept[IllegalArgumentException] { TxTable.append(spark, root, df(9L -> "x")) }
    // the partitioned path enforces the same contract
    val root2 = tmp()
    def pdf(rows: (Long, String, String)*) = rows.toDF("k", "v", "p")
    TxTable.mergeUpsertPartitioned(spark, root2, pdf((1L, "a", "x")), "k", "p")
    val e2 = intercept[IllegalArgumentException] {
      TxTable.mergeUpsertPartitioned(spark, root2,
        Seq((2L, 7.0, "x")).toDF("k", "v", "p"), "k", "p")
    }
    assert(e2.getMessage.contains("schema mismatch"))
  }

  /** (every column but `w`, w) per row of `root`'s latest snapshot, with
    * `w` as an Option so a NULL read back shows as None. */
  private def rowsWithW(root: String): Set[(Seq[Any], Option[Double])] =
    TxTable.read(spark, root).collect().map { r =>
      val w = r.fieldIndex("w")
      (r.schema.fieldNames.toSeq.filterNot(_ == "w").map(f => r.get(r.fieldIndex(f))),
        if (r.isNullAt(w)) None else Some(r.getDouble(w)))
    }.toSet

  test("mergeUpsert with evolve adds a column: old rows read back with NULL in it") {
    import spark.implicits._
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a", 2L -> "b"))
    val v = TxTable.mergeUpsert(spark, root,
      Seq((2L, "B", 7.5)).toDF("k", "v", "w"), "k", evolve = true)
    assert(TxTable.snapshot(root, v).schemaDdl.contains("w"))
    assert(rowsWithW(root) == Set((Seq(1L, "a"), None), (Seq(2L, "B"), Some(7.5))))
  }

  test("mergeUpsertIdempotent with evolve adds a column on a composite key; a replay no-ops") {
    import spark.implicits._
    val root = tmp()
    TxTable.refresh(spark, root, Seq((1L, "x", "a"), (1L, "y", "b")).toDF("k", "s", "v"))
    val batch = Seq((1L, "y", "B", 7.5)).toDF("k", "s", "v", "w")
    val v = TxTable.mergeUpsertIdempotent(spark, root, batch, Seq("k", "s"), "app", 0L,
      evolve = true)
    assert(TxTable.mergeUpsertIdempotent(spark, root, batch, Seq("k", "s"), "app", 0L,
      evolve = true) == v, "a replayed batch must not commit")
    assert(rowsWithW(root) == Set((Seq(1L, "x", "a"), None), (Seq(1L, "y", "B"), Some(7.5))))
  }

  test("mergeUpsertPartitioned with evolve adds a column: touched and carried partitions read NULL") {
    import spark.implicits._
    val root = tmp()
    TxTable.mergeUpsertPartitioned(spark, root,
      Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "y")).toDF("k", "v", "p"), "k", "p")
    val v = TxTable.mergeUpsertPartitioned(spark, root,
      Seq((2L, "B", "y", 7.5)).toDF("k", "v", "p", "w"), "k", "p", evolve = true)
    assert(TxTable.snapshot(root, v).schemaDdl.contains("w"))
    assert(rowsWithW(root) == Set((Seq(1L, "a", "x"), None), (Seq(2L, "B", "y"), Some(7.5)),
      (Seq(3L, "c", "y"), None)))
  }

  test("evolveSchema: append-only metadata commit; drops/retypes/reorders refused; idempotent") {
    import spark.implicits._
    val root = tmp()
    TxTable.refresh(spark, root, Seq(1L -> "a", 2L -> "b").toDF("k", "v"))
    import org.apache.spark.sql.{types => t}
    def st(fields: (String, org.apache.spark.sql.types.DataType)*) =
      t.StructType(fields.map { case (n, dt) => t.StructField(n, dt) })
    val evolved = st("k" -> t.LongType, "v" -> t.StringType, "n" -> t.LongType)
    val ev = TxTable.evolveSchema(spark, root, evolved)
    assert(TxTable.snapshot(root, ev).action == "evolve")
    // metadata-only: dirs carried by reference, old rows read NULL
    assert(TxTable.snapshot(root, ev).dirs == TxTable.snapshot(root, ev - 1).dirs)
    val rows = TxTable.read(spark, root).collect()
    assert(rows.length == 2 && rows.forall(_.isNullAt(2)))
    // idempotent re-evolve: no new version
    assert(TxTable.evolveSchema(spark, root, evolved) == ev)
    assert(TxTable.latestVersion(root) == ev)
    // anything but an append is refused loudly
    intercept[IllegalArgumentException] { // drop
      TxTable.evolveSchema(spark, root, st("k" -> t.LongType))
    }
    intercept[IllegalArgumentException] { // retype
      TxTable.evolveSchema(spark, root,
        st("k" -> t.LongType, "v" -> t.LongType, "n" -> t.LongType))
    }
    intercept[IllegalArgumentException] { // reorder
      TxTable.evolveSchema(spark, root,
        st("v" -> t.StringType, "k" -> t.LongType, "n" -> t.LongType))
    }
    assert(TxTable.latestVersion(root) == ev)
    // post-evolve commits enforce the NEW contract both ways
    intercept[IllegalArgumentException] {
      TxTable.append(spark, root, Seq(3L -> "c").toDF("k", "v"))
    }
    TxTable.append(spark, root, Seq((3L, "c", 30L)).toDF("k", "v", "n"))
    assert(TxTable.read(spark, root).count() == 3)
    // DML keyed on the EVOLVED column: pre-evolve dirs physically lack
    // `n` — the delete must read them under the recorded schema (cells
    // NULL, never matching) instead of failing to resolve the column
    TxTable.deleteRange(spark, root, "n", 25, 35)
    assert(TxTable.read(spark, root).collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L), "only the post-evolve row with n=30 deletes; " +
        "old NULL-n rows survive")
    TxTable.updateKeys(spark, root, "k", Seq(1L),
      Seq("n" -> org.apache.spark.sql.functions.lit(99L)))
    val byK = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(byK == Map(1L -> 99L, 2L -> -1L))
  }

  test("layout contract: scoping descriptor recorded at creation, carried, validated on merges") {
    import spark.implicits._
    val root = tmp()
    def pdf(rows: (Long, String, String)*) = rows.toDF("k", "v", "p")
    TxTable.mergeUpsertPartitioned(spark, root, pdf((1L, "a", "x")), "k", "p",
      layout = "hash-bucket(k):16")
    assert(TxTable.snapshot(root).layout == "hash-bucket(k):16")
    // matching and silent writers proceed; the descriptor carries forward
    TxTable.mergeUpsertPartitioned(spark, root, pdf((2L, "b", "y")), "k", "p",
      layout = "hash-bucket(k):16")
    TxTable.mergeUpsertPartitioned(spark, root, pdf((3L, "c", "x")), "k", "p")
    assert(TxTable.snapshot(root).layout == "hash-bucket(k):16")
    // a writer built with a DIFFERENT scoping constant fails fast —
    // before any data write (the r16 StateBuckets-rebuild hazard)
    val e = intercept[IllegalArgumentException] {
      TxTable.mergeUpsertPartitioned(spark, root, pdf((4L, "d", "x")), "k", "p",
        layout = "hash-bucket(k):32")
    }
    assert(e.getMessage.contains("layout mismatch"))
    assert(TxTable.latestVersion(root) == 2)
    // compact carries the descriptor through the re-layout
    val cv = TxTable.compact(spark, root)
    assert(TxTable.snapshot(root, cv).layout == "hash-bucket(k):16")
  }

  test("an empty ingest batch yields an always-pruned dir (empty-range sentinel stat)") {
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a"))
    TxTable.setStatsColumns(spark, root, Seq("k"))
    // an ingest pipeline's empty batch: no row can ever match a range
    // predicate, so the dir gets the (+Inf, -Inf) sentinel and every
    // range scan prunes it forever
    TxTable.append(spark, root, df(1L -> "x").limit(0))
    val (kept, dropped) = pruneRange(root, "k", -1e18, 1e18)
    assert(dropped == 1 && kept.length == 1,
      s"empty dir not pruned: kept ${kept.length}, dropped $dropped")
    assert(rangeRead(root, "k", 0, 10).count() == 1)
    assert(lastKept == 1)
    assert(rowsOf(root) == Set(1L -> "a"))
  }

  test("NaN-polluted sidecar stats keep their dir: pruning stays sound") {
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a"))
    val dir = TxTable.snapshot(root, 0).dirs.head
    // an older build could have persisted NaN stats (Spark max() is
    // NaN-greatest); the negated-overlap test must KEEP such dirs —
    // the direct min<=hi && max>=lo form silently dropped them
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_txlog", "v00000000.stats.json"),
      s"""{"version":0,"stats":[{"dir":"$dir","col":"k","min":NaN,"max":NaN}]}""")
    val (kept, dropped) = pruneRange(root, "k", 0, 10)
    assert(kept == Seq(dir) && dropped == 0, "a NaN stat must never prune a dir")
    assert(rangeRead(root, "k", 0, 10).count() == 1)
    assert(lastKept == 1)
  }

  test("all-NULL cluster column: compact omits the stat instead of failing") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = tmp()
    TxTable.refresh(spark, root, spark.range(100)
      .select(col("id").as("k"), lit(null).cast("double").as("w")))
    // previously: getDouble on the null aggregate threw NPE, failing the
    // whole compact (r16 advisor); now the (dir, w) stat is just omitted
    val cv = TxTable.compact(spark, root, targetBytes = Long.MaxValue,
      clusterBy = Seq("k", "w"))
    val stats = TxTable.readStats(root, cv)
    assert(stats.exists(_.col == "k") && !stats.exists(_.col == "w"))
    // the unstatted column never prunes — all rows stay reachable
    val (_, dropped) = pruneRange(root, "w", 0, 1)
    assert(dropped == 0)
    assert(rangeRead(root, "w", 0, 1).count() == 0) // exact filter still applies
  }

  test("a stale hint re-seeds after the forward probe (read-heavy write-idle table)") {
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a"))
    val dir = TxTable.snapshot(root, 0).dirs.head
    (1 to 50).foreach(v => assert(TxTable.tryCommit(root, v, "append", Seq(dir))))
    // simulate a winner that crashed between its link and its writeHint
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_txlog", "_latest.hint"), "0")
    TxTable.resetCounters()
    assert(TxTable.latestVersion(root) == 50)
    assert(TxTable.manifestProbes.get() >= 50, "sanity: stale hint pays the probe once")
    TxTable.resetCounters()
    assert(TxTable.latestVersion(root) == 50)
    assert(TxTable.manifestProbes.get() <= 2,
      "hint not re-seeded: the second resolve re-paid the O(commits-since-hint) probe")
    assert(TxTable.fullListings.get() == 0)
  }

  test("compact preserves a partitioned layout: per-partition groups stay scoped") {
    import spark.implicits._
    val root = tmp()
    def pdf(rows: (Long, String, String)*) = rows.toDF("k", "v", "p")
    TxTable.mergeUpsertPartitioned(spark, root,
      pdf((1L, "a", "x"), (10L, "m", "y")), "k", "p")
    val cv = TxTable.compact(spark, root)
    val s = TxTable.snapshot(root, cv)
    assert(s.entries.map(_._2).toSet == Set("x", "y"),
      "compaction collapsed the partition scoping")
    // a later scoped merge on x still leaves y's compacted dir untouched
    TxTable.mergeUpsertPartitioned(spark, root, pdf((2L, "b", "x")), "k", "p")
    val s2 = TxTable.snapshot(root, cv + 1)
    assert(s2.entries.filter(_._2 == "y").map(_._1).toSet ==
      s.entries.filter(_._2 == "y").map(_._1).toSet)
  }

  test("appendIdempotent: replayed batch ids no-op; the txn ledger survives other commits") {
    val root = tmp()
    assert(TxTable.appendIdempotent(spark, root, df(1L -> "a"), "app1", 0L) == 0)
    // exact replay and a LOWER batch id both no-op
    assert(TxTable.appendIdempotent(spark, root, df(9L -> "x"), "app1", 0L) == 0)
    assert(TxTable.latestVersion(root) == 0)
    assert(rowsOf(root) == Set(1L -> "a"))
    // a higher batch id commits; a second writer identity is independent
    assert(TxTable.appendIdempotent(spark, root, df(2L -> "b"), "app1", 1L) == 1)
    assert(TxTable.appendIdempotent(spark, root, df(3L -> "c"), "app2", 0L) == 2)
    assert(rowsOf(root) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(TxTable.snapshot(root).txns == Map("app1" -> 1L, "app2" -> 0L))
    // the ledger must survive unrelated commits (compact, merge,
    // setstats) or a post-compaction replay would double-commit
    TxTable.mergeUpsert(spark, root, df(2L -> "B2"), "k")
    TxTable.compact(spark, root)
    assert(TxTable.snapshot(root).txns == Map("app1" -> 1L, "app2" -> 0L))
    assert(TxTable.appendIdempotent(spark, root, df(9L -> "x"), "app1", 1L) ==
      TxTable.latestVersion(root)) // still a no-op after the compact
    assert(!rowsOf(root).contains(9L -> "x"))
  }

  test("deleteKeys: takedown rewrites only the dirs that might hold a key; the rest carry by reference") {
    import spark.implicits._
    val root = tmp()
    def batch(i: Int) = (0 until 20)
      .map(j => (i * 20L + j, f"doc-$i%02d-$j%02d")).toDF("k", "sha")
    TxTable.refresh(spark, root, batch(0))
    TxTable.setBloomColumns(spark, root, Seq("sha"))
    (1 until 5).foreach(i => TxTable.append(spark, root, batch(i)))
    val before = TxTable.snapshot(root)
    // take down two keys living in batches 1 and 3
    val dv = TxTable.deleteKeys(spark, root, "sha", Seq("doc-01-05", "doc-03-07"))
    val after = TxTable.snapshot(root, dv)
    assert(after.action == "deleteKeys")
    // rows gone, everything else intact
    val left = TxTable.read(spark, root).collect().map(_.getString(1)).toSet
    assert(!left("doc-01-05") && !left("doc-03-07") && left.size == 98)
    // untouched dirs carried BY REFERENCE (same dir names), ≤ 2 rewritten
    val carried = before.dirs.toSet intersect after.dirs.toSet
    assert(carried.size >= 3,
      s"only ${carried.size} of 5 dirs carried — delete rewrote non-matching dirs")
    // time travel: the pre-delete version still holds the keys (GDPR
    // forgetting additionally needs vacuum, as documented)
    assert(TxTable.read(spark, root, before.version)
      .filter($"sha" === "doc-01-05").count() == 1)
    // rewritten dirs got fresh blooms: surviving neighbors still found,
    // deleted keys prune everywhere
    assert(pointRead(root, "sha", "doc-01-06").count() == 1)
    assert(pointRead(root, "sha", "doc-01-05").count() == 0)
  }

  test("updateKeys/updateRange: scoped rewrite applies assignments only to matching rows/dirs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val root = tmp()
    def batch(i: Int) = (0 until 20)
      .map(j => (i * 20L + j, f"doc-$i%02d-$j%02d")).toDF("k", "sha")
    TxTable.refresh(spark, root, batch(0))
    TxTable.setStatsColumns(spark, root, Seq("k"))
    (1 until 5).foreach(i => TxTable.append(spark, root, batch(i)))
    val before = TxTable.snapshot(root)
    // point update in batch 1 only
    val uv = TxTable.updateKeys(spark, root, "k", Seq(25L, 27L),
      Seq("sha" -> concat(col("sha"), lit("!"))))
    val after = TxTable.snapshot(root, uv)
    assert(after.action == "updateKeys")
    val rows = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows(25L) == "doc-01-05!" && rows(27L) == "doc-01-07!")
    assert(rows(26L) == "doc-01-06" && rows.size == 100)
    // untouched dirs carried BY REFERENCE; only batch-1's dir rewritten
    val carried = before.dirs.toSet intersect after.dirs.toSet
    assert(carried.size == 4,
      s"${carried.size} of 5 dirs carried — update rewrote non-matching dirs")
    // fresh stats cover the rewritten dir: k-range pruning still exact
    assert(rangeRead(root, "k", 25, 25).count() == 1)
    // time travel reads the pre-update value
    assert(TxTable.read(spark, root, before.version).filter($"k" === 25L)
      .head().getString(1) == "doc-01-05")
    // range update: assignments cast to the column's existing type
    val rv = TxTable.updateRange(spark, root, "k", 40, 44,
      Seq("sha" -> lit("ranged")))
    assert(TxTable.snapshot(root, rv).action == "updateRange")
    val r2 = TxTable.read(spark, root).filter($"k".between(38, 46))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert((40L to 44L).forall(k => r2(k) == "ranged") &&
      r2(39L) == "doc-01-19" && r2(45L) == "doc-02-05")
    // unknown assignment column fails loudly before any commit
    val vb = TxTable.latestVersion(root)
    intercept[IllegalArgumentException] {
      TxTable.updateKeys(spark, root, "k", Seq(1L), Seq("nope" -> lit(1)))
    }
    assert(TxTable.latestVersion(root) == vb)
  }

  test("updateKeys racing appends: optimistic rebase loses no writer's rows or updates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    val root = tmp()
    TxTable.refresh(spark, root,
      (0L until 20L).map(k => (k, s"v$k")).toDF("k", "v"))
    TxTable.setStatsColumns(spark, root, Seq("k"))
    // two writers race: one appends fresh batches, one updates existing
    // keys — interleaved via the commit hook so the update's first
    // attempts LOSE and must rebase (bounded: an unbounded hook would
    // steal every version forever — a livelock of the test's making,
    // not the protocol's)
    val appended = new java.util.concurrent.atomic.AtomicLong(100L)
    val races = new java.util.concurrent.atomic.AtomicInteger(3)
    var hooked = true
    TxTable.beforeCommitHook = () => if (hooked && races.getAndDecrement() > 0) {
      hooked = false // the hook's own append must not recurse
      try {
        val base = appended.getAndAdd(10L)
        TxTable.append(spark, root,
          (base until base + 10L).map(k => (k, s"a$k")).toDF("k", "v"))
      } finally hooked = true
    }
    try {
      TxTable.updateKeys(spark, root, "k", Seq(3L, 7L),
        Seq("v" -> concat(col("v"), lit("!"))))
    } finally TxTable.beforeCommitHook = () => ()
    val rows = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // the updates landed...
    assert(rows(3L) == "v3!" && rows(7L) == "v7!")
    // ...and EVERY racing append's rows survived the rebase
    val appendedRows = rows.keys.filter(_ >= 100L)
    assert(appendedRows.nonEmpty &&
      appendedRows.forall(k => rows(k) == s"a$k"),
      s"racing appends lost: ${rows.filter(_._1 >= 100L)}")
    assert(rows.size == 20 + appendedRows.size)
  }

  test("deleteRange: a fully-deleted dir drops out of the manifest; NULLs survive") {
    import spark.implicits._
    val root = tmp()
    def batch(i: Int) = (0 until 10).map(j => (Some(i * 10L + j), s"v$i-$j"))
      .toDF("k", "v")
    TxTable.refresh(spark, root, batch(0))
    TxTable.setStatsColumns(spark, root, Seq("k"))
    (1 until 4).foreach(i => TxTable.append(spark, root, batch(i)))
    TxTable.append(spark, root,
      Seq((Option.empty[Long], "null-row")).toDF("k", "v"))
    val before = TxTable.snapshot(root)
    // batch 2's whole span [20, 29]: its dir must VANISH, not rewrite
    val dv = TxTable.deleteRange(spark, root, "k", 20, 29)
    val after = TxTable.snapshot(root, dv)
    assert(after.dirs.length == before.dirs.length - 1)
    assert((before.dirs.toSet -- after.dirs.toSet).size == 1)
    val rows = TxTable.read(spark, root).collect()
    assert(rows.length == 31 && !rows.exists(r => !r.isNullAt(0) &&
      r.getLong(0) >= 20 && r.getLong(0) <= 29))
    assert(rows.exists(_.isNullAt(0)), "NULL row must survive a range delete")
    // partial delete rewrites just that dir, stats stay prunable
    TxTable.deleteRange(spark, root, "k", 0, 4)
    assert(rangeRead(root, "k", 0, 9).collect()
      .map(_.getString(1)).toSet == (5 until 10).map(j => s"v0-$j").toSet)
    // a range delete on a STRING column must delete NOTHING (the
    // double cast is NULL for every row — NULL is not a match; the
    // un-coalesced form deleted every such row, the exact opposite of a
    // filtered read)
    val nBefore = TxTable.read(spark, root).count()
    TxTable.deleteRange(spark, root, "v", 0, 100)
    assert(TxTable.read(spark, root).count() == nBefore,
      "string-column range delete must be a no-op, not a table wipe")
    // a NULL takedown value poisons isin for every row — reject it
    intercept[IllegalArgumentException] {
      TxTable.deleteKeys(spark, root, "v", Seq("v0-5", null))
    }
    assert(TxTable.read(spark, root).count() == nBefore)
  }

  test("deleteRange/updateRange classify BIGINT rows in long space at the 2^53 boundary") {
    import spark.implicits._
    val root = tmp()
    val big = 9007199254740992L // 2^53: last long whose neighbors collapse onto it in double
    TxTable.refresh(spark, root,
      Seq(1L -> "a", (big - 1) -> "lo", big -> "mid", (big + 1) -> "hi")
        .toDF("k", "v"))
    // hi = 2^53 must NOT catch 2^53+1 (its double cast rounds DOWN to
    // 2^53 — the old try_cast predicate wrongly matched it)
    TxTable.updateRange(spark, root, "k", Double.NegativeInfinity, big.toDouble,
      Seq("v" -> org.apache.spark.sql.functions.upper(
        org.apache.spark.sql.functions.col("v"))))
    assert(TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap ==
      Map(1L -> "A", (big - 1) -> "LO", big -> "MID", (big + 1) -> "hi"))
    // lo = 2^53 deletes {2^53, 2^53+1}: 2^53+1 compares in LONG space
    TxTable.deleteRange(spark, root, "k", big.toDouble, Double.PositiveInfinity)
    assert(TxTable.read(spark, root).collect().map(_.getLong(0)).toSet ==
      Set(1L, big - 1))
    // and DOUBLE columns still compare natively (fractional bounds live)
    val droot = tmp()
    TxTable.refresh(spark, droot, Seq(0.5 -> "x", 1.5 -> "y").toDF("d", "v"))
    TxTable.deleteRange(spark, droot, "d", 0.0, 1.0)
    assert(TxTable.read(spark, droot).collect().map(_.getString(1)).toSeq == Seq("y"))
  }

  test("cloneTable: zero-copy fork — stats and blooms carry, divergence isolates, source vacuum survives") {
    import spark.implicits._
    val src = tmp(); val dst = tmp()
    def batch(i: Int) = (0 until 20)
      .map(j => (i * 20L + j, s"h-$i-$j")).toDF("k", "sha")
    TxTable.refresh(spark, src, batch(0))
    TxTable.setStatsColumns(spark, src, Seq("k"))
    TxTable.setBloomColumns(spark, src, Seq("sha"))
    (1 until 3).foreach(i => TxTable.append(spark, src, batch(i)))
    assert(TxTable.cloneTable(spark, src, dst))
    assert(!TxTable.cloneTable(spark, src, dst), "second creator must lose")
    // identical content, zero data copied (files are hard links)
    def rows(root: String) = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(dst) == rows(src) && rows(dst).size == 60)
    val aFile = {
      val d = java.nio.file.Paths.get(dst, TxTable.snapshot(dst).dirs.head)
      val s0 = java.nio.file.Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s0.iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
      } finally s0.close()
    }
    assert(java.nio.file.Files.getAttribute(aFile, "unix:nlink")
      .asInstanceOf[Number].intValue >= 2, "clone copied instead of linking")
    // re-keyed stats prune on the clone; carried blooms serve lookups
    val (keptC, prunedC) = pruneRange(dst, "k", 0, 19)
    assert(prunedC >= 2 && keptC.length == 1)
    assert(pointRead(dst, "sha", "h-1-5").count() == 1)
    // divergence is isolated both ways
    TxTable.append(spark, dst, batch(9))
    TxTable.deleteKeys(spark, src, "sha", Seq("h-0-0"))
    assert(rows(dst).size == 80 && !rows(src).contains(0L -> "h-0-0"))
    assert(rows(dst).contains(0L -> "h-0-0"), "src delete leaked into the clone")
    // the clone outlives a source wiped and vacuumed to nothing:
    // hard links keep the shared bytes alive until BOTH sides drop them
    TxTable.refresh(spark, src, batch(0).filter("k < 0"))
    TxTable.vacuum(src, TxTable.latestVersion(src), graceMs = 0)
    assert(rows(dst).size == 80, "vacuuming the source broke the clone")
  }

  test("cloneTable carries the indexes its version selects as the clone's version-0 indexes") {
    val src = tmp()
    TxTable.refresh(spark, src, df(1L -> "a"))                               // v0
    TxTable.publishIndex(src, 0, "ivf", Array[Byte](0))
    TxTable.mergeUpsert(spark, src, df(2L -> "b"), "k")                      // v1
    TxTable.publishIndex(src, 1, "ivf", Array[Byte](1))
    TxTable.mergeUpsert(spark, src, df(3L -> "c"), "k")                      // v2
    TxTable.publishIndex(src, 2, "pq", Array[Byte](2))
    def bytesAt(root: String, kind: String, v: Long) = TxTable.indexAt(root, kind, v)
      .map(i => java.nio.file.Files.readAllBytes(i._2).toSeq)
    val atV1 = tmp()
    assert(TxTable.cloneTable(spark, src, atV1, version = 1))
    assert(indexNames(atV1) == Set("v00000000.ivf"))
    assert(bytesAt(atV1, "ivf", 0).contains(Seq[Byte](1)))
    val latest = tmp()
    assert(TxTable.cloneTable(spark, src, latest))
    assert(indexNames(latest) == Set("v00000000.ivf", "v00000000.pq"))
    assert(bytesAt(latest, "pq", 0).contains(Seq[Byte](2)))
    // a second creator changes nothing
    assert(!TxTable.cloneTable(spark, src, atV1))
    assert(indexNames(atV1) == Set("v00000000.ivf") && bytesAt(atV1, "ivf", 0).contains(Seq[Byte](1)))
  }

  test("whole-table appends are rejected on a partition-scoped layout; corrupt txn ledgers fail loudly") {
    import spark.implicits._
    val root = tmp()
    TxTable.mergeUpsertPartitioned(spark, root,
      Seq((1L, "a", "x")).toDF("k", "v", "p"), "k", "p")
    intercept[IllegalArgumentException] {
      TxTable.append(spark, root, Seq((2L, "b", "y")).toDF("k", "v", "p"))
    }
    intercept[IllegalArgumentException] {
      TxTable.appendIdempotent(spark, root,
        Seq((2L, "b", "y")).toDF("k", "v", "p"), "app", 0L)
    }
    intercept[IllegalArgumentException] {
      TxTable.mergeUpsert(spark, root, Seq((2L, "b", "y")).toDF("k", "v", "p"), "k")
    }
    assert(TxTable.latestVersion(root) == 0, "a rejected whole-table write committed")
    // appId carrying ']' would desync the bracket-delimited ledger
    val root2 = tmp()
    intercept[IllegalArgumentException] {
      TxTable.appendIdempotent(spark, root2, df(1L -> "a"), "bad]app", 0L)
    }
    // a hand-corrupted ledger (apps/ids desynced) must THROW, not
    // silently un-record every writer's high-water mark
    TxTable.appendIdempotent(spark, root2, df(1L -> "a"), "app", 0L)
    val m1 = java.nio.file.Paths.get(root2, "_txlog", "v00000001.json")
    java.nio.file.Files.writeString(m1,
      """{"version":1,"action":"append","dirs":["data/v0-missing"],""" +
        """"txnApps":["app"],"txnIds":[]}""")
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(root2, "_txlog", "_latest.hint"))
    intercept[IllegalStateException] {
      TxTable.appendIdempotent(spark, root2, df(2L -> "b"), "app", 1L)
    }
  }

  test("every retrying writer survives a lost race: latest+1, winner's txn kept, metadata carried, no orphan dir") {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.StringType
    type Meta = (String, String, Seq[String], Seq[String])
    def meta(s: TxTable.Snapshot): Meta = (s.schemaDdl, s.layout, s.statsCols, s.bloomCols)
    // (writer, the metadata it commits given its base's)
    val writers: Seq[(String, String => Long, Meta => Meta)] = Seq(
      ("append", r => TxTable.append(spark, r, df(50L -> "n")), identity),
      ("appendIdempotent", r => TxTable.appendIdempotent(spark, r, df(50L -> "n"), "w", 0L), identity),
      ("mergeUpsert", r => TxTable.mergeUpsert(spark, r, df(1L -> "A", 50L -> "n"), "k"), identity),
      ("mergeUpsertIdempotent",
        r => TxTable.mergeUpsertIdempotent(spark, r, df(1L -> "A"), Seq("k"), "w", 0L), identity),
      ("restore", r => TxTable.restore(spark, r, 3L), identity),
      ("compact", r => TxTable.compact(spark, r), identity),
      ("setStatsColumns", r => TxTable.setStatsColumns(spark, r, Seq("k", "v")),
        m => m.copy(_3 = Seq("k", "v"))),
      ("setBloomColumns", r => TxTable.setBloomColumns(spark, r, Seq("v", "k")),
        m => m.copy(_4 = Seq("v", "k"))),
      ("evolveSchema", r => TxTable.evolveSchema(spark, r,
        TxTable.tableSchema(spark, r).add("extra", StringType)),
        m => m.copy(_1 = org.apache.spark.sql.types.StructType.fromDDL(m._1)
          .add("extra", StringType).toDDL)),
      ("deleteKeys", r => TxTable.deleteKeys(spark, r, "k", Seq(2L)), identity),
      ("updateKeys", r => TxTable.updateKeys(spark, r, "k", Seq(2L), Seq("v" -> lit("u"))), identity))
    writers.foreach { case (name, write, expected) =>
      val root = tmp()
      TxTable.refresh(spark, root, df(1L -> "a", 2L -> "b", 3L -> "c"))  // v0
      TxTable.setStatsColumns(spark, root, Seq("k"))                     // v1
      TxTable.setBloomColumns(spark, root, Seq("k"))                     // v2
      TxTable.appendIdempotent(spark, root, df(4L -> "d"), "seed", 0L)   // v3
      TxTable.append(spark, root, df(5L -> "e"))                         // v4
      val base = TxTable.snapshot(root)
      // the other writer wins base+1 inside this writer's commit window
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      TxTable.beforeCommitHook = () =>
        if (armed.compareAndSet(true, false))
          TxTable.appendIdempotent(spark, root, df(100L -> "o"), "other", 7L)
      val v = try write(root) finally TxTable.beforeCommitHook = () => ()
      assert(!armed.get, s"$name: the race never happened")
      assert(v == base.version + 2 && TxTable.latestVersion(root) == v,
        s"$name: committed v$v, expected v${base.version + 2} after the winner")
      val fin = TxTable.snapshot(root)
      assert(fin.txns.get("other").contains(7L) && fin.txns.get("seed").contains(0L),
        s"$name: dropped a writer's txn record: ${fin.txns}")
      assert(meta(fin) == expected(meta(base)), s"$name: metadata not carried forward")
      if (name != "restore") // a restore undoes the winner's rows by design
        assert(TxTable.read(spark, root).filter("k = 100").count() == 1,
          s"$name: lost the winner's rows")
      // every data dir on disk (and every bloom file) belongs to some
      // manifest: a loser drops the dirs of its lost attempt
      val referenced = (0L to v).flatMap(TxTable.snapshot(root, _).dirs).toSet
      def names(dir: String*): Set[String] = {
        val ls = java.nio.file.Files.list(java.nio.file.Paths.get(root, dir: _*))
        try ls.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).toSet
        finally ls.close()
      }
      val onDisk = names("data").map("data/" + _)
      assert(onDisk.subsetOf(referenced), s"$name: orphan dirs ${onDisk -- referenced}")
      val blooms = names("_txlog", "bloom")
      val owners = referenced.map(_.replace('/', '_') + ".")
      assert(blooms.forall(b => owners.exists(b.startsWith)),
        s"$name: orphan bloom files ${blooms.filterNot(b => owners.exists(b.startsWith))}")
    }
  }

  test("history lists retained versions newest-first with per-version added-dir counts") {
    val root = tmp()
    TxTable.refresh(spark, root, df(1L -> "a"))
    TxTable.append(spark, root, df(2L -> "b"))
    TxTable.mergeUpsert(spark, root, df(1L -> "A2"), "k")
    val h = TxTable.history(spark, root).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(2L, 1L, 0L), "newest first")
    assert(h.map(_.getString(1)).toSeq == Seq("merge", "append", "refresh"))
    // refresh added 1 dir, append added 1 (carrying the first), the
    // whole-table merge rewrote into 1 fresh dir
    assert(h.map(_.getInt(3)).toSeq == Seq(1, 1, 1))
    assert(h.map(_.getInt(2)).toSeq == Seq(1, 2, 1))
    // vacuumed versions disappear: history is what time travel can read
    TxTable.vacuum(root, 2, graceMs = 0)
    assert(TxTable.history(spark, root).collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("z-order compact: predicates on EITHER clustered column prune; linear prunes only the leading") {
    import spark.implicits._
    val zroot = tmp(); val lroot = tmp()
    // a 64×64 grid: x and y independent and uniform — the layout shape
    // where linear clustering is provably one-sided
    val grid = (0 until 4096).map(i => (i.toLong, (i % 64).toLong, (i / 64).toLong))
      .toDF("id", "x", "y")
    TxTable.refresh(spark, zroot, grid)
    TxTable.refresh(spark, lroot, grid)
    val zv = TxTable.compact(spark, zroot, targetBytes = 1024,
      clusterBy = Seq("x", "y"), zOrder = true)
    val lv = TxTable.compact(spark, lroot, targetBytes = 1024,
      clusterBy = Seq("x", "y")) // linear control, same columns
    val zDirs = TxTable.snapshot(zroot, zv).dirs.length
    val lDirs = TxTable.snapshot(lroot, lv).dirs.length
    assert(zDirs >= 8, s"need a multi-dir layout to test pruning, got $zDirs")
    // z-order: a narrow slice on x AND a narrow slice on y each prune
    val (keptZx, _) = pruneRange(zroot, "x", 0, 4, zv)
    val (keptZy, _) = pruneRange(zroot, "y", 0, 4, zv)
    assert(keptZx.length <= zDirs / 2, s"x-slice kept ${keptZx.length} of $zDirs")
    assert(keptZy.length <= zDirs / 2, s"y-slice kept ${keptZy.length} of $zDirs")
    // linear: leading column prunes, the second column cannot (every
    // x-bucket spans the full y range)
    val (keptLx, _) = pruneRange(lroot, "x", 0, 4, lv)
    val (keptLy, _) = pruneRange(lroot, "y", 0, 4, lv)
    assert(keptLx.length <= lDirs / 2)
    assert(keptLy.length == lDirs, "linear layout should not prune the non-leading column")
    // identity on both axes through the pruned scan
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    assert(ids(rangeRead(zroot, "x", 0, 4, zv)) ==
      ids(TxTable.read(spark, zroot, zv).filter($"x".between(0L, 4L))))
    assert(lastKept == keptZx.length)
    assert(ids(rangeRead(zroot, "y", 0, 4, zv)) ==
      ids(TxTable.read(spark, zroot, zv).filter($"y".between(0L, 4L))))
  }

  test("bloom columns: point lookups prune dirs range stats cannot; no false negatives") {
    import spark.implicits._
    val root = tmp()
    // hash-like keys: every batch's [min, max] range spans the key
    // space (interleaved values), so RANGE stats prune nothing — the
    // exact shape bloom filters exist for
    def batch(i: Int) = (0 until 40)
      .map(j => (i * 40L + j, f"sha-${(j * 7 + i) % 40}%02d-$i%02d")).toDF("k", "sha")
    TxTable.refresh(spark, root, batch(0))
    TxTable.setBloomColumns(spark, root, Seq("sha"))
    (1 until 6).foreach(i => TxTable.append(spark, root, batch(i)))
    // every present key is FOUND (no false negatives), each in one dir
    (0 until 6).foreach { i =>
      val probe = f"sha-${(3 * 7 + i) % 40}%02d-$i%02d"
      val hit = pointRead(root, "sha", probe).collect()
      assert(hit.length == 1 && hit.head.getString(1) == probe,
        s"lookup lost present key $probe")
    }
    // an absent key prunes everything (fpp-modulo): count how many of
    // the 6 dirs a miss actually scans — with fpp 3% virtually all 6
    // are pruned; assert at least half to keep the test deterministic
    val sMiss = TxTable.snapshot(root)
    val (keptMiss, _) = TxTable.pruneSnapshot(root, sMiss, Map.empty, Map.empty,
      Map("sha" -> Seq("sha-not-present-anywhere")))
    assert(keptMiss.length <= 3, s"miss kept ${keptMiss.length} of 6 dirs")
    assert(pointRead(root, "sha", "sha-not-present-anywhere").count() == 0)
    assert(lastKept == keptMiss.length)
    // a dir without a filter is always kept: a raw tryCommit-style dir
    // (simulated by deleting one bloom file) must not be pruned
    val victim = sMiss.dirs.head
    val bfFiles = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "_txlog", "bloom"))
    val victimFile = try {
      import scala.jdk.CollectionConverters._
      bfFiles.iterator().asScala.find(
        _.getFileName.toString.startsWith(victim.replace('/', '_') + ".")).get
    } finally bfFiles.close()
    java.nio.file.Files.delete(victimFile)
    val (keptMiss2, _) = TxTable.pruneSnapshot(root, sMiss, Map.empty, Map.empty,
      Map("sha" -> Seq("sha-not-present-anywhere")))
    assert(keptMiss2.contains(victim), "unfiltered dir was pruned — unsound")
    // non-hashable candidate types never prune (Double would truncate
    // through longValue — a false negative)
    val (keptDouble, _) = TxTable.pruneSnapshot(root, sMiss, Map.empty, Map.empty,
      Map("sha" -> Seq(3.14: java.lang.Double)))
    assert(keptDouble.length == sMiss.dirs.length)
    // an EMPTY ingest batch publishes an explicitly-empty filter (the
    // bloom twin of the empty-range sentinel): every lookup prunes it
    TxTable.append(spark, root, batch(0).filter("k < 0"))
    val sEmpty = TxTable.snapshot(root)
    val emptyDir = (sEmpty.dirs.toSet -- sMiss.dirs.toSet).head
    val (keptAfter, _) = TxTable.pruneSnapshot(root, sEmpty, Map.empty, Map.empty,
      Map("sha" -> Seq("sha-00-00")))
    assert(!keptAfter.contains(emptyDir), "empty dir kept by a point lookup")
  }

  test("blooms follow their dirs: merge rewrites rebuild, vacuum removes, lookups stay exact") {
    import spark.implicits._
    val root = tmp()
    def pdf(rows: (Long, String, String)*) = rows.toDF("k", "sha", "p")
    TxTable.mergeUpsertPartitioned(spark, root,
      pdf((1L, "h-aa", "x"), (2L, "h-bb", "y")), "k", "p")
    TxTable.setBloomColumns(spark, root, Seq("sha"))
    // scoped merge rewrites partition x: its fresh dir gets a fresh
    // filter, and the new key is immediately findable
    TxTable.mergeUpsertPartitioned(spark, root, pdf((3L, "h-cc", "x")), "k", "p")
    assert(pointRead(root, "sha", "h-cc").count() == 1)
    assert(pointRead(root, "sha", "h-aa").count() == 1) // carried dir
    val sBefore = TxTable.snapshot(root)
    val (keptCc, _) = TxTable.pruneSnapshot(root, sBefore, Map.empty, Map.empty,
      Map("sha" -> Seq("h-cc")))
    assert(keptCc.length < sBefore.dirs.length, "bloom pruned nothing on the rewrite")
    // vacuum to latest: dropped dirs' bloom files go with them
    val bloomDir = java.nio.file.Paths.get(root, "_txlog", "bloom")
    def bloomCount = {
      val s = java.nio.file.Files.list(bloomDir)
      try { import scala.jdk.CollectionConverters._; s.iterator().asScala.length }
      finally s.close()
    }
    val before = bloomCount
    TxTable.vacuum(root, TxTable.latestVersion(root), graceMs = 0)
    assert(bloomCount < before, "vacuum left orphaned bloom files")
    assert(pointRead(root, "sha", "h-cc").count() == 1)
  }

  test("string-stat primitives: code-point order, prefix increment, truncation bounds") {
    // Java compareTo ranks the emoji (U+1F600, a surrogate pair) below
    // U+FFFF; code-point order must rank it above — the soundness edge
    val emoji = new String(Character.toChars(0x1F600))
    assert("￿".compareTo(emoji) > 0, "JVM premise: compareTo is code-unit order")
    assert(TxTable.strCompare("￿", emoji) < 0, "code-point order")
    assert(TxTable.strCompare("ab", "abc") < 0 && TxTable.strCompare("abc", "abd") < 0)
    // increment: plain, surrogate-gap skip, carry position, unbounded
    assert(TxTable.strIncrement("ab").contains("ac"))
    assert(TxTable.strIncrement("a퟿").contains("a"))
    assert(TxTable.strIncrement("").isEmpty)
    val maxCp = new String(Character.toChars(0x10FFFF))
    assert(TxTable.strIncrement("a" + maxCp).contains("b"))
    assert(TxTable.strIncrement(maxCp).isEmpty)
    // truncation: min is a prefix (<= original), max strictly > original
    val long = "x" * 100 + "tail"
    assert(TxTable.truncMin(long) == "x" * TxTable.StrStatMaxLen)
    val mx = TxTable.truncMax(long).get
    assert(TxTable.strCompare(mx, long) > 0)
    assert(TxTable.truncMax("short").contains("short"))
    // a surrogate pair STRADDLING the truncation boundary must not
    // split: a lone high surrogate (~0xD800) sorts below the
    // supplementary code point it was part of, so an incremented max
    // built on it would under-bound the dir and prune live rows
    val straddle = "a" * (TxTable.StrStatMaxLen - 1) + emoji + "tail"
    val mxS = TxTable.truncMax(straddle).get
    assert(TxTable.strCompare(mxS, straddle) > 0,
      "truncated max under-bounds across a straddled surrogate pair")
    val mnS = TxTable.truncMin(straddle)
    assert(TxTable.strCompare(mnS, straddle) <= 0)
    assert(!Character.isHighSurrogate(mnS.last), "prefix split a surrogate pair")
  }

  test("string stats: scanString prunes by dir, truncation stays sound, sentinel prunes empty dirs") {
    import spark.implicits._
    val root = tmp()
    def sdf(rows: (Long, String)*) = rows.toDF("k", "s")
    // batch A: long strings sharing a 64+-char prefix; batch B: far away
    val longA = (0 until 5).map(i => s"${"a" * 80}$i")
    TxTable.refresh(spark, root, sdf(longA.zipWithIndex.map { case (s, i) => (i.toLong, s) }: _*))
    TxTable.setStatsColumns(spark, root, Seq("s"))
    TxTable.append(spark, root, sdf(100L -> "zeta", 101L -> "zulu"))
    // all-NULL string batch: records the always-pruned sentinel
    TxTable.append(spark, root,
      Seq((200L, Option.empty[String])).toDF("k", "s"))
    val latest = TxTable.latestVersion(root)
    val strStats = TxTable.readStrStats(root, latest)
    assert(strStats.exists(st => st.min == "￿" && st.max == ""), "sentinel missing")
    // truncation soundness: a query INSIDE the shared 64-prefix region
    // must keep batch A (its recorded max is the incremented prefix,
    // which bounds every full-length value from above)
    val probe = "a" * 80 + "3"
    val hitA = rangeRead(root, "s", probe, probe)
    assert(hitA.count() == 1L, "truncated max wrongly pruned the dir holding the value")
    // a z-range query prunes batch A and the null batch, keeps B only
    val (keptZ, prunedZ) = TxTable.pruneSnapshot(root, TxTable.snapshot(root, latest),
      Map.empty, Map("s" -> ("z", Some("zz"))))
    assert(keptZ.length == 1 && prunedZ == 2,
      s"expected 1 kept / 2 pruned, got ${keptZ.length} / $prunedZ")
    assert(rangeRead(root, "s", "z", "zz")
      .collect().map(_.getString(1)).toSet == Set("zeta", "zulu"))
    assert(lastKept == 1)
    // identity contract: the pruned string read ≡ full read + exact filter
    val full = TxTable.read(spark, root).filter($"s".between("a", "b"))
      .collect().map(_.getLong(0)).toSet
    val pruned = rangeRead(root, "s", "a", "b")
      .collect().map(_.getLong(0)).toSet
    assert(pruned == full && full == (0L until 5L).toSet)
  }

  test("restore: zero-copy rollback commit — content, schema, stats, and ledger semantics") {
    import spark.implicits._
    val root = tmp()
    def df(rows: (Long, String)*) = rows.toDF("k", "v")
    TxTable.refresh(spark, root, df(1L -> "a", 2L -> "b"))          // v0
    TxTable.setStatsColumns(spark, root, Seq("k"))                  // v1
    TxTable.append(spark, root, df(3L -> "c"))                      // v2
    TxTable.appendIdempotent(spark, root, df(4L -> "d"), "app", 7L) // v3
    val goodV = TxTable.latestVersion(root)
    val goodState = Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")
    // the mistake to undo: a destructive refresh
    TxTable.refresh(spark, root, df(9L -> "oops"))                  // v4
    val restoredV = TxTable.restore(spark, root, goodV)
    def state(v: Long = -1L) = TxTable.read(spark, root, v).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(restoredV == goodV + 2)
    assert(state() == goodState, "restore did not reproduce the old content")
    // history intact on BOTH sides: the mistake and the source version
    assert(state(goodV + 1) == Set(9L -> "oops"))
    assert(state(goodV) == goodState)
    assert(TxTable.snapshot(root, restoredV).action == "restore")
    assert(TxTable.history(spark, root).collect().map(_.getString(1)).contains("restore"))
    // zero-copy: the restore commit lists the SAME dir names as goodV
    assert(TxTable.snapshot(root, restoredV).dirs == TxTable.snapshot(root, goodV).dirs)
    // declared stats columns and per-dir stats came back: a range scan prunes
    assert(TxTable.snapshot(root, restoredV).statsCols == Seq("k"))
    assert(TxTable.readStats(root, restoredV).nonEmpty,
      "restored version lost the dirs' skipping stats")
    // txn ledger kept from the CURRENT state: the replayed batch still no-ops
    val before = TxTable.latestVersion(root)
    TxTable.appendIdempotent(spark, root, df(99L -> "replay"), "app", 7L)
    assert(TxTable.latestVersion(root) == before && state() == goodState,
      "restore un-recorded the writer ledger: a replayed batch double-committed")
    // restoring to the current version is a no-op
    assert(TxTable.restore(spark, root, before) == before)
    // a restore is itself restorable (back to the mistake, then back again)
    TxTable.restore(spark, root, goodV + 1)
    assert(state() == Set(9L -> "oops"))
    TxTable.restore(spark, root, goodV)
    assert(state() == goodState)
  }

  test("restore races a concurrent append: both serialize, final state is a consistent snapshot") {
    import spark.implicits._
    val root = tmp()
    def df(rows: (Long, String)*) = rows.toDF("k", "v")
    TxTable.refresh(spark, root, df(1L -> "a"))  // v0
    TxTable.append(spark, root, df(2L -> "b"))   // v1
    // interleave: the appender commits INSIDE the restore's commit
    // window (the restore sees v1 as base, targets v2; the append wins
    // v2 first, the restore's optimistic loop rebases and commits v3)
    var fired = false
    TxTable.beforeCommitHook = () => {
      if (!fired) { fired = true; TxTable.append(spark, root, df(3L -> "c")) }
    }
    try TxTable.restore(spark, root, 0L)
    finally TxTable.beforeCommitHook = () => ()
    // the restore committed AFTER the append and its contract is
    // "current state = v0's": the racing append is undone by version
    // order (still time-travel readable), exactly Delta's RESTORE
    // semantics under concurrency
    val state = TxTable.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state == Set(1L -> "a"), s"restore race produced $state")
    val latest = TxTable.latestVersion(root)
    assert(TxTable.snapshot(root, latest).action == "restore")
    // dense versions, every one readable, the raced append preserved in history
    (0L to latest).foreach(v => assert(TxTable.versionExists(root, v)))
    val hist = (0L to latest).map(v => TxTable.read(spark, root, v).count())
    assert(hist.contains(3L), "the raced append's version vanished from history")
  }

  test("fast manifest parser equals the regex reference on adversarial round-trips") {
    import TxTable.Snapshot
    val adversarial = Seq(
      Snapshot(0L, "refresh", Seq("data/v0-aa")),
      Snapshot(7L, "append", Seq("data/v0-aa", "data/v7-bb")),
      // every field populated, with qs-escaped quotes and backslashes in
      // the user-controlled strings
      Snapshot(12L, "merge",
        dirs = Seq("data/v1-x", "data/v2-y", "data/v3-z"),
        parts = Seq("de", "en \"quoted\"", "fr\\back"),
        statsCols = Seq("k", "with \"q\""),
        schemaDdl = "k BIGINT,v STRING COMMENT 'has \"quotes\" and \\ slash'",
        layout = "buckets=64 \\ \"x\"",
        bloomCols = Seq("sha"),
        txnApps = Seq("app \"a\"", "/ckpt/q1"),
        txnIds = Seq(42L, -1L)),
      // empty lists and defaults
      Snapshot(3L, "setstats", Nil, Nil, Nil, "", "", Nil, Nil, Nil),
      // a big one: the 100k-dir shape the fast path exists for
      Snapshot(1L, "compact", (0 until 5000).map(i => f"data/v1-$i%08x")))
    adversarial.foreach { s =>
      val body = TxTable.renderForTest(s)
      val fast = TxTable.parseFast(body)
      val regex = TxTable.parseRegex(body)
      assert(fast == regex, s"parser divergence on: $body")
      assert(fast == s, s"round-trip loss on: $s")
    }
    // stats sidecar: numeric (NaN/Infinity included) + escaped string rows
    val stats = Seq(
      TxTable.DirStat("data/v0-aa", "k", -1.5e300, 2.25),
      TxTable.DirStat("data/v0-aa", "ts", Double.NaN, Double.NaN),
      TxTable.DirStat("data/v1-bb", "k", Double.PositiveInfinity, Double.NegativeInfinity))
    val strStats = Seq(
      TxTable.DirStrStat("data/v0-aa", "lang", "de", "en"),
      TxTable.DirStrStat("data/v1-bb", "s", "a \"q\" b", "z\\end"))
    val body = TxTable.renderStatsForTest(9L, stats, strStats)
    val (fastN, fastS) = TxTable.parseStatsFast(body)
    val (regN, regS) = TxTable.readStatsRegex(body)
    def key(d: TxTable.DirStat) = (d.dir, d.col, d.min.toString, d.max.toString)
    assert(fastN.map(key) == regN.map(key), s"numeric stat divergence on: $body")
    assert(fastS == regS, s"string stat divergence on: $body")
    assert(fastS == strStats)
  }

  test("snapshot cache: invalidated by externally replaced manifests (size/mtime guard)") {
    import spark.implicits._
    val root = tmp()
    TxTable.refresh(spark, root, Seq((1L, "a")).toDF("k", "v"))
    assert(TxTable.snapshot(root).dirs.length == 1)
    // externally rewrite v0's manifest (simulates delete-and-recreate
    // of a table at the same path — outside the protocol, but the
    // cache must not serve the stale parse)
    val p = java.nio.file.Paths.get(root, "_txlog", "v00000000.json")
    val fresh = TxTable.renderForTest(TxTable.Snapshot(0L, "refresh",
      Seq("data/v0-other1", "data/v0-other2")))
    java.nio.file.Files.writeString(p, fresh)
    assert(TxTable.snapshot(root).dirs ==
      Seq("data/v0-other1", "data/v0-other2"),
      "cache served a stale snapshot after the manifest changed on disk")
  }

  /** A whole-table table that declares `k` as its stats column, holding
    * one dir per key range (`k` from `lo` until `hi`, v = "v<k>"). */
  private def keyedTable(ranges: (Long, Long)*): String = {
    val root = tmp()
    TxTable.create(root, df().schema, statsCols = Seq("k"))
    ranges.foreach { case (lo, hi) =>
      TxTable.mergeUpsert(spark, root, df((lo until hi).map(i => i -> s"v$i"): _*), "k")
    }
    root
  }

  test("scoped MERGE: an insert-only upsert adds one dir and keeps every base dir by reference") {
    val root = keyedTable((0L, 10L), (10L, 20L))
    val base = TxTable.snapshot(root)
    assert(base.dirs.length == 2, s"insert-only upserts rewrote the table: ${base.dirs}")
    val v = TxTable.mergeUpsert(spark, root, df(20L -> "a", 25L -> "b"), "k")
    val after = TxTable.snapshot(root, v)
    assert(after.dirs.length == 3 && after.dirs.take(2) == base.dirs,
      s"base dirs not kept by reference: ${base.dirs} -> ${after.dirs}")
    assert(TxTable.readStats(root, v).exists(s =>
      s.dir == after.dirs.last && s.col == "k" && s.min == 20.0 && s.max == 25.0))
    assert(rowsOf(root).size == 22)
  }

  test("scoped MERGE: an upsert whose keys lie in one of three dirs rewrites only that dir") {
    val root = keyedTable((0L, 10L), (10L, 20L), (20L, 30L))
    val base = TxTable.snapshot(root)
    val batch = df(12L -> "X", 15L -> "Y")
    val want = graft.etl.Gold.merge(TxTable.read(spark, root), batch, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val v = TxTable.mergeUpsert(spark, root, batch, "k")
    val after = TxTable.snapshot(root, v)
    assert(after.dirs.length == 3)
    assert(after.dirs.take(2) == Seq(base.dirs(0), base.dirs(2)),
      s"untouched dirs not kept by reference: ${base.dirs} -> ${after.dirs}")
    assert(!after.dirs.contains(base.dirs(1)), "the candidate dir was not rewritten")
    val got = TxTable.read(spark, root).collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == want, "the scoped MERGE differs from Gold.merge over the whole table")
  }

  test("scoped MERGE: upserts with disjoint key ranges that race both commit without recompute") {
    val root = keyedTable((0L, 10L))
    TxTable.resetCounters()
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    TxTable.beforeCommitHook = () =>
      if (armed.compareAndSet(true, false)) TxTable.mergeUpsert(spark, root, df(5L -> "W"), "k")
    try TxTable.mergeUpsert(spark, root, df(100L -> "l", 110L -> "m"), "k")
    finally TxTable.beforeCommitHook = () => ()
    assert(!armed.get, "the race never happened")
    assert(TxTable.latestVersion(root) == 3, "both upserts must commit")
    assert(TxTable.rebaseRecomputes.get() == 0, "a disjoint race must not recompute")
    assert(TxTable.fastForwardCommits.get() == 1)
    assert(rowsOf(root) == (0L until 10L).map(i => i -> (if (i == 5L) "W" else s"v$i")).toSet ++
      Set(100L -> "l", 110L -> "m"))
  }

  test("scoped MERGE: a winner that adds a dir in the loser's key range forces a recompute") {
    val root = keyedTable((0L, 10L))
    TxTable.resetCounters()
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    TxTable.beforeCommitHook = () =>
      if (armed.compareAndSet(true, false)) TxTable.mergeUpsert(spark, root, df(105L -> "winner"), "k")
    try TxTable.mergeUpsert(spark, root, df(100L -> "l", 105L -> "loser", 110L -> "m"), "k")
    finally TxTable.beforeCommitHook = () => ()
    assert(TxTable.latestVersion(root) == 3)
    assert(TxTable.rebaseRecomputes.get() == 1 && TxTable.fastForwardCommits.get() == 0)
    val keys = TxTable.read(spark, root).collect().map(_.getLong(0))
    assert(keys.length == keys.distinct.length, s"a key appears twice: ${keys.sorted.toSeq}")
    assert(rowsOf(root).contains(105L -> "loser"), "the later writer must win key 105")
  }

  private type StatRow = (Option[Long], Option[Double], Option[String])

  test("stats a write observes equal what dirStatsOf reads back, sentinels included") {
    import org.scalacheck.{Gen, Prop, Test}
    import spark.implicits._
    val cols = Seq("k", "x", "s")
    val long = "q" * (TxTable.StrStatMaxLen + 10)
    val rowGen: Gen[StatRow] = for {
      k <- Gen.frequency(1 -> Gen.const(None), 4 -> Gen.choose(-1000L, 1000L).map(Some(_)))
      x <- Gen.oneOf(None, Some(Double.NaN), Some(-0.5), Some(2.25), Some(1e300))
      s <- Gen.oneOf(None, Some(""), Some("a"), Some("zz"), Some("é\"\\"), Some("😀"),
        Some(long))
    } yield (k, x, s)
    val frames: Gen[List[StatRow]] = Gen.frequency(1 -> Gen.const(Nil),
      1 -> Gen.const(List.fill[StatRow](3)((None, None, None))),
      6 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, rowGen)))
    val covered = scala.collection.mutable.Set[String]()
    val prop = Prop.forAll(frames) { (rows: List[StatRow]) =>
      covered ++= Seq("empty" -> rows.isEmpty, "all-NULL" -> (rows.nonEmpty && rows.forall(_._1.isEmpty)),
        "NaN" -> rows.exists(_._2.exists(_.isNaN)), "numeric" -> rows.exists(_._1.nonEmpty),
        "string" -> rows.exists(_._3.nonEmpty)).collect { case (n, true) => n }
      val root = tmp()
      val frame = rows.toDF("k", "x", "s")
      TxTable.create(root, frame.schema, statsCols = cols)
      val v = TxTable.append(spark, root, frame)
      val snap = TxTable.snapshot(root, v)
      val dir = snap.dirs.head
      val (num, str) = TxTable.dirStatsOf(spark, root, snap, Seq(dir), cols)
      TxTable.readStats(root, v).toSet == num.toSet && TxTable.readStrStats(root, v).toSet == str.toSet
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(40)
      .withInitialSeed(20261020L).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
    assert(covered == Set("empty", "all-NULL", "NaN", "numeric", "string"), covered)
  }

}
