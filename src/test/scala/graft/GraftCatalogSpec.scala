package graft

import graft.etl.TxTable
import graft.sources.GraftTableSource
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The name-based SQL surface ([[graft.sources.GraftCatalog]]): a
  * SQL-only user must be able to create, load, query, time-travel, and
  * administer graft tables with zero Scala calls and zero paths —
  * the round-19 verdict's Delta-parity gap. */
class GraftCatalogSpec extends AnyFunSuite with LocalSpark {

  private val warehouse: String =
    java.nio.file.Files.createTempDirectory("graft-catalog-wh-").toString

  override lazy val spark: SparkSession = {
    val s = LocalSpark.session()
    // catalogs instantiate lazily on first reference, so runtime conf
    // is enough — and it proves config-only registration (no builder
    // code path needed)
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft.root", warehouse)
    s
  }

  private def sql(q: String) = spark.sql(q)

  test("pure-SQL lifecycle: create, insert, select, time travel, drop — no Scala, no paths") {
    sql("CREATE NAMESPACE graft.db")
    sql("CREATE TABLE graft.db.t (k BIGINT, v STRING) " +
      "TBLPROPERTIES('statsColumns'='k')")
    // the created table is a real TxTable with the schema recorded as
    // a v0 create commit, skipping columns declared
    val root = s"$warehouse/db/t"
    assert(TxTable.exists(root))
    assert(TxTable.snapshot(root, 0L).action == "create")
    assert(TxTable.snapshot(root, 0L).statsCols == Seq("k"))
    // empty table reads as zero rows with the declared schema
    assert(sql("SELECT * FROM graft.db.t").count() == 0)
    assert(sql("SELECT * FROM graft.db.t").schema.fieldNames.toSeq == Seq("k", "v"))

    sql("INSERT INTO graft.db.t VALUES (1, 'a'), (2, 'b')")
    sql("INSERT INTO graft.db.t VALUES (3, 'c')")
    assert(sql("SELECT * FROM graft.db.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set(1L -> "a", 2L -> "b", 3L -> "c"))

    // VERSION AS OF: v0 = create (empty), v1 = first insert
    assert(sql("SELECT * FROM graft.db.t VERSION AS OF 0").count() == 0)
    assert(sql("SELECT * FROM graft.db.t VERSION AS OF 1").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))

    // TIMESTAMP AS OF: v1's commit time resolves to v1 (not v2).
    // Render the instant in the SESSION timezone — Timestamp.toString
    // uses the JVM default zone while Spark parses under
    // spark.sql.session.timeZone, so the bare form shifts the probe
    // by the zone offset on any non-UTC JVM (r19 reviewer)
    val t1 = java.time.Instant.ofEpochMilli(TxTable.commitTimeMs(root, 1L))
      .atZone(java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone")))
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(sql(s"SELECT * FROM graft.db.t TIMESTAMP AS OF '$t1'").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    // a pre-creation timestamp fails loudly instead of reading latest
    val ex = intercept[Exception] {
      sql("SELECT * FROM graft.db.t TIMESTAMP AS OF '1999-01-01 00:00:00'").collect()
    }
    assert(ex.getMessage.contains("no version committed at or before"))

    // INSERT OVERWRITE = transactional refresh, history preserved
    sql("INSERT OVERWRITE graft.db.t VALUES (9, 'z')")
    assert(sql("SELECT * FROM graft.db.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set(9L -> "z"))
    assert(sql("SELECT * FROM graft.db.t VERSION AS OF 2").count() == 3)

    // catalog plumbing
    assert(sql("SHOW TABLES IN graft.db").collect().map(_.getString(1)).toSeq == Seq("t"))
    assert(sql("DESCRIBE TABLE graft.db.t").collect()
      .map(_.getString(0)).toSet.contains("k"))
    // the transactional state surfaces as table properties
    val props = sql("SHOW TBLPROPERTIES graft.db.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("statsColumns") == "k" && props("version") == "3" &&
      props("action") == "refresh", props)
    sql("DROP TABLE graft.db.t")
    assert(!TxTable.exists(root))
    intercept[Exception] { sql("SELECT * FROM graft.db.t").collect() }
  }

  test("name-based reads keep manifest-level skipping engaged (pruned BatchScan)") {
    import spark.implicits._
    sql("CREATE TABLE graft.skip (k BIGINT, v STRING) TBLPROPERTIES('statsColumns'='k')")
    // 4 batches of 100 contiguous keys = 4 statted dirs
    (0 until 4).foreach { b =>
      val vals = (b * 100L until (b + 1) * 100L)
        .map(k => s"($k, 'v$k')").mkString(", ")
      sql(s"INSERT INTO graft.skip VALUES $vals")
    }
    val df = sql("SELECT v FROM graft.skip WHERE k >= 150 AND k < 250")
    assert(df.collect().map(_.getString(0)).toSet ==
      (150L until 250L).map(k => s"v$k").toSet)
    // the plan is the DSv2 GraftScan delegating to ParquetScan, and the
    // WHERE clause pruned dirs at the manifest level
    val nodes = PlanSpec.allNodes(df.queryExecution.executedPlan)
    val scans = nodes.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }
    assert(scans.exists(_.isInstanceOf[graft.sources.GraftScan]),
      s"expected the graft DSv2 scan, got ${nodes.map(_.nodeName)}")
    assert(GraftTableSource.lastKeptDirs.get <= 2 &&
      GraftTableSource.lastPrunedDirs.get >= 2,
      s"skipping not engaged: kept=${GraftTableSource.lastKeptDirs.get} " +
        s"pruned=${GraftTableSource.lastPrunedDirs.get}")
    // schema enforcement holds on the SQL write path
    val mism = intercept[Exception] {
      sql("INSERT INTO graft.skip VALUES (1)")
    }
    assert(mism != null)
    sql("DROP TABLE graft.skip")
  }

  test("ALTER TABLE SET TBLPROPERTIES routes to the skipping declarations; others rejected") {
    sql("CREATE TABLE graft.alt (k BIGINT, s STRING)")
    sql("INSERT INTO graft.alt VALUES (1, 'x')")
    sql("ALTER TABLE graft.alt SET TBLPROPERTIES('statsColumns'='k')")
    val root = s"$warehouse/alt"
    assert(TxTable.snapshot(root).statsCols == Seq("k"))
    sql("ALTER TABLE graft.alt SET TBLPROPERTIES('bloomColumns'='s')")
    assert(TxTable.snapshot(root).bloomCols == Seq("s"))
    // ADD COLUMNS is supported (zero-copy evolve commit — its own
    // test); destructive schema changes are NOT: dropping a column
    // would corrupt old-dir reads, so it rides a write with evolve=true
    val ex = intercept[Exception] {
      sql("ALTER TABLE graft.alt DROP COLUMN s")
    }
    assert(ex.getMessage.contains("evolve"), ex.getMessage)
    // rename keeps the table (and its history) intact
    sql("ALTER TABLE graft.alt RENAME TO alt2")
    assert(sql("SELECT * FROM graft.alt2").count() == 1)
    assert(sql("SELECT * FROM graft.alt2 VERSION AS OF 1").count() == 1)
    sql("DROP TABLE graft.alt2")
  }

  test("PARTITIONED BY is rejected with the skipping-columns pointer") {
    val ex = intercept[Exception] {
      sql("CREATE TABLE graft.part (k BIGINT, d STRING) PARTITIONED BY (d)")
    }
    assert(ex.getMessage.contains("statsColumns"), ex.getMessage)
  }

  test("identifier segments cannot escape the warehouse root") {
    val ex = intercept[Exception] {
      spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
          Array(".."), "etc"))
    }
    assert(ex.getMessage.contains("illegal graft identifier"), ex.getMessage)
  }

  // --- MERGE INTO (GraftMergeRule, registered via GraftSparkExtensions) ---

  /** A sibling session with the extensions' analyzer rules injected
    * (the spec-JVM equivalent of
    * spark.sql.extensions=graft.plans.GraftSparkExtensions, which
    * ExtensionsProbe drives on a fresh JVM). */
  private lazy val mergeSession: SparkSession = {
    val s2 = org.apache.spark.sql.GraftBridge.sessionWithInjected(spark)(ext =>
      new graft.plans.GraftSparkExtensions().apply(ext))
    s2.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.graft.root", warehouse)
    s2
  }

  test("MERGE INTO by name is the transactional upsert, row-for-row with Gold.upsert") {
    import spark.implicits._
    val s2 = mergeSession
    s2.sql("CREATE TABLE graft.m (k BIGINT, v STRING)")
    s2.sql("INSERT INTO graft.m VALUES (1, 'a'), (2, 'b')")
    val before = TxTable.latestVersion(s"$warehouse/m")
    s2.sql("""MERGE INTO graft.m AS t
             |USING (SELECT * FROM VALUES (2L, 'B'), (3L, 'c') AS x(k, v)) AS s
             |ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = s2.sql("SELECT * FROM graft.m").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(1L -> "a", 2L -> "B", 3L -> "c"))
    // exactly ONE commit, and it is a merge
    assert(TxTable.latestVersion(s"$warehouse/m") == before + 1)
    assert(TxTable.snapshot(s"$warehouse/m").action == "merge")
    // row-for-row ≡ Gold.upsert applying the same incoming batch to the
    // same pre-merge state
    val goldRoot = tmpTable("gold-twin")
    graft.etl.Gold.upsert(spark, goldRoot, Seq(1L -> "a", 2L -> "b").toDF("k", "v"), "k")
    graft.etl.Gold.upsert(spark, goldRoot, Seq(2L -> "B", 3L -> "c").toDF("k", "v"), "k")
    val goldRows = graft.etl.Gold.readTable(spark, goldRoot).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == goldRows)
    s2.sql("DROP TABLE graft.m")
  }

  test("MERGE source column order does not matter (aligned by name, target-typed)") {
    val s2 = mergeSession
    s2.sql("CREATE TABLE graft.mo (k BIGINT, v STRING)")
    s2.sql("INSERT INTO graft.mo VALUES (1, 'a')")
    // source projects (v, k) — reversed — and k as INT (cast to BIGINT)
    s2.sql("""MERGE INTO graft.mo t
             |USING (SELECT 'z' AS v, 9 AS k) s
             |ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(s2.sql("SELECT * FROM graft.mo").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set(1L -> "a", 9L -> "z"))
    s2.sql("DROP TABLE graft.mo")
  }

  test("MERGE shapes beyond the upsert fail loudly, table untouched") {
    val s2 = mergeSession
    s2.sql("CREATE TABLE graft.mr (k BIGINT, v STRING)")
    s2.sql("INSERT INTO graft.mr VALUES (1, 'a')")
    val v = TxTable.latestVersion(s"$warehouse/mr")
    def rejected(q: String, needle: String): Unit = {
      val ex = intercept[Exception] { s2.sql(q) }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(ex).exists(c => c.getMessage != null &&
        c.getMessage.contains("graft MERGE INTO supports exactly")),
        s"wrong failure for [$needle]: $ex")
    }
    rejected("""MERGE INTO graft.mr t USING (SELECT 1L AS k, 'x' AS v) s
               |ON t.k = s.k
               |WHEN MATCHED THEN DELETE""".stripMargin, "DELETE")
    rejected("""MERGE INTO graft.mr t USING (SELECT 1L AS k, 'x' AS v) s
               |ON t.k = s.k AND t.v = s.v
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin, "multi-key")
    rejected("""MERGE INTO graft.mr t USING (SELECT 1L AS k, 'x' AS v) s
               |ON t.k = s.k
               |WHEN MATCHED AND s.v = 'x' THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin, "conditional")
    rejected("""MERGE INTO graft.mr t USING (SELECT 1L AS k, 'x' AS v) s
               |ON t.k = s.k
               |WHEN MATCHED THEN UPDATE SET v = concat(s.v, '!')
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin, "expression assignment")
    // nothing committed by any rejected statement
    assert(TxTable.latestVersion(s"$warehouse/mr") == v)
    assert(s2.sql("SELECT v FROM graft.mr").collect().map(_.getString(0)).toSeq == Seq("a"))
    s2.sql("DROP TABLE graft.mr")
  }

  test("ALTER TABLE ADD COLUMNS: zero-copy evolve commit; old rows read NULL; time travel keeps old schema") {
    sql("CREATE TABLE graft.ev (k BIGINT, v STRING)")
    sql("INSERT INTO graft.ev VALUES (1, 'a'), (2, 'b')")
    val root = s"$warehouse/ev"
    val dirsBefore = TxTable.snapshot(root).dirs.toSet

    sql("ALTER TABLE graft.ev ADD COLUMNS (n BIGINT, tag STRING)")
    // ONE metadata-only commit: same data dirs carried by reference
    assert(TxTable.snapshot(root).action == "evolve")
    assert(TxTable.snapshot(root).dirs.toSet == dirsBefore)
    // pre-evolve rows read the appended columns as NULL
    val rows = sql("SELECT k, v, n, tag FROM graft.ev ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.isNullAt(2),
      r.isNullAt(3))).toSeq == Seq((1L, "a", true, true), (2L, "b", true, true)))
    // new-shape inserts land; mixed generations read consistently
    sql("INSERT INTO graft.ev VALUES (3, 'c', 30, 't')")
    assert(sql("SELECT n FROM graft.ev WHERE k = 3").head.getLong(0) == 30L)
    assert(sql("SELECT count(*) FROM graft.ev WHERE n IS NULL").head.getLong(0) == 2L)
    // time travel: the pre-evolve version still reads under ITS schema
    assert(sql("SELECT * FROM graft.ev VERSION AS OF 1").schema.fieldNames.toSeq ==
      Seq("k", "v"))
    assert(sql("SELECT * FROM graft.ev").schema.fieldNames.toSeq ==
      Seq("k", "v", "n", "tag"))

    // refused shapes: NOT NULL adds, duplicate names — loudly, no commit
    val vNow = TxTable.latestVersion(root)
    val nn = intercept[Exception] {
      sql("ALTER TABLE graft.ev ADD COLUMNS (m BIGINT NOT NULL)")
    }
    assert(nn.getMessage.contains("nullable"), nn.getMessage)
    val dup = intercept[Exception] {
      sql("ALTER TABLE graft.ev ADD COLUMNS (v STRING)")
    }
    assert(dup.getMessage.toLowerCase.contains("exist"), dup.getMessage)
    assert(TxTable.latestVersion(root) == vNow)
    sql("DROP TABLE graft.ev")
  }

  test("CALL graft.system.history lists retained versions newest-first by name") {
    sql("CREATE TABLE graft.h (k BIGINT, v STRING)")
    sql("INSERT INTO graft.h VALUES (1, 'a')")
    sql("INSERT INTO graft.h VALUES (2, 'b')")
    sql("INSERT OVERWRITE graft.h VALUES (9, 'z')")
    val got = sql("CALL graft.system.history('h')").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L, 0L), got.toSeq)
    assert(got.map(_.getString(1)).toSeq == Seq("refresh", "append", "append", "create"))
    // schema matches the path-based TxTable.history surface
    assert(sql("CALL graft.system.history('h')").schema.fieldNames.toSeq ==
      Seq("version", "action", "dirs", "dirs_added", "partitions", "committed_at"))
    sql("DROP TABLE graft.h")
  }

  test("MERGE rejects a source with duplicate merge keys (SQL cardinality rule)") {
    val s2 = mergeSession
    s2.sql("CREATE TABLE graft.mdup (k BIGINT, v STRING)")
    s2.sql("INSERT INTO graft.mdup VALUES (1, 'a')")
    val v = TxTable.latestVersion(s"$warehouse/mdup")
    // two source rows for k=1: the anti-join+union upsert would land
    // BOTH, silently duplicating the keyed table — SQL (and Delta)
    // require the cardinality violation to error instead
    val ex = intercept[Exception] {
      s2.sql("""MERGE INTO graft.mdup t
               |USING (SELECT * FROM VALUES (1L, 'x'), (1L, 'y') AS s(k, v)) s
               |ON t.k = s.k
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(c => c.getMessage != null &&
      c.getMessage.contains("duplicate rows for merge key")), ex.toString)
    // nothing committed, table untouched
    assert(TxTable.latestVersion(s"$warehouse/mdup") == v)
    assert(s2.sql("SELECT * FROM graft.mdup").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq(1L -> "a"))
    // a deduplicated source (GROUP BY the key) then merges fine
    s2.sql("""MERGE INTO graft.mdup t
             |USING (SELECT k, max(v) AS v FROM VALUES (1L, 'x'), (1L, 'y') AS s(k, v)
             |       GROUP BY k) s
             |ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(s2.sql("SELECT v FROM graft.mdup").collect()
      .map(_.getString(0)).toSeq == Seq("y"))
    s2.sql("DROP TABLE graft.mdup")
  }

  test("CREATE TABLE rejects unknown TBLPROPERTIES and NOT NULL loudly; nothing created") {
    // a typo'd skipping declaration must NOT silently create an
    // unskipped table (ALTER TABLE parity)
    val typo = intercept[Exception] {
      sql("CREATE TABLE graft.badprops (k BIGINT) TBLPROPERTIES('statColumns'='k')")
    }
    assert(typo.getMessage.contains("statsColumns") &&
      typo.getMessage.contains("statColumns"), typo.getMessage)
    assert(!TxTable.exists(s"$warehouse/badprops"))
    // NOT NULL is neither recorded nor enforced by the format — refuse
    // the declaration rather than silently drop the constraint
    val nn = intercept[Exception] {
      sql("CREATE TABLE graft.nn (k BIGINT NOT NULL, v STRING)")
    }
    assert(nn.getMessage.contains("NOT NULL"), nn.getMessage)
    assert(!TxTable.exists(s"$warehouse/nn"))
    // the understood declarations still create (both families at once)
    sql("CREATE TABLE graft.okprops (k BIGINT, h STRING) " +
      "TBLPROPERTIES('statsColumns'='k', 'bloomColumns'='h')")
    assert(TxTable.snapshot(s"$warehouse/okprops", 0L).statsCols == Seq("k"))
    assert(TxTable.snapshot(s"$warehouse/okprops", 0L).bloomCols == Seq("h"))
    sql("DROP TABLE graft.okprops")
  }

  test("DML at the 2^53 boundary: inexact Double bounds refused, exact bounds classify in long space") {
    val s2 = mergeSession
    val big = 9007199254740992L // 2^53 — the last contiguous exact double
    s2.sql("CREATE TABLE graft.big (k BIGINT, v STRING)")
    s2.sql(s"INSERT INTO graft.big VALUES (1, 'a'), (2, 'b'), " +
      s"(${big - 1}, 'lo'), ($big, 'mid'), (${big + 1}, 'hi')")
    val root = s"$warehouse/big"
    val v0 = TxTable.latestVersion(root)

    // 2^53+1 has no exact double: a range bound there would silently
    // shift onto the neighboring key — refused loudly, nothing committed
    intercept[Exception] {
      s2.sql(s"DELETE FROM graft.big WHERE k >= ${big + 1}")
    }
    intercept[Exception] {
      s2.sql(s"UPDATE graft.big SET v = 'X' WHERE k >= ${big + 1}")
    }
    assert(TxTable.latestVersion(root) == v0)
    assert(s2.sql("SELECT count(*) FROM graft.big").head.getLong(0) == 5L)

    // an EXACT bound at 2^53 classifies rows in long space: k=2^53+1
    // casts to double 2^53 and the old try_cast predicate wrongly
    // matched it against `<= 2^53` — the typed predicate must not
    s2.sql(s"UPDATE graft.big SET v = upper(v) WHERE k <= $big")
    assert(s2.sql("SELECT k, v FROM graft.big ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq(1L -> "A", 2L -> "B", (big - 1) -> "LO", big -> "MID",
        (big + 1) -> "hi"))

    // the point forms stay exact at any magnitude (long-space equality)
    s2.sql(s"DELETE FROM graft.big WHERE k = ${big + 1}")
    assert(s2.sql("SELECT count(*) FROM graft.big").head.getLong(0) == 4L)
    assert(s2.sql(s"SELECT count(*) FROM graft.big WHERE k = $big")
      .head.getLong(0) == 1L)

    // exact range delete above 2^53-1 removes exactly {2^53}
    s2.sql(s"DELETE FROM graft.big WHERE k >= $big")
    assert(s2.sql("SELECT k FROM graft.big ORDER BY k").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, big - 1))
    s2.sql("DROP TABLE graft.big")
  }

  private def tmpTable(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-cat-$name").toString + "/t"

  // --- SQL UPDATE (GraftUpdateRule → scoped-rewrite updateKeys/Range) ---

  test("UPDATE by name: IN set and range shapes, expression assignments, scoped commits") {
    val s2 = mergeSession
    s2.sql("CREATE TABLE graft.upd (k BIGINT, v STRING, n BIGINT) " +
      "TBLPROPERTIES('statsColumns'='k')")
    val vals = (0L until 40L).map(k => s"($k, 'v$k', $k)").mkString(", ")
    s2.sql(s"INSERT INTO graft.upd VALUES $vals")
    val root = s"$warehouse/upd"

    // point shape → updateKeys commit; SET is an expression over the
    // table's own columns
    s2.sql("UPDATE graft.upd SET v = concat(v, '!'), n = n * 10 WHERE k IN (3, 5)")
    assert(TxTable.snapshot(root).action == "updateKeys")
    val got = s2.sql("SELECT v, n FROM graft.upd WHERE k IN (3, 5) ORDER BY k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("v3!", 30L), ("v5!", 50L)), got)
    assert(s2.sql("SELECT count(*) FROM graft.upd").head.getLong(0) == 40L)
    assert(s2.sql("SELECT v FROM graft.upd WHERE k = 4").head.getString(0) == "v4")

    // range shape (strict integral bounds tighten exactly)
    s2.sql("UPDATE graft.upd SET n = 0 WHERE k > 10 AND k <= 12")
    assert(TxTable.snapshot(root).action == "updateRange")
    // exactly (10, 12] = {11, 12} zeroed; 10 and 13 untouched
    assert(s2.sql("SELECT n FROM graft.upd WHERE k IN (10, 11, 12, 13) ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(10L, 0L, 0L, 13L))

    // every update is a commit; time travel reads the pre-update state
    assert(s2.sql("SELECT v FROM graft.upd VERSION AS OF 1 WHERE k = 3")
      .head.getString(0) == "v3")

    // rejected shapes fail loudly, table untouched
    val before = TxTable.latestVersion(root)
    def rejected(q: String): Unit = {
      val ex = intercept[Exception] { s2.sql(q) }
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(ex).exists(c => c.getMessage != null &&
        c.getMessage.contains("graft UPDATE supports")), s"wrong failure: $ex")
    }
    rejected("UPDATE graft.upd SET n = 0") // unconditioned = whole-table rewrite
    rejected("UPDATE graft.upd SET n = 0 WHERE v = 'v1' AND n = 1") // two columns
    assert(TxTable.latestVersion(root) == before)
    s2.sql("DROP TABLE graft.upd")
  }

  // --- SQL DELETE FROM (SupportsDelete: scoped-rewrite shapes only) ---

  test("DELETE FROM by name: IN set, closed range, strict integral bounds, truncate") {
    sql("CREATE TABLE graft.del (k BIGINT, v STRING) TBLPROPERTIES('statsColumns'='k')")
    val vals = (0L until 40L).map(k => s"($k, 'v$k')").mkString(", ")
    sql(s"INSERT INTO graft.del VALUES $vals")
    val root = s"$warehouse/del"

    sql("DELETE FROM graft.del WHERE k IN (3, 5)")
    assert(TxTable.snapshot(root).action == "deleteKeys")
    assert(sql("SELECT count(*) FROM graft.del").head.getLong(0) == 38L)

    // single equality is the point form too
    sql("DELETE FROM graft.del WHERE k = 7")
    assert(TxTable.snapshot(root).action == "deleteKeys")
    assert(sql("SELECT count(*) FROM graft.del").head.getLong(0) == 37L)

    // a bare IS NOT NULL is not a scoped shape: refused loudly
    val nn = intercept[Exception] { sql("DELETE FROM graft.del WHERE k IS NOT NULL") }
    assert(nn.getMessage.toLowerCase.contains("delete"), nn.getMessage)
    assert(sql("SELECT count(*) FROM graft.del").head.getLong(0) == 37L)

    sql("DELETE FROM graft.del WHERE k >= 10 AND k <= 19")
    assert(TxTable.snapshot(root).action == "deleteRange")
    assert(sql("SELECT count(*) FROM graft.del").head.getLong(0) == 27L)

    // strict bounds tighten exactly for integral columns: (30, 35) = [31, 34]
    sql("DELETE FROM graft.del WHERE k > 30 AND k < 35")
    assert(sql("SELECT k FROM graft.del WHERE k >= 30 AND k <= 35 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(30L, 35L))

    // every delete is a commit; time travel reads the pre-delete state
    assert(sql("SELECT count(*) FROM graft.del VERSION AS OF 1").head.getLong(0) == 40L)

    // arbitrary predicates are refused loudly (scoped-rewrite contract)
    val ex = intercept[Exception] {
      sql("DELETE FROM graft.del WHERE v = 'v0' AND k = 0")
    }
    assert(ex.getMessage.toLowerCase.contains("delete"), ex.getMessage)

    // unconditioned DELETE = truncate, as a full-replace commit
    sql("DELETE FROM graft.del")
    assert(sql("SELECT count(*) FROM graft.del").head.getLong(0) == 0L)
    assert(sql("SELECT * FROM graft.del").schema.fieldNames.toSeq == Seq("k", "v"))
    sql("DROP TABLE graft.del")
  }

  // --- CALL procedures (Delta OPTIMIZE/VACUUM/RESTORE parity) ---

  test("CALL graft.system.compact / restore / vacuum drive the table's maintenance") {
    sql("CREATE TABLE graft.mnt (k BIGINT, v STRING)")
    (0 until 4).foreach { b =>
      val vals = (b * 10L until (b + 1) * 10L).map(k => s"($k, 'v$k')").mkString(", ")
      sql(s"INSERT INTO graft.mnt VALUES $vals")
    }
    val root = s"$warehouse/mnt"
    val dirsBefore = TxTable.snapshot(root).dirs.length
    assert(dirsBefore == 4)
    // compact: 4 ingest dirs bin-pack into one commit
    val cv = sql("CALL graft.system.compact(table => 'mnt')").collect()
    assert(cv.length == 1 && cv.head.getLong(0) == 5L,
      s"compact returned ${cv.toSeq}")
    assert(TxTable.snapshot(root).action == "compact")
    assert(TxTable.snapshot(root).dirs.length < dirsBefore)
    assert(sql("SELECT count(*) FROM graft.mnt").head.getLong(0) == 40L)
    // restore: roll back to pre-compact version 4 (zero-copy)
    val rv = sql("CALL graft.system.restore(table => 'mnt', version => 4)").collect()
    assert(rv.head.getLong(0) == 6L)
    assert(TxTable.snapshot(root).dirs.length == dirsBefore)
    assert(sql("SELECT count(*) FROM graft.mnt").head.getLong(0) == 40L)
    // vacuum: forget history below version 6; old versions unreadable,
    // current contents intact
    sql("CALL graft.system.vacuum(table => 'mnt', keep_from => 6, grace_ms => 0)")
    intercept[Exception] { sql("SELECT * FROM graft.mnt VERSION AS OF 0").collect() }
    assert(sql("SELECT count(*) FROM graft.mnt").head.getLong(0) == 40L)
    sql("DROP TABLE graft.mnt")
  }

  test("procedures reject unknown tables and unknown names loudly") {
    val ex = intercept[Exception] {
      sql("CALL graft.system.compact(table => 'nope')").collect()
    }
    assert(ex.getMessage.contains("does not exist"), ex.getMessage)
    val ex2 = intercept[Exception] {
      sql("CALL graft.system.frobnicate(table => 'x')").collect()
    }
    // Spark wraps the catalog's error as FAILED_TO_LOAD_ROUTINE
    assert(ex2.getMessage.contains("frobnicate"), ex2.getMessage)
  }

  test("namespaces list, report metadata, and refuse non-cascade drop of non-empty") {
    sql("CREATE NAMESPACE graft.nsa")
    sql("CREATE TABLE graft.nsa.inner (k BIGINT)")
    val nss = sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0)).toSet
    assert(nss.contains("nsa"), nss)
    val ex = intercept[Exception] { sql("DROP NAMESPACE graft.nsa") }
    assert(ex != null)
    sql("DROP NAMESPACE graft.nsa CASCADE")
    assert(!new java.io.File(s"$warehouse/nsa").exists())
  }
}
