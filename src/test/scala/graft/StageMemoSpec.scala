package graft

import graft.queries.{StageMemo, VectorOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The staged-pipeline memo contract: build-once-read-many with values
  * identical to the live computation, a content-fingerprinted key so an
  * in-place table rewrite regenerates, and hit/miss accounting on the
  * shared bench counters (what makes a stage build visible in
  * `reps_raw` instead of silently vanishing from the measurement). */
class StageMemoSpec extends AnyFunSuite with LocalSpark {

  test("materialize builds once, serves identical rows on every later call") {
    import spark.implicits._
    StageMemo.clear()
    var builds = 0
    def build = { builds += 1; Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v") }
    val first = StageMemo.materialize(spark, "spec-key-1", "spec")(build)
      .collect().map(_.toSeq).toSet
    val second = StageMemo.materialize(spark, "spec-key-1", "spec")(build)
      .collect().map(_.toSeq).toSet
    assert(builds == 1, "second call must read the materialization, not rebuild")
    assert(first == Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    assert(second == first)
  }

  test("clear() forgets the path and a new key rebuilds") {
    import spark.implicits._
    var builds = 0
    def build = { builds += 1; Seq(1L).toDF("id") }
    StageMemo.materialize(spark, "spec-key-2", "spec")(build)
    StageMemo.clear()
    StageMemo.materialize(spark, "spec-key-2", "spec")(build)
    assert(builds == 2, "clear() must force a rebuild")
  }

  test("stampedKey changes when a table file is rewritten in place") {
    val dir = java.nio.file.Files.createTempDirectory("stagememo-fp-").toString
    val sub = new java.io.File(s"$dir/documents.parquet"); sub.mkdirs()
    val f = new java.io.File(sub, "part-00000.snappy.parquet")
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    val k1 = VectorOps.stampedKey(dir, "documents")
    // same path, different size => different fingerprint (mtime
    // granularity can be 1s on some filesystems, so change the SIZE)
    java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3, 4))
    val k2 = VectorOps.stampedKey(dir, "documents")
    assert(k1 != k2, "in-place rewrite must change the stage key")
  }

  test("hits/misses land on the shared bench counters") {
    import spark.implicits._
    StageMemo.clear()
    val h0 = VectorOps.memoHits.get(); val m0 = VectorOps.memoMisses.get()
    StageMemo.materialize(spark, "spec-key-3", "spec")(Seq(1L).toDF("id"))
    StageMemo.materialize(spark, "spec-key-3", "spec")(Seq(1L).toDF("id"))
    assert(VectorOps.memoMisses.get() == m0 + 1)
    assert(VectorOps.memoHits.get() == h0 + 1)
  }

  // --- round 19: durable stages (TxTable commits under
  // spark.graft.stage.root) ---

  private def withStageRoot[T](body: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory("stagememo-root-").toString
    spark.conf.set(StageMemo.StageRootConf, root)
    try body(root)
    finally { spark.conf.unset(StageMemo.StageRootConf); StageMemo.clear() }
  }

  test("durable mode: a stage survives the session (cross-JVM hit skips the build)") {
    import spark.implicits._
    withStageRoot { root =>
      StageMemo.clear()
      var builds = 0
      def build = { builds += 1; Seq((1L, "a"), (2L, "b")).toDF("id", "v") }
      val first = StageMemo.materialize(spark, "durable-key-1", "dspec")(build)
        .collect().map(_.toSeq).toSet
      assert(builds == 1)
      // the materialization is a committed TxTable under the root
      val dirs = new java.io.File(root).listFiles().filter(_.isDirectory)
      assert(dirs.length == 1 && graft.etl.TxTable.exists(dirs.head.toString),
        s"expected one committed stage table, got ${dirs.toSeq}")
      // simulate a NEW JVM: the in-memory path memo is gone, the
      // committed table is not — the build must NOT re-run
      StageMemo.clear()
      val second = StageMemo.materialize(spark, "durable-key-1", "dspec")(build)
        .collect().map(_.toSeq).toSet
      assert(builds == 1, "cross-session call must read the committed stage, not rebuild")
      assert(second == first)
    }
  }

  test("durable mode: staged rows equal the live computation on the gate corpus") {
    withStageRoot { _ =>
      StageMemo.clear()
      val dir = "/root/testdata/sf0.001"
      val staged = SparkEntry.queries("q51_neardup_clusters")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val livePairs = SparkEntry.queries("q48_neardup_pipeline")(spark, dir)
        .select(col("doc_a"), col("doc_b"))
      val live = graft.operators.Components.connectedComponents(livePairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(staged == live)
    }
  }

  test("durable mode: an in-place upstream rewrite keys a fresh stage table") {
    import spark.implicits._
    withStageRoot { root =>
      StageMemo.clear()
      // stand-in upstream table whose fingerprint we control
      val up = java.nio.file.Files.createTempDirectory("stagememo-up-").toString
      val sub = new java.io.File(s"$up/documents.parquet"); sub.mkdirs()
      val f = new java.io.File(sub, "part-00000.snappy.parquet")
      java.nio.file.Files.write(f.toPath, Array[Byte](1))
      var builds = 0
      def build = { builds += 1; Seq(builds.toLong).toDF("gen") }
      def run() = StageMemo.materialize(spark,
        s"${VectorOps.stampedKey(up, "documents")}#rewrite-spec", "rspec")(build)
        .collect().map(_.getLong(0)).toSeq
      assert(run() == Seq(1L))
      // rewrite upstream in place (size change => new fingerprint):
      // even after forgetting in-memory paths, the OLD durable stage
      // must not be served for the NEW contents
      java.nio.file.Files.write(f.toPath, Array[Byte](1, 2))
      StageMemo.clear()
      assert(run() == Seq(2L), "rewritten upstream must regenerate the stage")
      assert(builds == 2)
      // both generations' stage tables coexist under the root
      assert(new java.io.File(root).listFiles().count(_.isDirectory) == 2)
    }
  }

  test("durable mode: a squatting table under the stage name fails loudly") {
    import spark.implicits._
    withStageRoot { root =>
      StageMemo.clear()
      // materialize once, then corrupt the sidecar to simulate a
      // collision / foreign table
      StageMemo.materialize(spark, "squat-key", "sspec")(Seq(1L).toDF("id"))
      val dir = new java.io.File(root).listFiles().filter(_.isDirectory).head
      java.nio.file.Files.write(new java.io.File(dir, "_stage_key").toPath,
        "some-other-key".getBytes)
      StageMemo.clear()
      val ex = intercept[IllegalArgumentException] {
        StageMemo.materialize(spark, "squat-key", "sspec")(Seq(1L).toDF("id"))
      }
      assert(ex.getMessage.contains("stage root corrupted or hash-collided"))
    }
  }

  test("durable mode: a crash between sidecar and commit self-heals (sidecar-first ordering)") {
    import spark.implicits._
    withStageRoot { root =>
      StageMemo.clear()
      // simulate a builder that died AFTER writing the sidecar but
      // BEFORE the TxTable commit (the write order the r19 review
      // fixed: sidecar first, so a COMMITTED stage always has its key
      // on disk — the half-state left behind is sidecar-without-table)
      var builds = 0
      def build = { builds += 1; Seq(7L).toDF("id") }
      StageMemo.materialize(spark, "crash-key", "cspec")(build)
      val dir = new java.io.File(root).listFiles().filter(_.isDirectory).head
      assert(new java.io.File(dir, "_stage_key").exists())
      // reconstruct the half-state: keep the sidecar, drop the table
      val keep = java.nio.file.Files.readAllBytes(
        new java.io.File(dir, "_stage_key").toPath)
      graft.etl.TxTable.deleteRecursively(dir)
      dir.mkdirs()
      java.nio.file.Files.write(new java.io.File(dir, "_stage_key").toPath, keep)
      StageMemo.clear()
      // next materialize must treat it as not-built: rebuild cleanly,
      // no 'corrupted' failure
      val rows = StageMemo.materialize(spark, "crash-key", "cspec")(build)
        .collect().map(_.getLong(0)).toSeq
      assert(rows == Seq(7L) && builds == 2,
        s"half-committed stage must rebuild, got builds=$builds")
    }
  }

  test("vacuumStages sweeps only stage tables older than retention") {
    import spark.implicits._
    withStageRoot { root =>
      StageMemo.clear()
      StageMemo.materialize(spark, "vac-key-1", "vspec")(Seq(1L).toDF("id"))
      val dir = new java.io.File(root).listFiles().filter(_.isDirectory).head.toString
      // young stage: survives a 1-hour retention
      assert(StageMemo.vacuumStages(root, olderThanMs = 3600L * 1000).isEmpty)
      assert(graft.etl.TxTable.exists(dir))
      // same stage judged against a future 'now': swept, and the
      // in-memory path memo forgets it so the next call rebuilds
      val swept = StageMemo.vacuumStages(root, olderThanMs = 3600L * 1000,
        nowMs = System.currentTimeMillis() + 7200L * 1000)
      assert(swept == Seq(dir))
      assert(!new java.io.File(dir).exists())
      var rebuilds = 0
      StageMemo.materialize(spark, "vac-key-1", "vspec") {
        rebuilds += 1; Seq(1L).toDF("id")
      }.collect()
      assert(rebuilds == 1, "swept stage must rebuild on next use")
    }
  }

  test("the dedup stage consumers agree with the live computation") {
    // q59/q83 read materialized pairs+clusters; assert against a
    // freshly-computed live q51 labeling on the gate corpus that the
    // staged cluster ids are the identical mapping.
    StageMemo.clear()
    val dir = "/root/testdata/sf0.001"
    val staged = SparkEntry.queries("q51_neardup_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val livePairs = SparkEntry.queries("q48_neardup_pipeline")(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val live = graft.operators.Components.connectedComponents(livePairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(staged == live)
  }
}
