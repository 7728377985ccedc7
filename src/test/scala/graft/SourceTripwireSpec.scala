package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source-level tripwire against regrowth of deleted scaffolding. Every
  * local main builds its session through [[LocalSession]]; only
  * `ExtensionsProbe`, whose job is to prove config-only extension
  * registration on a fresh JVM, keeps its own builder. Measurement hooks
  * and probe mains stay out of `src/main`: A/B timing runs through
  * `graft.Bench` subsets on two trees and through `perfbench`. TxTable's
  * writers share one optimistic commit loop. Vectors are scored against
  * centroids or queries only by Similarity's kernel; the relational
  * forms it replaced live in the test tree. A bounded per-group top-k
  * runs on `TopKRows.perGroup`, not a hand-written rank window. TxTable
  * builds its keyed MERGE once, through `Gold.merge`, and takes a fresh
  * dir's stats from its write. Gold mints pks without `uuid()`. A
  * filtered read prunes dirs only in the `format("graft")` connector,
  * and a table is tailed only by its DSv2 micro-batch stream. */
class SourceTripwireSpec extends AnyFunSuite {

  private val mainSrc = Paths.get("src/main/scala")

  /** (path relative to src/main/scala, contents) of every Scala source. */
  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(mainSrc), s"$mainSrc not found under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(mainSrc)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(p => (mainSrc.relativize(p).toString, Files.readString(p))).toList
    finally walk.close()
  }

  /** The code lines of `src`: comments may name the idiom. */
  private def code(src: String) = src.linesIterator.map(_.trim)
    .filterNot(l => l.startsWith("//") || l.startsWith("*") || l.startsWith("/**"))

  private def txTable = sources.collectFirst { case ("graft/etl/TxTable.scala", s) => s }
    .getOrElse(fail("graft/etl/TxTable.scala not found"))

  test("SparkSession.builder appears only in LocalSession and ExtensionsProbe") {
    assert(sources.exists(_._1 == "graft/Bench.scala"), "source scan found no mains")
    val builders = sources.collect { case (p, src) if src.contains("SparkSession.builder") => p }
    assert(builders.toSet == Set("graft/LocalSession.scala", "graft/ExtensionsProbe.scala"),
      s"session builders outside LocalSession: ${builders.sorted.mkString(", ")}")
  }

  test("no probe hooks or probe mains in src/main") {
    val banned = Seq("probeSpread", "sq8Prefilter", "OptProbe", "ScaleProbe", "DevProbe")
    val hits = for ((p, src) <- sources; b <- banned if src.contains(b)) yield s"$p: $b"
    assert(hits.isEmpty, s"deleted probe code is back: ${hits.mkString(", ")}")
  }

  test("TxTable commits through one optimistic loop: tryCommitAnchored has at most 3 call sites") {
    val src = txTable
    // the definition aside: the shared loop, migrate and cloneTable
    val calls = "tryCommitAnchored\\(".r.findAllMatchIn(src)
      .count(m => !src.substring(0, m.start).endsWith("def "))
    assert(calls > 0 && calls <= 3,
      s"$calls tryCommitAnchored call sites: a writer hand-rolls its own retry loop " +
        "instead of returning an attempt to commitLoop")
  }

  test("the relational vector-scoring forms appear nowhere in src/main") {
    val banned = Seq("nearestCentroid(", "assignProbes(", "topKWindow(")
    val hits = for ((p, src) <- sources; b <- banned if src.contains(b)) yield s"$p: $b"
    assert(hits.isEmpty, s"relational twin back in src/main: ${hits.mkString(", ")}")
  }

  test("Similarity keeps one rank window: the top-k frame's") {
    val src = sources.collectFirst { case ("graft/operators/Similarity.scala", s) => s }
      .getOrElse(fail("graft/operators/Similarity.scala not found"))
    val windows = "row_number\\(\\)".r.findAllMatchIn(src).length
    assert(windows == 1,
      s"$windows row_number() windows in Similarity: a vector ranking bypasses partitionTopK")
  }

  test("rank windows stay only where TopKRows.perGroup does not fit, and TopKRows is built only there") {
    val windows = for ((p, src) <- sources; l <- code(src).toSeq if l.contains("row_number().over"))
      yield p
    // q46 (corpus-many groups); rankScored, q77's ideal rank and q76's
    // fused rank (one group per BM25 query, a batch that grows with the
    // corpus); Similarity's top-k frame (q24's batch grows with the
    // corpus); q86 (k is a column); Funnel.sessionized (a full numbering)
    val allowed = Map("graft/queries/TextOps.scala" -> 1, "graft/queries/VectorOps.scala" -> 3,
      "graft/operators/Similarity.scala" -> 1, "graft/queries/TrainingOps.scala" -> 1,
      "graft/operators/Funnel.scala" -> 1)
    val counts = windows.groupBy(identity).map { case (p, hits) => p -> hits.size }
    assert(counts.forall { case (p, n) => n <= allowed.getOrElse(p, 0) } && counts.values.sum <= 7,
      s"row_number().over sites: $counts; a bounded per-group top-k belongs on TopKRows.perGroup")
    val built = for ((p, src) <- sources if "TopKRows\\(".r.findFirstIn(src).isDefined) yield p
    assert(built == Seq("graft/plans/TopKRows.scala"),
      s"TopKRows constructed outside its companion: ${built.mkString(", ")}")
  }

  test("TxTable builds its keyed MERGE once, through Gold.merge; retired knobs stay gone") {
    val src = txTable
    assert(!src.contains("left_anti"), "TxTable hand-rolls an anti-join beside Gold.merge")
    val calls = "Gold\\.merge\\(".r.findAllMatchIn(src).length
    assert(calls == 1, s"$calls Gold.merge call sites in TxTable: one merge attempt serves every upsert")
    val banned = Seq("broadcastKeys", "viaPersist", "KmvSketchAggregator")
    val hits = for ((p, src) <- sources; b <- banned if src.contains(b)) yield s"$p: $b"
    assert(hits.isEmpty, s"retired code is back: ${hits.mkString(", ")}")
  }

  test("Gold mints pks without uuid(), whose per-query seed defeats the codegen cache") {
    val hits = for ((p, src) <- sources if p.startsWith("graft/etl/");
                    l <- code(src).toSeq if l.contains("uuid()")) yield p
    assert(hits.isEmpty, s"uuid() under graft/etl: ${hits.mkString(", ")}")
  }

  test("a commit takes fresh dirs' stats from the write: dirStatsOf serves only setStatsColumns") {
    val calls = for ((p, src) <- sources; m <- "dirStatsOf\\(".r.findAllMatchIn(src).toSeq
                     if !src.substring(0, m.start).endsWith("def ")) yield (p, m.start)
    val from = txTable.indexOf("def setStatsColumns(")
    val to = txTable.indexOf("\n  def ", from)
    assert(calls.nonEmpty && calls.forall { case (p, at) =>
      p == "graft/etl/TxTable.scala" && at > from && at < to },
      s"dirStatsOf called outside setStatsColumns: $calls")
  }

  test("one read path per mode: pruned reads only in the connector, tailing only in the DSv2 stream") {
    val banned = Seq("GraftTailSource", "StreamSourceProvider", "streamingFrame", "graft_table_scan",
      "def scan(", "def scanString(", "def lookup(", "def pruneDirs(")
    val hits = for ((p, src) <- sources; b <- banned if src.contains(b)) yield s"$p: $b"
    assert(hits.isEmpty, s"a second read path is back: ${hits.mkString(", ")}")
    val prunes = for ((p, src) <- sources if p.startsWith("graft/sources/");
                      _ <- "TxTable\\.pruneSnapshot\\(".r.findAllMatchIn(src)) yield p
    assert(prunes == Seq("graft/sources/GraftTableSource.scala"),
      s"TxTable.pruneSnapshot( under graft/sources: $prunes; both batch scans prune through keptDirs")
    val helper = sources.collectFirst { case ("graft/sources/GraftTableSource.scala", s) => s }.get
    val at = helper.indexOf("TxTable.pruneSnapshot(")
    assert(helper.lastIndexOf("def ", at) == helper.indexOf("def keptDirs("),
      "the one TxTable.pruneSnapshot( call under graft/sources sits outside keptDirs")
  }
}
