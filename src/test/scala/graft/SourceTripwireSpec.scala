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
  * forms it replaced live in the test tree. */
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
    val src = sources.collectFirst { case ("graft/etl/TxTable.scala", s) => s }
      .getOrElse(fail("graft/etl/TxTable.scala not found"))
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

  test("Similarity keeps at most 3 rank windows: the top-k frame's and quantizedTopK's two") {
    val src = sources.collectFirst { case ("graft/operators/Similarity.scala", s) => s }
      .getOrElse(fail("graft/operators/Similarity.scala not found"))
    val windows = "row_number\\(\\)".r.findAllMatchIn(src).length
    assert(windows > 0 && windows <= 3,
      s"$windows row_number() windows in Similarity: a vector ranking bypasses partitionTopK")
  }
}
