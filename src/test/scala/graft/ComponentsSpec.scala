package graft

import graft.operators.Components
import org.scalatest.funsuite.AnyFunSuite

/** Connected components (dedup clusters): min-label propagation must
  * handle multi-hop chains (several iterations), cliques, and isolated
  * pairs; the e2e pair graph is oracle-checked via q51's recursive CTE. */
class ComponentsSpec extends AnyFunSuite with LocalSpark {

  test("chain, triangle and isolated pair resolve to min-id components") {
    import spark.implicits._
    // chain 10-20-30-40-50 has diameter 4 — label 10 must propagate
    // across multiple iterations, not just one
    val pairs = Seq(
      (20L, 10L), (20L, 30L), (30L, 40L), (40L, 50L), // chain
      (7L, 9L),                                       // isolated pair
      (1L, 2L), (2L, 3L), (1L, 3L))                   // triangle
      .toDF("doc_a", "doc_b")
    val cc = Components.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(
      10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L, 50L -> 10L,
      7L -> 7L, 9L -> 7L,
      1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("empty pair set yields an empty labeling") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Components.connectedComponents(none).count() == 0)
    assert(Components.connectedComponentsStar(none).count() == 0)
  }

  test("large-star/small-star equals min-label propagation on chains, cliques and random graphs") {
    import spark.implicits._
    def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def both(pairs: Seq[(Long, Long)]): Unit = {
      val df = pairs.toDF("doc_a", "doc_b")
      val a = labelsOf(Components.connectedComponents(df))
      val b = labelsOf(Components.connectedComponentsStar(df))
      assert(a == b, s"star disagrees with propagation on $pairs")
    }
    // the star algorithm's reason to exist: a long chain (diameter 19)
    both((1L to 19L).map(i => (i, i + 1)))
    // descending chain (rewiring direction stress)
    both((1L to 19L).map(i => (i + 1, i)))
    // clique + chain + isolated pairs
    both(Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 20L), (20L, 30L), (100L, 101L)))
    // deterministic pseudo-random graphs of varying density
    val rnd = new scala.util.Random(42)
    for (n <- Seq(30, 60)) {
      val pairs = (1 to n * 2).map { _ =>
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1)
      }.filter(p => p._1 != p._2)
      both(pairs)
    }
  }
}
