package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-13 verdict item 2: query closures that `.cache()` internal
  * frames must not leak them into a long-lived session. Every within-
  * query persist now registers in [[TempCaches]], and the harness
  * (Bench.timeOnce / Verify's per-query loop) releases after each
  * action. This spec is the "zero cached RDDs after each query's
  * action" gate: for every cache-using query, run the action, perform
  * exactly the harness's release, and assert the executor storage
  * layer holds NOTHING — so a 104-query × reps bench session starts
  * each query from the same clean storage-memory state.
  *
  * The connected-components family (q51/q59/q83) is audited separately:
  * its localCheckpoint blocks are lineage-truncation state owned by the
  * RESULT frame (unpersisting them would make the returned frame
  * unrecomputable), released by the ContextCleaner once the result is
  * dropped — the spec pins that their count is bounded by the loop
  * shape (edges + init + final round), not rounds × corpus.
  */
class CacheHygieneSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  private val cacheUsers = Seq(
    "q92_textrank", "q94_bpe_merges", "q95_hard_negatives",
    "q97_embedding_report", "q98_pca_power", "q99_pmi_collocations",
    "q100_bpe_apply", "q102_pq_ann", "q103_ivfadc", "q104_pq_refine")

  test("cache-using queries leave zero persisted RDDs after the harness release") {
    // clean slate: other suites share the session
    TempCaches.releaseAll(); spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    for (name <- cacheUsers) {
      SparkEntry.queries(name)(spark, dir).count()
      TempCaches.releaseAll(); spark.catalog.clearCache()
      val left = spark.sparkContext.getPersistentRDDs
      assert(left.isEmpty,
        s"$name leaked ${left.size} persisted RDDs: ${left.values.map(r => s"${r.id}:${r.name}").mkString(", ")}")
    }
  }

  test("q51's checkpoint residue is loop-shape-bounded, not rounds x corpus") {
    TempCaches.releaseAll(); spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    SparkEntry.queries("q51_neardup_clusters")(spark, dir).count()
    TempCaches.releaseAll(); spark.catalog.clearCache()
    // edges + initial labels + one lazy checkpoint per convergence round;
    // near-dup graphs converge in <= ~4 rounds (diameter 1-2 + the
    // no-change confirmation round). A rounds×2 regression (the old
    // eager-checkpoint+count shape re-persisting per action) or an
    // unbounded leak would blow past this.
    val n = spark.sparkContext.getPersistentRDDs.size
    assert(n <= 8, s"q51 left $n persisted RDDs — checkpoint lifecycle regressed")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
