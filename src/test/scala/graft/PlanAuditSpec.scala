package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-query plan invariants, swept over EVERY SparkEntry.queries entry
  * via [[PlanAudit.audit]] (PlanSpec holds the per-query pins; this suite
  * holds the properties that must be true of the whole surface). Each
  * invariant is a scale property: a cartesian product or an unbounded
  * nested-loop join that slips into any future query would turn a
  * linear-at-10× plan into a quadratic one long before a benchmark run
  * would catch it.
  */
class PlanAuditSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  // one sweep, shared by every test in the suite
  lazy val audits: Map[String, Map[String, Long]] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> PlanAudit.audit(fn(spark, dir))
    }

  /** Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
    * every one broadcasts a build side that is BOUNDED BY CONSTRUCTION
    * (a sampled query batch, a k-row centroid set, a held-out benchmark,
    * or a single-row aggregate frame), so the "nested loop" is k·n work,
    * not n². Growing this set requires the same boundedness argument in
    * the new query's scaladoc.
    */
  private val boundedBnlj: Set[String] = Set(
    // q24 left this list in round 18: its plan is now the map-side
    // top-k (no BNLJ — pairs are scored and reduced inside the scan
    // stage; PlanSpec pins the shape)
    // q35, q68, q90, q95 and q103 left it when their centroid
    // assignment and probes moved to Similarity's kernel (a
    // mapPartitions against broadcast centroids; probes on the driver)
    "q25_embedding_neardup",     // vec_id<2000 audit slice build side
    "q45_ivf_topk",              // k-centroid probe
    "q46_tfidf_topterms",        // single-row corpus-N frame
    "q47_ivf_kmeans_topk",       // trained k-centroid probe
    "q58_mix_rebalance",         // single-row min-source frame
    "q86_temperature_mix",       // single-row min-language frame (q58's shape)
    "q89_sketch_jaccard",        // |sources|² pairing of ≤k-long sketch rows
    "q69_quantized_ann",         // query batch vs SQ8 grid
    "q71_semantic_decontaminate",// broadcast held-out benchmark
    "q72_target_affinity_select",// single-row weight frames
    "q76_hybrid_rrf",            // dense arm: query batch vs corpus
    "q77_retrieval_eval",        // dense arm, shared with q76
    "q94_bpe_merges",            // single-row argmax merge frame per round
    "q97_embedding_report",      // |labels|² centroid pairing (q89's shape)
    "q98_pca_power",             // single-row max-abs / rayleigh frames over the d×d matrix
    "q100_bpe_apply",            // q94's argmax frames + single-row symbol-count totals
    "q99_pmi_collocations"       // single-row corpus pair-total (nt) broadcast
  )

  /** Full-outer / outer fusion joins whose BOTH inputs are rank-bounded
    * (|queries|·k rows) — they cannot broadcast (outer side), so a
    * SortMergeJoin on tiny inputs is the correct physical choice.
    * q82's snapshot diff is the other legitimate SMJ: BOTH sides are
    * corpus-sized snapshots (full-outer, neither can broadcast at
    * scale) — PlanSpec pins that shape explicitly. */
  private val rankBoundedSmj: Set[String] = Set(
    "q68_semdedup", "q72_target_affinity_select",
    "q76_hybrid_rrf", "q77_retrieval_eval", "q82_snapshot_diff",
    // q21's documented size-driven pair join, shared by q96: AQE
    // broadcasts at spec scale and correctly declines at sf0.1 (the
    // DF-capped shingle-pair sides grow with the corpus)
    "q21_ngram_jaccard", "q96_containment_dedup")

  test("no query's executed plan contains a CartesianProduct") {
    val bad = audits.filter(_._2("cartesian_product") > 0).keys.toSeq.sorted
    assert(bad.isEmpty, s"cartesian product in: ${bad.mkString(", ")}")
  }

  test("BroadcastNestedLoopJoin appears only where the build side is bounded by construction") {
    val bad = audits.filter(_._2("broadcast_nl_join") > 0).keySet -- boundedBnlj
    assert(bad.isEmpty, s"unreviewed nested-loop join in: ${bad.mkString(", ")}")
  }

  test("SortMergeJoin appears only in the rank-bounded outer fusion joins") {
    val bad = audits.filter(_._2("sort_merge_join") > 0).keySet -- rankBoundedSmj
    assert(bad.isEmpty,
      s"join degraded to SMJ (broadcast expected) in: ${bad.mkString(", ")}")
  }

  /** Queries whose RETURNED frame is an eagerly-computed bounded local
    * result (the MLlib computePrincipalComponents shape: distributed
    * moment pass at build time, driver-side linear algebra on the d×d
    * matrix). Their corpus-pass plan is invisible to this audit —
    * PlanSpec pins it directly (one scan, codegen, broadcast-only). */
  private val eagerLocalResult: Set[String] = Set("q98_pca_power")

  test("every query's hot path is inside whole-stage codegen") {
    val bad = audits.filter(_._2("codegen_spans") == 0).keys.toSet -- eagerLocalResult
    assert(bad.isEmpty, s"no codegen span in: ${bad.mkString(", ")}")
  }
}
