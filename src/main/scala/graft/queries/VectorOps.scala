package graft.queries

import graft.Tables
import graft.functions.VectorFunctions._
import graft.operators.Similarity
import graft.plans.TopKRows
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector/similarity operator demos over the `embeddings` table
  * (reference capability A8 — kNN over the Milvus gold store; plus the
  * ANN scale paths a 100 TB training-data pipeline needs: LSH bucketing
  * and IVF cluster assignment).
  *
  * Cosine math is bit-identical across Spark and DuckDB (sequential
  * IEEE-double accumulation on both sides — see VectorFunctions), so the
  * oracle compares exact doubles, not approximations.
  */
object VectorOps {

  // --- q40 multiprobe-LSH parameters (shared by the Spark query and its
  // DuckDB oracle twin). Plane p's component for 1-based dim d is
  // ((((p*131071 + d*8191) % 524287) * 69621) % 1000003) % 1000, centered
  // and scaled to (-0.5, 0.5) — an LCG-style mix so the 48 planes are
  // mutually uncorrelated (exact integer arithmetic in both engines; the
  // product is forced to BIGINT so neither engine overflows 32-bit).
  private[graft] val LshTables = 8
  private[graft] val LshBits = 6
  private[graft] val LshMult = 69621L

  /** q40's index-sizing rule: buckets per table must track corpus size or
    * occupancy (n / 2^bits) — and with it candidate pairs, which grow as
    * occupancy² per bucket — climbs linearly and the candidate join goes
    * quadratic (SCALE.md measured 27× cost at 10× data with `bits` pinned
    * to 6). `autoBits(n)` is the smallest width ≥ the spec-pinned floor
    * (LshBits = 6) that keeps expected occupancy ≤ TargetOccupancy:
    * the minimal b with 2^b ≥ n / TargetOccupancy, i.e. (8 << b) ≥ n.
    * Pure integer arithmetic — no log2 doubles — so the DuckDB oracle
    * twin (a generate_series + bit-shift scan) picks the identical width
    * from its own COUNT(*) with zero FP-parity risk.
    *
    * TargetOccupancy went 16 → 8 in round 17 off the lshprofile split
    * (verdict task 5): at the ×100 replica the candidate stage was 69%
    * of q40's wall, and the width frontier measured occ 8 as a STRICT
    * win — 379.6 s/recall 0.049 (occ 12 effective) → 162.9 s/recall
    * 0.090 — because halving occupancy halves the occupancy² candidate
    * volume AND shrinks the hot-bucket blacklist's true-pair losses,
    * while one more bit's key-compute cost only binds a step later
    * (occ 3: 342 s — the frontier's other wall;
    * probe_lshprofile_r17.jsonl / the lsh_neardup width rows). The
    * sf0.01 oracle gate keeps bits = 6 under either constant, so the
    * checked pair set is unchanged. */
  private[graft] val TargetOccupancy = 8L
  private[graft] def autoBits(n: Long): Int =
    (LshBits to 40).find(b => (TargetOccupancy << b) >= n).getOrElse(40)

  /** q25's audit-slice bound: the exact all-pairs verifier runs over
    * vectors with `vec_id < Q25Cap` only, so its pair cost is a CONSTANT
    * O(Q25Cap²) at any corpus scale instead of O(n²). At sf0.01 every
    * vec_id is below the cap, so the slice equals the full table and the
    * oracle still verifies the complete pair set; the unbounded exact
    * check lives in SimilaritySpec (q40-recalls-q25), and the production
    * near-dup path at full scale is q40. */
  private[graft] val Q25Cap = 2000L

  private[graft] def lshPlaneDot(p: Int): String =
    s"""aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE),
       | (acc, d) -> acc + ((CAST(CAST(($p * 131071 + d * 8191) % 524287 AS BIGINT) * $LshMult % 1000003 % 1000 AS DOUBLE) - 499.5) / 1000.0)
       |   * CAST(element_at(embedding, d) AS DOUBLE))""".stripMargin

  /** HOF formulation of the table keys — the documented arithmetic and
    * the equality-test twin of the fused native LshKeys expression. */
  private[graft] def lshKeyCols: Seq[org.apache.spark.sql.Column] =
    (0 until LshTables).map { t =>
      (0 until LshBits).map(b =>
        when(expr(lshPlaneDot(t * LshBits + b)) >= 0.0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as(s"k$t")
    }

  /** The q40 pipeline with its build-time sizing parameters exposed:
    * `tables`×`bits` multiprobe LSH → distinct candidate pairs → exact
    * codegen'd cosine confirm at `thresh`. The oracle-checked q40 passes
    * (8, autoBits(n)) so the width tracks the corpus; `tables` buys
    * recall back.
    *
    * Probing is CONFIDENCE-ORDERED and capped (Lv et al., Multi-Probe
    * LSH, VLDB 2007): each vector probes its exact key plus flips of its
    * `min(bits, MaxProbes)` lowest-|margin| planes only. With autoBits
    * holding occupancy ≤ TargetOccupancy and the probe count constant,
    * candidate volume is ∝ n·tables·MaxProbes·occupancy — LINEAR in n.
    * Uncapped Hamming-1 (flip all bits) costs (bits+1) probes/table,
    * a log(n) extra factor once bits tracks n: SCALE.md measured it as
    * 2.8× super-linear at 100× data. At bits ≤ MaxProbes (the sf0.01 /
    * sf0.1 gates) every plane is flipped, so results are bit-identical
    * to full Hamming-1 there. */
  private[graft] val MaxProbes = 8

  /** Hot-bucket cap (the q48 DF-cap / q50 bucket-cap precedent applied
    * to the vector index): sign-random-projection buckets over a REAL
    * (clustered, non-isotropic) corpus are heavy-tailed — at the 100×
    * replica the max bucket holds 1,771 vectors against a target
    * occupancy of 12, and those hot buckets alone put ~1.6B rows
    * through the candidate join (measured; it spilled the box dry).
    * Index entries in buckets holding more than LshBucketCap vectors
    * are dropped (probe side stays full), which bounds join output at
    * probes·Cap per probe key — ∝ n overall. Dense-region pairs lost
    * to a hot bucket in one table keep their 7 other tables. 96 =
    * 12 × TargetOccupancy sits comfortably above the max observed gate
    * bucket (35 at sf0.01, 85 at sf0.1 at the pre-r17 width; the r17
    * occupancy change only narrows buckets, SimilaritySpec re-checks
    * the no-bind property at both gates), so the cap does NOT bind at
    * either oracle gate and the checked pair sets are unchanged; the
    * DuckDB twin mirrors the cap with the same HAVING > cap bucket
    * blacklist. */
  private[graft] val LshBucketCap = 96L

  /** q71's core: flag every
    * train row whose max cosine to ANY broadcast bench row exceeds
    * `thresh`, with argmax bench_id attribution via the agg-min packed
    * struct (map-side combinable — no n×|bench| shuffle). `train` must
    * carry (vec_id, embedding, na), `bench` (bench_id, bv, nb), norms
    * precomputed once per row; a zero-norm side divides to NaN → nanvl
    * → -Infinity, so it can never exceed a finite threshold. Cost is
    * O(|train|·|bench|) dot products — linear in the corpus at the
    * fixed benchmark size of a real deployment (measured flat-to-linear
    * in `scale_artifacts/probe_decontam_r10.jsonl`, SCALE.md "Round-10
    * closing queries at 100×"; the x-replica gate where bench ∝ n is the
    * definitional-quadratic measurement, like q24/q69's query batch). */
  private[graft] def semanticDecontaminate(train: DataFrame, bench: DataFrame,
                                           thresh: Double): DataFrame = {
    val packed = struct((col("casim") * lit(-1.0)).as("neg_sim"),
      col("bench_id").as("bid"), col("casim").as("sim"))
    train.crossJoin(broadcast(bench))
      .withColumn("casim", nanvl(
        graft.plans.GraftExpressions.dotNative(col("embedding"), col("bv"))
          / (col("na") * col("nb")),
        lit(Double.NegativeInfinity)))
      .groupBy(col("vec_id"))
      .agg(min(packed).as("_w"))
      .filter(col("_w.sim") > thresh)
      .select(col("vec_id"), col("_w.bid").as("bench_id"), col("_w.sim").as("cosine"))
  }

  /** `twoSided = true` admits a pair when EITHER endpoint's probe set
    * contains the other's exact key (vs the default: only the smaller
    * id probes). At bits <= MaxProbes probe sets are symmetric, so the
    * two modes are identical there (SimilaritySpec pins it); past the
    * cap, two-sided buys back the directional recall loss for up to 2×
    * the candidate volume — measured in SCALE.md. The shipped q40 stays
    * one-sided. */
  private[graft] def lshNearDupPairs(e: DataFrame, tables: Int, bits: Int,
                                     thresh: Double,
                                     twoSided: Boolean = false,
                                     prefilter: Boolean = false): DataFrame = {
    if (prefilter)
      lshConfirm(e, lshCandidatesVecFiltered(e, tables, bits, thresh, twoSided), thresh)
    else
      lshConfirm(e, lshCandidatesVec(e, tables, bits, twoSided), thresh)
  }

  /** [[lshCandidatesVec]] with the lossless SQ8 bound FUSED into the
    * bucket join itself: the index and probe sides each carry their
    * ~80-byte [[graft.plans.Sq8Blob]] side-car (idx +n·tables·80 B,
    * probe +n·tables·probes·80 B of shuffle — ~1.2 GB at the ×100
    * replica), and `sq8_upper_cos > thresh − 1e-9` filters the join
    * OUTPUT inline in codegen, BEFORE the pair distinct. At the
    * measured 311:1 filter rate that shrinks the distinct's shuffle
    * input from the full candidate volume (115 M rows at ×100) to the
    * survivor set (369 k) and deletes the two post-distinct
    * 115 M-row blob joins a staged post-distinct filter pays
    * (SCALE.md "Round 18: q40's confirm stage behind a lossless SQ8
    * pre-filter", `scale_artifacts/probe_lshprofile_r18.jsonl`).
    * The bound is provable — `cos(a,b) ≤ sq8_upper_cos(a,b)`
    * ([[graft.plans.Sq8UpperCos]]: floor-quantization error bounded by
    * exact integer sums), with a 1e-9 threshold slack absorbing
    * final-multiply rounding — so it can only drop pairs the exact
    * confirm would drop, and the final pair set is identical at any
    * scale (SimilaritySpec pins fused ≡ direct). */
  private[graft] def lshCandidatesVecFiltered(e: DataFrame, tables: Int, bits: Int,
                                              thresh: Double,
                                              twoSided: Boolean = false): DataFrame = {
    val withBlob = e.withColumn("blob",
      graft.plans.GraftExpressions.sq8Blob(col("embedding")))
    val idx = withBlob.select(col("vec_id"), col("blob"),
        posexplode(graft.plans.GraftExpressions.lshKeys(
          col("embedding"), tables, bits, LshMult)))
      .select(col("vec_id"), col("blob"), col("pos").as("tbl"), col("col").as("k"))
    val hot = idx.groupBy(col("tbl"), col("k"))
      .agg(count(lit(1)).as("occ")).filter(col("occ") > LshBucketCap)
      .select(col("tbl"), col("k"))
    val idxCapped = idx.join(broadcast(hot), Seq("tbl", "k"), "left_anti")
    val probe = withBlob.select(col("vec_id"), col("blob"),
        posexplode(graft.plans.GraftExpressions.lshProbeKeys(
          col("embedding"), tables, bits, MaxProbes, LshMult)))
      .select(col("vec_id"), col("blob"), col("pos").as("tbl"), explode(col("col")).as("pk"))
      // same identity cut as the direct form: blacklisted-bucket probes
      // match nothing — drop them before shuffling their 80-byte blobs
      .join(broadcast(hot.select(col("tbl"), col("k").as("pk"))),
        Seq("tbl", "pk"), "left_anti")
    val x = idxCapped.alias("x"); val y = probe.alias("y")
    val idCond =
      if (twoSided) col("y.vec_id") =!= col("x.vec_id")
      else col("y.vec_id") < col("x.vec_id")
    x.join(y, col("x.tbl") === col("y.tbl") && col("x.k") === col("y.pk")
        && idCond)
      .filter(graft.plans.GraftExpressions.sq8UpperCos(col("x.blob"), col("y.blob"))
        > thresh - 1e-9)
      .select(least(col("y.vec_id"), col("x.vec_id")).as("id_a"),
        greatest(col("y.vec_id"), col("x.vec_id")).as("id_b"))
      .distinct()
  }

  /** Corpus size past which q40 fuses the SQ8 filter into its bucket
    * join: at the oracle gates (500 / 2000 vectors) the candidate set
    * is small enough that the wider join rows cost more than they
    * save, so the direct plan stays; from the ×10 replica up the cut
    * dominates (measured: ×10 3.97 → 2.53 s, ×100 82.9 → 15.3 s —
    * SCALE.md r18). The filter is lossless, so this switch is a pure
    * plan choice at any value. Round-19 optimization: lowered 10000 →
    * 2000 — re-measured on this box (7 alternating same-JVM reps at
    * sf0.1, n = 2000): direct 1.68 s, fused 1.52 s, fused + spread
    * 1.16 s — the cut already pays at the sf0.1 gate; sf0.01 (n = 500)
    * stays direct. */
  private[graft] val SqPrefilterMinRows = 2000L

  /** q40's candidate stage alone — the banding/probing/blacklist half,
    * ending at the distinct (id_a, id_b) pair set; the exact confirm is
    * [[lshConfirm]] (the ×100 split between the two halves is in
    * SCALE.md "Round 17: q40's ×100 cost split, measured"). */
  private[graft] def lshCandidatesVec(e: DataFrame, tables: Int, bits: Int,
                                      twoSided: Boolean = false): DataFrame = {
    val idx = e.select(col("vec_id"),
        posexplode(graft.plans.GraftExpressions.lshKeys(
          col("embedding"), tables, bits, LshMult)))
      .select(col("vec_id"), col("pos").as("tbl"), col("col").as("k"))
    // hot-bucket blacklist: tiny (only buckets with > LshBucketCap
    // members), so it broadcasts and the anti-join adds no shuffle of idx
    val hot = idx.groupBy(col("tbl"), col("k"))
      .agg(count(lit(1)).as("occ")).filter(col("occ") > LshBucketCap)
      .select(col("tbl"), col("k"))
    val idxCapped = idx.join(broadcast(hot), Seq("tbl", "k"), "left_anti")
    val probe = e.select(col("vec_id"),
        posexplode(graft.plans.GraftExpressions.lshProbeKeys(
          col("embedding"), tables, bits, MaxProbes, LshMult)))
      .select(col("vec_id"), col("pos").as("tbl"), explode(col("col")).as("pk"))
      // identity cut: a probe into a blacklisted bucket matches NOTHING
      // (its idx rows were removed above), so dropping those probe rows
      // before the shuffle changes no pair — and hot buckets are where
      // probes concentrate, so this is the join's biggest row cut
      .join(broadcast(hot.select(col("tbl"), col("k").as("pk"))),
        Seq("tbl", "pk"), "left_anti")
    // probe only from the smaller id: pair (a,b) is found iff b's exact
    // key is in a's probe set. At bits <= MaxProbes (full Hamming-1,
    // the gates) probe sets are symmetric so one direction is lossless;
    // at larger widths the capped sets differ per vector and one-sided
    // probing is a deliberate recall/cost trade (two-sided would double
    // candidate volume) — the recall column of
    // scale_artifacts/probe_lshwidth_r17.jsonl measures it.
    val x = idxCapped.alias("x"); val y = probe.alias("y")
    val idCond =
      if (twoSided) col("y.vec_id") =!= col("x.vec_id")
      else col("y.vec_id") < col("x.vec_id")
    x.join(y, col("x.tbl") === col("y.tbl") && col("x.k") === col("y.pk")
        && idCond)
      // least/greatest normalizes the two-sided directions onto one pair
      // key; in the one-sided mode y < x already, so this is the identity
      .select(least(col("y.vec_id"), col("x.vec_id")).as("id_a"),
        greatest(col("y.vec_id"), col("x.vec_id")).as("id_b"))
      .distinct()
  }

  /** q40's exact-confirm stage: fetch both endpoints' embeddings and
    * keep pairs whose true cosine clears `thresh`. */
  private[graft] def lshConfirm(e: DataFrame, cand: DataFrame,
                                thresh: Double): DataFrame =
    cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("vb")), "id_b")
      .withColumn("cosine", cosine("va", "vb"))
      .filter(col("cosine") > thresh)
      .select(col("id_a"), col("id_b"), col("cosine"))

  /** DuckDB CTE chain replaying `Similarity.kmeansCentroids(k, iters)`
    * exactly (seeds = k lowest-id vectors renumbered 0..k-1; per
    * iteration: max-cosine assignment with centroid_id-asc tiebreak →
    * floored integer-micro-unit mean → empty cluster keeps its previous
    * centroid). Yields CTEs `c0..c$iters`; `c$iters` is the trained
    * centroid table. Shared by the q47 and q68 oracles — one exactness
    * argument (the kmeansCentroids scaladoc), two consumers. */
  /** q68's cluster-count rule (SemDeDup's k ∝ n): the smallest k ≥ KMin
    * with expected cluster size ≤ SemClusterTarget, i.e.
    * max(KMin, n / SemClusterTarget) in integer arithmetic — the autoBits
    * occupancy argument applied to clusters. Holds the per-cluster pair
    * join at O(n · SemClusterTarget) and stays KMin at both oracle gates
    * (500/250 = 2, 2000/250 = 8), where the DuckDB twin derives the
    * identical k from its own COUNT(*) via a scalar-subquery LIMIT. */
  private[graft] val KMin = 8
  private[graft] val SemClusterTarget = 250L
  private[graft] def autoK(n: Long): Int =
    math.max(KMin.toLong, n / SemClusterTarget).toInt

  /** q68's training-set bound: full-batch Lloyd at k ∝ n is Θ(n²) in
    * distance evals, so training runs on the SemTrainCap vectors with
    * the smallest (hash60(vec_id), vec_id) — deterministic,
    * content-independent, engine-replayable (see kmeansCentroids).
    * Θ(cap·k) ∝ n restores a linear pipeline; at the gates n ≤ cap, so
    * the sample is the whole corpus and training is bit-identical to
    * uncapped. */
  private[graft] val SemTrainCap = 25000L

  private[graft] def kmeansOracleCtes(k: Int, iters: Int): String =
    kmeansOracleCtes(k.toString, iters)

  private[graft] def kmeansOracleCtes(kSql: String, iters: Int,
                                      src: String = "embeddings",
                                      prefix: String = "",
                                      dims: Int = 64): String = {
    def iterCtes(i: Int): String = {
      val prev = s"${prefix}c${i - 1}"
      s"""${prefix}a$i AS (
         |  SELECT vec_id, embedding, centroid_id FROM (
         |    SELECT e.vec_id, e.embedding, c.centroid_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCosineExpr("e.embedding", "c.cvec")} DESC, c.centroid_id ASC) AS rk
         |    FROM $src e CROSS JOIN $prev c) t WHERE rk = 1),
         |${prefix}m$i AS (
         |  SELECT centroid_id, d AS pos,
         |    CAST(CAST(SUM(CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)
         |      / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS FLOAT) AS m
         |  FROM ${prefix}a$i CROSS JOIN (SELECT unnest(generate_series(1, $dims)) AS d) dd
         |  GROUP BY centroid_id, d),
         |${prefix}l$i AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM ${prefix}m$i GROUP BY centroid_id),
         |${prefix}c$i AS (SELECT p.centroid_id, COALESCE(${prefix}l$i.cvec, p.cvec) AS cvec
         |        FROM ${prefix}c${i - 1} p LEFT JOIN ${prefix}l$i ON p.centroid_id = ${prefix}l$i.centroid_id)""".stripMargin
    }
    (s"""${prefix}c0 AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id ASC) - 1 AS BIGINT) AS centroid_id,
        |         embedding AS cvec
        |  FROM (SELECT vec_id, embedding FROM $src ORDER BY vec_id ASC LIMIT $kSql))""".stripMargin
      +: (1 to iters).map(iterCtes)).mkString(",\n")
  }

  /** q69's quantization grid, shared verbatim-in-structure by the Spark
    * and DuckDB sides so the dequantized vectors are BIT-IDENTICAL
    * cross-engine: per-vector symmetric int8 — scale = max|x_i|/127,
    * code = floor(x·127/max|x|) (floor, not round: the engines disagree
    * on rounding mode at exact halves, the kmeansCentroids precedent),
    * dequantized value = float(code · max|x|/127). Every step is
    * correctly-rounded IEEE double arithmetic on identical inputs, and
    * the final narrowing cast to float32 is round-to-nearest-even in
    * both engines. A zero vector (max = 0) dequantizes to zeros. */
  private[graft] val SqOversample = 20

  private[graft] def sqMaxAbsExpr(v: String): String =
    s"aggregate($v, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"

  private[graft] def sqDequantExpr(v: String, mx: String): String =
    s"""transform($v, x -> CAST(CASE WHEN $mx = 0.0 THEN 0.0
       | ELSE floor(CAST(x AS DOUBLE) * 127.0 / $mx) * ($mx / 127.0) END AS FLOAT))""".stripMargin

  private[graft] def duckSqMaxAbsExpr(v: String): String =
    s"list_max(list_transform($v, x -> abs(CAST(x AS DOUBLE))))"

  private[graft] def duckSqDequantExpr(v: String, mx: String): String =
    s"""list_transform($v, x -> CAST(CASE WHEN $mx = 0.0 THEN 0.0
       | ELSE floor(CAST(x AS DOUBLE) * 127.0 / $mx) * ($mx / 127.0) END AS FLOAT))""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-5 per query vector (A8). Query side =
    // vec_id % 50 == 0 — DEFINITIONAL: the batch grows with the corpus,
    // so n·|Q| exact pair evaluations is the contract (the honest
    // "what exact costs" row; the fixed-batch deployment shape is
    // scale_artifacts/probe_knn_r17.jsonl). The PLAN is the map-side top-k
    // (topKPartitioned): every pair is still scored exactly, but each
    // partition keeps a bounded per-query heap so only
    // |partitions|·|Q|·k candidate rows reach the final window — the
    // former window form shuffled all n·|Q| pair rows through one
    // exchange (~800M rows at the ×100 replica), which was the
    // operator's entire wall time, not the flops. Results are
    // bit-identical (same sequential-double dot/(qn·cn) tree, same NaN
    // guard, same tiebreak; topKPartitioned ≡ the relational window twin
    // is pinned in SimilaritySpec, and the oracle hash-gates it at sf0.01).
    "q24_knn_brute" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      Similarity.topKPartitioned(s, q, c, 5)
    }),

    // Embedding near-duplicate pairs: all pairs with cosine > 0.45
    // (the data's max pair sim is ~0.51; planted structure sits above
    // the 0.999-quantile 0.38). This is the exact VERIFIER, bounded to
    // the `vec_id < Q25Cap` audit slice so it survives any corpus scale
    // (pair cost is a constant O(Q25Cap²)); the production full-corpus
    // path is q40's LSH-bucketed join. The bounded side is BROADCAST, so
    // the plan is a nested-loop stream over a ≤Q25Cap-row build side —
    // no cartesian shuffle of n² partition pairs. Norms are precomputed
    // ONCE per row (O(n·d)) so the pair loop computes only the codegen'd
    // dot product — 3× fewer flops per pair, bit-identical to the
    // per-pair form: sqrt(sumsq) is the same sequential accumulation
    // wherever it runs, and the final dot/(na*nb) is the oracle's exact
    // expression tree.
    // Round-19 optimization: the audit slice is read through
    // Tables.spread — a ≤Q25Cap-row slice scans as ONE task at any
    // corpus scale (one 780 KB file at sf0.1), so the 2M-pair BNLJ dot
    // loop below ran on one core while 31 idled; the size-derived
    // round-robin spread unlocks them (measured 1.12 → 0.42 s at
    // sf0.1; no-op whenever the scan splits naturally).
    "q25_embedding_neardup" -> ((s, dir) => {
      val e = Tables.spread(s, dir, "embeddings")
        .filter(col("vec_id") < Q25Cap)
        .withColumn("nrm", sqrt(expr(graft.functions.VectorFunctions.sumsqExpr("embedding"))))
      val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
      val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .withColumn("cosine",
          graft.plans.GraftExpressions.dotNative(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cosine") > 0.45)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }),

    // Random-hyperplane LSH bucketing (ANN scale path): 8 deterministic
    // pseudo-random hyperplanes -> 8 sign bits -> bucket id. Vectors in
    // the same bucket are near-dup candidates; join cost drops from
    // O(n²) to O(Σ bucket²).
    "q34_lsh_buckets" -> ((s, dir) => {
      val planeDot = (p: Int) =>
        s"""aggregate(sequence(1, 64), CAST(0.0 AS DOUBLE),
           | (acc, d) -> acc + ((CAST(($p * 1000003 + d * 7919) % 1000 AS DOUBLE) - 499.5) / 1000.0)
           |   * CAST(element_at(embedding, d) AS DOUBLE))""".stripMargin
      val bucket = (0 until 8).map(p =>
        when(expr(planeDot(p)) >= 0.0, lit(1L << p)).otherwise(lit(0L))).reduce(_ + _)
      Tables(s, dir, "embeddings")
        .select(col("vec_id"), bucket.as("bucket"), col("label"))
    }),

    // Production near-dup pair join (scale path for q25): multiprobe
    // random-hyperplane LSH — 8 tables × autoBits(n) sign bits, probing
    // each key plus flips of its min(bits, MaxProbes) lowest-margin
    // planes (confidence-ordered multiprobe, Lv et al. VLDB'07) —
    // generates candidates, then the exact codegen'd cosine confirms.
    // Join cost is O(Σ bucket²) per table instead of O(n²); the pair set
    // is verified at sf0.01 to contain every exact q25 pair
    // (SimilaritySpec recall test). The planes use a well-mixed integer
    // hash (the q34 formula makes planes that are shifts of each other —
    // fine for one table, useless for 8).
    // The index is SELF-SIZING on BOTH axes that scale with n: bits =
    // autoBits(count) keeps bucket occupancy ≤ TargetOccupancy, and the
    // capped probe count keeps probes/table constant as bits grows, so
    // candidate volume is ∝ n (SCALE.md: 27× at 10× data when pinned to
    // 6 bits; n·log n with uncapped Hamming-1 probing; ~linear with
    // both fixes — the DuckDB twin derives the same width and the same
    // lowest-margin flip set from its own COUNT(*) and plane dots). The
    // count() is one driver-side scalar — the standard build-time step
    // of any ANN index build. At the driver's sf0.01/sf0.1 gates
    // autoBits gives 6/8 ≤ MaxProbes, where the probe set IS full
    // Hamming-1 (pre-cap identical).
    // (Round-19 optimization: the fused SQ8 prefilter engages from the
    // sf0.1 gate up — see SqPrefilterMinRows: direct 1.68 s → fused
    // 1.52 s at sf0.1, 7 alternating same-JVM reps. A Tables.spread
    // read was ALSO measured and REJECTED: it bought 1.52 → 1.16 s at
    // sf0.1 but cost 5.45 → 7.21 s at the ×100 replica (7 alternating
    // reps, idle) — the join-heavy candidate pipeline loses more to the
    // extra corpus exchange at scale than the key/blob pack passes gain
    // at the gate, so q40 keeps the plain read.)
    "q40_lsh_neardup" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val n = e.count()
      lshNearDupPairs(e, LshTables, autoBits(n), 0.45,
        prefilter = n >= SqPrefilterMinRows)
    }),

    // IVF approximate top-k end-to-end (the retrieval path composing
    // q35's assignment): corpus and queries assigned to their max-cosine
    // centroid, each query probing ONLY its centroid's partition
    // (nprobe=1) — a 1/|centroids| scan per query at scale. Query batch
    // bounded by the q25/q102/q71 audit-slice rule (vec_id < Q25Cap):
    // identity at the oracle gates, FIXED at any replica scale, so the
    // probe cost stays |batch|-bounded instead of growing with the
    // corpus (round-16 verdict task 1).
    "q45_ivf_topk" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < Q25Cap && col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      Similarity.ivfTopK(q, c, cents, 5)
    }),

    // Production IVF end-to-end: spherical-k-means-trained centroids
    // (deterministic Lloyd seeds, k=8, 3 iterations) + nprobe=2 probing.
    // The Lloyd mean is exact integer-micro-unit arithmetic (see
    // kmeansCentroids), so the trained centroids — and therefore every
    // downstream cosine and rank — are bit-identical across engines, and
    // the whole 3-iteration chain is oracle-checked as a DuckDB CTE.
    // Recall vs the exact q24 top-k (and monotonicity in nprobe) is
    // asserted in SimilaritySpec.
    // Query batch bounded by the audit-slice rule (vec_id < Q25Cap) —
    // same contract and same identity-at-the-gates argument as q45.
    "q47_ivf_kmeans_topk" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < Q25Cap && col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      // train-once: the memoized rows ARE the per-invocation trainer's
      // exact output (kmeansCentroidsMemo), so oracle rows are unchanged
      val cents = kmeansCentroidsMemo(s, dir, k = 8, iters = 3)
      Similarity.ivfTopK(q, c, cents, 5, nprobe = 2)
    }),

    // SemDeDup (Abbas et al., arXiv:2303.09540) end-to-end: train
    // k = autoK(n) spherical-k-means centroids (3 deterministic Lloyd
    // iterations, the q47 trainer), assign every vector to its cluster,
    // and mark it a duplicate iff a lower-id member of the SAME cluster
    // exceeds cosine 0.45 — dup_of = the smallest such keeper id, NULL
    // for survivors. SELF-SIZING like q40: k tracks the corpus count
    // (the paper's k ∝ n rule — 11k clusters for its 100M embeddings),
    // holding the per-cluster pair join linear; the DuckDB twin derives
    // the identical k from its own COUNT(*). The whole chain (training
    // included) is oracle-checked. The count() is the same one
    // driver-side build scalar q40 uses.
    "q68_semdedup" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val n = e.count()
      // engage the training-sample machinery only when it binds — when
      // n <= cap the sample IS the corpus and the sort/cache would be
      // pure overhead (identical results either way)
      val cap = if (n > SemTrainCap) SemTrainCap else Long.MaxValue
      // train-once (kmeansCentroidsMemo): autoK(n) and cap are both
      // functions of the table contents the memo key fingerprints
      val cents = kmeansCentroidsMemo(s, dir, k = autoK(n), iters = 3,
        trainSampleCap = cap)
      Similarity.semDedup(e, cents, 0.45)
    }),

    // Scalar-quantized ANN with exact rescoring (the Faiss/Milvus SQ8
    // storage trick): phase 1 ranks ALL candidates by the cosine of the
    // per-vector int8-quantized vectors — at deployment the scan reads
    // the 4×-smaller int8 column — phase 2 rescores only the top-20
    // shortlist against the full-precision originals and returns the
    // exact-rescored top-5. The floor-based grid makes the dequantized
    // vectors bit-identical cross-engine, so the oracle checks the
    // whole two-phase chain, shortlist selection included.
    "q69_quantized_ann" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
        .withColumn("mx", expr(sqMaxAbsExpr("embedding")))
        .withColumn("dv", expr(sqDequantExpr("embedding", "mx")))
      // query batch bounded by the q25/q102 audit-slice rule: at the
      // oracle gates every vec_id is under Q25Cap so the batch is the
      // full % 50 set, and at any replica scale the batch is FIXED —
      // the int8 scan stays n·|batch|, linear in corpus (round-15
      // verdict task 1: the unbounded batch made the ×100 entry 71.6 s
      // of query-definition growth, misrepresenting the operator)
      val q = e.filter(col("vec_id") < Q25Cap && col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("dv").as("qdv"))
      val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"), col("dv").as("cdv"))
      Similarity.quantizedTopK(q, c, 5, SqOversample)
    }),

    // Semantic decontamination — q52's embedding-space complement
    // (verbatim 13-grams miss paraphrases; cosine similarity to a
    // held-out benchmark catches them — the contamination audit in
    // Llama/GPT-4-class reports pairs both): flag every training
    // vector whose max cosine to ANY benchmark vector (vec_id % 20 ==
    // 0, q52's held-out convention) exceeds 0.4, reporting the argmax
    // benchmark id as the match. One pass over the corpus against the
    // BROADCAST benchmark via the agg-min form (map-side partial
    // aggregation, no n×|bench| shuffle) — the linear min(struct)
    // template; a benchmark set is always tiny vs a 100 TB corpus, so
    // the broadcast holds at scale.
    // Norms are precomputed ONCE per row (the q25 trick — a benchmark
    // vector's norm would otherwise be recomputed for every one of the
    // n corpus rows it meets in the broadcast join); the per-pair work
    // is the codegen'd dot alone, and dot/(na·nb) is the oracle's exact
    // expression tree (na = sqrt(sumsq) is the same double wherever it
    // is computed), so parity is unchanged. The agg-min packed struct
    // is the map-side-combinable min(struct(-sim, id, …)) idiom.
    // The benchmark is bounded by the q25/q102 audit-slice rule
    // (vec_id < Q25Cap): the operator's contract is a FIXED held-out
    // benchmark screened against a GROWING corpus, so the bench side
    // must not scale with the table (round-15 verdict task 1 — the
    // unbounded % 20 demo grew both sides, 853× at ×100). At the
    // oracle gates every vec_id is under the cap, so the bound is the
    // identity there; train is the exact complement (everything not in
    // the benchmark gets screened — replica rows whose id pattern
    // matches % 20 above the cap are corpus, not benchmark).
    "q71_semantic_decontaminate" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
        .withColumn("nrm", sqrt(expr(graft.functions.VectorFunctions.sumsqExpr("embedding"))))
      val isBench = col("vec_id") % 20 === 0 && col("vec_id") < Q25Cap
      val bench = e.filter(isBench)
        .select(col("vec_id").as("bench_id"), col("embedding").as("bv"), col("nrm").as("nb"))
      val train = e.filter(!isBench)
        .select(col("vec_id"), col("embedding"), col("nrm").as("na"))
      semanticDecontaminate(train, bench, 0.4)
    }),

    // IVF cluster assignment (ANN scale path): centroids = vec_id 0..7;
    // every vector is assigned to its max-cosine centroid (lowest
    // centroid_id on a tie) by the vector kernel (Similarity.assign): one
    // mapPartitions over the scan against the broadcast centroids — no
    // exchange, no window (PlanSpec pins both; the oracle pins the
    // rows). A query then probes only its centroid's partition.
    "q35_ivf_assign" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
      Similarity.assign(
          e.select(col("vec_id"), col("embedding"), col("label")),
          cents, "embedding", "vec_id", Seq("label"))
        .select(col("vec_id"), col("centroid_id"), col("casim").as("cosine"), col("label"))
    }),

    // Lexical BM25 top-k retrieval — the keyword half of a hybrid search
    // engine (Robertson & Zaragoza 2009, k1 = 1.2, b = 0.75; Lucene's
    // +1-idf variant so idf is always positive). INTEGER-EXACT and thus
    // fully oracle-checked: idf uses the shared pl2 primitive over
    // xq = 1024·(2N+2)/(2df+1) — the BM25 idf argument
    // (N−df+0.5)/(df+0.5)+1 with both halves doubled to clear the .5s —
    // and the tf saturation term f·(k1+1)/(f + k1·(1−b+b·dl/avgdl))
    // clears ALL fractions by multiplying through by 10·T (avgdl = T/N):
    // tf_micro = 22e6·f·T / (10·f·T + 3·T + 9·dl·N), every operand a
    // BIGINT. Queries are more-like-this: each doc_id % 250 == 0
    // contributes its first 8 distinct tokens and retrieves the top-5
    // OTHER docs. Scale shape: postings = one explode + hash agg
    // (linear, 8-byte-ish keys); query terms and their idf table are
    // broadcast (≤ 8·|queries| rows), so the corpus-sized postings never
    // shuffle for the match — only the (query, doc) partial sums do; the
    // per-query window ranks only docs sharing ≥1 query term. N and T
    // are two driver scalars (the centroid-collect pattern). At extreme
    // T (≥ ~1e13 tokens) the cleared-fraction operands approach 2^63 —
    // there the deployment divides avgdl through first and accepts one
    // rounding, or widens to DECIMAL(38,0); the gate corpora sit 6
    // orders below that.
    "q75_bm25_topk" -> ((s, dir) => bm25Ranked(s, dir, BmTopK)),

    // Hybrid retrieval — reciprocal-rank fusion (Cormack et al. 2009,
    // k = 60) of the BM25 arm and the dense cosine-kNN arm over the SAME
    // query set (doc_id ≡ vec_id, 1:1 by construction of the corpus).
    // Each arm returns its top-20; fusion scores
    // rrf_micro = Σ_arm 1e9 div (60 + rank) — integer division, so the
    // fused ranking is bit-exact cross-engine with no float weights —
    // and keeps the top-5. A doc ranked by only one arm gets 0 from the
    // other (FULL OUTER join on bounded ≤ |queries|·20-row arm outputs,
    // trivially broadcastable at any corpus scale; the arms themselves
    // are q75's linear postings shape and q24's batch-kNN shape).
    "q76_hybrid_rrf" -> ((s, dir) => {
      // lexical arm = top-RrfArmK window over the materialized scored
      // stage (the fusion consumes the retrieval system's OUTPUT; q75
      // keeps the live end-to-end scoring row)
      val lex = rankScored(bm25ScoredStage(s, dir), RrfArmK)
        .select(col("query_id"), col("doc_id"), col("rank").as("rank_lex"))
      val e = Tables(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") % BmQueryMod === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val cv = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      // map-side top-k (q24's round-18 plan change): the dense arm's
      // |Q| grows with the corpus by query definition, so the former
      // window form put all n·|Q| pair rows through one exchange
      // (~160M rows at ×100); the bounded-heap form shuffles
      // |partitions|·|Q|·k rows and is bit-identical (SimilaritySpec)
      val dense = Similarity.topKPartitioned(s, qv, cv, RrfArmK)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("rank_dense"))
      // a window, not TopKRows.perGroup: one group per BM25 query, and
      // that batch grows with the corpus (20 at sf0.1, ~2,000 at ×100)
      lex.join(dense, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf_micro", expr(
          s"coalesce(1000000000 div ($RrfK + rank_lex), CAST(0 AS BIGINT)) + " +
            s"coalesce(1000000000 div ($RrfK + rank_dense), CAST(0 AS BIGINT))"))
        .withColumn("fused_rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("rrf_micro").desc, col("doc_id").asc)).cast("long"))
        .filter(col("fused_rank") <= BmTopK)
        .select(col("query_id"), col("doc_id"), col("rrf_micro"), col("fused_rank"))
    }),

    // Distributed retrieval evaluation — nDCG@5 of the BM25 system
    // against LEXICAL-OVERLAP graded relevance (round-13 verdict
    // stretch item 8; the prior dense-label formulation reported an
    // honest all-zero at the gate because hash embeddings ⊥ text):
    // rel(q, d) = how many of q's query terms d contains (0..8, the
    // graded signal Cranfield-style judgments approximate), read off
    // the SAME (query, doc) aggregation that sums the BM25 score —
    // postings are distinct per (doc, tok), so count(*) IS the distinct
    // term overlap, and the ground truth costs nothing beyond the
    // scoring shuffle it shares. The system ranking (by score) and the
    // ideal ranking (by rel) are two ≤k-per-query windows over the one
    // tracked-cached scored frame. INTEGER-EXACT: the log2 position
    // discount is the shared pl2 primitive — gain = rel · 2^30 div
    // pl2(1024·(rank+1)), exact at rank 1 (pl2(2048) = 1024) and
    // deterministically approximate elsewhere, identically on both
    // engines — so per-query DCG, ideal DCG and ndcg_micro =
    // 1e6·dcg div idcg are all BIGINT arithmetic, and since every BM25
    // candidate shares ≥1 query term, ndcg_micro is STRICTLY POSITIVE
    // for every reported query at the gate (SimilaritySpec asserts it
    // at sf0.01 and recounts the crafted corpus by hand). Scale shape:
    // the scored frame is query-sharded (Σ df over 8 terms per query),
    // both rankings are per-query windows, and the dcg⋈idcg join is
    // |queries|-row bounded.
    "q77_retrieval_eval" -> ((s, dir) => {
      // the evaluator measures the retrieval system's materialized run
      // (bm25ScoredStage); tracked so its two ranking windows share one
      // read
      val scored = graft.TempCaches.tracked(bm25ScoredStage(s, dir))
      val dcg = rankScored(scored, BmTopK)
        .withColumn("p", expr("1024 * (rank + 1)"))
        .withColumn("gain", expr(s"(rel * 1073741824) div (${Idioms.pl2Expr("p")})"))
        .groupBy(col("query_id"))
        .agg(sum(col("gain")).as("dcg"), count(lit(1)).as("nlex"))
      val idcg = scored
        .withColumn("rank_ideal", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("rel").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank_ideal") <= BmTopK)
        .withColumn("ip", expr("1024 * (rank_ideal + 1)"))
        .withColumn("igain", expr(s"(rel * 1073741824) div (${Idioms.pl2Expr("ip")})"))
        .groupBy(col("query_id")).agg(sum(col("igain")).as("idcg"))
      dcg.join(idcg, Seq("query_id"))
        .filter(col("nlex") > 0 && col("idcg") > 0)
        .withColumn("ndcg_micro", expr("(1000000 * dcg) div idcg"))
        .select(col("query_id"), col("dcg"), col("idcg"), col("ndcg_micro"))
    }),

    // Filtered ANN — the metadata-predicate retrieval every vector
    // store serves ("nearest neighbors WHERE label = X"): q45's IVF
    // probe with the predicate applied INSIDE the candidate scan,
    // before ranking — PRE-filter semantics, so the result is the true
    // top-5 among qualifying neighbors, not a post-filtered top-5 that
    // silently comes back short when the filter is selective. The
    // predicate here is same-label-as-query (category-constrained
    // search), tested per (query, row) inside the vector kernel's heaps
    // with the label riding through as the payload (Similarity.ivfRanked
    // — q45's plan plus a `label IN (query labels)` scan filter). At
    // deployment `label` becomes a secondary partition column under
    // `centroid_id` and that filter prunes files the way the probe does
    // (EmbeddingsStream.searchIndexFiltered).
    // Query batch bounded by the audit-slice rule (vec_id < Q25Cap) —
    // same contract as q45/q47: a retrieval batch is fixed, the corpus
    // grows.
    "q90_filtered_ann" -> ((s, dir) => {
      val (q, c, cents) = labeledIvfInputs(s, dir)
      Similarity.ivfRanked(q, c, cents, 5, nprobe = 1, sameLabel = Some(true))
        .select(col("query_id"), col("qlabel"), col("neighbor_id"), col("cosine"), col("rank"))
    }),

    // Hard-negative mining (contrastive-training data prep): for each
    // anchor, the top-5 most-similar corpus vectors with a DIFFERENT
    // label — the "hard negatives" a contrastive or embedding-training
    // pipeline pairs with each anchor — plus the margin against the
    // anchor's best same-label candidate (how hard the negative
    // actually is). q90's filtered-IVF shape with the predicate
    // negated, nprobe = 2 (negatives concentrate outside the anchor's
    // own cluster, so a wider probe keeps recall): one collect and one
    // probe feed two kernel rankings — the negatives with k = 5 and
    // `!=`, the best positive with k = 1 and `==` — so no candidate
    // frame is ever materialized. Margin is a per-row subtraction of two cosines
    // computed by the same kernel on both engines — deterministic.
    // Anchor batch bounded by the audit-slice rule (vec_id < Q25Cap) —
    // a mining run pairs a FIXED anchor set against a growing corpus.
    "q95_hard_negatives" -> ((s, dir) => {
      val (q, c, cents) = labeledIvfInputs(s, dir)
      val Seq(neg, pos) = Similarity.ivfRankedEach(q, c, cents,
        Seq(5 -> Some(false), 1 -> Some(true)), nprobe = 2)
      neg.join(broadcast(pos.select(col("query_id"), col("cosine").as("pos_sim"))),
          Seq("query_id"), "left")
        .withColumn("margin", coalesce(col("pos_sim"), lit(0.0)) - col("cosine"))
        .select(col("query_id"), col("qlabel"), col("neighbor_id"), col("clabel"),
          col("cosine"), col("rank"), col("margin"))
    }),

    // Embedding-space class report (training diagnostics): per label,
    // the exact class centroid, the NEAREST other class and the cosine
    // to it (inter-class separation — small margin = the confusable
    // pair), and the mean member-to-centroid cosine (intra-class
    // dispersion). Cross-engine exactness uses two established tricks:
    // centroids are q47's integer micro-unit means (floor(v·1e6) sums,
    // floor-divided by n — all values ≤ ~6e9, exact in double), and the
    // dispersion average floors each member cosine to ppm BEFORE the
    // sum, so the aggregate is an associative integer sum, not an
    // order-dependent float fold. Centroid-level work is |labels|²
    // rows; the corpus contributes one posexplode aggregation and one
    // broadcast-centroid cosine pass — no corpus-sized shuffle beyond
    // the per-(label, dim) groupBy.
    "q97_embedding_report" -> ((s, dir) => {
      import graft.functions.VectorFunctions
      val e = Tables(s, dir, "embeddings")
      val sums = e.select(col("label"), posexplode(col("embedding")))
        .groupBy(col("label"), col("pos"))
        .agg(sum(expr("CAST(FLOOR(CAST(col AS DOUBLE) * 1000000.0) AS BIGINT)")).as("sm"),
          count(lit(1)).as("cnt"))
        .withColumn("mi", expr("CAST(FLOOR(CAST(sm AS DOUBLE) / cnt) AS BIGINT)"))
      val cents = sums.groupBy(col("label"))
        .agg(max(col("cnt")).as("n"),
          expr("transform(array_sort(collect_list(struct(pos, mi))), x -> x.mi)").as("cv"))
        .transform(graft.TempCaches.tracked(_))
      val aSide = cents.select(col("label").as("la"), col("cv").as("ca"))
      val bSide = cents.select(col("label").as("lb"), col("cv").as("cb"))
      val inter = aSide.join(broadcast(bSide), col("la") =!= col("lb"))
        .withColumn("inter_cos", expr(VectorFunctions.cosineExpr("ca", "cb")))
      // group bound: one group per label (10 labels, 10×9 pairs)
      val nearest = TopKRows.perGroup(inter.select(col("la"), col("lb"), col("inter_cos")),
          Seq("la"), Seq(col("inter_cos").desc, col("lb").asc), 1, "rk")
        .select(col("la").as("label"), col("lb").as("nearest_label"), col("inter_cos"))
      val intra = e.join(broadcast(cents.select(col("label"), col("cv"))), Seq("label"))
        .withColumn("c_ppm", expr(
          s"CAST(FLOOR((${VectorFunctions.cosineExpr("embedding", "cv")}) * 1000000.0) AS BIGINT)"))
        .groupBy(col("label"))
        .agg(sum(col("c_ppm")).as("psum"), count(lit(1)).as("nn"))
        .withColumn("intra_ppm", expr("CAST(FLOOR(CAST(psum AS DOUBLE) / nn) AS BIGINT)"))
        .select(col("label"), col("intra_ppm"))
      nearest.join(cents.select(col("label"), col("n")), Seq("label"))
        .join(intra, Seq("label"))
        .select(col("label").cast("long").as("label"), col("n"),
          col("nearest_label").cast("long").as("nearest_label"),
          col("inter_cos"), col("intra_ppm"))
    }),

    // Distributed PCA — top principal component of the embedding cloud
    // by covariance + power iteration (the whitening / dimensionality
    // diagnostic every embedding pipeline wants; SemDeDup-style
    // pipelines run exactly this before clustering). The 100 TB shape:
    // ONE corpus pass accumulates the exact integer second-moment
    // matrix — each row explodes to its d(d+1)/2 upper-triangle
    // micro-unit products (codegen element_at arithmetic, no HOF
    // lambdas in the hot path) and the groupBy(i, j) partial-aggregates
    // map-side, so the shuffle carries at most 2080 rows per partition
    // regardless of corpus size; first moments ride the same pass
    // shape. Everything downstream of the moments touches only the
    // d×d matrix (4096 rows): covariance via the n·S_ij − S_i·S_j
    // identity (DECIMAL(38,0) — n·S_ij overflows BIGINT already at
    // sf0.1), normalisation to ±1e6 integer units, and THREE power
    // iterations as tiny join+groupBy rounds (q92's integer PageRank
    // pattern). Cross-engine exactness: micro-unit floors, and every
    // division is sign-guarded `abs div` so Spark's `div` and DuckDB's
    // floor `//` agree on negatives; the sign convention (entry with
    // the largest |component|, ties dim-asc, made positive) pins the
    // eigenvector's orientation. rayleigh_scaled = v·Cn·v div v·v is
    // the eigenvalue estimate in the same 1e6 scale.
    "q98_pca_power" -> ((s, dir) => {
      val (comp, rq) = pcaEigenMemo(s, dir)
      pcaPowerFrame(s, comp, rq)
    }),

    // PCA-extreme selection — the USE of q98's component: project every
    // embedding onto the top principal axis and report the 10 most
    // extreme documents per end (the diversity/outlier-selection
    // primitive: the corpus's dominant variance direction, and which
    // items sit at its ends — candidates for dedup-audit or
    // curriculum ends). The projection is a fully CODEGEN dot product:
    // the 64 component values are baked in as integer literals
    // (element_at(m, i)·c_i sums — no HOF lambda, no join), so the
    // corpus pass is one narrow projection; the extremes are one
    // bounded heap per end (TopKRows.perGroup keyed by side), never a
    // global sort. Integer-exact:
    // micro-unit embedding × 1e6-scale component, |term| ≤ 2^41,
    // d = 64 terms — far from overflow; ranks deterministic with
    // vec_id ties.
    // Product quantization ANN (Jégou et al. TPAMI 2011 — the memory-
    // bound vector-search workhorse; the codebook upgrade over q69's
    // per-vector SQ8): the 64-dim space splits into M = 4 subspaces of
    // 16 dims; each subspace trains its own Ks = 8 codebook with the
    // q47 integer-exact Lloyd trainer (spherical variant — subvector
    // assignment by max cosine, the engine's established quantizer
    // arithmetic), every corpus vector compresses to M codes
    // (4 bytes/vector here vs 64 at SQ8 vs 256 raw), and search is
    // ADC: per query ONE M·Ks table of floored-micro subvector dot
    // products, each candidate scored by summing its M table entries —
    // an integer sum, so aggregation order can't drift the hash.
    // Scale shape: training = q47's class (per-subspace corpus passes,
    // capped like q68's SemTrainCap at deployment — gate corpora are
    // under any cap so the uncapped oracle twin is exact); encode =
    // the pqEncode agg-min (map-side partial aggregation, one packed
    // row per (vec_id, sub) shuffled — never a window sort over the
    // n·M·Ks candidates); scoring joins the corpus code table against
    // a BROADCAST query table on (sub, code) — the corpus never
    // shuffles, and the per-candidate cost is M integer adds instead
    // of a 64-dim float dot.
    // The per-query rank is the bounded-heap rank helper
    // (graft.plans.TopKRows.perGroup — the q07 operator); groups: one
    // per query of the Q25Cap batch (≤ 40 at any sf), so the object agg stays
    // pure hash, and the map-side heap bounds the exchange to 5 rows per
    // query per partition (the window shuffled and SORTED every
    // ADC-scored candidate row). Measured 0.89 → 0.67 s at sf0.1 (7/7
    // reps), 4.92 → 4.75 s at ×100 against the window (round 20).
    "q102_pq_ann" -> ((s, dir) =>
      TopKRows.perGroup(pqAdcScored(s, dir), Seq("query_id"),
          Seq(col("adc_micro").desc, col("vec_id").asc), 5, "rank")
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc_micro"),
          col("rank").cast("long"))),

    // PQ + exact re-rank (the faiss IndexRefine composition — the
    // production answer to PQ's quantization loss): q102's integer ADC
    // SHORTLISTS the top PqRefineR candidates per query, then ONLY those
    // |q|·R rows fetch their raw vectors back and re-rank by exact
    // cosine. Recall@k is ≥ plain PQ's BY CONSTRUCTION: ADC-top-5 ⊆
    // ADC-top-R, and a true top-5 neighbor that survives into the
    // shortlist can never be displaced from an exact-cosine top-5 (at
    // most 4 corpus vectors beat it) — SimilaritySpec asserts the
    // per-query dominance. A learned OPQ rotation was the measured
    // alternative and REJECTED on data: the gate corpus is
    // near-isotropic (top eigenvalue 2.8 % of variance, max/min
    // per-dim variance 1.31×), and both the eigenvalue-allocation
    // permutation and a top-PC Householder alignment landed recall
    // within ±2 hits of natural order (noise), while refine dominates
    // pointwise — see COVERAGE.md. Scale shape: the ADC scan is
    // q102's (corpus never shuffles); the rescore joins the BOUNDED
    // broadcast shortlist against the corpus scan (broadcast hash
    // join, no shuffle), so exactly |q|·R raw vectors are ever
    // re-read however large the corpus.
    "q104_pq_refine" -> ((s, dir) => {
      import graft.functions.VectorFunctions
      val e = Tables(s, dir, "embeddings")
      // shortlist and final rank both run on the rank helper (see q102);
      // groups for both: one per query of the Q25Cap batch (≤ 40 at any
      // sf). Only the shortlist's candidate SET is used; the exact
      // re-rank below re-orders it. The heap shortlist measured 5.37 →
      // 5.09 s at ×100 against the window (round 20).
      val short = TopKRows.perGroup(pqAdcScored(s, dir), Seq("query_id"),
          Seq(col("adc_micro").desc, col("vec_id").asc), PqRefineR, "r")
        .select(col("query_id"), col("vec_id"))
      val qv = e.filter(col("vec_id") < Q25Cap && col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val rescored = e.select(col("vec_id"), col("embedding").as("cv"))
        .join(broadcast(short), Seq("vec_id"))
        .join(broadcast(qv), Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          floor(VectorFunctions.cosine("qv", "cv") * lit(1000000.0)).as("cos_micro"))
      TopKRows.perGroup(rescored, Seq("query_id"),
          Seq(col("cos_micro").desc, col("vec_id").asc), 5, "rank")
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("cos_micro"), col("rank").cast("long"))
    }),

    // IVFADC (Jégou et al. 2011 §IV — the production ANN composition
    // every large vector store actually deploys): q45's coarse IVF
    // quantizer routes, q102's PQ encodes the RESIDUAL (vector minus
    // its coarse centroid — residuals are far more compressible than
    // raw vectors), and search probes nprobe=2 coarse cells, scoring
    // only their members by ADC against the query's PER-CELL residual
    // table. Composition of established exact pieces: the q47 Lloyd
    // trainer (coarse, then 4 residual-subspace codebooks), float32
    // residual subtraction (IEEE-identical cross-engine), q102's
    // floored-micro integer ADC. Scale shape: candidates are only the
    // probed cells' members (the IVF win q102's flat scan lacks), the
    // query batch is the q25-capped fixed set, and every join
    // broadcasts codebook/query tables — the corpus shuffles only in
    // the PQ encode's partial aggregation (the coarse assignment is the
    // vector kernel's mapPartitions, the probes are chosen on the driver).
    "q103_ivfadc" -> ((s, dir) => {
      import graft.functions.VectorFunctions
      val e = Tables(s, dir, "embeddings")
      val coarse = coarseCentroidsMemo(s, dir, e)
      def resOf(frame: DataFrame): DataFrame = Similarity.assign(
          frame.select(col("vec_id"), col("embedding")), coarse,
          "embedding", "vec_id", Seq("embedding"))
        .join(broadcast(coarse), Seq("centroid_id"))
        .withColumn("r", expr(
          "zip_with(embedding, cvec, (a, b) -> CAST(a AS FLOAT) - CAST(b AS FLOAT))"))
        .select(col("vec_id"), col("centroid_id"), col("r"))
      // residual codebooks memoize like the coarse quantizer; training
      // (memo miss only) reads the residual frame once per subspace, so
      // it trains off a tracked cache — the encode pass below keeps its
      // own plain single-pass plan either way
      val pcents = pqCodebooksMemo(s, dir, "ivf-residual",
        graft.TempCaches.tracked(resOf(e)), "r")
      val res = resOf(e)
      val codes = pqEncode(
        pqSubvectors(res, "vec_id", "r", carry = Seq("centroid_id")),
        pcents, Seq("vec_id", "centroid_id"))
      val q = e.filter(col("vec_id") < Q25Cap && col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val qtab = Similarity.probeFrame(q, Similarity.probePairs(q, coarse, 2))
        .join(broadcast(coarse), Seq("centroid_id"))
        .withColumn("qr", expr(
          "zip_with(qv, cvec, (a, b) -> CAST(a AS FLOAT) - CAST(b AS FLOAT))"))
        .select(col("query_id"), col("centroid_id"), explode(expr(
          s"transform(sequence(0, ${PqM - 1}), m -> " +
            s"struct(m AS sub, slice(qr, m * $PqSubDim + 1, $PqSubDim) AS sv))")).as("x"))
        .select(col("query_id"), col("centroid_id"), col("x.sub").as("sub"), col("x.sv").as("sv"))
        .join(broadcast(pcents), Seq("sub"))
        .withColumn("t", expr(
          s"CAST(FLOOR((${VectorFunctions.dotExpr("sv", "cvec")}) * 1000000.0) AS BIGINT)"))
        .select(col("query_id"), col("centroid_id"), col("sub"), col("code"), col("t"))
      val adc = codes.join(broadcast(qtab), Seq("centroid_id", "sub", "code"))
        .filter(col("query_id") =!= col("vec_id"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("t")).as("adc_micro"))
      // groups: one per query of the Q25Cap batch (≤ 40 at any sf)
      TopKRows.perGroup(adc, Seq("query_id"),
          Seq(col("adc_micro").desc, col("vec_id").asc), 5, "rank")
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("adc_micro"), col("rank").cast("long"))
    }),

    "q101_pca_extremes" -> ((s, dir) => {
      val (comp, _) = pcaEigenMemo(s, dir)
      val dotExpr = comp.zipWithIndex
        .map { case (c, i) => s"element_at(m, ${i + 1}) * ${c}L" }.mkString(" + ")
      val proj = Tables(s, dir, "embeddings").select(col("vec_id"), col("label"),
          expr("transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))").as("m"))
        .withColumn("proj", expr(dotExpr))
        .select(col("vec_id"), col("label").cast("long").as("label"), col("proj"))
      // every row once per end, one heap per side (group bound: 2 sides,
      // one exchange); each side's order key is NULL on the other side
      val side = col("side")
      TopKRows.perGroup(proj.withColumn("side", explode(array(lit("max"), lit("min")))),
          Seq("side"), Seq(when(side === "max", col("proj")).desc,
            when(side === "min", col("proj")).asc, col("vec_id").asc), 10, "rank")
        .select(side, col("rank").cast("long"), col("vec_id"), col("label"), col("proj"))
    })
  )

  /** The eigeniteration runs DRIVER-SIDE on the collected d(d+1)/2-row
    * covariance — the MLlib computePrincipalComponents shape (RowMatrix
    * computes the Gram distributed, then eigendecomposes the d×d result
    * locally): d² is bounded by construction, exactly the documented
    * k-bounded-collect pattern (Similarity centroid pulls). Expressing
    * the 3 rounds as DataFrame joins instead measured 27 s at sf0.1 —
    * ~30 scheduled micro-stages over 64-row frames, pure orchestration
    * overhead. BigInt arithmetic is bit-identical to the oracle's
    * HUGEINT: sign-guarded abs-division everywhere. Shared by batch q98
    * and [[graft.streaming.EmbeddingsStream.principalComponent]] (the
    * standing moment state's read path). */
  private[graft] def pcaPowerOf(s: SparkSession, cov: DataFrame): DataFrame = {
    val (comp, rq) = pcaEigen(cov)
    pcaPowerFrame(s, comp, rq)
  }

  /** The 64-row local result frame both q98 and the streaming read path
    * report: (dim, comp, rayleigh_scaled). */
  private[graft] def pcaPowerFrame(s: SparkSession, comp: Array[Long], rq: Long): DataFrame = {
    import s.implicits._
    comp.zipWithIndex
      .map { case (c, dim) => (dim.toLong, c, rq) }.toSeq
      .toDF("dim", "comp", "rayleigh_scaled")
  }

  /** The driver-side eigeniteration itself: (component in ±1e6 integer
    * units, rayleigh quotient). Shared by q98 (reports it) and q101
    * (projects the corpus onto it). */
  private[graft] def pcaEigen(cov: DataFrame): (Array[Long], Long) = {
    val tri = cov.collect().map(r => (r.getInt(0), r.getInt(1),
      BigInt(r.getDecimal(2).toBigInteger)))
    // zero-ROW covariance (empty embeddings table): there is no
    // dimensionality to read off the rows, so return the canonical
    // 64-dim e₀/eigenvalue-0 result the zero-MATRIX branch below
    // returns for its degenerate corpora — not an exception from max()
    // on an empty collection
    if (tri.isEmpty)
      return (Array.tabulate(64)(i => if (i == 0) 1000000L else 0L), 0L)
    val d = tri.map(_._2).max + 1
    val cm = Array.ofDim[BigInt](d, d)
    tri.foreach { case (i, j, c) => cm(i)(j) = c; cm(j)(i) = c }
    def sdiv(a: BigInt, b: BigInt): BigInt = if (a < 0) -((-a) / b) else a / b
    val mc = cm.flatten.map(_.abs).max
    // degenerate corpus (single vector, or all vectors identical): the
    // covariance is the zero matrix and there is no principal direction
    // — return the canonical e₀ with eigenvalue 0 instead of dividing
    // by zero (spec-pinned; gate corpora never hit this, so the oracle
    // twin keeps the real-data arithmetic only)
    if (mc == 0)
      return (Array.tabulate(d)(i => if (i == 0) 1000000L else 0L), 0L)
    val cs = cm.map(_.map(c => sdiv(c * 1000000, mc)))
    var v = Array.fill(d)(BigInt(1000000))
    for (_ <- 1 to 3) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => cs(i)(j) * v(j)).sum)
      val mw = w.map(_.abs).max
      // total cancellation (v orthogonal to every row in integer
      // arithmetic) — keep the previous iterate rather than divide by 0
      if (mw > 0) v = w.map(x => sdiv(x * 1000000, mw))
    }
    val topDim = (0 until d).minBy(j => (-v(j).abs, BigInt(j)))
    val sgn = if (v(topDim) < 0) BigInt(-1) else BigInt(1)
    val comp = v.map(_ * sgn)
    val num = (for { i <- 0 until d; j <- 0 until d }
      yield cs(i)(j) * comp(i) * comp(j)).sum
    val den = comp.map(c => c * c).sum
    (comp.map(_.toLong), sdiv(num, den).toLong)
  }

  /** q98's distributed half — the exact integer covariance of the
    * embedding cloud, scaled by n (C_ij = n·S_ij − S_i·S_j), as a
    * d(d+1)/2-row upper-triangle DataFrame. ONE corpus pass: the pair
    * explode produces each row's upper-triangle micro-unit products
    * with the first moments riding the diagonal (i = j) groups.
    * Two-level aggregation keeps the hot loop in BIGINT codegen:
    * level 1 sums within 2^18-row vec_id buckets (bounded, so a
    * bucket's product sum stays far from Long overflow even at
    * |v| ≈ 2), level 2 folds the per-bucket partials in DECIMAL(38,0)
    * — only 2080 × n/2^18 rows ever touch decimal arithmetic, which
    * measured ~19× slower than the long path when it ran against
    * every exploded row. PlanSpec audits THIS plan (q98's returned
    * frame is the eagerly-computed 64-row local result, so the audit
    * must look here for the corpus-pass shape). */
  /** The moment pipeline over any (vec_id, embedding) frame — shared
    * by the batch q98 path and the standing streaming fold
    * ([[graft.streaming.EmbeddingsStream.momentIngest]]): the output
    * (i, j, sij, sid, cnt) rows are LINEAR in the input rows (sums and
    * counts), so per-batch moment tables add cell-wise into a standing
    * state that is bit-identical to one pass over the union. */
  private[graft] def pcaMomentsOf(df: DataFrame): DataFrame =
    df.select(
      expr("CAST(vec_id div 262144 AS INT)").as("bk"), expr(
        "transform(embedding, v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT))").as("m"))
      .select(col("bk"), col("m"), explode(expr("sequence(0, size(m) - 1)")).as("i"))
      .select(col("bk"), col("m"), col("i"), explode(expr("sequence(i, size(m) - 1)")).as("j"))
      .select(col("bk"), col("i"), col("j"),
        expr("element_at(m, i + 1) * element_at(m, j + 1)").as("p"),
        expr("CASE WHEN i = j THEN element_at(m, i + 1) ELSE CAST(NULL AS BIGINT) END").as("mi"))
      .groupBy(col("i"), col("j"), col("bk"))
      .agg(sum(col("p")).as("pp"), sum(col("mi")).as("pm"), count(lit(1)).as("pc"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("pp").cast("decimal(38,0)")).as("sij"),
        sum(col("pm").cast("decimal(38,0)")).as("sid"),
        sum(col("pc")).as("cnt"))

  private[graft] def pcaMoments(s: SparkSession, dir: String): DataFrame =
    graft.TempCaches.tracked(pcaMomentsOf(Tables(s, dir, "embeddings")))

  /** Covariance from a moment table (batch-built or the standing
    * streaming state): C_ij = n·S_ij − S_i·S_j in DECIMAL(38,0). */
  private[graft] def pcaCovarianceOf(mom: DataFrame): DataFrame = {
    val fm = mom.filter(col("i") === col("j"))
      .select(col("i"), col("sid").as("si"), col("cnt"))
    mom.select(col("i"), col("j"), col("sij"), col("cnt"))
      .join(broadcast(fm.select(col("i"), col("si").as("si_i"))), Seq("i"))
      .join(broadcast(fm.select(col("i").as("j"), col("si").as("si_j"))), Seq("j"))
      .withColumn("c", expr("CAST(cnt AS DECIMAL(38,0)) * sij - si_i * si_j"))
      .select(col("i"), col("j"), col("c"))
  }

  private[graft] def pcaCovariance(s: SparkSession, dir: String): DataFrame =
    pcaCovarianceOf(pcaMoments(s, dir))

  // --- q102 product-quantization parameters (shared by the Spark query
  // and its DuckDB twin: M subspaces × SubDim dims, Ks codes each,
  // PqIters Lloyd rounds per subspace) ---
  private[graft] val PqM = 4
  private[graft] val PqSubDim = 16
  private[graft] val PqKs = 8
  private[graft] val PqIters = 2
  /** q104 shortlist depth: ADC keeps this many candidates per query for
    * the exact re-rank. */
  private[graft] val PqRefineR = 50

  // --- Session-scoped trained-artifact store (round-13 verdict item 6:
  // q102/q103/q104 each retrained IDENTICAL codebooks per invocation —
  // PqM subspaces × PqIters Lloyd rounds, each a corpus join+agg job).
  // Training is deterministic (integer-exact Lloyd, deterministic seeds)
  // and the inputs are immutable parquet tables, so a trained artifact
  // keyed by its table DIRECTORY is valid for the session — the faiss
  // deployment shape (train once, reuse per query batch), and the batch
  // twin of EmbeddingsStream's standing-codebook precedent. The memo
  // holds COLLECTED local rows (coarse: PqKs rows; codebooks: PqM·PqKs
  // rows — tiny by construction), never a cached distributed frame, so
  // it leaks nothing into executor storage memory and survives
  // Bench/Verify cache hygiene (TempCaches.releaseAll + clearCache).
  // Oracle equivalence is untouched: the memoized values are the exact
  // rows the per-invocation training produced. ---
  private val kmeansMemo =
    scala.collection.concurrent.TrieMap[String, Array[(Long, Array[Float])]]()
  private val pqMemo =
    scala.collection.concurrent.TrieMap[String, Array[(Int, Long, Array[Float])]]()
  private val eigenMemo =
    scala.collection.concurrent.TrieMap[String, (Array[Long], Long)]()

  // Round-15 (advisor): memo keys carry a cheap CONTENT fingerprint of
  // the table directory (part-file names + sizes + mtimes, hashed), so a
  // table rewritten in place mid-session retrains instead of silently
  // serving stale centroids/eigenvectors; and hit/miss counters are
  // exported onto the bench artifact so a reader can tell which reps
  // timed training and which timed the train-once deployment shape.
  private[graft] val memoHits = new java.util.concurrent.atomic.AtomicLong
  private[graft] val memoMisses = new java.util.concurrent.atomic.AtomicLong

  /** `dir` + the hash of `table`'s [[graft.Tables.fingerprint]].
    * Listing footprint is one directory walk (few entries at any SF —
    * fingerprinting reads NO data), so the stamp costs microseconds
    * against a training run of corpus-scan jobs.
    *
    * Staleness caveat (round-18 advisor): the fingerprint is
    * name+size+mtime per file, so an in-place rewrite that preserves
    * every file NAME and SIZE within the filesystem's mtime granularity
    * (1 s on some filesystems) is indistinguishable from no change and
    * would serve a stale memo/stage. A TxTable upstream is immune —
    * every commit adds a `_txlog` manifest file the name walk sees —
    * and Spark's own parquet writers emit fresh randomized part-file
    * names on overwrite; the caveat bites only a hand-rolled
    * byte-in-place rewrite. Specs that rewrite tables call
    * StageMemo.clear()/the artifact memos' clear hooks instead of
    * relying on sub-second mtime resolution. */
  private[graft] def stampedKey(dir: String, table: String): String = {
    val sig = Tables.fingerprint(s"$dir/$table.parquet")
    s"$dir@${Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(sig))}"
  }

  private[graft] def memoGet[V](m: scala.collection.concurrent.TrieMap[String, V], key: String)
                        (compute: => V): V =
    m.get(key) match {
      case Some(v) => memoHits.incrementAndGet(); v
      case None => memoMisses.incrementAndGet(); m.getOrElseUpdate(key, compute)
    }

  /** q47/q68's spherical-k-means centroids, trained once per (table
    * contents, k, iters, cap) — round-14 verdict task 3: the q103
    * coarse-quantizer precedent applied to the last per-invocation
    * trainers. The memoized value is the exact collected centroid rows
    * the per-invocation training produced (k rows × 64 floats — tiny),
    * so every downstream assignment, cosine, and oracle row is unchanged
    * by construction; what disappears is the 3-Lloyd-round × collect
    * action chain per invocation — the action-count amplifier that let
    * box contention inflate q47 31× in the r14 artifact. */
  private[graft] def kmeansCentroidsMemo(s: SparkSession, dir: String, k: Int,
                                         iters: Int,
                                         trainSampleCap: Long = Long.MaxValue): DataFrame = {
    import s.implicits._
    memoGet(kmeansMemo, s"${stampedKey(dir, "embeddings")}#k$k-i$iters-c$trainSampleCap") {
      Similarity.kmeansCentroids(s, Tables(s, dir, "embeddings"), k, iters,
          trainSampleCap = trainSampleCap)
        .select(col("centroid_id"), col("cvec")).as[(Long, Array[Float])].collect()
    }.toSeq.toDF("centroid_id", "cvec")
  }

  /** q90/q95's inputs: the audit-slice query batch (query_id, qv,
    * qlabel), the corpus (neighbor_id, cv, clabel) and the centroids
    * vec_id 0..7 (centroid_id, cvec). */
  private def labeledIvfInputs(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val e = Tables(s, dir, "embeddings")
    (e.filter(col("vec_id") < Q25Cap && col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("label").as("qlabel")),
      e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"), col("label").as("clabel")),
      e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec")))
  }

  /** q103's coarse quantizer, trained once per table contents. */
  private[graft] def coarseCentroidsMemo(s: SparkSession, dir: String,
                                         e: => DataFrame): DataFrame = {
    import s.implicits._
    memoGet(kmeansMemo, s"${stampedKey(dir, "embeddings")}#coarse") {
      Similarity.kmeansCentroids(s, e, PqKs, PqIters)
        .select(col("centroid_id"), col("cvec")).as[(Long, Array[Float])].collect()
    }.toSeq.toDF("centroid_id", "cvec")
  }

  /** The PqM per-subspace codebooks, trained once per (table dir, tag) —
    * tag distinguishes the flat-vector books (q102/q104) from the
    * coarse-residual books (q103). `vectors` is by-name: a memo hit never
    * builds the training frame. */
  private[graft] def pqCodebooksMemo(s: SparkSession, dir: String, tag: String,
                                     vectors: => DataFrame, vecCol: String): DataFrame = {
    import s.implicits._
    memoGet(pqMemo, s"${stampedKey(dir, "embeddings")}#$tag") {
      pqCodebooks(s, vectors, vecCol)
        .select(col("sub"), col("code"), col("cvec"))
        .as[(Int, Long, Array[Float])].collect()
    }.toSeq.toDF("sub", "code", "cvec")
  }

  /** q98/q101's shared eigenvector: the corpus moment pass + driver
    * eigeniteration runs once per table dir; q101 then projects against
    * the memoized component without re-scanning for the covariance. */
  private[graft] def pcaEigenMemo(s: SparkSession, dir: String): (Array[Long], Long) =
    memoGet(eigenMemo, stampedKey(dir, "embeddings")) {
      pcaEigen(pcaCovariance(s, dir))
    }

  /** Test hook: drop every memoized trained artifact (a spec that
    * mutates a table dir in place must retrain). */
  private[graft] def clearTrainedMemo(): Unit = {
    kmeansMemo.clear(); pqMemo.clear(); eigenMemo.clear()
    memoHits.set(0); memoMisses.set(0)
  }

  /** q102's full ADC scoring frame — train codebooks, encode the corpus,
    * build the q25-capped query tables, score every (query, candidate)
    * by the integer table sum: (query_id, vec_id, adc_micro). Shared by
    * q102 (ranks it to top-5) and q104 (shortlists PqRefineR for the
    * exact re-rank), so the two queries cannot drift.
    *
    * Query batch bounded by the q25 audit-slice rule (vec_id < Q25Cap):
    * at the oracle gates every vec_id is under the cap so the batch is
    * the full % 50 set, and at any replica scale the batch is FIXED —
    * the ADC scan stays n·|batch|·M, linear in corpus (unbounded, the
    * n·q pair count made one ×100 run 1080 s; the capped shape is in
    * `scale_artifacts/probe_pq_r12.jsonl`, SCALE.md "Round 12 coda"). */
  private[graft] def pqAdcScored(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions
    val e = Tables(s, dir, "embeddings")
    val cents = pqCodebooksMemo(s, dir, "flat", e, "embedding")
    val codes = pqEncode(pqSubvectors(e, "vec_id", "embedding"), cents, Seq("vec_id"))
    val qtab = pqSubvectors(
        e.filter(col("vec_id") < Q25Cap && col("vec_id") % 50 === 0)
          .select(col("vec_id").as("query_id"), col("embedding")),
        "query_id", "embedding")
      .join(broadcast(cents), Seq("sub"))
      .withColumn("t", expr(
        s"CAST(FLOOR((${VectorFunctions.dotExpr("sv", "cvec")}) * 1000000.0) AS BIGINT)"))
      .select(col("query_id"), col("sub"), col("code"), col("t"))
    codes.join(broadcast(qtab), Seq("sub", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("t")).as("adc_micro"))
  }

  /** Per-subspace slice explode: one (id, [carry,] sub, sv) row per
    * vector per subspace — the shared input shape of the q102/q103
    * encode and of the ADC query tables. */
  private[graft] def pqSubvectors(df: DataFrame, idCol: String, vecCol: String,
                                  carry: Seq[String] = Nil): DataFrame =
    df.select(col(idCol) +: (carry.map(col) :+ explode(expr(
        s"transform(sequence(0, ${PqM - 1}), m -> " +
          s"struct(m AS sub, slice($vecCol, m * $PqSubDim + 1, $PqSubDim) AS sv))")).as("x")): _*)
      .select(col(idCol) +: (carry.map(col) :+ col("x.sub").as("sub") :+
        col("x.sv").as("sv")): _*)

  /** The M per-subspace Ks-codebooks via the q47 Lloyd trainer on the
    * sliced vectors: (sub, code, cvec). `vectors` must carry (vec_id,
    * `vecCol`). */
  private[graft] def pqCodebooks(s: SparkSession, vectors: DataFrame,
                                 vecCol: String): DataFrame =
    (0 until PqM).map { m =>
      Similarity.kmeansCentroids(s,
        vectors.select(col("vec_id"),
          expr(s"slice($vecCol, ${m * PqSubDim + 1}, $PqSubDim)").as("embedding")),
        PqKs, PqIters)
        .select(lit(m).as("sub"), col("centroid_id").as("code"), col("cvec"))
    }.reduce(_ unionByName _)

  /** PQ encode — the corpus-sized per-(id, sub) argmax, by the pinned
    * agg-min idiom (`min(struct(-cos, code))`), NOT a rank window: the window form sort-shuffles every n·M·Ks candidate row,
    * while min(struct) partial-aggregates map-side so the shuffle
    * carries ONE packed row per (id, sub) regardless of Ks.
    * guardedCosine (NaN → -Infinity) keeps a zero-norm slice or
    * centroid from ever outranking a real one, and the DuckDB twins
    * carry the identical isnan guard
    * ([[graft.functions.VectorFunctions.duckGuardedCosineExpr]]), so
    * both engines pick the (max real cosine, min code) winner even on
    * degenerate slices. `keys` = the id columns the codes attach to
    * (q102: vec_id; q103: vec_id + its coarse cell). */
  private[graft] def pqEncode(subv: DataFrame, cents: DataFrame,
                              keys: Seq[String]): DataFrame =
    subv.join(broadcast(cents), Seq("sub"))
      .withColumn("cos", Similarity.guardedCosine(col("sv"), col("cvec")))
      .groupBy((keys :+ "sub").map(col): _*)
      .agg(min(struct((col("cos") * lit(-1.0)).as("neg"),
        col("code").as("code"))).as("_w"))
      .select((keys :+ "sub").map(col) :+ col("_w.code").as("code"): _*)

  // --- q75/q76 retrieval parameters ---
  private[graft] val BmQueryMod = 250L
  private[graft] val BmQueryTerms = 8
  private[graft] val BmTopK = 5
  private[graft] val RrfArmK = 20
  private[graft] val RrfK = 60L

  /** BM25 ranked list, rank ≤ k per query (scaladoc at the q75 entry). */
  private[graft] def bm25Ranked(s: SparkSession, dir: String, k: Int): DataFrame = {
    val (postings, qterms, bigN, bigT) = bm25Parts(s, dir)
    bm25ScoreStage(postings, qterms, bigN, bigT, k)
  }

  /** The shared BM25 inputs — postings (doc_id, dl, tok, f), distinct
    * query terms (query_id, tok), and the two corpus scalars N/T — used
    * by q75/q76 (via [[bm25Ranked]]) and q77's overlap-graded eval.
    *
    * The postings table IS an inverted index — the stage a search
    * engine materializes once, not per query — so it rides [[StageMemo]]
    * keyed by the documents table's contents: the first consumer
    * (q75, q76, or q77, whichever runs first) pays the build + write,
    * every later invocation reads the materialization. The N/T scalars
    * are re-derived FROM the materialized postings (one memoized local
    * aggregation: N = distinct doc_id, T = Σ per-doc dl — identical
    * values, since every dl>0 doc has ≥1 posting and dl is constant
    * per doc), so the scalars can never drift from the stage that
    * produced them. The query-term side stays live: it tokenizes only
    * the 1-in-[[BmQueryMod]] slice under a pushed-down id filter. */
  private val bm25ScalarsMemo =
    scala.collection.concurrent.TrieMap[String, (Long, Long)]()

  private[graft] def bm25Parts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Long, Long) = {
    // Round-20 optimization (verdict item 2): the batch postings stage
    // keys on hk = xxhash64(tok) instead of the token STRING — the
    // posting⋈qterms and posting⋈dfq broadcast probes and the df
    // aggregation all hash/compare 8-byte longs, and the materialized
    // stage itself shrinks (no token text column). The token string
    // never reaches any of the family's outputs (ranking ties break on
    // doc_id; q77's rel counts postings), so results are identical
    // whenever xxhash64 is injective on the realized vocabulary — the
    // oracle gates verify exactly that (q75/q76/q77 hash-match at every
    // SF), and at any vocabulary a 64-bit collision is ~|V|²/2⁶⁵. The
    // build checks it on the corpus vocabulary ([[requireHashInjective]]),
    // once per stage build; a memo hit reads the stage and skips it.
    // Measured 12.55 → 7.87 s at the ×100 replica, 1.26 → 1.06 s at
    // sf0.1 (medians of 5 alternating same-JVM reps).
    // The STREAMING index (TextIndexStream) keeps string keys — its
    // on-disk postings are bucket-partitioned by the 60-bit hash and
    // the per-bucket term match needs the text — so bm25ScoredAll takes
    // the key column as a parameter instead of forking the scoring.
    val key = s"${stampedKey(dir, "documents")}#bm25postingsh"
    val postingsPath = StageMemo.materializePath(s, key, "postingsh") {
      val docs = Tables(s, dir, "documents")
        .withColumn("toks", expr(Idioms.toksExpr))
        .select(col("doc_id"), col("toks"), expr("CAST(size(toks) AS BIGINT)").as("dl"))
        .filter(col("dl") > 0)
      val toks = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
        .withColumn("hk", xxhash64(col("tok")))
      requireHashInjective(toks, "tok", "hk")
      toks.groupBy(col("doc_id"), col("dl"), col("hk")).agg(count(lit(1)).as("f"))
    }
    val postings = StageMemo.readStage(s, postingsPath)
    // scalars keyed by the materialized PATH, not the logical key: a
    // stage rebuild (StageMemo.clear, or a fingerprint-colliding
    // in-place rewrite) lands on a fresh temp path, so stale N/T can
    // never pair with rebuilt postings
    val (bigN, bigT) = memoGet(bm25ScalarsMemo, postingsPath) {
      val nt = postings.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("t")).first()
      (nt.getLong(0), nt.getLong(1))
    }
    val qterms = Tables(s, dir, "documents")
      .filter(col("doc_id") % BmQueryMod === 0)
      .withColumn("toks", expr(Idioms.toksExpr))
      .filter(expr("size(toks) > 0"))
      .select(col("doc_id").as("query_id"),
        explode(expr(s"slice(toks, 1, $BmQueryTerms)")).as("tok"))
      .select(col("query_id"), xxhash64(col("tok")).as("hk"))
      .distinct()
    (postings, qterms, bigN, bigT)
  }

  /** Fails unless `hashCol` takes as many distinct values as `keyCol`
    * over `df` — i.e. the hash is injective on the realized key set, the
    * precondition for joining and counting on the hash in place of the
    * key. The message carries both counts. Grouping by the hash counts
    * both in one shuffle: the per-hash distinct key counts sum to the
    * distinct keys, since a key has one hash. */
  private[graft] def requireHashInjective(df: DataFrame, keyCol: String,
                                          hashCol: String): Unit = {
    val r = df.groupBy(col(hashCol)).agg(countDistinct(col(keyCol)).as("n"))
      .agg(coalesce(sum(col("n")), lit(0L)), count(lit(1))).first()
    require(r.getLong(0) == r.getLong(1),
      s"$hashCol is not injective on $keyCol: ${r.getLong(0)} distinct $keyCol values " +
        s"but ${r.getLong(1)} distinct $hashCol values")
  }

  /** The scored BM25 "system run" — the (query_id, doc_id, score, rel)
    * frame q75 ranks, q76's lexical arm windows, and q77 evaluates —
    * materialized once per corpus ([[StageMemo]]): a fusion stage
    * consumes its arms' outputs and an evaluator does not re-run the
    * retrieval system it measures. q75 itself stays a LIVE end-to-end
    * retrieval (postings stage → scoring → ranking), so the family's
    * scoring cost keeps an honest bench row. */
  private[graft] def bm25ScoredStage(s: SparkSession, dir: String): DataFrame =
    StageMemo.materialize(s,
      s"${stampedKey(dir, "documents")}#bm25scored", "bm25scored") {
      val (postings, qterms, bigN, bigT) = bm25Parts(s, dir)
      bm25ScoredAll(postings, qterms, bigN, bigT)
    }

  /** The BM25 scoring stage over a postings set — shared (bit-exact,
    * all-integer) by the batch q75 path and the standing inverted index
    * ([[graft.streaming.TextIndexStream]]). `postings` must contain
    * (doc_id, dl, tok, f) rows covering EVERY posting of every query
    * term (df is computed inside, so each term's posting list must be
    * complete — guaranteed both by the full batch build and by
    * term-keyed bucket partitioning); `qterms` is the distinct
    * (query_id, tok) set. */
  private[graft] def bm25ScoreStage(postings: DataFrame, qterms: DataFrame,
                                    bigN: Long, bigT: Long, k: Int,
                                    keyCol: String = "hk"): DataFrame =
    rankScored(bm25ScoredAll(postings, qterms, bigN, bigT, keyCol).drop("rel"), k)

  /** Rank a scored (query_id, doc_id, score, …) frame by the BM25
    * family's ONE tiebreak rule — (score desc, doc_id asc), rank ≤ k —
    * shared by q75's ranking, q76's lexical arm, and q77's system
    * ranking so the retrieval, the fusion of it, and the evaluation of
    * it can never silently diverge on ordering. */
  private[graft] def rankScored(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
      Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= k)

  /** The unranked (query_id, doc_id, score, rel) frame: BM25 score plus
    * rel = number of DISTINCT query terms the doc contains (0..BmQueryTerms)
    * — the lexical-overlap graded relevance q77 evaluates against. rel
    * rides the same (query, doc) aggregation as the score (postings are
    * distinct per (doc, tok), so count(*) IS the distinct term overlap),
    * costing nothing beyond the existing shuffle. */
  private[graft] def bm25ScoredAll(postings: DataFrame, qterms: DataFrame,
                                   bigN: Long, bigT: Long,
                                   keyCol: String = "hk"): DataFrame = {
    val dfq = postings.join(broadcast(qterms.select(col(keyCol)).distinct()), Seq(keyCol))
      .groupBy(col(keyCol)).agg(count(lit(1)).as("df"))
      .withColumn("xq", expr(s"(1024 * (2 * $bigN + 2)) div (2 * df + 1)"))
      .withColumn("idf", expr(Idioms.pl2Expr("xq")))
      .select(col(keyCol), col("idf"))
    postings.join(broadcast(qterms), Seq(keyCol))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(dfq), Seq(keyCol))
      .withColumn("contrib", expr(
        s"idf * ((CAST(22000000 AS BIGINT) * f * $bigT) div " +
          s"(10 * f * $bigT + 3 * $bigT + 9 * dl * $bigN))"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"), count(lit(1)).as("rel"))
  }

  val oracle: Map[String, String] = Map(
    "q24_knn_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |sims AS (
         |  SELECT query_id, neighbor_id, ${duckCosineExpr("qv", "cv")} AS cosine
         |  FROM c CROSS JOIN q WHERE query_id <> neighbor_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
         |  FROM sims)
         |SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin,

    "q25_embedding_neardup" ->
      s"""WITH a AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings WHERE vec_id < $Q25Cap),
         |b AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings WHERE vec_id < $Q25Cap)
         |SELECT id_a, id_b, ${duckCosineExpr("va", "vb")} AS cosine
         |FROM a CROSS JOIN b
         |WHERE id_a < id_b AND ${duckCosineExpr("va", "vb")} > 0.45""".stripMargin,

    "q34_lsh_buckets" -> {
      val planeDot = (p: Int) =>
        s"""list_sum(list_transform(generate_series(1, 64),
           | d -> ((CAST(($p * 1000003 + d * 7919) % 1000 AS DOUBLE) - 499.5) / 1000.0)
           |   * CAST(embedding[d] AS DOUBLE)))""".stripMargin
      val bucketSql = (0 until 8).map(p =>
        s"CASE WHEN ${planeDot(p)} >= 0.0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END").mkString(" + ")
      s"SELECT vec_id, $bucketSql AS bucket, label FROM embeddings"
    },

    // The twin of the self-sizing q40: `params` derives the identical
    // bit width from COUNT(*) by the same integer rule as autoBits (a
    // generate_series scan for the smallest b >= 6 with
    // (TargetOccupancy << b) >= n, the constant interpolated so the two
    // engines can never disagree —
    // no log2 doubles, so no FP-parity risk). `dots` materializes the
    // per-(vec, table) plane-dot list with a nested lambda over the
    // DYNAMIC plane index tbl*bits + b; `keyed` derives the sign key
    // from the dots AND the confidence-ordered flip set — the
    // LEAST(bits, MaxProbes) planes with smallest (|dot|, plane-index) —
    // by sorting [abs, index] pairs, exactly the LshProbeKeys rule.
    // The |dot| values are the same sequential IEEE sums as the Spark
    // side, so the margin ORDERING is bit-identical cross-engine for
    // the same reason the sign tests are.
    "q40_lsh_neardup" ->
      s"""WITH params AS (
         |  SELECT MIN(b) AS bits
         |  FROM (SELECT unnest(generate_series($LshBits, 40)) AS b),
         |       (SELECT COUNT(*) AS n FROM embeddings)
         |  WHERE (CAST($TargetOccupancy AS BIGINT) << b) >= n),
         |dots AS (
         |  SELECT e.vec_id, tt.tbl AS tbl,
         |    list_transform(generate_series(0, p.bits - 1), b ->
         |      list_sum(list_transform(generate_series(1, 64), d ->
         |        ((CAST(CAST(((tt.tbl * p.bits + b) * 131071 + d * 8191) % 524287 AS BIGINT) * $LshMult % 1000003 % 1000 AS DOUBLE) - 499.5) / 1000.0)
         |        * CAST(e.embedding[d] AS DOUBLE)
         |      ))) AS ds
         |  FROM embeddings e CROSS JOIN params p
         |  CROSS JOIN (SELECT unnest(generate_series(0, ${LshTables - 1})) AS tbl) tt),
         |keyed AS (
         |  SELECT vec_id, tbl,
         |    list_sum(list_transform(generate_series(1, len(ds)), i ->
         |      CASE WHEN ds[i] >= 0.0 THEN (CAST(1 AS BIGINT) << (i - 1))
         |           ELSE CAST(0 AS BIGINT) END)) AS k,
         |    list_transform(
         |      list_slice(
         |        list_sort(list_transform(generate_series(1, len(ds)),
         |          i -> [abs(ds[i]), CAST(i - 1 AS DOUBLE)])),
         |        1, LEAST(len(ds), $MaxProbes)),
         |      x -> (CAST(1 AS BIGINT) << CAST(x[2] AS INTEGER))) AS flips
         |  FROM dots),
         |probe AS (
         |  SELECT vec_id, tbl,
         |    unnest(list_prepend(k, list_transform(flips, f -> xor(k, f)))) AS pk
         |  FROM keyed),
         |hot AS (
         |  SELECT tbl, k FROM keyed GROUP BY tbl, k
         |  HAVING COUNT(*) > $LshBucketCap),
         |idxf AS (
         |  SELECT ky.vec_id, ky.tbl, ky.k FROM keyed ky
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM hot h WHERE h.tbl = ky.tbl AND h.k = ky.k)),
         |cand AS (
         |  SELECT DISTINCT p.vec_id AS id_a, i.vec_id AS id_b
         |  FROM idxf i JOIN probe p
         |    ON i.tbl = p.tbl AND i.k = p.pk AND p.vec_id < i.vec_id)
         |SELECT id_a, id_b, ${duckCosineExpr("ea.embedding", "eb.embedding")} AS cosine
         |FROM cand
         |JOIN embeddings ea ON ea.vec_id = id_a
         |JOIN embeddings eb ON eb.vec_id = id_b
         |WHERE ${duckCosineExpr("ea.embedding", "eb.embedding")} > 0.45""".stripMargin,

    "q45_ivf_topk" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cvec
         |               FROM embeddings WHERE vec_id < 8),
         |ca AS (SELECT neighbor_id, cv, centroid_id FROM (
         |  SELECT e.vec_id AS neighbor_id, e.embedding AS cv, c.centroid_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckCosineExpr("e.embedding", "cvec")} DESC, centroid_id ASC) AS rk
         |  FROM embeddings e CROSS JOIN cents c) t WHERE rk = 1),
         |qa AS (SELECT query_id, qv, centroid_id FROM (
         |  SELECT e.vec_id AS query_id, e.embedding AS qv, c.centroid_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckCosineExpr("e.embedding", "cvec")} DESC, centroid_id ASC) AS rk
         |  FROM embeddings e CROSS JOIN cents c
         |  WHERE e.vec_id < $Q25Cap AND e.vec_id % 50 = 0) t WHERE rk = 1),
         |cand AS (
         |  SELECT qa.query_id, ca.neighbor_id, ${duckCosineExpr("qa.qv", "ca.cv")} AS cosine
         |  FROM ca JOIN qa USING (centroid_id)
         |  WHERE qa.query_id <> ca.neighbor_id)
         |SELECT query_id, neighbor_id, cosine, rank FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
         |  FROM cand) r WHERE rank <= 5""".stripMargin,

    // The trained-IVF oracle replays kmeansCentroids' exact arithmetic:
    // seeds = 8 lowest-id vectors renumbered 0..7, then per iteration
    // (assign by max-cosine with centroid_id-asc tiebreak) -> (mean in
    // floored integer micro-units, divided once to FLOAT) -> (empty
    // cluster keeps its previous centroid), three times; then corpus
    // assignment (rk=1), query probing (rk<=2 = nprobe 2), and top-5.
    // Every intermediate is bit-identical to the Spark side (see the
    // kmeansCentroids scaladoc for the exactness argument).
    "q47_ivf_kmeans_topk" -> {
      s"""WITH ${kmeansOracleCtes(k = 8, iters = 3)},
         |ca AS (SELECT neighbor_id, cv, centroid_id FROM (
         |  SELECT e.vec_id AS neighbor_id, e.embedding AS cv, c.centroid_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckCosineExpr("e.embedding", "c.cvec")} DESC, c.centroid_id ASC) AS rk
         |  FROM embeddings e CROSS JOIN c3 c) t WHERE rk = 1),
         |qa AS (SELECT query_id, qv, centroid_id FROM (
         |  SELECT e.vec_id AS query_id, e.embedding AS qv, c.centroid_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckCosineExpr("e.embedding", "c.cvec")} DESC, c.centroid_id ASC) AS rk
         |  FROM embeddings e CROSS JOIN c3 c
         |  WHERE e.vec_id < $Q25Cap AND e.vec_id % 50 = 0) t WHERE rk <= 2),
         |cand AS (
         |  SELECT qa.query_id, ca.neighbor_id, ${duckCosineExpr("qa.qv", "ca.cv")} AS cosine
         |  FROM ca JOIN qa USING (centroid_id)
         |  WHERE qa.query_id <> ca.neighbor_id)
         |SELECT query_id, neighbor_id, cosine, rank FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
         |  FROM cand) r WHERE rank <= 5""".stripMargin
    },

    // The SemDeDup twin: the shared kmeansOracleCtes trains c3 exactly
    // like the Spark side — including the SELF-SIZING k, derived from
    // COUNT(*) by the same integer rule as autoK via a scalar-subquery
    // seed LIMIT (GREATEST is max, // is integer division) — `ca` is
    // the rk=1 assignment, and the dup rule is the same same-cluster
    // lower-id cosine test with a MIN keeper.
    // `train` mirrors the trainSampleCap hash sample (a no-op at gate
    // sizes, where it selects the whole corpus); training CTEs read it,
    // the final assignment still scans all of `embeddings`.
    "q68_semdedup" ->
      s"""WITH train AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  ORDER BY ${graft.queries.Idioms.hash60Sql("CAST(vec_id AS VARCHAR)")} ASC, vec_id ASC
         |  LIMIT $SemTrainCap),
         |${kmeansOracleCtes(
             s"(SELECT GREATEST($KMin, COUNT(*) // $SemClusterTarget) FROM embeddings)",
             iters = 3, src = "train")},
         |ca AS (SELECT vec_id, embedding, centroid_id FROM (
         |  SELECT e.vec_id, e.embedding, c.centroid_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckCosineExpr("e.embedding", "c.cvec")} DESC, c.centroid_id ASC) AS rk
         |  FROM embeddings e CROSS JOIN c3 c) t WHERE rk = 1),
         |dups AS (
         |  SELECT a.vec_id, MIN(b.vec_id) AS dup_of
         |  FROM ca a JOIN ca b
         |    ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id
         |  WHERE ${duckCosineExpr("a.embedding", "b.embedding")} > 0.45
         |  GROUP BY a.vec_id)
         |SELECT ca.vec_id, ca.centroid_id, d.dup_of
         |FROM ca LEFT JOIN dups d ON ca.vec_id = d.vec_id""".stripMargin,

    "q69_quantized_ann" ->
      s"""WITH deq AS (
         |  SELECT vec_id, embedding, ${duckSqDequantExpr("embedding", "mx")} AS dv
         |  FROM (SELECT vec_id, embedding, ${duckSqMaxAbsExpr("embedding")} AS mx
         |        FROM embeddings)),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, dv AS qdv FROM deq
         |      WHERE vec_id < $Q25Cap AND vec_id % 50 = 0),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv, dv AS cdv FROM deq),
         |approx AS (
         |  SELECT query_id, neighbor_id, qv, cv,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY ${duckCosineExpr("qdv", "cdv")} DESC, neighbor_id ASC) AS ar
         |  FROM c CROSS JOIN q WHERE query_id <> neighbor_id)
         |SELECT query_id, neighbor_id, cosine, rank FROM (
         |  SELECT query_id, neighbor_id, ${duckCosineExpr("qv", "cv")} AS cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY ${duckCosineExpr("qv", "cv")} DESC, neighbor_id ASC) AS BIGINT) AS rank
         |  FROM approx WHERE ar <= $SqOversample) r WHERE rank <= 5""".stripMargin,

    "q71_semantic_decontaminate" ->
      s"""WITH bench AS (SELECT vec_id AS bench_id, embedding AS bv
         |               FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < $Q25Cap),
         |sims AS (
         |  SELECT e.vec_id, b.bench_id, ${duckCosineExpr("e.embedding", "b.bv")} AS cosine,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckCosineExpr("e.embedding", "b.bv")} DESC, b.bench_id ASC) AS rk
         |  FROM embeddings e CROSS JOIN bench b
         |  WHERE NOT (e.vec_id % 20 = 0 AND e.vec_id < $Q25Cap))
         |SELECT vec_id, bench_id, cosine FROM sims WHERE rk = 1 AND cosine > 0.4""".stripMargin,

    "q35_ivf_assign" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cvec
         |               FROM embeddings WHERE vec_id < 8),
         |sims AS (
         |  SELECT e.vec_id, centroid_id, ${duckCosineExpr("e.embedding", "cvec")} AS cosine, e.label,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckCosineExpr("e.embedding", "cvec")} DESC, centroid_id ASC) AS rk
         |  FROM embeddings e CROSS JOIN cents)
         |SELECT vec_id, centroid_id, cosine, label FROM sims WHERE rk = 1""".stripMargin,

    "q75_bm25_topk" ->
      s"""WITH ${bm25Cte(BmTopK)}
         |SELECT query_id, doc_id, score, rank FROM lr""".stripMargin,

    "q76_hybrid_rrf" ->
      s"""WITH ${bm25Cte(RrfArmK)},
         |qe AS (SELECT vec_id AS query_id, embedding AS qv
         |       FROM embeddings WHERE vec_id % $BmQueryMod = 0),
         |ce AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |dsims AS (
         |  SELECT query_id, neighbor_id, ${duckCosineExpr("qv", "cv")} AS cosine
         |  FROM ce CROSS JOIN qe WHERE query_id <> neighbor_id),
         |dranked AS (
         |  SELECT query_id, neighbor_id AS doc_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank_dense
         |  FROM dsims),
         |dr AS (SELECT * FROM dranked WHERE rank_dense <= $RrfArmK),
         |fused AS (
         |  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
         |    COALESCE(l.doc_id, d.doc_id) AS doc_id,
         |    CAST(COALESCE(1000000000 // ($RrfK + l.rank), 0)
         |       + COALESCE(1000000000 // ($RrfK + d.rank_dense), 0) AS BIGINT) AS rrf_micro
         |  FROM lr l FULL OUTER JOIN dr d
         |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
         |franked AS (
         |  SELECT query_id, doc_id, rrf_micro,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY rrf_micro DESC, doc_id ASC) AS BIGINT) AS fused_rank
         |  FROM fused)
         |SELECT query_id, doc_id, rrf_micro, fused_rank
         |FROM franked WHERE fused_rank <= $BmTopK""".stripMargin,

    "q77_retrieval_eval" ->
      s"""WITH ${bm25Cte(BmTopK, withRel = true)},
         |dcg AS (
         |  SELECT query_id,
         |    CAST(sum((rel * 1073741824) // (${Idioms.pl2Sql("p")})) AS BIGINT) AS dcg,
         |    count(*) AS nlex
         |  FROM (SELECT query_id, rel, 1024 * (rank + 1) AS p FROM lr) t
         |  GROUP BY 1),
         |ideal AS (
         |  SELECT query_id, rel,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, doc_id ASC) AS BIGINT) AS rank_ideal
         |  FROM lscored),
         |idcg AS (
         |  SELECT query_id,
         |    CAST(sum((rel * 1073741824) // (${Idioms.pl2Sql("ip")})) AS BIGINT) AS idcg
         |  FROM (SELECT query_id, rel, 1024 * (rank_ideal + 1) AS ip
         |        FROM ideal WHERE rank_ideal <= $BmTopK) t
         |  GROUP BY 1)
         |SELECT d.query_id, d.dcg, i.idcg, (1000000 * d.dcg) // i.idcg AS ndcg_micro
         |FROM dcg d JOIN idcg i USING (query_id)
         |WHERE d.nlex > 0 AND i.idcg > 0""".stripMargin,

    // q45's oracle chain with the label predicate inside the candidate
    // CTE (pre-filter: ranked AFTER the filter).
    "q90_filtered_ann" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cvec
         |               FROM embeddings WHERE vec_id < 8),
         |ca AS (SELECT neighbor_id, cv, clabel, centroid_id FROM (
         |  SELECT e.vec_id AS neighbor_id, e.embedding AS cv, e.label AS clabel,
         |    c.centroid_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckCosineExpr("e.embedding", "cvec")} DESC, centroid_id ASC) AS rk
         |  FROM embeddings e CROSS JOIN cents c) t WHERE rk = 1),
         |qa AS (SELECT query_id, qv, qlabel, centroid_id FROM (
         |  SELECT e.vec_id AS query_id, e.embedding AS qv, e.label AS qlabel,
         |    c.centroid_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckCosineExpr("e.embedding", "cvec")} DESC, centroid_id ASC) AS rk
         |  FROM embeddings e CROSS JOIN cents c
         |  WHERE e.vec_id < $Q25Cap AND e.vec_id % 50 = 0) t WHERE rk = 1),
         |cand AS (
         |  SELECT qa.query_id, qa.qlabel, ca.neighbor_id,
         |    ${duckCosineExpr("qa.qv", "ca.cv")} AS cosine
         |  FROM ca JOIN qa USING (centroid_id)
         |  WHERE ca.clabel = qa.qlabel AND qa.query_id <> ca.neighbor_id)
         |SELECT query_id, CAST(qlabel AS BIGINT) AS qlabel, neighbor_id, cosine, rank
         |FROM (
         |  SELECT query_id, qlabel, neighbor_id, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
         |  FROM cand) r WHERE rank <= 5""".stripMargin,

    "q95_hard_negatives" ->
      s"""WITH cents AS (SELECT vec_id AS centroid_id, embedding AS cvec
         |               FROM embeddings WHERE vec_id < 8),
         |ca AS (SELECT neighbor_id, cv, clabel, centroid_id FROM (
         |  SELECT e.vec_id AS neighbor_id, e.embedding AS cv, e.label AS clabel,
         |    c.centroid_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckCosineExpr("e.embedding", "cvec")} DESC, centroid_id ASC) AS rk
         |  FROM embeddings e CROSS JOIN cents c) t WHERE rk = 1),
         |qa AS (SELECT query_id, qv, qlabel, centroid_id FROM (
         |  SELECT e.vec_id AS query_id, e.embedding AS qv, e.label AS qlabel,
         |    c.centroid_id,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${duckCosineExpr("e.embedding", "cvec")} DESC, centroid_id ASC) AS rk
         |  FROM embeddings e CROSS JOIN cents c
         |  WHERE e.vec_id < $Q25Cap AND e.vec_id % 50 = 0) t WHERE rk <= 2),
         |cand AS (
         |  SELECT qa.query_id, qa.qlabel, ca.neighbor_id, ca.clabel,
         |    ${duckCosineExpr("qa.qv", "ca.cv")} AS cosine
         |  FROM ca JOIN qa USING (centroid_id)
         |  WHERE qa.query_id <> ca.neighbor_id),
         |pos AS (SELECT query_id, MAX(cosine) AS pos_sim FROM cand
         |        WHERE clabel = qlabel GROUP BY 1),
         |neg AS (
         |  SELECT query_id, qlabel, neighbor_id, clabel, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
         |  FROM cand WHERE clabel <> qlabel)
         |SELECT neg.query_id, CAST(neg.qlabel AS BIGINT) AS qlabel, neg.neighbor_id,
         |  CAST(neg.clabel AS BIGINT) AS clabel, neg.cosine, neg.rank,
         |  COALESCE(pos.pos_sim, 0.0) - neg.cosine AS margin
         |FROM neg LEFT JOIN pos ON neg.query_id = pos.query_id
         |WHERE neg.rank <= 5""".stripMargin,

    "q97_embedding_report" ->
      s"""WITH ex AS (
         |  SELECT label, d AS pos,
         |    CAST(SUM(CAST(FLOOR(CAST(embedding[d] AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) AS sm,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) dd
         |  GROUP BY label, d),
         |mi AS (SELECT label, pos,
         |         CAST(FLOOR(CAST(sm AS DOUBLE) / cnt) AS BIGINT) AS mi, cnt FROM ex),
         |cents AS (SELECT label, MAX(cnt) AS n, list(mi ORDER BY pos) AS cv
         |          FROM mi GROUP BY label),
         |inter AS (
         |  SELECT a.label AS la, b.label AS lb,
         |    ${duckCosineExpr("a.cv", "b.cv")} AS inter_cos
         |  FROM cents a JOIN cents b ON a.label <> b.label),
         |nearest AS (SELECT la, lb, inter_cos FROM (
         |  SELECT la, lb, inter_cos,
         |    ROW_NUMBER() OVER (PARTITION BY la
         |      ORDER BY inter_cos DESC, lb ASC) AS rk FROM inter) t WHERE rk = 1),
         |intra AS (
         |  SELECT e.label,
         |    CAST(FLOOR((${duckCosineExpr("e.embedding", "c.cv")}) * 1000000.0) AS BIGINT) AS c_ppm
         |  FROM embeddings e JOIN cents c ON e.label = c.label),
         |ia AS (SELECT label,
         |         CAST(FLOOR(CAST(SUM(c_ppm) AS DOUBLE) / COUNT(*)) AS BIGINT) AS intra_ppm
         |       FROM intra GROUP BY 1)
         |SELECT CAST(n.la AS BIGINT) AS label, c.n,
         |  CAST(n.lb AS BIGINT) AS nearest_label, n.inter_cos, ia.intra_ppm
         |FROM nearest n
         |JOIN cents c ON n.la = c.label
         |JOIN ia ON ia.label = n.la""".stripMargin,

    // Same moments / covariance / 3 unrolled power iterations in
    // HUGEINT; every division is the sign-guarded abs-div shared with
    // the Spark side, so `//` floor vs `div` semantics never differ.
    "q98_pca_power" ->
      s"""$PcaOracleCtes,
        |num AS (SELECT SUM(cs * a.comp * b.comp) AS num
        |        FROM cf f JOIN vo a ON a.j = f.i JOIN vo b ON b.j = f.j),
        |den AS (SELECT SUM(comp * comp) AS den FROM vo)
        |SELECT CAST(j AS BIGINT) AS dim, CAST(comp AS BIGINT) AS comp,
        |  CAST(CASE WHEN num < 0 THEN -((-num) // den) ELSE num // den END AS BIGINT)
        |    AS rayleigh_scaled
        |FROM vo, num, den""".stripMargin,

    // q98's chain re-derives the component, then the corpus projects
    // onto it (vec_id/label ride the micro-unit list) and the two ends
    // rank out — same integer dot product as the Spark literal sum.
    "q101_pca_extremes" ->
      s"""$PcaOracleCtes,
        |mmx AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |          list_transform(embedding,
        |            v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS m
        |        FROM embeddings),
        |proj AS (SELECT vec_id, label, CAST(SUM(m[j + 1] * comp) AS BIGINT) AS proj
        |         FROM mmx CROSS JOIN vo GROUP BY vec_id, label),
        |hi AS (SELECT 'max' AS side,
        |         CAST(ROW_NUMBER() OVER (ORDER BY proj DESC, vec_id ASC) AS BIGINT) AS rank,
        |         vec_id, label, proj
        |       FROM proj ORDER BY proj DESC, vec_id ASC LIMIT 10),
        |lo AS (SELECT 'min' AS side,
        |         CAST(ROW_NUMBER() OVER (ORDER BY proj ASC, vec_id ASC) AS BIGINT) AS rank,
        |         vec_id, label, proj
        |       FROM proj ORDER BY proj ASC, vec_id ASC LIMIT 10)
        |SELECT side, rank, vec_id, label, proj FROM hi
        |UNION ALL SELECT side, rank, vec_id, label, proj FROM lo""".stripMargin,

    // Four prefixed instances of the shared k-means chain (one per
    // subspace, on the sliced vectors), then the same encode / ADC
    // arithmetic: cosine assignment ties on code ASC, table entries
    // floored to micro BEFORE the sum so aggregation is integer. The
    // encode window ranks the GUARDED cosine (isnan → -infinity),
    // mirroring the Spark side's pqEncode guardedCosine — a row_number
    // CTE is fine HERE (DuckDB is the single-node oracle; the agg-min
    // requirement is about Spark's shuffle, not SQL expressibility),
    // and over the guarded value (max real cosine, min code) it picks
    // the identical winner.
    "q102_pq_ann" ->
      s"""$pqAdcCtes
         |SELECT query_id, vec_id AS neighbor_id, adc_micro, rank FROM (
         |  SELECT query_id, vec_id, adc_micro,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adc_micro DESC, vec_id ASC) AS BIGINT) AS rank
         |  FROM sc) r WHERE rank <= 5""".stripMargin,

    // q102's chain through `sc`, then the refine rung: ADC top-R
    // shortlist, raw vectors re-joined for ONLY those rows, exact
    // cosine floored to micro re-ranks the final top-5.
    "q104_pq_refine" ->
      s"""$pqAdcCtes,
         |short AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY adc_micro DESC, vec_id ASC) AS rk
         |    FROM sc) t WHERE rk <= $PqRefineR),
         |resc AS (SELECT s.query_id, s.vec_id,
         |           CAST(FLOOR((${graft.functions.VectorFunctions.duckCosineExpr("q.embedding", "c.embedding")}) * 1000000.0) AS BIGINT) AS cos_micro
         |         FROM short s
         |         JOIN embeddings q ON q.vec_id = s.query_id
         |         JOIN embeddings c ON c.vec_id = s.vec_id)
         |SELECT query_id, vec_id AS neighbor_id, cos_micro, rank FROM (
         |  SELECT query_id, vec_id, cos_micro,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY cos_micro DESC, vec_id ASC) AS BIGINT) AS rank
         |  FROM resc) r WHERE rank <= 5""".stripMargin,

    // Coarse chain (prefix g) on raw vectors, residual CTE (float32
    // subtraction), 4 prefixed codebook chains on residual slices,
    // then q102's encode/ADC — candidates only in probed cells.
    "q103_ivfadc" -> {
      val coarse = kmeansOracleCtes(PqKs.toString, PqIters, prefix = "g")
      val rsubs = (0 until PqM).map { m =>
        s"rsub$m AS (SELECT vec_id, embedding[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}] AS embedding FROM res)"
      }.mkString(",\n")
      val kms = (0 until PqM).map { m =>
        kmeansOracleCtes(PqKs.toString, PqIters, src = s"rsub$m",
          prefix = s"p$m", dims = PqSubDim)
      }.mkString(",\n")
      val centsUnion = (0 until PqM).map { m =>
        s"SELECT $m AS sub, centroid_id AS code, cvec FROM p${m}c$PqIters"
      }.mkString(" UNION ALL ")
      val subFloat = "list_transform(list_zip(%s, %s), x -> CAST(x[1] AS FLOAT) - CAST(x[2] AS FLOAT))"
      s"""WITH $coarse,
         |asg AS (SELECT vec_id, centroid_id FROM (
         |    SELECT e.vec_id, c.centroid_id,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckGuardedCosineExpr("e.embedding", "c.cvec")} DESC, c.centroid_id ASC) AS rk
         |    FROM embeddings e CROSS JOIN gc$PqIters c) t WHERE rk = 1),
         |res AS (SELECT e.vec_id, a.centroid_id,
         |          ${subFloat.format("e.embedding", "c.cvec")} AS embedding
         |        FROM embeddings e JOIN asg a USING (vec_id)
         |        JOIN gc$PqIters c ON c.centroid_id = a.centroid_id),
         |$rsubs,
         |$kms,
         |pcents AS ($centsUnion),
         |rsubv AS (SELECT vec_id, centroid_id, mm.sub,
         |            embedding[mm.sub * $PqSubDim + 1 : (mm.sub + 1) * $PqSubDim] AS sv
         |          FROM res, (SELECT unnest(generate_series(0, ${PqM - 1})) AS sub) mm),
         |codes AS (SELECT vec_id, centroid_id, sub, code FROM (
         |    SELECT v.vec_id, v.centroid_id, v.sub, c.code,
         |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
         |        ORDER BY ${duckGuardedCosineExpr("v.sv", "c.cvec")} DESC, c.code ASC) AS rk
         |    FROM rsubv v JOIN pcents c ON c.sub = v.sub) t WHERE rk = 1),
         |qq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
         |       WHERE vec_id < $Q25Cap AND vec_id % 50 = 0),
         |probes AS (SELECT query_id, qv, centroid_id FROM (
         |    SELECT q.query_id, q.qv, c.centroid_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |        ORDER BY ${duckGuardedCosineExpr("q.qv", "c.cvec")} DESC, c.centroid_id ASC) AS rk
         |    FROM qq q CROSS JOIN gc$PqIters c) t WHERE rk <= 2),
         |qres AS (SELECT p.query_id, p.centroid_id,
         |           ${subFloat.format("p.qv", "c.cvec")} AS qr
         |         FROM probes p JOIN gc$PqIters c ON c.centroid_id = p.centroid_id),
         |qsub AS (SELECT query_id, centroid_id, mm.sub,
         |           qr[mm.sub * $PqSubDim + 1 : (mm.sub + 1) * $PqSubDim] AS sv
         |         FROM qres, (SELECT unnest(generate_series(0, ${PqM - 1})) AS sub) mm),
         |qt AS (SELECT q.query_id, q.centroid_id, q.sub, c.code,
         |         CAST(FLOOR((${duckDotExpr("q.sv", "c.cvec")}) * 1000000.0) AS BIGINT) AS t
         |       FROM qsub q JOIN pcents c ON c.sub = q.sub),
         |sc AS (SELECT t.query_id, k.vec_id, CAST(SUM(t.t) AS BIGINT) AS adc_micro
         |       FROM codes k JOIN qt t ON t.centroid_id = k.centroid_id
         |         AND t.sub = k.sub AND t.code = k.code
         |       WHERE t.query_id <> k.vec_id GROUP BY 1, 2)
         |SELECT query_id, vec_id AS neighbor_id, adc_micro, rank FROM (
         |  SELECT query_id, vec_id, adc_micro,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adc_micro DESC, vec_id ASC) AS BIGINT) AS rank
         |  FROM sc) r WHERE rank <= 5""".stripMargin
    }
  )

  /** The q98 oracle's WITH-chain through the oriented component `vo`
    * (j, comp) — shared verbatim by the q101 twin so they cannot
    * drift. (A `def`: the oracle val above interpolates it during
    * object init, before a plain val this low in the file would be
    * assigned.) */
  private def PcaOracleCtes: String =
    """WITH mm AS (
      |  SELECT list_transform(embedding,
      |    v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS m
      |  FROM embeddings),
      |fm AS (
      |  SELECT i, CAST(SUM(m[i + 1]) AS HUGEINT) AS si, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM (SELECT m, unnest(generate_series(0, len(m) - 1)) AS i FROM mm)
      |  GROUP BY i),
      |pairs AS (
      |  SELECT i, j, CAST(SUM(CAST(m[i + 1] AS HUGEINT) * m[j + 1]) AS HUGEINT) AS sij
      |  FROM (SELECT m, i, unnest(generate_series(i, len(m) - 1)) AS j
      |        FROM (SELECT m, unnest(generate_series(0, len(m) - 1)) AS i FROM mm))
      |  GROUP BY i, j),
      |cov AS (
      |  SELECT p.i, p.j, CAST(a.cnt AS HUGEINT) * p.sij - a.si * b.si AS c
      |  FROM pairs p JOIN fm a ON a.i = p.i JOIN fm b ON b.i = p.j),
      |mx AS (SELECT MAX(ABS(c)) AS mc FROM cov),
      |cn AS (
      |  SELECT i, j,
      |    CASE WHEN c < 0 THEN -((-c * 1000000) // mc) ELSE (c * 1000000) // mc END AS cs
      |  FROM cov, mx),
      |cf AS (SELECT i, j, cs FROM cn UNION ALL SELECT j AS i, i AS j, cs FROM cn WHERE i <> j),
      |v0 AS (SELECT unnest(generate_series(0, 63)) AS j, CAST(1000000 AS HUGEINT) AS v),
      |w1 AS (SELECT f.i, SUM(cs * v) AS w FROM cf f JOIN v0 ON v0.j = f.j GROUP BY 1),
      |v1 AS (SELECT i AS j, CASE WHEN w < 0 THEN -((-w * 1000000) // mw)
      |         ELSE (w * 1000000) // mw END AS v
      |       FROM w1, (SELECT MAX(ABS(w)) AS mw FROM w1)),
      |w2 AS (SELECT f.i, SUM(cs * v) AS w FROM cf f JOIN v1 ON v1.j = f.j GROUP BY 1),
      |v2 AS (SELECT i AS j, CASE WHEN w < 0 THEN -((-w * 1000000) // mw)
      |         ELSE (w * 1000000) // mw END AS v
      |       FROM w2, (SELECT MAX(ABS(w)) AS mw FROM w2)),
      |w3 AS (SELECT f.i, SUM(cs * v) AS w FROM cf f JOIN v2 ON v2.j = f.j GROUP BY 1),
      |v3 AS (SELECT i AS j, CASE WHEN w < 0 THEN -((-w * 1000000) // mw)
      |         ELSE (w * 1000000) // mw END AS v
      |       FROM w3, (SELECT MAX(ABS(w)) AS mw FROM w3)),
      |sg AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg
      |       FROM v3 ORDER BY ABS(v) DESC, j ASC LIMIT 1),
      |vo AS (SELECT j, v * sg AS comp FROM v3, sg)""".stripMargin

  /** The q75 lexical arm as DuckDB CTEs ending in `lr` (rank ≤ k) —
    * shared by the q75 and q76 oracles so the twins cannot drift. */
  /** The q102 ADC WITH-chain through `sc` (query_id, vec_id,
    * adc_micro) — per-subspace slices, 4 prefixed k-means chains, the
    * guarded-cosine encode, the q25-capped query tables, the integer
    * ADC sum. Shared verbatim by the q102 and q104 twins so the
    * shortlist the refine rung re-ranks is EXACTLY q102's scoring. */
  private def pqAdcCtes: String = {
    val subs = (0 until PqM).map { m =>
      s"sub$m AS (SELECT vec_id, embedding[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}] AS embedding FROM embeddings)"
    }.mkString(",\n")
    val kms = (0 until PqM).map { m =>
      kmeansOracleCtes(PqKs.toString, PqIters, src = s"sub$m",
        prefix = s"k$m", dims = PqSubDim)
    }.mkString(",\n")
    val centsUnion = (0 until PqM).map { m =>
      s"SELECT $m AS sub, centroid_id AS code, cvec FROM k${m}c$PqIters"
    }.mkString(" UNION ALL ")
    s"""WITH $subs,
       |$kms,
       |cents AS ($centsUnion),
       |subv AS (SELECT vec_id, mm.sub,
       |           embedding[mm.sub * $PqSubDim + 1 : (mm.sub + 1) * $PqSubDim] AS sv
       |         FROM embeddings, (SELECT unnest(generate_series(0, ${PqM - 1})) AS sub) mm),
       |codes AS (SELECT vec_id, sub, code FROM (
       |    SELECT v.vec_id, v.sub, c.code,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
       |        ORDER BY ${duckGuardedCosineExpr("v.sv", "c.cvec")} DESC, c.code ASC) AS rk
       |    FROM subv v JOIN cents c ON c.sub = v.sub) t WHERE rk = 1),
       |qt AS (SELECT q.vec_id AS query_id, q.sub, c.code,
       |         CAST(FLOOR((${duckDotExpr("q.sv", "c.cvec")}) * 1000000.0) AS BIGINT) AS t
       |       FROM subv q JOIN cents c ON c.sub = q.sub
       |       WHERE q.vec_id < $Q25Cap AND q.vec_id % 50 = 0),
       |sc AS (SELECT t.query_id, k.vec_id, CAST(SUM(t.t) AS BIGINT) AS adc_micro
       |       FROM codes k JOIN qt t ON t.sub = k.sub AND t.code = k.code
       |       WHERE t.query_id <> k.vec_id GROUP BY 1, 2)""".stripMargin
  }

  private def bm25Cte(k: Int, withRel: Boolean = false): String = {
    val relAgg = if (withRel) ",\n    CAST(count(*) AS BIGINT) AS rel" else ""
    val relCol = if (withRel) ", rel" else ""
    s"""dtk AS (SELECT doc_id, ${Idioms.toksSql} AS tk FROM documents),
       |docs AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS dl
       |         FROM dtk WHERE len(tk) > 0),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS t
       |       FROM docs),
       |postings AS (
       |  SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS f
       |  FROM docs, unnest(tk) AS u(tok) GROUP BY 1, 2, 3),
       |qterms AS (
       |  SELECT DISTINCT doc_id AS query_id, tok
       |  FROM docs, unnest(tk[1:$BmQueryTerms]) AS u(tok)
       |  WHERE doc_id % $BmQueryMod = 0),
       |dfq AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM postings
       |  WHERE tok IN (SELECT tok FROM qterms) GROUP BY 1),
       |idf AS (
       |  SELECT tok, ${Idioms.pl2Sql("xq")} AS idf
       |  FROM (SELECT tok, (1024 * (2 * n + 2)) // (2 * df + 1) AS xq
       |        FROM dfq CROSS JOIN nt)),
       |lscored AS (
       |  SELECT q.query_id, p.doc_id,
       |    CAST(sum(i.idf * ((CAST(22000000 AS BIGINT) * p.f * t) //
       |      (10 * p.f * t + 3 * t + 9 * p.dl * n))) AS BIGINT) AS score$relAgg
       |  FROM postings p JOIN qterms q USING (tok) JOIN idf i USING (tok)
       |    CROSS JOIN nt
       |  WHERE p.doc_id <> q.query_id
       |  GROUP BY 1, 2),
       |lranked AS (
       |  SELECT query_id, doc_id, score$relCol,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
       |  FROM lscored),
       |lr AS (SELECT * FROM lranked WHERE rank <= $k)""".stripMargin
  }
}
