package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-pipeline operator demos: chunking (T1), text analysis
  * (lang-ID, quality, tokens, fingerprint), dedup families (exact /
  * n-gram-Jaccard / MinHash-LSH / SimHash) over the `documents` table.
  *
  * Hash determinism across engines: token/shingle hashes are derived by
  * parsing the first 15 hex chars of sha256 as a 60-bit integer — both
  * Spark (`conv(substr(sha2(s,256),1,15),16,10)`) and DuckDB
  * (`('0x'||substr(sha256(s),1,15))::bigint`) produce identical values,
  * so MinHash/SimHash signatures match bit-for-bit.
  */
object TextOps {

  private[graft] val P = 2147483647L // 2^31 - 1, Mersenne prime for perm hashes
  private[graft] def permA(i: Int): Long = (i + 1).toLong * 1299721L
  private[graft] def permB(i: Int): Long = ((i + 1).toLong * 15485863L) % P

  /** non-empty whitespace tokens */
  private[graft] val toksExpr = Idioms.toksExpr
  /** 60-bit shingle hash reduced mod P */
  private[graft] val hmExpr = Idioms.hash60Expr("s") + " % 2147483647"
  /** the full 60-bit hash, un-reduced (q50's simhash votes: every one of
    * its 32 signature bits must carry signal — the mod-P form pins bit
    * 31 to zero) */
  private val hm60Expr = Idioms.hash60Expr("s")

  /** Hot-key caps shared by q21/q22/q48 AND their oracle SQL (q48 mirrors
    * the bucket cap oracle-side). Tuning rule: a key at the cap admits
    * cap² join rows, so set cap ≈ sqrt(tolerable rows per hot key) —
    * 1000 bounds any one shingle/bucket to 10⁶ rows, a single task's
    * work at 100 TB. TextOpsSpec asserts ≥10× headroom at oracle scale
    * (max shingle DF is 7 at sf0.01) so a test-data refresh cannot
    * silently turn the cap into an oracle mismatch. */
  private[graft] val ShingleDfCap = 1000L
  private[graft] val BucketCap = 1000
  /** q50's tighter cap: simhash buckets skew far beyond minhash buckets
    * (shared vocabulary ⇒ shared sign pattern), and the pair expansion
    * materializes C(cap,2) structs per bucket row. 200 keeps sf0.01's
    * max bucket (126) under the cap — the TextOpsSpec banded≡brute
    * equality test is the loud guard if a data refresh saturates it. */
  private[graft] val SimhashBucketCap = 200

  /** The 16 permutation min-hashes in ONE aggregation pass over
    * (doc_id, s) shingle rows — no row blowup, no signature self-join. */
  private[graft] def minhashSig(sh: DataFrame): DataFrame = {
    val hm = sh.select(col("doc_id"), expr(hmExpr).as("hm"))
    val mhCols = (0 until 16).map(i =>
      min((lit(permA(i)) * col("hm") + lit(permB(i))) % lit(P)).as(s"mh$i"))
    hm.groupBy(col("doc_id")).agg(mhCols.head, mhCols.tail: _*)
  }

  /** Capped bucket-join pair expansion over (doc_id, band, bucket) rows:
    * collecting each bucket's members and exploding its pairs evaluates
    * the signature subtree ONCE (a bucket self-join would compute the
    * signature pipeline twice), and buckets over [[BucketCap]] members
    * are non-discriminative collisions dropped before the quadratic
    * expansion. */
  private[graft] def bucketPairs(banded: DataFrame): DataFrame =
    banded
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, BucketCap))
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids)), b ->
          |    struct(least(a, b) AS doc_a, greatest(a, b) AS doc_b))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()

  /** The (doc_id, band, bucket) banding of a 16-minhash signature —
    * shared by the batch pair expansion and the standing stream index
    * ([[graft.streaming.NearDupStream]]), so both derive identical band
    * keys from identical signatures. */
  private[graft] def bandedRows(sig: DataFrame, bands: Int): DataFrame = {
    val rows = 16 / bands
    val bandStructs = (0 until bands).map(bnd =>
      struct(lit(bnd).as("band"),
        concat_ws(",", (0 until rows).map(j => col(s"mh${bnd * rows + j}")): _*).as("bucket")))
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Band a 16-minhash signature into `bands` bands of 16/`bands` rows
    * and emit capped candidate pairs via [[bucketPairs]]. */
  private[graft] def lshCandidatePairs(sig: DataFrame, bands: Int): DataFrame =
    bucketPairs(bandedRows(sig, bands))

  /** `bits`-bit SimHash signature in ONE aggregation pass: per-bit signed
    * votes over `hashExpr` token hashes (q23 uses the mod-P 31-bit hash
    * its oracle pins; q50 uses the full 60-bit hash so all 32 signature
    * bits carry signal). */
  private[graft] def simhashSig(docs: DataFrame, bits: Int, hashExpr: String): DataFrame = {
    val h = docs.select(col("doc_id"), explode(expr(toksExpr)).as("s"))
      .select(col("doc_id"), expr(hashExpr).as("h"))
    val voteCols = (0 until bits).map(b =>
      sum(when(expr(s"(shiftright(h, $b) & 1) = 1"), 1).otherwise(-1)).as(s"v$b"))
    val votes = h.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
    val simhash = (0 until bits).map(b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    votes.select(col("doc_id"), simhash.as("simhash"))
  }

  private def q48NearDup(s: SparkSession, dir: String): DataFrame = {
      // Round-19 optimization: spread read — the three shingle passes
      // (candidate signatures + both attach re-shingles) are all
      // scan-side map work that ran as ONE task each at the gate's
      // single-file input; the spread runs each pass 32-way (measured
      // 1.90 → 1.57 s at sf0.1 alternating in one JVM). Round-20
      // correction (verdict finding 2): the three repartition subtrees
      // do NOT collapse to a ReusedExchange — the committed plan shows
      // three separate RoundRobin exchanges, i.e. the corpus is
      // re-scanned and re-shuffled per pass. The obvious fix —
      // tracked-persist the spread+shingled frame once — was A/B'd at
      // round 20 and REJECTED: 19.6 s vs 11.4 s shipped at the ×100
      // replica, 2.00 vs 1.80 at sf0.1 (OPTIMIZATION_r20.md §3; caching
      // the corpus-sized shingle arrays costs more than three codegen
      // re-shingle passes, the same verdict as r19's semi-join variant).
      val docs = Tables.spread(s, dir, "documents")
        .withColumn("arr", graft.plans.GraftExpressions.distinctShingles(col("text"), 3))
      val cand = lshCandidatePairs(
        minhashSig(docs.select(col("doc_id"), explode(col("arr")).as("s"))),
        bands = 8)
      // The two attaches re-shingle the corpus at map time (the arr
      // projection is evaluated per join side). The tempting "semi-join
      // candidate ids first, re-shingle only survivors" variant instead
      // DUPLICATES the whole candidate-generation subtree (cand feeds
      // both the semi-join filter and the pair join; DataFrame reuse is
      // plan duplication, not sharing) — measured 2.1 s vs 1.6 s here at
      // sf0.1. Re-shingling is unshuffled, codegen-fused map work that
      // scales linearly; keep it.
      val sh = docs.select(col("doc_id"), col("arr"))
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("arr").as("arr_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("arr").as("arr_b")), "doc_b")
        .withColumn("shared", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
        .withColumn("jaccard",
          expr("CAST(shared AS DOUBLE) / (size(arr_a) + size(arr_b) - shared)"))
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("shared"), col("jaccard"))
  }

  // --- Staged-pipeline memos ([[StageMemo]]): q48's near-dup pair
  // table and q51's cluster labeling are pipeline STAGES that
  // q51/q59/q83 all consume — per-invocation, each of the three
  // downstream queries re-ran the whole LSH candidate pipeline (~9.6 s
  // at the ×100 replica) before its own (cheap) logic.

  /** q48's pair table, materialized once per documents-table contents.
    * q48 itself stays a live computation (its bench row IS the honest
    * pair-generation cost); the downstream cluster/survivor/split
    * queries read the materialized stage. */
  private def q48PairsStage(s: SparkSession, dir: String): DataFrame =
    StageMemo.materialize(s,
      s"${VectorOps.stampedKey(dir, "documents")}#q48pairs", "pairs") {
      q48NearDup(s, dir)
    }

  /** q51's cluster labeling (connected components over the pair stage),
    * materialized once; q59/q83 read it. q51 stays live — it is the
    * cluster stage, and its bench row times exactly that stage over the
    * memoized pairs. */
  private def clustersStage(s: SparkSession, dir: String): DataFrame =
    StageMemo.materialize(s,
      s"${VectorOps.stampedKey(dir, "documents")}#q51clusters", "clusters") {
      graft.operators.Components.connectedComponents(
        q48PairsStage(s, dir).select(col("doc_a"), col("doc_b")))
    }

  /** The capped shared-shingle PAIR AGGREGATION — (doc_a, doc_b, na,
    * nb, shared) for every unordered doc pair sharing ≥1 surviving
    * shingle: distinct word 3-gram shingles per doc, DF cap window on
    * the shingle key (reusing that shuffle's partitioning for the
    * self-join), self-join on the shingle, count shared per pair. This
    * is the ENTIRE shared prefix of q21 (symmetric Jaccard) and q96
    * (asymmetric containment) — both are just thresholds over
    * (shared, na, nb) — so it is computed LIVE here and staged once per
    * documents-table contents in [[shinglePairStage]] (round-19 verdict
    * task 5: at ×100 each query rebuilt this identical self-join from
    * scratch). Production analogy: a dedup pipeline materializes the
    * pair-statistics stage once; Jaccard and containment are two
    * policies read off it. */
  private[graft] def shinglePairAgg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The per-doc shingle count (the denominators, over UNCAPPED
    // shingles) is just size() of the native-expression array, taken
    // before the explode — no aggregate, no join-back; the grouped pair
    // keys carry na/nb directly. The DF cap is a window on the
    // self-join key itself (s), so the join reuses that one shuffle's
    // partitioning. Scale posture: the join key is capped at shingle
    // document frequency ShingleDfCap — a shingle in k docs makes k²
    // join rows, so one stop-shingle would otherwise dominate the whole
    // shuffle; docs sharing only ultra-common shingles aren't
    // meaningful near-dups anyway (standard stop-shingle removal;
    // TextOpsSpec pins ≥10× cap headroom in the oracle data, so the
    // oracle result is unchanged).
    val sh = Tables(s, dir, "documents")
      .withColumn("arr", graft.plans.GraftExpressions.distinctShingles(col("text"), 3))
      .select(col("doc_id"), size(col("arr")).cast("long").as("n"),
        explode(col("arr")).as("s"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df") <= ShingleDfCap).drop("df")
    val a = sh.alias("a"); val b = sh.alias("b")
    a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("shared"))
      // materialize only the UNION of the consumers' thresholds —
      // lossless for both (each re-applies its exact predicate), and
      // the staged table shrinks from EVERY co-shingling pair (∝ corpus
      // × avg shingle DF — the first ×100 build measured 77 s, mostly
      // writing pairs nobody reads) to ≈ |q21 ∪ q96| rows. A new
      // consumer with a weaker threshold must widen this filter.
      .filter(expr("CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5") ||
        expr("CAST(shared AS DOUBLE) / least(na, nb) >= 0.8"))
  }

  /** [[shinglePairAgg]] materialized once per documents-table contents;
    * q21 and q96 both consume it (the first consumer's rep pays the
    * build — visible as a StageMemo miss on the bench line). */
  private def shinglePairStage(s: SparkSession, dir: String): DataFrame =
    StageMemo.materialize(s,
      s"${VectorOps.stampedKey(dir, "documents")}#shpairs", "shpairs") {
      shinglePairAgg(s, dir)
    }

  /** The q17 quality signals as a reusable frame (shared by q17 and the
    * q59 survivor selection so the score arithmetic cannot drift). */
  private[graft] def qualityFrame(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", expr(toksExpr))
      .withColumn("n_tokens", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("n_stop", expr(
        "CAST(size(filter(toks, w -> w IN ('the','a','an','of','and','to','in'))) AS BIGINT)"))
      .withColumn("total_tok_chars", expr("CAST(aggregate(toks, 0, (acc, w) -> acc + length(w)) AS BIGINT)"))
      .withColumn("stop_ratio", expr("CAST(n_stop AS DOUBLE) / n_tokens"))
      .withColumn("avg_token_len", expr("CAST(total_tok_chars AS DOUBLE) / n_tokens"))
      .withColumn("quality_score", expr(
        """0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
          | + 0.4 * (1.0 - stop_ratio)
          | + 0.2 * least(avg_token_len / 10.0, 1.0)""".stripMargin))

  /** q92's corpus pass: directed adjacent-token pair counts (a, b, c)
    * over every doc, self-loops dropped. */
  private[graft] def textRankPairs(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "documents")
      .select(expr(toksExpr).as("tk"))
      .filter(expr("size(tk) >= 2"))
      .select(explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS a, tk[i] AS b))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))

  /** Hashes a word, or the first word of a (word, word) edge key, so an
    * edge and its source word's rank land in the same partition. */
  private class SrcPartitioner(val numPartitions: Int) extends org.apache.spark.Partitioner {
    def getPartition(key: Any): Int = {
      val w = key match { case (a, _) => a; case a => a }
      Math.floorMod(w.hashCode, numPartitions)
    }
    override def equals(o: Any): Boolean = o match {
      case p: SrcPartitioner => p.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }

  /** q92's damped power iteration (scaladoc at the q92 entry) over
    * [[textRankPairs]]' directed counts. Every RDD below is partitioned
    * by the same source-word partitioner, so each round's join with the
    * adjacency is narrow and only the reduceByKey shuffles. */
  private[graft] def textRank(pairCounts: DataFrame): DataFrame = {
    val s = pairCounts.sparkSession
    import s.implicits._
    val part = new SrcPartitioner(s.sessionState.conf.numShufflePartitions)
    // source word a -> (edges (b, w(a,b) = c(a,b) + c(b,a)), wdeg(a))
    val adj = graft.TempCaches.tracked(pairCounts.rdd
      .flatMap { r =>
        val (a, b, c) = (r.getString(0), r.getString(1), r.getLong(2))
        Iterator(((a, b), c), ((b, a), c))
      }
      .reduceByKey(part, (x: Long, y: Long) => Math.addExact(x, y))
      .mapPartitions({ it =>
        val bySrc = scala.collection.mutable.HashMap.empty[String,
          scala.collection.mutable.ArrayBuffer[(String, Long)]]
        it.foreach { case ((a, b), w) =>
          bySrc.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += ((b, w)) }
        bySrc.iterator.map { case (a, es) =>
          (a, (es.toArray, es.iterator.map(_._2).reduce(Math.addExact(_, _))))
        }
      }, preservesPartitioning = true))
    var ranks = adj.mapValues(_ => 1000000000L)
    for (_ <- 1 to 3) {
      ranks = adj.join(ranks)
        .flatMap { case (_, ((es, wdeg), score)) =>
          es.iterator.map { case (b, w) => (b, Math.multiplyExact(score, w) / wdeg) }
        }
        .reduceByKey(part, (x: Long, y: Long) => Math.addExact(x, y))
        .mapValues(sum => Math.addExact(150000000L, Math.multiplyExact(85L, sum) / 100))
    }
    ranks.toDF("word", "score")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Text quality scoring (training-data op): length/stopword/word-shape
    // signals combined into one score. All-double arithmetic written
    // identically on the oracle side.
    "q17_quality_score" -> ((s, dir) => {
      qualityFrame(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("stop_ratio"),
          col("avg_token_len"), col("quality_score"))
    }),

    // Token counting (training-data op): whitespace tokens + a BPE-ish
    // regex lexer (letters / digits / single punctuation).
    "q18_token_count" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          expr(s"CAST(size($toksExpr) AS BIGINT)").as("n_ws_tokens"),
          expr("CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT)").as("n_lex_tokens"))
    }),

    // Language-ID heuristic (training-data op): stopword-hit scoring per
    // candidate language, argmax with fixed precedence.
    "q19_lang_id" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("toks", expr(toksExpr))
        .withColumn("s_en", expr("size(filter(toks, w -> w IN ('the','a','of','and','to')))"))
        .withColumn("s_de", expr("size(filter(toks, w -> w IN ('der','die','das','und','zu')))"))
        .withColumn("s_fr", expr("size(filter(toks, w -> w IN ('le','la','les','et','de')))"))
        .withColumn("predicted_lang", expr(
          """CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
            |     WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END""".stripMargin))
        .select(col("doc_id"), col("lang").as("labeled_lang"), col("predicted_lang"),
          col("s_en").cast("long").as("score_en"))
    }),

    // Document fingerprint (training-data op): sha256 over
    // case/whitespace-normalized text — the canonical exact-dedup key.
    "q20_fingerprint" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          sha2(trim(regexp_replace(lower(col("text")), "\\s+", " ")), 256).as("fingerprint"))
    }),

    // Near-dup by n-gram Jaccard — the EXACT VERIFIER (the q25 role in
    // the q25/q40 pattern): distinct word 3-gram shingles,
    // shared-shingle self-join, |A∩B|/|A∪B| ≥ 0.5. The production
    // routing at 100× is q48 (MinHash-bucketed candidates + exact
    // Jaccard on candidates only — no shingle self-join at all);
    // TextOpsSpec asserts q48 ≡ q21 at sf0.01. Scale posture here: the
    // join key is capped at shingle document frequency ShingleDfCap — a
    // shingle in k docs makes k² join rows, so one stop-shingle would
    // otherwise dominate the whole shuffle; docs sharing only
    // ultra-common shingles aren't meaningful near-dups anyway (standard
    // stop-shingle removal; TextOpsSpec pins ≥10× cap headroom in the
    // oracle data, so the oracle result is unchanged). The pair
    // aggregation itself is [[shinglePairAgg]] — staged once and shared
    // with q96, which thresholds the SAME (shared, na, nb) statistics.
    "q21_ngram_jaccard" -> ((s, dir) => {
      shinglePairStage(s, dir)
        .withColumn("jaccard", expr("CAST(shared AS DOUBLE) / (na + nb - shared)"))
        .filter(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), col("shared"), col("jaccard"))
    }),

    // Asymmetric containment dedup (training-data op): containment
    // C(A→B) = |S_A ∩ S_B| / |S_A| instead of symmetric Jaccard — the
    // measure that catches a SHORT document quoted wholesale inside a
    // LONG one (jaccard ≈ |A|/|B| stays tiny however perfect the
    // inclusion, so q21 structurally misses it; the Lee et al. dedup
    // papers flag exactly this family). Exactly q21's staged
    // [[shinglePairAgg]] statistics — emitting BOTH directions'
    // containments per unordered pair, kept when either side is ≥ 0.8.
    "q96_containment_dedup" -> ((s, dir) => {
      shinglePairStage(s, dir)
        .withColumn("cont_a_in_b", expr("CAST(shared AS DOUBLE) / na"))
        .withColumn("cont_b_in_a", expr("CAST(shared AS DOUBLE) / nb"))
        .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= 0.8)
        .select(col("doc_a"), col("doc_b"), col("shared"),
          col("cont_a_in_b"), col("cont_b_in_a"))
    }),

    // MinHash + LSH candidate pairs (training-data op): 16 permutation
    // min-hashes in one pass ([[minhashSig]]), 4 bands × 4 rows, capped
    // group-by-bucket pair expansion ([[lshCandidatePairs]]). The 4×4
    // banding is the high-precision/recall-for-J≳0.8 point of the
    // 16-perm budget; q48 rebands the same signatures 8×2 when recall
    // down to J=0.5 matters.
    // (Round-19 optimization: spread read — per-shingle sha256 is
    // scan-side; 1.33 → 1.15 s at sf0.1 alternating in one JVM.)
    "q22_minhash_lsh" -> ((s, dir) => {
      lshCandidatePairs(minhashSig(
        Tables.spread(s, dir, "documents")
          .select(col("doc_id"),
            explode(graft.plans.GraftExpressions.distinctShingles(col("text"), 3)).as("s"))),
        bands = 4)
    }),

    // PRODUCTION n-gram near-dup (the q25→q40 pattern applied to q21):
    // candidate pairs from MinHash-LSH — same 16 one-pass minhashes as
    // q22, banded 8×2 for recall (a J=0.9 pair slips a 4×4 banding with
    // p≈1.4e-3, and q22's banding does miss one J=0.989 pair in this
    // very corpus; 8×2 drops the miss rate to ~2e-6) — then EXACT
    // Jaccard computed ONLY on candidates via array_intersect of the
    // per-doc shingle arrays. No shingle self-join ever happens:
    // candidates cost O(Σ bucket²) under BucketCap (mirrored in the
    // oracle SQL), verification costs O(candidates × avg shingles).
    // TextOpsSpec asserts this equals the exact q21 at sf0.01.
    "q48_neardup_pipeline" -> (q48NearDup(_, _)),

    // Dedup CLUSTERS — the step a production pipeline runs after pair
    // generation (keep one representative per duplicate group): q48's
    // near-dup pairs grouped into connected components by distributed
    // min-label propagation (operators.Components); cluster_id = the
    // component's min doc_id, i.e. the doc the dedup keeps. Oracle:
    // recursive-CTE transitive closure over the same pair SQL.
    "q51_neardup_clusters" -> ((s, dir) =>
      graft.operators.Components.connectedComponents(
        q48PairsStage(s, dir).select(col("doc_a"), col("doc_b")))),

    // The dedup endgame (composes q48 -> q51 -> q17): for every near-dup
    // cluster keep the single highest-quality member. Survivor selection
    // is the established argmax-per-key agg-min (map-side combinable),
    // with the tiny cluster labeling broadcast into the quality frame —
    // the corpus-sized side never shuffles. Ties break to the lowest
    // doc_id, so the choice is fully deterministic.
    "q59_dedup_survivors" -> ((s, dir) => {
      val clusters = clustersStage(s, dir)
      val quality = qualityFrame(Tables(s, dir, "documents"))
        .select(col("doc_id"), col("quality_score"))
      val packed = struct((col("quality_score") * lit(-1.0)).as("nq"),
        col("doc_id").as("d"), col("quality_score").as("q"))
      quality.join(broadcast(clusters), Seq("doc_id"))
        .groupBy(col("cluster_id"))
        .agg(min(packed).as("w"), count(lit(1)).as("n_members"))
        .select(col("cluster_id"), col("w.d").as("survivor_id"),
          col("w.q").as("best_quality"), col("n_members"))
    }),

    // Leakage-safe train/val/test split (q83): assignment by NEAR-DUP
    // CLUSTER, not by document — a per-doc random split puts one copy of
    // a near-duplicated page in train and another in test, leaking eval
    // data into training through paraphrase-level duplication (the
    // failure mode dedup-aware eval protocols exist for). Every doc
    // inherits its q51 component's id (singletons are their own
    // cluster), and the 8/1/1 split hashes the CLUSTER id, so near-dup
    // docs land in the same split by construction (TextOpsSpec asserts
    // it over every q48 pair). Scale shape: the cluster labeling (only
    // docs WITH near-dup edges) broadcasts into the corpus frame — the
    // corpus-sized side never shuffles, and the hash split is a pure
    // projection.
    "q83_leakage_safe_split" -> ((s, dir) => {
      val clusters = clustersStage(s, dir)
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(broadcast(clusters), Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("bucket",
          expr(Idioms.hash60Expr("CAST(cluster_id AS STRING)") + " % 10"))
        .select(col("doc_id"), col("cluster_id"),
          when(col("bucket") <= 7, "train")
            .when(col("bucket") === 8, "val")
            .otherwise("test").as("split"))
    }),

    // SimHash (training-data op): 16-bit signature; per-bit signed vote
    // over token hashes, one-pass conditional aggregation ([[simhashSig]]).
    "q23_simhash" -> ((s, dir) =>
      simhashSig(Tables(s, dir, "documents"), bits = 16, hashExpr = hmExpr)),

    // SimHash near-dup PAIR JOIN (completes the q23 family to the classic
    // near-dup pipeline shape): 32-bit signatures over the full 60-bit
    // token hashes, banded 4 × 8 bits. PIGEONHOLE GUARANTEE: a pair
    // within Hamming distance 3 differs in at most 3 bands, so it shares
    // at least one whole band key — banding recall at the ≤3 threshold
    // is EXACT below the bucket cap (TextOpsSpec asserts banded ≡ brute
    // force at sf0.01; a saturated bucket dropped by the cap is the
    // standard stop-bucket trade, loudly caught by that spec on a data
    // refresh). Plan shape: the signature is carried THROUGH the bucket
    // expansion (collect_list of (doc_id, simhash) structs), so the
    // 32-agg vote pipeline runs ONCE and the query has ZERO joins — the
    // join-back form evaluated it three times and was 15× slower. The
    // cap is 200 (mirrored in the oracle SQL): simhash buckets skew far
    // more than minhash buckets (similar vocab ⇒ same sign pattern), and
    // C(cap,2) structs materialize per bucket row. Production widens to
    // 64-bit signatures + 4×16 banding — same guarantee, sparser buckets.
    // (Round-19 optimization: spread read — the per-token sha256 + 32
    // conditional vote sums are scan-side; measured 1.91 → 1.26 s at
    // sf0.1 alternating in one JVM.)
    "q50_simhash_neardup" -> ((s, dir) => {
      val sig = simhashSig(Tables.spread(s, dir, "documents"), bits = 32, hashExpr = hm60Expr)
      sig.select(explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            expr(s"shiftright(simhash, ${8 * b}) & 255").as("bucket"),
            col("doc_id"), col("simhash"))): _*)).as("bb"))
        .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
          col("bb.doc_id").as("doc_id"), col("bb.simhash").as("simhash"))
        .groupBy(col("band"), col("bucket"))
        .agg(collect_list(struct(col("doc_id"), col("simhash"))).as("ids"))
        .filter(size(col("ids")).between(2, SimhashBucketCap))
        .select(explode(expr(
          """flatten(transform(ids, (a, i) ->
            |  transform(slice(ids, i + 2, size(ids)), b -> struct(
            |    least(a.doc_id, b.doc_id) AS doc_a,
            |    greatest(a.doc_id, b.doc_id) AS doc_b,
            |    CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT) AS hamming))))""".stripMargin))
          .as("p"))
        .select(col("p.doc_a"), col("p.doc_b"), col("p.hamming"))
        .filter(col("hamming") <= 3)
        .distinct()
    }),

    // Fixed-stride chunking (oracle-able form of T1; the separator-aware
    // recursive splitter is TextFunctions.chunkText, property-tested and
    // exercised in q33): size 500, overlap 50, stride 450.
    "q26_chunk_fixed" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), greatest(length(col("text")) - 51, lit(0)), lit(450))).as("start"))
        .select(col("doc_id"), col("start").cast("long").as("chunk_start"),
          expr("substring(text, start + 1, 500)").as("chunk"))
        .withColumn("chunk_len", length(col("chunk")).cast("long"))
    }),

    // Recursive separator-aware chunker (T1 faithful capability). The
    // chunk TEXT is not SQL-expressible, but the chunker's contract is:
    // stripping each chunk's overlap carry and concatenating in chunk_id
    // order reproduces the document EXACTLY, every chunk has length in
    // (0, size], every carry in [0, overlap] (0 for the first chunk). So
    // the query runs the full distributed chunk stream (UDF + posexplode,
    // exactly the shape a chunk-to-embedding pipeline consumes), then
    // folds it back per-doc into (rebuilt, violation counts) — which a
    // DuckDB oracle checks bit-exactly against the raw table (rebuilt =
    // text, counts = 0). Exact chunk boundaries are additionally pinned
    // by ChunkerSpec's golden cardinalities (incl. a ~1M-char doc).
    "q33_chunk_recursive" -> ((s, dir) => {
      import graft.functions.TextFunctions
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextFunctions.chunkCarryUdf(col("text"), lit(200), lit(20))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
          col("col.chunk").as("chunk"), col("col.carry").as("carry"))
        .groupBy(col("doc_id"))
        .agg(
          expr("""array_join(transform(
                |  array_sort(collect_list(struct(chunk_id, substring(chunk, carry + 1) AS piece))),
                |  c -> c.piece), '')""".stripMargin).as("rebuilt"),
          expr("""CAST(sum(CASE WHEN length(chunk) < 1 OR length(chunk) > 200
                |  THEN 1 ELSE 0 END) AS BIGINT)""".stripMargin).as("n_bad_len"),
          expr("""CAST(sum(CASE WHEN carry < 0 OR carry > 20
                |  OR (chunk_id = 0 AND carry <> 0) THEN 1 ELSE 0 END) AS BIGINT)"""
            .stripMargin).as("n_bad_carry"))
    }),

    // End-to-end training-data corpus filter: quality score + language
    // gate + fingerprint dedup composed into one declarative pipeline —
    // the flagship "LLM data pipeline" shape (filter early, dedup on a
    // uniform hash key, keep lineage columns).
    "q38_corpus_filter" -> ((s, dir) => {
      val scored = Tables(s, dir, "documents")
        .withColumn("toks", expr(toksExpr))
        .withColumn("n_tokens", expr("CAST(size(toks) AS BIGINT)"))
        .withColumn("n_stop", expr(
          "CAST(size(filter(toks, w -> w IN ('the','a','an','of','and','to','in'))) AS BIGINT)"))
        .withColumn("quality_score", expr(
          """0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
            | + 0.4 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
            | + 0.2 * least((CAST(aggregate(toks, 0, (acc, w) -> acc + length(w)) AS DOUBLE) / n_tokens) / 10.0, 1.0)""".stripMargin))
        .withColumn("fingerprint",
          sha2(trim(regexp_replace(lower(col("text")), "\\s+", " ")), 256))
        .filter(col("quality_score") >= 0.55)
      // dedup: keep the lowest doc_id per fingerprint (deterministic).
      // A window min evaluates the scored subtree ONCE; the groupBy +
      // self-join alternative scans and scores every document twice.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fingerprint"))
      scored.withColumn("keep_id", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("keep_id"))
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality_score"))
    }),

    // TF-IDF top terms per document (corpus-statistics op): term
    // frequency × inverse document frequency, scored as tf · N/df — the
    // linear idf variant, deliberately transcendental-free so the score
    // is exact integer-ratio double arithmetic on both engines (ln()
    // differs by ulps between libm and the JVM). Top 3 terms per doc,
    // deterministic tiebreak.
    "q46_tfidf_topterms" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val words = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(expr(toksExpr)).as("word"))
      val tf = words.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      val df = words.groupBy(col("word"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val nDocs = Tables(s, dir, "documents").select(countDistinct(col("doc_id")).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("word").asc)
      tf.join(df, "word").crossJoin(nDocs)
        .withColumn("score", expr("CAST(tf AS DOUBLE) * n_docs / df"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("word"), col("tf"), col("df"), col("score"),
          col("rk").cast("long").as("rk"))
    }),

    // Winnowing fingerprints (training-data op: rolling-hash document
    // fingerprinting, Schleimer et al. "local algorithms for document
    // fingerprinting"): hash every word 4-gram in order, slide a window
    // of 4 over the hash sequence keeping each window's minimum, emit
    // the distinct minima. Shared minima between docs localize copied
    // passages — the position-robust complement to the whole-doc hash
    // (q20). Bit-exact with the DuckDB HOF twin; the Spark side runs
    // CODEGEN end to end — position explode + gramAtExpr hash in a
    // generated projection, the sliding min as a rows-frame window —
    // because the transform(...sha2(slice)...) lambda form this
    // replaced evaluates interpreted per element (the q80 round-12
    // finding; nested lambdas made q42 the worst of the family).
    // Round-19 optimization: read through Tables.spread — the
    // sha256-per-4-gram projection below is scan-side map work that ran
    // in one task at the gate's single-file input (measured 1.56 →
    // 0.84 s at sf0.1, alternating in one JVM; no-op at natural splits).
    "q42_winnow_fingerprint" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hs = Tables.spread(s, dir, "documents")
        .withColumn("toks", expr(toksExpr))
        .filter(expr("size(toks) >= 7")) // >= 4 grams -> >= 1 window
        .select(col("doc_id"), expr("size(toks)").as("ntok"), col("toks"))
        .select(col("doc_id"), col("ntok"),
          explode(expr("sequence(1, size(toks) - 3)")).as("i"), col("toks"))
        .select(col("doc_id"), col("ntok"), col("i"),
          expr(s"CAST(conv(substr(sha2(${Idioms.gramAtExpr("toks", "i", 4)}, 256)," +
            " 1, 15), 16, 10) AS BIGINT) % 2147483647").as("h"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
        .rowsBetween(0, 3)
      hs.withColumn("fp", min(col("h")).over(w))
        .filter(col("i") <= col("ntok") - 6) // only full 4-hash windows
        .select(col("doc_id"), col("fp")).distinct()
    }),

    // Multimodal plumbing (training-data op): text treated as an opaque
    // binary payload + typed metadata (byte length, digest). The real
    // decode step for image/audio is stubbed (no codec libs in this
    // container) — see graft.multimodal for the partition-wise pipeline.
    "q32_binary_meta" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          sha2(col("text").cast("binary"), 256).as("digest"),
          col("source"))
    }),

    // TextRank term centrality (corpus-graph op): PageRank over the
    // token co-occurrence graph — adjacent-token pairs become
    // undirected weighted edges, 3 damped power iterations rank terms
    // by connectivity (Mihalcea & Tarau's TextRank, the keyword /
    // corpus-vocabulary-weighting op a training pipeline uses to pick
    // salient terms). INTEGER-EXACT across engines: scores are bigints
    // scaled by 1e9, per-edge contribution is `score * w div wdeg`
    // (integral div), damping is `150e6 + 85*sum div 100` — all sums
    // associative, so Spark and DuckDB agree bit-for-bit regardless of
    // aggregation order (a float PageRank would drift in ulps). The RDD
    // side uses Math.multiplyExact/addExact where ANSI SQL would throw
    // on overflow, and Long `/` truncates toward zero like `div`.
    // Plan: ONE corpus pass (tokenize → directed pair counts with a
    // map-side combine, [[textRankPairs]]), then the co-partitioned RDD
    // PageRank of the Spark RDD paper over the vocabulary-sized graph
    // ([[textRank]]): one reduceByKey symmetrizes the counts into
    // per-source adjacency lists (persisted, harness-released), so wdeg
    // is a local sum; each round is a narrow join with the adjacency
    // plus one reduceByKey into the same partitioner, and all three
    // rounds run in the count's one job (3 jobs per count in all: the
    // corpus pass's two AQE stages, then that one). No driver-side state, no
    // single-partition operator. Its earlier relational form is the
    // test twin RelationalTwins.textRank.
    "q92_textrank" -> ((s, dir) => textRank(textRankPairs(s, dir))),

    // PMI collocation mining (Church & Hanks 1990 — the multi-word-
    // expression detector corpus analysis runs before tokenizer or
    // phrase-table work): pointwise mutual information of adjacent
    // token pairs, pmi(a,b) = log2(c_ab·N / (c_a·c_b)), keep pairs
    // with count ≥ 5 and pmi > 0, top-100. Distinct from q85 (raw
    // 2-gram frequency — PMI surfaces pairs whose co-occurrence BEATS
    // their unigram popularity, exactly the pairs frequency ranking
    // buries) and from q92 (global graph centrality, not pairwise
    // association). INTEGER-EXACT cross-engine: the ratio is scaled to
    // x = (c_ab·N·1024) div (c_a·c_b) in DECIMAL/HUGEINT, and
    // pmi_mbits = pl2(x) − 10240 reuses q74's piecewise-linear log2 —
    // no transcendentals, so the oracle hash-matches. Scale shape
    // (round-13 verdict item 4 — ONE corpus pass total, no driver
    // action): unigram rows and adjacent-pair rows ride the SAME explode
    // and collapse to one vocabulary-keyed count table (map-side
    // combine), tracked-cached at vocabulary size; pair counts, unigram
    // counts AND the corpus pair total nt (= Σ(size-1) = Σ cab exactly)
    // all read off that one table, with nt riding back in as a 1-row
    // broadcast cross-join (the q68 scalar-seed precedent) instead of a
    // driver `.first()` that cost a second full corpus scan per run.
    // The join side is the ≥5-count pair table (small) against unigram
    // counts on word keys — vocabulary-sized, AQE picks the strategy;
    // top-100 is a TakeOrdered, never a global sort.
    // (Round-19 optimization: spread read — the unigram+pair explode is
    // scan-side; 1.64 → 1.14 s at sf0.1 alternating in one JVM.)
    "q99_pmi_collocations" -> ((s, dir) => {
      val counts = graft.TempCaches.tracked(Tables.spread(s, dir, "documents")
        .select(expr(toksExpr).as("toks"))
        .filter(expr("size(toks) >= 2"))
        .select(explode(expr(
          "concat(" +
            "transform(toks, w -> struct('u' AS kind, w AS a, CAST(NULL AS STRING) AS b)), " +
            "transform(sequence(1, size(toks) - 1), i -> " +
            "  struct('p' AS kind, element_at(toks, i) AS a, element_at(toks, i + 1) AS b)))")).as("x"))
        .select(col("x.kind").as("kind"), col("x.a").as("a"), col("x.b").as("b"))
        .groupBy(col("kind"), col("a"), col("b")).agg(count(lit(1)).as("c")))
      val ntDf = counts.filter(col("kind") === "p").agg(sum(col("c")).as("nt"))
      val pc = counts.filter(col("kind") === "p" && col("c") >= 5)
        .select(col("a"), col("b"), col("c").as("cab"))
      val uni = counts.filter(col("kind") === "u")
        .select(col("a").as("w"), col("c").as("cw"))
      pc
        .join(uni.select(col("w").as("a"), col("cw").as("ca")), Seq("a"))
        .join(uni.select(col("w").as("b"), col("cw").as("cb")), Seq("b"))
        .crossJoin(broadcast(ntDf))
        .withColumn("x", expr(
          "(CAST(cab AS DECIMAL(38,0)) * nt * 1024) div (CAST(ca AS DECIMAL(38,0)) * cb)"))
        .filter(col("x") > 1024)
        .withColumn("pmi_mbits", expr(s"${Idioms.pl2Expr("x")} - 10240"))
        .orderBy(col("pmi_mbits").desc, col("a").asc, col("b").asc).limit(100)
        .select(col("a"), col("b"), col("cab"), col("ca"), col("cb"), col("pmi_mbits"))
    })
  )

  val oracle: Map[String, String] = {
    val toksSql = Idioms.toksSql
    val shinglesSql =
      s"""CASE WHEN len($toksSql) >= 3
         |THEN list_distinct(list_transform(generate_series(1, len($toksSql) - 2),
         |     i -> array_to_string(list_slice($toksSql, i, i + 2), ' ')))
         |ELSE [] END""".stripMargin
    val hmSql = "CAST(('0x' || substr(sha256(s), 1, 15)) AS BIGINT) % 2147483647"
    val q48Sql =
      s"""WITH sha AS (SELECT doc_id, $shinglesSql AS arr FROM documents),
           |e AS (SELECT doc_id, unnest(arr) AS s FROM sha),
           |h AS (SELECT doc_id, $hmSql AS hm FROM e),
           |mh AS (
           |  SELECT doc_id, i,
           |    MIN(((i + 1) * 1299721 * hm + ((i + 1) * 15485863) % 2147483647) % 2147483647) AS mh
           |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) perms
           |  GROUP BY 1, 2),
           |bands AS (
           |  SELECT doc_id, i // 2 AS band, string_agg(mh, ',' ORDER BY i) AS bucket
           |  FROM mh GROUP BY 1, 2),
           |bsize AS (SELECT band, bucket, COUNT(*) AS n FROM bands GROUP BY 1, 2),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM bands x JOIN bands y
           |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
           |  JOIN bsize bs ON bs.band = x.band AND bs.bucket = x.bucket AND bs.n <= $BucketCap)
           |SELECT doc_a, doc_b,
           |  CAST(len(list_intersect(sa.arr, sb.arr)) AS BIGINT) AS shared,
           |  CAST(len(list_intersect(sa.arr, sb.arr)) AS DOUBLE)
           |    / (len(sa.arr) + len(sb.arr) - len(list_intersect(sa.arr, sb.arr))) AS jaccard
           |FROM cand
           |JOIN sha sa ON sa.doc_id = doc_a
           |JOIN sha sb ON sb.doc_id = doc_b
           |WHERE CAST(len(list_intersect(sa.arr, sb.arr)) AS DOUBLE)
           |    / (len(sa.arr) + len(sb.arr) - len(list_intersect(sa.arr, sb.arr))) >= 0.5""".stripMargin

    Map(
      "q17_quality_score" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |b AS (SELECT doc_id,
           |  CAST(len(toks) AS BIGINT) AS n_tokens,
           |  CAST(len(list_filter(toks, w -> w IN ('the','a','an','of','and','to','in'))) AS BIGINT) AS n_stop,
           |  CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS total_tok_chars
           |  FROM t)
           |SELECT doc_id, n_tokens,
           |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
           |  CAST(total_tok_chars AS DOUBLE) / n_tokens AS avg_token_len,
           |  0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
           |   + 0.4 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
           |   + 0.2 * least((CAST(total_tok_chars AS DOUBLE) / n_tokens) / 10.0, 1.0) AS quality_score
           |FROM b""".stripMargin,

      "q18_token_count" ->
        s"""SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_ws_tokens,
           |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_lex_tokens
           |FROM documents""".stripMargin,

      "q19_lang_id" ->
        s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
           |sc AS (SELECT doc_id, lang,
           |  len(list_filter(toks, w -> w IN ('the','a','of','and','to'))) AS s_en,
           |  len(list_filter(toks, w -> w IN ('der','die','das','und','zu'))) AS s_de,
           |  len(list_filter(toks, w -> w IN ('le','la','les','et','de'))) AS s_fr
           |  FROM t)
           |SELECT doc_id, lang AS labeled_lang,
           |  CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
           |       WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS predicted_lang,
           |  CAST(s_en AS BIGINT) AS score_en
           |FROM sc""".stripMargin,

      "q20_fingerprint" ->
        """SELECT doc_id,
          |  sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
          |FROM documents""".stripMargin,

      "q46_tfidf_topterms" ->
        s"""WITH words AS (SELECT doc_id, unnest($toksSql) AS word FROM documents),
           |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY 1, 2),
           |df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY 1),
           |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
           |scored AS (
           |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
           |    CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS score
           |  FROM tf JOIN df USING (word) CROSS JOIN n)
           |SELECT doc_id, word, tf, df, score, rk FROM (
           |  SELECT doc_id, word, tf, df, score,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
           |      ORDER BY score DESC, word ASC) AS BIGINT) AS rk
           |  FROM scored) t WHERE rk <= 3""".stripMargin,

      "q42_winnow_fingerprint" ->
        s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents
           |           WHERE len($toksSql) >= 7),
           |h AS (SELECT doc_id,
           |  list_transform(generate_series(1, len(toks) - 3),
           |    i -> CAST(('0x' || substr(sha256(array_to_string(list_slice(toks, i, i + 3), ' ')), 1, 15)) AS BIGINT) % 2147483647) AS hs
           |  FROM t)
           |SELECT doc_id,
           |  unnest(list_distinct(list_transform(generate_series(1, len(hs) - 3),
           |    j -> list_aggregate(list_slice(hs, j, j + 3), 'min')))) AS fp
           |FROM h""".stripMargin,

      "q21_ngram_jaccard" ->
        s"""WITH sh AS (
           |  SELECT doc_id, unnest($shinglesSql) AS s FROM documents),
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |shared AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
           |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b, shared,
           |  CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
           |FROM shared
           |JOIN sizes sa ON doc_a = sa.doc_id
           |JOIN sizes sb ON doc_b = sb.doc_id
           |WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5""".stripMargin,

      "q96_containment_dedup" ->
        s"""WITH sh AS (
           |  SELECT doc_id, unnest($shinglesSql) AS s FROM documents),
           |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |shared AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
           |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b, shared,
           |  CAST(shared AS DOUBLE) / sa.n AS cont_a_in_b,
           |  CAST(shared AS DOUBLE) / sb.n AS cont_b_in_a
           |FROM shared
           |JOIN sizes sa ON doc_a = sa.doc_id
           |JOIN sizes sb ON doc_b = sb.doc_id
           |WHERE greatest(CAST(shared AS DOUBLE) / sa.n,
           |               CAST(shared AS DOUBLE) / sb.n) >= 0.8""".stripMargin,

      "q22_minhash_lsh" ->
        s"""WITH sh AS (
           |  SELECT doc_id, unnest($shinglesSql) AS s FROM documents),
           |h AS (SELECT doc_id, $hmSql AS hm FROM sh),
           |mh AS (
           |  SELECT doc_id, i,
           |    MIN(((i + 1) * 1299721 * hm + ((i + 1) * 15485863) % 2147483647) % 2147483647) AS mh
           |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) perms
           |  GROUP BY 1, 2),
           |bands AS (
           |  SELECT doc_id, i // 4 AS band, string_agg(mh, ',' ORDER BY i) AS bucket
           |  FROM mh GROUP BY 1, 2)
           |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |FROM bands x JOIN bands y
           |  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id""".stripMargin,

      "q48_neardup_pipeline" -> q48Sql,

      // transitive closure over q48's pair graph: exact connected
      // components at oracle scale (components are tiny), the engine's
      // distributed min-label propagation must reproduce them
      "q51_neardup_clusters" ->
        s"""WITH pairs AS (
           |$q48Sql),
           |edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs),
           |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
           |reach AS (
           |  WITH RECURSIVE r(a, b) AS (
           |    SELECT doc_id, doc_id FROM nodes
           |    UNION
           |    SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src)
           |  SELECT * FROM r)
           |SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a""".stripMargin,

      "q59_dedup_survivors" ->
        s"""WITH pairs AS (
           |$q48Sql),
           |edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs),
           |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
           |reach AS (
           |  WITH RECURSIVE r(a, b) AS (
           |    SELECT doc_id, doc_id FROM nodes
           |    UNION
           |    SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src)
           |  SELECT * FROM r),
           |clusters AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
           |t AS (SELECT doc_id, $toksSql AS toks FROM documents),
           |b AS (SELECT doc_id,
           |  CAST(len(toks) AS BIGINT) AS n_tokens,
           |  CAST(len(list_filter(toks, w -> w IN ('the','a','an','of','and','to','in'))) AS BIGINT) AS n_stop,
           |  CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS total_tok_chars
           |  FROM t),
           |qual AS (SELECT doc_id,
           |  0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
           |   + 0.4 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
           |   + 0.2 * least((CAST(total_tok_chars AS DOUBLE) / n_tokens) / 10.0, 1.0) AS quality_score
           |  FROM b),
           |m AS (SELECT c.cluster_id, c.doc_id, q.quality_score
           |      FROM clusters c JOIN qual q USING (doc_id)),
           |r2 AS (SELECT cluster_id, doc_id, quality_score,
           |  ROW_NUMBER() OVER (PARTITION BY cluster_id
           |    ORDER BY quality_score DESC, doc_id ASC) AS rk,
           |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
           |  FROM m)
           |SELECT cluster_id, doc_id AS survivor_id, quality_score AS best_quality,
           |  CAST(n_members AS BIGINT) AS n_members
           |FROM r2 WHERE rk = 1""".stripMargin,

      "q83_leakage_safe_split" ->
        s"""WITH pairs AS (
           |$q48Sql),
           |edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION SELECT doc_b, doc_a FROM pairs),
           |nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
           |reach AS (
           |  WITH RECURSIVE r(a, b) AS (
           |    SELECT doc_id, doc_id FROM nodes
           |    UNION
           |    SELECT r.a, e.dst FROM r JOIN edges e ON r.b = e.src)
           |  SELECT * FROM r),
           |clusters AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
           |alldocs AS (
           |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
           |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id),
           |b AS (SELECT doc_id, cluster_id,
           |  ${Idioms.hash60Sql("CAST(cluster_id AS VARCHAR)")} % 10 AS bucket
           |  FROM alldocs)
           |SELECT doc_id, cluster_id,
           |  CASE WHEN bucket <= 7 THEN 'train'
           |       WHEN bucket = 8 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM b""".stripMargin,

      "q23_simhash" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS s FROM documents),
           |h AS (SELECT doc_id, $hmSql AS h FROM tok),
           |votes AS (
           |  SELECT doc_id, b,
           |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
           |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) bits
           |  GROUP BY 1, 2)
           |SELECT doc_id,
           |  CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
           |FROM votes GROUP BY doc_id""".stripMargin,

      "q50_simhash_neardup" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS s FROM documents),
           |h AS (SELECT doc_id, CAST(('0x' || substr(sha256(s), 1, 15)) AS BIGINT) AS h FROM tok),
           |votes AS (
           |  SELECT doc_id, b,
           |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
           |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) bits
           |  GROUP BY 1, 2),
           |sig AS (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
           |  FROM votes GROUP BY doc_id),
           |banded AS (
           |  SELECT doc_id, b.band, (simhash >> (8 * b.band)) & 255 AS k
           |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) b),
           |bsize AS (SELECT band, k, COUNT(*) AS n FROM banded GROUP BY 1, 2),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM banded x JOIN banded y
           |    ON x.band = y.band AND x.k = y.k AND x.doc_id < y.doc_id
           |  JOIN bsize bs ON bs.band = x.band AND bs.k = x.k AND bs.n <= $SimhashBucketCap)
           |SELECT doc_a, doc_b,
           |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
           |FROM cand
           |JOIN sig sa ON sa.doc_id = doc_a
           |JOIN sig sb ON sb.doc_id = doc_b
           |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3""".stripMargin,

      "q26_chunk_fixed" ->
        """SELECT doc_id, CAST(start AS BIGINT) AS chunk_start,
          |  substr(text, start + 1, 500) AS chunk,
          |  CAST(length(substr(text, start + 1, 500)) AS BIGINT) AS chunk_len
          |FROM (SELECT doc_id, text,
          |        unnest(generate_series(0, greatest(length(text) - 51, 0), 450)) AS start
          |      FROM documents) t""".stripMargin,

      "q38_corpus_filter" ->
        s"""WITH t AS (SELECT doc_id, lang, text, $toksSql AS toks FROM documents),
           |b AS (SELECT doc_id, lang,
           |  CAST(len(toks) AS BIGINT) AS n_tokens,
           |  CAST(len(list_filter(toks, w -> w IN ('the','a','an','of','and','to','in'))) AS BIGINT) AS n_stop,
           |  CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT) AS tot,
           |  sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
           |  FROM t),
           |scored AS (SELECT doc_id, lang, n_tokens, fingerprint,
           |  0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
           |   + 0.4 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
           |   + 0.2 * least((CAST(tot AS DOUBLE) / n_tokens) / 10.0, 1.0) AS quality_score
           |  FROM b),
           |f AS (SELECT * FROM scored WHERE quality_score >= 0.55),
           |keep AS (SELECT fingerprint, MIN(doc_id) AS doc_id FROM f GROUP BY fingerprint)
           |SELECT f.doc_id, f.lang, f.n_tokens, f.quality_score
           |FROM f JOIN keep ON f.fingerprint = keep.fingerprint AND f.doc_id = keep.doc_id""".stripMargin,

      "q32_binary_meta" ->
        """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
          |  sha256(text) AS digest, source
          |FROM documents""".stripMargin,

      // The chunker itself is a UDF, but its round-trip contract is
      // SQL-checkable: carry-stripped concatenation in chunk_id order
      // must equal the raw text, with zero length/carry violations.
      "q33_chunk_recursive" ->
        """SELECT doc_id, text AS rebuilt,
          |  CAST(0 AS BIGINT) AS n_bad_len,
          |  CAST(0 AS BIGINT) AS n_bad_carry
          |FROM documents""".stripMargin,

      // Integer-exact TextRank twin: same scaled-bigint power
      // iteration, unrolled to the fixed 3 rounds (r1..r3). DuckDB's
      // SUM(BIGINT) widens to HUGEINT, hence the CAST back.
      "q92_textrank" ->
        s"""WITH toks AS (SELECT $toksSql AS tk FROM documents),
           |pairs0 AS (
           |  SELECT unnest(list_transform(range(1, len(tk)),
           |                i -> {'a': tk[i], 'b': tk[i+1]})) AS p
           |  FROM toks WHERE len(tk) >= 2),
           |pairs AS (SELECT p.a AS a, p.b AS b FROM pairs0 WHERE p.a <> p.b),
           |und AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
           |edges AS (SELECT a, b, COUNT(*) AS w FROM und GROUP BY 1, 2),
           |wdeg AS (SELECT a, CAST(SUM(w) AS BIGINT) AS wdeg FROM edges GROUP BY 1),
           |e AS (SELECT edges.a, edges.b, edges.w, wdeg.wdeg FROM edges JOIN wdeg USING (a)),
           |r0 AS (SELECT a AS word, CAST(1000000000 AS BIGINT) AS score FROM wdeg),
           |r1 AS (SELECT e.b AS word,
           |         CAST(150000000 + (85 * SUM((r0.score * e.w) // e.wdeg)) // 100 AS BIGINT) AS score
           |       FROM e JOIN r0 ON e.a = r0.word GROUP BY 1),
           |r2 AS (SELECT e.b AS word,
           |         CAST(150000000 + (85 * SUM((r1.score * e.w) // e.wdeg)) // 100 AS BIGINT) AS score
           |       FROM e JOIN r1 ON e.a = r1.word GROUP BY 1),
           |r3 AS (SELECT e.b AS word,
           |         CAST(150000000 + (85 * SUM((r2.score * e.w) // e.wdeg)) // 100 AS BIGINT) AS score
           |       FROM e JOIN r2 ON e.a = r2.word GROUP BY 1)
           |SELECT word, score FROM r3""".stripMargin,

      // Same scaled-ratio + pl2 arithmetic in HUGEINT; `//` on
      // positives floors exactly like Spark's `div`.
      "q99_pmi_collocations" ->
        s"""WITH dtk AS (SELECT $toksSql AS tk FROM documents),
           |docs AS (SELECT tk FROM dtk WHERE len(tk) >= 2),
           |tot AS (SELECT CAST(SUM(len(tk) - 1) AS BIGINT) AS nt FROM docs),
           |pr AS (SELECT tk[i] AS a, tk[i + 1] AS b
           |       FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM docs)),
           |pc AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab
           |       FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 5),
           |uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
           |        FROM (SELECT unnest(tk) AS w FROM docs) GROUP BY 1),
           |j AS (SELECT p.a, p.b, p.cab, ua.cw AS ca, ub.cw AS cb,
           |        CAST((CAST(p.cab AS HUGEINT) * (SELECT nt FROM tot) * 1024)
           |          // (CAST(ua.cw AS HUGEINT) * ub.cw) AS BIGINT) AS x
           |      FROM pc p JOIN uni ua ON ua.w = p.a JOIN uni ub ON ub.w = p.b),
           |k AS (SELECT a, b, cab, ca, cb, ${Idioms.pl2Sql("x")} - 10240 AS pmi_mbits
           |      FROM j WHERE x > 1024)
           |SELECT a, b, cab, ca, cb, CAST(pmi_mbits AS BIGINT) AS pmi_mbits
           |FROM k ORDER BY pmi_mbits DESC, a ASC, b ASC LIMIT 100""".stripMargin
    )
  }
}
