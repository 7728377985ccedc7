package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the reference's own surface
  * (builder mandate: the ops a 100 TB LLM-corpus pipeline needs as
  * first-class components): benchmark decontamination, deterministic
  * stratified sampling, embedding quantization, and token-budget
  * sharding. Every query here is DuckDB-oracle-backed.
  *
  * Shared idioms (established by TextOps and pinned by its oracles):
  *  - tokens = whitespace split with empties dropped;
  *  - strings are joined/hashed identically on both engines; hash keys
  *    are the first 15 hex chars of sha256 parsed as a 60-bit BIGINT
  *    (`conv(substr(sha2(s,256),1,15),16,10)` ≡ DuckDB
  *    `('0x'||substr(sha256(s),1,15))::bigint`).
  */
object TrainingOps {

  private val toksExpr = Idioms.toksExpr
  private val toksSql = Idioms.toksSql

  /** Contamination n-gram width — 13 is the de-facto standard for
    * benchmark decontamination of web-scale corpora (GPT-3 appendix C /
    * The Pile / Llama reports all use 13-gram overlap). */
  private val NgramW = 13

  private val ngramsExpr = Idioms.ngramsExpr("toks", NgramW)
  private val ngramsSql = Idioms.ngramsSql("tk", NgramW)

  private def hash60(c: String): Column = expr(Idioms.hash60Expr(c))
  private def hash60Sql(c: String): String = Idioms.hash60Sql(c)

  /** Deterministic per-language keep-rates for q53 (percent). Hash-based
    * sampling, not `rand()`: reproducible across runs/retries/engines,
    * which is what makes a 100 TB sample auditable. */
  private val SampleRates: Seq[(String, Int)] =
    Seq("en" -> 50, "zh" -> 25, "es" -> 40, "de" -> 30, "fr" -> 20)
  private val SampleDefaultRate = 10

  /** q57 PII patterns — plain character classes with identical semantics
    * in Java regex (Spark) and RE2 (DuckDB). */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val DigitsRe = "[0-9]{7,}"

  /** q55 token budget per training shard (tokens, not docs — shards get
    * near-equal compute cost regardless of document length skew). */
  private val ShardBudget = 4000L
  /** Bucket width for the two-level cumulative sum (see q55 notes). */
  private val ShardBucket = 100L

  /** q81 context-window length (tokens). 512 at test scale so window
    * boundaries actually fall inside documents; at deployment this is
    * the model's sequence length (2k/4k/8k) — the shape is unchanged. */
  private val PackWindow = 512L

  /** q80 Gopher top-2-gram coverage cutoff (Rae et al. 2021, table A1:
    * documents whose most frequent 2-gram covers more than 20% are
    * dropped). */
  private val TopGramCut = 0.2

  /** q80 arm split: docs with ≤ this many 2-grams take the zero-shuffle
    * in-row top-1 (worst case cutoff² comparisons per doc ≈ 4M — a few
    * ms); bigger docs take the explode + agg-min route. 2048 grams ≈ a
    * 2k-token document, far above this corpus and most web pages. */
  private val TopGramArrayCutoff = 2048L

  /** q63 posting-list cap: bounds both output width AND the aggregation
    * buffer (MinKLongsAggregator holds at most this many longs). */
  private[graft] val PostingsK = 20

  /** q84 KMV sketch size: k = 64 keeps the per-group aggregation buffer
    * at 64 longs whatever the corpus, with standard error 1/√(k−1) ≈
    * 12.7% (Beyer et al., SIGMOD 2007) — the distinct-counter you run
    * per group at 100 TB where exact distinct would shuffle every value.
    * The hash space is the shared 60-bit hash's [0, 2⁶⁰). */
  private[graft] val KmvK = 64
  private[graft] val KmvH = 1L << 60

  /** q85 count–min sketch geometry (Cormode & Muthukrishnan 2005):
    * d=4 rows × w=1024 buckets = 4096 counters TOTAL regardless of how
    * many distinct 2-grams the corpus holds — ε = e/w ≈ 0.27% of the
    * stream length per estimate at δ = e^−4 ≈ 1.8%. Probe positions
    * reuse the Bloom double-hash family ([[bloomPosExpr]]'s shape with
    * m = w), so the oracle rebuilds the identical sketch. */
  private[graft] val CmsD = 4
  private[graft] val CmsW = 1024L
  private[graft] val CmsTopK = 20

  /** CMS probe position for row `j` over the 60-bit hash column `h` —
    * the same Kirsch–Mitzenmacher double hash as [[bloomPosExpr]],
    * width [[CmsW]]. */
  private[graft] def cmsPosExpr(j: Int): String =
    s"(h % $CmsW + $j * ((h DIV $CmsW) % $CmsW)) % $CmsW"

  /** q88 ticket geometry: one sampling ticket per [[TicketChars]] chars
    * of weight, capped at [[TicketCap]] tickets/doc (bounds the explode
    * at cap× corpus rows; docs past the cap still bias correctly
    * relative to smaller docs, just no further). k = sample size. */
  private[graft] val TicketChars = 200L
  private[graft] val TicketCap = 32L
  private[graft] val WeightedSampleK = 100

  /** q70 tile width (tokens). Lee et al. delete 50-token repeated
    * substrings from web-scale corpora; 8 is the proportionate width for
    * this dataset's tens-of-tokens documents. Smaller = more aggressive
    * deletion AND more tile rows (corpus tokens / SpanW). */
  private[graft] val SpanW = 8

  /** q78 overlap stride: span starts at every SpanStride tokens, so a
    * duplicated phrase is caught when its occurrences agree on alignment
    * mod SpanStride (vs mod SpanW for q70's disjoint tiles) — 2× the
    * tile rows buys a 2× finer alignment class; stride 1 = full
    * positional recall at SpanW× the rows. */
  private[graft] val SpanStride = 4

  /** q72 feature-hash buckets and selection size. 1024 buckets follows
    * DSIR's hashed-n-gram feature space (Xie et al. use 10k for
    * web-scale; proportionate here), 100 docs ≈ 20% of the sf0.01
    * training split. */
  private[graft] val AffinityBuckets = 1024L
  private[graft] val AffinityTopK = 100

  /** q73 Bloom filter geometry — SELF-SIZING like q40's LSH width and
    * q68's k: m = BloomBitsPerElem × |distinct reference n-grams|, so
    * fill ≈ 1−e^(−k/10) ≈ 33% and fp ≈ fill^k ≈ 1.2% hold CONSTANT at
    * every corpus scale (a fixed m saturates at 10× its design load and
    * the prefilter silently degrades to pass-everything — still correct,
    * just useless). The ~1% fp is deliberate: the gate corpora exercise
    * the candidates-vs-confirmed funnel, so false-positive behavior is
    * part of the oracle-checked contract, not an untested code path.
    * k = 4 double-hashed probes p_j = (h mod m + j·((h div m) mod m))
    * mod m — pure integer arithmetic on the shared 60-bit hash (m is
    * NOT required to be a power of two, which keeps the oracle's m
    * derivation a plain integer product), so DuckDB rebuilds the
    * identical filter as a position SET and the whole bloom — false
    * positives included — is oracle-checked. */
  private[graft] val BloomBitsPerElem = 10L
  private[graft] val BloomK = 4

  /** Probe position j for 60-bit hash column `h` in an m-bit Bloom filter
    * — double hashing (Kirsch & Mitzenmacher 2006: two hashes simulate k
    * independent ones): p_j = (h mod m + j·((h div m) mod m)) mod m. */
  private[graft] def bloomPosExpr(m: Long, j: Int): String =
    s"(h % $m + $j * ((h DIV $m) % $m)) % $m"

  /** Assemble the m-bit Bloom array over `bench` (one 60-bit `h` column)
    * DISTRIBUTED: fold the k probe positions into 64-bit words with a
    * map-side-combined bit_or aggregation keyed on word index, so the
    * driver pulls at most m/64 (word, bits) pairs — the same order as the
    * array it must broadcast anyway — never the k·|bench| raw position
    * stream (~4B rows at a 1B-n-gram blacklist). bit_or is idempotent, so
    * duplicate positions need no distinct pass (and no second shuffle).
    * Its per-element build cost and driver footprint across 1×/10×/100×
    * bench sizes are in `scale_artifacts/probe_bloombuild_r12.jsonl`
    * (SCALE.md "Round 11: restored queries, the q47 re-measure, and the
    * Bloom build"). */
  private[graft] def bloomBitArray(bench: DataFrame, m: Long,
                                   k: Int = BloomK): Array[Long] = {
    val words = bench
      .select(explode(array((0 until k).map(j => expr(bloomPosExpr(m, j))): _*)).as("p"))
      .groupBy(expr("p div 64").as("blk"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))").as("w"))
      .collect()
    val bits = new Array[Long](((m + 63) / 64).toInt)
    words.foreach(r => bits(r.getLong(0).toInt) = r.getLong(1))
    bits
  }

  /** The Bloom filter as a DISTRIBUTED word table instead of a driver
    * array — the beyond-broadcast design point. At a 1 B-n-gram
    * blacklist, m = 10 B bits = ~1.2 GB of words: too big to broadcast
    * to every executor, but fine as a DataFrame of (blk, w) rows
    * hash-partitioned by block index, where each of P partitions holds
    * m/(64·P) words. Same positions, same bit_or assembly as
    * [[bloomBitArray]] — just never collected. */
  private[graft] def bloomWordTable(bench: DataFrame, m: Long,
                                    k: Int = BloomK): DataFrame =
    bench
      .select(explode(array((0 until k).map(j => expr(bloomPosExpr(m, j))): _*)).as("p"))
      .groupBy(expr("p div 64").as("blk"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))").as("w"))

  /** Membership probe against [[bloomWordTable]] via a co-partitioned
    * join on the block index: each distinct probe hash (`id`, `h`)
    * explodes to its ≤ k DISTINCT probe positions, routes to the shard
    * holding that block (shuffle on blk — the 8-byte key), and the hash
    * passes iff EVERY position's bit is set — the per-row semantics of
    * q73's broadcast `bloomHit`. An absent block is an all-zero word,
    * so the inner join dropping the row is exactly the bit-unset
    * verdict. A probe-side shuffle replaces the broadcast of the whole
    * array: per-task memory is bounded by the shard, not m. Returns the
    * distinct passing (`id`, `h`) pairs. */
  private[graft] def bloomProbeSharded(probes: DataFrame, words: DataFrame,
                                       m: Long, k: Int = BloomK): DataFrame = {
    val posArr = s"array_distinct(array(${(0 until k).map(j => bloomPosExpr(m, j)).mkString(",")}))"
    probes.select(col("id"), col("h")).distinct()
      .select(col("id"), col("h"), expr(posArr).as("ps"))
      .select(col("id"), col("h"), size(col("ps")).as("npos"), explode(col("ps")).as("p"))
      .select(col("id"), col("h"), col("npos"), expr("p div 64").as("blk"),
        expr("CAST(p % 64 AS INT)").as("bit"))
      .join(words.hint("shuffle_hash"), Seq("blk"))
      .filter(expr("(shiftright(w, bit) & 1) = 1"))
      .groupBy(col("id"), col("h"), col("npos"))
      .agg(count(lit(1)).as("nset"))
      .filter(col("nset") === col("npos"))
      .select(col("id"), col("h"))
  }

  /** (doc_id, g): every 13-gram of every row of `df`, generated with
    * codegen operators — an INT position sequence explodes and each
    * gram is built by [[Idioms.gramAtExpr]]'s element_at/concat chain,
    * keeping the whole corpus-sized pass inside whole-stage codegen
    * (the interpreted transform/concat_ws(slice) lambda form this
    * replaced measured ~30× slower at 100× — q80's round-12 finding,
    * applied to the 13-gram family). */
  private def docGrams(df: DataFrame): DataFrame = df
    .withColumn("toks", expr(toksExpr))
    .filter(expr(s"size(toks) >= $NgramW"))
    .select(col("doc_id"), col("toks"),
      explode(expr(s"sequence(1, size(toks) - ${NgramW - 1})")).as("i"))
    .select(col("doc_id"), expr(Idioms.gramAtExpr("toks", "i", NgramW)).as("g"))

  /** q73's benchmark side as a standalone input: the distinct 60-bit
    * hashes of every 13-gram in the held-out (doc_id % 20 = 0) split —
    * the Bloom build's exact production input, exposed for the scale
    * probe. */
  private[graft] def benchGramHashes(spark: SparkSession, dir: String): DataFrame =
    docGrams(Tables(spark, dir, "documents").filter(col("doc_id") % 20 === 0))
      .select(hash60("g").as("h")).distinct()

  /** q73's train side as a standalone probe input: (id, h) per training
    * document × 13-gram — what [[bloomProbeSharded]] consumes in the
    * scale probe. */
  private[graft] def trainGramHashes(spark: SparkSession, dir: String): DataFrame =
    docGrams(Tables(spark, dir, "documents").filter(col("doc_id") % 20 =!= 0))
      .select(col("doc_id").as("id"), hash60("g").as("h"))

  /** q74 CCNet-style perplexity filtering (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * LREC 2020): a per-language unigram LM trained on the held-out
    * reference split scores every training document by average token
    * surprisal, and documents bucket into CCNet's head / middle / tail
    * quality tiers. The surprisal is INTEGER-EXACT so the whole LM
    * chain is oracle-checkable: for a token with reference count c out
    * of T reference tokens, q = (1024·T) div c and
    * s = (bitlen(q)−1)·1024 + (1024·q div 2^(bitlen(q)−1)) − 1024 —
    * floor(log2 q) from the binary digit count plus a 10-bit linear
    * mantissa, a monotone piecewise-linear log2 in units of 2⁻¹⁰ bits
    * with no transcendentals (the q46/q72 log-free precedent; max
    * |error| vs true log2 is 0.0861 bits from the chord at x = 1/ln2
    * plus 1/1024 from mantissa truncation — ≤ 0.0871 total, identical
    * on both engines because every step is BIGINT arithmetic). Vocabulary is min-count pruned ([[PplMinCnt]], the
    * word2vec min_count knob) — a map-side HAVING filter, NOT a top-V
    * sort, so vocab selection costs one bounded shuffle of reference
    * token counts and no global ordering; OOV tokens smooth to count 1
    * (maximum surprisal). [[PplCutoffs]] is the analog of CCNet's
    * shipped per-language cutoff.csv: fixed (p30, p70) score cutoffs
    * fit once on this corpus at sf0.01 — head < p30 ≤ middle < p70 ≤
    * tail, head = lowest perplexity, exactly CCNet's tier order. */
  private[graft] val PplMinCnt = 3
  private[graft] val PplCutoffs: Map[String, (Long, Long)] = Map(
    "de" -> (15253615L, 15335102L),
    "en" -> (15244344L, 15314428L),
    "es" -> (15249933L, 15363621L),
    "fr" -> (15217208L, 15294109L),
    "zh" -> (15503741L, 15626400L))

  /** The piecewise-linear log2 surprisal over the BIGINT column `q` —
    * the shared [[Idioms.pl2Expr]] primitive (also q75's BM25 idf). */
  private val surpExprSpark = Idioms.pl2Expr("q")
  private val surpExprSql = Idioms.pl2Sql("q")

  /** CCNet tier CASE over `scoreCol`/`langCol` — same SQL text on both
    * engines; unknown languages fall back to the English cutoffs. */
  private def cutoffCase(scoreCol: String, langCol: String): String = {
    val whens = PplCutoffs.toSeq.sortBy(_._1).map { case (l, (p30, p70)) =>
      s"WHEN $langCol = '$l' THEN (CASE WHEN $scoreCol < $p30 THEN 'head' " +
        s"WHEN $scoreCol < $p70 THEN 'middle' ELSE 'tail' END)"
    }.mkString(" ")
    val (d30, d70) = PplCutoffs("en")
    s"CASE $whens ELSE (CASE WHEN $scoreCol < $d30 THEN 'head' " +
      s"WHEN $scoreCol < $d70 THEN 'middle' ELSE 'tail' END) END"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Benchmark decontamination: which training docs share a 13-gram
    // with the held-out benchmark set (doc_id % 20 == 0)? Candidates
    // join on the 60-bit hash of the n-gram — an 8-byte shuffle key
    // instead of a ~90-byte string — and the benchmark side (tiny vs a
    // 100 TB corpus) is broadcast, so the train side never shuffles.
    // The benchmark side is deduped per doc (bounds the broadcast); the
    // train side is deliberately NOT pre-deduped — countDistinct after
    // the join dedups anyway, and a pre-join distinct would shuffle
    // EVERY train n-gram, while the broadcast join passes only the
    // contaminated handful to the distinct-aggregate.
    // Round-19 optimization: documents read through Tables.spread — the
    // per-13-gram sha256 below is the query's real cost and it runs on
    // the SCAN side, which splits into one task at the gate file sizes
    // (guide §2.5 input parallelism; measured 2.75 → 1.21 s at sf0.1
    // alternating in one JVM; no-op once the input splits naturally).
    "q52_decontaminate" -> ((s, dir) => {
      def grams(df: DataFrame): DataFrame =
        docGrams(df).select(col("doc_id"), hash60("g").as("h"))
      val docs = Tables.spread(s, dir, "documents")
      val bench = grams(docs.filter(col("doc_id") % 20 === 0)).distinct()
        .select(col("doc_id").as("bench_id"), col("h"))
      val train = grams(docs.filter(col("doc_id") % 20 =!= 0))
      train.join(broadcast(bench), Seq("h"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("h")).as("n_shared_13grams"),
          countDistinct(col("bench_id")).as("n_bench_docs"))
    }),

    // Deterministic stratified sampling: per-language keep-rates applied
    // via a content-independent hash of the doc id — the same doc is
    // kept or dropped on every run, every engine, every retry (rand()
    // cannot give that). Pure narrow scan: no shuffle at any scale.
    "q53_stratified_sample" -> ((s, dir) => {
      val rate = SampleRates.foldRight(lit(SampleDefaultRate)) {
        case ((l, r), acc) => when(col("lang") === l, lit(r)).otherwise(acc)
      }
      Tables(s, dir, "documents")
        .withColumn("rate", rate)
        .filter(hash60("CAST(doc_id AS STRING)") % 100 < col("rate"))
        .select(col("doc_id"), col("lang"), col("rate").cast("long").as("keep_pct"))
    }),

    // Embedding int8 quantization (affine, per-vector min/max): 4x
    // smaller vectors for ANN candidate generation; the (qmin, qmax)
    // pair is the exact dequantization key. Arithmetic is the same
    // double expression tree on both engines, so the oracle compares
    // exact ints. Flat vectors (max == min) quantize to all-zeros. The
    // codes are emitted CSV-joined: the engines' array-column renderings
    // differ in the compare harness, their string join does not.
    "q54_embed_quantize" -> ((s, dir) => {
      Tables(s, dir, "embeddings")
        .withColumn("mn", expr("CAST(array_min(embedding) AS DOUBLE)"))
        .withColumn("mx", expr("CAST(array_max(embedding) AS DOUBLE)"))
        .select(col("vec_id"), col("mn").as("qmin"), col("mx").as("qmax"),
          expr("""concat_ws(',', CASE WHEN mx = mn THEN transform(embedding, x -> 0)
                 | ELSE transform(embedding,
                 |   x -> CAST(round((CAST(x AS DOUBLE) - mn) / ((mx - mn) / 255.0)) AS INT))
                 | END)""".stripMargin).as("qvec_csv"))
    }),

    // Repetition-ratio quality filter (the Gopher-rules shape): a doc
    // whose word 2-grams repeat heavily is boilerplate/spam. Duplicate
    // fractions come from array_distinct counts — one narrow projection,
    // no shuffle, trivially parallel at any scale.
    "q56_repetition_filter" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("toks", expr(toksExpr))
        .withColumn("grams", expr(Idioms.ngramsExpr("toks", 2)))
        .select(col("doc_id"),
          expr("CAST(size(toks) AS BIGINT)").as("n_words"),
          expr("""CASE WHEN size(toks) = 0 THEN CAST(0.0 AS DOUBLE)
                 | ELSE 1.0 - CAST(size(array_distinct(toks)) AS DOUBLE) / CAST(size(toks) AS DOUBLE)
                 | END""".stripMargin).as("dup_word_frac"),
          expr("""CASE WHEN size(grams) = 0 THEN CAST(0.0 AS DOUBLE)
                 | ELSE 1.0 - CAST(size(array_distinct(grams)) AS DOUBLE) / CAST(size(grams) AS DOUBLE)
                 | END""".stripMargin).as("dup_2gram_frac"))
        .withColumn("keep", col("dup_2gram_frac") < 0.2)
    }),

    // PII scrubbing: emails and long digit runs replaced by typed
    // placeholders; emits match counts and the scrubbed-content hash
    // (not the text — the result stays narrow however big the doc).
    // Patterns are plain character classes, identical semantics in
    // Java regex (Spark) and RE2 (DuckDB). Pure map, no shuffle.
    "q57_pii_scrub" -> ((s, dir) => {
      import TrainingOps.{EmailRe => email, DigitsRe => digits}
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(email), lit(0))).cast("long").as("n_emails"),
          size(regexp_extract_all(col("text"), lit(digits), lit(0))).cast("long").as("n_digit_runs"),
          sha2(regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
            digits, "<NUM>"), 256).as("scrubbed_hash"))
    }),

    // Domain-mix rebalancing: downsample every source to the size of the
    // smallest one (uniform target mix) with the same reproducible
    // doc-id-hash sampling as q53. The per-source counts are a tiny
    // aggregate broadcast back over the corpus — the full-size side is
    // never shuffled. The hash is uniform, so kept-counts concentrate
    // tightly around min_count (binomial), but sampling stays one
    // deterministic pass: no exact-count reservoir bottleneck.
    "q58_mix_rebalance" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      val minCount = counts.agg(min(col("n_src")).as("min_n"))
      val rates = counts.crossJoin(minCount)
        .select(col("source"), col("n_src"),
          (col("min_n").cast("double") / col("n_src").cast("double")).as("rate"))
      docs.join(broadcast(rates), Seq("source"))
        .filter(hash60("CAST(doc_id AS STRING)") % 1000000 < col("rate") * 1000000)
        .groupBy(col("source"), col("n_src"))
        .agg(count(lit(1)).as("n_kept"))
        .select(col("source"), col("n_src"), col("n_kept"))
    }),

    // Dataset "data card" cells (the observability table a corpus
    // release ships): per (lang, source) — docs, exact char totals and
    // means, and the exact-duplicate count inside the cell. One
    // grouped aggregation with map-side partials; every number is
    // integer-exact or an exact integer division cast to double, so
    // the oracle compare is exact.
    "q66_data_card" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(sha2(col("text"), 256)).as("n_unique_texts"))
        .withColumn("mean_chars", expr("CAST(total_chars AS DOUBLE) / n_docs"))
        .withColumn("n_exact_dups", expr("n_docs - n_unique_texts"))
    }),

    // Inverted index (the retrieval artifact corpus tooling builds):
    // token -> sorted posting list of containing docs, for tokens in at
    // least 5 docs; postings are the 20 SMALLEST doc_ids via a bounded
    // min-k typed Aggregator (MinKLongsAggregator) whose buffer holds at
    // most 20 longs however hot the token — the collect_list-then-slice
    // form buffers every posting of a stop-word token and OOMs at scale.
    // merge is ≤k-into-≤k, so map-side partial aggregation still applies
    // and the shuffle carries one ≤20 array per (token, partition).
    // Output is identical to slice(array_sort(collect_list),1,20)
    // (TrainingOpsSpec pins the equality); emitted CSV-joined for the
    // cross-engine compare.
    "q63_inverted_index" -> ((s, dir) => {
      val minK = udaf(graft.functions.MinKLongsAggregator(PostingsK))
      Tables(s, dir, "documents")
        .select(col("doc_id"), explode(expr(s"array_distinct($toksExpr)")).as("w"))
        .groupBy(col("w"))
        .agg(countDistinct(col("doc_id")).as("dfreq"),
          minK(col("doc_id")).as("postings"))
        .filter(col("dfreq") >= 5)
        .select(col("w"), col("dfreq"),
          expr("concat_ws(',', postings)").as("postings_csv"))
    }),

    // Exactly-k-per-group deterministic sample: the k docs per source
    // with the smallest doc-id hash — reproducible like q53, but with a
    // HARD count guarantee per group (rate sampling only hits the
    // target in expectation). One window over the source partitioning;
    // hash collisions between distinct doc_ids are improbable at 60
    // bits but possible — they are broken deterministically by the
    // doc_id tiebreak in the ordering, so the result is reproducible
    // regardless.
    "q64_topk_sample" -> ((s, dir) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("h").asc, col("doc_id").asc)
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          hash60("CAST(doc_id AS STRING)").as("h"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("doc_id"), col("source"), col("rk").cast("long").as("rk"))
    }),

    // Rare-token ratio (novelty/noise signal): the fraction of a doc's
    // distinct tokens that appear in NO other document. High values flag
    // gibberish/OCR noise; low values flag boilerplate. Two aggregations
    // keyed on the token (uniform shuffle; per-doc dedup bounds hot-token
    // fanout before the join) — all-integer counts, so the oracle
    // compares exact doubles.
    "q62_rare_tokens" -> ((s, dir) => {
      val t = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(expr(s"array_distinct($toksExpr)")).as("w"))
      val dfreq = t.groupBy(col("w")).agg(count(lit(1)).as("dfreq"))
      t.join(dfreq, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_distinct_tokens"),
          count(when(col("dfreq") === 1, 1)).as("n_unique_tokens"))
        .withColumn("rare_frac",
          expr("CAST(n_unique_tokens AS DOUBLE) / n_distinct_tokens"))
    }),

    // Token-budget training shards: pack docs (in doc_id order) into
    // shards of ~4000 tokens via a cumulative sum. The naive form is a
    // GLOBAL unpartitioned window — every row through one task, the
    // textbook scale-killer. This is the two-level form: a windowed
    // cumsum WITHIN each doc_id bucket (parallel over buckets) plus a
    // bucket-offset prefix sum over the tiny one-row-per-bucket frame,
    // broadcast back. Identical result (integer sums associate), and
    // the only single-task step handles |buckets| rows, not |docs|.
    "q55_token_shards" -> ((s, dir) => {
      val t = Tables(s, dir, "documents")
        .select(col("doc_id"),
          expr(s"CAST(size($toksExpr) AS BIGINT)").as("n_tokens"),
          (col("doc_id") / ShardBucket).cast("long").as("bucket"))
      val wLocal = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val local = t.withColumn("local_before", coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
      val wBucket = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = t.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("bt"))
        .withColumn("offset", coalesce(sum(col("bt")).over(wBucket), lit(0L)))
        .select(col("bucket"), col("offset"))
      local.join(broadcast(offsets), Seq("bucket"))
        .withColumn("cum_before", col("offset") + col("local_before"))
        .select(col("doc_id"), col("n_tokens"),
          expr(s"CAST(floor(cum_before / $ShardBudget.0) AS BIGINT)").as("shard_id"))
    }),

    // Target-affinity data selection — the DSIR shape (Xie et al.,
    // "Data Selection for Language Models via Importance Resampling",
    // NeurIPS 2023: hashed n-gram features, importance weights from a
    // target vs raw distribution) with an INTEGER-EXACT affinity in
    // place of the log-ratio weight, so the whole selection is
    // oracle-checkable: tokens feature-hash into 1024 buckets; bucket
    // weight w_b = T_b·S − S_b·T (target/source counts cross-multiplied
    // — positive exactly where the target distribution exceeds the
    // source, the log-free sign-exact form; the q46 transcendental-free
    // precedent); doc score = Σ_b c_b(d)·w_b; keep the top 100 training
    // docs by (score desc, doc_id asc). Target = the q52 held-out split
    // (doc_id % 20 == 0). Scale shape: token explode → two bucket
    // aggregations (1024-row weight table, broadcast) → per-doc sum →
    // distributed TakeOrdered top-K. Exact while Σ c_b·|w_b| < 2^63 —
    // ~1e18, beyond any real shard.
    // (Round-19 optimization: spread read — three tokenize passes are
    // scan-side; 1.29 → 1.18 s at sf0.1, 7 alternating same-JVM reps.)
    "q72_target_affinity_select" -> ((s, dir) => {
      val toks = Tables.spread(s, dir, "documents")
        .select(col("doc_id"), explode(expr(toksExpr)).as("w"))
        .withColumn("b", pmod(hash60("w"), lit(AffinityBuckets)))
      val target = toks.filter(col("doc_id") % 20 === 0)
      val train = toks.filter(col("doc_id") % 20 =!= 0)
      val tb = target.groupBy(col("b")).agg(count(lit(1)).as("t_b"))
      val sb = train.groupBy(col("b")).agg(count(lit(1)).as("s_b"))
      val totals = tb.agg(sum(col("t_b"))).crossJoin(sb.agg(sum(col("s_b"))))
        .toDF("t_tot", "s_tot")
      val weights = tb.join(sb, Seq("b"), "full_outer").crossJoin(totals)
        .select(col("b"),
          (coalesce(col("t_b"), lit(0L)) * col("s_tot")
            - coalesce(col("s_b"), lit(0L)) * col("t_tot")).as("w_b"))
      train.groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c_b"))
        .join(broadcast(weights), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c_b") * col("w_b")).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(AffinityTopK)
    }),

    // Bloom-prefiltered decontamination — how q52 runs when the
    // reference set is too big to broadcast as a hash table: the bench
    // n-grams are folded into a CONSTANT-size bit array (m bits — 8 KB
    // here vs 8 B+ per reference entry for the q52 broadcast; at a
    // 1B-n-gram blacklist that is the difference between an 8 GB
    // broadcast and a ~1 GB one at 10 bits/element), every train n-gram
    // is probed against the bits with k codegen'd shift-and-mask tests
    // (no join), and only the surviving candidates — true matches plus
    // the designed ~1% false positives — reach the exact-confirm
    // broadcast join. Output keeps BOTH funnel stages per doc
    // (candidates ≥ confirmed; docs where confirmed = 0 are pure-fp
    // evidence the oracle must reproduce). The driver-side build of the
    // bit array is bounded by the constant m — the centroid-collect
    // pattern — never by corpus or benchmark size.
    "q73_bloom_decontaminate" -> ((s, dir) => {
      def grams(df: DataFrame): DataFrame =
        docGrams(df).select(col("doc_id"), hash60("g").as("h"))
      // Round-19 optimization: ONLY the train side reads through
      // Tables.spread — its per-13-gram sha256 + Bloom-probe pass is
      // 19/20 of the corpus and ran in one scan task; the bench side
      // stays on the plain read because its two builder actions (count,
      // bit-array fold) are plan-time jobs where the extra exchange
      // costs more than it parallelizes (measured: spread-everything
      // flat, spread-train-only 1.46 → 0.81 s at sf0.1, 7 alternating
      // same-JVM reps).
      val docs = Tables(s, dir, "documents")
      val bench = grams(docs.filter(col("doc_id") % 20 === 0))
        .select(col("h")).distinct()
      val m = BloomBitsPerElem * bench.count()
      val bits = bloomBitArray(bench, m)
      // The bit array rides a BROADCAST VARIABLE probed by a closure,
      // not a typedLit array column: a Literal of m/64 longs (140k words
      // at 100×) is carried through every optimizer pass and codegen
      // compile — measured 67 s → ~10 s at 100× from this change alone.
      // The closure computes the same (h % m + j·((h div m) % m)) % m
      // double-hash positions as [[bloomPosExpr]] (the oracle rebuilds
      // them as a DuckDB position set, so the arithmetic must stay
      // bit-identical).
      val bcast = s.sparkContext.broadcast(bits)
      val (mm, kk) = (m, BloomK)
      val bloomHit = udf { h: Long =>
        val arr = bcast.value
        var j = 0
        var ok = true
        while (j < kk && ok) {
          val p = (h % mm + j * ((h / mm) % mm)) % mm
          ok = ((arr((p / 64).toInt) >>> (p % 64).toInt) & 1L) == 1L
          j += 1
        }
        ok
      }
      val train = grams(Tables.spread(s, dir, "documents")
        .filter(col("doc_id") % 20 =!= 0))
      train.filter(bloomHit(col("h")))
        .join(broadcast(bench.withColumn("inb", lit(1))), Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("h")).as("n_candidate_13grams"),
          countDistinct(when(col("inb") === 1, col("h"))).as("n_confirmed_13grams"))
    }),

    // q78: q70's documented recall knob made REAL — OVERLAPPING tiling
    // at stride SpanStride < SpanW. q70's non-overlapping tiles only
    // catch a duplicated phrase when its two occurrences agree on
    // alignment mod SpanW; strided span starts at every multiple of
    // SpanStride shrink that to agreement mod SpanStride (and
    // SpanStride = 1 would be full positional recall, at W× the rows —
    // the knob). DETECTION output (per-doc span/duplicate counts), not
    // rewrite: overlapping duplicated spans don't compose into a
    // byte-exact rebuild the way q70's disjoint tiles do, and the
    // production use is flagging docs for the q70/q51 pipelines. Same
    // scale shape as q70: tile rows ∝ corpus tokens / SpanStride, one
    // 8-byte-keyed groupBy + semi-join, no pair explosion.
    "q78_overlap_span_detect" ->
      ((s, dir) => overlapSpanDetect(Tables(s, dir, "documents"), SpanStride)),

    // Exact-substring span dedup (Lee et al., "Deduplicating Training
    // Data Makes Language Models Better", ACL 2022): REWRITE documents
    // by deleting every SpanW-token tile whose text occurs more than
    // once in the whole corpus, keeping the remainder in order (both
    // copies are removed, exactly like the paper's ExactSubstr). The
    // distributed approximation is NON-OVERLAPPING tiling — corpus-wide
    // positions of one span align to one tile key, but a duplicated
    // phrase straddling a tile boundary is missed (the paper's suffix
    // array sees every offset; it is also inherently sequential —
    // stride < SpanW is the recall knob, at proportionally more tile
    // rows). Tiles join their global occurrence counts by the 60-bit
    // span hash (8-byte shuffle key, the q52 idiom), and only the
    // duplicated-span blacklist rides the anti-join. All string/integer
    // arithmetic — the rebuilt text is byte-exact cross-engine.
    "q70_span_dedup" -> ((s, dir) => {
      val base = Tables(s, dir, "documents")
        .withColumn("toks", expr(toksExpr))
        .withColumn("ntok", expr("size(toks)"))
        .withColumn("ntiles", expr(s"ntok div $SpanW"))
        .withColumn("tail_str",
          expr(s"concat_ws(' ', slice(toks, ntiles * $SpanW + 1, ntok - ntiles * $SpanW))"))
      val tiles = base.select(col("doc_id"),
          posexplode(expr(
            s"""CASE WHEN ntiles >= 1
               | THEN transform(sequence(0, ntiles - 1),
               |   i -> concat_ws(' ', slice(toks, CAST(i * $SpanW + 1 AS INT), $SpanW)))
               | ELSE array() END""".stripMargin)))
        .select(col("doc_id"), col("pos").as("idx"), col("col").as("span"),
          hash60("col").as("h"))
      val dupSpans = tiles.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select(col("h"))
      val kept = tiles.join(dupSpans, Seq("h"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(expr("concat_ws(' ', transform(array_sort(collect_list(struct(idx, span))), x -> x.span))")
            .as("kept_txt"),
          count(lit(1)).as("kept_n"))
      base.select(col("doc_id"), col("ntiles"), col("tail_str"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr("concat_ws(' ', filter(array(kept_txt, tail_str), x -> x IS NOT NULL AND x <> ''))")
            .as("clean_text"),
          col("ntiles").cast("long").as("n_spans"),
          (col("ntiles") - coalesce(col("kept_n"), lit(0L))).cast("long").as("n_dropped"))
    }),

    // CCNet perplexity tiers (scaladoc at PplCutoffs). Scale shape: the
    // reference split (5% of corpus) shuffles ONCE into per-(lang,token)
    // counts — hash-partitioned on the pair key, so no per-language
    // reducer hotspot — and both LM sides (min-count vocab + per-lang
    // totals) broadcast to the train side, which therefore never
    // shuffles its exploded tokens: the only train-side exchange is the
    // per-(doc,lang) partial-aggregated surprisal sums (two BIGINTs per
    // doc per input partition). No global sort anywhere — the tier cut
    // is a map-side CASE against the shipped cutoffs, which is exactly
    // how CCNet deploys (cutoff.csv is precomputed once, then applied
    // embarrassingly parallel). At 100 TB the broadcast is bounded by
    // PplMinCnt (Zipf: raising it shrinks vocab sharply); beyond that,
    // the LEFT join degrades gracefully to a shuffled hash join on
    // (lang, tok) rather than breaking.
    "q74_perplexity_buckets" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val (vocab, totals) = pplLm(docs.filter(col("doc_id") % 20 === 0))
      pplScore(docs.filter(col("doc_id") % 20 =!= 0), vocab, totals)
        .groupBy(col("lang"), col("ppl_bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
          sum(col("score")).as("sum_score"), min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
    }),

    // Top-n-gram coverage — the Gopher/RefinedWeb companion to q56's
    // duplicate-fraction rules (Rae et al. 2021 §A1.1): the share of a
    // document's 2-grams taken by its single most frequent 2-gram. q56
    // catches diffuse repetition (many grams each repeated a little);
    // this catches concentrated repetition (one boilerplate phrase
    // dominating a page). Shape: codegen gram generation — explode an
    // INT sequence and build each gram with element_at + concat (every
    // operator whole-stage-codegen'd; the obvious
    // transform(..., concat_ws(slice)) form runs as INTERPRETED lambda
    // expressions and measured ~5x slower at 100×) — then count per
    // (doc_id, gram) and top-1 per doc via the agg-min idiom,
    // min(struct(-cnt, gram)). Both aggregations partial-combine
    // map-side (the second shuffles ONE candidate row per doc per
    // mapper; no per-doc sort ever runs), and the (doc_id, gram) count
    // key keeps a huge repetitive document skew-free — its grams spread
    // over as many reducers as it has DISTINCT grams. The struct's
    // field order IS the tie-break: cnt desc, then gram ASC, so both
    // engines pick the same witness.
    "q80_topgram_coverage" -> ((s, dir) => {
      val g = Tables(s, dir, "documents")
        .withColumn("toks", expr(toksExpr))
        .select(col("doc_id"),
          expr("CAST(greatest(size(toks) - 1, 0) AS BIGINT)").as("n_grams"),
          col("toks"))
        .filter(col("n_grams") > 0)
      g.select(col("doc_id"), col("n_grams"), col("toks"),
          explode(expr("sequence(1, CAST(n_grams AS INT))")).as("i"))
        .select(col("doc_id"), col("n_grams"),
          expr("concat(element_at(toks, i), ' ', element_at(toks, i + 1))")
            .as("gram"))
        .groupBy(col("doc_id"), col("n_grams"), col("gram"))
        .agg(count(lit(1)).cast("int").as("cnt"))
        .groupBy(col("doc_id"), col("n_grams"))
        .agg(min(struct((-col("cnt")).as("nc"), col("gram"))).as("top"))
        .select(col("doc_id"), col("n_grams"), col("top.gram").as("top_gram"),
          (-col("top.nc")).cast("long").as("top_count"),
          ((-col("top.nc")).cast("double") / col("n_grams")).as("top_frac"),
          ((-col("top.nc")).cast("double") / col("n_grams") < TopGramCut).as("keep"))
    }),

    // Fixed-context-window sequence packing — what a pretraining
    // dataloader does downstream of q55's sharding: the corpus token
    // stream (documents concatenated in doc_id order) is cut into
    // back-to-back windows of PackWindow tokens, and each document is
    // emitted as one (seq_id, tok_offset, seg_len) segment per window
    // it overlaps. Unlike q55 (whole docs binned by cumsum), documents
    // here SPLIT across window boundaries — exactly the layout a
    // packed-batch trainer consumes, and the output stays linear: a doc
    // yields at most 1 + n_tokens/PackWindow segments. The global
    // cumulative sum reuses q55's two-level shape (per-bucket window +
    // broadcast bucket offsets) so no single-partition global sort ever
    // materialises at corpus scale.
    "q81_sequence_pack" ->
      ((s, dir) => sequencePack(Tables(s, dir, "documents"), baseOffset = 0L)),

    // KMV distinct-vocabulary sketch per data-card cell — approximate
    // distinct counting with a MERGEABLE bounded synopsis, the way a
    // 100 TB pipeline tracks per-(lang, source) vocabulary size without
    // ever shuffling the token stream: KmvSketchAggregator's buffer is
    // the k smallest distinct 60-bit token hashes (k longs, however hot
    // the group), merge folds sketch into sketch, so map-side partial
    // aggregation ships ONE ≤k array per (group, partition). The
    // estimate (k−1)·2⁶⁰ div h_(k) — or the sketch size itself when the
    // sketch isn't full, in which case it IS the distinct set — is
    // integer-exact via one DECIMAL(38,0) product (the 63·2⁶⁰ numerator
    // overflows BIGINT; DuckDB's twin uses HUGEINT), so the oracle
    // checks the estimator itself, not just the machinery. The exact
    // countDistinct rides along as the oracle-checked error funnel
    // (err_ppm) — at deployment you'd drop it; the sketch alone is the
    // artifact. TrainingOpsSpec pins mergeability (shard-sketch union ≡
    // global sketch) and the duplicate-drop rule.
    "q84_kmv_distinct" -> ((s, dir) => {
      val kmv = udaf(graft.functions.KmvSketchAggregator(KmvK))
      Tables(s, dir, "documents")
        .select(col("lang"), col("source"),
          explode(expr(s"array_distinct($toksExpr)")).as("tok"))
        .select(col("lang"), col("source"), hash60("tok").as("h"))
        .groupBy(col("lang"), col("source"))
        .agg(kmv(col("h")).as("sketch"), countDistinct(col("h")).as("n_exact"))
        .select(col("lang"), col("source"), col("n_exact"),
          expr("CAST(size(sketch) AS BIGINT)").as("sk_size"),
          expr("element_at(sketch, -1)").as("kth_min"))
        .withColumn("n_est", expr(
          s"""CASE WHEN sk_size < $KmvK THEN sk_size
             | ELSE CAST(${KmvK - 1} AS DECIMAL(38,0)) * $KmvH div kth_min
             | END""".stripMargin))
        .withColumn("err_ppm", expr("abs(n_est - n_exact) * 1000000 div n_exact"))
    }),

    // Count–min heavy-hitter estimation — frequency of the corpus's hot
    // 2-grams read from a FIXED 4×1024-counter sketch (Cormode &
    // Muthukrishnan 2005), the bounded-memory shape for "what phrases
    // dominate this 100 TB crawl": the cell build is one map-side-
    // combined groupBy of 4·|gram occurrences| rows into ≤4096 cells
    // (the shuffle carries at most d·w rows per mapper), probing is a
    // broadcast join of those 4096 cells against the probe set, and the
    // gram generation reuses q80's codegen element_at+concat idiom so
    // the corpus-sized explode stays inside whole-stage codegen. The
    // probe set is the exact top-20 (count desc, gram asc — a
    // TakeOrderedAndProject, never a global sort), kept exact so the
    // oracle checks the sketch's one-sided error contract: cms_est ≥
    // exact always (overcount ≥ 0 is part of the output), with
    // collisions from the full gram population folded in. min over the
    // d row estimates per gram is the CMS read.
    // (Round-19 optimization: spread read — 1.33 → 1.04 s at sf0.1.)
    // Round-20 optimization: the gram explode + sha256 pass runs ONCE —
    // occurrences aggregate to a distinct-gram count table (map-side
    // combined, tracked-persisted at distinct-2-gram size, the same
    // cardinality class as q99's tracked count table), and BOTH reads
    // derive from it: the CMS cells by linearity (cell_cnt = Σ cnt of
    // the grams hashing there — identical to counting occurrences) and
    // the exact top-20 directly. The prior form evaluated the
    // corpus-sized explode + per-gram sha256 twice (cells branch +
    // exact branch — DataFrame reuse is plan duplication). Measured
    // 5.74 → 3.59 s at the ×100 replica (5/5 alternating reps); at
    // sf0.1 the persist overhead is ~0.1 s inside the noise band
    // (1.16 vs 1.27 median). r19 had rejected this on sf0.1 evidence
    // alone (1.34 → 1.42); the ×100 A/B reverses that call, and the
    // cached table is bounded by DISTINCT grams (zipf-sublinear in
    // corpus size), never by occurrences.
    "q85_cms_heavy" -> ((s, dir) => {
      val gramCounts = graft.TempCaches.tracked(
        Tables.spread(s, dir, "documents")
          .withColumn("toks", expr(toksExpr))
          .withColumn("n", expr("size(toks) - 1"))
          .filter(col("n") > 0)
          .select(explode(expr("sequence(1, n)")).as("i"), col("toks"))
          .select(expr(Idioms.gramAtExpr("toks", "i", 2)).as("gram"))
          .select(col("gram"), hash60("gram").as("h"))
          .groupBy(col("gram"), col("h")).agg(count(lit(1)).as("cnt")))
      val probe = array((0 until CmsD).map(j =>
        struct(lit(j).as("j"), expr(cmsPosExpr(j)).as("pos"))): _*)
      val cells = gramCounts.select(col("cnt"), explode(probe).as("c"))
        .groupBy(col("c.j").as("j"), col("c.pos").as("pos"))
        .agg(sum(col("cnt")).as("cell_cnt"))
      val exact = gramCounts
        .orderBy(col("cnt").desc, col("gram").asc)
        .limit(CmsTopK)
        .select(col("gram"), col("h"), col("cnt").as("exact_cnt"))
      exact.select(col("gram"), col("exact_cnt"), explode(probe).as("c"))
        .join(broadcast(cells),
          col("c.j") === cells("j") && col("c.pos") === cells("pos"))
        .groupBy(col("gram"), col("exact_cnt"))
        .agg(min(col("cell_cnt")).as("cms_est"))
        .select(col("gram"), col("exact_cnt"), col("cms_est"),
          (col("cms_est") - col("exact_cnt")).as("overcount"))
    }),

    // Temperature (α = 0.5) multilingual mix sampling — the mT5/XLM-R
    // rebalancing rule between q58's flatten-to-min (α = 0) and no
    // rebalancing (α = 1): each language keeps target = isqrt(n_lang ·
    // n_min) docs, the geometric mean of its size and the smallest
    // language's, so resource ratios compress by square root (4× the
    // docs → 2× the sample) while every target stays in [n_min,
    // n_lang] — sampling without replacement stays well-defined.
    // isqrt is the ±1-corrected floor(ieee_sqrt) — exact whatever the
    // sqrt rounding, so both engines derive identical targets — and
    // selection is the deterministic q64 idiom: rank per language by
    // (hash60(doc_id), doc_id), keep rank ≤ target, targets broadcast.
    // The corpus shuffles once, on lang, to rank.
    "q86_temperature_mix" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      val targets = counts
        .crossJoin(counts.agg(min(col("n_lang")).as("n_min")))
        .withColumn("x", col("n_lang") * col("n_min"))
        .withColumn("g", expr("CAST(FLOOR(SQRT(CAST(x AS DOUBLE))) AS BIGINT)"))
        .withColumn("target", expr(
          """CASE WHEN (g + 1) * (g + 1) <= x THEN g + 1
            | WHEN g * g > x THEN g - 1 ELSE g END""".stripMargin))
        .select(col("lang"), col("n_lang"), col("target"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("h").asc, col("doc_id").asc)
      docs.select(col("doc_id"), col("lang"),
          hash60("CAST(doc_id AS STRING)").as("h"))
        .withColumn("rk", row_number().over(w))
        .join(broadcast(targets), Seq("lang"))
        .filter(col("rk") <= col("target"))
        .select(col("doc_id"), col("lang"), col("n_lang"), col("target"))
    }),

    // Log-linear histogram quantile sketch — mergeable approximate
    // quantiles in the HDR-histogram shape, built entirely on the
    // shared pl2 integer-log2 primitive: bin(v) = pl2(v) div 128 gives
    // 8 sub-bins per octave (relative bin width 2^⅛ ≈ 1.09), so the
    // whole per-language doc-length distribution lives in ≤ 8·log2(max)
    // bins REGARDLESS of corpus size — histograms add cell-wise
    // (the CMS linearity argument), which is what lets 1000 executors
    // each histogram their split and a final bins-sized merge read any
    // quantile. Exact percentiles (q37) sort; percentile_approx keeps
    // per-group buffers the oracle can't reproduce; this sketch is both
    // bounded AND cross-engine bit-exact. The quantile read is the
    // smallest bin whose running count reaches ceil(q·n), all-integer
    // (2·cum ≥ n and 10·cum ≥ 9n), over a bins-sized window — the
    // corpus itself never sorts, never shuffles beyond the histogram
    // cells. TrainingOpsSpec pins that the TRUE median/p90 of every
    // language falls in the reported bin, and the ≤1.1-ratio bin width.
    "q87_log_histogram" -> ((s, dir) => {
      val hist = Tables(s, dir, "documents")
        .filter(col("n_chars") > 0)
        .select(col("lang"), col("n_chars").as("v"))
        .select(col("lang"), expr(s"(${Idioms.pl2Expr("v")}) div 128").as("bin"))
        .groupBy(col("lang"), col("bin")).agg(count(lit(1)).as("cnt"))
      val cum = hist
        .withColumn("cum",
          sum(col("cnt")).over(Window.partitionBy(col("lang")).orderBy(col("bin"))))
        .withColumn("n_docs", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
      cum.groupBy(col("lang"), col("n_docs"))
        .agg(
          min(when(col("cum") * 2 >= col("n_docs"), col("bin"))).as("p50_bin"),
          min(when(col("cum") * 10 >= col("n_docs") * 9, col("bin"))).as("p90_bin"))
    }),

    // Weight-biased corpus sampling — the "sample k docs, preferring
    // high-weight ones" primitive (weight here = n_chars; in a real
    // pipeline a quality score), deterministic and mergeable: each doc
    // holds ceil(w / TicketChars) tickets (capped at TicketCap — the
    // cap bounds per-row work and is part of the checked contract),
    // ticket j hashes as hash60(doc_id:j), the doc's sampling key is
    // its MINIMUM ticket hash, and the sample is the k smallest keys
    // corpus-wide. More tickets → stochastically smaller min → higher
    // inclusion odds (weighted min-wise sampling by replication; the
    // bias is monotone in w, not exactly ∝ w — documented, and
    // deterministic, which is what a reproducible 100 TB subsample
    // audit needs). Scale shape: the ticket explode is ≤ TicketCap×
    // corpus rows of pure codegen, min-per-doc partial-aggregates
    // map-side, and the global k-smallest is a TakeOrdered — never a
    // global sort. Ties (astronomically unlikely 60-bit collisions)
    // break on doc_id so both engines pick the same k.
    "q88_weighted_sample" -> ((s, dir) =>
      weightedKeys(Tables(s, dir, "documents"))
        .orderBy(col("skey").asc, col("doc_id").asc)
        .limit(WeightedSampleK)),

    // Sketch-algebra set overlap — the estimator side of KMV that makes
    // it an ALGEBRA, not just a counter (Beyer et al., SIGMOD 2007
    // §4.2): pairwise vocabulary Jaccard/intersection between sources
    // computed ONLY from their ≤k-long synopses. The corpus is touched
    // once (to build per-source sketches — q84's aggregation); the
    // pairwise stage is pure array arithmetic over |sources|² rows of
    // ≤k longs, which is what answers "how similar are these two
    // crawls' vocabularies" across a federation without ever joining
    // token streams. Estimators, all integer: D = k smallest of
    // union(sketch_a, sketch_b) (= the union's OWN KMV sketch — that
    // is the closure property); K∩ = |{h ∈ D present in both}|;
    // jaccard ≈ K∩/ku in ppm; |A∪B| from D by q84's rule (exact when
    // under-full); |A∩B| = jaccard·|A∪B|. Under-full sketches make
    // every estimate EXACT — the spec proves that on a sub-k corpus,
    // and the oracle re-derives every array bit-for-bit.
    "q89_sketch_jaccard" -> ((s, dir) => {
      val kmv = udaf(graft.functions.KmvSketchAggregator(KmvK))
      val sk = Tables(s, dir, "documents")
        .select(col("source"), explode(expr(s"array_distinct($toksExpr)")).as("tok"))
        .select(col("source"), hash60("tok").as("h"))
        .groupBy(col("source")).agg(kmv(col("h")).as("sketch"))
      val a = sk.select(col("source").as("source_a"), col("sketch").as("sa"))
      val b = sk.select(col("source").as("source_b"), col("sketch").as("sb"))
      a.join(b, col("source_a") < col("source_b"))
        .withColumn("m", expr(s"slice(array_sort(array_union(sa, sb)), 1, $KmvK)"))
        .withColumn("ku", expr("CAST(size(m) AS BIGINT)"))
        .withColumn("k_inter", expr(
          "CAST(size(filter(m, x -> array_contains(sa, x) AND array_contains(sb, x))) AS BIGINT)"))
        .withColumn("jaccard_ppm", expr("k_inter * 1000000 div ku"))
        .withColumn("union_est", expr(
          s"""CASE WHEN ku < $KmvK THEN ku
             | ELSE CAST(${KmvK - 1} AS DECIMAL(38,0)) * $KmvH div element_at(m, $KmvK)
             | END""".stripMargin))
        .withColumn("inter_est", expr("k_inter * union_est div ku"))
        .select(col("source_a"), col("source_b"), col("ku"), col("k_inter"),
          col("jaccard_ppm"), col("union_est"), col("inter_est"))
    }),

    // Blocked fuzzy record linkage (entity-resolution op): the classic
    // two-phase shape — cheap BLOCKING key first (here the head noun of
    // the part name), then expensive pairwise comparison (Levenshtein)
    // only inside blocks, never all-pairs. Linkage runs at the
    // *distinct-name* level: records collapse to (name, support count)
    // before any pair is generated, so the corpus-sized part table
    // contributes one groupBy and the quadratic phase touches only the
    // name vocabulary (bounded by the attribute domain, not row count —
    // the property that makes this survive a 100 TB part table; block
    // width is #distinct modifiers per noun). Levenshtein is exact
    // integer edit distance in both engines, so pairs hash-match.
    // BPE merge-pair training (the tokenizer-training inner loop, per
    // Sennrich et al. 2016): the first 3 byte-pair merges learned from
    // the corpus, fully declaratively — no driver-side loop state. The
    // corpus-sized token stream collapses ONCE to a (word, freq)
    // vocabulary (the BPE working set: bounded by the vocabulary, not
    // the corpus, which is what makes tokenizer training feasible at
    // 100 TB); each round is then: adjacent-symbol pair counts weighted
    // by word frequency (explode + map-side-combined groupBy over the
    // vocab), a deterministic argmax (TakeOrdered(1), ties on the pair
    // string), and a greedy left-to-right merge applied via a
    // string-accumulator `aggregate` HOF (symbols never contain spaces
    // — words are whitespace-split — so ' ' is a safe separator; the
    // walk IS the reference BPE apply: merge the pair wherever the
    // running tail is L and the next symbol is R). The 1-row argmax
    // cross-joins back in (broadcast), so every round is declarative
    // and the plan is O(rounds) stages.
    // (Round-19 optimization: s1 is tracked — the shipped form evaluated
    // its interpreted aggregate-HOF merge walk twice, once for p2 and
    // once under s2's lineage; 0.77 → 0.65 s at sf0.1, 7 alternating
    // same-JVM reps. Vocabulary-sized cache, rows identical.)
    "q94_bpe_merges" -> ((s, dir) => {
      val s0 = bpeVocab(s, dir)
      val m1 = graft.TempCaches.tracked(bpeArgmax(bpePairCounts(s0)))
      val s1 = graft.TempCaches.tracked(bpeApplyMerge(s0, m1))
      val m2 = graft.TempCaches.tracked(bpeArgmax(bpePairCounts(s1)))
      val s2 = bpeApplyMerge(s1, m2)
      val m3 = bpeArgmax(bpePairCounts(s2))
      def row(step: Int, m: DataFrame): DataFrame = m.select(lit(step).as("step"),
        col("l"), col("r"), concat(col("l"), col("r")).as("merged"), col("cnt"))
      row(1, m1).union(row(2, m2)).union(row(3, m3))
    }),

    // Tokenizer APPLY (the deployment half of q94 — encode the corpus
    // with the learned merges and measure what they bought): the 3
    // learned merges are applied corpus-wide and the result reported
    // as one row per surviving multi-char symbol — its corpus
    // occurrence count (freq-weighted, in the FINAL symbolization:
    // a merge consumed by a later merge scores in the superseding
    // token, exactly how a trained tokenizer behaves) — plus the total
    // corpus symbol counts before/after, i.e. the sequence-length
    // compression the tokenizer delivers. Scale shape is q94's: the
    // corpus collapses once to the (word, freq) vocabulary, every
    // merge round and the apply walk run at vocabulary size, and the
    // final stats are freq-weighted vocab aggregates — the corpus is
    // touched exactly once regardless of merge count.
    // (Round-19 optimization: s1/s2 tracked — uncached, the interpreted
    // merge-walk chain re-evaluated s1 three times and s2 twice across
    // p2/p3/s3; ~1.17 → 0.95 s at sf0.1, alternating same-JVM reps.)
    "q100_bpe_apply" -> ((s, dir) => {
      val s0 = bpeVocab(s, dir)
      val m1 = graft.TempCaches.tracked(bpeArgmax(bpePairCounts(s0)))
      val s1 = graft.TempCaches.tracked(bpeApplyMerge(s0, m1))
      val m2 = graft.TempCaches.tracked(bpeArgmax(bpePairCounts(s1)))
      val s2 = graft.TempCaches.tracked(bpeApplyMerge(s1, m2))
      val m3 = graft.TempCaches.tracked(bpeArgmax(bpePairCounts(s2)))
      val s3 = graft.TempCaches.tracked(bpeApplyMerge(s2, m3))
      val tots = s0.agg(sum(expr("freq * size(syms)")).as("syms_before"))
        .crossJoin(s3.agg(sum(expr("freq * size(syms)")).as("syms_after")))
      s3.select(col("freq"), explode(col("syms")).as("sym"))
        .filter(length(col("sym")) >= 2)
        .groupBy(col("sym")).agg(sum(col("freq")).as("occurrences"))
        .crossJoin(broadcast(tots))
        .select(col("sym"), col("occurrences"),
          col("syms_before"), col("syms_after"))
    }),

    "q93_record_linkage" -> ((s, dir) => {
      val names = Tables(s, dir, "part")
        .groupBy(col("p_name")).agg(count(lit(1)).as("n"))
        .withColumn("blk", expr("element_at(split(p_name, ' '), -1)"))
      val a = names.select(col("blk"), col("p_name").as("name_a"), col("n").as("n_a"))
      val b = names.select(col("blk"), col("p_name").as("name_b"), col("n").as("n_b"))
      a.join(b, "blk")
        .filter(col("name_a") < col("name_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 3)
        .select(col("name_a"), col("name_b"), col("dist"),
          col("n_a"), col("n_b"))
    })
  )

  /** The q94 oracle's WITH-chain through the third merge pick (m3) —
    * shared verbatim by the q100 twin so the two cannot drift. */
  private val BpeOracleCtes: String =
    """WITH vocab AS (
      |  SELECT w, COUNT(*) AS freq FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |    FROM documents) t
      |  WHERE length(w) >= 2 GROUP BY 1),
      |s0 AS (SELECT freq,
      |         list_transform(range(1, length(w) + 1), i -> substr(w, i, 1)) AS syms
      |       FROM vocab),
      |p1 AS (SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
      |    SELECT freq, unnest(list_transform(range(1, len(syms)),
      |      i -> {'l': syms[i], 'r': syms[i+1]})) AS p
      |    FROM s0 WHERE len(syms) >= 2) q GROUP BY 1, 2),
      |m1 AS (SELECT l, r, cnt FROM p1 ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
      |s1 AS (SELECT freq, string_split(list_reduce(syms, (acc, x) -> CASE
      |      WHEN (acc = l OR ends_with(acc, ' ' || l)) AND x = r
      |        THEN substr(acc, 1, length(acc) - length(l)) || l || r
      |      ELSE acc || ' ' || x END), ' ') AS syms
      |    FROM s0 CROSS JOIN m1),
      |p2 AS (SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
      |    SELECT freq, unnest(list_transform(range(1, len(syms)),
      |      i -> {'l': syms[i], 'r': syms[i+1]})) AS p
      |    FROM s1 WHERE len(syms) >= 2) q GROUP BY 1, 2),
      |m2 AS (SELECT l, r, cnt FROM p2 ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
      |s2 AS (SELECT freq, string_split(list_reduce(syms, (acc, x) -> CASE
      |      WHEN (acc = l OR ends_with(acc, ' ' || l)) AND x = r
      |        THEN substr(acc, 1, length(acc) - length(l)) || l || r
      |      ELSE acc || ' ' || x END), ' ') AS syms
      |    FROM s1 CROSS JOIN m2),
      |p3 AS (SELECT p.l AS l, p.r AS r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
      |    SELECT freq, unnest(list_transform(range(1, len(syms)),
      |      i -> {'l': syms[i], 'r': syms[i+1]})) AS p
      |    FROM s2 WHERE len(syms) >= 2) q GROUP BY 1, 2),
      |m3 AS (SELECT l, r, cnt FROM p3 ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)""".stripMargin

  /** q94/q100's BPE working set: the corpus collapsed to (freq,
    * syms = single-char symbol list) per distinct word of length ≥ 2 —
    * bounded by the vocabulary, not the corpus. The collapse itself is
    * the one corpus-sized pass of the BPE family and is shared by the
    * train (q94) and apply (q100) halves, so it rides [[StageMemo]]:
    * the word-count precompute is the stage every tokenizer trainer
    * materializes once before its merge loop. */
  private[graft] def bpeVocab(s: SparkSession, dir: String): DataFrame =
    StageMemo.materialize(s,
      s"${VectorOps.stampedKey(dir, "documents")}#bpevocab", "bpevocab") {
      Tables(s, dir, "documents")
        .select(explode(expr(toksExpr)).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .select(col("freq"), expr(
          "transform(sequence(1, length(w)), i -> substr(w, i, 1))").as("syms"))
    }

  /** Freq-weighted adjacent-symbol pair counts over a symbolized
    * vocabulary (one BPE round's statistics). */
  private[graft] def bpePairCounts(s0: DataFrame): DataFrame = s0
    .filter(expr("size(syms) >= 2"))
    .select(col("freq"), explode(expr(
      "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS l, syms[i] AS r))")).as("p"))
    .groupBy(col("p.l").as("l"), col("p.r").as("r"))
    .agg(sum(col("freq")).as("cnt"))

  /** Deterministic best-pair pick: max count, ties lexicographic. */
  private[graft] def bpeArgmax(p: DataFrame): DataFrame =
    p.orderBy(col("cnt").desc, col("l").asc, col("r").asc).limit(1)

  /** Greedy left-to-right merge of the (broadcast, 1-row) pair `m`
    * through every word via a string-accumulator `aggregate` HOF —
    * symbols never contain spaces (words are whitespace-split), so
    * ' ' is a safe separator; the walk IS the reference BPE apply. */
  private[graft] def bpeApplyMerge(s0: DataFrame, m: DataFrame): DataFrame = s0
    .crossJoin(broadcast(m.select(col("l").as("ml"), col("r").as("mr"))))
    .select(col("freq"), split(expr(
      """aggregate(syms, '', (acc, x) -> CASE
        |  WHEN acc = '' THEN x
        |  WHEN (acc = ml OR endswith(acc, concat(' ', ml))) AND x = mr
        |    THEN concat(substring(acc, 1, length(acc) - length(ml)), ml, mr)
        |  ELSE concat(acc, ' ', x) END)""".stripMargin), " ").as("syms"))

  /** The q88 per-document sampling keys: (doc_id, n_chars, n_tickets,
    * skey = min ticket hash). Shared with
    * [[graft.streaming.SketchStream]]'s standing weighted sample, whose
    * fold (k smallest of state ∪ batch keys) must hash the batch
    * EXACTLY as the batch query does. */
  private[graft] def weightedKeys(docs: DataFrame): DataFrame =
    docs
      .filter(col("n_chars") > 0)
      .select(col("doc_id"), col("n_chars"),
        expr(s"CAST(least((n_chars + ${TicketChars - 1}) div $TicketChars, " +
          s"$TicketCap) AS INT)").as("t"))
      .select(col("doc_id"), col("n_chars"), col("t"),
        explode(expr("sequence(1, t)")).as("j"))
      .select(col("doc_id"), col("n_chars"), col("t"),
        hash60("concat(CAST(doc_id AS STRING), ':', CAST(j AS STRING))").as("hj"))
      .groupBy(col("doc_id"), col("n_chars"), col("t"))
      .agg(min(col("hj")).as("skey"))
      .select(col("doc_id"), col("n_chars"), col("t").cast("long").as("n_tickets"),
        col("skey"))

  /** The q81 body with the stream-carry as a real parameter: pack
    * `docs` (doc_id-ordered) into back-to-back [[PackWindow]]-token
    * context windows starting `baseOffset` tokens into the corpus
    * stream. q81 fixes baseOffset = 0;
    * [[graft.streaming.PackStream.ingest]] passes the running total of
    * every previously packed batch, so windows continue seamlessly
    * across micro-batches. Returns (doc_id, seq_id, tok_offset,
    * seg_len). */
  private[graft] def sequencePack(docs: DataFrame, baseOffset: Long): DataFrame = {
    val t = docs
      .select(col("doc_id"),
        expr(s"CAST(size($toksExpr) AS BIGINT)").as("n_tokens"),
        (col("doc_id") / ShardBucket).cast("long").as("bucket"))
      .filter(col("n_tokens") > 0)
    val wLocal = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = t.withColumn("local_before",
      coalesce(sum(col("n_tokens")).over(wLocal), lit(0L)))
    val wBucket = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col("bucket")).agg(sum(col("n_tokens")).as("bt"))
      .withColumn("offset", coalesce(sum(col("bt")).over(wBucket), lit(0L)))
      .select(col("bucket"), col("offset"))
    local.join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum", col("offset") + col("local_before") + lit(baseOffset))
      .withColumn("seq_id", explode(expr(
        s"sequence(cum div $PackWindow, (cum + n_tokens - 1) div $PackWindow)")))
      .select(col("doc_id"), col("seq_id"),
        expr(s"CAST(greatest(seq_id * $PackWindow - cum, 0) AS BIGINT)")
          .as("tok_offset"),
        expr(s"CAST(least(cum + n_tokens, (seq_id + 1) * $PackWindow)" +
          s" - greatest(seq_id * $PackWindow, cum) AS BIGINT)").as("seg_len"))
  }

  /** The q78 body with the stride as a real parameter (q78 fixes it at
    * [[SpanStride]]; `scale_artifacts/probe_spanstride_r12.jsonl`
    * charts the recall/cost knob at 4/2/1): per-doc counts of SpanW-token spans starting at
    * every multiple of `stride`, and how many of them occur ≥2× in the
    * corpus by 60-bit span hash. */
  private[graft] def overlapSpanDetect(docs: DataFrame, stride: Int): DataFrame = {
    val base = docs
      .withColumn("toks", expr(toksExpr))
      .withColumn("ntok", expr("size(toks)"))
      .withColumn("nspans", expr(
        s"CASE WHEN ntok >= $SpanW THEN (ntok - $SpanW) div $stride + 1 ELSE 0 END"))
    val spans = base.select(col("doc_id"),
        posexplode(expr(
          s"""CASE WHEN nspans >= 1
             | THEN transform(sequence(0, nspans - 1),
             |   i -> concat_ws(' ', slice(toks, CAST(i * $stride + 1 AS INT), $SpanW)))
             | ELSE array() END""".stripMargin)))
      .select(col("doc_id"), col("pos").as("idx"), hash60("col").as("h"))
    val dup = spans.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("h"))
    val perDoc = spans.join(dup, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dups"))
    base.select(col("doc_id"), col("nspans").cast("long").as("n_spans"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("dups"), lit(0L)).as("n_dup_spans"))
  }

  /** The q74 reference LM: per-(lang, token) min-count-pruned counts +
    * per-lang totals over `refDocs` (needs doc_id/lang/text). Shared
    * with [[graft.streaming.DocumentsStream.perplexityGate]], which
    * builds the LM ONCE from a static reference and reuses it across
    * micro-batches — the stream-static shape. */
  private[graft] def pplLm(refDocs: DataFrame): (DataFrame, DataFrame) = {
    val ref = refDocs.withColumn("toks", expr(toksExpr))
      .select(col("lang"), explode(col("toks")).as("tok"))
    val vocab = ref.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= PplMinCnt)
    val totals = ref.groupBy(col("lang")).agg(count(lit(1)).as("total"))
    (vocab, totals)
  }

  /** Score `docs` against the LM: one row per non-empty document with
    * (doc_id, lang, n_toks, score, ppl_bucket). Both LM sides broadcast;
    * the exploded tokens never shuffle (the only exchange is the per-doc
    * partial-aggregated surprisal sums). */
  private[graft] def pplScore(docs: DataFrame, vocab: DataFrame,
                              totals: DataFrame): DataFrame =
    docs.withColumn("toks", expr(toksExpr))
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("tok"))
      .join(broadcast(totals), Seq("lang"))
      .join(broadcast(vocab), Seq("lang", "tok"), "left")
      .withColumn("q", expr("(1024 * total) div coalesce(cnt, CAST(1 AS BIGINT))"))
      .withColumn("sbits", expr(surpExprSpark))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_toks"), sum(col("sbits")).as("ssum"))
      .withColumn("score", expr("(1000 * ssum) div n_toks"))
      .withColumn("ppl_bucket", expr(cutoffCase("score", "lang")))
      .drop("ssum")

  val oracle: Map[String, String] = Map(
    "q52_decontaminate" -> {
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, ${hash60Sql("g")} AS h
         |  FROM toks, unnest($ngramsSql) AS u(g)),
         |bench AS (SELECT doc_id AS bench_id, h FROM grams WHERE doc_id % 20 = 0),
         |train AS (SELECT doc_id, h FROM grams WHERE doc_id % 20 <> 0)
         |SELECT train.doc_id AS doc_id,
         |  CAST(count(DISTINCT train.h) AS BIGINT) AS n_shared_13grams,
         |  CAST(count(DISTINCT bench.bench_id) AS BIGINT) AS n_bench_docs
         |FROM train JOIN bench USING (h)
         |GROUP BY train.doc_id""".stripMargin
    },

    "q53_stratified_sample" -> {
      val rateSql = SampleRates
        .map { case (l, r) => s"WHEN '$l' THEN $r" }
        .mkString("CASE lang ", " ", s" ELSE $SampleDefaultRate END")
      s"""SELECT doc_id, lang, CAST($rateSql AS BIGINT) AS keep_pct
         |FROM documents
         |WHERE ${hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 < $rateSql""".stripMargin
    },

    "q54_embed_quantize" ->
      """WITH m AS (SELECT vec_id, embedding,
        |  CAST(list_min(embedding) AS DOUBLE) AS mn,
        |  CAST(list_max(embedding) AS DOUBLE) AS mx FROM embeddings)
        |SELECT vec_id, mn AS qmin, mx AS qmax,
        |  array_to_string(CASE WHEN mx = mn THEN list_transform(embedding, x -> 0)
        |  ELSE list_transform(embedding,
        |    x -> CAST(round((CAST(x AS DOUBLE) - mn) / ((mx - mn) / 255.0)) AS INT))
        |  END, ',') AS qvec_csv
        |FROM m""".stripMargin,

    "q56_repetition_filter" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |g AS (SELECT doc_id, tk,
         |  list_transform(generate_series(1, len(tk) - 1), i -> array_to_string(tk[i:i+1], ' ')) AS gr
         |  FROM t),
         |f AS (SELECT doc_id,
         |  CAST(len(tk) AS BIGINT) AS n_words,
         |  CASE WHEN len(tk) = 0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) END AS dup_word_frac,
         |  CASE WHEN len(gr) = 0 THEN CAST(0.0 AS DOUBLE)
         |    ELSE 1.0 - CAST(len(list_distinct(gr)) AS DOUBLE) / CAST(len(gr) AS DOUBLE) END AS dup_2gram_frac
         |  FROM g)
         |SELECT doc_id, n_words, dup_word_frac, dup_2gram_frac,
         |  dup_2gram_frac < 0.2 AS keep
         |FROM f""".stripMargin,

    "q57_pii_scrub" -> {
      val email = EmailRe; val digits = DigitsRe
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$digits')) AS BIGINT) AS n_digit_runs,
         |  sha256(regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
         |    '$digits', '<NUM>', 'g')) AS scrubbed_hash
         |FROM documents""".stripMargin
    },

    "q58_mix_rebalance" ->
      s"""WITH counts AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
         |                FROM documents GROUP BY source),
         |mn AS (SELECT min(n_src) AS min_n FROM counts),
         |rates AS (SELECT source, n_src,
         |  CAST(min_n AS DOUBLE) / CAST(n_src AS DOUBLE) AS rate FROM counts, mn),
         |kept AS (SELECT d.source, r.n_src FROM documents d JOIN rates r USING (source)
         |  WHERE ${hash60Sql("CAST(d.doc_id AS VARCHAR)")} % 1000000 < r.rate * 1000000)
         |SELECT source, n_src, CAST(count(*) AS BIGINT) AS n_kept
         |FROM kept GROUP BY source, n_src""".stripMargin,

    "q66_data_card" ->
      """SELECT lang, source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_unique_texts,
        |  CAST(SUM(n_chars) AS DOUBLE) / count(*) AS mean_chars,
        |  CAST(count(*) - count(DISTINCT sha256(text)) AS BIGINT) AS n_exact_dups
        |FROM documents GROUP BY lang, source""".stripMargin,

    "q63_inverted_index" ->
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS w FROM documents)
         |SELECT w,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS dfreq,
         |  array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings_csv
         |FROM t GROUP BY w
         |HAVING count(DISTINCT doc_id) >= 5""".stripMargin,

    "q64_topk_sample" ->
      s"""SELECT doc_id, source, rk FROM (
         |  SELECT doc_id, source,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY ${hash60Sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS BIGINT) AS rk
         |  FROM documents) t
         |WHERE rk <= 10""".stripMargin,

    "q62_rare_tokens" ->
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS w FROM documents),
         |d AS (SELECT w, CAST(count(*) AS BIGINT) AS dfreq FROM t GROUP BY w)
         |SELECT doc_id,
         |  CAST(count(*) AS BIGINT) AS n_distinct_tokens,
         |  CAST(count(CASE WHEN dfreq = 1 THEN 1 END) AS BIGINT) AS n_unique_tokens,
         |  CAST(count(CASE WHEN dfreq = 1 THEN 1 END) AS DOUBLE) / count(*) AS rare_frac
         |FROM t JOIN d USING (w)
         |GROUP BY doc_id""".stripMargin,

    "q55_token_shards" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM t)
         |SELECT doc_id, n_tokens,
         |  CAST(floor(cum_before / $ShardBudget.0) AS BIGINT) AS shard_id
         |FROM c""".stripMargin,

    "q72_target_affinity_select" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |tb AS (SELECT ${hash60Sql("w")} % $AffinityBuckets AS b, COUNT(*) AS t_b
         |       FROM tok WHERE doc_id % 20 = 0 GROUP BY 1),
         |sb AS (SELECT ${hash60Sql("w")} % $AffinityBuckets AS b, COUNT(*) AS s_b
         |       FROM tok WHERE doc_id % 20 <> 0 GROUP BY 1),
         |tot AS (SELECT (SELECT SUM(t_b) FROM tb) AS t_tot,
         |               (SELECT SUM(s_b) FROM sb) AS s_tot),
         |wts AS (SELECT COALESCE(tb.b, sb.b) AS b,
         |  COALESCE(t_b, 0) * s_tot - COALESCE(s_b, 0) * t_tot AS w_b
         |  FROM tb FULL OUTER JOIN sb ON tb.b = sb.b CROSS JOIN tot),
         |cb AS (SELECT doc_id, ${hash60Sql("w")} % $AffinityBuckets AS b, COUNT(*) AS c_b
         |       FROM tok WHERE doc_id % 20 <> 0 GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(c_b * w_b) AS BIGINT) AS score
         |FROM cb JOIN wts USING (b)
         |GROUP BY doc_id ORDER BY score DESC, doc_id ASC LIMIT $AffinityTopK""".stripMargin,

    // The q73 twin rebuilds the SAME bloom as a position set (bpos —
    // the m-bit array and the distinct-position set have identical
    // membership semantics), derives the same self-sized m from its own
    // COUNT(DISTINCT h) (an integer product — the q68 scalar-subquery
    // idiom), and requires all k probe positions present, then
    // recomputes both funnel stages. Integer-only arithmetic on the
    // shared 60-bit hash keeps every position bit-identical.
    "q73_bloom_decontaminate" -> {
      def posSql(j: String) = s"(h % m + $j * ((h // m) % m)) % m"
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, ${hash60Sql("g")} AS h
         |  FROM toks, unnest($ngramsSql) AS u(g)),
         |bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 20 = 0),
         |mc AS (SELECT $BloomBitsPerElem * COUNT(*) AS m FROM bench),
         |bpos AS (SELECT DISTINCT ${posSql("j.j")} AS p
         |         FROM bench, mc, (SELECT unnest([${(0 until BloomK).mkString(", ")}]) AS j) j),
         |train AS (SELECT DISTINCT doc_id, h FROM grams WHERE doc_id % 20 <> 0),
         |cand AS (SELECT doc_id, h FROM train, mc
         |  WHERE ${(0 until BloomK).map(j => s"${posSql(j.toString)} IN (SELECT p FROM bpos)").mkString("\n    AND ")})
         |SELECT doc_id,
         |  CAST(count(DISTINCT h) AS BIGINT) AS n_candidate_13grams,
         |  CAST(count(DISTINCT CASE WHEN h IN (SELECT h FROM bench) THEN h END) AS BIGINT) AS n_confirmed_13grams
         |FROM cand GROUP BY doc_id""".stripMargin
    },

    // The q70 twin: identical tiling (1-based inclusive slices), the
    // same 60-bit span-hash occurrence counts, NOT-EXISTS as the
    // anti-join, and ordered string_agg reassembly + tail.
    "q70_span_dedup" ->
      s"""WITH base AS (
         |  SELECT doc_id, $toksSql AS tk,
         |    len($toksSql) AS ntok, len($toksSql) // $SpanW AS ntiles
         |  FROM documents),
         |tiles AS (
         |  SELECT doc_id, i AS idx,
         |    array_to_string(tk[(i * $SpanW + 1):(i * $SpanW + $SpanW)], ' ') AS span
         |  FROM base, LATERAL unnest(generate_series(0, ntiles - 1)) AS u(i)),
         |counts AS (
         |  SELECT ${hash60Sql("span")} AS h, COUNT(*) AS cnt FROM tiles GROUP BY 1),
         |kept AS (
         |  SELECT t.doc_id,
         |    string_agg(t.span, ' ' ORDER BY t.idx) AS kept_txt,
         |    CAST(COUNT(*) AS BIGINT) AS kept_n
         |  FROM tiles t
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM counts c
         |    WHERE c.h = ${hash60Sql("t.span")} AND c.cnt >= 2)
         |  GROUP BY t.doc_id),
         |tails AS (
         |  SELECT doc_id, ntiles,
         |    array_to_string(tk[(ntiles * $SpanW + 1):ntok], ' ') AS tail_str
         |  FROM base)
         |SELECT b.doc_id,
         |  COALESCE(array_to_string(list_filter([k.kept_txt, b.tail_str],
         |    x -> x IS NOT NULL AND x <> ''), ' '), '') AS clean_text,
         |  CAST(b.ntiles AS BIGINT) AS n_spans,
         |  CAST(b.ntiles - COALESCE(k.kept_n, 0) AS BIGINT) AS n_dropped
         |FROM tails b LEFT JOIN kept k USING (doc_id)""".stripMargin,

    // The q78 twin: same strided span generation (generate_series is
    // empty when nspans = 0, exactly like the Spark CASE), same 60-bit
    // span hash, same count-≥2 duplicate rule.
    "q78_overlap_span_detect" ->
      s"""WITH base AS (
         |  SELECT doc_id, $toksSql AS tk, len($toksSql) AS ntok,
         |    CASE WHEN len($toksSql) >= $SpanW
         |      THEN (len($toksSql) - $SpanW) // $SpanStride + 1 ELSE 0 END AS nspans
         |  FROM documents),
         |spans AS (
         |  SELECT doc_id, i AS idx,
         |    ${hash60Sql(s"array_to_string(tk[(i * $SpanStride + 1):(i * $SpanStride + $SpanW)], ' ')")} AS h
         |  FROM base, LATERAL unnest(generate_series(0, nspans - 1)) AS u(i)),
         |counts AS (SELECT h, COUNT(*) AS cnt FROM spans GROUP BY 1),
         |dups AS (
         |  SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans
         |  FROM spans s JOIN counts c USING (h)
         |  WHERE c.cnt >= 2 GROUP BY 1)
         |SELECT b.doc_id, CAST(b.nspans AS BIGINT) AS n_spans,
         |  COALESCE(d.n_dup_spans, CAST(0 AS BIGINT)) AS n_dup_spans
         |FROM base b LEFT JOIN dups d USING (doc_id)""".stripMargin,

    // The q74 twin: same min-count vocab, same integer log2 (DuckDB
    // spells the shift `<<`; `//` floors like Spark's `div` — all
    // operands positive), same shipped-cutoff CASE text.
    "q74_perplexity_buckets" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents),
         |ref AS (SELECT lang, tok FROM toks WHERE doc_id % 20 = 0),
         |vocab AS (SELECT lang, tok, count(*) AS cnt FROM ref
         |  GROUP BY 1, 2 HAVING count(*) >= $PplMinCnt),
         |totals AS (SELECT lang, count(*) AS total FROM ref GROUP BY 1),
         |surp AS (
         |  SELECT t.doc_id, t.lang,
         |    (1024 * tt.total) // coalesce(v.cnt, 1) AS q
         |  FROM toks t JOIN totals tt USING (lang)
         |  LEFT JOIN vocab v ON v.lang = t.lang AND v.tok = t.tok
         |  WHERE t.doc_id % 20 <> 0),
         |sc AS (
         |  SELECT doc_id, lang, count(*) AS n_toks, sum($surpExprSql) AS ssum
         |  FROM surp GROUP BY 1, 2),
         |d AS (SELECT lang, n_toks, (1000 * ssum) // n_toks AS score FROM sc)
         |SELECT lang, ${cutoffCase("score", "lang")} AS ppl_bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(score) AS BIGINT) AS sum_score,
         |  CAST(min(score) AS BIGINT) AS min_score,
         |  CAST(max(score) AS BIGINT) AS max_score
         |FROM d GROUP BY 1, 2""".stripMargin,

    "q80_topgram_coverage" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |g AS (SELECT doc_id, ${Idioms.ngramsSql("tk", 2)} AS gr FROM t),
         |e AS (SELECT doc_id, CAST(len(gr) AS BIGINT) AS n_grams,
         |        unnest(gr) AS gram FROM g WHERE len(gr) > 0),
         |c AS (SELECT doc_id, n_grams, gram, CAST(count(*) AS BIGINT) AS cnt
         |      FROM e GROUP BY 1, 2, 3),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY cnt DESC, gram ASC) AS rn FROM c)
         |SELECT doc_id, n_grams, gram AS top_gram, cnt AS top_count,
         |  CAST(cnt AS DOUBLE) / n_grams AS top_frac,
         |  CAST(cnt AS DOUBLE) / n_grams < $TopGramCut AS keep
         |FROM r WHERE rn = 1""".stripMargin,

    "q81_sequence_pack" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
         |      FROM documents),
         |f AS (SELECT doc_id, n_tokens FROM t WHERE n_tokens > 0),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM f),
         |e AS (SELECT doc_id, n_tokens, cum,
         |  CAST(unnest(generate_series(cum // $PackWindow,
         |    (cum + n_tokens - 1) // $PackWindow)) AS BIGINT) AS seq_id FROM c)
         |SELECT doc_id, seq_id,
         |  CAST(greatest(seq_id * $PackWindow - cum, 0) AS BIGINT) AS tok_offset,
         |  CAST(least(cum + n_tokens, (seq_id + 1) * $PackWindow)
         |    - greatest(seq_id * $PackWindow, cum) AS BIGINT) AS seg_len
         |FROM e""".stripMargin,

    // DuckDB rebuilds the sketch definitionally: the k smallest distinct
    // hashes per cell via row_number, HUGEINT for the 63·2⁶⁰ numerator.
    "q84_kmv_distinct" ->
      s"""WITH t AS (
         |  SELECT DISTINCT lang, source, ${hash60Sql("tok")} AS h
         |  FROM (SELECT lang, source, unnest(list_distinct($toksSql)) AS tok
         |        FROM documents)),
         |r AS (SELECT lang, source, h, row_number() OVER (
         |        PARTITION BY lang, source ORDER BY h ASC) AS rn FROM t),
         |e AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_exact
         |      FROM t GROUP BY 1, 2),
         |s AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS sk_size,
         |        CAST(max(h) AS BIGINT) AS kth_min
         |      FROM r WHERE rn <= $KmvK GROUP BY 1, 2),
         |j AS (SELECT lang, source, n_exact, sk_size, kth_min,
         |        CASE WHEN sk_size < $KmvK THEN sk_size
         |          ELSE CAST((${KmvK - 1}::HUGEINT * (1::HUGEINT << 60))
         |                    // kth_min AS BIGINT) END AS n_est
         |      FROM e JOIN s USING (lang, source))
         |SELECT lang, source, n_exact, sk_size, kth_min, n_est,
         |  abs(n_est - n_exact) * 1000000 // n_exact AS err_ppm
         |FROM j""".stripMargin,

    "q85_cms_heavy" ->
      s"""WITH t AS (SELECT $toksSql AS tk FROM documents WHERE len($toksSql) >= 2),
         |g AS (SELECT unnest(${Idioms.ngramsSql("tk", 2)}) AS gram FROM t),
         |wh AS (SELECT gram, ${hash60Sql("gram")} AS h FROM g),
         |js AS (SELECT unnest(generate_series(0, ${CmsD - 1})) AS j),
         |cells AS (
         |  SELECT j, (h % $CmsW + j * ((h // $CmsW) % $CmsW)) % $CmsW AS pos,
         |    CAST(count(*) AS BIGINT) AS cell_cnt
         |  FROM wh CROSS JOIN js GROUP BY 1, 2),
         |exact AS (SELECT gram, h, CAST(count(*) AS BIGINT) AS exact_cnt
         |  FROM wh GROUP BY 1, 2 ORDER BY exact_cnt DESC, gram ASC
         |  LIMIT $CmsTopK),
         |est AS (
         |  SELECT e.gram, e.exact_cnt, CAST(min(c.cell_cnt) AS BIGINT) AS cms_est
         |  FROM exact e CROSS JOIN js JOIN cells c ON c.j = js.j
         |    AND c.pos = (e.h % $CmsW + js.j * ((e.h // $CmsW) % $CmsW)) % $CmsW
         |  GROUP BY 1, 2)
         |SELECT gram, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
         |FROM est""".stripMargin,

    "q86_temperature_mix" ->
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
         |      FROM documents GROUP BY 1),
         |t AS (SELECT lang, n_lang, n_lang * n_min AS x,
         |        CAST(FLOOR(SQRT(CAST(n_lang * n_min AS DOUBLE))) AS BIGINT) AS g
         |      FROM c CROSS JOIN (SELECT min(n_lang) AS n_min FROM c)),
         |tg AS (SELECT lang, n_lang,
         |         CASE WHEN (g + 1) * (g + 1) <= x THEN g + 1
         |           WHEN g * g > x THEN g - 1 ELSE g END AS target
         |       FROM t),
         |r AS (SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang
         |        ORDER BY ${hash60Sql("CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC)
         |        AS BIGINT) AS rk
         |      FROM documents)
         |SELECT r.doc_id, r.lang, tg.n_lang, tg.target
         |FROM r JOIN tg USING (lang) WHERE r.rk <= tg.target""".stripMargin,

    "q87_log_histogram" ->
      s"""WITH b AS (SELECT lang, (${Idioms.pl2Sql("n_chars")}) // 128 AS bin
         |      FROM documents WHERE n_chars > 0),
         |h AS (SELECT lang, bin, CAST(count(*) AS BIGINT) AS cnt
         |      FROM b GROUP BY 1, 2),
         |c AS (SELECT lang, bin, cnt,
         |        CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY bin) AS BIGINT) AS cum,
         |        CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n_docs
         |      FROM h)
         |SELECT lang, n_docs,
         |  CAST(min(CASE WHEN cum * 2 >= n_docs THEN bin END) AS BIGINT) AS p50_bin,
         |  CAST(min(CASE WHEN cum * 10 >= n_docs * 9 THEN bin END) AS BIGINT) AS p90_bin
         |FROM c GROUP BY 1, 2""".stripMargin,

    "q88_weighted_sample" ->
      s"""WITH t AS (SELECT doc_id, n_chars,
         |        CAST(least((n_chars + ${TicketChars - 1}) // $TicketChars,
         |                   $TicketCap) AS INT) AS t
         |      FROM documents WHERE n_chars > 0),
         |k AS (SELECT doc_id, n_chars, t,
         |        min(${hash60Sql("doc_id::VARCHAR || ':' || j::VARCHAR")}) AS skey
         |      FROM t, unnest(generate_series(1, t)) AS u(j)
         |      GROUP BY 1, 2, 3)
         |SELECT doc_id, n_chars, CAST(t AS BIGINT) AS n_tickets,
         |  CAST(skey AS BIGINT) AS skey
         |FROM k ORDER BY skey ASC, doc_id ASC LIMIT $WeightedSampleK""".stripMargin,

    // DuckDB re-derives each source's sketch definitionally (k smallest
    // distinct hashes as a sorted list), then the identical list algebra.
    "q89_sketch_jaccard" ->
      s"""WITH t AS (
         |  SELECT DISTINCT source, ${hash60Sql("tok")} AS h
         |  FROM (SELECT source, unnest(list_distinct($toksSql)) AS tok
         |        FROM documents)),
         |r AS (SELECT source, h, row_number() OVER (
         |        PARTITION BY source ORDER BY h ASC) AS rn FROM t),
         |sk AS (SELECT source, list(h ORDER BY h ASC) AS sketch
         |       FROM r WHERE rn <= $KmvK GROUP BY 1),
         |p AS (SELECT a.source AS source_a, b.source AS source_b,
         |        a.sketch AS sa, b.sketch AS sb,
         |        list_sort(list_distinct(a.sketch || b.sketch))[1:$KmvK] AS m
         |      FROM sk a JOIN sk b ON a.source < b.source),
         |e AS (SELECT source_a, source_b,
         |        CAST(len(m) AS BIGINT) AS ku,
         |        CAST(len(list_filter(m, x -> list_contains(sa, x)
         |          AND list_contains(sb, x))) AS BIGINT) AS k_inter,
         |        m FROM p),
         |f AS (SELECT source_a, source_b, ku, k_inter,
         |        k_inter * 1000000 // ku AS jaccard_ppm,
         |        CASE WHEN ku < $KmvK THEN ku
         |          ELSE CAST((${KmvK - 1}::HUGEINT * (1::HUGEINT << 60))
         |                    // m[$KmvK] AS BIGINT) END AS union_est
         |      FROM e)
         |SELECT source_a, source_b, ku, k_inter, jaccard_ppm, union_est,
         |  k_inter * union_est // ku AS inter_est
         |FROM f""".stripMargin,

    // Unrolled 3-round twin: DuckDB's list_reduce seeds the accumulator
    // with the first element (Spark's aggregate seeds '' and the first
    // step is the acc='' branch) — identical greedy walks.
    "q94_bpe_merges" ->
      s"""$BpeOracleCtes
        |SELECT 1 AS step, l, r, l || r AS merged, cnt FROM m1
        |UNION ALL SELECT 2, l, r, l || r, cnt FROM m2
        |UNION ALL SELECT 3, l, r, l || r, cnt FROM m3""".stripMargin,

    // q94's chain extended one step (apply m3 → s3), then the
    // freq-weighted symbol stats of the final symbolization.
    "q100_bpe_apply" ->
      s"""$BpeOracleCtes,
        |s3 AS (SELECT freq, string_split(list_reduce(syms, (acc, x) -> CASE
        |      WHEN (acc = l OR ends_with(acc, ' ' || l)) AND x = r
        |        THEN substr(acc, 1, length(acc) - length(l)) || l || r
        |      ELSE acc || ' ' || x END), ' ') AS syms
        |    FROM s2 CROSS JOIN m3),
        |tb AS (SELECT CAST(SUM(freq * len(syms)) AS BIGINT) AS syms_before FROM s0),
        |ta AS (SELECT CAST(SUM(freq * len(syms)) AS BIGINT) AS syms_after FROM s3),
        |occ AS (SELECT sym, CAST(SUM(freq) AS BIGINT) AS occurrences
        |        FROM (SELECT freq, unnest(syms) AS sym FROM s3) u
        |        WHERE length(sym) >= 2 GROUP BY 1)
        |SELECT sym, occurrences, syms_before, syms_after FROM occ, tb, ta""".stripMargin,

    "q93_record_linkage" ->
      """WITH names AS (
        |  SELECT p_name, COUNT(*) AS n, string_split(p_name, ' ')[-1] AS blk
        |  FROM part GROUP BY 1)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
        |  a.n AS n_a, b.n AS n_b
        |FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin
  )
}
