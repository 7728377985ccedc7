package graft

import graft.queries.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup-family scale guards: the hot-key caps must keep real headroom
  * in the oracle data (so a data refresh can't silently turn a cap into
  * an oracle mismatch), and the production near-dup routing (q48) must
  * reproduce its exact verifier (q21) — the q25/q40 pattern applied to
  * the Jaccard family. */
class TextOpsSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.01"

  test("codegen gramAtExpr emits exactly ngramsExpr's grams, for every n and every doc") {
    // the round-12 perf path (position explode + element_at/concat) and
    // the interpreted array form must never drift — q52/q73/q80/q42 hash
    // what this generates
    for (n <- Seq(2, 4, 13)) {
      val base = Tables(spark, dir, "documents")
        .withColumn("toks", expr(graft.queries.Idioms.toksExpr))
      val viaArray = base
        .select(col("doc_id"), explode(expr(
          graft.queries.Idioms.ngramsExpr("toks", n))).as("g"))
        .groupBy("doc_id", "g").count()
      val viaCodegen = base
        .filter(expr(s"size(toks) >= $n"))
        .select(col("doc_id"), col("toks"),
          explode(expr(s"sequence(1, size(toks) - ${n - 1})")).as("i"))
        .select(col("doc_id"), expr(
          graft.queries.Idioms.gramAtExpr("toks", "i", n)).as("g"))
        .groupBy("doc_id", "g").count()
      assert(viaArray.exceptAll(viaCodegen).isEmpty &&
        viaCodegen.exceptAll(viaArray).isEmpty,
        s"gram idioms drift at n=$n")
    }
    // edge shapes the corpus can't exercise: empty, single-token,
    // exactly-n, repeated tokens, unicode, multi-space runs
    import spark.implicits._
    val edge = Seq(
      (1L, ""), (2L, "solo"), (3L, "a b"), (4L, "x x x x"),
      (5L, "việt nam 越南 ☃"), (6L, "a  b   c"), (7L, " lead trail "))
      .toDF("doc_id", "text")
      .withColumn("toks", expr(graft.queries.Idioms.toksExpr))
    for (n <- Seq(2, 3)) {
      val a = edge.select(col("doc_id"), explode(expr(
        graft.queries.Idioms.ngramsExpr("toks", n))).as("g"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val b = edge.filter(expr(s"size(toks) >= $n"))
        .select(col("doc_id"), col("toks"),
          explode(expr(s"sequence(1, size(toks) - ${n - 1})")).as("i"))
        .select(col("doc_id"), expr(
          graft.queries.Idioms.gramAtExpr("toks", "i", n)).as("g"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(a == b, s"edge-doc drift at n=$n: $a vs $b")
    }
  }

  test("q83: no near-dup pair ever straddles a split boundary; every doc is assigned once") {
    val split = SparkEntry.queries("q83_leakage_safe_split")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // total assignment: every corpus doc appears exactly once
    val n = Tables(spark, dir, "documents").count()
    assert(split.size == n, s"${split.size} assignments for $n docs")
    assert(split.values.map(_._2).toSet == Set("train", "val", "test"),
      "all three splits must be populated at sf0.01")
    // THE leakage property: both ends of every q48 near-dup pair share a
    // cluster and therefore a split
    val pairs = SparkEntry.queries("q48_neardup_pipeline")(spark, dir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture corpus must contain near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(split(a)._1 == split(b)._1 && split(a)._2 == split(b)._2,
        s"near-dup pair ($a, $b) split across ${split(a)} / ${split(b)} — leakage")
    }
    // determinism: a re-run assigns identically
    val again = SparkEntry.queries("q83_leakage_safe_split")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(again == split)
  }

  test("hot-key caps keep >=10x headroom in the oracle data") {
    val sh = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shinglesUdf(col("text"), lit(3))).as("s"))
    val maxDf = sh.groupBy(col("s")).count().agg(max(col("count"))).head.getLong(0)
    assert(maxDf * 10 <= TextOps.ShingleDfCap,
      s"max shingle DF $maxDf eats the q21 cap ${TextOps.ShingleDfCap}'s headroom")

    val sig = TextOps.minhashSig(sh)
    def maxBucket(bands: Int): Long = {
      val rows = 16 / bands
      val bandStructs = (0 until bands).map(bnd =>
        struct(lit(bnd).as("band"),
          concat_ws(",", (0 until rows).map(j => col(s"mh${bnd * rows + j}")): _*).as("bucket")))
      sig.select(explode(array(bandStructs: _*)).as("bb"))
        .groupBy(col("bb")).count().agg(max(col("count"))).head.getLong(0)
    }
    val m4 = maxBucket(4); val m8 = maxBucket(8)
    assert(m4 * 10 <= TextOps.BucketCap,
      s"max 4x4 bucket $m4 eats the q22 cap ${TextOps.BucketCap}'s headroom")
    assert(m8 * 10 <= TextOps.BucketCap,
      s"max 8x2 bucket $m8 eats the q48 cap ${TextOps.BucketCap}'s headroom")
  }

  test("q50 simhash banding has EXACT recall at Hamming<=3 (pigeonhole vs brute force)") {
    import org.apache.spark.sql.functions.expr
    val sig = SparkEntry.queries("q23_simhash")(spark, dir) // 16-bit twin sanity
    assert(sig.count() == 500)
    val banded = SparkEntry.queries("q50_simhash_neardup")(spark, dir)
      .collect().map(_.toSeq).toSet
    // brute force over the same 32-bit signatures (crossJoin is fine at
    // oracle scale; q50's banding is the production form)
    val s32 = TextOps.simhashSig(Tables(spark, dir, "documents"), 32,
      "CAST(conv(substr(sha2(s, 256), 1, 15), 16, 10) AS BIGINT)")
    val a = s32.select(col("doc_id").as("doc_a"), col("simhash").as("sim_a"))
    val b = s32.select(col("doc_id").as("doc_b"), col("simhash").as("sim_b"))
    val brute = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("CAST(bit_count(sim_a ^ sim_b) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .collect().map(_.toSeq).toSet
    assert(brute.nonEmpty)
    assert(banded == brute,
      s"pigeonhole violated — missing: ${(brute -- banded).take(5)}; spurious: ${(banded -- brute).take(5)}")
  }

  test("MinHashAggregator (typed UDAF) is bit-equal to the 16-column min form") {
    import graft.functions.MinHashAggregator
    val sh = Tables(spark, dir, "documents").limit(100)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shinglesUdf(col("text"), lit(3))).as("s"))
    val colForm = TextOps.minhashSig(sh).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toSeq).toMap
    val hm = sh.select(col("doc_id"), expr(TextOps.hmExpr).as("hm"))
    val udafForm = hm.groupBy(col("doc_id"))
      .agg(MinHashAggregator.udafColumn(col("hm")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(colForm.nonEmpty && colForm.keySet == udafForm.keySet)
    colForm.foreach { case (id, sig) =>
      assert(udafForm(id) == sig, s"doc $id: $sig vs ${udafForm(id)}")
    }
    // the merge path (map-side partial) must agree across partitionings
    val repart = hm.repartition(7).groupBy(col("doc_id"))
      .agg(MinHashAggregator.udafColumn(col("hm")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(repart == udafForm)
  }

  test("q48 production near-dup equals the exact q21 verifier at sf0.01") {
    val exact = SparkEntry.queries("q21_ngram_jaccard")(spark, dir)
      .collect().map(_.toSeq).toSet
    val prod = SparkEntry.queries("q48_neardup_pipeline")(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(exact.nonEmpty)
    assert(prod == exact,
      s"missing: ${exact -- prod}; spurious: ${prod -- exact}")
  }

  test("q96 containment catches quote-inclusion that symmetric Jaccard (q21) structurally misses") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-q96").toString
    // doc 1 = a short passage; doc 0 = a long document QUOTING doc 1
    // wholesale. Containment(1→0) = 1.0; Jaccard = |A|/|B| ≈ 0.17 —
    // far under q21's 0.5 gate.
    val quote = "alpha beta gamma delta epsilon zeta eta"
    val filler = (1 to 30).map(i => s"w$i").mkString(" ")
    Seq((0L, s"$filler $quote", "en", "s1", 200L),
        (1L, quote, "en", "s2", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val cont = SparkEntry.queries("q96_containment_dedup")(spark, tmp).collect()
    assert(cont.length == 1)
    val r = cont.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(r.getDouble(4) == 1.0, s"quote fully contained: $r") // cont_b_in_a
    assert(r.getDouble(3) < 0.5) // the long doc is NOT contained in the quote
    val jac = SparkEntry.queries("q21_ngram_jaccard")(spark, tmp).collect()
    assert(jac.isEmpty, s"q21 must miss the asymmetric pair, got ${jac.toSeq}")
  }

  test("q92 textrank is integer-exact: hand-computed 3-node fixture, bit-for-bit") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-q92").toString
    // "x y x y z" → undirected weighted edges x↔y (w=3), y↔z (w=1);
    // wdeg x=3 y=4 z=1. Three damped integer iterations by hand:
    //   i1: y=150e6+85%·(1e9+1e9)        = 1,850,000,000
    //       x=150e6+85%·(1e9·3 div 4)    =   787,500,000
    //       z=150e6+85%·(1e9·1 div 4)    =   362,500,000
    //   i2: y=1,127,500,000  x=1,329,375,000  z=543,125,000
    //   i3: y=1,741,625,000  x=  868,781,250  z=389,593,750
    // A single-token doc contributes nothing; a pure self-loop doc
    // ("w w w") drops out entirely (no crash, no node).
    Seq((0L, "x y x y z", "en", "s1", 9L), (1L, "solo", "en", "s1", 4L),
        (2L, "w w w", "en", "s1", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val got = SparkEntry.queries("q92_textrank")(spark, tmp)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("x" -> 868781250L, "y" -> 1741625000L, "z" -> 389593750L),
      s"got $got")
  }

  test("q92 scores are independent of partitioning (associative integer sums)") {
    // the cross-engine hash-match depends on order-independence: any
    // float formulation would drift here
    val a = SparkEntry.queries("q92_textrank")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = Tables(spark, dir, "documents").repartition(13)
    val tmp = java.nio.file.Files.createTempDirectory("graft-q92b").toString
    docs.write.parquet(s"$tmp/documents.parquet")
    val b = SparkEntry.queries("q92_textrank")(spark, tmp)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a.nonEmpty && a == b)
  }

  test("q99: PMI collocations match a full Scala recount of the ratio + pl2 arithmetic") {
    val docs = Tables(spark, dir, "documents").select(col("text")).collect()
      .map(_.getString(0).split(' ').filter(_.nonEmpty)).filter(_.length >= 2)
    val nt = docs.map(t => (t.length - 1).toLong).sum
    val pairCnt = docs.flatMap(t => t.zip(t.tail))
      .groupBy(identity).map { case (p, v) => p -> v.length.toLong }
    val uni = docs.flatten.groupBy(identity).map { case (w, v) => w -> v.length.toLong }
    def pl2(x: Long): Long = {
      val b = 63 - java.lang.Long.numberOfLeadingZeros(x)
      b * 1024L + x * 1024L / (1L << b) - 1024L
    }
    val want = pairCnt.toSeq.filter(_._2 >= 5).flatMap { case ((a, b), cab) =>
      val x = (BigInt(cab) * nt * 1024 / (BigInt(uni(a)) * uni(b))).toLong
      if (x > 1024) Some((a, b, cab, uni(a), uni(b), pl2(x) - 10240)) else None
    }.sortBy { case (a, b, _, _, _, p) => (-p, a, b) }.take(100)
    val got = SparkEntry.queries("q99_pmi_collocations")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got.nonEmpty && got == want,
      s"first drift: ${got.zip(want).find(p => p._1 != p._2)}")
    // PMI genuinely reorders vs raw frequency (the statistic adds
    // information over q85's frequency ranking): some pair outranks
    // another on PMI while being strictly rarer
    assert(got.exists(h => got.exists(l =>
      h._6 > l._6 && h._3 < l._3)))
  }
}
