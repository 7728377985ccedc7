package graft

import graft.functions.VectorFunctions
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The 100 TB top-k path (per-partition heaps) must return exactly the
  * declarative window result; hashEmbed invariants. */
class SimilaritySpec extends AnyFunSuite with LocalSpark {

  test("topKPartitioned equals topKWindow exactly") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .repartition(7) // force multiple partitions so partial top-k matters
    val a = RelationalTwins.topKWindow(q, c, 5).collect().map(_.toSeq).toSet
    val b = Similarity.topKPartitioned(spark, q, c, 5).collect().map(_.toSeq).toSet
    assert(a.nonEmpty)
    assert(a == b)
  }

  test("ivfTopK probes only the query's centroid partition") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    val ivf = Similarity.ivfTopK(q, c, cents, 5).collect()
    assert(ivf.nonEmpty)
    // every query got at most k ranked hits, ranks contiguous from 1
    ivf.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.length <= 5)
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // IVF hits are a subset of the full corpus ordering semantics:
    // each hit's cosine must be <= the exact top-1 cosine for that query
    val exact = RelationalTwins.topKWindow(q, c, 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    ivf.foreach(r => assert(r.getDouble(2) <= exact(r.getLong(0)) + 1e-12))
  }

  test("hashEmbed is deterministic, fixed-dim, L2-normalized") {
    val v1 = VectorFunctions.hashEmbed("the quick brown fox", 64)
    val v2 = VectorFunctions.hashEmbed("the quick brown fox", 64)
    assert(v1.toSeq == v2.toSeq)
    assert(v1.length == 64)
    val norm = math.sqrt(v1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    // different text -> different vector (overwhelmingly)
    val v3 = VectorFunctions.hashEmbed("a completely different sentence", 64)
    assert(v1.toSeq != v3.toSeq)
    // empty/null-safe
    assert(VectorFunctions.hashEmbed("", 16).toSeq == Seq.fill(16)(0f))
    assert(VectorFunctions.hashEmbed(null, 16).toSeq == Seq.fill(16)(0f))
  }

  test("q40 multiprobe-LSH near-dup recalls every exact q25 pair at sf0.01") {
    val dir = "/root/testdata/sf0.01"
    val exact = SparkEntry.queries("q25_embedding_neardup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("q40_lsh_neardup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(exact.subsetOf(lsh), s"LSH missed exact pairs: ${exact -- lsh}")
  }

  test("sq8 pre-filtered q40 is result-identical to the direct confirm (lossless by construction)") {
    import graft.queries.VectorOps
    val e = Tables(spark, "/root/testdata/sf0.01", "embeddings")
    def pairs(prefilter: Boolean): Set[(Long, Long, Double)] =
      VectorOps.lshNearDupPairs(e, VectorOps.LshTables, VectorOps.LshBits, 0.45,
        prefilter = prefilter)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = pairs(prefilter = false)
    val filtered = pairs(prefilter = true)
    assert(direct.nonEmpty)
    // identical down to the cosine DOUBLE: the pre-filter may only cut
    // candidates the exact confirm would reject, and survivors recompute
    // the same exact cosine — so the size-based engagement switch in q40
    // is a pure plan choice, never a semantic one
    assert(filtered == direct,
      s"pre-filter changed the result: missing ${direct -- filtered}, extra ${filtered -- direct}")
  }

  test("two-sided probing: identical at gate widths, a superset past the cap") {
    import graft.queries.VectorOps
    val e = Tables(spark, "/root/testdata/sf0.01", "embeddings")
    def pairSet(bits: Int, twoSided: Boolean): Set[(Long, Long)] =
      VectorOps.lshNearDupPairs(e, VectorOps.LshTables, bits, 0.45, twoSided)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // at bits <= MaxProbes probe sets are symmetric Hamming-1, so the
    // directions see the same pairs — the refactor must not move the gate
    val g1 = pairSet(VectorOps.LshBits, twoSided = false)
    val g2 = pairSet(VectorOps.LshBits, twoSided = true)
    assert(g1.nonEmpty && g1 == g2)
    // past the cap the per-vector flip sets differ, so one-sided can only
    // lose pairs relative to two-sided
    val w1 = pairSet(12, twoSided = false)
    val w2 = pairSet(12, twoSided = true)
    assert(w1.subsetOf(w2), s"one-sided found pairs two-sided missed: ${w1 -- w2}")
  }

  test("autoK matches the oracle's GREATEST(8, n // 250) at the gates and beyond") {
    import graft.queries.VectorOps
    // the dynamic-LIMIT DuckDB twin derives k from COUNT(*) with integer
    // division; the Scala rule must agree everywhere, and must equal the
    // floor (8) at both oracle gates so gate results never depend on n
    assert(VectorOps.autoK(500) == 8)    // sf0.01 gate
    assert(VectorOps.autoK(2000) == 8)   // sf0.1 gate
    assert(VectorOps.autoK(2249) == 8)   // still under the next step
    assert(VectorOps.autoK(20000) == 80) // 10x replica
    assert(VectorOps.autoK(200000) == 800)
    assert(VectorOps.autoK(3) == 8)      // tiny corpus keeps the floor
  }

  test("semDedup: keeper rule invariants + marked pairs are real near-dups") {
    val e = Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val cents = Similarity.kmeansCentroids(spark, e, k = 8, iters = 3)
    val out = Similarity.semDedup(e, cents, 0.45).cache()
    try {
      val n = e.count()
      assert(out.count() == n, "one row per input vector")
      val dups = out.filter(col("dup_of").isNotNull).cache()
      assert(dups.count() > 0, "sf0.01 has planted near-dups; some must be marked")
      assert(dups.filter(col("dup_of") >= col("vec_id")).count() == 0,
        "keeper must be a strictly lower id")
      // the lowest id of every cluster has no lower-id member, so it can
      // never be marked — SemDeDup always keeps a representative
      val clusterMin = out.groupBy("centroid_id").agg(min("vec_id").as("vec_id"))
      assert(out.join(clusterMin, Seq("centroid_id", "vec_id"))
        .filter(col("dup_of").isNotNull).count() == 0)
      // every (dup_of, vec_id) pair really is above the cosine threshold
      val bad = dups
        .join(e.select(col("vec_id"), col("embedding").as("va")), "vec_id")
        .join(e.select(col("vec_id").as("dup_of"), col("embedding").as("vb")), "dup_of")
        .filter(VectorFunctions.cosine("va", "vb") <= 0.45)
      assert(bad.count() == 0, "marked pair below threshold")
    } finally { out.unpersist(); }
  }

  test("quantizedTopK: exact recall@5 == 1.0 at the sf0.01 gate") {
    import graft.queries.VectorOps
    // The two-phase SQ8 pipeline is deterministic, so its recall against
    // the exact brute top-5 is a CONSTANT of the dataset — at sf0.01 the
    // 20x oversample absorbs the full int8 ranking error and recall is
    // exactly 1.0. A refactor that degrades the grid or shrinks the
    // shortlist shows up here before it shows up at scale.
    val exact = VectorOps.queries("q24_knn_brute")(spark, "/root/testdata/sf0.01")
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = VectorOps.queries("q69_quantized_ann")(spark, "/root/testdata/sf0.01")
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && sq.size == exact.size)
    assert(sq == exact, s"SQ8 missed exact top-5 pairs: ${exact -- sq}")
  }

  test("q71: flags exactly the vectors whose true max benchmark cosine exceeds tau") {
    import graft.queries.VectorOps
    val all = Tables(spark, "/root/testdata/sf0.01", "embeddings")
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val bench = all.filter(_._1 % 20 == 0)
    // ground truth: per train vector, (max cosine, argmax bench id asc)
    val truth = all.filter(_._1 % 20 != 0).map { case (id, v) =>
      val (bid, c) = bench.toSeq.map { case (b, bv) => (b, cos(v, bv)) }
        .minBy { case (b, c) => (-c, b) }
      id -> ((bid, c))
    }
    val got = VectorOps.queries("q71_semantic_decontaminate")(spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.nonEmpty, "planted near-dups must straddle the benchmark split")
    got.keys.foreach(id => assert(id % 20 != 0, s"benchmark vector $id flagged as train"))
    val expected = truth.filter { case (_, (_, c)) => c > 0.4 }
    assert(got.keySet == expected.keySet,
      s"flag set mismatch: extra=${got.keySet -- expected.keySet} missing=${expected.keySet -- got.keySet}")
    expected.foreach { case (id, (bid, c)) =>
      val (gb, gc) = got(id)
      assert(gb == bid && math.abs(gc - c) < 1e-12, s"vec $id match attribution")
    }
  }

  test("hot-bucket cap does not bind at the oracle gates (sf0.01/sf0.1)") {
    // The LshBucketCap blacklist must be a no-op at the scales the
    // DuckDB gate checks, so the checked pair sets are exactly the
    // uncapped semantics; if data or sizing parameters ever drift
    // enough that a gate bucket crosses the cap, this catches it
    // before the gate turns into a cap-semantics test.
    import graft.queries.VectorOps
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val e = Tables(spark, dir, "embeddings")
      val bits = VectorOps.autoBits(e.count())
      val maxOcc = e.select(org.apache.spark.sql.functions.posexplode(
          graft.plans.GraftExpressions.lshKeys(
            org.apache.spark.sql.functions.col("embedding"),
            VectorOps.LshTables, bits, VectorOps.LshMult)))
        .groupBy("pos", "col").count()
        .agg(org.apache.spark.sql.functions.max("count")).head.getLong(0)
      assert(maxOcc <= VectorOps.LshBucketCap,
        s"max bucket $maxOcc exceeds cap ${VectorOps.LshBucketCap} at $dir")
    }
  }

  test("autoBits: integer sizing rule — floor 6, occupancy <= 8, monotone") {
    // TargetOccupancy = 8 since round 17 (the measured ×100 frontier:
    // occ 8 halves candidate volume AND raises recall vs occ 16 —
    // narrower buckets also shrink the hot-bucket blacklist's losses)
    import graft.queries.VectorOps.autoBits
    assert(autoBits(1) == 6)                 // floor: never below the spec-pinned width
    assert(autoBits(8L << 6) == 6)           // exact boundary stays at the floor
    assert(autoBits((8L << 6) + 1) == 7)     // one past the boundary steps up
    assert(autoBits(500) == 6)               // sf0.01 gate (oracle width unchanged)
    assert(autoBits(2000) == 8)              // sf0.1 gate (still full Hamming-1: = MaxProbes)
    assert(autoBits(20000) == 12)            // ScaleGen x10 replica
    assert(autoBits(200000) == 15)           // x100 replica — the measured frontier point
    // occupancy bound + monotonicity over a wide range
    var prev = 0
    for (exp <- 0 to 30; n <- Seq((1L << exp), (1L << exp) + 1)) {
      val b = autoBits(n)
      assert(n <= (8L << b), s"occupancy broken at n=$n bits=$b")
      assert(b >= prev, s"non-monotone at n=$n")
      prev = b
    }
  }

  test("kmeansCentroids: k rows, right dim, Lloyd improves the objective") {
    val e = Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val init = Similarity.kmeansCentroids(spark, e, k = 8, iters = 0).collect()
    val trained = Similarity.kmeansCentroids(spark, e, k = 8, iters = 3).collect()
    assert(init.length == 8 && trained.length == 8)
    assert(trained.forall(_.getAs[Seq[Float]]("cvec").length == 64))
    assert(trained.map(_.getLong(0)).sorted.toSeq == (0L to 7L))
    // objective: mean best-centroid cosine over all vectors must improve
    def objective(cents: org.apache.spark.sql.DataFrame): Double = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
        .orderBy(col("casim").desc, col("centroid_id").asc)
      e.crossJoin(broadcast(cents))
        .withColumn("casim", graft.plans.GraftExpressions.cosineSimNative(col("embedding"), col("cvec")))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .agg(avg(col("casim"))).head.getDouble(0)
    }
    val o0 = objective(Similarity.kmeansCentroids(spark, e, k = 8, iters = 0))
    val o3 = objective(Similarity.kmeansCentroids(spark, e, k = 8, iters = 3))
    assert(o3 > o0, s"Lloyd did not improve objective: $o0 -> $o3")
  }

  test("IVF with k-means centroids: recall vs exact top-k, monotone in nprobe") {
    val e = Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val cents = Similarity.kmeansCentroids(spark, e, k = 8, iters = 3)
    val exact = RelationalTwins.topKWindow(q, c, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nprobe: Int): Double = {
      val got = Similarity.ivfTopK(q, c, cents, 5, nprobe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & got).size.toDouble / exact.size
    }
    val r1 = recall(1)
    val r2 = recall(2)
    val r4 = recall(4)
    val r8 = recall(8)
    info(s"IVF recall@5: nprobe 1/2/4/8 -> $r1 / $r2 / $r4 / $r8")
    assert(r1 <= r2 && r2 <= r4 && r4 <= r8, s"nprobe knob not monotone: $r1 $r2 $r4 $r8")
    // nprobe = |centroids| degenerates to exact brute force — recall 1.0
    assert(r8 == 1.0, s"nprobe=all recall $r8 != 1.0")
    // measured targets on this synthetic corpus (64-dim near-uniform
    // embeddings cluster weakly; planted near-dup structure is sparse):
    // nprobe=2 scans 1/4 of the corpus per query and must beat 0.35
    assert(r2 >= 0.35, s"nprobe=2 recall $r2 below target")
  }

  test("NULL vectors are never candidates, identically in both top-k forms") {
    import spark.implicits._
    val dim = 4
    def unit(i: Int): Array[Float] = Array.tabulate(dim)(d => if (d == i % dim) 1f else 0f)
    // null corpus vector and a null query vector: the window form used
    // to rank the null row last (null cosine), the partitioned kernel
    // would NPE on it — both now exclude null vectors up front
    val corpus = ((0L to 4L).map(i => (i, unit(i.toInt))) :+ ((99L, null.asInstanceOf[Array[Float]])))
      .toDF("neighbor_id", "cv")
    val queries = Seq((1000L, unit(0)), (1001L, null.asInstanceOf[Array[Float]]))
      .toDF("query_id", "qv")
    val win = RelationalTwins.topKWindow(queries, corpus, 10).collect()
    val part = Similarity.topKPartitioned(spark, queries, corpus.repartition(2), 10).collect()
    assert(win.nonEmpty)
    assert(win.map(_.toSeq).toSet == part.map(_.toSeq).toSet)
    assert(!win.exists(r => r.getLong(1) == 99L || r.getLong(0) == 1001L),
      s"null vector surfaced: ${win.mkString(",")}")
  }

  test("zero-norm vectors never win: top-k, IVF scoring, centroid assignment") {
    import spark.implicits._
    // hashEmbed of empty text is all-zeros -> cosine against it is NaN;
    // unguarded, NaN sorts LARGEST under desc (window forms) so the
    // degenerate vector would rank top-1. The guard maps NaN -> -Inf.
    val dim = 8
    def unit(i: Int): Array[Float] = Array.tabulate(dim)(d => if (d == i % dim) 1f else 0f)
    val corpus = ((0L to 5L).map(i => (i, unit(i.toInt))) :+ (99L, Array.fill(dim)(0f)))
      .toDF("neighbor_id", "cv")
    val queries = Seq((1000L, unit(0))).toDF("query_id", "qv")

    val win = RelationalTwins.topKWindow(queries, corpus, 3).collect()
    assert(win.nonEmpty && !win.exists(_.getLong(1) == 99L),
      s"zero vector ranked in topKWindow: ${win.mkString(",")}")
    val part = Similarity.topKPartitioned(spark, queries, corpus.repartition(3), 3)
      .collect()
    assert(part.map(_.toSeq).toSet == win.map(_.toSeq).toSet,
      "guarded topKPartitioned diverged from topKWindow")

    // centroid table containing an all-zeros centroid: no vector may
    // prefer it (agg-min form) and ivfTopK must not surface id 99
    val cents = ((0L to 2L).map(i => (i, unit(i.toInt))) :+ (3L, Array.fill(dim)(0f)))
      .toDF("centroid_id", "cvec")
    for (assignment <- Seq(RelationalTwins.nearestCentroid _, Similarity.assign _)) {
      val assigned = assignment(
        corpus.filter(col("neighbor_id") =!= 99L), cents, "cv", "neighbor_id", Nil).collect()
      assert(assigned.nonEmpty && assigned.forall(_.getLong(1) != 3L),
        s"zero centroid won assignment: ${assigned.mkString(",")}")
    }
    val ivf = Similarity.ivfTopK(queries, corpus, cents, 3).collect()
    assert(ivf.nonEmpty && !ivf.exists(_.getLong(1) == 99L),
      s"zero vector ranked in ivfTopK: ${ivf.mkString(",")}")
  }

  test("q75: integer BM25 matches a Scala recount; ranking agrees with float BM25") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
      .filter(_._2.nonEmpty)
    val bigN = docs.length.toLong
    val bigT = docs.map(_._2.length.toLong).sum
    val dfm = docs.flatMap { case (_, tk) => tk.distinct }
      .groupBy(identity).map { case (t, v) => t -> v.length.toLong }
    def pl2(x: Long): Long = {
      val b = 63 - java.lang.Long.numberOfLeadingZeros(x)
      b * 1024L + x * 1024L / (1L << b) - 1024L
    }
    val queries = docs.filter(_._1 % VectorOps.BmQueryMod == 0)
      .map { case (id, tk) => id -> tk.take(VectorOps.BmQueryTerms).distinct }
    val expected = queries.flatMap { case (qid, terms) =>
      val scored = docs.filter(_._1 != qid).flatMap { case (did, tk) =>
        val dl = tk.length.toLong
        val s = terms.map { t =>
          val f = tk.count(_ == t).toLong
          if (f == 0) 0L else {
            val xq = 1024L * (2 * bigN + 2) / (2 * dfm(t) + 1)
            pl2(xq) * (22000000L * f * bigT / (10 * f * bigT + 3 * bigT + 9 * dl * bigN))
          }
        }.sum
        if (s > 0 || terms.exists(t => tk.contains(t))) Some((did, s)) else None
      }
      scored.sortBy { case (did, s) => (-s, did) }.take(VectorOps.BmTopK)
        .zipWithIndex.map { case ((did, s), i) => (qid, did, s, i + 1L) }
    }.toSet
    val got = SparkEntry.queries("q75_bm25_topk")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected, s"BM25 recount mismatch:\n got=$got\n exp=$expected")
    // the integer quantization must not reorder docs that true float
    // BM25 separates by more than the combined quantization error
    def fbm25(qid: Long, terms: Array[String], tk: Array[String]): Double = {
      val dl = tk.length.toDouble; val avgdl = bigT.toDouble / bigN
      terms.map { t =>
        val f = tk.count(_ == t).toDouble
        if (f == 0) 0.0 else {
          val idf = math.log((bigN - dfm(t) + 0.5) / (dfm(t) + 0.5) + 1) / math.log(2)
          idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * dl / avgdl))
        }
      }.sum
    }
    val tkm = docs.toMap
    for ((qid, terms) <- queries; g = got.filter(_._1 == qid).toSeq.sortBy(_._4)) {
      for (Seq(a, b) <- g.sliding(2) if g.size >= 2) {
        val (fa, fb) = (fbm25(qid, terms, tkm(a._2)), fbm25(qid, terms, tkm(b._2)))
        // integer scoring is ~1024·1e6 × the float score; tolerate the
        // documented pl2 (0.0871 bit) + tf_micro (1e-6) quantization
        assert(fa >= fb - 0.0871 * 2.2 * terms.length - 1e-3,
          s"q$qid: integer rank order contradicts float BM25 ($fa < $fb)")
      }
    }
  }

  test("q75/q76 survive an adversarial corpus: empty docs, short queries, ties, zero-norm vectors") {
    import spark.implicits._
    import graft.queries.VectorOps
    val tmp = java.nio.file.Files.createTempDirectory("graft-adv75").toString
    Seq(
      (0L, "alpha beta gamma", "en", "s", 16L),      // query doc, only 3 terms
      (1L, "", "en", "s", 0L),                       // empty — must vanish
      (2L, "   ", "en", "s", 3L),                    // whitespace-only — must vanish
      (3L, "alpha alpha alpha alpha", "en", "s", 23L),
      (4L, "beta gamma delta", "en", "s", 16L),
      (5L, "gamma delta epsilon", "en", "s", 19L),
      (6L, "zz yy ww", "en", "s", 8L),               // shares nothing — absent
      (7L, "alpha beta", "en", "s", 10L),            // identical twins: tie on
      (8L, "alpha beta", "en", "s", 10L))            //   score → doc_id order
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def v(xs: Float*): Array[Float] = xs.toArray
    Seq(
      (0L, v(1f, 0f, 0f, 0f), 0), (1L, v(0.9f, 0.1f, 0f, 0f), 0),
      (2L, v(0f, 0f, 0f, 0f), 0),                    // zero-norm — never wins
      (3L, v(0.8f, 0.2f, 0f, 0f), 0), (4L, v(0f, 1f, 0f, 0f), 0),
      (5L, v(0f, 0f, 1f, 0f), 0), (6L, v(-1f, 0f, 0f, 0f), 0),
      (7L, v(0.5f, 0.5f, 0f, 0f), 0), (8L, v(0.5f, 0.5f, 0.1f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")

    val lex = SparkEntry.queries("q75_bm25_topk")(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(lex.nonEmpty && lex.forall(_._1 == 0L))
    val ids = lex.sortBy(_._4).map(_._2)
    assert(!ids.exists(Set(1L, 2L, 6L).contains),
      s"empty/whitespace/no-overlap docs retrieved: ${ids.mkString(",")}")
    assert(!ids.contains(0L), "self-retrieval")
    assert(lex.map(_._4).sorted.toSeq == (1L to lex.length).toSeq, "ranks not contiguous")
    // identical twins tie exactly and order by doc_id
    val s7 = lex.find(_._2 == 7L).map(_._3); val s8 = lex.find(_._2 == 8L).map(_._3)
    assert(s7 == s8 && s7.isDefined, s"twin scores differ: $s7 vs $s8")
    assert(ids.indexOf(7L) < ids.indexOf(8L), "tie not broken by doc_id")
    assert(lex.forall(_._3 >= 0L), "negative BM25 score")

    val fused = SparkEntry.queries("q76_hybrid_rrf")(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(fused.nonEmpty && fused.forall(_._1 == 0L))
    assert(fused.map(_._4).sorted.toSeq == (1L to fused.length).toSeq)
    // recount the fusion from the two arms on this corpus
    val lexArm = VectorOps.bm25Ranked(spark, tmp, VectorOps.RrfArmK).collect()
      .map(r => r.getLong(1) -> r.getLong(3)).toMap
    val e = Tables(spark, tmp, "embeddings")
    val denseArm = RelationalTwins.topKWindow(
        e.filter(col("vec_id") % VectorOps.BmQueryMod === 0)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
        e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
        VectorOps.RrfArmK).collect()
      .map(r => r.getLong(1) -> r.getLong(3)).toMap
    val expect = (lexArm.keySet ++ denseArm.keySet).map { did =>
      (did,
        lexArm.get(did).map(r => 1000000000L / (VectorOps.RrfK + r)).getOrElse(0L) +
          denseArm.get(did).map(r => 1000000000L / (VectorOps.RrfK + r)).getOrElse(0L))
    }.toSeq.sortBy { case (did, s) => (-s, did) }.take(VectorOps.BmTopK)
      .zipWithIndex.map { case ((did, s), i) => (0L, did, s, i + 1L) }.toSet
    assert(fused.toSet == expect, s"fusion mismatch:\n got=${fused.toSet}\n exp=$expect")
    // the zero-norm vector may appear via the lexical arm but must not
    // outrank genuinely similar docs in the dense arm
    assert(!denseArm.get(2L).exists(_ == 1L), "zero-norm vector won the dense arm")
  }

  test("q77: overlap-graded nDCG recounts exactly by hand on a crafted corpus") {
    import spark.implicits._
    import graft.queries.VectorOps
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndcg").toString
    // query doc 0's terms {alpha, beta, gamma}; doc 3 floods alpha so
    // tf-saturated BM25 ranks a rel=1 doc above rel=2 docs — the
    // system/ideal disagreement that makes nDCG strictly partial
    val texts = Seq(
      0L -> "alpha beta gamma",
      1L -> "",
      3L -> "alpha alpha alpha alpha alpha alpha",
      4L -> "beta gamma delta",
      5L -> "gamma delta epsilon",
      6L -> "zz yy ww",
      7L -> "alpha beta zz yy ww vv uu tt ss rr",
      8L -> "alpha beta qq pp oo nn mm ll kk jj")
    texts.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def v(xs: Float*): Array[Float] = xs.toArray
    texts.map { case (id, _) => (id, v(1f, 0f, 0f, 0f), 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    // hand recount with the shared tokenizer (space split, empties out)
    def toks(t: String) = t.split(" ").filter(_.nonEmpty).toSeq
    val qts = toks(texts.head._2).distinct.take(VectorOps.BmQueryTerms)
    val rel = texts.collect { case (id, t) if id != 0L && toks(t).nonEmpty =>
      id -> toks(t).distinct.count(qts.contains).toLong
    }.filter(_._2 > 0).toMap
    val lex = VectorOps.bm25Ranked(spark, tmp, VectorOps.BmTopK).collect()
      .map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(lex.keySet.subsetOf(rel.keySet), "every BM25 candidate shares a term")
    def pl2(x: Long): Long = {
      val b = 63 - java.lang.Long.numberOfLeadingZeros(x)
      b * 1024L + x * 1024L / (1L << b) - 1024L
    }
    def disc(rank: Long): Long = pl2(1024L * (rank + 1))
    val dcg = lex.map { case (did, rk) => rel(did) * 1073741824L / disc(rk) }.sum
    val idcg = rel.toSeq.sortBy { case (did, r) => (-r, did) }
      .take(VectorOps.BmTopK).zipWithIndex
      .map { case ((_, r), i) => r * 1073741824L / disc(i + 1L) }.sum
    val got = SparkEntry.queries("q77_retrieval_eval")(spark, tmp).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (dcg, idcg, 1000000L * dcg / idcg),
      s"nDCG recount mismatch: got=(${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}) " +
        s"exp=($dcg,$idcg,${1000000L * dcg / idcg})")
    assert(r.getLong(3) > 0L && r.getLong(3) < 1000000L,
      s"crafted corpus should yield a strictly partial nDCG, got ${r.getLong(3)}")
    graft.TempCaches.releaseAll()
  }

  test("q77 at the sf0.01 gate: every reported query has strictly positive nDCG") {
    // the round-13 stretch criterion: with lexical-overlap graded
    // relevance, every BM25 candidate shares >= 1 query term, so gains
    // are nonzero end-to-end at the real gate corpus (the prior
    // dense-label formulation honestly reported all-zero here)
    val got = SparkEntry.queries("q77_retrieval_eval")(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(got.nonEmpty)
    assert(got.forall(_._2 > 0L),
      s"zero-gain queries at the gate: ${got.filter(_._2 == 0L).take(5).mkString(",")}")
    graft.TempCaches.releaseAll()
  }

  test("q76: RRF fusion recounts exactly from the two arm rankings") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val lex = VectorOps.bm25Ranked(spark, dir, VectorOps.RrfArmK).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val e = Tables(spark, dir, "embeddings")
    val q = e.filter(col("vec_id") % VectorOps.BmQueryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val dense = RelationalTwins.topKWindow(q, c, VectorOps.RrfArmK).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val fused = (lex.keySet ++ dense.keySet).groupBy(_._1).flatMap { case (qid, keys) =>
      keys.map { k =>
        val s = lex.get(k).map(r => 1000000000L / (VectorOps.RrfK + r)).getOrElse(0L) +
          dense.get(k).map(r => 1000000000L / (VectorOps.RrfK + r)).getOrElse(0L)
        (k._2, s)
      }.toSeq.sortBy { case (did, s) => (-s, did) }.take(VectorOps.BmTopK)
        .zipWithIndex.map { case ((did, s), i) => (qid, did, s, i + 1L) }
    }.toSet
    val got = SparkEntry.queries("q76_hybrid_rrf")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == fused, s"RRF recount mismatch:\n got=$got\n exp=$fused")
    // hybrid property: both arms contribute docs the other missed
    val lexOnly = got.exists { case (qid, did, _, _) =>
      lex.contains((qid, did)) && !dense.contains((qid, did)) }
    val denseOnly = got.exists { case (qid, did, _, _) =>
      !lex.contains((qid, did)) && dense.contains((qid, did)) }
    assert(lexOnly || denseOnly, "fusion degenerated to a single arm at the gate")
  }

  test("approx_count_distinct is the scale form of A5 (sanity, not oracle)") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val exact = docs.select(countDistinct(sha2(col("text"), 256))).head.getLong(0)
    val approx = docs.select(approx_count_distinct(sha2(col("text"), 256), 0.02)).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1)
  }

  test("q90 filtered ANN: pre-filter semantics — exact top-5 among qualifying candidates, never short") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables(spark, dir, "embeddings").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0 || nb == 0) -1.0 else d / math.sqrt(na) / math.sqrt(nb)
    }
    val cents = e.filter(_._1 < 8)
    def nearestCentroid(v: Array[Float]): Long =
      cents.map(c => (-cos(v, c._2), c._1)).min._2
    val assigned = e.map { case (id, v, l) => (id, v, l, nearestCentroid(v)) }
    val got = SparkEntry.queries("q90_filtered_ann")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq }
    assigned.filter(_._1 % 50 == 0).foreach { case (qid, qv, qlabel, qcent) =>
      // the definitional recount: same-centroid, same-label, not self,
      // ranked by (cosine desc, id asc), top 5
      val want = assigned
        .filter(c => c._4 == qcent && c._3 == qlabel && c._1 != qid)
        .map(c => (-cos(qv, c._2), c._1)).sorted.take(5).map(_._2).toSeq
      val have = got.getOrElse(qid, Seq.empty)
      assert(have == want, s"query $qid: $have != $want")
      // the pre-filter contract: as deep as the qualifying pool allows
      assert(have.length == math.min(5, want.length))
    }
    // every returned neighbor matches its query's label
    val labels = e.map(r => r._1 -> r._3).toMap
    SparkEntry.queries("q90_filtered_ann")(spark, dir).collect().foreach { r =>
      assert(labels(r.getLong(2)).toLong == r.getLong(1),
        s"neighbor ${r.getLong(2)} violates the label predicate")
    }
  }

  test("q95 hard negatives: exact recount over the 2-probe pool; every row label-mismatched; margin = pos1 - cosine") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables(spark, dir, "embeddings").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0 || nb == 0) -1.0 else d / math.sqrt(na) / math.sqrt(nb)
    }
    val cents = e.filter(_._1 < 8)
    def nearestCentroid(v: Array[Float]): Long =
      cents.map(c => (-cos(v, c._2), c._1)).min._2
    def probe2(v: Array[Float]): Set[Long] =
      cents.map(c => (-cos(v, c._2), c._1)).sorted.take(2).map(_._2).toSet
    val assigned = e.map { case (id, v, l) => (id, v, l, nearestCentroid(v)) }
    val got = SparkEntry.queries("q95_hard_negatives")(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(5), r.getDouble(4), r.getDouble(6))))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).sortBy(_._2) }
    assigned.filter(_._1 % 50 == 0).foreach { case (qid, qv, qlabel, _) =>
      val pool = assigned.filter(c => probe2(qv).contains(c._4) && c._1 != qid)
      val wantNeg = pool.filter(_._3 != qlabel)
        .map(c => (-cos(qv, c._2), c._1)).sorted.take(5).map(_._2).toSeq
      val pos1 = pool.filter(_._3 == qlabel).map(c => cos(qv, c._2))
        .foldLeft(0.0)(math.max) // coalesce-to-0 when no positive in pool
      val rows = got.getOrElse(qid, Array.empty[(Long, Long, Double, Double)])
      assert(rows.map(_._1).toSeq == wantNeg, s"query $qid negatives drifted")
      rows.foreach { case (_, _, cosine, margin) =>
        assert(math.abs(margin - (pos1 - cosine)) < 1e-12,
          s"query $qid margin $margin != $pos1 - $cosine")
      }
    }
    val labels = e.map(r => r._1 -> r._3.toLong).toMap
    SparkEntry.queries("q95_hard_negatives")(spark, dir).collect().foreach { r =>
      assert(labels(r.getLong(2)) != r.getLong(1),
        s"neighbor ${r.getLong(2)} shares the anchor label — not a negative")
      assert(labels(r.getLong(2)) == r.getLong(3))
    }
  }

  test("q97 embedding report: exact micro-unit centroid recount; nearest/intra contracts hold") {
    val dir = "/root/testdata/sf0.001"
    val e = Tables(spark, dir, "embeddings").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2).toLong))
    val byLabel = e.groupBy(_._3)
    // reference micro-unit centroid: floor(v*1e6) summed, floor-divided
    def centroid(vs: Array[Array[Float]]): Array[Long] = {
      val dim = vs.head.length
      Array.tabulate(dim) { d =>
        val sm = vs.map(v => math.floor(v(d).toDouble * 1e6).toLong).sum
        math.floor(sm.toDouble / vs.length).toLong
      }
    }
    val cents = byLabel.map { case (l, vs) => l -> centroid(vs.map(_._2)) }
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val d = a.indices.map(i => a(i).toDouble * b(i)).sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val rows = SparkEntry.queries("q97_embedding_report")(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSet == byLabel.keySet)
    rows.foreach { r =>
      val (l, n, nl, ic, ippm) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))
      assert(n == byLabel(l).length)
      assert(nl != l)
      // nearest = argmax over the reference centroids
      val want = cents.keys.filter(_ != l)
        .map(o => (-cos(cents(l), cents(o)), o)).min._2
      assert(nl == want, s"label $l nearest $nl != $want")
      assert(math.abs(ic - cos(cents(l), cents(nl))) < 1e-9)
      assert(ippm <= 1000000L && ippm >= -1000000L)
      // dispersion recount: ppm-floored member cosines, floor-averaged
      def cosFL(v: Array[Float], c: Array[Long]): Double = {
        val d = v.indices.map(i => v(i).toDouble * c(i)).sum
        d / (math.sqrt(v.map(x => x.toDouble * x).sum) * math.sqrt(c.map(x => x.toDouble * x).sum))
      }
      val psum = byLabel(l).map(m => math.floor(cosFL(m._2, cents(l)) * 1e6).toLong).sum
      assert(ippm == math.floor(psum.toDouble / n).toLong, s"label $l intra drift")
    }
  }

  test("q98: top principal component matches a full BigInt covariance + power-iteration recount") {
    val dir = "/root/testdata/sf0.01"
    val vecs: Array[Array[Float]] = Tables(spark, dir, "embeddings")
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    val d = vecs.head.length
    val m = vecs.map(v => v.map(x => math.floor(x.toDouble * 1e6).toLong))
    val n = BigInt(m.length)
    def sdiv(a: BigInt, b: BigInt): BigInt = if (a < 0) -((-a) / b) else a / b
    val si = Array.tabulate(d)(i => m.map(r => BigInt(r(i))).sum)
    val cov = Array.tabulate(d, d) { (i, j) =>
      n * m.map(r => BigInt(r(i)) * BigInt(r(j))).sum - si(i) * si(j)
    }
    val mc = cov.flatten.map(_.abs).max
    val cn = cov.map(_.map(c => sdiv(c * 1000000, mc)))
    var v = Array.fill(d)(BigInt(1000000))
    for (_ <- 1 to 3) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => cn(i)(j) * v(j)).sum)
      val mw = w.map(_.abs).max
      v = w.map(x => sdiv(x * 1000000, mw))
    }
    val top = (0 until d).minBy(j => (-v(j).abs, BigInt(j)))
    val sg = if (v(top) < 0) BigInt(-1) else BigInt(1)
    val comp = v.map(_ * sg)
    val num = (for { i <- 0 until d; j <- 0 until d }
      yield cn(i)(j) * comp(i) * comp(j)).sum
    val den = comp.map(c => c * c).sum
    val rq = sdiv(num, den)
    val got = SparkEntry.queries("q98_pca_power")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.length == d)
    got.foreach { case (dim, c, r) =>
      assert(BigInt(c) == comp(dim.toInt), s"dim $dim comp $c != ${comp(dim.toInt)}")
      assert(BigInt(r) == rq, s"rayleigh $r != $rq")
    }
    // the reported component is genuinely normalised: max |entry| = 1e6,
    // oriented positive
    assert(got.map(_._2.abs).max == 1000000L)
    assert(comp(top) > 0)
  }

  test("q101: PCA extremes are exactly the top/bottom-10 of a full Scala projection recount") {
    val dir = "/root/testdata/sf0.01"
    // component from q98 (whose own spec proves it equals the BigInt
    // recount) — q101 must project with exactly these values
    val comp = SparkEntry.queries("q98_pca_power")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).map(_._2)
    val rows = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map { r =>
        val m = r.getSeq[Float](2).map(x => math.floor(x.toDouble * 1e6).toLong)
        (r.getLong(0), r.getInt(1).toLong,
          m.indices.map(i => m(i) * comp(i)).sum)
      }
    val hi = rows.sortBy { case (id, _, p) => (-p, id) }.take(10)
    val lo = rows.sortBy { case (id, _, p) => (p, id) }.take(10)
    val want = hi.zipWithIndex.map { case ((id, l, p), k) => ("max", k + 1L, id, l, p) } ++
      lo.zipWithIndex.map { case ((id, l, p), k) => ("min", k + 1L, id, l, p) }
    val got = SparkEntry.queries("q101_pca_extremes")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.sortBy(t => (t._1, t._2)).toSeq == want.sortBy(t => (t._1, t._2)).toSeq,
      s"drift: ${got.toSeq.diff(want.toSeq).take(3)}")
    // the two ends genuinely differ (the axis separates the corpus)
    assert(hi.head._3 > lo.head._3)
  }

  test("q102: ADC scores and ranking equal a full Scala recount over the engine's own codebooks") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val e = Tables(spark, dir, "embeddings")
    // per-subspace codebooks from the same trainer the query uses
    // (trainer exactness itself is oracle- and spec-covered); the
    // recount then re-derives every code, table entry, and rank
    val cents: Map[(Int, Long), Array[Float]] = (0 until VectorOps.PqM).flatMap { m =>
      Similarity.kmeansCentroids(spark,
        e.select(col("vec_id"), expr(
          s"slice(embedding, ${m * VectorOps.PqSubDim + 1}, ${VectorOps.PqSubDim})").as("embedding")),
        VectorOps.PqKs, VectorOps.PqIters).collect()
        .map(r => (m, r.getLong(0)) -> r.getSeq[Float](1).toArray)
    }.toMap
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def sub(v: Array[Float], m: Int): Array[Float] =
      v.slice(m * VectorOps.PqSubDim, (m + 1) * VectorOps.PqSubDim)
    // sequential folds in the exact order of dotExpr/sumsqExpr
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def codeOf(v: Array[Float], m: Int): Long =
      (0L until VectorOps.PqKs.toLong)
        .minBy(c => (-cos(sub(v, m), cents((m, c))), c))
    val queries = vecs.keys.filter(id => id < 2000 && id % 50 == 0).toSeq.sorted
    val want = queries.flatMap { q =>
      val scored = vecs.keys.filter(_ != q).toSeq.map { n =>
        val adc = (0 until VectorOps.PqM).map { m =>
          math.floor(dot(sub(vecs(q), m), cents((m, codeOf(vecs(n), m)))) * 1e6).toLong
        }.sum
        (n, adc)
      }
      scored.sortBy { case (n, a) => (-a, n) }.take(5).zipWithIndex
        .map { case ((n, a), k) => (q, n, a, k + 1L) }
    }.toSet
    val got = SparkEntry.queries("q102_pq_ann")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"drift: ${(got diff want).take(3)} / ${(want diff got).take(3)}")
    // recall sanity: the 4x8 codebook's top-5 must overlap the exact
    // cosine top-5 somewhere in the batch (ADC is an approximation,
    // not a reshuffle)
    val overlap = queries.map { q =>
      val exact = vecs.keys.filter(_ != q).toSeq
        .map(n => (n, cos(vecs(q), vecs(n)))).sortBy { case (n, c) => (-c, n) }
        .take(5).map(_._1).toSet
      want.collect { case (`q`, n, _, _) => n }.toSet.intersect(exact).size
    }
    assert(overlap.sum > 0, s"zero recall across the whole batch: $overlap")
  }

  test("q104 refine: per-query recall@5 dominates q102's, and the rescore is the exact cosine") {
    import graft.queries.VectorOps
    val dir = "/root/testdata/sf0.01"
    val e = Tables(spark, dir, "embeddings")
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val queries = vecs.keys.filter(id => id < VectorOps.Q25Cap && id % 50 == 0).toSeq.sorted
    val exactTop5: Map[Long, Set[Long]] = queries.map { q =>
      q -> vecs.keys.filter(_ != q).toSeq
        .map(n => (n, cos(vecs(q), vecs(n)))).sortBy { case (n, c) => (-c, n) }
        .take(5).map(_._1).toSet
    }.toMap
    val got102 = SparkEntry.queries("q102_pq_ann")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val rows104 = SparkEntry.queries("q104_pq_refine")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got104 = rows104.map(t => t._1 -> t._2).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    // the structural guarantee, per query: a true top-5 neighbor in
    // ADC's top-5 is in the top-R shortlist too, and exact rescore
    // cannot displace it — so refine recall can never drop below plain
    queries.foreach { q =>
      val r102 = got102.getOrElse(q, Set.empty).intersect(exactTop5(q)).size
      val r104 = got104.getOrElse(q, Set.empty).intersect(exactTop5(q)).size
      assert(r104 >= r102, s"query $q: refine recall $r104 < plain PQ $r102")
    }
    // and the batch genuinely improves somewhere (R=50 of ~500: the
    // shortlist recovers neighbors ADC's top-5 missed)
    val t102 = queries.map(q => got102.getOrElse(q, Set.empty).intersect(exactTop5(q)).size).sum
    val t104 = queries.map(q => got104.getOrElse(q, Set.empty).intersect(exactTop5(q)).size).sum
    assert(t104 > t102, s"refine did not improve recall anywhere ($t104 vs $t102)")
    // rescore arithmetic: every returned cos_micro is the floored-micro
    // EXACT cosine of the pair (independent Scala recount)
    rows104.foreach { case (q, n, cm) =>
      val want = math.floor(cos(vecs(q), vecs(n)) * 1e6).toLong
      assert(cm == want, s"($q,$n): cos_micro $cm != exact $want")
    }
  }

  test("q103: IVFADC coarse routing, residuals, codes, and ADC equal a full Scala recount") {
    import graft.queries.VectorOps
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val e = Tables(spark, dir, "embeddings")
    // trained artifacts come from the engine's own trainer (exactness of
    // the trainer is its own spec's job, as in the q102 recount); every
    // step DOWNSTREAM of them — coarse assignment, float32 residual,
    // code assignment, probe selection, ADC table and ranking — is
    // recomputed in plain Scala and must match row-for-row incl.
    // adc_micro.
    val vecs = e.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val coarse: Map[Long, Array[Float]] =
      Similarity.kmeansCentroids(spark, e, VectorOps.PqKs, VectorOps.PqIters).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // NaN (zero-norm) cosines sort LARGEST under Scala's TotalOrdering, so
    // minBy(-cos, id) skips them — the same winner as guardedCosine's
    // NaN → -Infinity in the engine
    def cellOf(v: Array[Float]): Long =
      coarse.keys.toSeq.sorted.minBy(c => (-cos(v, coarse(c)), c))
    val cellAsg: Map[Long, Long] = vecs.map { case (id, v) => id -> cellOf(v) }
    // float32 residual, exactly the query's CAST(a AS FLOAT) - CAST(b AS FLOAT)
    def residual(v: Array[Float], cell: Long): Array[Float] =
      v.indices.map(i => v(i) - coarse(cell)(i)).toArray
    val res: Map[Long, Array[Float]] =
      vecs.map { case (id, v) => id -> residual(v, cellAsg(id)) }
    // residual codebooks trained by the engine trainer on the recounted
    // residual frame (bit-identical to the query's Spark-side residuals:
    // IEEE float subtraction is exact and deterministic in both paths)
    val resDf = res.toSeq.map { case (id, r) => (id, r) }.toDF("vec_id", "embedding")
    val pcents: Map[(Int, Long), Array[Float]] = (0 until VectorOps.PqM).flatMap { m =>
      Similarity.kmeansCentroids(spark,
        resDf.select(col("vec_id"), expr(
          s"slice(embedding, ${m * VectorOps.PqSubDim + 1}, ${VectorOps.PqSubDim})").as("embedding")),
        VectorOps.PqKs, VectorOps.PqIters).collect()
        .map(r => (m, r.getLong(0)) -> r.getSeq[Float](1).toArray)
    }.toMap
    def sub(v: Array[Float], m: Int): Array[Float] =
      v.slice(m * VectorOps.PqSubDim, (m + 1) * VectorOps.PqSubDim)
    def codeOf(r: Array[Float], m: Int): Long =
      (0L until VectorOps.PqKs.toLong)
        .minBy(c => (-cos(sub(r, m), pcents((m, c))), c))
    val codes: Map[Long, IndexedSeq[Long]] =
      res.map { case (id, r) => id -> (0 until VectorOps.PqM).map(m => codeOf(r, m)) }
    val queries = vecs.keys.filter(id => id < 2000 && id % 50 == 0).toSeq.sorted
    val want = queries.flatMap { q =>
      // top-2 probed cells (guarded cosine desc, centroid_id asc)
      val probed = coarse.keys.toSeq
        .sortBy(c => (-cos(vecs(q), coarse(c)), c)).take(2)
      // per probed cell: the query's residual table t(cell, m, code)
      val t: Map[(Long, Int, Long), Long] = probed.flatMap { cell =>
        val qr = residual(vecs(q), cell)
        for (m <- 0 until VectorOps.PqM; c <- 0L until VectorOps.PqKs.toLong)
          yield (cell, m, c) ->
            math.floor(dot(sub(qr, m), pcents((m, c))) * 1e6).toLong
      }.toMap
      val scored = vecs.keys
        .filter(n => n != q && probed.contains(cellAsg(n))).toSeq
        .map { n =>
          val cell = cellAsg(n)
          (n, (0 until VectorOps.PqM).map(m => t((cell, m, codes(n)(m)))).sum)
        }
      scored.sortBy { case (n, a) => (-a, n) }.take(5).zipWithIndex
        .map { case ((n, a), k) => (q, n, a, k + 1L) }
    }.toSet
    val got = SparkEntry.queries("q103_ivfadc")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"drift: ${(got diff want).take(3)} / ${(want diff got).take(3)}")
    // routing sanity: probing 2 of Ks cells genuinely bounds candidates —
    // at least one query's IVFADC top-5 differs from q102's flat-PQ scan
    // only through cell membership, and every reported neighbor lives in
    // a probed cell of its query
    assert(want.forall { case (q, n, _, _) =>
      val probed = coarse.keys.toSeq
        .sortBy(c => (-cos(vecs(q), coarse(c)), c)).take(2)
      probed.contains(cellAsg(n))
    })
  }

  test("q98/q101 survive degenerate corpora: single vector, all-identical vectors") {
    import spark.implicits._
    def write(vecs: Seq[(Long, Array[Float], Int)]): String = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-pca-degen").toString
      vecs.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      tmp
    }
    def checkZeroCov(dir: String): Unit = {
      // zero covariance → canonical e₀ with eigenvalue 0, no crash
      val r = SparkEntry.queries("q98_pca_power")(spark, dir).collect()
        .sortBy(_.getLong(0))
      assert(r.length == 64 && r.head.getLong(1) == 1000000L, r.toSeq.take(3))
      assert(r.tail.forall(_.getLong(1) == 0L) && r.forall(_.getLong(2) == 0L))
    }
    checkZeroCov(write(Seq((0L, Array.fill(64)(0.25f), 1))))
    // zero ROWS (empty table): the eigeniteration must return the same
    // canonical e₀ result, not crash on max() of an empty covariance
    checkZeroCov(write(Seq.empty[(Long, Array[Float], Int)]))
    val manyDir = write(Seq.tabulate(5)(i => (i.toLong, Array.fill(64)(0.25f), 1)))
    checkZeroCov(manyDir)
    // q101 on equal projections: both ends rank all 5 docs by vec_id
    val x = SparkEntry.queries("q101_pca_extremes")(spark, manyDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(x.length == 10, x.toSeq)
    Seq("max", "min").foreach { side =>
      assert(x.filter(_._1 == side).sortBy(_._2).map(_._3).toSeq == (0L to 4L),
        s"$side: ${x.toSeq}")
    }
  }

  /** The oracle-gate (sf0.01) embeddings. */
  private def gateEmbeddings: DataFrame = Tables(spark, "/root/testdata/sf0.01", "embeddings")

  /** Edge-case fixture for the kernels: an exact duplicate (ids 0/1, so
    * the first two k-means seeds coincide and every tie goes to the lower
    * centroid, leaving the other cluster empty), a zero-norm vector, a
    * vector with -0.0 components, and seeded pseudo-random vectors. */
  private def edgeVectors: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(7)
    Seq(
      0L -> Array(1f, 0f, 0f, 0f),
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f),
      3L -> Array(0f, 0f, 0f, 0f),
      4L -> Array(0.5f, 0.5f, 0f, 0f),
      5L -> Array(-0.0f, 0.25f, -0.0f, -0.75f)) ++
      (6L until 24L).map(i => i -> Array.fill(4)(rnd.nextFloat() * 2f - 1f))
  }

  test("kmeansCentroids: one-pass Lloyd equals the relational Lloyd step bit for bit") {
    import spark.implicits._
    val e = edgeVectors.toDF("vec_id", "embedding").repartition(3)
    def same(k: Int, iters: Int, cap: Long = Long.MaxValue, in: DataFrame = e): Unit = {
      val got = RelationalTwins.bits(Similarity.kmeansCentroids(spark, in, k, iters,
        trainSampleCap = cap))
      val want = RelationalTwins.bits(RelationalTwins.kmeansCentroids(spark, in, k, iters,
        trainSampleCap = cap))
      assert(got.nonEmpty && got == want, s"k=$k iters=$iters cap=$cap")
    }
    same(4, 0)                          // seeds only
    same(4, 1); same(4, 3)              // duplicate seeds -> an empty cluster
    same(30, 2)                         // k > rows
    same(3, 2, cap = 10)                // training sample smaller than n
    same(1, 2)
    // the oracle-gate corpus at q47's configuration
    same(8, 3, in = gateEmbeddings)
  }

  test("ivfTopK equals the relational nearestCentroid ⋈ assignProbes window form") {
    import spark.implicits._
    val vs = edgeVectors
    val c = vs.toDF("neighbor_id", "cv").repartition(3)
    val q = (vs.filter(_._1 % 3 == 0) :+ (100L -> Array(0.2f, -0.4f, 0.1f, 0.3f)))
      .toDF("query_id", "qv")
    // trained centroids (two coincide) plus a zero-norm centroid
    val cents = Similarity.kmeansCentroids(spark, vs.toDF("vec_id", "embedding"), 4, 1)
      .union(Seq((4L, Array(0f, 0f, 0f, 0f))).toDF("centroid_id", "cvec"))
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    for (k <- Seq(1, 3, 30); nprobe <- Seq(1, 2, 5)) {
      val got = rows(Similarity.ivfTopK(q, c, cents, k, nprobe))
      assert(got.nonEmpty && got == rows(RelationalTwins.ivfTopK(q, c, cents, k, nprobe)),
        s"k=$k nprobe=$nprobe")
    }
    val e = gateEmbeddings
    val eq = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val ec = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val ecents = Similarity.kmeansCentroids(spark, e, 8, 3)
    assert(rows(Similarity.ivfTopK(eq, ec, ecents, 5, 2)) ==
      rows(RelationalTwins.ivfTopK(eq, ec, ecents, 5, 2)))
  }

  /** [[edgeVectors]] grown into an embeddings table for the query-level
    * kernel forms: ids 0..`n`-1 with seeded vectors (ids 0..23 are the
    * edge fixture, so the first 8 — the q90/q95 centroids — hold a
    * duplicate pair, a zero-norm vector and -0.0 components), exact
    * duplicates of earlier vectors (cosine ties broken by id), labels
    * 0..2, and one label held by only three rows so a query has fewer
    * qualifying neighbours than k. */
  private def edgeTable(seed: Int, n: Int = 420): Seq[(Long, Array[Float], Int)] = {
    val rnd = new scala.util.Random(seed)
    val edge = edgeVectors.toMap
    Seq.tabulate(n) { i =>
      val id = i.toLong
      val v = edge.getOrElse(id,
        if (i >= 300 && i < 340) edge(id % 24) else Array.fill(4)(rnd.nextFloat() * 2f - 1f))
      val label = if (i == 350 || i == 351 || i == 352) 9 else rnd.nextInt(3)
      (id, v, label)
    }
  }

  test("vector kernel forms equal their relational twins: assign, q90/q95, stored-cell index search") {
    import spark.implicits._
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    // assign ≡ nearestCentroid on unique ids, NULL and ragged vectors
    // included: both give such a row the lowest centroid_id and a NULL
    // casim; zero-norm and duplicate centroids tie to the lowest id
    val nul = null.asInstanceOf[Array[Float]]
    val withOdd = (edgeVectors ++ Seq(40L -> nul, 41L -> Array(1f, 2f, 3f),
        42L -> Array(-0.0f, -0.0f, 0f, 0f), 43L -> edgeVectors(9)._2.clone()))
      .map { case (id, v) => (id, v, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label").repartition(3)
    val trained = Similarity.kmeansCentroids(spark, edgeVectors.toDF("vec_id", "embedding"), 4, 1)
      .union(Seq((4L, Array(0f, 0f, 0f, 0f))).toDF("centroid_id", "cvec"))
    val edgeCents = edgeVectors.take(6).toDF("centroid_id", "cvec")
    for (cents <- Seq(trained, edgeCents); carry <- Seq(Nil, Seq("label"), Seq("embedding"))) {
      val got = rows(Similarity.assign(withOdd, cents, "embedding", "vec_id", carry))
      val want = rows(RelationalTwins.nearestCentroid(withOdd, cents, "embedding", "vec_id", carry))
      assert(got.size == 28 && got == want, s"carry=$carry: ${got diff want} / ${want diff got}")
      for (id <- Seq(40L, 41L))
        assert(got.exists(r => r.head == id && r(1) == 0L && r(2) == null), s"id $id")
    }
    // q90/q95 ≡ the nearestCentroid ⋈ assignProbes windows (non-NULL input)
    for (seed <- Seq(11, 12, 13)) {
      val dir = java.nio.file.Files.createTempDirectory("graft-kernel-twins").toString
      edgeTable(seed).toDF("vec_id", "embedding", "label")
        .repartition(3).write.parquet(s"$dir/embeddings.parquet")
      val q90 = rows(SparkEntry.queries("q90_filtered_ann")(spark, dir))
      assert(q90 == rows(RelationalTwins.q90(spark, dir)), s"q90 seed $seed")
      // query 350 has only two other label-9 rows: its list is short
      assert(q90.count(_.head == 350L) <= 2 && q90.count(_.head == 0L) == 5, s"seed $seed")
      val q95 = rows(SparkEntry.queries("q95_hard_negatives")(spark, dir))
      assert(q95.nonEmpty && q95 == rows(RelationalTwins.q95(spark, dir)), s"q95 seed $seed")
    }
    // searchIndex: an index built with centroids A, searched with
    // recentered centroids B, ranks each row in its STORED cell
    val corpus = edgeTable(17).toDF("vec_id", "embedding", "label").repartition(3)
    val a = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    val b = Similarity.kmeansCentroids(spark, corpus, 8, 2)
    val idx = java.nio.file.Files.createTempDirectory("graft-stored-cells").toString + "/index"
    RelationalTwins.nearestCentroid(corpus, a, "embedding", "vec_id", Seq("embedding", "label"))
      .write.partitionBy("centroid_id", "label").parquet(idx)
    val queries = corpus.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("label").as("qlabel"))
    val plain = queries.drop("qlabel")
    for (cents <- Seq(a, b); k <- Seq(1, 5, 30); nprobe <- Seq(1, 3)) {
      val got = rows(graft.streaming.EmbeddingsStream.searchIndex(spark, idx, plain, cents, k, nprobe))
      assert(got.nonEmpty &&
        got == rows(RelationalTwins.searchIndex(spark, idx, plain, cents, k, nprobe)), s"k=$k nprobe=$nprobe")
      assert(rows(graft.streaming.EmbeddingsStream.searchIndexFiltered(spark, idx, queries, cents, k, nprobe)) ==
        rows(RelationalTwins.searchIndexFiltered(spark, idx, queries, cents, k, nprobe)),
        s"filtered k=$k nprobe=$nprobe")
    }
  }

  test("warm count() job budgets: q35, q90, q95 and searchIndex") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-kernel-jobs").toString
    edgeTable(11).toDF("vec_id", "embedding", "label")
      .repartition(3).write.parquet(s"$dir/embeddings.parquet")
    def warmJobs(body: => Long): Int = {
      TempCaches.releaseAll(); body; TempCaches.releaseAll()
      val (n, jobs) = org.apache.spark.JobCounter(spark.sparkContext)(body)
      TempCaches.releaseAll()
      assert(n > 0)
      jobs
    }
    def query(name: String) = warmJobs(SparkEntry.queries(name)(spark, dir).count())
    val corpus = Tables(spark, dir, "embeddings")
    val cents = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-jobs").toString + "/index"
    Similarity.assign(corpus.select(col("vec_id"), col("embedding")), cents,
        "embedding", "vec_id", Seq("embedding"))
      .write.partitionBy("centroid_id").parquet(idx)
    val queries = corpus.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val got = Map(
      "q35" -> query("q35_ivf_assign"),
      "q90" -> query("q90_filtered_ann"),
      "q95" -> query("q95_hard_negatives"),
      "searchIndex" -> warmJobs(graft.streaming.EmbeddingsStream.searchIndex(
        spark, idx, queries, cents, k = 5, nprobe = 2).count()))
    info(s"warm count() jobs: $got")
    // measured: the driver collects (queries, centroids) plus the
    // scan; q95 runs two kernel rankings from one collect
    val budget = Map("q35" -> 3, "q90" -> 5, "q95" -> 7, "searchIndex" -> 6)
    assert(got.forall { case (q, n) => n <= budget(q) }, s"over budget: $got vs $budget")
  }

  test("top-k heap ties -0.0 with 0.0 exactly as Spark's rank window does") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val scored = Seq((0.0, 5L), (-0.0, 3L), (0.0, 4L), (-0.0, 6L), (1.0, 9L), (-0.0, 2L))
    val heap = new Similarity.TopKHeap[Unit](3)
    scored.foreach { case (c, id) => heap.offer(c, id, ()) }
    val w = Window.orderBy(col("cosine").desc, col("id").asc)
    val want = scored.toDF("cosine", "id").withColumn("r", row_number().over(w))
      .filter(col("r") <= 3).collect().map(_.getLong(1)).toSet
    assert(want == Set(9L, 2L, 3L))
    assert(heap.iterator.map(_._2).toSet == want)
    // the total order would have split the tie and kept the wrong ids
    assert(Ordering.Double.TotalOrdering.compare(-0.0, 0.0) != 0)
  }

  test("vector kernels check their preconditions: ragged vectors fail by column, NULLs skip") {
    import spark.implicits._
    def message(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString(" / ")
    val base = edgeVectors
    val ragged = (base :+ (50L -> Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    // a ragged member (the relational form gave it a NULL cosine, which
    // sorted first in min(struct) and silently joined centroid 0)
    val m1 = message(intercept[Exception](Similarity.kmeansCentroids(spark, ragged, 3, 1)))
    assert(m1.contains("column embedding holds a vector of length 3"), m1)
    // a ragged seed fails on the driver
    val m2 = message(intercept[Exception](Similarity.kmeansCentroids(spark,
      ((-1L -> Array(1f)) +: base).toDF("vec_id", "embedding"), 3, 0)))
    assert(m2.contains("column embedding holds a vector of length 4"), m2)
    // IVF: a ragged corpus row fails naming the corpus column
    val cents = Seq((0L, Array(1f, 0f, 0f, 0f))).toDF("centroid_id", "cvec")
    val m3 = message(intercept[Exception](Similarity.ivfTopK(
      Seq((100L, Array(1f, 0f, 0f, 0f))).toDF("query_id", "qv"),
      ragged.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
      cents, 3).collect()))
    assert(m3.contains("column cv holds a vector of length 3"), m3)
    // NULL vectors are skipped in training — not seeds, not members —
    // so training equals training without them
    val nul = null.asInstanceOf[Array[Float]]
    val withNulls = ((-5L -> nul) +: base :+ (60L -> nul)).toDF("vec_id", "embedding")
    val without = base.toDF("vec_id", "embedding")
    for (iters <- Seq(0, 2))
      assert(RelationalTwins.bits(Similarity.kmeansCentroids(spark, withNulls, 4, iters)) ==
        RelationalTwins.bits(RelationalTwins.kmeansCentroids(spark, without, 4, iters)))
  }
}
