package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the training-pipeline ops (q52-q55) that the DuckDB
  * hash-compare can't express: semantic ground truth for contamination,
  * determinism of the sample, the quantization error bound, and the
  * two-level cumsum's equivalence to the naive global window. */
class TrainingOpsSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.01"

  test("q78 catches misaligned duplicated phrases that q70's disjoint tiles miss") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-q78").toString
    // a 9-token phrase at offset 8 in doc 0 (alignment 0 mod 8) and
    // offset 4 in doc 1 (4 mod 8, but 0 mod 4): the occurrences agree
    // mod SpanStride=4, disagree mod SpanW=8 — exactly the q70 blind spot
    val phrase = (1 to 9).map(i => s"p$i").mkString(" ")
    val docA = ((1 to 8).map(i => s"fa$i") :+ phrase).mkString(" ")
    val docB = ((1 to 4).map(i => s"fb$i") :+ phrase).mkString(" ")
    Seq((0L, docA), (1L, docB)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("syn"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$tmp/documents.parquet")
    val q78 = SparkEntry.queries("q78_overlap_span_detect")(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(q78(0L) >= 1 && q78(1L) >= 1,
      s"strided spans must flag the shared phrase in both docs: $q78")
    val q70 = SparkEntry.queries("q70_span_dedup")(spark, tmp)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(q70.values.forall(_ == 0L),
      s"disjoint tiles should MISS this alignment (the documented gap): $q70")
  }

  test("q81: segments tile every document exactly and fill every interior window") {
    val segs = SparkEntry.queries("q81_sequence_pack")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val w = 512L
    // per doc: offsets start at 0, are contiguous, and seg_lens sum to
    // the doc's token count (recomputed straight from the parquet)
    val nToks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), expr(
        "CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT)"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    segs.groupBy(_._1).foreach { case (doc, ss) =>
      val sorted = ss.sortBy(_._3)
      assert(sorted.head._3 == 0L, s"doc $doc first segment offset != 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._4 == b._3,
          s"doc $doc segments not contiguous at ${b._3}")
        case _ => ()
      }
      assert(sorted.map(_._4).sum == nToks(doc),
        s"doc $doc seg_len sum ${sorted.map(_._4).sum} != n_tokens ${nToks(doc)}")
      // consecutive doc segments land in consecutive windows
      assert(sorted.map(_._2).toSeq ==
        (sorted.head._2 until sorted.head._2 + sorted.length).toSeq,
        s"doc $doc does not occupy consecutive windows: ${sorted.map(_._2).toSeq}")
    }
    // per window: every window except the last holds exactly W tokens
    val byWin = segs.groupBy(_._2).map { case (k, v) => k -> v.map(_._4).sum }
    val lastWin = byWin.keys.max
    byWin.foreach { case (win, tot) =>
      if (win != lastWin) assert(tot == w, s"window $win holds $tot != $w")
      else assert(tot >= 1 && tot <= w, s"last window $win holds $tot")
    }
    assert(segs.forall(_._4 >= 1) && segs.forall(_._4 <= w))
  }

  test("q80: top-gram coverage matches a per-doc Scala recount, ties broken on gram ASC") {
    val got = SparkEntry.queries("q80_topgram_coverage")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getLong(3)))
      .toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    docs.foreach { case (id, text) =>
      val tk = text.split(" ").filter(_.nonEmpty)
      val grams = tk.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      if (grams.isEmpty) assert(!got.contains(id), s"doc $id should be absent")
      else {
        val counts = grams.groupBy(identity).map { case (g, o) => (g, o.length.toLong) }
        val best = counts.toSeq.minBy { case (g, c) => (-c, g) }
        assert(got(id) == ((grams.length.toLong, best._1, best._2)),
          s"doc $id: got ${got(id)}, expected ($best over ${grams.length})")
      }
    }
  }

  test("q52: every flagged doc really shares a verbatim 13-gram with a benchmark doc") {
    val flagged = SparkEntry.queries("q52_decontaminate")(spark, dir).collect()
    assert(flagged.nonEmpty, "decontamination found nothing at sf0.01 (expected planted dups)")
    val texts = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(id: Long): Set[String] = {
      val t = texts(id).split(" ").filter(_.nonEmpty)
      if (t.length < 13) Set.empty else t.sliding(13).map(_.mkString(" ")).toSet
    }
    val benchGrams = texts.keys.filter(_ % 20 == 0).flatMap(grams).toSet
    flagged.foreach { r =>
      val id = r.getLong(0)
      val shared = grams(id) & benchGrams
      assert(id % 20 != 0, s"benchmark doc $id flagged as train")
      assert(shared.nonEmpty, s"doc $id flagged but shares no verbatim 13-gram")
      assert(shared.size == r.getLong(1),
        s"doc $id: reported ${r.getLong(1)} shared grams, ground truth ${shared.size}")
    }
  }

  test("q53: hash sampling is deterministic and stratification tracks the configured rates") {
    val a = SparkEntry.queries("q53_stratified_sample")(spark, dir).collect()
    val b = SparkEntry.queries("q53_stratified_sample")(spark, dir).collect()
    assert(a.map(_.toSeq).toSet == b.map(_.toSeq).toSet, "re-run changed the sample")
    val totals = Tables(spark, dir, "documents").groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_.getString(1)).map { case (l, rs) => l -> rs.length }
    kept.foreach { case (lang, n) =>
      val pct = a.find(_.getString(1) == lang).get.getLong(2).toDouble
      val expected = totals(lang) * pct / 100.0
      // binomial-ish tolerance on a few hundred docs per stratum
      assert(math.abs(n - expected) <= 3.5 * math.sqrt(expected + 1),
        s"$lang: kept $n, expected ~$expected at $pct%")
    }
  }

  test("q54: dequantized values reconstruct originals within half a quantization step") {
    val rows = SparkEntry.queries("q54_embed_quantize")(spark, dir)
      .join(Tables(spark, dir, "embeddings"), Seq("vec_id"))
      .select(col("qmin"), col("qmax"), col("qvec_csv"), col("embedding")).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (mn, mx) = (r.getDouble(0), r.getDouble(1))
      val codes = r.getString(2).split(",").map(_.toInt)
      val orig = r.getSeq[Float](3)
      assert(codes.length == orig.length)
      assert(codes.forall(c => c >= 0 && c <= 255), "code outside int8 range")
      val scale = (mx - mn) / 255.0
      if (scale > 0) codes.zip(orig).foreach { case (c, o) =>
        assert(math.abs((mn + c * scale) - o) <= scale / 2 + 1e-12,
          s"dequant error beyond half-step: code $c orig $o mn $mn mx $mx")
      }
    }
  }

  test("q56: duplicate fractions match a direct Scala recount on every doc") {
    val got = SparkEntry.queries("q56_repetition_filter")(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val texts = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
    assert(got.size == texts.length)
    texts.foreach { tr =>
      val toks = tr.getString(1).split(" ").filter(_.nonEmpty).toSeq
      val grams = if (toks.length < 2) Seq.empty else toks.sliding(2).map(_.mkString(" ")).toSeq
      def frac(xs: Seq[String]): Double =
        if (xs.isEmpty) 0.0 else 1.0 - xs.distinct.length.toDouble / xs.length
      val r = got(tr.getLong(0))
      assert(r.getLong(1) == toks.length)
      assert(math.abs(r.getDouble(2) - frac(toks)) < 1e-12)
      assert(math.abs(r.getDouble(3) - frac(grams)) < 1e-12)
      assert(r.getBoolean(4) == (r.getDouble(3) < 0.2))
    }
  }

  test("q57 patterns: emails and digit runs are replaced, counts line up") {
    import spark.implicits._
    val df = Seq(
      (1L, "reach me at jo.doe+spam@mail.example.org or call 5551234567 now"),
      (2L, "two mails: a@b.co x@y.io; short num 123456 stays"),
      (3L, "no pii here")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(graft.queries.TrainingOps.EmailRe), lit(0)))
        .as("n_emails"),
      regexp_replace(regexp_replace(col("text"), graft.queries.TrainingOps.EmailRe, "<EMAIL>"),
        graft.queries.TrainingOps.DigitsRe, "<NUM>").as("scrubbed"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 1)
    assert(out(1L).getString(2) == "reach me at <EMAIL> or call <NUM> now")
    assert(out(2L).getInt(1) == 2)
    assert(out(2L).getString(2) == "two mails: <EMAIL> <EMAIL>; short num 123456 stays")
    assert(out(3L).getString(2) == "no pii here")
  }

  test("q58: every source is downsampled to ~min-source size, reproducibly") {
    val a = SparkEntry.queries("q58_mix_rebalance")(spark, dir).collect()
    val b = SparkEntry.queries("q58_mix_rebalance")(spark, dir).collect()
    assert(a.map(_.toSeq).toSet == b.map(_.toSeq).toSet)
    val minSrc = a.map(_.getLong(1)).min
    a.foreach { r =>
      val (src, nSrc, kept) = (r.getString(0), r.getLong(1), r.getLong(2))
      if (nSrc == minSrc) assert(kept == nSrc, s"$src: rate-1.0 source must keep all")
      else assert(math.abs(kept - minSrc) <= 3.5 * math.sqrt(minSrc.toDouble),
        s"$src: kept $kept, target $minSrc")
    }
  }

  test("q62: rare-token fractions match a direct Scala recount") {
    val got = SparkEntry.queries("q62_rare_tokens")(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    val perDoc = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).distinct.toSet)
      .toMap
    val dfreq = perDoc.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    assert(got.size == perDoc.count(_._2.nonEmpty))
    perDoc.filter(_._2.nonEmpty).foreach { case (id, toks) =>
      val unique = toks.count(dfreq(_) == 1)
      val r = got(id)
      assert(r.getLong(1) == toks.size, s"doc $id distinct-token count")
      assert(r.getLong(2) == unique, s"doc $id unique-token count")
      assert(r.getDouble(3) == unique.toDouble / toks.size, s"doc $id fraction")
    }
  }

  test("q63: bounded min-k postings equal slice(array_sort(collect_list),1,k) on every token") {
    // The production path (MinKLongsAggregator, ≤20-long buffer) must be
    // row-for-row identical to the unbounded collect_list form it replaced.
    val toksExpr = "filter(split(text, ' '), w -> w <> '')"
    val base = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(expr(s"array_distinct($toksExpr)")).as("w"))
    val unbounded = base.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("dfreq"),
        expr("concat_ws(',', slice(array_sort(collect_list(doc_id)), 1, 20))").as("postings_csv"))
      .filter(col("dfreq") >= 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    val bounded = SparkEntry.queries("q63_inverted_index")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(bounded.nonEmpty && bounded.toSeq == unbounded.toSeq)
  }

  test("MinKLongsAggregator: reduce/merge keep the k smallest sorted, duplicates included") {
    val agg = graft.functions.MinKLongsAggregator(5, distinct = false)
    // fold a hot group one element at a time — buffer must never exceed k
    val vals = Seq(9L, 3L, 7L, 3L, 100L, 1L, 50L, 2L, 8L, 4L)
    val buf = vals.foldLeft(agg.zero) { (b, v) =>
      val nb = agg.reduce(b, v); assert(nb.length <= 5); nb
    }
    assert(buf.toSeq == Seq(1L, 2L, 3L, 3L, 4L), "duplicates kept, sorted ascending")
    // arbitrary merge order agrees with a single sorted pass
    val (l, r) = vals.splitAt(4)
    val merged = agg.merge(
      l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(merged.toSeq == vals.sorted.take(5))
    // fewer than k inputs: everything kept
    assert(agg.reduce(agg.reduce(agg.zero, 6L), 5L).toSeq == Seq(5L, 6L))
  }

  test("q70: span dedup matches a direct Scala recount on every doc") {
    val W = 8
    val out = SparkEntry.queries("q70_span_dedup")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val texts = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def fullTiles(t: String): Seq[String] =
      t.split(" ").filter(_.nonEmpty).grouped(W).filter(_.length == W)
        .map(_.mkString(" ")).toSeq
    val occ = texts.values.toSeq.flatMap(fullTiles)
      .groupBy(identity).view.mapValues(_.size).toMap
    texts.foreach { case (id, t) =>
      val toks = t.split(" ").filter(_.nonEmpty)
      val tiles = fullTiles(t)
      val kept = tiles.filter(sp => occ(sp) == 1)
      val tail = toks.drop(tiles.size * W)
      val clean = (kept ++ (if (tail.nonEmpty) Seq(tail.mkString(" ")) else Nil)).mkString(" ")
      val (gotClean, gotSpans, gotDropped) = out(id)
      assert(gotSpans == tiles.size.toLong, s"doc $id tile count")
      assert(gotDropped == (tiles.size - kept.size).toLong, s"doc $id drop count")
      assert(gotClean == clean, s"doc $id rebuilt text")
    }
    assert(out.values.exists(_._3 > 0), "planted dup docs must cause span drops")
    assert(out.values.exists(v => v._3 == 0 && v._2 > 0), "clean docs must survive intact")
  }

  test("q72: top-100 selection matches a full Scala recount of the affinity scores") {
    import graft.queries.TrainingOps
    def hash60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val B = TrainingOps.AffinityBuckets
    val texts = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def buckets(t: String): Seq[Long] =
      t.split(" ").filter(_.nonEmpty).toSeq.map(w => hash60(w) % B)
    val (target, train) = texts.partition(_._1 % 20 == 0)
    val tb = target.values.toSeq.flatMap(buckets).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sb = train.values.toSeq.flatMap(buckets).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tTot = tb.values.sum; val sTot = sb.values.sum
    def weight(b: Long): Long = tb.getOrElse(b, 0L) * sTot - sb.getOrElse(b, 0L) * tTot
    val scores = train.map { case (id, t) => id -> buckets(t).map(weight).sum }
    val expected = scores.toSeq.sortBy { case (id, sc) => (-sc, id) }
      .take(TrainingOps.AffinityTopK).toMap
    val got = SparkEntry.queries("q72_target_affinity_select")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == TrainingOps.AffinityTopK)
    assert(got == expected,
      s"selection mismatch: extra=${got.keySet -- expected.keySet} missing=${expected.keySet -- got.keySet}")
    // selection must actually discriminate: the chosen docs score above
    // the train median
    val median = scores.values.toSeq.sorted.apply(scores.size / 2)
    assert(got.values.forall(_ >= median))
  }

  test("q73: bloom funnel matches a full Scala rebuild of the filter; false positives exist and are confirmed away") {
    import graft.queries.TrainingOps
    def hash60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val texts = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(t: String): Set[Long] = {
      val tk = t.split(" ").filter(_.nonEmpty)
      if (tk.length < 13) Set.empty
      else tk.sliding(13).map(w => hash60(w.mkString(" "))).toSet
    }
    val bench = texts.collect { case (id, t) if id % 20 == 0 => grams(t) }.flatten.toSet
    val m = TrainingOps.BloomBitsPerElem * bench.size
    def positions(h: Long): Seq[Long] =
      (0 until TrainingOps.BloomK).map(j => (h % m + j * ((h / m) % m)) % m)
    val bits = bench.flatMap(positions)
    def bloomHit(h: Long): Boolean = positions(h).forall(bits.contains)
    val expected = texts.collect { case (id, t) if id % 20 != 0 =>
      val cand = grams(t).filter(bloomHit)
      id -> (cand.size.toLong, (cand & bench).size.toLong)
    }.filter(_._2._1 > 0)
    val got = SparkEntry.queries("q73_bloom_decontaminate")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected, s"funnel mismatch: extra=${got.keySet -- expected.keySet} " +
      s"missing=${expected.keySet -- got.keySet}")
    // the self-sized filter must actually exercise both funnel outcomes
    // at the gate: some candidates are false positives (confirmed <
    // candidates somewhere) and the exact stage keeps only true matches
    assert(got.values.forall { case (c, conf) => conf <= c })
    assert(got.values.map(_._1).sum > got.values.map(_._2).sum,
      "no false positives — the bloom stage is untested at this scale")
    assert(got.values.map(_._2).sum > 0, "no true contamination confirmed")
  }

  test("sharded bloom probe (co-partitioned join) equals the broadcast bit-array verdicts exactly") {
    import graft.queries.TrainingOps
    val bench = TrainingOps.benchGramHashes(spark, dir).cache()
    val m = TrainingOps.BloomBitsPerElem * bench.count()
    val words = TrainingOps.bloomWordTable(bench, m)
    val train = TrainingOps.trainGramHashes(spark, dir)
    val sharded = TrainingOps.bloomProbeSharded(train, words, m)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // broadcast-path ground truth over the same distinct (id, h) probes
    val bits = TrainingOps.bloomBitArray(bench, m)
    def positions(h: Long): Seq[Long] =
      (0 until TrainingOps.BloomK).map(j => (h % m + j * ((h / m) % m)) % m)
    val expected = train.distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (_, h) =>
        positions(h).forall(p => (bits((p / 64).toInt) >> (p % 64).toInt & 1L) == 1L)
      }.toSet
    assert(sharded == expected,
      s"extra=${(sharded -- expected).take(5)} missing=${(expected -- sharded).take(5)}")
    assert(sharded.nonEmpty)
    bench.unpersist()
  }

  test("q55: two-level cumsum sharding equals the naive global window exactly") {
    val got = SparkEntry.queries("q55_token_shards")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        expr("CAST(size(filter(split(text, ' '), w -> w <> '')) AS BIGINT)").as("n"))
    val wGlobal = Window.orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    val naive = toks
      .withColumn("cb", coalesce(sum(col("n")).over(wGlobal), lit(0L)))
      .select(col("doc_id"), col("n"),
        expr("CAST(floor(cb / 4000.0) AS BIGINT)").as("shard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == naive.toSeq)
    // shard ids are contiguous from 0 and each shard's tokens stay within
    // budget + one document (greedy packing bound)
    val shards = got.groupBy(_._3)
    assert(shards.keys.toSeq.sorted == (0L until shards.size).toSeq)
    val maxDoc = got.map(_._2).max
    shards.foreach { case (sid, docs) =>
      assert(docs.map(_._2).sum <= 4000L + maxDoc, s"shard $sid overpacked")
    }
  }

  test("q74 survives adversarial documents: empty text, null lang, unknown lang") {
    import spark.implicits._
    import graft.queries.TrainingOps
    val tmp = java.nio.file.Files.createTempDirectory("graft-adv74").toString
    Seq(
      // ref split (doc_id % 20 == 0)
      (0L, "", "en", "s", 0L),                       // empty ref doc
      (20L, "   ", "en", "s", 3L),                   // whitespace-only ref doc
      (40L, "alpha beta alpha beta alpha beta gamma", "en", "s", 38L),
      (60L, "uno dos tres uno dos tres uno", "xx", "s", 29L),  // unknown lang
      (80L, "eins zwei eins zwei eins", null.asInstanceOf[String], "s", 24L),
      // train split
      (1L, "alpha beta gamma", "en", "s", 16L),
      (2L, "alpha nope beta", "en", "s", 15L),
      (3L, "", "en", "s", 0L),                       // empty train doc
      (4L, "uno tres dos", "xx", "s", 12L),          // unknown-lang train doc
      (5L, "eins zwei", null.asInstanceOf[String], "s", 9L),   // null-lang train doc
      (6L, "solo", "fr", "s", 4L))                   // lang with NO ref tokens
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = SparkEntry.queries("q74_perplexity_buckets")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // empty docs vanish (no tokens); null-lang and no-ref-lang train docs
    // drop out via the inner totals join — same semantics both engines
    assert(!got.keys.exists(_._1 == null), "null-lang doc survived the LM join")
    assert(!got.keys.exists(_._1 == "fr"), "doc in a lang with no reference LM survived")
    assert(got.keys.map(_._1).toSet == Set("en", "xx"))
    // the unknown lang 'xx' tiers against the en cutoffs (the shipped
    // fallback): recount doc 4's score and check its bucket
    val refToks = Seq("uno", "dos", "tres", "uno", "dos", "tres", "uno")
    val counts = refToks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = refToks.size.toLong
    def surp(q: Long): Long = {
      val b = 63 - java.lang.Long.numberOfLeadingZeros(q)
      b * 1024L + q * 1024L / (1L << b) - 1024L
    }
    val toks4 = Seq("uno", "tres", "dos")
    val score4 = 1000L * toks4.map { t =>
      surp(1024L * total / counts.filter(_._2 >= TrainingOps.PplMinCnt).getOrElse(t, 1L))
    }.sum / toks4.size
    val (p30, p70) = TrainingOps.PplCutoffs("en")
    val tier4 = if (score4 < p30) "head" else if (score4 < p70) "middle" else "tail"
    assert(got.contains(("xx", tier4)), s"xx doc expected in en-fallback tier $tier4: $got")
    assert(got(("xx", tier4))._1 == 1L)
  }

  test("q74: CCNet tiers match a full Scala recount of the unigram LM; log2 approx within bound") {
    import graft.queries.TrainingOps
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def tokens(t: String): Array[String] = t.split(" ").filter(_.nonEmpty)
    val refToks = docs.filter(_._1 % 20 == 0)
      .flatMap { case (_, l, t) => tokens(t).map(l -> _) }
    val counts = refToks.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val vocab = counts.filter(_._2 >= TrainingOps.PplMinCnt)
    val totals = refToks.groupBy(_._1).map { case (l, v) => l -> v.length.toLong }
    def surp(q: Long): Long = {
      val b = 63 - java.lang.Long.numberOfLeadingZeros(q)
      b * 1024L + q * 1024L / (1L << b) - 1024L
    }
    var maxErr = 0.0
    val scored = docs.filter(_._1 % 20 != 0).flatMap { case (id, l, t) =>
      val tk = tokens(t)
      if (tk.isEmpty) None else {
        val ssum = tk.map { w =>
          val q = 1024L * totals(l) / vocab.getOrElse((l, w), 1L)
          maxErr = math.max(maxErr,
            math.abs(surp(q) / 1024.0 - math.log(q.toDouble) / math.log(2)))
          surp(q)
        }.sum
        Some((l, 1000L * ssum / tk.length, tk.length.toLong))
      }
    }
    // the integer piecewise-linear log2 stays within its documented bound
    assert(maxErr <= 0.0871, s"log2 approx error $maxErr exceeds the scaladoc bound")
    def tier(l: String, s: Long): String = {
      val (p30, p70) = TrainingOps.PplCutoffs.getOrElse(l, TrainingOps.PplCutoffs("en"))
      if (s < p30) "head" else if (s < p70) "middle" else "tail"
    }
    val expected = scored.groupBy { case (l, s, _) => (l, tier(l, s)) }
      .map { case (k, rs) =>
        k -> (rs.length.toLong, rs.map(_._3).sum, rs.map(_._2).sum,
          rs.map(_._2).min, rs.map(_._2).max)
      }
    val got = SparkEntry.queries("q74_perplexity_buckets")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got == expected, s"tier mismatch: got=${got.keySet} expected=${expected.keySet}")
    // CCNet tier semantics hold in the output itself: within a language,
    // every head doc scores strictly below every middle doc, which
    // scores strictly below every tail doc
    got.keys.map(_._1).toSeq.distinct.foreach { l =>
      for (Seq(lo, hi) <- Seq("head", "middle", "tail").sliding(2)) {
        (got.get((l, lo)), got.get((l, hi))) match {
          case (Some(a), Some(b)) => assert(a._5 < b._4, s"$l: $lo max >= $hi min")
          case _ => ()
        }
      }
    }
  }

  test("KmvSketchAggregator: distinct min-k, bounded buffer, shard-merge ≡ global sketch") {
    val agg = graft.functions.MinKLongsAggregator(5, distinct = true)
    // duplicates are DROPPED (distinct = true, the one rule q63 does not set)
    val vals = Seq(9L, 3L, 7L, 3L, 100L, 1L, 50L, 2L, 8L, 4L, 1L, 2L)
    val buf = vals.foldLeft(agg.zero) { (b, v) =>
      val nb = agg.reduce(b, v); assert(nb.length <= 5); nb
    }
    assert(buf.toSeq == Seq(1L, 2L, 3L, 4L, 7L),
      "k smallest DISTINCT values, sorted ascending")
    // KMV mergeability: folding per-shard sketches reconstructs the
    // global sketch exactly — the property that makes map-side partial
    // aggregation (and federated sketch union) lossless
    val shards = vals.grouped(3).map(_.foldLeft(agg.zero)(agg.reduce)).toSeq
    val merged = shards.foldLeft(agg.zero)(agg.merge)
    assert(merged.toSeq == vals.distinct.sorted.take(5))
    // under-full sketch IS the distinct set
    assert(Seq(6L, 5L, 6L).foldLeft(agg.zero)(agg.reduce).toSeq == Seq(5L, 6L))
  }

  test("q84: under-full sketches estimate exactly; full sketches carry the k-th distinct min") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-q84").toString
    // cell (en, small): 3 distinct tokens < k=64 → n_est must equal
    // n_exact by the under-full rule; cell (en, big): 200 distinct
    // tokens > k → sketch full, kth_min = 64th smallest distinct hash
    val small = (0L, "a b c a b", "en", "small")
    val big = (1L, (1 to 200).map(i => s"w$i").mkString(" "), "en", "big")
    Seq(small, big).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$tmp/documents.parquet")
    val rows = SparkEntry.queries("q84_kmv_distinct")(spark, tmp).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val (exS, szS, _, estS) = rows("small")
    assert(exS == 3L && szS == 3L && estS == 3L, s"under-full cell: ${rows("small")}")
    val (exB, szB, kthB, estB) = rows("big")
    assert(exB == 200L && szB == 64L, s"full cell shape: ${rows("big")}")
    // kth_min recomputed definitionally from the same hash
    val hashes = (1 to 200).map { i =>
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"w$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }.distinct.sorted
    assert(kthB == hashes(63), "k-th smallest distinct hash")
    assert(estB == (BigInt(63) * (BigInt(1) << 60) / hashes(63)).toLong,
      "estimator arithmetic is the exact integer formula")
  }

  test("q85: CMS never underestimates, and the sketch cells match a Scala rebuild") {
    val rows = SparkEntry.queries("q85_cms_heavy")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 20, "exactly the top-20 probe grams")
    rows.foreach { case (g, exact, est, over) =>
      assert(est >= exact, s"CMS one-sided error violated on '$g': $est < $exact")
      assert(over == est - exact, s"overcount column inconsistent on '$g'")
    }
    // rebuild the 4×1024 sketch in plain Scala from the corpus grams and
    // re-read the probes: the min-over-rows estimate must match exactly
    val w = 1024L
    val grams = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("text")).collect().map(_.getString(0))
      .flatMap { t =>
        val tk = t.split(" ").filter(_.nonEmpty)
        tk.sliding(2).filter(_.length == 2).map(_.mkString(" "))
      }
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    grams.foreach { g =>
      val h = h60(g)
      (0 until 4).foreach { j =>
        val pos = (h % w + j * ((h / w) % w)) % w
        cells((j, pos)) = cells.getOrElse((j, pos), 0L) + 1L
      }
    }
    rows.foreach { case (g, _, est, _) =>
      val h = h60(g)
      val want = (0 until 4).map(j => cells((j, (h % w + j * ((h / w) % w)) % w))).min
      assert(est == want, s"sketch read mismatch on '$g': $est != $want")
    }
  }

  test("q86: targets are exact isqrt(n_lang·n_min), bounded by [n_min, n_lang], sample sizes match") {
    val sample = SparkEntry.queries("q86_temperature_mix")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val perLang = sample.groupBy(_._2)
    val nLang = perLang.map { case (l, rs) => l -> rs.head._3 }
    val nMin = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy(col("lang")).count().collect().map(_.getLong(1)).min
    perLang.foreach { case (l, rs) =>
      val target = rs.head._4
      val x = nLang(l) * nMin
      assert(target * target <= x && (target + 1) * (target + 1) > x,
        s"$l: target $target is not isqrt($x)")
      assert(target >= nMin && target <= nLang(l),
        s"$l: target $target outside [$nMin, ${nLang(l)}]")
      assert(rs.length.toLong == target, s"$l: sampled ${rs.length} != target $target")
      assert(rs.map(_._1).distinct.length == rs.length, s"$l: duplicate doc_ids")
    }
    // α = 0.5 compresses ratios by square root: a language 4× the size
    // of the smallest keeps ~2× the smallest's docs — monotone, never
    // inverted
    val byN = nLang.toSeq.sortBy(_._2)
    byN.sliding(2).foreach {
      case Seq((_, n1), (_, n2)) if n1 < n2 =>
        val (l1, l2) = (byN.find(_._2 == n1).get._1, byN.find(_._2 == n2).get._1)
        assert(perLang(l1).head._4 <= perLang(l2).head._4, "targets not monotone in n_lang")
      case _ => ()
    }
    // determinism: a second run selects the identical doc set
    val again = SparkEntry.queries("q86_temperature_mix")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(sample.toSet == again.toSet, "hash sampling must be reproducible")
  }

  test("q87: true median and p90 of every language fall in the reported sketch bins") {
    // the Scala twin of the pl2 // 128 binning
    def pl2(x: Long): Long = {
      val fl = 63 - java.lang.Long.numberOfLeadingZeros(x)
      fl * 1024 + (x * 1024 / (1L << fl)) - 1024
    }
    def bin(x: Long): Long = pl2(x) / 128
    val got = SparkEntry.queries("q87_log_histogram")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val byLang = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1))).filter(_._2 > 0)
      .groupBy(_._1).map { case (l, vs) => l -> vs.map(_._2).sorted }
    assert(got.keySet == byLang.keySet)
    byLang.foreach { case (l, sorted) =>
      val (n, p50, p90) = got(l)
      assert(n == sorted.length.toLong, s"$l: n_docs $n != ${sorted.length}")
      // the q-quantile value (position ceil(q·n), 1-based) must land in
      // the reported bin — the sketch's whole contract
      val median = sorted(((n + 1) / 2).toInt - 1)
      assert(bin(median) == p50, s"$l: median $median in bin ${bin(median)}, not $p50")
      val v90 = sorted((((9 * n + 9) / 10).toInt - 1).min(sorted.length - 1))
      assert(bin(v90) == p90, s"$l: p90 $v90 in bin ${bin(v90)}, not $p90")
      // bin resolution: any two values sharing a bin are within ~2^(1/8)
      // of each other (+ pl2's mantissa truncation) — the error bound a
      // reader converts a bin id back through
      sorted.groupBy(bin).values.foreach { vs =>
        assert(vs.max.toDouble / vs.min <= 1.2,
          s"$l: bin too wide: ${vs.min}..${vs.max}")
      }
    }
  }

  test("q88: sample is exactly the k smallest min-ticket keys, and is weight-biased") {
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).filter(_._2 > 0)
    // full Scala recount of every doc's sampling key
    val keys = docs.map { case (id, w) =>
      val t = math.min((w + 199) / 200, 32L).toInt
      (id, w, t, (1 to t).map(j => h60(s"$id:$j")).min)
    }
    val expected = keys.sortBy(k => (k._4, k._1)).take(100)
      .map(k => (k._1, k._2, k._3.toLong, k._4)).toSet
    val got = SparkEntry.queries("q88_weighted_sample")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected,
      s"sample differs from the definitional k-smallest recount: ${(got diff expected).take(3)}")
    // the whole point: more weight → more tickets → smaller expected min
    // key → over-representation of heavy docs vs a uniform sample
    val corpusMean = docs.map(_._2).sum.toDouble / docs.length
    val sampleMean = got.toSeq.map(_._2).sum.toDouble / got.size
    assert(sampleMean > corpusMean,
      s"weighted sample not biased: sample mean $sampleMean <= corpus mean $corpusMean")
    // determinism
    val again = SparkEntry.queries("q88_weighted_sample")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(again == got)
  }

  test("q86/q87/q88 survive degenerate corpora: single language, one-doc groups, fewer docs than k") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-degen").toString
    // 3 docs, ONE language, one of them empty (n_chars = 0)
    Seq((0L, "a b c", "en", "s1", 5L), (1L, "d e", "en", "s2", 3L),
        (2L, "", "en", "s3", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    // q86: single lang → n_min = n_lang → target = isqrt(n²) = n; every
    // doc keeps (α-sampling of a uniform corpus is the identity)
    val mix = SparkEntry.queries("q86_temperature_mix")(spark, tmp).collect()
    assert(mix.length == 3 && mix.forall(_.getLong(3) == 3L),
      s"single-language corpus must keep everything: ${mix.toSeq}")
    // q87: the zero-length doc is excluded, two docs bin; p50 ≤ p90 and
    // both bins exist
    val h = SparkEntry.queries("q87_log_histogram")(spark, tmp).collect()
    assert(h.length == 1 && h.head.getLong(1) == 2L)
    assert(h.head.getLong(2) <= h.head.getLong(3), "p50 bin above p90 bin")
    // q88: corpus smaller than k → the sample is every weighted doc
    val sm = SparkEntry.queries("q88_weighted_sample")(spark, tmp).collect()
    assert(sm.map(_.getLong(0)).toSet == Set(0L, 1L),
      s"sub-k corpus must return every weighted doc: ${sm.toSeq}")
    // q84: groups exist for all three sources; the zero-char doc's cell
    // has an EMPTY token set → sketch size 0, estimate 0, no crash
    val kv = SparkEntry.queries("q84_kmv_distinct")(spark, tmp).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(5))).toMap
    assert(kv("s1") == ((3L, 3L)) && kv("s2") == ((2L, 2L)), s"$kv")
    assert(!kv.contains("s3") || kv("s3")._1 == 0L,
      s"empty doc must yield an empty or absent cell, not a crash: $kv")
    // q89 on the same corpus: every vocabulary is under-full (< k), so
    // the sketch-algebra estimates are EXACT set arithmetic — the
    // provable no-approximation regime. s1 = {a,b,c}, s2 = {d,e}:
    // disjoint (jaccard 0, union 5, intersection 0).
    val j = SparkEntry.queries("q89_sketch_jaccard")(spark, tmp).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val (ku, ki, jac, un, in) = j(("s1", "s2"))
    assert((ku, ki, jac, un, in) == ((5L, 0L, 0L, 5L, 0L)),
      s"disjoint under-full vocabularies must estimate exactly: ${j(("s1", "s2"))}")
  }

  test("q89: estimators match a full Scala recount of the sketch algebra on every pair") {
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val k = 64
    val vocab = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (s, rs) =>
        s -> rs.flatMap(_._2.split(" ")).filter(_.nonEmpty).map(h60).toSet
      }
    val sketches = vocab.map { case (s, hs) => s -> hs.toSeq.sorted.take(k) }
    val got = SparkEntry.queries("q89_sketch_jaccard")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    val pairs = sketches.keys.toSeq.sorted.combinations(2).toSeq
    assert(got.size == pairs.size)
    pairs.foreach { case Seq(a, b) =>
      val (sa, sb) = (sketches(a), sketches(b))
      val m = (sa ++ sb).distinct.sorted.take(k)
      val ku = m.length.toLong
      val ki = m.count(h => sa.contains(h) && sb.contains(h)).toLong
      val unionEst =
        if (ku < k) ku
        else (BigInt(k - 1) * (BigInt(1) << 60) / m(k - 1)).toLong
      val want = (ku, ki, ki * 1000000L / ku, unionEst, ki * unionEst / ku)
      assert(got((a, b)) == want, s"($a,$b): ${got((a, b))} != $want")
      // sanity envelope on the semantics
      assert(want._3 <= 1000000L && want._5 <= want._4)
      // under-full closure: when the union sketch is under-full the
      // estimates are EXACT set cardinalities
      if (ku < k) {
        val exactU = (vocab(a) ++ vocab(b)).size.toLong
        val exactI = (vocab(a) intersect vocab(b)).size.toLong
        assert(want._4 == exactU && want._5 == exactI,
          s"($a,$b): under-full estimates must be exact")
      }
    }
  }

  test("q93 blocked linkage equals a full Scala recount (edit distance + blocking)") {
    // reference Levenshtein (classic DP) — pins Spark's levenshtein()
    // semantics, which the DuckDB twin must share for the hash match
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val cur = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      d(a.length)
    }
    val counts = Tables(spark, dir, "part").groupBy("p_name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- counts.keys; b <- counts.keys
      if a < b && a.split(' ').last == b.split(' ').last && lev(a, b) <= 3
    } yield (a, b, lev(a, b), counts(a), counts(b))).toSet
    val got = SparkEntry.queries("q93_record_linkage")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got.nonEmpty && got == want,
      s"missing: ${want -- got}; spurious: ${got -- want}")
  }

  test("q94 BPE merges equal a reference greedy-BPE trainer run in Scala") {
    // reference implementation of Sennrich et al.'s training loop:
    // weighted pair counts → argmax (ties: lexicographic) → greedy
    // left-to-right merge within each word
    val vocab0: Map[Vector[String], Long] = Tables(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("text")).collect()
      .flatMap(_.getString(0).split(' ').filter(w => w.nonEmpty && w.length >= 2))
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.length.toLong }
    def pairCounts(v: Map[Vector[String], Long]): Map[(String, String), Long] =
      v.toSeq.flatMap { case (syms, f) =>
        syms.zip(syms.tail).map(p => (p, f)) }
        .groupMapReduce(_._1)(_._2)(_ + _)
    def argmax(pc: Map[(String, String), Long]): ((String, String), Long) =
      pc.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
    def applyMerge(v: Map[Vector[String], Long], l: String, r: String): Map[Vector[String], Long] =
      v.map { case (syms, f) =>
        val out = syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
          else acc :+ x
        }
        out -> f
      } // distinct words stay distinct as sequences (merges only concatenate)
    var v = vocab0
    val want = (1 to 3).map { step =>
      val ((l, r), c) = argmax(pairCounts(v))
      v = applyMerge(v, l, r)
      (step, l, r, l + r, c)
    }
    val got = SparkEntry.queries("q94_bpe_merges")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3),
        r.getLong(4))).sortBy(_._1).toSeq
    assert(got == want, s"$got != $want")
  }

  test("q100: applied merges reproduce the reference tokenizer's corpus stats exactly") {
    // same reference trainer as the q94 test, run through the APPLY side
    val vocab0: Map[Vector[String], Long] = Tables(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("text")).collect()
      .flatMap(_.getString(0).split(' ').filter(w => w.nonEmpty && w.length >= 2))
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toVector -> ws.length.toLong }
    def pairCounts(v: Map[Vector[String], Long]): Map[(String, String), Long] =
      v.toSeq.flatMap { case (syms, f) =>
        syms.zip(syms.tail).map(p => (p, f)) }
        .groupMapReduce(_._1)(_._2)(_ + _)
    def applyMerge(v: Map[Vector[String], Long], l: String, r: String): Map[Vector[String], Long] =
      v.map { case (syms, f) =>
        syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
          else acc :+ x
        } -> f
      }
    var v = vocab0
    for (_ <- 1 to 3) {
      val (l, r) = pairCounts(v).toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
      v = applyMerge(v, l, r)
    }
    val before = vocab0.map { case (syms, f) => syms.length.toLong * f }.sum
    val after = v.map { case (syms, f) => syms.length.toLong * f }.sum
    val occ = v.toSeq.flatMap { case (syms, f) =>
      syms.filter(_.length >= 2).map(_ -> f) }.groupMapReduce(_._1)(_._2)(_ + _)
    val got = SparkEntry.queries("q100_bpe_apply")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSet == occ.keySet,
      s"symbols ${got.map(_._1).toSet} != ${occ.keySet}")
    got.foreach { case (sym, o, b, a) =>
      assert(o == occ(sym), s"$sym occurrences $o != ${occ(sym)}")
      assert(b == before && a == after, s"totals ($b,$a) != ($before,$after)")
    }
    // the merges actually compress the corpus symbolization
    assert(after < before)
  }
}
