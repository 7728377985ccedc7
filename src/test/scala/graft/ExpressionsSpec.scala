package graft

import graft.functions.{TextFunctions, VectorFunctions}
import graft.plans.{GraftExpressions, TopKRows}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native Catalyst expressions: bit-equality with the HOF forms and the
  * SQL generator surface. */
class ExpressionsSpec extends AnyFunSuite with LocalSpark {

  test("native cosine_sim is bit-identical to the HOF cosine") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("va")).filter(col("ia") < 40)
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("vb")).filter(col("ib") >= 40 && col("ib") < 80)
    val both = a.crossJoin(b).select(
      VectorFunctions.cosine("va", "vb").as("hof"),
      GraftExpressions.cosineSimNative(col("va"), col("vb")).as("native"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(0) == r.getDouble(1)),
      "native codegen cosine must be bit-equal to HOF cosine")
  }

  test("norm-precomputed dot_product cosine is bit-identical to cosine_sim (q25 form)") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .withColumn("nrm", sqrt(expr(VectorFunctions.sumsqExpr("embedding"))))
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("va"), col("nrm").as("na"))
      .filter(col("ia") < 40)
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("vb"), col("nrm").as("nb"))
      .filter(col("ib") >= 40 && col("ib") < 80)
    val rows = a.crossJoin(b).select(
      (GraftExpressions.dotNative(col("va"), col("vb")) / (col("na") * col("nb"))).as("split"),
      GraftExpressions.cosineSimNative(col("va"), col("vb")).as("fused"),
      VectorFunctions.cosineHof("va", "vb").as("hof")).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(0) == r.getDouble(1) && r.getDouble(1) == r.getDouble(2)),
      "per-row-norm cosine must be bit-equal to the fused and HOF forms")
  }

  test("native dot_product returns NULL on ragged lengths (zip_with parity)") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f)), (Array(3f, 4f), Array(5f, 6f)))
      .toDF("va", "vb")
    val rows = df.select(GraftExpressions.dotNative(col("va"), col("vb")).as("d")).collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).getDouble(0) == 39.0)
  }

  test("native cosine_sim returns NULL on ragged lengths (zip_with parity)") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(1f, 2f)), (Array(1f, 2f), Array(1f, 2f)))
      .toDF("va", "vb")
    val rows = df.select(
      GraftExpressions.cosineSimNative(col("va"), col("vb")).as("native"),
      VectorFunctions.cosineHof("va", "vb").as("hof")).collect()
    // ragged pair: both forms NULL
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    // equal-length pair: both defined and equal
    assert(!rows(1).isNullAt(0) && rows(1).getDouble(0) == rows(1).getDouble(1))
  }

  test("native lsh_keys matches the HOF sign-bit keys bit-for-bit") {
    import graft.queries.VectorOps
    val e = Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val hof = e.select(col("vec_id") +: VectorOps.lshKeyCols: _*).collect()
      .map(r => r.getLong(0) -> (1 to VectorOps.LshTables).map(r.getLong)).toMap
    val nat = e.select(col("vec_id"),
        GraftExpressions.lshKeys(col("embedding"),
          VectorOps.LshTables, VectorOps.LshBits, VectorOps.LshMult).as("ks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(nat.keySet == hof.keySet && nat.nonEmpty)
    hof.foreach { case (id, ks) => assert(nat(id) == ks, s"keys differ for vec $id") }
  }

  test("lsh_keys degenerate inputs (short array, null element) yield all-zero keys") {
    import spark.implicits._
    val short = Seq(Tuple1(Array.fill(10)(1f))).toDF("embedding")
      .select(GraftExpressions.lshKeys(col("embedding"), 8, 6, 69621L).as("ks"))
    assert(short.head.getSeq[Long](0) == Seq.fill(8)(0L))
    // null element among the first 64 dims -> HOF plane sums null -> keys 0
    val withNull = spark.sql(
      "SELECT transform(sequence(1, 64), i -> IF(i = 5, CAST(NULL AS FLOAT), CAST(1.0 AS FLOAT))) AS embedding")
      .select(GraftExpressions.lshKeys(col("embedding"), 8, 6, 69621L).as("ks"))
    assert(withNull.head.getSeq[Long](0) == Seq.fill(8)(0L))
    // a NULL embedding itself: HOF's element_at(NULL, d) nulls every plane
    // sum -> all-zero keys; the native expression must match, NOT return
    // NULL (UnaryExpression's default null propagation would) — both the
    // interpreted eval and the codegen path
    val nullEmb = spark.sql("SELECT CAST(NULL AS ARRAY<FLOAT>) AS embedding")
    val natNull = nullEmb
      .select(GraftExpressions.lshKeys(col("embedding"), 8, 6, 69621L).as("ks"))
    assert(!natNull.head.isNullAt(0), "lsh_keys(NULL) must not be NULL")
    assert(natNull.head.getSeq[Long](0) == Seq.fill(8)(0L))
    import graft.queries.VectorOps
    val hofNull = nullEmb.select(VectorOps.lshKeyCols: _*).head
    assert((0 until 8).map(hofNull.getLong) == Seq.fill(8)(0L),
      "HOF twin changed its NULL semantics")
  }

  test("lsh_probe_keys at bits <= probes equals full Hamming-1 of lsh_keys") {
    import graft.queries.VectorOps
    val e = Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val rows = e.select(col("vec_id"),
        GraftExpressions.lshKeys(col("embedding"),
          VectorOps.LshTables, VectorOps.LshBits, VectorOps.LshMult).as("ks"),
        GraftExpressions.lshProbeKeys(col("embedding"),
          VectorOps.LshTables, VectorOps.LshBits, VectorOps.MaxProbes,
          VectorOps.LshMult).as("ps"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ks = r.getSeq[Long](1)
      val ps = r.getSeq[scala.collection.Seq[Long]](2).map(_.toSeq)
      assert(ps.length == VectorOps.LshTables)
      ks.zip(ps).foreach { case (k, probes) =>
        assert(probes.head == k, "first probe must be the exact key")
        assert(probes.length == 1 + VectorOps.LshBits)
        val hamming1 = Set(k) ++ (0 until VectorOps.LshBits).map(b => k ^ (1L << b))
        assert(probes.toSet == hamming1,
          s"bits<=probes must flip every plane (vec ${r.getLong(0)})")
      }
    }
  }

  test("lsh_probe_keys at bits > probes flips exactly the lowest-|margin| planes") {
    import graft.queries.VectorOps
    val tables = 2; val bits = 12; val probes = 4
    // replicate the plane arithmetic (same formula and sequential
    // accumulation order as LshKeys/LshProbeKeys/the DuckDB twin)
    def planeDot(p: Int, v: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < 64) {
        val d = i + 1
        val h = ((p.toLong * 131071L + d.toLong * 8191L) % 524287L) * VectorOps.LshMult % 1000003L % 1000L
        acc += ((h.toDouble - 499.5) / 1000.0) * v(i).toDouble
        i += 1
      }
      acc
    }
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings").filter(col("vec_id") < 25)
    val rows = e.select(col("vec_id"), col("embedding"),
        GraftExpressions.lshProbeKeys(col("embedding"), tables, bits, probes,
          VectorOps.LshMult).as("ps"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      val ps = r.getSeq[scala.collection.Seq[Long]](2).map(_.toSeq)
      (0 until tables).foreach { t =>
        val dots = (0 until bits).map(b => planeDot(t * bits + b, v))
        val key = dots.zipWithIndex.map { case (dt, b) => if (dt >= 0.0) 1L << b else 0L }.sum
        val expectFlips = dots.zipWithIndex.map { case (dt, b) => (math.abs(dt), b) }
          .sorted.take(probes).map { case (_, b) => key ^ (1L << b) }
        assert(ps(t) == key +: expectFlips,
          s"probe set must be exact key + ${probes} lowest-margin flips in selection order (vec ${r.getLong(0)} table $t)")
      }
    }
  }

  test("lsh_probe_keys survives NaN components: key 0, flips by plane index") {
    // A NaN component makes every plane dot NaN. The sign tests fail
    // (key 0, matching lsh_keys) and NaN margins must rank after every
    // finite margin with index-ascending ties — a plain argmin over NaN
    // picks nothing and crashes; this pins the guarded selection in both
    // the interpreted and codegen paths.
    val nan = spark.sql(
      "SELECT transform(sequence(1, 64), i -> IF(i = 7, CAST('NaN' AS FLOAT), CAST(0.5 AS FLOAT))) AS embedding")
    val ps = nan.select(GraftExpressions.lshProbeKeys(col("embedding"), 2, 6, 3, 69621L).as("ps"))
      .head.getSeq[scala.collection.Seq[Long]](0).map(_.toSeq)
    // all-NaN margins: lowest plane indices flip first -> keys 1, 2, 4
    assert(ps == Seq(Seq(0L, 1L, 2L, 4L), Seq(0L, 1L, 2L, 4L)))
    // construction-time validation of the config arguments
    val bad = intercept[IllegalArgumentException] {
      graft.plans.LshProbeKeys(
        org.apache.spark.sql.GraftBridge.expression(col("embedding")), 8, 6, -1, 69621L)
    }
    assert(bad.getMessage.contains("probes >= 0"), bad.getMessage)
  }

  test("lsh_probe_keys degenerate inputs emit exact-key-only [0] per table") {
    import spark.implicits._
    val short = Seq(Tuple1(Array.fill(10)(1f))).toDF("embedding")
      .select(GraftExpressions.lshProbeKeys(col("embedding"), 8, 6, 8, 69621L).as("ps"))
    assert(short.head.getSeq[scala.collection.Seq[Long]](0).map(_.toSeq) ==
      Seq.fill(8)(Seq(0L)))
    val nullEmb = spark.sql("SELECT CAST(NULL AS ARRAY<FLOAT>) AS embedding")
      .select(GraftExpressions.lshProbeKeys(col("embedding"), 8, 6, 8, 69621L).as("ps"))
    assert(!nullEmb.head.isNullAt(0), "lsh_probe_keys(NULL) must not be NULL")
    assert(nullEmb.head.getSeq[scala.collection.Seq[Long]](0).map(_.toSeq) ==
      Seq.fill(8)(Seq(0L)))
  }

  test("lsh_keys SQL form rejects non-constant config arguments with a clear error") {
    GraftExpressions.register(spark)
    Tables(spark, "/root/testdata/sf0.001", "embeddings").limit(3).createOrReplaceTempView("emb_e")
    val ex = intercept[Exception] {
      spark.sql("SELECT lsh_keys(embedding, vec_id, 6, 69621) FROM emb_e").collect()
    }
    assert(ex.getMessage.contains("must be a constant integer"), ex.getMessage)
  }

  test("native cosine participates in whole-stage codegen") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val df = e.select(GraftExpressions.cosineSimNative(col("embedding"), col("embedding")).as("c"))
    // the "*(n)" prefix marks a WholeStageCodegen stage containing the projection
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("cosine_sim"),
      s"plan lacks codegen span:\n$plan")
    assert(df.collect().forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("chunk_text generator works via SQL LATERAL VIEW") {
    GraftExpressions.register(spark)
    Tables(spark, "/root/testdata/sf0.001", "documents").limit(50).createOrReplaceTempView("docs_g")
    val out = spark.sql(
      """SELECT doc_id, chunk_id, chunk
        |FROM docs_g LATERAL VIEW chunk_text(text, 120, 12) t AS chunk_id, chunk""".stripMargin)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("chunk").length <= 120))
    // generator output matches the UDF chunker exactly
    val viaUdf = Tables(spark, "/root/testdata/sf0.001", "documents").limit(50)
      .select(col("doc_id"), posexplode(TextFunctions.chunkTextUdf(col("text"), lit(120), lit(12))))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val viaGen = rows.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(viaGen == viaUdf)
  }

  test("GraftSparkExtensions injects the SQL functions at session build") {
    import org.apache.spark.sql.SparkSession
    // force a fresh SparkSession (same SparkContext) so the extensions
    // configured at build time actually apply
    val prev = spark
    // in-JVM we must use the programmatic builder hook (the
    // spark.sql.extensions conf is read only when the SparkContext is
    // built, i.e. on a fresh JVM / real cluster); same injector class
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .withExtensions(new graft.plans.GraftSparkExtensions())
        .config("spark.ui.enabled", "false").getOrCreate()
      Tables(s2, "/root/testdata/sf0.001", "embeddings").limit(5).createOrReplaceTempView("emb_x")
      val r = s2.sql(
        """SELECT cosine_sim(embedding, embedding) AS c,
          |       lsh_keys(embedding, 8, 6, 69621) AS ks
          |FROM emb_x""".stripMargin).collect()
      assert(r.nonEmpty)
      assert(r.forall(x => math.abs(x.getDouble(0) - 1.0) < 1e-12))
      assert(r.forall(_.getSeq[Long](1).length == 8))
      Tables(s2, "/root/testdata/sf0.001", "documents").limit(5).createOrReplaceTempView("docs_x")
      val chunks = s2.sql(
        "SELECT chunk FROM docs_x LATERAL VIEW chunk_text(text, 200, 20) t AS chunk_id, chunk")
        .collect()
      assert(chunks.nonEmpty && chunks.forall(_.getString(0).length <= 200))
    } finally {
      SparkSession.setActiveSession(prev); SparkSession.setDefaultSession(prev)
    }
  }

  test("registered cosine_sim SQL function resolves and computes") {
    GraftExpressions.register(spark)
    Tables(spark, "/root/testdata/sf0.001", "embeddings").limit(10).createOrReplaceTempView("emb_g")
    val r = spark.sql("SELECT cosine_sim(embedding, embedding) AS c FROM emb_g").collect()
    assert(r.forall(x => math.abs(x.getDouble(0) - 1.0) < 1e-12))
  }

  test("native distinct_shingles equals the UDF form on the corpus (order included)") {
    // round-15 task 4: the near-dup family's per-row shingle kernel moved
    // from a Scala UDF to the codegen-native byte-level expression; the
    // retired UDF stays in TextFunctions as this spec's independent twin.
    // Arrays compared ELEMENTWISE, so first-occurrence dedup order is
    // pinned too (minhash/jaccard are order-insensitive, but identical
    // output means no consumer can ever drift).
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val both = docs.select(
      TextFunctions.shinglesUdf(col("text"), lit(3)).as("viaUdf"),
      GraftExpressions.distinctShingles(col("text"), 3).as("native"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getSeq[String](0) == r.getSeq[String](1)),
      "native shingles must equal the UDF output elementwise")
  }

  test("distinct_shingles adversarial inputs match the UDF: null, empties, dups, short") {
    import spark.implicits._
    val cases = Seq(
      null.asInstanceOf[String],
      "", " ", "   ",
      "a", "a b", "a b c",                      // below/at the n=3 boundary
      "a b c d",                                // two overlapping shingles
      "x y z x y z x y z",                      // within-doc duplicate shingles
      "  double  spaces   between   tokens  ",  // empty-token filtering
      "tab\tis not a separator here",           // 0x20 ONLY splits
      "unicode héllo wörld ünïcode héllo wörld ünïcode", // multibyte + dup
      "a b c a b c d")                          // dup then novel tail
    val df = cases.toDF("text").select(
      TextFunctions.shinglesUdf(col("text"), lit(3)).as("viaUdf"),
      GraftExpressions.distinctShingles(col("text"), 3).as("native"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"mismatch: udf=${r.getSeq[String](0)} native=${r.getSeq[String](1)}")
    }
    // interpreted eval path (e.g. under a non-codegen parent) agrees too
    GraftExpressions.register(spark)
    val viaSql = cases.toDF("text")
      .selectExpr("distinct_shingles(text, 3) AS s").collect().map(_.getSeq[String](0))
    val viaUdf = cases.map(t => TextFunctions.shingles(t, 3).toSeq)
    assert(viaSql.toSeq == viaUdf)
  }

  test("distinct_shingles participates in whole-stage codegen") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val df = docs.select(GraftExpressions.distinctShingles(col("text"), 3).as("arr"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("distinct_shingles"),
      s"shingle projection fell out of whole-stage codegen:\n$plan")
    assert(df.collect().nonEmpty)
  }

  test("sq8_upper_cos is a SOUND upper bound on exact cosine over the corpus") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("va"),
      GraftExpressions.sq8Blob(col("embedding")).as("ba")).filter(col("ia") < 60)
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("vb"),
      GraftExpressions.sq8Blob(col("embedding")).as("bb"))
      .filter(col("ib") >= 60 && col("ib") < 120)
    val rows = a.crossJoin(b).select(
      GraftExpressions.cosineSimNative(col("va"), col("vb")).as("exact"),
      GraftExpressions.sq8UpperCos(col("ba"), col("bb")).as("upper")).collect()
    assert(rows.length == 3600)
    // soundness: upper >= exact for EVERY pair (the lossless-filter
    // guarantee), and the bound is tight enough to filter (mean slack
    // well under the 0.45-threshold scale)
    assert(rows.forall(r => r.getDouble(1) >= r.getDouble(0)),
      "sq8_upper_cos fell below the exact cosine — the pre-filter would drop true pairs")
    val slack = rows.map(r => r.getDouble(1) - r.getDouble(0))
    assert(slack.sum / slack.length < 0.1,
      s"bound too loose to filter: mean slack ${slack.sum / slack.length}")
  }

  test("sq8 expressions: eval/codegen parity, degenerate inputs") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1f, -2f, 3f, -4f)),
      (2L, Array(0f, 0f, 0f, 0f)),   // zero vector: codes 0, NaN upper
      (3L, Array(1e-30f, 2e-30f, -1e-30f, 0f)), // tiny but nonzero norms
      (4L, Array(127f, -127f, 64f, 1f))
    ).toDF("id", "v")
      .withColumn("blob", GraftExpressions.sq8Blob(col("v")))
    val a = df.select(col("id").as("ia"), col("v").as("va"), col("blob").as("ba"))
    val b = df.select(col("id").as("ib"), col("v").as("vb"), col("blob").as("bb"))
    val pairs = a.crossJoin(b)
      .select(col("ia"), col("ib"),
        GraftExpressions.cosineSimNative(col("va"), col("vb")).as("exact"),
        GraftExpressions.sq8UpperCos(col("ba"), col("bb")).as("upper"))
      .collect()
    pairs.foreach { r =>
      val exact = if (r.isNullAt(2)) Double.NaN else r.getDouble(2)
      val upper = if (r.isNullAt(3)) Double.NaN else r.getDouble(3)
      if (!exact.isNaN) {
        assert(!upper.isNaN && upper >= exact,
          s"pair (${r.getLong(0)},${r.getLong(1)}): upper $upper < exact $exact")
      } else
        // zero-norm side: both the filter (NaN/never > t) and the exact
        // confirm (NaN) drop the pair — consistent
        assert(upper.isNaN)
    }
    // interpreted eval parity with the codegen'd path
    val blob = graft.plans.Sq8Blob.pack(Array(1f, -2f, 3f, -4f))
    val blob2 = graft.plans.Sq8Blob.pack(Array(127f, -127f, 64f, 1f))
    val direct = graft.plans.Sq8UpperCos.upper(blob, blob2)
    val viaDf = pairs.find(r => r.getLong(0) == 1L && r.getLong(1) == 4L).get.getDouble(3)
    assert(direct == viaDf, "eval vs codegen drifted for sq8_upper_cos")
    // ragged blobs are NULL, matching the confirm's ragged-cosine NULL
    val ragged = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("x", "y")
      .select(GraftExpressions.sq8UpperCos(
        GraftExpressions.sq8Blob(col("x")), GraftExpressions.sq8Blob(col("y"))).as("u"))
      .collect()
    assert(ragged.head.isNullAt(0))
  }

  test("top_k_rows equals the row_number window top-k (q07's bounded-heap form)") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // deterministic data with DUPLICATE scores inside groups (the
    // tiebreak column must decide) and more groups than one partition
    val rows = (0 until 2000).map { i =>
      val g = s"g${i % 7}"
      val score = ((i * 37) % 50).toDouble / 4.0 // many exact duplicates
      val id = (i * 13 % 2000).toLong // unique within the dataset
      (g, score, id)
    }
    // 8 partitions so partial heaps MERGE across the exchange (exercises
    // serialize/deserialize and the merge path, not just update/eval)
    val df = rows.toDF("g", "score", "id").repartition(8)
    for (k <- Seq(1, 3, 5)) {
      val win = Window.partitionBy(col("g"))
        .orderBy(col("score").desc, col("id").asc)
      val expected = df.withColumn("rk", row_number().over(win))
        .filter(col("rk") <= k)
        .select(col("g"), col("id"), col("score"), col("rk"))
      val got = TopKRows.perGroup(df, Seq("g"), Seq(col("score").desc, col("id").asc), k, "rk")
        .select(col("g"), col("id"), col("score"), col("rk"))
      assert(got.schema == expected.schema, s"k=$k schema drifted")
      assert(expected.exceptAll(got).count() == 0 && got.exceptAll(expected).count() == 0,
        s"k=$k: bounded-heap top-k must equal the window top-k")
    }
    // string tiebreak (the q46 ordering shape): (score desc, word asc)
    val sdf = (0 until 500).map { i =>
      (i % 11L, ((i * 7) % 13).toDouble, s"w${(i * 31) % 500}%03d")
    }.toDF("doc", "score", "word").repartition(8)
    val win2 = Window.partitionBy(col("doc"))
      .orderBy(col("score").desc, col("word").asc)
    val exp2 = sdf.withColumn("rk", row_number().over(win2)).filter(col("rk") <= 3)
      .select(col("doc"), col("word"), col("rk"))
    val got2 = TopKRows.perGroup(sdf, Seq("doc"), Seq(col("score").desc, col("word").asc), 3, "rk")
      .select(col("doc"), col("word"), col("rk"))
    assert(exp2.exceptAll(got2).count() == 0 && got2.exceptAll(exp2).count() == 0,
      "string-tiebreak bounded-heap top-k must equal the window top-k")
  }

  test("TopKRows.perGroup equals the row_number window on NULL, NaN, ±Inf, -0.0 and tie keys") {
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.expressions.Window
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.Prop.propBoolean
    import spark.implicits._
    // (group, score, long tiebreak, string tiebreak); both tiebreaks are
    // unique, so each window order is total and its top-k deterministic
    final case class Case(rows: Seq[(Option[String], Option[Double], Long, String)],
                          order: Int, byName: Boolean, tieDesc: Boolean, keyed: Boolean, k: Int)
    val orders: Seq[(String, Column => Column)] = Seq(
      "asc" -> (_.asc), "asc_nulls_last" -> (_.asc_nulls_last),
      "desc" -> (_.desc), "desc_nulls_first" -> (_.desc_nulls_first))
    val score = Gen.oneOf(None, Some(Double.NaN), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity), Some(0.0), Some(-0.0), Some(1.5), Some(-2.0))
    val cases = for {
      n <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, 40))
      groups <- Gen.listOfN(n, Gen.oneOf(None, Some("a"), Some("b"), Some("c")))
      scores <- Gen.listOfN(n, score)
      order <- Gen.choose(0, orders.length - 1)
      byName <- Gen.oneOf(false, true)
      tieDesc <- Gen.oneOf(false, true)
      keyed <- Gen.frequency(3 -> true, 1 -> false)
      k <- Gen.choose(1, 12)
    } yield Case(groups.zip(scores).zipWithIndex.map { case ((g, sc), i) =>
      (g, sc, (i * 37 % 101) - 50L, f"w${i * 53 % 101}%03d")
    }, order, byName, tieDesc, keyed, k)

    val covered = scala.collection.mutable.Set[String]()
    def note(c: Case): Unit = {
      val groups = if (c.keyed) c.rows.groupBy(_._1).values.toSeq else Seq(c.rows)
      val scores = c.rows.flatMap(_._2)
      covered ++= Seq(
        "NULL score" -> c.rows.exists(_._2.isEmpty),
        "NaN" -> scores.exists(_.isNaN),
        "+Inf" -> scores.contains(Double.PositiveInfinity),
        "-Inf" -> scores.contains(Double.NegativeInfinity),
        "-0.0 with 0.0" -> groups.exists { g =>
          val z = g.flatMap(_._2).filter(_ == 0.0).map(java.lang.Double.doubleToRawLongBits)
          z.distinct.size == 2
        },
        "exact tie" -> groups.exists(g => g.flatMap(_._2).filterNot(_.isNaN)
          .groupBy(identity).exists(_._2.size > 1)),
        "NULL group key" -> (c.keyed && c.rows.exists(_._1.isEmpty)),
        "k larger than a group" -> groups.exists(g => g.nonEmpty && g.size < c.k),
        "empty frame" -> c.rows.isEmpty,
        "no keys" -> !c.keyed,
        (if (c.byName) "string tiebreak" else "long tiebreak") -> true,
        orders(c.order)._1 -> true
      ).collect { case (f, true) => f }
    }
    def render(d: DataFrame): Seq[String] =
      d.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

    val prop = Prop.forAllNoShrink(cases) { c =>
      note(c)
      // 8 partitions: partial heaps merge across the exchange
      val df = c.rows.toDF("g", "score", "id", "name").repartition(8)
      val tie = col(if (c.byName) "name" else "id")
      val order = Seq(orders(c.order)._2(col("score")), if (c.tieDesc) tie.desc else tie.asc)
      val keys = if (c.keyed) Seq("g") else Nil
      val want = df.withColumn("r", row_number().over(
          Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
        .filter(col("r") <= c.k)
      val got = TopKRows.perGroup(df, keys, order, c.k, "r")
      (got.schema == want.schema && render(got) == render(want)) :| s"$c"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(40)
      .withInitialSeed(20261019L).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
    val all = Set("NULL score", "NaN", "+Inf", "-Inf", "-0.0 with 0.0", "exact tie",
      "NULL group key", "k larger than a group", "empty frame", "no keys",
      "string tiebreak", "long tiebreak") ++ orders.map(_._1)
    assert(all.subsetOf(covered), s"the seed no longer covers ${all -- covered}")
  }
}
