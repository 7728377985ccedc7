package graft.bench

/** The benchmark's own unit checks: order statistics, metric names, the
  * JSON codec and input determinism. Exits non-zero on the first failure;
  * `perfbench/selftest.py` runs it and then the toy end-to-end runs. */
object SelfTest {
  private var failures = 0
  private def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Exception => System.err.println(e); false }
    println(s"${if (r) "ok  " else "FAIL"} $name")
    if (!r) failures += 1
  }
  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    check("median of odd and even samples") {
      close(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0) && close(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5)
    }
    check("percentile interpolates and hits the ends") {
      val xs = (1 to 11).map(_.toDouble)
      close(Stats.percentile(xs, 0), 1) && close(Stats.percentile(xs, 100), 11) &&
        close(Stats.percentile(xs, 90), 10) && close(Stats.percentile(Seq(1.0, 2.0), 75), 1.75)
    }
    check("percentile rejects an empty sample") {
      try { Stats.percentile(Nil, 50); false } catch { case _: IllegalArgumentException => true }
    }
    check("skew is max over median") { close(Stats.skew(Seq(1.0, 1.0, 4.0)), 4.0) }
    val name = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
    check("every per-layer metric name and unit is well formed") {
      Layers.Names.forall { case (n, u) => n.matches(name) && u.matches("[A-Za-z0-9_/%.-]{1,16}") } &&
        Layers.Names.map(_._1).distinct.length == Layers.Names.length
    }
    check("flat JSON round-trips") {
      val m = Map("a/b" -> "1:2", "q\"uote" -> "x\ny", "u" -> "\u0001")
      Json.parseFlat(Json.flat(m)) == m
    }
    check("result JSON encodes nested values") {
      Json.encode(Map("x" -> List[Any](1, 2.5), "n" -> Double.NaN)) == """{"x":[1,2.5],"n":null}"""
    }

    val spark = PerfBench.session(args.headOption.getOrElse("perfbench/.work/selftest"))
    try {
      val shape = Inputs.CorpusShape(short = 12, medium = 2, pdf = 1)
      def fp(seed: Long) = Inputs.fingerprint(Inputs.corpusRows(spark, seed, 1, shape,
        Seq(0 -> Seq(Inputs.probePhrase(seed, "t")))))
      check("the same seed gives the same corpus fingerprint") { fp(7) == fp(7) }
      check("another seed gives another corpus fingerprint") { fp(7) != fp(8) }
      check("the corpus has its duplicates and probe") {
        val raw = Inputs.corpusRows(spark, 7, 1, shape, Seq(0 -> Seq(Inputs.probePhrase(7, "t"))))
        val e = Inputs.corpusExpectations(raw)(0)
        e("rows") == shape.unique + shape.dups && e("distinct") == shape.unique &&
          raw.filter(org.apache.spark.sql.functions.col("page_content") === Inputs.probePhrase(7, "t"))
            .count() == 1
      }
      check("suite result hash ignores row order and float noise") {
        import spark.implicits._
        val a = Seq((1L, 0.1 + 0.2), (2L, 1.0)).toDF("k", "v")
        val b = Seq((2L, 1.0), (1L, 0.3)).toDF("k", "v")
        SuiteHeavy.resultHash(a) == SuiteHeavy.resultHash(b) &&
          SuiteHeavy.resultHash(a) != SuiteHeavy.resultHash(a.limit(1))
      }
    } finally PerfBench.stop(spark)
    if (failures > 0) { System.err.println(s"$failures self-test check(s) failed"); sys.exit(1) }
  }
}
