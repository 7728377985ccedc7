package graft.bench

/** Order statistics used by every metric. */
object Stats {
  /** Linear-interpolated percentile (`p` in 0..100) of a non-empty
    * sample, the numpy/"inclusive" definition: p0 = min, p100 = max. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** max ÷ median of a non-empty sample of non-negative values; 1 when
    * the median is 0. */
  def skew(xs: Seq[Double]): Double = {
    val m = median(xs)
    if (m <= 0) 1.0 else xs.max / m
  }
}

/** Minimal JSON: the nested encoder for the result and artifact lines, and
  * the flat string-map codec for `meta.json` / `expected.json`. */
object Json {
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Encode Maps (insertion order kept for ListMap/LinkedHashMap), Seqs,
    * numbers, booleans, strings and None/null. Non-finite doubles become
    * null: JSON has no NaN. */
  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => encode(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigDecimal => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(encode).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(encode).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def flat(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => "  " + quote(k) + ": " + quote(v) }
      .mkString("{\n", ",\n", "\n}\n")

  /** Parse a flat JSON object whose values are all strings. */
  def parseFlat(s: String): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = s.indexOf('{') + 1
    def skipWs(): Unit = while (i < s.length && (s(i).isWhitespace || s(i) == ',')) i += 1
    def str(): String = {
      require(s(i) == '"', s"expected a string at offset $i")
      i += 1
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'u' => sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar); i += 4
            case c => sb.append(c)
          }
        } else sb.append(s(i))
        i += 1
      }
      i += 1
      sb.toString
    }
    skipWs()
    while (i < s.length && s(i) != '}') {
      val k = str()
      while (s(i) != ':') i += 1
      i += 1
      while (s(i).isWhitespace) i += 1
      out += k -> str()
      skipWs()
    }
    out.result()
  }
}
