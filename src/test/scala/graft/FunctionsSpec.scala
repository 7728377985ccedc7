package graft

import graft.functions.{Reliability, TextFunctions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Scalar-function and IO-edge coverage: urljoin RFC cases, sanitize,
  * html strip, canonical hash, contact cleaner, quarantine split,
  * JSON array read (S1) / JSON write round-trip (S2). */
class FunctionsSpec extends AnyFunSuite with LocalSpark {

  test("urljoin handles RFC-3986 relative reference cases") {
    val base = "https://kttv.gov.vn/a/b/c.html"
    assert(TextFunctions.urljoin(base, "d.html") == "https://kttv.gov.vn/a/b/d.html")
    assert(TextFunctions.urljoin(base, "/root.html") == "https://kttv.gov.vn/root.html")
    assert(TextFunctions.urljoin(base, "../up.html") == "https://kttv.gov.vn/a/up.html")
    assert(TextFunctions.urljoin(base, "https://other.example/x") == "https://other.example/x")
    assert(TextFunctions.urljoin(base, "//cdn.example/y") == "https://cdn.example/y")
    assert(TextFunctions.urljoin(base, "") == base)
  }

  test("sanitizeName mirrors the reference's object naming (F6)") {
    assert(TextFunctions.sanitizeName("https://kttv.gov.vn/upload/x/report.pdf", ".json")
      == "kttv.gov.vn_upload_x_report.json")
    assert(TextFunctions.sanitizeName("https://kttv.gov.vn/tin-tuc", "_chunked.json")
      == "kttv.gov.vn_tin-tuc_chunked.json")
  }

  test("htmlToText strips tags/scripts and decodes entities (F1/F2)") {
    val html = "<html><head><style>p{color:red}</style><script>var x=1;</script></head>" +
      "<body><h1>Du b&aacute;o</h1><p>M&#39;ua &amp; gi&oacute;</p>\n\n\n<p>to</p></body></html>"
    val txt = TextFunctions.htmlToText(html)
    assert(!txt.contains("<"))
    assert(!txt.contains("var x"))
    assert(!txt.contains("color:red"))
    assert(txt.contains("M'ua & gi"))
    assert(!txt.contains("\n\n\n"))
  }

  test("htmlToText survives adversarial HTML: unclosed raw-text, CDATA, comments, numeric entities") {
    // unclosed <script> swallows to end-of-document (parser raw-text rule)
    val unclosed = TextFunctions.htmlToText("<p>keep</p><script>var leak = 'secret'")
    assert(unclosed == "keep", s"got '$unclosed'")
    // nested style inside script text is dropped with the script subtree
    val nested = TextFunctions.htmlToText(
      "<p>a</p><script>document.write('<style>x{}</style>')</script><p>b</p>")
    assert(nested == "a b")
    // comments may contain '>' and tags — removed before tag-stripping
    val comment = TextFunctions.htmlToText("<p>x</p><!-- <p>not me> --><p>y</p>")
    assert(comment == "x y")
    // CDATA content is dropped
    assert(TextFunctions.htmlToText("<p>x</p><![CDATA[ <raw> ]]><p>y</p>") == "x y")
    // numeric entities: decimal and hex (U+2019 right single quote)
    assert(TextFunctions.htmlToText("it&#x2019;s &#65;") == "it’s A")
    // named accented entities
    assert(TextFunctions.htmlToText("Du b&aacute;o gi&oacute;") == "Du báo gió")
    // double-escaped entity stays text, parser parity
    assert(TextFunctions.decodeEntities("&amp;lt;b&amp;gt;") == "&lt;b&gt;")
    // unknown entity left verbatim
    assert(TextFunctions.decodeEntities("&bogus123;") == "&bogus123;")
    // unclosed ordinary tag at EOF: the partial tag is discarded (HTML5
    // "EOF in tag" rule) but never eats preceding text
    assert(TextFunctions.htmlToText("<p>tail</p><a href=") == "tail")
    // a comment opener INSIDE script text must not pair with a later real
    // comment close and delete the text between them (document-order rule)
    assert(TextFunctions.htmlToText(
      "<p>A</p><script>x=\"<!--\"</script><p>B</p><!-- c -->") == "A B")
    // and a script opener inside a comment belongs to the comment
    assert(TextFunctions.htmlToText("<!-- <script> --><p>C</p>") == "C")
    // lowercase CDATA is NOT a CDATA section (tokenizer is case-sensitive
    // there) — it's a bogus comment the tag-strip removes; must not throw
    assert(TextFunctions.htmlToText("<p>x</p><![cdata[ raw ]]><p>y</p>") == "x y")
    // mixed-case script tags still strip as raw text
    assert(TextFunctions.htmlToText("<p>a</p><SCRIPT>var z=1</ScRiPt><p>b</p>") == "a b")
  }

  test("htmlToText is quote-aware: '>' in attribute values, EOF in tag, bare '<' (F1)") {
    // '>' inside a double-quoted attribute value must not end the tag
    assert(TextFunctions.htmlToText("""<a title="a>b">text</a>""") == "text")
    // ... or a single-quoted one, including with spaces around '='
    assert(TextFunctions.htmlToText("<a href = 'x>y'>link</a>") == "link")
    // EOF inside a quoted value: partial tag discarded, nothing leaks
    assert(TextFunctions.htmlToText("""<p>tail</p><div class="x""") == "tail")
    // a quote NOT after '=' is an ordinary character (attribute-name
    // state), so the tag still ends at the first '>'
    assert(TextFunctions.htmlToText("""<div "a>b">x""") == "b\">x")
    // '>' in an UNquoted attribute value ends the tag (spec behavior)
    assert(TextFunctions.htmlToText("<a href=x>y</a>") == "y")
    // '<' not followed by a letter, '/', '!' or '?' is literal text, not
    // a tag opener (the old regex ate "< 5 >")
    assert(TextFunctions.htmlToText("x < 5 > 3") == "x < 5 > 3")
    // self-closing and end-tag forms still strip
    assert(TextFunctions.htmlToText("a<br/>b</ bogus>c") == "a b c")
    // doctype is a bogus-comment consume-to-'>'
    assert(TextFunctions.htmlToText("<!DOCTYPE html><p>d</p>") == "d")
  }

  test("htmlToText fuzz: tag soup never throws, clean text passes through (F1)") {
    val rnd = new scala.util.Random(4242)
    // 1. adversarial tag-soup fragments in random order: total function
    val frags = Array("<", ">", "\"", "'", "=", "/", "!", "&", "&amp;",
      "<div", """<div a="x>y">""", "</div>", "<script>", "</script>",
      "<!--", "-->", "<![CDATA[", "]]>", "text", " ", "\n", "&#65;",
      "&bogus;", "ph", "<a href='", "<p>", "<?pi", "<!DOCTYPE")
    for (_ <- 0 until 2000) {
      val s = (0 until rnd.nextInt(30)).map(_ => frags(rnd.nextInt(frags.length))).mkString
      assert(TextFunctions.htmlToText(s) != null) // and never throws
    }
    // 2. markup-free text survives untouched (modulo whitespace collapse)
    for (_ <- 0 until 300) {
      val words = (1 to 1 + rnd.nextInt(6))
        .map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString).mkString(" ")
      assert(TextFunctions.htmlToText(words) == TextFunctions.normalizeWs(words))
    }
    // 3. wrapping clean text in tags with adversarial attribute values
    //    yields exactly the inner text
    val attrs = Seq("a>b", "x", "a'b", "<c>", "")
    for (_ <- 0 until 300) {
      val words = (1 to 1 + rnd.nextInt(6))
        .map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString).mkString(" ")
      val html = s"""<div title="${attrs(rnd.nextInt(attrs.length))}"><p>$words</p></div>"""
      assert(TextFunctions.htmlToText(html) == words, html)
    }
  }

  test("canonicalHash is stable under struct field order by construction (F4)") {
    import spark.implicits._
    val df = Seq(("a", 1), ("a", 1)).toDF("x", "y")
    val h = df.select(TextFunctions.canonicalHash(col("x"), col("y")).as("h")).collect()
    assert(h(0).getString(0) == h(1).getString(0))
    assert(h(0).getString(0).matches("[0-9a-f]{64}"))
  }

  test("cleanContact strips email/phone/footer (F10 deterministic form)") {
    import spark.implicits._
    val dirty = "Du bao thoi tiet ngay mai troi nang.\n" +
      "Lien he: Mr X, email info@kttv.gov.vn, hotline +84 24 3835 5555"
    val out = Seq(dirty).toDF("t")
      .select(TextFunctions.cleanContact(col("t")).as("c")).head.getString(0)
    assert(out.contains("Du bao thoi tiet"))
    assert(!out.contains("info@kttv.gov.vn"))
    assert(!out.toLowerCase.contains("lien he"))
  }

  test("quarantine split isolates bad rows without failing the job (A4)") {
    import spark.implicits._
    val df = Seq("https://ok.example/a", "https://ok.example/b", "::not a url::", "https://ok.example/c")
      .toDF("url")
    val risky = Reliability.tryUdf { s =>
      val u = new java.net.URI(s)
      if (u.getHost == null) throw new IllegalArgumentException(s"no host in $s")
      u.getHost
    }
    val (clean, quarantined) = Reliability.applyWithQuarantine(df, col("url"), risky, "host")
    assert(clean.count() == 3)
    assert(clean.select("host").distinct().head.getString(0) == "ok.example")
    val bad = quarantined.collect()
    assert(bad.length == 1)
    assert(bad.head.getAs[String]("error").nonEmpty)
  }

  test("quarantine persist=true evaluates the wrapped UDF once per row (A4)") {
    import spark.implicits._
    val calls = spark.sparkContext.longAccumulator("quarantine-udf-calls")
    val df = Seq("a", "b", "::bad::", "c").toDF("url").repartition(2)
    val risky = Reliability.tryUdf { s =>
      calls.add(1)
      if (s.contains("bad")) throw new IllegalArgumentException("bad input")
      s.toUpperCase
    }
    val (clean, quarantined) =
      Reliability.applyWithQuarantine(df, col("url"), risky, "up")
    assert(clean.count() == 3)
    assert(quarantined.count() == 1)
    // both streams acted on, yet the cached applied frame ran the UDF
    // exactly once per input row (8 would mean double evaluation)
    assert(calls.value == 4, s"UDF ran ${calls.value} times")
    spark.sharedState.cacheManager.clearCache()
  }

  test("JSON array object read (S1) and JSON write round-trip (S2)") {
    val dir = Files.createTempDirectory("graft-json")
    // reference-style bronze object: one JSON *array* per crawl root
    Files.write(dir.resolve("root1.json"),
      """[{"page_content": "doc one", "metadata": {"source": "u1"}},
        | {"page_content": "doc two", "metadata": {}}]""".stripMargin.getBytes)
    val arr = spark.read.option("multiLine", true)
      .schema("page_content STRING, metadata MAP<STRING,STRING>")
      .json(dir.resolve("root1.json").toString)
    assert(arr.count() == 2)
    assert(arr.filter(col("page_content") === "doc one").count() == 1)
    // write side: df.write.json + read back (upload_json equivalent)
    val out = dir.resolve("out").toString
    arr.write.mode("overwrite").json(out)
    assert(spark.read.schema(arr.schema).json(out).count() == 2)
  }
}
