package graft.bench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, stream, row index), so a seed gives the same rows whatever the
  * partitioning, and a different seed gives different rows. Sizes are
  * stratified (each document's length sits at a jittered quantile of its
  * class range), so the total volume barely moves between seeds and
  * run-to-run spread measures the program, not the draw.
  *
  * Each generated input directory holds `meta.json`: the expectations the
  * correctness checks use (computed here from the generator's own rows,
  * with the reference chunker [[TextFunctions.chunkText]]) and the input
  * fingerprint (row counts plus a content hash) recorded when the data
  * was written. Every run recomputes the fingerprint from disk. */
object Inputs extends Serializable {

  /** Corpus shape. `short`/`medium`/`pdf` are unique-content counts per
    * size class; `dupShare` of extra rows are byte-identical copies under
    * other URLs. */
  final case class CorpusShape(short: Int, medium: Int, pdf: Int,
                               shortChars: (Int, Int) = (500, 3000),
                               mediumChars: (Int, Int) = (5000, 30000),
                               pdfChars: (Int, Int) = (100000, 300000),
                               dupShare: Double = 0.10) {
    def unique: Int = short + medium + pdf
    def dups: Int = math.round(unique * dupShare).toInt
    def scaled(f: Double): CorpusShape = copy(
      short = math.max(1, (short * f).round.toInt),
      medium = math.max(1, (medium * f).round.toInt),
      pdf = math.max(1, (pdf * f).round.toInt))
  }

  val DailyBase = CorpusShape(short = 700, medium = 55, pdf = 3)
  /** One simulated day's landing: about 2% of the daily base. */
  val DailyBatch = CorpusShape(short = 14, medium = 2, pdf = 0)
  val DailyDays = 12
  /** Rows of the suite's base tables before the ScaleGen replica. */
  final case class SuiteShape(docs: Int, vecs: Int, events: Int, customers: Int,
                              orders: Int, lineitems: Int, parts: Int, suppliers: Int,
                              factor: Int)
  val Suite = SuiteShape(docs = 100, vecs = 100, events = 1500, customers = 300,
    orders = 3000, lineitems = 1000, parts = 100, suppliers = 10, factor = 4)

  // ---------------------------------------------------------------- RNG

  def mix(a: Long, b: Long, c: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b * 0xC2B2AE3D27D4EB4FL + c * 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def rng(seed: Long, stream: Long, id: Long) = new java.util.SplittableRandom(mix(seed, stream, id))

  /** Seeded permutation of 0 until n (Fisher-Yates). */
  def permutation(seed: Long, stream: Long, n: Int): Array[Int] = {
    val r = rng(seed, stream, -1L)
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  // ------------------------------------------------------ weather corpus

  private val Regions = Array("hanoi", "haiphong", "quangninh", "thanhhoa", "nghean",
    "hatinh", "quangbinh", "hue", "danang", "quangnam", "binhdinh", "khanhhoa",
    "daklak", "lamdong", "saigon", "cantho", "camau", "laocai", "sonla", "dienbien")
  private val Phenomena = Array("rain", "showers", "thunderstorms", "drizzle", "fog",
    "heat", "cold", "wind", "gusts", "typhoon", "depression", "flood", "landslide",
    "frost", "haze", "cloud", "sunshine", "humidity", "tide", "waves")
  private val Words = Array("the", "in", "of", "and", "to", "forecast", "warning",
    "bulletin", "station", "province", "district", "coast", "mountain", "delta",
    "afternoon", "evening", "night", "morning", "level", "risk", "heavy", "light",
    "moderate", "strong", "expected", "observed", "temperature", "rainfall", "mm",
    "degrees", "celsius", "northern", "southern", "central", "highlands", "sea",
    "area", "hours", "next", "from", "with", "over", "across", "scattered",
    "isolated", "widespread", "possible", "advisory", "update", "hydrology")

  /** The document text of unique doc `i`: sentences of bulletin vocabulary,
    * lines of ~4 sentences, paragraphs of ~3 lines, so the chunker's
    * "\n\n" / "\n" / " " separator hierarchy is exercised. */
  def bulletinText(seed: Long, stream: Long, i: Long, chars: Int): String = {
    val r = rng(seed, stream, i)
    val sb = new java.lang.StringBuilder(chars + 64)
    var sentence = 0
    while (sb.length < chars) {
      val n = 6 + r.nextInt(12)
      var w = 0
      while (w < n) {
        if (w > 0) sb.append(' ')
        val k = r.nextInt(10)
        sb.append(
          if (k == 0) Regions(r.nextInt(Regions.length))
          else if (k == 1) Phenomena(r.nextInt(Phenomena.length))
          else if (k == 2) Integer.toString(r.nextInt(400))
          else Words(r.nextInt(Words.length)))
        w += 1
      }
      sb.append('.')
      sentence += 1
      sb.append(if (sentence % 12 == 0) "\n\n" else if (sentence % 4 == 0) "\n" else " ")
    }
    sb.setLength(chars)
    sb.toString.trim
  }

  /** The probe phrase planted under `tag`: eight tokens no other document
    * contains, so its embedding equals the query's and it is the unique
    * top-1 hit of an exact search. */
  def probePhrase(seed: Long, tag: String): String =
    (0 until 8).map(j => s"probe${seed}x${tag}x$j").mkString(" ")

  val RawSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("page_content", StringType),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("links", ArrayType(StringType))))

  /** Raw landing rows of one or more corpora, tagged by a `part` column:
    * per part, unique docs (its probe docs first), then byte-identical
    * copies under mirror URLs. Part `p` draws from stream `stream + p`. */
  def corpusRows(spark: SparkSession, seed: Long, stream: Long, shape: CorpusShape,
                 parts: Seq[(Int, Seq[String])]): DataFrame = {
    val counts = Array(shape.short, shape.medium, shape.pdf)
    val ranges = Array(shape.shortChars, shape.mediumChars, shape.pdfChars)
    val unique = shape.unique
    val total = unique + shape.dups
    // per part: class of unique doc i, and its jittered quantile in that class
    val plans = parts.map { case (part, probes) =>
      val st = stream + part
      val classOf = Array.fill(shape.short)(0) ++ Array.fill(shape.medium)(1) ++ Array.fill(shape.pdf)(2)
      val cls = permutation(seed, st, classOf.length).map(classOf)
      val strata = Array.tabulate(3)(c => permutation(seed, st * 7 + c + 1, math.max(counts(c), 1)))
      val seen = Array(0, 0, 0)
      val quantile = cls.indices.map { i =>
        val c = cls(i)
        val r = seen(c); seen(c) += 1
        (strata(c)(r) + rng(seed, st + 2000, i.toLong).nextDouble()) / math.max(counts(c), 1)
      }.toArray
      (part, st, probes.toArray, cls, quantile)
    }
    val cells = plans.indices.flatMap(p => (0 until total).map(row => (p, row)))
    val rows = spark.sparkContext.parallelize(cells, 8).map { case (p, row) =>
      val (part, st, probes, cls, quantile) = plans(p)
      val i = if (row < unique) row else {
        // copies point at non-probe docs, spread over all classes
        probes.length + rng(seed, st + 1000, row.toLong).nextInt(unique - probes.length)
      }
      val c = cls(i)
      val (lo, hi) = ranges(c)
      val chars = lo + ((hi - lo) * quantile(i)).toInt
      val text = if (i < probes.length) probes(i) else bulletinText(seed, st, i.toLong, chars)
      val kind = Seq("text/html", "text/html", "application/pdf")(c)
      val url = if (row < unique) f"https://kttv.example/s$st/doc$i%06d"
                else f"https://mirror.example/s$st/copy$row%06d"
      val meta = Map("source" -> url, "content_type" -> kind) ++
        (if (i % 3 == 0) Map("title" -> s"Bulletin $i") else Map.empty)
      val links = if (c == 2) null else
        Seq(s"/doc${(i + 1) % unique}", "mailto:desk@kttv.example", s"#sec$i")
      Row(url, text, meta, links, part)
    }
    spark.createDataFrame(rows, RawSchema.add("part", IntegerType))
  }

  /** Expectations of each part of a raw corpus: rows, distinct contents,
    * the reference chunk count over the distinct contents, text bytes. */
  def corpusExpectations(raw: DataFrame): Map[Int, Map[String, Long]] = {
    val chunks = udf((t: String) => TextFunctions.chunkText(t, 5000, 500).length.toLong)
    val perPart = raw.groupBy(col("part"))
      .agg(count(lit(1)).as("rows"), sum(octet_length(col("page_content"))).as("text_bytes"))
    val distinct = raw.select(col("part"), col("page_content")).distinct()
      .groupBy(col("part"))
      .agg(count(lit(1)).as("distinct"), sum(chunks(col("page_content"))).as("chunks"))
    perPart.join(distinct, "part").collect().map { r =>
      r.getAs[Int]("part") -> Seq("rows", "text_bytes", "distinct", "chunks")
        .map(k => k -> r.getAs[Long](k)).toMap
    }.toMap
  }

  // ------------------------------------------------------- suite tables

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val EventTypes = Array("click", "signup", "error", "view", "purchase")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  private val DocVocab = Array("a", "the", "key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
    "window", "order", "data", "column", "join", "small", "big", "query", "customer",
    "stream", "group", "filter", "vector", "index", "shard", "cache", "plan", "node",
    "disk", "memory", "page", "file", "log")
  private val Jan2024 = 1704067200L // 2024-01-01T00:00:00Z

  /** The ten base tables, in the schema of the repository's fixture
    * tables (`graft.Tables.all`). */
  def writeSuiteBase(spark: SparkSession, seed: Long, s: SuiteShape, dir: String): Unit = {
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def gen(n: Int, schema: StructType)(f: (Int, java.util.SplittableRandom) => Row): DataFrame = {
      val stream = schema.fieldNames.mkString.hashCode.toLong
      spark.createDataFrame(spark.sparkContext.parallelize(0 until n, 4)
        .map(i => f(i, rng(seed, stream, i.toLong))), schema)
    }
    def st(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })
    val ts = (sec: Long) => new java.sql.Timestamp(sec * 1000L)
    def money(r: java.util.SplittableRandom, lo: Double, hi: Double) =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

    write("region", gen(5, st("r_regionkey" -> IntegerType, "r_name" -> StringType))(
      (i, _) => Row(i, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i))))
    write("nation", gen(25, st("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType))((i, _) => Row(i, s"NATION$i", i % 5)))
    write("customer", gen(s.customers, st("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType))(
      (i, r) => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(r, -999, 9999),
        Segments(r.nextInt(Segments.length)))))
    write("supplier", gen(s.suppliers, st("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType))(
      (i, r) => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999, 9999))))
    write("part", gen(s.parts, st("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType))((i, r) => Row(i.toLong, s"part $i",
      s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}",
      Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")(r.nextInt(6)) + " BRASS",
      1 + r.nextInt(50), money(r, 900, 2000))))
    write("orders", gen(s.orders, st("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType))(
      (i, r) => Row(i.toLong, r.nextInt(s.customers).toLong, Seq("F", "O", "P")(r.nextInt(3)),
        money(r, 800, 500000), ts(694224000L + r.nextInt(2400) * 86400L),
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5)))))
    write("lineitem", gen(s.lineitems, st("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType, "l_shipdate" -> TimestampType))(
      (i, r) => {
        val q = (1 + r.nextInt(50)).toDouble
        Row((i / 4).toLong % s.orders, r.nextInt(s.parts).toLong, r.nextInt(s.suppliers).toLong,
          1 + i % 4, q, math.round(q * money(r, 900, 2000) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
          Seq("F", "O")(r.nextInt(2)), ts(694224000L + r.nextInt(2500) * 86400L))
      }))
    // events: ts rises with event_id over 30 days, as in the fixture tables
    val step = 30L * 86400L * 1000000L / s.events
    write("events", gen(s.events, st("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType))((i, r) => {
      val micros = Jan2024 * 1000000L + i * step + (r.nextDouble() * step).toLong
      val t = new java.sql.Timestamp(micros / 1000L)
      t.setNanos(((micros % 1000000L) * 1000L).toInt)
      Row(i.toLong, t, r.nextInt(math.max(1, s.events / 66)).toLong,
        EventTypes(r.nextInt(EventTypes.length)), money(r, 0, 20), s"""{"k": ${r.nextInt(100)}}""")
    }))
    // documents: bag-of-words text; every 20th doc is a one-word edit of
    // an earlier one, so the near-duplicate queries find pairs
    def docText(i: Int): String = {
      val r = rng(seed, 77, i.toLong)
      val n = 8 + r.nextInt(90)
      (0 until n).map(_ => DocVocab(r.nextInt(DocVocab.length))).mkString(" ")
    }
    write("documents", gen(s.docs, st("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType))((i, r) => {
      val t = if (i % 20 == 19) {
        val base = docText(r.nextInt(i)).split(" ")
        base(r.nextInt(base.length)) = DocVocab(r.nextInt(DocVocab.length))
        base.mkString(" ")
      } else docText(i)
      Row(i.toLong, t, Langs(r.nextInt(Langs.length)), s"src${i % 20}", t.length.toLong)
    }))
    // embeddings: ten label clusters (unit centre + noise, L2-normalised)
    val centres = Array.tabulate(10) { l =>
      val r = rng(seed, 91, l.toLong)
      Array.fill(64)(r.nextDouble() * 2 - 1)
    }
    write("embeddings", gen(s.vecs, st("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))((i, r) => {
      val l = r.nextInt(10)
      val v = centres(l).map(c => c * 0.6 + (r.nextDouble() * 2 - 1))
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, l)
    }))
  }

  // ---------------------------------------------------------- on disk

  val SuiteTables: Seq[String] = graft.Tables.all

  /** Row count and order-insensitive content hash of a frame. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c)) // maps are not hashable
        case _ => c
      }
    }
    val h = df.select(xxhash64(cols: _*).cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).head
    s"${h.getLong(0)}:${h.get(1)}"
  }

  def readMeta(dir: String): Map[String, String] = {
    val f = new File(dir, "meta.json")
    if (!f.isFile) Map.empty
    else Json.parseFlat(new String(Files.readAllBytes(f.toPath), UTF_8))
  }

  def writeMeta(dir: String, meta: Map[String, String]): Unit =
    Files.write(Paths.get(dir, "meta.json"), Json.flat(meta).getBytes(UTF_8))

  /** Fingerprints of every input table under `dir`, keyed by table. */
  def fingerprints(spark: SparkSession, workload: String, dir: String): Map[String, String] =
    tablesOf(workload).map(t => t -> fingerprint(readInput(spark, dir, t))).toMap

  def tablesOf(workload: String): Seq[String] = workload match {
    case "pipeline_daily" => Seq("base", "days")
    case "suite_heavy" => Seq("customer", "documents", "embeddings", "events", "orders")
  }

  def readInput(spark: SparkSession, dir: String, table: String): DataFrame =
    if (SuiteTables.contains(table)) graft.Tables(spark, s"$dir/replica", table)
    else spark.read.parquet(s"$dir/$table")

  /** Write the inputs of `workload` for `seed` under `dir`, replacing
    * whatever is there; `scale` shrinks every size (toy runs use < 1). */
  def generate(spark: SparkSession, workload: String, seed: Long, dir: String,
               scale: Double, fresh: () => SparkSession): SparkSession = {
    deleteTree(new File(dir))
    new File(dir).mkdirs()
    val expect: Map[String, String] = workload match {
      case "pipeline_daily" =>
        val days = if (scale < 1) 8 else DailyDays
        corpusRows(spark, seed, 1, DailyBase.scaled(scale), Seq(0 -> Nil))
          .drop("part").write.parquet(s"$dir/base")
        corpusRows(spark, seed, 100, DailyBatch.scaled(scale),
          (0 until days).map(d => d -> Seq(probePhrase(seed, s"d$d"))))
          .withColumnRenamed("part", "day").write.partitionBy("day").parquet(s"$dir/days")
        val base = corpusExpectations(spark.read.parquet(s"$dir/base").withColumn("part", lit(0)))
        val perDay = corpusExpectations(spark.read.parquet(s"$dir/days").withColumnRenamed("day", "part"))
        base(0).map { case (k, v) => s"base.$k" -> v.toString } ++
          perDay.toSeq.flatMap { case (d, m) => m.map { case (k, v) => s"day.$d.$k" -> v.toString } } ++
          Map("days" -> days.toString) ++
          (0 until days).map(d => s"probe.$d" -> probePhrase(seed, s"d$d"))
      case "suite_heavy" =>
        val s = Suite
        val shape = s.copy(docs = (s.docs * scale).ceil.toInt, vecs = (s.vecs * scale).ceil.toInt,
          events = (s.events * scale).ceil.toInt, customers = (s.customers * scale).ceil.toInt,
          orders = (s.orders * scale).ceil.toInt, lineitems = (s.lineitems * scale).ceil.toInt,
          parts = (s.parts * scale).ceil.toInt, suppliers = (s.suppliers * scale).ceil.toInt)
        writeSuiteBase(spark, seed, shape, s"$dir/base")
        // ScaleGen builds its replica on the active session and stops it
        // when done; the caller makes a fresh session afterwards
        graft.ScaleGen.main(Array(s"$dir/base", s"$dir/replica", s.factor.toString))
        Map("factor" -> s.factor.toString)
    }
    val session = if (spark.sparkContext.isStopped) fresh() else spark
    val fps = fingerprints(session, workload, dir).map { case (t, f) => s"fingerprint.$t" -> f }
    writeMeta(dir, expect ++ fps ++ Map("seed" -> seed.toString, "workload" -> workload))
    session
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  /** Total size of the regular files under `dir`. */
  def treeBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
    walk(new File(dir))
  }
}
