package graft

import graft.etl.{Bronze, Gold, Silver}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Golden bronze→silver→gold pipeline test over reference-shaped fixtures
  * (FIXTURES.md §A; SURVEY.md §5 item 3): counts, schemas, dedup,
  * link-filter, metadata-default and retrieval assertions. */
class PipelineSpec extends AnyFunSuite with LocalSpark {

  private lazy val tmp = Files.createTempDirectory("graft-pipeline").toString

  /** ~10 fixture docs per FIXTURES.md A.1: 3 metadata variants, one long
    * "PDF-like" doc, dirty links, and a byte-identical duplicate pair. */
  private def fixtureBronze: DataFrame = {
    import scala.jdk.CollectionConverters._
    val longDoc = (("du bao thuy van khu vuc dong bang bac bo " * 30).trim + "\n\n") * 12 // ~14k chars
    val rows = Seq(
      Row("Trang chu kttv", Map("source" -> "https://kttv.gov.vn/", "content_type" -> "text/html"),
        Seq("/tin-tuc", "#top", "mailto:info@kttv.gov.vn", "tel:12345", "/du-bao")),
      Row("Tin tuc thoi tiet hom nay", Map("source" -> "https://kttv.gov.vn/tin-tuc"),
        Seq("/tin-tuc/1", "/tin-tuc/2")),
      Row("Ban tin bao so 3", Map.empty[String, String], Seq.empty[String]),
      Row(longDoc, Map("source" -> "https://kttv.gov.vn/x.pdf", "content_type" -> "application/pdf"), null),
      Row("Du bao 10 ngay", Map("source" -> "https://kttv.gov.vn/du-bao"), Seq("/du-bao/chi-tiet")),
      // byte-identical duplicate under a different URL (dedup target)
      Row("Tin tuc thoi tiet hom nay", Map("source" -> "https://mirror.example/tin-tuc"),
        Seq("/tin-tuc/1")),
      Row("Canh bao lu quet", Map("source" -> "https://kttv.gov.vn/canh-bao"), Seq.empty[String])
    )
    spark.createDataFrame(rows.asJava, graft.model.Schemas.bronze)
      .withColumn("url", coalesce(col("metadata").getItem("source"), lit("https://kttv.gov.vn/")))
  }

  test("bronze: link filter drops mailto/tel/fragment and resolves relative hrefs") {
    val cleaned = Bronze.cleanLinks(fixtureBronze.filter(col("links").isNotNull))
    val links = cleaned.select(explode(col("links")).as("l")).collect().map(_.getString(0))
    assert(!links.exists(l => l.startsWith("mailto:") || l.startsWith("tel:") || l.startsWith("#")))
    assert(links.contains("https://kttv.gov.vn/tin-tuc")) // relative resolved against base
  }

  test("bronze: content dedup keeps one of the byte-identical pair") {
    val deduped = Bronze.dedupByContent(fixtureBronze)
    assert(fixtureBronze.count() == 7)
    assert(deduped.count() == 6)
    assert(deduped.schema.fieldNames.contains("content_hash"))
  }

  test("bronze: frontier expansion excludes visited urls") {
    val pages = Bronze.cleanLinks(fixtureBronze.filter(col("links").isNotNull))
    val visited = spark.createDataFrame(
      Seq(Tuple1("https://kttv.gov.vn/tin-tuc"))).toDF("url")
    val frontier = Bronze.expandFrontier(pages, visited).collect().map(_.getString(0))
    assert(!frontier.contains("https://kttv.gov.vn/tin-tuc"))
    assert(frontier.contains("https://kttv.gov.vn/du-bao/chi-tiet"))
  }

  test("silver: chunking yields reference-shaped records, long doc fans out") {
    val silver = Silver.chunk(Bronze.dedupByContent(fixtureBronze))
    assert(silver.schema.fieldNames.toSeq.take(2) == Seq("split_content", "metadata"))
    val lens = silver.select(length(col("split_content"))).collect().map(_.getInt(0))
    assert(lens.forall(l => l > 0 && l <= Silver.ChunkSize))
    // the ~14k-char PDF-like doc must produce >= 3 chunks of <= 5000
    val pdfChunks = silver.filter(col("metadata").getItem("content_type") === "application/pdf").count()
    assert(pdfChunks >= 3, s"expected >=3 chunks for the long doc, got $pdfChunks")
    // short docs produce exactly one chunk
    val shortChunks = silver.filter(col("split_content") === "Canh bao lu quet").count()
    assert(shortChunks == 1)
  }

  test("golden chunk cardinality: exact counts at size 5000 / overlap 500") {
    import graft.functions.TextFunctions.{chunkText, chunkWithCarry}
    // deterministic ~1M-char document shaped like the reference's largest
    // crawled asset (the 997,725-char PDF text in
    // minio/data/bronze/crawl_web/2024-12-12/): seeded sentence/paragraph
    // structure so the separator hierarchy ("\n\n" then "\n" then " ")
    // is exercised the way real prose is. java.util.Random's algorithm is
    // specified, so the doc — and therefore every count below — is a
    // cross-platform constant.
    val rnd = new java.util.Random(42)
    val words = Vector("mekong", "delta", "flood", "gauge", "rain", "station",
      "forecast", "discharge", "level", "basin", "monsoon", "alluvial")
    val sb = new StringBuilder
    while (sb.length < 997725) {
      val sentences = 3 + rnd.nextInt(5)
      for (s <- 0 until sentences) {
        val n = 6 + rnd.nextInt(12)
        for (w <- 0 until n) {
          sb.append(words(rnd.nextInt(words.length)))
          if (w < n - 1) sb.append(' ')
        }
        sb.append('.')
        if (s < sentences - 1) sb.append(if (rnd.nextInt(4) == 0) "\n" else " ")
      }
      sb.append("\n\n")
    }
    val doc = sb.toString.substring(0, 997725)
    assert(doc.length == 997725)

    // EXACT pinned cardinalities — any drift in the packer/carry logic
    // that changes how many chunks a corpus fans out into shows up here,
    // where the >=-style invariant tests would stay silent.
    val big = chunkText(doc, 5000, 500)
    assert(big.length == 221, s"~1M-char doc: got ${big.length} chunks")
    val medium = chunkText(doc.substring(0, 14000), 5000, 500)
    assert(medium.length == 3, s"14k-char doc: got ${medium.length} chunks")
    val short = chunkText(doc.substring(0, 4999), 5000, 500)
    assert(short.length == 1, s"short doc: got ${short.length} chunks")

    // and the structural invariants still hold at the 1M scale: bounded
    // length, exact reconstruction through the carry prefixes
    assert(big.forall(c => c.nonEmpty && c.length <= 5000))
    val rebuilt = chunkWithCarry(doc, 5000, 500).map { case (c, k) => c.substring(k) }.mkString
    assert(rebuilt == doc, "carry-stripped concatenation must reproduce the input")
  }

  test("gold: metadata defaults, uuid pks, normalized vectors, round-trip") {
    val silver = Silver.chunk(Bronze.dedupByContent(fixtureBronze))
    val gold = Gold.build(silver)
    assert(gold.schema.fieldNames.toSeq ==
      Seq("pk", "source", "content_type", "title", "description", "text", "vector"))
    val rows = gold.collect()
    // defaults applied where metadata lacked fields (seed_milvus.py:54-58)
    assert(rows.forall(_.getAs[String]("title") == "Untitled"))
    assert(rows.forall(_.getAs[String]("description") == "No description available"))
    assert(rows.filter(_.getAs[String]("source") == "unknown").nonEmpty) // the {} metadata doc
    assert(rows.forall(_.getAs[String]("content_type").nonEmpty))
    // pks unique
    assert(rows.map(_.getAs[String]("pk")).distinct.length == rows.length)
    // vectors fixed-dim
    assert(rows.forall(_.getAs[Seq[Float]]("vector").length == Gold.VectorDim))
  }

  test("end-to-end: land -> refresh -> search returns relevant chunk first") {
    val bronzePath = s"$tmp/bronze"; val silverPath = s"$tmp/silver"; val goldPath = s"$tmp/gold"
    Bronze.land(Bronze.dedupByContent(fixtureBronze), bronzePath)
    val bronze = Bronze.read(spark, bronzePath)
    assert(bronze.columns.contains("crawl_date")) // date-partitioned (S9)
    Silver.refresh(Silver.chunk(bronze), silverPath)
    Gold.refresh(Gold.build(spark.read.parquet(silverPath)), goldPath)
    val hits = Gold.search(spark, goldPath, "Canh bao lu quet", 3).collect()
    assert(hits.length == 3)
    assert(hits.head.getAs[String]("text") == "Canh bao lu quet") // exact text is top hit
    // the IVF scale form must surface the same exact-match top hit
    // (recall of the true nearest neighbor on this tiny fixture), and
    // probing ALL centroid partitions degenerates to brute force
    val ivfHits = Gold.searchIvf(spark, goldPath, "Canh bao lu quet", 3,
      centroids = 2, nprobe = 1, iters = 1).collect()
    assert(ivfHits.nonEmpty && ivfHits.head.getAs[String]("text") == "Canh bao lu quet")
    val ivfAll = Gold.searchIvf(spark, goldPath, "Canh bao lu quet", 3,
      centroids = 2, nprobe = 2, iters = 1).collect()
    assert(ivfAll.map(_.getAs[String]("pk")).toSeq == hits.map(_.getAs[String]("pk")).toSeq)
    // idempotent full refresh: run again, count stable (S8 semantics)
    val n1 = spark.read.parquet(silverPath).count()
    Silver.refresh(Silver.chunk(bronze), silverPath)
    assert(spark.read.parquet(silverPath).count() == n1)
    // gold refresh is a TxTable commit (round 15): the drop_old
    // semantics through readTable, with the replaced collection still
    // readable at its old version
    import graft.etl.TxTable
    assert(TxTable.exists(goldPath))
    val v0 = TxTable.latestVersion(goldPath)
    Gold.refresh(Gold.build(spark.read.parquet(silverPath)), goldPath)
    assert(TxTable.latestVersion(goldPath) == v0 + 1)
    assert(TxTable.read(spark, goldPath, v0).count() ==
      TxTable.read(spark, goldPath, v0 + 1).count())
  }

  test("end-to-end on TxTable-backed gold: upsert -> search -> compact -> time travel") {
    import graft.etl.TxTable
    // gold committed through the log (round-15 verdict task 7)
    val goldPath = s"$tmp/gold-tx"
    val gold = Gold.build(Silver.chunk(Bronze.dedupByContent(fixtureBronze)))
      .repartition(4) // several small files, so compaction has work to do
    Gold.upsert(spark, goldPath, gold, "pk")
    val hits = Gold.search(spark, goldPath, "Canh bao lu quet", 3).collect()
    assert(hits.length == 3)
    assert(hits.head.getAs[String]("text") == "Canh bao lu quet")
    def rows(v: Long = -1L): Set[String] =
      TxTable.read(spark, goldPath, v).select("pk").collect().map(_.getString(0)).toSet
    def filesOf(v: Long): Int = TxTable.snapshot(goldPath, v).dirs.map { d =>
      new java.io.File(s"$goldPath/$d").listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
    }.sum
    val preVersion = TxTable.latestVersion(goldPath)
    val preRows = rows()
    // same-data re-layout commit: content identical, fewer files
    val cv = TxTable.compact(spark, goldPath)
    assert(cv == preVersion + 1)
    assert(rows() == preRows, "compaction changed table content")
    assert(filesOf(cv) < filesOf(preVersion), "compaction did not reduce file count")
    // search still answers identically off the compacted snapshot
    val hits2 = Gold.search(spark, goldPath, "Canh bao lu quet", 3).collect()
    assert(hits2.map(_.getAs[String]("pk")).toSeq == hits.map(_.getAs[String]("pk")).toSeq)
    // time travel: the pre-compaction version remains fully readable
    assert(rows(preVersion) == preRows)
  }

  test("gold retrieval: bounded Spark jobs per call, rows of the relational forms") {
    import graft.functions.VectorFunctions
    import graft.operators.Similarity
    import spark.implicits._
    val goldPath = s"$tmp/gold-jobs"
    Gold.upsert(spark, goldPath,
      Gold.build(Silver.chunk(Bronze.dedupByContent(fixtureBronze))).repartition(3), "pk")
    val text = "Canh bao lu quet"
    // tripwire: exact search is one scan; IVF is a seed job, one job per
    // Lloyd iteration and one scan — a per-iteration relational chain or
    // a join-back would push these up
    val (hits, searchJobs) = org.apache.spark.JobCounter(spark.sparkContext)(
      Gold.search(spark, goldPath, text, 3).collect())
    val (ivfHits, ivfJobs) = org.apache.spark.JobCounter(spark.sparkContext)(
      Gold.searchIvf(spark, goldPath, text, 3, iters = 3).collect())
    info(s"Spark jobs per call: search $searchJobs, searchIvf $ivfJobs")
    assert(searchJobs <= 2, s"Gold.search ran $searchJobs jobs")
    assert(ivfJobs <= 6, s"Gold.searchIvf(iters = 3) ran $ivfJobs jobs")
    // identical rows and cosines to the pre-kernel forms: a rank frame
    // joined back to the table by xxhash64(pk)
    val corpus = Gold.readTable(spark, goldPath).select(xxhash64(col("pk")).as("neighbor_id"),
      col("pk"), col("text"), col("vector").as("cv"))
    val vecs = corpus.select(col("neighbor_id"), col("cv"))
    val q = Seq((-1L, VectorFunctions.hashEmbed(text, Gold.VectorDim))).toDF("query_id", "qv")
    def joinedBack(top: DataFrame): Seq[Seq[Any]] = top.join(corpus, "neighbor_id")
      .select(col("rank"), col("pk"), col("text"), col("cosine")).orderBy(col("rank"))
      .collect().map(_.toSeq).toSeq
    assert(hits.length == 3 && hits.map(_.toSeq).toSeq == joinedBack(RelationalTwins.topKWindow(q, vecs, 3)))
    val cents = RelationalTwins.kmeansCentroids(spark, vecs, 8, 3, "neighbor_id", "cv")
    assert(ivfHits.nonEmpty &&
      ivfHits.map(_.toSeq).toSeq == joinedBack(RelationalTwins.ivfTopK(q, vecs, cents, 3, 2)))
  }

  /** Gold rows over one-chunk documents, one per text. */
  private def goldOf(texts: String*): DataFrame = goldOfDim(Gold.VectorDim, texts: _*)
  private def goldOfDim(dim: Int, texts: String*): DataFrame = {
    import spark.implicits._
    Gold.build(texts.map(t => (t, Map("source" -> s"https://s/${t.hashCode}")))
      .toDF("split_content", "metadata"), dim)
  }

  private val probe = "Canh bao lu quet"
  private val defaultIndex = s"ivf-c${Gold.IvfCentroids}-i${Gold.IvfIters}"

  /** Names in the table's index directory, temp files included. */
  private def indexFiles(path: String): Set[String] =
    Option(new java.io.File(s"$path/_txlog/index").list()).map(_.toSet).getOrElse(Set.empty)

  private def jobsOf[T](body: => T): (T, Int) = org.apache.spark.JobCounter(spark.sparkContext)(body)

  /** A search result's (rank, pk, text, cosine) rows, and the same rows of
    * a rank frame over the table's latest snapshot, joined back by
    * xxhash64(pk). */
  private def searchRows(hits: Array[Row]): Seq[Seq[Any]] = hits.map(_.toSeq).toSeq
  private def joinedBack(path: String, top: DataFrame => DataFrame): Seq[Seq[Any]] = {
    val corpus = Gold.readTable(spark, path).select(xxhash64(col("pk")).as("neighbor_id"),
      col("pk"), col("text"), col("vector").as("cv"))
    top(corpus.select(col("neighbor_id"), col("cv"))).join(corpus, "neighbor_id")
      .select(col("rank"), col("pk"), col("text"), col("cosine")).orderBy(col("rank"))
      .collect().map(_.toSeq).toSeq
  }
  private def queryFrame: DataFrame = queryFrameDim(Gold.VectorDim)
  private def queryFrameDim(dim: Int): DataFrame = {
    import spark.implicits._
    Seq((-1L, graft.functions.VectorFunctions.hashEmbed(probe, dim))).toDF("query_id", "qv")
  }

  /** The retrain-per-call form: relational k-means on the snapshot, then
    * the relational IVF search. */
  private def retrainedRows(path: String, dim: Int = Gold.VectorDim): Seq[Seq[Any]] =
    joinedBack(path, vecs => RelationalTwins.ivfTopK(queryFrameDim(dim), vecs,
      RelationalTwins.kmeansCentroids(spark, vecs, Gold.IvfCentroids, Gold.IvfIters,
        "neighbor_id", "cv"), 3, 2))

  private def storedFrame(path: String): DataFrame = {
    import spark.implicits._
    Gold.loadIndex(path, graft.etl.TxTable.latestVersion(path), Gold.IvfCentroids, Gold.IvfIters).get._2
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq.toDF("centroid_id", "cvec")
  }

  test("gold IVF index: refresh trains it, upserts keep it, a second refresh replaces it") {
    import graft.etl.TxTable
    val goldPath = s"$tmp/gold-index"
    Gold.refresh(Gold.build(Silver.chunk(Bronze.dedupByContent(fixtureBronze))).repartition(3), goldPath)
    val v1 = TxTable.latestVersion(goldPath)
    assert(indexFiles(goldPath) == Set(f"v$v1%08d.$defaultIndex"))
    val (hits, jobs) = jobsOf(Gold.searchIvf(spark, goldPath, probe, 3).collect())
    assert(jobs == 1, s"searchIvf after refresh ran $jobs jobs")
    // the stored index is today's per-call training on the same snapshot
    assert(hits.nonEmpty && searchRows(hits) == retrainedRows(goldPath))
    // an upsert keeps the index; its new rows are assigned at scan time
    Gold.upsert(spark, goldPath, goldOf((1 to 12).map(i => s"ban tin thoi tiet so $i"): _*), "pk")
    assert(TxTable.latestVersion(goldPath) == v1 + 1)
    assert(indexFiles(goldPath) == Set(f"v$v1%08d.$defaultIndex"))
    val (hits2, jobs2) = jobsOf(Gold.searchIvf(spark, goldPath, probe, 3).collect())
    assert(jobs2 == 1, s"searchIvf after upsert ran $jobs2 jobs")
    val stored = storedFrame(goldPath)
    assert(hits2.nonEmpty &&
      searchRows(hits2) == joinedBack(goldPath,
        graft.operators.Similarity.ivfTopK(queryFrame, _, stored, 3, 2)))
    // the rebuild trains a new index on its own snapshot, and searches use it
    Gold.refresh(goldOf((probe +: (1 to 30).map(i => s"du bao mua lon dot $i")): _*), goldPath)
    val v3 = TxTable.latestVersion(goldPath)
    assert(indexFiles(goldPath) == Set(f"v$v1%08d.$defaultIndex", f"v$v3%08d.$defaultIndex"))
    assert(RelationalTwins.bits(storedFrame(goldPath)) != RelationalTwins.bits(stored))
    val (hits3, jobs3) = jobsOf(Gold.searchIvf(spark, goldPath, probe, 3).collect())
    assert(jobs3 == 1)
    assert(hits3.head.getAs[String]("text") == probe && searchRows(hits3) == retrainedRows(goldPath))
  }

  test("gold IVF index: an index-less table trains on its first search, then reuses it") {
    import graft.etl.TxTable
    val goldPath = s"$tmp/gold-indexless"
    Gold.upsert(spark, goldPath,
      Gold.build(Silver.chunk(Bronze.dedupByContent(fixtureBronze))).repartition(3), "pk")
    assert(indexFiles(goldPath).isEmpty)
    val first = Gold.searchIvf(spark, goldPath, probe, 3).collect()
    val (second, jobs2) = jobsOf(Gold.searchIvf(spark, goldPath, probe, 3).collect())
    assert(jobs2 == 1, s"the second search ran $jobs2 jobs")
    assert(indexFiles(goldPath) == Set(f"v${TxTable.latestVersion(goldPath)}%08d.$defaultIndex"))
    assert(searchRows(first) == searchRows(second) && searchRows(first) == retrainedRows(goldPath))
  }

  test("gold IVF index: empty, all-NULL and short tables store and load their index") {
    import graft.etl.TxTable
    def loaded(path: String) = Gold.loadIndex(path, TxTable.latestVersion(path),
      Gold.IvfCentroids, Gold.IvfIters).map(_._2.length)
    val empty = s"$tmp/gold-empty"
    Gold.refresh(goldOf(), empty)
    assert(loaded(empty).contains(0))
    assert(Gold.searchIvf(spark, empty, probe, 3).collect().isEmpty)
    val nulls = s"$tmp/gold-nulls"
    Gold.refresh(goldOf("a", "b", "c").withColumn("vector", lit(null).cast("array<float>")), nulls)
    assert(loaded(nulls).contains(0))
    assert(Gold.searchIvf(spark, nulls, probe, 3).collect().isEmpty)
    val short = s"$tmp/gold-short"
    Gold.refresh(goldOf(probe, "du bao 10 ngay", "tin tuc"), short)
    assert(loaded(short).contains(3))
    val (hits, jobs) = jobsOf(Gold.searchIvf(spark, short, probe, 3).collect())
    assert(jobs == 1 && hits.head.getAs[String]("text") == probe)
    assert(searchRows(hits) == retrainedRows(short))
  }

  test("gold IVF index: an empty or short index is retrained once the table grows") {
    import graft.etl.TxTable
    val more = (1 to 12).map(i => s"ban tin thoi tiet so $i")
    for ((name, base) <- Seq("empty" -> Nil, "short" -> Seq("du bao 10 ngay", "tin tuc"))) {
      val goldPath = s"$tmp/gold-grow-$name"
      Gold.refresh(goldOf(base: _*), goldPath)
      Gold.upsert(spark, goldPath, goldOf(probe +: more: _*), "pk")
      val v = TxTable.latestVersion(goldPath)
      val hits = Gold.searchIvf(spark, goldPath, probe, 3).collect()
      assert(hits.head.getAs[String]("text") == probe, name)
      assert(searchRows(hits) == retrainedRows(goldPath), name)
      assert(Gold.loadIndex(goldPath, v, Gold.IvfCentroids, Gold.IvfIters)
        .map(i => (i._1, i._2.length)).contains((v, Gold.IvfCentroids)), name)
      val (_, jobs) = jobsOf(Gold.searchIvf(spark, goldPath, probe, 3).collect())
      assert(jobs == 1, s"$name: the search after the retrain ran $jobs jobs")
    }
  }

  test("gold IVF index: a refresh never searches with an index of the dropped collection") {
    import graft.etl.TxTable
    val goldPath = s"$tmp/gold-rebuild"
    Gold.refresh(Gold.build(Silver.chunk(Bronze.dedupByContent(fixtureBronze))), goldPath)
    val v0 = TxTable.latestVersion(goldPath)
    // the rebuild changes the vector dimension; its own index is not
    // there (a search between its commit and its publish, or a failed
    // publish), while the dropped collection's index is
    val dim = 32
    Gold.refresh(goldOfDim(dim, probe +: (1 to 20).map(i => s"du bao mua lon dot $i"): _*), goldPath)
    val v1 = TxTable.latestVersion(goldPath)
    Files.delete(java.nio.file.Paths.get(goldPath, "_txlog", "index", f"v$v1%08d.$defaultIndex"))
    assert(indexFiles(goldPath) == Set(f"v$v0%08d.$defaultIndex"))
    assert(Gold.loadIndex(goldPath, v1, Gold.IvfCentroids, Gold.IvfIters).isEmpty)
    assert(Gold.loadIndex(goldPath, v0, Gold.IvfCentroids, Gold.IvfIters).nonEmpty)
    val hits = Gold.searchIvf(spark, goldPath, probe, 3, dim = dim).collect()
    assert(hits.head.getAs[String]("text") == probe && searchRows(hits) == retrainedRows(goldPath, dim))
    assert(indexFiles(goldPath) == Set(f"v$v0%08d.$defaultIndex", f"v$v1%08d.$defaultIndex"))
  }

  test("gold IVF index: a torn or corrupt index file is ignored and rebuilt") {
    import graft.etl.TxTable
    val goldPath = s"$tmp/gold-torn"
    Gold.refresh(Gold.build(Silver.chunk(Bronze.dedupByContent(fixtureBronze))), goldPath)
    val file = java.nio.file.Paths.get(goldPath, "_txlog", "index",
      f"v${TxTable.latestVersion(goldPath)}%08d.$defaultIndex")
    val good = Files.readAllBytes(file)
    val want = searchRows(Gold.searchIvf(spark, goldPath, probe, 3).collect())
    val flipped = good.clone(); flipped(20) = (flipped(20) ^ 1).toByte
    for (bad <- Seq(good.take(good.length / 2), flipped, Array.emptyByteArray)) {
      Files.write(file, bad)
      assert(Gold.loadIndex(goldPath, TxTable.latestVersion(goldPath),
        Gold.IvfCentroids, Gold.IvfIters).isEmpty)
      assert(searchRows(Gold.searchIvf(spark, goldPath, probe, 3).collect()) == want)
      assert(Files.readAllBytes(file).sameElements(good), "the rebuilt index differs")
    }
  }

  test("gold IVF index: two concurrent first searches agree and leave one file") {
    val goldPath = s"$tmp/gold-race"
    Gold.upsert(spark, goldPath,
      Gold.build(Silver.chunk(Bronze.dedupByContent(fixtureBronze))).repartition(3), "pk")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Seq[Any]]]
    val threads = (1 to 2).map(_ => new Thread(() =>
      results.add(searchRows(Gold.searchIvf(spark, goldPath, probe, 3).collect()))))
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val serial = searchRows(Gold.searchIvf(spark, goldPath, probe, 3).collect())
    assert(results.size == 2 && results.asScala.forall(_ == serial))
    assert(indexFiles(goldPath).size == 1, indexFiles(goldPath))
    assert(storedFrame(goldPath).count() == Gold.IvfCentroids)
  }

  test("crawl fetches each url exactly once across a depth-2 crawl") {
    import spark.implicits._
    val fetches = spark.sparkContext.longAccumulator("fetches")
    // static 4-node link graph: a -> {b,c}, b -> {d}, c -> {d,a}, d -> {}
    val graph = Map(
      "https://s/a" -> Seq("/b", "/c"),
      "https://s/b" -> Seq("/d"),
      "https://s/c" -> Seq("/d", "/a"),
      "https://s/d" -> Seq.empty[String])
    val fetchUdf = udf((url: String) => { fetches.add(1L); graph.getOrElse(url, Seq.empty) })
    val fetchPage = (f: DataFrame) => f
      .withColumn("links", fetchUdf(col("url")))
      .withColumn("page_content", concat(lit("content of "), col("url")))
    val out = Bronze.crawl(spark, Seq("https://s/a").toDF("url"), 2, fetchPage)
    assert(out.select("url").collect().map(_.getString(0)).toSet ==
      Set("https://s/a", "https://s/b", "https://s/c", "https://s/d"))
    // without per-round persist+materialize, each round's action replays
    // prior rounds' lineage and this exceeds 4 (reference semantics:
    // crawl_web.py:114-122 fetches each url once)
    assert(fetches.value == 4L, s"expected 4 fetches, got ${fetches.value}")
  }

  test("crawlAndLand lands every round, fetches once, and releases all caches") {
    import spark.implicits._
    spark.catalog.clearCache()
    val fetches = spark.sparkContext.longAccumulator("land-fetches")
    val graph = Map(
      "https://s/a" -> Seq("/b", "/c"),
      "https://s/b" -> Seq("/d"),
      "https://s/c" -> Seq("/d", "/a"),
      "https://s/d" -> Seq.empty[String])
    val fetchUdf = udf((url: String) => { fetches.add(1L); graph.getOrElse(url, Seq.empty) })
    val fetchPage = (f: DataFrame) => f
      .withColumn("links", fetchUdf(col("url")))
      .withColumn("page_content", concat(lit("content of "), col("url")))
    val path = s"$tmp/bronze-rounds"
    val n = Bronze.crawlAndLand(spark, Seq("https://s/a").toDF("url"), 2, fetchPage, path)
    val landed = spark.read.parquet(path)
    assert(landed.select("url").distinct().count() == 4)
    assert(n == 4L)
    assert(fetches.value == 4L, s"expected 4 fetches, got ${fetches.value}")
    // rounds are separate idempotent partitions
    assert(landed.select("crawl_round").distinct().count() == 3)
    // unlike crawl(), no round cache survives the call
    assert(spark.sharedState.cacheManager.isEmpty, "crawlAndLand leaked cached frames")
  }

  test("crawl over empty roots returns an empty frame with the page schema") {
    import spark.implicits._
    val fetchPage = (f: DataFrame) => f
      .withColumn("links", array().cast("array<string>"))
      .withColumn("page_content", lit("x"))
    val out = Bronze.crawl(spark, Seq.empty[String].toDF("url"), 2, fetchPage)
    assert(out.isEmpty)
    assert(out.columns.toSet == Set("url", "links", "page_content", "content_hash"))
  }

  test("land is idempotent: re-running the same day leaves counts stable") {
    val path = s"$tmp/bronze-idem"
    val df = Bronze.dedupByContent(fixtureBronze)
    // seed an OLDER partition first — a regression to static overwrite
    // (dropped partitionOverwriteMode) would silently delete it on land
    df.withColumn("crawl_date", lit("2020-01-01"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("crawl_date").parquet(path)
    val nOld = spark.read.parquet(path).filter(col("crawl_date") === "2020-01-01").count()
    assert(nOld > 0)
    Bronze.land(df, path)
    val n1 = spark.read.parquet(path).count()
    Bronze.land(df, path) // same-day re-run: dynamic overwrite, not append
    assert(spark.read.parquet(path).count() == n1)
    // the older partition survived both landings
    assert(spark.read.parquet(path).filter(col("crawl_date") === "2020-01-01").count() == nOld)
  }

  test("gold upsert: key-based merge is last-writer-wins and idempotent on re-run") {
    import spark.implicits._
    val path = s"$tmp/gold-upsert"
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("pk", "payload", "score")
    // first landing creates the table (TxTable-backed since round 15)
    Gold.upsert(spark, path, base, "pk")
    assert(Gold.readTable(spark, path).count() == 3)
    // batch updates pk=2 and inserts pk=4
    val batch = Seq((2L, "b2", 25.0), (4L, "d", 40.0)).toDF("pk", "payload", "score")
    Gold.upsert(spark, path, batch, "pk")
    def state() = Gold.readTable(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val afterFirst = state()
    assert(afterFirst == Set((1L, "a", 10.0), (2L, "b2", 25.0), (3L, "c", 30.0), (4L, "d", 40.0)),
      s"merge result wrong: $afterFirst")
    // crash-retry of the SAME batch: table state unchanged (no dup keys,
    // no lost rows) — the idempotence the reference's drop_old gets by
    // rewriting everything
    Gold.upsert(spark, path, batch, "pk")
    assert(state() == afterFirst)
    // the upsert history is a TxTable commit log: version 0 is still the
    // pre-merge table (time travel), latest is the merged state
    import graft.etl.TxTable
    assert(TxTable.exists(path))
    val v0 = TxTable.read(spark, path, 0).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(v0 == Set((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)),
      s"time-travel read of the pre-merge version wrong: $v0")
  }

  test("gold upsert migrates a legacy plain-parquet table into the commit log") {
    import spark.implicits._
    val path = s"$tmp/gold-legacy"
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("pk", "payload", "score")
      .write.parquet(path) // pre-TxTable layout: loose part files at root
    Gold.upsert(spark, path, Seq((2L, "b2", 25.0)).toDF("pk", "payload", "score"), "pk")
    val st = Gold.readTable(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(st == Set((1L, "a", 10.0), (2L, "b2", 25.0)))
    // version 0 = the lifted legacy contents
    val v0 = graft.etl.TxTable.read(spark, path, 0).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(v0 == Set((1L, "a", 10.0), (2L, "b", 20.0)))
    // the loose root files were cleared (their bytes live in the log now)
    val loose = new java.io.File(path).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(loose == 0, "legacy root parquet files must be cleared after migration")
  }

  test("silver: refreshPartition re-chunks one day without touching the other's files") {
    val bronzePath = s"$tmp/bronze-incr"; val silverPath = s"$tmp/silver-incr"
    val day1 = "2025-04-01"; val day2 = "2025-04-02"
    def landOn(date: String, df: DataFrame): Unit =
      df.withColumn("crawl_date", lit(date))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("crawl_date").parquet(bronzePath)
    val base = Bronze.dedupByContent(fixtureBronze)
    landOn(day1, base.limit(3))
    landOn(day2, base)
    Silver.refreshPartition(spark, bronzePath, silverPath, day1)
    Silver.refreshPartition(spark, bronzePath, silverPath, day2)
    def snapshot(day: String): Set[(String, Long, Long)] = {
      val d = new java.io.File(s"$silverPath/crawl_date=$day")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified, f.length)).toSet
    }
    val day1Before = snapshot(day1)
    assert(day1Before.nonEmpty)
    val day1Rows = spark.read.parquet(silverPath)
      .filter(col("crawl_date") === day1).count()
    // change day2's bronze, then re-chunk ONLY day2
    landOn(day2, base.limit(5))
    Silver.refreshPartition(spark, bronzePath, silverPath, day2)
    // day1's parquet files are bit-for-bit the same ones (Spark part-file
    // names are per-write UUIDs, so identical names == not rewritten)
    assert(snapshot(day1) == day1Before, "day1 silver files were rewritten")
    assert(spark.read.parquet(silverPath)
      .filter(col("crawl_date") === day1).count() == day1Rows)
    // day2 reflects the NEW bronze (5 docs, all short -> one chunk each
    // except the long pdf doc which fans out)
    val day2Rows = spark.read.parquet(silverPath).filter(col("crawl_date") === day2)
    assert(day2Rows.count() ==
      Silver.chunk(base.limit(5)).count(), "day2 not re-chunked from new bronze")
  }

  test("binary raw-asset mode reads via binaryFile source (A.5)") {
    val dir = Files.createTempDirectory("graft-bin")
    Files.write(dir.resolve("a.html"), "<html><body>hi</body></html>".getBytes)
    Files.write(dir.resolve("b.png"), Array[Byte](137.toByte, 80, 78, 71))
    val df = spark.read.format("binaryFile").load(dir.toString)
    assert(df.schema.fieldNames.toSet ==
      Set("path", "modificationTime", "length", "content"))
    assert(df.count() == 2)
  }

  test("compact collapses a small-file sprawl without changing a row; shuffle mode evens sizes") {
    import graft.etl.Compact
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    val src = Tables(spark, "/root/testdata/sf0.001", "events")
    src.repartition(64).write.mode("overwrite").parquet(tmp)
    val before = src.collect().map(_.toString).sorted
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    assert(nFiles >= 32, s"staging produced only $nFiles files")
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(tmp)).getLength
    val (b, a, reported) = Compact.compact(spark, tmp, targetBytes = bytes / 3 + 1)
    assert(b >= 32 && a <= 4 && a >= 1, s"compaction $b -> $a files")
    assert(reported == bytes)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tmp + "_compacting")),
      "staging dir left behind")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tmp + "_old")),
      "old dir left behind")
    val after = spark.read.parquet(tmp).collect().map(_.toString).sorted
    assert(after.toSeq == before.toSeq, "compaction changed the data")
    // shuffle mode: same rows, evenly sized output
    val (_, a2, _) = Compact.compact(spark, tmp, targetBytes = bytes / 3 + 1, shuffle = true)
    assert(a2 <= 4 && spark.read.parquet(tmp).count() == before.length)
  }

  test("compactPartitioned sweeps a standing index's per-batch file sprawl, search unchanged") {
    import graft.etl.Compact
    import graft.streaming.TextIndexStream
    import org.apache.spark.sql.functions._
    val src = java.nio.file.Files.createTempDirectory("graft-cpi-src").toString
    val idx = java.nio.file.Files.createTempDirectory("graft-cpi-idx").toString + "/index"
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cpi-ckpt").toString
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    // three ingest drops = up to three files per bucket partition
    (0 until 3).foreach { r =>
      docs.filter(col("doc_id") % 3 === r).write.mode("append").parquet(src)
      TextIndexStream.ingest(spark, src, idx, ckpt)
    }
    val postingsDir = s"$idx/postings"
    val fs = new org.apache.hadoop.fs.Path(postingsDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFiles: Map[String, Int] = fs.listStatus(new org.apache.hadoop.fs.Path(postingsDir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .map(p => p.getPath.getName ->
        fs.listStatus(p.getPath).count(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
      .toMap
    assert(partFiles.values.max >= 3, s"expected per-batch sprawl, got $partFiles")
    val queries = docs.filter(col("doc_id") % 250 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    val beforeSearch = TextIndexStream.search(spark, idx, queries, k = 5)
      .collect().map(_.toSeq).toSet
    val beforeRows = spark.read.parquet(postingsDir)
      .collect().map(_.toString).sorted.toSeq
    val (b, a, _) = Compact.compactPartitioned(spark, postingsDir)
    assert(b > a && partFiles.values.forall(_ == 1), s"sweep left sprawl: $partFiles")
    val afterRows = spark.read.parquet(postingsDir)
      .collect().map(_.toString).sorted.toSeq
    assert(afterRows == beforeRows, "compaction changed the postings")
    val afterSearch = TextIndexStream.search(spark, idx, queries, k = 5)
      .collect().map(_.toSeq).toSet
    assert(afterSearch == beforeSearch, "compaction changed search results")
    // idempotent: an already-compact index moves no data
    val (b2, a2, bytes2) = Compact.compactPartitioned(spark, postingsDir)
    assert(b2 == 0 && a2 == 0 && bytes2 == 0, s"re-sweep should skip: ($b2,$a2,$bytes2)")
  }
}
