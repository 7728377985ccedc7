package graft

import graft.streaming.EventsStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Streaming transforms must agree with their batch twins (q31/q28). */
class StreamingSpec extends AnyFunSuite with LocalSpark {

  private val sfDir = "/root/testdata/sf0.001"

  /** stage the events table as a plain-parquet dir (ts already us) so the
    * file stream source can read it with an explicit schema. */
  private lazy val stagedDir: String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    Tables(spark, sfDir, "events").write.mode("overwrite").parquet(dir)
    dir
  }

  test("incrementalIngest processes only new files per run; re-runs are no-ops") {
    val src = Files.createTempDirectory("graft-incr-src").toString
    val dest = Files.createTempDirectory("graft-incr-dest").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-incr-ckpt").toString
    val events = Tables(spark, sfDir, "events").limit(60).cache()
    // day 1 lands 40 events
    events.limit(40).write.mode("append").parquet(src)
    EventsStream.incrementalIngest(spark, src, dest, ckpt)
    assert(spark.read.parquet(dest).count() == 40)
    // re-run with nothing new: no-op (exactly-once over files)
    EventsStream.incrementalIngest(spark, src, dest, ckpt)
    assert(spark.read.parquet(dest).count() == 40)
    // day 2 lands 20 more in a new file; only those are processed
    events.orderBy(col("event_id").desc).limit(20).write.mode("append").parquet(src)
    EventsStream.incrementalIngest(spark, src, dest, ckpt)
    assert(spark.read.parquet(dest).count() == 60)
    events.unpersist()
  }

  test("streaming tumbling counts equal the batch q31 result") {
    val streamed = EventsStream.runToMemory(
      EventsStream.tumblingCounts(EventsStream.source(spark, stagedDir)), "tumbling")
      .collect().map(_.toSeq).toSet
    val batch = graft.queries.Relational.queries("q31_tumbling_window")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stateful streaming sessionize equals batch q28 sessionize") {
    import spark.implicits._
    val evts = spark.readStream.schema(EventsStream.eventSchema).parquet(stagedDir)
      .select(col("event_id"), col("ts"), col("user_id"))
      .as[EventsStream.Evt]
    val sessions = EventsStream.sessionize(evts)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    q.processAllAvailable(); q.stop()
    // open sessions never closed by a gap aren't emitted in append mode;
    // compare the CLOSED sessions against the batch result
    val streamed = spark.table("sessions")
      .select(col("user_id"), col("session_id"), col("n_events"), col("duration_sec"))
      .collect().map(_.toSeq).toSet
    val batch = graft.queries.Relational.queries("q28_sessionize")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch), "closed streaming sessions must match batch sessions")
    // every user's non-final sessions are closed -> difference is at most one (the open) session per user
    val missing = batch -- streamed
    val users = missing.map(_.head)
    assert(users.size == missing.size, "at most one open session per user")
  }

  test("streaming k-step funnel equals batch Funnel.sessionDepths on closed sessions") {
    import spark.implicits._
    val steps = Seq("view", "click", "purchase")
    val evts = spark.readStream.schema(EventsStream.eventSchema).parquet(stagedDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[EventsStream.FEvt]
    val q = EventsStream.funnelDepths(evts, steps).writeStream.outputMode("append")
      .format("memory").queryName("funnel").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("funnel").collect().map(_.toSeq).toSet
    // batch twin surface: every session with its depth, 0 included
    val events = Tables(spark, sfDir, "events")
    val all = graft.operators.Funnel.sessionized(events)
      .select(col("user_id"), col("session_id")).distinct()
    val batch = all.join(
        graft.operators.Funnel.sessionDepths(events, steps),
        Seq("user_id", "session_id"), "left")
      .na.fill(0L, Seq("depth")).collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    assert(streamed.exists(_(2).asInstanceOf[Long] >= 2L), "fixture should convert somewhere")
    assert(streamed.subsetOf(batch), "closed streaming funnel sessions must match batch depths")
    // append mode: at most the final (still-open) session per user missing
    val missing = batch -- streamed
    assert(missing.map(_.head).size == missing.size, "at most one open session per user")
  }

  test("Funnel greedy position matching is exact on a crafted sequence") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // one user, one session. Order: click(1) view(2) purchase(3) click(4).
    // view->click->purchase: view@2, click@4 after it, but no purchase
    // after position 4 -> depth 2, NOT 3 (the purchase@3 precedes the
    // matched click — ordered subsequence, not per-type min/max).
    val events = Seq(
      (1L, ts(10), 7L, "click", 0.0, "{}"),
      (2L, ts(20), 7L, "view", 0.0, "{}"),
      (3L, ts(30), 7L, "purchase", 0.0, "{}"),
      (4L, ts(40), 7L, "click", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val steps = Seq("view", "click", "purchase")
    val depths = graft.operators.Funnel.sessionDepths(events, steps).collect()
    assert(depths.length == 1 && depths.head.getAs[Long]("depth") == 2L, depths.mkString)
    val summary = graft.operators.Funnel.kStepFunnel(events, steps).collect()
      .map(r => r.getAs[Long]("step") -> r.getAs[Long]("n_sessions")).toMap
    assert(summary == Map(1L -> 1L, 2L -> 1L, 3L -> 0L), summary.toString)
    // repeated step types need strictly-later positions: click,click at
    // distinct times completes [click, click]; a single click does not
    val twice = Seq(
      (1L, ts(10), 8L, "click", 0.0, "{}"),
      (2L, ts(20), 8L, "click", 0.0, "{}"),
      (3L, ts(10), 9L, "click", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val d2 = graft.operators.Funnel.sessionDepths(twice, Seq("click", "click")).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("depth")).toMap
    assert(d2 == Map(8L -> 2L, 9L -> 1L), d2.toString)
  }

  test("deep funnel (k=6) persisted-intermediates path equals the chained-plan path") {
    // k=6 crosses the auto-persist threshold; a k=10 funnel without
    // persistence would union ~50 repeated subtrees. Assert the
    // localCheckpoint path is result-identical to the lazy chained plan
    // on real data, both for the summary and the per-session depths.
    val events = Tables(spark, sfDir, "events")
    val steps = Seq("view", "click", "view", "click", "view", "purchase")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(graft.operators.Funnel.kStepFunnel(events, steps,
        persistIntermediates = Some(true))) ==
      rows(graft.operators.Funnel.kStepFunnel(events, steps,
        persistIntermediates = Some(false))))
    val persisted = graft.operators.Funnel.sessionDepths(events, steps)            // k>4 ⇒ auto on
    val chained = graft.operators.Funnel.sessionDepths(events, steps,
      persistIntermediates = Some(false))
    assert(rows(persisted) == rows(chained))
    assert(rows(persisted).nonEmpty)
  }

  test("stream-stream click-purchase join equals its batch twin, contains q36's as-of click") {
    import org.apache.spark.sql.streaming.OutputMode
    val streamed = EventsStream.runToMemory(
      EventsStream.clickPurchaseJoin(EventsStream.source(spark, stagedDir)),
      "sspairs", OutputMode.Append())
      .collect().map(_.toSeq).toSet
    // identical expression in batch mode (watermarks are batch no-ops)
    val batch = EventsStream.clickPurchaseJoin(Tables(spark, sfDir, "events"))
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch, "stream-stream join must equal its batch twin")
    // consistency with the q36 as-of join: whenever a purchase matched ANY
    // click in the window, the as-of (latest preceding) click is the
    // closest one, so it must be among the matches
    val joinedByPurchase = streamed.groupBy(_.head).map { case (p, rows) =>
      p -> rows.map(_(2)) }
    graft.queries.Relational.queries("q36_asof_join")(spark, sfDir).collect()
      .filter(r => !r.isNullAt(2))
      .foreach { r =>
        joinedByPurchase.get(r.getLong(0)).foreach { clicks =>
          assert(clicks.contains(r.getLong(2)),
            s"purchase ${r.getLong(0)} joined clicks $clicks miss as-of click ${r.getLong(2)}")
        }
      }
  }

  test("streaming dedup drops replayed events within the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp, Long)]
    val df = ms.toDS().toDF("event_id", "ts", "user_id")
    val q = EventsStream.dedupStream(df).writeStream
      .outputMode("append").format("memory").queryName("dedup_test").start()
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    try {
      ms.addData((1L, ts(100), 1L), (2L, ts(110), 1L))
      q.processAllAvailable()
      // replay event 1 in a later micro-batch (at-least-once delivery)
      ms.addData((1L, ts(100), 1L), (3L, ts(120), 2L))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), s"expected deduped ids, got ${ids.mkString(",")}")
    } finally q.stop()
  }

  test("documents dedupStream drops a doc replayed in a LATER micro-batch (cross-batch state)") {
    import graft.streaming.DocumentsStream
    val src = Files.createTempDirectory("graft-docdedup-src").toString
    val docs = Tables(spark, sfDir, "documents").limit(10).cache()
    // drop 1: docs as-is; drop 2 (separate file = separate micro-batch):
    // 5 replayed docs under NEW doc_ids (same text) + 2 genuinely new
    docs.write.mode("append").parquet(src)
    docs.limit(5).withColumn("doc_id", col("doc_id") + 1000000L)
      .write.mode("append").parquet(src)
    val out = DocumentsStream.dedupStream(
      DocumentsStream.source(spark, src).withColumn("f", input_file_name()))
    val q = out.writeStream.outputMode("append")
      .option("maxFilesPerTrigger", "1") // force multi-batch
      .format("memory").queryName("docdedup_test").start()
    q.processAllAvailable(); q.stop()
    val kept = spark.table("docdedup_test")
    // exactly one row per distinct text survives, and it is the FIRST
    // arrival (original doc_id, not the +1e6 replay)
    val expected = docs.select(col("text")).distinct().count()
    assert(kept.count() == expected, s"state did not dedup across batches")
    assert(kept.filter(col("doc_id") >= 1000000L).isEmpty ||
      kept.filter(col("doc_id") >= 1000000L).count() ==
        kept.count() - docs.dropDuplicates("text").filter(col("doc_id") < 1000000L).count(),
      "a replayed copy displaced its original")
    docs.unpersist()
  }

  test("streaming perplexity gate equals the batch q74 scorer row-for-row") {
    import graft.streaming.DocumentsStream
    import graft.queries.TrainingOps
    val src = Files.createTempDirectory("graft-ppl-src").toString
    val dest = Files.createTempDirectory("graft-ppl-dest").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-ppl-ckpt").toString
    val all = Tables(spark, sfDir, "documents")
    val ref = all.filter(col("doc_id") % 20 === 0).cache()
    val train = all.filter(col("doc_id") % 20 =!= 0).limit(40).cache()
    // two drops → two micro-batches; per-doc scoring must not care
    train.limit(25).write.mode("append").parquet(src)
    train.orderBy(col("doc_id").desc).limit(15).write.mode("append").parquet(src)
    DocumentsStream.perplexityGate(spark, src, ref, dest, ckpt)
    val (vocab, totals) = TrainingOps.pplLm(ref)
    val batch = TrainingOps.pplScore(train, vocab, totals).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val stream = spark.read.parquet(dest).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(stream.sorted.toSeq == batch.sorted.toSeq,
      s"stream/batch divergence: stream=${stream.length} batch=${batch.length} rows")
    // exactly-once: a re-run with no new files appends nothing
    DocumentsStream.perplexityGate(spark, src, ref, dest, ckpt)
    assert(spark.read.parquet(dest).count() == batch.length)
    ref.unpersist(); train.unpersist()
  }

  test("event-time timeout flushes an idle user's open session") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventsStream.Evt]
    val sessions = EventsStream.sessionize(ms.toDS(), gapSec = 60L, watermarkDelay = "0 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("flush_test").start()
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    try {
      ms.addData(EventsStream.Evt(1L, ts(100), 1L), EventsStream.Evt(2L, ts(130), 1L))
      q.processAllAvailable()
      assert(spark.table("flush_test").isEmpty) // session still open, nothing emitted
      // user 2's events advance the watermark past user 1's session end
      // (130 + 60); the next batch evaluates timeouts against it
      ms.addData(EventsStream.Evt(3L, ts(1000), 2L))
      q.processAllAvailable()
      ms.addData(EventsStream.Evt(4L, ts(1001), 2L))
      q.processAllAvailable()
      val flushed = spark.table("flush_test").as[EventsStream.SessionAgg].collect()
      assert(flushed.exists(r => r.user_id == 1L && r.session_id == 1L
          && r.n_events == 2L && r.duration_sec == 30L),
        s"idle user's session not flushed: ${flushed.mkString(", ")}")
      // user 1 returns after the flush: the next session must CONTINUE the
      // counter (id 2), not restart at 1 and collide with the emitted key
      ms.addData(EventsStream.Evt(5L, ts(2000), 1L), EventsStream.Evt(6L, ts(2010), 1L))
      q.processAllAvailable()
      ms.addData(EventsStream.Evt(7L, ts(5000), 2L))
      q.processAllAvailable()
      ms.addData(EventsStream.Evt(8L, ts(5001), 2L))
      q.processAllAvailable()
      val all = spark.table("flush_test").as[EventsStream.SessionAgg].collect()
      assert(all.exists(r => r.user_id == 1L && r.session_id == 2L && r.n_events == 2L),
        s"post-flush session must get id 2: ${all.mkString(", ")}")
      val keys = all.map(r => (r.user_id, r.session_id))
      assert(keys.distinct.length == keys.length, s"duplicate session keys: ${all.mkString(", ")}")
    } finally q.stop()
  }

  test("incremental IVF ingest builds the same index as a batch build; replays are no-ops") {
    import graft.streaming.EmbeddingsStream
    import graft.operators.Similarity
    val src = Files.createTempDirectory("graft-ivf-src").toString
    val idx = Files.createTempDirectory("graft-ivf-idx").toString + "/index"
    val ckpt = Files.createTempDirectory("graft-ivf-ckpt").toString
    val corpus = Tables(spark, sfDir, "embeddings").cache()
    val cents = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec")).cache()
    // drop 1: the even vec_ids; drop 2: the odd ones — two separate runs
    corpus.filter(col("vec_id") % 2 === 0).write.mode("append").parquet(src)
    EmbeddingsStream.ivfIngest(spark, src, cents, idx, ckpt)
    val afterFirst = spark.read.parquet(idx).count()
    // replay with nothing new: exactly-once over files
    EmbeddingsStream.ivfIngest(spark, src, cents, idx, ckpt)
    assert(spark.read.parquet(idx).count() == afterFirst)
    corpus.filter(col("vec_id") % 2 === 1).write.mode("append").parquet(src)
    EmbeddingsStream.ivfIngest(spark, src, cents, idx, ckpt)
    // the incrementally-built index is row-identical to one batch build
    val streamed = spark.read.parquet(idx)
      .select(col("vec_id"), col("centroid_id"), col("casim"))
      .collect().map(_.toSeq).toSet
    val batch = RelationalTwins.nearestCentroid(
        corpus.select(col("vec_id"), col("embedding")), cents, "embedding", "vec_id")
      .select(col("vec_id"), col("centroid_id"), col("casim"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    // search against the standing index == the batch ivfTopK
    val queries = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val viaIndex = EmbeddingsStream.searchIndex(spark, idx, queries, cents, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val viaBatch = Similarity.ivfTopK(queries,
        corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv")),
        cents, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(viaIndex.nonEmpty && viaIndex == viaBatch)
    cents.unpersist(); corpus.unpersist()
  }

  test("label-subpartitioned index: filtered search equals the batch pre-filter IVF (q90 shape)") {
    import graft.streaming.EmbeddingsStream
    import graft.operators.Similarity
    import org.apache.spark.sql.expressions.Window
    val src = Files.createTempDirectory("graft-fivf-src").toString
    val idx = Files.createTempDirectory("graft-fivf-idx").toString + "/index"
    val ckpt = Files.createTempDirectory("graft-fivf-ckpt").toString
    val corpus = Tables(spark, sfDir, "embeddings").cache()
    val cents = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec")).cache()
    corpus.filter(col("vec_id") % 2 === 0).write.mode("append").parquet(src)
    EmbeddingsStream.ivfIngest(spark, src, cents, idx, ckpt, subpartitionByLabel = true)
    corpus.filter(col("vec_id") % 2 === 1).write.mode("append").parquet(src)
    EmbeddingsStream.ivfIngest(spark, src, cents, idx, ckpt, subpartitionByLabel = true)
    // layout: the label really is a secondary PARTITION column (file-level
    // pruning surface), not a data column
    val labelDirs = new java.io.File(idx).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).map(_.getName).filter(_.startsWith("label="))
    assert(labelDirs.nonEmpty, s"no label= subdirectories under $idx")
    val queries = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val viaIndex = EmbeddingsStream.searchIndexFiltered(
        spark, idx, queries, cents, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    // batch twin: q90's shape — predicate INSIDE the candidate scan,
    // before ranking (pre-filter semantics)
    val corpusAssigned = RelationalTwins.nearestCentroid(
        corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"),
          col("label").as("clabel")),
        cents, "cv", "neighbor_id", Seq("cv", "clabel")).drop("casim")
    val probes = RelationalTwins.assignProbes(queries, cents, 2)
    val cands = corpusAssigned.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("clabel") === col("qlabel") && col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.guardedCosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    val viaBatch = cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank").cast("long"))
      .collect().map(_.toSeq).toSet
    assert(viaIndex.nonEmpty && viaIndex == viaBatch)
    // pre-filter semantics: every hit's label matches its query's label
    val labels = corpus.select(col("vec_id"), col("label"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    viaIndex.foreach { r =>
      val (qid, nid) = (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long])
      assert(labels(qid) == labels(nid), s"hit $nid has label ${labels(nid)} != query $qid's ${labels(qid)}")
    }
    cents.unpersist(); corpus.unpersist()
  }

  test("compacting a standing-index partition preserves search results and shrinks file count") {
    import graft.streaming.EmbeddingsStream
    val src = Files.createTempDirectory("graft-cpt-src").toString
    val idx = Files.createTempDirectory("graft-cpt-idx").toString + "/index"
    val ckpt = Files.createTempDirectory("graft-cpt-ckpt").toString
    val corpus = Tables(spark, sfDir, "embeddings").cache()
    val cents = corpus.filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec")).cache()
    // three drops → up to 3+ files per partition: the small-file sprawl
    // every append-per-batch standing index accumulates
    Seq(0, 1, 2).foreach { m =>
      corpus.filter(col("vec_id") % 3 === m).write.mode("append").parquet(src)
      EmbeddingsStream.ivfIngest(spark, src, cents, idx, ckpt)
    }
    val queries = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val before = EmbeddingsStream.searchIndex(spark, idx, queries, cents, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    // compact the fattest partition directory in place
    val idxPath = new org.apache.hadoop.fs.Path(idx)
    val fs = idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(idxPath).map(_.getPath)
      .filter(_.getName.startsWith("centroid_id="))
      .maxBy(p => fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")))
    val (nBefore, nAfter, _) = graft.etl.Compact.compact(spark, part.toString)
    assert(nBefore > 1, s"fixture must sprawl files to compact (got $nBefore)")
    assert(nAfter < nBefore, s"compaction must shrink: $nBefore -> $nAfter")
    // the directory-encoded partition key survives the rewrite, so the
    // standing index reads back identically — search is byte-for-byte
    val after = EmbeddingsStream.searchIndex(spark, idx, queries, cents, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(after == before, "compaction changed search results")
    cents.unpersist(); corpus.unpersist()
  }

  test("standing residual-PQ index: streamed codes equal the batch encode; ADC search equals batch ADC") {
    import graft.streaming.EmbeddingsStream
    import graft.operators.Similarity
    import graft.queries.VectorOps
    val src = Files.createTempDirectory("graft-pqi-src").toString
    val idx = Files.createTempDirectory("graft-pqi-idx").toString + "/index"
    val ckpt = Files.createTempDirectory("graft-pqi-ckpt").toString
    val corpus = Tables(spark, sfDir, "embeddings").cache()
    // offline train step (the faiss/Milvus deployment shape): coarse
    // centroids + residual codebooks from a batch pass; the stream then
    // encodes arrivals against these STATIC artifacts
    val cents = Similarity.kmeansCentroids(spark, corpus, 8, 2).cache()
    val res = RelationalTwins.nearestCentroid(
        corpus.select(col("vec_id"), col("embedding")), cents,
        "embedding", "vec_id", Seq("embedding"))
      .join(broadcast(cents), Seq("centroid_id"))
      .withColumn("r", expr(
        "zip_with(embedding, cvec, (a, b) -> CAST(a AS FLOAT) - CAST(b AS FLOAT))"))
      .select(col("vec_id"), col("centroid_id"), col("r"))
      .cache()
    val pcents = VectorOps.pqCodebooks(spark, res, "r").cache(); pcents.count()
    // two drops through the codes-only (storeRaw = false) ingest
    corpus.filter(col("vec_id") % 2 === 0).write.mode("append").parquet(src)
    EmbeddingsStream.ivfIngest(spark, src, cents, idx, ckpt,
      pqCodebooks = pcents, storeRaw = false)
    corpus.filter(col("vec_id") % 2 === 1).write.mode("append").parquet(src)
    EmbeddingsStream.ivfIngest(spark, src, cents, idx, ckpt,
      pqCodebooks = pcents, storeRaw = false)
    val indexed = spark.read.parquet(idx)
    // codes-only layout: no raw vector or cosine survives into the index
    assert(!indexed.columns.contains("embedding") && !indexed.columns.contains("casim"),
      s"storeRaw=false index must not carry raw vectors: ${indexed.columns.mkString(",")}")
    // stream-built codes == the batch encode over the union, bit for bit
    // (fold the batch per-(vec, sub) rows to arrays in plain Scala — an
    // independent path from pqCodesOf's array_sort/transform fold)
    val streamed = indexed
      .select(col("vec_id"), col("centroid_id").cast("long"), col("codes"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toList)).toSet
    val batchCodes = VectorOps.pqEncode(
        VectorOps.pqSubvectors(res, "vec_id", "r", carry = Seq("centroid_id")),
        pcents, Seq("vec_id", "centroid_id"))
      .collect()
      .groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case ((v, c), rows) =>
        (v, c, rows.sortBy(_.getAs[Int]("sub")).map(_.getAs[Long]("code").toInt).toList)
      }.toSet
    assert(streamed.nonEmpty && streamed == batchCodes,
      "streamed PQ codes diverge from the batch encode")
    // ADC search against the standing codes == the batch ADC scoring
    // (q103's probe arithmetic) over the batch-encoded corpus
    val queries = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val viaIndex = EmbeddingsStream.searchIndexAdc(
        spark, idx, queries, cents, pcents, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val codesDf = VectorOps.pqEncode(
      VectorOps.pqSubvectors(res, "vec_id", "r", carry = Seq("centroid_id")),
      pcents, Seq("vec_id", "centroid_id"))
    val qtab = RelationalTwins.assignProbes(queries, cents, 2)
      .join(broadcast(cents), Seq("centroid_id"))
      .withColumn("qr", expr(
        "zip_with(qv, cvec, (a, b) -> CAST(a AS FLOAT) - CAST(b AS FLOAT))"))
      .select(col("query_id"), col("centroid_id"), explode(expr(
        s"transform(sequence(0, ${VectorOps.PqM - 1}), m -> struct(m AS sub, " +
          s"slice(qr, m * ${VectorOps.PqSubDim} + 1, ${VectorOps.PqSubDim}) AS sv))")).as("x"))
      .select(col("query_id"), col("centroid_id"), col("x.sub").as("sub"), col("x.sv").as("sv"))
      .join(broadcast(pcents), Seq("sub"))
      .withColumn("t", expr("CAST(FLOOR((" +
        graft.functions.VectorFunctions.dotExpr("sv", "cvec") + ") * 1000000.0) AS BIGINT)"))
      .select(col("query_id"), col("centroid_id"), col("sub"), col("code"), col("t"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("adc_micro").desc, col("vec_id").asc)
    val viaBatch = codesDf.join(broadcast(qtab), Seq("centroid_id", "sub", "code"))
      .filter(col("query_id") =!= col("vec_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("t")).as("adc_micro"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc_micro"), col("rank"))
      .collect().map(_.toSeq).toSet
    assert(viaIndex.nonEmpty && viaIndex == viaBatch,
      "standing-index ADC search diverges from the batch ADC")
    pcents.unpersist(); res.unpersist(); cents.unpersist(); corpus.unpersist()
  }

  test("centroid sufficient-statistics fold: recenter from state equals recomputing over the index") {
    import graft.streaming.EmbeddingsStream
    val src = Files.createTempDirectory("graft-rc-src").toString
    val idx = Files.createTempDirectory("graft-rc-idx").toString + "/index"
    val stats = Files.createTempDirectory("graft-rc-st").toString + "/stats"
    val ckpt = Files.createTempDirectory("graft-rc-ckpt").toString
    val corpus = Tables(spark, sfDir, "embeddings").cache()
    // centroid 7777 is a decoy no vector will be nearest to (it IS
    // vec_id 7's vector, so 7 wins all its ties by lower id — the
    // empty-cluster rule must keep the decoy in place)
    val base = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    val decoy = corpus.filter(col("vec_id") === 7)
      .select(lit(7777L).as("centroid_id"), col("embedding").as("cvec"))
    val cents = base.unionByName(decoy).cache(); cents.count()
    corpus.filter(col("vec_id") % 2 === 0).write.mode("append").parquet(src)
    EmbeddingsStream.ivfIngest(spark, src, cents, idx, ckpt, statsDir = stats)
    corpus.filter(col("vec_id") % 2 === 1).write.mode("append").parquet(src)
    EmbeddingsStream.ivfIngest(spark, src, cents, idx, ckpt, statsDir = stats)
    // the two-drop fold equals one aggregation over the standing index
    val folded = spark.read.parquet(stats).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // partitionBy wrote centroid_id as a directory key, which reads
    // back integer-inferred — normalise before the recount
    val idxDf = spark.read.parquet(idx)
      .withColumn("centroid_id", col("centroid_id").cast("long"))
    val direct = EmbeddingsStream.centroidStats(idxDf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(folded == direct, "stats fold diverges from an index-wide recount")
    // recenter from the k·dim state == the trainer-exact mean over the
    // index, bit-for-bit on every float
    val rec = EmbeddingsStream.recenter(spark, stats, cents).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val byIdx = idxDf
      .select(col("centroid_id"), posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy(col("centroid_id"), col("d"))
      .agg(expr("CAST(CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS DOUBLE)" +
        " / COUNT(*) / 1000000.0 AS FLOAT)").as("m"))
      .collect().groupBy(_.getLong(0))
      .map { case (c, rs) => c -> rs.sortBy(_.getInt(1)).map(_.getFloat(2)).toSeq }
    byIdx.foreach { case (c, m) => assert(rec(c) == m, s"centroid $c drifted from exact mean") }
    // the empty decoy keeps its previous position
    val decoyVec = cents.filter(col("centroid_id") === 7777L)
      .head.getSeq[Float](1)
    assert(rec(7777L) == decoyVec, "empty cluster must keep its centroid")
    cents.unpersist(); corpus.unpersist()
  }

  test("standing inverted index: incremental BM25 equals the batch build; replays are no-ops") {
    import graft.streaming.TextIndexStream
    val src = Files.createTempDirectory("graft-tix-src").toString
    val idx = Files.createTempDirectory("graft-tix-idx").toString + "/index"
    val ckpt = Files.createTempDirectory("graft-tix-ckpt").toString
    val docs = Tables(spark, sfDir, "documents").cache()
    // drop 1: even doc_ids; drop 2: odd — two separate ingest runs
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    TextIndexStream.ingest(spark, src, idx, ckpt)
    val afterFirst = spark.read.parquet(s"$idx/postings").count()
    assert(afterFirst > 0)
    // replay with nothing new: exactly-once over files
    TextIndexStream.ingest(spark, src, idx, ckpt)
    assert(spark.read.parquet(s"$idx/postings").count() == afterFirst)
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
    TextIndexStream.ingest(spark, src, idx, ckpt)
    // the q75 query set, phrased as (query_id, text) against the index
    val queries = docs.filter(col("doc_id") % 250 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    val viaIndex = TextIndexStream.search(spark, idx, queries, k = 5)
      .collect().map(_.toSeq).toSet
    // bit-equal to the batch q75 path over the union of both drops
    val viaBatch = graft.queries.VectorOps.bm25Ranked(spark, sfDir, 5)
      .collect().map(_.toSeq).toSet
    assert(viaIndex.nonEmpty && viaIndex == viaBatch)
    // corpus stats aggregated from per-batch rows, not a per-doc table
    assert(spark.read.parquet(s"$idx/stats").count() == 2)
    docs.unpersist()
  }

  test("incremental sequence packing equals the batch q81 layout; replays are no-ops") {
    import graft.streaming.PackStream
    val src = Files.createTempDirectory("graft-pack-src").toString
    val packDir = Files.createTempDirectory("graft-pack-out").toString + "/pack"
    val ckpt = Files.createTempDirectory("graft-pack-ckpt").toString
    val docs = Tables(spark, sfDir, "documents").cache()
    // the stream arrives as doc_id-ordered RANGES (the landing-layer
    // contract: drops are produced in crawl order) — three drops
    docs.filter(col("doc_id") < 100).write.mode("append").parquet(src)
    PackStream.ingest(spark, src, packDir, ckpt)
    val afterFirst = PackStream.segments(spark, packDir).count()
    val tokensFirst = PackStream.totalTokens(spark, packDir)
    assert(afterFirst > 0 && tokensFirst > 0)
    // replay with nothing new: exactly-once over files
    PackStream.ingest(spark, src, packDir, ckpt)
    assert(PackStream.segments(spark, packDir).count() == afterFirst)
    assert(PackStream.totalTokens(spark, packDir) == tokensFirst)
    docs.filter(col("doc_id") >= 100 && col("doc_id") < 250)
      .write.mode("append").parquet(src)
    PackStream.ingest(spark, src, packDir, ckpt)
    docs.filter(col("doc_id") >= 250).write.mode("append").parquet(src)
    PackStream.ingest(spark, src, packDir, ckpt)
    // row-for-row equal to the batch q81 over the whole corpus: a doc
    // arriving at a window boundary in drop 2 splits exactly as the
    // batch build would have split it
    val streamed = PackStream.segments(spark, packDir)
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("q81_sequence_pack")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream/batch diverge: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    // the carried offset is an aggregate over batch-count rows
    assert(spark.read.parquet(s"$packDir/state").count() == 3)
    assert(PackStream.totalTokens(spark, packDir) ==
      docs.select(sum(expr("size(filter(split(text, ' '), x -> x <> ''))")))
        .head.getLong(0))
    docs.unpersist()
  }

  test("CDC stream classifies drops as added/modified/unchanged against standing state") {
    import graft.streaming.ChangeStream
    import spark.implicits._
    val src = Files.createTempDirectory("graft-cdc-src").toString
    val cdc = Files.createTempDirectory("graft-cdc-out").toString + "/cdc"
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
    def drop(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("syn"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("append").parquet(src)
    // drop 1: docs 0-9
    drop((0L until 10L).map(i => i -> s"text $i"))
    ChangeStream.ingest(spark, src, cdc, ckpt)
    val c1 = ChangeStream.changes(spark, cdc)
      .groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c1 == Map("added" -> 10L), c1)
    // checkpoint replay: nothing new, nothing logged
    ChangeStream.ingest(spark, src, cdc, ckpt)
    assert(ChangeStream.changes(spark, cdc).count() == 10)
    // drop 2: docs 5-14; 6 and 9 re-crawled with changed text
    drop((5L until 15L).map(i =>
      i -> (if (i == 6 || i == 9) s"text $i v2" else s"text $i")))
    ChangeStream.ingest(spark, src, cdc, ckpt)
    val c2 = ChangeStream.changes(spark, cdc).filter(col("batch_id") > 0)
      .groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c2 == Map("added" -> 5L, "modified" -> 2L, "unchanged" -> 3L), c2)
    // standing state is last-writer-wins: 15 keys, 6/9 carry the v2 hash
    val st = ChangeStream.state(spark, cdc).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st.size == 15)
    assert(st(6L) == org.apache.commons.codec.digest.DigestUtils.sha256Hex("text 6 v2"))
    assert(st(3L) == org.apache.commons.codec.digest.DigestUtils.sha256Hex("text 3"))
    // a byte-identical re-drop in a NEW file logs as all-unchanged
    drop(Seq(7L -> "text 7"))
    ChangeStream.ingest(spark, src, cdc, ckpt)
    val c3 = ChangeStream.changes(spark, cdc).filter(col("batch_id") > 1)
      .groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(c3 == Map("unchanged" -> 1L), c3)
    assert(ChangeStream.state(spark, cdc).count() == 15)
    import graft.etl.TxTable
    val statePath = s"$cdc/hashes"
    // round 16: the state is partition-scoped (hash buckets) — the
    // single-doc drop 3 rewrote ONLY doc 7's bucket; every other
    // bucket's dirs were carried into the new manifest BY REFERENCE
    val vCur = TxTable.latestVersion(statePath)
    val sPrev = TxTable.snapshot(statePath, vCur - 1)
    val sCur = TxTable.snapshot(statePath, vCur)
    assert(sCur.entries.forall(_._2.nonEmpty), "CDC state history is not partition-scoped")
    val touchedB = spark.range(1)
      .select(pmod(xxhash64(lit(7L)), lit(ChangeStream.StateBuckets)).cast("string"))
      .head.getString(0)
    def bDirs(s: TxTable.Snapshot, p: String) = s.entries.filter(_._2 == p).map(_._1).toSet
    assert(bDirs(sCur, touchedB) != bDirs(sPrev, touchedB), "touched bucket not rewritten")
    (sPrev.entries.map(_._2).toSet - touchedB).foreach { p =>
      assert(bDirs(sCur, p) == bDirs(sPrev, p), s"untouched bucket $p was rewritten")
    }
    // bounded history (round 15): the state is TxTable-committed per
    // batch, and ingest vacuums past RetainVersions — a long-lived
    // stream must never hold one state copy per micro-batch
    val latest = TxTable.latestVersion(statePath)
    val readable = (0L to latest).count(v =>
      scala.util.Try(TxTable.snapshot(statePath, v)).isSuccess)
    assert(readable <= ChangeStream.RetainVersions,
      s"CDC state history unbounded: $readable versions readable")
    // the surviving history window still time-travels
    assert(TxTable.read(spark, statePath, latest).count() == 15)
    // round 17: the scoping constant is part of the persistent layout —
    // recorded at creation, read back (not assumed) by every later batch,
    // so a binary rebuilt with a different StateBuckets cannot mis-scope
    assert(TxTable.snapshot(statePath).layout ==
      s"hash-bucket(doc_id):${ChangeStream.StateBuckets}")
    assert(ChangeStream.bucketCountOf(statePath).contains(ChangeStream.StateBuckets))
  }

  test("standing near-dup index: streamed matches equal the batch banding over all drops") {
    import graft.streaming.NearDupStream
    val src = Files.createTempDirectory("graft-ndup-src").toString
    val dup = Files.createTempDirectory("graft-ndup-out").toString + "/dup"
    val ckpt = Files.createTempDirectory("graft-ndup-ckpt").toString
    val docs = Tables(spark, sfDir, "documents").cache()
    // two doc_id-range drops (arrival order = id order)
    val mid = 250L
    docs.filter(col("doc_id") < mid).write.mode("append").parquet(src)
    NearDupStream.ingest(spark, src, dup, ckpt)
    val afterFirst = NearDupStream.matches(spark, dup).count()
    // replay: no new files, nothing appended
    NearDupStream.ingest(spark, src, dup, ckpt)
    assert(NearDupStream.matches(spark, dup).count() == afterFirst)
    docs.filter(col("doc_id") >= mid).write.mode("append").parquet(src)
    NearDupStream.ingest(spark, src, dup, ckpt)
    val streamed = NearDupStream.matches(spark, dup)
      .select("doc_id", "matched_id", "n_agree").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch reference: band-candidate pairs over the WHOLE corpus with
    // the same signatures, oriented greater -> lesser, n_agree recounted
    val sig = graft.queries.TextOps.minhashSig(
      docs.withColumn("arr",
          graft.functions.TextFunctions.shinglesUdf(col("text"), lit(3)))
        .select(col("doc_id"), explode(col("arr")).as("s"))).cache()
    val sigMap = sig.collect().map(r =>
      r.getLong(0) -> (1 to 16).map(i => r.getLong(i)).toSeq).toMap
    val expected = graft.queries.TextOps.lshCandidatePairs(sig, bands = 8).collect()
      .map(r => (r.getLong(0) max r.getLong(1), r.getLong(0) min r.getLong(1)))
      .toSet[(Long, Long)]
      .map { case (a, b) =>
        (a, b, sigMap(a).zip(sigMap(b)).count { case (x, y) => x == y }.toLong)
      }
    assert(streamed == expected,
      s"stream/batch near-dup divergence: extra=${(streamed diff expected).take(3)} missing=${(expected diff streamed).take(3)}")
    // the estimator is honest: every exact-duplicate content agrees on all 16
    assert(streamed.exists(_._3 == 16L),
      "fixture corpus contains exact dups — some match must agree on all 16")
    sig.unpersist(); docs.unpersist()
  }

  test("empty text index (whitespace-only corpus) fails search with a clear message, not an NPE") {
    import graft.streaming.TextIndexStream
    import spark.implicits._
    val src = Files.createTempDirectory("graft-tix-empty-src").toString
    val idx = Files.createTempDirectory("graft-tix-empty-idx").toString + "/index"
    val ckpt = Files.createTempDirectory("graft-tix-empty-ckpt").toString
    // a drop of only empty/whitespace docs: the stats row has n=0, t=NULL
    Seq((1L, "   ", "en", "s", 3L), (2L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(src)
    TextIndexStream.ingest(spark, src, idx, ckpt)
    val queries = Seq((10L, "anything")).toDF("query_id", "text")
    val e = intercept[IllegalArgumentException] {
      TextIndexStream.search(spark, idx, queries, k = 5)
    }
    assert(e.getMessage.contains("empty"), e.getMessage)
  }

  test("standing sketches: streamed KMV and CMS states are BIT-identical to the batch sketches") {
    import graft.streaming.SketchStream
    val src = Files.createTempDirectory("graft-sk-src").toString
    val skDir = Files.createTempDirectory("graft-sk-out").toString + "/sketch"
    val ckpt = Files.createTempDirectory("graft-sk-ckpt").toString
    val docs = Tables(spark, sfDir, "documents").cache()
    docs.filter(col("doc_id") < 100).write.mode("append").parquet(src)
    SketchStream.ingest(spark, src, skDir, ckpt)
    val kmvFirst = SketchStream.kmvState(spark, skDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getSeq[Long](2)).toMap
    // replay with nothing new: exactly-once over files, states untouched
    SketchStream.ingest(spark, src, skDir, ckpt)
    val kmvReplay = SketchStream.kmvState(spark, skDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getSeq[Long](2)).toMap
    assert(kmvReplay == kmvFirst, "replay must not change the KMV state")
    docs.filter(col("doc_id") >= 100 && col("doc_id") < 250)
      .write.mode("append").parquet(src)
    SketchStream.ingest(spark, src, skDir, ckpt)
    docs.filter(col("doc_id") >= 250).write.mode("append").parquet(src)
    SketchStream.ingest(spark, src, skDir, ckpt)
    // mergeability makes the standing state EXACTLY the batch sketch —
    // same arrays, not just close estimates
    val kmv = udaf(graft.functions.MinKLongsAggregator(64, distinct = true))
    val batchKmv = docs
      .select(col("lang"), col("source"),
        explode(expr("array_distinct(filter(split(text, ' '), w -> w <> ''))")).as("tok"))
      .select(col("lang"), col("source"),
        expr(graft.queries.Idioms.hash60Expr("tok")).as("h"))
      .groupBy(col("lang"), col("source")).agg(kmv(col("h")).as("sketch"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getSeq[Long](2)).toMap
    val streamedKmv = SketchStream.kmvState(spark, skDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getSeq[Long](2)).toMap
    assert(streamedKmv == batchKmv,
      s"KMV state diverges from batch sketch in ${streamedKmv.keySet ++ batchKmv.keySet}")
    // CMS linearity: standing cells equal one batch build over the corpus
    val streamedCells = SketchStream.cmsCells(spark, skDir).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val q85Cells = SparkEntry.queries("q85_cms_heavy")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // spot-check through the public read surface: q85's exact top grams
    // must read the same estimates from the standing sketch
    val est = SketchStream.estimateGrams(spark, skDir, q85Cells.map(_._1).toSeq)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q85Cells.foreach { case (g, _, batchEst) =>
      assert(est(g) == batchEst, s"standing CMS read for '$g': ${est(g)} != $batchEst")
    }
    assert(streamedCells.nonEmpty && streamedCells.size <= 4096,
      s"cells must stay within d*w: ${streamedCells.size}")
    // an unseen gram reads 0 or a pure-collision count, never an error
    val unseen = SketchStream.estimateGrams(spark, skDir,
      Seq("zz-never-in-corpus zz-gram")).collect()
    assert(unseen.length == 1 && unseen.head.getLong(1) >= 0L)
    // histogram linearity: quantile reads off the folded bins equal the
    // batch q87 rows exactly
    val streamedQ = SketchStream.quantiles(spark, skDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val batchQ = SparkEntry.queries("q87_log_histogram")(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(streamedQ == batchQ,
      s"standing histogram quantiles diverge from batch q87: $streamedQ vs $batchQ")
    // weighted-sample fold: the standing k rows after three drops are
    // the batch q88 over the whole corpus — the k-smallest-of-union
    // argument, checked as exact set equality
    val streamedS = SketchStream.weightedSample(spark, skDir).collect()
      .map(_.toSeq).toSet
    val batchS = SparkEntry.queries("q88_weighted_sample")(spark, sfDir).collect()
      .map(_.toSeq).toSet
    assert(streamedS == batchS,
      s"standing weighted sample diverges from batch q88: ${(streamedS diff batchS).take(3)}")
    // BPE pair-count linearity: the standing cells after three drops
    // equal one batch recount, and the argmax read is bit-identical to
    // batch q94's FIRST merge over the union corpus
    val streamedP = SketchStream.pairState(spark, skDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batchP = SketchStream.batchPairs(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamedP == batchP,
      s"standing pair counts diverge: ${(streamedP.toSet diff batchP.toSet).take(3)}")
    val merge = SketchStream.currentMerge(spark, skDir).collect()
    val q94m1 = SparkEntry.queries("q94_bpe_merges")(spark, sfDir).collect()
      .filter(_.getInt(0) == 1).head
    assert(merge.length == 1 &&
      merge.head.getString(0) == q94m1.getString(1) &&
      merge.head.getString(1) == q94m1.getString(2) &&
      merge.head.getString(2) == q94m1.getString(3) &&
      merge.head.getLong(3) == q94m1.getLong(4),
      s"standing merge ${merge.toSeq} != batch q94 step 1 $q94m1")
    docs.unpersist()
  }

  test("standing PCA moments: state and principal component are bit-identical to batch q98") {
    import graft.streaming.EmbeddingsStream
    val src = Files.createTempDirectory("graft-pca-src").toString
    val momDir = Files.createTempDirectory("graft-pca-out").toString + "/moments"
    val ckpt = Files.createTempDirectory("graft-pca-ckpt").toString
    val emb = Tables(spark, sfDir, "embeddings").cache()
    emb.filter(col("vec_id") < 20).write.mode("append").parquet(src)
    EmbeddingsStream.momentIngest(spark, src, momDir, ckpt)
    val first = EmbeddingsStream.momentState(spark, momDir).collect()
      .map(_.toSeq).toSet
    // replay with nothing new: exactly-once over files, state untouched
    EmbeddingsStream.momentIngest(spark, src, momDir, ckpt)
    assert(EmbeddingsStream.momentState(spark, momDir).collect()
      .map(_.toSeq).toSet == first, "replay must not change the moment state")
    emb.filter(col("vec_id") >= 20).write.mode("append").parquet(src)
    EmbeddingsStream.momentIngest(spark, src, momDir, ckpt)
    // linearity: the folded state equals ONE batch moment pass over the
    // union — exact decimal/count cell equality, not approximation
    val streamed = EmbeddingsStream.momentState(spark, momDir).collect()
      .map(_.toSeq).toSet
    val batch = graft.queries.VectorOps.pcaMomentsOf(emb).collect()
      .map(_.toSeq).toSet
    assert(streamed == batch,
      s"moment state diverges from batch: ${(streamed diff batch).take(3)}")
    // and the read path: the principal component off the standing state
    // is bit-identical to batch q98 over the same corpus
    val pc = EmbeddingsStream.principalComponent(spark, momDir).collect()
      .map(_.toSeq).toSet
    val q98 = SparkEntry.queries("q98_pca_power")(spark, sfDir).collect()
      .map(_.toSeq).toSet
    assert(pc == q98, s"principal component diverges: ${(pc diff q98).take(3)}")
    emb.unpersist()
  }

  // ---- foreachBatch at-least-once: a crash AFTER the sink effects but
  // BEFORE the offset commit replays the batch with the SAME batchId.
  // The file-source checkpoint tests above can't reach that window (a
  // completed run has committed its offsets), so these call the
  // extracted per-batch bodies directly, twice, and assert every
  // standing sink is unchanged by the replay.

  private def snap(p: String): Set[Seq[Any]] =
    spark.read.parquet(p).collect().map(_.toSeq).toSet

  test("replayed momentBatch/ingestBatch (same batchId) leave moments, index, and stats unchanged") {
    import graft.streaming.EmbeddingsStream
    val embs = Tables(spark, sfDir, "embeddings").limit(100).cache()
    val mom = Files.createTempDirectory("graft-rp-mom").toString + "/moments"
    EmbeddingsStream.momentBatch(embs, 0L, mom)
    val m0 = snap(mom)
    EmbeddingsStream.momentBatch(embs, 0L, mom) // crash-replay
    assert(snap(mom) == m0, "replayed moment fold double-counted")
    EmbeddingsStream.momentBatch(embs, 1L, mom) // a REAL next batch still folds
    assert(snap(mom) != m0, "next batch did not fold")
    val idx = Files.createTempDirectory("graft-rp-ivf").toString + "/index"
    val stats = Files.createTempDirectory("graft-rp-ivf").toString + "/stats"
    val cents = embs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec")).cache()
    EmbeddingsStream.ingestBatch(embs, 0L, cents, idx, stats, subpartitionByLabel = false)
    val (i0, s0) = (snap(idx), snap(stats))
    EmbeddingsStream.ingestBatch(embs, 0L, cents, idx, stats, subpartitionByLabel = false)
    assert(snap(idx) == i0, "replayed index append duplicated rows")
    assert(snap(stats) == s0, "replayed stats fold double-counted")
    cents.unpersist(); embs.unpersist()
  }

  test("standing SemDeDup gate: stream over drops ≡ batch q68 on the union; late lowest-id demotes; replay no-op") {
    import graft.streaming.EmbeddingsStream
    import graft.operators.Similarity
    val src = Files.createTempDirectory("graft-sdd-src").toString
    val idx = Files.createTempDirectory("graft-sdd-idx").toString + "/index"
    val ded = Files.createTempDirectory("graft-sdd-ded").toString + "/dedup"
    val ckpt = Files.createTempDirectory("graft-sdd-ckpt").toString
    val corpus = Tables(spark, sfDir, "embeddings").cache()
    val cents = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec")).cache()
    val thresh = 0.2 // dup-rich at sf0.001 (428 same-cluster pairs qualify)
    // drop 1: the ODD ids arrive first; drop 2: the evens — out-of-order
    // arrival, so drop 2 must demote drop-1 survivors whose lowest-id
    // keeper arrives late ("lowest-id keeper wins across batches")
    corpus.filter(col("vec_id") % 2 === 1).write.mode("append").parquet(src)
    EmbeddingsStream.semDedupIngest(spark, src, cents, idx, ded, ckpt, thresh)
    val afterFirst = snap(ded)
    // re-run with nothing new: exactly-once over files
    EmbeddingsStream.semDedupIngest(spark, src, cents, idx, ded, ckpt, thresh)
    assert(snap(ded) == afterFirst, "a no-new-files re-run changed the dedup state")
    corpus.filter(col("vec_id") % 2 === 0).write.mode("append").parquet(src)
    EmbeddingsStream.semDedupIngest(spark, src, cents, idx, ded, ckpt, thresh)
    // the standing table is row-identical to batch q68 semantics on the union
    val streamed = spark.read.parquet(ded)
      .select(col("vec_id"), col("centroid_id"), col("dup_of"))
      .collect().map(_.toSeq).toSet
    val batch = Similarity.semDedup(corpus, cents, thresh)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream/batch divergence: ${(streamed diff batch).take(3)} vs ${(batch diff streamed).take(3)}")
    // the late-lowest-id path was actually exercised: an odd (drop-1)
    // vector's keeper is an even (drop-2) id the first fold couldn't know
    assert(streamed.exists(r => r(2) != null &&
      r(0).asInstanceOf[Long] % 2 == 1 && r(2).asInstanceOf[Long] % 2 == 0),
      "no cross-drop demotion exercised — the spec lost its teeth")
    // and a drop-1 survivor was demoted (its dup_of was null after drop 1)
    val firstNulls = afterFirst.collect { case r if r(2) == null => r(0).asInstanceOf[Long] }
    assert(streamed.exists(r => r(2) != null && firstNulls.contains(r(0).asInstanceOf[Long])),
      "no drop-1 survivor was demoted by a later drop")
    // crash-replay of the last micro-batch (same batchId): both sink
    // effects — state fold and index append — are no-ops
    val (d0, i0) = (snap(ded), snap(idx))
    EmbeddingsStream.semDedupBatch(
      corpus.filter(col("vec_id") % 2 === 0), 1L, cents, idx, ded, thresh)
    assert(snap(ded) == d0, "replayed fold changed the dedup state")
    assert(snap(idx) == i0, "replayed append duplicated index rows")
    // the gate's index is ingestBatch's layout: searchIndex works on it
    val queries = corpus.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    assert(EmbeddingsStream.searchIndex(spark, idx, queries, cents, k = 3, nprobe = 2)
      .count() > 0)
    cents.unpersist(); corpus.unpersist()
  }

  test("replayed sketchBatch (same batchId) leaves all five sketch states unchanged") {
    import graft.streaming.SketchStream
    val docs = Tables(spark, sfDir, "documents").limit(80).cache()
    val sk = Files.createTempDirectory("graft-rp-sk").toString + "/sketch"
    SketchStream.sketchBatch(docs, 0L, sk)
    val st0 = Seq("kmv", "cms", "hist", "bpe", "sample").map(s => s -> snap(s"$sk/$s")).toMap
    SketchStream.sketchBatch(docs, 0L, sk) // crash-replay
    st0.foreach { case (s, v) =>
      assert(snap(s"$sk/$s") == v, s"replayed $s fold changed the state")
    }
    SketchStream.sketchBatch(docs, 1L, sk) // a real next batch still folds
    assert(snap(s"$sk/cms") != st0("cms"), "next batch did not fold CMS")
    docs.unpersist()
  }

  test("replayed indexBatch/packBatch/changeBatch (same batchId) leave their sinks unchanged") {
    import graft.streaming.{TextIndexStream, PackStream, ChangeStream}
    val docs = Tables(spark, sfDir, "documents").limit(60).cache()
    val tix = Files.createTempDirectory("graft-rp-tix").toString + "/index"
    TextIndexStream.indexBatch(docs, 0L, tix)
    val (p0, t0) = (snap(s"$tix/postings"), snap(s"$tix/stats"))
    TextIndexStream.indexBatch(docs, 0L, tix)
    assert(snap(s"$tix/postings") == p0 && snap(s"$tix/stats") == t0,
      "replayed text-index append duplicated rows")
    val pk = Files.createTempDirectory("graft-rp-pk").toString + "/pack"
    PackStream.packBatch(docs, 0L, pk)
    val (g0, n0) = (snap(s"$pk/segments"), PackStream.totalTokens(spark, pk))
    PackStream.packBatch(docs, 0L, pk)
    assert(snap(s"$pk/segments") == g0 && PackStream.totalTokens(spark, pk) == n0,
      "replayed pack append duplicated segments or inflated the total")
    val cdc = Files.createTempDirectory("graft-rp-cdc").toString + "/cdc"
    ChangeStream.changeBatch(docs, 0L, cdc)
    // the hashes state is TxTable-backed (round 15): replay commits a
    // NEW version whose logical content must be unchanged — compare
    // through the snapshot read, not raw files
    def hashState(): Set[Seq[Any]] =
      ChangeStream.state(spark, cdc).collect().map(_.toSeq).toSet
    val (c0, h0) = (snap(s"$cdc/changes"), hashState())
    ChangeStream.changeBatch(docs, 0L, cdc)
    assert(snap(s"$cdc/changes") == c0, "replayed CDC log duplicated/mislabeled rows")
    assert(hashState() == h0, "replayed CDC upsert changed the state")
    docs.unpersist()
  }

  test("replayed dedupBatch (same batchId) does not self-match the batch against its own index rows") {
    import graft.streaming.NearDupStream
    val docs = Tables(spark, sfDir, "documents").limit(60).cache()
    val dup = Files.createTempDirectory("graft-rp-dup").toString + "/dup"
    NearDupStream.dedupBatch(docs, 0L, dup)
    val m0 = snap(s"$dup/matches")
    val b0 = snap(s"$dup/bands")
    NearDupStream.dedupBatch(docs, 0L, dup) // crash-replay: index already holds the batch
    assert(snap(s"$dup/matches") == m0,
      "replayed dedup logged matches against the batch's own index rows")
    assert(snap(s"$dup/bands") == b0, "replayed dedup duplicated index rows")
    docs.unpersist()
  }

  test("appendOnce resumes an interrupted move without re-staging or duplicating files") {
    import graft.streaming.AtomicState
    import spark.implicits._
    val dest = Files.createTempDirectory("graft-rp-ao").toString + "/out"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dest), spark.sparkContext.hadoopConfiguration)
    // manufacture the mid-move crash state: batch staged (marker set),
    // ONE file already moved, commit marker absent
    val df = (1L to 100L).toDF("v").repartition(4)
    df.write.mode("overwrite").parquet(s"$dest/_staging/batch-7")
    fs.create(new org.apache.hadoop.fs.Path(s"$dest/_staging/staged-7"), true).close()
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dest/_staging/batch-7"))
      .filter(s => !s.getPath.getName.startsWith("_")).map(_.getPath)
    assert(staged.length >= 2)
    fs.rename(staged.head, new org.apache.hadoop.fs.Path(dest + "/" + staged.head.getName))
    // the replay must NOT call writeTo (that would re-stage under new
    // names and duplicate the moved file) — it resumes the move
    AtomicState.appendOnce(spark, dest, 7L) { _ =>
      fail("writeTo must not run when the batch is already staged")
    }
    assert(snap(dest) == (1L to 100L).map(Seq[Any](_)).toSet,
      "resumed move lost or duplicated rows")
    // full replay after commit: a no-op
    AtomicState.appendOnce(spark, dest, 7L) { _ => fail("committed batch must be skipped") }
    assert(snap(dest) == (1L to 100L).map(Seq[Any](_)).toSet)
  }
}
