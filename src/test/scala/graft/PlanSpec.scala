package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits (builder mandate: ".explain the plan and iterate
  * until it's the plan you'd want"). Each assertion pins a scale
  * property that silent regressions would otherwise erode: pushdown
  * reaching the parquet scan, column pruning, broadcast dimension joins,
  * native expressions in the codegen path, and single-scan subtrees.
  */
class PlanSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  /** Plan-shape pins assume a COLD cache: Spark's cache manager matches
    * by logical plan, so a frame another suite (shared session) left
    * cached swaps an InMemoryTableScan into this query's plan and every
    * node count shifts — the round-14 order-dependent q75 failure.
    * Clearing first makes every pin deterministic under any suite order. */
  private def planOf(name: String): String = {
    TempCaches.releaseAll(); spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
  }

  private def formatted(df: DataFrame): String = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.ExplainMode.fromString("formatted") match {
      case m => qe.explainString(m)
    }
  }

  /** Every node of the EXECUTED plan, expanding the adaptive wrappers
    * (AdaptiveSparkPlanExec → its current final plan, QueryStageExec →
    * the materialized stage, reused exchanges/subqueries → their
    * targets) plus each node's expression-subquery plans. Cache-shape
    * pins MUST use this, never `executedPlan.toString`: toString
    * TRUNCATES deeply-nested cached subtrees (the round-14 q77 pin
    * failed deterministically on a plan that a tree walk shows is
    * exactly the intended shape — 2 InMemoryTableScanExec nodes whose
    * second line was swallowed by the print cut-off). */
  private def allNodes(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = PlanSpec.allNodes(plan)

  private def countNodes(df: DataFrame,
                         pred: org.apache.spark.sql.execution.SparkPlan => Boolean): Int =
    allNodes(df.queryExecution.executedPlan).count(pred)

  /** Documents-table parquet scans in the CONSUMER tree — i.e. outside
    * any cached relation's build plan (a cached build plan is not a
    * child of its InMemoryTableScanExec consumers, so a single-pass
    * query shows ZERO of these). */
  private def docScansOutsideCache(df: DataFrame): Int =
    countNodes(df, {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("documents"))
      case _ => false
    })

  test("q01 pushes the shipdate filter into the parquet scan and prunes columns") {
    val f = formatted(SparkEntry.queries("q01_pricing_summary")(spark, dir))
    assert(f.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), f)
    // pruned read schema: no orderkey/partkey/suppkey columns
    val read = f.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("l_orderkey") && !read.contains("l_partkey"), read)
  }

  test("q02 reads only the projected columns") {
    val f = formatted(SparkEntry.queries("q02_filter_contains")(spark, dir))
    val read = f.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && read.contains("text"))
    assert(!read.contains("source"), s"unpruned scan: $read")
  }

  test("q06 star join broadcasts both dimensions (no shuffle of the fact side)") {
    val p = planOf("q06_star_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dimension join degraded to SMJ:\n$p")
  }

  test("q24 kNN is map-side top-k: no n×|Q| pair rows reach an exchange") {
    // The definitional brute batch means n·|Q| exact pair evaluations,
    // but those pairs must be reduced to |partitions|·|Q|·k rows INSIDE
    // the scan stage (topKPartitioned's bounded heaps). If the plan ever
    // regresses to the window form, the n×|Q| cross join reappears as a
    // BroadcastNestedLoopJoin feeding the window's exchange — at the
    // ×100 replica that single exchange carried ~800M rows and was the
    // whole operator cost.
    val p = planOf("q24_knn_brute")
    assert(p.contains("MapPartitions"), s"expected map-side top-k:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"q24 regressed to the all-pairs window form:\n$p")
  }

  test("q40 hot-bucket blacklist anti-join is a broadcast, not a shuffle") {
    // The LshBucketCap blacklist is tiny (only buckets with > cap
    // members); if the anti-join ever degrades to a shuffled SMJ the
    // whole n-row index gets an extra exchange at every scale.
    val p = planOf("q40_lsh_neardup")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"hot-bucket filter must broadcast:\n$p")
  }

  test("q40 computes LSH keys via the fused native expression, once per row") {
    val p = planOf("q40_lsh_neardup")
    assert(p.contains("lsh_keys"), p)
    assert(!p.contains("aggregate(sequence(1, 64)"),
      "q40 must not fall back to interpreted HOF plane dots")
  }

  test("q38 corpus filter scans documents once (window dedup, no self-join)") {
    val p = planOf("q38_corpus_filter")
    val scans = p.linesIterator.count(l => l.contains("Scan parquet") || l.contains("FileScan parquet"))
    assert(scans == 1, s"expected a single documents scan, got $scans:\n$p")
  }

  test("shingle-pair stage self-join keys are document-frequency capped") {
    // q21/q96 consume the STAGED pair aggregation (round 19); the live
    // builder is where the cap pin belongs now
    TempCaches.releaseAll(); spark.catalog.clearCache()
    val p = graft.queries.TextOps.shinglePairAgg(spark, dir)
      .queryExecution.executedPlan.toString
    // the DF cap window precedes the join: its filter survives in the plan
    assert(p.contains("1000"), p)
    assert(!p.contains("BroadcastExchange IdentityBroadcastMode"),
      "no forced broadcast of doc-sized frames")
  }

  test("q48 candidates come from bucket grouping — no shingle self-join, no cartesian") {
    val p = planOf("q48_neardup_pipeline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // exactly the two id-equi-joins that attach shingle arrays to the
    // candidate pairs; a shingle self-join (q21's shape) would add a
    // third join keyed on the shingle string, and the rejected semi-join
    // variant (see the q48 comment) would add LeftSemi joins
    val joins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") || l.contains("BroadcastHashJoin"))
    assert(joins == 2, s"expected 2 joins (candidate->arrays), got $joins:\n$p")
  }

  test("q35 centroid assignment runs no Window and no Exchange") {
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowExec
    TempCaches.releaseAll(); spark.catalog.clearCache()
    val df = SparkEntry.queries("q35_ivf_assign")(spark, dir)
    assert(df.count() > 0)
    // the vector kernel's mapPartitions over the scan: no n×k window
    // sort and no agg-min shuffle
    val nodes = allNodes(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[MapPartitionsExec]), s"no assignment kernel:\n${nodes.head}")
    assert(!nodes.exists(n => n.isInstanceOf[WindowExec] || n.isInstanceOf[Exchange]),
      s"assignment plans a window or an exchange:\n${nodes.head}")
  }

  test("q102/q103 PQ encode is agg-min partial aggregation, not a window sort") {
    // The q35 pin extended to the PQ encode (round-12 verdict item 1):
    // both queries build their corpus encode through VectorOps.pqEncode,
    // so pinning the helper's plan pins both. A row_number window here
    // would sort-shuffle every n·M·Ks candidate row; the agg-min form
    // shuffles ONE packed row per (vec_id, sub).
    import org.apache.spark.sql.functions.col
    val vo = graft.queries.VectorOps
    val e = Tables(spark, dir, "embeddings")
    val cents = vo.pqCodebooks(spark, e, "embedding")
    val p = vo.pqEncode(vo.pqSubvectors(e, "vec_id", "embedding"), cents, Seq("vec_id"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"PQ encode degraded to the n·M·Ks window sort:\n$p")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"no map-side combine in the PQ encode:\n$p")
    assert(p.contains("BroadcastExchange"), s"codebook join must broadcast:\n$p")
  }

  test("q80 top-gram pick is agg-min partial aggregation, not a per-doc window sort") {
    val p = planOf("q80_topgram_coverage")
    assert(!p.contains("Window"), s"top-1 degraded to a window sort:\n$p")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"no map-side combine in the top-gram pick:\n$p")
  }

  test("q82 snapshot diff co-partitions both corpus-sized sides (SMJ, filters pushed)") {
    val p = planOf("q82_snapshot_diff")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"),
      s"diff join must be a full-outer SMJ (neither snapshot broadcasts at scale):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    val f = formatted(SparkEntry.queries("q82_snapshot_diff")(spark, dir))
    assert(f.split("PushedFilters: \\[IsNotNull").length >= 2,
      s"snapshot filters not pushed to the scans:\n$f")
  }

  test("q52 broadcasts the benchmark n-grams and never shuffles raw train n-grams") {
    val p = planOf("q52_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"contamination join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"train n-grams degraded to SMJ shuffle:\n$p")
    // the train side must flow Generate -> join with NO Exchange between:
    // a pre-join distinct would shuffle every n-gram of the corpus. The
    // only exchanges sit above the join (tiny distinct-aggregate) and
    // under the broadcast build (benchmark side).
    val joinIdx = p.linesIterator.indexWhere(_.contains("BroadcastHashJoin"))
    val streamSide = p.linesIterator.toSeq.drop(joinIdx + 1)
      .takeWhile(l => !l.contains("BroadcastExchange"))
      .filter(_.contains("Generate explode"))
    assert(streamSide.nonEmpty, s"stream side lost its Generate:\n$p")
  }

  test("q73's bloom probe is a join-free broadcast-closure filter ahead of one broadcast confirm join") {
    val p = planOf("q73_bloom_decontaminate")
    // membership is a Filter over the broadcast-variable probe closure —
    // NOT a join against a position table, and NOT a typedLit bit-array
    // column (a Literal of m/64 longs rides every optimizer pass and
    // codegen compile; removing it measured 67 s → 10 s at 100×)
    val filters = p.linesIterator.filter(_.contains("Filter")).toSeq
    assert(filters.exists(_.contains("UDF")),
      s"bloom probe is not the closure filter:\n$p")
    assert(!p.contains("shiftright"),
      s"bit array must ride a broadcast variable, not a plan-literal shift-and-mask:\n$p")
    assert(!p.contains("SortMergeJoin"), s"bloom path degraded to a shuffle join:\n$p")
    // exactly one BroadcastHashJoin: the exact-confirm stage; the bloom
    // stage contributes none
    val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj == 1, s"expected exactly 1 broadcast confirm join, got $bhj:\n$p")
  }

  test("q53 sampling scan reads only doc_id and lang (no text bytes)") {
    val f = formatted(SparkEntry.queries("q53_stratified_sample")(spark, dir))
    val read = f.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("doc_id") && read.contains("lang"), read)
    assert(!read.contains("text"), s"sampling pays for text it never uses: $read")
  }

  test("q55 keeps the global cumsum out of a corpus-sized single partition") {
    val p = planOf("q55_token_shards")
    // exactly one SinglePartition exchange, and it must sit above the
    // per-bucket aggregate (|buckets| rows), not the documents scan
    val lines = p.linesIterator.toSeq
    val single = lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
    assert(single.length == 1, s"expected one tiny offset exchange, got ${single.length}:\n$p")
    val below = lines.drop(single.head._2 + 1)
      .takeWhile(l => !l.contains("Exchange SinglePartition"))
    assert(below.exists(_.contains("HashAggregate")),
      s"SinglePartition exchange not fed by the bucket aggregate:\n$p")
    // per-bucket window is partitioned (parallel), and the offsets come
    // back via broadcast, not a shuffle join
    assert(p.contains("windowspecdefinition(bucket"), p)
    assert(p.contains("BroadcastHashJoin"), s"offset join not broadcast:\n$p")
  }

  test("q25 exact verifier is slice-bounded: cap pushed to the scan, no cartesian shuffle") {
    val f = formatted(SparkEntry.queries("q25_embedding_neardup")(spark, dir))
    // the Q25Cap bound must reach the parquet scan — it is what makes the
    // exact verifier constant-cost at any corpus scale
    assert(f.contains("LessThan(vec_id,2000)"), f)
    // pair enumeration streams over a broadcast bounded side; a
    // CartesianProduct (n² partition-pair shuffle) is the scale killer
    val p = planOf("q25_embedding_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q69 phase-1 broadcasts the query batch and ranks per-query, not globally") {
    val p = planOf("q69_quantized_ann")
    // the corpus-side scan must stream against a broadcast query batch
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // both ranking windows partition by query_id — a global (empty
    // partition-spec) window would funnel the corpus into one task
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("query_id")),
      s"window not partitioned by query_id:\n$p")
    // the phase-1 ranking shuffle must carry scalars only: an embedding
    // column riding the corpus-sized exchange is ~1 KB/row vs 24 B/row
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(l => !l.contains("dv") && !l.contains("qv#")),
      s"ranking exchange carries vector payload:\n$p")
  }

  test("q70 tile blacklist rides a hash-key anti-join; no cartesian anywhere") {
    val p = planOf("q70_span_dedup")
    assert(p.contains("LeftAnti"), s"duplicated-span filter lost its anti-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q71 corpus pass is agg-min partial aggregation against a broadcast benchmark") {
    val p = planOf("q71_semantic_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin"), s"benchmark side not broadcast:\n$p")
    assert(!p.contains("Window"), s"assignment degraded to the n×|bench| window sort:\n$p")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"no map-side combine in the max-cosine pass:\n$p")
  }

  test("q49 stream-join batch twin joins on the user equi-key, not a cartesian") {
    val p = planOf("q49_click_purchase_window")
    // the time-range predicates ride the user_id equi-join; an inequality-
    // only plan would degrade to a nested-loop cartesian
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q74 broadcasts both LM sides and never shuffles or sorts the exploded train tokens") {
    val p = planOf("q74_perplexity_buckets")
    // totals (inner) + vocab (left) both ride broadcast joins
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) == 2,
      s"expected exactly the two broadcast LM joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"LM join degraded to SMJ:\n$p")
    // the tier cut is a map-side CASE against shipped cutoffs — a global
    // sort or window here would be the plan CCNet explicitly avoids
    assert(!p.contains("Window"), s"tier cut degraded to a global window:\n$p")
    // per-doc surprisal sums are partial-aggregated before their exchange
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"no map-side combine ahead of the per-doc exchange:\n$p")
  }

  test("q75 corpus postings never shuffle for the term match — broadcast joins only") {
    val p = planOf("q75_bm25_topk")
    // df build + query-term match + idf attach all ride broadcasts
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) == 3,
      s"expected the three broadcast retrieval joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"postings degraded to SMJ:\n$p")
    // the only corpus-sized exchanges are hash aggs with map-side combine
    assert(p.contains("partial_sum") || p.contains("partial sum"),
      s"no map-side combine on the (query, doc) score sums:\n$p")
  }

  test("date-partitioned fact scans are dynamically pruned by a dim-side filter (DPP)") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    // the Bronze landing layout: fact partitioned by date (Bronze.scala
    // date-partitioned write) — at 100 TB the WHOLE point of that layout
    // is that a dim-side filter prunes fact partitions at runtime
    val ev = Tables(spark, dir, "events").withColumn("d", to_date(col("ts")))
    ev.write.partitionBy("d").mode("overwrite").parquet(tmp)
    val allDates = ev.select(col("d")).distinct().orderBy(col("d"))
      .collect().map(_.getDate(0))
    val keep = allDates.take(2)
    import spark.implicits._
    // the dim must be a real scan — a driver-local relation folds its
    // filter away before the PartitionPruning rule can see it
    val dimPath = java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString
    allDates.toSeq.map(dt => (dt, if (keep.contains(dt)) "keep" else "drop"))
      .toDF("d", "tag").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
      .filter(col("tag") === "keep") // the selective dim predicate DPP keys on
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      val fact = spark.read.parquet(tmp)
      val joined = fact.join(dim, Seq("d")).agg(count(lit(1)).as("n"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        s"partitioned scan not dynamically pruned:\n$p")
      // and the pruned plan still computes the right answer
      val expected = ev.filter(col("d").isin(keep.map(_.toString): _*)).count()
      assert(joined.collect().head.getLong(0) == expected)
    } finally
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
  }

  /** The executed index scan of `hits` (after it ran): its partition
    * filter column names and its `numFiles` metric. */
  private def indexScan(hits: DataFrame, idx: String): (Set[String], Long) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = allNodes(hits.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.contains(idx)) => f
    }
    assert(scans.length == 1, s"expected one index scan:\n${hits.queryExecution.executedPlan}")
    (scans.head.partitionFilters.flatMap(_.references.map(_.name)).toSet,
      scans.head.metrics("numFiles").value)
  }

  /** Parquet files under the index partition directories `parts`
    * (relative paths such as `centroid_id=3/label=1`). */
  private def filesUnder(idx: String, parts: Iterable[String]): Long =
    parts.toSeq.map(p => Option(new java.io.File(s"$idx/$p").listFiles()).getOrElse(Array.empty)
      .count(_.getName.endsWith(".parquet")).toLong).sum

  test("searchIndex prunes unprobed IVF partitions at the scan (static partition filter on centroid_id)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    import graft.streaming.EmbeddingsStream
    val corpus = Tables(spark, dir, "embeddings")
    val cents = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-plan").toString + "/index"
    Similarity.assign(
        corpus.select(col("vec_id"), col("embedding")), cents, "embedding", "vec_id",
        Seq("embedding"))
      .select(col("centroid_id"), col("vec_id"), col("casim"), col("embedding"))
      .write.partitionBy("centroid_id").parquet(idx)
    val queries = corpus.filter(col("vec_id") % 200 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val hits = EmbeddingsStream.searchIndex(spark, idx, queries, cents, k = 5, nprobe = 2)
    assert(hits.collect().nonEmpty)
    // the probes are known on the driver: a static partition filter,
    // and only the probed directories' files are read
    val (filterCols, files) = indexScan(hits, idx)
    assert(filterCols == Set("centroid_id"), s"partition filters on $filterCols")
    val probed = Similarity.probePairs(queries, cents, 2).map(_._2).distinct
    assert(probed.length < 8 && files == filesUnder(idx, probed.map(c => s"centroid_id=$c")),
      s"read $files files for probed cells $probed")
    assert(!spark.conf.getAll.contains("spark.sql.optimizer.dynamicPartitionPruning.useStats"))
  }

  test("searchIndexAdc prunes unprobed partitions statically and reads only codes, never raw vectors") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    import graft.queries.VectorOps
    import graft.streaming.EmbeddingsStream
    val corpus = Tables(spark, dir, "embeddings")
    val cents = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec")).cache()
    val res = Similarity.assign(
        corpus.select(col("vec_id"), col("embedding")), cents,
        "embedding", "vec_id", Seq("embedding"))
      .join(broadcast(cents), Seq("centroid_id"))
      .withColumn("r", expr(
        "zip_with(embedding, cvec, (a, b) -> CAST(a AS FLOAT) - CAST(b AS FLOAT))"))
      .select(col("vec_id"), col("centroid_id"), col("r"))
    val pcents = VectorOps.pqCodebooks(spark, res, "r").cache()
    val idx = java.nio.file.Files.createTempDirectory("graft-adc-plan").toString + "/index"
    // batch-build the codes-only layout ivfIngest(storeRaw = false) produces,
    // PLUS a raw embedding column the search must never touch
    VectorOps.pqEncode(
        VectorOps.pqSubvectors(res, "vec_id", "r", carry = Seq("centroid_id")),
        pcents, Seq("vec_id", "centroid_id"))
      .groupBy(col("vec_id"), col("centroid_id"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code")))).as("sc"))
      .select(col("vec_id"), col("centroid_id"),
        expr("transform(sc, x -> CAST(x.code AS INT))").as("codes"))
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .write.partitionBy("centroid_id").parquet(idx)
    val queries = corpus.filter(col("vec_id") % 200 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    try {
      val hits = EmbeddingsStream.searchIndexAdc(spark, idx, queries, cents, pcents, k = 5)
      val p = hits.queryExecution.executedPlan.toString
      // column pruning: the index scan's ReadSchema carries the codes,
      // never the raw float vectors sitting beside them
      val reads = "ReadSchema: [^\\n]*".r.findAllIn(p).toList
        .filter(_.contains("codes"))
      assert(reads.nonEmpty && reads.forall(!_.contains("embedding")),
        s"ADC search must not read raw vectors from the index:\n$p")
      assert(hits.collect().nonEmpty)
      val (filterCols, files) = indexScan(hits, idx)
      assert(filterCols == Set("centroid_id"), s"partition filters on $filterCols")
      val probed = Similarity.probePairs(queries, cents, 2).map(_._2).distinct
      assert(probed.length < 8 && files == filesUnder(idx, probed.map(c => s"centroid_id=$c")),
        s"read $files files for probed cells $probed")
      assert(!spark.conf.getAll.contains("spark.sql.optimizer.dynamicPartitionPruning.useStats"))
    } finally {
      pcents.unpersist(); cents.unpersist()
    }
  }

  test("searchIndexFiltered prunes BOTH partition levels at the scan (static filters on centroid_id AND label)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    import graft.streaming.EmbeddingsStream
    val corpus = Tables(spark, dir, "embeddings")
    val cents = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cvec"))
    val idx = java.nio.file.Files.createTempDirectory("graft-fivf-plan").toString + "/index"
    // batch-build the layout ivfIngest(subpartitionByLabel = true) produces
    Similarity.assign(
        corpus.select(col("vec_id"), col("embedding"), col("label")), cents,
        "embedding", "vec_id", Seq("embedding", "label"))
      .select(col("centroid_id"), col("label"), col("vec_id"), col("casim"), col("embedding"))
      .write.partitionBy("centroid_id", "label").parquet(idx)
    val queries = corpus.filter(col("vec_id") % 200 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    val hits = EmbeddingsStream.searchIndexFiltered(spark, idx, queries, cents, k = 5, nprobe = 2)
    assert(hits.collect().nonEmpty)
    // both levels are filtered statically: the probed cells, crossed
    // with the query labels, are the only directories read
    val (filterCols, files) = indexScan(hits, idx)
    assert(filterCols == Set("centroid_id", "label"), s"partition filters on $filterCols")
    val probed = Similarity.probePairs(queries, cents, 2).map(_._2).distinct
    val labels = queries.select(col("qlabel")).distinct().collect().map(_.getInt(0))
    val dirs = for (c <- probed; l <- labels) yield s"centroid_id=$c/label=$l"
    val all = new java.io.File(idx).listFiles().filter(_.isDirectory)
      .flatMap(c => c.listFiles().filter(_.isDirectory).map(l => s"${c.getName}/${l.getName}"))
    assert(dirs.length < all.length && files == filesUnder(idx, dirs),
      s"read $files files for ${dirs.mkString(",")}")
    assert(!spark.conf.getAll.contains("spark.sql.optimizer.dynamicPartitionPruning.useStats"))
  }

  test("TextIndexStream.search prunes unprobed term buckets at the scan (DPP on bucket)") {
    import org.apache.spark.sql.functions._
    import graft.streaming.TextIndexStream
    val docs = Tables(spark, dir, "documents")
    val idx = java.nio.file.Files.createTempDirectory("graft-tix-plan").toString + "/index"
    // batch-build the same layout ingest produces (partitioned postings + stats)
    val posts = TextIndexStream.postingsOf(docs)
    posts.write.partitionBy("bucket").parquet(s"$idx/postings")
    posts.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
      .write.parquet(s"$idx/stats")
    val queries = docs.filter(col("doc_id") % 250 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      val hits = TextIndexStream.search(spark, idx, queries, k = 5)
      val p = hits.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        s"postings scan reads unprobed term buckets (no DPP):\n$p")
      assert(hits.collect().nonEmpty)
    } finally
      spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
  }

  test("q77's scored frame materializes once; both rankings read the cache") {
    // the (query, doc, score, rel) frame is the expensive arm (postings
    // joins + aggregation); the system ranking (by score) and the ideal
    // ranking (by rel) must both read its single tracked-cached
    // materialization, never recompute the postings pipeline twice
    TempCaches.releaseAll(); spark.catalog.clearCache() // cold start, any suite order
    try {
      val df = SparkEntry.queries("q77_retrieval_eval")(spark, dir)
      df.collect()
      // tree walk, not toString: the printed plan truncates the nested
      // cached subtree and swallowed the idcg branch's scan (round 14)
      val imts = countNodes(df,
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
      assert(imts >= 2,
        s"rankings do not share the scored frame's cache ($imts InMemoryTableScanExec)")
      assert(countNodes(df,
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]) == 0)
      // both rankings read the CACHE, not the postings pipeline: zero
      // documents parquet scans outside the cached build plan
      assert(docScansOutsideCache(df) == 0,
        "a ranking recomputes the postings pipeline instead of reading the cache")
    } finally { // a failed assert must not leak the cache into later pins (r14)
      TempCaches.releaseAll(); spark.catalog.clearCache()
    }
  }

  test("q84's sketch-only deployment shape aggregates in one exchange with map-side sketch merge") {
    // q84's output carries the exact countDistinct as the oracle-checked
    // error funnel, and Spark plans the combined (udaf + count distinct)
    // aggregate with the distinct's extra per-hash exchange. The
    // DEPLOYMENT shape — the sketch alone — must keep KMV's whole point:
    // one exchange, with partial sketches merged map-side so each
    // (group, partition) ships one ≤k array, never the hash stream.
    import org.apache.spark.sql.functions._
    TempCaches.releaseAll(); spark.catalog.clearCache() // cold cache, any suite order
    val kmv = udaf(graft.functions.KmvSketchAggregator(64))
    val df = Tables(spark, dir, "documents")
      .select(col("lang"), col("source"),
        explode(expr("array_distinct(filter(split(text, ' '), w -> w <> ''))")).as("tok"))
      .select(col("lang"), col("source"),
        expr(graft.queries.Idioms.hash60Expr("tok")).as("h"))
      .groupBy(col("lang"), col("source")).agg(kmv(col("h")).as("sketch"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.count(_.contains("Exchange")) == 1,
      s"sketch-only aggregation must shuffle exactly once:\n$p")
    assert(p.contains("partial_kmvsketchaggregator"),
      s"no map-side sketch combine:\n$p")
  }

  test("q85 probes the CMS as a broadcast of the fixed 4096-cell table; probe set is TakeOrdered") {
    val p = planOf("q85_cms_heavy")
    assert(p.contains("BroadcastHashJoin"),
      s"cell lookup must broadcast the d×w sketch, not shuffle the probes:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"sketch probe degraded to a shuffle join:\n$p")
    assert(p.contains("TakeOrderedAndProject(limit=20"),
      s"top-k probe selection must be TakeOrdered, never a global sort:\n$p")
    // the corpus-sized cell build partial-aggregates before its exchange
    assert(p.contains("partial_count"), s"no map-side combine in the cell build:\n$p")
  }

  test("whole-stage codegen covers the hot aggregation path of q01") {
    // AQE shows codegen spans only in the final (post-execution) plan
    TempCaches.releaseAll(); spark.catalog.clearCache() // cold cache, any suite order
    val df = SparkEntry.queries("q01_pricing_summary")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    // "*(n)" prefixes mark operators fused into a WholeStageCodegen stage
    assert(p.contains("*(1)") && p.contains("*(2) HashAggregate"), p)
  }

  test("q99 materializes ONE documents pass; nt rides a broadcast, not a driver action") {
    // unigram + pair counts and the corpus pair total all read the same
    // tracked-cached count table: every parquet scan of documents in the
    // plan sits under ONE InMemoryRelation (the single materialized
    // pass), and the nt scalar arrives via a 1-row broadcast join — no
    // .first() second scan (round-13 verdict item 4)
    TempCaches.releaseAll(); spark.catalog.clearCache() // cold start, any suite order
    try {
      val df = SparkEntry.queries("q99_pmi_collocations")(spark, dir)
      df.collect()
      // tree walk (not toString — truncation-proof, and strictly the
      // check the old line-scan only approximated): the consumer tree
      // must read the count table's cache and contain ZERO documents
      // parquet scans of its own — every corpus read lives inside the
      // one cached build plan, which is not a child of its consumers.
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
      assert(countNodes(df, _.isInstanceOf[InMemoryTableScanExec]) >= 1,
        "q99 lost its shared count table")
      assert(countNodes(df, n => n.isInstanceOf[BroadcastHashJoinExec] ||
        n.isInstanceOf[BroadcastNestedLoopJoinExec]) >= 1,
        "nt total must ride a broadcast join")
      assert(docScansOutsideCache(df) == 0,
        "documents scanned outside the shared cached pass")
    } finally {
      TempCaches.releaseAll(); spark.catalog.clearCache()
    }
  }

  test("q98's covariance pass: one embeddings scan, codegen hot loop, broadcast-only joins") {
    // q98 returns an eagerly-computed 64-row local result (the MLlib
    // computePrincipalComponents shape), so PlanAudit can't see its
    // corpus pass — these pins audit the distributed half directly.
    // (a) the moment table: ONE corpus scan, the pair-product hot loop
    // (generate + first-level BIGINT aggregation) fused into
    // whole-stage codegen, decimal only above the bucket partials
    TempCaches.releaseAll(); spark.catalog.clearCache() // cold cache, any suite order
    val mom = graft.queries.VectorOps.pcaMoments(spark, dir)
    try {
    mom.collect()
    val pm = mom.queryExecution.executedPlan.toString
    // only the embeddings table is ever scanned (every printed scan —
    // AQE reprints subtrees — is the same embeddings read)
    assert(pm.linesIterator.filter(_.contains("Scan parquet"))
      .forall(_.contains("embeddings")), pm)
    assert(pm.contains("Generate explode") && pm.contains("*("), pm)
    assert(pm.contains("partial_sum(p#"), pm)
    // (b) the covariance join consumes the CACHED moments — the single
    // materialized corpus pass — and joins them back only as broadcasts
    val cov = graft.queries.VectorOps.pcaCovariance(spark, dir)
    cov.collect()
    // tree walk: toString truncates nested cached subtrees (q77 lesson)
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    assert(countNodes(cov, _.isInstanceOf[InMemoryTableScanExec]) >= 1,
      "covariance join must consume the cached moments")
    assert(countNodes(cov, _.isInstanceOf[BroadcastHashJoinExec]) >= 1)
    assert(countNodes(cov, n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec]) == 0)
    } finally { // a failed assert must not leak the moments cache (r14 lesson)
      mom.unpersist()
      TempCaches.releaseAll(); spark.catalog.clearCache()
    }
  }
}

/** Shared AQE-aware executed-plan tree walk — the ONE way plan-shape
  * pins must enumerate nodes (never `executedPlan.toString`, which
  * truncates deeply-nested subtrees; the round-14 q77 lesson). */
object PlanSpec {
  def allNodes(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.ReusedSubqueryExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case r: ReusedSubqueryExec => Seq(r.child)
      case p => p.children
    }
    plan +: (kids ++ plan.subqueries).flatMap(allNodes)
  }
}
