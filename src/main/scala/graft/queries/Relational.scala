package graft.queries

import graft.Tables
import graft.plans.TopKRows
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational operator demos over the star schema.
  *
  * Each query exercises one operator class from SURVEY.md §2 (site cited
  * per query) and has a DuckDB-equivalent oracle in [[Relational.oracle]].
  *
  * Determinism contract with the oracle: every double aggregate is summed
  * in decimal (exact, order-independent) and cast back to double at the
  * end, so Spark's parallel partial aggregation and DuckDB's sequential
  * sum produce bit-identical results. Row-level double arithmetic uses
  * the identical IEEE-754 expression on both sides.
  */
object Relational {

  /** Exact order-independent sum of a double column: cast each value to
    * decimal(30,6) (exact for the 2-decimal money columns in the test
    * data), sum exactly, cast once back to double. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(30, 6))).cast("double")
  private def dsumSql(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(30,6))) AS DOUBLE)"

  /** q91's interval/point frames, shared by both range-join strategies.
    * Intervals: (s_day, e_day, l_quantity); points: (o_orderkey, o_day). */
  private[graft] def rangeJoinFrames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val epoch = lit("1970-01-01").cast("date")
    val intervals = Tables(s, dir, "lineitem")
      .withColumn("s_day", datediff(col("l_shipdate").cast("date"), epoch))
      .withColumn("e_day",
        col("s_day") + (col("l_orderkey") * 7 + col("l_linenumber")) % 30 + 1)
      .select(col("s_day"), col("e_day"), col("l_quantity"))
    val points = Tables(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        year(col("o_orderdate")) === 1997)
      .withColumn("o_day", datediff(col("o_orderdate").cast("date"), epoch))
      .select(col("o_orderkey"), col("o_day"))
    (intervals, points)
  }

  /** The linear difference-array sweep (see the q91 entry's scaladoc):
    * ±deltas at interval endpoints → bounded-domain prefix sum →
    * broadcast per-day coverage lookup. */
  private[graft] def rangeJoinSweep(s: SparkSession, dir: String): DataFrame = {
    val (intervals, points) = rangeJoinFrames(s, dir)
    val deltas = intervals
      .select(col("s_day").as("day"), lit(1L).as("dn"),
        col("l_quantity").cast(DecimalType(30, 6)).as("dq"))
      .union(intervals.select((col("e_day") + 1).as("day"), lit(-1L).as("dn"),
        (col("l_quantity") * lit(-1)).cast(DecimalType(30, 6)).as("dq")))
      .groupBy(col("day"))
      .agg(sum(col("dn")).as("dn"), sum(col("dq")).as("dq"))
    // densify the (bounded, calendar-sized) day domain so every point
    // day has a row, then prefix-sum; single-partition window over a
    // few thousand rows — the q87 bounded-domain argument
    val span = deltas.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val dense = span.select(explode(expr("sequence(lo, hi)")).as("day"))
      .join(deltas, Seq("day"), "left")
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cover = dense
      .withColumn("n_transit", sum(coalesce(col("dn"), lit(0L))).over(w))
      .withColumn("qty_transit",
        sum(coalesce(col("dq"), expr("CAST(0 AS DECIMAL(30,6))"))).over(w)
          .cast("double"))
      .filter(col("n_transit") > 0)
      .select(col("day"), col("n_transit"), col("qty_transit"))
    points.join(broadcast(cover), points("o_day") === cover("day"))
      .select(col("o_orderkey"), col("n_transit"), col("qty_transit"))
  }

  /** The binned pair-producing range join — the strategy an operator
    * that must EMIT matched (point, interval) pairs uses; kept as the
    * spec-pinned verifier of [[rangeJoinSweep]]. */
  private[graft] def rangeJoinBinned(s: SparkSession, dir: String): DataFrame = {
    val (intervals0, points0) = rangeJoinFrames(s, dir)
    val intervals = intervals0
      .select(col("s_day"), col("e_day"), col("l_quantity"),
        explode(expr("sequence(s_day div 32, e_day div 32)")).as("bin"))
    val points = points0
      .select(col("o_orderkey"), col("o_day"),
        expr("CAST(o_day div 32 AS BIGINT)").as("bin"))
    intervals.join(points, Seq("bin"))
      .filter(col("s_day") <= col("o_day") && col("o_day") <= col("e_day"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_transit"),
        sum(col("l_quantity").cast("decimal(30,6)")).cast("double").as("qty_transit"))
      .select(col("o_orderkey"), col("n_transit"), col("qty_transit"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A3 count/sum aggregations (reference chunks_data.py:66,77,98,104) —
    // TPC-H-Q1-shaped pricing summary; map-side partial agg, 2 groups.
    "q01_pricing_summary" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2025-01-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          count(lit(1)).as("count_order"))
    }),

    // P7 substring filter (reference dags/access/test.py:19).
    "q02_filter_contains" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .filter(col("text").contains("spark"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          length(col("text")).cast("long").as("text_len"))
    }),

    // A1 dedup by content hash (reference bronze.py:66-70, crawl_web.py:79-85):
    // sha2 group — shuffle on 256-bit hash, even key distribution at any scale.
    "q03_dedup_hash_groups" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .groupBy(sha2(col("text"), 256).as("content_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_doc_id"))
    }),

    // J1 anti-join (reference visited-set semantics, crawl_web.py:119-122):
    // customers with no 300k+ order.
    "q04_anti_join" -> ((s, dir) => {
      val customer = Tables(s, dir, "customer")
      val orders = Tables(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
      customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    }),

    // J1 semi-join (set membership, the positive side of the visited set).
    "q05_semi_join" -> ((s, dir) => {
      val customer = Tables(s, dir, "customer")
      val orders = Tables(s, dir, "orders").filter(col("o_orderstatus") === "F")
      customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // J3 dimension-lookup joins (silver→gold enrichment class,
    // seed_milvus.py:53-59): star join with broadcast dims — no shuffle of
    // the fact side beyond the final 2-key aggregation.
    "q06_star_join" -> ((s, dir) => {
      val customer = Tables(s, dir, "customer")
      val nation = Tables(s, dir, "nation")
      val region = Tables(s, dir, "region")
      customer
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("total_acctbal"))
    }),

    // Window top-k per group (SURVEY §2.7; powers kNN A8 too), on the
    // bounded-heap rank helper (graft.plans.TopKRows.perGroup) — group
    // bound: the 5 market segments. Spark's WindowGroupLimit did engage
    // below the window's exchange, but its partial mode SORTS every map
    // partition by the full (segment, price desc, orderkey) key before
    // streaming the limit — at the ×100 replica that sort was 2/3 of the
    // query (join-only 1.42 s vs 4.21 s full). The heap keeps 3 rows per
    // segment per partition in O(n·log k) with no sort, and with 5
    // segments the ObjectHashAggregate never falls back to sort-based.
    // The (price desc, key asc) order is total — key is unique.
    // Measured 2.95 → 1.86 s at ×100, 0.43 → 0.29 s at sf0.1 against the
    // window (round 20). The same rewrite was measured and REJECTED for
    // q46 (6.05 vs 5.25 at ×100): with corpus-many groups the object agg
    // falls back to sort-based past 128 in-memory groups, losing the
    // heap's advantage — WindowGroupLimit stays the right plan for
    // per-document top-k.
    "q07_topk_per_group" -> ((s, dir) => {
      val orders = Tables(s, dir, "orders")
      val customer = Tables(s, dir, "customer")
      TopKRows.perGroup(
        orders.join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
          .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice")),
        Seq("c_mktsegment"), Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3, "rk")
    }),

    // T2 explode / frontier expansion (reference crawl_web.py:144-158):
    // 1-to-N row generation stays inside whole-stage codegen.
    "q08_word_explode" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
    }),

    // Set ops (SURVEY §2.7): EXCEPT ≙ distinct anti-join on all columns —
    // orderkeys present in orders but absent from lineitem.
    // Round-20 optimization (verdict item 6): spelled as
    // distinct ⟕̸ distinct with a shuffled-hash hint instead of
    // `.except(...)`. Spark's ReplaceExceptWithAntiJoin rewrites EXCEPT
    // to Distinct(left ANTI right) with the right side NOT
    // deduplicated, so lineitem's ~4-per-order duplicate keys all cross
    // the join exchange and the planner picks a SortMergeJoin (two
    // sorts). Deduplicating the right FIRST collapses those duplicates
    // in the map-side partial aggregate, and the SHUFFLE_HASH hint
    // drops both sorts (an anti probe needs only a hash table; the
    // per-partition distinct-key build side always fits). Identical
    // result set by EXCEPT's own definition: distinct left rows with no
    // match among right KEYS — duplicates on the right never matter.
    // Precondition: the key is non-null on both sides (o_orderkey and
    // l_orderkey are). EXCEPT matches NULL to NULL; the equi anti-join
    // never matches a NULL key, so it would keep a left NULL row that
    // EXCEPT drops.
    // Measured 4.35 → 3.32 s at the ×100 replica, 0.76 → 0.56 s at
    // sf0.1 (medians of 7 alternating same-JVM reps; rewrite won 13/14).
    "q09_except" -> ((s, dir) => {
      val orders = Tables(s, dir, "orders")
      val li = Tables(s, dir, "lineitem")
      orders.select(col("o_orderkey").as("orderkey")).distinct()
        .join(li.select(col("l_orderkey").as("orderkey")).distinct()
          .hint("shuffle_hash"),
          Seq("orderkey"), "left_anti")
    }),

    // F11/S9 date bucketing (reference bronze.py:53 date partitioning).
    "q10_monthly_orders" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("order_month"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
    }),

    // F7 content-type dispatch (reference crawl_web.py:127-138) as
    // when/otherwise branching.
    "q11_case_dispatch" -> ((s, dir) => {
      Tables(s, dir, "events")
        .withColumn("category",
          when(col("event_type").isin("click", "view"), "engagement")
            .when(col("event_type") === "purchase", "conversion")
            .when(col("event_type") === "error", "fault")
            .otherwise("other"))
        .groupBy(col("category"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
    }),

    // Grouping sets (SURVEY §2.7): rollup over the region/nation hierarchy.
    "q12_rollup" -> ((s, dir) => {
      val customer = Tables(s, dir, "customer")
      val nation = Tables(s, dir, "nation")
      val region = Tables(s, dir, "region")
      customer
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"))
    }),

    // A5 distinct counts (reference dedup sets as unique-seen counters,
    // bronze.py:55). Exact here; approx_count_distinct is the 100 TB path
    // (demonstrated in ScalaTest, not oracle-able bit-for-bit).
    "q13_distinct_parts" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
    }),

    // HAVING-style post-aggregation filter + join back to the dimension.
    "q14_hot_parts" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val part = Tables(s, dir, "part")
      val hot = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_lines"))
        .filter(col("n_lines") > 35)
      hot.join(broadcast(part), hot("l_partkey") === part("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("n_lines"))
    }),

    // P8 higher-order array filter (reference link filter crawl_web.py:90-94).
    "q15_array_filter" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          expr("CAST(size(filter(split(text, ' '), w -> length(w) > 5)) AS BIGINT)").as("n_long_words"))
    }),

    // Incremental MERGE/upsert (q79): the reference's drop_old=True full
    // refresh (seed_milvus.py:75) replaced by key-based last-writer-wins —
    // an updates batch (every 10th order, re-priced, status U) merges into
    // the base via broadcast anti-join + union (Gold.merge). The 100 TB
    // point: only the batch shuffles; the base table streams through the
    // anti-join against a broadcast key set.
    "q79_upsert_merge" -> ((s, dir) => {
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val updates = base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
          (col("o_totalprice") + lit(100000.0)).as("o_totalprice"))
      graft.etl.Gold.merge(base, updates, Seq("o_orderkey"))
    }),

    // Snapshot diff (q82): q79's audit-side complement — dataset
    // versioning between two corpus snapshots by content hash: which
    // docs were added / removed / modified since the last landing (the
    // lakehouse question the reference's drop_old full refresh throws
    // away). Snapshots derived deterministically so the oracle sees the
    // same two tables: old = doc_id % 10 <> 0; new = doc_id % 13 <> 0,
    // with doc_id % 7 = 0 re-crawled (text changed) — so added, removed,
    // modified and unchanged all occur. Full outer join on the
    // key (hash-partitioned — both sides are corpus-sized, so neither
    // broadcasts; at 100 TB this is ONE co-partitioned shuffle each),
    // status from null-sides + hash compare; output the per-status
    // counts and a deterministic sample of changed keys.
    "q82_snapshot_diff" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val old = docs.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), sha2(col("text"), 256).as("h_old"))
      val neu = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          sha2(when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")), 256).as("h_new"))
      old.join(neu, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") =!= col("h_new"), "modified")
            .otherwise("unchanged").as("status"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
    }),

    // Range join (q91): point-in-interval temporal join — the batch
    // complement of q36's as-of join. For each urgent 1997 order, the
    // count and quantity of lineitems whose in-transit window
    // [ship_day, ship_day + span] covers the order date ("how much
    // inventory was on the road the day this order was placed"); span
    // is derived deterministically (1..30 days) so both engines see
    // identical intervals. Two strategies exist and BOTH live here:
    //
    //  - [[rangeJoinBinned]]: the general BINNED range join (intervals
    //    replicated to W-day bins, points equi-join their single bin,
    //    exact containment refines in codegen). Candidates per point =
    //    Θ(true matches) — optimal when the operator must PRODUCE the
    //    matched pairs. But for an aggregate output its cost is the
    //    match count itself, and when temporal density grows with the
    //    corpus (the ScaleGen replicas keep the calendar fixed, exactly
    //    like a busier real workload) that is points × density —
    //    quadratic in the densification factor (measured: 1.4 s → 19 s
    //    from 1× → 10×).
    //  - The DIFFERENCE-ARRAY SWEEP used below, the 100 TB shape for
    //    aggregate outputs: each interval contributes +1/−1 (and
    //    ±quantity) deltas at its endpoints, one map-side-combined
    //    groupBy collapses the corpus to ≤ |calendar| delta rows, a
    //    prefix sum over the DENSIFIED bounded day domain (a few
    //    thousand rows at ANY corpus size — the q87 bounded-domain
    //    window argument) yields per-day coverage, and points read
    //    their day from the broadcast coverage table. Linear in
    //    |intervals| + |points|, never materializes a match pair;
    //    decimal delta sums keep qty bit-equal to the per-order
    //    aggregation (exact arithmetic is order-independent).
    //
    // RelationalSpec pins sweep ≡ binned on the oracle data, so the
    // pair-producing strategy stays verified while the suite runs the
    // linear one.
    "q91_range_join" -> (rangeJoinSweep(_, _)),

    // Set ops: UNION + distinct (reference set-union dedup, crawl_web.py:114-117).
    "q16_union_distinct" -> ((s, dir) => {
      val customer = Tables(s, dir, "customer")
      val supplier = Tables(s, dir, "supplier")
      customer.select(col("c_nationkey").as("nationkey"))
        .union(supplier.select(col("s_nationkey").as("nationkey")))
        .distinct()
    }),

    // Time-bucketed event aggregation (daily) — the batch equivalent of the
    // streaming tumbling window (see graft.streaming).
    "q27_events_daily" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
    }),

    // Sessionization: gap-based session assignment via window lag + running
    // sum — the scalable replacement for the reference's driver-side
    // sequential loops (chunks_data.py:69).
    "q28_sessionize" -> ((s, dir) => {
      graft.operators.Funnel.withSessionId(Tables(s, dir, "events"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts")))).as("duration_sec"))
    }),

    // Session funnel (composes q28's gap-rule sessionization): of the
    // sessions containing a click, how many convert — a purchase AT OR
    // AFTER the session's first click (a purchase that precedes every
    // click is not a conversion THROUGH the click). Session flags are
    // per-(user, session) conditional min/max aggregates (map-side
    // combinable); the funnel itself is one tiny global row.
    "q65_session_funnel" -> ((s, dir) => {
      graft.operators.Funnel.withSessionId(Tables(s, dir, "events"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          // epoch MICROS, the engine-portable event-time granularity
          // (events.parquet is ns; both engines truncate identically)
          min(when(col("event_type") === "click", unix_micros(col("ts")))).as("first_click_us"),
          max(when(col("event_type") === "purchase", unix_micros(col("ts")))).as("last_purchase_us"))
        .agg(
          count(lit(1)).as("n_sessions"),
          sum(when(col("first_click_us").isNotNull, 1L).otherwise(0L)).as("n_click_sessions"),
          sum(when(col("first_click_us").isNotNull &&
              col("last_purchase_us") >= col("first_click_us"), 1L)
            .otherwise(0L)).as("n_converted"))
        .withColumn("click_to_purchase_rate",
          expr("CAST(n_converted AS DOUBLE) / n_click_sessions"))
    }),

    // k-step ordered funnel (generalizes q65 to any step list): sessions
    // completing view -> click -> purchase as an ordered subsequence,
    // greedy-earliest position matching (see operators.Funnel). One row
    // per step; the streaming twin is EventsStream.funnelDepths.
    // Round-19 optimization: persistIntermediates — without it the
    // 3-window session spine re-computes ~k(k+1)/2 = 6 times across the
    // reach chain and final union (plan showed 17 Window + 11 Sort + 9
    // Exchange nodes); with the spine/reaches checkpointed each pass
    // runs once (measured 2.10 → 1.58 s at sf0.1 alternating in one
    // JVM). Results identical — the checkpoint is a pure materialization.
    "q67_funnel_k3" -> ((s, dir) =>
      graft.operators.Funnel.kStepFunnel(
        Tables(s, dir, "events"), Seq("view", "click", "purchase"),
        persistIntermediates = Some(true))),

    // Running total per user (window frame aggregation); summed in decimal
    // for cross-engine determinism.
    "q29_running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          sum(col("value").cast(DecimalType(30, 6))).over(w).cast("double").as("running_value"))
    }),

    // Pivot (conditional aggregation spread over columns).
    "q30_pivot_events" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)
    }),

    // Batch twin of the streaming clickPurchaseJoin (§2.7 stream-stream
    // join): the identical join expression runs in both execution modes
    // (watermarks are batch no-ops) — StreamingSpec asserts stream ≡
    // batch, and this entry anchors the batch side to the DuckDB oracle.
    // Semi-structured JSON column (the reference's metadata maps,
    // bronze.py:20-24, as Spark reads them at scale): schema-driven
    // from_json — typed, codegen-friendly, and column-prunable — not
    // per-field get_json_object re-parses. Aggregates the extracted
    // field per event type.
    "q61_props_json" -> ((s, dir) => {
      Tables(s, dir, "events")
        .withColumn("p", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("p.k")).as("sum_k"),
          min(col("p.k")).as("min_k"),
          max(col("p.k")).as("max_k"))
    }),

    // Retention cohorts (the classic activity matrix): users grouped by
    // first-event week, counted distinct per (cohort, activity) week.
    // Weeks ride as their Monday's 'yyyy-MM-dd' string (date_trunc(week)
    // is Monday-based in both engines), so min() and the cross-engine
    // compare are plain lexicographic. Scale shape: two user_id shuffles
    // (first-event agg + distinct) that AQE can co-partition with the
    // join, then a tiny (cohort x week) aggregate.
    "q60_retention_cohorts" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("user_id"),
          date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("w"))
      val first = e.groupBy(col("user_id")).agg(min(col("w")).as("cohort_week"))
      val active = e.distinct().withColumnRenamed("w", "activity_week")
      active.join(first, Seq("user_id"))
        .groupBy(col("cohort_week"), col("activity_week"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // Timestamps are emitted as epoch MICROS so both engines compare the
    // same integers (events.parquet is ns; both sides truncate to µs).
    "q49_click_purchase_window" -> ((s, dir) => {
      graft.streaming.EventsStream.clickPurchaseJoin(Tables(s, dir, "events"))
        .select(col("purchase_id"), col("user_id"), col("click_id"),
          unix_micros(col("purchase_ts")).as("purchase_us"),
          unix_micros(col("click_ts")).as("click_us"))
    }),

    // As-of join (temporal enrichment a training-data pipeline needs;
    // prompt-class custom operator): for each purchase, the latest strictly-
    // earlier click by the same user. Implemented the scalable way — ONE
    // union + window pass (O(n log n) sort within user partitions) instead
    // of an O(clicks×purchases) inequality join. Same-ts clicks are
    // excluded by ordering purchases (ord 0) before clicks (ord 1).
    "q36_asof_join" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("ord").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("ord", when(col("event_type") === "click", 1).otherwise(0))
        .withColumn("last_click_id",
          last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("last_click_id"))
    }),

    // Exact interpolated percentiles per group (distribution stats for
    // quality filtering at scale; approx_percentile is the sketch form).
    "q37_percentiles" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.9)").as("p90"),
          count(lit(1)).as("n"))
    }),

    // Full grouping-sets cube (q12 covers the rollup hierarchy; cube adds
    // the cross-hierarchy subtotal combinations).
    "q43_cube" -> ((s, dir) => {
      val orders = Tables(s, dir, "orders")
      orders
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
    }),

    // RANGE-frame window (value-based, not row-based): per event, the sum
    // of the same user's values in the trailing hour. Distinct from the
    // ROWS frames of q29 — peers at the same timestamp are all included.
    "q44_range_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("es"))
        .rangeBetween(-3600L, 0L)
      Tables(s, dir, "events")
        .withColumn("es", unix_timestamp(col("ts")))
        .select(col("user_id"), col("event_id"),
          sum(col("value").cast(DecimalType(30, 6))).over(w).cast("double").as("hour_sum"))
    }),

    // Microsecond-granularity per-user timestamp extremes. Exists to pin
    // the ns→µs conversion in Tables.events to integral division: with the
    // old double-division form ~1.6% of rows land 1 µs off and this query
    // fails the oracle compare (second-granularity queries can't see it).
    "q39_user_ts_extremes" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(unix_micros(col("ts"))).as("first_us"),
          max(unix_micros(col("ts"))).as("last_us"),
          count(lit(1)).as("n"))
    }),

    // Skew-salted two-phase aggregation (builder mandate: "salting for
    // skew"): the 5 hot event_type keys are spread over 16 salt buckets
    // before the final re-aggregation, so no single reducer sees a whole
    // hot key. Decimal sums make the result identical to the plain
    // GROUP BY oracle regardless of merge order.
    "q41_salted_agg" -> ((s, dir) => {
      graft.operators.Salting.saltedCountSum(
        Tables(s, dir, "events"), Seq("event_type"), "event_id", "value")
    }),

    // Tumbling window (6h) keyed by epoch-aligned bucket start — batch twin
    // of the Structured Streaming path in graft.streaming.EventsStream.
    "q31_tumbling_window" -> ((s, dir) => {
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("w.start")).as("bucket_start_epoch"), col("event_type"), col("n"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2025-01-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_contains" ->
      """SELECT doc_id, lang, n_chars, CAST(length(text) AS BIGINT) AS text_len
        |FROM documents WHERE text LIKE '%spark%'""".stripMargin,

    "q03_dedup_hash_groups" ->
      """SELECT sha256(text) AS content_hash, COUNT(*) AS n_copies,
        |  MIN(doc_id) AS keep_doc_id
        |FROM documents GROUP BY sha256(text)""".stripMargin,

    "q04_anti_join" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin,

    "q05_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,

    "q06_star_join" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_customers,
         |  ${dsumSql("c_acctbal")} AS total_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name""".stripMargin,

    "q07_topk_per_group" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice, rk FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |WHERE rk <= 3""".stripMargin,

    "q08_word_explode" ->
      """SELECT word, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |WHERE word <> '' GROUP BY word""".stripMargin,

    "q09_except" ->
      """SELECT o_orderkey AS orderkey FROM orders
        |EXCEPT
        |SELECT l_orderkey AS orderkey FROM lineitem""".stripMargin,

    "q10_monthly_orders" ->
      s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
         |  COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS total_price
         |FROM orders GROUP BY 1""".stripMargin,

    "q11_case_dispatch" ->
      s"""SELECT CASE WHEN event_type IN ('click','view') THEN 'engagement'
         |            WHEN event_type = 'purchase' THEN 'conversion'
         |            WHEN event_type = 'error' THEN 'fault'
         |            ELSE 'other' END AS category,
         |  COUNT(*) AS n_events, ${dsumSql("value")} AS total_value
         |FROM events GROUP BY 1""".stripMargin,

    "q12_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "q13_distinct_parts" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q14_hot_parts" ->
      """SELECT p_partkey, p_name, n_lines FROM (
        |  SELECT l_partkey, COUNT(*) AS n_lines FROM lineitem
        |  GROUP BY l_partkey HAVING COUNT(*) > 35) t
        |JOIN part ON l_partkey = p_partkey""".stripMargin,

    "q15_array_filter" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 5)) AS BIGINT) AS n_long_words
        |FROM documents""".stripMargin,

    "q16_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nationkey FROM supplier) t""".stripMargin,

    "q79_upsert_merge" ->
      """WITH updates AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus,
        |    o_totalprice + 100000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM updates
        |UNION ALL
        |SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice
        |FROM orders o ANTI JOIN updates u ON o.o_orderkey = u.o_orderkey""".stripMargin,

    "q91_range_join" ->
      """WITH li AS (
        |  SELECT datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS s_day,
        |    datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
        |      + ((l_orderkey * 7 + l_linenumber) % 30) + 1 AS e_day,
        |    l_quantity
        |  FROM lineitem),
        |pts AS (
        |  SELECT o_orderkey,
        |    datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS o_day
        |  FROM orders
        |  WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1997)
        |SELECT o_orderkey,
        |  CAST(count(*) AS BIGINT) AS n_transit,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS qty_transit
        |FROM pts JOIN li ON li.s_day <= pts.o_day AND pts.o_day <= li.e_day
        |GROUP BY o_orderkey""".stripMargin,

    "q82_snapshot_diff" ->
      """WITH old AS (
        |  SELECT doc_id, sha256(text) AS h_old FROM documents WHERE doc_id % 10 <> 0),
        |neu AS (
        |  SELECT doc_id,
        |    sha256(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h_new
        |  FROM documents WHERE doc_id % 13 <> 0),
        |d AS (
        |  SELECT COALESCE(old.doc_id, neu.doc_id) AS doc_id,
        |    CASE WHEN h_old IS NULL THEN 'added'
        |         WHEN h_new IS NULL THEN 'removed'
        |         WHEN h_old <> h_new THEN 'modified'
        |         ELSE 'unchanged' END AS status
        |  FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id)
        |SELECT status, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc,
        |  MAX(doc_id) AS last_doc
        |FROM d GROUP BY status""".stripMargin,

    "q27_events_daily" ->
      s"""SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
         |  ${dsumSql("value")} AS total_value
         |FROM events GROUP BY 1, 2""".stripMargin,

    "q28_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  CAST(floor(epoch(MAX(ts))) AS BIGINT) - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS duration_sec
        |FROM sessions GROUP BY user_id, session_id""".stripMargin,

    "q65_session_funnel" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sessions AS (
        |  SELECT user_id, event_type, ts,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged),
        |per_session AS (
        |  SELECT user_id, session_id,
        |    MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS first_click_us,
        |    MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS last_purchase_us
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(CASE WHEN first_click_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click_sessions,
        |  CAST(SUM(CASE WHEN first_click_us IS NOT NULL AND last_purchase_us >= first_click_us
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        |  CAST(SUM(CASE WHEN first_click_us IS NOT NULL AND last_purchase_us >= first_click_us
        |    THEN 1 ELSE 0 END) AS DOUBLE)
        |    / SUM(CASE WHEN first_click_us IS NOT NULL THEN 1 ELSE 0 END) AS click_to_purchase_rate
        |FROM per_session""".stripMargin,

    "q67_funnel_k3" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        |sessions AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged),
        |sess AS (
        |  SELECT user_id, session_id, event_type,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id, session_id
        |      ORDER BY ts ASC, event_id ASC) AS BIGINT) AS r
        |  FROM sessions),
        |r1 AS (SELECT user_id, session_id, MIN(r) AS t FROM sess
        |       WHERE event_type = 'view' GROUP BY user_id, session_id),
        |r2 AS (SELECT s.user_id, s.session_id, MIN(s.r) AS t FROM sess s
        |       JOIN r1 ON s.user_id = r1.user_id AND s.session_id = r1.session_id
        |       WHERE s.event_type = 'click' AND s.r > r1.t GROUP BY s.user_id, s.session_id),
        |r3 AS (SELECT s.user_id, s.session_id, MIN(s.r) AS t FROM sess s
        |       JOIN r2 ON s.user_id = r2.user_id AND s.session_id = r2.session_id
        |       WHERE s.event_type = 'purchase' AND s.r > r2.t GROUP BY s.user_id, s.session_id)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM r1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click', CAST(COUNT(*) AS BIGINT) FROM r2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase', CAST(COUNT(*) AS BIGINT) FROM r3""".stripMargin,

    "q29_running_total" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER (
        |    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events""".stripMargin,

    "q30_pivot_events" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY 1""".stripMargin,

    "q61_props_json" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q60_retention_cohorts" ->
      """WITH e AS (SELECT user_id,
        |  strftime(date_trunc('week', ts), '%Y-%m-%d') AS w FROM events),
        |f AS (SELECT user_id, min(w) AS cohort_week FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, w AS activity_week FROM e)
        |SELECT cohort_week, activity_week,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY cohort_week, activity_week""".stripMargin,

    "q49_click_purchase_window" ->
      """SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        |  epoch_us(p.ts) AS purchase_us, epoch_us(c.ts) AS click_us
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        |  AND p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND epoch_us(c.ts) < epoch_us(p.ts)
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000""".stripMargin,

    "q36_asof_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id,
        |  (SELECT c.event_id FROM events c
        |   WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts < p.ts
        |   ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS last_click_id
        |FROM events p WHERE p.event_type = 'purchase'""".stripMargin,

    "q37_percentiles" ->
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.9) AS p90,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q31_tumbling_window" ->
      """SELECT CAST(floor(floor(epoch(ts)) / 21600) * 21600 AS BIGINT) AS bucket_start_epoch,
        |  event_type, COUNT(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q39_user_ts_extremes" ->
      """SELECT user_id, MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us,
        |  COUNT(*) AS n
        |FROM events GROUP BY user_id""".stripMargin,

    "q41_salted_agg" ->
      s"""SELECT event_type, COUNT(*) AS n, ${dsumSql("value")} AS total
         |FROM events GROUP BY event_type""".stripMargin,

    "q43_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS total_price
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q44_range_window" ->
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER (
        |    PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hour_sum
        |FROM events""".stripMargin
  )
}
