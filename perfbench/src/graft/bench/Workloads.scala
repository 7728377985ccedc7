package graft.bench

import java.io.File

import graft.etl.{Bronze, Gold, Silver, TxTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One timed operation of a loop iteration: its wall time, and the CPU
  * time this JVM spent meanwhile (all threads; time the host steals from
  * the VM is not in it). */
final case class Op(kind: String, seconds: Double, cpuSeconds: Double, ok: Boolean,
                    note: String = "")

/** What a workload needs from the harness. */
final case class Ctx(spark: SparkSession, tracer: Tracer, input: String, work: String,
                     meta: Map[String, String], plant: String) {
  /** While set, every timed op is followed by a one-round calibration
    * ([[Proc.calibrationNs]]), so the machine's speed is sampled all
    * through an iteration and not only at its ends. */
  var calibrating = false
  val calibrations = scala.collection.mutable.ArrayBuffer[Double]()

  def time[T](body: => T): (T, Double, Double) = {
    val c0 = Proc.cpuNs
    val t0 = System.nanoTime()
    val r = body
    val out = (r, (System.nanoTime() - t0) / 1e9, (Proc.cpuNs - c0) / 1e9)
    if (calibrating) calibrations += Proc.calibrationNs(rounds = 1)
    out
  }
}

/** A workload: a set-up, then a closed loop of iterations by one client. */
trait Workload {
  def name: String
  /** Build the program's state from the inputs (timed as set-up). */
  def setup(c: Ctx): Unit
  /** One loop iteration; `i` counts from 0. The first op is the one the
    * `op_p50_ms` metric summarises. */
  def iteration(c: Ctx, i: Int): Seq[Op]
  /** How many iterations the inputs allow, and how many a run makes at
    * least. */
  def maxIterations(c: Ctx): Int = Int.MaxValue
  def minIterations: Int = 3
  /** The latencies `op_p50_ms` summarises, one per iteration: by default
    * the iteration's first op. */
  def opSeconds(iters: Seq[Seq[Op]]): Seq[Double] = iters.map(_.head.seconds)
  def opCpuSeconds(iters: Seq[Seq[Op]]): Seq[Double] = iters.map(_.head.cpuSeconds)
  /** Checks after the timed loop, each (name, passed). */
  def verify(c: Ctx): Seq[(String, Boolean)]
  /** Named end-to-end figures of this workload for the artifact. */
  def figures(c: Ctx, iters: Seq[Seq[Op]]): Map[String, (Double, String)]
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "pipeline_daily" => new PipelineDaily
    case "suite_heavy" => new SuiteHeavy
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names = Seq("pipeline_daily", "suite_heavy")

  /** The crawl_date partition `Bronze.land` just wrote: it stamps the UTC
    * date itself, so the benchmark reads it back instead of using its own
    * clock (a run crossing midnight holds two dates; the newest is the
    * one just landed). */
  def landedDate(bronze: String): String =
    Option(new File(bronze).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("crawl_date=")).map(_.stripPrefix("crawl_date="))
      .max

  /** Text of the top-1 hit of a search result. */
  def top1(hits: Array[org.apache.spark.sql.Row]): String =
    if (hits.isEmpty) "" else hits.minBy(_.getAs[Number]("rank").longValue).getAs[String]("text")

  /** Drop one row of a TxTable, the planted fault of the self-test. */
  def dropOneRow(spark: SparkSession, gold: String): Unit = {
    val pk = TxTable.read(spark, gold).select("pk").head.getString(0)
    TxTable.deleteKeys(spark, gold, "pk", Seq(pk))
  }

  /** The parquet data files of a TxTable's latest snapshot. */
  def snapshotFiles(root: String): Seq[File] =
    TxTable.snapshot(root).dirs.flatMap { d =>
      Option(new File(root, d).listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    }

  def snapshotBytes(root: String): Long = snapshotFiles(root).map(_.length).sum
}

/** A gold table built from a base corpus, then one small landing per
  * simulated day, each followed by searches for planted probes. */
final class PipelineDaily extends Workload {
  val name = "pipeline_daily"
  private def bronze(c: Ctx) = s"${c.work}/bronze"
  private def silver(c: Ctx) = s"${c.work}/silver"
  private def gold(c: Ctx) = s"${c.work}/gold"
  private var expectedGold = 0L
  private var landed = 0L
  private var lastBatch = 0L
  /** Per day, the bytes the gold snapshot grew by: the stored size of the
    * rows the day's upsert added. */
  val goldGrowth = scala.collection.mutable.Map[Int, Long]()

  private def silverOf(c: Ctx, date: String): DataFrame =
    c.spark.read.parquet(silver(c)).filter(col("crawl_date") === date)

  def setup(c: Ctx): Unit = {
    val spark = c.spark
    c.tracer.span("bronze.land", -1) {
      Bronze.land(Bronze.dedupByContent(spark.read.parquet(s"${c.input}/base")), bronze(c))
    }
    val date = Workloads.landedDate(bronze(c))
    c.tracer.span("silver.refresh_partition", -1) {
      Silver.refreshPartition(spark, bronze(c), silver(c), date)
    }
    c.tracer.span("gold.refresh", -1) { Gold.refresh(Gold.build(silverOf(c, date)), gold(c)) }
    expectedGold = c.meta("base.chunks").toLong
    landed = c.meta("base.text_bytes").toLong
  }

  private def day(c: Ctx, d: Int, op: Int): Seq[Op] = {
    val spark = c.spark
    val days = c.meta("days").toInt
    require(d < days, s"ran out of generated days ($days)")
    val batch = spark.read.parquet(s"${c.input}/days").filter(col("day") === d).drop("day")
    val v0 = TxTable.latestVersion(gold(c))
    val bytes0 = Workloads.snapshotBytes(gold(c))
    val (err, commit, commitCpu) = c.time(try {
      c.tracer.span("bronze.land", op) { Bronze.land(Bronze.dedupByContent(batch), bronze(c)) }
      val date = Workloads.landedDate(bronze(c))
      c.tracer.span("silver.refresh_partition", op) {
        Silver.refreshPartition(spark, bronze(c), silver(c), date)
      }
      c.tracer.span("gold.upsert", op) {
        Gold.upsert(spark, gold(c), Gold.build(silverOf(c, date)), "pk")
      }
      None
    } catch { case e: Exception => Some(e.toString) })
    if (c.plant == "drop_gold_row") Workloads.dropOneRow(spark, gold(c))
    expectedGold += c.meta(s"day.$d.chunks").toLong
    lastBatch = c.meta(s"day.$d.text_bytes").toLong
    landed += lastBatch
    val commitOk = err.isEmpty && {
      val date = Workloads.landedDate(bronze(c))
      Bronze.read(spark, bronze(c), Some(date)).count() == c.meta(s"day.$d.distinct").toLong &&
        silverOf(c, date).count() == c.meta(s"day.$d.chunks").toLong &&
        TxTable.latestVersion(gold(c)) == v0 + 1 &&
        Gold.readTable(spark, gold(c)).count() == expectedGold
    }
    if (commitOk) goldGrowth(d) = Workloads.snapshotBytes(gold(c)) - bytes0
    // an exact search for today's probe, an IVF search for an earlier
    // day's; each probe must come back as the top hit. Every day does the
    // same work, so per-day times are comparable.
    val (hits, dt, cpu) = c.time(c.tracer.span("gold.search", op) {
      Gold.search(spark, gold(c), c.meta(s"probe.$d"), 5).collect()
    })
    val earlier = c.meta(s"probe.${(d * 7 + 3) % (d + 1)}")
    val (ivfHits, ivfDt, ivfCpu) = c.time(c.tracer.span("gold.search_ivf", op) {
      Gold.searchIvf(spark, gold(c), earlier, 5).collect()
    })
    Seq(Op("day_commit", commit, commitCpu, commitOk, err.getOrElse("")),
      Op("search", dt, cpu, Workloads.top1(hits) == c.meta(s"probe.$d")),
      Op("ivf_search", ivfDt, ivfCpu, Workloads.top1(ivfHits) == earlier))
  }

  def iteration(c: Ctx, i: Int): Seq[Op] = day(c, i, i)
  override def maxIterations(c: Ctx): Int = c.meta("days").toInt
  override def minIterations: Int = 2

  def verify(c: Ctx): Seq[(String, Boolean)] = {
    val g = Gold.readTable(c.spark, gold(c))
    val gs = g.agg(count(lit(1)), countDistinct(col("pk")),
      min(size(col("vector"))), max(size(col("vector")))).head
    val lens = c.spark.read.parquet(silver(c))
      .agg(min(length(col("split_content"))), max(length(col("split_content")))).head
    Seq(
      "silver.chunk_lengths" -> (lens.getInt(0) >= 1 && lens.getInt(1) <= Silver.ChunkSize),
      "gold.pk_unique" -> (gs.getLong(0) == gs.getLong(1)),
      "gold.dim" -> (gs.getInt(2) == Gold.VectorDim && gs.getInt(3) == Gold.VectorDim),
      "gold.rows" -> (gs.getLong(0) == expectedGold))
  }

  def figures(c: Ctx, iters: Seq[Seq[Op]]): Map[String, (Double, String)] = {
    val ops = iters.flatten
    def of(kind: String) = ops.filter(_.kind == kind).map(_.seconds)
    val commits = of("day_commit")
    val searches = of("search").map(_ * 1000)
    val ivf = of("ivf_search").map(_ * 1000)
    // Bronze.land stamps today's date, so every day of a run lands in the
    // same crawl_date partition: bronze and silver hold the last batch
    // only, while gold holds every landed document
    Map(
      "day_commit_p50_s" -> (Stats.median(commits), "s"),
      "search_p50_ms" -> (Stats.median(searches), "ms"),
      "gold_bytes_per_input_byte" -> (Inputs.treeBytes(gold(c)).toDouble / landed, "ratio"),
      "bronze_silver_bytes_per_batch_byte" ->
        (Seq(bronze(c), silver(c)).map(Inputs.treeBytes).sum.toDouble / lastBatch, "ratio")) ++
      (if (ivf.isEmpty) Map.empty else Map("ivf_search_p50_ms" -> (Stats.median(ivf), "ms"))) ++
      (if (commits.length >= 40) Map("day_commit_p75_s" -> (Stats.percentile(commits, 75), "s"))
       else Map.empty) ++
      (if (searches.length >= 100) Map("search_p90_ms" -> (Stats.percentile(searches, 90), "ms"))
       else Map.empty)
  }
}

/** Operator-heavy queries from all four query modules on a ScaleGen
  * replica. */
final class SuiteHeavy extends Workload {
  val name = "suite_heavy"
  /** Two queries per module where it has a heavy one: TopKRows (q07), a
    * window sessionizer (q28), LSH and BM25 retrieval (q40, q75), the
    * two-level prefix sum (q81) and TextRank iteration (q92). */
  val Queries: Seq[String] = Seq("q07_topk_per_group", "q28_sessionize", "q40_lsh_neardup",
    "q75_bm25_topk", "q81_sequence_pack", "q92_textrank")

  def module(q: String): String =
    if (graft.queries.Relational.queries.contains(q)) "relational"
    else if (graft.queries.TextOps.queries.contains(q)) "textops"
    else if (graft.queries.VectorOps.queries.contains(q)) "vectorops"
    else "trainingops"

  private val entry = graft.SparkEntry.queries
  val coldRows = scala.collection.mutable.LinkedHashMap[String, Long]()
  val coldSeconds = scala.collection.mutable.LinkedHashMap[String, Double]()
  val finalHash = scala.collection.mutable.LinkedHashMap[String, String]()
  var coldPassSeconds = 0.0

  private def dir(c: Ctx) = s"${c.input}/replica"

  /** Run one query to completion, then release what it cached. */
  private def run(c: Ctx, q: String, op: Int): Long =
    try c.tracer.span(s"queries.${module(q)}.$q", op) { entry(q)(c.spark, dir(c)).count() }
    finally { graft.TempCaches.releaseAll(); c.spark.catalog.clearCache() }

  def setup(c: Ctx): Unit = {
    graft.queries.StageMemo.clear()
    graft.queries.VectorOps.clearTrainedMemo()
    val t0 = System.nanoTime()
    Queries.foreach { q =>
      val (n, dt, _) = c.time(run(c, q, -1))
      coldRows(q) = n
      coldSeconds(q) = dt
    }
    coldPassSeconds = (System.nanoTime() - t0) / 1e9
  }

  override def minIterations: Int = 1
  /** The median query of each pass. The queries' costs form clusters with
    * wide gaps, so a median over all queries of all passes would jump
    * across a gap when one query moves; the in-pass median of six queries
    * averages the third and fourth. */
  override def opSeconds(iters: Seq[Seq[Op]]): Seq[Double] = iters.map(it => Stats.median(it.map(_.seconds)))
  override def opCpuSeconds(iters: Seq[Seq[Op]]): Seq[Double] = iters.map(it => Stats.median(it.map(_.cpuSeconds)))

  def iteration(c: Ctx, i: Int): Seq[Op] = Queries.map { q =>
    val (n, dt, cpu) = c.time(try Right(run(c, q, i)) catch { case e: Exception => Left(e.toString) })
    Op(q, dt, cpu, n == Right(coldRows(q)), n.left.getOrElse(""))
  }

  /** Set when this seed has recorded results (or is being recorded):
    * only then is every result hashed, since the hashing pass re-runs the
    * whole suite. */
  var hashResults = false

  /** Every query returned rows; with [[hashResults]], each result's rows
    * plus an order-insensitive hash, computed after the timed loop for
    * `PerfBench` to compare with the values recorded for this seed. */
  def verify(c: Ctx): Seq[(String, Boolean)] = Queries.map { q =>
    if (hashResults) finalHash(q) = try SuiteHeavy.resultHash(entry(q)(c.spark, dir(c)))
      finally { graft.TempCaches.releaseAll(); c.spark.catalog.clearCache() }
    s"query.$q.rows" -> (coldRows(q) > 0 &&
      finalHash.get(q).forall(_.startsWith(s"${coldRows(q)}:")))
  }

  def figures(c: Ctx, iters: Seq[Seq[Op]]): Map[String, (Double, String)] = {
    val passes = iters.map(_.map(_.seconds).sum)
    Map(
      "suite_total_s" -> (Stats.median(passes), "s"),
      "query_p50_ms" -> (Stats.median(opSeconds(iters)) * 1000, "ms"))
  }
}

object SuiteHeavy {
  /** Row count plus an order-insensitive hash of a result, with every
    * floating-point value printed to 9 significant digits so reordering of
    * float sums cannot change it. */
  def resultHash(df: DataFrame): String = {
    def norm(e: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column = t match {
      case DoubleType | FloatType => format_string("%.8e", e.cast(DoubleType))
      case ArrayType(et, _) => transform(e, x => norm(x, et))
      case MapType(_, vt, _) => array_sort(map_entries(transform_values(e, (_, v) => norm(v, vt))))
      case st: StructType => struct(st.fields.map(f => norm(e.getField(f.name), f.dataType).as(f.name)): _*)
      case _ => e
    }
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType).as(f.name))
    Inputs.fingerprint(df.select(cols: _*))
  }
}
