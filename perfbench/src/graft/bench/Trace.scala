package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side totals of one span (the jobs run under its job group). */
final class SparkTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  /** max ÷ median task duration, one entry per completed stage. */
  val stageSkews = mutable.ArrayBuffer[Double]()

  def add(o: SparkTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes
    outputRecords += o.outputRecords; stageSkews ++= o.stageSkews
  }
}

/** One span: a call into a layer, made by the benchmark. `op` groups the
  * spans of one loop iteration (a refresh pass, a day, a suite pass).
  * `counters` holds the TxTable counter deltas over the call. */
final case class Span(id: Int, parent: Int, name: String, op: Int, start: Long,
                      var end: Long = 0L, var counters: Map[String, Long] = Map.empty)

/** Records spans around the benchmark's calls into each layer and the
  * Spark work each span caused. Spark jobs are attributed to the innermost
  * open span through its job group. Spans stay in memory until the run
  * ends. The client is single-threaded, so the span stack is too. The
  * listeners are registered only while tracing is enabled, so an untraced
  * iteration pays none of their cost. */
final class Tracer(spark: SparkSession) {
  private var on = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val listener = new LayerListener
  private val planning = new PlanningListener

  def enabled: Boolean = on

  /** Turning tracing off first waits for the listeners to see every event
    * already posted, so the totals of the spans so far are complete. */
  def enabled_=(v: Boolean): Unit = if (v != on) {
    if (v) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(planning)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(planning)
    }
    on = v
  }

  private def group(id: Int) = s"bench-span-$id"

  def span[T](name: String, op: Int)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.length, stack.headOption.fold(-1)(_.id), name, op, System.nanoTime())
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setJobGroup(group(s.id), name, interruptOnCancel = false)
      val before = TxCounters.read()
      try body
      finally {
        s.end = System.nanoTime()
        val after = TxCounters.read()
        s.counters = after.map { case (k, v) => k -> (v - before(k)) }
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p.id), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until every posted listener event is processed. */
  def drain(): Unit = org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)

  /** Spark totals of span `id` alone (its child spans' jobs excluded). */
  def totals(id: Int): SparkTotals = listener.synchronized {
    listener.bySpan.getOrElse(id, new SparkTotals)
  }

  /** Spark totals of span `id` and all its descendants. */
  def subtreeTotals(id: Int): SparkTotals = {
    val t = new SparkTotals
    def go(i: Int): Unit = {
      t.add(totals(i))
      spans.iterator.filter(_.parent == i).foreach(c => go(c.id))
    }
    go(id)
    t
  }

  def planningMs: Long = planning.totalMs.get

  def seconds(s: Span): Double = (s.end - s.start) / 1e9

  /** A span's duration minus the time its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.start, c.end)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.end - s.start - covered) / 1e9
  }

  /** Every span as a JSON-ready record, written out when the run ends. */
  def records: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val t = totals(s.id)
    scala.collection.immutable.ListMap[String, Any](
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
      "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> selfSeconds(s),
      "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
      "cpu_s" -> t.cpuNs / 1e9, "shuffle_write_bytes" -> t.shuffleWriteBytes,
      "input_bytes" -> t.inputBytes, "output_bytes" -> t.outputBytes,
      "output_records" -> t.outputRecords, "spill_bytes" -> t.spillBytes) ++ s.counters
  }
}

/** Accumulates task metrics per span, keyed by the job group the span
  * set. Events run on Spark's listener thread; readers synchronize. */
final class LayerListener extends SparkListener {
  val bySpan = mutable.HashMap[Int, SparkTotals]()
  private val stageSpan = mutable.HashMap[Int, Int]()
  private val stageTasks = mutable.HashMap[(Int, Int), mutable.ArrayBuffer[Double]]()

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("bench-span-")).map(_.stripPrefix("bench-span-").toInt)

  private def acc(id: Int) = bySpan.getOrElseUpdate(id, new SparkTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { id =>
      acc(id).jobs += 1
      e.stageIds.foreach(stageSpan(_) = id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val a = acc(id)
      val info = e.taskInfo
      a.tasks += 1
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer())
        .append(info.duration.toDouble)
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageSpan.get(info.stageId).foreach { id =>
      val a = acc(id)
      a.stages += 1
      stageTasks.remove((info.stageId, info.attemptNumber())).filter(_.nonEmpty)
        .foreach(ts => a.stageSkews += Stats.skew(ts.toSeq))
    }
  }
}

/** Sums the analysis, optimization and planning phases of every action's
  * QueryPlanningTracker. */
final class PlanningListener extends QueryExecutionListener {
  val totalMs = new java.util.concurrent.atomic.AtomicLong
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    totalMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** The TxTable observability counters, read around each traced call. */
object TxCounters {
  import graft.etl.TxTable
  def read(): Map[String, Long] = Map(
    "manifest_reads" -> TxTable.manifestReads.get,
    "full_listings" -> TxTable.fullListings.get,
    "manifest_probes" -> TxTable.manifestProbes.get,
    "cache_hits" -> TxTable.cacheHits.get,
    "rebase_recomputes" -> TxTable.rebaseRecomputes.get)
}

/** This JVM's CPU time and peak memory, and the VM's stolen CPU share. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of all threads of this JVM. */
  def cpuNs: Long = os.getProcessCpuTime

  /** (steal, total) ticks of all CPUs from /proc/stat; zeros where it is
    * not available. */
  def cpuTicks: (Long, Long) = {
    val f = new java.io.File("/proc/stat")
    if (!f.isFile) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val xs = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (xs.length > 7) xs(7) else 0L, xs.sum)
      } finally src.close()
    }
  }

  /** Share of all CPU time the host stole between two [[cpuTicks]]
    * readings; 0 where /proc/stat is not available. */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double =
    (to._1 - from._1).toDouble / math.max(1L, to._2 - from._2)

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** Calibration: the CPU nanoseconds one thread takes to sort a fixed
    * array of 2^20 pseudo-random ints while `Cores` threads do the same at
    * once; the median over `rounds` rounds. It rises with whatever else
    * slows this machine's cores, such as a busy sibling hyperthread, a
    * lower clock or a shared cache, but not with time the host steals: it
    * moves the way this JVM's CPU time does. */
  def calibrationNs(rounds: Int = 3): Double = {
    val samples = (0 until rounds).flatMap { _ =>
      val tasks = (0 until PerfBench.Cores).map { k =>
        val f = new java.util.concurrent.FutureTask[Long](new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            val a = new Array[Int](1 << 20)
            var x = 0x2545F491 + k
            var i = 0
            while (i < a.length) { x ^= x << 13; x ^= x >>> 17; x ^= x << 5; a(i) = x; i += 1 }
            val c0 = threads.getCurrentThreadCpuTime
            java.util.Arrays.sort(a)
            threads.getCurrentThreadCpuTime - c0
          }
        })
        val t = new Thread(f, s"calibration-$k")
        t.setDaemon(true)
        t.start()
        f
      }
      tasks.map(_.get().toDouble)
    }
    Stats.median(samples)
  }

  def heapPeakMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** VmHWM from /proc/self/status (Linux); 0 where it is not available. */
  def rssPeakMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.isFile) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    }
  }
}
