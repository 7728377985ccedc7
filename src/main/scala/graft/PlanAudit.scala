package graft

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}

/** Plan-hygiene sweep over every `SparkEntry.queries` entry: execute the
  * query, read the FINAL (post-AQE) physical plan, and emit one JSON line
  * per query counting the operators that matter at scale — shuffle /
  * broadcast exchanges, join strategies, cartesian products, window and
  * sort passes, whole-stage-codegen spans, parquet scans and how many of
  * them reach the scan with pushed filters. The committed artifact
  * (`scale_artifacts/plan_audit_sf01.jsonl`) is the evidence behind
  * PLANS.md; `PlanAuditSpec` asserts the cross-query invariants (no
  * cartesian product anywhere, broadcast-nested-loop only where a bounded
  * build side is by-design, codegen present in every plan) so they hold
  * on every future change, not just on the day of the audit.
  *
  * Usage: `tools/run.sh graft.PlanAudit <sfDir> <outFile.jsonl>`
  */
object PlanAudit {

  /** Tag counts from one executed DataFrame. Must be called AFTER an
    * action so AQE has finalized (we split off the "Initial Plan" copy
    * that AdaptiveSparkPlanExec.toString appends). */
  def audit(df: DataFrame): Map[String, Long] = {
    // collect() (not count(), which builds a SEPARATE query execution)
    // so THIS queryExecution's adaptive plan is the one that finalizes
    val rows = df.collect().length.toLong
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val lines = p.linesIterator.toSeq
    def n(pred: String => Boolean): Long = lines.count(pred)
    // formatted explain carries the scan detail (PushedFilters/ReadSchema)
    // and the codegen span ids ("[codegen id : N]"); plan toString only
    // shows codegen as "*(N)" prefixes
    val fmt = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val fmtLines = fmt.linesIterator.toSeq
    val codegenIds = fmtLines.flatMap(
      "\\[codegen id : (\\d+)\\]".r.findAllMatchIn(_).map(_.group(1))).toSet
    Map(
      "rows" -> rows,
      "shuffle_exchange" -> n(l =>
        l.contains("Exchange") && !l.contains("BroadcastExchange")
          && !l.contains("ReusedExchange")),
      "broadcast_exchange" -> n(l =>
        l.contains("BroadcastExchange") && !l.contains("ReusedExchange")),
      "reused_exchange" -> n(_.contains("ReusedExchange")),
      "broadcast_hash_join" -> n(_.contains("BroadcastHashJoin")),
      "sort_merge_join" -> n(_.contains("SortMergeJoin")),
      "shuffled_hash_join" -> n(_.contains("ShuffledHashJoin")),
      "broadcast_nl_join" -> n(_.contains("BroadcastNestedLoopJoin")),
      "cartesian_product" -> n(_.contains("CartesianProduct")),
      "window" -> n(l => l.contains("Window") && !l.contains("WindowGroupLimit")),
      "window_group_limit" -> n(_.contains("WindowGroupLimit")),
      "sort" -> n(l => l.contains("Sort ") && !l.contains("SortMergeJoin")
        && !l.contains("SortAggregate")),
      "hash_aggregate" -> n(l =>
        l.contains("HashAggregate") && !l.contains("ObjectHashAggregate")),
      "object_hash_aggregate" -> n(_.contains("ObjectHashAggregate")),
      "sort_aggregate" -> n(_.contains("SortAggregate")),
      "generate" -> n(_.contains("Generate")),
      "codegen_spans" -> codegenIds.size.toLong,
      // count from the per-operator DETAIL section ("(N) Scan parquet"
      // headers, one per distinct operator id) — the tree section above
      // it repeats every scan in both the final and the Initial Plan copy
      "parquet_scans" -> fmtLines.count(_.matches("^\\(\\d+\\) Scan parquet.*")).toLong,
      "scans_with_pushed_filters" -> fmtLines.count(l =>
        l.contains("PushedFilters:") && !l.replace(" ", "").contains("PushedFilters:[]")).toLong
    )
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile) = args
    val spark = LocalSession(8)
    spark.sparkContext.setLogLevel("WARN")
    val sb = new StringBuilder
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val m = audit(fn(spark, sfDir))
      sb.append(m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }
        .mkString(s"""{"query":"$name",""", ",", "}\n"))
      System.err.println(s"[audit] $name done")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    spark.stop()
  }
}
