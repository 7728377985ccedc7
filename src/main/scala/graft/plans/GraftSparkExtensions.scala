package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `SparkSessionExtensions` injection point for the engine's native
  * expressions — the builder-prompt path for custom operators
  * ("registered via SparkSessionExtensions"): a cluster operator enables
  * the whole function surface with
  * `spark.sql.extensions=graft.plans.GraftSparkExtensions`, no driver
  * code required. [[GraftExpressions.register]] remains the imperative
  * session-local equivalent for embedded use.
  *
  * Injected SQL functions:
  *  - `cosine_sim(a, b)` — codegen'd cosine over two array<float>
  *  - `dot_product(a, b)` — codegen'd dot product (pair kernel of the
  *    norm-precomputed cosine form)
  *  - `chunk_text(text, size, overlap)` — recursive chunker Generator
  *    (LATERAL VIEW / table-generating select)
  *  - `lsh_keys(embedding, tables, bits, mult)` — fused multiprobe-LSH
  *    table keys (tables/bits/mult must be foldable integer literals)
  *  - `lsh_probe_keys(embedding, tables, bits, probes, mult)` —
  *    confidence-ordered multiprobe key sets (exact key + lowest-margin
  *    plane flips) per table
  *  - `distinct_shingles(text, n)` — distinct word n-gram shingles in
  *    first-occurrence order, byte-level and codegen-native (the
  *    near-dup family's per-row kernel)
  *
  * Injected TABLE functions (round 17 — the [[graft.etl.TxTable]]
  * format's SQL surface, so time travel and data skipping are reachable
  * without Scala):
  *  - `graft_table('path'[, version])` — snapshot read of a TxTable
  *    through the `format("graft")` connector; `version` = -1 / omitted
  *    reads latest, any committed version time travels. A WHERE clause
  *    on it pushes into the connector's scan, so `graft_table(p) WHERE
  *    k BETWEEN lo AND hi` prunes dirs whose recorded stats cannot
  *    match at the MANIFEST level before Spark lists a file.
  *  - `graft_table_history('path')` — the commit history, newest first
  *    (version, action, dir counts, partitions, commit time).
  * Arguments must be literals: a table function resolves to a logical
  * plan at analysis time, so the path/version cannot come from a row.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftSparkExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    // MERGE INTO over graft relations → the transactional upsert;
    // UPDATE → the scoped-rewrite updateKeys/updateRange (round 19;
    // see [[GraftMergeRule]]/[[GraftUpdateRule]] for the shapes)
    ext.injectPostHocResolutionRule(_ => GraftMergeRule)
    ext.injectPostHocResolutionRule(_ => GraftUpdateRule)
    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float arrays"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two float arrays"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("chunk_text"),
      info("chunk_text", "chunk_text(text, size, overlap) - recursive chunk generator"),
      (exprs: Seq[Expression]) => ChunkTextGen(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((FunctionIdentifier("lsh_keys"),
      info("lsh_keys", "lsh_keys(embedding, tables, bits, mult) - multiprobe LSH table keys"),
      (exprs: Seq[Expression]) => GraftExpressions.lshKeysFromSql(exprs)))
    ext.injectFunction((FunctionIdentifier("lsh_probe_keys"),
      info("lsh_probe_keys",
        "lsh_probe_keys(embedding, tables, bits, probes, mult) - confidence-ordered multiprobe key sets"),
      (exprs: Seq[Expression]) => GraftExpressions.lshProbeKeysFromSql(exprs)))
    ext.injectFunction((FunctionIdentifier("distinct_shingles"),
      info("distinct_shingles",
        "distinct_shingles(text, n) - distinct word n-gram shingles, first-occurrence order"),
      (exprs: Seq[Expression]) => DistinctShingles(exprs(0),
        GraftExpressions.litLong(exprs(1), "distinct_shingles", "n").toInt)))
    ext.injectFunction((FunctionIdentifier("sq8_blob"),
      info("sq8_blob", "sq8_blob(embedding) - SQ8 side-car [maxAbs][norm][int8 codes]"),
      (exprs: Seq[Expression]) => Sq8Blob(exprs(0))))
    ext.injectFunction((FunctionIdentifier("sq8_upper_cos"),
      info("sq8_upper_cos",
        "sq8_upper_cos(a, b) - provable upper bound on cosine from two sq8_blob side-cars"),
      (exprs: Seq[Expression]) => Sq8UpperCos(exprs(0), exprs(1))))
    ext.injectTableFunction((FunctionIdentifier("graft_table"),
      info("graft_table",
        "graft_table(path[, version]) - snapshot read of a TxTable (time travel via version)"),
      (exprs: Seq[Expression]) => {
        val reader = org.apache.spark.sql.SparkSession.active.read.format("graft")
        val path = litStr(exprs, 0, "graft_table", "path")
        val version =
          if (exprs.length > 1) GraftExpressions.litLong(exprs(1), "graft_table", "version")
          else -1L
        (if (version >= 0) reader.option("versionAsOf", version) else reader)
          .load(path).queryExecution.logical
      }))
    ext.injectTableFunction((FunctionIdentifier("graft_table_history"),
      info("graft_table_history",
        "graft_table_history(path) - commit history of a TxTable, newest first"),
      (exprs: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val path = litStr(exprs, 0, "graft_table_history", "path")
        graft.etl.TxTable.history(spark, path).queryExecution.logical
      }))
    ext.injectTableFunction((FunctionIdentifier("graft_table_stats"),
      info("graft_table_stats",
        "graft_table_stats(path[, version]) - per-dir data-skipping stats (range/str_range/bloom)"),
      (exprs: Seq[Expression]) => {
        val spark = org.apache.spark.sql.SparkSession.active
        val path = litStr(exprs, 0, "graft_table_stats", "path")
        val version =
          if (exprs.length > 1) GraftExpressions.litLong(exprs(1), "graft_table_stats", "version")
          else -1L
        graft.etl.TxTable.statsOf(spark, path, version).queryExecution.logical
      }))
  }

  private def litStr(exprs: Seq[Expression], i: Int, fn: String, arg: String): String = {
    require(i < exprs.length, s"$fn: missing argument '$arg'")
    val e = exprs(i)
    require(e.foldable && e.dataType.isInstanceOf[org.apache.spark.sql.types.StringType],
      s"$fn: '$arg' must be a literal string")
    e.eval().toString
  }
}
