package graft

import org.apache.spark.sql.SparkSession

/** Proves the config-driven extension path on a fresh JVM: builds the
  * session with `spark.sql.extensions=graft.plans.GraftSparkExtensions`
  * (no programmatic hook, exactly how a cluster would enable it) and
  * drives each injected SQL function. Exits non-zero on any failure. */
object ExtensionsProbe {
  def main(args: Array[String]): Unit = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-extprobe-wh").toString
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.root", warehouse)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables(spark, "/root/testdata/sf0.001", "embeddings").limit(5)
      .createOrReplaceTempView("emb_p")
    Tables(spark, "/root/testdata/sf0.001", "documents").limit(5)
      .createOrReplaceTempView("docs_p")
    val r = spark.sql(
      """SELECT cosine_sim(embedding, embedding) AS c,
        |       lsh_keys(embedding, 8, 6, 69621) AS ks,
        |       dot_product(embedding, embedding) AS d
        |FROM emb_p""".stripMargin).collect()
    require(r.nonEmpty && r.forall(x => math.abs(x.getDouble(0) - 1.0) < 1e-12), "cosine_sim")
    require(r.forall(_.getSeq[Long](1).length == 8), "lsh_keys")
    // hashEmbed vectors are L2-normalized in double then stored as float,
    // so the self-dot (squared norm) is 1 only to float precision
    require(r.forall(x => math.abs(x.getDouble(2) - 1.0) < 1e-6), "dot_product")
    val chunks = spark.sql(
      "SELECT chunk FROM docs_p LATERAL VIEW chunk_text(text, 200, 20) t AS chunk_id, chunk")
      .collect()
    require(chunks.nonEmpty && chunks.forall(_.getString(0).length <= 200), "chunk_text")
    // the remaining two injected functions (round-16 stretch: every
    // native expression callable from bare SQL)
    val pk = spark.sql(
      "SELECT lsh_probe_keys(embedding, 4, 6, 3, 69621) AS pks FROM emb_p").collect()
    require(pk.forall { x =>
      val t = x.getSeq[scala.collection.Seq[Long]](0)
      t.length == 4 && t.forall(_.length == 4) // per table: exact key + 3 flips
    }, "lsh_probe_keys")
    val sh = spark.sql(
      """SELECT distinct_shingles('the cat sat on the cat sat mat', 3) AS s""").collect()
    require(sh.head.getSeq[String](0) == Seq("the cat sat", "cat sat on",
      "sat on the", "on the cat", "cat sat mat"), "distinct_shingles")
    // round 17: the TxTable SQL surface — time travel and data skipping
    // from bare SQL through the injected TABLE functions
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-extprobe").toString + "/t"
    graft.etl.TxTable.refresh(spark, root,
      spark.range(1000).select(col("id").as("k"), (col("id") * 2).as("v")))
    graft.etl.TxTable.mergeUpsert(spark,  root,
      spark.range(5).select(col("id").as("k"), (col("id") * 1000).as("v")), "k")
    graft.etl.TxTable.compact(spark, root, targetBytes = 2048, clusterBy = Seq("k"))
    // time travel: version 0 predates the upsert
    val v0 = spark.sql(s"SELECT sum(v) AS s FROM graft_table('$root', 0)")
      .head.getLong(0)
    require(v0 == (0L until 1000L).map(_ * 2).sum, "graft_table time travel")
    val vLatest = spark.sql(s"SELECT sum(v) AS s FROM graft_table('$root')")
      .head.getLong(0)
    require(vLatest == (5L until 1000L).map(_ * 2).sum + (0L until 5L).map(_ * 1000).sum,
      "graft_table latest")
    // pruned range read: the WHERE clause reaches the connector's scan,
    // which skips dirs at the manifest level; Spark applies the exact
    // predicate on top
    val ranged = spark.sql(
      s"SELECT k, v FROM graft_table('$root') WHERE k BETWEEN 100 AND 110 ORDER BY k").collect()
    val droppedDirs = graft.sources.GraftTableSource.lastPrunedDirs.get
    require(droppedDirs > 0, "graft_table WHERE pruned no dirs of the clustered compact")
    require(ranged.length == 11 && ranged.forall(x => x.getLong(1) == 2 * x.getLong(0)),
      "graft_table range")
    require(spark.sql(
      s"SELECT count(*) AS n FROM graft_table('$root') WHERE k BETWEEN 50000 AND 60000")
      .head.getLong(0) == 0, "graft_table all-pruned range")
    // string bounds prune on the DirStrStat records
    val sroot = java.nio.file.Files.createTempDirectory("graft-extprobe-s").toString + "/t"
    graft.etl.TxTable.refresh(spark, sroot, spark.range(3)
      .select(col("id").as("k"), org.apache.spark.sql.functions.lit("en").as("lang")))
    graft.etl.TxTable.setStatsColumns(spark, sroot, Seq("lang"))
    graft.etl.TxTable.append(spark, sroot, spark.range(2)
      .select(col("id").as("k"), org.apache.spark.sql.functions.lit("fr").as("lang")))
    require(spark.sql(
      s"SELECT count(*) AS n FROM graft_table('$sroot') WHERE lang BETWEEN 'en' AND 'en'")
      .head.getLong(0) == 3, "graft_table string bounds")
    val hist = spark.sql(
      s"SELECT version, action FROM graft_table_history('$sroot') ORDER BY version").collect()
    require(hist.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "refresh"), (1L, "setstats"), (2L, "append")), "graft_table_history")
    require(spark.sql(
      s"SELECT count(*) AS n FROM graft_table_stats('$sroot') WHERE kind = 'str_range'")
      .head.getLong(0) == 2, "graft_table_stats")
    // round 19: the name-based catalog + MERGE INTO, end-to-end from
    // bare SQL on this config-only session (no Scala table handles)
    spark.sql("CREATE TABLE graft.probe (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('statsColumns'='k')")
    spark.sql("INSERT INTO graft.probe SELECT id AS k, id * 2 AS v FROM range(100)")
    spark.sql("""MERGE INTO graft.probe t
                |USING (SELECT id AS k, id * 1000 AS v FROM range(5)) s
                |ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    require(spark.sql("SELECT sum(v) AS s FROM graft.probe").head.getLong(0) ==
      (5L until 100L).map(_ * 2).sum + (0L until 5L).map(_ * 1000).sum,
      "catalog MERGE INTO")
    require(spark.sql("SELECT count(*) AS n FROM graft.probe VERSION AS OF 1")
      .head.getLong(0) == 100, "catalog VERSION AS OF")
    require(spark.sql("SHOW TABLES IN graft").collect()
      .exists(_.getString(1) == "probe"), "catalog SHOW TABLES")
    // DELETE (scoped rewrite) + the maintenance procedures
    spark.sql("DELETE FROM graft.probe WHERE k >= 90 AND k <= 99")
    require(spark.sql("SELECT count(*) AS n FROM graft.probe").head.getLong(0) == 90,
      "catalog DELETE range")
    val cpv = spark.sql("CALL graft.system.compact(table => 'probe')").collect()
    require(cpv.length == 1 && cpv.head.getLong(0) > 0, "CALL compact")
    require(spark.sql("SELECT count(*) AS n FROM graft.probe").head.getLong(0) == 90,
      "compact preserved rows")
    spark.sql("UPDATE graft.probe SET v = v + 1 WHERE k IN (0, 1)")
    require(spark.sql("SELECT sum(v) AS s FROM graft.probe WHERE k < 2")
      .head.getLong(0) == 1002L, "catalog UPDATE") // 0*1000+1 + 1*1000+1
    println(s"extensions-probe OK: ${r.length} vectors, ${chunks.length} chunks, " +
      s"${pk.length} probe-key rows, ${sh.head.getSeq[String](0).length} shingles, " +
      s"txtable TVFs green ($droppedDirs dirs pruned), catalog+MERGE green")
    spark.stop()
  }
}
