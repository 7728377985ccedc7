package graft.sources

import graft.etl.TxTable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftParquetBridge, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{expressions => ce}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `spark.read.format("graft")` / `df.write.format("graft")` — the
  * [[TxTable]] format as a first-class Spark data source, so the table
  * format's transactional reads, time travel, and manifest-level data
  * skipping are reachable from the standard reader/writer API (and from
  * `CREATE TABLE ... USING graft` paths that resolve through
  * `DataSourceRegister`), not just the Scala `TxTable` calls and the
  * `graft_table(...)` SQL table functions.
  *
  * Read path (DSv2 [[TableProvider]], the default):
  *  - `load()` resolves a [[GraftTable]] whose snapshot VERSION is
  *    pinned at table resolution (`versionAsOf` option, default
  *    latest), so one DataFrame is one consistent snapshot however
  *    many actions/retries scan it;
  *  - Catalyst pushes the query's conjunctive filters into the
  *    [[GraftScanBuilder]]; the connector translates range-expressible
  *    ones (=, <, <=, >, >=, IN, prefix, and AND-combinations) into
  *    per-column [lo, hi] ranges / point sets and prunes
  *    non-overlapping data dirs at the MANIFEST level via
  *    [[TxTable.pruneSnapshot]] — whole directories are skipped before
  *    Spark ever lists a file, the Delta-paper read path, driven by
  *    the WHERE clause;
  *  - the kept dirs are then scanned by Spark's OWN vectorized parquet
  *    `Scan` (built via [[GraftParquetBridge.parquetScan]]) with the
  *    translatable filters pushed into it — so the plan is a columnar
  *    `BatchScan ParquetScan` inside whole-stage codegen, with parquet
  *    row-group skipping and column pruning engaged below the
  *    manifest-level dir skip. No `RDD[Row]` boundary: connector reads
  *    cost the same as direct parquet reads of the kept dirs;
  *  - every pushed filter is also RETURNED as a residual from
  *    `pushFilters`, so Spark re-applies the exact predicates on top —
  *    pruning can only SKIP work, never change a result, whatever the
  *    translation does.
  *
  * DSv1 fallback: the same class still implements `RelationProvider`
  * (a `PrunedFilteredScan` over the same [[GraftTableSource.keptDirs]]
  * prune), selected for batch reads by adding `graft` to
  * `spark.sql.sources.useV1SourceList` — the standard per-source V1
  * escape hatch; there is no V1 streaming source. `CREATE TEMPORARY VIEW ...
  * USING graft` always resolves through the V1 relation (Spark's
  * `CreateTempViewUsing` is a V1 path); such a view pins its snapshot
  * AND schema at view creation — later commits, including the view's
  * own `INSERT INTO`, are invisible until the view is re-created
  * (re-issue `CREATE OR REPLACE TEMPORARY VIEW`, or use
  * `graft_table(path)` which resolves per query). This mirrors the
  * pinned-DataFrame contract and is spec-pinned.
  *
  * Write path (`CreatableRelationProvider` — the V2 table deliberately
  * does not implement `SupportsWrite`, so `df.write` falls back to this
  * V1 path and its SaveMode contract): SaveMode.Append →
  * [[TxTable.append]] (a transactional commit, racing writers
  * serialize); Overwrite → [[TxTable.refresh]] (full-replace commit,
  * history kept — time travel still reads every prior version);
  * ErrorIfExists/Ignore follow their SaveMode contracts. Option
  * `evolve=true` permits a schema change (the table contract's
  * enforcement/evolution split). Options `statsColumns` /
  * `bloomColumns` (comma-separated) declare the table's data-skipping
  * columns, so a connector-only user gets skipping without Scala calls:
  * a write that creates the table declares them in its own commit
  * (version 0 carries the stats its write observed and the Bloom
  * filters of its dir); on an existing table that declares other
  * columns, [[TxTable.setStatsColumns]]/[[TxTable.setBloomColumns]]
  * re-declare them after the data commit.
  *
  * Streaming: `readStream.format("graft")` plans the table's
  * `MICRO_BATCH_READ` capability, the DSv2 [[GraftMicroBatchStream]] —
  * the one tailing engine, for path and name-based reads alike; the
  * streaming sink is [[GraftTableSink]] (`writeStream`).
  *
  * Options: `path` (required), `versionAsOf` (read; default latest),
  * `evolve`, `statsColumns`, `bloomColumns` (write).
  */
class GraftTableSource extends TableProvider
    with RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft source requires a path: spark.read.format(\"graft\").load(path)"))

  // --- DSv2 read path ---

  /** Schema probe. A nonexistent table reports an empty schema instead
    * of throwing: `df.write.format("graft")` on a fresh path probes the
    * provider for a table before falling back to the V1 write path, and
    * that first write must succeed. Reads of a nonexistent table fail
    * at scan build with the TxTable error. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft source requires a path: spark.read.format(\"graft\").load(path)"))
    val version = Option(options.get("versionAsOf")).map(_.trim.toLong).getOrElse(-1L)
    if (!TxTable.exists(root)) new StructType()
    else GraftTableSource.schemaOf(SparkSession.active, root,
      TxTable.snapshot(root, version))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val root = Option(opts.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft source requires a path"))
    val version = Option(opts.get("versionAsOf")).map(_.trim.toLong).getOrElse(-1L)
    // resolve `latest` NOW so the pinned version is part of the table's
    // case-class IDENTITY (cache-aliasing hazard — see
    // [[GraftTableSource.resolveVersion]])
    GraftTable(root, GraftTableSource.resolveVersion(root, version))
  }

  // --- DSv1 fallback read + the write path ---

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val root = pathOf(parameters)
    val version = parameters.get("versionAsOf").map(_.trim.toLong).getOrElse(-1L)
    GraftTableRelation(sqlContext, root, GraftTableSource.resolveVersion(root, version))
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val root = pathOf(parameters)
    val evolve = parameters.get("evolve").exists(_.trim.toBoolean)
    val spark = data.sparkSession
    def cols(key: String): Seq[String] = parameters.get(key).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val (stats, blooms) = (cols("statsColumns"), cols("bloomColumns"))
    val wrote: Boolean = mode match {
      case SaveMode.Append =>
        TxTable.appendDeclaring(spark, root, data, evolve, stats, blooms); true
      case SaveMode.Ignore if TxTable.exists(root) => false
      case _ => // Overwrite, ErrorIfExists, Ignore on a new table
        if (mode == SaveMode.ErrorIfExists && TxTable.exists(root))
          throw new IllegalStateException(
            s"graft table at $root already exists (SaveMode.ErrorIfExists)")
        TxTable.refreshDeclaring(spark, root, data, evolve, stats, blooms); true
    }
    // a write that created the table declared the columns in its own
    // commit; on a table that declares others, re-declare AFTER the data
    // commit: setStats/setBloom backfill every dir that lacks them (dirs
    // are immutable, so backfilled stats are exact)
    if (wrote) {
      val s = TxTable.snapshot(root)
      if (stats.nonEmpty && s.statsCols != stats) TxTable.setStatsColumns(spark, root, stats)
      if (blooms.nonEmpty && s.bloomCols != blooms) TxTable.setBloomColumns(spark, root, blooms)
    }
    GraftTableRelation(sqlContext, root, GraftTableSource.resolveVersion(root, -1L))
  }

  // --- streaming write (writeStream.format("graft")): see GraftTableSink ---

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    import org.apache.spark.sql.streaming.OutputMode
    val mergeKey = parameters.get("mergeKey").map(_.split(',').map(_.trim)
      .filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
    require(outputMode != OutputMode.Update() || mergeKey.nonEmpty,
      "graft sink in Update mode needs the upsert key: set " +
        "option(\"mergeKey\", \"k1,k2\") — each batch's rows then MERGE " +
        "by key through the txn ledger (exactly-once across replays)")
    // partitionBy would be silently dropped — the txn-append path
    // writes whole-table entries only; fail loudly like Update does
    require(partitionColumns.isEmpty,
      "graft sink does not lay out partitionBy columns — for a " +
        "partition-scoped table use foreachBatch with mergeUpsertPartitioned")
    // Writer identity for the txn ledger. ONLY identity-stable inputs
    // are accepted: an explicit appId, an explicit checkpointLocation
    // option, or the session-conf checkpoint root PLUS queryName (the
    // engine checkpoints a named query at <root>/<queryName>). The bare
    // conf root alone is REJECTED: the engine checkpoints each such
    // query under a fresh random UUID subdir, so two queries (or two
    // runs) would share one appId while their batchIds describe
    // different rows — appendIdempotent would then silently drop
    // non-duplicate batches (r17 advisor).
    val appId = parameters.get("appId").getOrElse {
      parameters.get("checkpointLocation").map(GraftTableSource.normalizeCheckpoint)
        .orElse(sqlContext.sparkSession.conf
          .getOption("spark.sql.streaming.checkpointLocation")
          .flatMap(root => parameters.get("queryName")
            .map(q => s"${GraftTableSource.normalizeCheckpoint(root)}/$q")))
        .getOrElse(throw new IllegalArgumentException(
          "graft sink needs a stable writer identity for idempotent " +
            "commits: set option(\"appId\", ...), or " +
            "option(\"checkpointLocation\", ...), or queryName(...) " +
            "together with spark.sql.streaming.checkpointLocation (the " +
            "bare conf root is not unique per query — the engine " +
            "checkpoints unnamed queries under a random subdir)"))
    }.replace(']', '_') // appendIdempotent rejects ']' (manifest encoding)
    GraftTableSink(sqlContext, pathOf(parameters), appId, outputMode, mergeKey)
  }
}

/** One pinned-version TxTable snapshot as a DSv2 table. The V2 surface
  * exists for the READ plan, where it scans through Spark's vectorized
  * parquet `BatchScan` instead of a DSv1 `RDD[Row]` boundary. Writes
  * declare `V1_BATCH_WRITE` (not `BATCH_WRITE`): SQL DML (`INSERT
  * INTO` / `INSERT OVERWRITE` on a `USING graft` view, which resolves
  * as a V2 relation) plans through [[newWriteBuilder]]'s `V1Write` into
  * the same transactional append/refresh commits, while `df.write`
  * keeps falling back to the V1 `CreatableRelationProvider` SaveMode
  * path (ErrorIfExists/Ignore semantics, skip-column options);
  * `readStream` plans [[GraftMicroBatchStream]] through the scan, and
  * `writeStream` falls back to the V1 sink. */
final case class GraftTable(root: String, versionAsOf: Long)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.GraftV1FallbackBridge {

  /** Resolved lazily but ONCE per table instance = once per `load()`:
    * the DataFrame is a consistent snapshot — concurrent commits after
    * DataFrame creation are invisible to it, and versionAsOf time
    * travel is just pinning a different number. */
  private lazy val snap: TxTable.Snapshot = TxTable.snapshot(root, versionAsOf)

  override def name(): String =
    if (versionAsOf >= 0) s"graft.`$root`@v$versionAsOf" else s"graft.`$root`"

  override def schema(): StructType =
    if (!TxTable.exists(root)) new StructType()
    else GraftTableSource.schemaOf(SparkSession.active, root, snap)

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  /** Streaming-WRITE-by-name bridge: `df.writeStream.format("graft")
    * .toTable("graft.ns.t")` dispatches on `V2TableWithV1Fallback` and
    * lands in the existing transactional V1 sink ([[GraftTableSink]])
    * with `path` taken from this CatalogTable's location — identical
    * idempotent-commit semantics (appId/mergeKey options flow through
    * the writer untouched). Streaming READS never consult this: the
    * table declares MICRO_BATCH_READ, so `readStream.table` plans the
    * native DSv2 [[GraftMicroBatchStream]]. The location URI is
    * deliberately SCHEME-LESS (a bare path) because the whole engine
    * addresses tables by plain filesystem path. */
  override protected def graftV1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        new java.io.File(root).getName),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new java.net.URI(null, null, root, null))),
      schema = schema(),
      provider = Some("graft"))
  }

  /** Surface the table's transactional state in `DESCRIBE EXTENDED` /
    * catalog listings: the pinned snapshot version, its action, and
    * the declared data-skipping columns (the properties a user would
    * otherwise need the `graft_table_history`/`graft_table_stats`
    * TVFs to see). */
  override def properties(): java.util.Map[String, String] =
    if (!TxTable.exists(root)) java.util.Collections.emptyMap()
    else {
      val m = new java.util.HashMap[String, String]()
      m.put("version", snap.version.toString)
      m.put("action", snap.action)
      m.put("data_dirs", snap.dirs.length.toString)
      if (snap.statsCols.nonEmpty) m.put("statsColumns", snap.statsCols.mkString(","))
      if (snap.bloomCols.nonEmpty) m.put("bloomColumns", snap.bloomCols.mkString(","))
      m
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(SparkSession.active, root, snap, schema(), options)

  /** SQL `DELETE FROM` (round 19, riding the catalog's name
    * resolution): accepted when the WHERE clause maps onto one of the
    * table format's scoped-rewrite delete primitives — a point/IN set
    * on one column ([[TxTable.deleteKeys]], bloom/stat-pruned), a
    * closed numeric range on one column ([[TxTable.deleteRange]];
    * strict bounds accepted for integral values by tightening ±1), or
    * no condition at all (truncate = a full-replace commit of the
    * empty table — history stays time-travelable). Everything else
    * reports `canDeleteWhere = false`, which Spark surfaces as the
    * loud "cannot delete" analysis error: silently rewriting the whole
    * table for an arbitrary predicate would hide an O(table) cost
    * behind a one-liner, the opposite of the format's scoped-rewrite
    * contract (use the Scala API's explicit forms for exotic shapes).
    * Deletes are scoped rewrites: only dirs whose skipping stats match
    * are rewritten, everything else is carried by reference. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    GraftTable.deletePlan(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit =
    GraftTable.deletePlan(filters) match {
      case Some(GraftTable.DeleteKeys(c, vs)) =>
        TxTable.deleteKeys(SparkSession.active, root, c, vs): Unit
      case Some(GraftTable.DeleteRange(c, lo, hi)) =>
        TxTable.deleteRange(SparkSession.active, root, c, lo, hi): Unit
      case Some(GraftTable.Truncate) =>
        val spark = SparkSession.active
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema())
        TxTable.refresh(spark, root, empty): Unit
      case None => throw new UnsupportedOperationException(
        s"graft DELETE supports a point/IN set or a closed numeric " +
          s"range on one column, or an unconditioned truncate — got " +
          s"${filters.mkString(", ")}")
    }

  /** SQL DML entry (INSERT INTO → append; INSERT OVERWRITE → truncate →
    * refresh): a `V1Write` handing Spark the transactional
    * `InsertableRelation`, so DML lands as the same manifest commits as
    * every other write path. */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: DataFrame, overwriteFlag: Boolean): Unit =
                if (overwrite || overwriteFlag)
                  TxTable.refresh(data.sparkSession, root, data)
                else TxTable.append(data.sparkSession, root, data)
            }
        }
    }
}

/** Scan builder: receives Catalyst's pushed filters and required
  * columns, prunes data dirs at the manifest level, then delegates the
  * kept dirs to Spark's own vectorized parquet scan with the same
  * filters pushed (row-group skipping below the dir skip). All filters
  * are returned as residuals — Spark re-applies the originals, so the
  * connector can only skip work, never change a result. */
final class GraftScanBuilder(spark: SparkSession, root: String,
                             snap: TxTable.Snapshot, tableSchema: StructType,
                             options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  // READ OPTIONS on a name-based scan cannot re-pin the snapshot (the
  // catalog pinned it at loadTable) — silently serving LATEST to a
  // reader that asked for `option("versionAsOf", 3)` would be a wrong
  // result, so mismatches fail loudly with the SQL spelling that works.
  // Path-based reads resolve the same option in getTable, so there the
  // values always agree.
  Option(options.get("versionAsOf")).map(_.trim.toLong).foreach { v =>
    require(v == snap.version,
      s"graft read option versionAsOf=$v does not match the loaded " +
        s"table snapshot (version ${snap.version}) — for name-based " +
        "time travel use SQL `VERSION AS OF`, or load by path: " +
        "spark.read.format(\"graft\").option(\"versionAsOf\", ...)")
  }
  require(!options.containsKey("timestampAsOf"),
    "graft does not take a timestampAsOf read option — use SQL " +
      "`TIMESTAMP AS OF` on a catalog table name (silently ignoring " +
      "the option would time-travel to the wrong snapshot)")

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema
  private var aggScan: Option[Scan] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all residual: Spark re-applies the exact predicates
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Aggregate pushdown (COUNT/MIN/MAX answered from parquet footer
    * metadata — no data pages read for a whole-table `count(*)` or
    * `min/max(col)`, the Delta "answer from stats" property): accepted
    * only for FILTER-LESS scans — this connector reports every filter
    * as residual, and Spark only pushes aggregates when no residual
    * filter remains, so a filtered query can never reach a pushed
    * aggregate here; when filter-less, ALL snapshot dirs are in scope
    * (nothing to prune) and the aggregation delegates to the parquet
    * builder, gated by the same `spark.sql.parquet.aggregatePushdown`
    * conf as native parquet reads. Per-split partial results only
    * (Spark plans its final merge on top), so `supportCompletePushDown`
    * stays false — exactly the parquet contract. */
  override def pushAggregation(aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (pushed.nonEmpty) return false
    aggScan = GraftParquetBridge.parquetAggScan(spark,
      snap.dirs.map(d => s"$root/$d"), tableSchema, aggregation)
    aggScan.isDefined
  }

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  override def build(): Scan = aggScan.getOrElse(
    new GraftScan(spark, root, snap, tableSchema, required, pushed, options))
}

/** The connector's Scan: manifest-level dir pruning + delegation to
  * Spark's vectorized parquet scan, with RUNTIME re-pruning — the
  * dynamic-file-pruning shape. `SupportsRuntimeFiltering` declares the
  * snapshot's stats/bloom columns as filterable; when this scan sits on
  * the probe side of a broadcast join keyed on one of them, Spark
  * passes the build side's key values as an `In(...)` filter at
  * EXECUTION time and [[filter]] re-prunes the dir list through the
  * same three stat families before any file is read — a dimension-table
  * join prunes the fact table's dirs by join key, not just by WHERE
  * clause. Runtime filters can only SKIP (the join re-applies its exact
  * condition), so correctness is unchanged by construction.
  *
  * `readSchema` is pinned to the PLANNED inner scan's schema (column
  * order must match the rows the reader factory emits); runtime
  * filtering only shrinks the dir list, never the schema. */
final class GraftScan(spark: SparkSession, root: String,
                      snap: TxTable.Snapshot, tableSchema: StructType,
                      required: StructType, pushed: Array[Filter],
                      options: CaseInsensitiveStringMap =
                        CaseInsensitiveStringMap.empty())
    extends Scan with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}

  private var runtimeFilters: Array[Filter] = Array.empty
  @volatile private var cachedInner: Scan = null

  private def buildInner(): Scan = {
    val kept = GraftTableSource.keptDirs(root, snap, pushed ++ runtimeFilters)
    val attrs = tableSchema.fields
      .map(f => f.name -> ce.AttributeReference(f.name, f.dataType, f.nullable)())
      .toMap
    // only the STATIC filters push into parquet row groups: runtime In
    // lists can be huge (a join side's distinct keys) and the join
    // re-applies its exact condition anyway — dir-level skipping is the
    // win worth taking at execution time
    val catalyst = pushed.toIndexedSeq
      .flatMap(f => GraftTableSource.toCatalyst(f, attrs))
    GraftParquetBridge.parquetScan(spark, kept.map(d => s"$root/$d"),
      tableSchema, required, catalyst)
  }

  private def inner: Scan = {
    var s = cachedInner
    if (s == null) { s = buildInner(); cachedInner = s }
    s
  }

  /** Planned once, BEFORE any runtime filter: the output column order
    * the reader factory will emit. */
  private val plannedSchema: StructType = inner.readSchema()

  override def readSchema(): StructType = plannedSchema
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  /** The DSv2 streaming read: `spark.readStream.table("graft.ns.t")`
    * and `readStream.format("graft").load(path)` both
    * land here — reader options (`startingVersion`, `ignoreChanges`,
    * `maxVersionsPerBatch`) flow through this scan's options. The
    * micro-batch stream tails LATEST, not this scan's pinned snapshot —
    * streams follow the log, snapshots pin reads. */
  override def toMicroBatchStream(checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(spark, root, tableSchema, options, checkpointLocation)
  override def planInputPartitions(): Array[InputPartition] =
    inner.toBatch.planInputPartitions()
  override def createReaderFactory(): PartitionReaderFactory =
    inner.toBatch.createReaderFactory()

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (snap.statsCols ++ snap.bloomCols).distinct
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(filters: Array[Filter]): Unit = {
    runtimeFilters = filters
    cachedInner = null // re-prune against the runtime keys
  }

  override def description(): String = {
    val rt = if (runtimeFilters.isEmpty) ""
      else s", RuntimeFilters: ${runtimeFilters.mkString("[", ", ", "]")}"
    s"graft root=$root version=${snap.version} " +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}$rt -> ${inner.description()}"
  }
}

/** One pinned-version snapshot of a TxTable as a DSv1 relation — the
  * `useV1SourceList` fallback read path, and the resolution target for
  * `CREATE TEMPORARY VIEW ... USING graft` (always V1 in Spark) and for
  * SQL DML: `InsertableRelation` makes `INSERT INTO` / `INSERT
  * OVERWRITE` on such a view a transactional append/refresh commit.
  * The view (like any loaded DataFrame) is a PINNED snapshot: its own
  * INSERTs are invisible to it until re-created — spec-pinned. */
final case class GraftTableRelation(sqlContext: SQLContext, root: String,
                                    versionAsOf: Long)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  override def insert(data: DataFrame, overwrite: Boolean): Unit =
    if (overwrite) TxTable.refresh(sqlContext.sparkSession, root, data)
    else TxTable.append(sqlContext.sparkSession, root, data)

  private val spark: SparkSession = sqlContext.sparkSession
  /** Resolved ONCE: the relation is a consistent snapshot — concurrent
    * commits after DataFrame creation are invisible to it (and every
    * prior version stays readable, so versionAsOf time travel is just
    * pinning a different number). */
  private val snap = TxTable.snapshot(root, versionAsOf)

  override val schema: StructType = GraftTableSource.schemaOf(spark, root, snap)

  /** All filters stay Spark's responsibility — the connector uses them
    * only to SKIP dirs/row-groups, never to claim exactness. */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val kept = GraftTableSource.keptDirs(root, snap, filters)
    val base =
      if (kept.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else // explicit schema: uniform column order/types across dirs
        spark.read.schema(schema).parquet(kept.map(d => s"$root/$d"): _*)
    // re-apply translatable predicates INSIDE the scan plan so parquet
    // row-group stats skip below the manifest-level dir skip (Spark
    // re-applies the exact originals on top regardless — see
    // unhandledFilters)
    val filtered = filters.flatMap(GraftTableSource.toColumn)
      .foldLeft(base)((df, c) => df.filter(c))
    val projected =
      if (requiredColumns.isEmpty) filtered.select()
      else filtered.select(requiredColumns.map(col).toIndexedSeq: _*)
    projected.rdd
  }
}

object GraftTable {
  sealed trait DeleteAction
  final case class DeleteKeys(column: String, values: Seq[Any]) extends DeleteAction
  final case class DeleteRange(column: String, lo: Double, hi: Double) extends DeleteAction
  case object Truncate extends DeleteAction

  private def integral(v: Any): Option[Long] = v match {
    case b: Byte  => Some(b.toLong)
    case s: Short => Some(s.toLong)
    case i: Int   => Some(i.toLong)
    case l: Long  => Some(l)
    case _        => None
  }

  /** The bound value as a Double ONLY when the conversion is exact —
    * the delete/update surface promises exact row sets, so a BIGINT
    * bound at/above 2^53 (where doubleValue() rounds) must be REFUSED,
    * not silently shifted onto neighboring keys (r19 reviewer). The
    * Long.MaxValue exclusion guards toDouble's saturation trap:
    * Long.MaxValue.toDouble is 2^63, whose toLong saturates BACK to
    * Long.MaxValue and fakes a round-trip. */
  private[graft] def exactDouble(v: Any): Option[Double] = v match {
    case b: Byte   => Some(b.toDouble)
    case s: Short  => Some(s.toDouble)
    case i: Int    => Some(i.toDouble)
    case l: Long   =>
      Some(l.toDouble).filter(d => l != Long.MaxValue && d.toLong == l)
    case f: Float  => Some(f.toDouble)
    case d: Double => Some(d)
    case b: java.math.BigDecimal =>
      val d = b.doubleValue()
      Some(d).filter(x => !x.isInfinite &&
        new java.math.BigDecimal(x).compareTo(b) == 0)
    case b: BigDecimal => exactDouble(b.bigDecimal)
    case _ => None
  }

  /** `col > v` tightened to `col >= v + 1` — None when the increment
    * overflows Long or the tightened bound has no exact Double (refuse
    * rather than approximate; `> Long.MaxValue` matches nothing but is
    * so degenerate a loud refusal is the clearer contract). */
  private[graft] def strictLower(l: Long): Option[Double] =
    if (l == Long.MaxValue) None else exactDouble(l + 1)

  /** `col < v` tightened to `col <= v - 1`; the mirror of [[strictLower]]. */
  private[graft] def strictUpper(l: Long): Option[Double] =
    if (l == Long.MinValue) None else exactDouble(l - 1)

  /** The delete plan a filter conjunction maps onto, or None (= reject
    * loudly). Exactness matters: the plan must delete EXACTLY the
    * matching rows — so strict bounds are only tightened for integral
    * values (where `> v` ≡ `>= v + 1`), and any shape this cannot
    * represent exactly is refused rather than approximated. */
  private[graft] def deletePlan(filters: Array[Filter]): Option[DeleteAction] = {
    // `DELETE FROM t` (no WHERE) arrives as [AlwaysTrue]; the engine's
    // truncateTable() default passes an empty array
    if (filters.isEmpty || filters.sameElements(Array(AlwaysTrue)))
      return Some(Truncate)
    // all conjuncts must speak about ONE column
    val refs = filters.flatMap(_.references).distinct
    if (refs.length != 1) return None
    val c = refs.head
    filters match {
      case Array(EqualTo(_, v)) if v != null => Some(DeleteKeys(c, Seq(v)))
      case Array(In(_, vs)) if vs.nonEmpty && vs.forall(_ != null) =>
        Some(DeleteKeys(c, vs.toSeq))
      case _ =>
        // range conjunction: every filter contributes an exact closed
        // bound or the whole delete is refused
        val bounds = filters.map {
          case GreaterThanOrEqual(_, v) => exactDouble(v).map(d => (d, Double.PositiveInfinity))
          case LessThanOrEqual(_, v)    => exactDouble(v).map(d => (Double.NegativeInfinity, d))
          case GreaterThan(_, v)        => integral(v).flatMap(strictLower).map(d => (d, Double.PositiveInfinity))
          case LessThan(_, v)           => integral(v).flatMap(strictUpper).map(d => (Double.NegativeInfinity, d))
          case _                        => None
        }
        if (bounds.exists(_.isEmpty)) None
        else {
          val bs = bounds.flatten
          Some(DeleteRange(c, bs.map(_._1).max, bs.map(_._2).min))
        }
    }
  }
}

object GraftScan {
  /** Largest IN-list the per-dir Bloom probe will evaluate (runtime
    * join keys can number millions; ranges handle those instead). */
  private[graft] val MaxBloomProbeValues = 10000
}

object GraftTableSource {

  /** Last scan's manifest-level skip counts (test/probe observability,
    * same role as TxTable's resolution counters), set by [[keptDirs]]. */
  private[graft] val lastKeptDirs = new java.util.concurrent.atomic.AtomicInteger
  private[graft] val lastPrunedDirs = new java.util.concurrent.atomic.AtomicInteger

  /** The snapshot's dirs a conjunction of filters can match — the one
    * filter-to-prune translation of both batch scans (the DSv2
    * [[GraftScan]] and the DSv1 [[GraftTableRelation]]): numeric ranges,
    * string ranges and Bloom point sets into [[TxTable.pruneSnapshot]].
    * Bloom point-probing is per-value-per-dir, and a runtime join side
    * can carry millions of distinct keys, where probing costs more than
    * it saves: a point set past [[GraftScan.MaxBloomProbeValues]] is
    * dropped (that only KEEPS more dirs, always sound; the min/max
    * ranges still prune from the same IN list at any size). */
  private[graft] def keptDirs(root: String, snap: TxTable.Snapshot,
                              filters: Array[Filter]): Seq[String] = {
    val points = conjunctivePoints(filters).filter(_._2.length <= GraftScan.MaxBloomProbeValues)
    val (kept, pruned) = TxTable.pruneSnapshot(root, snap,
      conjunctiveRanges(filters), conjunctiveStrRanges(filters), points)
    lastKeptDirs.set(kept.length)
    lastPrunedDirs.set(pruned)
    kept
  }

  /** Pin `latest` to a concrete version at relation/table CREATION
    * (O(1) hinted discovery), so the pinned version participates in the
    * relation's case-class equality — Spark's cache manager matches
    * plans by relation equality, and two loads straddling a commit must
    * not alias each other's cached data. -1 survives only for a
    * not-yet-created table (the write-path probe). */
  private[graft] def resolveVersion(root: String, versionAsOf: Long): Long =
    if (versionAsOf >= 0) versionAsOf else TxTable.latestVersion(root)

  /** The snapshot's schema: the manifest's recorded DDL when the schema
    * contract is active, else inferred from the snapshot's parquet. */
  private[graft] def schemaOf(spark: SparkSession, root: String,
                              snap: TxTable.Snapshot): StructType =
    if (snap.schemaDdl.nonEmpty) StructType.fromDDL(snap.schemaDdl)
    else spark.read.parquet(snap.dirs.map(d => s"$root/$d"): _*).schema

  /** Writer-identity normalization for the sink's txn-ledger appId.
    * LOCAL paths (no scheme, or file:) absolutize + normalize, so a
    * cosmetic respelling across restarts ('ckpt' vs './ckpt/') cannot
    * change the identity and un-record the replay high-water mark.
    * Scheme'd URIs (hdfs://, s3a://, ...) pass through verbatim minus
    * trailing slashes — resolving them against the driver's CWD would
    * silently change the identity when the CWD changes (r17 advisor). */
  private[graft] def normalizeCheckpoint(p: String): String = {
    val trimmed = p.replaceAll("/+$", "")
    val scheme = "^[a-zA-Z][a-zA-Z0-9+.\\-]*:".r.findFirstIn(trimmed)
    scheme match {
      case Some(s) if s.equalsIgnoreCase("file:") =>
        try java.nio.file.Paths.get(new java.net.URI(trimmed).getPath)
          .toAbsolutePath.normalize.toString
        catch { case _: Exception =>
          try java.nio.file.Paths.get(trimmed.stripPrefix("file:"))
            .toAbsolutePath.normalize.toString
          catch { case _: Exception => trimmed } }
      case Some(_) => trimmed // remote URI: identity is the URI itself
      case None =>
        try java.nio.file.Paths.get(trimmed).toAbsolutePath.normalize.toString
        catch { case _: Exception => trimmed }
    }
  }

  private def num(v: Any): Option[Double] = v match {
    case n: Number => Some(n.doubleValue())
    case _         => None // strings/dates/etc: no range translation
  }

  /** Per-column [lo, hi] ranges implied by a CONJUNCTION of pushed
    * filters (Spark splits top-level AND into array elements; nested
    * And recurses; Or/Not and non-numeric comparisons contribute
    * nothing — sound, they just don't prune). Open bounds (>, <) are
    * widened to closed — also sound for skipping. Multiple constraints
    * on one column intersect. */
  private[graft] def conjunctiveRanges(filters: Array[Filter]): Map[String, (Double, Double)] = {
    def one(f: Filter): Seq[(String, Double, Double)] = f match {
      case EqualTo(a, v)            => num(v).map(d => (a, d, d)).toSeq
      case GreaterThan(a, v)        => num(v).map(d => (a, d, Double.PositiveInfinity)).toSeq
      case GreaterThanOrEqual(a, v) => num(v).map(d => (a, d, Double.PositiveInfinity)).toSeq
      case LessThan(a, v)           => num(v).map(d => (a, Double.NegativeInfinity, d)).toSeq
      case LessThanOrEqual(a, v)    => num(v).map(d => (a, Double.NegativeInfinity, d)).toSeq
      case In(a, vs) =>
        val ds = vs.toSeq.flatMap(num)
        // every member must translate, else the range could miss rows
        if (ds.nonEmpty && ds.length == vs.length) Seq((a, ds.min, ds.max)) else Nil
      case And(l, r) => one(l) ++ one(r)
      case _         => Nil
    }
    filters.flatMap(one).groupBy(_._1).map { case (c, cs) =>
      c -> (cs.map(_._2).max, cs.map(_._3).min)
    }
  }

  /** String-typed counterpart of [[conjunctiveRanges]] — [lo, hi]
    * bounds in code-point order against the sidecar's
    * [[TxTable.DirStrStat]] records, hi = None meaning unbounded above
    * (no finite string bounds a `>` predicate — a "biggest string"
    * sentinel would be unsound). `StringStartsWith(p)` translates to
    * [p, increment(p)]: every string with prefix p sorts inside that
    * range (the same increment rule the stat writer's max truncation
    * uses; an un-incrementable prefix keeps the sound lower bound).
    * Open bounds widen to closed; Or/Not contribute nothing — all
    * sound, they just don't prune. */
  private[graft] def conjunctiveStrRanges(filters: Array[Filter]): Map[String, (String, Option[String])] = {
    def str(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case _         => None
    }
    def one(f: Filter): Seq[(String, String, Option[String])] = f match {
      case EqualTo(a, v)            => str(v).map(s => (a, s, Some(s))).toSeq
      case GreaterThan(a, v)        => str(v).map(s => (a, s, None)).toSeq
      case GreaterThanOrEqual(a, v) => str(v).map(s => (a, s, None)).toSeq
      case LessThan(a, v)           => str(v).map(s => (a, "", Some(s))).toSeq
      case LessThanOrEqual(a, v)    => str(v).map(s => (a, "", Some(s))).toSeq
      case StringStartsWith(a, p) if p.nonEmpty =>
        Seq((a, p, TxTable.strIncrement(p)))
      case In(a, vs) =>
        val ss = vs.toSeq.flatMap(str)
        if (ss.nonEmpty && ss.length == vs.length)
          Seq((a, ss.min(TxTable.strOrdering), Some(ss.max(TxTable.strOrdering))))
        else Nil
      case And(l, r) => one(l) ++ one(r)
      case _         => Nil
    }
    filters.flatMap(one).groupBy(_._1).map { case (c, cs) =>
      val lo = cs.map(_._2).max(TxTable.strOrdering)
      val his = cs.flatMap(_._3)
      val hi = if (his.isEmpty) None else Some(his.min(TxTable.strOrdering))
      c -> (lo, hi)
    }
  }

  /** Per-column candidate-value POINT sets implied by a conjunction of
    * EqualTo/In filters — the shape the per-dir Bloom filters prune
    * (high-cardinality keys where every dir's min/max range spans the
    * whole key space). Multiple point conjuncts on one column
    * intersect; an empty intersection (contradictory predicate) prunes
    * every filtered dir, which is sound — no row satisfies it. */
  private[graft] def conjunctivePoints(filters: Array[Filter]): Map[String, Seq[Any]] = {
    // only the exact types the Bloom builder hashes
    // (TxTable.bloomHashable — ONE definition, shared with the prune
    // side so the whitelists cannot drift apart): a Double/Decimal
    // value would truncate through Number.longValue in mightContain —
    // a false NEGATIVE, i.e. an unsound prune. Anything else simply
    // doesn't bloom-prune.
    def one(f: Filter): Seq[(String, Set[Any])] = f match {
      case EqualTo(a, v) if TxTable.bloomHashable(v) => Seq((a, Set(v)))
      case In(a, vs) if vs.nonEmpty && vs.forall(TxTable.bloomHashable) =>
        Seq((a, vs.toSet))
      case And(l, r) => one(l) ++ one(r)
      case _         => Nil
    }
    filters.flatMap(one).groupBy(_._1).map { case (c, cs) =>
      c -> cs.map(_._2).reduce(_ intersect _).toSeq
    }
  }

  /** Filter → Column for re-application inside the DSv1 parquet scan
    * plan. Partial on purpose: an untranslated filter is simply not
    * pushed (Spark applies the original on top either way). */
  private[graft] def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r)  => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c)    => toColumn(c).map(!_)
    case _         => None
  }

  /** Filter → RESOLVED Catalyst expression against `attrs` (the full
    * table schema's attribute references), for pushing into the
    * delegated DSv2 parquet scan — resolved literals carry the column's
    * type, so parquet row-group predicate conversion sees exactly what
    * a native scan would. Partial + exception-safe on purpose: a filter
    * that doesn't translate is simply not pushed inward (Spark applies
    * the original on top either way). */
  private[graft] def toCatalyst(f: Filter,
                                attrs: Map[String, ce.AttributeReference]): Option[ce.Expression] = {
    def at(n: String): Option[ce.AttributeReference] = attrs.get(n)
    def l(v: Any, dt: DataType): ce.Literal = ce.Literal.create(v, dt)
    def build: Option[ce.Expression] = f match {
      case EqualTo(n, v)            => at(n).map(a => ce.EqualTo(a, l(v, a.dataType)))
      case EqualNullSafe(n, v)      => at(n).map(a => ce.EqualNullSafe(a, l(v, a.dataType)))
      case GreaterThan(n, v)        => at(n).map(a => ce.GreaterThan(a, l(v, a.dataType)))
      case GreaterThanOrEqual(n, v) => at(n).map(a => ce.GreaterThanOrEqual(a, l(v, a.dataType)))
      case LessThan(n, v)           => at(n).map(a => ce.LessThan(a, l(v, a.dataType)))
      case LessThanOrEqual(n, v)    => at(n).map(a => ce.LessThanOrEqual(a, l(v, a.dataType)))
      case In(n, vs)                => at(n).map(a => ce.In(a, vs.toIndexedSeq.map(v => l(v, a.dataType))))
      case IsNull(n)                => at(n).map(ce.IsNull)
      case IsNotNull(n)             => at(n).map(ce.IsNotNull)
      case StringStartsWith(n, v)   => at(n).map(a => ce.StartsWith(a, l(v, a.dataType)))
      case StringEndsWith(n, v)     => at(n).map(a => ce.EndsWith(a, l(v, a.dataType)))
      case StringContains(n, v)     => at(n).map(a => ce.Contains(a, l(v, a.dataType)))
      case And(lf, rf) => for (le <- toCatalyst(lf, attrs); re <- toCatalyst(rf, attrs)) yield ce.And(le, re)
      case Or(lf, rf)  => for (le <- toCatalyst(lf, attrs); re <- toCatalyst(rf, attrs)) yield ce.Or(le, re)
      case Not(c)      => toCatalyst(c, attrs).map(ce.Not)
      case _           => None
    }
    try build catch { case _: Exception => None } // untranslatable value: skip
  }
}
