package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Testdata-drift tripwire. The driver regenerates /root/testdata between
  * rounds and has already changed a physical type once (round 10:
  * `events.ts` went TIMESTAMP(NANOS) → timestamp[us]/TIMESTAMP_NTZ, which
  * silently broke 4 queries and 8 specs at driver-run time). This spec makes
  * the NEXT drift fail ONE targeted test that names the table, column and
  * type, instead of a diffuse downstream breakage.
  *
  * Two layers:
  *  1. every table's RAW physical schema must decode to types the read
  *     paths handle (whitelist per column family);
  *  2. the NORMALISED output of Tables() must present the logical schema
  *     the 77 queries assume (events.ts is session-tz TimestampType, vectors
  *     are array<float/double>, ids are integral).
  */
class TablesSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  test("every table's physical schema dispatches to a supported read path") {
    // types the normalisation layer knows how to handle per column
    def supported(table: String, f: StructField): Boolean = (table, f.name, f.dataType) match {
      // events.ts: the three variants Tables.events normalises
      case ("events", "ts", LongType | TimestampNTZType | TimestampType) => true
      case ("events", "ts", _) => false
      case (_, _, dt) => dt match {
        // TimestampNTZType is fine OUTSIDE events.ts: date-valued columns
        // (l_shipdate, o_orderdate) are consumed via date functions that
        // accept NTZ; only events.ts feeds unix_micros and needs the cast
        case _: IntegerType | _: LongType | _: DoubleType | _: FloatType |
             _: StringType | _: DateType | _: TimestampType | TimestampNTZType |
             _: BooleanType | _: BinaryType | _: DecimalType => true
        case ArrayType(FloatType | DoubleType | StringType | LongType | IntegerType, _) => true
        case _ => false
      }
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // all three SFs: the driver regenerates them together, but a partial
    // regeneration would otherwise slip past a single-SF check
    val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
      .map(sf => s"/root/testdata/$sf")
      .filter(d => new java.io.File(d).isDirectory)
    val offenders = for {
      d <- sfDirs
      t <- Tables.all
      f <- spark.read.parquet(s"$d/$t.parquet").schema.fields
      if !supported(t, f)
    } yield s"$d/$t.${f.name}: ${f.dataType.sql}"
    assert(offenders.isEmpty,
      s"testdata physical schema drifted — unsupported column types: " +
        s"${offenders.mkString("; ")} — add a normalisation arm in Tables")
  }

  test("Tables() presents the logical schema the query suite assumes") {
    val ev = Tables(spark, dir, "events")
    assert(ev.schema("ts").dataType == TimestampType,
      s"events.ts must normalise to TimestampType, got ${ev.schema("ts").dataType}")
    // unix_micros is the canonical downstream consumer that broke in r10;
    // prove it analyses AND yields sane epochs (2020..2030)
    val us = ev.selectExpr("min(unix_micros(ts))", "max(unix_micros(ts))").head
    assert(us.getLong(0) > 1577836800000000L && us.getLong(1) < 1893456000000000L,
      s"events.ts epoch range looks wrong: $us")
    val emb = Tables(spark, dir, "embeddings")
    assert(emb.schema("embedding").dataType.isInstanceOf[ArrayType],
      s"embeddings.embedding must stay an array, got ${emb.schema("embedding").dataType}")
    val docs = Tables(spark, dir, "documents")
    assert(docs.schema("text").dataType == StringType)
    assert(Set[DataType](LongType, IntegerType)
      .contains(Tables(spark, dir, "lineitem").schema("l_orderkey").dataType))
  }

  test("Tables.events fails loudly (not downstream) on an unknown ts type") {
    // simulate the next drift: a double ts column
    val tmp = java.nio.file.Files.createTempDirectory("graft-drift").toString
    spark.range(3).selectExpr("id AS event_id", "CAST(id AS DOUBLE) AS ts")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val e = intercept[IllegalStateException](Tables(spark, tmp, "events"))
    assert(e.getMessage.contains("unsupported physical type"))
    assert(e.getMessage.toLowerCase.contains("double"))
  }

  test("schema memo keeps one entry per path and serves the newest schema after rewrites") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-memo").toString
    val path = s"$tmp/t.parquet"
    val shapes = Seq(
      Seq("id AS a"),
      Seq("id AS a", "CAST(id AS STRING) AS b"),
      Seq("id AS a", "CAST(id AS STRING) AS b", "CAST(id AS DOUBLE) AS c"))
    for (cols <- shapes) {
      spark.range(3).selectExpr(cols: _*).write.mode("overwrite").parquet(path)
      val df = Tables(spark, tmp, "t")
      assert(df.columns.toSeq == cols.map(_.split(" AS ").last),
        s"stale schema served after rewrite: ${df.schema.simpleString}")
      assert(df.count() == 3)
      assert(Tables.schemaCache.keys.count(_.startsWith(path)) == 1,
        s"memo grew per rewrite: ${Tables.schemaCache.keys.filter(_.startsWith(path))}")
    }
  }
}
