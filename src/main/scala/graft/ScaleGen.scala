package graft

import org.apache.spark.sql.functions._

/** Scale-trend data generator: writes an N× replica of a scale-factor
  * directory's documents/embeddings/events tables (the tables the heavy
  * query set touches) so SCALE.md can measure how the heavy queries
  * behave at 10× data — converting the "at 100 TB this ..." design
  * comments into observed trend lines.
  *
  * Replication must NOT manufacture cross-replica near-duplicates —
  * naive copies would make every document 10 exact twins and every LSH
  * bucket 10× deeper, turning a 10× volume test into a 100× pathology
  * test of a different data distribution. Each replica is therefore
  * transformed by a structure-preserving, replica-specific bijection:
  *
  *  - documents: every token gets a replica-unique prefix, with the
  *    original whitespace runs (newlines, paragraph breaks) preserved
  *    verbatim — token counts, intra-replica shingle overlaps, DF
  *    distributions, simhash pair structure AND separator-hierarchy
  *    chunking structure are preserved; shingle sets across replicas
  *    are disjoint. n_chars is recomputed from the prefixed text so it
  *    stays consistent with the text column.
  *  - embeddings: a replica-specific signed permutation of the
  *    dimensions (odd multiplier mod the dim count ⇒ bijection; hashed
  *    sign flips) — an orthogonal transform, so every intra-replica
  *    cosine is preserved EXACTLY while cross-replica similarity is
  *    that of unrelated vectors.
  *  - events: ids and user_ids shifted per replica — 10× users at the
  *    same per-user event density, the shape a 10× day actually has.
  *  - star schema (customer/supplier/part/orders/lineitem): every key is
  *    shifted by a per-replica stride, and foreign keys get the SAME
  *    shift as the primary key they reference, so each replica is a
  *    self-consistent universe (N× customers each with the original
  *    per-customer order density; no cross-replica join matches).
  *    region/nation are written verbatim once: dimension tables stay
  *    fixed while facts grow — exactly what an N× day looks like, and
  *    what keeps the broadcast-dim plans honest at scale.
  *
  * Replica 0 is the identity (the original rows survive verbatim).
  *
  * Usage: ScaleGen <srcSfDir> <outDir> <factor>
  */
object ScaleGen {
  private val TokenRun = """\S+""".r

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1, s"factor must be >= 1, got $factor")
    // reuses an active session (perfbench builds its replica this way):
    // the shuffle-partition count fixes the replica's file layout
    val spark = LocalSession(32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val IdStride = 10000000L
    val EventIdStride = 1000000000L

    // Colliding ids across replicas would silently corrupt every joined
    // result downstream, so refuse any source whose ids reach the stride
    // (a larger source scale factor than the strides were sized for).
    if (factor > 1) {
      def maxOf(table: String, idCol: String): Long =
        Tables(spark, srcDir, table).agg(max(col(idCol))).head.get(0) match {
          case n: Number => n.longValue()
          case other => sys.error(s"unexpected max($idCol) type: $other")
        }
      val bounds = Seq(
        ("documents", "doc_id", IdStride), ("embeddings", "vec_id", IdStride),
        ("events", "user_id", IdStride), ("events", "event_id", EventIdStride),
        ("customer", "c_custkey", IdStride), ("supplier", "s_suppkey", IdStride),
        ("part", "p_partkey", IdStride), ("orders", "o_orderkey", EventIdStride),
        ("lineitem", "l_orderkey", EventIdStride))
      bounds.foreach { case (t, c, stride) =>
        val m = maxOf(t, c)
        require(m < stride, s"max $t.$c = $m >= replica stride $stride; ids would collide")
      }
    }

    val docs = Tables(spark, srcDir, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)]
    val docsOut = (0 until factor).map { i =>
      if (i == 0) docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      else docs.map { case (id, text, lang, source, _) =>
        // prefix each token IN PLACE (whitespace runs survive verbatim)
        val t = if (text == null) null
          else TokenRun.replaceAllIn(text,
            m => scala.util.matching.Regex.quoteReplacement(s"z${i}x${m.matched}"))
        (id + i * IdStride, t, lang, source, if (t == null) 0L else t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
    }.reduce(_.union(_))
    docsOut.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val embs = Tables(spark, srcDir, "embeddings")
      .select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Int)]
    val embsOut = (0 until factor).map { i =>
      if (i == 0) embs.toDF("vec_id", "embedding", "label")
      else embs.map { case (id, v, label) =>
        val d = v.length
        val a = 2 * i + 1 // odd ⇒ coprime with the (power-of-two) dim count
        val out = new Array[Float](d)
        var j = 0
        while (j < d) {
          val p = math.floorMod(a * j + i, d)
          val h = (j * 2654435761L + i * 40503L) >>> 7
          out(p) = if ((h & 1L) == 0L) v(j) else -v(j)
          j += 1
        }
        (id + i * IdStride, out, label)
      }.toDF("vec_id", "embedding", "label")
    }.reduce(_.union(_))
    embsOut.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    val events = Tables(spark, srcDir, "events")
    val eventsOut = (0 until factor).map { i =>
      events.select(
        (col("event_id") + lit(i * EventIdStride)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i * IdStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_.union(_))
    eventsOut.write.mode("overwrite").parquet(s"$outDir/events.parquet")

    // Star schema: shift every key column by its stride; non-key columns
    // survive verbatim (each replica keeps the exact source value
    // distributions, so selectivities and group cardinalities-per-key are
    // preserved). FK columns use the SAME stride as the PK they reference.
    val keyShifts: Map[String, Seq[(String, Long)]] = Map(
      "customer" -> Seq("c_custkey" -> IdStride),
      "supplier" -> Seq("s_suppkey" -> IdStride),
      "part" -> Seq("p_partkey" -> IdStride),
      "orders" -> Seq("o_orderkey" -> EventIdStride, "o_custkey" -> IdStride),
      "lineitem" -> Seq("l_orderkey" -> EventIdStride,
        "l_partkey" -> IdStride, "l_suppkey" -> IdStride))
    keyShifts.foreach { case (table, shifts) =>
      val src = Tables(spark, srcDir, table)
      val out = (0 until factor).map { i =>
        shifts.foldLeft(src) { case (df, (k, stride)) =>
          df.withColumn(k, col(k) + lit(i * stride))
        }
      }.reduce(_.union(_))
      out.write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }
    // fixed dimensions: verbatim copy (facts grow, dims don't)
    Seq("region", "nation").foreach { t =>
      Tables(spark, srcDir, t).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

    println(s"[scalegen] wrote ${factor}x of all ${Tables.all.size} tables from $srcDir to $outDir")
    spark.stop()
  }
}
