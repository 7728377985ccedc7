package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, CreateNamedStruct, Expression, GenericInternalRow, InterpretedOrdering, InterpretedUnsafeProjection, SortOrder, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{col, posexplode, struct}
import org.apache.spark.sql.types._

/** Bounded per-group top-k aggregate over a struct column — the
  * map-side-combinable form of the
  * `row_number().over(Window.partitionBy(g).orderBy(o)) <= k` idiom
  * (guide §2.4: two operations keyed the same way share one exchange;
  * here the WINDOW's exchange-and-sort collapses into the aggregation
  * that already exists). Build it through [[TopKRows.perGroup]].
  *
  * Spark 3.5+ does push a `WindowGroupLimit` below the window's
  * exchange, but its partial mode still SORTS every map partition by
  * the full (group, order...) key before streaming the limit — for a
  * corpus-sized input that per-partition sort dominates the query
  * (measured: q07 1.4 s join-only vs 4.2 s with the window at the
  * ×100 replica; q46 4.5 vs 7.3). This aggregate keeps a k-element
  * bounded heap per group instead: O(n·log k) with no sort, the
  * partial aggregation bounds what crosses the exchange to ≤ k rows
  * per group per map partition, and the final merge is k·groups work.
  * (Same family as Spark's private CollectTopK, which backs the pandas
  * API's nlargest — re-implemented on the public
  * TypedImperativeAggregate extension point.)
  *
  * Semantics: `order` is the window's own ordering — Spark `SortOrder`s
  * (direction and NULLS FIRST/LAST) over BoundReferences to the
  * struct's leading fields. The heap keeps the k smallest structs under
  * Catalyst's `InterpretedOrdering` of that prefix and evals to an
  * array sorted by it, so `posexplode` positions are exactly
  * `row_number() - 1` for the window ordered the same way: NULLs,
  * NaN (largest), ±Inf and -0.0 ≡ 0.0 compare as the window's sort
  * compares them. The remaining fields are payload of any type and are
  * never compared. As with the window itself, the rows chosen among
  * exact ties of the whole order are unspecified; an order that ends in
  * a unique tiebreak makes both deterministic. Interpreted, not
  * generated: the aggregate adds no Janino class to a query.
  */
case class TopKRows(child: Expression, order: Seq[SortOrder], k: Int,
                    mutableAggBufferOffset: Int = 0,
                    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.PriorityQueue[InternalRow]]
    with UnaryLike[Expression] {

  require(k > 0, s"top_k_rows: k must be positive, got $k")

  private lazy val structType: StructType = child.dataType match {
    case s: StructType => s
    case other => throw new IllegalArgumentException(
      s"top_k_rows expects a struct column, got $other")
  }

  @transient private lazy val ordering = new InterpretedOrdering(order)

  // max-heap of the current k smallest: the head is the WORST kept row,
  // evicted when a smaller one arrives
  override def createAggregationBuffer(): java.util.PriorityQueue[InternalRow] =
    new java.util.PriorityQueue[InternalRow](k + 1, java.util.Collections.reverseOrder(ordering))

  @transient private lazy val toUnsafe = InterpretedUnsafeProjection.createProjection(
    structType.fields.toSeq.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, nullable = true) })

  // A full heap rejects most rows on their order keys alone, so those are
  // evaluated first, into one reused row; the struct is built only for a
  // row the heap keeps.
  @transient private lazy val keyExprs: Array[Expression] = child match {
    case s: CreateNamedStruct => s.valExprs.take(order.length).toArray
    case other => throw new IllegalArgumentException(
      s"top_k_rows expects a struct(...) column, got $other")
  }
  @transient private lazy val keys = new GenericInternalRow(order.length)

  private def offer(q: java.util.PriorityQueue[InternalRow], row: InternalRow): Unit =
    if (q.size < k) q.add(row)
    else if (ordering.compare(row, q.peek()) < 0) { q.poll(); q.add(row) }

  override def update(q: java.util.PriorityQueue[InternalRow],
                      input: InternalRow): java.util.PriorityQueue[InternalRow] = {
    if (q.size == k) {
      var i = 0
      while (i < keyExprs.length) { keys.update(i, keyExprs(i).eval(input)); i += 1 }
      if (ordering.compare(keys, q.peek()) >= 0) return q
      q.poll()
    }
    q.add(toUnsafe(child.eval(input).asInstanceOf[InternalRow]).copy())
    q
  }

  override def merge(q: java.util.PriorityQueue[InternalRow],
                     other: java.util.PriorityQueue[InternalRow])
      : java.util.PriorityQueue[InternalRow] = {
    val it = other.iterator()
    while (it.hasNext) offer(q, it.next())
    q
  }

  override def eval(q: java.util.PriorityQueue[InternalRow]): Any = {
    val arr = q.toArray(new Array[InternalRow](q.size))
    java.util.Arrays.sort(arr, ordering)
    new GenericArrayData(arr.asInstanceOf[Array[Any]])
  }

  // [rowCount][len,bytes]* of the UnsafeRow-projected elements
  override def serialize(q: java.util.PriorityQueue[InternalRow]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(q.size)
    val it = q.iterator()
    while (it.hasNext) {
      val u = it.next().asInstanceOf[UnsafeRow]
      val bytes = u.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.PriorityQueue[InternalRow] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val q = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val buf = new Array[Byte](len)
      in.readFully(buf)
      val row = new UnsafeRow(structType.length)
      row.pointTo(buf, len)
      q.add(row)
      i += 1
    }
    q
  }

  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k_rows"

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKRows =
    copy(child = newChild)
}

object TopKRows {

  /** `df`'s columns plus an int `rank` column, for exactly the rows of
    * `row_number().over(Window.partitionBy(keys).orderBy(order)) <= k`;
    * `order` takes the same Columns `Window.orderBy` takes (`.desc`,
    * `.asc_nulls_last`, …, a bare column is ascending). With no keys it
    * is the global top-k. The other columns ride in the heap as payload;
    * group keys must not be float or double.
    *
    * Precondition, for speed only (both plans are exact): the number of
    * groups is bounded by the query's definition, not by the corpus.
    * Past 128 groups per task the object hash aggregate falls back to
    * sorting, and the window's `WindowGroupLimit` is then the better
    * plan, even over a few rows per group. Each caller names its bound
    * in a comment. The rank windows that stay windows, and why:
    *  - q46's per-document top terms (`TextOps`): corpus-many groups
    *    (measured at ×100: heap 6.05 s, window 5.25 s);
    *  - `VectorOps.rankScored`, q77's ideal ranking and q76's fused
    *    rank: one group per BM25 query, and that batch (`doc_id % 250`)
    *    grows with the corpus (20 queries at sf0.1, ~2,000 at ×100);
    *  - `Similarity.rankedFrame`: one group per collected query, and
    *    q24's batch (`vec_id % 50`) grows with the corpus (400 queries
    *    at ×10, where the heap read q24 1.30 s against the window's
    *    1.12 s on 4 cores);
    *  - q86's per-language sample (`TrainingOps`): `k` is a column;
    *  - `Funnel.sessionized`: a full numbering, not a top-k. */
  def perGroup(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int,
               rank: String): DataFrame = {
    require(order.nonEmpty, "TopKRows.perGroup needs an order")
    // the SortOrders Spark's analyzer resolves `order` to, as for a sort
    val sorts = df.sort(order: _*).queryExecution.analyzed
      .collectFirst { case s: Sort => s.order }.get
    val ordered = sorts.zipWithIndex.map { case (s, i) => GraftBridge.column(s.child).as(s"_o$i") }
    val bound = sorts.toIndexedSeq.zipWithIndex.map { case (s, i) =>
      s.copy(child = BoundReference(i, s.child.dataType, nullable = true))
    }
    // float keys would come back from the group-by normalized (-0.0 as
    // 0.0), where the window returns each row's own value
    require(keys.forall(k => !Seq(FloatType, DoubleType).contains(df.schema(k).dataType)),
      s"TopKRows.perGroup: float or double group key in $keys")
    def quoted(c: String) = col(s"`${c.replace("`", "``")}`")
    val payload = df.columns.toSeq.filterNot(keys.contains)
    val heap = TopKRows(GraftBridge.expression(struct(ordered ++ payload.map(quoted): _*)), bound, k)
    // the keys come out of the group-by, so its partitioning stays known
    df.groupBy(keys.map(quoted): _*)
      .agg(GraftBridge.column(heap.toAggregateExpression()).as("_tk"))
      .select(keys.map(quoted) :+ posexplode(col("_tk")).as(Seq("_pos", "_row")): _*)
      .select(df.columns.toSeq.map(c =>
        if (keys.contains(c)) quoted(c) else col("_row").getField(c).as(c)) :+
        (col("_pos") + 1).as(rank): _*)
  }
}
