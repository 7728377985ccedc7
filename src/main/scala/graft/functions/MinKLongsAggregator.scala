package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded min-k aggregation over a long column: the k smallest values of
  * the group, sorted ascending, with a buffer that never holds more than
  * k elements. `merge` folds one ≤k buffer into another, so Spark still
  * gets map-side partial aggregation — the shuffle carries one ≤k array
  * per (group, partition) instead of every value.
  *
  * The one rule that differs between its two uses is `distinct`:
  *  - kept duplicates (`distinct = false`): exactly
  *    `slice(array_sort(collect_list(x)), 1, k)` on any input, the
  *    scale-safe posting-list builder for q63's inverted index —
  *    `collect_list` buffers EVERY doc_id of a hot token before the
  *    slice, so at 100 TB a stop-word token OOMs the aggregation buffer;
  *  - dropped duplicates (`distinct = true`): the k smallest DISTINCT
  *    values, the K-minimum-values distinct-count synopsis (Bar-Yossef et
  *    al. 2002; Beyer et al., SIGMOD 2007). The k smallest of a union of
  *    per-shard k-smallest sets equals the k smallest of the union, so
  *    partial aggregation reconstructs the global sketch without
  *    shuffling the raw hash stream. Estimation is done downstream in
  *    SQL so the oracle can recompute it: a sketch of fewer than k values
  *    IS the distinct set; otherwise distinct ≈ (k−1)·H / h_(k) with H
  *    the hash-space size and h_(k) the sketch's largest element.
  *
  * TrainingOpsSpec pins both forms.
  */
case class MinKLongsAggregator(k: Int, distinct: Boolean)
    extends Aggregator[Long, Array[Long], Array[Long]] {
  require(k > 0, "k must be positive")

  override def zero: Array[Long] = Array.emptyLongArray

  /** Sorted insert capped at k. No-op when the buffer is full and v is not
    * smaller than its current maximum — the common case on a hot group,
    * making reduce O(1) amortized after the buffer fills. */
  private def insert(buf: Array[Long], v: Long): Array[Long] = {
    if (buf.length >= k && v >= buf(buf.length - 1)) return buf
    var pos = 0
    while (pos < buf.length && buf(pos) < v) pos += 1
    if (distinct && pos < buf.length && buf(pos) == v) return buf
    val outLen = math.min(buf.length + 1, k)
    val out = new Array[Long](outLen)
    System.arraycopy(buf, 0, out, 0, pos)
    out(pos) = v
    System.arraycopy(buf, pos, out, pos + 1, outLen - pos - 1)
    out
  }

  override def reduce(buf: Array[Long], v: Long): Array[Long] = insert(buf, v)

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var acc = b1
    var i = 0
    while (i < b2.length) { acc = insert(acc, b2(i)); i += 1 }
    acc
  }

  override def finish(r: Array[Long]): Array[Long] = r

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}
