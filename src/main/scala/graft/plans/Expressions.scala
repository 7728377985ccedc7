package graft.plans

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (SURVEY.md §4.2 "optional perf" items,
  * implemented because they sit on hot paths):
  *
  *  - [[CosineSim]]: cosine similarity over two float-array columns with
  *    whole-stage codegen. Spark's higher-order `aggregate`/`zip_with`
  *    evaluate their lambdas interpreted per element; for the kNN inner
  *    loop (|corpus|×|queries|×dim evaluations) a fused codegen loop
  *    removes that overhead. The arithmetic is the identical sequential
  *    IEEE-double accumulation, so results stay bit-equal to the HOF
  *    form and the DuckDB oracle (asserted in ExpressionsSpec).
  *
  *  - [[ChunkTextGen]]: the recursive chunker (T1) as a Generator, giving
  *    it a SQL surface: `LATERAL VIEW chunk_text(text, 5000, 500)`
  *    (reference chunks_data.py:101-102; SURVEY §4.2 flags this exact
  *    polish).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<float> args, got ${left.dataType}, ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  /** Ragged inputs yield NULL (zip_with null-pads the shorter array, which
    * nulls the whole dot/aggregate in the HOF form) — so the expression is
    * nullable even over non-nullable children. */
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    val y = b.asInstanceOf[ArrayData].toFloatArray()
    if (x.length != y.length) return null
    var dot = 0.0; var i = 0
    while (i < x.length) { dot += x(i).toDouble * y(i).toDouble; i += 1 }
    var na = 0.0; i = 0
    while (i < x.length) { na += x(i).toDouble * x(i).toDouble; i += 1 }
    var nb = 0.0; i = 0
    while (i < y.length) { nb += y(i).toDouble * y(i).toDouble; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val i = ctx.freshName("i")
      s"""
         |float[] $x = $a.toFloatArray();
         |float[] $y = $b.toFloatArray();
         |if ($x.length != $y.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $x.length; $i++) {
         |    $dot += (double)$x[$i] * (double)$y[$i];
         |    $na += (double)$x[$i] * (double)$x[$i];
         |    $nb += (double)$y[$i] * (double)$y[$i];
         |  }
         |  ${ev.value} = $dot / (Math.sqrt($na) * Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** Dot product over two float-array columns with whole-stage codegen —
  * the pair-scoring kernel of the norm-precomputed cosine form:
  * `cosine(a,b) = dot(a,b) / (norm_a * norm_b)` where the norms are
  * computed ONCE per row instead of once per pair. For an O(n²) pair
  * join (q25) that cuts per-pair flops 3× versus [[CosineSim]] while
  * staying bit-identical: the norm accumulation is the same sequential
  * IEEE-double sum whether it runs per-row or per-pair, and the final
  * `dot / (sqrt(ssa) * sqrt(ssb))` is the same double expression tree
  * the DuckDB oracle evaluates (asserted in ExpressionsSpec).
  *
  * Ragged inputs yield NULL, matching `zip_with` null-padding semantics
  * in the HOF form (same contract as [[CosineSim]]). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product expects two array<float> args, got ${left.dataType}, ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    val y = b.asInstanceOf[ArrayData].toFloatArray()
    if (x.length != y.length) return null
    var dot = 0.0; var i = 0
    while (i < x.length) { dot += x(i).toDouble * y(i).toDouble; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val dot = ctx.freshName("dot"); val i = ctx.freshName("i")
      s"""
         |float[] $x = $a.toFloatArray();
         |float[] $y = $b.toFloatArray();
         |if ($x.length != $y.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $x.length; $i++) {
         |    $dot += (double)$x[$i] * (double)$y[$i];
         |  }
         |  ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** All multiprobe-LSH table keys of an embedding in one codegen'd pass
  * (the q40 hot path): `tables` keys of `bits` sign bits each, planes
  * derived from the deterministic integer hash
  * `((((p*131071 + d*8191) % 524287) * mult) % 1000003) % 1000`,
  * centered to (-0.5, 0.5). The HOF formulation evaluates
  * tables×bits interpreted `aggregate` lambdas per row (48×64
  * element-lambda calls); this expression is one fused loop over the
  * same arithmetic in the same per-plane sequential accumulation order,
  * so keys are bit-identical to the HOF form and the DuckDB oracle
  * (asserted in ExpressionsSpec + tools/check.py q40).
  *
  * Semantics parity with the HOF form for degenerate input: a NULL
  * embedding, a vector shorter than 64 dims, or a null element among
  * the first 64 all make `element_at` null, nulling every plane sum,
  * so every sign test fails → all keys 0. The expression is therefore
  * NON-nullable (a plain UnaryExpression would return NULL for NULL
  * input, silently diverging from the HOF twin — ExpressionsSpec pins
  * the null row). */
/** The one source of the hyperplane matrix both LSH expressions (and,
  * via the same arithmetic, the HOF twin and the DuckDB oracle) must
  * agree on bit-for-bit. Shared so the FP-parity contract cannot be
  * broken by editing one copy of the formula. */
private[plans] object LshPlanes {
  def matrix(tables: Int, bits: Int, mult: Long): Array[Array[Double]] =
    Array.tabulate(tables * bits) { p =>
      Array.tabulate(64) { i =>
        val d = i + 1
        val h = ((p.toLong * 131071L + d.toLong * 8191L) % 524287L) * mult % 1000003L % 1000L
        (h.toDouble - 499.5) / 1000.0
      }
    }
}

case class LshKeys(child: Expression, tables: Int, bits: Int, mult: Long)
    extends UnaryExpression {
  require(tables >= 1 && bits >= 1 && bits <= 62,
    s"lsh_keys: tables must be >= 1 and bits in [1, 62], got tables=$tables bits=$bits")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_keys expects array<float>, got $t")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_keys"

  /** plane matrix [tables*bits][64], precomputed once per query */
  @transient private lazy val planes: Array[Array[Double]] =
    LshPlanes.matrix(tables, bits, mult)

  private def keysOf(v: Array[Float]): Array[Long] = {
    val keys = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var key = 0L
      var b = 0
      while (b < bits) {
        val pl = planes(t * bits + b)
        var acc = 0.0
        var d = 0
        while (d < 64) { acc += pl(d) * v(d).toDouble; d += 1 }
        if (acc >= 0.0) key |= (1L << b)
        b += 1
      }
      keys(t) = key
      t += 1
    }
    keys
  }

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val a = child.eval(input)
    if (a == null) return new GenericArrayData(new Array[Long](tables))
    val ad = a.asInstanceOf[ArrayData]
    // HOF parity: a short array OR a null element among the first 64 dims
    // nulls every plane sum, failing every sign test -> all keys 0
    val usable = ad.numElements() >= 64 && !(0 until 64).exists(ad.isNullAt)
    if (!usable) new GenericArrayData(new Array[Long](tables))
    else new GenericArrayData(keysOf(Array.tabulate(64)(ad.getFloat)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[][]")
    val childGen = child.genCode(ctx)
    val a = childGen.value
    val v = ctx.freshName("v"); val keys = ctx.freshName("keys")
    val t = ctx.freshName("t"); val b = ctx.freshName("b")
    val d = ctx.freshName("d"); val acc = ctx.freshName("acc")
    val key = ctx.freshName("key"); val pl = ctx.freshName("pl")
    val usable = ctx.freshName("usable")
    ev.copy(code =
      code"""
         |${childGen.code}
         |long[] $keys = new long[$tables];
         |if (!${childGen.isNull}) {
         |  boolean $usable = $a.numElements() >= 64;
         |  if ($usable) {
         |    for (int $d = 0; $d < 64; $d++) {
         |      if ($a.isNullAt($d)) { $usable = false; break; }
         |    }
         |  }
         |  if ($usable) {
         |    float[] $v = new float[64];
         |    for (int $d = 0; $d < 64; $d++) { $v[$d] = $a.getFloat($d); }
         |    for (int $t = 0; $t < $tables; $t++) {
         |      long $key = 0L;
         |      for (int $b = 0; $b < $bits; $b++) {
         |        double[] $pl = $planesRef[$t * $bits + $b];
         |        double $acc = 0.0;
         |        for (int $d = 0; $d < 64; $d++) { $acc += $pl[$d] * (double)$v[$d]; }
         |        if ($acc >= 0.0) { $key |= (1L << $b); }
         |      }
         |      $keys[$t] = $key;
         |    }
         |  }
         |}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): LshKeys = copy(child = c)
}

/** Confidence-ordered multiprobe key sets (Lv et al., "Multi-Probe LSH",
  * VLDB 2007 — the published fix for probe cost growing with key width):
  * for each of `tables` sign-random-projection keys, emit the exact key
  * plus the keys obtained by flipping each of the `min(bits, probes)`
  * planes with the SMALLEST |dot| margin (ties broken by lower plane
  * index). A vector's wrong bits are overwhelmingly its low-margin bits,
  * so probing only those retains almost all of full Hamming-1 recall
  * while capping the probe count at a CONSTANT as `bits` tracks corpus
  * size — without the cap, Hamming-1 probing costs (bits+1) keys/table
  * and the q40 candidate join grows n·log n (SCALE.md measured 2.8×
  * super-linear at 100× data).
  *
  * When `bits <= probes` every plane is flipped and the probe set equals
  * full Hamming-1 — bit-identical to the pre-cap behavior (the sf0.01 /
  * sf0.1 gates run there). Margin comparisons are FP-parity-safe
  * cross-engine for the same reason the sign tests are: both engines
  * accumulate the identical plane dot in the identical sequential IEEE
  * order, so |dot| values — and their (|dot|, plane) ordering — are
  * bit-equal (asserted by the q40 oracle gate).
  *
  * Degenerate input (NULL embedding, < 64 dims, or a null element among
  * the first 64): every plane dot is null, so the key is 0 and no margin
  * ordering exists — emits `[0]` (exact key only) per table. A NaN
  * component makes every plane dot NaN: the sign tests fail (key 0, same
  * as LshKeys) and NaN margins rank AFTER every finite margin (treated
  * as +infinity, ties by plane index) — deterministic, never a crash. */
case class LshProbeKeys(child: Expression, tables: Int, bits: Int,
                        probes: Int, mult: Long)
    extends UnaryExpression {
  require(tables >= 1 && bits >= 1 && bits <= 62 && probes >= 0,
    s"lsh_probe_keys: need tables >= 1, bits in [1, 62], probes >= 0; " +
      s"got tables=$tables bits=$bits probes=$probes")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lsh_probe_keys expects array<float>, got $t")
    }
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def prettyName: String = "lsh_probe_keys"
  override def nullable: Boolean = false

  /** plane matrix [tables*bits][64] — same arithmetic as [[LshKeys]] */
  @transient private lazy val planes: Array[Array[Double]] =
    LshPlanes.matrix(tables, bits, mult)

  private val nFlips: Int = math.min(bits, probes)

  private def probeKeysOf(v: Array[Float]): Array[ArrayData] = {
    val out = new Array[ArrayData](tables)
    val absv = new Array[Double](bits)
    val used = new Array[Boolean](bits)
    var t = 0
    while (t < tables) {
      var key = 0L
      var b = 0
      while (b < bits) {
        val pl = planes(t * bits + b)
        var acc = 0.0
        var d = 0
        while (d < 64) { acc += pl(d) * v(d).toDouble; d += 1 }
        if (acc >= 0.0) key |= (1L << b)
        // NaN margins (a NaN embedding component) rank after every finite
        // margin; a plain `<` selection over NaN would never pick ANY
        // index and crash on best = -1
        val a = math.abs(acc)
        absv(b) = if (java.lang.Double.isNaN(a)) java.lang.Double.POSITIVE_INFINITY else a
        used(b) = false
        b += 1
      }
      val keys = new Array[Long](1 + nFlips)
      keys(0) = key
      var m = 0
      while (m < nFlips) { // argmin by (|dot|, plane) over the unused planes
        var best = -1
        var bestAbs = 0.0
        var i = 0
        while (i < bits) {
          if (!used(i) && (best == -1 || absv(i) < bestAbs)) {
            bestAbs = absv(i); best = i
          }
          i += 1
        }
        used(best) = true
        keys(1 + m) = key ^ (1L << best)
        m += 1
      }
      out(t) = new GenericArrayData(keys)
      t += 1
    }
    out
  }

  private def degenerate: GenericArrayData =
    new GenericArrayData(Array.fill[ArrayData](tables)(
      new GenericArrayData(Array(0L))))

  override def eval(input: InternalRow): Any = {
    val a = child.eval(input)
    if (a == null) return degenerate
    val ad = a.asInstanceOf[ArrayData]
    val usable = ad.numElements() >= 64 && !(0 until 64).exists(ad.isNullAt)
    if (!usable) degenerate
    else new GenericArrayData(probeKeysOf(Array.tabulate(64)(ad.getFloat)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[][]")
    val childGen = child.genCode(ctx)
    val a = childGen.value
    val v = ctx.freshName("v"); val out = ctx.freshName("out")
    val t = ctx.freshName("t"); val b = ctx.freshName("b")
    val d = ctx.freshName("d"); val acc = ctx.freshName("acc")
    val key = ctx.freshName("key"); val pl = ctx.freshName("pl")
    val usable = ctx.freshName("usable"); val absv = ctx.freshName("absv")
    val keys = ctx.freshName("keys"); val m = ctx.freshName("m")
    val best = ctx.freshName("best"); val bestAbs = ctx.freshName("bestAbs")
    val i = ctx.freshName("i"); val used = ctx.freshName("used")
    val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
    val gad = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    ev.copy(code =
      code"""
         |${childGen.code}
         |$ad[] $out = new $ad[$tables];
         |boolean $usable = false;
         |if (!${childGen.isNull}) {
         |  $usable = $a.numElements() >= 64;
         |  if ($usable) {
         |    for (int $d = 0; $d < 64; $d++) {
         |      if ($a.isNullAt($d)) { $usable = false; break; }
         |    }
         |  }
         |}
         |if ($usable) {
         |  float[] $v = new float[64];
         |  for (int $d = 0; $d < 64; $d++) { $v[$d] = $a.getFloat($d); }
         |  double[] $absv = new double[$bits];
         |  boolean[] $used = new boolean[$bits];
         |  for (int $t = 0; $t < $tables; $t++) {
         |    long $key = 0L;
         |    for (int $b = 0; $b < $bits; $b++) {
         |      double[] $pl = $planesRef[$t * $bits + $b];
         |      double $acc = 0.0;
         |      for (int $d = 0; $d < 64; $d++) { $acc += $pl[$d] * (double)$v[$d]; }
         |      if ($acc >= 0.0) { $key |= (1L << $b); }
         |      // NaN margins rank after every finite margin (see eval)
         |      double $bestAbs = Math.abs($acc);
         |      $absv[$b] = Double.isNaN($bestAbs) ? Double.POSITIVE_INFINITY : $bestAbs;
         |      $used[$b] = false;
         |    }
         |    long[] $keys = new long[1 + $nFlips];
         |    $keys[0] = $key;
         |    for (int $m = 0; $m < $nFlips; $m++) {
         |      int $best = -1;
         |      double $bestAbs = 0.0;
         |      for (int $i = 0; $i < $bits; $i++) {
         |        if (!$used[$i] && ($best == -1 || $absv[$i] < $bestAbs)) {
         |          $bestAbs = $absv[$i]; $best = $i;
         |        }
         |      }
         |      $used[$best] = true;
         |      $keys[1 + $m] = $key ^ (1L << $best);
         |    }
         |    $out[$t] = new $gad($keys);
         |  }
         |} else {
         |  for (int $t = 0; $t < $tables; $t++) {
         |    $out[$t] = new $gad(new long[]{0L});
         |  }
         |}
         |$ad ${ev.value} = new $gad($out);
       """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): LshProbeKeys = copy(child = c)
}

/** `chunk_text(text, size, overlap)` as a row Generator (1-to-N), usable
  * from SQL via LATERAL VIEW / table-generating select. Emits
  * (chunk_id int, chunk string). */
case class ChunkTextGen(child: Expression, sizeExpr: Expression, overlapExpr: Expression)
    extends Expression with Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, sizeExpr, overlapExpr)
  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_id", IntegerType, nullable = false),
    StructField("chunk", StringType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) return Nil
    val size = sizeExpr.eval(input).asInstanceOf[Int]
    val overlap = overlapExpr.eval(input).asInstanceOf[Int]
    TextFunctions.chunkText(t.asInstanceOf[UTF8String].toString, size, overlap)
      .zipWithIndex.map { case (c, i) =>
        InternalRow(i, UTF8String.fromString(c))
      }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ChunkTextGen =
    copy(child = c(0), sizeExpr = c(1), overlapExpr = c(2))
}

/** Byte-level kernel of [[DistinctShingles]], shared verbatim by `eval`
  * and the generated code (a static call keeps the whole projection
  * inside whole-stage codegen — the LshKeys pattern). Semantics are
  * bit-identical to `TextFunctions.shingles` (the retired hot-path UDF,
  * kept for the equality spec): split on the single space character
  * ONLY (0x20 — never a continuation byte in UTF-8, so the byte scan
  * equals the char split), drop empty tokens, emit each n-token window
  * joined by single spaces, deduped to first occurrence. Works directly
  * on UTF8String bytes: no encoder round-trip, no String allocation per
  * token — the serialization boundary the round-14 verdict flagged on
  * the near-dup family's corpus-sized shingle path (task 4). */
object ShingleKernel {
  private val EMPTY: ArrayData = new GenericArrayData(new Array[AnyRef](0))

  def distinctShingles(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return EMPTY
    val b = text.getBytes
    // token boundaries: maximal runs of non-0x20 bytes
    var count = 0
    var i = 0
    while (i < b.length) {
      if (b(i) != ' '.toByte) {
        count += 1
        while (i < b.length && b(i) != ' '.toByte) i += 1
      } else i += 1
    }
    if (count < n) return EMPTY
    val starts = new Array[Int](count); val lens = new Array[Int](count)
    var t = 0; i = 0
    while (i < b.length) {
      if (b(i) != ' '.toByte) {
        starts(t) = i
        while (i < b.length && b(i) != ' '.toByte) i += 1
        lens(t) = i - starts(t); t += 1
      } else i += 1
    }
    val seen = new java.util.LinkedHashSet[UTF8String]()
    i = 0
    while (i + n <= count) {
      var size = n - 1
      var j = 0
      while (j < n) { size += lens(i + j); j += 1 }
      val out = new Array[Byte](size)
      var p = 0; j = 0
      while (j < n) {
        if (j > 0) { out(p) = ' '.toByte; p += 1 }
        System.arraycopy(b, starts(i + j), out, p, lens(i + j)); p += lens(i + j)
        j += 1
      }
      seen.add(UTF8String.fromBytes(out))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }
}

/** Distinct word n-gram shingles of a text column, codegen-native —
  * the near-dup family's per-row kernel (q21/q22/q48/q96, the q51/q59
  * composites, and NearDupStream), previously a Scala UDF
  * (`TextFunctions.shinglesUdf`): same output, but evaluated through
  * reflection converters outside codegen. This expression keeps the
  * corpus-sized shingle projection fused in the whole-stage-codegen
  * stage and never materializes a Java String. NULL text → empty array
  * (the UDF contract), so the expression is never null. */
case class DistinctShingles(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"distinct_shingles: n must be >= 1, got $n")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"distinct_shingles expects string, got $t")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "distinct_shingles"
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    ShingleKernel.distinctShingles(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    ev.copy(code =
      code"""
         |${childGen.code}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  graft.plans.ShingleKernel.distinctShingles(
         |    ${childGen.isNull} ? null : ${childGen.value}, $n);
       """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): DistinctShingles =
    copy(child = c)
}

/** Per-vector SQ8 side-car for the q40 confirm pre-filter: one codegen'd
  * pass packs `[maxAbs: double][norm: double][codes: int8 × dims]` into
  * a 16+dims-byte binary. `maxAbs = max|x_i|`; `norm = sqrt(Σx_i²)` with
  * the SAME sequential accumulation as [[CosineSim]] (so the filter's
  * denominator is bit-identical to the confirm's); codes are q69's grid,
  * `floor(x·127/maxAbs)` (floor, not round — the cross-engine parity
  * rule), each in [-127, 127]. A zero vector (maxAbs = 0) packs all-zero
  * codes. ~80 bytes versus the 256+-byte float array: the pair joins of
  * the pre-filter shuffle 3-4× fewer payload bytes than embedding
  * fetches would. */
case class Sq8Blob(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sq8_blob expects array<float>, got $other")
    }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "sq8_blob"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData].toFloatArray()
    Sq8Blob.pack(x)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val x = ctx.freshName("x")
      s"""
         |float[] $x = $a.toFloatArray();
         |${ev.value} = graft.plans.Sq8Blob.pack($x);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Sq8Blob =
    copy(child = c)
}

object Sq8Blob {
  /** Shared by eval and codegen — one definition of the layout. */
  def pack(x: Array[Float]): Array[Byte] = {
    var mx = 0.0; var ss = 0.0; var i = 0
    while (i < x.length) {
      val v = x(i).toDouble
      val av = math.abs(v)
      if (av > mx) mx = av
      ss += v * v
      i += 1
    }
    val out = new Array[Byte](16 + x.length)
    val bb = java.nio.ByteBuffer.wrap(out)
    bb.putDouble(0, mx)
    bb.putDouble(8, math.sqrt(ss))
    i = 0
    while (i < x.length) {
      val c = if (mx == 0.0) 0L
        else math.floor(x(i).toDouble * 127.0 / mx).toLong
      out(16 + i) = c.toByte
      i += 1
    }
    out
  }
}

/** Provable UPPER bound on the true cosine of the two vectors behind two
  * [[Sq8Blob]] side-cars — the q40 confirm pre-filter kernel. With
  * `s = maxAbs/127` per side, floor quantization gives
  * `x_i - x̂_i ∈ [0, s_a)`, so
  * `dot(a,b) ≤ s_a·s_b·(Σc_a·c_b + Σ|c_a| + Σ|c_b| + dims)` — every sum
  * an exact 64-bit integer, one fused loop over the code bytes. Divided
  * by the stored exact norms (bit-identical to [[CosineSim]]'s
  * accumulation), the result is ≥ the true cosine up to final-multiply
  * rounding (covered by the caller's 1e-9 threshold slack), so
  * `filter(upper > thresh - 1e-9)` can only DROP pairs the exact
  * confirm would drop too — a lossless candidate cut, no oracle or
  * recall change by construction. Ragged blob lengths yield NULL (the
  * confirm's NULL-cosine contract); a zero-norm side divides to NaN,
  * which fails the filter exactly as the confirm's NaN does. */
case class Sq8UpperCos(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == BinaryType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"sq8_upper_cos expects two binary (sq8_blob) args, got ${left.dataType}, ${right.dataType}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sq8_upper_cos"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = Sq8UpperCos.upper(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
    if (java.lang.Double.isNaN(r) && Sq8UpperCos.ragged(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |if (graft.plans.Sq8UpperCos.ragged($a, $b)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.plans.Sq8UpperCos.upper($a, $b);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Sq8UpperCos =
    copy(left = l, right = r)
}

object Sq8UpperCos {
  def ragged(a: Array[Byte], b: Array[Byte]): Boolean =
    a.length < 16 || b.length < 16 || a.length != b.length

  /** NaN for ragged inputs (callers null it out) or zero norms. */
  def upper(a: Array[Byte], b: Array[Byte]): Double = {
    if (ragged(a, b)) return Double.NaN
    val ba = java.nio.ByteBuffer.wrap(a)
    val bb = java.nio.ByteBuffer.wrap(b)
    val mxa = ba.getDouble(0); val nrma = ba.getDouble(8)
    val mxb = bb.getDouble(0); val nrmb = bb.getDouble(8)
    val n = a.length - 16
    var idot = 0L; var absA = 0L; var absB = 0L
    var i = 0
    while (i < n) {
      val ca = a(16 + i).toLong; val cb = b(16 + i).toLong
      idot += ca * cb
      absA += math.abs(ca); absB += math.abs(cb)
      i += 1
    }
    val sa = mxa / 127.0; val sb = mxb / 127.0
    ((idot + absA + absB + n).toDouble * sa * sb) / (nrma * nrmb)
  }
}

object GraftExpressions {
  import org.apache.spark.sql.GraftBridge

  /** Column surface for the native cosine. */
  def cosineSimNative(a: Column, b: Column): Column =
    GraftBridge.column(
      CosineSim(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column surface for the native dot product. */
  def dotNative(a: Column, b: Column): Column =
    GraftBridge.column(
      DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column surface for the fused LSH key computation. */
  def lshKeys(embedding: Column, tables: Int, bits: Int, mult: Long): Column =
    GraftBridge.column(LshKeys(GraftBridge.expression(embedding), tables, bits, mult))

  /** Column surface for confidence-ordered multiprobe key sets. */
  def lshProbeKeys(embedding: Column, tables: Int, bits: Int, probes: Int,
                   mult: Long): Column =
    GraftBridge.column(
      LshProbeKeys(GraftBridge.expression(embedding), tables, bits, probes, mult))

  /** Column surface for the native distinct-shingle kernel. */
  def distinctShingles(text: Column, n: Int): Column =
    GraftBridge.column(DistinctShingles(GraftBridge.expression(text), n))

  /** Column surface for the SQ8 side-car pack. */
  def sq8Blob(embedding: Column): Column =
    GraftBridge.column(Sq8Blob(GraftBridge.expression(embedding)))

  /** Column surface for the SQ8 cosine upper bound. */
  def sq8UpperCos(a: Column, b: Column): Column =
    GraftBridge.column(Sq8UpperCos(GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Constant-integer argument of a SQL function: fails analysis with a
    * clear message instead of an internal eval error when the argument
    * is a column or non-numeric literal. */
  private[plans] def litLong(e: Expression, fn: String, arg: String): Long = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: $arg must be a constant integer, got expression ${e.sql}")
    e.eval() match {
      case n: Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a constant integer, got $other")
    }
  }

  private[plans] def lshKeysFromSql(exprs: Seq[Expression]): LshKeys =
    LshKeys(exprs(0),
      litLong(exprs(1), "lsh_keys", "tables").toInt,
      litLong(exprs(2), "lsh_keys", "bits").toInt,
      litLong(exprs(3), "lsh_keys", "mult"))

  private[plans] def lshProbeKeysFromSql(exprs: Seq[Expression]): LshProbeKeys =
    LshProbeKeys(exprs(0),
      litLong(exprs(1), "lsh_probe_keys", "tables").toInt,
      litLong(exprs(2), "lsh_probe_keys", "bits").toInt,
      litLong(exprs(3), "lsh_probe_keys", "probes").toInt,
      litLong(exprs(4), "lsh_probe_keys", "mult"))

  /** Register SQL functions: `cosine_sim(a, b)`,
    * `chunk_text(text, size, overlap)` and
    * `lsh_keys(embedding, tables, bits, mult)` — the session-local
    * equivalent of [[GraftSparkExtensions]]. */
  def register(spark: SparkSession): Unit = {
    GraftBridge.register(spark, "cosine_sim", exprs => CosineSim(exprs(0), exprs(1)))
    GraftBridge.register(spark, "dot_product", exprs => DotProduct(exprs(0), exprs(1)))
    GraftBridge.register(spark, "chunk_text",
      exprs => ChunkTextGen(exprs(0), exprs(1), exprs(2)))
    GraftBridge.register(spark, "lsh_keys", lshKeysFromSql)
    GraftBridge.register(spark, "lsh_probe_keys", lshProbeKeysFromSql)
    GraftBridge.register(spark, "distinct_shingles",
      exprs => DistinctShingles(exprs(0),
        litLong(exprs(1), "distinct_shingles", "n").toInt))
    GraftBridge.register(spark, "sq8_blob", exprs => Sq8Blob(exprs(0)))
    GraftBridge.register(spark, "sq8_upper_cos",
      exprs => Sq8UpperCos(exprs(0), exprs(1)))
  }
}
