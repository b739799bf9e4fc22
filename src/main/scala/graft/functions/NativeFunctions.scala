package graft.functions

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BloomFilterMightContain,
  Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit, typedlit}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the numeric hot path (SURVEY §4.2: custom
  * `Expression` beats UDF). Higher-order-function folds (`aggregate`/
  * `zip_with`) are interpreted per element and allocate an intermediate array;
  * this codegen'd dot product is a primitive loop inside whole-stage codegen —
  * ~10× less per-pair overhead in the all-pairs similarity operators, which
  * dominate the 100 TB profile.
  *
  * Semantics contract: a sequential left-fold `Σ a[i]*b[i]` in array order —
  * bit-identical to the HOF fold and to the DuckDB oracle's list fold.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects two ARRAY<DOUBLE> args, got ${left.dataType.sql} / ${right.dataType.sql}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  // Mismatched dimensions or a null element → null, exactly like the HOF
  // fold (zip_with pads with nulls / a null product nulls the aggregate) —
  // corrupt rows surface as missing similarities, never as plausible
  // partial sums. The element null-check is emitted only when the input
  // schema admits null elements.
  override def nullable: Boolean = true

  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val checkNulls = elementsNullable
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (elementsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** All `tables` hyperplane-LSH signatures of a vector in ONE fused loop —
  * `hyperplane_signatures(vec, flatPlanes)` → ARRAY<LONG> of length
  * `tables`, where `flatPlanes` is the (tables·planesPerTable) × dim plane
  * matrix flattened row-major as a plan literal.
  *
  * Why an expression and not `planesPerTable × tables` separate
  * `dot_product` calls: at the corpus-adaptive knob sizes (up to 20×64 =
  * 1280 planes) the per-plane expression forest blows past Janino's method
  * budget, whole-stage codegen bails out, and every plane dot runs through
  * interpreted eval — measured ~7 s per 32 planes over a 20k corpus where
  * the same arithmetic in a fused loop is milliseconds. One expression =
  * one tight `tables × planes × dim` loop with the matrix hoisted to a
  * codegen reference.
  *
  * Semantics contract (spec-pinned bit-equality with
  * [[graft.operators.Similarity.hyperplaneSignatureFrom]]): per plane a
  * sequential left-fold Σ v[i]·M[p][i] in array order, bit 1 iff ≥ 0,
  * packed MSB-first within each table (plane t·b is the high bit of
  * table t's signature). Mismatched dims or a null element → null row,
  * like [[DotProduct]].
  */
case class HyperplaneSignatures(left: Expression, right: Expression,
                                planesPerTable: Int, tables: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }) && planesPerTable > 0 && planesPerTable <= 63 && tables > 0
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "hyperplane_signatures expects (ARRAY<DOUBLE> vec, ARRAY<DOUBLE> flat planes) " +
        s"with 0 < planesPerTable <= 63 and tables > 0, got ${left.dataType.sql} / " +
        s"${right.dataType.sql}, b=$planesPerTable, L=$tables")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "hyperplane_signatures"
  override def nullable: Boolean = true

  private def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val m = b.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val nPlanes = planesPerTable * tables
    if (m.numElements() != dim.toLong * nPlanes) return null
    val checkNulls = elementsNullable
    val sigs = new Array[Long](tables)
    var p = 0
    var t = 0
    while (t < tables) {
      var acc = 0L
      var j = 0
      while (j < planesPerTable) {
        var d = 0.0
        val base = p * dim
        var i = 0
        while (i < dim) {
          if (checkNulls && (v.isNullAt(i) || m.isNullAt(base + i))) return null
          d += v.getDouble(i) * m.getDouble(base + i)
          i += 1
        }
        acc = (acc << 1) | (if (d >= 0.0) 1L else 0L)
        j += 1; p += 1
      }
      sigs(t) = acc
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dim = ctx.freshName("dim")
      val sigs = ctx.freshName("sigs")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val base = ctx.freshName("base")
      val p = ctx.freshName("p")
      val t = ctx.freshName("t")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val done = ctx.freshName("done")
      val nullCheck =
        if (elementsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($base + $i)) { ${ev.isNull} = true; $done = true; break; }"
        else ""
      s"""
         |int $dim = $a.numElements();
         |if ($b.numElements() != (long) $dim * ${planesPerTable * tables}) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $sigs = new long[$tables];
         |  boolean $done = false;
         |  int $p = 0;
         |  for (int $t = 0; $t < $tables && !$done; $t++) {
         |    long $acc = 0L;
         |    for (int $j = 0; $j < $planesPerTable && !$done; $j++, $p++) {
         |      double $d = 0.0;
         |      int $base = $p * $dim;
         |      for (int $i = 0; $i < $dim; $i++) {
         |        $nullCheck
         |        $d += $a.getDouble($i) * $b.getDouble($base + $i);
         |      }
         |      $acc = ($acc << 1) | ($d >= 0.0 ? 1L : 0L);
         |    }
         |    $sigs[$t] = $acc;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sigs);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): HyperplaneSignatures =
    copy(left = l, right = r)
}

/** Content-defined chunk boundaries of a BINARY payload by gear rolling
  * hash — `gear_chunk_ends(payload, maskBits)` → ARRAY<LONG> of 1-based
  * chunk END positions (the last element is always the payload length, so
  * chunk i spans (ends[i-1], ends[i]]).
  *
  * The gear scheme (Xia et al., FastCDC lineage): h ← (h << 1) + gear[b]
  * per byte, cut after any byte where the low `maskBits` bits of h are
  * zero — expected chunk length 2^maskBits. Because the shift discards a
  * bit per step, the cut decision at position i depends ONLY on the last
  * `maskBits` bytes, so boundaries are position-local: a byte INSERTION
  * re-chunks one chunk and the stream re-synchronizes at the next cut,
  * which is exactly the shifted-copy detection fixed-size chunking
  * provably lacks (SCALE.md). No min/max bounds in this form — bounds
  * would make cuts sequential-dependent and kill the local property the
  * oracle recomputes; production would add them in this same loop.
  *
  * One tight byte loop per row, inside whole-stage codegen (the generated
  * code calls [[GearChunkEnds.compute]] — a static JVM loop, not
  * interpreted expression eval). The 256-entry gear table derives from the
  * splitmix64 finalizer of the byte value and is exposed as a DataFrame
  * ([[graft.operators.Multimodal.gearTableDf]]) so the DuckDB oracle
  * replays the identical boundaries from the dumped table.
  */
/** Log-linear sketch code of a double ([[graft.operators.Sketches]]'
  * octave × 16-sub-bucket binning) as ONE native expression. The Column
  * form composes ceil/log2/pow through conditional branches — even
  * let-bound it pays ~5 single-element-array HOF wraps plus three pow
  * calls per row, which dominates a 100 TB scan (measured at ×30: the
  * unbound tree cost ~10 µs/row, the bound one ~1.8 µs/row, this
  * expression ~0.1 µs/row). Here the octave comes from the EXPONENT BITS
  * (exact — literally the SketchSpec reference arithmetic: getExponent,
  * power-of-two iff the mantissa field is empty, subnormal exponent from
  * the mantissa's highest bit), lo = 2^(k−1) via scalb (exact), and the
  * sub-bucket arithmetic is the same IEEE ops as the Column form, so the
  * two are value-identical on every input (spec-pinned incl. extremes).
  * NULL for NaN/±Inf (the ADVICE r18 domain guard), 0 for ±0.0.
  */
case class LogLinCode(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"log_lin_code expects DOUBLE, got ${child.dataType.sql}")
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "log_lin_code"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[Double]
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) null
    else java.lang.Long.valueOf(LogLinCode.compute(v))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if (java.lang.Double.isNaN($c) || java.lang.Double.isInfinite($c)) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.LogLinCode.compute($c);
         |}""".stripMargin)

  override protected def withNewChildInternal(c: Expression): LogLinCode =
    copy(child = c)
}

object LogLinCode {
  /** Exact code for a FINITE double (callers exclude NaN/±Inf): the k
    * with 2^(k−1) < |v| ≤ 2^k is getExponent(|v|) for exact powers of
    * two and getExponent(|v|)+1 otherwise (subnormal exponents recovered
    * from the mantissa's highest set bit), clamped at −1073 so lo never
    * underflows; sub = min(15, ⌊(|v|−lo)·16/lo⌋) with lo = 2^(k−1) —
    * Sterbenz/power-of-two exact, identical to the Column form's tree.
    */
  def compute(v: Double): Long = {
    if (v == 0.0) return 0L
    val a = Math.abs(v)
    val bits = java.lang.Double.doubleToRawLongBits(a)
    val mant = bits & 0xFFFFFFFFFFFFFL
    val e =
      if (a >= java.lang.Double.MIN_NORMAL) Math.getExponent(a)
      else 63 - java.lang.Long.numberOfLeadingZeros(mant) - 1074
    val isPow2 =
      if (a >= java.lang.Double.MIN_NORMAL) mant == 0L
      else (mant & (mant - 1L)) == 0L
    val k = Math.max(if (isPow2) e else e + 1, -1073)
    val lo = Math.scalb(1.0, k - 1)
    val sub = Math.min(15L, Math.floor((a - lo) * 16.0 / lo).toLong)
    val mag = (k + 1100L) * 16L + sub
    if (v > 0.0) mag else -mag
  }
}

case class GearChunkEnds(child: Expression, maskBits: Int,
                         minSize: Int = 1, maxSize: Int = Int.MaxValue)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.BinaryType &&
        maskBits > 0 && maskBits <= 30 && minSize >= 1 && maxSize >= minSize)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gear_chunk_ends expects (BINARY payload) with 0 < maskBits <= 30 and " +
        s"1 <= minSize <= maxSize, got ${child.dataType.sql}, " +
        s"maskBits=$maskBits, minSize=$minSize, maxSize=$maxSize")
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "gear_chunk_ends"

  override def nullSafeEval(input: Any): Any =
    GearChunkEnds.compute(input.asInstanceOf[Array[Byte]], maskBits,
      minSize, maxSize)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GearChunkEnds.compute($c, $maskBits, $minSize, $maxSize);")

  override protected def withNewChildInternal(c: Expression): GearChunkEnds =
    copy(child = c)
}

object GearChunkEnds {

  /** splitmix64 finalizer (public-domain mixing constants) of b+1 — the
    * deterministic per-byte gear value. b+1, not b, so byte 0x00 doesn't
    * map through mix(0) (a weak all-zero-input point of the finalizer).
    */
  private[graft] def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private[graft] val table: Array[Long] = Array.tabulate(256)(b => mix(b + 1L))

  /** Two passes over the bytes — count cuts, then fill the exact-size
    * array — so per-row extra memory is O(chunks), never O(bytes).
    *
    * Bounds semantics (the FastCDC-shaped production form; `minSize = 1`,
    * `maxSize = MaxValue` degrades to the pure content-defined rule): the
    * rolling hash is GLOBAL (never reset at a cut — so the hash value at
    * any position is still a pure function of the trailing bytes, which
    * is what makes shifted streams re-synchronize); bounds only gate cut
    * ELIGIBILITY — a content cut is taken only when the current chunk has
    * reached `minSize` bytes, and a cut is forced at `maxSize` regardless
    * of content. Eligibility is sequential (each cut depends on the
    * previous one), which is why the bounded form is oracled through
    * materialized boundaries + a plain-Scala spec replica rather than the
    * windowed-SQL recomputation the pure form gets.
    */
  def compute(bytes: Array[Byte], maskBits: Int, minSize: Int = 1,
              maxSize: Int = Int.MaxValue): ArrayData = {
    val n = bytes.length
    val mask = (1L << maskBits) - 1
    def scan(emit: (Int, Long) => Unit): Int = {
      var cuts = 0
      var h = 0L
      var start = 0
      var i = 0
      while (i < n) {
        h = (h << 1) + table(bytes(i) & 0xFF)
        i += 1
        val len = i - start
        if (i < n &&
            ((len >= minSize && (h & mask) == 0L) || len >= maxSize)) {
          emit(cuts, i.toLong)
          cuts += 1
          start = i
        }
      }
      cuts
    }
    val cuts = scan((_, _) => ())
    val out = new Array[Long](if (n == 0) 0 else cuts + 1)
    if (n > 0) {
      scan((k, pos) => out(k) = pos)
      out(cuts) = n.toLong
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** k-word shingles of a token array in ONE fused loop —
  * `word_shingles(toks, k)` → ARRAY<STRING> of the n−k+1 space-joined
  * windows (empty when n < k), the hot-path form of
  * [[graft.functions.TextFunctions.wordShingles]].
  *
  * Why an expression (optimization r20): the HOF form
  * (`transform(sequence(...), i => concat_ws(" ", slice(toks, i+1, k)))`)
  * is CodegenFallback — every shingle pays interpreted lambda dispatch
  * plus a slice array allocation — and the shingle derivation sits in the
  * SCAN stage of every Jaccard-family operator, where a one-row-group
  * input file caps parallelism at one task (measured at sf0.1: ~450 ms
  * single-task for 5k docs; the fused loop is ~10×). One tight loop over
  * the token array, `UTF8String.concatWs` per window (byte-level identical
  * to `concat_ws`, including the skip-null-elements contract).
  *
  * Semantics contract (spec-pinned bit-equality with the HOF form): window
  * i = tokens i..i+k−1 joined by a single space with null elements
  * skipped; n < k → EMPTY array. Null INPUT → null here (standard unary
  * null propagation) where the HOF form yields an empty array — the
  * [[NativeFunctions.wordShinglesFused]] helper coalesces to empty so call
  * sites see the HOF behavior unchanged.
  */
case class WordShingles(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) if k >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects (ARRAY<STRING> toks) with k >= 1, got " +
        s"${child.dataType.sql}, k=$k")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[ArrayData], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordShingles.compute($c, $k);")

  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)
}

object WordShingles {
  private val sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  def compute(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    if (n < k) return new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.empty[Any])
    val out = new Array[AnyRef](n - k + 1)
    val parts = new Array[org.apache.spark.unsafe.types.UTF8String](k)
    var i = 0
    while (i + k <= n) {
      var j = 0
      while (j < k) {
        parts(j) = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
        j += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(sep, parts: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Overlapping character q-grams of a string in ONE fused loop —
  * `char_qgrams(s, q)` → ARRAY<STRING> of the n−q+1 sliding windows, or
  * `[s]` itself when the string is shorter than q — the hot-path form of
  * the edit-distance family's gram derivation.
  *
  * Why an expression (optimization r21, the [[WordShingles]] precedent):
  * the HOF form (`CASE WHEN length(s) >= q THEN transform(sequence(1,
  * length(s) − q + 1), i -> substring(s, i, q)) ELSE array(s) END`) is
  * CodegenFallback — every gram pays interpreted lambda dispatch plus a
  * fresh Substring expression walk from the string head — and it sits on
  * BOTH sides of every edit screen (corpus structures AND the per-batch
  * fresh side: d19/d20/d22–d25, e43/e46/e47, the index builds). The fused
  * loop walks the string's bytes once to index character boundaries, then
  * slices each window directly.
  *
  * Semantics contract (spec-pinned bit-equality with the HOF form):
  * `length`/`substring` are CHARACTER-based exactly like Spark's own
  * (windows are code-point windows; byte offsets derive from the same
  * UTF-8 char-length walk `UTF8String.numChars` does). n ≥ q → the
  * n−q+1 windows in order; n < q (including empty) → `[s]`. Null INPUT →
  * null here (standard unary null propagation) where the HOF form yields
  * `[s]` = `[null]` — the [[NativeFunctions.charQgramsFused]] helper
  * restores that edge so call sites see the HOF behavior unchanged.
  */
case class CharQgrams(child: Expression, q: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType if q >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"char_qgrams expects (STRING s) with q >= 1, got " +
        s"${child.dataType.sql}, q=$q")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "char_qgrams"

  override def nullSafeEval(input: Any): Any =
    CharQgrams.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], q)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CharQgrams.compute($c, $q);")

  override protected def withNewChildInternal(c: Expression): CharQgrams =
    copy(child = c)
}

object CharQgrams {
  def compute(s: org.apache.spark.unsafe.types.UTF8String,
              q: Int): ArrayData = {
    val bytes = s.getBytes
    val nBytes = bytes.length
    // one pass: byte offset of each character boundary (offsets(i) = first
    // byte of char i; offsets(nChars) = nBytes) — the same UTF-8
    // char-length walk numChars()/substringSQL take, done once per row
    // instead of once per window
    val offsets = new Array[Int](nBytes + 1)
    var nChars = 0
    var b = 0
    while (b < nBytes) {
      offsets(nChars) = b
      b += org.apache.spark.unsafe.types.UTF8String.numBytesForFirstByte(bytes(b))
      nChars += 1
    }
    offsets(nChars) = nBytes
    if (nChars < q)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](s))
    val out = new Array[AnyRef](nChars - q + 1)
    var i = 0
    while (i + q <= nChars) {
      out(i) = org.apache.spark.unsafe.types.UTF8String.fromBytes(
        bytes, offsets(i), offsets(i + q) - offsets(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** All `subspaces` product-quantization code assignments of a vector in
  * ONE fused loop — `pq_codes(vec, flatCodebooks, subspaces, k)` →
  * ARRAY<LONG> of length `subspaces`, where code s is the index ci
  * maximizing ⟨vec[s·sub .. s·sub+sub), codebook(s)(ci)⟩ (plain dot — the
  * PQ assignment ranks by inner product, no norm divide), ties to the
  * LOWEST ci. `flatCodebooks` is the subspaces × k × sub tensor flattened
  * row-major as a plan literal; sub derives as len/(subspaces·k).
  *
  * Why an expression (optimization r21, the [[HyperplaneSignatures]] /
  * [[NearestCentroid]] precedent): the per-subspace
  * `array_max(array(struct(dot, -ci)…))` forest is subspaces × k = 64
  * expression trees in one projection — past Janino's method budget, so
  * every corpus row's encoding ran interpreted in the s09/s10/s14/s19
  * scan stage (the same bailout class the MIH band codes hit in r20).
  *
  * Semantics contract (spec-pinned bit-equality with the struct-argmax
  * form): per subspace the dot is the sequential fold over the window in
  * array order; a window that runs past the vector's end (short/ragged
  * vector) or contains a null element makes that subspace's dots NULL,
  * and the struct ordering ranks null below every value with nc deciding
  * ties — so an all-null subspace yields code 0, exactly like the old
  * form. A NULL vector yields ALL-ZERO codes (not null) in the old form;
  * the expression null-propagates and the [[NativeFunctions.pqCodes]]
  * helper coalesces that edge back to the zero-code array.
  */
case class PqCodes(first: Expression, second: Expression,
                   subspaces: Int, k: Int)
    extends BinaryExpression {

  override def left: Expression = first
  override def right: Expression = second

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(first, second).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }) && subspaces >= 1 && k >= 1
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "pq_codes expects (ARRAY<DOUBLE> vec, ARRAY<DOUBLE> flat codebooks) " +
        s"with subspaces >= 1 and k >= 1, got ${first.dataType.sql} / " +
        s"${second.dataType.sql}, subspaces=$subspaces, k=$k")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = first.nullable || second.nullable
  override def prettyName: String = "pq_codes"

  private def vecElementsNullable: Boolean = first.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    PqCodes.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      subspaces, k, vecElementsNullable)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, f) =>
      s"${ev.value} = graft.functions.PqCodes.compute($v, $f, $subspaces, $k, $vecElementsNullable);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqCodes =
    copy(first = newLeft, second = newRight)
}

object PqCodes {
  def compute(vec: ArrayData, flat: ArrayData, subspaces: Int, k: Int,
              vecNullable: Boolean): ArrayData = {
    val sub = flat.numElements() / (subspaces * k)
    val out = new Array[Long](subspaces)
    locally {
      val dim = vec.numElements()
      var s = 0
      while (s < subspaces) {
        val base = s * sub
        // window validity: in range and (when the schema admits it) no
        // null elements — matches slice+dot's null conditions
        var winNull = base + sub > dim || sub == 0
        if (!winNull && vecNullable) {
          var i = 0
          while (i < sub && !winNull) {
            winNull = vec.isNullAt(base + i); i += 1
          }
        }
        var bestCi = 0
        if (!winNull) {
          var bestD = 0.0
          var bestSet = false
          var ci = 0
          while (ci < k) {
            var d = 0.0
            val cbase = (s * k + ci) * sub
            var i = 0
            while (i < sub) {
              d += vec.getDouble(base + i) * flat.getDouble(cbase + i)
              i += 1
            }
            // Double.compare ordering (NaN greatest, -0.0 < 0.0) — the
            // struct ordering's double comparison; strict > keeps the
            // lowest ci on ties
            if (!bestSet || java.lang.Double.compare(d, bestD) > 0) {
              bestD = d; bestCi = ci; bestSet = true
            }
            ci += 1
          }
        }
        out(s) = bestCi.toLong
        s += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** The best cells of a vector against a centroid matrix in ONE fused loop —
  * `nearest_centroid_cos|dot(vec, flatCents, norms)` → the best cell id
  * (LONG), and `nearest_centroids(vec, flatCents, norms, n)` → the `n` best
  * cell ids by cosine, best first (ARRAY<LONG> of min(n, k) entries).
  * `flatCents` is the k × dim centroid matrix flattened row-major and
  * `norms` the k centroid L2 norms, both plan literals. It is the one cell ranking of the IVF family
  * ([[graft.operators.Ivf]]): assignment is the n = 1 form, every probe the
  * n = nProbe form.
  *
  * Same motivation as [[HyperplaneSignatures]]: a k-struct argmax forest or
  * a crossJoin + window walk over the centroids blows past the codegen
  * budget (or shuffles n × k rows) once k is corpus-adaptive (√n).
  *
  * Semantics contract (spec-pinned bit-equality with the struct-argmax
  * form on non-degenerate input):
  *  - per centroid, sim = dot/(vnorm·norm_ci) when `useVnorm` (cosine;
  *    vnorm = √(Σv²) over the same sequential fold as `l2norm`, divisions
  *    in the same association) or dot/norm_ci when not (the k-means
  *    iteration form, argmax-invariant to the positive vnorm factor);
  *  - the sim is NULL when the dot is null (null vector element, dim
  *    mismatch), when the centroid's norm or a component is null, when
  *    norm_ci is 0, or, in the cosine form, when vnorm is 0 — the DuckDB
  *    oracle's `x / 0.0 = NULL`;
  *  - ranking is by sim under Spark's double total order
  *    (java.lang.Double.compare: NaN above all, -0.0 < 0.0), NULL sims
  *    last (`ORDER BY sim DESC` in Spark and DuckDB), ties to the LOWEST ci.
  *
  * So a zero-norm centroid ranks last for every vector and never captures
  * one, and a zero vector (every sim NULL) lands in cell 0 and probes cells
  * 0 .. n−1 — the oracle's `ORDER BY cosine DESC, cid` order exactly.
  */
case class NearestCentroid(first: Expression, second: Expression,
                           third: Expression, useVnorm: Boolean, n: Option[Int] = None)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(first, second, third).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }) && n.forall(_ >= 1)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "nearest_centroid expects (ARRAY<DOUBLE> vec, ARRAY<DOUBLE> flat centroids, " +
        s"ARRAY<DOUBLE> norms[, n >= 1]), got ${first.dataType.sql} / " +
        s"${second.dataType.sql} / ${third.dataType.sql}, n=${n.getOrElse(1)}")
  }
  override def dataType: DataType =
    if (n.isEmpty) org.apache.spark.sql.types.LongType
    else ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "nearest_centroid"
  override def nullable: Boolean = true

  private def elementsNullable(es: Expression*): Boolean = es.exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  // Internal callers pass containsNull=false literals
  // ([[NativeFunctions.nearestCentroid]] uses typedlit), so the per-element
  // null checks are skipped on the hot path and only guard the SQL surface.
  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val best = NearestCentroid.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], useVnorm,
      n.getOrElse(1), elementsNullable(first), elementsNullable(second, third))
    if (best == null) null
    else if (n.isEmpty) best(0)
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(best)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val best = ctx.freshName("best")
      val value =
        if (n.isEmpty) s"$best[0]"
        else s"new org.apache.spark.sql.catalyst.util.GenericArrayData($best)"
      s"""
         |long[] $best = graft.functions.NearestCentroid.compute($a, $b, $c, $useVnorm,
         |  ${n.getOrElse(1)}, ${elementsNullable(first)}, ${elementsNullable(second, third)});
         |if ($best == null) { ${ev.isNull} = true; } else { ${ev.value} = $value; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression): NearestCentroid =
    copy(first = f, second = s, third = t)
}

object NearestCentroid {
  /** The min(`n`, k) best cell ids of `v`, best first, under the class
    * contract; null when there are no centroids.
    */
  def compute(v: ArrayData, cents: ArrayData, norms: ArrayData, useVnorm: Boolean,
              n: Int, vecNullable: Boolean, matNullable: Boolean): Array[Long] = {
    val dim = v.numElements()
    val k = norms.numElements()
    if (k == 0) return null
    var dotNull = cents.numElements() != dim.toLong * k
    var i = 0
    while (vecNullable && i < dim && !dotNull) { dotNull = v.isNullAt(i); i += 1 }
    var vnorm = 0.0
    if (useVnorm && !dotNull) {
      var acc = 0.0
      i = 0
      while (i < dim) { acc += v.getDouble(i) * v.getDouble(i); i += 1 }
      vnorm = math.sqrt(acc)
    }
    val allNull = dotNull || (useVnorm && vnorm == 0.0)
    val m = math.min(n, k)
    val ids = new Array[Long](m)
    val sims = new Array[Double](m)
    val nulls = new Array[Boolean](m)
    var filled = 0
    var ci = 0
    while (ci < k) {
      var simNull = allNull || (matNullable && norms.isNullAt(ci))
      var sim = 0.0
      if (!simNull) {
        val norm = norms.getDouble(ci)
        simNull = norm == 0.0
        var d = 0.0
        val base = ci * dim
        i = 0
        while (i < dim && !simNull) {
          if (matNullable && cents.isNullAt(base + i)) simNull = true
          else { d += v.getDouble(i) * cents.getDouble(base + i); i += 1 }
        }
        if (!simNull) sim = if (useVnorm) d / (vnorm * norm) else d / norm
      }
      // insert behind every kept entry this one does not strictly beat, so
      // ties keep the lower ci first and NULL sims queue in ci order
      var p = filled
      while (p > 0 && !simNull &&
          (nulls(p - 1) || java.lang.Double.compare(sim, sims(p - 1)) > 0)) p -= 1
      if (p < m) {
        var j = math.min(filled, m - 1)
        while (j > p) {
          ids(j) = ids(j - 1); sims(j) = sims(j - 1); nulls(j) = nulls(j - 1); j -= 1
        }
        ids(p) = ci; sims(p) = sim; nulls(p) = simNull
        if (filled < m) filled += 1
      }
      ci += 1
    }
    ids
  }
}

/** Jackson over the UTF-8 bytes of a `coordinates` text, shared by
  * [[JsonArrayElements]] and [[GeoJsonFeature]]: they test and split the
  * feed's text as it is, never turning a number into a double and back.
  * Jackson's defaults are strict JSON: no `NaN`, single quotes, leading
  * zeros, missing values or trailing commas, and no nesting past 1000
  * levels.
  */
private object JsonBytes {
  private val factory = new com.fasterxml.jackson.core.JsonFactory()

  def isWs(c: Byte): Boolean = c == ' ' || c == '\n' || c == '\r' || c == '\t'

  /** A parser on the opening `[` of `b`, or null when `b` is not
    * whitespace and then an array. (Jackson also accepts a byte-order mark
    * and reads text with NUL bytes up front as UTF-16 or UTF-32, without
    * byte offsets; neither is JSON text here.)
    */
  def arrayParser(b: Array[Byte]): JsonParser = {
    val p = factory.createParser(b)
    val start =
      if (p.nextToken() == JsonToken.START_ARRAY) p.currentTokenLocation().getByteOffset.toInt
      else -1
    var i = 0
    while (i < start && isWs(b(i))) i += 1
    if (start >= 0 && i == start) p else { p.close(); null }
  }

  /** Is `b` exactly one well-formed JSON array, give or take surrounding
    * whitespace?
    */
  def isArray(b: Array[Byte]): Boolean =
    try {
      val p = arrayParser(b)
      p != null && (try { p.skipChildren(); p.nextToken() == null } finally p.close())
    } catch { case _: java.io.IOException => false }
}

/** The top-level elements of a JSON array text in ONE codegen'd pass —
  * `json_array_elements(text)` → ARRAY<STRING>, the Multi-geometry split
  * of [[graft.operators.CotripOps.explodeMulti]].
  *
  * Why an expression: `from_json(text, 'array<string>')` parses every
  * coordinate into a double and prints it back, and it falls back to
  * interpreted evaluation, which keeps the explode's `Generate` out of
  * whole-stage codegen. This pass only finds element boundaries.
  *
  * Semantics contract (spec-pinned): for text that is exactly one
  * well-formed JSON array (surrounding whitespace allowed), element i is
  * the exact slice of its JSON text (`[39.50,1e2]` stays `[39.50,1e2]`,
  * inner whitespace kept, surrounding whitespace dropped), a string
  * element gives its unescaped text and a JSON `null` gives null — the
  * elements `from_json` gives, minus its re-printing. Any other text
  * (another JSON value, malformed JSON, trailing garbage) gives null, as
  * `from_json` gives for malformed input; so does null.
  */
case class JsonArrayElements(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"json_array_elements expects STRING, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "json_array_elements"

  override def nullSafeEval(input: Any): Any =
    JsonArrayElements.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.JsonArrayElements.compute($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(c: Expression): JsonArrayElements =
    copy(child = c)
}

object JsonArrayElements {
  def compute(s: UTF8String): ArrayData = {
    // a private copy (or the string's own immutable array): the element
    // slices below are views into it
    val b = s.getBytes
    try {
      val p = JsonBytes.arrayParser(b)
      if (p == null) return null
      try {
        val out = new scala.collection.mutable.ArrayBuffer[Any]
        var t = p.nextToken()
        while (t != JsonToken.END_ARRAY) {
          out += (t match {
            case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
            case JsonToken.VALUE_NULL => null
            case _ =>
              val from = p.currentTokenLocation().getByteOffset.toInt
              p.skipChildren()
              UTF8String.fromBytes(b, from, p.currentLocation().getByteOffset.toInt - from)
          })
          t = p.nextToken()
        }
        if (p.nextToken() == null) new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
        else null
      } finally p.close()
    } catch { case _: java.io.IOException => null }
  }
}

/** One GeoJSON feature line with its coordinates emitted verbatim —
  * `geojson_feature(head, geometry)`, where `head` is the JSON object text
  * of the feature's other members (`to_json` of `id`, `type`,
  * `properties`) and `geometry` a `STRUCT<type STRING, coordinates
  * STRING>`. The result is `head` with `"geometry":{"type":…,
  * "coordinates":…}` appended as its last member; a null geometry or a
  * null member is written as JSON `null`.
  *
  * The coordinates text goes out unquoted only when it is exactly one
  * well-formed JSON array, with the whitespace outside its strings
  * dropped, so a feed that pretty-prints its coordinates still gives one
  * line per feature; any other text (a string the feed sent, malformed
  * text) goes out as a JSON string, escaped as `to_json` escapes it. So
  * every line is valid JSON, and the numbers of a well-formed feed are its
  * own bytes: no number is parsed or re-printed, and nothing is escaped
  * only to be stripped again.
  */
case class GeoJsonFeature(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = right.dataType match {
    case StructType(Array(StructField("type", StringType, _, _),
        StructField("coordinates", StringType, _, _))) if left.dataType == StringType =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "geojson_feature expects (STRING head, STRUCT<type STRING, coordinates STRING> " +
        s"geometry), got ${left.dataType.sql} / ${right.dataType.sql}")
  }
  override def dataType: DataType = StringType
  override def nullable: Boolean = left.nullable
  override def prettyName: String = "geojson_feature"

  // a null geometry is written as `null`, so only a null head nulls the row
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val head = left.eval(input)
    if (head == null) null
    else GeoJsonFeature.compute(head.asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = left.genCode(ctx)
    val g = right.genCode(ctx)
    ev.copy(code =
      code"""
         |${h.code}
         |${g.code}
         |boolean ${ev.isNull} = ${h.isNull};
         |UTF8String ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = graft.functions.GeoJsonFeature.compute(${h.value},
         |    ${g.isNull} ? null : ${g.value});
         |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GeoJsonFeature =
    copy(left = l, right = r)
}

object GeoJsonFeature {
  private def ascii(s: String) = s.getBytes(StandardCharsets.US_ASCII)
  private val geometryKey = ascii("\"geometry\":")
  private val typeKey = ascii("{\"type\":")
  private val coordinatesKey = ascii(",\"coordinates\":")
  private val nullText = ascii("null")

  /** `s` as a JSON string literal, escaped as `to_json` escapes it. */
  private def quote(out: java.io.ByteArrayOutputStream, s: UTF8String): Unit = {
    out.write('"')
    out.writeBytes(com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance()
      .quoteAsUTF8(s.toString))
    out.write('"')
  }

  /** The well-formed JSON text `b` without the whitespace outside its
    * strings; every other byte is copied as is.
    */
  private def writeCompact(out: java.io.ByteArrayOutputStream, b: Array[Byte]): Unit = {
    var from = 0
    var inString = false
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (inString) { if (c == '\\') i += 1 else if (c == '"') inString = false }
      else if (c == '"') inString = true
      else if (JsonBytes.isWs(c)) { out.write(b, from, i - from); from = i + 1 }
      i += 1
    }
    out.write(b, from, b.length - from)
  }

  def compute(head: UTF8String,
              geometry: org.apache.spark.sql.catalyst.InternalRow): UTF8String = {
    val h = head.getBytes
    var close = h.length - 1
    while (close >= 0 && h(close) != '}') close -= 1
    require(close > 0, s"geojson_feature: head is not a JSON object: $head")
    var last = close - 1
    while (last > 0 && JsonBytes.isWs(h(last))) last -= 1
    val out = new java.io.ByteArrayOutputStream(h.length + 64 +
      (if (geometry == null || geometry.isNullAt(1)) 0 else geometry.getUTF8String(1).numBytes))
    out.write(h, 0, close)
    if (h(last) != '{') out.write(',')
    out.writeBytes(geometryKey)
    if (geometry == null) out.writeBytes(nullText)
    else {
      out.writeBytes(typeKey)
      if (geometry.isNullAt(0)) out.writeBytes(nullText)
      else quote(out, geometry.getUTF8String(0))
      out.writeBytes(coordinatesKey)
      if (geometry.isNullAt(1)) out.writeBytes(nullText)
      else {
        val c = geometry.getUTF8String(1)
        val b = c.getBytes
        if (JsonBytes.isArray(b)) writeCompact(out, b)
        else quote(out, c)
      }
      out.write('}')
    }
    out.write('}')
    UTF8String.fromBytes(out.toByteArray)
  }
}

/** One native SQL function as both registration routes see it: its name,
  * the argument counts it accepts, probe arguments it builds from, and the
  * builder. A registered builder gets whatever argument list the query
  * wrote, and an unchecked `exprs(i)` surfaces as IndexOutOfBoundsException
  * — or worse, silently ignores an argument (ADVICE r11:
  * `gear_chunk_ends(payload, maskBits, minSize)` dropped minSize). So the
  * builder checks the count first and raises the standard WRONG_NUM_ARGS
  * AnalysisException naming the function, on either route.
  */
final class NativeFunction private[functions] (val name: String, arities: Seq[Int],
    val probe: Seq[Expression], build: Seq[Expression] => Expression) {
  val builder: Seq[Expression] => Expression = { exprs =>
    if (!arities.contains(exprs.length))
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$name`",
          "expectedNum" -> arities.mkString(" or "),
          "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    build(exprs)
  }
}

object NativeFunctions {

  private val vecProbe = Literal.create(Array(0.0), ArrayType(DoubleType, containsNull = false))
  private val intProbe = Literal(1)
  private val longProbe = Literal(0L)

  private def fn(name: String, arities: Int*)(probe: Expression*)(
      build: Seq[Expression] => Expression) = new NativeFunction(name, arities, probe, build)

  private val dotProductFn = fn("dot_product", 2)(vecProbe, vecProbe)(
    e => DotProduct(e(0), e(1)))
  private val wordShinglesFn = fn("word_shingles", 2)(
    Literal.create(Array("a"), ArrayType(StringType)), intProbe)(
    e => WordShingles(e(0), intConstArg("word_shingles", "k", e(1))))
  private val charQgramsFn = fn("char_qgrams", 2)(Literal.create("a", StringType), intProbe)(
    e => CharQgrams(e(0), intConstArg("char_qgrams", "q", e(1))))
  private val logLinCodeFn = fn("log_lin_code", 1)(Literal(1.0))(e => LogLinCode(e(0)))
  private val jsonArrayElementsFn = fn("json_array_elements", 1)(Literal("[]"))(
    e => JsonArrayElements(e(0)))
  private val geoJsonFeatureFn = fn("geojson_feature", 2)(
    Literal("{}"), Literal.create(null, graft.model.GeoSchemas.geometry))(
    e => GeoJsonFeature(e(0), e(1)))
  private val hyperplaneSignaturesFn = fn("hyperplane_signatures", 4)(
    vecProbe, vecProbe, intProbe, intProbe)(e => HyperplaneSignatures(e(0), e(1),
    intConstArg("hyperplane_signatures", "planesPerTable", e(2)),
    intConstArg("hyperplane_signatures", "tables", e(3))))
  private val pqCodesFn = fn("pq_codes", 4)(vecProbe, vecProbe, intProbe, intProbe)(
    e => PqCodes(e(0), e(1), intConstArg("pq_codes", "subspaces", e(2)),
      intConstArg("pq_codes", "k", e(3))))
  private val nearestCentroidCosFn = fn("nearest_centroid_cos", 3)(
    vecProbe, vecProbe, vecProbe)(e => NearestCentroid(e(0), e(1), e(2), useVnorm = true))
  private val nearestCentroidDotFn = fn("nearest_centroid_dot", 3)(
    vecProbe, vecProbe, vecProbe)(e => NearestCentroid(e(0), e(1), e(2), useVnorm = false))
  private val nearestCentroidsFn = fn("nearest_centroids", 4)(
    vecProbe, vecProbe, vecProbe, intProbe)(e => NearestCentroid(e(0), e(1), e(2),
    useVnorm = true, Some(intConstArg("nearest_centroids", "n", e(3)))))
  private val gearChunkEndsFn = fn("gear_chunk_ends", 2, 4)(
    Literal.create(Array.empty[Byte], BinaryType), intProbe) { e =>
    val maskBits = intConstArg("gear_chunk_ends", "maskBits", e(1))
    if (e.length == 4)
      GearChunkEnds(e(0), maskBits, intConstArg("gear_chunk_ends", "minSize", e(2)),
        intConstArg("gear_chunk_ends", "maxSize", e(3)))
    else GearChunkEnds(e(0), maskBits)
  }
  // Spark's runtime-filter pair under graft_ names (see [[bloomAggBytes]])
  private val bloomAggFn = fn("graft_bloom_agg", 3)(longProbe, longProbe, longProbe)(
    e => new BloomFilterAggregate(e(0), e(1), e(2)))
  private val mightContainFn = fn("graft_might_contain", 2)(
    Literal.create(null, BinaryType), longProbe)(e => BloomFilterMightContain(e(0), e(1)))
  private[functions] val hilbertKeyFn = fn("hilbert_key", 3)(
    Literal(1L), Literal(1L), Literal(4))(
    e => HilbertIndex(e(0), e(1), intConstArg("hilbert_key", "bits", e(2))))

  /** Every native SQL function, read by both registration routes: the lazy
    * [[ensure]] of the Column helpers and [[graft.GraftExtensions]].
    */
  private[graft] val table: Seq[NativeFunction] = Seq(dotProductFn, wordShinglesFn,
    charQgramsFn, logLinCodeFn, jsonArrayElementsFn, geoJsonFeatureFn,
    hyperplaneSignaturesFn, pqCodesFn, nearestCentroidCosFn, nearestCentroidDotFn,
    nearestCentroidsFn, gearChunkEndsFn, bloomAggFn, mightContainFn, hilbertKeyFn)

  /** Idempotent, atomic session registration of one native function: the
    * check and the registration run under the registry's own lock, so
    * concurrent first-use threads cannot interleave them. Skips only when
    * the name already RESOLVES TO OURS — what it resolves to for the probe
    * arguments equals what `f` builds from them (this avoids the
    * re-registration WARN every operator call would otherwise log). A
    * same-named foreign function gets replaced, so the operators can never
    * silently compute through someone else's implementation.
    */
  private[graft] def ensure(spark: SparkSession, f: NativeFunction): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = FunctionIdentifier(f.name)
    registry.synchronized {
      val isOurs = registry.functionExists(ident) &&
        (try registry.lookupFunction(ident, f.probe) == f.builder(f.probe)
         catch { case _: Throwable => false })
      if (!isOurs) registry.createOrReplaceTempFunction(f.name, f.builder, "built-in")
    }
  }

  /** `f` applied to `args`, registering it first. */
  private[functions] def call(spark: SparkSession, f: NativeFunction, args: Column*): Column = {
    ensure(spark, f)
    call_function(f.name, args: _*)
  }

  /** Registration of `dot_product` and `word_shingles` (both exposed to
    * SQL too) — see [[ensure]].
    */
  def register(spark: SparkSession): Unit = {
    ensure(spark, dotProductFn)
    ensure(spark, wordShinglesFn)
  }

  def dotProduct(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function(dotProductFn.name, a, b)
  }

  /** k-word shingles via the fused native loop (registered by
    * [[register]]; see [[WordShingles]]) — drop-in for
    * [[graft.functions.TextFunctions.wordShingles]] including the
    * null-text edge: the expression null-propagates, so the helper
    * coalesces a null input to the HOF form's empty array.
    */
  def wordShinglesFused(spark: SparkSession, toks: Column, k: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.coalesce(
      call_function(wordShinglesFn.name, toks, lit(k)),
      typedlit(Array.empty[String]))
  }

  /** Character q-grams via the fused native loop (registers on first use;
    * see [[CharQgrams]]) — drop-in for the edit family's HOF gram
    * derivation including the null-string edge: the expression
    * null-propagates, so the helper restores the HOF CASE's `array(s)` =
    * `[null]` for a null input (call sites filter nulls upstream; the
    * edge stays bit-identical anyway).
    */
  def charQgramsFused(spark: SparkSession, s: Column, q: Int): Column =
    org.apache.spark.sql.functions.when(s.isNull,
      org.apache.spark.sql.functions.array(s))
      .otherwise(call(spark, charQgramsFn, s, lit(q)))

  /** Log-linear sketch code via the native expression (registers on first
    * use; see [[LogLinCode]] — the hot-path form of
    * [[graft.operators.Sketches.logLinCode]]).
    */
  def logLinCode(spark: SparkSession, v: Column): Column = call(spark, logLinCodeFn, v)

  /** The top-level elements of a JSON array text as exact slices (registers
    * on first use; see [[JsonArrayElements]]).
    */
  def jsonArrayElements(spark: SparkSession, text: Column): Column =
    call(spark, jsonArrayElementsFn, text)

  /** A GeoJSON feature line with verbatim coordinates (registers on first
    * use; see [[GeoJsonFeature]]): `head` is the feature's other members
    * as a JSON object text.
    */
  def geoJsonFeature(spark: SparkSession, head: Column, geometry: Column): Column =
    call(spark, geoJsonFeatureFn, head, geometry)

  /** All `tables` LSH signatures of `vec` against the flattened row-major
    * plane matrix, as one fused-loop column (see [[HyperplaneSignatures]]).
    */
  def hyperplaneSignatures(spark: SparkSession, vec: Column,
                           flatPlanes: Array[Double],
                           planesPerTable: Int, tables: Int): Column =
    // typedlit: containsNull=false element type (lit() declares true), so
    // the fused loop's per-element null branch keys off the vector side only
    call(spark, hyperplaneSignaturesFn, vec, typedlit(flatPlanes),
      lit(planesPerTable), lit(tables))

  /** All product-quantization subspace codes by the fused argmax loop
    * (see [[PqCodes]]): `cbs` is the per-subspace codebook array
    * (subspaces × k × sub). The null-vector edge coalesces back to the
    * struct-argmax form's all-zero codes.
    */
  def pqCodes(spark: SparkSession, vec: Column,
              cbs: Seq[Array[Array[Double]]]): Column =
    org.apache.spark.sql.functions.coalesce(
      call(spark, pqCodesFn, vec, typedlit(cbs.flatten.flatten.toArray),
        lit(cbs.length), lit(cbs.head.length)),
      typedlit(Array.fill(cbs.length)(0L)))

  /** The best cell id by the fused ranking loop (see [[NearestCentroid]]).
    * `useVnorm = true` is the cosine form; `false` the k-means iteration
    * form (vnorm factored out). Registers both forms.
    */
  def nearestCentroid(spark: SparkSession, vec: Column,
                      flatCents: Array[Double], norms: Array[Double],
                      useVnorm: Boolean): Column = {
    ensure(spark, nearestCentroidCosFn)
    ensure(spark, nearestCentroidDotFn)
    // typedlit (containsNull=false): keeps the ranking loop branch-free —
    // the null-element guard runs only for genuinely nullable args
    call_function((if (useVnorm) nearestCentroidCosFn else nearestCentroidDotFn).name,
      vec, typedlit(flatCents), typedlit(norms))
  }

  /** The `n` best cell ids by cosine, best first (ARRAY<LONG>): the same
    * ranking as [[nearestCentroid]]'s cosine form, one probe per row.
    */
  def nearestCentroids(spark: SparkSession, vec: Column, flatCents: Array[Double],
                       norms: Array[Double], n: Int): Column =
    call(spark, nearestCentroidsFn, vec, typedlit(flatCents), typedlit(norms), lit(n))

  /** Gear content-defined chunk end positions of a BINARY payload (see
    * [[GearChunkEnds]]); `minSize`/`maxSize` bound chunk lengths (the
    * FastCDC-shaped production form — defaults are the unbounded pure
    * rule).
    */
  def gearChunkEnds(spark: SparkSession, payload: Column, maskBits: Int,
                    minSize: Int = 1,
                    maxSize: Int = Int.MaxValue): Column =
    if (minSize == 1 && maxSize == Int.MaxValue)
      call(spark, gearChunkEndsFn, payload, lit(maskBits))
    else call(spark, gearChunkEndsFn, payload, lit(maskBits), lit(minSize), lit(maxSize))

  /** Resolve a knob argument to its Int value at function-build time (the
    * knobs shape the expression, so they must be plan constants). A bare
    * `exprs(i).eval().asInstanceOf[Int]` threw an unreadable
    * unbound-attribute UnsupportedOperationException on column arguments
    * and a ClassCastException on LONG literals (ADVICE r9); this raises the
    * standard NON_FOLDABLE_ARGUMENT AnalysisException instead.
    */
  private def intConstArg(funcName: String, paramName: String, e: Expression): Int = {
    def fail() = throw new org.apache.spark.sql.AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map(
        "funcName" -> s"`$funcName`",
        "paramName" -> s"`$paramName`",
        "paramType" -> "\"INT\""))
    e match {
      case Literal(i: Int, IntegerType) => i
      case other if other.foldable && other.dataType == IntegerType =>
        other.eval() match {
          case i: java.lang.Integer => i.intValue
          case _ => fail()
        }
      case _ => fail()
    }
  }

  /** Spark's own runtime-filter primitives — `BloomFilterAggregate` /
    * `BloomFilterMightContain`, the expression pair `InjectRuntimeFilter`
    * plants to prune a shuffle join's probe side — exposed as callable
    * functions (they are not in the public registry). An operator can then
    * apply an EXPLICIT semi-join reduction where the optimizer's heuristic
    * (a selective scan-level filter on the build side, creation-side size
    * thresholds) can never fire: in the dedup screen the "build side" is an
    * entire small table, not a filtered one. Both expressions are
    * codegen-friendly; the sketch rides the plan as a BINARY literal and
    * ships to executors once with the task closure. Each of the two
    * helpers registers the pair.
    */
  private val bloomPair = Seq(bloomAggFn, mightContainFn)

  /** Build a bloom filter over `hash` (a LONG column, conventionally
    * `xxhash64(...)`) across all rows of `df`, returning the serialized
    * sketch (`BloomFilterImpl` format, the one [[mightContain]] reads).
    * Runs one job over `df` — call it on the SMALL side of a planned
    * reduction. Returns null on empty input (no rows → no sketch).
    *
    * Sizing is a cost knob, never a correctness one: oversizing `numBits`
    * costs sketch bytes, undersizing costs false-positive probe rows that
    * the downstream exact join drops anyway.
    */
  def bloomAggBytes(df: org.apache.spark.sql.DataFrame, hash: Column,
                    expectedItems: Long, numBits: Long): Array[Byte] = {
    bloomPair.foreach(ensure(df.sparkSession, _))
    df.select(call_function(bloomAggFn.name, hash,
        lit(expectedItems), lit(numBits)))
      .head().getAs[Array[Byte]](0)
  }

  /** Membership probe against a [[bloomAggBytes]] sketch: true if `hash`
    * might be in the set, false only when it is definitely absent — the
    * no-false-negatives guarantee that makes a bloom prefilter semantics-
    * preserving in front of any exact join. A null `bloom` (empty build
    * side) yields a constant-false filter: nothing can match.
    */
  def mightContain(spark: SparkSession, bloom: Array[Byte], hash: Column): Column =
    if (bloom == null) lit(false)
    else {
      bloomPair.foreach(ensure(spark, _))
      call_function(mightContainFn.name, lit(bloom), hash)
    }
}
