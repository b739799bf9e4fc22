package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit, typedlit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

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

/** Max-similarity centroid id of a vector against a centroid matrix in ONE
  * fused loop — `nearest_centroid(vec, flatCents, norms, useVnorm)` → LONG.
  * `flatCents` is the k × dim centroid matrix flattened row-major and
  * `norms` the k centroid L2 norms, both plan literals.
  *
  * Same motivation as [[HyperplaneSignatures]]: the k-struct
  * `array_max(array(struct(dot/…, -ci)…))` argmax forest blows past the
  * codegen budget once k is corpus-adaptive (√n — 141 at the 10× smoke)
  * and every dot runs interpreted.
  *
  * Semantics contract (spec-pinned bit-equality with the struct-argmax
  * form, [[graft.operators.Similarity.assignToCentroids]]):
  *  - per centroid, sim = dot/(vnorm·norm_ci) when `useVnorm` (cosine
  *    assignment; vnorm = √(Σv²) over the same sequential fold as
  *    `l2norm`, divisions in the same association) or dot/norm_ci when not
  *    (the k-means iteration form, argmax-invariant to the positive vnorm
  *    factor), where a zero norm_ci in the latter form pins sim = -∞ (the
  *    degenerate-seed guard);
  *  - a null dot (null vector element / dim mismatch) is a NULL sim,
  *    ranking below every value exactly like Spark's struct ordering; a
  *    null NORM or null CENTROID component likewise nulls that centroid's
  *    sim (ADVICE r9 — previously those flowed through getDouble as a
  *    silent 0.0);
  *  - winner = highest sim under Spark's double total order
  *    (java.lang.Double.compare: NaN above all, -0.0 < 0.0), ties to the
  *    LOWEST ci — the `(sim, -ci)` lexicographic max.
  *
  * Degenerate norms (cosine form only): division is IEEE, like the DuckDB
  * oracle — a zero vnorm makes every sim NaN (→ ci 0 by the tie rule); an
  * un-guarded zero-norm CENTROID yields 0/0 = NaN which ranks above every
  * real sim and captures the row. NB the expression-forest form this
  * replaces did NOT get that far under Spark 4's default ANSI mode — it
  * threw DIVIDE_BY_ZERO — so the fused loop is strictly more permissive
  * there, and agrees with the oracle. Training paths use the guarded
  * iteration form (`useVnorm = false`, zero-norm → -∞), so the hazard is
  * confined to a genuinely zero-mean trained cluster.
  */
case class NearestCentroid(first: Expression, second: Expression,
                           third: Expression, useVnorm: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(first, second, third).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "nearest_centroid expects (ARRAY<DOUBLE> vec, ARRAY<DOUBLE> flat centroids, " +
        s"ARRAY<DOUBLE> norms), got ${first.dataType.sql} / ${second.dataType.sql} / ${third.dataType.sql}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "nearest_centroid"
  override def nullable: Boolean = true

  private def vecElementsNullable: Boolean = first.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  // null elements in the CENTROID/NORM arrays get the same treatment as the
  // vector path: a null norm or null centroid component makes that
  // centroid's sim NULL (ranks below every value), never a silent 0.0
  // through getDouble's unboxing (ADVICE r9). Internal callers pass
  // containsNull=false literals ([[NativeFunctions.nearestCentroid]] uses
  // typedlit, whose Scala-reflected schema carries primitive-element
  // non-nullability), so the per-element branch compiles away on the hot
  // path and only guards the SQL surface.
  private def matElementsNullable: Boolean = Seq(second, third).exists(_.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  })

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val cents = b.asInstanceOf[ArrayData]
    val norms = c.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val k = norms.numElements()
    if (k == 0) return null
    val dimOk = cents.numElements() == dim.toLong * k
    var vHasNull = false
    if (vecElementsNullable) {
      var i = 0
      while (i < dim && !vHasNull) { vHasNull = v.isNullAt(i); i += 1 }
    }
    val dotNull = !dimOk || vHasNull
    val matsNullable = matElementsNullable
    var vnorm = 0.0
    if (useVnorm && !dotNull) {
      var i = 0
      var acc = 0.0
      while (i < dim) { acc += v.getDouble(i) * v.getDouble(i); i += 1 }
      vnorm = math.sqrt(acc)
    }
    var bestCi = 0
    var bestSim = 0.0
    var bestNull = true
    var ci = 0
    while (ci < k) {
      var simNull = dotNull
      var sim = 0.0
      if (matsNullable && norms.isNullAt(ci)) simNull = true
      else {
        val norm = norms.getDouble(ci)
        if (!useVnorm && norm == 0.0) { sim = Double.NegativeInfinity; simNull = false }
        else if (!dotNull) {
          var d = 0.0
          val base = ci * dim
          var i = 0
          while (i < dim && !simNull) {
            if (matsNullable && cents.isNullAt(base + i)) simNull = true
            else { d += v.getDouble(i) * cents.getDouble(base + i); i += 1 }
          }
          if (!simNull) sim = if (useVnorm) d / (vnorm * norm) else d / norm
        }
      }
      val wins =
        if (ci == 0) true
        else if (simNull) false
        else if (bestNull) true
        else java.lang.Double.compare(sim, bestSim) > 0
      if (wins) { bestCi = ci; bestSim = sim; bestNull = simNull }
      ci += 1
    }
    bestCi.toLong
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val dim = ctx.freshName("dim")
      val k = ctx.freshName("k")
      val dotNull = ctx.freshName("dotNull")
      val vnorm = ctx.freshName("vnorm")
      val acc = ctx.freshName("acc")
      val bestCi = ctx.freshName("bestCi")
      val bestSim = ctx.freshName("bestSim")
      val bestNull = ctx.freshName("bestNull")
      val ci = ctx.freshName("ci")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      val base = ctx.freshName("base")
      val norm = ctx.freshName("nrm")
      val sim = ctx.freshName("sim")
      val simNull = ctx.freshName("simNull")
      val wins = ctx.freshName("wins")
      val vNullScan =
        if (vecElementsNullable)
          s"for (int $i = 0; $i < $dim && !$dotNull; $i++) { if ($a.isNullAt($i)) $dotNull = true; }"
        else ""
      val vnormCalc =
        if (useVnorm)
          s"""
             |double $acc = 0.0;
             |if (!$dotNull) {
             |  for (int $i = 0; $i < $dim; $i++) {
             |    $acc += $a.getDouble($i) * $a.getDouble($i);
             |  }
             |  $vnorm = java.lang.Math.sqrt($acc);
             |}
           """.stripMargin
        else ""
      val simCalc =
        if (useVnorm) s"if (!$simNull) $sim = $d / ($vnorm * $norm);"
        else s"if (!$simNull) $sim = $d / $norm;"
      val zeroNormGuard =
        if (useVnorm) ""
        else s"if ($norm == 0.0) { $sim = Double.NEGATIVE_INFINITY; $simNull = false; } else"
      val normNullGuard =
        if (matElementsNullable)
          s"if ($c.isNullAt($ci)) { $simNull = true; } else"
        else ""
      val centNullCheck =
        if (matElementsNullable)
          s"if ($b.isNullAt($base + $i)) { $simNull = true; break; }"
        else ""
      s"""
         |int $dim = $a.numElements();
         |int $k = $c.numElements();
         |if ($k == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  boolean $dotNull = $b.numElements() != (long) $dim * $k;
         |  $vNullScan
         |  double $vnorm = 0.0;
         |  $vnormCalc
         |  int $bestCi = 0;
         |  double $bestSim = 0.0;
         |  boolean $bestNull = true;
         |  for (int $ci = 0; $ci < $k; $ci++) {
         |    boolean $simNull = $dotNull;
         |    double $sim = 0.0;
         |    $normNullGuard
         |    {
         |      double $norm = $c.getDouble($ci);
         |      $zeroNormGuard
         |      if (!$dotNull) {
         |        double $d = 0.0;
         |        int $base = $ci * $dim;
         |        for (int $i = 0; $i < $dim; $i++) {
         |          $centNullCheck
         |          $d += $a.getDouble($i) * $b.getDouble($base + $i);
         |        }
         |        $simCalc
         |      }
         |    }
         |    boolean $wins = ($ci == 0) ||
         |      (!$simNull && ($bestNull || java.lang.Double.compare($sim, $bestSim) > 0));
         |    if ($wins) { $bestCi = $ci; $bestSim = $sim; $bestNull = $simNull; }
         |  }
         |  ${ev.value} = (long) $bestCi;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression): NearestCentroid =
    copy(first = f, second = s, third = t)
}

object NativeFunctions {

  /** Idempotent session registration of `dot_product` and
    * `word_shingles` (both exposed to SQL too) in one atomic step: the
    * checks and the registrations run under the registry's own lock, so
    * concurrent first-use threads cannot interleave them. Skips a
    * function only when its registered name already RESOLVES TO OURS
    * (avoids the re-registration WARN every operator call would otherwise
    * log) — a same-named foreign function gets replaced, so the operators
    * can never silently compute through someone else's implementation.
    * [[graft.GraftExtensions]] is the config-time alternative.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def ours(name: String, probe: Seq[Expression], is: Expression => Boolean): Boolean = {
      val ident = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      registry.functionExists(ident) &&
        (try is(registry.lookupFunction(ident, probe)) catch { case _: Throwable => false })
    }
    val vec = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Array(0.0), ArrayType(DoubleType, containsNull = false))
    val words = org.apache.spark.sql.catalyst.expressions.Literal.create(
      Array("a"), ArrayType(org.apache.spark.sql.types.StringType))
    val one = org.apache.spark.sql.catalyst.expressions.Literal(1)
    registry.synchronized {
      if (!ours("dot_product", Seq(vec, vec), _.isInstanceOf[DotProduct]))
        registry.createOrReplaceTempFunction(
          "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
      if (!ours("word_shingles", Seq(words, one), _.isInstanceOf[WordShingles]))
        registry.createOrReplaceTempFunction("word_shingles", { exprs =>
          requireArity("word_shingles", Seq(2), exprs.length)
          WordShingles(exprs(0), intConstArg("word_shingles", "k", exprs(1)))
        }, "built-in")
    }
  }

  def dotProduct(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("dot_product", a, b)
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
      call_function("word_shingles", toks, lit(k)),
      typedlit(Array.empty[String]))
  }

  /** Character q-grams via the fused native loop (registers on first use;
    * see [[CharQgrams]]) — drop-in for the edit family's HOF gram
    * derivation including the null-string edge: the expression
    * null-propagates, so the helper restores the HOF CASE's `array(s)` =
    * `[null]` for a null input (call sites filter nulls upstream; the
    * edge stays bit-identical anyway).
    */
  def charQgramsFused(spark: SparkSession, s: Column, q: Int): Column = {
    registerCharQgrams(spark)
    org.apache.spark.sql.functions.when(s.isNull,
      org.apache.spark.sql.functions.array(s))
      .otherwise(call_function("char_qgrams", s, lit(q)))
  }

  private def registerCharQgrams(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = org.apache.spark.sql.catalyst.FunctionIdentifier("char_qgrams")
    val alreadyOurs = registry.functionExists(ident) &&
      (try {
        val str = org.apache.spark.sql.catalyst.expressions.Literal.create(
          "a", org.apache.spark.sql.types.StringType)
        val one = org.apache.spark.sql.catalyst.expressions.Literal(1)
        registry.lookupFunction(ident, Seq(str, one))
          .isInstanceOf[CharQgrams]
      } catch { case _: Throwable => false })
    if (!alreadyOurs) {
      registry.createOrReplaceTempFunction("char_qgrams", { exprs =>
        requireArity("char_qgrams", Seq(2), exprs.length)
        CharQgrams(exprs(0), intConstArg("char_qgrams", "q", exprs(1)))
      }, "built-in")
    }
  }

  /** Log-linear sketch code via the native expression (registers on first
    * use; see [[LogLinCode]] — the hot-path form of
    * [[graft.operators.Sketches.logLinCode]]).
    */
  def logLinCode(spark: SparkSession, v: Column): Column = {
    registerLogLin(spark)
    call_function("log_lin_code", v)
  }

  private def registerLogLin(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = org.apache.spark.sql.catalyst.FunctionIdentifier("log_lin_code")
    val alreadyOurs = registry.functionExists(ident) &&
      (try {
        registry.lookupFunction(ident, Seq(
          org.apache.spark.sql.catalyst.expressions.Literal(1.0)))
          .isInstanceOf[LogLinCode]
      } catch { case _: Throwable => false })
    if (!alreadyOurs) {
      registry.createOrReplaceTempFunction(
        "log_lin_code", exprs => LogLinCode(exprs(0)), "built-in")
    }
  }

  /** All `tables` LSH signatures of `vec` against the flattened row-major
    * plane matrix, as one fused-loop column (see [[HyperplaneSignatures]]).
    */
  def hyperplaneSignatures(spark: SparkSession, vec: Column,
                           flatPlanes: Array[Double],
                           planesPerTable: Int, tables: Int): Column = {
    registerSignatures(spark)
    // typedlit: containsNull=false element type (lit() declares true), so
    // the fused loop's per-element null branch keys off the vector side only
    call_function("hyperplane_signatures", vec, typedlit(flatPlanes),
      lit(planesPerTable), lit(tables))
  }

  /** All product-quantization subspace codes by the fused argmax loop
    * (see [[PqCodes]]): `cbs` is the per-subspace codebook array
    * (subspaces × k × sub). The null-vector edge coalesces back to the
    * struct-argmax form's all-zero codes.
    */
  def pqCodes(spark: SparkSession, vec: Column,
              cbs: Seq[Array[Array[Double]]]): Column = {
    registerPqCodes(spark)
    org.apache.spark.sql.functions.coalesce(
      call_function("pq_codes", vec, typedlit(cbs.flatten.flatten.toArray),
        lit(cbs.length), lit(cbs.head.length)),
      typedlit(Array.fill(cbs.length)(0L)))
  }

  private def registerPqCodes(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = org.apache.spark.sql.catalyst.FunctionIdentifier("pq_codes")
    val alreadyOurs = registry.functionExists(ident) &&
      (try {
        val arr = org.apache.spark.sql.catalyst.expressions.Literal.create(
          Array(0.0), ArrayType(DoubleType, containsNull = false))
        val one = org.apache.spark.sql.catalyst.expressions.Literal(1)
        registry.lookupFunction(ident, Seq(arr, arr, one, one))
          .isInstanceOf[PqCodes]
      } catch { case _: Throwable => false })
    if (!alreadyOurs) {
      registry.createOrReplaceTempFunction("pq_codes", { exprs =>
        requireArity("pq_codes", Seq(4), exprs.length)
        PqCodes(exprs(0), exprs(1),
          intConstArg("pq_codes", "subspaces", exprs(2)),
          intConstArg("pq_codes", "k", exprs(3)))
      }, "built-in")
    }
  }

  /** Nearest-centroid id by the fused argmax loop (see [[NearestCentroid]]).
    * `useVnorm = true` is the cosine-assignment form; `false` the k-means
    * iteration form (vnorm factored out, zero-norm seeds pinned to -∞).
    */
  def nearestCentroid(spark: SparkSession, vec: Column,
                      flatCents: Array[Double], norms: Array[Double],
                      useVnorm: Boolean): Column = {
    registerNearest(spark)
    // typedlit (containsNull=false): keeps the argmax loop branch-free —
    // the null-element guard compiles in only for genuinely nullable args
    call_function(
      if (useVnorm) "nearest_centroid_cos" else "nearest_centroid_dot",
      vec, typedlit(flatCents), typedlit(norms))
  }

  private def registerNearest(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Seq(("nearest_centroid_cos", true), ("nearest_centroid_dot", false)).foreach {
      case (name, useVnorm) =>
        val ident = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
        val alreadyOurs = registry.functionExists(ident) &&
          (try {
            val arr = org.apache.spark.sql.catalyst.expressions.Literal.create(
              Array(0.0), ArrayType(DoubleType, containsNull = false))
            registry.lookupFunction(ident, Seq(arr, arr, arr)) match {
              case NearestCentroid(_, _, _, u) => u == useVnorm
              case _ => false
            }
          } catch { case _: Throwable => false })
        if (!alreadyOurs) {
          registry.createOrReplaceTempFunction(name, exprs =>
            NearestCentroid(exprs(0), exprs(1), exprs(2), useVnorm), "built-in")
        }
    }
  }

  /** Resolve a knob argument of `hyperplane_signatures` to its Int value at
    * function-build time (the knobs shape the expression, so they must be
    * plan constants). A bare `exprs(i).eval().asInstanceOf[Int]` threw an
    * unreadable unbound-attribute UnsupportedOperationException on column
    * arguments and a ClassCastException on LONG literals (ADVICE r9); this
    * raises the standard NON_FOLDABLE_ARGUMENT AnalysisException instead.
    */
  /** Arity check for SQL-registered builders: `createOrReplaceTempFunction`
    * hands the builder whatever argument list the query wrote, and an
    * unchecked `exprs(i)` surfaces as IndexOutOfBoundsException — or worse,
    * silently ignores an argument when a fallback branch matches (ADVICE
    * r11: `gear_chunk_ends(payload, maskBits, minSize)` dropped minSize).
    * Raises the standard WRONG_NUM_ARGS AnalysisException instead.
    */
  private[graft] def requireArity(funcName: String, allowed: Seq[Int],
                                  actual: Int): Unit =
    if (!allowed.contains(actual))
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$funcName`",
          "expectedNum" -> allowed.mkString(" or "),
          "actualNum" -> actual.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))

  private[graft] def intConstArg(funcName: String, paramName: String,
                                 e: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
    def fail() = throw new org.apache.spark.sql.AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map(
        "funcName" -> s"`$funcName`",
        "paramName" -> s"`$paramName`",
        "paramType" -> "\"INT\""))
    e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(i: Int, IntegerType) => i
      case other if other.foldable && other.dataType == IntegerType =>
        other.eval() match {
          case i: java.lang.Integer => i.intValue
          case _ => fail()
        }
      case _ => fail()
    }
  }

  private def registerSignatures(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = org.apache.spark.sql.catalyst.FunctionIdentifier("hyperplane_signatures")
    val alreadyOurs = registry.functionExists(ident) &&
      (try {
        val arr = org.apache.spark.sql.catalyst.expressions.Literal.create(
          Array(0.0), ArrayType(DoubleType, containsNull = false))
        val one = org.apache.spark.sql.catalyst.expressions.Literal(1)
        registry.lookupFunction(ident, Seq(arr, arr, one, one))
          .isInstanceOf[HyperplaneSignatures]
      } catch { case _: Throwable => false })
    if (!alreadyOurs) {
      registry.createOrReplaceTempFunction("hyperplane_signatures", exprs =>
        HyperplaneSignatures(exprs(0), exprs(1),
          intConstArg("hyperplane_signatures", "planesPerTable", exprs(2)),
          intConstArg("hyperplane_signatures", "tables", exprs(3))),
        "built-in")
    }
  }

  private def registerGear(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = org.apache.spark.sql.catalyst.FunctionIdentifier("gear_chunk_ends")
    val alreadyOurs = registry.functionExists(ident) &&
      (try {
        val blob = org.apache.spark.sql.catalyst.expressions.Literal.create(
          Array.empty[Byte], org.apache.spark.sql.types.BinaryType)
        val one = org.apache.spark.sql.catalyst.expressions.Literal(6)
        registry.lookupFunction(ident, Seq(blob, one))
          .isInstanceOf[GearChunkEnds]
      } catch { case _: Throwable => false })
    if (!alreadyOurs) {
      registry.createOrReplaceTempFunction("gear_chunk_ends", { exprs =>
        requireArity("gear_chunk_ends", Seq(2, 4), exprs.length)
        if (exprs.length == 4)
          GearChunkEnds(exprs(0),
            intConstArg("gear_chunk_ends", "maskBits", exprs(1)),
            intConstArg("gear_chunk_ends", "minSize", exprs(2)),
            intConstArg("gear_chunk_ends", "maxSize", exprs(3)))
        else GearChunkEnds(exprs(0),
          intConstArg("gear_chunk_ends", "maskBits", exprs(1)))
      }, "built-in")
    }
  }

  /** Gear content-defined chunk end positions of a BINARY payload (see
    * [[GearChunkEnds]]); `minSize`/`maxSize` bound chunk lengths (the
    * FastCDC-shaped production form — defaults are the unbounded pure
    * rule).
    */
  def gearChunkEnds(spark: SparkSession, payload: Column, maskBits: Int,
                    minSize: Int = 1,
                    maxSize: Int = Int.MaxValue): Column = {
    registerGear(spark)
    if (minSize == 1 && maxSize == Int.MaxValue)
      call_function("gear_chunk_ends", payload, lit(maskBits))
    else call_function("gear_chunk_ends", payload, lit(maskBits),
      lit(minSize), lit(maxSize))
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
    * ships to executors once with the task closure.
    */
  private def registerBloom(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    val ident = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_might_contain")
    val alreadyOurs = registry.functionExists(ident) &&
      (try {
        val bloomProbe = org.apache.spark.sql.catalyst.expressions.Literal.create(
          null, org.apache.spark.sql.types.BinaryType)
        val valueProbe = org.apache.spark.sql.catalyst.expressions.Literal(0L)
        registry.lookupFunction(ident, Seq(bloomProbe, valueProbe))
          .isInstanceOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]
      } catch { case _: Throwable => false })
    if (!alreadyOurs) {
      registry.createOrReplaceTempFunction("graft_bloom_agg",
        exprs => new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(exprs(0), exprs(1), exprs(2)),
        "built-in")
      registry.createOrReplaceTempFunction("graft_might_contain",
        exprs => org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(exprs(0), exprs(1)),
        "built-in")
    }
  }

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
    registerBloom(df.sparkSession)
    df.select(call_function("graft_bloom_agg", hash,
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
      registerBloom(spark)
      call_function("graft_might_contain", lit(bloom), hash)
    }
}
