package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) interleave key for multi-dimensional lake layout — the
  * technique behind `OPTIMIZE ZORDER BY`: sorting files by the interleaved
  * bits of two pruning columns gives min/max file statistics locality in
  * BOTH dimensions, so scans filtered on either column (or both) prune
  * files, where a plain compound sort only prunes on its leading column.
  * Vanilla Spark has no z-order; the key is plain integer bit math, so a
  * writer gets the layout with `sortWithinPartitions(zorderKey(x, y))`.
  */
object ZOrder {

  /** Interleave the low `bits` bits of two NON-NEGATIVE integer columns:
    * bit j of `x` lands at position 2j, bit j of `y` at 2j+1. Statically
    * unrolled (shift distances are Scala literals) — pure codegen'd integer
    * ops, no UDF, no shuffle. `bits` ≤ 31 keeps the result in a positive
    * long. Callers bound the inputs (e.g. `pmod(col, lit(1 << bits))`).
    */
  def zorderKey(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits > 0 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { j =>
      shiftleft(shiftright(x.cast("long"), j).bitwiseAND(1L), 2 * j)
        .bitwiseOR(
          shiftleft(shiftright(y.cast("long"), j).bitwiseAND(1L), 2 * j + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** The DuckDB-SQL rendering of the same unrolled interleave, so oracles
    * state literally the same bit math.
    */
  def zorderSql(x: String, y: String, bits: Int = 16): String =
    (0 until bits).map { j =>
      s"((($x >> $j) & 1) << ${2 * j}) | ((($y >> $j) & 1) << ${2 * j + 1})"
    }.mkString(" | ")
}

/** Hilbert-curve index for 2-D lake layout — z-order's locality upgrade:
  * Morton interleave takes long diagonal jumps at power-of-two boundaries
  * (consecutive z keys can be grid-distance 2^bits apart), where the
  * Hilbert curve is CONTINUOUS — consecutive keys are always
  * grid-adjacent — so equal-size key ranges cut tighter bounding boxes
  * and range scans filtered on either dimension touch fewer files. The
  * classic xy→d walk (bit-by-bit quadrant selection with reflection +
  * axis swap) is sequential across bit levels: unrolling it as Column
  * expressions doubles the tree per level (x and y each reference both
  * predecessors — 2^bits nodes by the end), so it ships as a codegen
  * [[HilbertIndex]] expression whose generated code calls one static
  * integer loop — the [[graft.functions.GearChunkEnds]] pattern. The
  * oracle unrolls the SAME recurrence as a chain of bits SQL CTE stages
  * (per-stage columns materialize, so SQL sees no blowup either).
  */
object Hilbert {

  /** The standard xy→d walk: from the top bit down, pick the quadrant
    * (d += s²·((3·rx) xor ry)), then map the quadrant back onto the
    * canonical sub-curve (ry=0: swap axes, reflecting both when rx=1).
    */
  def compute(x0: Long, y0: Long, bits: Int): Long = {
    var x = x0
    var y = y0
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** `hilbert_key(x, y)` column over the registered expression; inputs
    * must be non-negative and below 2^bits (callers bound them, e.g.
    * `pmod(col, lit(1L << bits))` — the z-order contract).
    */
  def hilbertKey(spark: org.apache.spark.sql.SparkSession, x: Column,
                 y: Column, bits: Int = 16): Column =
    NativeFunctions.call(spark, NativeFunctions.hilbertKeyFn, x, y, lit(bits))

  /** The oracle-side rendering: the same recurrence as `bits` chained CTE
    * stages over base relation `base` — stage columns materialize, so the
    * doubling that rules out inline expressions never happens in SQL.
    * `keyCols` are carried through verbatim; the caller reads the final
    * index from `h{bits}.hd`.
    */
  def hilbertSqlCtes(base: String, xExpr: String, yExpr: String,
                     keyCols: String, bits: Int = 16): String = {
    val h0 = s"h0 AS (SELECT $keyCols, CAST($xExpr AS BIGINT) AS hx, " +
      s"CAST($yExpr AS BIGINT) AS hy, CAST(0 AS BIGINT) AS hd FROM $base)"
    val stages = (0 until bits).map { i =>
      val bit = bits - 1 - i
      val sM1 = (1L << bit) - 1
      val s2 = (1L << bit) * (1L << bit)
      s"""h${i + 1} AS (SELECT $keyCols,
        |  CASE WHEN ((hy >> $bit) & 1) = 1 THEN hx
        |       WHEN ((hx >> $bit) & 1) = 0 THEN hy
        |       ELSE $sM1 - hy END AS hx,
        |  CASE WHEN ((hy >> $bit) & 1) = 1 THEN hy
        |       WHEN ((hx >> $bit) & 1) = 0 THEN hx
        |       ELSE $sM1 - hx END AS hy,
        |  hd + $s2 * xor(3 * ((hx >> $bit) & 1), (hy >> $bit) & 1) AS hd
        |FROM h$i)""".stripMargin
    }
    (h0 +: stages).mkString(",\n")
  }
}

/** Codegen Hilbert xy→d (see [[Hilbert]]): one static integer loop per
  * row, inside whole-stage codegen. Inputs cast to LONG; null in → null
  * out via the default binary null handling.
  */
case class HilbertIndex(left: org.apache.spark.sql.catalyst.expressions.Expression,
                        right: org.apache.spark.sql.catalyst.expressions.Expression,
                        bits: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  import org.apache.spark.sql.types.{DataType, LongType}

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType == LongType) &&
        bits > 0 && bits <= 31) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hilbert_key expects (BIGINT x, BIGINT y) with 0 < bits <= 31, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}, bits=$bits")
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_key"

  override def nullSafeEval(a: Any, b: Any): Any =
    Hilbert.compute(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)

  override def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Hilbert.compute($a, $b, $bits);")

  override protected def withNewChildrenInternal(
      l: org.apache.spark.sql.catalyst.expressions.Expression,
      r: org.apache.spark.sql.catalyst.expressions.Expression): HilbertIndex =
    copy(left = l, right = r)
}
