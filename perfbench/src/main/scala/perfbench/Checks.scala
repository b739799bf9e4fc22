package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a DataFrame's rows: the row count, the XOR
  * of a 64-bit row hash and the sum of its low 24 bits. Doubles are rounded
  * to 6 decimals first so a result summed in a different order still
  * matches; maps are hashed as JSON.
  */
object Digest {
  def of(df: DataFrame): String = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast(DoubleType), 6)
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(col("h").bitwiseAND(0xffffffL)))
      .head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }
}

/** Expected output digests, recorded per workload and seed in
  * `perfbench/expected/digests.txt` (lines `workload seed key digest`;
  * seed `*` for inputs that do not depend on the seed). A key without a
  * recorded digest takes the warm-up job's digest as its expectation.
  */
final class Expected(ctx: Ctx, workload: String) {
  private val (file, seed) = (ctx.expectedFile, ctx.seed)
  private val recorded: Map[String, String] =
    if (!file.isFile) Map.empty
    else scala.io.Source.fromFile(file).getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\\s+"))
      .collect { case Array(w, s, k, d) if w == workload && (s == "*" || s == seed.toString) => k -> d }
      .toMap
  private val expect = scala.collection.mutable.HashMap.empty[String, String]

  /** Fix the expectation for `key`, given the warm-up job's digest. */
  def record(key: String, warm: String): Unit = {
    val e = recorded.getOrElse(key, warm)
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"perfbench: $uptime%.2f s: digest $workload $seed $key $warm" +
      (if (e != warm) s" (recorded: $e)" else ""))
    expect(key) = if (ctx.corrupt) e + "-corrupted" else e
  }
  def check(key: String, got: String): Boolean = expect.get(key).contains(got)
}

object Plans {
  /** Codegen-fallback expressions in a DataFrame's executed plan. */
  def fallbackExprs(df: DataFrame): Int = {
    var n = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case _ =>
        p.expressions.foreach(_.foreach {
          case _: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback => n += 1
          case _ =>
        })
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    n
  }

  /** Exchange nodes in a DataFrame's executed plan. */
  def exchanges(df: DataFrame): Int = {
    var n = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case e: org.apache.spark.sql.execution.exchange.Exchange => n += 1; e.children.foreach(walk)
      case _ => p.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    n
  }
}
