package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test JVM, in the benched
  * posture. */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.posture(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `df`'s rows as sorted strings, for an order-free comparison. */
  def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** Every entry's rows are non-empty and the same under
    * `shuffle.partitions` 1/7/64 × AQE on/off.
    */
  def samePerPartitioning(entries: Seq[(String, () => DataFrame)]): Unit =
    try {
      val runs = for (parts <- Seq(1, 7, 64); aqe <- Seq(true, false)) yield
        GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> parts.toString,
            "spark.sql.adaptive.enabled" -> aqe.toString) {
          // drop cached intermediates so each posture recomputes them
          spark.catalog.clearCache()
          s"partitions=$parts aqe=$aqe" -> entries.map { case (n, f) => n -> sortedRows(f()) }
        }
      val (_, base) = runs.head
      base.foreach { case (n, r) => assert(r.nonEmpty, s"$n: empty fixture result") }
      runs.tail.foreach { case (posture, got) =>
        got.zip(base).foreach { case ((n, r), (_, b)) =>
          assert(r === b, s"$n differs under $posture")
        }
      }
    } finally spark.catalog.clearCache()

  /** Whether one message in `e`'s cause chain contains every one of `parts`. */
  def causeMentions(e: Throwable, parts: String*): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).exists(m => parts.forall(m.contains))
}
