package graft

import org.apache.spark.sql.SparkSession
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

  /** Whether one message in `e`'s cause chain contains every one of `parts`. */
  def causeMentions(e: Throwable, parts: String*): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).exists(m => parts.forall(m.contains))
}
