package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The one session posture and the one scoped conf override. */
class GraftSessionSpec extends SparkSpec {

  private val setKey = "spark.graft.spec.previouslySet"
  private val unsetKey = "spark.graft.spec.previouslyUnset"

  private def checkRestored(): Unit = {
    assert(spark.conf.getOption(setKey) === Some("before"))
    assert(spark.conf.getOption(unsetKey) === None)
  }

  test("withConf restores a set key and unsets an unset key, on return and on throw") {
    spark.conf.set(setKey, "before")
    spark.conf.unset(unsetKey)
    try {
      val seen = GraftSession.withConf(spark, setKey -> "during", unsetKey -> "during") {
        (spark.conf.get(setKey), spark.conf.get(unsetKey))
      }
      assert(seen === ("during", "during"))
      checkRestored()
      val e = intercept[IllegalStateException] {
        GraftSession.withConf(spark, setKey -> "during", unsetKey -> "during") {
          assert(spark.conf.get(unsetKey) === "during")
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage === "body failed")
      checkRestored()
    } finally spark.conf.unset(setKey)
  }

  test("the test session runs the benched AQE posture") {
    Seq("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false")
      .foreach { case (k, v) => assert(SparkSpec.spark.conf.get(k) === v, k) }
  }

  test("GraftSession.scala is the only source file that builds a session") {
    val needle = "SparkSession" + ".builder("
    val walk = Files.walk(Paths.get("src"))
    val scala =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally walk.close()
    def builds(p: Path): Boolean = Files.readString(p).contains(needle)
    assert(scala.exists(_.endsWith(Paths.get("graft", "GraftSession.scala"))),
      s"source scan found no GraftSession.scala under ${Paths.get("src").toAbsolutePath}")
    assert(scala.filter(builds).map(_.getFileName.toString) === Vector("GraftSession.scala"))
  }
}
