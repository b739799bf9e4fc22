package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.{EventsStream, ScreenStream}

/** The shared Ed-Join kernel ([[graft.operators.EdJoin]]) behind every
  * edit-distance entry point: results must not depend on partitioning, the
  * streaming fold must cut a prefix in the plans' own gram order, and each
  * Ed-Join decision lives in the kernel alone.
  */
class EdJoinSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val head = "https://corpus.example.org/docs/"
  private lazy val en = spark.read.parquet(s"$dir/documents.parquet")
    .filter(col("lang") === "en")
  private lazy val corpus =
    en.select(col("doc_id"), substring(col("text"), 1, 64).as("title"))

  /** One substitution at position 8, so each copy pairs at distance 1. */
  private def typo(c: Column): Column =
    concat(substring(c, 1, 7), lit("#"), substring(c, 9, 64))

  /** Typo'd copies of the first corpus titles under shifted ids. */
  private lazy val fresh = en.filter(col("doc_id") < 50)
    .select((col("doc_id") + 100000L).as("doc_id"),
      typo(substring(col("text"), 1, 64)).as("title"))

  /** `df` written once as parquet, read back as an AvailableNow stream. */
  private def streamOf(df: DataFrame): DataFrame = {
    val tmp = Files.createTempDirectory("edjoin_stream").toString
    df.write.mode("overwrite").parquet(tmp)
    spark.readStream.schema(df.schema).parquet(tmp)
  }

  private var runs = 0

  /** The rows an AvailableNow run of the streaming `screen` emits. */
  private def live(screen: DataFrame): DataFrame = {
    runs += 1
    val sink = s"edjoin_live_$runs"
    EventsStream.runAvailableNow(screen, sink, outputMode = "append")
    spark.table(sink)
  }

  test("self-pairs, direct, indexed, appended-index, adaptive-window index and " +
    "live screens: identical rows under shuffle.partitions 1/7/64 x AQE on/off") {
    val idx = Dedup.writeEditIndex(corpus, "doc_id", "title", "edjoin_inv")
    val grown = Dedup.writeEditIndex(corpus.filter(col("doc_id") % 2 === 0),
      "doc_id", "title", "edjoin_inv_app")
    Dedup.appendEditIndex(corpus.filter(col("doc_id") % 2 === 1), grown,
      "doc_id", "title", epoch = 1L)
    // shared-head strings: the adaptive window starts after the head
    def headed(df: DataFrame) =
      df.select(col("doc_id"), concat(lit(head), col("title")).as("s0"))
    val adaptive = Dedup.writeEditIndex(headed(corpus), "doc_id", "s0",
      "edjoin_inv_w", sliceChars = 64)
    assert(adaptive.sliceFrom === head.length + 1)
    val freshStream = streamOf(fresh)
    val headedStream = streamOf(headed(fresh))
    samePerPartitioning(Seq(
      "self-pairs" -> (() =>
        Dedup.editDistancePairs(corpus.union(fresh), "doc_id", "title")),
      "direct screen" -> (() => Dedup.incrementalEditDistancePairs(
        fresh, corpus, "doc_id", "title")),
      "indexed screen" -> (() => Dedup.incrementalEditDistancePairsIndexed(
        fresh, idx, "doc_id", "title")),
      "appended-index screen" -> (() => Dedup.incrementalEditDistancePairsIndexed(
        fresh, grown, "doc_id", "title")),
      "adaptive-window index screen" -> (() =>
        Dedup.incrementalEditDistancePairsIndexed(headed(fresh), adaptive,
          "doc_id", "s0")),
      "live screen" -> (() => live(ScreenStream.screenEditDistance(
        freshStream, corpus, "doc_id", "title"))),
      "live adaptive-window index screen" -> (() => live(
        ScreenStream.screenEditDistanceIndexed(headedStream, adaptive,
          "doc_id", "s0")))))
  }

  test("editFold cuts the prefix in Spark's (df, g) order: UTF-8 bytes, " +
    "not UTF-16 code units") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import spark.implicits._
    // U+FF01 sorts AFTER U+1F600 in UTF-16 (0xFF01 > the surrogate 0xD83D)
    // and BEFORE it in UTF-8 (0xEF < 0xF0); at q = 1, maxDist = 1 the
    // prefix holds 2 grams: "a" (df 0), then whichever tie-breaks first
    val (bang, smile) = ("！", "😀")
    val sF = bang + smile + "a"
    val gramDf = Seq((bang, 1L), (smile, 1L), ("a", 0L))
    // each df-1 gram hits one corpus doc, both at distance 1 from sF
    val hits = Map(bang -> (10L, bang + smile + "b"), smile -> (11L, bang + smile + "c"))
    val rows = gramDf.map { case (g, df) =>
      val (cid, sc) = hits.getOrElse(g, (-1L, null))
      ScreenStream.EdRow(1L, sF, g, df, cid, sc)
    }
    val sparkPrefix = gramDf.toDF("g", "df").orderBy("df", "g").limit(2)
      .collect().map(_.getString(0)).toSet
    val expected = hits.collect { case (g, (cid, _)) if sparkPrefix(g) => cid }.toSet
    assert(expected === Set(10L))
    val st = TestGroupState.create[Boolean](Optional.empty[Boolean](),
      GroupStateTimeout.NoTimeout, 0L,
      Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]],
      hasTimedOut = false)
    ScreenStream.resetTaskCandidateVolume()
    val out = ScreenStream.editFold(maxDist = 1, q = 1, perDocCap = 100,
      taskCap = 100L)(1L, rows.iterator, st).toList
    ScreenStream.resetTaskCandidateVolume()
    assert(out.map(_.corpus_id).toSet === expected)
  }

  /** The files under src/main/scala/graft/{operators,streaming} whose text
    * holds `s`.
    */
  private def operatorSourcesNaming(s: String): Vector[String] =
    Seq("operators", "streaming").toVector.flatMap { d =>
      val walk = Files.walk(Paths.get("src", "main", "scala", "graft", d))
      val scala: Vector[Path] =
        try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
        finally walk.close()
      scala.filter(p => Files.readString(p).contains(s)).map(_.getFileName.toString)
    }

  test("one Ed-Join owner: only EdJoin explodes grams, verifies and guards candidates") {
    // "exceeds maxCandidates" is the message only the candidate guard's
    // raise_error carries
    Seq("charQgramsFused", "levenshtein(", "exceeds maxCandidates").foreach { s =>
      assert(operatorSourcesNaming(s) === Vector("EdJoin.scala"), s)
    }
  }
}
