package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Ivf, Similarity}
import graft.streaming.{EventsStream, ScreenStream}

/** The shared IVF kernel ([[graft.operators.Ivf]]) behind the coarse
  * quantizer, the PQ codebooks, the inverted-file searches, the standing
  * indexes and the live serve: results must not depend on partitioning, one
  * cell ranking must hold on degenerate norms and any id layout, and each
  * IVF decision lives in the kernel alone.
  */
class IvfSpec extends SparkSpec {

  private lazy val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val q = embs.filter(col("vec_id") < 10)

  /** `df` written once as parquet, read back as an AvailableNow stream. */
  private def streamOf(df: DataFrame): DataFrame = {
    val tmp = Files.createTempDirectory("ivf_stream").toString
    df.write.mode("overwrite").parquet(tmp)
    spark.readStream.schema(df.schema).parquet(tmp)
  }

  private var runs = 0

  /** The ranked rows of one AvailableNow run of [[ScreenStream.serveIvf]]. */
  private def live(queries: DataFrame, index: Similarity.IvfIndex, nProbe: Int): DataFrame = {
    runs += 1
    val sink = s"ivf_live_$runs"
    EventsStream.runAvailableNow(ScreenStream.serveIvf(streamOf(queries), index,
      "vec_id", "embedding", 5, nProbe), sink, outputMode = "complete")
    Similarity.topKRows(spark.table(sink))
  }

  test("quantizer, codebooks, direct, filtered, indexed, appended-index, IVF-PQ, " +
    "hard-negative and live searches: identical rows under shuffle.partitions " +
    "1/7/64 x AQE on/off") {
    val idx = Similarity.writeIvfIndex(embs, "vec_id", "embedding", "ivf_inv")
    val grown = Similarity.appendIvfIndex(embs.filter(col("vec_id") % 2 === 1),
      Similarity.writeIvfIndex(embs.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", "ivf_inv_app"),
      "vec_id", "embedding", epoch = 1L)
    val pq = Similarity.writeIvfPqIndex(embs, "vec_id", "embedding", "ivfpq_inv",
      residual = true)
    samePerPartitioning(Seq(
      "kmeansCentroids" -> (() => Similarity.centroidsDf(spark,
        Similarity.kmeansCentroids(embs, "vec_id", "embedding"))),
      "pqCodebooks" -> (() => Similarity.pqCodebooksDf(spark,
        Similarity.pqCodebooks(embs, "vec_id", "embedding"))),
      "direct search" -> (() =>
        Similarity.ivfNeighborsTrained(q, embs, "vec_id", "embedding", 5)),
      "filtered search" -> (() => Similarity.ivfNeighborsTrainedFiltered(
        q, embs, "vec_id", "embedding", "label", 5)),
      "indexed search" -> (() =>
        Similarity.ivfSearchIndexed(q, idx, "vec_id", "embedding", 5)),
      "appended-index search" -> (() =>
        Similarity.ivfSearchIndexed(q, grown, "vec_id", "embedding", 5)),
      "raw ivfPqSearch" -> (() => Similarity.ivfPqSearch(q, embs,
        "vec_id", "embedding", k = 5)),
      "residual ivfPqSearch" -> (() => Similarity.ivfPqSearch(q, embs,
        "vec_id", "embedding", k = 5, residual = true)),
      "ivfPqSearchIndexed" -> (() =>
        Similarity.ivfPqSearchIndexed(q, pq, "vec_id", "embedding", k = 5)),
      "hardNegatives" -> (() => Similarity.hardNegatives(q, embs,
        "vec_id", "embedding", "label", k = 5)),
      "live serve" -> (() => live(q, idx, nProbe = 2))))
  }

  /** 40 four-dim vectors; the lowest id is the all-zero vector, so it
    * seeds centroid 0 and training leaves that centroid at norm 0.
    */
  private lazy val zeroSeeded = {
    import spark.implicits._
    (0 until 40).map { i =>
      val v = if (i == 0) Seq(0.0, 0.0, 0.0, 0.0)
        else Seq(i % 5 - 2.0, i % 7 - 3.0, i % 3 - 1.0, 1.0 + i % 4)
      (i.toLong, v.map(_.toFloat), i % 2)
    }.toDF("vec_id", "embedding", "label")
  }

  test("a zero-norm centroid ranks last: direct, indexed and live probe-2 " +
    "searches agree, the zero vector sits alone in its cell, nothing throws") {
    val cents = Similarity.kmeansCentroids(zeroSeeded, "vec_id", "embedding", 4, 3)
    assert(Ivf.norms(cents)(0) === 0.0)
    // the zero vector is not a query: its own within-cell cosine is 0/0
    val zq = zeroSeeded.filter(col("vec_id").between(1, 10))
    val direct = Similarity.ivfNeighborsTrained(zq, zeroSeeded, "vec_id", "embedding",
      5, nCentroids = 4, nProbe = 2, iters = 3)
    val idx = Similarity.writeIvfIndex(zeroSeeded, "vec_id", "embedding", "ivf_zero",
      nCentroids = 4, iters = 3)
    val indexed = Similarity.ivfSearchIndexed(zq, idx, "vec_id", "embedding", 5, nProbe = 2)
    val served = live(zq, idx, nProbe = 2)
    val rows = sortedRows(direct)
    assert(rows.nonEmpty)
    assert(sortedRows(indexed) === rows)
    assert(sortedRows(served) === rows)
    assert(direct.filter(col("neighbor_id") === 0L).isEmpty)
    // the cell ranking puts the zero vector (every sim NULL) in cell 0 and
    // ranks cell 0 last for everything else
    val drift = Similarity.cellOccupancyDrift(zeroSeeded, zeroSeeded,
      "vec_id", "embedding", nCells = 4, iters = 3)
    assert(drift.filter(col("cid") === 0L).select("corpus_n").head().getLong(0) === 1L)
    assert(Similarity.probeCells(zq, "vec_id", "embedding", cents, 2)
      .filter(col("cid") === 0L).isEmpty)
    assert(Similarity.hardNegatives(zq, zeroSeeded, "vec_id", "embedding", "label",
      5, nCentroids = 4, nProbe = 2, iters = 3).count() > 0)
  }

  test("ivfNeighbors seeds from the first nCentroids vectors by id, whatever the ids") {
    val shifted = embs.withColumn("vec_id", col("vec_id") + 1000L)
    val dense = Similarity.ivfNeighbors(q, embs, "vec_id", "embedding", 5, 16, 2)
    val offset = Similarity.ivfNeighbors(shifted.filter(col("vec_id") < 1010), shifted,
      "vec_id", "embedding", 5, 16, 2)
    assert(dense.count() > 0)
    assert(sortedRows(offset) === sortedRows(dense
      .withColumn("query_id", col("query_id") + 1000L)
      .withColumn("neighbor_id", col("neighbor_id") + 1000L)))
    assert(sortedRows(offset) === sortedRows(Similarity.ivfNeighborsTrained(
      shifted.filter(col("vec_id") < 1010), shifted, "vec_id", "embedding", 5, 16, 2,
      iters = 0)))
  }

  test("a corpus under the default k trains fewer cells and an empty one none: " +
    "direct and indexed searches agree, the empty corpus yields no rows, nothing throws") {
    val small = embs.filter(col("vec_id") < 10)
    val empty = embs.filter(lit(false))
    val ivf = Similarity.writeIvfIndex(small, "vec_id", "embedding", "ivf_small")
    val pq = Similarity.writeIvfPqIndex(small, "vec_id", "embedding", "ivfpq_small",
      residual = true)
    val direct = Similarity.ivfNeighborsTrained(q, small, "vec_id", "embedding", 5)
    assert(direct.count() > 0)
    assert(sortedRows(Similarity.ivfSearchIndexed(q, ivf, "vec_id", "embedding", 5)) ===
      sortedRows(direct))
    val pqDirect = Similarity.ivfPqSearch(q, small, "vec_id", "embedding", k = 5,
      residual = true)
    assert(pqDirect.count() > 0)
    assert(sortedRows(Similarity.ivfPqSearchIndexed(q, pq, "vec_id", "embedding", k = 5)) ===
      sortedRows(pqDirect))
    // a 10-row quantizer still takes appends
    val grown = Similarity.appendIvfIndex(embs.filter(col("vec_id").between(10, 19)), ivf,
      "vec_id", "embedding", epoch = 1L)
    assert(grown.corpusRows === 20L)

    val emptyIvf = Similarity.writeIvfIndex(empty, "vec_id", "embedding", "ivf_empty")
    val emptyPq = Similarity.writeIvfPqIndex(empty, "vec_id", "embedding", "ivfpq_empty")
    Seq(
      "ivfNeighborsTrained" -> Similarity.ivfNeighborsTrained(q, empty, "vec_id",
        "embedding", 5),
      "ivfSearchIndexed" -> Similarity.ivfSearchIndexed(q, emptyIvf, "vec_id",
        "embedding", 5),
      "ivfPqSearch" -> Similarity.ivfPqSearch(q, empty, "vec_id", "embedding", k = 5),
      "ivfPqSearchIndexed" -> Similarity.ivfPqSearchIndexed(q, emptyPq, "vec_id",
        "embedding", k = 5),
      "hardNegatives" -> Similarity.hardNegatives(q, empty, "vec_id", "embedding",
        "label", k = 5),
      "clusterBalancedSample" -> Similarity.clusterBalancedSample(empty, "vec_id",
        "embedding", perCluster = 2),
      "semanticDupPairs" -> Similarity.semanticDupPairs(empty, "vec_id", "embedding",
        threshold = 0.9)
    ).foreach { case (name, df) => assert(df.count() === 0L, name) }
  }

  test("the probe ranks cells in the window walk's (cosine DESC, cid) order") {
    val cents = Similarity.kmeansCentroids(embs, "vec_id", "embedding")
    val v = col("embedding").cast("array<double>")
    val w = Window.partitionBy(col("vec_id")).orderBy(col("c_sim").desc, col("cid"))
    val walk = embs.select(col("vec_id"), v.as("v"))
      .crossJoin(Similarity.centroidsDf(spark, cents))
      .withColumn("c_sim", Similarity.cosine(col("v"), col("cvec")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= 3)
      .select(col("vec_id"), col("cid"))
    val probed = Similarity.probeCells(embs, "vec_id", "embedding", cents, 3)
      .select(col("id").as("vec_id"), col("cid"))
    assert(sortedRows(probed) === sortedRows(walk))
  }

  test("one IVF owner: only Ivf ranks cells and sums centroid partials") {
    Seq("nearestCentroid(", "c_sim", "centroidPartials(").foreach { s =>
      assert(sourcesNaming(s, "operators", "streaming", "queries")
        .filterNot(_ == "Ivf.scala") === Vector(), s)
    }
  }
}
