package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal}

/** The shared set-overlap kernel ([[graft.operators.SetOverlap]]) behind
  * all three key families: results must not depend on partitioning.
  */
class SetOverlapSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("every family's self-pairs, direct and indexed screen: identical rows " +
    "under shuffle.partitions 1/7/64 x AQE on/off") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 250)
    val fresh = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val mFresh = media.filter(pmod(col("doc_id"), lit(10)) === 0)
    val mCorpus = media.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    // byte-shifted copies: the gear family's pairing case
    val shifted = Multimodal.asMediaTable(docs.filter(col("doc_id") < 20)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(lit("~"), col("text")).as("text")), "doc_id", "text")
    val shIdx = Dedup.writeShingleIndex(corpus, "doc_id", "text",
      Dedup.ShingleIndex("inv_spec_sh", "inv_spec_shsz"))
    val chIdx = Multimodal.writeChunkIndex(mCorpus,
      Multimodal.ChunkIndex("inv_spec_ch", "inv_spec_chsz"))
    val gIdx = Multimodal.writeGearChunkIndex(media,
      Multimodal.ChunkIndex("inv_spec_gear", "inv_spec_gearsz"))
    val entries: Seq[(String, () => DataFrame)] = Seq(
      "shingle self-pairs" -> (() => Dedup.ngramJaccardPairs(docs, "doc_id", "text")),
      "shingle screen" -> (() =>
        Dedup.incrementalJaccardPairs(fresh, corpus, "doc_id", "text")),
      "shingle indexed screen" -> (() =>
        Dedup.incrementalJaccardPairsIndexed(fresh, shIdx, "doc_id", "text")),
      "chunk self-pairs" -> (() => Multimodal.chunkJaccardPairs(media)),
      "chunk screen" -> (() => Multimodal.incrementalChunkPairs(mFresh, mCorpus)),
      "chunk indexed screen" -> (() =>
        Multimodal.incrementalChunkPairsIndexed(mFresh, chIdx)),
      "gear self-pairs" -> (() =>
        Multimodal.gearChunkJaccardPairs(media.unionByName(shifted), 0.4)),
      "gear screen" -> (() =>
        Multimodal.incrementalGearChunkPairs(shifted, media, 0.4)),
      "gear indexed screen" -> (() =>
        Multimodal.incrementalGearChunkPairsIndexed(shifted, gIdx, 0.4)))
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    try {
      val runs = for (parts <- Seq(1, 7, 64); aqe <- Seq(true, false)) yield
        GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> parts.toString,
            "spark.sql.adaptive.enabled" -> aqe.toString) {
          // drop cached intermediates so each posture recomputes them
          spark.catalog.clearCache()
          s"partitions=$parts aqe=$aqe" -> entries.map { case (n, f) => n -> rows(f()) }
        }
      val (_, base) = runs.head
      base.foreach { case (n, r) => assert(r.nonEmpty, s"$n: empty fixture result") }
      runs.tail.foreach { case (posture, got) =>
        got.zip(base).foreach { case ((n, r), (_, b)) =>
          assert(r === b, s"$n differs under $posture")
        }
      }
    } finally spark.catalog.clearCache()
  }
}
