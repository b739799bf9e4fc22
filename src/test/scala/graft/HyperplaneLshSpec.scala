package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, HyperplaneLsh, Similarity}

/** The shared hyperplane kernel ([[graft.operators.HyperplaneLsh]]) behind
  * every embedding near-dup entry point, cosine and Hamming (MIH): results
  * must not depend on partitioning nor on which side of the broadcast cap a
  * join lands, and each signature guard lives in the kernel alone.
  */
class HyperplaneLshSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val embs = spark.read.parquet(s"$dir/embeddings.parquet")
  private lazy val fresh = embs.filter(col("vec_id") % 8 === 0)
  private lazy val corpus = embs.filter(col("vec_id") % 8 =!= 0)

  test("self-pairs, direct, indexed and appended-index screen: identical rows " +
    "under shuffle.partitions 1/7/64 x AQE on/off") {
    val idx = Dedup.writeEmbeddingSignatureIndex(corpus, "vec_id", "embedding",
      "inv_spec_emb")
    val grown = Dedup.appendEmbeddingSignatureIndex(
      corpus.filter(col("vec_id") % 8 >= 4),
      Dedup.writeEmbeddingSignatureIndex(corpus.filter(col("vec_id") % 8 <= 3),
        "vec_id", "embedding", "inv_spec_emb_app"),
      "vec_id", "embedding", epoch = 1L)
    samePerPartitioning(Seq(
      "self-pairs" -> (() =>
        Dedup.embeddingCosinePairsLsh(embs, "vec_id", "embedding", 0.4)),
      "direct screen" -> (() => Dedup.incrementalEmbeddingPairsLsh(
        fresh, corpus, "vec_id", "embedding", 0.4)),
      "indexed screen" -> (() => Dedup.incrementalEmbeddingPairsIndexed(
        fresh, idx, "vec_id", "embedding", 0.4)),
      "appended-index screen" -> (() => Dedup.incrementalEmbeddingPairsIndexed(
        fresh, grown, "vec_id", "embedding", 0.4))))
  }

  test("MIH neighbors, direct, indexed, appended-index and ball screen: " +
    "identical rows under shuffle.partitions 1/7/64 x AQE on/off") {
    val idx = Similarity.writeMihIndex(corpus, "vec_id", "embedding", "inv_spec_mih")
    val grown = Similarity.appendMihIndex(corpus.filter(col("vec_id") % 8 >= 4),
      Similarity.writeMihIndex(corpus.filter(col("vec_id") % 8 <= 3),
        "vec_id", "embedding", "inv_spec_mih_app"),
      "vec_id", "embedding", epoch = 1L)
    samePerPartitioning(Seq(
      "neighbors" -> (() => Similarity.mihHammingNeighbors(
        embs.filter(col("vec_id") < 10), embs, "vec_id", "embedding", 5)),
      "direct screen" -> (() => Similarity.mihHammingScreen(
        fresh, corpus, "vec_id", "embedding", radius = 6)),
      "indexed screen" -> (() => Similarity.mihHammingScreenIndexed(
        fresh, idx, "vec_id", "embedding", radius = 6)),
      "appended-index screen" -> (() => Similarity.mihHammingScreenIndexed(
        fresh, grown, "vec_id", "embedding", radius = 6)),
      "ball screen" -> (() => Similarity.mihHammingScreen(
        fresh, corpus, "vec_id", "embedding", radius = 7, probeBallRadius = 1))))
  }

  test("past the broadcast cap every join shuffles and the rows are unchanged") {
    // over-cap row counts make the kernel's size rule withhold every
    // broadcast hint; with Spark's own size-based broadcast off as well
    // (the scale case, where its estimates exceed the threshold), each
    // candidate and join-back join plans as a shuffle join
    val overCap = 1L << 40
    val v = HyperplaneLsh.vectors(embs, "vec_id", "embedding")
    val vf = HyperplaneLsh.vectors(fresh, "vec_id", "embedding")
    val vc = HyperplaneLsh.vectors(corpus, "vec_id", "embedding")
    val dim = Similarity.vectorDim(embs, "embedding")
    def family(n: Long) = {
      val (b, l) = Dedup.adaptiveLshKnobs(n)
      new HyperplaneLsh.Family(spark, b, l, dim)
    }
    val self = family(embs.count())
    val screen = family(corpus.count())
    assert(self.vectorBytes(overCap) > HyperplaneLsh.broadcastCap &&
      self.bandBytes(overCap) > HyperplaneLsh.broadcastCap)
    val shuffled = GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      Seq(self.selfPairs(v, overCap, "vec_id", "embedding", 0.4),
        screen.screen(vf, overCap,
          screen.bands(vc, "embedding", col("vec_id").as("corpus_id")),
          vc, overCap, "vec_id", "embedding", 0.4)).map { df =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Broadcast"), plan)
        assert("SortMergeJoin".r.findAllIn(plan).size === 3, plan)
        sortedRows(df)
      }
    }
    val broadcast = Seq(
      Dedup.embeddingCosinePairsLsh(embs, "vec_id", "embedding", 0.4),
      Dedup.incrementalEmbeddingPairsLsh(fresh, corpus, "vec_id", "embedding", 0.4))
      .map(sortedRows)
    broadcast.foreach(r => assert(r.nonEmpty))
    assert(shuffled === broadcast)
  }

  test("one signature guard: only the kernel names \"LSH signatures\"") {
    assert(sourcesNaming("\"LSH signatures\"") === Vector("HyperplaneLsh.scala"))
  }

  test("one code guard: only the kernel names \"MIH band codes\"") {
    assert(sourcesNaming("\"MIH band codes\"") === Vector("HyperplaneLsh.scala"))
  }
}
