package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.ScaledCorpus
import graft.functions.TextFunctions
import graft.operators.{CorpusOps, Dedup}

/** A corpus build over `ScaledCorpus`: near-dup survivors, repetition and
  * unigram-LM quality gate, hash split, winnow contamination audit and the
  * curated parquet write — the `CorpusPipelineDemo` chain.
  */
final class CorpusCurate extends Workload {
  val BaseDocs = 500
  val Factor = 2
  private var docsPath: String = _
  private var outPath: String = _
  private var nDocs = 0L
  private var expected: Expected = _
  private var planProbe: Seq[DataFrame] = Nil
  private val m = scala.collection.mutable.HashMap.empty[String, Double]

  override def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    docsPath = new File(ctx.dir, "documents.parquet").getAbsolutePath
    outPath = new File(ctx.dir, "curated").getAbsolutePath
    // the seed picks the base corpus and the ingest order of the scaled one
    val base = Gen.documents(spark, ctx.seed, BaseDocs)
    ScaledCorpus.scaleDocuments(base, Factor)
      .orderBy(xxhash64(col("doc_id"), lit(ctx.seed)))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(docsPath)
    nDocs = spark.read.parquet(docsPath).count()
    expected = new Expected(ctx, "corpus_curate")
    expected.record("curated", run(ctx, traced = false))
  }

  private def persisted(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

  /** One curation job; returns the digest of the curated output. */
  private def run(ctx: Ctx, traced: Boolean): String = {
    val spark = ctx.spark
    val docs = spark.read.parquet(docsPath)
    def stage(name: String)(df: => DataFrame): DataFrame =
      if (traced) ctx.span(name)(persisted(df)) else df

    val survivors =
      if (!traced) Dedup.nearDupSurvivors(docs, "doc_id", "text").persist()
      else {
        // Dedup.nearDupSurvivors step by step
        val pairs = stage("dedup.pairs")(Dedup.ngramJaccardPairs(docs, "doc_id", "text"))
        val clusters = stage("dedup.components")(Dedup.dupClusters(pairs))
        m("dedup.pairs") = pairs.count().toDouble
        stage("dedup.survivors")(docs.join(
          clusters.filter(col("id") =!= col("cluster")).select(col("id").as("doc_id")),
          Seq("doc_id"), "left_anti"))
      }
    val rep = stage("corpus.quality")(CorpusOps.repetitionSignals(survivors, "doc_id", "text")
      .filter(col("top_bigram_frac") < 0.5 && col("max_run") < 10).select("doc_id"))
    val lpOk = stage("corpus.lm") {
      val lm = CorpusOps.unigramLm(survivors, "doc_id", "text")
      CorpusOps.unigramLogprob(survivors, "doc_id", "text", lm, -20.0)
        .filter(col("mean_logprob") > -10.0).select("doc_id")
    }
    val split = ctx.span("corpus.split")(persisted(CorpusOps.hashSplit(
      survivors.join(rep, "doc_id").join(lpOk, "doc_id")
        .withColumn("text", TextFunctions.redactPii(col("text"))),
      "doc_id", Seq("train" -> 90, "val" -> 95, "test" -> 100))))
    val leaks = ctx.span("corpus.audit") {
      val wfp = split.select(col("doc_id"), col("split"),
        TextFunctions.winnowFingerprint(col("text")).as("w"))
      wfp.filter(col("split") =!= "train")
        .join(wfp.filter(col("split") === "train").select("w"), Seq("w"))
        .select("doc_id").distinct().count()
    }
    ctx.span("corpus.write")(CorpusOps.writeCurated(split, outPath))
    if (traced) {
      m("corpus.keep_ratio") = split.count().toDouble / survivors.count()
      planProbe = Seq(survivors, rep, lpOk, split)
    }
    val digest = ctx.span("check") {
      Digest.of(spark.read.parquet(outPath).select("doc_id", "split", "source")) + ":" + leaks
    }
    split.unpersist()
    survivors.unpersist()
    if (traced) spark.catalog.clearCache()
    digest
  }

  override def job(ctx: Ctx, i: Int): JobResult = {
    val d = run(ctx, ctx.tracer.active)
    JobResult(nDocs, expected.check("curated", d), s"digest $d")
  }

  override def layerMetrics(ctx: Ctx, root: Span): Map[String, Double] = {
    val kids = ctx.tracer.children(root.id).map(s => s.name -> s.seconds).toMap
    Map(
      "dedup.pairs_s" -> kids("dedup.pairs"),
      "dedup.components_s" -> kids("dedup.components"),
      "dedup.survivors_s" -> kids("dedup.survivors"),
      "corpus.quality_s" -> kids("corpus.quality"),
      "corpus.lm_s" -> kids("corpus.lm"),
      "corpus.split_s" -> kids("corpus.split"),
      "corpus.audit_s" -> kids("corpus.audit"),
      "corpus.write_s" -> kids("corpus.write")) ++ m
  }

  /** `functions` probes: a noop write of each text column function over
    * the job's documents, and the codegen fallbacks in the job's plans.
    */
  override def probes(ctx: Ctx): Map[String, Double] = {
    val docs = ctx.spark.read.parquet(docsPath)
    def noop(name: String, c: org.apache.spark.sql.Column): (String, Double) = {
      val t0 = System.nanoTime()
      ctx.span(name)(docs.select(c.as("v")).write.format("noop").mode("overwrite").save())
      name + "_s" -> (System.nanoTime() - t0) / 1e9
    }
    Map(
      noop("functions.normalize", TextFunctions.normalize(col("text"))),
      noop("functions.shingle", TextFunctions.wordShingles(TextFunctions.tokens(col("text")), 5)),
      noop("functions.winnow", TextFunctions.winnowFingerprint(col("text"))),
      "functions.fallback_exprs" -> planProbe.map(Plans.fallbackExprs).sum.toDouble)
  }
}
