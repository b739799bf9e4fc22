package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{CorpusOps, Dedup}
import graft.functions.TextFunctions.winnowFingerprint

/** Runnable end-to-end LLM-corpus build: the operators composed the way a
  * real curation pipeline chains them —
  *
  *   near-dup pairs → components → survivors → repetition + LM-quality
  *   filters → PII redaction → train/val/test split → per-source quotas →
  *   sequence packing → contamination audit → partitioned curated write
  *
  * Every stage is the oracle-checked operator from `graft.queries`; this
  * main just shows they compose. Usage:
  * `runMain graft.examples.CorpusPipelineDemo [sfDir]`
  */
object CorpusPipelineDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.posture(4)
    spark.sparkContext.setLogLevel("ERROR")

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    println(s"=== corpus: ${docs.count()} documents from $dir")

    // 1. near-dup pairs (bucketed Jaccard) → clusters → keep survivors only
    // (Dedup.nearDupSurvivors — the same definition the t17 oracle pins)
    val deduped = Dedup.nearDupSurvivors(docs, "doc_id", "text")
    println(s"=== dedup: ${docs.count() - deduped.count()} non-survivors dropped, " +
      s"${deduped.count()} docs remain")

    // 1b. containment cut: survivors that are quoted (near-)whole inside
    // another surviving doc — the asymmetric duplication the Jaccard pass
    // above structurally misses (d14)
    val contained = Dedup.containmentPairs(deduped, "doc_id", "text")
      .select(col("contained_id").as("doc_id")).distinct()
    val uncontained = deduped.join(contained, Seq("doc_id"), "left_anti")
    println(s"=== containment cut: ${deduped.count() - uncontained.count()} " +
      s"quoted-subset docs dropped, ${uncontained.count()} remain")

    // 2. quality gate: repetition signals + unigram-LM score, then redact
    val rep = CorpusOps.repetitionSignals(uncontained, "doc_id", "text")
      .filter(col("top_bigram_frac") < 0.5 && col("max_run") < 10)
      .select("doc_id")
    val lm = CorpusOps.unigramLm(uncontained, "doc_id", "text")
    val lpOk = CorpusOps.unigramLogprob(uncontained, "doc_id", "text", lm, -20.0)
      .filter(col("mean_logprob") > -10.0).select("doc_id")
    val clean = uncontained.join(rep, "doc_id").join(lpOk, "doc_id")
      .withColumn("text", graft.functions.TextFunctions.redactPii(col("text")))
    println(s"=== quality gate: ${clean.count()} docs pass repetition + LM filters")

    // 2b. fluency, the standing-LM-lifecycle way (t49's shape): gram-count
    // tables build once on the standing corpus slice, "tomorrow's" ingest
    // folds in by epoch-keyed additive append (the batch pays only its own
    // counting; a replayed epoch is a no-op), and the trigram KN head
    // re-derives gram-table-sized — then scores EVERY doc fluency-style
    val baseC = clean.filter(pmod(col("doc_id"), lit(10)) < 8)
    val batchC = clean.filter(pmod(col("doc_id"), lit(10)) >= 8)
    val gcNames = (2 to 3).map { k =>
      val nm = s"demo_kngc_k$k"
      spark.sql(s"DROP TABLE IF EXISTS $nm")
      CorpusOps.writeKnGramTable(spark, nm,
        CorpusOps.knGramCounts(baseC, "text", k))
      CorpusOps.maintainKnGramTable(spark, nm,
        CorpusOps.knGramCounts(batchC, "text", k), epoch = 1L)
      k -> nm
    }.toMap
    val knLm = CorpusOps.kneserNeyHeadFromCounts(
      k => CorpusOps.readKnGramCounts(spark, gcNames(k)), order = 3,
      spreadProviders = true)
    val knScored = CorpusOps.trigramLogprob(clean, "doc_id", "text",
      knLm.select(col("g").as("tg"), col("lp")), -20.0)
    // LEFT join: a doc with fewer than 3 tokens yields no trigrams and is
    // absent from the scorer's output (its documented contract) — an inner
    // join would silently drop it from the split/packing/audit below.
    // Sub-trigram docs are unscorable, not disfluent: keep them, and say so.
    val knJoined = clean.join(
      knScored.select(col("doc_id"), col("mean_logprob")), Seq("doc_id"), "left")
    val unscored = knJoined.filter(col("mean_logprob").isNull).count()
    val fluent = knJoined
      .filter(col("mean_logprob").isNull || col("mean_logprob") > -12.0)
      .drop("mean_logprob")
    println(s"=== KN fluency (standing gram tables, maintained): " +
      s"${fluent.count()} of ${clean.count()} docs pass the trigram filter " +
      s"($unscored sub-trigram docs kept unscored)")

    // 3. reproducible split + per-source quota
    val split = CorpusOps.hashSplit(fluent, "doc_id",
      Seq("train" -> 90, "val" -> 95, "test" -> 100))
    split.groupBy("split").count().orderBy("split").collect()
      .foreach(r => println(s"=== split ${r.getString(0)}: ${r.getLong(1)} docs"))
    val train = CorpusOps.quotaPerGroup(
      split.filter(col("split") === "train"), "source", "doc_id", 100)
    println(s"=== train after per-source quota(100): ${train.count()} docs")

    // 4. pack the train split into 2048-token sequences per source shard
    val packed = CorpusOps.packSequences(train, "doc_id", "text", "source", 2048)
    val packs = packed.groupBy("source").agg(max("pack_no").as("packs"))
      .orderBy("source").collect()
      .map(r => s"${r.getString(0)}:${r.getLong(1) + 1}").mkString(", ")
    println(s"=== packing: sequences per source shard → $packs")

    // 4b. the REAL token budget: train a small BPE tokenizer on the train
    // split and count encoded tokens (t25 + t26) — the number the 2048-token
    // packs above only estimate with whitespace counts
    val merges = CorpusOps.bpeMerges(train, "doc_id", "text", rounds = 3)
    val budget = CorpusOps.bpeTokenCounts(train, "doc_id", "text", merges)
      .agg(sum("n_ws_tokens").as("ws"), sum("n_bpe_tokens").as("bpe")).head()
    println(s"=== token budget: ${budget.getLong(0)} whitespace tokens → " +
      s"${budget.getLong(1)} BPE pieces after 3 merges")

    // 5. contamination audit: held-out docs fingerprint-colliding with train
    val wfp = fluent.select(col("doc_id"), winnowFingerprint(col("text")).as("w"))
    val trainFp = wfp.join(train.select("doc_id"), "doc_id")
      .select(col("w"))
    val leaks = wfp.join(split.filter(col("split") =!= "train").select("doc_id"), "doc_id")
      .join(trainFp, Seq("w"))
      .select("doc_id").distinct()
    println(s"=== contamination: ${leaks.count()} held-out docs collide with train")

    // 6. materialize the curated corpus as the partitioned, prunable layout
    val out = java.nio.file.Files.createTempDirectory("curated").toString
    CorpusOps.writeCurated(split, out)
    val written = spark.read.parquet(out)
    println(s"=== curated write: ${written.count()} docs in " +
      s"${new java.io.File(out).listFiles().count(_.isDirectory)} split dirs at $out")

    spark.stop()
  }
}
