package graft.examples

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Width-pin audit under size-based AQE coalescing (VERDICT r20 #3,
  * guide §2.5): for every post-candidate verify/transform stage whose
  * input BYTES are small but per-row cost is large, print the per-stage
  * task counts the bench posture actually produces, so a stage that
  * collapsed to width 1–2 (the d19 failure shape: +75% wall when the
  * banded-levenshtein verify ran one task) is caught by measurement, not
  * by the next regression. Runs each operator isolated to a noop sink
  * (guide §1.4) and lists every stage of the job with its task count —
  * the audit table for OPTIMIZATION_r21.md.
  *
  * Usage: runMain graft.examples.WidthAuditDiag [sfDir]
  */
object WidthAuditDiag {
  final class StageWidths extends SparkListener {
    val stages = new ConcurrentLinkedQueue[(Int, Int, String)]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      stages.add((i.stageId, i.numTasks, i.name.takeWhile(_ != '\n').take(60)))
      ()
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.posture(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    val listener = new StageWidths
    spark.sparkContext.addSparkListener(listener)

    // two reps: rep 1 pays codegen/janino, rep 2 is the warm number the
    // bench's min-rep policy reports — stage widths print for the warm rep
    def run(label: String)(mk: => DataFrame): Unit = {
      (1 to 2).foreach { rep =>
        graft.SessionSweep.sweep(spark, blocking = true)
        listener.stages.clear()
        val t0 = System.nanoTime()
        try {
          spark.sparkContext.setJobDescription(s"width-audit: $label")
          mk.write.format("noop").mode("overwrite").save()
          val ms = (System.nanoTime() - t0) / 1e6
          org.apache.spark.graftbench.BusFlush.flush(spark.sparkContext)
          import scala.jdk.CollectionConverters._
          val rows = listener.stages.asScala.toSeq.sortBy(_._1)
          println(f"[width] $label%-28s rep=$rep wall=$ms%8.1f ms stages=${rows.size}")
          if (rep == 2) rows.foreach { case (id, n, name) =>
            println(f"[width]   stage=$id%-4d tasks=$n%-4d $name")
          }
        } catch {
          case e: Throwable => println(s"[width] $label FAILED: $e")
        } finally spark.sparkContext.setJobDescription(null)
      }
    }

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")

    // 1. simhash banded candidates -> hamming verify (d04/d05 path).
    // Per-row verify cost: one xor+popcount on two longs — cheap per byte.
    run("simhash_hamming_d04") {
      graft.operators.Dedup.simhashPairs(docs, "doc_id", "text")
    }

    // 2. embedding LSH batch pairs -> exact-cosine verify (d06/d09 path).
    // Verify rows carry both vectors: bytes ∝ work (dot reads each byte
    // once), the shape where size-based coalescing is calibrated.
    run("embedding_cosine_lsh_d06") {
      graft.operators.Dedup.embeddingCosinePairsLsh(
        emb, "vec_id", "embedding", 0.9)
    }

    // 3. incremental embedding screen (e23/d16 serve shape).
    run("embedding_cosine_incr_d16") {
      val fresh = emb.filter(col("vec_id") % 8 === 0)
      val corpus = emb.filter(col("vec_id") % 8 =!= 0)
      graft.operators.Dedup.incrementalEmbeddingPairsLsh(
        fresh, corpus, "vec_id", "embedding", 0.9)
    }

    // 3b. n-gram Jaccard pairs (d02 — the pair source g01/g02/g06/t35
    // also pay): shingle explode + self-join + size joins.
    run("ngram_jaccard_d02") {
      graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text")
    }

    // 4. winnow/positioned-window dup spans (t18): window hits ->
    // gaps-and-islands spans. The span window partitions by doc_id (never
    // global); the heavy stage is the positioned-window scan itself.
    run("dup_spans_t18") {
      graft.operators.CorpusOps.duplicateSpans(docs, "doc_id", "text")
    }

    // 5. winnow fingerprint contamination screen (t34 shape).
    run("winnow_contamination_t34") {
      val wfp = docs.select(col("doc_id"),
        graft.functions.TextFunctions.winnowFingerprint(col("text"))
          .as("winnow_fp"))
      val ho = wfp.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id").as("holdout_doc"), col("winnow_fp"))
      val tr = wfp.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id").as("train_doc"), col("winnow_fp"))
      ho.join(tr, Seq("winnow_fp"))
        .select(col("holdout_doc"), col("train_doc"))
    }

    // 5b. the same winnow screen through the fused word_shingles path +
    // core-width spread (the t10 shape after optimization r21) — the A/B
    // for case 5's interpreted HOF stack.
    run("winnow_contamination_fused") {
      val wfp = graft.operators.Caching.coreWidthBy(
          docs.select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"),
          graft.functions.TextFunctions.winnowFingerprintFused(
            spark, col("text")).as("winnow_fp"))
      val ho = wfp.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id").as("holdout_doc"), col("winnow_fp"))
      val tr = wfp.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id").as("train_doc"), col("winnow_fp"))
      ho.join(tr, Seq("winnow_fp"))
        .select(col("holdout_doc"), col("train_doc"))
    }

    // 6. the corpus-vocabulary rank window (CorpusOps
    // tokenDriftChi2FromCounts — the ONE unpartitioned window with real
    // rows behind it, VERDICT r20 #8): time the top-K subplan alone so
    // the single-task sort's cost at scale is a measurement, not a claim.
    // Vocabulary is language-bounded (~10⁵–10⁷) at any corpus size; run
    // this against a ×30 ScaledCorpus dir to see the worst local case.
    run("vocab_rank_window_t33") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("corpus_n").desc, col("tok"))
      docs.select(explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("corpus_n"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 50)
    }

    spark.stop()
  }
}
