package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.Similarity

/** Runnable end-to-end retrieval-index lifecycle: the ANN operators
  * composed the way a vector store actually runs them —
  *
  *   train + build standing index → quality-gate it (recall@k vs exact)
  *   → serve a query batch → ingest new vectors under the frozen
  *   quantizer → serve again over the appended index → filtered search
  *
  * Every stage is the oracle-checked operator from `graft.queries` (s17,
  * s12, s18, s16); this main just shows they compose. Usage:
  * `runMain graft.examples.RetrievalPipelineDemo [sfDir]`
  */
object RetrievalPipelineDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.posture(4)
    spark.sparkContext.setLogLevel("ERROR")

    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
    val initial = embs.filter(pmod(col("vec_id"), lit(4)) =!= 0)
    val ingest = embs.filter(pmod(col("vec_id"), lit(4)) === 0)
    println(s"=== corpus: ${initial.count()} vectors indexed, " +
      s"${ingest.count()} held back as the ingest batch")

    // 1. build the standing index: bit-reproducible k-means + cid-bucketed
    // inverted file as warehouse tables (s17)
    val idx0 = Similarity.writeIvfIndex(initial, "vec_id", "embedding", "demo_ivf")
    println(s"=== index built: ${idx0.cells} (${idx0.corpusRows} rows, " +
      s"k=${idx0.nCentroids}, ${idx0.buckets} buckets)")

    // 2. quality gate before serving: recall@5 vs the exact ground truth
    // (the s12 standing gate — evaluation cost independent of corpus size)
    val q = initial.filter(col("vec_id") < 40)
    val recall = Similarity.recallAtK(
      Similarity.ivfSearchIndexed(q, idx0, "vec_id", "embedding", 5),
      Similarity.cosineTopK(q, initial, "vec_id", "embedding", 5), 5)
    val meanRecall = recall.agg(avg("recall")).head().getDouble(0)
    println(f"=== recall gate: mean recall@5 = $meanRecall%.3f over ${recall.count()} queries")

    // 3. serve a query batch from the standing tables — no training, no
    // corpus assignment scan on this path
    val served = Similarity.ivfSearchIndexed(
      embs.filter(col("vec_id") < 5), idx0, "vec_id", "embedding", 3)
    println(s"=== served ${served.count()} result rows:")
    served.orderBy("query_id", "rank").show(9, truncate = false)

    // 4. daily ingest: fold the new batch in under the FROZEN quantizer
    // (s18) — cell boundaries never move under standing assignments
    val idx1 = Similarity.appendIvfIndex(ingest, idx0, "vec_id", "embedding",
      epoch = 1L)
    println(s"=== appended: index now holds ${idx1.corpusRows} rows (no rebuild)")
    val servedAfter = Similarity.ivfSearchIndexed(
      embs.filter(col("vec_id") < 5), idx1, "vec_id", "embedding", 3)
    println(s"=== re-served over the appended index: ${servedAfter.count()} rows")

    // 5. constrained retrieval: neighbors must share the query's label
    // (s16 — the filter rides the cell scan as a join key, not a post-cut)
    val filtered = Similarity.cosineTopKFiltered(
      embs.filter(col("vec_id") < 5), embs, "vec_id", "embedding", "label", 3)
    println(s"=== filtered search (same-label): ${filtered.count()} rows")
    filtered.orderBy("query_id", "rank").show(9, truncate = false)

    spark.stop()
  }
}
