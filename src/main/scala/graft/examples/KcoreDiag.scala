package graft.examples

import graft.GraftSession

/** Throwaway diagnostic for the g07 plan cost (round 12). */
object KcoreDiag {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.posture(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    var t0 = System.nanoTime()
    val pairs = graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text")
    println(s"pairs rows: ${pairs.count()}  (${(System.nanoTime()-t0)/1e9}s)")
    t0 = System.nanoTime()
    val core = graft.operators.GraphOps.kCore(pairs, k = 2, rounds = 4)
    println(s"kcore rows: ${core.count()}  (${(System.nanoTime()-t0)/1e9}s)")
    core.explain("formatted")
    spark.stop()
  }
}
