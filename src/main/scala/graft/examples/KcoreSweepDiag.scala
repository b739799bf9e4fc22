package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Diagnostic for the g09 sweep schedule (optimization r20): times the
  * SEQUENTIAL per-k kCore sweep (the pre-r20 kCoreProfile shape) against
  * the concurrent kCoreProfile on the SAME warm caches in one JVM, so the
  * comparison is window-invariant (both sides pay identical data work;
  * only the job schedule differs). Not part of any declared query.
  */
object KcoreSweepDiag {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.posture(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text")
    val ks = Seq(2, 3, 4)
    var t0 = System.nanoTime()
    // warm the shared caches once so both schedules below compare pure sweep
    graft.operators.GraphOps.kCore(pairs, ks.head, rounds = 4).count()
    println(f"warm base+first-k: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    def sequential(): Long = {
      val f = ks.map { k =>
        graft.operators.GraphOps.kCore(pairs, k, rounds = 4)
          .agg(count(lit(1)).as("n_core_nodes"),
            (sum(col("core_degree")) / 2).cast("long").as("n_core_edges"))
          .select(lit(k).as("k"), col("n_core_nodes"), col("n_core_edges"))
      }.reduce(_ unionByName _)
      f.count()
    }
    def concurrent(): Long =
      graft.operators.GraphOps.kCoreProfile(pairs, ks, rounds = 4).count()
    for (rep <- 1 to 3) {
      t0 = System.nanoTime()
      val a = sequential()
      val tSeq = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      val b = concurrent()
      val tCon = (System.nanoTime() - t0) / 1e9
      println(f"rep $rep: sequential $tSeq%.2fs ($a rows)  concurrent $tCon%.2fs ($b rows)")
    }
    spark.stop()
  }
}
