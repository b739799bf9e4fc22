package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Phase decomposition of the PQ/IVF family (optimization r21, guide §1):
  * coarse k-means training, residual PQ codebook training, the search
  * action, and the recall queries' exact ground-truth side — timed
  * separately in one JVM so VERDICT r20 #4's overlap candidates are sized
  * before any code moves.
  *
  * Usage: runMain graft.examples.PqDiag [sfDir] [reps]
  */
object PqDiag {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.posture(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    import graft.operators.Similarity

    (1 to reps).foreach { i =>
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)

      val t0 = System.nanoTime()
      val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", 16, 3)
      val kmMs = ms(t0)

      val t1 = System.nanoTime()
      val cbs = Similarity.residualPqCodebooks(e, "vec_id", "embedding",
        16, 4, 16, 3)
      val pqMs = ms(t1) // NOTE: retrains coarse inside — kmMs-comparable slice

      val t2 = System.nanoTime()
      val n1 = Similarity.ivfPqSearch(q, e, "vec_id", "embedding",
        k = 5, nProbe = 2, coarseM = 20, residual = true).count()
      val searchMs = ms(t2) // trains coarse+pq AGAIN then one search action

      val t3 = System.nanoTime()
      val n2 = Similarity.cosineTopK(q, e, "vec_id", "embedding", 5).count()
      val exactMs = ms(t3)

      graft.SessionSweep.sweep(spark, blocking = true)
      println(f"[pq-diag] rep=$i kmeans=$kmMs%7.1f residualPq(incl km)=$pqMs%8.1f " +
        f"ivfPqSearch(train+search)=$searchMs%8.1f exactTopK=$exactMs%7.1f " +
        s"rows=$n1/$n2 cents=${cents.length} cbs=${cbs.length}")
    }
    spark.stop()
  }
}
