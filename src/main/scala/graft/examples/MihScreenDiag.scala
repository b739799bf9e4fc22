package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Phase timer for the MIH screen family (s23/s26/e37, optimization r20):
  * splits a screen run into its sequential pieces — dim probe, plane
  * materialization, plan+execute of the band join — so the fixed-latency
  * pool is attributable before touching the operator. Not a declared query.
  */
object MihScreenDiag {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.posture(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val dur = for (a <- i.completionTime; b <- i.submissionTime) yield a - b
        stages.add(f"    stage ${i.stageId}%3d ${i.numTasks}%3d tasks ${dur.getOrElse(-1L)}%5d ms  ${i.name.takeWhile(_ != '(')}")
      }
    })
    for (rep <- 1 to 3) {
      var t0 = System.nanoTime()
      val dim = graft.operators.Similarity.vectorDim(e, "embedding")
      val tDim = ms(t0)
      t0 = System.nanoTime()
      val signs = graft.operators.Similarity.hyperplaneSigns(spark, 32, 100, dim)
      val tSigns = ms(t0)
      t0 = System.nanoTime()
      val screened = graft.operators.Similarity.mihHammingScreen(
        e.filter(col("vec_id") % 8 === 0), e.filter(col("vec_id") % 8 =!= 0),
        "vec_id", "embedding", radius = 6)
      val tBuild = ms(t0)
      t0 = System.nanoTime()
      screened.write.format("noop").mode("overwrite").save()
      val tRun = ms(t0)
      println(f"rep $rep: dim=$dim ${tDim}%.0fms signs ${tSigns}%.0fms build ${tBuild}%.0fms run ${tRun}%.0fms")
      if (rep == 3) { stages.forEach(s => println(s)) } else stages.clear()
    }
    spark.stop()
  }
}
