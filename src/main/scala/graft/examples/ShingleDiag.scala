package graft.examples

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Phase timer for the shingle-set derivation (optimization r20): the
  * (doc, shingle) set is the upstream cut of the whole Jaccard family
  * (d02/d07, g01–g10 via ngramJaccardPairs, t17/t23/t36 compositions), so
  * its scan-stage cost multiplies across ~20 declared queries. Times the
  * bare shingle explode, the full pair derivation, and reports stage
  * shapes. Not a declared query.
  */
object ShingleDiag {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.posture(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    println(s"docs: ${docs.count()} rows")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val dur = for (a <- i.completionTime; b <- i.submissionTime) yield a - b
        stages.add(f"    stage ${i.stageId}%3d ${i.numTasks}%3d tasks ${dur.getOrElse(-1L)}%5d ms")
      }
    })
    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
    import graft.functions.TextFunctions.{tokens, wordShingles}
    for (rep <- 1 to 3) {
      var t0 = System.nanoTime()
      docs.select(col("doc_id"),
          explode(array_distinct(wordShingles(tokens(col("text")), 4))).as("shingle"))
        .write.format("noop").mode("overwrite").save()
      val tSh = ms(t0)
      t0 = System.nanoTime()
      docs.select(col("doc_id"),
          explode(array_distinct(graft.functions.NativeFunctions
            .wordShinglesFused(spark, tokens(col("text")), 4))).as("shingle"))
        .write.format("noop").mode("overwrite").save()
      val tShF = ms(t0)
      t0 = System.nanoTime()
      graft.operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        persistShingles = false)
        .write.format("noop").mode("overwrite").save()
      val tPairs = ms(t0)
      println(f"rep $rep: shingle-explode hof ${tSh}%.0fms  fused ${tShF}%.0fms  full-pairs ${tPairs}%.0fms")
      if (rep == 3) stages.forEach(println) else stages.clear()
    }
    spark.stop()
  }
}
