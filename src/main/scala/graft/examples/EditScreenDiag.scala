package graft.examples

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession

/** Phase decomposition of the e43 live edit screen (optimization r21,
  * guide §1: measure before touching): plan-build (static-side
  * materialization happens here), stream start, await (with per-batch
  * durations), and — for comparison — the BATCH twin (d20's incremental
  * screen) on the same split, all in one JVM so the numbers are
  * window-invariant.
  *
  * Usage: runMain graft.examples.EditScreenDiag [sfDir] [reps]
  */
object EditScreenDiag {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = GraftSession.posture(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

    // per-stage wall + task-time attribution
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        if (wall >= 100)
          stages.add(f"    stage ${si.stageId}%4d tasks=${si.numTasks}%4d " +
            f"wall=${wall}%6dms run=${si.taskMetrics.executorRunTime}%7dms " +
            si.name.take(90))
      }
    })

    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("lang") === "en")
      .filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(col("doc_id"), substring(col("text"), 1, 64).as("title"))
    def freshStream() = graft.streaming.ScreenStream.readDocs(spark, dir)
      .filter(col("lang") === "en")
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id"), substring(col("text"), 1, 64).as("title"))

    (1 to reps).foreach { i =>
      // --- batch twin for reference ---
      val tB = System.nanoTime()
      val batchN = graft.operators.Dedup.incrementalEditDistancePairs(
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("lang") === "en")
          .filter(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"), substring(col("text"), 1, 64).as("title")),
        corpus, "doc_id", "title", maxDist = 4, q = 4).count()
      val batchMs = ms(tB)
      graft.SessionSweep.sweep(spark, blocking = true)

      // --- streaming screen, phase-timed ---
      val parts = spark.sparkContext.defaultParallelism
      val ckpt = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/dev/shm"), "edit-diag-")
      val (planMs, startMs, awaitMs, durs) = GraftSession.withConf(spark,
          "spark.sql.streaming.checkpointFileManagerClass" ->
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager") {
        val tPlan = System.nanoTime()
        val screened = graft.streaming.ScreenStream.screenEditDistance(
          freshStream(), corpus, "doc_id", "title", maxDist = 4, q = 4)
        val planMs = ms(tPlan)
        GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> parts.toString) {
          val tStart = System.nanoTime()
          val q = screened.writeStream.format("memory")
            .queryName(s"edit_diag_$i")
            .option("checkpointLocation", ckpt.toString)
            .outputMode("append")
            .trigger(Trigger.AvailableNow())
            .start()
          val startMs = ms(tStart)
          val tAwait = System.nanoTime()
          q.awaitTermination()
          val awaitMs = ms(tAwait)
          val durs = q.recentProgress.toSeq.map(p =>
            s"${p.batchId}:${p.durationMs.getOrDefault("triggerExecution", -1L)}" +
              s"(addBatch=${p.durationMs.getOrDefault("addBatch", -1L)}," +
              s"queryPlanning=${p.durationMs.getOrDefault("queryPlanning", -1L)})")
          q.stop()
          (planMs, startMs, awaitMs, durs)
        }
      }
      val n = spark.table(s"edit_diag_$i").count()
      println(f"[edit-diag] rep=$i parts=$parts batch_twin=$batchMs%7.1f " +
        f"plan+statics=$planMs%7.1f start=$startMs%6.1f await=$awaitMs%7.1f " +
        s"rows=$n/$batchN ${durs.mkString(" ")}")
      if (i == reps) {
        println("  [edit-diag] stages >=100ms wall (whole rep, batch twin included):")
        stages.forEach(s => println(s))
      }
      stages.clear()
      spark.sql(s"DROP TABLE IF EXISTS edit_diag_$i")
      graft.SessionSweep.sweep(spark, blocking = true)
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try {
        val walk = Files.walk(ckpt)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    spark.stop()
  }
}
