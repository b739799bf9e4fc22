package graft.examples

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession

/** Phase breakdown of the AvailableNow streaming floor (optimization r20,
  * guide §1: measure first). Every e-query pays runAvailableNow at least
  * once; this diag decomposes ONE minimal stream into start / execute /
  * stop and sweeps the candidate knobs so the floor is measured instead of
  * guessed. Reps within one JVM separate cold (codegen, source init) from
  * warm costs — the bench's per-query reps have the same shape.
  *
  * Usage: runMain graft.examples.StreamFloorDiag [sfDir] [reps]
  */
object StreamFloorDiag {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 4
    val spark = GraftSession.posture(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")

    def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

    /** One AvailableNow run to a memory sink with phase timing. */
    def run(label: String, mkDf: () => org.apache.spark.sql.DataFrame,
            outputMode: String, parts: Int): Unit = {
      (1 to reps).foreach { i =>
        val ckpt = java.nio.file.Files.createTempDirectory(
          java.nio.file.Paths.get("/dev/shm"), "floor-diag-")
        GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> parts.toString) {
          val tPlan = System.nanoTime()
          val df = mkDf()
          val planMs = ms(tPlan)
          val tStart = System.nanoTime()
          val q = df.writeStream.format("memory")
            .queryName(s"floor_${label}_$i")
            .option("checkpointLocation", ckpt.toString)
            .outputMode(outputMode)
            .trigger(Trigger.AvailableNow())
            .start()
          val startMs = ms(tStart)
          val tAwait = System.nanoTime()
          q.awaitTermination()
          val awaitMs = ms(tAwait)
          val batches = Option(q.lastProgress).map(_.batchId + 1L).getOrElse(0L)
          // per-batch durations from progress history
          val durs = q.recentProgress.toSeq.map(p =>
            s"${p.batchId}:${p.durationMs.getOrDefault("triggerExecution", -1L)}" +
              s"(addBatch=${p.durationMs.getOrDefault("addBatch", -1L)}," +
              s"queryPlanning=${p.durationMs.getOrDefault("queryPlanning", -1L)}," +
              s"walCommit=${p.durationMs.getOrDefault("walCommit", -1L)}," +
              s"latestOffset=${p.durationMs.getOrDefault("latestOffset", -1L)}," +
              s"commitOffsets=${p.durationMs.getOrDefault("commitOffsets", -1L)})")
          val tStop = System.nanoTime()
          q.stop()
          val stopMs = ms(tStop)
          println(f"[floor] $label%-28s parts=$parts%-2d rep=$i plan=$planMs%7.1f start=$startMs%7.1f await=$awaitMs%7.1f stop=$stopMs%6.1f batches=$batches ${durs.mkString(" ")}")
        }
        // drop the sink table + checkpoint
        spark.sql(s"DROP TABLE IF EXISTS floor_${label}_$i")
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try {
          val walk = Files.walk(ckpt)
          try walk.sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
          finally walk.close()
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    }

    // 1. stateless passthrough: the irreducible start/stop floor
    def passthrough() = graft.streaming.TableStream
      .readProbed(spark, dir, "documents").select(col("doc_id"))
    run("stateless_passthrough", () => passthrough(), "append", 8)
    run("stateless_passthrough", () => passthrough(), "append", 1)

    // 2. stateful complete-mode count: adds state store spin-up
    def statefulCount() = graft.streaming.TableStream
      .readProbed(spark, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    run("stateful_count", () => statefulCount(), "complete", 8)
    run("stateful_count", () => statefulCount(), "complete", 1)

    // 3. a real screen plan (e16-class): stream-static join + fold
    def e16ish() = {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val gate = graft.operators.CorpusOps.qualityGate(docs, "doc_id", "text")
        .select(col("doc_id"), col("keep"))
      graft.streaming.TableStream.readProbed(spark, dir, "documents")
        .join(gate, Seq("doc_id"))
        .groupBy(col("keep")).agg(count(lit(1)).as("n"))
    }
    try run("join_agg_screen", () => e16ish(), "complete", 8)
    catch { case e: Throwable => println(s"[floor] join_agg_screen failed: $e") }

    // 4. width sweep on the e15 screen shape (shingle join + stateful
    // fold): post-shuffle stages inside a micro-batch run at the state
    // width (AQE is off in streaming), so narrow widths may leave most
    // cores idle during addBatch while wide widths multiply state-store
    // commits — measure the crossover on THIS host/checkpoint layout.
    def e15ish() = {
      import graft.streaming.ScreenStream
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
      val sh = graft.operators.Dedup.shingleSet(corpus, "doc_id", "text", 4,
        persist = false)
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("set_size"))
      val fresh = ScreenStream.readDocs(spark, dir)
        .filter(pmod(col("doc_id"), lit(10)) >= 8)
      ScreenStream.screen(fresh, sh, sizes, "doc_id", "text")
    }
    Seq(4, 8, 16, 32).foreach { w =>
      try run("screen_e15_shape", () => e15ish(), "append", w)
      catch { case e: Throwable => println(s"[floor] screen w=$w failed: $e") }
    }

    // 5. width sweep on the stream-stream interval join (e09 shape): 4
    // state stores per partition, the shape the 8-partition default was
    // originally tuned on (pre-tmpfs checkpoints).
    def e09ish() = {
      import graft.streaming.EventsStream
      val ev = EventsStream.readEvents(spark, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts"), col("user_id"))
      val er = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("ts"), col("user_id"))
      EventsStream.intervalJoin(p, er, "user_id")
        .select(col("purchase_id"), col("error_id"))
    }
    Seq(4, 8, 16, 32).foreach { w =>
      try run("interval_join_e09", () => e09ish(), "append", w)
      catch { case e: Throwable => println(s"[floor] ssjoin w=$w failed: $e") }
    }

    // 6. offsets-WAL cost experiment: the default FileContext-based
    // checkpoint manager spends ~30 ms per metadata write even on tmpfs;
    // the FileSystem-based one (rename-based atomicity, same guarantee on
    // local FS) may be cheaper. Measured here before touching any default.
    val fsMgr = "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    try GraftSession.withConf(spark, fsMgr) {
      run("passthrough_fsmgr", () => passthrough(), "append", 8)
      run("stateful_count_fsmgr", () => statefulCount(), "complete", 8)
    } catch { case e: Throwable => println(s"[floor] fsmgr failed: $e") }

    // 7. RocksDB state-store experiment (VERDICT r20 #1 asked): measure
    // whether the native store's spin-up beats HDFSBackedStateStore for
    // the one-shot tiny-state AvailableNow shape before touching any
    // default. (Expectation: native column-family init per store per run
    // costs MORE than the in-memory map it replaces at this state size —
    // the measurement decides.)
    try GraftSession.withConf(spark, fsMgr) {
      // fsmgr + default provider control for the join shape (section 5 ran
      // the join under the FileContext manager — not the production pair)
      run("interval_join_fsmgr", () => e09ish(), "append", 8)
      GraftSession.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        run("stateful_count_rocks", () => statefulCount(), "complete", 8)
        run("interval_join_rocks", () => e09ish(), "append", 8)
      }
    } catch { case e: Throwable => println(s"[floor] rocksdb failed: $e") }

    spark.stop()
  }
}
