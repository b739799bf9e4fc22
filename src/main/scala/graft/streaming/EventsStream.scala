package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY §2.10): the reference's execution
  * model is scheduled full-snapshot micro-batch, whose direct Spark analogue
  * is `Trigger.AvailableNow` — read what exists, process, stop; the schedule
  * re-triggers. These helpers run the SAME transforms as the batch queries
  * (`e02_event_windows`) through `readStream`, so batch/stream parity is
  * testable (StreamingSpec asserts it).
  */
object EventsStream {

  /** The nanos-era events schema (ts as epoch-ns LongType via
    * `nanosAsLong`). Kept only for specs that need A schema for a
    * nonexistent path; real reads probe the actual files — see
    * [[readEvents]].
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming read of an events directory, TYPE-ADAPTIVE on `ts`
    * (VERDICT r8 #1). `readStream` needs a declared schema, and declaring a
    * stale one is how round 8 silently corrupted every streaming query's
    * event times (a LongType declaration over timestamp[us] files divides
    * microseconds by 1000 instead of failing). So: probe the files' actual
    * schema with a batch read first (metadata-only — parquet footers, no
    * data scan), declare THAT, then normalize `ts` through the same shared
    * adapter the batch reader uses ([[graft.queries.Q.adaptEventTs]]:
    * timestamp → as-is/cast, integral → nanos conversion, else loud error).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = TableStream.readProbed(spark, dir, "events")
    graft.queries.Q.adaptEventTs(raw, s"$dir/events.parquet (stream)")
  }

  /** Tumbling 1-hour windowed aggregation with a watermark — the streaming
    * twin of `e02_event_windows`. Watermark bounds the state store: windows
    * older than (max event time - 2h) are finalized and evicted, so state is
    * O(active windows), not O(stream length) — the property that matters when
    * this runs forever against a real feed.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("total_value"))
      .select(col("w.start").as("win"), col("event_type"), col("n"), col("total_value"))

  /** Streaming deduplication with watermark-bounded state (the streaming
    * twin of `Dedup.exact` for at-least-once event feeds): a key re-arriving
    * within `delay` of the watermark is dropped as a duplicate; key state
    * older than the watermark is evicted, so the store is O(keys per delay
    * window), not O(stream length). Emission: the first sighting of a key
    * emits in its micro-batch (append mode). Survivor choice within a batch
    * is engine-determined, so deterministic consumers should project the key
    * columns (the e05 query contract).
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           watermarkCol: String = "ts",
                           delay: String = "2 hours"): DataFrame =
    events.withWatermark(watermarkCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** STREAM-STREAM interval join: rows from `right` that land within
    * [l.ts, l.ts + window] of a `left` row with the same key. Both sides
    * carry a watermark and the join condition carries the time range — the
    * two facts Spark's stream-stream join REQUIRES to bound its state
    * stores: each side buffers only rows newer than
    * (watermark − join window), so state is O(rows per window per key),
    * not O(stream length). Inner join in append mode: a pair emits once
    * both sides have arrived.
    *
    * Output columns: every `left` column, then every `right` column
    * prefixed per the caller's pre-join aliasing (callers should project
    * distinct names before joining — the helper keys on raw `ts`/key
    * column names on both sides).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   window: String = "1 hour",
                   delay: String = "2 hours",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", delay).alias("l")
    val r = right.withWatermark("ts", delay).alias("r")
    l.join(r, expr(
      s"l.$keyCol = r.$keyCol AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL $window"),
      joinType)
  }

  /** Enforces the single-runner contract of [[runAvailableNow]]. */
  private val inFlight = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Checkpoint root for throwaway AvailableNow runs: tmpfs when the host
    * has one. A micro-batch commits offsets + one state-store delta per
    * shuffle partition per store, each fsync'd — on spinning/virtual disks
    * those fsyncs dominated the stream-stream join's wall time (e09 was the
    * bench's slowest query with the work itself being trivial). A RESTARTABLE
    * production query must keep its checkpoint on durable shared storage;
    * these helpers are the reference's run-to-completion-then-discard model,
    * where the checkpoint dies with the run anyway.
    */
  private def ephemeralCheckpointRoot: java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.toPath
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** Checkpoint manager for [[ephemeralCheckpointRoot]] checkpoints. */
  private val ephemeralCheckpointManager =
    "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileSystemBasedCheckpointFileManager"

  /** Run a streaming query to a named in-memory sink with AvailableNow
    * semantics (process everything present, then stop) — the direct
    * equivalent of the reference's scheduled full-snapshot invocation.
    * The checkpoint is ephemeral ([[ephemeralCheckpointRoot]]) and deleted
    * on completion.
    *
    * `statePartitions` bounds the stream's shuffle width, which is ALSO the
    * number of state-store instances per stateful operator (pinned at first
    * start). Every micro-batch — including the zero-row watermark-advance
    * batch — pays a per-store commit plus a state scan per instance, so a
    * snapshot run inheriting a batch-sized `spark.sql.shuffle.partitions`
    * spends most of its wall time iterating idle stores (measured on the
    * stream-stream join: 32 partitions ≈ 5s, 8 ≈ 2s, identical output). A
    * long-lived production stream should size this to its volume instead —
    * results are identical at any width, only task/store counts change. The
    * session's batch setting is restored after the run.
    */
  def runAvailableNow(df: DataFrame, queryName: String,
                      outputMode: String = "append",
                      statePartitions: Int = 8): Unit = {
    val spark = df.sparkSession
    // The shuffle-partition save/set/restore below is session-global, like
    // every spark.conf setting: this helper assumes one runAvailableNow at
    // a time per JVM (the snapshot-runner contract). Overlapping runs from
    // multiple threads would race the restore, and a batch job planned
    // concurrently on the same session would silently see the reduced
    // width — so the contract is ENFORCED (VERDICT r6 #8), not just
    // documented: a second concurrent call fails loudly instead of
    // corrupting the session conf.
    if (!inFlight.compareAndSet(false, true))
      throw new IllegalStateException(
        "runAvailableNow is single-runner per JVM: another snapshot run is " +
          "in flight, and overlapping runs would race the session-global " +
          "spark.sql.shuffle.partitions save/restore. Serialize the calls.")
    try {
      val ckpt = java.nio.file.Files
        .createTempDirectory(ephemeralCheckpointRoot, "graft-ckpt-")
      // Checkpoint-manager choice (optimization r20, OPTIMIZATION_r20.md
      // §5): Spark's default FileContext-based manager costs ~30 ms PER
      // metadata write even on tmpfs — offsets WAL, commit log, and every
      // state-store delta all pay it, ~0.3–0.5 s per AvailableNow run
      // before any data work. The FileSystem-based manager (rename-based
      // atomicity — exactly as strong on a local filesystem, where rename
      // is atomic) does the same writes at ~7 ms. The checkpoint above is
      // always local and ephemeral ([[ephemeralCheckpointRoot]], deleted
      // below), so the local-FS guarantee is the only one that applies.
      // Both overrides ride the single-runner lock.
      val shuffle = "spark.sql.shuffle.partitions"
      val width = math.min(statePartitions, spark.conf.get(shuffle).toInt).max(1)
      val overrides = Seq(shuffle -> width.toString,
        "spark.sql.streaming.checkpointFileManagerClass" -> ephemeralCheckpointManager)
      try graft.GraftSession.withConf(spark, overrides: _*) {
        val q = df.writeStream
          .format("memory")
          .queryName(queryName)
          .option("checkpointLocation", ckpt.toString)
          .outputMode(outputMode)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // synchronous micro-batch accounting from THIS query's own history —
        // see StreamTelemetry for why a StreamingQueryListener can't do this.
        // Count from lastProgress.batchId (monotonic from 0, uncapped), NOT
        // recentProgress.length: the latter saturates at
        // spark.sql.streaming.numRecentProgressUpdates (default 100), so a
        // >100-micro-batch run would silently undercount (ADVICE r7). A
        // fresh AvailableNow query on a new checkpoint always starts at
        // batch 0, so batchId + 1 = batches this run.
        val batches = Option(q.lastProgress).map(_.batchId + 1L).getOrElse(0L)
        StreamTelemetry.microBatchesCompleted.addAndGet(batches)
        StreamTelemetry.recordRun(q)
      } finally {
        // best-effort cleanup that must never mask the query's own failure:
        // walk streams throw UncheckedIOException (a RuntimeException) from
        // iteration, not just IOException, and the stream holds a directory
        // handle until closed
        import java.nio.file.{Files, Path}
        import java.util.Comparator
        try {
          val walk = Files.walk(ckpt)
          try walk.sorted(Comparator.reverseOrder[Path]())
            .forEach(p => Files.deleteIfExists(p))
          finally walk.close()
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    } finally inFlight.set(false)
  }
}
