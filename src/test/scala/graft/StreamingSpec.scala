package graft

import org.apache.spark.sql.functions._

import graft.streaming.EventsStream

/** Batch/stream parity: the streaming windowed aggregation over the events
  * fixture produces exactly the batch plan's rows once all data is processed
  * (AvailableNow = the reference's full-snapshot scheduled run, SURVEY §2.10).
  */
class StreamingSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("AvailableNow streaming windowed agg == batch windowed agg") {
    val stream = EventsStream.readEvents(spark, dir)
    assert(stream.isStreaming)
    // complete mode: every window is emitted, comparable to batch
    EventsStream.runAvailableNow(
      EventsStream.windowedCounts(stream), "win_counts", outputMode = "complete")
    val streamed = spark.table("win_counts")

    val batch = graft.queries.Q.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("win"), col("event_type"), col("n"), col("total_value"))

    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("runAvailableNow bounds state width for the run and restores the session") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    // the run completes at the bounded width with the same rows...
    EventsStream.runAvailableNow(
      EventsStream.windowedCounts(EventsStream.readEvents(spark, dir)),
      "width_probe", outputMode = "complete", statePartitions = 3)
    assert(spark.table("width_probe").count() > 0)
    // ...and the session's batch setting is back untouched
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
    // ... and restores even when the stream fails to start/run
    intercept[Exception] {
      EventsStream.runAvailableNow(
        spark.readStream.schema(EventsStream.rawSchema)
          .parquet("/nonexistent-graft-dir").groupBy("event_type").count(),
        "width_probe_fail", outputMode = "complete", statePartitions = 3)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }

  test("streaming fresh-vs-corpus screen == batch incremental screen") {
    import graft.streaming.ScreenStream
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = docs.filter(col("doc_id") < 400)
    val shC = Dedup.shingleSet(corpus, "doc_id", "text", 4, persist = false)
    val sizes = shC.groupBy(col("doc_id")).agg(count(lit(1)).as("set_size"))
    val fresh = ScreenStream.readDocs(spark, dir).filter(col("doc_id") >= 400)
    assert(fresh.isStreaming)
    EventsStream.runAvailableNow(
      ScreenStream.screen(fresh, shC, sizes, "doc_id", "text"),
      "stream_screen_parity", outputMode = "append")
    val streamed = spark.table("stream_screen_parity")
    val batch = Dedup.incrementalJaccardPairs(
      docs.filter(col("doc_id") >= 400), corpus, "doc_id", "text",
      persistShingles = false)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  // the MIH stream screens' static side: corpus codes at 4 x 8-bit bands
  private lazy val embs = spark.read.parquet(s"$dir/embeddings.parquet")
  private lazy val signs = graft.operators.Similarity.hyperplaneSigns(spark, 32,
    100, graft.operators.Similarity.vectorDim(embs, "embedding"))
  private lazy val corpusCodes = graft.operators.Similarity.mihCodeBands(
    embs.filter(col("vec_id") % 8 =!= 0), "vec_id", "embedding",
    "corpus_id", "c_code", signs, 4, 8)

  test("streaming MIH hamming screen == batch screen on the same split") {
    import graft.streaming.ScreenStream
    import graft.operators.Similarity
    val fresh = ScreenStream.readEmbeddings(spark, dir)
      .filter(col("vec_id") % 8 === 0)
    assert(fresh.isStreaming)
    EventsStream.runAvailableNow(
      ScreenStream.screenMih(fresh, corpusCodes, "vec_id", "embedding",
        signs, 4, 8, radius = 8),
      "stream_mih_parity", outputMode = "append")
    val streamed = spark.table("stream_mih_parity")
    val batch = Similarity.mihHammingScreen(
      embs.filter(col("vec_id") % 8 === 0),
      embs.filter(col("vec_id") % 8 =!= 0), "vec_id", "embedding",
      radius = 8)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
    // every emitted pair is within radius and hamming is an exact integer
    assert(streamed.filter(col("hamming") > 8).count() === 0)
  }

  test("streaming MIH screen: a null or 63-dim fresh vector fails naming the column") {
    import graft.streaming.ScreenStream
    val good = embs.filter(col("vec_id") % 8 === 0).select("vec_id", "embedding")
    Seq("null vector" -> lit(null).cast("array<float>"),
      "63-dim vector" -> slice(col("embedding"), 1, 63)).zipWithIndex.foreach {
      case ((what, vec), i) =>
        val fresh = java.nio.file.Files.createTempDirectory("mih_contract").toString
        good.unionByName(good.limit(1)
            .select(lit(900001L).as("vec_id"), vec.as("embedding")))
          .write.parquet(s"$fresh/embeddings.parquet")
        val e = intercept[Exception](EventsStream.runAvailableNow(
          ScreenStream.screenMih(ScreenStream.readEmbeddings(spark, fresh),
            corpusCodes, "vec_id", "embedding", signs, 4, 8, radius = 8),
          s"stream_mih_contract_$i", outputMode = "append"))
        assert(causeMentions(e, "embedding column 'embedding'",
          "non-null with one fixed dimension"), s"$what: $e")
    }
  }

  test("streaming embedding screen: a null vector, a null element or a 63-dim fresh vector fails naming the column") {
    import graft.streaming.ScreenStream
    val good = embs.filter(col("vec_id") % 8 === 0).select("vec_id", "embedding")
    val idx = graft.operators.Dedup.writeEmbeddingSignatureIndex(
      embs.filter(col("vec_id") % 8 =!= 0), "vec_id", "embedding", "emb_idx_stream_contract")
    Seq("null vector" -> lit(null).cast("array<float>"),
      "null element" -> transform(col("embedding"),
        (x, i) => when(i === 0, lit(null).cast("float")).otherwise(x)),
      "63-dim vector" -> slice(col("embedding"), 1, 63)).zipWithIndex.foreach {
      case ((what, vec), i) =>
        val fresh = java.nio.file.Files.createTempDirectory("lsh_contract").toString
        good.unionByName(good.limit(1)
            .select(lit(900001L).as("vec_id"), vec.as("embedding")))
          .write.parquet(s"$fresh/embeddings.parquet")
        val e = intercept[Exception](EventsStream.runAvailableNow(
          ScreenStream.screenEmbeddings(ScreenStream.readEmbeddings(spark, fresh),
            idx, "vec_id", "embedding", 0.4),
          s"stream_lsh_contract_$i", outputMode = "append"))
        assert(causeMentions(e, "LSH signatures", "embedding column 'embedding'",
          "non-null with one fixed dimension"), s"$what: $e")
    }
  }

  test("streaming gear-CDC screen == batch gear screen; shifted copies pair live") {
    import graft.streaming.ScreenStream
    import graft.operators.Multimodal
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = Multimodal.asMediaTable(docs, "doc_id", "text")
    val corpusD = Multimodal.gearDigestSet(corpus, "corpus_id")
    val sizes = corpusD.groupBy("corpus_id").agg(count(lit(1)).as("sz_c"))
    val docsSchema = spark.read
      .option("pathGlobFilter", "documents.parquet").parquet(dir).schema
    val freshStream = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(col("doc_id") < 5)
      .select((col("doc_id") + 100000).cast("long").as("doc_id"),
        concat(lit("~"), col("text")).cast("binary").as("payload"))
    assert(freshStream.isStreaming)
    EventsStream.runAvailableNow(
      ScreenStream.screenGearChunks(freshStream, corpusD, sizes),
      "stream_gear_parity", outputMode = "append")
    val streamed = spark.table("stream_gear_parity")
      .withColumn("jaccard", col("inter").cast("double") /
        (col("sz_f") + col("sz_c") - col("inter")).cast("double"))
      .filter(col("jaccard") >= 0.4)
      .select("fresh_id", "corpus_id", "inter", "sz_f", "sz_c", "jaccard")
    val freshBatch = Multimodal.asMediaTable(
      docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("~"), col("text")).as("text")),
      "doc_id", "text")
    val batch = Multimodal.incrementalGearChunkPairs(
      freshBatch, corpus, threshold = 0.4)
    assert(streamed.count() > 0) // boundary re-sync: shifted copies pair
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming quality-gate yield counts == batch gate + aggregation") {
    import graft.streaming.{QualityStream, ScreenStream}
    val stream = ScreenStream.readDocs(spark, dir)
    val gated = QualityStream.gateCounts(stream, "doc_id", "text")
    assert(gated.isStreaming)
    EventsStream.runAvailableNow(gated, "stream_quality_parity",
      outputMode = "complete")
    val streamed = spark.table("stream_quality_parity")
    val batch = QualityStream.gateCounts(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("stream-stream interval join == batch interval join") {
    def side(tpe: String, idAs: String) = EventsStream.readEvents(spark, dir)
      .filter(col("event_type") === tpe)
      .select(col("event_id").as(idAs), col("ts"), col("user_id"))
    val joined = EventsStream.intervalJoin(
      side("purchase", "purchase_id"), side("error", "error_id"), "user_id")
      .select(col("purchase_id"), col("error_id"))
    assert(joined.isStreaming)
    EventsStream.runAvailableNow(joined, "interval_join_parity")
    val streamed = spark.table("interval_join_parity")

    val ev = graft.queries.Q.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("pts"), col("user_id"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("ts").as("ets"), col("user_id"))
    val batch = p.join(e, Seq("user_id"))
      .filter(col("ets") >= col("pts") &&
        col("ets") <= col("pts") + expr("INTERVAL 1 HOUR"))
      .select("purchase_id", "error_id")

    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("left-outer stream-stream join: matched rows == batch; null rows watermark-bounded") {
    // Outer-null emission timing is governed by state eviction (watermark −
    // delay), so exact parity with batch is NOT the contract — the stable
    // contract is: matched rows identical to the batch join; emitted null
    // rows are a subset of the batch join's null rows (never an invented
    // pair, never a duplicate).
    def side(tpe: String, idAs: String) = EventsStream.readEvents(spark, dir)
      .filter(col("event_type") === tpe)
      .select(col("event_id").as(idAs), col("ts"), col("user_id"))
    val joined = EventsStream.intervalJoin(
      side("purchase", "purchase_id"), side("error", "error_id"), "user_id",
      joinType = "left_outer")
      .select(col("purchase_id"), col("error_id"))
    EventsStream.runAvailableNow(joined, "interval_outer_parity")
    val streamed = spark.table("interval_outer_parity")

    val ev = graft.queries.Q.events(spark, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("pts"), col("user_id"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("ts").as("ets"), col("user_id"))
    val batch = p.join(e,
      p("user_id") === e("user_id") && col("ets") >= col("pts") &&
        col("ets") <= col("pts") + expr("INTERVAL 1 HOUR"), "left_outer")
      .select("purchase_id", "error_id")

    val sMatched = streamed.filter(col("error_id").isNotNull)
    val bMatched = batch.filter(col("error_id").isNotNull)
    assert(sMatched.except(bMatched).count() === 0)
    assert(bMatched.except(sMatched).count() === 0)
    // null rows: subset of batch nulls, no duplicates
    val sNulls = streamed.filter(col("error_id").isNull).select("purchase_id")
    val bNulls = batch.filter(col("error_id").isNull).select("purchase_id")
    assert(sNulls.count() > 0, "outer rows must actually emit")
    assert(sNulls.except(bNulls).count() === 0)
    assert(sNulls.count() === sNulls.distinct().count())
    // the EXACT boundary (what e21's oracle grades value-exact): a null row
    // emits iff its whole join window sits strictly below the final
    // min-of-inputs watermark (ms-floored max ts − 2h delay per side)
    import org.apache.spark.sql.Row
    def wmMs(tpe: String): Long = ev.filter(col("event_type") === tpe)
      .agg(max(unix_micros(col("ts")))).head match {
        case Row(us: Long) => us / 1000 - 2L * 3600 * 1000
      }
    val wm = math.min(wmMs("purchase"), wmMs("error"))
    val bNullsEvictable = batch.filter(col("error_id").isNull)
      .filter(unix_micros(col("pts")) / 1000 + 3600000L < wm)
      .select("purchase_id")
    assert(sNulls.except(bNullsEvictable).count() === 0)
    assert(bNullsEvictable.except(sNulls).count() === 0)
  }

  test("stateful streaming sessionization == batch sessionization (closed sessions)") {
    val stream = EventsStream.readEvents(spark, dir)
    EventsStream.runAvailableNow(
      graft.streaming.SessionizeStream.sessions(stream).toDF(), "sessions_out")
    val streamed = spark.table("sessions_out")

    // batch oracle: e01's plan, restricted to each user's CLOSED sessions
    // (the open tail stays in streaming state until the watermark passes it;
    // AvailableNow ends before that happens for the trailing session).
    val batch = graft.SparkEntry.queries("e01_sessionize")(spark, dir)
    val lastPerUser = batch.groupBy("user_id")
      .agg(max("session_no").as("session_no"))
    val closedBatch = batch.join(lastPerUser, Seq("user_id", "session_no"), "left_anti")
      .select("user_id", "session_no", "n_events", "first_event")

    assert(streamed.count() > 0)
    // every gap-closed batch session is emitted...
    assert(closedBatch.except(streamed).count() === 0)
    // ...and everything emitted is a genuine batch session: gap-closed, or a
    // tail session finalized by event-time timeout (last event > gap+watermark
    // before the stream's max event time)
    val batchAll = batch.select("user_id", "session_no", "n_events", "first_event")
    assert(streamed.except(batchAll).count() === 0)
  }

  test("session numbering survives an event-time timeout (closed-marker state)") {
    import graft.streaming.SessionizeStream._
    import org.apache.spark.sql.streaming.TestGroupState
    // session 1 opens
    def mk(prev: Option[OpenSession], wmMs: Long, timedOut: Boolean) =
      TestGroupState.create[OpenSession](
        prev.map(org.apache.spark.api.java.Optional.of[OpenSession])
          .getOrElse(org.apache.spark.api.java.Optional.empty[OpenSession]()),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
        batchProcessingTimeMs = 0,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of[Long](wmMs),
        hasTimedOut = timedOut)
    val s1 = mk(None, 0, timedOut = false)
    assert(sessionize(7L, Iterator(Ev(7L, null, 1000L, 1L)), s1).isEmpty)
    assert(s1.get.sessionNo === 1)
    // watermark passes → timeout fires: session 1 emitted, marker retained
    val s2 = mk(Some(s1.get), Long.MaxValue / 2, timedOut = true)
    val emitted = sessionize(7L, Iterator.empty, s2).toSeq
    assert(emitted === Seq(Session(7L, 1, 1, 1L)))
    assert(s2.get.nEvents === 0) // closed marker, counter preserved
    // a much later event continues as session 2, not a duplicate session 1
    val s3 = mk(Some(s2.get), 0, timedOut = false)
    assert(sessionize(7L, Iterator(Ev(7L, null, GapMicros * 100, 2L)), s3).isEmpty)
    assert(s3.get.sessionNo === 2)
  }

  test("late in-batch event cannot regress the open session's end") {
    import graft.streaming.SessionizeStream._
    import org.apache.spark.sql.streaming.TestGroupState
    def mk(prev: Option[OpenSession]) =
      TestGroupState.create[OpenSession](
        prev.map(org.apache.spark.api.java.Optional.of[OpenSession])
          .getOrElse(org.apache.spark.api.java.Optional.empty[OpenSession]()),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
        batchProcessingTimeMs = 0,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of[Long](0L),
        hasTimedOut = false)
    val st = mk(None)
    // events arrive unsorted; after sort lastTs must be the max, so a
    // follow-up 29min after the TRUE end stays in-session
    assert(sessionize(1L, Iterator(
      Ev(1L, null, 100L, 1L), Ev(1L, null, 50L, 2L)), st).isEmpty)
    assert(st.get.lastTs === 100L)
    val cont = sessionize(1L,
      Iterator(Ev(1L, null, 100L + GapMicros - 1, 3L)),
      mk(Some(st.get)))
    assert(cont.isEmpty) // still one open session
  }

  test("cross-batch session continuity in a real multi-batch stream") {
    // split the events table into 2 time-ordered files and stream them one
    // file per micro-batch — sessions spanning the file boundary must not
    // split, and numbering must match the batch plan
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("events-2batch")
    val ev = graft.queries.Q.events(spark, dir).orderBy("ts")
    val n = ev.count()
    val rows = ev.collect()
    val (first, second) = rows.splitAt((n / 2).toInt)
    val schema = ev.schema
    Seq(("0", first), ("1", second)).foreach { case (name, part) =>
      spark.createDataFrame(
        spark.sparkContext.parallelize(part.toSeq, 1), schema)
        .write.parquet(s"$tmp/batch-$name")
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/batch-*")
    val q = graft.streaming.SessionizeStream.sessions(stream).toDF()
      .writeStream.format("memory").queryName("two_batch_sessions")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("two_batch_sessions")
    assert(q.lastProgress.batchId >= 1, "expected at least two micro-batches")

    val batch = graft.SparkEntry.queries("e01_sessionize")(spark, dir)
      .select("user_id", "session_no", "n_events", "first_event")
    // everything emitted across the batch boundary matches the global batch
    // computation exactly (no boundary splits, no renumbering)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() === 0)
  }

  test("funnel: timeout emits the reached stage; numbering continues past the marker; marker TTL removes state") {
    import graft.streaming.FunnelStream._
    import org.apache.spark.sql.streaming.TestGroupState
    def mk(prev: Option[OpenFunnel], wmMs: Long, timedOut: Boolean) =
      TestGroupState.create[OpenFunnel](
        prev.map(org.apache.spark.api.java.Optional.of[OpenFunnel])
          .getOrElse(org.apache.spark.api.java.Optional.empty[OpenFunnel]()),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
        batchProcessingTimeMs = 0,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of[Long](wmMs),
        hasTimedOut = timedOut)
    // session 1 opens and advances view→click (stage 2)
    val s1 = mk(None, 0, timedOut = false)
    assert(funnel(7L, Iterator(
      Ev(7L, null, 1000L, 1L, 1), Ev(7L, null, 2000L, 2L, 2)), s1).isEmpty)
    assert(s1.get === OpenFunnel(1, 2000L, 2, 2))
    // watermark passes → timeout: the session emits WITH its reached stage,
    // the closed marker (counter kept, stage reset) re-arms for the TTL
    val s2 = mk(Some(s1.get), Long.MaxValue / 2, timedOut = true)
    assert(funnel(7L, Iterator.empty, s2).toSeq === Seq(FunnelRow(7L, 1, 2, 2)))
    assert(s2.get === OpenFunnel(1, 2000L, 0, 0))
    // a much later event continues as session 2, not a duplicate session 1
    val s3 = mk(Some(s2.get), 0, timedOut = false)
    assert(funnel(7L, Iterator(Ev(7L, null, GapMicros * 100, 3L, 1)), s3).isEmpty)
    assert(s3.get.sessionNo === 2 && s3.get.stage === 1)
    // the marker's own timeout (TTL) removes the state entirely — no
    // immortal per-user rows
    val s4 = mk(Some(s2.get), Long.MaxValue / 2, timedOut = true)
    assert(funnel(7L, Iterator.empty, s4).isEmpty)
    assert(s4.isRemoved)
  }

  test("funnel: in-batch gap closes a session with its stage; fold advances only on the exact next step") {
    import graft.streaming.FunnelStream._
    import org.apache.spark.sql.streaming.TestGroupState
    // skipping a step does not advance; regression does not reset
    assert(advance(advance(0, 1), 3) === 1)
    assert(advance(advance(advance(0, 1), 2), 1) === 2)
    val st = TestGroupState.create[OpenFunnel](
      org.apache.spark.api.java.Optional.empty[OpenFunnel](),
      org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 0,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of[Long](0L),
      hasTimedOut = false)
    // full view→click→purchase inside the gap, then a gap opens session 2
    val out = funnel(1L, Iterator(
      Ev(1L, null, 0L, 1L, 1), Ev(1L, null, 1000L, 2L, 2),
      Ev(1L, null, 2000L, 3L, 3), Ev(1L, null, GapMicros * 10, 4L, 1)), st).toSeq
    assert(out === Seq(FunnelRow(1L, 1, 3, 3)))
    assert(st.get.sessionNo === 2 && st.get.stage === 1 && st.get.nEvents === 1)
  }

  test("cross-batch funnel continuity in a real multi-batch stream") {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("events-2batch-funnel")
    val ev = graft.queries.Q.events(spark, dir).orderBy("ts")
    val rows = ev.collect()
    val (first, second) = rows.splitAt(rows.length / 2)
    val schema = ev.schema
    Seq(("0", first), ("1", second)).foreach { case (name, part) =>
      spark.createDataFrame(
        spark.sparkContext.parallelize(part.toSeq, 1), schema)
        .write.parquet(s"$tmp/batch-$name")
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/batch-*")
    val q = graft.streaming.FunnelStream.funnels(stream).toDF()
      .writeStream.format("memory").queryName("two_batch_funnels")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("two_batch_funnels")
    assert(q.lastProgress.batchId >= 1, "expected at least two micro-batches")
    // the single-pass e33 run is driver-oracled against the batch SQL; the
    // two-batch run ends at the same final watermark, so its closed +
    // finalized rows must match exactly (no boundary splits or renumbering)
    val single = graft.SparkEntry.queries("e33_stream_funnel")(spark, dir)
      .select("user_id", "session_no", "stage", "n_events")
    assert(streamed.count() > 0)
    assert(streamed.except(single).count() === 0)
    assert(single.except(streamed).count() === 0)
  }

  test("streaming dedup drops within-watermark re-arrivals across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(java.sql.Timestamp, Long, String)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val q = graft.streaming.EventsStream.dedupWithinWatermark(
      ms.toDF().toDF("ts", "user_id", "event_type"),
      Seq("user_id", "event_type"), delay = "30 minutes")
      .select("user_id", "event_type")
      .writeStream.format("memory").queryName("stream_dedup_mb")
      .outputMode("append").start()
    try {
      ms.addData((ts(0), 1L, "click"), (ts(1), 1L, "click"), (ts(2), 2L, "view"))
      q.processAllAvailable()
      // batch 2: (1, click) re-arrives within the watermark -> duplicate
      ms.addData((ts(5), 1L, "click"), (ts(6), 3L, "click"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("stream_dedup_mb")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out.size === out.distinct.size, "no key may be emitted twice")
    assert(out.toSet === Set((1L, "click"), (2L, "view"), (3L, "click")))
  }

  test("sessionization state survives a query RESTART from checkpoint") {
    // run 1 processes the first half of the feed and stops; run 2 is a NEW
    // query over the same checkpoint after the second half lands — sessions
    // spanning the restart must continue (no splits, no renumbering, no
    // re-emission), exactly as if one query had seen everything
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("events-restart")
    val ckpt = java.nio.file.Files.createTempDirectory("restart-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("restart-out").toString
    val ev = graft.queries.Q.events(spark, dir).orderBy("ts")
    val rows = ev.collect()
    val (first, second) = rows.splitAt(rows.length / 2)
    val schema = ev.schema
    def addFile(name: String, part: Array[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(part.toSeq, 1), schema)
        .write.parquet(s"$tmp/batch-$name")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/batch-*")
      val q = graft.streaming.SessionizeStream.sessions(stream).toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    addFile("0", first)
    runOnce()
    val emittedAfterRun1 = spark.read.parquet(out).count()
    addFile("1", second)
    runOnce()
    val streamed = spark.read.parquet(out)
      .select("user_id", "session_no", "n_events", "first_event")
    assert(emittedAfterRun1 < streamed.count(), "run 2 must emit further sessions")
    val batch = graft.SparkEntry.queries("e01_sessionize")(spark, dir)
      .select("user_id", "session_no", "n_events", "first_event")
    // every session emitted across the restart matches the single-run batch
    // computation, and nothing was emitted twice
    assert(streamed.except(batch).count() === 0)
    assert(streamed.count() === streamed.distinct().count())
  }

  test("anomaly scoring state survives a query RESTART from checkpoint") {
    // run 1 processes the first half of the purchase feed and stops — its
    // final-minute events are still buffered in CHECKPOINTED state; run 2
    // is a new query over the same checkpoint after the second half lands.
    // Frames spanning the restart must continue (scores identical to one
    // uninterrupted run == the batch operator's watermark-ripe prefix),
    // with nothing emitted twice.
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("anom-restart")
    val ckpt = java.nio.file.Files.createTempDirectory("anom-ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("anom-out").toString
    val ev = graft.queries.Q.events(spark, dir)
      .filter(col("event_type") === "purchase").orderBy("ts")
    val rows = ev.collect()
    val (first, second) = rows.splitAt(rows.length / 2)
    val schema = ev.schema
    def addFile(name: String, part: Array[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(part.toSeq, 1), schema)
        .write.parquet(s"$tmp/batch-$name")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/batch-*")
      // TTL off: the fixture's per-user purchase gaps exceed 1h of event
      // time, and the batch operator being compared against has no idle
      // restarts (eviction itself is unit-tested separately)
      val q = graft.streaming.AnomalyStream
        .scores(stream, "user_id", "event_id", "value",
          idleTtlMillis = Long.MaxValue / 4).toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    addFile("0", first)
    runOnce()
    val emittedAfterRun1 = spark.read.parquet(out).count()
    addFile("1", second)
    runOnce()
    val streamed = spark.read.parquet(out)
      .select("key", "tie", "value", "n_prev", "z6", "is_anomaly")
    assert(emittedAfterRun1 < streamed.count(), "run 2 must emit further events")
    val evb = graft.queries.Q.events(spark, dir)
      .filter(col("event_type") === "purchase")
    val wmUs = {
      val m = evb.agg(max(unix_micros(col("ts")))).head().getLong(0)
      (m / 1000 - 60000) * 1000 // the ms-floored final watermark
    }
    val batch = graft.operators.TimeSeriesOps
      .anomalyZScores(evb, "user_id", "ts", "event_id", "value")
      .filter(unix_micros(col("ts")) < wmUs)
      .select(col("user_id").as("key"), col("event_id").as("tie"),
        col("value"), col("n_prev"), col("z6"), col("is_anomaly"))
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
    assert(streamed.count() === streamed.distinct().count())
  }

  test("left-outer stream-stream join state survives a query RESTART from checkpoint") {
    // Completes the restart-coverage triad (VERDICT r7 #3): sessionize and
    // anomaly restarts are pinned above; this pins the LAST stateful family,
    // the left-outer interval join, whose checkpoint carries BOTH sides'
    // join buffers AND the not-yet-matched left rows awaiting null-padding.
    // Run 1 processes the first half of the feed and stops; run 2 is a new
    // query on the same checkpoint after the second half lands. The
    // restarted pair must equal one UNINTERRUPTED query over the same files
    // with the same micro-batch boundaries (maxFilesPerTrigger=1): matched
    // rows that straddle the restart (purchase in run 1, error in run 2)
    // still pair, null-padded rows evict at the same watermark, nothing
    // emits twice.
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("oj-restart")
    val ckptA = java.nio.file.Files.createTempDirectory("oj-ckpt-a").toString
    val outA = java.nio.file.Files.createTempDirectory("oj-out-a").toString
    val ckptB = java.nio.file.Files.createTempDirectory("oj-ckpt-b").toString
    val outB = java.nio.file.Files.createTempDirectory("oj-out-b").toString
    val ev = graft.queries.Q.events(spark, dir)
      .filter(col("event_type").isin("purchase", "error")).orderBy("ts")
    val rows = ev.collect()
    val (first, second) = rows.splitAt(rows.length / 2)
    val schema = ev.schema
    def addFile(name: String, part: Array[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(part.toSeq, 1), schema)
        .write.parquet(s"$tmp/batch-$name")
    def joined() = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/batch-*")
      EventsStream.intervalJoin(
        stream.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("ts"), col("user_id")),
        stream.filter(col("event_type") === "error")
          .select(col("event_id").as("error_id"), col("ts"), col("user_id")),
        "user_id", joinType = "left_outer")
        .select(col("purchase_id"), col("error_id"), col("l.user_id").as("user_id"))
    }
    def runOnce(out: String, ckpt: String): Unit = {
      val q = joined().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    addFile("0", first)
    runOnce(outA, ckptA) // run 1: half the feed, then STOP
    val emittedAfterRun1 = spark.read.parquet(outA).count()
    addFile("1", second)
    runOnce(outA, ckptA) // run 2: NEW query, SAME checkpoint
    runOnce(outB, ckptB) // control: one uninterrupted query over both files
    val restarted = spark.read.parquet(outA)
    val control = spark.read.parquet(outB)
    assert(emittedAfterRun1 < restarted.count(), "run 2 must emit further rows")
    // the fixture must exercise both emission paths across the restart
    assert(restarted.filter(col("error_id").isNotNull).count() > 0, "no matched rows")
    assert(restarted.filter(col("error_id").isNull).count() > 0, "no null-padded rows")
    assert(restarted.except(control).count() === 0)
    assert(control.except(restarted).count() === 0)
    assert(restarted.count() === restarted.distinct().count(), "duplicate emission")
  }

  test("flatMapGroupsWithState EWMA state survives a query RESTART from checkpoint") {
    // Extends restart coverage to the EWMA family (VERDICT r9 #7): its
    // checkpoint carries the richest custom state encoding — the running
    // (acc, n) fold, the last-seen timestamp AND the in-watermark pending
    // buffer, plus a registered event-time timeout per key. Run 1 processes
    // the first half of the purchase feed and stops mid-fold; run 2 is a
    // NEW query on the same checkpoint after the second half lands. The
    // restarted pair must emit bit-equal finalized rows to one
    // UNINTERRUPTED query over the same files at the same micro-batch
    // boundaries — folds spanning the restart continue from the
    // checkpointed accumulator, timeouts re-arm, nothing emits twice.
    //
    // TTL choice: a query STOP ends with a no-data batch in which keys
    // whose later events haven't arrived yet can burst-finalize (that IS
    // the idle-TTL semantics — stopping a feed mid-gap looks idle; the
    // first draft of this spec measured 28 keys doing exactly that). The
    // restart-parity claim is about the STATE ENCODING, not about TTL
    // firing, so the TTL is sized to outlast every straddling key's
    // boundary gap, and a far-future sentinel event then advances the
    // watermark so every real key finalizes through the checkpointed fold
    // in both scenarios.
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("ewma-restart")
    val ckptA = java.nio.file.Files.createTempDirectory("ewma-ckpt-a").toString
    val outA = java.nio.file.Files.createTempDirectory("ewma-out-a").toString
    val ckptB = java.nio.file.Files.createTempDirectory("ewma-ckpt-b").toString
    val outB = java.nio.file.Files.createTempDirectory("ewma-out-b").toString
    val ev = graft.queries.Q.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .orderBy("ts")
    val rows = ev.collect()
    val (first, second) = rows.splitAt(rows.length / 2)
    val schema = ev.schema
    def tsMs(r: org.apache.spark.sql.Row): Long =
      r.getAs[java.sql.Timestamp]("ts").getTime
    // straddlers: keys with events on both sides of the split — the TTL
    // must exceed (run-1-final-watermark − their last batch-0 event) so the
    // stop can't finalize them ahead of their own queued later events
    val keys1 = second.map(_.getAs[Long]("user_id")).toSet
    val wm0Ms = first.map(tsMs).max - 60000
    val maxGapMs = first.filter(r => keys1.contains(r.getAs[Long]("user_id")))
      .groupBy(_.getAs[Long]("user_id")).values
      .map(rs => wm0Ms - rs.map(tsMs).max).max
    val ttlMs = maxGapMs + 120000
    val sentinelKey = -1L
    val sentinel = org.apache.spark.sql.Row(sentinelKey,
      new java.sql.Timestamp(rows.map(tsMs).max + ttlMs + 3600000),
      -1L, 0.0)
    def addFile(name: String, part: Array[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(part.toSeq, 1), schema)
        .write.parquet(s"$tmp/batch-$name")
    def runOnce(out: String, ckpt: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/batch-*")
      val q = graft.streaming.EwmaStream
        .ewma(stream, "user_id", "event_id", "value", alpha = 0.1,
          idleTtlMillis = ttlMs).toDF()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    addFile("0", first)
    runOnce(outA, ckptA) // run 1: half the feed, then STOP mid-fold
    // no straddling key may finalize at the stop boundary (TTL outlasts it)
    val run1Keys = spark.read.parquet(outA)
      .select("key").collect().map(_.getLong(0)).toSet
    assert(run1Keys.intersect(keys1).isEmpty,
      "a key finalized at the stop ahead of its own queued later events")
    addFile("1", second :+ sentinel)
    runOnce(outA, ckptA) // run 2: NEW query, SAME checkpoint
    runOnce(outB, ckptB) // control: one uninterrupted query over both files
    val restarted = spark.read.parquet(outA).filter(col("key") =!= sentinelKey)
    val control = spark.read.parquet(outB).filter(col("key") =!= sentinelKey)
    assert(restarted.count() > 0, "fixture must finalize at least one key")
    assert(run1Keys.size < restarted.count(), "run 2 must emit further keys")
    // straddlers must actually be present in the output — their folds are
    // the rows that crossed the restart through the checkpointed state
    assert(restarted.select("key").collect().map(_.getLong(0)).toSet
      .intersect(keys1).nonEmpty, "no fold crossed the restart")
    // bit-equal finalized rows (ewma compared as exact doubles): the state
    // encoding round-tripped through the checkpoint without perturbing the
    // fold
    assert(restarted.except(control).count() === 0)
    assert(control.except(restarted).count() === 0)
    assert(restarted.count() === restarted.distinct().count(), "duplicate emission")
  }

  test("e22 multi-batch EWMA: bit-equal to single-batch e20, and the split is real") {
    // the oracle equality (shared SQL) is graded by the driver; this spec
    // pins the two facts the oracle can't see: the feed really arrives as
    // MULTIPLE micro-batches, and emitted keys really span the split (so
    // the cross-batch partial-fold path runs, not just a re-run of e20)
    val mb0 = graft.streaming.StreamTelemetry.microBatchesCompleted.get()
    val multi = graft.SparkEntry.queries("e22_stream_ewma_multibatch")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val mbUsed = graft.streaming.StreamTelemetry.microBatchesCompleted.get() - mb0
    assert(mbUsed >= 3, s"expected >= 2 data + 1 advance micro-batches, got $mbUsed")
    val single = graft.SparkEntry.queries("e20_stream_ewma")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(multi.nonEmpty)
    assert(multi === single, "multi-batch fold diverged from single-batch fold")
    // at least one EMITTED key must have events on both sides of the median
    val ev = graft.queries.Q.events(spark, dir)
      .filter(col("event_type") === "purchase")
    val midUs = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .head().getDouble(0).toLong
    val spanning = ev.groupBy("user_id")
      .agg(min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
      .filter(col("lo") <= midUs && col("hi") > midUs)
      .select("user_id").collect().map(_.getLong(0)).toSet
    assert(multi.map(_._1).toSet.intersect(spanning).nonEmpty,
      "no emitted key spans the batch split — fixture exercises nothing new")
  }

  test("streaming EWMA == batch ewmaPerKey fold across out-of-order micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double)]
    def ts(h: Int, m: Int, s: Int = 0) =
      java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:$s%02d")
    val alpha = 0.25
    val q = graft.streaming.EwmaStream.ewma(
      ms.toDF().toDF("ts", "k", "tie", "v"), "k", "tie", "v", alpha,
      delay = "1 minute")
      .toDF()
      .writeStream.format("memory").queryName("ewma_stream_parity")
      .outputMode("append").start()
    val batch1 = Seq( // out of order WITHIN the batch
      (ts(10, 5), 1L, 1L, 1.0), (ts(10, 3), 1L, 2L, 2.0), (ts(10, 4), 2L, 3L, 5.0))
    val batch2 = Seq( // out of order ACROSS batches: 10:04:30 lands after 10:05
      (ts(10, 4, 30), 1L, 4L, 3.0), (ts(10, 6), 2L, 5L, 1.0))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      // watermark far past lastTs + IdleTtl -> keys 1,2 finalize; the second
      // sentinel forces the micro-batch in which the timeouts actually fire
      ms.addData(Seq((ts(13, 30), 99L, 6L, 0.0))); q.processAllAvailable()
      ms.addData(Seq((ts(13, 31), 99L, 7L, 0.0))); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ewma_stream_parity")
      .filter(col("key") =!= 99L)
      .select(col("key").as("k"), col("n_events"), col("ewma"))
    val batch = graft.operators.TimeSeriesOps.ewmaPerKey(
      (batch1 ++ batch2).toDF("ts", "k", "tie", "v"), "k", "ts", "tie", "v", alpha)
    assert(streamed.count() === 2)
    // EXACT equality: identical fold order -> identical double arithmetic
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming anomaly == batch anomalyZScores across out-of-order micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(java.sql.Timestamp, Long, Long, Double)]
    def ts(h: Int, m: Int, s: Int = 0) =
      java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:$s%02d")
    val q = graft.streaming.AnomalyStream.scores(
      ms.toDF().toDF("ts", "k", "tie", "v"), "k", "tie", "v",
      lookback = 20, minPrev = 5, delay = "1 minute")
      .toDF()
      .writeStream.format("memory").queryName("anomaly_stream_parity")
      .outputMode("append").start()
    // key 1: 1..5 then a 100 spike (flagged); key 2: constants (zero
    // variance, never flagged); late-but-IN-WATERMARK arrivals across
    // batches (batch-1 max is 10:05, so the watermark is 10:04 — a 10:04:30
    // event in batch 2 is out of order yet not droppable-late)
    val batch1 = Seq(
      (ts(10, 1), 1L, 1L, 1.0), (ts(10, 3), 1L, 3L, 3.0), (ts(10, 2), 1L, 2L, 2.0),
      (ts(10, 5), 1L, 5L, 5.0), (ts(10, 1), 2L, 6L, 10.0), (ts(10, 2), 2L, 7L, 10.0))
    val batch2 = Seq( // 10:04:30 lands after 10:05 was seen
      (ts(10, 4, 30), 1L, 4L, 4.0), (ts(10, 6), 1L, 8L, 100.0),
      (ts(10, 4, 30), 2L, 9L, 10.0), (ts(10, 7), 2L, 10L, 10.0))
    try {
      ms.addData(batch1); q.processAllAvailable()
      ms.addData(batch2); q.processAllAvailable()
      // sentinel key far past every event + idle TTL; second one forces the
      // batch in which the flush timeouts actually fire
      ms.addData(Seq((ts(13, 30), 99L, 11L, 0.0))); q.processAllAvailable()
      ms.addData(Seq((ts(13, 31), 99L, 12L, 0.0))); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("anomaly_stream_parity")
      .filter(col("key") =!= 99L)
      .select(col("key").as("k"), col("tie"), col("value"),
        col("n_prev"), col("z6"), col("is_anomaly"))
    val batch = graft.operators.TimeSeriesOps.anomalyZScores(
      (batch1 ++ batch2).toDF("ts", "k", "tie", "v"), "k", "ts", "tie", "v")
      .select(col("k"), col("tie"), col("v").as("value"),
        col("n_prev"), col("z6"), col("is_anomaly"))
    assert(streamed.count() === 10)
    assert(streamed.filter(col("is_anomaly")).count() === 1) // the 100 spike
    // EXACT equality: same decimal moments, same double ops, same rounding
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("streaming anomaly buffers in-watermark events; evicts only on idle TTL") {
    import graft.streaming.AnomalyStream._
    import org.apache.spark.sql.streaming.TestGroupState
    def mk(prev: Option[AnomalyState], wmMs: Long, timedOut: Boolean) =
      TestGroupState.create[AnomalyState](
        prev.map(org.apache.spark.api.java.Optional.of[AnomalyState])
          .getOrElse(org.apache.spark.api.java.Optional.empty[AnomalyState]()),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
        batchProcessingTimeMs = 0,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of[Long](wmMs),
        hasTimedOut = timedOut)
    def pt(us: Long, tie: Long, v: Double) =
      Pt(1L, new java.sql.Timestamp(us / 1000), us, tie, v)
    val st = step(3, 2, 3.0) _
    // watermark 0: everything buffers, nothing scores
    val s1 = mk(None, 0L, timedOut = false)
    assert(st(1L, Iterator(pt(5_000_000L, 1L, 4.0), pt(3_000_000L, 2L, 2.0)), s1).isEmpty)
    assert(s1.get.frame.isEmpty && s1.get.pending.size === 2)
    // watermark passes 3s only: that event scores against an empty frame
    val s2 = mk(Some(s1.get), 4_000L, timedOut = false)
    assert(st(1L, Iterator(pt(4_500_000L, 3L, 6.0)), s2).toSeq ===
      Seq(ScoredPt(1L, 2L, 2.0, 0L, None, false)))
    assert(s2.get.frame === List((3_000_000L, 2L, 2.0)))
    assert(s2.get.pending.map(_._2).sorted === List(1L, 3L))
    // flush timeout: ripe events score in (ts, tie) order against the
    // growing frame; the key is NOT evicted (not idle). Frame (2,6) for the
    // 5s event: mean 4, var 8 → z6 = 0.0 exactly
    val s3 = mk(Some(s2.get), 10_000L, timedOut = true)
    assert(st(1L, Iterator.empty, s3).toSeq === Seq(
      ScoredPt(1L, 3L, 6.0, 1L, None, false),
      ScoredPt(1L, 1L, 4.0, 2L, Some(0.0), false)))
    assert(!s3.isRemoved, "a flush timeout must not drop the frame")
    assert(s3.get.frame.size === 3 && s3.get.pending.isEmpty)
    // idle TTL with nothing pending: the key evicts entirely
    val s4 = mk(Some(s3.get), 5_000L + IdleTtlMillis, timedOut = true)
    assert(st(1L, Iterator.empty, s4).isEmpty)
    assert(s4.isRemoved, "idle key must evict its state")
  }

  test("streaming EWMA buffers in-watermark events and evicts state on idle timeout") {
    import graft.streaming.EwmaStream._
    import org.apache.spark.sql.streaming.TestGroupState
    def mk(prev: Option[EwmaState], wmMs: Long, timedOut: Boolean) =
      TestGroupState.create[EwmaState](
        prev.map(org.apache.spark.api.java.Optional.of[EwmaState])
          .getOrElse(org.apache.spark.api.java.Optional.empty[EwmaState]()),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
        batchProcessingTimeMs = 0,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.of[Long](wmMs),
        hasTimedOut = timedOut)
    def pt(us: Long, tie: Long, v: Double) =
      Pt(1L, new java.sql.Timestamp(us / 1000), us, tie, v)
    val alpha = 0.5
    // watermark 0: everything buffers, nothing folds, nothing emits
    val s1 = mk(None, 0L, timedOut = false)
    assert(step(alpha)(1L, Iterator(pt(5_000_000L, 1L, 4.0), pt(3_000_000L, 2L, 2.0)), s1).isEmpty)
    assert(s1.get.n === 0L && s1.get.pending.size === 2)
    // watermark passes 3s (strictly): only the 3s event is ripe and folds
    val s2 = mk(Some(s1.get), 4_000L, timedOut = false)
    assert(step(alpha)(1L, Iterator(pt(4_000_000L, 3L, 6.0)), s2).isEmpty)
    assert(s2.get.n === 1L && s2.get.acc === 1.0) // 0.0*(1-a) + 2.0*a
    assert(s2.get.pending.map(_._1).sorted === List(4_000_000L, 5_000_000L))
    // idle timeout: remaining pending folds IN (ts, tie) ORDER, key evicted
    val s3 = mk(Some(s2.get), Long.MaxValue / 2, timedOut = true)
    val out = step(alpha)(1L, Iterator.empty, s3).toSeq
    assert(out === Seq(KeyEwma(1L, 3L, ((1.0 * 0.5 + 6.0 * 0.5) * 0.5 + 4.0 * 0.5))))
    assert(s3.isRemoved, "finalized key must evict its state")
    // a returning key restarts from the 0.0 seed (no stale accumulator)
    val s4 = mk(None, 100_000L, timedOut = false)
    assert(step(alpha)(1L, Iterator(pt(200_000_000L, 9L, 8.0)), s4).isEmpty)
    assert(s4.get.acc === 0.0 && s4.get.n === 0L && s4.get.pending.size === 1)
  }

  test("watermark evicts finalized windows in append mode") {
    val stream = EventsStream.readEvents(spark, dir)
    EventsStream.runAvailableNow(
      EventsStream.windowedCounts(stream), "win_append", outputMode = "append")
    val appended = spark.table("win_append")
    // With a 2h watermark over a 30-day fixture, all but the trailing
    // (window × event_type) groups are finalized and emitted exactly once;
    // the unfinalized tail stays in state (not emitted).
    val batchGroups = graft.queries.Q.events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("win"), col("event_type")).distinct()
    val total = batchGroups.count()
    assert(appended.count() < total, "watermark should hold back the trailing windows")
    assert(appended.count() >= total - 15, "only the trailing ~2h may be held back")
    // every emitted group matches the batch plan exactly
    assert(appended.join(batchGroups, Seq("win", "event_type"), "left_anti").count() === 0)
  }

  test("runAvailableNow rejects a concurrent call loudly (VERDICT r6 #8)") {
    // The session-global shuffle-partition save/restore makes overlapping
    // snapshot runs a silent-corruption hazard; the guard turns the
    // documented single-runner contract into an enforced one. A UDF latch
    // holds the first run mid-micro-batch while the second call is made.
    import java.util.concurrent.TimeUnit
    val block = udf { (x: Long) =>
      RunGuardGate.entered.countDown()
      RunGuardGate.release.await(30, TimeUnit.SECONDS)
      x
    }
    val first = EventsStream.readEvents(spark, dir)
      .withColumn("gated", block(col("event_id")))
    @volatile var firstErr: Throwable = null
    val t = new Thread(() => {
      try EventsStream.runAvailableNow(first, "guard_first")
      catch { case e: Throwable => firstErr = e }
    }, "guard-first-runner")
    t.start()
    try {
      assert(RunGuardGate.entered.await(60, TimeUnit.SECONDS),
        "first snapshot run never started processing")
      val ex = intercept[IllegalStateException] {
        EventsStream.runAvailableNow(
          EventsStream.readEvents(spark, dir), "guard_second")
      }
      assert(ex.getMessage.contains("single-runner"))
    } finally {
      RunGuardGate.release.countDown()
      t.join(120000)
    }
    assert(!t.isAlive, "first run did not finish after release")
    assert(firstErr == null, s"first run failed: $firstErr")
    // and the guard is released: a THIRD, serialized run succeeds
    EventsStream.runAvailableNow(
      EventsStream.readEvents(spark, dir), "guard_third")
    assert(spark.table("guard_third").count() > 0)
  }

  test("e24: HLL registers accumulate across micro-batches == batch sketch of the union") {
    // the streaming register table is complete-mode max state: after two
    // micro-batches it must equal the BATCH sketch over everything seen —
    // the register-merge law under the stream's incremental arrival order
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sketches
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(String, Long)]
    val regs = Sketches.hllRegisters(
      ms.toDF().toDF("grp", "k"), Seq("grp"), col("k"))
    val q = regs.writeStream.format("memory").queryName("stream_hll_mb")
      .outputMode("complete").start()
    val b1 = (1L to 80L).map(i => ("a", i)) ++ (1L to 30L).map(i => ("b", i))
    val b2 = (60L to 140L).map(i => ("a", i)) ++ (200L to 220L).map(i => ("b", i))
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("stream_hll_mb")
    val batch = Sketches.hllRegisters((b1 ++ b2).toDF("grp", "k"), Seq("grp"), col("k"))
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed register state diverged from the batch sketch of the union")
    // and the served estimates agree bit-for-bit
    assert(Sketches.hllEstimate(streamed, Seq("grp")).orderBy("grp").collect().toSeq ===
      Sketches.hllEstimate(batch, Seq("grp")).orderBy("grp").collect().toSeq)
  }

  test("e50: stream-maintained gram counts == batch knGramCounts of the union") {
    // the complete-mode (k, g) count is the LM maintenance rung's stream
    // state: after two micro-batches it must equal the batch gram counts
    // of everything seen — the additive-delta law the standing gram
    // tables fold in (and the oracle then grades end to end)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.CorpusOps
    import graft.functions.TextFunctions
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, String)]
    val grams = (2 to 4).map { k =>
      ms.toDF().toDF("doc_id", "text").select(lit(k).as("k"),
        explode(TextFunctions.wordShingles(
          TextFunctions.tokens(col("text")), k)).as("g"))
    }.reduce(_.unionByName(_))
      .groupBy("k", "g").agg(count(lit(1)).as("n"))
    val q = grams.writeStream.format("memory").queryName("stream_kngc_mb")
      .outputMode("complete").start()
    val b1 = Seq((1L, "a b c a b"), (2L, "b c d e"))
    val b2 = Seq((3L, "a b c a b c"), (4L, "x y"))
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("stream_kngc_mb")
    for (k <- 2 to 4) {
      val batch = CorpusOps.knGramCounts(
        (b1 ++ b2).toDF("doc_id", "text"), "text", k)
      val slice = streamed.filter(col("k") === k).select("g", "n")
      assert(slice.except(batch).isEmpty && batch.except(slice).isEmpty,
        s"stream-maintained k=$k gram counts diverged from the batch recount")
    }
  }

  test("e25: CMS grid accumulates across micro-batches == batch grid of the union") {
    // complete-mode additive counter state: after two micro-batches the
    // grid must equal the batch routing of everything seen
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sketches
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Long]
    val grid = Sketches.cmsInstances(ms.toDF().toDF("user_id"), col("user_id"))
      .groupBy("r", "bucket").agg(count(lit(1)).as("cell"))
    val q = grid.writeStream.format("memory").queryName("stream_cms_mb")
      .outputMode("complete").start()
    val b1 = (1L to 50L) ++ (1L to 20L)
    val b2 = (30L to 90L) ++ Seq.fill(15)(7L)
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = Sketches.cmsInstances((b1 ++ b2).toDF("user_id"), col("user_id"))
      .groupBy("r", "bucket").agg(count(lit(1)).as("cell"))
    val streamed = spark.table("stream_cms_mb")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed grid diverged from the batch grid of the union")
  }

  test("e26: histogram counters accumulate across micro-batches; quantiles bit-equal") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sketches
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(String, Double)]
    val counts = Sketches.histCounts(
      ms.toDF().toDF("grp", "v"), Seq("grp"), col("v"))
    val q = counts.writeStream.format("memory").queryName("stream_hist_mb")
      .outputMode("complete").start()
    val rnd = new scala.util.Random(23)
    val b1 = Seq.fill(200)(("a", rnd.nextDouble() * 520)) ++
      Seq.fill(80)(("b", rnd.nextDouble() * 100))
    val b2 = Seq.fill(150)(("a", rnd.nextDouble() * 300)) ++
      Seq.fill(60)(("b", rnd.nextDouble() * 600))
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = Sketches.histCounts((b1 ++ b2).toDF("grp", "v"), Seq("grp"), col("v"))
    val streamed = spark.table("stream_hist_mb")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed counters diverged from the batch histogram of the union")
    val qs = Seq(0.5, 0.9, 0.99)
    assert(Sketches.histQuantiles(streamed, Seq("grp"), qs).orderBy("grp", "q").collect().toSeq ===
      Sketches.histQuantiles(batch, Seq("grp"), qs).orderBy("grp", "q").collect().toSeq)
  }

  test("e27: KMV bottom-k accumulates across micro-batches == batch sketch of the union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sketches
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(String, Long)]
    val sk = Sketches.kmvSketches(ms.toDF().toDF("et", "k"), "et", col("k"), 8)
    val q = sk.writeStream.format("memory").queryName("stream_kmv_mb")
      .outputMode("complete").start()
    val b1 = (1L to 60L).map(("a", _)) ++ (1L to 5L).map(("b", _))
    val b2 = (40L to 120L).map(("a", _)) ++ (3L to 9L).map(("b", _))
    try {
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = Sketches.kmvSketches((b1 ++ b2).toDF("et", "k"), "et", col("k"), 8)
    val streamed = spark.table("stream_kmv_mb")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed bottom-k state diverged from the batch sketch of the union")
  }

  test("complete-mode sketch state survives a query RESTART from checkpoint") {
    // the e24/e25/e26 serving story assumes the grid/register state outlives
    // any one query run: run 1 counts the first half of the feed and stops;
    // run 2 is a NEW query on the same checkpoint that only sees the second
    // half (file-source offsets are committed) — its complete-mode emission
    // must still equal the batch grid over EVERYTHING, which can only
    // happen if run 1's counters were recovered from the state store
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Sketches
    val tmp = java.nio.file.Files.createTempDirectory("cms-restart")
    val ckpt = java.nio.file.Files.createTempDirectory("cms-restart-ckpt").toString
    val ev = graft.queries.Q.events(spark, dir).select("user_id")
    val rows = ev.collect()
    val (first, second) = rows.splitAt(rows.length / 2)
    val schema = ev.schema
    def addFile(name: String, part: Array[org.apache.spark.sql.Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(part.toSeq, 1), schema)
        .write.parquet(s"$tmp/batch-$name")
    def runOnce(sink: String): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/batch-*")
      val q = Sketches.cmsInstances(stream, col("user_id"))
        .groupBy("r", "bucket").agg(count(lit(1)).as("cell"))
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    addFile("0", first)
    runOnce("cms_restart_1")
    addFile("1", second)
    runOnce("cms_restart_2")
    val batch = Sketches.cmsInstances(ev, col("user_id"))
      .groupBy("r", "bucket").agg(count(lit(1)).as("cell"))
    val streamed = spark.table("cms_restart_2")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "post-restart grid diverged from the batch grid over the full feed")
  }

  test("e39: incremental-state streaming KN fold == batch bigramLogprob, bit-exact") {
    import graft.streaming.{KnScoreStream, ScreenStream}
    import graft.operators.CorpusOps
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val lm = CorpusOps.kneserNeyLm(docs, "doc_id", "text")
      .select(col("bg"), col("lp"))
    val stream = ScreenStream.readDocs(spark, dir)
    assert(stream.isStreaming)
    EventsStream.runAvailableNow(
      KnScoreStream.score(stream, "doc_id", "text", lm).toDF(),
      "stream_kn_parity", outputMode = "append")
    val streamed = spark.table("stream_kn_parity")
    val batch = CorpusOps.bigramLogprob(docs, "doc_id", "text", lm, -20.0)
    assert(streamed.count() > 0)
    // append mode + whole-doc delivery: exactly ONE emission per doc, and
    // the doubles bit-match the batch position-ordered fold (except is
    // bitwise on doubles)
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("e40: n-gram-generic streaming fold (k=3) == batch trigramLogprob, bit-exact") {
    import graft.streaming.{KnScoreStream, ScreenStream}
    import graft.operators.CorpusOps
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val lm = CorpusOps.kneserNeyTrigramLm(docs, "doc_id", "text")
      .select(col("tg"), col("lp"))
    val stream = ScreenStream.readDocs(spark, dir)
    assert(stream.isStreaming)
    EventsStream.runAvailableNow(
      KnScoreStream.scoreGrams(stream, "doc_id", "text", lm, -20.0, 3, "tg")
        .toDF().toDF("doc_id", "n_trigrams", "mean_logprob"),
      "stream_kn3_parity", outputMode = "append")
    val streamed = spark.table("stream_kn3_parity")
    val batch = CorpusOps.trigramLogprob(docs, "doc_id", "text", lm, -20.0)
    assert(streamed.count() > 0)
    // one append emission per doc, doubles bit-equal to the batch
    // position-ordered fold (except is bitwise on doubles)
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("e41: streaming temperature-gate yields == batch resample aggregation") {
    import graft.streaming.{MixStream, ScreenStream}
    import graft.operators.CorpusOps
    import graft.functions.TextFunctions.tokens
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val rates = CorpusOps.temperatureRates(docs, "lang")
    val stream = ScreenStream.readDocs(spark, dir)
    assert(stream.isStreaming)
    EventsStream.runAvailableNow(
      MixStream.gatedYields(stream, rates, "doc_id", "lang", "text"),
      "stream_mix_parity", outputMode = "complete")
    val streamed = spark.table("stream_mix_parity")
    val batch = CorpusOps.temperatureResample(docs, "doc_id", "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens_kept"))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
  }

  test("e42: staged streaming recipe == batch t42 composition, verdict-identical") {
    val batch = graft.SparkEntry.queries("t42_multimodal_recipe")(spark, dir)
    val live = graft.SparkEntry.queries("e42_stream_multimodal_recipe")(spark, dir)
    assert(live.count() > 0)
    assert(live.count() === batch.count())
    assert(live.except(batch).count() === 0)
    assert(batch.except(live).count() === 0)
    // the recipe is non-degenerate on this fixture: at least one reject
    // from some stage, and accepted docs exist
    val verdicts = live.select("verdict").distinct()
      .collect().map(_.getString(0)).toSet
    assert(verdicts.contains("accepted") && verdicts.size >= 2)
  }

  test("TableStream: a directory-shaped table streams its rows (zero-row glob trap)") {
    import graft.streaming.ScreenStream
    // Build a dir-shaped corpus: <tmp>/documents.parquet is a DIRECTORY of
    // part files — the layout Spark itself writes (ScaledCorpus, any lake
    // table). The pre-fix glob-over-sf-dir read streamed ZERO rows from
    // this layout (r13 smoke audit: a 10× streaming smoke came out 6×
    // faster than 1× because its stream was empty).
    val tmp = java.nio.file.Files.createTempDirectory("dirshape").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.write.parquet(s"$tmp/documents.parquet")
    assert(new java.io.File(s"$tmp/documents.parquet").isDirectory)
    val stream = ScreenStream.readDocs(spark, tmp)
    assert(stream.isStreaming)
    EventsStream.runAvailableNow(
      stream.groupBy().count(), "dirshape_count", outputMode = "complete")
    val streamed = spark.table("dirshape_count").collect().head.getLong(0)
    assert(streamed === docs.count(),
      "directory-shaped documents table must stream every row")
  }

  test("e39 step: cross-batch running fold seeds from state, sorts within batch") {
    import graft.streaming.KnScoreStream
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val rows = Seq.tabulate(7)(i =>
      KnScoreStream.BgRow(1L, i, -0.5 - i * 0.125))
    // batch-fold reference: positions in order from a 0.0 seed
    val full = rows.foldLeft(0.0)((a, r) => a + r.lp)
    // batch 1 delivers positions 0..3 shuffled; batch 2 delivers 4..6
    val s1 = TestGroupState.create[KnScoreStream.DocState](
      Optional.empty(), GroupStateTimeout.NoTimeout, 0L,
      Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]],
      hasTimedOut = false)
    val out1 = KnScoreStream.step(1L,
      Iterator(rows(3), rows(0), rows(2), rows(1)), s1).toList
    // partial emission reports the rows folded SO FAR
    assert(out1.map(_.n_bigrams) === List(4L))
    assert(s1.get.nFolded === 4L)
    val s2 = TestGroupState.create[KnScoreStream.DocState](
      Optional.of(s1.get), GroupStateTimeout.NoTimeout, 0L,
      Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]],
      hasTimedOut = false)
    val out2 = KnScoreStream.step(1L,
      Iterator(rows(6), rows(4), rows(5)), s2).toList
    assert(s2.get.nFolded === 7L)
    assert(out2.head.n_bigrams === 7L)
    // the carried sum makes the two-batch fold BIT-equal to the one-shot
    // position-ordered fold
    assert(out2.head.mean_logprob === full / 7.0)
  }

  test("e39 step TTL: idle timeout drops state; re-arrival re-scores from seed") {
    import graft.streaming.KnScoreStream
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val ttl = 60000L
    val rows = Seq.tabulate(3)(i => KnScoreStream.BgRow(7L, i, -1.0 - i))
    // arrival under an armed ProcessingTimeTimeout: scores and re-arms
    val s1 = TestGroupState.create[KnScoreStream.DocState](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout, 1000L,
      Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]],
      hasTimedOut = false)
    val out1 = KnScoreStream.step(ttl)(7L, rows.iterator, s1).toList
    assert(out1.map(_.n_bigrams) === List(3L))
    assert(s1.getTimeoutTimestampMs.get === 1000L + ttl,
      "arrival must re-arm the idle TTL")
    // the timeout firing drops the 16-byte state and emits nothing (the
    // score already went out on arrival)
    val sT = TestGroupState.create[KnScoreStream.DocState](
      Optional.of(s1.get), GroupStateTimeout.ProcessingTimeTimeout, 1000L + ttl,
      Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]],
      hasTimedOut = true)
    assert(KnScoreStream.step(ttl)(7L, Iterator.empty, sT).isEmpty)
    assert(sT.isRemoved, "timed-out doc state must be dropped")
    // a doc re-arriving AFTER the drop re-scores from the fold seed — the
    // documented bounded-state trade-off, not a silent continuation
    val s2 = TestGroupState.create[KnScoreStream.DocState](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout, 2000L + ttl,
      Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]],
      hasTimedOut = false)
    val out2 = KnScoreStream.step(ttl)(7L, rows.iterator, s2).toList
    assert(out2 === out1, "post-drop re-arrival must fold from the seed")
  }

  test("streaming edit-distance screen == batch incremental screen; typo'd copies pair live") {
    import graft.streaming.{EventsStream, ScreenStream}
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = docs.filter(col("lang") === "en")
      .select(col("doc_id"), substring(col("text"), 1, 64).as("title"))
    // fresh = one-substitution copies of corpus titles under shifted ids,
    // so true pairs at dist 1 are guaranteed to exist
    def typo(c: org.apache.spark.sql.Column) =
      concat(substring(c, 1, 7), lit("#"), substring(c, 9, 64))
    val docsSchema = spark.read
      .option("pathGlobFilter", "documents.parquet").parquet(dir).schema
    val freshStream = spark.readStream.schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(col("lang") === "en" && col("doc_id") < 50 &&
        length(col("text")) >= 16)
      .select((col("doc_id") + 100000).cast("long").as("doc_id"),
        typo(substring(col("text"), 1, 64)).as("title"))
    assert(freshStream.isStreaming)
    EventsStream.runAvailableNow(
      ScreenStream.screenEditDistance(freshStream, corpus, "doc_id", "title"),
      "stream_edit_parity", outputMode = "append")
    val streamed = spark.table("stream_edit_parity")
    val freshBatch = docs
      .filter(col("lang") === "en" && col("doc_id") < 50 &&
        length(col("text")) >= 16)
      .select((col("doc_id") + 100000).cast("long").as("doc_id"),
        typo(substring(col("text"), 1, 64)).as("title"))
    val batch = Dedup.incrementalEditDistancePairs(
      freshBatch, corpus, "doc_id", "title")
    assert(streamed.count() > 0, "typo'd copies must pair live")
    assert(streamed.except(batch).count() === 0)
    assert(batch.except(streamed).count() === 0)
    // the STANDING-INDEX paths land pair-identical to the direct screen:
    // indexed batch (d22), frozen-order appended (d23 — half the corpus
    // folded in under the build-time rarity order; the shared-total-order
    // theorem keeps the OUTPUT exact even where candidate sets differ),
    // and the indexed live screen (e46)
    val idx = Dedup.writeEditIndex(corpus, "doc_id", "title", "spec_edit_full")
    val idxB = Dedup.incrementalEditDistancePairsIndexed(
      freshBatch, idx, "doc_id", "title")
    assert(idxB.except(batch).count() === 0)
    assert(batch.except(idxB).count() === 0)
    val half = Dedup.writeEditIndex(
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "title", "spec_edit_half")
    Dedup.appendEditIndex(
      corpus.filter(col("doc_id") % 2 === 1), half, "doc_id", "title",
      epoch = 1L)
    val appB = Dedup.incrementalEditDistancePairsIndexed(
      freshBatch, half, "doc_id", "title")
    assert(appB.except(batch).count() === 0, "appended screen must add no pair")
    assert(batch.except(appB).count() === 0, "appended screen must miss no pair")
    EventsStream.runAvailableNow(
      ScreenStream.screenEditDistanceIndexed(freshStream, idx, "doc_id", "title"),
      "stream_edit_idx_parity", outputMode = "append")
    val streamedIdx = spark.table("stream_edit_idx_parity")
    assert(streamedIdx.except(batch).count() === 0)
    assert(batch.except(streamedIdx).count() === 0)
    // and the LIVE screen against the APPENDED (frozen-order) index — the
    // always-on deployment's actual shape: tomorrow's stream probes
    // today's compacted index, still pair-exact vs the from-scratch screen
    EventsStream.runAvailableNow(
      ScreenStream.screenEditDistanceIndexed(freshStream, half, "doc_id", "title"),
      "stream_edit_app_parity", outputMode = "append")
    val streamedApp = spark.table("stream_edit_app_parity")
    assert(streamedApp.except(batch).count() === 0)
    assert(batch.except(streamedApp).count() === 0)
  }

  test("writeEditIndex bakes knobs into the layout identity (no knob-mismatched reuse)") {
    // The stored prefix table is cut at q·maxDist+1 grams AT BUILD TIME,
    // so reusing a namePrefix with different knobs must resolve to a
    // DIFFERENT table family (the writeMihIndex naming pattern) — the old
    // idempotence check keyed on the prefix alone and would return an
    // index whose stored prefixes were cut for the FIRST caller's knobs,
    // silently breaking the pigeonhole guarantee (ADVICE r14).
    import graft.operators.Dedup
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamba"))
      .toDF("doc_id", "title")
    val a = Dedup.writeEditIndex(corpus, "doc_id", "title",
      "spec_edit_knobs", maxDist = 1, q = 4)
    val b = Dedup.writeEditIndex(corpus, "doc_id", "title",
      "spec_edit_knobs", maxDist = 4, q = 4)
    assert((a.dfq != b.dfq) && (a.prefix != b.prefix) &&
      (a.shortPool != b.shortPool) && (a.strings != b.strings),
      "knob-mismatched reuse must build a new table family")
    assert(a.maxDist === 1 && b.maxDist === 4)
    // each layout serves its own contract: the dist-2 pair is beyond a's
    // bound and within b's
    val fresh = Seq((10L, "alpha beta gamble")).toDF("doc_id", "title")
    val atA = Dedup.incrementalEditDistancePairsIndexed(
      fresh, a, "doc_id", "title").collect()
    assert(atA.forall(_.getLong(2) <= 1))
    val atB = Dedup.incrementalEditDistancePairsIndexed(
      fresh, b, "doc_id", "title").collect()
    assert(atB.map(r => (r.getLong(1), r.getLong(2))).toSet
      .contains((2L, 2L)), "dist-2 pair must surface under maxDist=4 layout")
  }

  test("adaptive-window EditIndex: offset frozen at build, across append, and in the live screen") {
    // VERDICT r15 #1: the d24 adaptive slice threaded through the
    // standing-index family. Pins (a) the build-time LCP lands in the
    // knob-baked layout identity; (b) an APPEND slices at the index's
    // frozen offset — never its own LCP — and the screen stays
    // pair-exact vs the direct incremental screen over the frozen
    // window; (c) on the shared-head corpus the FIXED-window standing
    // index trips the candidate guard where the adaptive index stays
    // selective (the d24 A/B, standing-path flavored); (d) the live
    // screen slices arrivals at the frozen offset.
    import graft.operators.Dedup
    import graft.streaming.{EventsStream, ScreenStream}
    import spark.implicits._
    val head = "https://corpus.example.org/shard-0000/2026/01/01/documents/part-"
    assert(head.length === 64)
    val rnd = new scala.util.Random(11)
    def tail(): String = Seq.fill(48)(
      "abcdefghijklmnopqrstuvwxyz0123456789"(rnd.nextInt(36))).mkString
    val tails = Seq.fill(40)(tail())
    // build half: shared-head strings (corpus LCP = the 64-char head)
    val half1 = tails.take(20).zipWithIndex
      .map { case (t, i) => (i.toLong, head + t + t) }.toDF("doc_id", "s0")
    // append half: NO shared head (its own LCP is ~0) — long enough that
    // the frozen window still sees real content
    val half2 = tails.drop(20).zipWithIndex
      .map { case (t, i) => ((i + 100).toLong, "plain-" + t + t) }.toDF("doc_id", "s0")
    val idx = Dedup.writeEditIndex(half1, "doc_id", "s0",
      "spec_edit_adapt", sliceChars = 64)
    assert(idx.sliceFrom === 65,
      s"build-time LCP must be the shared head; got ${idx.sliceFrom}")
    assert(idx.sliceChars === 64)
    assert(idx.dfq.contains("w64o65"),
      "window knobs must join the layout identity")
    val idx2 = Dedup.appendEditIndex(half2, idx, "doc_id", "s0", epoch = 1L)
    assert(idx2.sliceFrom === 65 && idx2.sliceChars === 64,
      "append must carry the frozen offset, never recompute it")
    // fresh: one-substitution copies (typo at position 70 — inside the
    // frozen window) of strings from BOTH halves, shifted ids
    def typo(s: String) = s.updated(70, '#')
    val fresh = (
      tails.take(5).zipWithIndex.map { case (t, i) =>
        ((i + 1000).toLong, typo(head + t + t)) } ++
      tails.drop(20).take(5).zipWithIndex.map { case (t, i) =>
        ((i + 2000).toLong, typo("plain-" + t + t)) })
      .toDF("doc_id", "s0")
    val screened = Dedup.incrementalEditDistancePairsIndexed(
      fresh, idx2, "doc_id", "s0")
    // reference: the direct incremental screen with BOTH sides pre-sliced
    // at the FROZEN window — including the appended half, whose own LCP
    // differs (the window is part of the operator definition)
    def frozenSlice(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), substring(col("s0"), 65, 64).as("s"))
    val ref = Dedup.incrementalEditDistancePairs(
      frozenSlice(fresh), frozenSlice(half1.union(half2)), "doc_id", "s")
    assert(screened.count() > 0, "typo'd copies of both halves must pair")
    assert(screened.except(ref).count() === 0)
    assert(ref.except(screened).count() === 0)
    // both halves' planted pairs surface — the appended half screens at
    // the frozen window even though it never shared the head
    val byId = screened.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0 until 5).forall(i => byId.contains(((i + 1000).toLong, i.toLong))))
    assert((0 until 5).forall(i => byId.contains(((i + 2000).toLong, (i + 100).toLong))))
    // the A/B: a FIXED-window standing index on the shared-head corpus
    // fills every prefix with head grams — all 5×20 fresh×corpus pairs
    // survive the prefix join and a cap below that must abort — while the
    // adaptive index under the SAME cap screens fine
    val fixedIdx = Dedup.writeEditIndex(
      half1.select(col("doc_id"), substring(col("s0"), 1, 64).as("s0")),
      "doc_id", "s0", "spec_edit_fixedwin")
    val freshHalf1 = fresh.filter(col("doc_id") < 2000)
    val e = intercept[Exception] {
      Dedup.incrementalEditDistancePairsIndexed(
        freshHalf1.select(col("doc_id"), substring(col("s0"), 1, 64).as("s0")),
        fixedIdx, "doc_id", "s0", maxCandidates = 90L).count()
    }
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        ++ Iterator.single("")).mkString(" | ")
    assert(rootMsg(e).contains("exceeds maxCandidates"),
      s"fixed-window standing screen must trip the guard: ${rootMsg(e).take(300)}")
    val adaptPairs = Dedup.incrementalEditDistancePairsIndexed(
      freshHalf1, idx, "doc_id", "s0", maxCandidates = 90L)
    assert(adaptPairs.count() === 5,
      "adaptive standing screen under the same cap keeps only true collisions")
    // live twin: arrivals slice at the frozen offset inside the plan
    val tmp = java.nio.file.Files.createTempDirectory("edit_adapt_stream").toString
    fresh.write.mode("overwrite").parquet(tmp)
    val fstream = spark.readStream.schema(fresh.schema).parquet(tmp)
    EventsStream.runAvailableNow(
      ScreenStream.screenEditDistanceIndexed(fstream, idx2, "doc_id", "s0"),
      "stream_edit_adapt_parity", outputMode = "append")
    val streamed = spark.table("stream_edit_adapt_parity")
    assert(streamed.except(ref).count() === 0)
    assert(ref.except(streamed).count() === 0)
    // DIRECT live screen with adaptiveSliceChars: the corpus LCP is a
    // plan-build-time batch aggregate over the static side; both sides
    // slice at the same offset, so the direct screen over half1 equals
    // the incremental screen over half1 at half1's OWN frozen window
    // (offset 65 — the same shared head)
    EventsStream.runAvailableNow(
      ScreenStream.screenEditDistance(fstream, half1, "doc_id", "s0",
        adaptiveSliceChars = 64),
      "stream_edit_adapt_direct", outputMode = "append")
    val directStreamed = spark.table("stream_edit_adapt_direct")
    val refHalf1 = Dedup.incrementalEditDistancePairs(
      frozenSlice(fresh), frozenSlice(half1), "doc_id", "s")
    assert(directStreamed.count() > 0)
    assert(directStreamed.except(refHalf1).count() === 0)
    assert(refHalf1.except(directStreamed).count() === 0)
  }

  test("bandedLevenshtein matches Spark's thresholded levenshtein") {
    import graft.streaming.ScreenStream
    val rnd = new scala.util.Random(42)
    def word() = Seq.fill(rnd.nextInt(12))("abcd"(rnd.nextInt(4))).mkString
    val cases = Seq.fill(300)((word(), word())) ++
      Seq(("", ""), ("", "abc"), ("abcd", ""), ("abcd", "abce"))
    import spark.implicits._
    cases.toDF("a", "b")
      .withColumn("d", levenshtein(col("a"), col("b"), 4))
      .collect().foreach { r =>
        assert(ScreenStream.bandedLevenshtein(r.getString(0), r.getString(1), 4)
          === r.getInt(2).toLong,
          s"'${r.getString(0)}' vs '${r.getString(1)}'")
      }
  }

  test("screen folds: per-doc aggregation + enforced whole-doc delivery") {
    import graft.operators.SetOverlap
    import graft.streaming.ScreenStream
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def st(seen: Option[Boolean]) = TestGroupState.create[Boolean](
      seen.map(java.lang.Boolean.valueOf(_).booleanValue())
        .map(Optional.of[Boolean]).getOrElse(Optional.empty[Boolean]()),
      GroupStateTimeout.NoTimeout, 0L,
      Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]],
      hasTimedOut = false)
    // SetOverlap.fold: shared-key counts per corpus doc, sizes carried
    val rows = Iterator(
      SetOverlap.CollisionRow(1L, 4L, 10L, 5L),
      SetOverlap.CollisionRow(1L, 4L, 10L, 5L),
      SetOverlap.CollisionRow(1L, 4L, 11L, 6L))
    val out = SetOverlap.fold("t", 0.0)(1L, rows, st(None)).toList
    assert(out.toSet === Set(
      SetOverlap.PairOut(1L, 10L, 4L, 5L, 2L, 2.0 / 7),
      SetOverlap.PairOut(1L, 11L, 4L, 6L, 1L, 1.0 / 9)))
    // fold-side Jaccard cut: 2/(4+5-2)=0.286 ≥ 0.25 kept, 1/9=0.11 dropped
    // — the emission (and so the in-memory sink) stays verdict-sized
    val cut = SetOverlap.fold("t", 0.25)(1L, Iterator(
      SetOverlap.CollisionRow(1L, 4L, 10L, 5L),
      SetOverlap.CollisionRow(1L, 4L, 10L, 5L),
      SetOverlap.CollisionRow(1L, 4L, 11L, 6L)), st(None)).toList
    assert(cut === List(SetOverlap.PairOut(1L, 10L, 4L, 5L, 2L, 2.0 / 7)))
    // distinctPairFold: first-seen metric per corpus doc, one row each
    val vrows = Iterator(
      ScreenStream.VerifiedRow(2L, 20L, 0.9),
      ScreenStream.VerifiedRow(2L, 20L, 0.9),
      ScreenStream.VerifiedRow(2L, 21L, 0.7))
    val vout = ScreenStream.distinctPairFold("t")(2L, vrows, st(None)).toList
    assert(vout.toSet === Set(
      ScreenStream.VerifiedRow(2L, 20L, 0.9),
      ScreenStream.VerifiedRow(2L, 21L, 0.7)))
    // the MIH screen's rows through the same fold: Hamming as the metric
    val mout = ScreenStream.distinctPairFold("ScreenStream.screenMih")(3L, Iterator(
      ScreenStream.VerifiedRow(3L, 30L, 2.0), ScreenStream.VerifiedRow(3L, 30L, 2.0)),
      st(None)).toList
    assert(mout === List(ScreenStream.VerifiedRow(3L, 30L, 2.0)))
    // the whole-doc-delivery contract is ENFORCED: a doc whose rows span a
    // second micro-batch fails loudly instead of silently undercounting
    val e = intercept[IllegalStateException] {
      SetOverlap.fold("t", 0.0)(1L,
        Iterator(SetOverlap.CollisionRow(1L, 4L, 10L, 5L)),
        st(Some(true))).toList
    }
    assert(e.getMessage.contains("second micro-batch"))
  }

  test("screen folds: idleTtl drops the seen flag; post-drop re-arrival re-screens") {
    // ADVICE r14: always-on (non-AvailableNow) deployments grow one seen
    // flag per fresh doc forever, and a checkpoint-recovery replay of a
    // committed-state/uncommitted-sink batch hard-fails on its own flag.
    // idleTtlMillis > 0 arms ProcessingTimeTimeout (the KnScoreStream
    // escape hatch): a timed-out invocation must drop state and emit
    // nothing, and a doc re-arriving after the drop must fold cleanly.
    import graft.operators.SetOverlap
    import graft.streaming.ScreenStream
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val ttl = 60000L
    val sT = TestGroupState.create[Boolean](Optional.of(true),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L,
      Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]],
      hasTimedOut = true)
    assert(SetOverlap.fold("t", 0.5, ttl)(9L, Iterator.empty, sT).isEmpty)
    assert(sT.isRemoved, "timed-out screen state must be dropped")
    // re-arrival after the drop screens from scratch and re-arms the TTL
    val s2 = TestGroupState.create[Boolean](Optional.empty[Boolean](),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L,
      Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]],
      hasTimedOut = false)
    val out = SetOverlap.fold("t", 0.5, ttl)(9L,
      Iterator(SetOverlap.CollisionRow(9L, 3L, 20L, 3L),
        SetOverlap.CollisionRow(9L, 3L, 20L, 3L),
        SetOverlap.CollisionRow(9L, 3L, 20L, 3L)), s2).toList
    assert(out === List(SetOverlap.PairOut(9L, 20L, 3L, 3L, 3L, 1.0)))
    assert(s2.exists, "seen flag must be re-set on post-drop arrival")
    // the other fold families share the same contract
    val sT2 = TestGroupState.create[Boolean](Optional.of(true),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L,
      Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]],
      hasTimedOut = true)
    assert(SetOverlap.fold("t", 0.0, ttl)(9L, Iterator.empty, sT2).isEmpty)
    assert(sT2.isRemoved)
    val sT3 = TestGroupState.create[Boolean](Optional.of(true),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L,
      Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]],
      hasTimedOut = true)
    assert(ScreenStream.distinctPairFold("ScreenStream.screenMih", ttl)(
      9L, Iterator.empty, sT3).isEmpty)
    assert(sT3.isRemoved)
    val sT4 = TestGroupState.create[Boolean](Optional.of(true),
      GroupStateTimeout.ProcessingTimeTimeout, 1000L,
      Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]],
      hasTimedOut = true)
    ScreenStream.resetTaskCandidateVolume()
    assert(ScreenStream.editFold(4, 4, 100, 1000L, ttl)(9L, Iterator.empty, sT4).isEmpty)
    assert(sT4.isRemoved)
  }

  test("editFold: per-task accumulated candidate guard trips at the batch-cap grain") {
    // VERDICT r14 #3: the per-doc cap alone let a micro-batch of B docs
    // run B×cap verifies with no abort while the batch twin's GLOBAL
    // raise_error would have stopped the same volume. The fold now also
    // accumulates candidates per task (ThreadLocal, reset at the task /
    // micro-batch boundary) against taskCandidateCap — docs that each sit
    // UNDER the per-doc cap must still abort once their task's running
    // total crosses the task cap.
    import graft.streaming.ScreenStream
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def st() = TestGroupState.create[Boolean](Optional.empty[Boolean](),
      GroupStateTimeout.NoTimeout, 0L,
      Optional.empty[java.lang.Long]().asInstanceOf[Optional[Long]],
      hasTimedOut = false)
    // each doc yields 2 candidates (corpus ids 10/11 via one shared gram)
    def rowsFor(doc: Long) = Iterator(
      ScreenStream.EdRow(doc, "abcdef", "abcd", 2L, 10L, "abcdxf"),
      ScreenStream.EdRow(doc, "abcdef", "abcd", 2L, 11L, "abcdyf"))
    ScreenStream.resetTaskCandidateVolume()
    val fold = ScreenStream.editFold(maxDist = 4, q = 4,
      perDocCap = 100, taskCap = 3L) _
    // doc 1: task total 2 ≤ 3 — folds fine, both pairs verify at dist 1
    val out1 = fold(1L, rowsFor(1L), st()).toList
    assert(out1.map(_.corpus_id).toSet === Set(10L, 11L))
    // doc 2 in the SAME task: total 4 > 3 — aborts even though the doc
    // itself is far under perDocCap
    val e = intercept[IllegalStateException] { fold(2L, rowsFor(2L), st()).toList }
    assert(e.getMessage.contains("taskCandidateCap"))
    assert(e.getMessage.contains("accumulated"))
    // a NEW task (reset boundary) folds the same doc fine
    ScreenStream.resetTaskCandidateVolume()
    val out3 = fold(3L, rowsFor(3L), st()).toList
    assert(out3.map(_.corpus_id).toSet === Set(10L, 11L))
    ScreenStream.resetTaskCandidateVolume()
  }

  test("e39 scoreGrams rejects a non-integral id column") {
    import graft.streaming.KnScoreStream
    val dir = java.nio.file.Files.createTempDirectory("knid").toString
    spark.range(1).selectExpr("cast(id as string) doc_id", "'a b c' text")
      .write.mode("overwrite").parquet(dir)
    val docs = spark.readStream.schema("doc_id STRING, text STRING")
      .parquet(dir)
    val lm = spark.range(0).selectExpr("cast(id as string) bg", "cast(id as double) lp")
    val e = intercept[IllegalArgumentException] {
      KnScoreStream.score(docs, "doc_id", "text", lm)
    }
    assert(e.getMessage.contains("integral"))
  }
}

/** Latches for the single-runner guard test; top-level so the UDF closure
  * captures a stable static reference, not the suite instance.
  */
private object RunGuardGate {
  val entered = new java.util.concurrent.CountDownLatch(1)
  val release = new java.util.concurrent.CountDownLatch(1)
}
