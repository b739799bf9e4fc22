package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.model.{GeoSchemas, TaskConfig}
import graft.operators.CotripOps
import graft.queries.CotripQueries
import graft.sources.CotripSource

/** The DSv2 `cotrip-pages` source: fixture-mode partition planning, the
  * feature schema and its nested pruning, malformed-page failures, and
  * end-to-end equality with the driver-side fetch path.
  */
class Dsv2SourceSpec extends SparkSpec {

  private def writeFixtures(): Path = {
    val dir = Files.createTempDirectory("cotrip-pages")
    CotripQueries.fixturePages.zipWithIndex.foreach { case (body, i) =>
      Files.writeString(dir.resolve(f"page-$i%03d.json"), body)
    }
    // a non-matching file that must be ignored
    Files.writeString(dir.resolve("README.txt"), "not a page")
    dir
  }

  test("fixture mode: one partition per page file, features parsed in the scan") {
    val dir = writeFixtures()
    val features = spark.read.format("cotrip-pages")
      .option("mode", "fixture").option("path", dir.toString).load()
    assert(features.schema === GeoSchemas.feature)
    assert(features.rdd.getNumPartitions === 3)
    val viaSeq = CotripSource.fromPages(spark, CotripQueries.fixturePages)
    assert(features.collect().toSeq.sortBy(_.toString)
      === viaSeq.collect().toSeq.sortBy(_.toString))
  }

  test("DSv2 path produces the same pipeline output as the driver-side path") {
    val dir = writeFixtures()
    val viaDsv2 = CotripSource.fromDsv2(spark,
      Map("mode" -> "fixture", "path" -> dir.toString))
    val viaSeq = CotripSource.fromPages(spark, CotripQueries.fixturePages)
    // all 8 geometry-toggle combinations x property strip / carry
    for (point <- Seq(true, false); line <- Seq(true, false);
         polygon <- Seq(true, false); strip <- Seq(true, false)) {
      val cfg = TaskConfig("t", pointGeometries = point, lineStringGeometries = line,
        polygonGeometries = polygon, stripProperties = strip)
      val a = CotripOps.pipeline(viaDsv2, cfg)
      val b = CotripOps.pipeline(viaSeq, cfg)
      assert(a.collect().toSeq.sortBy(_.toString) === b.collect().toSeq.sortBy(_.toString),
        s"config $cfg")
      if (point && line && polygon) assert(a.count() === 7)
    }
  }

  /** The `cotrip-pages` scans in `df`'s executed plan. */
  private def pageScans(df: org.apache.spark.sql.DataFrame): Seq[BatchScanExec] = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case a: AdaptiveSparkPlanExec => a.executedPlan.collect { case b: BatchScanExec => b }
      case b: BatchScanExec => Seq(b)
    }.flatten
  }

  test("the scan parses only the fields the pipeline reads: properties.id + geometry when stripping, all 16 properties when carrying") {
    val dir = writeFixtures()
    def readSchema(strip: Boolean): StructType = {
      val out = CotripOps.pipeline(
        CotripSource.fromDsv2(spark, Map("mode" -> "fixture", "path" -> dir.toString)),
        TaskConfig("t", stripProperties = strip))
      val scans = pageScans(out)
      assert(scans.size === 1)
      scans.head.scan.readSchema()
    }
    assert(readSchema(strip = true) === StructType(Seq(
      StructField("properties", StructType(Seq(StructField("id", StringType)))),
      StructField("geometry", GeoSchemas.geometry))))
    assert(readSchema(strip = false) === StructType(Seq(
      StructField("properties", GeoSchemas.signProperties),
      StructField("geometry", GeoSchemas.geometry))))
  }

  /** Every message in `e`'s cause chain. */
  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq

  private def assertNamesPage(e: Throwable, page: String, where: String): Unit =
    assert(messages(e).exists(m => m.contains(s"malformed $page") && m.contains(where)),
      messages(e).mkString("\n"))

  test("a page that does not parse fails loudly and names the page: fromPages, DSv2 batch (fixture, http) and stream") {
    val good = CotripQueries.fixturePages(0)
    val truncated = CotripQueries.fixturePages(2).dropRight(20)
    // driver path: today's from_json nulled the page and its features vanished
    val seqErr = intercept[Exception] {
      CotripSource.fromPages(spark, Seq(good, truncated)).select("properties.id").collect()
    }
    assertNamesPage(seqErr, "page 1", "not a well-formed")

    val dir = Files.createTempDirectory("cotrip-pages-bad")
    Files.writeString(dir.resolve("page-000.json"), good)
    Files.writeString(dir.resolve("page-001.json"), truncated)
    val fixture = Map("mode" -> "fixture", "path" -> dir.toString)
    val batchErr = intercept[Exception] {
      CotripOps.pipeline(CotripSource.fromDsv2(spark, fixture), TaskConfig("t")).collect()
    }
    assertNamesPage(batchErr, "page 1", "page-001.json")

    val streamErr = intercept[Exception] {
      val features = spark.readStream.format("cotrip-pages").options(fixture).load()
      graft.streaming.EventsStream.runAvailableNow(
        CotripOps.pipeline(features, TaskConfig("t")), "c05_bad_page_sink")
    }
    assertNamesPage(streamErr, "page 1", "page-001.json")

    // a syntax error Spark's parser recovers from as a partial result (a
    // missing colon) must fail the page too, not yield zero features
    val noColon = good.replaceFirst("\"type\":", "\"type\" ")
    Files.writeString(dir.resolve("page-001.json"), noColon)
    val noColonErr = intercept[Exception](CotripSource.fromDsv2(spark, fixture).collect())
    assertNamesPage(noColonErr, "page 1", "page-001.json")
    val noColonSeqErr = intercept[Exception] {
      CotripSource.fromPages(spark, Seq(good, noColon)).collect()
    }
    assertNamesPage(noColonSeqErr, "page 1", "not a well-formed")

    withChainServer(Map(None -> (good, "100"), Some("100") -> (truncated, "None"))) { (base, _, _) =>
      val httpErr = intercept[Exception] {
        CotripSource.fromDsv2(spark, Map("mode" -> "http", "baseUrl" -> base,
          "apiKey" -> "tok", "offsets" -> "100")).collect()
      }
      assertNamesPage(httpErr, "page 1", "offset 100")
    }
  }

  test("a wrong-typed property keeps its feature with that field null: fromPages and the DSv2 scan agree") {
    val page = """{"features":[""" +
      """{"type":"Feature","properties":{"id":"w1","marker":"mile 3","name":"n-w1"},""" +
      """"geometry":{"type":"Point","coordinates":[1.0,2.0]}},""" +
      feat("w2", "Point", "[3.0,4.0]") + "]}"
    val dir = Files.createTempDirectory("cotrip-pages-typed")
    Files.writeString(dir.resolve("page-000.json"), page)
    val viaDsv2 = CotripSource.fromDsv2(spark, Map("mode" -> "fixture", "path" -> dir.toString))
    val viaSeq = CotripSource.fromPages(spark, Seq(page))
    for (df <- Seq(viaDsv2, viaSeq)) {
      val rows = df.select("properties.id", "properties.marker", "properties.name")
        .collect().map(r => (r.getString(0), Option(r.get(1)), r.getString(2))).toSet
      assert(rows === Set(("w1", None, "n-w1"), ("w2", None, null)))
      assert(CotripOps.pipeline(df, TaskConfig("t")).select("id").collect()
        .map(_.getString(0)).toSet === Set("w1", "w2"))
    }
  }

  test("micro-batch stream: one page per trigger by default; pagespertrigger batches wider") {
    val dir = writeFixtures()
    def drain(opts: Map[String, String], sink: String): Long = {
      val features = spark.readStream.format("cotrip-pages")
        .option("mode", "fixture").option("path", dir.toString)
        .options(opts).load()
      val out = CotripOps.pipeline(features, TaskConfig("t"))
      val before = graft.streaming.StreamTelemetry.microBatchesCompleted.get()
      graft.streaming.EventsStream.runAvailableNow(out, sink)
      graft.streaming.StreamTelemetry.microBatchesCompleted.get() - before
    }
    // default admission control: 3 pages → 3 one-page micro-batches
    assert(drain(Map.empty, "c05_spec_sink1") === 3L)
    assert(spark.table("c05_spec_sink1").count() === 7L)
    // pagespertrigger=2 → ceil(3/2) = 2 micro-batches, same features
    assert(drain(Map("pagespertrigger" -> "2"), "c05_spec_sink2") === 2L)
    assert(spark.table("c05_spec_sink2").count() === 7L)
    // and the drained features equal the batch pipeline's byte for byte
    val batch = CotripOps.pipeline(
      CotripSource.fromPages(spark, CotripQueries.fixturePages), TaskConfig("t"))
    assert(spark.table("c05_spec_sink1").except(batch).count() === 0)
    assert(batch.except(spark.table("c05_spec_sink1")).count() === 0)
  }

  // ---- live-HTTP streaming mode (VERDICT r19 #3) ----------------------

  private def feat(id: String, t: String, coords: String) =
    s"""{"type":"Feature","properties":{"id":"$id"},"geometry":{"type":"$t","coordinates":$coords}}"""

  /** Loopback chain server (the HttpSinkSpec/HttpSourceSpec pattern) with a
    * MUTABLE page map so a test can grow the chain past its terminator.
    */
  private def withChainServer(
      initial: Map[Option[String], (String, String)])(
      run: (String, java.util.concurrent.atomic.AtomicReference[Map[Option[String], (String, String)]],
            java.util.concurrent.atomic.AtomicInteger) => Unit): Unit = {
    val chain = new java.util.concurrent.atomic.AtomicReference(initial)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api/v1/signs", new com.sun.net.httpserver.HttpHandler {
      override def handle(ex: com.sun.net.httpserver.HttpExchange): Unit = {
        hits.incrementAndGet()
        val params = Option(ex.getRequestURI.getQuery).getOrElse("")
          .split("&").filter(_.contains("=")).map { kv =>
            val Array(k, v) = kv.split("=", 2); k -> v
          }.toMap
        chain.get().get(params.get("offset")) match {
          case Some((body, next)) =>
            ex.getResponseHeaders.add("next-offset", next)
            val bytes = body.getBytes("UTF-8")
            ex.sendResponseHeaders(200, bytes.length)
            ex.getResponseBody.write(bytes)
            ex.close()
          case None =>
            ex.sendResponseHeaders(404, -1); ex.close()
        }
      }
    })
    server.start()
    try run(s"http://127.0.0.1:${server.getAddress.getPort}", chain, hits)
    finally server.stop(0)
  }

  private val threePages = Map[Option[String], (String, String)](
    None -> (s"""{"features":[${feat("a", "Point", "[1.0,2.0]")}]}""", "100"),
    Some("100") -> (s"""{"features":[${feat("b", "MultiPoint", "[[3.0,4.0],[5.0,6.0]]")}]}""", "200"),
    Some("200") -> (s"""{"features":[${feat("c", "LineString", "[[0.0,0.0],[1.0,1.0]]")}]}""", "None"))

  test("micro-batch stream http mode: AvailableNow drains the live chain, one page per trigger, 'None' sentinel honored") {
    withChainServer(threePages) { (base, _, _) =>
      val features = spark.readStream.format("cotrip-pages")
        .option("mode", "http").option("baseurl", base)
        .option("apikey", "tok").load()
      val out = CotripOps.pipeline(features, TaskConfig("tok"))
      val before = graft.streaming.StreamTelemetry.microBatchesCompleted.get()
      graft.streaming.EventsStream.runAvailableNow(out, "c05_http_sink1")
      assert(graft.streaming.StreamTelemetry.microBatchesCompleted.get() - before === 3L,
        "3 pages under default admission = 3 one-page micro-batches")
      val ids = spark.table("c05_http_sink1")
        .select("id").collect().map(_.getString(0)).toSet
      assert(ids === Set("a", "b-0", "b-1", "c"))
    }
  }

  test("http stream unit: admission-controlled discovery, tail re-probe after the sentinel, restart re-walk, cycle guard") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{CotripPageMicroBatchStream, CotripPageOffset, HttpPagePartition}
    val twoPages = Map[Option[String], (String, String)](
      None -> ("""{"features":[]}""", "100"),
      Some("100") -> ("""{"features":[]}""", "None"))
    withChainServer(twoPages) { (base, chain, hits) =>
      val opts = Map("mode" -> "http", "baseurl" -> base, "apikey" -> "tok")
      val stream = new CotripPageMicroBatchStream(opts)
      // one-page admission discovers exactly one page ahead
      assert(stream.latestOffset(CotripPageOffset(0L), ReadLimit.maxRows(1))
        === CotripPageOffset(1L))
      // wide admission stops at the 'None' sentinel: 2 pages available
      assert(stream.latestOffset(CotripPageOffset(1L), ReadLimit.maxRows(10))
        === CotripPageOffset(2L))
      // fully consumed + terminated chain: no new batch
      assert(stream.latestOffset(CotripPageOffset(2L), ReadLimit.maxRows(10))
        === CotripPageOffset(2L))
      // the chain grows a tail; the per-trigger re-probe resumes discovery
      chain.set(Map[Option[String], (String, String)](
        None -> ("""{"features":[]}""", "100"),
        Some("100") -> ("""{"features":[]}""", "300"),
        Some("300") -> ("""{"features":[]}""", "None")))
      assert(stream.latestOffset(CotripPageOffset(2L), ReadLimit.maxRows(10))
        === CotripPageOffset(3L))
      // partitions carry the memoized tokens; fetch happens executor-side
      val parts = stream.planInputPartitions(CotripPageOffset(2L), CotripPageOffset(3L))
      assert(parts.toSeq === Seq(HttpPagePartition(2, base, "tok", Some("300"))))
      // restart: a FRESH stream re-walks the chain from page 0 to recover
      // tokens under a committed offset
      val restarted = new CotripPageMicroBatchStream(opts)
      val rparts = restarted.planInputPartitions(CotripPageOffset(1L), CotripPageOffset(3L))
      assert(rparts.toSeq === Seq(
        HttpPagePartition(1, base, "tok", Some("100")),
        HttpPagePartition(2, base, "tok", Some("300"))))
      // discovery is memoized: re-planning an already-discovered range
      // costs zero fetches
      val h = hits.get()
      stream.planInputPartitions(CotripPageOffset(0L), CotripPageOffset(3L))
      assert(hits.get() === h, "re-planning must reuse memoized tokens")
      // a chain that SHRANK under a committed offset aborts the restart
      // re-plan with the diagnostic, never an index error
      chain.set(twoPages)
      val shrunk = new CotripPageMicroBatchStream(opts)
      val err = intercept[IllegalStateException] {
        shrunk.planInputPartitions(CotripPageOffset(2L), CotripPageOffset(3L))
      }
      assert(err.getMessage.contains("chain shrank") ||
        err.getMessage.contains("terminates after"), err.getMessage)
    }
    // hostile chain: a repeated offset aborts loudly, never loops
    val looped = Map[Option[String], (String, String)](
      None -> ("""{"features":[]}""", "42"),
      Some("42") -> ("""{"features":[]}""", "42"))
    withChainServer(looped) { (base, _, _) =>
      val stream = new CotripPageMicroBatchStream(
        Map("mode" -> "http", "baseurl" -> base, "apikey" -> "tok"))
      val err = intercept[IllegalStateException] {
        stream.latestOffset(CotripPageOffset(0L), ReadLimit.maxRows(10))
      }
      assert(err.getMessage.contains("cycle detected"))
    }
  }

  test("fixture stream: committed-prefix drift fails loudly instead of silently replaying (ADVICE r19)") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.sources.{CotripPageMicroBatchStream, CotripPageOffset}
    val dir = writeFixtures()
    val stream = new CotripPageMicroBatchStream(
      Map("mode" -> "fixture", "path" -> dir.toString))
    val end = stream.latestOffset(CotripPageOffset(0L), ReadLimit.maxRows(2))
    assert(end === CotripPageOffset(2L))
    assert(stream.planInputPartitions(CotripPageOffset(0L), end).length === 2)
    // a new file that sorts BEFORE the committed prefix shifts every
    // position — the exact silent-replay hazard; the guard must abort
    Files.writeString(dir.resolve("page--1.json"), "{}") // page number -1 sorts first
    val shifted = intercept[IllegalStateException] {
      stream.planInputPartitions(CotripPageOffset(2L), CotripPageOffset(3L))
    }
    assert(shifted.getMessage.contains("changed under a planned offset"),
      shifted.getMessage)
    // and a listing that SHRANK under a committed offset aborts too
    Files.delete(dir.resolve("page--1.json"))
    Files.delete(dir.resolve("page-000.json"))
    Files.delete(dir.resolve("page-001.json"))
    val removed = intercept[IllegalStateException] {
      stream.planInputPartitions(CotripPageOffset(2L), CotripPageOffset(3L))
    }
    assert(removed.getMessage.contains("files were removed"), removed.getMessage)
  }

  test("unknown mode fails with a clear message") {
    val err = intercept[Exception] {
      spark.read.format("cotrip-pages").option("mode", "nope").load().collect()
    }
    assert(err.getMessage.contains("unknown mode") ||
      Option(err.getCause).exists(_.getMessage.contains("unknown mode")))
  }
}
