package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.model.TaskConfig
import graft.operators.CotripOps
import graft.sinks.FeatureCollectionSink
import graft.sources.{CotripSource, HttpPageClient, Page, PageClient, PagedFetcher}

/** The seeded sign feed: an offset-chained list of GeoJSON pages, and the
  * plain-Scala oracle of what the paper's pipeline must emit for it.
  */
final class SignFeed(seed: Long, pages: Int, featuresPerPage: Int) {
  /** (feature id, geometry type, number of parts for Multi* types) */
  final case class Feature(id: String, geomType: String, parts: Int, json: String)

  private val rng = new java.util.SplittableRandom(seed)
  // offset tokens are opaque strings derived from the seed; page 0 has none
  val tokens: IndexedSeq[String] =
    (1 until pages).map(i => java.lang.Long.toHexString(rng.nextLong()) + "-" + i)

  private val types = IndexedSeq(
    "Point" -> 30, "LineString" -> 20, "Polygon" -> 10, "MultiPoint" -> 12,
    "MultiLineString" -> 10, "MultiPolygon" -> 8, "GeometryCollection" -> 10)
  private val totalWeight = types.map(_._2).sum

  private def coord(): String = f"[${-109.0 + rng.nextDouble() * 7}%.6f,${37.0 + rng.nextDouble() * 4}%.6f]"
  private def line(n: Int): String = Iterator.fill(n)(coord()).mkString("[", ",", "]")
  private def ring(): String = { val pts = line(4); pts.dropRight(1) + "," + pts.substring(1, pts.indexOf(']') + 1) + "]" }
  private def geometry(t: String, parts: Int): String = t match {
    case "Point" => coord()
    case "LineString" => line(2 + rng.nextInt(3))
    case "Polygon" => "[" + ring() + "]"
    case "MultiPoint" => Iterator.fill(parts)(coord()).mkString("[", ",", "]")
    case "MultiLineString" => Iterator.fill(parts)(line(2 + rng.nextInt(2))).mkString("[", ",", "]")
    case "MultiPolygon" => Iterator.fill(parts)("[" + ring() + "]").mkString("[", ",", "]")
  }

  private def feature(page: Int, j: Int): Feature = {
    var w = rng.nextInt(totalWeight)
    val t = types.find { case (_, k) => w -= k; w < 0 }.get._1
    val parts = if (t.startsWith("Multi")) rng.nextInt(4) else 1 // 0 parts: empty Multi
    val id = s"sign-$seed-$page-$j"
    val geom =
      if (t == "GeometryCollection")
        s"""{"type":"GeometryCollection","geometries":[{"type":"Point","coordinates":${coord()}}]}"""
      else s"""{"type":"$t","coordinates":${geometry(t, parts)}}"""
    val props =
      s"""{"communicationStatus":"online","marker":${rng.nextInt(300)}.5,""" +
        s""""messageText":"MSG ${rng.nextInt(1000)}","direction":"${if (rng.nextBoolean()) "N" else "S"}",""" +
        s""""lastUpdated":"2024-05-0${1 + rng.nextInt(9)}T12:00:00Z","messagePreview":"preview",""" +
        s""""displayStatus":"on","name":"Sign $page/$j","id":"$id","speed":${rng.nextInt(75)}.0,""" +
        s""""routeName":"I-${rng.nextInt(80)}","messageMarkup":"<p>m</p>","publicName":"Sign $j",""" +
        s""""submittedBy":"cdot","nativeId":"n$j","activationTime":"2024-05-01T00:00:00Z"}"""
    Feature(id, t, parts, s"""{"type":"Feature","properties":$props,"geometry":$geom}""")
  }

  val features: IndexedSeq[IndexedSeq[Feature]] =
    (0 until pages).map(p => (0 until featuresPerPage).map(j => feature(p, j)))
  val bodies: IndexedSeq[Array[Byte]] = features.map(fs =>
    fs.map(_.json).mkString("""{"features":[""", ",", "]}").getBytes(StandardCharsets.UTF_8))
  def featureCount: Long = pages.toLong * featuresPerPage

  /** What the pipeline must emit under `allowed` (the default toggles allow
    * Point, LineString and Polygon): Multi* features explode into
    * `id-i` parts typed without the prefix; everything is then filtered by
    * type. Sorted "id type" strings.
    */
  def expected(allowed: Set[String]): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    for (fs <- features; f <- fs) {
      if (f.geomType.startsWith("Multi")) {
        val t = f.geomType.stripPrefix("Multi")
        if (allowed(t)) (0 until f.parts).foreach(i => out += s"${f.id}-$i $t")
      } else if (allowed(f.geomType)) out += s"${f.id} ${f.geomType}"
    }
    out.toArray.sorted
  }
}

/** Loopback server for the feed (`GET /api/v1/signs`, the offset chain in
  * the `next-offset` header) and for the sink (`POST /ingest`, which keeps
  * the received features' ids and types). One handler thread.
  */
final class LoopbackServer(feed: SignFeed, apiKey: String) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "perfbench-loopback")
    t.setDaemon(true)
    t
  }
  val pageRequests = new AtomicLong
  val failedRequests = new AtomicLong
  val posts = new AtomicLong
  val bytesIn = new AtomicLong
  private val received = mutable.ArrayBuffer.empty[String]
  private val byToken: Map[String, Int] = feed.tokens.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
  private val IdType = "\"id\":\"([^\"]*)\".*\"geometry\":\\{\"type\":\"([A-Za-z]*)\"".r.unanchored

  private def reply(x: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    x.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) x.getResponseBody.write(body)
    x.close()
  }

  server.createContext("/api/v1/signs", (x: HttpExchange) => {
    pageRequests.incrementAndGet()
    val q = Option(x.getRequestURI.getRawQuery).getOrElse("").split("&")
      .map(_.split("=", 2)).collect { case Array(k, v) =>
        k -> java.net.URLDecoder.decode(v, "UTF-8") }.toMap
    val page = q.get("offset") match {
      case None => Some(0)
      case Some(t) => byToken.get(t)
    }
    if (!q.get("apiKey").contains(apiKey) || page.isEmpty) {
      failedRequests.incrementAndGet()
      reply(x, 404, Array.emptyByteArray)
    } else {
      val p = page.get
      x.getResponseHeaders.add("next-offset",
        if (p + 1 < feed.bodies.size) feed.tokens(p) else "None")
      reply(x, 200, feed.bodies(p))
    }
  })

  server.createContext("/ingest", (x: HttpExchange) => {
    val body = x.getRequestBody.readAllBytes()
    posts.incrementAndGet()
    bytesIn.addAndGet(body.length.toLong)
    val lines = new String(body, StandardCharsets.UTF_8).split("\n")
    val parsed = lines.map {
      case IdType(id, t) => s"$id $t"
      case other => s"<unparsed> $other"
    }
    received.synchronized(received ++= parsed)
    reply(x, 200, Array.emptyByteArray)
  })
  server.setExecutor(pool)
  server.start()

  val baseUrl = s"http://127.0.0.1:${server.getAddress.getPort}"
  def ingestUrl: String = s"$baseUrl/ingest"

  /** Received "id type" strings since the last call, sorted. */
  def drainReceived(): Array[String] = received.synchronized {
    val r = received.toArray.sorted
    received.clear()
    r
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** The paper's pipeline end to end: walk the offset chain, scan the pages
  * through the `cotrip-pages` http source, run `CotripOps.pipeline` with the
  * default toggles, POST the features through the `jsonl-http` sink to a
  * loopback receiver, and compare what arrived with the oracle.
  */
final class CotripEtl extends Workload {
  val Pages = 16
  val FeaturesPerPage = 2500
  val WarmupJobs = 8
  private val apiKey = "perfbench-token"
  private var feed: SignFeed = _
  private var server: LoopbackServer = _
  private var expected: Array[String] = _
  private val config = TaskConfig(apiKey)

  // the loopback server's one handler thread takes one of the cores
  override def sparkCores(nproc: Int): Int = nproc - 1

  override def setup(ctx: Ctx): Unit = {
    feed = new SignFeed(ctx.seed, Pages, FeaturesPerPage)
    server = new LoopbackServer(feed, apiKey)
    expected = feed.expected(config.allowedTypes.toSet)
    if (ctx.corrupt) expected = expected.drop(1)
    // the first jobs still compile their hot paths: warm up until job CPU settles
    for (w <- 1 to WarmupJobs) {
      val warm = job(ctx, -w)
      if (!warm.ok) System.err.println(s"perfbench: warm-up job $w failed its check: ${warm.detail}")
    }
  }

  /** PageClient that records each page's `next-offset` token. */
  private final class RecordingClient(inner: PageClient) extends PageClient {
    val offsets = mutable.ArrayBuffer.empty[String]
    override def fetch(offset: Option[String]): Page = {
      val p = inner.fetch(offset)
      p.nextOffset.filter(t => t.nonEmpty && t != "None").foreach(offsets += _)
      p
    }
  }

  private var lastPages = 0
  private var lastScanRows = 0L
  private var lastExplodedRows = 0L
  private var lastOutRows = 0L

  override def job(ctx: Ctx, i: Int): JobResult = {
    val spark = ctx.spark
    val traced = ctx.tracer.active
    if (traced) {
      reqMark = server.pageRequests.get; postMark = server.posts.get
      bytesMark = server.bytesIn.get; failMark = server.failedRequests.get
    }
    val offsets = ctx.span("sources.discover") {
      val rec = new RecordingClient(new HttpPageClient(server.baseUrl, apiKey))
      lastPages = new PagedFetcher(rec).fetchAll().size
      rec.offsets.mkString(",")
    }
    val opts = Map("mode" -> "http", "baseUrl" -> server.baseUrl, "apiKey" -> apiKey,
      "offsets" -> offsets)
    val scanned =
      if (!traced) CotripSource.fromDsv2(spark, opts)
      else ctx.span("sources.scan") {
        val df = CotripSource.fromDsv2(spark, opts).persist()
        lastScanRows = df.count()
        df
      }
    val out =
      if (!traced) CotripOps.pipeline(scanned, config)
      else ctx.span("cotrip.transform") {
        // CotripOps.pipeline step by step, so the explode and the filter
        // each report their own rows
        val allowed = config.allowedTypes
        val pre = CotripOps.prefilterGeometryTypes(
          CotripOps.projectIdGeometry(scanned, config.stripProperties), allowed)
        val exploded = CotripOps.explodeMulti(pre).persist()
        lastExplodedRows = exploded.count()
        val df = CotripOps.filterGeometryTypes(exploded, allowed).persist()
        lastOutRows = df.count()
        exploded.unpersist()
        df
      }
    ctx.span("sinks.post") {
      FeatureCollectionSink.featureJson(out).toDF("json")
        .write.format("jsonl-http").option("endpoint", server.ingestUrl)
        .mode("append").save()
    }
    if (traced) { out.unpersist(); scanned.unpersist() }
    val got = ctx.span("check") { server.drainReceived() }
    val ok = java.util.Arrays.equals(got.asInstanceOf[Array[AnyRef]], expected.asInstanceOf[Array[AnyRef]])
    JobResult(feed.featureCount, ok,
      if (ok) "" else s"received ${got.length} features, expected ${expected.length}")
  }

  private var reqMark = 0L
  private var postMark = 0L
  private var bytesMark = 0L
  private var failMark = 0L

  override def layerMetrics(ctx: Ctx, root: Span): Map[String, Double] = {
    val kids = ctx.tracer.children(root.id).map(s => s.name -> s).toMap
    def secs(n: String): Double = kids.get(n).map(_.seconds).getOrElse(0.0)
    val reqs = server.pageRequests.get - reqMark
    val posts = server.posts.get - postMark
    val bytes = server.bytesIn.get - bytesMark
    val fails = server.failedRequests.get - failMark
    Map(
      "sources.discover_s" -> secs("sources.discover"),
      "sources.scan_s" -> secs("sources.scan"),
      "sources.pages" -> lastPages.toDouble,
      "sources.requests_per_page" -> reqs.toDouble / lastPages,
      "sources.failed_requests" -> fails.toDouble,
      "cotrip.transform_s" -> secs("cotrip.transform"),
      "cotrip.explode_fanout" -> lastExplodedRows.toDouble / math.max(1L, lastScanRows),
      "cotrip.keep_ratio" -> lastOutRows.toDouble / math.max(1L, lastExplodedRows),
      "sinks.post_s" -> secs("sinks.post"),
      "sinks.posts" -> posts.toDouble,
      "sinks.bytes_out" -> bytes.toDouble,
      "sinks.rows_per_post" -> lastOutRows.toDouble / math.max(1L, posts),
      // a failed POST fails the Spark task that sent it
      "sinks.failed_posts" -> kids.get("sinks.post")
        .map(s => ctx.tracer.inclusive(s.id).taskFailures.toDouble).getOrElse(0.0))
  }

  override def close(): Unit = if (server != null) { server.stop(); server = null }
}
