package graft

import java.io.{BufferedInputStream, InputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.model.TaskConfig
import graft.operators.CotripOps
import graft.sinks.FeatureCollectionSink
import graft.sources.{CotripSource, HttpPageClient, PagedFetcher}

/** A minimal HTTP/1.1 server on a raw socket, so a test sees what the JDK
  * `HttpServer` hides: how many connections the client opens, and a server
  * that drops each connection after one response WITHOUT sending
  * `Connection: close`. It closes when the next request arrives on the
  * connection, so that request fails before any response byte: the
  * failure of a keep-alive connection the server dropped while it sat in
  * the client's pool.
  */
final class RawHttpServer(closeAfterOneResponse: Boolean)(
    handle: (String, String, Array[Byte]) => (Int, Seq[(String, String)], Array[Byte])) {
  private val socket = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "raw-http"); t.setDaemon(true); t
  }
  private val open = new ConcurrentLinkedQueue[Socket]
  /** Connections accepted so far. */
  val accepted = new AtomicInteger
  val baseUrl = s"http://127.0.0.1:${socket.getLocalPort}"

  pool.execute { () =>
    try while (true) {
      val s = socket.accept()
      accepted.incrementAndGet()
      open.add(s)
      pool.execute(() => serve(s))
    } catch { case _: java.io.IOException => () } // closed by stop()
  }

  private def readLine(in: InputStream): String = {
    val b = new java.io.ByteArrayOutputStream
    var c = in.read()
    while (c != -1 && c != '\n') { if (c != '\r') b.write(c); c = in.read() }
    if (c == -1 && b.size() == 0) null else b.toString(StandardCharsets.US_ASCII)
  }

  private def serve(s: Socket): Unit =
    try {
      val in = new BufferedInputStream(s.getInputStream)
      val out = s.getOutputStream
      var line = readLine(in)
      while (line != null && line.nonEmpty) {
        val Array(method, target, _) = line.split(" ", 3)
        var length = 0
        var h = readLine(in)
        while (h != null && h.nonEmpty) {
          val Array(k, v) = h.split(":", 2)
          if (k.trim.equalsIgnoreCase("Content-Length")) length = v.trim.toInt
          h = readLine(in)
        }
        val (code, headers, body) = handle(method, target, in.readNBytes(length))
        val head = (s"HTTP/1.1 $code X" +: s"Content-Length: ${body.length}" +:
          headers.map { case (k, v) => s"$k: $v" }).mkString("", "\r\n", "\r\n\r\n")
        out.write(head.getBytes(StandardCharsets.US_ASCII))
        out.write(body)
        out.flush()
        line = readLine(in)
        // the stale case: the client reuses the connection, the server
        // drops it without a byte of response
        if (closeAfterOneResponse) line = null
      }
    } catch { case _: java.io.IOException => () }
    finally s.close()

  def stop(): Unit = {
    socket.close()
    open.asScala.foreach(_.close())
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** The JVM-wide HTTP client ([[graft.SharedHttp]]) under the page scan and
  * the `jsonl-http` write: connection reuse, and a stale pooled connection
  * re-sent on a fresh one.
  */
class SharedHttpSpec extends SparkSpec {

  private val Pages = 16
  private def feat(id: String) =
    s"""{"type":"Feature","properties":{"id":"$id"},"geometry":{"type":"Point","coordinates":[1.0,2.0]}}"""
  private def body(p: Int): Array[Byte] =
    (0 until 5).map(j => feat(s"f$p-$j")).mkString("""{"features":[""", ",", "]}")
      .getBytes(StandardCharsets.UTF_8)
  private val allIds = (for (p <- 0 until Pages; j <- 0 until 5) yield s"f$p-$j").toSet

  /** A page chain `None -> "1" -> … -> 'None'` at /api/v1/signs and an
    * ingest endpoint collecting the posted lines at /ingest.
    */
  private def withServer(closeAfterOne: Boolean)(
      run: (RawHttpServer, ConcurrentLinkedQueue[String], AtomicInteger) => Unit): Unit = {
    val lines = new ConcurrentLinkedQueue[String]
    val posts = new AtomicInteger
    val server = new RawHttpServer(closeAfterOne)({ (method, target, in) =>
      if (method == "POST") {
        posts.incrementAndGet()
        new String(in, StandardCharsets.UTF_8).split("\n").foreach(lines.add)
        (200, Nil, Array.emptyByteArray)
      } else {
        val page = "offset=([0-9]+)".r.findFirstMatchIn(target).map(_.group(1).toInt).getOrElse(0)
        (200, Seq("next-offset" -> (if (page + 1 < Pages) (page + 1).toString else "None")), body(page))
      }
    })
    try run(server, lines, posts) finally server.stop()
  }

  /** Walk the chain, scan it through `cotrip-pages`, and write the
    * pipeline's features through `jsonl-http`, `batchSize` rows per POST.
    */
  private def etl(base: String, batchSize: Int): Set[String] = {
    val pages = new PagedFetcher(new HttpPageClient(base, "tok")).fetchAll()
    assert(pages.size === Pages)
    val features = CotripSource.fromDsv2(spark, Map("mode" -> "http", "baseUrl" -> base,
      "apiKey" -> "tok", "offsets" -> (1 until Pages).mkString(",")))
    val out = CotripOps.pipeline(features, TaskConfig("tok")).persist()
    try {
      val ids = out.select("id").collect().map(_.getString(0)).toSet
      FeatureCollectionSink.featureJson(out).toDF("json")
        .write.format("jsonl-http").option("endpoint", s"$base/ingest")
        .option("batchSize", batchSize.toString).mode("append").save()
      ids
    } finally out.unpersist()
  }

  private def postedIds(lines: ConcurrentLinkedQueue[String]): Set[String] =
    lines.asScala.map(l => """"id":"([^"]*)"""".r.findFirstMatchIn(l).get.group(1)).toSet

  test("one shared client: a 16-page scan and 20+ POSTs open at most concurrent tasks + 1 connections") {
    withServer(closeAfterOne = false) { (server, lines, posts) =>
      assert(etl(server.baseUrl, batchSize = 3) === allIds)
      assert(posts.get() >= 20)
      assert(lines.size === allIds.size)
      assert(postedIds(lines) === allIds)
      val tasks = spark.sparkContext.defaultParallelism
      assert(server.accepted.get() <= tasks + 1,
        s"${server.accepted.get()} connections for ${Pages * 2} GETs and ${posts.get()} POSTs")
    }
  }

  test("a server that drops each keep-alive connection: every GET and POST is re-sent on a fresh connection, every row arrives") {
    withServer(closeAfterOne = true) { (server, lines, posts) =>
      assert(etl(server.baseUrl, batchSize = 3) === allIds)
      assert(posts.get() >= 20)
      assert(postedIds(lines) === allIds)
    }
  }
}
