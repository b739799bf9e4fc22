package graft.sources

/** One fetched API page: raw body text plus the `next-offset` response header
  * (reference pagination protocol, task.ts:60-72).
  */
final case class Page(body: String, nextOffset: Option[String])

object Page {

  /** The offset a `next-offset` header value hands on, or None where the
    * chain ends: an absent or empty header, or the literal `'None'`
    * sentinel (task.ts:72, where `''` is falsy too). Every walk of the
    * chain ends on this one rule.
    */
  def nextToken(header: Option[String]): Option[String] =
    header.filter(t => t.nonEmpty && t != "None")
}

/** Pluggable page fetcher so tests inject fixture pages without HTTP
  * (SURVEY.md §7.1-2). `offset = None` means the first request, which sends no
  * `offset` query param (task.ts:64-67).
  */
trait PageClient {
  def fetch(offset: Option[String]): Page
}

/** Fixture client: a pre-built chain of pages addressed by offset key.
  * `chain(bodies)` builds the canonical chain `None → "1" → "2" → … → 'None'`
  * including the literal `'None'` terminator sentinel the real API emits
  * (task.ts:72).
  */
final class FixturePageClient(pages: Map[Option[String], Page]) extends PageClient {
  override def fetch(offset: Option[String]): Page =
    pages.getOrElse(offset, throw new NoSuchElementException(s"no fixture page at offset $offset"))
}

object FixturePageClient {
  def chain(bodies: Seq[String], terminator: Option[String] = Some("None")): FixturePageClient = {
    require(bodies.nonEmpty, "at least one page required")
    val entries = bodies.zipWithIndex.map { case (body, i) =>
      val key: Option[String] = if (i == 0) None else Some(i.toString)
      val next = if (i == bodies.size - 1) terminator else Some((i + 1).toString)
      key -> Page(body, next)
    }
    new FixturePageClient(entries.toMap)
  }
}

/** HTTP client for the real endpoint shape: `GET {base}/api/v1/signs?apiKey=…
  * [&offset=…]`, next page offset read from the `next-offset` response header
  * (task.ts:62-69). Fail-fast on non-2xx, mirroring the reference's lack of
  * retry handling (SURVEY §1.5-6). Requests go through the JVM-wide
  * [[graft.SharedHttp]] client, so the discovery walk and the executor
  * page scans reuse keep-alive connections.
  */
final class HttpPageClient(baseUrl: String, apiKey: String,
                           requestTimeout: java.time.Duration = java.time.Duration.ofSeconds(120)) extends PageClient {

  // explicit timeout: a stalled server must fail the fetch (and let the
  // schedule/task retry), not hang the driver loop or an executor forever
  private def request(offset: Option[String]): java.net.http.HttpRequest = {
    val params = s"apiKey=${java.net.URLEncoder.encode(apiKey, "UTF-8")}" +
      offset.map(o => s"&offset=${java.net.URLEncoder.encode(o, "UTF-8")}").getOrElse("")
    java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$baseUrl/api/v1/signs?$params"))
      .timeout(requestTimeout).GET().build()
  }

  private def checked[T](res: java.net.http.HttpResponse[T]): java.net.http.HttpResponse[T] = {
    if (res.statusCode() / 100 != 2)
      throw new RuntimeException(s"fetch failed: HTTP ${res.statusCode()} for ${res.uri()}")
    res
  }

  /** The body is read into a reused page buffer and decoded once: a page is
    * usually a humongous object for G1, and `ofString` would allocate it
    * twice (the joined bytes, then the string).
    */
  override def fetch(offset: Option[String]): Page = {
    val res = respond(offset)
    val (bytes, length) = PageBuffers.readAll(() => res.body())
    try Page(new String(bytes, 0, length, java.nio.charset.StandardCharsets.UTF_8),
      nextOffsetOf(res))
    finally PageBuffers.give(bytes)
  }

  /** The `next-offset` header of the page at `offset`, for a walk of the
    * chain that needs no body: the body is discarded as it arrives, never
    * buffered or decoded.
    */
  def nextOffset(offset: Option[String]): Option[String] =
    nextOffsetOf(checked(graft.SharedHttp.send(request(offset),
      java.net.http.HttpResponse.BodyHandlers.discarding())))

  private def nextOffsetOf(res: java.net.http.HttpResponse[_]): Option[String] =
    Option(res.headers().firstValue("next-offset").orElse(null))

  /** The page body as a byte stream (the `cotrip-pages` scan reads it
    * whole into a reused buffer). The caller closes it.
    */
  def open(offset: Option[String]): java.io.InputStream = respond(offset).body()

  private def respond(offset: Option[String]): java.net.http.HttpResponse[java.io.InputStream] = {
    val res = graft.SharedHttp.send(request(offset),
      java.net.http.HttpResponse.BodyHandlers.ofInputStream())
    if (res.statusCode() / 100 != 2) res.body().close()
    checked(res)
  }
}
