package graft

import java.io.IOException
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, HttpTimeoutException}
import java.time.Duration

/** The one JVM-wide HTTP client behind the page source
  * ([[graft.sources.HttpPageClient]], driver discovery and executor page
  * scans) and the HTTP sinks ([[graft.sinks.HttpJsonLinesSink]], the
  * `jsonl-http` writer, [[graft.sinks.FeatureCollectionSink.submit]]).
  *
  * One client means one connection pool: every task in the JVM reuses the
  * open keep-alive connections instead of paying a new client (selector
  * thread, pool) and a TCP handshake per request. It is pinned to HTTP/1.1
  * because both endpoints are plain keep-alive servers, where an h2c
  * upgrade attempt only adds a round trip.
  */
object SharedHttp {

  private def newClient(): HttpClient = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    // a stalled connect must fail the call, not hang a task forever
    .connectTimeout(Duration.ofSeconds(30))
    .build()

  private lazy val client: HttpClient = newClient()

  /** Send `req` on the shared client. A request that fails with an
    * `IOException` before any response arrives is sent once more on a
    * fresh client, so on a fresh connection: that is how a pooled
    * keep-alive connection fails after the server dropped it (the JDK
    * client reports "header parser received no bytes" or a reset). A
    * timeout is not retried, since a stalled server must fail the call. A
    * re-sent POST stays within the sinks' at-least-once contract.
    */
  def send[T](req: HttpRequest, handler: HttpResponse.BodyHandler[T]): HttpResponse[T] =
    try client.send(req, handler)
    catch {
      case e: HttpTimeoutException => throw e
      case _: IOException => newClient().send(req, handler)
    }

  /** POST `body` to `endpoint` with `headers`; throws on a non-2xx status
    * (`what` names the caller in the error).
    */
  def post(endpoint: String, body: HttpRequest.BodyPublisher, what: String,
           headers: (String, String)*): Unit = {
    val req = headers.foldLeft(HttpRequest.newBuilder(URI.create(endpoint))) {
      case (b, (k, v)) => b.header(k, v)
    }.POST(body).build()
    val res = send(req, HttpResponse.BodyHandlers.discarding())
    if (res.statusCode() / 100 != 2)
      throw new RuntimeException(s"$what failed: HTTP ${res.statusCode()}")
  }
}
