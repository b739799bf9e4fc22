package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonParser, JsonToken}
import com.fasterxml.jackson.core.util.JsonParserDelegate
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.json.{JacksonParser, JSONOptions}
import org.apache.spark.sql.catalyst.util.{ArrayData, BadRecordException, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model.GeoSchemas

/** DataSourceV2 `TableProvider` for paginated sign pages (SURVEY §4.2: "the
  * one piece of real engine infrastructure"). One InputPartition per page, so
  * page FETCH + PARSE run on executors in parallel — the scale path the
  * driver-side `PagedFetcher` loop can't give.
  *
  * The offset chain is inherently sequential (offset i+1 lives in response
  * i's header, task.ts:60-72), so page *discovery* cannot be distributed; what
  * can is everything after it. Two modes:
  *
  *   - `mode=fixture`: `path=<dir>` of `page-*.json` files; each file is a
  *     partition. Fully parallel discovery (file listing).
  *   - `mode=http`: `baseUrl`, `apiKey`, and `offsets=o1,o2,…` — the offset
  *     tokens from a prior (cheap, body-discarding) discovery walk or from
  *     known cursor arithmetic. Partition 0 fetches with no offset
  *     (task.ts:64-67), partition i+1 with offset oᵢ; each fetch happens on
  *     its executor.
  *
  * Rows are features ([[GeoSchemas.feature]]), parsed in the scan: each
  * reader reads its page's bytes once, parses them with Spark's own
  * `JacksonParser` and the options `from_json` uses into the page envelope
  * ([[PageParser]]) and emits one row per element of `features`.
  * `geometry.coordinates` is the feed's JSON text, byte for byte. The scan
  * prunes nested columns
  * (`SupportsPushDownRequiredColumns`): the parser reads only the fields the
  * plan pushes down, e.g. `properties.id` and `geometry` for the default
  * property-strip pipeline, and skips the other sign properties unparsed.
  *
  * A page that is not a well-formed JSON object (truncated, not JSON,
  * empty) fails the task with an error naming the page: its index plus its
  * file or offset. A field of the wrong type (`"marker":"mile 3"`) keeps its
  * feature with that field null, exactly as `from_json` does; see
  * [[PageParser]].
  *
  * Registered as `cotrip-pages` (META-INF/services DataSourceRegister).
  */
class CotripPageSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "cotrip-pages"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GeoSchemas.feature

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    // DSv2 options are case-insensitive by contract — normalize once here
    new CotripPageTable(properties.asScala.map { case (k, v) => k.toLowerCase -> v }.toMap)
}

object CotripPageSource {
  /** Fixture-mode page listing in page order, shared by the batch scan
    * and the micro-batch stream: `page-1000` must follow `page-999`, not
    * precede it lexicographically.
    */
  private[sources] def fixtureFiles(dir: String): Array[java.io.File] = {
    def pageNum(name: String): (Long, String) = {
      val digits = name.stripPrefix("page-").stripSuffix(".json")
      (scala.util.Try(digits.toLong).getOrElse(Long.MaxValue), name)
    }
    Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("page-") && f.getName.endsWith(".json"))
      .sortBy(f => pageNum(f.getName))
  }
}

final class CotripPageTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = "cotrip_pages"
  override def schema(): StructType = GeoSchemas.feature
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required = GeoSchemas.feature
      override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
      override def build(): Scan = new CotripPageScan(options, required)
    }
}

/** The batch scan (and the micro-batch stream's factory) over `readSchema`,
  * the feature columns the plan reads.
  */
final class CotripPageScan(options: Map[String, String], override val readSchema: StructType)
    extends Scan with Batch {
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new CotripPageMicroBatchStream(options, readSchema)
  override def planInputPartitions(): Array[InputPartition] = {
    options.getOrElse("mode", "fixture") match {
      case "fixture" =>
        CotripPageSource.fixtureFiles(options("path")).zipWithIndex.map {
          case (f, i) =>
            FixturePagePartition(i, f.getAbsolutePath): InputPartition
        }
      case "http" =>
        val offsets: Seq[Option[String]] =
          None +: options.get("offsets").toSeq
            .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(Some(_)))
        offsets.zipWithIndex.map { case (off, i) =>
          HttpPagePartition(i, options("baseurl"), options("apikey"), off): InputPartition
        }.toArray
      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    PagePartitionReaderFactory(readSchema)
}

/** Offset = number of pages fully processed (pages are the unit of
  * progress; the chain order is the fixture listing's page order).
  */
final case class CotripPageOffset(n: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json: String = n.toString
}

/** Structured-Streaming form of the paginated source (SURVEY §2.10 names
  * it as the direct streaming equivalent of the reference's
  * `InvocationType.Schedule` snapshot; VERDICT r18 #7, http mode VERDICT
  * r19 #3): the same per-page InputPartition layout as the batch scan,
  * micro-batched `pagespertrigger` pages at a time (default 1 — one page
  * per micro-batch, the pagination loop's own granularity) under standard
  * admission control, so `Trigger.AvailableNow` drains the whole chain
  * through N micro-batches and stops. Two modes:
  *
  *   - `mode=fixture`: pages are `page-*.json` drops in a directory; a
  *     live feed surfaces new files, picked up on the next trigger
  *     because the listing re-runs per `latestOffset` call. Committed
  *     offsets are positions in page order, so the PREFIX of the listing
  *     under a committed offset must never change (ADVICE r19): every
  *     plan re-verifies the already-planned prefix against the fresh
  *     listing and fails loudly on drift instead of silently replaying
  *     or skipping pages.
  *   - `mode=http`: the live offset chain (task.ts:60-72). The chain is
  *     inherently sequential — offset i+1 lives in response i's header —
  *     so DISCOVERY is an admission-controlled driver-side walk (one
  *     body-discarded GET per newly admitted page, memoized tokens,
  *     [[PagedFetcher]]'s cycle + `maxpages` cap guards), while the page
  *     BODY fetch + parse stays on executors via the batch layout's own
  *     [[HttpPagePartition]]. After the `'None'` terminator the stream
  *     re-probes the last page once per trigger, so a chain that grows a
  *     tail later (a live feed) resumes; `Trigger.AvailableNow` freezes
  *     the target at the chain end as of trigger time. A RESTARTED query
  *     re-walks the chain from page 0 to recover tokens for its committed
  *     offset — the upstream is not a replayable log, so bodies past a
  *     restart reflect the chain as re-walked (the reference re-fetches
  *     everything on every schedule tick; this is strictly stronger).
  */
final class CotripPageMicroBatchStream(options: Map[String, String],
                                       readSchema: StructType = GeoSchemas.feature)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxRows}

  private val mode = options.getOrElse("mode", "fixture")
  require(mode == "fixture" || mode == "http",
    s"cotrip-pages streaming supports mode=fixture and mode=http; got $mode")
  private val perTrigger: Long = options.get("pagespertrigger")
    .map(_.toLong).getOrElse(1L)
  require(perTrigger > 0, s"pagespertrigger must be positive; got $perTrigger")

  // ---- fixture mode state --------------------------------------------
  private lazy val path = options("path")
  // names already planned, by page index: the committed-prefix stability
  // guard (ADVICE r19 — positional offsets over a re-run listing)
  private val plannedNames = scala.collection.mutable.ArrayBuffer.empty[String]

  // ---- http mode state -----------------------------------------------
  private lazy val httpClient =
    new HttpPageClient(options("baseurl"), options("apikey"))
  private val maxPages: Int = options.get("maxpages").map(_.toInt).getOrElse(10000)
  // tokens(i) = the offset param that fetches page i; page 0 sends none
  private val tokens =
    scala.collection.mutable.ArrayBuffer[Option[String]](None)
  private val seenTokens = scala.collection.mutable.HashSet.empty[String]
  private var sentinel = false // the last discovered page's header ended the chain

  /** Walk the header chain until `target` pages are discovered or the
    * terminator appears. One header-only GET per NEW page (the newest
    * page's header yields the next token; its body is discarded unread —
    * executors fetch it by token). Synchronized: latestOffset and
    * planInputPartitions both discover, and the memo is the single source
    * of token truth.
    */
  private def discoverTo(target: Long): Unit = synchronized {
    while (!sentinel && tokens.size < target) {
      if (tokens.size >= maxPages)
        throw new IllegalStateException(s"pagination exceeded maxPages=$maxPages")
      sentinel = !probeLast()
    }
  }

  /** The chain may grow a tail after its terminator (a live feed): one
    * re-probe of the last page per call; if its header moved past the
    * sentinel, discovery resumes.
    */
  private def reprobeTail(): Unit = synchronized {
    if (sentinel) sentinel = !probeLast()
  }

  /** Read the last discovered page's header and memoize the token it hands
    * on; false where the chain ends there ([[Page.nextToken]]).
    */
  private def probeLast(): Boolean = {
    val next = Page.nextToken(httpClient.nextOffset(tokens.last))
    next.foreach { t =>
      if (!seenTokens.add(t))
        throw new IllegalStateException(s"pagination cycle detected at offset $t")
      tokens += Some(t)
    }
    next.isDefined
  }

  // frozen by prepareForTriggerAvailableNow: AvailableNow must drain to the
  // chain AS OF trigger time, not chase pages that appear mid-run
  @volatile private var availableNowTarget: Option[Long] = None

  private def pageCount(): Long =
    CotripPageSource.fixtureFiles(path).length.toLong

  /** Pages known fetchable right now, discovering at most up to `want` in
    * http mode (admission-controlled — never walks past what this trigger
    * will admit).
    */
  private def available(want: Long): Long = mode match {
    case "fixture" => pageCount()
    case _ =>
      if (sentinel && tokens.size < want) reprobeTail()
      discoverTo(want)
      tokens.size.toLong
  }

  override def initialOffset(): Offset = CotripPageOffset(0L)
  override def deserializeOffset(json: String): Offset =
    CotripPageOffset(json.trim.toLong)
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(mode match {
      case "fixture" => pageCount()
      case _ => // walk the whole chain (cap-guarded); the end IS the target
        reprobeTail(); discoverTo(Long.MaxValue); tokens.size.toLong
    })
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(perTrigger)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit)")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CotripPageOffset].n
    val step = limit match {
      case r: ReadMaxRows => math.max(1L, r.maxRows())
      case _ => Long.MaxValue
    }
    val want = if (step == Long.MaxValue) Long.MaxValue else s + step
    val avail = availableNowTarget.getOrElse(available(want))
    if (avail < s)
      throw new IllegalStateException(
        s"page chain shrank under committed offset $s (now $avail pages) — " +
          "refusing to rewind silently")
    CotripPageOffset(math.min(avail, if (want < 0) Long.MaxValue else want))
  }
  override def reportLatestOffset(): Offset = CotripPageOffset(mode match {
    case "fixture" => pageCount()
    case _ => tokens.size.toLong
  })
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CotripPageOffset].n.toInt
    val e = end.asInstanceOf[CotripPageOffset].n.toInt
    mode match {
      case "fixture" =>
        val files = CotripPageSource.fixtureFiles(path)
        if (files.length < e)
          throw new IllegalStateException(
            s"fixture listing holds ${files.length} pages but offset $e is " +
              "committed — files were removed under the stream")
        // committed-prefix stability (ADVICE r19): positions are only a
        // valid offset space while the already-planned prefix is stable
        val checkTo = math.min(plannedNames.size, e)
        var i = 0
        while (i < checkTo) {
          if (files(i).getName != plannedNames(i))
            throw new IllegalStateException(
              s"fixture page chain changed under a planned offset: position $i " +
                s"was '${plannedNames(i)}', now '${files(i).getName}' — a new or " +
                "renamed file re-ordered the committed prefix")
          i += 1
        }
        while (plannedNames.size < e) plannedNames += files(plannedNames.size).getName
        files.slice(s, e).zipWithIndex.map {
          case (f, j) => FixturePagePartition(s + j, f.getAbsolutePath): InputPartition
        }
      case _ =>
        discoverTo(e.toLong) // restart path: re-walk the chain to cover [s, e)
        if (tokens.size < e)
          // the fixture branch's shrink guard, for the live chain: a
          // checkpointed batch can be re-planned after a restart, and a
          // chain that now terminates before the batch's end must abort
          // with the diagnostic, not an index error deep in the slice
          throw new IllegalStateException(
            s"page chain terminates after ${tokens.size} pages but offset $e " +
              "is committed — the upstream chain shrank under the stream")
        (s until e).map { i =>
          HttpPagePartition(i, options("baseurl"), options("apikey"),
            tokens(i)): InputPartition
        }.toArray
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    PagePartitionReaderFactory(readSchema)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class FixturePagePartition(index: Int, file: String) extends InputPartition
final case class HttpPagePartition(index: Int, baseUrl: String, apiKey: String,
                                   offset: Option[String]) extends InputPartition

/** Fetches and parses one page per partition on the executor. The session
  * settings `from_json` would read (time zone, corrupt-record column name)
  * are captured on the driver, where the factory is built.
  */
final case class PagePartitionReaderFactory(
    featureSchema: StructType,
    timeZone: String = SQLConf.get.sessionLocalTimeZone,
    corruptRecordColumn: String = SQLConf.get.columnNameOfCorruptRecord)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val (page, open) = partition match {
      case FixturePagePartition(i, file) =>
        (s"page $i (file $file)",
          () => java.nio.file.Files.newInputStream(java.nio.file.Paths.get(file)))
      case HttpPagePartition(i, baseUrl, apiKey, offset) =>
        // executor-side fetch: this is the distributed half of S1
        (s"page $i (offset ${offset.getOrElse("none: first page")})",
          () => new HttpPageClient(baseUrl, apiKey).open(offset))
      case other => throw new IllegalArgumentException(other.toString)
    }
    val (bytes, length) =
      try PageBuffers.readAll(open)
      catch {
        case e: java.io.IOException =>
          throw new java.io.IOException(s"cotrip-pages: reading $page failed: ${e.getMessage}", e)
      }
    val features =
      try new PageParser(featureSchema, timeZone, corruptRecordColumn).features(bytes, length, page)
      catch { case e: Throwable => PageBuffers.give(bytes); throw e }
    new PartitionReader[InternalRow] {
      private var i = -1
      private var closed = false
      override def next(): Boolean = { i += 1; i < features.numElements() }
      override def get(): InternalRow = features.getStruct(i, featureSchema.length)
      // the rows' strings are views into the buffer; Spark has copied every
      // row it keeps by the time it closes the reader
      override def close(): Unit = if (!closed) { closed = true; PageBuffers.give(bytes) }
    }
  }
}

/** The page buffers of one JVM, reused across `cotrip-pages` readers and
  * page fetches. A page is read whole, so the parser can slice string
  * fields out of it, and a page is usually larger than half a G1 heap
  * region: a fresh array per page would be a humongous allocation, holding
  * old-generation regions until the next young collection. A reader takes
  * a buffer when it opens and gives it back when it closes, so the pool
  * holds one buffer per reader that ran at once; a buffer over 64 MB is not
  * kept.
  */
private object PageBuffers {
  private val free = new java.util.concurrent.ConcurrentLinkedDeque[Array[Byte]]()

  /** `open()`'s bytes, read to the end into a pooled buffer, and their count. */
  def readAll(open: () => java.io.InputStream): (Array[Byte], Int) = {
    var buf = Option(free.poll()).getOrElse(new Array[Byte](1 << 16))
    var n = 0
    try {
      val in = open()
      try {
        var r = 0
        while (r >= 0) {
          if (n == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
          r = in.read(buf, n, buf.length - n)
          if (r > 0) n += r
        }
      } finally in.close()
    } catch { case e: Throwable => give(buf); throw e }
    (buf, n)
  }

  def give(buf: Array[Byte]): Unit = if (buf.length <= (64 << 20)) free.push(buf)
}

/** Parses one page envelope `{"features":[…]}` from its bytes into its
  * feature array with Spark's `JacksonParser` under the options `from_json`
  * uses. The one page parser of [[CotripSource.fromPages]], the batch scan
  * and the micro-batch stream (the scan's feature schema may be pruned):
  *
  *   - `geometry.coordinates` is the feed's own JSON text, byte for byte:
  *     on byte-array input Spark's exact-string path
  *     (`spark.sql.json.enableExactStringParsing`, on by default) slices a
  *     non-string value out of the page instead of re-printing it, so
  *     `[39.50,1e2]` stays `[39.50,1e2]`, whitespace included. That text
  *     is value-equal to the array the reference reads from the same page;
  *   - a well-formed page with a field of the wrong type (e.g.
  *     `"marker":"mile 3"`) keeps every feature, that field null —
  *     `from_json`'s PERMISSIVE partial result;
  *   - a page that is not a well-formed JSON object (truncated or
  *     non-JSON text, a non-object root, an empty body) throws, naming
  *     `page`. `from_json` would return a partial envelope with `features`
  *     null here, and the page's features would vanish at the explode.
  */
private[sources] final class PageParser(featureSchema: StructType, timeZone: String,
                                        corruptRecordColumn: String) {
  private val parser = new JacksonParser(
    StructType(Seq(StructField("features", ArrayType(featureSchema)))),
    new JSONOptions(Map.empty[String, String], timeZone, corruptRecordColumn),
    allowArrayAsStructs = false)

  /** The features of the page in `bytes[0, length)`. Their string fields
    * may be views into `bytes`.
    */
  def features(bytes: Array[Byte], length: Int, page: String): ArrayData = {
    var watch: ReadWatch = null
    def readError: Option[Throwable] = Option(watch).flatMap(w => Option(w.error))
    val envelope =
      try parser.parse[Array[Byte]](bytes, { (factory, b) =>
        watch = new ReadWatch(factory.createParser(b, 0, length)); watch
      }, _ => UTF8String.EMPTY_UTF8)
      catch {
        case e: BadRecordException if readError.isEmpty && e.partialResults().nonEmpty =>
          e.partialResults().toSeq
        case e: BadRecordException => throw malformed(page, readError.getOrElse(e.getCause))
      }
    envelope.headOption match {
      case None => throw malformed(page, null)
      case Some(r) if r.isNullAt(0) => new GenericArrayData(Array.empty[Any])
      case Some(r) => r.getArray(0)
    }
  }

  private def malformed(page: String, cause: Throwable): Throwable =
    new IllegalStateException(s"malformed $page: the body is not a well-formed " +
      """{"features":[...]} JSON object (""" +
      Option(cause).map(_.getMessage).getOrElse("empty body") + ")", cause)
}

/** A Jackson parser that remembers the first syntax or I/O error it
  * raised. `JacksonParser` catches an error inside a field to keep a
  * partial result, so a syntax error deep in a page cannot be told from a
  * wrong-typed field by the exception it finally throws.
  */
private final class ReadWatch(p: JsonParser) extends JsonParserDelegate(p) {
  var error: java.io.IOException = _
  private def watch[T](f: => T): T =
    try f catch { case e: java.io.IOException => if (error == null) error = e; throw e }
  override def nextToken(): JsonToken = watch(super.nextToken())
  override def nextValue(): JsonToken = watch(super.nextValue())
  override def skipChildren(): JsonParser = watch(super.skipChildren())
  override def getText(): String = watch(super.getText())
}
