package graft.sources

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.GeoSchemas

/** Driver-side pagination loop replicating the reference protocol
  * (task.ts:57-73): first request has no offset; subsequent offsets come from
  * the `next-offset` response header; terminate when the header is absent or
  * the literal string `'None'` (a server-side Python sentinel, task.ts:72).
  *
  * Hardening beyond the reference (SURVEY §7.3-3, observable output unchanged):
  * a configurable page cap and identical-offset cycle detection, because the
  * reference has no guard against a server that never terminates.
  */
final class PagedFetcher(client: PageClient, maxPages: Int = 10000) {

  def fetchAll(): Seq[String] = {
    val bodies = mutable.ArrayBuffer.empty[String]
    val seen = mutable.Set.empty[String]
    var offset: Option[String] = None
    var continue = true
    while (continue) {
      val page = client.fetch(offset)
      bodies += page.body
      Page.nextToken(page.nextOffset) match {
        case Some(next) =>
          if (bodies.size >= maxPages)
            throw new IllegalStateException(s"pagination exceeded maxPages=$maxPages")
          if (!seen.add(next))
            throw new IllegalStateException(s"pagination cycle detected at offset $next")
          offset = Some(next)
        case _ => continue = false
      }
    }
    bodies.toSeq
  }
}

/** Page bodies → DataFrame of features.
  *
  * The offset chain is inherently sequential (each page's offset comes from the
  * previous response), so page *discovery* stays on the driver; page *parsing*
  * is distributed. On the driver path ([[fromPages]]) each page body is a row
  * and executors parse it; on the DSv2 path
  * ([[fromDsv2]]) executors fetch and parse each page in the scan itself,
  * reading only the feature fields the plan needs. At 100 TB scale the same
  * shape holds: the driver walks the chain collecting (cheap) page tokens,
  * executors fetch/parse in parallel per page range (SURVEY §2.1-S1); for
  * file-backed inputs use `fromJsonFiles` which is fully distributed end to end.
  */
object CotripSource {

  /** Parse page bodies (each `{"features":[...]}`) into one row per feature,
    * distributed, with the `cotrip-pages` scan's own [[PageParser]]: each
    * body is parsed from its UTF-8 bytes, so `geometry.coordinates` is the
    * page's JSON text byte for byte, as on every other source. A body that
    * is not a well-formed JSON object (truncated or non-JSON text, an empty
    * body) fails the job naming its page index. A well-formed page with a
    * field of the wrong type keeps its feature with that field null
    * (`from_json`'s PERMISSIVE partial result). A null body has no features.
    */
  def fromPages(spark: SparkSession, bodies: Seq[String]): DataFrame = {
    val schema = GeoSchemas.feature
    val conf = spark.sessionState.conf
    val (timeZone, corruptRecordColumn) =
      (conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val sc = spark.sparkContext
    val features = sc.parallelize(bodies.zipWithIndex,
        math.min(math.max(bodies.size, 1), sc.defaultParallelism))
      .mapPartitions { pages =>
        val parser = new PageParser(schema, timeZone, corruptRecordColumn)
        pages.filter(_._1 != null).flatMap { case (body, i) =>
          val bytes = body.getBytes(StandardCharsets.UTF_8)
          val page = parser.features(bytes, bytes.length, s"page $i")
          Iterator.tabulate(page.numElements())(page.getStruct(_, schema.length))
        }
      }
    org.apache.spark.sql.graftshim.InternalRows.toDF(spark, features, schema)
  }

  /** DSv2 scale path: executor-parallel page fetch+parse via the
    * `cotrip-pages` source (see [[CotripPageSource]] for modes/options).
    */
  def fromDsv2(spark: SparkSession, options: Map[String, String]): DataFrame =
    spark.read.format("cotrip-pages").options(options).load()

  /** Fetch the full chain with `client`, then parse distributed. */
  def fetch(spark: SparkSession, client: PageClient, maxPages: Int = 10000): DataFrame =
    fromPages(spark, new PagedFetcher(client, maxPages).fetchAll())

  /** Distributed scan of newline-delimited feature JSON files (offline /
    * conformance fixtures; PERMISSIVE mode so malformed records degrade to
    * nulls rather than failing the job, matching the reference's
    * index-into-JSON tolerance, SURVEY §1.4).
    */
  def fromJsonFiles(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(GeoSchemas.feature).option("mode", "PERMISSIVE").json(path)
}
