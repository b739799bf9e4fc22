package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

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
      page.nextOffset match {
        // `'None'` string sentinel or absent header → stop (task.ts:72).
        case Some(next) if next.nonEmpty && next != "None" =>
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
  * and `from_json` + `explode` run on executors; on the DSv2 path
  * ([[fromDsv2]]) executors fetch and parse each page in the scan itself,
  * reading only the feature fields the plan needs. At 100 TB scale the same
  * shape holds: the driver walks the chain collecting (cheap) page tokens,
  * executors fetch/parse in parallel per page range (SURVEY §2.1-S1); for
  * file-backed inputs use `fromJsonFiles` which is fully distributed end to end.
  */
object CotripSource {

  /** Parse page bodies (each `{"features":[...]}`) into one row per feature.
    * A body that is not a well-formed JSON object (truncated or non-JSON
    * text, an empty body) fails the job naming its page index; `from_json`
    * alone would return it as a partial envelope with `features` null, and
    * its features would vanish at the explode. A well-formed page with a
    * field of the wrong type keeps its feature with that field null
    * (`from_json`'s PERMISSIVE partial result), as in the `cotrip-pages` scan.
    */
  def fromPages(spark: SparkSession, bodies: Seq[String]): DataFrame = {
    val body = col("body")
    spark.createDataset(bodies.zipWithIndex)(Encoders.tuple(Encoders.STRING, Encoders.scalaInt))
      .toDF("body", "page_index")
      // json_object_keys is null exactly when the body is not a well-formed object
      .select(when(body.isNotNull && json_object_keys(body).isNull,
        raise_error(concat(lit("malformed page "), col("page_index"),
          lit(""": the body is not a well-formed {"features":[...]} JSON object"""))))
        .otherwise(from_json(body, GeoSchemas.page)).as("page"))
      .select(explode(col("page.features")).as("feature"))
      .select(col("feature.*"))
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
