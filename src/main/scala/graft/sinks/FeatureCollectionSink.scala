package graft.sinks

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** FeatureCollection sink (task.ts:108-115 / SURVEY §2.1-S3).
  *
  * Serialization: `to_json` on the feature struct, then the raw-JSON
  * `coordinates` text is spliced back unquoted. The coordinates text contains
  * only `[0-9.eE+-,\[\] ]` (it round-tripped through a JSON array), so the
  * quoted form has no escapes and a `[^"]*` splice is exact. All distributed,
  * codegen'd — no driver-side row loop.
  */
object FeatureCollectionSink {

  /** One JSON text per feature, GeoJSON-shaped. */
  def featureJson(df: DataFrame): Dataset[String] = {
    val j = to_json(
      struct(df("id"), df("type"), df("properties"), df("geometry")),
      java.util.Map.of("ignoreNullFields", "false"))
    // Unquote the raw coordinates array: "coordinates":"[…]" → "coordinates":[…]
    // The char class admits exactly numeric-JSON text; anything else (e.g. a
    // quote smuggled into coordinates by a misbehaving feed) does NOT match
    // and stays a quoted string — degraded but still valid JSON, never a
    // structurally corrupted document.
    val spliced = regexp_replace(j,
      "\"coordinates\":\"([0-9eE+\\-.,\\[\\] ]*)\"", "\"coordinates\":$1")
    df.select(spliced.as("json")).as[String](org.apache.spark.sql.Encoders.STRING)
  }

  /** The reference submits ONE FeatureCollection per run (task.ts:108-115) —
    * inherently a driver-side collect, appropriate only at conformance scale
    * (the real feed is O(10²-10³) features, SURVEY §6). For large outputs use
    * [[writeJsonLines]] instead.
    */
  def toFeatureCollectionJson(df: DataFrame): String =
    featureJson(df).collect().mkString(
      """{"type":"FeatureCollection","features":[""", ",", "]}")

  /** Distributed sink: newline-delimited GeoJSON features, one file per
    * partition — the scale path (no collect, no single-writer bottleneck).
    */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    featureJson(df).write.mode("overwrite").text(path)

  /** HTTP POST of the FeatureCollection to a CloudTAK-layer-style endpoint
    * (parity with `this.submit(fc)`, task.ts:115). `poster` is pluggable so
    * tests capture the payload without a network.
    */
  def submit(df: DataFrame, endpoint: String,
             poster: (String, String) => Unit = httpPost): Unit =
    poster(endpoint, toFeatureCollectionJson(df))

  private def httpPost(endpoint: String, body: String): Unit =
    graft.SharedHttp.post(endpoint,
      java.net.http.HttpRequest.BodyPublishers.ofString(body), "submit",
      "Content-Type" -> "application/json")
}
