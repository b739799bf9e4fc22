package graft.sinks

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.NativeFunctions

/** FeatureCollection sink (task.ts:108-115 / SURVEY §2.1-S3).
  *
  * Serialization: `to_json` writes the feature's `id`, `type` and
  * `properties`, and [[graft.functions.GeoJsonFeature]] appends the
  * geometry with `coordinates` written raw: the feed's JSON text, minus
  * the whitespace between its tokens, value-equal to the array the
  * reference submits. The text goes out unquoted only when it is exactly
  * one well-formed JSON array; anything else (a string the feed sent,
  * malformed text) goes out as a JSON string, so every line is one valid
  * JSON text. All distributed, codegen'd — no driver-side row loop, no
  * regex pass.
  */
object FeatureCollectionSink {

  /** One JSON text per feature, GeoJSON-shaped. */
  def featureJson(df: DataFrame): Dataset[String] = {
    val head = to_json(struct(df("id"), df("type"), df("properties")),
      java.util.Map.of("ignoreNullFields", "false"))
    df.select(NativeFunctions.geoJsonFeature(df.sparkSession, head, df("geometry")).as("json"))
      .as[String](org.apache.spark.sql.Encoders.STRING)
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
