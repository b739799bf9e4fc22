package graft.model

import org.apache.spark.sql.types._

/** Schemas for the GeoJSON Feature data model (SURVEY.md §1).
  *
  * The unit of data is the GeoJSON Feature — a row-like record
  * `{id, type, properties, geometry}` (reference: task.ts:78-84). Geometry is a
  * tagged union `{type, coordinates}` whose coordinate nesting depth depends on
  * `type`; Spark has no union type, so we encode it as
  * `STRUCT<type: STRING, coordinates: STRING>` where `coordinates` holds the
  * feed's JSON array text (SURVEY.md §1.3), byte for byte, on every source:
  * each parses its input from bytes, where Spark's `JacksonParser` slices a
  * non-string value out of the input for a `StringType` field instead of
  * re-printing it. So `[39.50,1e2]` stays `[39.50,1e2]` from page to POST
  * (the sink drops only the whitespace between tokens, so a feature stays
  * one line) — value-equal to the array the reference carries — while every
  * column stays Catalyst-optimizable. A JSON string in that position arrives as its
  * unescaped text.
  */
object GeoSchemas {

  /** The 16 declared sign properties (reference: task.ts:26-43).
    * JS `Number` is IEEE double, so `marker`/`speed` map to DoubleType
    * (SURVEY.md §7.3-2); timestamps are carried as ISO strings exactly as
    * declared, with `to_timestamp` casts available downstream.
    */
  val signProperties: StructType = StructType(Seq(
    StructField("communicationStatus", StringType),
    StructField("marker", DoubleType),
    StructField("messageText", StringType),
    StructField("direction", StringType),
    StructField("lastUpdated", StringType),
    StructField("messagePreview", StringType),
    StructField("displayStatus", StringType),
    StructField("name", StringType),
    StructField("id", StringType),
    StructField("speed", DoubleType),
    StructField("routeName", StringType),
    StructField("messageMarkup", StringType),
    StructField("publicName", StringType),
    StructField("submittedBy", StringType),
    StructField("nativeId", StringType),
    StructField("activationTime", StringType)))

  /** Geometry tagged-union encoding: `coordinates` is the feed's JSON text
    * whose nesting depth matches `type` (Point → `[x,y]`, LineString →
    * `[[x,y],..]`, Polygon → one deeper, Multi* → one deeper still;
    * reference task.ts:86-97).
    */
  val geometry: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("coordinates", StringType)))

  /** An input feature as it appears in an API page (consumed schemalessly by
    * the reference at task.ts:71; we tighten the interior per SURVEY.md §1.4).
    */
  val feature: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("properties", signProperties),
    StructField("geometry", geometry)))

  /** Output feature schema in property-strip (conformance) mode:
    * `{id, type:'Feature', properties:{}, geometry}` (task.ts:78-84).
    */
  val outputFeatureStripped: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("type", StringType),
    StructField("properties", StructType(Nil)),
    StructField("geometry", geometry)))
}
