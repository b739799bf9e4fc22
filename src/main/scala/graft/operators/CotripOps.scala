package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.NativeFunctions
import graft.model.TaskConfig

/** The reference's three dataflow operators (SURVEY §2.2-2.3, task.ts:76-113)
  * as pure `DataFrame => DataFrame` functions. All narrow — the whole
  * conformance pipeline is shuffle-free and fuses into a single
  * whole-stage-codegen'd stage (SURVEY §4.3).
  */
object CotripOps {

  /** P1 — projection: keep `properties.id` (lifted to top level) + geometry,
    * strip or carry the declared properties (task.ts:78-84; SURVEY §1.5-1).
    * `id` provenance is `properties.id`, NOT any top-level id (task.ts:79).
    */
  def projectIdGeometry(df: DataFrame, stripProperties: Boolean = true): DataFrame = {
    val props =
      if (stripProperties) struct() // `properties: {}` bit-for-bit (task.ts:81-82)
      else col("properties")
    df.select(
      col("properties.id").as("id"),
      lit("Feature").as("type"),
      props.as("properties"),
      col("geometry"))
  }

  /** E1 — Multi-geometry explode (task.ts:86-101), single-pass form (SURVEY
    * §2.3): `posexplode` over the top-level elements of the coordinate
    * array for `Multi*` rows, a 1-element array (pass-through) otherwise.
    * `coordinates` is the feed's JSON text, and the split
    * ([[graft.functions.JsonArrayElements]], one codegen'd pass) cuts it at
    * the top-level commas only: each part is the exact slice of its
    * element's text, whatever its nesting depth — the reference's own
    * split of the parsed array (SURVEY §7.3-1), with no number parsed or
    * re-printed, so a part is value-equal to the reference's element.
    *
    * Reference semantics reproduced:
    *   - id becomes `"{id}-{i}"`, i = position in the original array
    *     (task.ts:90-96) → `posexplode` for positional determinism (§1.5-4);
    *   - type drops the `Multi` prefix — JS `replace('Multi','')` is
    *     first-occurrence-only and guarded by `startsWith('Multi')`, so
    *     `substring(type, 6)` is exact (§2.9-F2);
    *   - empty Multi coordinates → zero output rows (JS loop body never runs);
    *   - non-Multi rows (including GeometryCollection, which has no
    *     `coordinates` at all) pass through 1:1 untouched (task.ts:98-100).
    *
    * Multi coordinates that are not one well-formed JSON array yield no
    * rows, as the `from_json` split did. The two branches' concatenation
    * in the reference (features.push from both paths, task.ts:95,99) is a
    * degenerate UNION ALL (§2.8); the `when()` form computes it in one
    * pass with no union node and no shuffle.
    */
  def explodeMulti(df: DataFrame): DataFrame = {
    val isMulti = col("geometry.type").startsWith("Multi")
    df.select(
        col("id"), col("type"), col("properties"), col("geometry"),
        posexplode(
          when(isMulti, NativeFunctions.jsonArrayElements(df.sparkSession,
              col("geometry.coordinates")))
            .otherwise(array(col("geometry.coordinates"))))
          .as(Seq("pos", "part")))
      .select(
        when(isMulti, concat(col("id"), lit("-"), col("pos")))
          .otherwise(col("id")).as("id"),
        col("type"),
        col("properties"),
        struct(
          when(isMulti, expr("substring(geometry.type, 6)"))
            .otherwise(col("geometry.type")).as("type"),
          col("part").as("coordinates")).as("geometry"))
  }

  /** P2 — membership filter on the allowed-list built from the three geometry
    * toggles (task.ts:103-113). Runs AFTER the explode, so e.g. a MultiPoint
    * survives iff Point is allowed — operator order is load-bearing (§2.2-P2).
    * Empty allowed-list → everything dropped (JS `[].includes` is false).
    */
  def filterGeometryTypes(df: DataFrame, allowed: Seq[String]): DataFrame =
    if (allowed.isEmpty) df.filter(lit(false))
    else df.filter(col("geometry.type").isin(allowed: _*))

  /** Derived pre-filter (SURVEY §4.1 last row): a feature can only survive P2
    * if its type is in `allowed` or is `Multi` + an allowed type
    * (`Multi{X}` explodes to `X`). Semantics-preserving, applied BEFORE the
    * explode so no explode work is wasted on doomed rows — this is the filter
    * pushdown the reference can't do. Authored directly in the plan rather
    * than as an optimizer rule (§4.2).
    */
  def prefilterGeometryTypes(df: DataFrame, allowed: Seq[String]): DataFrame = {
    val survivors = allowed ++ allowed.map("Multi" + _)
    if (survivors.isEmpty) df.filter(lit(false))
    else df.filter(col("geometry.type").isin(survivors: _*))
  }

  /** Typed view of the carried properties (stripProperties=false mode):
    * the two ISO-string timestamps of the declared schema (SURVEY §1.2b)
    * parsed to TimestampType beside the originals. `try_to_timestamp` so
    * unparseable/absent values degrade to null (PERMISSIVE stance, §1.4)
    * even under ANSI mode, never failing the job.
    */
  def typedProperties(df: DataFrame): DataFrame =
    df.withColumn("lastUpdated_ts", try_to_timestamp(col("properties.lastUpdated")))
      .withColumn("activationTime_ts", try_to_timestamp(col("properties.activationTime")))

  /** The full conformance pipeline P1 → (pre-filter) → E1 → P2
    * (task.ts:76-113 end to end).
    */
  def pipeline(df: DataFrame, config: TaskConfig, prefilter: Boolean = true): DataFrame = {
    val projected = projectIdGeometry(df, config.stripProperties)
    val pre = if (prefilter) prefilterGeometryTypes(projected, config.allowedTypes) else projected
    filterGeometryTypes(explodeMulti(pre), config.allowedTypes)
  }
}
