package graft.queries

import org.apache.spark.sql.functions._

import graft.model.TaskConfig
import graft.operators.CotripOps
import graft.sources.CotripSource
import graft.queries.QueryDef.of

/** The reference conformance pipeline itself as driver-checked queries: the
  * fixture pages are embedded (they model the API payload, not a parquet
  * table), the oracle is the statically-known golden output as a VALUES
  * literal — so the driver's DuckDB compare exercises the reference semantics
  * (P1 strip → E1 explode with positional ids → P2 filter) end to end.
  */
object CotripQueries {

  private def feat(id: String, t: String, coords: String) =
    s"""{"type":"Feature","properties":{"id":"$id","name":"n-$id"},"geometry":{"type":"$t","coordinates":$coords}}"""

  /** One per-JVM fixture dir for the DSv2 query (reused across invocations so
    * repeated Verify/Bench runs don't litter the temp filesystem).
    */
  lazy val fixtureDir: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("cotrip-dsv2")
    dir.toFile.deleteOnExit()
    fixturePages.zipWithIndex.foreach { case (body, i) =>
      val f = dir.resolve(f"page-$i%03d.json")
      java.nio.file.Files.writeString(f, body)
      f.toFile.deleteOnExit()
    }
    dir
  }

  /** 3-page chain covering every geometry family incl. GeometryCollection. */
  val fixturePages: Seq[String] = Seq(
    s"""{"features":[${feat("pt1", "Point", "[-105.52,39.74]")},${feat("mp1", "MultiPoint", "[[1.0,2.0],[3.0,4.0],[5.0,6.0]]")}]}""",
    """{"features":[]}""",
    s"""{"features":[${feat("ls1", "LineString", "[[0.0,0.0],[1.0,1.0]]")},${feat("mpg1", "MultiPolygon", "[[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]],[[[5.0,5.0],[6.0,5.0],[6.0,6.0],[5.0,5.0]]]]")},${feat("gc1", "GeometryCollection", "null")}]}""")

  /** The statically-known golden output of the default-config pipeline
    * over [[fixturePages]] — shared by c01 (driver-side fetch), and c05
    * (micro-batch stream): every form must land on the same features.
    */
  private val goldenPipelineSql =
    """SELECT * FROM (VALUES
      | ('ls1', 'LineString', '[[0.0,0.0],[1.0,1.0]]'),
      | ('mp1-0', 'Point', '[1.0,2.0]'),
      | ('mp1-1', 'Point', '[3.0,4.0]'),
      | ('mp1-2', 'Point', '[5.0,6.0]'),
      | ('mpg1-0', 'Polygon', '[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]]'),
      | ('mpg1-1', 'Polygon', '[[[5.0,5.0],[6.0,5.0],[6.0,6.0],[5.0,5.0]]]'),
      | ('pt1', 'Point', '[-105.52,39.74]')
      |) AS t(id, geom_type, coordinates) ORDER BY id""".stripMargin

  /** Memory-sink name source for the streaming form. */
  private val sinkCounter = new java.util.concurrent.atomic.AtomicLong(0)

  val defs: Map[String, QueryDef] = Map(

    // Full pipeline, default config (all toggles on): Multi* explodes with
    // positional id suffixes, GeometryCollection dropped.
    "c01_cotrip_pipeline" -> of(goldenPipelineSql) { (s, _) =>
      CotripOps.pipeline(CotripSource.fromPages(s, fixturePages), TaskConfig("t"))
        .select(col("id"), col("geometry.type").as("geom_type"),
          col("geometry.coordinates").as("coordinates"))
        .orderBy("id")
    },

    // STREAMING form of the conformance pipeline (c05 — VERDICT r18 #7,
    // SURVEY §2.10's direct Structured-Streaming equivalent of the
    // reference's InvocationType.Schedule snapshot): the same fixture
    // chain read through the cotrip-pages MICRO-BATCH stream — one page
    // per trigger under admission control, reusing the batch DSv2
    // per-page partition layout — with the same P1 → E1 → P2 transforms
    // running per micro-batch (the pipeline is select/explode/filter,
    // all stateless, so append mode holds) and Trigger.AvailableNow
    // draining the whole chain. Graded against c01's golden VALUES
    // oracle: the scheduled-snapshot and streaming forms must agree
    // feature for feature.
    "c05_cotrip_stream" -> of(goldenPipelineSql) { (s, _) =>
      val features = s.readStream.format("cotrip-pages")
        .option("mode", "fixture").option("path", fixtureDir.toString)
        .load()
      val out = CotripOps.pipeline(features, TaskConfig("t"))
        .select(col("id"), col("geometry.type").as("geom_type"),
          col("geometry.coordinates").as("coordinates"))
      val sink = s"cotrip_stream_${sinkCounter.incrementAndGet()}"
      graft.streaming.EventsStream.runAvailableNow(out, sink)
      s.table(sink).orderBy("id")
    },

    // Same pipeline through the DataSourceV2 `cotrip-pages` source (one
    // executor-side partition per page file) — proves the scale path agrees
    // with the driver-side fetch byte for byte.
    "c03_cotrip_dsv2" -> of(
      """SELECT * FROM (VALUES
        | ('ls1', 'LineString', '[[0.0,0.0],[1.0,1.0]]'),
        | ('mp1-0', 'Point', '[1.0,2.0]'),
        | ('mp1-1', 'Point', '[3.0,4.0]'),
        | ('mp1-2', 'Point', '[5.0,6.0]'),
        | ('mpg1-0', 'Polygon', '[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]]'),
        | ('mpg1-1', 'Polygon', '[[[5.0,5.0],[6.0,5.0],[6.0,6.0],[5.0,5.0]]]'),
        | ('pt1', 'Point', '[-105.52,39.74]')
        |) AS t(id, geom_type, coordinates) ORDER BY id""") { (s, _) =>
      CotripOps.pipeline(
        graft.sources.CotripSource.fromDsv2(s,
          Map("mode" -> "fixture", "path" -> fixtureDir.toString)), TaskConfig("t"))
        .select(col("id"), col("geometry.type").as("geom_type"),
          col("geometry.coordinates").as("coordinates"))
        .orderBy("id")
    },

    // S4 capabilities surface (task.ts:18-48) as a relation: one row per
    // declared field of each Incoming schema, parsed back from the JSON
    // strings describe() serves. The oracle is the reference's declaration
    // reconstructed as constants — the 5 config fields with their TypeBox
    // defaults AND description strings (task.ts:5-11; required = fields
    // without defaults, see CotripPipeline.describe scaladoc) and the 16
    // output record fields (task.ts:26-43; JS Number ⇒ JSON-Schema number,
    // no descriptions declared). VERDICT r19 #4: the description text is
    // GRADED, not assumed — a drifted string hash-mismatches here.
    "c04_capabilities" -> of(
      """SELECT * FROM (VALUES
        | ('Input', 'COTRIP_TOKEN', 'string', 'API Token for CoTrip', NULL, true),
        | ('Input', 'Point Geometries', 'boolean', 'Allow point geometries', 'true', false),
        | ('Input', 'LineString Geometries', 'boolean', 'Allow LineString geometries', 'true', false),
        | ('Input', 'Polygon Geometries', 'boolean', 'Allow Polygon Geometries', 'true', false),
        | ('Input', 'DEBUG', 'boolean', 'Print GeoJSON Features in logs', 'false', false),
        | ('Output', 'communicationStatus', 'string', NULL, NULL, true),
        | ('Output', 'marker', 'number', NULL, NULL, true),
        | ('Output', 'messageText', 'string', NULL, NULL, true),
        | ('Output', 'direction', 'string', NULL, NULL, true),
        | ('Output', 'lastUpdated', 'string', NULL, NULL, true),
        | ('Output', 'messagePreview', 'string', NULL, NULL, true),
        | ('Output', 'displayStatus', 'string', NULL, NULL, true),
        | ('Output', 'name', 'string', NULL, NULL, true),
        | ('Output', 'id', 'string', NULL, NULL, true),
        | ('Output', 'speed', 'number', NULL, NULL, true),
        | ('Output', 'routeName', 'string', NULL, NULL, true),
        | ('Output', 'messageMarkup', 'string', NULL, NULL, true),
        | ('Output', 'publicName', 'string', NULL, NULL, true),
        | ('Output', 'submittedBy', 'string', NULL, NULL, true),
        | ('Output', 'nativeId', 'string', NULL, NULL, true),
        | ('Output', 'activationTime', 'string', NULL, NULL, true)
        |) AS t(schema_type, field, json_type, description, default_value, required)
        |ORDER BY schema_type, field""") { (s, _) =>
      graft.CotripPipeline.capabilitiesTable(s)
        .orderBy("schema_type", "field")
    },

    // Toggle semantics: Point disabled → Point AND MultiPoint output dies
    // (filter runs post-explode); LineString/Polygon survive.
    "c02_cotrip_toggles" -> of(
      """SELECT * FROM (VALUES
        | ('ls1', 'LineString', '[[0.0,0.0],[1.0,1.0]]'),
        | ('mpg1-0', 'Polygon', '[[[0.0,0.0],[1.0,0.0],[1.0,1.0],[0.0,0.0]]]'),
        | ('mpg1-1', 'Polygon', '[[[5.0,5.0],[6.0,5.0],[6.0,6.0],[5.0,5.0]]]')
        |) AS t(id, geom_type, coordinates) ORDER BY id""") { (s, _) =>
      CotripOps.pipeline(CotripSource.fromPages(s, fixturePages),
        TaskConfig("t", pointGeometries = false))
        .select(col("id"), col("geometry.type").as("geom_type"),
          col("geometry.coordinates").as("coordinates"))
        .orderBy("id")
    })
}
