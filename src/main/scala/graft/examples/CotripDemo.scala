package graft.examples

import graft.{CotripPipeline, GraftSession}
import graft.model.TaskConfig
import graft.sources.FixturePageClient

/** Runnable end-to-end example of the conformance pipeline: 3-page fixture
  * chain (with the `'None'` sentinel) → pagination → project → explode →
  * filter → FeatureCollection JSON on stdout.
  */
object CotripDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.posture(4)
    spark.sparkContext.setLogLevel("ERROR")

    def feat(id: String, t: String, coords: String) =
      s"""{"type":"Feature","properties":{"id":"$id"},"geometry":{"type":"$t","coordinates":$coords}}"""
    val pages = Seq(
      s"""{"features":[${feat("pt1", "Point", "[-105.52,39.74]")},${feat("mp1", "MultiPoint", "[[1.0,2.0],[3.0,4.0]]")}]}""",
      """{"features":[]}""",
      s"""{"features":[${feat("ls1", "LineString", "[[0.0,0.0],[1.0,1.0]]")},${feat("gc1", "GeometryCollection", "null")}]}""")

    val config = TaskConfig.fromMap(
      Map("COTRIP_TOKEN" -> "demo-token") ++ args.sliding(2, 2).collect {
        case Array(k, v) => k -> v
      }.toMap)
    val pipeline = CotripPipeline(config)
    val out = pipeline.run(spark, FixturePageClient.chain(pages))
    println("=== FeatureCollection ===")
    println(graft.sinks.FeatureCollectionSink.toFeatureCollectionJson(out))
    println("=== capabilities(Input) ===")
    println(CotripPipeline.describe(schemaType = "Input"))
    spark.stop()
  }
}
