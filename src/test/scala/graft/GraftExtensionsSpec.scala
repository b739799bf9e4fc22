package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftExtensionsProbe, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.functions.NativeFunctions

class GraftExtensionsSpec extends SparkSpec {

  test("GraftExtensions injects dot_product at session-extension time") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = GraftExtensionsProbe.applyInjections(ext)
    assert(registry.functionExists(FunctionIdentifier("dot_product")))
    val expr = registry.lookupFunction(FunctionIdentifier("dot_product"),
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(Array(1.0, 2.0)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(Array(3.0, 4.0))))
    assert(expr.eval(null) === 11.0)
  }

  test("dot_product rejects wrong arity with an analysis error, not an index crash") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = GraftExtensionsProbe.applyInjections(ext)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      registry.lookupFunction(FunctionIdentifier("dot_product"),
        Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(Array(1.0))))
    }
    assert(e.getMessage.contains("dot_product"))
  }

  test("hyperplane_signatures knobs reject non-constant / non-INT args readably") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = GraftExtensionsProbe.applyInjections(ext)
    val vec = org.apache.spark.sql.catalyst.expressions.Literal.create(Array(1.0, 2.0))
    def build(knob: org.apache.spark.sql.catalyst.expressions.Expression) =
      registry.lookupFunction(FunctionIdentifier("hyperplane_signatures"),
        Seq(vec, vec, knob, org.apache.spark.sql.catalyst.expressions.Literal(1)))
    // a column reference used to surface as an unbound-attribute
    // UnsupportedOperationException; a LONG literal as a ClassCastException
    // (ADVICE r9) — both must now be AnalysisExceptions naming the knob
    val nonConst = intercept[org.apache.spark.sql.AnalysisException] {
      build(org.apache.spark.sql.catalyst.analysis
        .UnresolvedAttribute("some_col"))
    }
    assert(nonConst.getMessage.contains("planesPerTable"))
    val longTyped = intercept[org.apache.spark.sql.AnalysisException] {
      build(org.apache.spark.sql.catalyst.expressions.Literal(2L))
    }
    assert(longTyped.getMessage.contains("planesPerTable"))
    // foldable non-literal INT arithmetic still resolves (1+1 planes)
    val folded = build(org.apache.spark.sql.catalyst.expressions.Literal(2))
    assert(folded.isInstanceOf[graft.functions.HyperplaneSignatures])
    // and the lazy-registration path shares the same guard
    graft.functions.NativeFunctions.hyperplaneSignatures(
      spark, org.apache.spark.sql.functions.col("v"), Array(1.0, 2.0), 1, 1)
    val lazyGuard = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT hyperplane_signatures(array(1.0d), array(1.0d), 2L, 1)")
        .head()
    }
    assert(lazyGuard.getMessage.contains("planesPerTable"))
  }

  test("GraftExtensions injects the bloom runtime-filter pair") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = GraftExtensionsProbe.applyInjections(ext)
    assert(registry.functionExists(FunctionIdentifier("graft_bloom_agg")))
    assert(registry.functionExists(FunctionIdentifier("graft_might_contain")))
  }

  test("bloom sketch round-trips through SQL build + probe") {
    import spark.implicits._
    Seq("a", "b", "c", "d").toDF("s").createOrReplaceTempView("bloom_build")
    val bloom = NativeFunctions.bloomAggBytes(
      spark.table("bloom_build"),
      org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.col("s")),
      expectedItems = 100L, numBits = 1024L)
    assert(bloom != null)
    val hits = Seq("a", "zz", "b").toDF("s")
      .filter(NativeFunctions.mightContain(spark, bloom,
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("s"))))
      .as[String].collect().sorted
    // "a" and "b" MUST hit (no false negatives); "zz" may only slip in as
    // a false positive, impossible here at 1024 bits over 4 items
    assert(hits.toSeq === Seq("a", "b"))
  }

  test("lazy registration is idempotent and SQL-visible") {
    NativeFunctions.register(spark)
    NativeFunctions.register(spark) // second call must be a silent no-op
    val row = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    assert(row.getDouble(0) === 11.0)
  }

  /** Every lazily registered native function: (name, a first use through
    * its public helper, probe arguments, is-ours check on what the name
    * resolves to for those arguments).
    */
  private def natives(s: org.apache.spark.sql.SparkSession): Seq[(String,
      () => Unit, Seq[Expression], Expression => Boolean)] = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types._
    import graft.functions._
    val vec = Literal.create(Array(1.0, 2.0), ArrayType(DoubleType, containsNull = false))
    val one = Literal(1)
    val long = Literal(0L)
    val shared = () => NativeFunctions.register(s)
    val bloom = () => { NativeFunctions.mightContain(s, Array[Byte](0), col("h")); () }
    def nearest(cos: Boolean) = () => {
      NativeFunctions.nearestCentroid(s, col("v"), Array(0.0), Array(1.0), cos); ()
    }
    Seq(
      ("dot_product", shared, Seq(vec, vec), _.isInstanceOf[DotProduct]),
      ("word_shingles", shared, Seq(Literal.create(Array("a"), ArrayType(StringType)), one),
        _.isInstanceOf[WordShingles]),
      ("char_qgrams", () => { NativeFunctions.charQgramsFused(s, lit("ab"), 2); () },
        Seq(Literal("ab"), one), _.isInstanceOf[CharQgrams]),
      ("log_lin_code", () => { NativeFunctions.logLinCode(s, lit(1.0)); () },
        Seq(Literal(1.0)), _.isInstanceOf[LogLinCode]),
      ("pq_codes", () => { NativeFunctions.pqCodes(s, col("v"), Seq(Array(Array(0.0)))); () },
        Seq(vec, vec, one, one), _.isInstanceOf[PqCodes]),
      ("nearest_centroid_cos", nearest(true), Seq(vec, vec, vec),
        { case NearestCentroid(_, _, _, u) => u; case _ => false }),
      ("nearest_centroid_dot", nearest(false), Seq(vec, vec, vec),
        { case NearestCentroid(_, _, _, u) => !u; case _ => false }),
      ("hyperplane_signatures",
        () => { NativeFunctions.hyperplaneSignatures(s, col("v"), Array(0.0), 1, 1); () },
        Seq(vec, vec, one, one), _.isInstanceOf[HyperplaneSignatures]),
      ("gear_chunk_ends", () => { NativeFunctions.gearChunkEnds(s, col("p"), 6); () },
        Seq(Literal.create(Array.empty[Byte], BinaryType), one),
        _.isInstanceOf[GearChunkEnds]),
      ("json_array_elements", () => { NativeFunctions.jsonArrayElements(s, col("c")); () },
        Seq(Literal("[]")), _.isInstanceOf[JsonArrayElements]),
      ("geojson_feature", () => { NativeFunctions.geoJsonFeature(s, col("h"), col("g")); () },
        Seq(Literal("{}"), Literal.create(null, graft.model.GeoSchemas.geometry)),
        _.isInstanceOf[GeoJsonFeature]),
      ("graft_bloom_agg", bloom, Seq(long, long, long),
        _.isInstanceOf[BloomFilterAggregate]),
      ("graft_might_contain", bloom, Seq(Literal.create(null, BinaryType), long),
        _.isInstanceOf[BloomFilterMightContain]),
      ("hilbert_key", () => { Hilbert.hilbertKey(s, col("x"), col("y")); () },
        Seq(Literal(1L), Literal(2L), Literal(4)), _.isInstanceOf[HilbertIndex]))
  }

  private def resolves(s: org.apache.spark.sql.SparkSession, name: String,
                       probe: Seq[Expression]): Expression =
    s.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(name), probe)

  test("registration replaces a same-named foreign function (never computes through it)") {
    natives(spark).foreach { case (name, use, probe, ours) =>
      spark.udf.register(name,
        (a: Seq[Double], b: Seq[Double]) => -1.0) // an impostor
      use()
      assert(ours(resolves(spark, name, probe)), s"$name: graft's implementation must win")
    }
    val row = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head()
    assert(row.getDouble(0) === 11.0, "graft's implementation must win")
  }

  test("native registration: 8 threads' concurrent first use on a new session") {
    val s = spark.newSession()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val uses = (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = { start.await(); natives(s).foreach(_._2()) }
      }))
      start.countDown()
      uses.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    natives(s).foreach { case (name, _, probe, ours) =>
      assert(ours(resolves(s, name, probe)), s"$name must resolve to graft's")
    }
    assert(s.sql("SELECT dot_product(array(1.0d), array(2.0d))").head()
      .getDouble(0) === 2.0)
  }

  test("one table behind both routes: only NativeFunctions registers lazily, only GraftExtensions injects") {
    val walk = Files.walk(Paths.get("src", "main", "scala"))
    val scala =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally walk.close()
    def calling(method: String): Vector[String] = scala
      .filter(p => Files.readString(p).contains(method + "("))
      .map(_.getFileName.toString)
    assert(calling("createOrReplaceTempFunction") === Vector("NativeFunctions.scala"))
    assert(calling("injectFunction") === Vector("GraftExtensions.scala"))
    // the table holds every native function, and a registry built from
    // GraftExtensions resolves each to graft's expression
    assert(NativeFunctions.table.map(_.name).sorted === natives(spark).map(_._1).sorted)
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val registry = GraftExtensionsProbe.applyInjections(ext)
    natives(spark).foreach { case (name, _, probe, ours) =>
      assert(ours(registry.lookupFunction(FunctionIdentifier(name), probe)),
        s"$name must resolve to graft's")
    }
  }
}
