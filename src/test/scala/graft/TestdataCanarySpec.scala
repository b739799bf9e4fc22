package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types._

import graft.queries.Q

/** Testdata drift canary (VERDICT r8 #2). The driver regenerates
  * `/root/testdata` between rounds and has already changed a column's
  * physical type once (events.ts: timestamp[ns] → timestamp[us]), which
  * cost 23 queries and 13 tests in silent-or-cryptic failures. This spec
  * makes environment drift cost exactly one RED LINE with a readable
  * message: for every table it (a) asserts the engine's reader produces
  * the expected column names and an acceptable type per column, printing
  * actual-vs-expected on mismatch, and (b) materializes a row through
  * every column, so a physical-decode breakage (not just a schema one)
  * also lands here first.
  *
  * Type expectations are deliberately TOLERANT where the engine is
  * adaptive: any timestamp flavor (or, for the raw events file, integral
  * epoch-nanos) is acceptable because [[Q.adaptEventTs]] normalizes them.
  * They are EXACT where queries depend on the type (join keys, decimals).
  */
class TestdataCanarySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val anyTimestamp: Set[DataType] = Set(TimestampType, TimestampNTZType)
  private val anyIntegral: Set[DataType] = Set(IntegerType, LongType)

  /** table → (column → acceptable types). Names and order are exact. */
  private val expected: Seq[(String, Seq[(String, Set[DataType])])] = Seq(
    "region" -> Seq("r_regionkey" -> anyIntegral, "r_name" -> Set(StringType)),
    "nation" -> Seq("n_nationkey" -> anyIntegral, "n_name" -> Set(StringType),
      "n_regionkey" -> anyIntegral),
    "customer" -> Seq("c_custkey" -> anyIntegral, "c_name" -> Set(StringType),
      "c_nationkey" -> anyIntegral, "c_acctbal" -> Set(DoubleType),
      "c_mktsegment" -> Set(StringType)),
    "supplier" -> Seq("s_suppkey" -> anyIntegral, "s_name" -> Set(StringType),
      "s_nationkey" -> anyIntegral, "s_acctbal" -> Set(DoubleType)),
    "part" -> Seq("p_partkey" -> anyIntegral, "p_name" -> Set(StringType),
      "p_brand" -> Set(StringType), "p_type" -> Set(StringType),
      "p_size" -> anyIntegral, "p_retailprice" -> Set(DoubleType)),
    "orders" -> Seq("o_orderkey" -> anyIntegral, "o_custkey" -> anyIntegral,
      "o_orderstatus" -> Set(StringType), "o_totalprice" -> Set(DoubleType),
      "o_orderdate" -> anyTimestamp, "o_orderpriority" -> Set(StringType)),
    "lineitem" -> Seq("l_orderkey" -> anyIntegral, "l_partkey" -> anyIntegral,
      "l_suppkey" -> anyIntegral, "l_linenumber" -> anyIntegral,
      "l_quantity" -> Set(DoubleType), "l_extendedprice" -> Set(DoubleType),
      "l_discount" -> Set(DoubleType), "l_tax" -> Set(DoubleType),
      "l_returnflag" -> Set(StringType), "l_linestatus" -> Set(StringType),
      "l_shipdate" -> anyTimestamp),
    "events" -> Seq("event_id" -> anyIntegral,
      "ts" -> (anyTimestamp ++ anyIntegral), "user_id" -> anyIntegral,
      "event_type" -> Set(StringType), "value" -> Set(DoubleType),
      "props" -> Set(StringType)),
    "documents" -> Seq("doc_id" -> anyIntegral, "text" -> Set(StringType),
      "lang" -> Set(StringType), "source" -> Set(StringType),
      "n_chars" -> anyIntegral),
    "embeddings" -> Seq("vec_id" -> anyIntegral,
      "embedding" -> Set(ArrayType(FloatType), ArrayType(DoubleType),
        ArrayType(FloatType, containsNull = false),
        ArrayType(DoubleType, containsNull = false)),
      "label" -> anyIntegral)
  )

  private def checkSchema(table: String, df: DataFrame,
                          cols: Seq[(String, Set[DataType])]): Unit = {
    val actual = df.schema.fields.map(f => f.name -> f.dataType).toSeq
    val expectedNames = cols.map(_._1)
    assert(actual.map(_._1) === expectedNames,
      s"\n$table: column drift\n  expected: ${expectedNames.mkString(", ")}" +
        s"\n  actual:   ${actual.map { case (n, t) => s"$n:${t.simpleString}" }.mkString(", ")}")
    cols.zip(actual).foreach { case ((name, ok), (_, got)) =>
      assert(ok.exists(t => t == got || t.simpleString == got.simpleString),
        s"\n$table.$name: type drift — acceptable " +
          s"{${ok.map(_.simpleString).mkString(", ")}}, actual ${got.simpleString}" +
          s"\n  full actual schema: ${df.schema.simpleString}")
    }
  }

  expected.foreach { case (table, cols) =>
    test(s"canary: $table reads with the expected shape") {
      // the engine's own reader path: events goes through the adaptive
      // helper exactly as every query does
      GraftSession.withConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
        val raw = spark.read.parquet(s"$dir/$table.parquet")
        checkSchema(table, raw, cols)
        // decode a row through EVERY column (schema can be fine while a
        // page is unreadable; limit(1) keeps it metadata-cheap)
        val row = raw.limit(1).collect()
        assert(row.length === 1, s"$table: could not materialize a row")
      }
      if (table == "events") {
        val adapted = Q.events(spark, dir)
        assert(adapted.schema("ts").dataType === TimestampType,
          s"events.ts after adaptEventTs must be TIMESTAMP, got " +
            adapted.schema("ts").dataType.simpleString)
        assert(adapted.limit(1).collect().length === 1)
      }
    }
  }

  test("canary: the epoch-nanos branch still round-trips (driver may regenerate as int64)") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // Build a single-FILE events.parquet with ts as epoch-nanos int64 —
    // the rounds-1..7 physical layout the adaptive reader must keep
    // supporting. Spark writes directories, the testdata layout is one
    // file, and the streaming probe's pathGlobFilter matches leaf file
    // names — so write to a staging dir and move the lone part file.
    val root = Files.createTempDirectory("graft-nanos-canary")
    val staging = root.resolve("staging")
    Seq(
      (1L, 1700000000123456789L, 10L, "click", 1.5, "{}"),
      (2L, 1700000003999999999L, 11L, "view", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(staging.toString)
    val part = staging.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, root.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    // batch: LongType -> truncating nanos->micros TimestampType
    val batch = Q.events(spark, root.toString)
    assert(batch.schema("ts").dataType === TimestampType)
    val micros = batch.orderBy("event_id")
      .select(unix_micros(col("ts"))).as[Long].collect()
    assert(micros === Array(1700000000123456L, 1700000003999999L),
      s"nanos must truncate to micros like DuckDB's TIMESTAMP_NS cast, got ${micros.toSeq}")

    // streaming: the schema probe must land on the same adapted type and
    // the stream must actually deliver the rows
    val stream = graft.streaming.EventsStream.readEvents(spark, root.toString)
    assert(stream.isStreaming)
    assert(stream.schema("ts").dataType === TimestampType)
    graft.streaming.EventsStream.runAvailableNow(
      stream.groupBy(col("event_type")).count(), "nanos_canary",
      outputMode = "complete")
    assert(spark.table("nanos_canary").count() === 2)
  }

  test("canary: adaptEventTs fails LOUDLY on an unsupported ts type, naming it") {
    import spark.implicits._
    val bogus = Seq((1L, "2024-01-01T00:00:00")).toDF("event_id", "ts")
    val e = intercept[IllegalArgumentException] {
      Q.adaptEventTs(bogus, "bogus-fixture")
    }
    assert(e.getMessage.contains("STRING"), s"message must name the actual type: ${e.getMessage}")
    assert(e.getMessage.contains("bogus-fixture"))
    val noTs = Seq((1L, 2L)).toDF("event_id", "other")
    val e2 = intercept[IllegalArgumentException] {
      Q.adaptEventTs(noTs, "bogus-fixture-2")
    }
    assert(e2.getMessage.contains("no `ts` column"))
  }
}
