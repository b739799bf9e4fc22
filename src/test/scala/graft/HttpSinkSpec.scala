package graft

import java.net.InetSocketAddress

import scala.collection.mutable

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

/** Executor-side JSONL HTTP sink (`jsonl-http`) against a loopback
  * server: batch and streaming delivery, batch-size splitting, and the
  * epoch/partition idempotency headers.
  */
class HttpSinkSpec extends SparkSpec {

  private final case class Recorded(body: String, epoch: String, partition: String)

  private def withServer(test: (String, mutable.Buffer[Recorded]) => Unit): Unit = {
    val recorded = new mutable.ArrayBuffer[Recorded]
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/ingest", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        recorded.synchronized {
          recorded += Recorded(body,
            ex.getRequestHeaders.getFirst("X-Graft-Epoch"),
            ex.getRequestHeaders.getFirst("X-Graft-Partition"))
        }
        ex.sendResponseHeaders(200, -1)
        ex.close()
      }
    })
    server.start()
    try test(s"http://127.0.0.1:${server.getAddress.getPort}/ingest", recorded)
    finally server.stop(0)
  }

  test("DSv2 batch write: format(jsonl-http).save() posts every row") {
    withServer { (endpoint, recorded) =>
      import spark.implicits._
      val rows = (0 until 40).map(i => s"""{"n":$i}""")
      rows.toDS().toDF("json").repartition(3)
        .write.format("jsonl-http")
        .option("endpoint", endpoint).option("batchSize", "7")
        .mode("append").save()
      val lines = recorded.synchronized(recorded.flatMap(_.body.split("\n")).toVector)
      assert(lines.sorted === rows.sorted)
      recorded.synchronized(recorded.foreach { r =>
        assert(r.body.split("\n").length <= 7)
        assert(r.epoch === "-1") // batch marker
        assert(r.partition.toInt >= 0)
      })
    }
  }

  test("DSv2 write rejects multi-column and missing-endpoint inputs") {
    import spark.implicits._
    val df = Seq(("a", 1)).toDF("json", "n")
    val err = intercept[Exception] {
      df.write.format("jsonl-http").option("endpoint", "http://x").mode("append").save()
    }
    assert(err.getMessage.contains("one STRING column"))
    val err2 = intercept[Exception] {
      Seq("a").toDF("json").write.format("jsonl-http").mode("append").save()
    }
    assert(err2.getMessage.contains("endpoint"))
  }

  test("DSv2 streaming write: epochs advance across micro-batches") {
    withServer { (endpoint, recorded) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val ctx = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[String]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-dsv2-ckpt").toString
      val q = ms.toDS().toDF("json").writeStream
        .format("jsonl-http")
        .option("endpoint", endpoint).option("batchSize", "3")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        ms.addData("a", "b", "c", "d")
        q.processAllAvailable()
        ms.addData("e")
        q.processAllAvailable()
      } finally q.stop()
      val byEpoch = recorded.synchronized(recorded.groupBy(_.epoch).view
        .mapValues(_.flatMap(_.body.split("\n")).toSet).toMap)
      assert(byEpoch.size === 2) // two micro-batches → two distinct epochs
      assert(byEpoch.values.reduce(_ ++ _) === Set("a", "b", "c", "d", "e"))
      recorded.synchronized(recorded.foreach { r =>
        assert(r.epoch.toLong >= 0)
        assert(r.body.split("\n").length <= 3)
      })
    }
  }

  test("pretty-printed coordinates: every writeJsonLines and jsonl-http record is one JSON line, coordinates value-equal") {
    import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
    val mapper = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    val point = "[\n  -105.50,\r\n  39.70\n]"
    val multi = "[\r\n [[1.0, 2e1],\n  [3,4]],\n [[5, 6]]\n]"
    val page = Seq("p" -> ("Point", point), "m" -> ("MultiLineString", multi)).map {
      case (id, (t, c)) =>
        s"""{"type":"Feature","properties":{"id":"$id"},"geometry":{"type":"$t","coordinates":$c}}"""
    }.mkString("{\"features\":[\n", ",\n", "\n]}")
    val expected = Map("p" -> mapper.readTree(point),
      "m-0" -> mapper.readTree(multi).get(0), "m-1" -> mapper.readTree(multi).get(1))
    val out = graft.operators.CotripOps.pipeline(
      graft.sources.CotripSource.fromPages(spark, Seq(page)), graft.model.TaskConfig("t"))
    def check(sink: String, records: Seq[String]): Unit = {
      assert(records.size === 3, s"$sink: $records")
      val coords = records.map { r =>
        assert(!r.contains('\n') && !r.contains('\r'), s"$sink: $r")
        val node = scala.util.Try(mapper.readTree(r)).getOrElse(fail(s"$sink: not JSON: $r"))
        node.get("id").asText() -> node.get("geometry").get("coordinates")
      }.toMap
      assert(coords === expected, sink)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").resolve("out").toString
    graft.sinks.FeatureCollectionSink.writeJsonLines(out, dir)
    check("writeJsonLines", spark.read.text(dir).collect().map(_.getString(0)).toSeq)
    withServer { (endpoint, recorded) =>
      graft.sinks.FeatureCollectionSink.featureJson(out).toDF("json")
        .write.format("jsonl-http").option("endpoint", endpoint).mode("append").save()
      check("jsonl-http", recorded.synchronized(recorded.flatMap(_.body.split("\n")).toVector))
    }
  }
}
