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
}
