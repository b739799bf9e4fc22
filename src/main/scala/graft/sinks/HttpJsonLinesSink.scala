package graft.sinks

import java.net.http.HttpRequest

import org.apache.spark.sql.{Dataset, ForeachWriter}
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side HTTP sink (SURVEY §2.1-S3 / §4.2 graduation): POSTs
  * newline-delimited JSON in bounded batches from the task that produced it —
  * no driver collect, no single-writer bottleneck, usable from BOTH batch
  * (`postJsonLines`, via `foreachPartition`) and Structured Streaming
  * (`foreachWriter`, via `writeStream.foreach`).
  *
  * Delivery contract: at-least-once (a retried task or micro-batch re-POSTs
  * its rows — the Spark sink contract). Every request carries
  * `X-Graft-Epoch` and `X-Graft-Partition` headers so an idempotent receiver
  * can deduplicate replays, which is the standard recipe for exactly-once
  * effects over an at-least-once channel.
  *
  * The conformance-scale FeatureCollection POST (one collected document per
  * run, exactly the reference's submit) stays in
  * [[FeatureCollectionSink.submit]]; this sink is the 100 TB path.
  */
object HttpJsonLinesSink {

  /** Streaming writer: buffers up to `batchSize` rows per POST. Rows arrive
    * per (partition, epoch); `close` flushes the tail batch only on success —
    * on task failure nothing partial is finalized and Spark replays the
    * epoch's partition (at-least-once).
    */
  def foreachWriter(endpoint: String, batchSize: Int = 500): ForeachWriter[String] =
    new ForeachWriter[String] {
      @transient private var batch: JsonLinesBatch = _
      override def open(partitionId: Long, epochId: Long): Boolean = {
        batch = new JsonLinesBatch(endpoint, batchSize, partitionId, epochId)
        true
      }
      override def process(value: String): Unit = {
        require(value != null, "jsonl sink: null row (one non-null JSON document per row)")
        batch.add(value)
      }
      override def close(errorOrNull: Throwable): Unit =
        if (errorOrNull == null && batch != null) batch.send()
    }

  /** Batch path: each partition POSTs its rows in `batchSize` groups from
    * the executor (epoch −1 marks non-streaming requests).
    */
  def postJsonLines(ds: Dataset[String], endpoint: String,
                    batchSize: Int = 500): Unit =
    ds.foreachPartition { it: Iterator[String] =>
      val batch = new JsonLinesBatch(endpoint, batchSize,
        org.apache.spark.TaskContext.getPartitionId().toLong, epochId = -1L)
      it.foreach { row =>
        require(row != null, "jsonl sink: null row (one non-null JSON document per row)")
        batch.add(row)
      }
      batch.send()
    }
}

/** One task's pending rows for `endpoint`, newline-delimited UTF-8 bytes.
  * Adding the `batchSize`-th row POSTs the batch; [[send]] POSTs the rest.
  * A POST goes out on the JVM-wide [[graft.SharedHttp]] client straight
  * from the buffer (no joined `String`, no second encoding pass) and
  * throws on non-2xx (fail the task → Spark retries → at-least-once).
  */
private[sinks] final class JsonLinesBatch(endpoint: String, batchSize: Int,
                                          partitionId: Long, epochId: Long)
    extends java.io.ByteArrayOutputStream {
  private var rows = 0
  def add(row: UTF8String): Unit = { newline(); row.writeTo(this); rowAdded() }
  def add(row: String): Unit = add(UTF8String.fromString(row))
  private def newline(): Unit = if (rows > 0) write('\n')
  private def rowAdded(): Unit = { rows += 1; if (rows >= batchSize) send() }

  /** POST the pending rows, if any. */
  def send(): Unit = if (rows > 0) {
    graft.SharedHttp.post(endpoint, HttpRequest.BodyPublishers.ofByteArray(buf, 0, count),
      "jsonl sink POST",
      "Content-Type" -> "application/x-ndjson",
      "X-Graft-Epoch" -> epochId.toString,
      "X-Graft-Partition" -> partitionId.toString)
    discard()
  }

  /** Drop the pending rows unsent. */
  def discard(): Unit = { reset(); rows = 0 }
}
