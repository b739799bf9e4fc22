package graft.sinks

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 WRITE for the JSONL HTTP sink (SURVEY §2.1-S3 / §4.2
  * graduation): the declarative counterpart of [[HttpJsonLinesSink]] —
  *
  * {{{
  *   df.write.format("jsonl-http").option("endpoint", url)
  *     .mode("append").save()                          // BatchWrite
  *   ds.writeStream.format("jsonl-http").option("endpoint", url)
  *     .option("checkpointLocation", ckpt).start()     // StreamingWrite
  * }}}
  *
  * Input contract: exactly one STRING column (one JSON document per row —
  * [[FeatureCollectionSink.featureJson]] produces exactly this shape).
  * Each task POSTs its rows in `batchSize` groups with the same
  * at-least-once + idempotency-header contract as [[HttpJsonLinesSink]]:
  * `X-Graft-Epoch` (the streaming epoch, −1 for batch) and
  * `X-Graft-Partition`. Tail rows flush in `commit()` — an aborted task
  * never finalizes its last partial batch, replays re-send whole epochs.
  */
class JsonLinesHttpWriteSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "jsonl-http"
  // write-only source: the schema is whatever the written DataFrame carries
  // (validated to be a single string column in newWriteBuilder)
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    JsonLinesHttpWriteSource.defaultSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new JsonLinesHttpTable(schema)
}

object JsonLinesHttpWriteSource {
  val defaultSchema: StructType = StructType(Seq(StructField("json", StringType)))
}

final class JsonLinesHttpTable(writeSchema: StructType) extends Table with SupportsWrite {
  override def name(): String = "jsonl_http"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().fields.length == 1
      && info.schema().fields(0).dataType == StringType,
      s"jsonl-http expects exactly one STRING column, got ${info.schema().simpleString}")
    val endpoint = Option(info.options.get("endpoint")).getOrElse(
      throw new IllegalArgumentException("jsonl-http: 'endpoint' option is required"))
    val batchSize = Option(info.options.get("batchSize")).map(_.toInt).getOrElse(500)
    new WriteBuilder with SupportsTruncate {
      // idempotent receiver owns replacement semantics; truncate = no-op
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(pi: PhysicalWriteInfo): DataWriterFactory =
            new JsonLinesWriterFactory(endpoint, batchSize)
          override def commit(messages: Array[WriterCommitMessage]): Unit = ()
          override def abort(messages: Array[WriterCommitMessage]): Unit = ()
        }
        override def toStreaming: StreamingWrite = new StreamingWrite {
          override def createStreamingWriterFactory(pi: PhysicalWriteInfo): StreamingDataWriterFactory =
            new JsonLinesWriterFactory(endpoint, batchSize)
          override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
          override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
  }
}

private final case class JsonLinesCommit(rows: Long) extends WriterCommitMessage

private final class JsonLinesWriterFactory(endpoint: String, batchSize: Int)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new JsonLinesDataWriter(endpoint, batchSize, partitionId, epochId = -1L)
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new JsonLinesDataWriter(endpoint, batchSize, partitionId, epochId)
}

private final class JsonLinesDataWriter(endpoint: String, batchSize: Int,
                                        partitionId: Int, epochId: Long)
    extends DataWriter[InternalRow] {
  private val batch = new JsonLinesBatch(endpoint, batchSize, partitionId.toLong, epochId)
  private var written = 0L
  override def write(row: InternalRow): Unit = {
    val u = row.getUTF8String(0)
    require(u != null,
      "jsonl-http: null in the json column (one non-null JSON document per row)")
    batch.add(u)
    written += 1
  }
  override def commit(): WriterCommitMessage = {
    batch.send()
    JsonLinesCommit(written)
  }
  override def abort(): Unit = batch.discard()
  override def close(): Unit = ()
}
