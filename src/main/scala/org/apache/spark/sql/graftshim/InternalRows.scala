package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Source-side shim. A source that parses with Spark's own `JacksonParser`
  * (the `cotrip-pages` page parser) yields Catalyst `InternalRow`s, and
  * `internalCreateDataFrame` is `private[sql]`; without this package-scoped
  * accessor a driver-side parse would turn each row into an external `Row`
  * and encode it back.
  */
object InternalRows {
  def toDF(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}
