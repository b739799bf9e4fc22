package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.DotProduct

/** Session-extension entry point (SURVEY §4.2): registers graft's native
  * Catalyst expressions at session build time, the idiomatic deployment for
  * a library extension —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * Operators also self-register lazily ([[graft.functions.NativeFunctions
  * .register]]) so the library works without any session configuration; the
  * extension route additionally exposes `dot_product` to pure-SQL sessions
  * (thriftserver, spark-sql) where no operator code runs first.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        if (exprs.length != 2)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            messageParameters = Map(
              "functionName" -> "`dot_product`",
              "expectedNum" -> "2",
              "actualNum" -> exprs.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        DotProduct(exprs(0), exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("hyperplane_signatures"),
      new ExpressionInfo(classOf[graft.functions.HyperplaneSignatures].getName,
        "hyperplane_signatures"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        if (exprs.length != 4)
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            messageParameters = Map(
              "functionName" -> "`hyperplane_signatures`",
              "expectedNum" -> "4",
              "actualNum" -> exprs.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        graft.functions.HyperplaneSignatures(exprs(0), exprs(1),
          graft.functions.NativeFunctions.intConstArg(
            "hyperplane_signatures", "planesPerTable", exprs(2)),
          graft.functions.NativeFunctions.intConstArg(
            "hyperplane_signatures", "tables", exprs(3)))
      }))
    Seq(("nearest_centroid_cos", true), ("nearest_centroid_dot", false)).foreach {
      case (name, useVnorm) =>
        ext.injectFunction((
          FunctionIdentifier(name),
          new ExpressionInfo(classOf[graft.functions.NearestCentroid].getName, name),
          (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
            if (exprs.length != 3)
              throw new org.apache.spark.sql.AnalysisException(
                errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
                messageParameters = Map(
                  "functionName" -> s"`$name`",
                  "expectedNum" -> "3",
                  "actualNum" -> exprs.length.toString,
                  "docroot" -> "https://spark.apache.org/docs/latest"))
            graft.functions.NearestCentroid(exprs(0), exprs(1), exprs(2), useVnorm)
          }))
    }
    // The explicit runtime-filter pair (see NativeFunctions.registerBloom):
    // internal Spark expressions surfaced under graft_ names so pure-SQL
    // sessions can build/probe bloom sketches for semi-join reductions.
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs(0), exprs(1))))
  }
}
