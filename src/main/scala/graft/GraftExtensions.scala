package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.NativeFunctions

/** Session-extension entry point (SURVEY §4.2): registers graft's native
  * Catalyst expressions at session build time, the idiomatic deployment for
  * a library extension —
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * }}}
  *
  * Both routes read the one table of native SQL functions
  * ([[graft.functions.NativeFunctions.table]]), so all 14 names, with the
  * same builders and arity checks, are available either way: operators
  * self-register each function they call on first use, so the library
  * works without any session configuration, and this extension exposes
  * all of them to pure-SQL sessions (thriftserver, spark-sql) where no
  * operator code runs first.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    NativeFunctions.table.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.builder(f.probe).getClass.getName, f.name), f.builder))
    }
}
