package graft.examples

import graft.{GraftSession, SparkEntry}
import graft.streaming.StreamTelemetry

/** Dump `explain("formatted")` for selected queries — the plan-review loop
  * (pushed filters, broadcast joins, whole-stage codegen spans). A `stream`
  * query returns the read-back of its memory sink, so each AvailableNow
  * run it made is printed after it too, in run order: the terminated
  * query's `explain(extended = true)`, the plan of its last micro-batch.
  * Usage: runMain graft.examples.ExplainPlans [queryName ...]
  *
  * Expression ids are JVM-global, and an AvailableNow run allocates a
  * varying number of them, so every plan analyzed after a stream has
  * shifted ids; where a rewrite orders by id hash (the Expand of a
  * distinct aggregate), the plan itself changes. So every query with a
  * `stream` word in its name is explained after all the others, and a
  * micro-batch run by any other query fails the dump, naming that query.
  */
object ExplainPlans {
  private def startsStream(name: String): Boolean = name.split('_').contains("stream")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.posture(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val (streams, batch) = names.partition(startsStream)
    (batch ++ streams).foreach { name =>
      println(s"\n########## $name ##########")
      StreamTelemetry.takeRuns()
      SparkEntry.queries(name)(spark, dir).explain("formatted")
      StreamTelemetry.takeRuns().zipWithIndex.foreach { case (q, i) =>
        println(s"\n---------- $name: stream run ${i + 1} ----------")
        q.explain(true)
      }
      require(startsStream(name) ||
        StreamTelemetry.microBatchesCompleted.get() == 0,
        s"$name runs a stream but has no `stream` word in its name")
    }
    spark.stop()
  }
}
