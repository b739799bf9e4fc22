package graft.examples

import graft.{GraftSession, SparkEntry}

/** Dump `explain("formatted")` for selected queries — the plan-review loop
  * (pushed filters, broadcast joins, whole-stage codegen spans).
  * Usage: runMain graft.examples.ExplainPlans [queryName ...]
  */
object ExplainPlans {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.posture(4)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n########## $name ##########")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
