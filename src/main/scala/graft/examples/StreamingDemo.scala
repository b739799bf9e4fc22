package graft.examples

import graft.GraftSession
import graft.streaming.EventsStream

/** Runnable end-to-end streaming example: AvailableNow micro-batch over the
  * events fixture → watermarked 1-hour windowed aggregation → memory sink,
  * top rows printed. Usage: runMain graft.examples.StreamingDemo [sfDir]
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.posture(4)
    spark.sparkContext.setLogLevel("ERROR")

    val windowed = EventsStream.windowedCounts(EventsStream.readEvents(spark, dir))
    EventsStream.runAvailableNow(windowed, "demo_windows", outputMode = "complete")
    val out = spark.table("demo_windows")
    println(s"=== streaming windowed agg: ${out.count()} (window x event_type) groups ===")
    out.orderBy("win", "event_type").show(8, truncate = false)
    spark.stop()
  }
}
