package graft

import org.apache.spark.sql.functions._

/** The bench's load-independent work metrics (VERDICT r6 Next #2): wall
  * time on a contended host measures the host, but shuffle bytes and task
  * counts measure the PLAN — so a lost broadcast is provable from the
  * artifact even when every wall time is thrashed. This spec A/Bs exactly
  * that: the same join with broadcast on vs off, asserting on the
  * shuffle-bytes delta and deliberately ignoring wall time.
  */
class WorkMetricsSpec extends SparkSpec {

  test("shuffle-bytes delta exposes a lost broadcast, wall time ignored") {
    val sc = spark.sparkContext
    val listener = new WorkMetricsListener
    sc.addSparkListener(listener)
    try {
      import spark.implicits._
      val big = spark.range(0, 200000)
        .select(($"id" % 1000).as("k"), $"id".as("v"))
      val dim = (0L until 1000L).map(k => (k, s"name-$k")).toDF("k", "name")

      def joinBytes(broadcastOn: Boolean): Long =
        GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" ->
            (if (broadcastOn) "10m" else "-1")) {
          val before = listener.snapshot(sc)
          big.join(dim, "k").agg(count(lit(1))).collect()
          val after = listener.snapshot(sc)
          val d = after - before
          assert(d.tasks > 0, "listener saw no tasks — bus not drained?")
          d.shuffleWriteBytes
        }

      val withBroadcast = joinBytes(broadcastOn = true)
      val withoutBroadcast = joinBytes(broadcastOn = false)
      // broadcast join: only the final single-row agg may exchange a few
      // bytes; sort-merge/shuffle-hash join: BOTH inputs shuffle in full
      assert(withoutBroadcast > withBroadcast * 10 || withBroadcast == 0,
        s"expected broadcast-off to shuffle >>10x more bytes " +
          s"(on=$withBroadcast off=$withoutBroadcast)")
      assert(withoutBroadcast > 100000,
        s"broadcast-off join should shuffle both inputs (~MBs), " +
          s"saw $withoutBroadcast bytes")
    } finally sc.removeSparkListener(listener)
  }

  test("snapshot deltas attribute work to the interval that did it") {
    val sc = spark.sparkContext
    val listener = new WorkMetricsListener
    sc.addSparkListener(listener)
    try {
      val s0 = listener.snapshot(sc)
      spark.range(0, 1000).groupBy((col("id") % 10).as("k")).count().collect()
      val s1 = listener.snapshot(sc)
      val idle = listener.snapshot(sc)
      val d = s1 - s0
      assert(d.tasks > 0)
      val dIdle = idle - s1
      assert(dIdle.tasks == 0 && dIdle.shuffleReadBytes == 0L,
        s"no Spark work ran between snapshots, but delta = $dIdle")
    } finally sc.removeSparkListener(listener)
  }
}
