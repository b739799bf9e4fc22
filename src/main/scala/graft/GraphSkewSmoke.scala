package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Hub-skew smoke for the GraphOps aggregations (VERDICT r10 #1): proves by
  * MEASUREMENT that replacing the `array_sort(collect_list(...))` ordered
  * folds with [[graft.operators.GraphOps.quantizedSum]] removed the
  * hub-memory scale hazard — per-task peak execution memory must stay FLAT
  * when one aggregation group's message count grows 10×.
  *
  * Two adversarial graphs, each putting every message in ONE group:
  *  - pageRank: a star — the hub destination receives degree-D messages
  *    every iteration, so its rank-sum group holds D messages;
  *  - nodeSimilarity: a double star (u and v both adjacent to D shared
  *    spokes) under `maxCenterDegree` small enough to exclude u/v as
  *    centers — the single (u, v) pair group then holds exactly D
  *    RA-weight messages (min(deg_u, deg_v) shared centers, the bound the
  *    operator doc states).
  *
  * With the old fold, peak task memory grows ∝D (the group buffers a
  * D-struct array); with the decimal sum the aggregation state is one
  * 16-byte decimal per group, so peak is dominated by fixed hash-map /
  * shuffle machinery and the 10× run must land within 2× of the 1× run.
  * Prints one JSON line per run plus a summary with the pass flag; exits 3
  * on failure so the round script can gate on it.
  */
object GraphSkewSmoke {

  /** Max task peakExecutionMemory seen since registration — the one metric
    * WorkMetricsListener doesn't carry (a max, not a summable counter, so
    * interval deltas don't compose; each measured run registers a fresh
    * instance instead).
    */
  private final class PeakListener extends SparkListener {
    val peak = new AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) peak.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
    }
  }

  private def measure(spark: SparkSession)(body: => Long): (Long, Long, Double) = {
    val l = new PeakListener
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    val rows =
      try body
      finally ()
    val sec = (System.nanoTime() - t0) / 1e9
    org.apache.spark.graftbench.BusFlush.flush(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    SessionSweep.sweep(spark, blocking = true)
    (rows, l.peak.get(), sec)
  }

  def main(args: Array[String]): Unit = {
    val degrees = if (args.isEmpty) Seq(10000L, 100000L) else args.toSeq.map(_.toLong)
    val spark = GraftSession.posture(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // Experimental control: the TOTAL graph is held at n edges over the
    // same node id range in every run — only the hub's share D varies — so
    // joins, degree tables and shuffle volumes are constant and any peak
    // growth is attributable to the size of the one skewed aggregation
    // group. Nodes D..n form a chain so every node exists in every run.
    val n = degrees.max * 2
    def chain(from: Long) = spark.range(from, n)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))

    def run(op: String, d: Long): (Long, Long, Double) = op match {
      case "pagerank" =>
        // star into hub 0 — one destination group with D in-messages per
        // round — plus the constant-size chain remainder
        val pairs = spark.range(1, d + 1)
          .select(lit(0L).as("id_a"), col("id").as("id_b"))
          .union(chain(d))
        measure(spark) {
          graft.operators.GraphOps.pageRank(pairs, iters = 2).count()
        }
      case "nodesim" =>
        // double star: hubs -1 and -2 share spokes 1..D; the cap excludes
        // the hubs as centers, so the (-2, -1) pair group holds exactly D
        // RA messages while chain centers contribute size-1 groups
        val pairs = spark.range(1, d + 1)
          .select(lit(-1L).as("id_a"), col("id").as("id_b"))
          .union(spark.range(1, d + 1)
            .select(lit(-2L).as("id_a"), col("id").as("id_b")))
          .union(chain(d))
        measure(spark) {
          graft.operators.GraphOps
            .nodeSimilarity(pairs, maxCenterDegree = Some(3)).count()
        }
    }

    var pass = true
    val results = for (op <- Seq("pagerank", "nodesim")) yield {
      val runs = degrees.map { d =>
        val (rows, peak, sec) = run(op, d)
        println(f"""{"op":"$op","hub_degree":$d,"rows":$rows,"peak_task_exec_mem":$peak,"sec":$sec%.2f}""")
        (d, peak)
      }
      // flat = largest-degree peak within 2x of the smallest-degree peak
      // (plus a 32 MiB absolute floor: tiny peaks are hash-map granularity)
      val (d0, p0) = runs.head
      val (d1, p1) = runs.last
      val ok = p1 <= math.max(2L * p0, 32L << 20)
      if (!ok) pass = false
      f"""{"op":"$op","degree_growth":${d1.toDouble / d0}%.0f,"peak_ratio":${p1.toDouble / math.max(p0, 1L)}%.2f,"flat":$ok}"""
    }
    spark.stop()
    println(s"""{"mode":"graph_skew_smoke","checks":[${results.mkString(",")}],"pass":$pass}""")
    if (!pass) {
      System.err.println("[graph-skew-smoke] FAILED: per-task peak memory grew with hub degree")
      sys.exit(3)
    }
  }
}
