package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for its setup and its jobs. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: File,
                val tracer: Tracer, val corrupt: Boolean, val expectedFile: File) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** Outcome of one job: workload input rows it completed and whether its
  * output matched the expectation.
  */
final case class JobResult(rows: Long, ok: Boolean, detail: String = "")

/** One benchmark workload. `setup` generates the inputs from the seed,
  * builds whatever the jobs read, runs untimed warm-up jobs and records
  * the expected output. `job` runs one timed job and checks its output.
  */
trait Workload {
  /** Spark slots this workload leaves to itself (loopback servers use the rest). */
  def sparkCores(nproc: Int): Int = nproc
  def setup(ctx: Ctx): Unit
  /** Jobs of one pass over the workload's inputs: a run ends only between
    * passes, and a traced run traces every other pass.
    */
  def jobsPerPass: Int = 1
  def job(ctx: Ctx, i: Int): JobResult
  /** Per-layer metrics of one traced job, from its span tree. */
  def layerMetrics(ctx: Ctx, root: Span): Map[String, Double]
  /** Untimed measurement probes run after a traced job (outside its span). */
  def probes(ctx: Ctx): Map[String, Double] = Map.empty
  def close(): Unit = ()
}

object Workload {
  def apply(name: String): Workload = name match {
    case "cotrip_etl" => new CotripEtl
    case "corpus_curate" => new CorpusCurate
    case "ingest_screen" => new IngestScreen
    case "query_mix" => new QueryMix
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, artifact: File, cores: Int,
                        commit: String, stamp: String, corrupt: Boolean, expected: File)

  private def parse(argv: Array[String]): Args = {
    val m = mutable.HashMap.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i).stripPrefix("--")
      if (k == "corrupt-expectation") { m(k) = "true"; i += 1 }
      else { m(k) = argv(i + 1); i += 2 }
    }
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      new File(m("work")), new File(m("artifact")),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.getOrElse("commit", "unknown"),
      m.getOrElse("source-stamp", "unknown"), m.contains("corrupt-expectation"),
      new File(m.getOrElse("expected", "perfbench/expected/digests.txt")))
  }

  /** The session every workload runs on: the program's benchmark settings
    * (graft.Bench) at `cores` slots.
    */
  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "tmp").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Jobs every run completes, however long they take: a median needs a
    * few samples, and every kind of job at least two.
    */
  def minJobs(wl: Workload): Int = math.max(3, 2 * wl.jobsPerPass)

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def procStatusKb(key: String): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def loadavg(): String =
    scala.util.Try(new String(Files.readAllBytes(new File("/proc/loadavg").toPath),
      StandardCharsets.UTF_8).trim.split(" ").take(3).mkString(" ")).getOrElse("?")

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    }.getOrElse((0L, 0L))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).bigDecimal.toPlainString

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Runs the benchmark; any failure exits non-zero at once, so no
    * leftover thread can keep the JVM alive.
    */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(argv); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  private def run(argv: Array[String]): Unit = {
    val a = parse(argv)
    val loadStart = loadavg()
    val jiffiesStart = cpuJiffies()
    val wl = Workload(a.workload)
    val cores = math.max(1, wl.sparkCores(a.cores))
    val tracer = new Tracer(a.trace)

    // ---- setup, timed from JVM start --------------------------------------
    val t0 = System.nanoTime() - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val spark = session(cores, a.work)
    tracer.attach(spark)
    System.err.println(f"perfbench: session ready ${(System.nanoTime() - t0) / 1e9}%.2f s after JVM start")
    val ctx = new Ctx(spark, a.seed, a.work, tracer, a.corrupt, a.expected)
    wl.setup(ctx)
    val setupS = (System.nanoTime() - t0) / 1e9

    // ---- timed jobs: closed loop, one client ------------------------------
    final case class JobStat(wall: Double, cpu: Double, rows: Long, ok: Boolean, traced: Boolean)
    val stats = mutable.ArrayBuffer.empty[JobStat]
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    val coverage = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var i = 0
    while (stats.size < minJobs(wl) || System.nanoTime() < deadline ||
        (a.trace && stats.count(!_.traced) == 0) || i % wl.jobsPerPass != 0) {
      // traced runs alternate traced and untraced passes: the difference of
      // their median job walls is the tracing overhead
      val traced = a.trace && (i / wl.jobsPerPass) % 2 == 0
      val c0 = processCpuNs()
      val w0 = System.nanoTime()
      val res =
        try {
          if (traced) {
            tracer.job = i
            val r = tracer.span("job")(wl.job(ctx, i))
            tracer.job = -1
            r
          } else wl.job(ctx, i)
        } catch {
          case NonFatal(e) =>
            System.err.println(s"perfbench: job $i failed: $e")
            e.printStackTrace()
            tracer.job = -1
            JobResult(0L, ok = false, e.toString)
        }
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (processCpuNs() - c0) / 1e9
      if (!res.ok) System.err.println(s"perfbench: job $i output check failed: ${res.detail}")
      stats += JobStat(wall, cpu, res.rows, res.ok, traced)
      if (traced) {
        tracer.flush()
        val root = tracer.spans.filter(s => s.job == i && s.parent == -1).last
        val covered = tracer.children(root.id).map(_.seconds).sum
        coverage += covered / root.seconds
        layer += (engineMetrics(tracer, root, cores) ++ wl.layerMetrics(ctx, root) ++ wl.probes(ctx))
      }
      i += 1
    }
    val timedWall = stats.map(_.wall).sum
    val rssMb = procStatusKb("VmHWM") / 1024.0
    val loadEnd = loadavg()
    val jiffiesEnd = cpuJiffies()
    val stealFrac = (jiffiesEnd._1 - jiffiesStart._1).toDouble /
      math.max(1L, jiffiesEnd._2 - jiffiesStart._2)
    wl.close()
    ctx.spark.stop()

    val plain = stats.filterNot(_.traced)
    val attempted = stats.size
    val failed = stats.count(!_.ok)
    val e2e = Seq(
      ("setup_s", setupS, "s", 1),
      ("job_p50_s", median(plain.map(_.wall).toSeq), "s", plain.size),
      ("rows_per_s", plain.filter(_.ok).map(_.rows).sum / plain.map(_.wall).sum, "rows/s", plain.size),
      ("cpu_s_per_job", median(plain.map(_.cpu).toSeq), "s", plain.size),
      ("peak_rss_mb", rssMb, "MB", 1),
      ("failed_frac", failed.toDouble / attempted, "ratio", attempted))

    val tracedStats = stats.filter(_.traced)
    val perLayer: Seq[(String, Double, String)] =
      if (!a.trace) Nil
      else {
        val keys = layer.flatMap(_.keys).distinct.sorted
        keys.toSeq.map(k => (k, median(layer.flatMap(_.get(k)).toSeq), Units.of(k))) ++ Seq(
          ("trace.job_p50_s", median(tracedStats.map(_.wall).toSeq), "s"),
          ("trace.overhead_s",
            median(tracedStats.map(_.wall).toSeq) - median(plain.map(_.wall).toSeq), "s"),
          ("trace.coverage_min", coverage.min, "ratio"))
      }

    // ---- human-readable report, artifact, then the result line -----------
    println(s"workload ${a.workload} seed ${a.seed} trace ${if (a.trace) 1 else 0}: " +
      s"$attempted jobs attempted, $failed failed, ${plain.size} untraced, " +
      s"${tracedStats.size} traced, timed wall ${num(timedWall)} s, " +
      s"loadavg $loadStart -> $loadEnd, cpu steal ${num(stealFrac)}")
    e2e.foreach { case (n, v, u, k) => println(f"  $n%-16s ${num(v)}%s $u (samples=$k)") }
    perLayer.foreach { case (n, v, u) => println(f"  $n%-28s ${num(v)}%s $u") }

    val env = Seq(
      "commit" -> jstr(a.commit), "source_stamp" -> jstr(a.stamp),
      "nproc" -> a.cores.toString, "spark_master" -> jstr(s"local[$cores]"),
      "jvm_heap" -> jstr(ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
        .map(_.toString).filter(s => s.startsWith("-Xm")).mkString(" ")),
      "loadavg_start" -> jstr(loadStart), "loadavg_end" -> jstr(loadEnd),
      "cpu_steal_frac" -> num(stealFrac),
      "run_seconds" -> num(a.seconds))
    val artifact = new StringBuilder
    artifact ++= "{\n\"workload\": " + jstr(a.workload) + ", \"seed\": " + a.seed +
      ", \"trace\": " + a.trace + ",\n"
    artifact ++= "\"environment\": {" + env.map { case (k, v) => jstr(k) + ": " + v }.mkString(", ") + "},\n"
    artifact ++= "\"attempted\": " + attempted + ", \"failed\": " + failed + ",\n"
    artifact ++= "\"jobs\": [" + stats.map(s =>
      s"""{"wall_s":${num(s.wall)},"cpu_s":${num(s.cpu)},"rows":${s.rows},"ok":${s.ok},"traced":${s.traced}}""")
      .mkString(",\n  ") + "],\n"
    artifact ++= "\"end_to_end\": {" + e2e.map { case (n, v, u, k) =>
      s"""${jstr(n)}: {"value": ${num(v)}, "unit": ${jstr(u)}, "samples": $k}""" }.mkString(",\n  ") + "},\n"
    artifact ++= "\"per_layer\": {" + perLayer.map { case (n, v, u) =>
      s"""${jstr(n)}: {"value": ${num(v)}, "unit": ${jstr(u)}}""" }.mkString(",\n  ") + "},\n"
    artifact ++= "\"spans\": " + tracer.toJson + "\n}\n"
    a.artifact.getParentFile.mkdirs()
    Files.write(a.artifact.toPath, artifact.toString.getBytes(StandardCharsets.UTF_8))

    val reported: Seq[(String, Double, String)] =
      if (a.trace) perLayer.filter(p => Units.perLayerReported.contains(p._1))
      else e2e.filter(_._1 != "failed_frac").map { case (n, v, u, _) => (n, v, u) }
    val metrics = reported.map { case (n, v, u) =>
      s"""${jstr(n)}: {"value": ${num(v)}, "unit": ${jstr(u)}}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}""")
  }

  /** Engine counters of one traced job (all spans under its root). */
  private def engineMetrics(tracer: Tracer, root: Span, cores: Int): Map[String, Double] = {
    val c = tracer.inclusive(root.id)
    Map(
      "spark.tasks" -> c.tasks.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.width1_stages" -> c.width1Stages.toDouble,
      "spark.executor_run_s" -> c.runMs / 1e3,
      "spark.executor_cpu_s" -> c.cpuNs / 1e9,
      "spark.slot_idle_frac" -> (1.0 - (c.runMs / 1e3) / (root.seconds * cores)),
      "spark.shuffle_read_bytes" -> c.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> c.shuffleWrite.toDouble,
      "spark.spill_bytes" -> c.spill.toDouble,
      "spark.gc_s" -> c.gcMs / 1e3,
      "spark.task_failures" -> c.taskFailures.toDouble)
  }
}

/** Units of the per-layer metrics, by naming convention. */
object Units {
  /** The per-layer metrics every workload reports on its result line. */
  val perLayerReported: Set[String] = Set(
    "spark.tasks", "spark.stages", "spark.width1_stages", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.slot_idle_frac", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.gc_s", "spark.task_failures",
    "trace.job_p50_s", "trace.overhead_s", "trace.coverage_min")

  def of(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes") || name.endsWith("bytes_out") || name.endsWith("bytes_written")) "bytes"
    else if (name.endsWith("_frac") || name.endsWith("_ratio") || name.endsWith("precision") ||
      name.endsWith("fanout") || name.endsWith("_per_page") || name.endsWith("_per_post")) "ratio"
    else "count"
}
