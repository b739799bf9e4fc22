package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query at
  * `SPARK_GRAFT_SF_DIR` and emits machine-parseable JSON. It reports what
  * it measured in this run and reads nothing from earlier runs.
  *
  * TWO artifacts, on purpose (round 6's wrapper showed `parsed: null` — the
  * driver's log-scrape truncated the full telemetry line mid-JSON):
  *   - stdout: ONE line (headline totals + capped name lists + the rounded
  *     per-query `queries` map) printed as the program's LAST output.
  *     Values are 3-decimal-rounded; the non-query fields are spec-pinned
  *     < 1500 chars so the headline survives even an aggressive tail cut;
  *   - file (`SPARK_GRAFT_BENCH_OUT`, else `BENCH.json` in the cwd): the
  *     FULL artifact with every per-rep field. It is the only file a run
  *     writes.
  *
  * Each query is timed `SPARK_GRAFT_BENCH_REPS` times (default 2: the
  * first rep pays per-query JIT/codegen, the second is the warm measure)
  * and the MIN is reported; all raw timings ship in `"runs"`. See
  * [[ContrastOnly]] for the A/B-foil exclusion, recorded as `excluded`.
  *
  * == Trust model (round 7) ==
  * Rounds 5 and 6 both produced official artifacts whose wall times were
  * 10–20× inflated by host load; round 6 LABELED the contamination
  * (`contended: true`) but still REPORTED contaminated minima (g02: 32.4s
  * reported vs 1.55s on an idle judge replica). Round 7 makes trust
  * per-rep and the headline trusted:
  *   - Every rep carries two engine-independent load signals: a fixed-work
  *     single-thread spin probe timed right after the rep (`calibration_x`
  *     = probe / the run's learned probe floor ≈ host contention factor)
  *     and /proc/loadavg sampled at rep start, max-during-rep (200ms
  *     daemon sampler — end-of-rep-only sampling can miss transient
  *     mid-rep load), and rep end.
  *   - The probe floor is LEARNED across the run: every per-rep probe
  *     is a baseline sample (the spin work is constant), so the running
  *     minimum converges on the true quiet floor
  *     as soon as any instant of the run is quiet — a startup-only
  *     baseline measured during a contention window made plainly-contended
  *     reps read as trusted. Trust is judged at aggregation time against
  *     the final floor (`probe_floor_ms`).
  *   - A rep is TRUSTED ⟺ calibration_x ≤ 1.5 AND every loadavg sample
  *     ≤ 1.5 × effective threads, where effective threads =
  *     min(configured local[N], physical cores) — ADVICE r6: on a host
  *     with fewer cores than the configured thread count, the configured-N
  *     threshold was too permissive.
  *   - Per query (policy in [[judgeReps]], spec-pinned): if ANY successful
  *     rep is trusted, `trusted_min` = min over ALL successful reps —
  *     contention only ever inflates wall time, so a faster untrusted rep
  *     is never load-suspect and discarding it overstates cost (r7: s10
  *     raw 5.00s vs trusted 7.31s). If no rep is trusted, the query
  *     lands in `untrusted` and is EXCLUDED from `value_trusted` —
  *     listed, never silently summed. No query is re-run: a stricter
  *     ≤ 1.2× "clean" retry gate fired on the spin probe's own spread
  *     (274 of 529 reps on a quiet 4-core host), so it bought retry time,
  *     not quieter minima.
  *   - Headline: `value` = Σ raw per-query min, and `value_trusted` =
  *     Σ trusted_min over trusted queries, with `untrusted_n` making any
  *     exclusion visible at top level.
  * `contended: true` means the HEADLINE is contaminated — some query has no
  * trusted rep at all, so its reported minimum had no quiet-host chance
  * (`untrusted_n` > 0 ⟺ `contended`). Individual noisy reps do NOT set the
  * flag: at ~500 reps per full run, the hard 1.5× calibration cutoff trips
  * on a handful of JIT/GC outliers even on an idle host (r11: 4/558 reps at
  * 1.52–1.57× with loadavg ≈ 4 vs threshold 48), and those reps are already
  * excluded from `trusted_min` — flagging the whole artifact for them made
  * `contended` unconditionally true and therefore meaningless. The discarded
  * count ships as `noisy_reps_n`, and
  * `probe_baseline_ms` ships raw so a judge replica can cross-check the
  * baseline itself.
  *
  * == Load-independent work metrics (round 7) ==
  * Per rep, a [[WorkMetricsListener]] records shuffle-read/write bytes,
  * spilled bytes (memory + disk), and task count. These are invariant
  * under host load, so a PLAN regression — a new exchange, a lost
  * broadcast, a lost pushdown — is provable from the artifact even when
  * every wall time is thrashed (`WorkMetricsSpec` A/Bs a
  * broadcast-disabled join on exactly this principle). The listener bus is
  * drained before each snapshot (BusFlush), so deltas are
  * read-after-write consistent with the rep's own tasks. Comparing two
  * runs on these fields is offline work: `tools/bench_diff.py A.json
  * B.json`.
  *
  * `cpu_ms` caveat (learned round 5): process CPU is NOT load-proof — on a
  * contended host cache thrash inflates cycles-per-instruction 13–47×. It
  * distinguishes "JVM idle-waiting" from "JVM executing", nothing more.
  *
  * Streaming queries report `micro_batches` per rep — counted
  * SYNCHRONOUSLY by `runAvailableNow` from the terminated query's own
  * progress history (ADVICE r6: the previous async StreamingQueryListener
  * count could attribute a rep's last batches to the next rep). Their wall
  * time includes a per-micro-batch state-store commit floor (SCALE.md);
  * this field makes the fixed-vs-data cost split visible. Batch queries
  * report 0.
  *
  * `SPARK_GRAFT_BENCH_ONLY` (comma-separated query names) re-measures a
  * subset — dispute-resolution path for a suspicious number. Names that
  * match no query FAIL FAST with the unmatched list (ADVICE r6: a typo
  * used to yield a silently-partial artifact). The artifact then carries
  * `"filter"` and `"partial": true` so a filtered BENCH.json can never
  * masquerade as a full run.
  */
object Bench {
  /** One query's aggregated verdict over its reps. */
  final case class QueryVerdict(failed: Boolean, rawMin: Option[Double],
                                trustedMin: Option[Double])

  /** Direct-path A/B foils excluded from the per-round suite (VERDICT r17
    * #1): e42 exists only as e45's contrast — three sequential
    * AvailableNow stages re-deriving the corpus per run, the documented
    * anti-pattern its indexed twin removes — and its ~9 s × reps was the
    * suite's single largest line while the contrast itself is already
    * measured where it matters (ScaleSmoke's recipe legs, with ×10/×30
    * curves). Correctness still grades it every round (Verify runs ALL
    * queries); the bench lists the exclusion in the artifact
    * (`excluded`), measures each excluded foil ONCE per run in the
    * `contrast_lane` map (VERDICT r19 #6 — the artifact stays
    * registry-complete without the foil's floor-bound reps inflating the
    * suite), and naming it in `SPARK_GRAFT_BENCH_ONLY` measures it with
    * the full rep count on demand.
    */
  val ContrastOnly: Set[String] = Set("e42_stream_multimodal_recipe")

  /** Rep-aggregation policy, extracted so `BenchPolicySpec` can pin it.
    *
    * `failed`: a query fails iff any rep failed, or it has no rep.
    *
    * `trustedMin`: host contention only ever INFLATES a rep's wall time —
    * there is no mechanism by which load makes a query FASTER — so a rep
    * faster than every trusted rep cannot be load-contaminated, and
    * discarding it overstates cost (r7: s10_ivf_pq raw min 5.00s but
    * trusted 7.31s because its fastest rep was calibration-flagged).
    * Policy: if ANY successful rep is trusted the query's floor is
    * credible, and trustedMin = min over ALL successful reps; if none is
    * trusted even the min may be inflated, so None (the query lands in
    * `untrusted`). Invariant, spec-pinned: trustedMin ≤ min(runs) always.
    */
  def judgeReps(secs: Seq[Double], ok: Seq[Boolean],
                trusted: Seq[Boolean]): QueryVerdict = {
    val okSecs = secs.zip(ok).collect { case (s, true) => s }
    val failed = ok.exists(o => !o) || okSecs.isEmpty
    val rawMin = if (okSecs.isEmpty) None else Some(okSecs.min)
    val anyTrusted = ok.lazyZip(trusted).exists { case (o, t) => o && t }
    QueryVerdict(failed, rawMin, if (anyTrusted) rawMin else None)
  }

  /** Scrape-safe stdout summary. An earlier "compact" line overran a
    * ~2KB log-tail window and could not be parsed back. Name lists are
    * capped at `listCap` with an explicit
    * "+N more" marker, and the per-rep payload lives only in the `detail`
    * file. `BenchPolicySpec` pins the worst-case length of the non-query
    * fields (all queries untrusted AND failed) under 1500 chars.
    */
  def compactSummary(total: Double, totalTrusted: Double, queriesN: Int,
                     untrusted: Seq[String], failed: Seq[String], reps: Int,
                     contended: Boolean, sf: String, detail: String,
                     filterFields: String = "", listCap: Int = 10,
                     queries: Map[String, Double] = Map.empty): String = {
    def capped(names: Seq[String]): String = {
      val shown = names.take(listCap).map("\"" + _ + "\"")
      val more = names.size - listCap
      (if (more > 0) shown :+ s""""+$more more"""" else shown)
        .mkString("[", ",", "]")
    }
    // Per-query seconds ON the stdout line (optimization r21, VERDICT r20
    // #2): the driver's PERF comparison diffs a `queries` map from the
    // parsed line. Values are the same per-query minima as the detail
    // artifact's `queries` map, rounded to 3 decimals to bound the line;
    // the full-precision map still ships in `detail`.
    val queriesField =
      if (queries.isEmpty) ""
      else queries.toSeq.sortBy(_._1)
        .map { case (k, v) => f""""$k":$v%.3f""" }
        .mkString(""","queries":{""", ",", "}")
    f"""{"metric":"total","value":$total%.3f,"value_trusted":$totalTrusted%.3f,"unit":"sec"$queriesField,"queries_n":$queriesN,"untrusted_n":${untrusted.size},"untrusted":${capped(untrusted)},"errors":${capped(failed)},"reps":$reps,"contended":$contended,"sf":"$sf","detail":"$detail"$filterFields}"""
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }
  private def cpuMillis(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1000000L
      case _ => -1L
    }

  /** 1-minute load average from /proc/loadavg; -1.0 if unreadable. */
  private def loadAvg1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Daemon thread tracking the max 1-min loadavg seen while a rep runs —
    * the 1-min EMA lags, so transient contention can peak mid-rep and
    * subside before the end sample (ADVICE r6).
    */
  private final class LoadSampler {
    @volatile private var maxSeen = -1.0
    @volatile private var running = true
    private val t = new Thread(() => {
      while (running) {
        val l = loadAvg1()
        if (l > maxSeen) maxSeen = l
        try Thread.sleep(200) catch { case _: InterruptedException => () }
      }
    }, "bench-load-sampler")
    t.setDaemon(true)
    def start(): Unit = t.start()
    def stopAndMax(): Double = { running = false; t.interrupt(); maxSeen }
  }

  // JIT-elimination blackhole for the calibration probe.
  @volatile private var probeSink: Long = 0L

  /** Fixed-work single-thread spin: a constant number of xorshift64 steps.
    * Work is CONSTANT across reps and hosts, so wall time varies only with
    * the CPU share the host grants one thread — an engine-independent
    * contention gauge. ~60–120ms on an idle modern core.
    */
  private def probeMillis(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    val n = 60000000
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    probeSink = x
    (System.nanoTime() - t0) / 1e6
  }

  /** One rep's complete telemetry. `loads` = (start, max-during, end). */
  private final case class Rep(sec: Double, ok: Boolean, gcMs: Long,
                               cpuMs: Long, microBatches: Long,
                               loads: Seq[Double], probeMs: Double,
                               work: WorkSnapshot, leftRdds: Int,
                               leftBytes: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    // dispute-resolution filter: comma-list of query names; empty = all
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(SparkEntry.selectQueries(_, "[bench] SPARK_GRAFT_BENCH_ONLY"))
      .getOrElse(Set.empty)
    val cpus = GraftSession.envCpus
    val spark = GraftSession.posture(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val work = new WorkMetricsListener
    spark.sparkContext.addSparkListener(work)
    // Warm shared machinery (parquet reader, codegen compiler, udaf path,
    // shuffle) on sf0.001 so per-query timings measure the query, not
    // whichever query happens to run first paying global JIT warmup.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      try {
        SparkEntry.queries.get("q01_agg_pricing").foreach(_(spark, warmDir).count())
        SparkEntry.queries.get("s01_sim_topk_agg").foreach(_(spark, warmDir).count())
      } catch { case _: Throwable => () }
    }
    // ADVICE r6: threshold on the CPUs the host actually has, not the
    // configured thread count — local[32] on an 8-core box saturates at
    // loadavg ~32 while the work still contends 4× per core.
    val effThreads = math.min(cpus,
      Runtime.getRuntime.availableProcessors).toDouble
    val loadThreshold = 1.5 * effThreads
    // Quiet-host gate (VERDICT r10 #4): two rounds shipped a contended
    // headline while an uncontended run sat minutes away — the cheapest
    // fix is to WAIT, bounded, for the host to go quiet BEFORE measuring
    // (this also protects the probe baseline below, whose inflation under
    // startup contention masks calibration_x). loadavg is the one signal
    // available pre-baseline; the gate opens at 0.75 × effective threads
    // and gives up after SPARK_GRAFT_QUIET_WAIT_MAX seconds (default 120,
    // 0 disables) so a busy CI host delays the artifact, never blocks it.
    // `waited_quiet_sec` ships in the artifact either way.
    val quietMax = sys.env.getOrElse("SPARK_GRAFT_QUIET_WAIT_MAX", "120").toInt
    var waitedQuiet = 0
    while (waitedQuiet < quietMax && loadAvg1() > 0.75 * effThreads) {
      Thread.sleep(10000)
      waitedQuiet += 10
    }
    // Probe baseline: warm the probe's JIT, then min of several runs. The
    // floor keeps LEARNING from every per-rep probe (see the trust model);
    // trust reads the final one.
    (0 until 3).foreach(_ => probeMillis())
    val probeBaseline = (0 until 5).map(_ => probeMillis()).min
    var probeFloor = probeBaseline

    def oneRep(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Rep = {
      val gc0 = gcMillis(); val cpu0 = cpuMillis()
      val mb0 = graft.streaming.StreamTelemetry.microBatchesCompleted.get()
      val w0 = work.snapshot(spark.sparkContext)
      val load0 = loadAvg1()
      val sampler = new LoadSampler
      sampler.start()
      val t0 = System.nanoTime()
      // a failed query must NOT contribute a flattering time-to-failure:
      // the artifact carries an explicit error list instead
      val ok = try { fn(spark, sfDir).count(); true }
      catch { case _: Throwable => false }
      val sec = (System.nanoTime() - t0) / 1e9
      val loadMid = sampler.stopAndMax()
      val load1 = loadAvg1()
      val gc = gcMillis() - gc0
      val cpu = if (cpu0 < 0) -1L else cpuMillis() - cpu0
      val mb = graft.streaming.StreamTelemetry.microBatchesCompleted.get() - mb0
      // work snapshot drains the listener bus, AFTER the clock stops
      val w1 = work.snapshot(spark.sparkContext)
      val probe = probeMillis()
      if (probe < probeFloor) probeFloor = probe
      val (nRdds, bytes) = SessionSweep.storageFootprint(spark)
      // free persisted intermediates AFTER the clock stops — BOTH cache
      // layers (SQL catalog + RDD-level persists): queries are timed
      // including their own caching work but never pay for (or benefit
      // from) another query's leftovers. blocking=true so the drop
      // completes before the next clock starts.
      SessionSweep.sweep(spark, blocking = true)
      Rep(sec, ok, gc, cpu, mb, Seq(load0, loadMid, load1), probe,
        w1 - w0, nRdds, bytes)
    }

    def trusted(r: Rep): Boolean =
      (r.probeMs / probeFloor) <= 1.5 &&
        r.loads.forall(l => l < 0.0 || l <= loadThreshold)

    // contrast-only foils stay out of the default suite unless
    // SPARK_GRAFT_BENCH_ONLY names them
    val excluded =
      if (only.nonEmpty) Seq.empty[String] else ContrastOnly.toSeq.sorted
    val selected = SparkEntry.queries.filter { case (name, _) =>
      (if (only.isEmpty) !excluded.contains(name) else only.contains(name))
    }
    val allReps: Map[String, Seq[Rep]] = selected.map { case (name, fn) =>
      name -> (0 until reps).map(_ => oneRep(fn))
    }

    val verdicts: Map[String, QueryVerdict] = allReps.map { case (n, rs) =>
      n -> judgeReps(rs.map(_.sec), rs.map(_.ok), rs.map(trusted))
    }
    val failed = scala.collection.immutable.SortedSet.empty[String] ++
      verdicts.collect { case (n, v) if v.failed => n }
    val best: Map[String, Double] = verdicts.collect {
      case (n, v) if !v.failed => n -> v.rawMin.get
    }
    val trustedMin: Map[String, Double] = verdicts.collect {
      case (n, v) if !v.failed && v.trustedMin.isDefined => n -> v.trustedMin.get
    }
    val untrusted = (best.keySet -- trustedMin.keySet).toSeq.sorted
    val total = if (best.nonEmpty) best.values.sum else 0.0
    val totalTrusted = if (trustedMin.nonEmpty) trustedMin.values.sum else 0.0
    val noisyRepsN = allReps.values.map(_.count(r => !trusted(r))).sum
    val contended = untrusted.nonEmpty

    // Contrast lane (VERDICT r19 #6): the registry-complete answer to the
    // ContrastOnly exclusion — each excluded A/B foil is measured ONCE per
    // run in its own lane (one rep, reported separately, never summed into
    // any headline). The foils are floor-dominated by construction (e42 =
    // three sequential AvailableNow stages paying 3× the micro-batch
    // state-store spin-up), so min-of-reps buys nothing; one honest rep
    // keeps every registry query measured in every artifact while the
    // suite total keeps comparing real operators.
    val contrastLane: Map[String, Double] =
      excluded.flatMap(n => SparkEntry.queries.get(n).map { fn =>
        val r = oneRep(fn)
        n -> (if (r.ok) r.sec else -1.0)
      }).toMap

    // ---- JSON assembly (hand-rolled; no json lib on the classpath) ----
    def objD(m: Iterable[(String, Double)]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"\"$k\":${v}" }.mkString("{", ",", "}")
    def objRaw(m: Iterable[(String, String)]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    def arr[T](v: Seq[T]): String = v.mkString("[", ",", "]")
    def names(v: Seq[String]): String = arr(v.map("\"" + _ + "\""))
    def perRep[T](f: Rep => T): String =
      objRaw(allReps.view.mapValues(rs => arr(rs.map(f))).toSeq)
    def fmtX(v: Double): String = f"$v%.2f"

    val filterFields =
      if (only.isEmpty) "" else s""","filter":"${only.toSeq.sorted.mkString(",")}","partial":true"""
    val headline =
      s""""metric":"total","value":$total,"value_trusted":$totalTrusted,"unit":"sec"""" +
        s""","queries":${objD(best)},"trusted_min":${objD(trustedMin)}""" +
        s""","untrusted":${names(untrusted)},"untrusted_n":${untrusted.size},"excluded":${names(excluded)}""" +
        s""","errors":${names(failed.toSeq)},"reps":$reps,"contended":$contended,"noisy_reps_n":$noisyRepsN,"waited_quiet_sec":$waitedQuiet""" +
        s""","probe_floor_ms":${f"$probeFloor%.1f"},"contrast_lane":${objD(contrastLane)}""" +
        s""","sf":"$sfDir"$filterFields"""
    val fullLine = "{" + headline +
      s""","runs":${perRep(_.sec)}""" +
      s""","trusted_reps":${perRep(r => trusted(r))}""" +
      s""","gc_ms":${perRep(_.gcMs)}""" +
      s""","cpu_ms":${perRep(_.cpuMs)}""" +
      s""","micro_batches":${perRep(_.microBatches)}""" +
      s""","loadavg":${objRaw(allReps.view.mapValues(rs => arr(rs.flatMap(_.loads.map(fmtX)))).toSeq)}""" +
      s""","probe_ms":${perRep(r => f"${r.probeMs}%.1f")}""" +
      s""","probe_baseline_ms":${f"$probeBaseline%.1f"}""" +
      s""","calibration_x":${perRep(r => fmtX(r.probeMs / probeFloor))}""" +
      s""","load_threshold":${fmtX(loadThreshold)}""" +
      s""","shuffle_read_bytes":${perRep(_.work.shuffleReadBytes)}""" +
      s""","shuffle_write_bytes":${perRep(_.work.shuffleWriteBytes)}""" +
      s""","spill_mem_bytes":${perRep(_.work.spillMemBytes)}""" +
      s""","spill_disk_bytes":${perRep(_.work.spillDiskBytes)}""" +
      s""","tasks":${perRep(_.work.tasks)}""" +
      s""","persistent_rdds":${perRep(_.leftRdds)}""" +
      s""","storage_bytes":${perRep(_.leftBytes)}""" +
      "}"
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    val compactLine = compactSummary(total, totalTrusted, best.size,
      untrusted, failed.toSeq, reps, contended, sfDir, out,
      s""","probe_floor_ms":${f"$probeFloor%.1f"},"excluded_n":${excluded.size},"lane_n":${contrastLane.size}""" +
        filterFields,
      queries = best)
    try Files.writeString(Paths.get(out), fullLine + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    spark.stop()
    // compact line LAST, after spark.stop()'s own log noise, so the
    // driver's log-scrape finds it unbroken at the tail of stdout
    println(compactLine)
  }
}
