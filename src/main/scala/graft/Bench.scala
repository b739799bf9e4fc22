package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query at
  * `SPARK_GRAFT_SF_DIR` and emits machine-parseable JSON.
  *
  * TWO artifacts, on purpose (round 6's wrapper showed `parsed: null` — the
  * driver's log-scrape truncated the full telemetry line mid-JSON):
  *   - stdout: ONE line (headline totals + capped name lists + the rounded
  *     per-query `queries` map) printed as the program's LAST output. The
  *     map was cut in r7 (the then-driver's ~2KB scrape window truncated
  *     ~8KB lines) and restored in r21 per VERDICT r20 #2: the driver's
  *     PERF comparison diffs per-query seconds from this line (`per_query`
  *     was empty all round 20), and the current driver demonstrably
  *     captures multi-KB tails. Values are 3-decimal-rounded; the
  *     non-query fields are spec-pinned < 1500 chars so the headline
  *     survives even an aggressive tail cut;
  *   - file (`SPARK_GRAFT_BENCH_OUT`, else `BENCH.json` in the cwd): the
  *     FULL artifact with every per-rep field. The file is the durable
  *     record; the stdout line is the scrape-safe summary of the same run.
  *
  * Each query is timed up to `reps` times (default 3) and the MIN is
  * reported; all raw timings ship in `"runs"`. Base rep counts are
  * ADAPTIVE per query (round 18, VERDICT r17 #1 — the 3-rep suite outgrew
  * the driver's window): see [[plannedReps]] for the policy and
  * [[ContrastOnly]] for the A/B-foil exclusion; `reps_planned` /
  * `excluded` in the artifact record both decisions per run.
  *
  * == Trust model (round 7) ==
  * Rounds 5 and 6 both produced official artifacts whose wall times were
  * 10–20× inflated by host load; round 6 LABELED the contamination
  * (`contended: true`) but still REPORTED contaminated minima (g02: 32.4s
  * reported vs 1.55s on an idle judge replica). Round 7 makes trust
  * per-rep and the headline trusted:
  *   - Every rep carries two engine-independent load signals: a fixed-work
  *     single-thread spin probe timed right after the rep (`calibration_x`
  *     = probe / startup-warm baseline ≈ host contention factor) and
  *     /proc/loadavg sampled at rep start, max-during-rep (200ms daemon
  *     sampler — ADVICE r6: end-of-rep-only sampling can miss transient
  *     mid-rep load), and rep end.
  *   - A rep is TRUSTED ⟺ calibration_x ≤ 1.5 AND every loadavg sample
  *     ≤ 1.5 × effective threads, where effective threads =
  *     min(configured local[N], physical cores) — ADVICE r6: on a host
  *     with fewer cores than the configured thread count, the configured-N
  *     threshold was too permissive.
  *   - Per query (policy in [[judgeReps]], spec-pinned): if ANY successful
  *     rep is trusted, `trusted_min` = min over ALL successful reps —
  *     contention only ever inflates wall time, so a faster untrusted rep
  *     is never load-suspect and discarding it overstates cost (r7: s10
  *     raw 5.00s vs trusted 7.31s). A query with no CLEAN rep (the
  *     stricter calibration_x ≤ 1.2 gate — VERDICT r9 #3: 1.2–1.5× reps
  *     stay trusted but carry the 10–50% noise that drifted r9's untouched
  *     anchors 1.1–1.8× with no code change) is re-run up to 2 extra
  *     times, stopping at the first clean rep; if no rep is even TRUSTED,
  *     the query lands in `untrusted` and is EXCLUDED from
  *     `value_trusted` — listed, never silently summed. `clean_reps`
  *     ships per rep so the artifact shows which minima had a quiet-host
  *     chance.
  *   - Headline: `value` = Σ raw per-query min (back-compat), and
  *     `value_trusted` = Σ trusted_min over trusted queries, with
  *     `untrusted_n` making any exclusion visible at top level.
  * `contended: true` means the HEADLINE is contaminated — some query has no
  * trusted rep at all, so its reported minimum had no quiet-host chance
  * (`untrusted_n` > 0 ⟺ `contended`). Individual noisy reps do NOT set the
  * flag: at ~560 reps per full run, the hard 1.5× calibration cutoff trips
  * on a handful of JIT/GC outliers even on an idle host (r11: 4/558 reps at
  * 1.52–1.57× with loadavg ≈ 4 vs threshold 48), and those reps are already
  * excluded from `trusted_min` — flagging the whole artifact for them made
  * `contended` unconditionally true and therefore meaningless. The discarded
  * count ships as `noisy_reps_n`, and
  * `probe_baseline_ms` ships raw so a judge replica can cross-check the
  * baseline itself.
  *
  * == Learned floor + history context (round 12, VERDICT r11 #1) ==
  * The r11 headline proved a startup-only baseline is gameable by the
  * host: its 16:06 run warmed up during a contention window, measured a
  * 212.9ms baseline on a ~127ms-floor host, and every subsequent rep's
  * calibration_x compared inflated probes against the inflated reference —
  * plainly-contended reps (cpu_ms 3-4×, s08 at 7.4× its own history)
  * shipped as "trusted, contended=false". Three fixes:
  *   - `calibration_x` now divides by the run's LEARNED floor: every
  *     per-rep probe is a baseline sample (the spin work is constant), so
  *     the running minimum converges on the true quiet floor as soon as
  *     any instant of the run is quiet. Trust is judged at aggregation
  *     time against the final floor (`probe_floor_ms` in the artifact).
  *   - `host_speed_x` = this run's floor / the best floor in the committed
  *     bench history: a ratio > 1 means the HOST ITSELF is slower than the
  *     one older snapshots ran on — r11's "fleet-wide ~1.2× drift" was
  *     exactly a 112→127ms floor move (1.13×), visible in history, not a
  *     plan regression. The field makes round-over-round comparisons
  *     host-normalizable from the artifacts alone.
  *   - History-anomaly retries: a query whose best rep exceeds 1.5× its
  *     own committed trusted floor (host-speed-adjusted) gets bounded
  *     extra reps, and queries still anomalous after retrying ship in
  *     `hist_anomalies` — the committed headline self-flags the r11-s08
  *     failure mode instead of needing a judge to diff history.
  *   - End-of-run anomaly RE-PASS (round 13, VERDICT r12 #2): inline
  *     retries re-measure the same busy window — r12 committed 15
  *     hist-anomalies (e29 at 2.6× its stable value) while a near-clean
  *     run existed. After the sweep, still-anomalous queries get a fresh
  *     bounded quiet-wait plus up to 2 extra reps each, temporally
  *     separated from the contention that inflated them; `repass_queries`
  *     / `repass_waited_sec` record the policy in the artifact.
  *
  * == Host-throughput normalization (round 19, VERDICT r18 #1) ==
  * The round-18 finding: two same-HEAD runs at IDENTICAL single-thread
  * probe floors (123.1/123.2 ms) landed 208.0 vs 257.4 s with
  * `contended:false` on both — co-tenant memory-bandwidth/throughput
  * steal inflates every query while leaving one thread's CPU share (and
  * so the spin probe and loadavg) untouched. Round 19 adds a PARALLEL
  * calibration probe per rep (fixed work across 32 threads, DRAM-bound in
  * aggregate — [[probeParallelMillis]]), a learned parallel floor, and:
  *   - per-rep `probe_par_ms` / `parallel_x` and a run-level
  *     `host_parallel_x` vs the committed parallel-floor history;
  *   - a host-normalized headline `value_normalized` = Σ per-query min of
  *     sec × parFloor/parProbe ([[normalizedSec]]), plus the
  *     `trusted_min_norm` map that future era floors read;
  *   - anomaly gates judged on NORMALIZED best reps against ERA-KEYED
  *     history floors ([[eraRef]], VERDICT r18 #6) — normalized entries
  *     preferred as they accumulate, global min × spin-speed adjustment
  *     as the fallback — so a host window no longer floods
  *     `hist_anomalies` while a genuine plan regression (query inflates,
  *     probe doesn't) still flags;
  *   - comparable totals vs the previous committed run
  *     (`total_common_prev` / `prev_total_common` over the shared query
  *     set — ADVICE r18: suite growth and exclusions change the raw
  *     total's denominator).
  *
  * Round 20 (VERDICT r19 #2) promotes `value_normalized` to the DECISION
  * headline: it leads the stdout line, anomaly chasing already runs
  * solely on normalized values, and the round-over-round comparison reads
  * from the normalized common-set totals (`total_common_prev_norm` /
  * `prev_total_common_norm`, the previous side falling back to raw for
  * pre-r19 history entries). Raw totals stay in the artifact for judging
  * the normalization itself, never for the round verdict.
  *
  * == Load-independent work metrics (round 7) ==
  * Per rep, a [[WorkMetricsListener]] records shuffle-read/write bytes,
  * spilled bytes (memory + disk), and task count. These are invariant
  * under host load, so a PLAN regression — a new exchange, a lost
  * broadcast, a lost pushdown — is provable from the artifact even when
  * every wall time is thrashed (`WorkMetricsSpec` A/Bs a
  * broadcast-disabled join on exactly this principle). The listener bus is
  * drained before each snapshot (BusFlush), so deltas are
  * read-after-write consistent with the rep's own tasks.
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
    * suite), and `SPARK_GRAFT_BENCH_FULL=1` or naming it in
    * `SPARK_GRAFT_BENCH_ONLY` re-measures it under full rep policy on
    * demand.
    */
  val ContrastOnly: Set[String] = Set("e42_stream_multimodal_recipe")

  /** Adaptive per-query rep plan (VERDICT r17 #1): the 3-rep 238-query
    * suite outgrew the driver's bench window (BENCH_r17 rc=124), and most
    * of those reps re-measure queries whose cost is already
    * well-established. Policy, from the query's committed history at this
    * sf (`raw` = trusted_min per run in file order; `norm` = the same
    * values divided by each run's host-speed ratio, so cross-round floor
    * drift doesn't read as instability):
    *   - fewer than 3 history runs → `defaultReps` (new queries get the
    *     full treatment);
    *   - recent host-normalized floors in agreement (last-3 spread of
    *     `norm` ≤ [[RepPlanBand]]) → 2 reps: the first rep pays per-query
    *     JIT/codegen (measured in round 18's first candidate: a COLD rep
    *     is ~2× the warm floor at the median — so a 1-rep tier, tried
    *     first, just relabeled the warm rep as a retry and converged
    *     slower), the second rep is the warm measure;
    *   - recent normalized floors in open disagreement (spread >
    *     [[RepPlanBand]]) → the full default: this is the genuine
    *     GC/state-store-variance tail where a pair demonstrably isn't
    *     enough (ADVICE r18: the norm series is now USED, implementing
    *     the documented value-based policy instead of a count-only one).
    *     The band is 2× because the committed history's single-thread
    *     normalization still carries the ±30% intra-day host-THROUGHPUT
    *     band (BENCH_NOTE_r18 §1) — a tighter band would re-measure host
    *     noise on ~60 queries per run; at 2× only the ~13 genuinely
    *     unstable ones pay a third base rep.
    * Every query keeps the full trust ladder — per-rep calibration, the
    * no-clean-rep retries, the (excess-gated, budgeted) history-anomaly
    * retries and re-pass — so fewer BASE reps never means an unchased
    * contaminated minimum. Never returns more than `defaultReps`.
    */
  def plannedReps(defaultReps: Int, raw: Seq[Double],
                  norm: Seq[Double]): Int =
    if (defaultReps <= 1 || raw.size < 3 || norm.size < 3) defaultReps
    else {
      val recent = norm.takeRight(3)
      val spread = recent.max / math.max(recent.min, 1e-9)
      if (spread <= RepPlanBand) math.min(2, defaultReps) else defaultReps
    }

  /** Normalized-floor agreement band for [[plannedReps]]. */
  val RepPlanBand = 2.0

  /** Host-era matching band for history floors (VERDICT r18 #6): two runs
    * are commensurable without a speed adjustment when their quiet
    * single-thread floors agree within ±5% — the committed history's
    * floor clusters (≈112 ms and ≈123 ms lineages) sit ~10% apart, so 5%
    * separates them while absorbing run-to-run probe jitter (<2%).
    */
  val EraBand = 0.05

  /** Host-normalized wall time (VERDICT r18 #1): the parallel throughput
    * probe after a rep measured the host granting `parProbeMs` for fixed
    * work whose quiet floor is `parFloorMs`, so work in that window ran
    * at ≈ parFloor/parProbe of quiet-host throughput and its
    * quiet-equivalent time is sec scaled DOWN by that ratio. This is the
    * signal the single-thread spin probe cannot see: co-tenant
    * memory-bandwidth/throughput steal inflates the parallel probe and
    * the query alike while leaving one thread's CPU share intact (the
    * r18 finding: two same-HEAD runs at identical spin floors, 1.24×
    * apart, `contended:false` on both). Never scales UP (a probe at the
    * floor leaves sec unchanged); raw values always ship alongside.
    */
  def normalizedSec(sec: Double, parProbeMs: Double, parFloorMs: Double): Double =
    if (parProbeMs > 0 && parFloorMs > 0 && parProbeMs > parFloorMs)
      sec * (parFloorMs / parProbeMs)
    else sec

  /** A query's normalized floor over its reps: best wall time ÷ the BEST
    * host ratio observed across the same reps — deliberately NOT a
    * per-rep pairing. Pairing each rep with its own probe lets a
    * transient probe-only spike (a GC hitting the 32-thread probe but
    * not the query — observed: a 2.3× probe next to a 1.19× rep) scale
    * that rep far below the true quiet floor, and min() then keeps the
    * artifact. Decoupled mins are robust both ways: a SUSTAINED co-tenant
    * window inflates every probe, so the min probe still carries the
    * correction (the r18 1.24× case); a transient spike is absorbed by
    * whichever rep's probe was quiet.
    */
  def normalizedMin(secs: Seq[Double], probes: Seq[Double],
                    parFloorMs: Double): Option[Double] =
    for (s <- secs.minOption; p <- probes.minOption)
      yield normalizedSec(s, p, parFloorMs)

  /** Era-keyed per-query history floor: the min over same-era runs (spin
    * floor within [[EraBand]] of this run's) of the query's NORMALIZED
    * trusted floor where the entry carries one (rounds ≥ 19), else its
    * raw floor. None when no same-era run knows the query — callers fall
    * back to the global min × host-speed adjustment (the pre-era gate).
    */
  def eraRef(name: String, runFloor: Double,
             hist: Seq[(Double, Map[String, Double], Map[String, Double])],
             band: Double = EraBand): Option[Double] = {
    val vals = hist.collect {
      case (fl, raw, norm)
        if !fl.isNaN && !runFloor.isNaN &&
          math.abs(fl / runFloor - 1.0) <= band =>
        norm.get(name).orElse(raw.get(name))
    }.flatten
    if (vals.nonEmpty) Some(vals.min) else None
  }

  /** History-anomaly chase gate (round 18): a query is worth EXTRA reps
    * only when its best rep is both RELATIVELY anomalous (> 1.5× its
    * committed floor, host-speed-adjusted — the r11 contamination signal)
    * and ABSOLUTELY material (> 0.5 s of excess). The first candidate run
    * of this round spent ~250 extra reps chasing sub-second queries whose
    * cold rep sat 2× above a 0.2 s floor — each chase recovered
    * milliseconds of headline accuracy at seconds of wall. Sub-threshold
    * anomalies ship listed (`hist_anomalies` still self-flags), never
    * silently summed away.
    */
  def worthChasing(bestSec: Double, histFloor: Double,
                   speedAdj: Double): Boolean = {
    val ref = histFloor * speedAdj
    bestSec > 1.5 * ref && bestSec - ref > 0.5
  }

  /** Rep-aggregation policy, extracted so `BenchPolicySpec` can pin it.
    *
    * `failed`: a query fails iff a BASE rep (the first `baseReps`) failed,
    * or no rep succeeded at all. A transient failure on a trust-RETRY rep
    * must not discard successful base reps (ADVICE r7): retries exist to
    * chase an uncontended timing, not to re-test correctness.
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
  def judgeReps(secs: Seq[Double], ok: Seq[Boolean], trusted: Seq[Boolean],
                baseReps: Int): QueryVerdict = {
    val okSecs = secs.zip(ok).collect { case (s, true) => s }
    val failed = ok.take(baseReps).exists(o => !o) || okSecs.isEmpty
    val rawMin = if (okSecs.isEmpty) None else Some(okSecs.min)
    val anyTrusted = ok.lazyZip(trusted).exists { case (o, t) => o && t }
    QueryVerdict(failed, rawMin, if (anyTrusted) rawMin else None)
  }

  /** Scrape-safe stdout summary — NO per-query maps. ADVICE r7: the
    * previous "compact" line still carried two ~122-entry maps (~8KB) and
    * overran the driver's ~2KB log-tail window two rounds running
    * (`parsed: null`). This line is headline-only; name lists are capped at
    * `listCap` with an explicit "+N more" marker; the full per-query /
    * per-rep payload lives only in the `detail` file. `BenchPolicySpec`
    * pins the worst-case length (all queries untrusted AND failed) under
    * 1500 chars.
    */
  def compactSummary(total: Double, totalTrusted: Double, queriesN: Int,
                     untrusted: Seq[String], failed: Seq[String], reps: Int,
                     contended: Boolean, sf: String, detail: String,
                     filterFields: String = "", listCap: Int = 10,
                     totalNorm: Double = Double.NaN,
                     queries: Map[String, Double] = Map.empty): String = {
    def capped(names: Seq[String]): String = {
      val shown = names.take(listCap).map("\"" + _ + "\"")
      val more = names.size - listCap
      (if (more > 0) shown :+ s""""+$more more"""" else shown)
        .mkString("[", ",", "]")
    }
    // value_normalized leads (VERDICT r19 #2): the host-normalized total is
    // the DECISION headline — the raw total follows for back-compat and for
    // judging the normalization itself
    val normField =
      if (totalNorm.isNaN) "" else f""""value_normalized":$totalNorm%.3f,"""
    // Per-query seconds ON the stdout line (optimization r21, VERDICT r20
    // #2): the driver's PERF comparison diffs a `queries` map from the
    // parsed line — r20 shipped totals-only (`per_query: {}`) because this
    // line omitted it (the r7-era ~2KB scrape window forced the cut; the
    // r20 driver demonstrably captures multi-KB tails and its verdict
    // explicitly asks for per-query seconds in the one-line JSON). Values
    // are the same per-query minima as the detail artifact's `queries`
    // map, rounded to 3 decimals to bound the line; all pre-existing
    // fields are unchanged and the full-precision map still ships in
    // `detail`.
    val queriesField =
      if (queries.isEmpty) ""
      else queries.toSeq.sortBy(_._1)
        .map { case (k, v) => f""""$k":$v%.3f""" }
        .mkString(""","queries":{""", ",", "}")
    f"""{"metric":"total",$normField"value":$total%.3f,"value_trusted":$totalTrusted%.3f,"unit":"sec"$queriesField,"queries_n":$queriesN,"untrusted_n":${untrusted.size},"untrusted":${capped(untrusted)},"errors":${capped(failed)},"reps":$reps,"contended":$contended,"sf":"$sf","detail":"$detail"$filterFields}"""
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

  /** Parallel-probe shape: 32 threads (the workload's own local[32]
    * shape) × a private 8 MB long array × 24 sequential passes ≈ 6 GB of
    * cacheline traffic per call — the 256 MB working set exceeds even a
    * large server L3, so the aggregate is DRAM-bound; ~40–80 ms on an
    * idle host. The probe must be LONG relative to thread-wake jitter
    * (~1 ms): a first 4 MB × 16 cut floored at ~13 ms on this host and
    * its ±10% scheduling noise leaked straight into the normalized
    * minima as downward bias. Fixed work, so wall varies only with the
    * AGGREGATE compute+bandwidth the host grants — the co-tenant
    * throughput steal the single-thread spin probe is blind to (VERDICT
    * r18 #1). Arrays and pool are allocated once (256 MB held for the
    * run) so a probe call is pure measurement.
    */
  private val ParProbeThreads = 32
  private val ParProbePasses = 24
  /** Probe-shape version, stamped into the artifact: parallel floors are
    * only comparable across runs that measured the SAME fixed work, so
    * `histParFloor` filters history on it. Bump when threads / array
    * size / passes change.
    */
  private val ParProbeVer = 2
  private lazy val parProbePool =
    java.util.concurrent.Executors.newFixedThreadPool(ParProbeThreads,
      (r: Runnable) => {
        val t = new Thread(r, "bench-par-probe"); t.setDaemon(true); t
      })
  private lazy val parProbeArrays: Array[Array[Long]] = {
    var x = 0x9e3779b97f4a7c15L
    Array.fill(ParProbeThreads) {
      val a = new Array[Long](1048576) // 8 MB
      var i = 0
      while (i < a.length) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1
      }
      a
    }
  }
  private def probeParallelMillis(): Double = {
    val latch = new java.util.concurrent.CountDownLatch(ParProbeThreads)
    val t0 = System.nanoTime()
    var ti = 0
    while (ti < ParProbeThreads) {
      val a = parProbeArrays(ti)
      parProbePool.execute { () =>
        var s = 0L
        var pass = 0
        while (pass < ParProbePasses) {
          var i = 0
          while (i < a.length) { s += a(i); i += 8 } // one read per cacheline
          pass += 1
        }
        probeSink = s
        latch.countDown()
      }
      ti += 1
    }
    latch.await()
    (System.nanoTime() - t0) / 1e6
  }

  /** One rep's complete telemetry. `loads` = (start, max-during, end). */
  private final case class Rep(sec: Double, ok: Boolean, gcMs: Long,
                               cpuMs: Long, microBatches: Long,
                               loads: Seq[Double], probeMs: Double,
                               parMs: Double,
                               work: WorkSnapshot, leftRdds: Int,
                               leftBytes: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
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
    // Probe baseline: warm the probe's JIT, then min of several runs. On an
    // idle host this is the idle floor; if startup itself is contended the
    // baseline inflates (masking calibration_x), which the absolute
    // probe_baseline_ms + loadavg fields expose instead.
    (0 until 3).foreach(_ => probeMillis())
    val probeBaseline = (0 until 5).map(_ => probeMillis()).min
    // Parallel-probe baseline (VERDICT r18 #1): same warm-then-min shape;
    // the floor keeps LEARNING per rep like the spin probe's.
    (0 until 2).foreach(_ => probeParallelMillis())
    val parBaseline = (0 until 3).map(_ => probeParallelMillis()).min
    // r12 (VERDICT r11 #1): the r11 headline shipped on a 212.9ms startup
    // baseline when the host's true quiet floor was ~127ms — startup
    // contention inflated the BASELINE, so per-rep calibration compared
    // inflated probes against an inflated reference and plainly-contended
    // reps (cpu_ms 3-4x, s08 at 7.4x wall) read as trusted. The floor is
    // now LEARNED across the run: every per-rep probe is itself a baseline
    // sample (the work is constant), so the running minimum converges on
    // the true quiet floor the moment ANY instant of the run is quiet
    // (bench_history: min-probe 107-128ms across 24 runs while startup
    // baselines ranged to 212.9). Trust is judged at aggregation time
    // against the FINAL floor; the retry gate reads the current floor.
    var probeFloor = probeBaseline
    var parFloor = parBaseline
    // Cross-run context from the committed history: the best floor this
    // host lineage has shown (host_speed_x > 1 = this run's host is
    // slower — the r11 "fleet-wide ~1.2x drift" was exactly a 112→127ms
    // floor move), and per-query trusted minima at the same sf for
    // anomaly-triggered retries (s08 at 3.84s vs a 0.5-0.8s history
    // should chase more reps, not ship).
    val histLines: Vector[String] =
      try {
        val src = scala.io.Source.fromFile("bench/bench_history.jsonl")
        try src.getLines().toVector finally src.close()
      } catch { case _: Throwable => Vector.empty }
    val histFloor: Double = {
      val floors = histLines.flatMap { l =>
        "\"probe_floor_ms\":([0-9.]+)".r.findFirstMatchIn(l)
          .orElse("\"probe_baseline_ms\":([0-9.]+)".r.findFirstMatchIn(l))
          .map(_.group(1).toDouble)
      }
      if (floors.nonEmpty) floors.min else Double.NaN
    }
    // Per-run (floor, trusted_min map, trusted_min_norm map) at this sf,
    // in file = chronological order — feeds the anomaly floor (era-keyed
    // min per query, normalized entries preferred), the adaptive rep plan
    // (recent values + host-normalized band), and the comparable-total
    // field (ADVICE r18: cross-round totals need a shared query set).
    val histRuns: Vector[(Double, Map[String, Double], Map[String, Double])] = {
      val pairRe = "\"([^\"]+)\":([0-9.eE+-]+)".r
      def mapField(l: String, field: String): Map[String, Double] =
        ("\"" + field + "\":\\{([^}]*)\\}").r.findFirstMatchIn(l)
          .map(m => pairRe.findAllMatchIn(m.group(1))
            .map(mm => mm.group(1) -> mm.group(2).toDouble).toMap)
          .getOrElse(Map.empty)
      histLines
        .filter(l => "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(l)
          .exists(_.group(1) == sfDir))
        .flatMap { l =>
          val tm = mapField(l, "trusted_min")
          if (tm.isEmpty) None
          else {
            val floor = "\"probe_floor_ms\":([0-9.]+)".r.findFirstMatchIn(l)
              .orElse(
                "\"probe_baseline_ms\":([0-9.]+)".r.findFirstMatchIn(l))
              .map(_.group(1).toDouble).getOrElse(Double.NaN)
            Some((floor, tm, mapField(l, "trusted_min_norm")))
          }
        }
    }
    // best committed PARALLEL floor — host_parallel_x context (null until
    // the first round-19+ artifact lands in history)
    val histParFloor: Double = {
      val floors = histLines
        .filter(_.contains(s""""par_probe_ver":$ParProbeVer"""))
        .flatMap(l => "\"probe_par_floor_ms\":([0-9.]+)".r.findFirstMatchIn(l)
          .map(_.group(1).toDouble))
      if (floors.nonEmpty) floors.min else Double.NaN
    }
    val histMins: Map[String, Double] =
      histRuns.flatMap(_._2).groupMapReduce(_._1)(_._2)(math.min)
    // raw and host-normalized per-query history series for plannedReps
    val histRaw: Map[String, Vector[Double]] = histRuns.flatMap(_._2)
      .groupMap(_._1)(_._2).view.mapValues(_.toVector).toMap
    val histNorm: Map[String, Vector[Double]] = {
      val base = if (histFloor.isNaN) Double.NaN else histFloor
      histRuns.flatMap { case (fl, m, norm) =>
        val adj = if (fl.isNaN || base.isNaN) 1.0 else math.max(1.0, fl / base)
        // prefer the run's own parallel-probe-normalized value (rounds
        // ≥ 19) over the spin-floor approximation — the band decision
        // sharpens as normalized history accumulates
        m.view.map { case (k, v) => k -> norm.getOrElse(k, v / adj) }.toSeq
      }.groupMap(_._1)(_._2).view.mapValues(_.toVector).toMap
    }

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
      // parallel probe LAST (after the blocking sweep) and min-of-2: a
      // 32-thread probe is sensitive to the rep's own residual engine
      // activity (stream cleanup, unpersist threads), which is transient
      // and hits at most one of the pair — sustained CO-TENANT throughput
      // steal, the thing being measured, hits both
      val par = math.min(probeParallelMillis(), probeParallelMillis())
      if (par < parFloor) parFloor = par
      Rep(sec, ok, gc, cpu, mb, Seq(load0, loadMid, load1), probe, par,
        w1 - w0, nRdds, bytes)
    }

    def trusted(r: Rep): Boolean =
      (r.probeMs / probeFloor) <= 1.5 &&
        r.loads.forall(l => l < 0.0 || l <= loadThreshold)
    // CLEAN is the stricter retry gate (VERDICT r9 #3): reps between 1.2×
    // and 1.5× calibration stay trusted (excluding them would overstate
    // cost — contention only inflates), but they carry 10–50% noise that
    // made r9's untouched anchors drift 1.1–1.8× round-over-round. A query
    // none of whose reps ran on a quiet host (≤1.2× probe) gets the bounded
    // re-runs, so the reported min has had a real chance at an uncontended
    // rep instead of settling for a merely-not-thrashed one.
    def clean(r: Rep): Boolean =
      (r.probeMs / probeFloor) <= 1.2 &&
        r.loads.forall(l => l < 0.0 || l <= loadThreshold)

    // contrast-only foils stay out of the per-round suite unless the run
    // asks for them (BENCH_ONLY by name, or BENCH_FULL=1)
    val benchFull = sys.env.get("SPARK_GRAFT_BENCH_FULL").contains("1")
    val excluded =
      if (only.nonEmpty || benchFull) Seq.empty[String]
      else ContrastOnly.toSeq.sorted
    val selected = SparkEntry.queries.filter { case (name, _) =>
      (if (only.isEmpty) !excluded.contains(name) else only.contains(name))
    }
    val repPlan: Map[String, Int] = selected.keysIterator.map { name =>
      name -> plannedReps(reps,
        histRaw.getOrElse(name, Vector.empty),
        histNorm.getOrElse(name, Vector.empty))
    }.toMap
    val maxRetries = 2
    val histAnomalies = scala.collection.mutable.SortedSet.empty[String]
    // Anomaly machinery (VERDICT r18 #1/#6): judged on HOST-NORMALIZED
    // best reps against an ERA-KEYED history floor. Normalization divides
    // out the co-tenant throughput steal the spin probe can't see (both
    // the query and the parallel probe inflate together), so a host
    // window no longer floods `hist_anomalies` (r18 official run: 81
    // self-flags, mostly era drift); a genuine plan regression inflates
    // the query but NOT the probe, so it still flags. The era floor
    // prefers normalized history entries as they accumulate; queries
    // unknown to the era fall back to the global min × spin-speed
    // adjustment (the pre-r19 gate, never weaker).
    def bestNormOf(rs: Seq[Rep]): Option[Double] = {
      val ok = rs.filter(_.ok)
      normalizedMin(ok.map(_.sec), ok.map(_.parMs), parFloor)
    }
    def refOf(name: String): Option[Double] = {
      val sAdj =
        if (histFloor.isNaN) 1.0 else math.max(1.0, probeFloor / histFloor)
      eraRef(name, probeFloor, histRuns)
        .orElse(histMins.get(name).map(_ * sAdj))
    }
    val allReps: Map[String, Seq[Rep]] = selected.map { case (name, fn) =>
      var rs = (0 until repPlan(name)).map(_ => oneRep(fn)).toVector
      // a query with no CLEAN rep gets bounded re-runs: a contaminated min
      // is WORSE than a late one (r6: g02 reported 21× its real cost).
      // Failures are never load-related — don't retry them.
      var extra = 0
      while (rs.forall(_.ok) && !rs.exists(clean) && extra < maxRetries) {
        rs = rs :+ oneRep(fn)
        extra += 1
      }
      // History-anomaly retries (VERDICT r11 #1): a best rep far above the
      // query's own committed trusted floor — normalized by the host-speed
      // ratio so a genuinely slower host doesn't chase an unreachable
      // number — is contention the calibration gate missed (r11's s08:
      // 3.84s vs a 0.51-0.84s history, all reps "trusted"). Chase it with
      // bounded extra reps — ONE inline (round 18: the first adaptive-rep
      // candidate spent ~250 extra reps converging cold sub-second queries
      // at seconds of wall per millisecond of accuracy; the temporally
      // separated re-pass below is the better second chance) and only when
      // the excess is material ([[worthChasing]]); the artifact lists the
      // queries that stayed anomalous so the committed headline is
      // self-flagging.
      def chase = refOf(name).exists(h =>
        bestNormOf(rs).exists(worthChasing(_, h, 1.0)))
      if (rs.forall(_.ok) && chase) rs = rs :+ oneRep(fn)
      name -> (rs: Seq[Rep])
    }

    // End-of-run anomaly RE-PASS (VERDICT r12 #2): the inline retries above
    // run inside the same contention window that inflated the base reps —
    // r12's committed headline shipped 15 hist-anomalies (e29 at 2.6× its
    // own stable value) while a near-clean run existed, because "retry
    // immediately" re-measures the same busy host. Queries still anomalous
    // after the whole sweep get ONE more chance, temporally separated: a
    // fresh bounded quiet-wait, then extra reps appended per query. The
    // learned probe floor (and thus speedAdj) is at its best by now, so the
    // anomaly test here is the run's most accurate. The artifact records
    // the re-pass (`repass_*` fields) so the policy is visible in the
    // committed headline, not just in this comment.
    def isAnomalous(name: String, rs: Seq[Rep]): Boolean =
      refOf(name).exists(h => bestNormOf(rs).exists(_ > 1.5 * h))
    def excess(name: String, rs: Seq[Rep]): Double =
      refOf(name).flatMap(h => bestNormOf(rs).map(_ - h)).getOrElse(0.0)
    def chaseworthy(name: String, rs: Seq[Rep]): Boolean =
      refOf(name).exists(h => bestNormOf(rs).exists(worthChasing(_, h, 1.0)))
    // The re-pass pool is BUDGETED (round 18): the first adaptive-rep
    // candidate re-passed 36 queries × up to 2 reps — on a slow host that
    // alone is minutes. Chase only the materially anomalous, largest
    // absolute excess first, one rep each, at most `repassCap` queries;
    // what stays anomalous ships listed.
    val repassCap = 12
    val repassQueries = allReps.collect {
      case (n, rs) if rs.forall(_.ok) && chaseworthy(n, rs) => n
    }.toSeq.sortBy(n => -excess(n, allReps(n))).take(repassCap).sorted
    var repassWaited = 0
    val finalReps: Map[String, Seq[Rep]] =
      if (repassQueries.isEmpty) allReps
      else {
        while (repassWaited < quietMax && loadAvg1() > 0.75 * effThreads) {
          Thread.sleep(10000)
          repassWaited += 10
        }
        allReps.map { case (n, rs) =>
          if (!repassQueries.contains(n)) n -> rs
          else if (chaseworthy(n, rs)) n -> (rs :+ oneRep(SparkEntry.queries(n)))
          else n -> rs
        }
      }
    histAnomalies.clear()
    finalReps.foreach { case (n, rs) =>
      if (rs.forall(_.ok) && isAnomalous(n, rs)) histAnomalies += n
    }

    val verdicts: Map[String, QueryVerdict] = finalReps.map { case (n, rs) =>
      n -> judgeReps(rs.map(_.sec), rs.map(_.ok), rs.map(trusted), repPlan(n))
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
    // host-normalized analogs (VERDICT r18 #1): per-query best over
    // normalized rep times, the normalized headline, and the normalized
    // trusted map that future runs' era floors read from history
    val bestNorm: Map[String, Double] = finalReps.collect {
      case (n, rs) if !verdicts(n).failed => n -> bestNormOf(rs).get
    }
    val trustedMinNorm: Map[String, Double] =
      bestNorm.filter { case (n, _) => trustedMin.contains(n) }
    val totalNorm = if (bestNorm.nonEmpty) bestNorm.values.sum else 0.0
    // comparable-total (ADVICE r18): this run vs the LAST committed run
    // over their shared query set, so cross-round totals stay
    // apples-to-apples when the suite grows or an exclusion changes the
    // denominator
    // ... skipping partial (filtered dispute re-measure) entries, whose
    // 2-3-query maps would collapse the intersection to nothing
    val (prevRun: Map[String, Double], prevRunNorm: Map[String, Double]) = {
      val pairRe = "\"([^\"]+)\":([0-9.eE+-]+)".r
      def mapField(l: String, field: String): Map[String, Double] =
        ("\"" + field + "\":\\{([^}]*)\\}").r.findFirstMatchIn(l)
          .map(m => pairRe.findAllMatchIn(m.group(1))
            .map(mm => mm.group(1) -> mm.group(2).toDouble).toMap)
          .getOrElse(Map.empty)
      histLines
        .filter(l => "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(l)
          .exists(_.group(1) == sfDir) && !l.contains("\"partial\":true"))
        .lastOption
        .map(l => (mapField(l, "trusted_min"), mapField(l, "trusted_min_norm")))
        .getOrElse((Map.empty[String, Double], Map.empty[String, Double]))
    }
    val commonPrev = best.keySet.intersect(prevRun.keySet)
    val totalCommonPrev = commonPrev.toSeq.map(best).sum
    val prevTotalCommon = commonPrev.toSeq.map(prevRun).sum
    // NORMALIZED common-set totals (VERDICT r19 #2): the round-over-round
    // decision numbers — same query set, both sides host-normalized (the
    // previous side falls back to raw where a pre-r19 entry has no norm)
    val totalCommonPrevNorm = commonPrev.toSeq.flatMap(bestNorm.get).sum
    val prevTotalCommonNorm =
      commonPrev.toSeq.map(n => prevRunNorm.getOrElse(n, prevRun(n))).sum
    val noisyRepsN = finalReps.values.map(_.count(r => !trusted(r))).sum
    val contended = untrusted.nonEmpty

    // Contrast lane (VERDICT r19 #6): the registry-complete answer to the
    // ContrastOnly exclusion — each excluded A/B foil is measured ONCE per
    // run in its own lane (one rep, reported separately, never summed into
    // any headline). The foils are floor-dominated by construction (e42 =
    // three sequential AvailableNow stages paying 3× the micro-batch
    // state-store spin-up), so min-of-reps buys nothing; one honest rep
    // keeps every registry query measured in every committed artifact
    // while the suite total keeps comparing real operators.
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
    def perRep[T](f: Rep => T): String =
      objRaw(finalReps.view.mapValues(rs => arr(rs.map(f))).toSeq)
    def fmtX(v: Double): String = f"$v%.2f"

    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val untrustedJson = untrusted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val filterFields =
      if (only.isEmpty) "" else s""","filter":"${only.toSeq.sorted.mkString(",")}","partial":true"""
    val histAnomalyJson =
      histAnomalies.toSeq.map("\"" + _ + "\"").mkString("[", ",", "]")
    val hostSpeedX =
      if (histFloor.isNaN) "null" else f"${probeFloor / histFloor}%.3f"
    val hostParallelX =
      if (histParFloor.isNaN) "null" else f"${parFloor / histParFloor}%.3f"
    val repsPlannedJson = objRaw(repPlan.view.mapValues(_.toString).toSeq)
    val excludedJson = excluded.map("\"" + _ + "\"").mkString("[", ",", "]")
    val headline =
      s""""metric":"total","value":$total,"value_trusted":$totalTrusted,"value_normalized":$totalNorm,"unit":"sec"""" +
        s""","queries":${objD(best)},"trusted_min":${objD(trustedMin)},"trusted_min_norm":${objD(trustedMinNorm)}""" +
        s""","untrusted":$untrustedJson,"untrusted_n":${untrusted.size}""" +
        s""","reps_planned":$repsPlannedJson,"excluded":$excludedJson""" +
        s""","errors":$errs,"reps":$reps,"contended":$contended,"noisy_reps_n":$noisyRepsN,"waited_quiet_sec":$waitedQuiet""" +
        s""","probe_floor_ms":${f"$probeFloor%.1f"},"host_floor_hist_ms":${if (histFloor.isNaN) "null" else f"$histFloor%.1f"}""" +
        s""","probe_par_floor_ms":${f"$parFloor%.1f"},"par_probe_ver":$ParProbeVer,"par_floor_hist_ms":${if (histParFloor.isNaN) "null" else f"$histParFloor%.1f"}""" +
        s""","host_speed_x":$hostSpeedX,"host_parallel_x":$hostParallelX,"hist_anomalies":$histAnomalyJson""" +
        s""","common_n":${commonPrev.size},"total_common_prev":${f"$totalCommonPrev%.3f"},"prev_total_common":${f"$prevTotalCommon%.3f"}""" +
        s""","total_common_prev_norm":${f"$totalCommonPrevNorm%.3f"},"prev_total_common_norm":${f"$prevTotalCommonNorm%.3f"}""" +
        s""","contrast_lane":${objD(contrastLane)}""" +
        s""","repass_queries":${repassQueries.map("\"" + _ + "\"").mkString("[", ",", "]")},"repass_waited_sec":$repassWaited""" +
        s""","sf":"$sfDir"$filterFields"""
    val fullLine = "{" + headline +
      s""","runs":${perRep(_.sec)}""" +
      s""","trusted_reps":${perRep(r => trusted(r))}""" +
      s""","clean_reps":${perRep(r => clean(r))}""" +
      s""","gc_ms":${perRep(_.gcMs)}""" +
      s""","cpu_ms":${perRep(_.cpuMs)}""" +
      s""","micro_batches":${perRep(_.microBatches)}""" +
      s""","loadavg":${objRaw(finalReps.view.mapValues(rs => arr(rs.flatMap(_.loads.map(fmtX)))).toSeq)}""" +
      s""","probe_ms":${perRep(r => f"${r.probeMs}%.1f")}""" +
      s""","probe_par_ms":${perRep(r => f"${r.parMs}%.1f")}""" +
      s""","probe_baseline_ms":${f"$probeBaseline%.1f"}""" +
      s""","calibration_x":${perRep(r => fmtX(r.probeMs / probeFloor))}""" +
      s""","parallel_x":${perRep(r => fmtX(r.parMs / parFloor))}""" +
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
    val repTierCounts = repPlan.values.groupBy(identity).view.mapValues(_.size)
    val compactLine = compactSummary(total, totalTrusted, best.size,
      untrusted, failed.toSeq, reps, contended, sfDir, out,
      s""","probe_floor_ms":${f"$probeFloor%.1f"},"probe_par_floor_ms":${f"$parFloor%.1f"}""" +
        s""","host_speed_x":$hostSpeedX,"host_parallel_x":$hostParallelX,"hist_anomalies_n":${histAnomalies.size},"repass_n":${repassQueries.size}""" +
        s""","common_n":${commonPrev.size},"total_common_prev":${f"$totalCommonPrev%.3f"},"prev_total_common":${f"$prevTotalCommon%.3f"}""" +
        s""","total_common_prev_norm":${f"$totalCommonPrevNorm%.3f"},"prev_total_common_norm":${f"$prevTotalCommonNorm%.3f"}""" +
        s""","reps_1":${repTierCounts.getOrElse(1, 0)},"reps_2":${repTierCounts.getOrElse(2, 0)},"excluded_n":${excluded.size},"lane_n":${contrastLane.size}""" +
        filterFields,
      totalNorm = totalNorm, queries = best)
    try Files.writeString(Paths.get(out), fullLine + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    // Durable per-query history (VERDICT r9 #2): `out` is overwritten by
    // every run and the driver's round snapshot keeps only the stdout
    // summary line, so round-over-round per-query attribution used to be
    // impossible from git. Append the full artifact (wall-clock-stamped)
    // to an append-only log that gets committed with the repo.
    try {
      val hist = Paths.get("bench", "bench_history.jsonl")
      Files.createDirectories(hist.getParent)
      Files.writeString(hist,
        s"""{"wall_clock_ms":${System.currentTimeMillis()},""" +
          fullLine.drop(1) + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } catch { case e: Throwable => System.err.println(s"[bench] history append failed: $e") }
    spark.stop()
    // compact line LAST, after spark.stop()'s own log noise, so the
    // driver's log-scrape finds it unbroken at the tail of stdout
    println(compactLine)
  }
}
