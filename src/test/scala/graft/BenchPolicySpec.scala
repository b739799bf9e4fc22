package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's rep-aggregation policy ([[Bench.judgeReps]]), the
  * scrape-safety of the stdout summary ([[Bench.compactSummary]]), and
  * that a bench run writes nothing into the checkout.
  *
  * Round-7 VERDICT #4: a rep faster than the trusted minimum must never be
  * discarded by calibration — contention only inflates wall time, so the
  * invariant is `trusted_min ≤ min(runs)` whenever both exist.
  * Round-7 ADVICE (medium): the stdout line must stay well under the
  * driver's ~2KB log-tail scrape window even in the worst case (every
  * query untrusted AND failed); two rounds produced `parsed: null`.
  */
class BenchPolicySpec extends AnyFunSuite {
  private val T = true
  private val F = false

  test("trusted_min is the min over ALL ok reps when any rep is trusted (s10 case)") {
    // r7's s10_ivf_pq: fastest rep 5.00s was calibration-flagged, trusted
    // reps' min was 7.31s — the old policy reported 7.31s.
    val v = Bench.judgeReps(Seq(7.31, 8.02, 5.00), Seq(T, T, T), Seq(T, T, F))
    assert(!v.failed)
    assert(v.rawMin.contains(5.00))
    assert(v.trustedMin.contains(5.00))
  }

  test("invariant: trustedMin ≤ rawMin for every rep/trust combination") {
    val secs = Seq(3.0, 1.0, 2.0, 0.5)
    for {
      okBits <- (0 until 16)
      trBits <- (0 until 16)
    } {
      val ok = (0 until 4).map(i => (okBits & (1 << i)) != 0)
      val tr = (0 until 4).map(i => (trBits & (1 << i)) != 0)
      val v = Bench.judgeReps(secs, ok, tr)
      for (t <- v.trustedMin; r <- v.rawMin)
        assert(t <= r, s"trustedMin $t > rawMin $r for ok=$ok trusted=$tr")
      // trustedMin defined ⟹ rawMin defined
      assert(v.trustedMin.isEmpty || v.rawMin.isDefined)
    }
  }

  test("no trusted successful rep → trustedMin empty, query is untrusted not failed") {
    val v = Bench.judgeReps(Seq(2.0, 2.1), Seq(T, T), Seq(F, F))
    assert(!v.failed && v.rawMin.contains(2.0) && v.trustedMin.isEmpty)
  }

  test("a trusted retry rep rescues an all-untrusted query at the raw floor") {
    val v = Bench.judgeReps(Seq(5.0, 6.0, 7.0, 5.5), Seq(T, T, T, T),
      Seq(F, F, F, T))
    assert(!v.failed && v.trustedMin.contains(5.0))
  }

  test("a base-rep failure fails the query; all-failed yields no minima") {
    assert(Bench.judgeReps(Seq(1.0, 0.1), Seq(T, F), Seq(T, T)).failed)
    val all = Bench.judgeReps(Seq(0.1, 0.1), Seq(F, F), Seq(T, T))
    assert(all.failed && all.rawMin.isEmpty && all.trustedMin.isEmpty)
  }

  test("compact stdout line stays under 1500 chars in the worst case") {
    // worst case: 132 long-named queries ALL untrusted and ALL failed,
    // plus a dispute filter suffix
    val names = (1 to 132).map(i => f"q${i}%02d_some_long_query_name_$i")
    val line = Bench.compactSummary(
      total = 113.2345, totalTrusted = 99999.9999, queriesN = 132,
      untrusted = names, failed = names, reps = 3, contended = true,
      sf = "/root/testdata/sf0.1", detail = "/root/repo/BENCH.json",
      filterFields = s""","filter":"${names.take(3).mkString(",")}","partial":true""")
    assert(line.length < 1500, s"compact line is ${line.length} chars:\n$line")
    assert(line.startsWith("{") && line.endsWith("}"))
    assert(!line.contains("\n"))
    // the capped lists must make the truncation visible
    assert(line.contains("+122 more"))
    assert(line.contains("\"untrusted_n\":132"))
  }

  test("compact line carries full short lists uncapped") {
    val line = Bench.compactSummary(1.0, 1.0, 132, Seq("s10_ivf_pq"), Nil,
      3, contended = false, sf = "sf0.1", detail = "BENCH.json")
    assert(line.contains(""""untrusted":["s10_ivf_pq"]"""))
    assert(line.contains(""""errors":[]"""))
    assert(!line.contains("more"))
  }

  test("compact line with the round-20 extra fields still fits the scrape window") {
    val names = (1 to 132).map(i => f"q${i}%02d_some_long_query_name_$i")
    val extras = s""","probe_floor_ms":123.4,"excluded_n":1,"lane_n":1"""
    val line = Bench.compactSummary(113.2345, 99999.9999, 132,
      names, names, 3, contended = true, sf = "/root/testdata/sf0.1",
      detail = "target/bench-out/BENCH.json", filterFields = extras)
    assert(line.length < 1500, s"compact line is ${line.length} chars")
    // the raw total leads the line
    assert(line.startsWith("""{"metric":"total","value":"""))
  }

  test("compact line carries the per-query map (VERDICT r20 #2) and stays parseable") {
    // the driver's PERF comparison diffs `queries` from the parsed stdout
    // line; r20 shipped totals-only because the line omitted the map
    val qmap = (1 to 246).map(i => f"e${i}%02d_some_long_streaming_query_name_$i" -> (0.12345 * i)).toMap
    val line = Bench.compactSummary(113.2345, 113.2345, 246, Nil, Nil,
      3, contended = false, sf = "/root/testdata/sf0.1",
      detail = "BENCH.json", queries = qmap)
    assert(line.contains(""""queries":{"""))
    // 3-decimal rounding bounds each entry; names sorted for stable diffs
    assert(line.contains(""""e01_some_long_streaming_query_name_1":0.123"""))
    val iq = line.indexOf("\"queries\":{")
    val iq2 = line.indexOf("\"e02_")
    assert(iq >= 0 && iq2 > iq, "entries sorted by name")
    // every pre-existing field is still present and the line is one line
    for (f <- Seq("\"metric\":\"total\"", "\"value\":", "\"value_trusted\":",
      "\"unit\":\"sec\"", "\"queries_n\":246", "\"untrusted\":", "\"errors\":",
      "\"reps\":3", "\"contended\":false", "\"sf\":", "\"detail\":"))
      assert(line.contains(f), s"missing $f")
    assert(!line.contains("\n") && line.startsWith("{") && line.endsWith("}"))
    // worst realistic size: ~246 long names ≈ low tens of KB, far under any
    // plausible log-tail window that the r20 driver demonstrated
    assert(line.length < 20000, s"line is ${line.length} chars")
    // empty map → field omitted entirely (old shape preserved for tests
    // and partial runs that pass no map)
    val bare = Bench.compactSummary(1.0, 1.0, 1, Nil, Nil, 3,
      contended = false, sf = "sf", detail = "d")
    assert(!bare.contains("\"queries\":{"))
  }

  test("no main names the bench history file, so no run writes into the checkout") {
    val walk = Files.walk(Paths.get("src", "main"))
    val scala =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally walk.close()
    assert(scala.exists(_.endsWith(Paths.get("graft", "Bench.scala"))),
      s"source scan found no Bench.scala under ${Paths.get("src", "main").toAbsolutePath}")
    val naming = scala.filter(p => Files.readString(p).contains("bench_history.jsonl"))
    assert(naming.isEmpty, s"sources naming the history file: $naming")
  }

  test("contrast-only exclusion names real registry queries") {
    // a typo'd ContrastOnly entry would silently exclude NOTHING while the
    // artifact claims it did
    Bench.ContrastOnly.foreach(n =>
      assert(SparkEntry.queries.contains(n), s"ContrastOnly '$n' not in registry"))
  }
}
