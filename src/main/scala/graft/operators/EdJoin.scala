package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window => SqlWindow}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The Ed-Join prefix filter (Xiao, Wang & Lin, VLDB 2008) shared by every
  * edit-distance entry point: the self-pairs ([[Dedup.editDistancePairs]]),
  * the direct and indexed fresh-vs-corpus screens
  * ([[Dedup.incrementalEditDistancePairs]],
  * [[Dedup.incrementalEditDistancePairsIndexed]]), the standing index
  * ([[Dedup.writeEditIndex]], [[Dedup.appendEditIndex]]) and the live
  * screens ([[graft.streaming.ScreenStream.screenEditDistance]],
  * [[graft.streaming.ScreenStream.screenEditDistanceIndexed]]). Each
  * decision lives here once, so the entry points cannot drift apart:
  *
  *  - [[Slice]] / [[slice]]: the pairing window — `chars` characters after
  *    the corpus-wide common prefix ([[lcp]]), or the whole string;
  *  - [[grams]]: the distinct character q-grams of a string (the fused
  *    `char_qgrams`; a string shorter than q is its own only gram);
  *  - [[ownPrefix]] / [[prefix]] / [[rarest]]: the (df, g) rarity order and
  *    its cut at [[Knobs.prefixLen]] grams per string — a gram the df table
  *    has never seen ranks rarest at df 0 — in a plan or in task memory;
  *  - [[gramPoor]] / [[Knobs.band]]: the gram-poor short pool (strings with
  *    fewer grams than the prefix, the theorem's one blind spot) and its
  *    length-band probe;
  *  - [[candidates]]: the candidate union at verify width behind the
  *    in-plan volume guard;
  *  - [[verify]]: the string join-backs, the length filter, the banded
  *    `levenshtein` and the distance cut;
  *  - [[corpus]] / [[screen]] / [[selfPairs]]: a corpus side's probe
  *    frames and the one fresh-side probe, fed by frames built inline or by
  *    the standing index's tables.
  *
  * Why it is exact: one edit destroys at most q distinct grams, so a pair
  * within `maxDist` edits shares all but q·maxDist of the larger gram set;
  * whenever that set holds more than q·maxDist grams the two rarity
  * prefixes intersect under ANY total order both sides share. Pairs of
  * gram-poor strings go through the exhaustive length-band pool instead.
  * Candidates form only inside rare-gram and length buckets; hub grams rank
  * last and fall outside every prefix.
  */
private[graft] object EdJoin {

  /** Pairs within `maxDist` edits over `q`-grams. */
  final case class Knobs(maxDist: Int, q: Int) {
    require(maxDist >= 0 && q >= 1, s"bad knobs: maxDist=$maxDist, q=$q")

    /** A string's rarity prefix length, `q·maxDist + 1`. */
    val prefixLen: Int = q * maxDist + 1

    /** Whether a string of `ng` distinct grams is gram-poor. */
    def poor(ng: Column): Column = ng < prefixLen

    /** One row per partner length within `maxDist` of `len`. */
    def band(len: Column): Column = explode(sequence(len - maxDist, len + maxDist))
  }

  /** The pairing window: `chars` characters from code point `from`, or the
    * whole string when `chars = 0`.
    */
  final case class Slice(from: Int, chars: Int) {
    def apply(s: Column): Column = if (chars > 0) substring(s, from, chars) else s

    /** `df`'s (`id`, `s`) rows: long ids and the window of non-null
      * `strCol` strings — a standing index's or a live screen's side.
      */
    def strings(df: DataFrame, idCol: String, strCol: String, id: String,
                s: String): DataFrame =
      df.select(col(idCol).cast("long").as(id), apply(col(strCol)).as(s))
        .filter(col(s).isNotNull)
  }

  /** `corpus`'s window for `chars > 0`: `chars` characters after the
    * common prefix of its `strCol` (see [[lcp]]); the whole string
    * otherwise, with no job run.
    */
  def slice(corpus: DataFrame, strCol: String, chars: Int, maxScan: Int): Slice =
    Slice(if (chars > 0) lcp(corpus.select(col(strCol)), strCol, maxScan) + 1 else 1,
      chars)

  /** Corpus-wide longest-common-prefix length of `strCol`, in code points
    * (Spark `substring` units). LCP(set) = LCP(min, max): any divergence
    * inside the set already separates the lexicographic min from the max,
    * so the corpus costs two string aggregates in one scan and one
    * driver-side compare of two strings bounded by `maxScan` (truncation is
    * order-monotone, so the result is exactly min(LCP, maxScan)). Empty or
    * all-null input → 0.
    */
  def lcp(docs: DataFrame, strCol: String, maxScan: Int): Int = {
    val r = docs.filter(col(strCol).isNotNull)
      .agg(min(substring(col(strCol), 1, maxScan)).as("lo"),
        max(substring(col(strCol), 1, maxScan)).as("hi")).head()
    if (r.isNullAt(0) || r.isNullAt(1)) 0
    else {
      val (lo, hi) = (r.getString(0), r.getString(1))
      val n = math.min(lo.length, hi.length)
      var i = 0
      while (i < n && lo.charAt(i) == hi.charAt(i)) i += 1
      if (i > 0 && Character.isHighSurrogate(lo.charAt(i - 1))) i -= 1
      lo.codePointCount(0, i)
    }
  }

  /** The distinct q-grams of string column `s`, as an array. The fused
    * `char_qgrams` replaced a HOF CASE/transform form that fell back to
    * interpreted lambda dispatch per gram (bit-identical, spec-pinned).
    */
  def gramArray(spark: SparkSession, s: Column, q: Int): Column =
    array_distinct(graft.functions.NativeFunctions.charQgramsFused(spark, s, q))

  /** One (`keep`…, g) row per distinct q-gram of `strs`' column `s`. */
  private def grams(strs: DataFrame, s: String, q: Int, keep: Column*): DataFrame =
    strs.select(keep :+ explode(gramArray(strs.sparkSession, col(s), q)).as("g"): _*)

  /** Each `id`'s rarity prefix under the df of its own distinct (`id`, g)
    * `grams`: (the df table (g, df), the prefix (`id`, g)).
    */
  private def ownPrefix(grams: DataFrame, id: String, k: Knobs): (DataFrame, DataFrame) = {
    val dfq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    (dfq, cut(grams.join(dfq, "g"), id, k))
  }

  /** Each `id`'s rarity prefix (`id`, g) under another side's df table. */
  private def prefix(grams: DataFrame, id: String, dfq: DataFrame, k: Knobs): DataFrame =
    cut(withDf(grams, dfq), id, k)

  /** Gram rows with their df from `dfq` (g, df); a gram `dfq` lacks ranks
    * rarest at df 0 (the prefix theorem holds under any shared order).
    */
  def withDf(grams: DataFrame, dfq: DataFrame): DataFrame =
    grams.join(dfq, Seq("g"), "left").withColumn("df", coalesce(col("df"), lit(0L)))

  private def cut(ranked: DataFrame, id: String, k: Knobs): DataFrame =
    ranked
      .withColumn("rk", row_number().over(
        SqlWindow.partitionBy(col(id)).orderBy(col("df"), col("g"))))
      .filter(col("rk") <= k.prefixLen)
      .select(col(id), col("g"))

  /** [[prefix]]'s cut in task memory: the rarest [[Knobs.prefixLen]] of one
    * string's (gram, df) pairs. Grams compare as UTF-8 bytes — Spark's and
    * DuckDB's string order, which UTF-16 (`String.compareTo`) breaks for
    * supplementary code points against U+E000–U+FFFF.
    */
  def rarest(gramDf: Iterable[(String, Long)], k: Knobs): Array[String] =
    gramDf.toArray
      .map { case (g, df) => (df, UTF8String.fromString(g), g) }
      .sortWith { case ((da, ua, _), (db, ub, _)) =>
        da < db || (da == db && ua.binaryCompare(ub) < 0) }
      .take(k.prefixLen).map(_._3)

  /** The gram-poor rows of `strs`, keyed by `id` with distinct grams
    * `grams`.
    */
  private def gramPoor(strs: DataFrame, grams: DataFrame, id: String, k: Knobs): DataFrame =
    strs.join(grams.groupBy(id).agg(count(lit(1)).as("ng")), Seq(id))
      .filter(k.poor(col("ng")))

  /** Candidate-pair cache sized for the banded-levenshtein verify: the
    * verify is CPU-dense per byte, so AQE's bytes-based coalescing (and a
    * cached plan's coalesced output partitioning) sizes it far too narrow —
    * at sf0.1 the whole verify collapsed to one task (+75% wall on d19).
    * The partitioning is pinned to the core count on the keys the distinct
    * needs, so the explicit exchange replaces the distinct's own and AQE
    * leaves it uncoalesced. Rows are (long, long) pairs, so even the 25M
    * candidate cap is ~400 MB.
    */
  private def verifyWidthCands(cands: DataFrame): DataFrame =
    Caching.persisted(cands
      .repartition(cands.sparkSession.sparkContext.defaultParallelism,
        cands.columns.map(col).toIndexedSeq: _*)
      .distinct())

  /** In-plan candidate-volume guard: one count over the (persisted)
    * candidate frame rides every row via a broadcast cross join, and
    * `raise_error` aborts the job above `cap` before the verify pays for
    * the blow-up. The count is consumed by an always-true filter so column
    * pruning cannot elide the guard.
    */
  private def guard(cands: DataFrame, cap: Long, what: String,
                    advice: String): DataFrame = {
    val n = cands.agg(count(lit(1)).as("n_cand"))
      .select(when(col("n_cand") <= cap, col("n_cand"))
        .otherwise(raise_error(concat(
          lit(s"$what: candidate volume "), col("n_cand").cast("string"),
          lit(s" exceeds maxCandidates=$cap - the prefix filter is not " +
            s"selective on this corpus (low-entropy or tiny-alphabet " +
            s"strings). $advice, or raise maxCandidates deliberately."))))
        .cast("long").as("n_cand"))
    cands.crossJoin(broadcast(n)).filter(col("n_cand") >= 0).drop("n_cand")
  }

  /** The distinct pairs of the prefix and short-pool candidates, guarded
    * at `cap` (`what` and `advice` name the entry point in the error).
    */
  private def candidates(prefixCands: DataFrame, shortCands: DataFrame,
                         cap: Long, what: String, advice: String): DataFrame =
    guard(verifyWidthCands(prefixCands.union(shortCands)), cap, what, advice)

  /** The candidate pairs (`ids`) within `maxDist` edits, with their
    * distance: `a` and `b` join back the strings (`strs`) by id, the length
    * filter drops pairs that differ by more than `maxDist` characters, and
    * the thresholded (banded) levenshtein — O(len·maxDist) with early exit,
    * -1 above the bound, equal to the full DP below it — verifies the rest
    * (the full DP took 63 s at sf0.1 where the banded form takes ~2 s).
    */
  private def verify(cands: DataFrame, a: DataFrame, b: DataFrame,
                     ids: (String, String), strs: (String, String),
                     maxDist: Int): DataFrame = {
    val (sa, sb) = (col(strs._1), col(strs._2))
    cands.join(a, Seq(ids._1)).join(b, Seq(ids._2))
      .filter(abs(length(sa) - length(sb)) <= maxDist)
      .withColumn("dist", levenshtein(sa, sb, maxDist).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(ids._1, ids._2, "dist")
  }

  /** Self-pairs of (id, s) strings `s`: (id_a < id_b, dist ≤ maxDist). */
  def selfPairs(s: DataFrame, k: Knobs, cap: Long, what: String,
                advice: String): DataFrame = {
    val sg = Caching.persisted(grams(s, "s", k.q, col("id")))
    val (_, pref) = ownPrefix(sg, "id", k)
    val prefCands = pref.select(col("id").as("id_a"), col("g"))
      .join(pref.select(col("id").as("id_b"), col("g")), "g")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val short = gramPoor(s, sg, "id", k)
      .select(col("id"), length(col("s")).as("len"))
    val shortCands = short.select(col("id").as("id_a"), k.band(col("len")).as("len_b"))
      .join(short.select(col("id").as("id_b"), col("len").as("len_b")), "len_b")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    verify(candidates(prefCands, shortCands, cap, what, advice),
      s.select(col("id").as("id_a"), col("s").as("s_a")),
      s.select(col("id").as("id_b"), col("s").as("s_b")),
      ("id_a", "id_b"), ("s_a", "s_b"), k.maxDist)
  }

  /** The frames a fresh side probes: the gram df (g, df), the rarity
    * prefixes (g, corpus_id, …), the gram-poor short pool
    * (len_b, corpus_id, …) and the strings (corpus_id, s_c, …) — built
    * inline by [[corpus]] or read from a standing index's tables, whose
    * prefix and short rows also carry s_c.
    */
  final case class Corpus(dfq: DataFrame, prefix: DataFrame, short: DataFrame,
                          strings: DataFrame) {
    /** The prefixes of a [[corpus]]-built side with their strings
      * (g, corpus_id, s_c): the layout the index stores and the streaming
      * fold verifies from.
      */
    def prefixRows: DataFrame =
      prefix.join(strings, Seq("corpus_id"))
        .select(col("g"), col("corpus_id"), col("s_c"))
  }

  /** The distinct (corpus_id, g) grams of corpus strings `cs`
    * (corpus_id, s_c), persisted: every frame of [[corpus]] reads them, and
    * the caller may release them once those are built.
    */
  def corpusGrams(cs: DataFrame, k: Knobs): DataFrame =
    Caching.persisted(grams(cs, "s_c", k.q, col("corpus_id")))

  /** The probe frames of corpus strings `cs` with grams `cg`
    * ([[corpusGrams]]): ranked by their own gram df, or by a `frozen` df
    * table (an append under the index's build-time order).
    */
  def corpus(cs: DataFrame, cg: DataFrame, k: Knobs,
             frozen: Option[DataFrame] = None): Corpus = {
    val (dfq, pref) = frozen match {
      case Some(d) => (d, prefix(cg, "corpus_id", d, k))
      case None => ownPrefix(cg, "corpus_id", k)
    }
    Corpus(dfq, pref,
      gramPoor(cs, cg, "corpus_id", k)
        .select(length(col("s_c")).as("len_b"), col("corpus_id"), col("s_c")),
      cs)
  }

  /** The fresh-vs-corpus screen: (id, s) strings `fresh` probe `c` under
    * its df order — prefix grams meet corpus prefixes, gram-poor strings
    * meet the corpus short pool by length band — and the guarded
    * candidates verify. Returns (fresh_id, corpus_id, dist ≤ maxDist).
    */
  def screen(fresh: DataFrame, c: Corpus, k: Knobs, cap: Long, what: String,
             advice: String): DataFrame = {
    val fg = Caching.persisted(grams(fresh, "s", k.q, col("id")))
    val prefCands = prefix(fg, "id", c.dfq, k)
      .select(col("id").as("fresh_id"), col("g"))
      .join(c.prefix.select(col("g"), col("corpus_id")), "g")
      .select("fresh_id", "corpus_id")
    val shortCands = gramPoor(fresh, fg, "id", k)
      .select(col("id").as("fresh_id"), k.band(length(col("s"))).as("len_b"))
      .join(c.short.select(col("len_b"), col("corpus_id")), "len_b")
      .select("fresh_id", "corpus_id")
    verify(candidates(prefCands, shortCands, cap, what, advice),
      fresh.select(col("id").as("fresh_id"), col("s").as("s_f")), c.strings,
      ("fresh_id", "corpus_id"), ("s_f", "s_c"), k.maxDist)
  }
}
