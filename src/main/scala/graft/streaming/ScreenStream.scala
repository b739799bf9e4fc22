package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.TextFunctions.tokens
import graft.operators.{Caching, EdJoin, Ivf, SetOverlap}

/** The fresh-vs-corpus near-dup screen as a Structured Streaming query —
  * the d11 "daily ingest" story made literal: fresh documents ARRIVE as a
  * stream, the standing corpus is static, and each micro-batch emits the
  * arriving docs' near-dup pairs against the corpus.
  *
  * Streaming plan restrictions shape the design (joins are not allowed
  * AFTER a streaming aggregation), so every static join happens BEFORE the
  * single stateful operator:
  *
  *  - the fresh doc's own shingle-set size (`sz_f`, one Jaccard
  *    denominator) is computed per-row from its `array_distinct` shingle
  *    array at projection time — no fresh-side aggregation exists at all;
  *  - the corpus side arrives pre-joined as (corpus_id, shingle, sz_c),
  *    so the stream-static shingle join (stateless) carries the other
  *    denominator into the per-doc fold, where both sizes ride as columns
  *    (each is functionally determined by its id);
  *  - the per-pair intersection count folds INSIDE
  *    `flatMapGroupsWithState` keyed by fresh doc, which stores NOTHING:
  *    a fresh document's shingle rows are all generated by the stateless
  *    explode inside the micro-batch that read the document row (the
  *    whole-doc-delivery argument KnScoreStream relies on), so each
  *    group's collision counts complete within its batch and Jaccard +
  *    threshold apply before anything could reach a state store.
  *
  * The first shape aggregated `inter` in a complete-mode groupBy, whose
  * state is O(distinct COLLIDING (fresh, corpus) pairs) — hub shingles
  * (common 4-grams) make that corpus-proportional, and the in-memory
  * state store OOMed an 8g heap on the 10× corpus (measured, r13 e42
  * smoke). The fold keeps the same candidate generation but holds only
  * one doc's collision map at a time, in plain task memory.
  * With an AvailableNow one-shot run in append mode the emission equals
  * [[graft.operators.Dedup.incrementalJaccardPairs]] on the same split,
  * which is what lets the d11 oracle grade the streaming plan verbatim
  * (e15) and the spec pin batch parity.
  */
object ScreenStream {

  val docsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming read of the documents table (layout-tolerant — see
    * [[TableStream]]).
    */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    TableStream.read(spark, dir, "documents", docsSchema)

  /** ENFORCE the whole-doc-delivery contract every per-fresh-doc fold
    * relies on (the fold computes a doc's full collision picture from one
    * batch's rows): the GroupState records that the key already folded, so
    * a doc whose exploded rows somehow span micro-batches fails LOUDLY
    * instead of silently undercounting (a partial batch would deflate
    * Jaccard/inter and could drop true near-dups). State is one boolean
    * per fresh doc seen — the same O(docs) × O(1) class as KnScoreStream's
    * running sum, and the AvailableNow gate's checkpoint is ephemeral.
    *
    * ALWAYS-ON deployments (ADVICE r14): a non-AvailableNow stream never
    * tears the checkpoint down, so the seen flags would grow unbounded —
    * and a checkpoint-recovery replay of a batch whose state committed but
    * whose sink didn't would hard-fail on its own flag. Every screen
    * therefore takes `idleTtlMillis` (KnScoreStream's escape hatch): > 0
    * arms ProcessingTimeTimeout and each doc's flag drops after that idle
    * window, bounding state at O(docs-per-TTL-window) and turning the
    * replay failure into a re-screen. 0 keeps NoTimeout — exact
    * second-arrival enforcement forever, the AvailableNow default.
    */
  private[graft] def requireFirstArrival(key: Long,
      state: org.apache.spark.sql.streaming.GroupState[Boolean],
      op: String, idleTtlMillis: Long): Unit = {
    if (state.exists) throw new IllegalStateException(
      s"$op: fresh doc $key arrived in a second micro-batch — the per-doc " +
        "fold contract requires a document's exploded rows to be delivered " +
        "whole within one batch (they are generated by the stateless " +
        "explode in the batch that read the document row). A source that " +
        "re-chunks a document across batches cannot be screened by this " +
        "fold; buffer the document upstream instead.")
    state.update(true)
    if (idleTtlMillis > 0L) state.setTimeoutDuration(idleTtlMillis)
  }

  /** The fold-side half of the TTL contract: a timed-out invocation (no
    * rows, `hasTimedOut`) drops the seen flag and emits nothing.
    */
  private[graft] def dropIfTimedOut(
      state: org.apache.spark.sql.streaming.GroupState[Boolean]): Boolean = {
    if (state.hasTimedOut) { state.remove(); true } else false
  }

  /** NoTimeout at 0, ProcessingTimeTimeout past it — shared by every
    * screen entry point.
    */
  private def timeoutConf(idleTtlMillis: Long) =
    if (idleTtlMillis > 0L)
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout
    else org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout

  /** A collision row of one fresh doc, as every per-doc fold consumes. */
  trait FreshRow { def fresh_id: Long }

  /** The one stateful operator of every live screen: `fold` runs once per
    * fresh doc over that doc's rows of the micro-batch — Append mode,
    * under the [[timeoutConf]] idle-TTL posture.
    */
  private[graft] def foldPerDoc[R <: FreshRow, O: Encoder](rows: Dataset[R],
      idleTtlMillis: Long)(fold: (Long, Iterator[R],
      org.apache.spark.sql.streaming.GroupState[Boolean]) => Iterator[O]): DataFrame = {
    implicit val key: Encoder[Long] = Encoders.scalaLong
    implicit val seen: Encoder[Boolean] = Encoders.scalaBoolean
    rows.groupByKey(_.fresh_id).flatMapGroupsWithState(
      org.apache.spark.sql.streaming.OutputMode.Append, timeoutConf(idleTtlMillis))(fold)
      .toDF()
  }

  /** Build the streaming screen plan. `freshDocs` is a STREAMING frame of
    * arriving documents; `corpusShingles` (`idCol`, shingle) and
    * `corpusSizes` (`idCol`, set_size) are static — a caller can hand the
    * [[graft.operators.Dedup.ShingleIndex]] tables straight in, making
    * this the streaming consumer of the standing index layout. The one
    * stateful operator is [[SetOverlap.fold]].
    */
  def screen(freshDocs: DataFrame, corpusShingles: DataFrame,
             corpusSizes: DataFrame, idCol: String, textCol: String,
             k: Int = 4, threshold: Double = 0.5,
             idleTtlMillis: Long = 0L): DataFrame = {
    val shF = freshDocs
      .select(col(idCol).as("fresh_id"),
        array_distinct(graft.functions.NativeFunctions.wordShinglesFused(
          freshDocs.sparkSession, tokens(col(textCol)), k)).as("__sh"))
      .select(col("fresh_id"), size(col("__sh")).cast("long").as("sz_f"),
        explode(col("__sh")).as("shingle"))
    // Static side materialized ONCE, before the stream starts (optimization
    // r21, guide §2.4/§5): the shingle×size join — and, for callers that
    // hand in COMPUTED frames (e15's inline shingleSet + groupBy), the
    // whole corpus-side derivation — would otherwise re-run inside every
    // micro-batch at the stream's state width with AQE off. Now each batch
    // scans a cache built at batch width. Index-backed callers (e42/e45)
    // pay one extra cache-write pass over table reads per run, bounded by
    // the batch count it saves.
    val shC = graft.operators.Caching.materialized(
      corpusShingles.select(col(idCol).as("corpus_id"), col("shingle"))
        .join(corpusSizes.select(col(idCol).as("corpus_id"),
          col("set_size").as("sz_c")), Seq("corpus_id")))
    // The corpus shingle side is corpus-sized (docs × shingles) and AQE is
    // OFF inside a streaming micro-batch plan, so join selection rides the
    // static size estimate of a computed (exploded) plan — pin sort-merge
    // so nothing corpus-sized is ever built resident in one task.
    SetOverlap.streamScreen(
      shF.join(shC.hint("shuffle_merge"), Seq("shingle")),
      "ScreenStream.screen", threshold, idleTtlMillis)
      .select("fresh_id", "corpus_id", "jaccard")
  }

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)),
    StructField("label", org.apache.spark.sql.types.IntegerType)))

  /** Streaming read of the embeddings table (same layout-tolerant shape
    * as [[readDocs]]).
    */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame =
    TableStream.read(spark, dir, "embeddings", embeddingsSchema)

  /** One verified (or radius-cut) collision row entering a distinct fold:
    * `metric` is the cosine of the embedding screen or the Hamming distance
    * of the MIH screen (a small integer, exact in a double).
    */
  final case class VerifiedRow(fresh_id: Long, corpus_id: Long, metric: Double)
    extends FreshRow

  /** Per-fresh-doc distinct-of-survivors fold: a doc's verified collision
    * rows dedup by corpus doc in task memory (the metric is functionally
    * determined by the pair, so first-seen is THE value), emit one row per
    * surviving pair, store only the [[requireFirstArrival]] seen flag.
    */
  private[graft] def distinctPairFold(op: String, idleTtlMillis: Long = 0L)(
      key: Long, rows: Iterator[VerifiedRow],
      state: org.apache.spark.sql.streaming.GroupState[Boolean]): Iterator[VerifiedRow] = {
    if (dropIfTimedOut(state)) return Iterator.empty
    requireFirstArrival(key, state, op, idleTtlMillis)
    val seen = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
    rows.foreach(r => if (!seen.contains(r.corpus_id)) seen.update(r.corpus_id, r.metric))
    seen.iterator.map { case (cid, m) => VerifiedRow(key, cid, m) }
  }

  /** The EMBEDDING ingest screen as a Structured Streaming query — the
    * d15/d16 daily-ingest story live: fresh vectors ARRIVE as a stream and
    * screen against the standing [[graft.operators.Dedup
    * .EmbeddingSignatureIndex]] tables (static side). Same streaming-plan
    * shape as [[screen]]: every static join runs BEFORE the one stateful
    * operator —
    *
    *  - each arriving vector bands in-row via the fused
    *    `hyperplane_signatures` expression with the INDEX'S knob family
    *    (the index value carries it, so stream and standing side can never
    *    band differently), its own norm a per-row projection;
    *  - the (tbl, sig) candidate join and the corpus vector join-back are
    *    stream-static and stateless — the standing tables read through
    *    their bucket layout;
    *  - the exact-cosine verify is a stateless filter, and the one
    *    stateful operator is the per-fresh-doc [[distinctPairFold]]
    *    (dedup of a doc's verified survivors across its signature-table
    *    collisions) — task-memory only, the state store holds one seen
    *    flag per doc. The first shape held distinct-survivor pairs in a
    *    complete-mode groupBy — O(live verified pairs) state-store rows,
    *    the same class the e42 post-mortem showed hub keys make
    *    corpus-proportional (a hot signature bucket here plays the hub
    *    shingle's role), so it was restated exactly like [[SetOverlap.fold]]
    *    (VERDICT r13 #2).
    *
    * An AvailableNow append-mode run equals
    * [[graft.operators.Dedup.incrementalEmbeddingPairsIndexed]] on the
    * same split, so the d15 oracle grades the streaming plan verbatim
    * (e23).
    */
  def screenEmbeddings(freshVecs: DataFrame,
                       index: graft.operators.Dedup.EmbeddingSignatureIndex,
                       idCol: String, vecCol: String,
                       threshold: Double,
                       idleTtlMillis: Long = 0L): DataFrame = {
    val spark = freshVecs.sparkSession
    import spark.implicits._
    import graft.operators.HyperplaneLsh
    val family = index.family(spark)
    // a null norm raises: the optimizer infers isnotnull(n_f) from the
    // cosine filter and pushes it below the signature explode, where it
    // would drop a bad vector before the signature guard sees it
    val banded = family.bands(HyperplaneLsh.vectors(freshVecs, idCol, vecCol)
        .withColumn("norm", family.normOrFail(vecCol)), vecCol,
      col(idCol).as("fresh_id"), col("v").as("v_f"), col("norm").as("n_f"))
    foldPerDoc(banded
      .join(spark.table(index.signatures)
        .select(col(idCol).as("corpus_id"), col("tbl"), col("sig")),
        Seq("tbl", "sig"))
      .join(HyperplaneLsh.joinBack(spark.table(index.vectors), idCol,
        "corpus_id", "c"), Seq("corpus_id"))
      .withColumn("cosine", HyperplaneLsh.cosine("f", "c"))
      .filter(col("cosine") >= threshold)
      .select(col("fresh_id").cast("long").as("fresh_id"),
        col("corpus_id").cast("long").as("corpus_id"),
        col("cosine").as("metric"))
      .as[VerifiedRow], idleTtlMillis)(
      distinctPairFold("ScreenStream.screenEmbeddings", idleTtlMillis))
      .toDF("fresh_id", "corpus_id", "cosine")
  }

  /** The MEDIA ingest screen as a Structured Streaming query — the
    * m09/m10 daily-ingest story live: fresh blobs ARRIVE as a stream and
    * screen against the standing [[graft.operators.Multimodal.ChunkIndex]]
    * tables. Same plan shape as [[screenEmbeddings]] — every static join
    * before the one stateful operator:
    *
    *  - each arriving blob digests, DEDUPS and sizes its chunk set IN ITS
    *    OWN ROW ([[graft.operators.Multimodal.inRowChunkDigests]] — all of
    *    a blob's chunks live in its row, so no distinct shuffle exists);
    *  - the digest probe join and the corpus-size join are stream-static
    *    and stateless, reading the bucketed tables;
    *  - the one stateful operator is the per-fresh-doc [[SetOverlap.fold]]:
    *    the shared-chunk COUNT per (fresh, corpus) pair folds in task
    *    memory, the state store holds one seen flag per doc. The first
    *    shape aggregated the pair counts in a complete-mode groupBy —
    *    O(candidate pairs) state, which a HUB DIGEST (a zero-filled or
    *    boilerplate chunk shared corpus-wide, the gear family's hub
    *    shingle) makes corpus-proportional: the exact state class that
    *    OOMed the r13 e42 ×10 smoke on the text screen, so it was
    *    restated the same way (VERDICT r13 #2).
    *
    * Emits (fresh_id, corpus_id, inter, sz_f, sz_c) for pairs at/above
    * `threshold` (the cut runs in the fold so the in-memory sink stays
    * verdict-sized — see [[SetOverlap.fold]]; the serve step's batch-side
    * re-filter on the same expression is a bit-exact no-op), and an
    * AvailableNow append-mode run then equals
    * [[graft.operators.Multimodal.incrementalChunkPairsIndexed]] on the
    * same split (the m09 oracle grades the streaming plan verbatim, e31).
    */
  def screenChunks(freshMedia: DataFrame,
                   index: graft.operators.Multimodal.ChunkIndex,
                   chunkBytes: Int = 64,
                   threshold: Double = 0.0): DataFrame = {
    val (digests, sizes) = index.corpus(freshMedia.sparkSession)
    screenDigests(
      graft.operators.Multimodal.inRowChunkDigests(freshMedia, chunkBytes),
      digests, sizes, "ScreenStream.screenChunks", threshold)
  }

  /** The chunk screens' shared plan: in-row (doc_id, digests) fresh blobs
    * sized by their distinct digest array, stream-static digest probe and
    * corpus-size joins, then [[SetOverlap.fold]]. Emits
    * (fresh_id, corpus_id, sz_f, sz_c, inter).
    */
  private def screenDigests(fresh: DataFrame, corpusDigests: DataFrame,
                            corpusSizes: DataFrame, op: String,
                            threshold: Double): DataFrame =
    SetOverlap.streamScreen(fresh
      .select(col("doc_id").as("fresh_id"),
        size(col("digests")).cast("long").as("sz_f"),
        explode(col("digests")).as("digest"))
      .join(corpusDigests, Seq("digest"))
      .join(corpusSizes, Seq("corpus_id")), op, threshold)
      .drop("jaccard")

  /** The GEAR content-defined chunk screen as a Structured Streaming query
    * — m12's daily-ingest shape live (e38), [[screenChunks]]'s CDC
    * counterpart: fresh blobs cut, digest, dedup and size their chunk sets
    * IN-ROW ([[graft.operators.Multimodal.inRowGearChunkDigests]] — all of
    * a blob's chunks live in its row, so no fresh-side shuffle exists),
    * the digest probe and corpus-size joins are stream-static and
    * stateless, and the one stateful operator is the same per-fresh-doc
    * [[SetOverlap.fold]] as [[screenChunks]] (state = one seen flag per
    * doc; the earlier complete-mode pair-count groupBy was the hub-digest
    * OOM class — VERDICT r13 #2). Because gear boundaries re-synchronize
    * after an edit, a byte-SHIFTED arriving copy still pairs with its
    * standing original — live — which is exactly the case the fixed-size
    * streaming screen (e31) provably misses. Emits (fresh_id, corpus_id,
    * inter, sz_f, sz_c) for pairs at/above `threshold` (fold-side cut,
    * verdict-sized sink — [[SetOverlap.fold]]; the serve step's re-filter
    * is a bit-exact no-op), and an AvailableNow append-mode run then equals
    * [[graft.operators.Multimodal.incrementalGearChunkPairs]] on the same
    * split (the m14 oracle grades the streaming plan verbatim).
    */
  def screenGearChunks(freshMedia: DataFrame, corpusDigests: DataFrame,
                       corpusSizes: DataFrame, maskBits: Int = 6,
                       minSize: Int = 1,
                       maxSize: Int = Int.MaxValue,
                       threshold: Double = 0.0): DataFrame =
    screenDigests(graft.operators.Multimodal
      .inRowGearChunkDigests(freshMedia, maskBits, minSize, maxSize),
      corpusDigests, corpusSizes, "ScreenStream.screenGearChunks", threshold)

  /** The MIH Hamming screen as a Structured Streaming query — s22's code
    * family serving live (e37): fresh vectors ARRIVE as a stream, band-code
    * in their own row under `signs` and probe the STANDING code table
    * through the same [[graft.operators.HyperplaneLsh.Family.probe]] as
    * the batch screens (one definition: stream and corpus can never band
    * differently). Same plan shape as [[screenEmbeddings]]:
    *
    *  - the band join is stream-static and stateless (corpus side is the
    *    [[graft.operators.Similarity.mihCodeBands]] layout);
    *  - Hamming + radius cut are one stateless integer projection — NO
    *    vector or norm ever joins (codes only, the screen's whole point);
    *  - the one stateful operator is the per-fresh-doc [[distinctPairFold]]
    *    (a doc's within-radius survivors dedup across shared bands in
    *    task memory), state one seen flag per doc. The first shape held
    *    the distinct survivors in a complete-mode groupBy — O(live pairs)
    *    state-store rows, which a HOT BAND BUCKET makes
    *    corpus-proportional exactly as hub shingles did in the r13 e42
    *    ×10 OOM, so it was restated like [[SetOverlap.fold]] (VERDICT r13 #2).
    *
    * An AvailableNow append-mode run equals
    * [[graft.operators.Similarity.mihHammingScreen]] on the same split, so
    * one oracle grades batch and stream verbatim.
    */
  def screenMih(freshVecs: DataFrame, corpusCodes: DataFrame,
                idCol: String, vecCol: String,
                signs: Array[Array[Double]], bands: Int, bandBits: Int,
                radius: Int, idleTtlMillis: Long = 0L): DataFrame = {
    val spark = freshVecs.sparkSession
    import spark.implicits._
    foldPerDoc(graft.operators.HyperplaneLsh.mih(spark, bands, bandBits, signs)
      .probe(freshVecs, idCol, vecCol, corpusCodes, radius, ballRadius = 0)
      .select(col("fresh_id").cast("long").as("fresh_id"),
        col("corpus_id").cast("long").as("corpus_id"),
        col("hamming").cast("double").as("metric"))
      .as[VerifiedRow], idleTtlMillis)(
      distinctPairFold("ScreenStream.screenMih", idleTtlMillis))
      .select(col("fresh_id"), col("corpus_id"),
        col("metric").cast("long").as("hamming"))
  }

  /** The live IVF serve (e28, e34): query vectors ARRIVE as a stream and
    * take their top `k` from a standing
    * [[graft.operators.Similarity.IvfIndex]] — the serving twin of
    * [[graft.operators.Similarity.ivfSearchIndexed]]. Each arriving vector
    * probes its `nProbe` best cells in its own row under the frozen
    * quantizer ([[Ivf.probe]] — no window, so no state), the stream-static
    * candidate join reads the bucketed cells table, and the one stateful
    * operator is a complete-mode bounded-heap top-k
    * ([[graft.operators.Similarity.topKLists]]) whose state is
    * O(queries × k). Cells partition the corpus, so two probes never
    * surface the same neighbor twice. Emits (query_id, neighbors); an
    * AvailableNow run's rows ([[graft.operators.Similarity.topKRows]])
    * equal the batch walk at the same `nProbe`, which grades it.
    */
  def serveIvf(queryVecs: DataFrame, index: graft.operators.Similarity.IvfIndex,
               idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val spark = queryVecs.sparkSession
    graft.operators.Similarity.topKLists(Ivf.candidates(
      Ivf.probe(queryVecs, idCol, vecCol,
        graft.operators.Similarity.loadCentroids(spark, index), nProbe),
      spark.table(index.cells)), k)
  }

  /** One fresh-gram row entering the edit-distance fold. `g == null` marks
    * a SHORT-POOL collision row (both-gram-poor length-band join); on gram
    * rows `corpus_id == -1` means the gram hit no corpus prefix (the row
    * still rides in so the fold can rank the doc's full gram set).
    */
  final case class EdRow(fresh_id: Long, s_f: String, g: String, df: Long,
                         corpus_id: Long, s_c: String) extends FreshRow
  /** One verified edit-distance pair (dist ≤ maxDist, exact). */
  final case class EdPairOut(fresh_id: Long, corpus_id: Long, dist: Long)

  /** Ukkonen-banded Levenshtein over CODE POINTS with early exit: returns
    * the exact distance when ≤ `maxDist`, else -1 — the fold-side verify,
    * value-identical to the thresholded Spark levenshtein of the batch
    * plans ([[graft.operators.EdJoin]]) for kept rows (property-pinned in
    * StreamingSpec against Spark's own function). O(len·maxDist) cells;
    * the row scan exits as soon as the whole band saturates past the
    * bound.
    */
  private[graft] def bandedLevenshtein(a: String, b: String, maxDist: Int): Long = {
    val x = a.codePoints.toArray
    val y = b.codePoints.toArray
    val n = x.length
    val m = y.length
    if (n == 0 || m == 0) {
      val d = math.max(n, m)
      return if (d <= maxDist) d.toLong else -1L
    }
    if (math.abs(n - m) > maxDist) return -1L
    val inf = maxDist + 1
    var prev = Array.tabulate(m + 1)(j => if (j <= maxDist) j else inf)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, inf)
      cur(0) = if (i <= maxDist) i else inf
      var rowMin = cur(0)
      var j = math.max(1, i - maxDist)
      val jHi = math.min(m, i + maxDist)
      while (j <= jHi) {
        val cost = if (x(i - 1) == y(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        val ins = cur(j - 1) + 1
        if (ins < v) v = ins
        val del = prev(j) + 1
        if (del < v) v = del
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin >= inf) return -1L
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(m) <= maxDist) prev(m).toLong else -1L
  }

  /** Per-TASK accumulated candidate volume, keyed by taskAttemptId so it
    * resets at every task (and therefore every micro-batch) boundary.
    * Tasks are single-threaded, so a ThreadLocal is exact; any ONE task
    * crossing the batch-level cap proves the whole batch crossed it, so
    * the check is sound on a multi-executor cluster (it is also complete
    * on local[n] up to n-way splitting). VERDICT r14 #3: the per-doc cap
    * alone let a micro-batch of B docs run B×cap verifies with no abort —
    * 48.6M aggregate at ×30 — while the batch twin's GLOBAL 25M in-plan
    * guard would have aborted the same volume; this closes the
    * aggregate hole at the same threshold as the batch guard.
    */
  private val taskCandVolume = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = Array(-1L, 0L)
  }

  private def accumulateTaskCandidates(n: Long, cap: Long, key: Long,
                                       op: String): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    val tid = if (tc == null) -2L else tc.taskAttemptId()
    val s = taskCandVolume.get()
    if (s(0) != tid) { s(0) = tid; s(1) = 0L }
    s(1) += n
    if (s(1) > cap) throw new IllegalStateException(
      s"$op: accumulated candidate volume ${s(1)} within one task " +
        s"exceeds taskCandidateCap=$cap (last fresh doc $key) - the " +
        "prefix filter is not selective on this corpus. Raise q, lower " +
        "maxDist, rebuild a drifted index, or raise taskCandidateCap " +
        "deliberately. This is the streaming twin of the batch plan's " +
        "global maxCandidates guard.")
  }

  /** Test seam: driver-side unit tests of [[editFold]] have no
    * TaskContext, so the ThreadLocal would otherwise accumulate across
    * tests sharing the runner thread.
    */
  private[graft] def resetTaskCandidateVolume(): Unit = {
    val s = taskCandVolume.get(); s(0) = -1L; s(1) = 0L
  }

  /** Per-fresh-doc edit-distance fold: from THIS batch's rows reconstruct
    * the doc's distinct gram set with corpus dfs, keep its Ed-Join prefix
    * ([[graft.operators.EdJoin.rarest]] — the batch plans' own (df, g)
    * order and cut), collect the candidate corpus docs from prefix-gram
    * collisions plus the short-pool rows, dedup in task memory, apply the
    * candidate-volume guards, and verify each survivor with the banded
    * Levenshtein. Stores only the [[requireFirstArrival]] seen flag.
    */
  private[graft] def editFold(maxDist: Int, q: Int, perDocCap: Int,
                              taskCap: Long, idleTtlMillis: Long = 0L)(
      key: Long, rows: Iterator[EdRow],
      state: org.apache.spark.sql.streaming.GroupState[Boolean]): Iterator[EdPairOut] = {
    if (dropIfTimedOut(state)) return Iterator.empty
    requireFirstArrival(key, state, "ScreenStream.screenEditDistance",
      idleTtlMillis)
    var sF: String = null
    val gramDf = scala.collection.mutable.HashMap.empty[String, Long]
    val gramHits = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Long, String)]]
    val shortHits = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    rows.foreach { r =>
      sF = r.s_f
      if (r.g == null) {
        if (r.corpus_id >= 0L) shortHits += ((r.corpus_id, r.s_c))
      } else {
        if (!gramDf.contains(r.g)) gramDf.update(r.g, r.df)
        if (r.corpus_id >= 0L)
          gramHits.getOrElseUpdate(r.g,
            scala.collection.mutable.ArrayBuffer.empty) += ((r.corpus_id, r.s_c))
      }
    }
    val cands = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    EdJoin.rarest(gramDf, EdJoin.Knobs(maxDist, q)).foreach { g =>
      gramHits.get(g).foreach(_.foreach { case (cid, sc) =>
        if (!cands.contains(cid)) cands.update(cid, sc)
      })
    }
    shortHits.foreach { case (cid, sc) =>
      if (!cands.contains(cid)) cands.update(cid, sc)
    }
    if (cands.size > perDocCap) throw new IllegalStateException(
      s"ScreenStream.screenEditDistance: fresh doc $key generated " +
        s"${cands.size} candidates (cap $perDocCap) — raise q, lower " +
        "maxDist, or raise perDocCandidateCap if the volume is intended")
    accumulateTaskCandidates(cands.size.toLong, taskCap, key,
      "ScreenStream.screenEditDistance")
    val sFv = sF
    val lenF = sFv.codePointCount(0, sFv.length)
    cands.iterator.flatMap { case (cid, sc) =>
      if (math.abs(lenF - sc.codePointCount(0, sc.length)) > maxDist) Iterator.empty
      else {
        val d = bandedLevenshtein(sFv, sc, maxDist)
        if (d >= 0L) Iterator.single(EdPairOut(key, cid, d)) else Iterator.empty
      }
    }
  }

  /** The EDIT-DISTANCE (typo/OCR) ingest screen as a Structured Streaming
    * query — the last screen family to get a live twin: fresh strings
    * ARRIVE as a stream and screen against the standing corpus under the
    * SAME Ed-Join prefix contract as
    * [[graft.operators.Dedup.incrementalEditDistancePairs]] (d20), whose
    * oracle grades this plan verbatim (e43). Same single-stateful-op shape
    * as [[screen]] — every static structure joins BEFORE the fold:
    *
    *  - the corpus side precomputes (batch plans, windows fine): the gram
    *    df table, the per-corpus-doc rarity prefix (rarest
    *    `q·maxDist + 1` distinct grams, carrying the corpus string for
    *    the fold-side verify), and the gram-poor short pool keyed by
    *    length;
    *  - an arriving string's distinct gram ARRAY and its size are
    *    computed in-row (no fresh-side aggregation or window exists);
    *    its gram rows left-join the df table then the corpus prefix —
    *    both stream-static and stateless. The fresh-side prefix CUT moves
    *    into the fold (a streaming frame cannot window-rank), so the
    *    join carries all fresh grams against corpus PREFIXES — corpus
    *    prefixes hold only corpus-RARE grams, so hub grams still never
    *    fan out (the df-cut this family relies on);
    *  - gram-poor arrivals (in-row `size < q·maxDist + 1` — the prefix
    *    theorem's blind spot) also length-band-join the corpus short
    *    pool, exactly d20's exhaustive short route;
    *  - the one stateful operator is [[editFold]]: rank, cut, dedup,
    *    guard, banded-Levenshtein verify — task memory only, state one
    *    seen flag per doc.
    *
    * An AvailableNow append-mode run equals the batch incremental screen
    * on the same split. Emits (fresh_id, corpus_id, dist).
    *
    * ==Candidate-guard contracts, batch vs streaming (VERDICT r14 #3)==
    * The batch plans guard GLOBAL candidate volume: one in-plan count +
    * `raise_error` above `maxCandidates` (default 25M —
    * [[graft.operators.Dedup.DefaultEditCandidateCap]]), aborting before
    * the verify stage pays. A streaming fold cannot count globally
    * without a barrier, so the live screens guard at two grains instead:
    * `perDocCandidateCap` bounds any single fresh doc's candidates
    * (default 2²⁰), and `taskCandidateCap` bounds the volume ACCUMULATED
    * across all docs folded by one task (default = the batch cap, so the
    * two families trip on comparable volumes). Per-task is the tightest
    * sound grain on a cluster — any one task crossing the batch-level
    * cap proves the batch crossed it — but it is not complete: a volume
    * spread evenly over t tasks aborts only past t×cap. Both streaming
    * guards throw from inside a task (failing the query) rather than
    * `raise_error`-ing a plan — same outcome, different stack. All three
    * knobs are explicit parameters precisely so a deployment can align
    * the contracts it cares about.
    */
  def screenEditDistance(freshDocs: DataFrame, corpus: DataFrame,
                         idCol: String, strCol: String,
                         maxDist: Int = 4, q: Int = 4,
                         perDocCandidateCap: Int = 1 << 20,
                         taskCandidateCap: Long =
                           graft.operators.Dedup.DefaultEditCandidateCap,
                         idleTtlMillis: Long = 0L,
                         adaptiveSliceChars: Int = 0,
                         sliceMaxScan: Int = 4096): DataFrame = {
    val k = EdJoin.Knobs(maxDist, q)
    // adaptive pairing window (VERDICT r15 #1): the corpus-wide LCP is a
    // BATCH aggregate over the static side, computed once at plan-build
    // time; both the corpus structures and every arriving string slice at
    // the same frozen offset (the fresh side's slice is a stateless
    // projection — streams fine)
    val slice = EdJoin.slice(corpus, strCol, adaptiveSliceChars, sliceMaxScan)
    // Static corpus structures (the d20 batch plan's own), materialized
    // ONCE before the stream starts (optimization r21, guide §2.4/§5):
    // un-cached, the gram explode + df aggregation + per-doc rarity window
    // all re-ran inside every micro-batch at the stream's state width with
    // AQE off — the dominant slice of e43's addBatch. The shared cs/cg
    // subtrees persist only while the three served frames build, then
    // release; the served caches release at the session sweep. The INDEXED
    // screen ([[screenEditDistanceIndexed]]) stays the corpus-scale path —
    // this bounds the inline variant's derivation at once per run.
    val cs = Caching.persisted(slice.strings(corpus, idCol, strCol, "corpus_id", "s_c"))
    val cg = EdJoin.corpusGrams(cs, k)
    val c = EdJoin.corpus(cs, cg, k)
    val live = c.copy(prefix = c.prefixRows)
    // one action materializes all three served caches (their shared
    // cs/cg/dfq subtrees populate on the way through)
    Caching.materializedAll(live.dfq, live.prefix, live.short)
    cs.unpersist(blocking = false)
    cg.unpersist(blocking = false)
    screenEditCore(freshDocs, idCol, strCol, slice, k, live, perDocCandidateCap,
      taskCandidateCap, idleTtlMillis)
  }

  /** [[screenEditDistance]] against a standing
    * [[graft.operators.Dedup.EditIndex]] — the e45 serving pattern for
    * the typo family: the df/prefix/short probes read the bucketed index
    * tables, so the live screen's per-batch cost excludes every
    * corpus-side derivation. Result-identical to the direct screen (the
    * d20 oracle grades it verbatim; under frozen-order appends the output
    * stays exact by the shared-total-order theorem — see
    * [[graft.operators.Dedup.appendEditIndex]]). Arriving strings slice at
    * an adaptive-window index's FROZEN offset, never at a recomputed LCP.
    */
  def screenEditDistanceIndexed(freshDocs: DataFrame,
                                index: graft.operators.Dedup.EditIndex,
                                idCol: String, strCol: String,
                                perDocCandidateCap: Int = 1 << 20,
                                taskCandidateCap: Long =
                                  graft.operators.Dedup.DefaultEditCandidateCap,
                                idleTtlMillis: Long = 0L): DataFrame =
    screenEditCore(freshDocs, idCol, strCol, index.slice, index.knobs,
      index.corpus(freshDocs.sparkSession), perDocCandidateCap,
      taskCandidateCap, idleTtlMillis)

  /** The shared fresh-side plan behind [[screenEditDistance]] (corpus
    * frames computed inline) and [[screenEditDistanceIndexed]] (corpus
    * frames read from the standing bucketed tables): arriving strings in
    * the window `slice`, gram set + size IN-ROW, stream-static joins with
    * `c`'s df, prefix and short frames (both carrying s_c), then the
    * single [[editFold]].
    */
  private def screenEditCore(freshDocs: DataFrame, idCol: String, strCol: String,
                             slice: EdJoin.Slice, k: EdJoin.Knobs, c: EdJoin.Corpus,
                             perDocCandidateCap: Int,
                             taskCandidateCap: Long,
                             idleTtlMillis: Long): DataFrame = {
    val spark = freshDocs.sparkSession
    import spark.implicits._
    // fresh stream side: gram set + its size IN-ROW
    val f = slice.strings(freshDocs, idCol, strCol, "fresh_id", "s_f")
      .withColumn("__g", EdJoin.gramArray(spark, col("s_f"), k.q))
      .withColumn("ng_f", size(col("__g")))
    // corpus-sized static sides + AQE off inside a micro-batch plan: pin
    // sort-merge so nothing corpus-sized is built resident in one task
    val gramRows = EdJoin.withDf(
        f.select(col("fresh_id"), col("s_f"), explode(col("__g")).as("g")),
        c.dfq.hint("shuffle_merge"))
      .join(c.prefix.hint("shuffle_merge"), Seq("g"), "left")
      .select(col("fresh_id"), col("s_f"), col("g"), col("df"),
        coalesce(col("corpus_id"), lit(-1L)).as("corpus_id"), col("s_c"))
    val shortRows = f.filter(k.poor(col("ng_f")))
      .select(col("fresh_id"), col("s_f"), k.band(length(col("s_f"))).as("len_b"))
      .join(c.short, Seq("len_b"))
      .select(col("fresh_id"), col("s_f"),
        lit(null).cast("string").as("g"), lit(-1L).as("df"),
        col("corpus_id"), col("s_c"))
    foldPerDoc(gramRows.unionByName(shortRows).as[EdRow], idleTtlMillis)(
      editFold(k.maxDist, k.q, perDocCandidateCap, taskCandidateCap, idleTtlMillis))
  }
}
