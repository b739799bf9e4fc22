package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.queries.Q.{dsum, t}
import graft.queries.QueryDef.of

/** North-star extension operators (SURVEY §2.11): dedup, similarity search,
  * text analysis, multimodal plumbing, sessionization. EVERY query here
  * carries a DuckDB oracle:
  *  - directly-SQL-expressible computations as plain SQL over the sf tables;
  *  - minhash-LSH against the exact-Jaccard SQL — at the test corpus's dup
  *    structure (J≈0.99 dups vs ≈0 background) 16 bands × 4 rows has recall
  *    ≈ 1-1e-13, so LSH and exact agree on the ≥0.5 output contract;
  *  - xxhash64-based operators (simhash, hyperplane-LSH ANN, fingerprints)
  *    via materialized hash primitives ([[AuxDumps]], `{{AUX}}` placeholder):
  *    the oracle recomputes all logic downstream of the hash in SQL.
  */
object ExtensionQueries {

  /** Memory-sink names must be unique per invocation within a session (a
    * re-registered name would collide); a monotonic counter is the simplest
    * collision-free source.
    */
  private val sinkCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** The purchase→error interval-join contract shared by e09 (inner) and
    * e19 (left-outer, matched subset): one SQL definition, two feed
    * projections — the two queries must agree on their matched rows by
    * construction, so only the SQL pins the semantics.
    */
  private val purchaseErrorJoinSql =
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
      |  FROM events)
      |SELECT p.event_id AS purchase_id, er.event_id AS error_id, p.user_id
      |FROM e p JOIN e er ON p.user_id = er.user_id
      |  AND er.ts >= p.ts AND er.ts <= p.ts + INTERVAL 1 HOUR
      |WHERE p.event_type = 'purchase' AND er.event_type = 'error'
      |ORDER BY purchase_id, error_id""".stripMargin

  private def purchaseFeed(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.streaming.EventsStream.readEvents(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts"), col("user_id"))

  private def errorFeed(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.streaming.EventsStream.readEvents(s, d)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("ts"), col("user_id"))

  /** The per-key EWMA snapshot contract shared by e20 (single data batch)
    * and e22 (two-data-batch arrival): a key emits one all-events fold in
    * (ts, tie) order iff its idle TTL (1h) expires strictly before the final
    * watermark (max ms-floored event time − 1 min). One SQL definition, two
    * feed shapes — for a ts-ordered batch split the emitted SET is
    * identical by construction (timeouts fire only for keys with no data in
    * the batch, so no key can burst-finalize ahead of its own queued later
    * events), and the shared SQL is what pins that the cross-batch
    * incremental fold stays bit-equal to the single sequential fold.
    */
  private val ewmaSnapshotSql =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS mts, value
      |  FROM events WHERE event_type = 'purchase'),
      |wm AS (
      |  SELECT MAX(epoch_us(mts)) // 1000 - 60000 AS wm_ms FROM e),
      |agg AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |        list(value ORDER BY mts, event_id)),
      |      (a, b) -> a * 0.9 + b * 0.1) AS ewma,
      |    MAX(epoch_us(mts)) // 1000 AS last_ms
      |  FROM e GROUP BY user_id)
      |SELECT user_id, n_events, ewma FROM agg, wm
      |WHERE last_ms + 3600000 < wm.wm_ms
      |ORDER BY user_id"""

  /** Materialize the purchase feed as TWO ts-split single-file batches under
    * a fresh tmp dir — earlier half (`ts ≤ exact median`), later half — with
    * file mtimes stamped 60s apart so the FileStreamSource's
    * modification-time ordering IS the event-time ordering and
    * `maxFilesPerTrigger=1` yields exactly one data micro-batch per half.
    * Mtimes derive from a FIXED epoch (VERDICT r9 #5) — the source only
    * compares the feed's files against each other, never against the wall
    * clock, so a fixed base makes the feed dir bit-reproducible across runs
    * (the tmp-dir name is the one remaining run-unique part).
    * Test-feed constructor for e22: the `coalesce(1)`s and the exact-median
    * aggregate are snapshot-fixture feed-build costs, not part of the
    * operator under measurement.
    */
  private def twoBatchPurchaseFeed(s: org.apache.spark.sql.SparkSession,
                                   d: String): String = {
    val ev = Q.events(s, d).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val midUs = ev.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .head().getDouble(0).toLong
    val root = java.nio.file.Files.createTempDirectory("graft-ewma-feed-")
    def dump(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val p = s"$root/$name"
      df.coalesce(1).write.parquet(p)
      new java.io.File(p).listFiles().foreach(_.setLastModified(mtime))
    }
    val t0 = 1600000000000L // 2020-09-13T12:26:40Z; only relative order matters
    dump(ev.filter(unix_micros(col("ts")) <= midUs), "batch-0", t0)
    dump(ev.filter(unix_micros(col("ts")) > midUs), "batch-1", t0 + 60000)
    root.toString
  }

  /** The m12/m13 test corpus: every document as a media blob PLUS a
    * byte-shifted copy of docs < 20 (one '~' prefix byte, id + 100000) —
    * the shifted-duplicate scenario fixed-size chunking provably misses.
    * Shared by both CDC queries and the m13 boundary aux dump so the three
    * can never construct different corpora.
    */
  private[graft] def shiftedMediaCorpus(s: org.apache.spark.sql.SparkSession,
                                          dir: String): org.apache.spark.sql.DataFrame = {
    val docs = t(s, dir, "documents")
    graft.operators.Multimodal.asMediaTable(docs, "doc_id", "text").union(
      graft.operators.Multimodal.asMediaTable(
        docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(lit("~"), col("text")).as("text")),
        "doc_id", "text"))
  }

  /** Build (once per session + sf dir) the d12 standing shingle index over
    * the `doc_id % 10 < 8` corpus (a fraction window — scales with the
    * data); k=4 and the bucket count are part of the layout identity via
    * the table-name suffix.
    */
  private def ensureShingleIndex(s: org.apache.spark.sql.SparkSession,
                                 dir: String,
                                 corpus: org.apache.spark.sql.DataFrame) = {
    val suffix = graft.sources.BucketedLake.layoutSuffix(dir + "#shingle_k4", 16)
    Dedup.writeShingleIndex(corpus, "doc_id", "text",
      Dedup.ShingleIndex(s"shingle_idx_$suffix", s"shingle_sz_$suffix"))
  }

  /** Build (once per session + sf dir) the d16 standing embedding-signature
    * index over the non-batch corpus (`vec_id % 8 ≠ 0` — d15's split). The
    * source-dir hash keys the name like [[ensureShingleIndex]]; the LSH
    * knobs and bucket count are appended by the writer itself.
    */
  private def ensureEmbeddingIndex(s: org.apache.spark.sql.SparkSession,
                                   dir: String,
                                   corpus: org.apache.spark.sql.DataFrame) =
    Dedup.writeEmbeddingSignatureIndex(corpus, "vec_id", "embedding",
      "emb_idx_" + graft.sources.BucketedLake.layoutSuffix(dir + "#emb", 16))

  /** Build-then-append variant for d17: the standing index is built from
    * HALF the corpus (`vec_id % 8 ∈ {1..3}`) and the other half
    * (`% 8 ∈ {4..7}`) is folded in via
    * [[Dedup.appendEmbeddingSignatureIndex]] — the daily compaction step.
    * Idempotent per (session, dir): the catalog presence of the
    * final signature table is the already-built-AND-appended marker
    * (append is not naturally idempotent — a second append would duplicate
    * rows — so the table name, which embeds the knobs resolved from the
    * INITIAL half, is checked first and the handle reconstructed from the
    * catalog when found).
    */
  private def ensureAppendedEmbeddingIndex(
      s: org.apache.spark.sql.SparkSession, dir: String,
      initial: org.apache.spark.sql.DataFrame,
      appended: org.apache.spark.sql.DataFrame): Dedup.EmbeddingSignatureIndex = {
    val prefix =
      "emb_idxa_" + graft.sources.BucketedLake.layoutSuffix(dir + "#emb_app", 16)
    // the knob input is FROZEN at first derivation (KnobMemo — VERDICT
    // r16 #3): later serves replay the build-time n instead of paying a
    // corpus count to reconstruct the knob-baked table names
    val (b, l) = Dedup.adaptiveLshKnobs(
      graft.operators.KnobMemo.corpusN(s, dir + "#emb_app_initial_n")(
        initial.count()))
    val sigName = s"${prefix}_sig_p${b}x${l}_b16"
    if (s.catalog.tableExists(sigName)) {
      val vecName = s"${prefix}_vec_p${b}x${l}_b16"
      Dedup.EmbeddingSignatureIndex(sigName, vecName, b, l,
        graft.operators.Similarity.vectorDim(initial, "embedding"),
        graft.operators.KnobMemo.corpusN(s, dir + "#emb_app_vec_n")(
          s.table(vecName).count()), 16)
    } else
      Dedup.appendEmbeddingSignatureIndex(appended,
        Dedup.writeEmbeddingSignatureIndex(initial, "vec_id", "embedding",
          prefix),
        "vec_id", "embedding", epoch = 1L)
  }

  /** The fresh-vs-corpus embedding screen contract shared by d15 (direct),
    * d16 (standing signature index) and d17 (index built from half the
    * corpus, other half appended): one SQL definition — replaying the
    * (4,8)-knob signature family from the materialized hyperplane signs,
    * fresh = every 8th vec_id — so the three variants must agree on their
    * output by construction, and the indexed paths' "identical results"
    * claims are pinned by the oracle, not just by ExtensionSpec.
    */
  private val incrementalEmbeddingSql =
    """WITH planes AS (SELECT p, signs FROM read_parquet('{{AUX}}/hyperplanes32/*.parquet')),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |bits AS (
      |  SELECT vec_id, p,
      |    CASE WHEN list_sum(list_transform(list_zip(v, signs), x -> x[1] * x[2])) >= 0
      |      THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      |  FROM e, planes),
      |sigs AS (
      |  SELECT vec_id, p // 4 AS tbl,
      |    CAST(sum(bit * (1::BIGINT << CAST(3 - (p % 4) AS INT))) AS BIGINT) AS sig
      |  FROM bits GROUP BY vec_id, p // 4),
      |cand AS (
      |  SELECT DISTINCT f.vec_id AS fresh_id, c.vec_id AS corpus_id
      |  FROM sigs f JOIN sigs c ON f.tbl = c.tbl AND f.sig = c.sig
      |  WHERE f.vec_id % 8 = 0 AND c.vec_id % 8 <> 0),
      |pairs AS (
      |  SELECT fresh_id, corpus_id,
      |    list_sum(list_transform(list_zip(ef.v, ec.v), x -> x[1] * x[2]))
      |    / (sqrt(list_sum(list_transform(ef.v, x -> x*x)))
      |       * sqrt(list_sum(list_transform(ec.v, x -> x*x)))) AS cosine
      |  FROM cand
      |  JOIN e ef ON ef.vec_id = fresh_id
      |  JOIN e ec ON ec.vec_id = corpus_id)
      |SELECT fresh_id, corpus_id, cosine FROM pairs WHERE cosine >= 0.4
      |ORDER BY fresh_id, corpus_id"""

  /** One deterministic near-dup per vec_id < 50, shifted to id + 10⁶:
    * coordinate i scaled by 1 ± 0.05 on index parity — a pure
    * per-element double expression both engines fold identically, with
    * cosine to the source ≥ 0.998 for ANY input vector (the numerator
    * and both norms scale between 0.95 and 1.05 in lockstep). The s27/
    * s28 recall gates plant these because the base corpus has no true
    * ≥0.9 pairs to measure recall against.
    */
  private def plantNearDups(e: org.apache.spark.sql.DataFrame) =
    e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(v, (x, i) -> x * (1.0D + 0.05D * " +
          "(CASE WHEN i % 2 = 0 THEN 1.0D ELSE -1.0D END)))").as("v"))

  /** The shared (query_id, truth_n, caught_n, recall) rollup of the
    * adaptive recall gates: exact ≥0.9 truth from planted queries ×
    * `others` (50·n work — the s12 property: gate cost independent of
    * the screened structure), left-joined against the screen's caught
    * pairs.
    */
  private[graft] def plantedRecallRollup(planted: org.apache.spark.sql.DataFrame,
                                         others: org.apache.spark.sql.DataFrame,
                                         caught: org.apache.spark.sql.DataFrame) = {
    graft.functions.NativeFunctions.register(planted.sparkSession)
    def withNorm(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("norm", Similarity.l2norm(col("v")))
    val truth = withNorm(planted)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qn"))
      .crossJoin(withNorm(others)
        .select(col("vec_id").as("other_id"), col("v").as("ov"),
          col("norm").as("onn")))
      .filter(col("query_id") =!= col("other_id"))
      .filter(Similarity.dot(col("qv"), col("ov")) /
        (col("qn") * col("onn")) >= 0.9)
      .select("query_id", "other_id")
    truth
      .join(caught.withColumn("hit", lit(1L)),
        Seq("query_id", "other_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("truth_n"),
        sum(coalesce(col("hit"), lit(0L))).as("caught_n"))
      .withColumn("recall",
        col("caught_n").cast("double") / col("truth_n").cast("double"))
      .orderBy("query_id")
  }

  /** The planted-universe CTEs shared by the s27/s28 oracles: base
    * vectors, the deterministic plants (the [[plantNearDups]] expression
    * verbatim), their union, and the exact ≥0.9 truth of planted
    * queries × `truthRel`.
    */
  private def plantedGateCtes(truthRel: String) =
    s"""base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |plant AS (
      |  SELECT vec_id + 1000000 AS vec_id,
      |    list_transform(range(0, len(v)), i -> v[CAST(i + 1 AS INT)] *
      |      (1.0 + 0.05 * (CASE WHEN i % 2 = 0 THEN 1.0 ELSE -1.0 END))) AS v
      |  FROM base WHERE vec_id < 50),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM plant),
      |truth AS (
      |  SELECT p.vec_id AS query_id, o.vec_id AS other_id
      |  FROM plant p JOIN $truthRel o ON o.vec_id <> p.vec_id
      |  WHERE list_sum(list_transform(list_zip(p.v, o.v), x -> x[1] * x[2]))
      |    / (sqrt(list_sum(list_transform(p.v, x -> x*x)))
      |       * sqrt(list_sum(list_transform(o.v, x -> x*x)))) >= 0.9)"""

  private val plantedGateSelect =
    """SELECT t.query_id,
      |  CAST(COUNT(*) AS BIGINT) AS truth_n,
      |  CAST(COUNT(c.other_id) AS BIGINT) AS caught_n,
      |  CAST(COUNT(c.other_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
      |FROM truth t LEFT JOIN caught c
      |  ON c.query_id = t.query_id AND c.other_id = t.other_id
      |GROUP BY t.query_id ORDER BY t.query_id"""

  private val adaptiveLshRecallSql =
    s"""WITH planes AS (SELECT p, signs, b FROM read_parquet('{{AUX}}/adaptive_planes/*.parquet')),
      |sigk AS (SELECT CAST(any_value(b) AS BIGINT) AS b FROM planes),
      |${plantedGateCtes("u")},
      |bits AS (
      |  SELECT vec_id, p,
      |    CASE WHEN list_sum(list_transform(list_zip(v, signs), x -> x[1] * x[2])) >= 0
      |      THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      |  FROM u, planes),
      |sigs AS (
      |  SELECT vec_id, p // (SELECT b FROM sigk) AS tbl,
      |    CAST(sum(bit * (1::BIGINT << CAST((SELECT b FROM sigk) - 1 - (p % (SELECT b FROM sigk)) AS INT))) AS BIGINT) AS sig
      |  FROM bits GROUP BY vec_id, p // (SELECT b FROM sigk)),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
      |  FROM sigs a JOIN sigs b2 ON a.tbl = b2.tbl AND a.sig = b2.sig
      |    AND a.vec_id < b2.vec_id
      |  WHERE a.vec_id >= 1000000 OR b2.vec_id >= 1000000),
      |hits AS (
      |  SELECT id_a, id_b
      |  FROM cand
      |  JOIN u ua ON ua.vec_id = id_a
      |  JOIN u ub ON ub.vec_id = id_b
      |  WHERE list_sum(list_transform(list_zip(ua.v, ub.v), x -> x[1] * x[2]))
      |    / (sqrt(list_sum(list_transform(ua.v, x -> x*x)))
      |       * sqrt(list_sum(list_transform(ub.v, x -> x*x)))) >= 0.9),
      |caught AS (
      |  SELECT CASE WHEN id_b >= 1000000 THEN id_b ELSE id_a END AS query_id,
      |         CASE WHEN id_b >= 1000000 THEN id_a ELSE id_b END AS other_id
      |  FROM hits
      |  UNION ALL
      |  SELECT id_a, id_b FROM hits
      |  WHERE id_a >= 1000000 AND id_b >= 1000000)
      |$plantedGateSelect"""

  private val adaptiveMihRecallSql =
    s"""WITH mplanes AS (SELECT p, signs, bits FROM read_parquet('{{AUX}}/adaptive_mih_planes/*.parquet')),
      |mk AS (SELECT CAST(any_value(bits) AS BIGINT) AS b FROM mplanes),
      |${plantedGateCtes("base")},
      |fb AS (
      |  SELECT vec_id, p,
      |    CASE WHEN list_sum(list_transform(list_zip(v, signs), x -> x[1] * x[2])) >= 0
      |      THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      |  FROM plant, mplanes),
      |cb AS (
      |  SELECT vec_id, p,
      |    CASE WHEN list_sum(list_transform(list_zip(v, signs), x -> x[1] * x[2])) >= 0
      |      THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      |  FROM base, mplanes),
      |fc AS (
      |  SELECT vec_id, p // (SELECT b FROM mk) AS band,
      |    CAST(sum(bit * (1::BIGINT << CAST((SELECT b FROM mk) - 1 - (p % (SELECT b FROM mk)) AS INT))) AS BIGINT) AS band_val
      |  FROM fb GROUP BY vec_id, p // (SELECT b FROM mk)),
      |cc AS (
      |  SELECT vec_id, p // (SELECT b FROM mk) AS band,
      |    CAST(sum(bit * (1::BIGINT << CAST((SELECT b FROM mk) - 1 - (p % (SELECT b FROM mk)) AS INT))) AS BIGINT) AS band_val
      |  FROM cb GROUP BY vec_id, p // (SELECT b FROM mk)),
      |cand AS (
      |  SELECT DISTINCT f.vec_id AS query_id, c.vec_id AS other_id
      |  FROM fc f JOIN cc c ON f.band = c.band AND f.band_val = c.band_val),
      |ham AS (
      |  SELECT ca.query_id, ca.other_id,
      |    CAST(SUM(bit_count(xor(a.band_val, b2.band_val))) AS BIGINT) AS hamming
      |  FROM cand ca
      |  JOIN fc a ON a.vec_id = ca.query_id
      |  JOIN cc b2 ON b2.vec_id = ca.other_id AND b2.band = a.band
      |  GROUP BY ca.query_id, ca.other_id),
      |caught AS (SELECT query_id, other_id FROM ham WHERE hamming <= 3)
      |$plantedGateSelect"""

  /** Gap-based session numbering (30-min inactivity): every event tagged
    * with its (user_id, session_no) — the shared batch core of e01
    * (session aggregation) and e08 (session intervals as range-join input).
    */
  private def gapSessions(ev: org.apache.spark.sql.DataFrame) = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000, 1L)
          .otherwise(0L))
      .withColumn("session_no",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Shared oracle CTEs mirroring [[gapSessions]]: `gaps` (new-session
    * flags) and `numbered` (per-event session_no) — consumed by the e01,
    * e04 and e08 oracles so the session semantics live in ONE place on the
    * SQL side too.
    */
  /** Shared oracle fragment mirroring [[graft.operators.Multimodal.hexChunks]]
    * (64-byte chunks, hex offsets) over the ≤50-doc media subset — consumed
    * by the m02 and m04 oracles so the chunk math lives in ONE place on the
    * SQL side too.
    */
  private def hexChunkSqlWhere(where: String) =
    s"""SELECT doc_id, i AS chunk_no,
      |    substring(hex(CAST(text AS BLOB)), CAST(i*128+1 AS INT), 128) AS chunk_hex
      |  FROM documents,
      |    UNNEST(range(0, CAST(ceil(octet_length(CAST(text AS BLOB)) / 64.0) AS BIGINT))) AS u(i)
      |  $where""".stripMargin

  private val hexChunkSql = hexChunkSqlWhere("WHERE doc_id <= 50")

  /** Full-corpus chunk layout (m07 scans every blob — near-dup candidates
    * must come from the whole corpus, not the bounded m02 subset).
    */
  private val hexChunkAllSql = hexChunkSqlWhere("")

  /** The t33/e32 shared oracle: from-scratch drift statistic at the
    * doc_id % 10 split, so the batch alarm and the streaming monitor
    * grade against one SQL definition.
    */
  /** The t34 decontamination oracle — shared verbatim by the streaming
    * twin (e35): both maintenance paths must produce the identical per-doc
    * audit.
    */
  private val t34OracleSql = {
    val cat = (0 until 8).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, $cat AS g
      |  FROM toks, UNNEST(range(1, len(tk) - 6)) AS u(i)),
      |cg AS (SELECT doc_id, g FROM sh WHERE doc_id >= 50),
      |bg AS (SELECT doc_id AS bench_id, g FROM sh WHERE doc_id < 50),
      |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM cg GROUP BY doc_id),
      |hits AS (
      |  SELECT cg.doc_id, CAST(COUNT(DISTINCT cg.g) AS BIGINT) AS n_hit,
      |    CAST(COUNT(DISTINCT bg.bench_id) AS BIGINT) AS n_bench_docs
      |  FROM cg JOIN bg ON bg.g = cg.g GROUP BY cg.doc_id)
      |SELECT d.doc_id, COALESCE(sz.n_grams, 0) AS n_grams,
      |  COALESCE(h.n_hit, 0) AS n_hit,
      |  COALESCE(h.n_bench_docs, 0) AS n_bench_docs,
      |  CASE WHEN COALESCE(sz.n_grams, 0) > 0
      |    THEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(sz.n_grams AS DOUBLE)
      |    ELSE CAST(0.0 AS DOUBLE) END AS frac
      |FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id >= 50) d
      |LEFT JOIN sz ON sz.doc_id = d.doc_id
      |LEFT JOIN hits h ON h.doc_id = d.doc_id
      |ORDER BY d.doc_id"""
  }

  /** The d21/e36 shared oracle: the from-scratch recursive closure over
    * ALL documents' pairs — the incremental batch fold and the streaming
    * pair-state serve must BOTH land bit-identical to a full re-cluster.
    */
  private lazy val d21OracleSql =
    s"""WITH RECURSIVE ${jaccardCtes(None)},
      |edges AS (
      |  SELECT id_a, id_b FROM jp UNION ALL SELECT id_b, id_a FROM jp),
      |reach(id, label) AS (
      |  SELECT id_a, id_a FROM edges
      |  UNION
      |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON r.id = e.id_b)
      |SELECT id AS doc_id, MIN(label) AS cluster,
      |  id = MIN(label) AS is_survivor
      |FROM reach GROUP BY id ORDER BY doc_id"""

  private val t33OracleSql =
    """WITH ct AS (
        |  SELECT u.tok, CAST(COUNT(*) AS BIGINT) AS corpus_n
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents
        |        WHERE doc_id % 10 <> 0) d, UNNEST(tk) AS u(tok)
        |  GROUP BY u.tok),
        |top AS (SELECT tok, corpus_n,
        |    CAST(ROW_NUMBER() OVER (ORDER BY corpus_n DESC, tok) AS INT) AS rank
        |  FROM ct QUALIFY rank <= 50),
        |ft AS (
        |  SELECT u.tok, CAST(COUNT(*) AS BIGINT) AS fresh_n
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents
        |        WHERE doc_id % 10 = 0) d, UNNEST(tk) AS u(tok)
        |  GROUP BY u.tok),
        |j AS (SELECT top.rank, top.tok, top.corpus_n,
        |    COALESCE(ft.fresh_n, 0) AS fresh_n
        |  FROM top LEFT JOIN ft USING (tok)),
        |tot AS (SELECT CAST(SUM(corpus_n) AS BIGINT) AS c_tot,
        |    CAST(SUM(fresh_n) AS BIGINT) AS f_tot FROM j)
        |SELECT j.rank, j.tok, j.corpus_n, j.fresh_n,
        |  CAST(tot.f_tot AS DOUBLE) * CAST(j.corpus_n AS DOUBLE) / CAST(tot.c_tot AS DOUBLE) AS expected,
        |  (CAST(j.fresh_n AS DOUBLE) - CAST(tot.f_tot AS DOUBLE) * CAST(j.corpus_n AS DOUBLE) / CAST(tot.c_tot AS DOUBLE))
        |    * (CAST(j.fresh_n AS DOUBLE) - CAST(tot.f_tot AS DOUBLE) * CAST(j.corpus_n AS DOUBLE) / CAST(tot.c_tot AS DOUBLE))
        |    / (CAST(tot.f_tot AS DOUBLE) * CAST(j.corpus_n AS DOUBLE) / CAST(tot.c_tot AS DOUBLE)) AS contrib
        |FROM j CROSS JOIN tot ORDER BY rank"""

  /** The m09/m10 shared oracle: from-scratch fresh-vs-corpus chunk screen
    * at the doc_id % 10 split, so the direct and the standing-index
    * maintenance paths grade against one SQL definition.
    */
  private val chunkScreenOracle =
    s"""WITH c AS ($hexChunkAllSql),
      |d AS (SELECT DISTINCT doc_id, chunk_hex FROM c),
      |df AS (SELECT doc_id AS fresh_id, chunk_hex FROM d WHERE doc_id % 10 = 0),
      |dc AS (SELECT doc_id AS corpus_id, chunk_hex FROM d WHERE doc_id % 10 <> 0),
      |szf AS (SELECT fresh_id, CAST(COUNT(*) AS BIGINT) AS sz_f FROM df GROUP BY 1),
      |szc AS (SELECT corpus_id, CAST(COUNT(*) AS BIGINT) AS sz_c FROM dc GROUP BY 1),
      |sh AS (SELECT df.fresh_id, dc.corpus_id, CAST(COUNT(*) AS BIGINT) AS inter
      |  FROM df JOIN dc USING (chunk_hex) GROUP BY 1, 2)
      |SELECT sh.fresh_id, sh.corpus_id, sh.inter, szf.sz_f, szc.sz_c,
      |  CAST(sh.inter AS DOUBLE) / CAST(szf.sz_f + szc.sz_c - sh.inter AS DOUBLE) AS jaccard
      |FROM sh JOIN szf USING (fresh_id) JOIN szc USING (corpus_id)
      |WHERE CAST(sh.inter AS DOUBLE) / CAST(szf.sz_f + szc.sz_c - sh.inter AS DOUBLE) >= 0.5
      |ORDER BY fresh_id, corpus_id""".stripMargin

  private val gapSessionCtes =
    """gaps AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
      |      > INTERVAL 30 MINUTE OR LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |numbered AS (
      |  SELECT user_id, event_id, ts,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM gaps)"""

  /** Shared oracle: exact k=4 word-shingle Jaccard pairs at J ≥ 0.5, with
    * an optional df-cut (shingles in more than `maxDocFreq` docs dropped
    * before pairing — mirroring Dedup.ngramJaccardPairs' cut). Shape
    * mirrors the operator: distinct (doc, shingle) → [cut] → self-join →
    * pair counts → set sizes → ratio.
    */
  private def jaccardCtes(maxDocFreq: Option[Int],
                          table: String = "documents") = {
    val kept = maxDocFreq match {
      case Some(cap) =>
        s"""SELECT doc_id, shingle FROM sh
           |  WHERE shingle IN (
           |    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= $cap)"""
      case None => "SELECT doc_id, shingle FROM sh"
    }
    s"""${shingleInterCtes(kept, table)},
      |jp AS (
      |  SELECT id_a, id_b,
      |    inter / (sa.set_size + sb.set_size - inter) AS jaccard
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |  WHERE inter / (sa.set_size + sb.set_size - inter) >= 0.5)"""
  }

  /** The shingle/size/intersection base CTEs (through `inter`) shared by the
    * Jaccard oracles and the containment oracle — one definition of the
    * k=4 shingling and the pair-intersection count on the SQL side too.
    */
  private def shingleInterCtes(kept: String, table: String = "documents") =
    s"""toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM $table),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS shingle
      |  FROM toks, UNNEST(range(1, len(tk) - 2)) AS u(i)),
      |kept AS ($kept),
      |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM kept GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)"""

  private def jaccardOracle(maxDocFreq: Option[Int] = None) =
    s"""WITH ${jaccardCtes(maxDocFreq)}
      |SELECT id_a, id_b, jaccard FROM jp ORDER BY id_a, id_b"""

  /** The leakage-safe split contract shared by t46 (batch) and e48 (the
    * split served live at ingest): d08's recursive closure, the
    * singleton fallback, and BOTH hash-bucket splits (cluster
    * representative's and the doc's own, for the `moved` audit) replayed
    * from the doc_hashes dump.
    */
  private val t46OracleSql =
    s"""WITH RECURSIVE ${jaccardCtes(None)},
      |edges AS (
      |  SELECT id_a, id_b FROM jp UNION ALL SELECT id_b, id_a FROM jp),
      |reach(id, label) AS (
      |  SELECT id_a, id_a FROM edges
      |  UNION
      |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON r.id = e.id_b),
      |cl AS (SELECT id AS doc_id, MIN(label) AS cluster FROM reach GROUP BY id),
      |lab AS (
      |  SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS cluster
      |  FROM documents d LEFT JOIN cl USING (doc_id)),
      |dh AS (SELECT doc_id, ((h % 100) + 100) % 100 AS bucket
      |  FROM read_parquet('{{AUX}}/doc_hashes/*.parquet'))
      |SELECT l.doc_id, l.cluster,
      |  CASE WHEN ch.bucket < 90 THEN 'train'
      |       WHEN ch.bucket < 95 THEN 'val' ELSE 'test' END AS split,
      |  (CASE WHEN ch.bucket < 90 THEN 'train'
      |        WHEN ch.bucket < 95 THEN 'val' ELSE 'test' END)
      |    <> (CASE WHEN oh.bucket < 90 THEN 'train'
      |             WHEN oh.bucket < 95 THEN 'val' ELSE 'test' END) AS moved
      |FROM lab l JOIN dh ch ON ch.doc_id = l.cluster
      |JOIN dh oh ON oh.doc_id = l.doc_id
      |ORDER BY l.doc_id"""

  /** The t21 quality-gate CTE chain (metrics from the t02/t12 fragments,
    * per-rule flags, conjunctive keep), shared by the batch gate (t21) and
    * its streaming-yield twin (e16) so the two oracles cannot drift.
    */
  private val qualityGateCtes =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk, length(text) AS nchars
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, i, tk[i + 1] AS tok
      |  FROM toks, UNNEST(range(len(tk))) AS r(i)),
      |runs AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS run
      |  FROM (SELECT doc_id, tok,
      |          i - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY i) AS grp
      |        FROM pos) g
      |  GROUP BY doc_id, tok, grp),
      |mr AS (SELECT doc_id, MAX(run) AS max_run FROM runs GROUP BY doc_id),
      |bg AS (
      |  SELECT doc_id, tk[i + 1] || ' ' || tk[i + 2] AS bigram
      |  FROM toks, UNNEST(range(len(tk) - 1)) AS r(i) WHERE len(tk) >= 2),
      |bgc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM bg GROUP BY doc_id, bigram),
      |tb AS (SELECT doc_id, MAX(c) AS top_bigram_n FROM bgc GROUP BY doc_id),
      |m AS (
      |  SELECT t.doc_id,
      |    CAST(len(t.tk) AS BIGINT) AS n_tokens,
      |    CAST(t.nchars - (len(t.tk) - 1) AS DOUBLE) / len(t.tk) AS mean_token_len,
      |    CAST(len(list_filter(t.tk,
      |      x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'is')) AS DOUBLE)
      |      / len(t.tk) AS stopword_ratio,
      |    COALESCE(CAST(tb.top_bigram_n AS DOUBLE) / (len(t.tk) - 1), 0.0) AS top_bigram_frac,
      |    mr.max_run
      |  FROM toks t JOIN mr USING (doc_id) LEFT JOIN tb USING (doc_id)),
      |gated AS (
      |  SELECT m.*,
      |    n_tokens BETWEEN 20 AND 90 AS r_len,
      |    mean_token_len BETWEEN 4.0 AND 5.0 AS r_mean_len,
      |    stopword_ratio >= 0.03 AS r_stop,
      |    top_bigram_frac <= 0.1 AS r_rep,
      |    max_run <= 2 AS r_run,
      |    (n_tokens BETWEEN 20 AND 90) AND (mean_token_len BETWEEN 4.0 AND 5.0)
      |      AND stopword_ratio >= 0.03 AND top_bigram_frac <= 0.1
      |      AND max_run <= 2 AS keep
      |  FROM m)"""

  /** BPE-training oracle: word counts once, then `rounds` unrolled
    * count→argmax→replace steps over the vocabulary table — the same
    * replace-scan merge contract as CorpusOps.bpeMerges, so the learned
    * merge table matches row for row.
    */
  /** The BPE training CTE chain (word counts, spaced symbol strings, then
    * `rounds` count→argmax→replace steps) shared by the trainer oracle
    * (t25) and the tokenizer-application oracle (t26): after round R,
    * `symR.s` IS the vocabulary encoded by the first R merges, so the
    * apply oracle reads the trainer's own final state rather than
    * re-deriving the merge walk a second way.
    */
  private def bpeCtes(rounds: Int): String = {
    def roundCtes(r: Int) = {
      val prev = if (r == 1) "sym0" else s"sym${r - 1}"
      s"""p$r AS (
        |  SELECT sp[i + 1] AS l, sp[i + 2] AS r, CAST(SUM(n) AS BIGINT) AS c
        |  FROM (SELECT n, string_split(trim(s), ' ') AS sp FROM $prev) x,
        |    UNNEST(range(len(sp) - 1)) AS u(i)
        |  GROUP BY 1, 2),
        |m$r AS (SELECT l, r, c FROM p$r ORDER BY c DESC, l, r LIMIT 1),
        |sym$r AS (
        |  SELECT w, n,
        |    replace(s, ' ' || m.l || ' ' || m.r || ' ', ' ' || m.l || m.r || ' ') AS s
        |  FROM $prev, m$r m)"""
    }
    s"""wc AS (
      |  SELECT u.tok AS w, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM (SELECT string_split(text, ' ') AS tk FROM documents) d,
      |    UNNEST(tk) AS u(tok) WHERE len(u.tok) > 0 GROUP BY 1),
      |sym0 AS (
      |  SELECT w, n, ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s
      |  FROM wc),
      |${(1 to rounds).map(roundCtes).mkString(",\n")}"""
  }

  private def bpeOracle(rounds: Int): String =
    s"""WITH ${bpeCtes(rounds)}
      |${(1 to rounds).map(r =>
        s"""SELECT $r AS round, l AS "left", r AS "right", l || r AS merged, c AS weighted_count FROM m$r""")
        .mkString("\nUNION ALL\n")}
      |ORDER BY round"""

  /** t26: per-doc token counts under the learned tokenizer — the encoded
    * vocabulary is the trainer chain's own final symbol state (`symR`), so
    * a drift between "what training merged" and "what encoding applies"
    * is impossible by construction on the oracle side, and the Spark side
    * is pinned to it value-for-value.
    */
  private def bpeApplyOracle(rounds: Int): String =
    s"""WITH ${bpeCtes(rounds)},
      |enc AS (
      |  SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_bpe
      |  FROM sym$rounds),
      |docw AS (
      |  SELECT doc_id, u.tok AS w
      |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
      |    UNNEST(tk) AS u(tok) WHERE len(u.tok) > 0)
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
      |  CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens
      |FROM docw JOIN enc USING (w)
      |GROUP BY doc_id ORDER BY doc_id"""

  /** PageRank oracle: the jp pair graph symmetrized, then `iters` unrolled
    * rank rounds. Every constant is forced through DOUBLE arithmetic and the
    * per-node rank sum is GraphOps.quantizedSum's tree — each message
    * floor-quantized to 10⁻¹⁸ fixed point (deterministic IEEE multiply +
    * floor), summed exactly as HUGEINT (DuckDB's 128-bit exact adder,
    * mirroring Spark's DECIMAL(38,0)), converted to double once — so ranks
    * bit-match with NO ordered fold on either side.
    */
  private def pagerankOracle(iters: Int, damping: Double): String = {
    val d = s"CAST($damping AS DOUBLE)"
    val itCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s"""it$i AS (
        |  SELECT e.t AS id,
        |    (CAST(1.0 AS DOUBLE) - $d) / nn.n + $d *
        |      (CAST(SUM(CAST(floor(r.pr / dg.d * 1e18) AS HUGEINT)) AS DOUBLE) / 1e18) AS pr
        |  FROM edges0 e JOIN $prev r ON r.id = e.s JOIN deg dg ON dg.s = e.s, nn
        |  GROUP BY e.t, nn.n)"""
    }.mkString(",\n")
    s"""WITH ${jaccardCtes(None)},
      |edges0 AS (SELECT id_a AS s, id_b AS t FROM jp
      |           UNION ALL SELECT id_b, id_a FROM jp),
      |deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM edges0 GROUP BY s),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
      |r0 AS (SELECT s AS id, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM deg, nn),
      |$itCtes
      |SELECT f.id, dg.d AS degree, f.pr AS pagerank
      |FROM it$iters f JOIN deg dg ON dg.s = f.id
      |ORDER BY f.id"""
  }

  /** Weighted-PageRank oracle: the jp pair graph symmetrized WITH its
    * Jaccard weights, per-source strengths and per-destination rank
    * messages both summed through the GraphOps.quantizedSum tree (HUGEINT
    * exact adder), `iters` unrolled rounds — bit-matching with no ordered
    * fold at either aggregation.
    */
  private def weightedPagerankOracle(iters: Int, damping: Double): String = {
    val d = s"CAST($damping AS DOUBLE)"
    val itCtes = (1 to iters).map { i =>
      val prev = if (i == 1) "r0" else s"it${i - 1}"
      s"""it$i AS (
        |  SELECT e.t AS id,
        |    (CAST(1.0 AS DOUBLE) - $d) / nn.n + $d *
        |      (CAST(SUM(CAST(floor(r.pr * (e.w / st.strength) * 1e18) AS HUGEINT)) AS DOUBLE) / 1e18) AS pr
        |  FROM edges0 e JOIN $prev r ON r.id = e.s JOIN str st ON st.s = e.s, nn
        |  GROUP BY e.t, nn.n)"""
    }.mkString(",\n")
    s"""WITH ${jaccardCtes(None)},
      |edges0 AS (SELECT id_a AS s, id_b AS t, jaccard AS w FROM jp
      |           UNION ALL SELECT id_b, id_a, jaccard FROM jp),
      |str AS (SELECT s,
      |    CAST(SUM(CAST(floor(w * 1e18) AS HUGEINT)) AS DOUBLE) / 1e18 AS strength,
      |    CAST(COUNT(*) AS BIGINT) AS d
      |  FROM edges0 GROUP BY s),
      |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM str),
      |r0 AS (SELECT s AS id, CAST(1.0 AS DOUBLE) / nn.n AS pr FROM str, nn),
      |$itCtes
      |SELECT f.id, st.d AS degree, st.strength, f.pr AS pagerank
      |FROM it$iters f JOIN str st ON st.s = f.id
      |ORDER BY f.id"""
  }

  /** Triangle-census oracle: the jp pair graph canonicalized, every edge
    * oriented toward its (degree, id)-larger endpoint, wedges generated at
    * the oriented source and closed against the canonical edge key —
    * operation for operation the GraphOps.triangleStats plan, so counts and
    * the clustering-coefficient doubles match exactly.
    */
  private val triangleOracle =
    s"""WITH ${jaccardCtes(None)},
      |und AS (SELECT id_a AS a, id_b AS b FROM jp),
      |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
      |        FROM (SELECT id_a AS id FROM jp UNION ALL SELECT id_b FROM jp) n
      |        GROUP BY id),
      |ori AS (
      |  SELECT CASE WHEN da.degree < db.degree
      |                   OR (da.degree = db.degree AND a < b) THEN a ELSE b END AS s,
      |         CASE WHEN da.degree < db.degree
      |                   OR (da.degree = db.degree AND a < b) THEN b ELSE a END AS t
      |  FROM und JOIN deg da ON da.id = a JOIN deg db ON db.id = b),
      |tri AS (
      |  SELECT x.s AS u, x.t AS v, y.t AS w
      |  FROM ori x JOIN ori y ON x.s = y.s AND x.t < y.t
      |  JOIN und e ON e.a = LEAST(x.t, y.t) AND e.b = GREATEST(x.t, y.t)),
      |pn AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles
      |       FROM (SELECT u AS id FROM tri UNION ALL SELECT v FROM tri
      |             UNION ALL SELECT w FROM tri) z
      |       GROUP BY id)
      |SELECT d.id, d.degree, COALESCE(pn.triangles, 0) AS triangles,
      |  CASE WHEN d.degree >= 2
      |       THEN (CAST(2.0 AS DOUBLE) * COALESCE(pn.triangles, 0))
      |            / (d.degree * (d.degree - 1))
      |       ELSE CAST(0.0 AS DOUBLE) END AS clustering
      |FROM deg d LEFT JOIN pn ON pn.id = d.id
      |ORDER BY d.id"""

  /** Fixed-round k-core oracle mirroring GraphOps.kCore's peel semantics
    * (g07). The state carried round-to-round is the SYMMETRIZED edge list;
    * each round keeps the edges whose BOTH endpoint degrees (one window
    * pass over the previous round's rows) are ≥ k — removing an edge set
    * identical to removing the below-k nodes, and preserving symmetry
    * because the keep condition is endpoint-symmetric. Each CTE references
    * its predecessor exactly ONCE: DuckDB inlines CTEs, so a peel written
    * as `a IN (SELECT …)` (two refs per round) re-evaluates the expensive
    * Jaccard chain 4^rounds times and never finishes — single-reference
    * window rounds keep the oracle linear in `rounds`. All quantities are
    * integer counts, so there is nothing to quantize.
    *
    * Survivors after round R are the nodes whose degree in round R−1's
    * edge set is ≥ k (NOT the endpoints of round R's edges — a survivor
    * whose neighbors all peel in the same round has core_degree 0 but is
    * still a survivor), so the last round is computed as explicit ds/dt
    * columns and read twice: once for the survivor set, once for the
    * within-core degree.
    */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    require(rounds >= 1)
    s"""WITH ${kcoreChain(k, rounds)}
      |SELECT surv.id, fd.degree, COALESCE(cd.core_degree, 0) AS core_degree
      |FROM surv JOIN fullD fd ON fd.id = surv.id
      |LEFT JOIN coreD cd ON cd.id = surv.id
      |ORDER BY surv.id"""
  }

  /** The k-core peel CTE chain (through `surv` and `coreD`) shared by the
    * row-level oracle (g07) and the degeneracy-profile oracle (g09).
    */
  private def kcoreChain(k: Int, rounds: Int): String = {
    val itCtes = (1 until rounds).map { i =>
      val prev = if (i == 1) "sym0" else s"sym${i - 1}"
      s"""sym$i AS (
        |  SELECT s, t FROM (
        |    SELECT s, t, COUNT(*) OVER (PARTITION BY s) AS ds,
        |      COUNT(*) OVER (PARTITION BY t) AS dt
        |    FROM $prev) w
        |  WHERE ds >= $k AND dt >= $k)"""
    }.map(_ + ",\n").mkString
    val last = if (rounds == 1) "sym0" else s"sym${rounds - 1}"
    s"""${jaccardCtes(None)},
      |und AS (SELECT id_a AS a, id_b AS b FROM jp WHERE id_a <> id_b),
      |fullD AS (
      |  SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
      |  FROM (SELECT unnest([a, b]) AS id FROM und) n GROUP BY id),
      |sym0 AS (SELECT a AS s, b AS t FROM und UNION ALL SELECT b, a FROM und),
      |${itCtes}dlast AS (
      |  SELECT s, t, COUNT(*) OVER (PARTITION BY s) AS ds,
      |    COUNT(*) OVER (PARTITION BY t) AS dt
      |  FROM $last),
      |surv AS (SELECT DISTINCT s AS id FROM dlast WHERE ds >= $k),
      |coreD AS (
      |  SELECT s AS id, CAST(COUNT(*) AS BIGINT) AS core_degree
      |  FROM dlast WHERE ds >= $k AND dt >= $k GROUP BY s)"""
  }

  /** The g10 coreness-decomposition oracle: the SEQUENTIAL fixed-round
    * peel replayed over the symmetrized edge state — for k = 1..kMax,
    * `rounds` window-filter CTEs at threshold k, each level resuming from
    * the previous level's final edge set (exactly
    * GraphOps.corenessDecomposition's schedule). Level-k survivors are
    * nodes with degree ≥ k in the level's LAST-round input (the g07
    * dlast subtlety: a survivor whose neighbors all peel in the final
    * round has no surviving edge but IS alive), coreness = deepest level
    * survived, 0 for level-1 drops. Each CTE references its predecessor
    * once; the per-level survivor reads re-reference one mid-chain window
    * CTE each — kMax extra window passes, linear, never the 2-refs-per-
    * round 4^rounds inlining trap.
    */
  private def corenessOracle(kMax: Int, rounds: Int): String = {
    require(kMax >= 1 && rounds >= 1)
    val chain = (1 to kMax).flatMap { k =>
      (1 to rounds).map { i =>
        val prev =
          if (i > 1) s"e${k}_${i - 1}"
          else if (k == 1) "sym0"
          else s"e${k - 1}_$rounds"
        s"""w${k}_$i AS (
          |  SELECT s, t, COUNT(*) OVER (PARTITION BY s) AS ds,
          |    COUNT(*) OVER (PARTITION BY t) AS dt
          |  FROM $prev),
          |e${k}_$i AS (SELECT s, t FROM w${k}_$i WHERE ds >= $k AND dt >= $k)"""
      }
    }.mkString(",\n|")
    val survs = (1 to kMax).map { k =>
      s"""surv$k AS (SELECT DISTINCT s AS id FROM w${k}_$rounds WHERE ds >= $k)"""
    }.mkString(",\n|")
    val union = (1 to kMax).map(k => s"SELECT id, $k AS k FROM surv$k")
      .mkString("\n|    UNION ALL ")
    s"""WITH ${jaccardCtes(None)},
      |und AS (SELECT id_a AS a, id_b AS b FROM jp WHERE id_a <> id_b),
      |allN AS (SELECT DISTINCT id FROM (SELECT unnest([a, b]) AS id FROM und) n),
      |sym0 AS (SELECT a AS s, b AS t FROM und UNION ALL SELECT b, a FROM und),
      |$chain,
      |$survs,
      |lab AS (
      |  SELECT id, CAST(MAX(k) AS BIGINT) AS coreness FROM (
      |    $union) u GROUP BY id)
      |SELECT n.id, COALESCE(l.coreness, 0) AS coreness
      |FROM allN n LEFT JOIN lab l ON l.id = n.id
      |ORDER BY n.id"""
  }

  /** The g09 degeneracy-profile oracle: one peel chain per k, each mounted
    * as a subquery-local WITH, rolled up to (k, nodes, edges) and
    * union-stacked. SUM over an empty core is NULL on both engines — the
    * honest end-of-curve marker.
    */
  private def kcoreProfileOracle(ks: Seq[Int], rounds: Int): String =
    ks.map { k =>
      s"""SELECT $k AS k, CAST(COUNT(*) AS BIGINT) AS n_core_nodes,
        |  CAST(SUM(core_degree) // 2 AS BIGINT) AS n_core_edges
        |FROM (WITH ${kcoreChain(k, rounds)}
        |  SELECT surv.id, COALESCE(cd.core_degree, 0) AS core_degree
        |  FROM surv LEFT JOIN coreD cd ON cd.id = surv.id) c$k"""
    }.mkString("\n|UNION ALL\n|") + "\n|ORDER BY k"

  /** The m12 gear-boundary replay CTE chain (through the per-doc DISTINCT
    * chunk set `d` and its sizes `sz`) — shared by the all-pairs CDC query
    * (m12) and the fresh-vs-corpus gear screen + its streaming twin
    * (m14/e38), so the boundary semantics cannot drift between them.
    */
  private val gearChunkSetCtes =
    """hx AS (SELECT i AS v, printf('%02X', i) AS h FROM range(0, 256) t(i)),
      |gear AS (SELECT b, g FROM read_parquet('{{AUX}}/gear_table/*.parquet')),
      |base AS (
      |  SELECT doc_id, hex(encode(text)) AS ph,
      |    octet_length(encode(text)) AS n FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, hex(encode('~' || text)),
      |    octet_length(encode('~' || text)) FROM documents WHERE doc_id < 20),
      |bytes AS (
      |  SELECT base.doc_id, i AS pos, hx.v AS b
      |  FROM base, UNNEST(range(1, n + 1)) u(i)
      |  JOIN hx ON hx.h = substring(ph, CAST((i - 1) * 2 + 1 AS INT), 2)),
      |gb AS (SELECT bytes.doc_id, pos, g & 63 AS gk
      |       FROM bytes JOIN gear ON gear.b = bytes.b),
      |cuts AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT x.doc_id, x.pos,
      |      SUM(y.gk * (1::BIGINT << CAST(x.pos - y.pos AS INT))) AS s
      |    FROM gb x JOIN gb y
      |      ON y.doc_id = x.doc_id AND y.pos > x.pos - 6 AND y.pos <= x.pos
      |    GROUP BY x.doc_id, x.pos) z
      |  WHERE (z.s & 63) = 0),
      |ends AS (
      |  SELECT c.doc_id, c.pos
      |  FROM cuts c JOIN base ON base.doc_id = c.doc_id AND c.pos < base.n
      |  UNION
      |  SELECT doc_id, n FROM base WHERE n > 0),
      |chunks AS (
      |  SELECT doc_id,
      |    COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0) + 1 AS st,
      |    pos AS en
      |  FROM ends),
      |d AS (
      |  SELECT DISTINCT c.doc_id,
      |    substring(b2.ph, CAST((c.st - 1) * 2 + 1 AS INT),
      |      CAST((c.en - c.st + 1) * 2 AS INT)) AS chunk_hex
      |  FROM chunks c JOIN base b2 ON b2.doc_id = c.doc_id),
      |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM d GROUP BY doc_id)""".stripMargin

  /** The m14/e38 fresh-vs-corpus gear-screen oracle over the shifted-copy
    * split (fresh = the byte-shifted ids >= 100000) — ONE definition
    * grading the batch screen and its streaming twin verbatim.
    */
  private val gearScreenSql =
    s"""WITH $gearChunkSetCtes,
      |sh AS (
      |  SELECT a.doc_id AS fresh_id, b.doc_id AS corpus_id,
      |    CAST(COUNT(*) AS BIGINT) AS inter
      |  FROM d a JOIN d b ON a.chunk_hex = b.chunk_hex
      |  WHERE a.doc_id >= 100000 AND b.doc_id < 100000
      |  GROUP BY 1, 2)
      |SELECT sh.fresh_id, sh.corpus_id, sh.inter, sa.sz AS sz_f, sb.sz AS sz_c,
      |  CAST(sh.inter AS DOUBLE) / CAST(sa.sz + sb.sz - sh.inter AS DOUBLE) AS jaccard
      |FROM sh JOIN sz sa ON sa.doc_id = sh.fresh_id
      |JOIN sz sb ON sb.doc_id = sh.corpus_id
      |WHERE CAST(sh.inter AS DOUBLE) / CAST(sa.sz + sb.sz - sh.inter AS DOUBLE) >= 0.4
      |ORDER BY fresh_id, corpus_id""".stripMargin

  /** The t40/e39 Kneser–Ney scoring oracle — ONE definition grading the
    * batch scorer and its streaming twin verbatim (t22's trust envelope:
    * all five integer statistics recounted and joined on; only the ln
    * rides the dump).
    */
  /** t52's scenario, shared with its aux dump (idempotent per session +
    * dir): three maintenance folds into a dedicated gram-family tag under
    * a head-refresh cadence of 3 — the advisory fires only on the FIRST
    * fold (nothing persisted yet), so the served head covers base
    * (doc_id % 10 < 8) + epoch 1 (% 10 = 8) and the epoch-2/3 batches
    * (% 20 = 9 / % 20 = 19) are folded into the gram tables but NOT yet
    * served. The oracle recounts the order-2 KN statistics from scratch
    * over exactly `doc_id % 10 < 9`, so a cadence bug in EITHER direction
    * fails: refresh-every-fold (the head would cover all docs) and
    * never-refresh (it would cover only the base) both diverge every
    * joined statistic.
    */
  private[queries] def cadenceServedHead(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    graft.GraftSession.withConf(s, "spark.graft.lm.headRefreshEpochs" -> "3") {
      val docs = t(s, d, "documents")
      def fold(epoch: Long, pred: org.apache.spark.sql.Column) =
        StandingLm.maintainedHeadImpl(s, d, order = 2, discount = 0.75,
          tag = "cad",
          deltaFor = k => graft.operators.CorpusOps.knGramCounts(
            docs.filter(pred), "text", k),
          epoch = epoch)
      fold(1L, pmod(col("doc_id"), lit(10)) === 8)
      fold(2L, pmod(col("doc_id"), lit(20)) === 9)
      fold(3L, pmod(col("doc_id"), lit(20)) === 19)
    }
  }

  private val knScoreSql =
      """WITH lm AS (SELECT bg, n, ctx, n1f, n1b, nbg, lp
        |           FROM read_parquet('{{AUX}}/t40_lp/*.parquet')),
        |bgc AS (
        |  SELECT tk[i + 1] || ' ' || tk[i + 2] AS bg, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk) - 1)) AS r(i) WHERE len(tk) >= 2
        |  GROUP BY 1),
        |ctxc AS (
        |  SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(n) AS BIGINT) AS c,
        |    CAST(COUNT(*) AS BIGINT) AS nf
        |  FROM bgc GROUP BY 1),
        |contc AS (
        |  SELECT split_part(bg, ' ', 2) AS w2, CAST(COUNT(*) AS BIGINT) AS nb
        |  FROM bgc GROUP BY 1),
        |totc AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM bgc),
        |vlm AS (
        |  SELECT lm.bg, lm.lp FROM lm
        |  JOIN bgc ON bgc.bg = lm.bg AND bgc.n = lm.n
        |  JOIN ctxc ON ctxc.w1 = split_part(lm.bg, ' ', 1)
        |    AND ctxc.c = lm.ctx AND ctxc.nf = lm.n1f
        |  JOIN contc ON contc.w2 = split_part(lm.bg, ' ', 2)
        |    AND contc.nb = lm.n1b
        |  JOIN totc ON totc.t = lm.nbg),
        |pos AS (
        |  SELECT doc_id, i, tk[i + 1] || ' ' || tk[i + 2] AS bg,
        |    len(tk) - 1 AS nb
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk) - 1)) AS r(i) WHERE len(tk) >= 2),
        |scored AS (
        |  SELECT p.doc_id, p.i, p.nb, COALESCE(v.lp, -20.0) AS lp
        |  FROM pos p LEFT JOIN vlm v ON v.bg = p.bg),
        |folded AS (
        |  SELECT doc_id, CAST(MAX(nb) AS BIGINT) AS n_bigrams,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lp ORDER BY i)),
        |      (a, b) -> a + b) / MAX(nb) AS mean_logprob
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, mean_logprob FROM folded
        |ORDER BY doc_id""".stripMargin

  /** The t45 discount-sweep oracle — knScoreSql's statistics validation
    * run ONCE (the integer counts are discount-independent), then each
    * discount's dumped lp table joins on all five statistics and the
    * position-ordered fold replays per (discount, doc). The discount
    * column rides the dump on BOTH join sides, so the double equality is
    * between identical stored values.
    */
  private val knDiscountSweepSql =
      """WITH lm AS (SELECT discount, bg, n, ctx, n1f, n1b, nbg, lp
        |           FROM read_parquet('{{AUX}}/t45_lp/*.parquet')),
        |bgc AS (
        |  SELECT tk[i + 1] || ' ' || tk[i + 2] AS bg, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk) - 1)) AS r(i) WHERE len(tk) >= 2
        |  GROUP BY 1),
        |ctxc AS (
        |  SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(n) AS BIGINT) AS c,
        |    CAST(COUNT(*) AS BIGINT) AS nf
        |  FROM bgc GROUP BY 1),
        |contc AS (
        |  SELECT split_part(bg, ' ', 2) AS w2, CAST(COUNT(*) AS BIGINT) AS nb
        |  FROM bgc GROUP BY 1),
        |totc AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM bgc),
        |vlm AS (
        |  SELECT lm.discount, lm.bg, lm.lp FROM lm
        |  JOIN bgc ON bgc.bg = lm.bg AND bgc.n = lm.n
        |  JOIN ctxc ON ctxc.w1 = split_part(lm.bg, ' ', 1)
        |    AND ctxc.c = lm.ctx AND ctxc.nf = lm.n1f
        |  JOIN contc ON contc.w2 = split_part(lm.bg, ' ', 2)
        |    AND contc.nb = lm.n1b
        |  JOIN totc ON totc.t = lm.nbg),
        |pos AS (
        |  SELECT doc_id, i, tk[i + 1] || ' ' || tk[i + 2] AS bg,
        |    len(tk) - 1 AS nb
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk) - 1)) AS r(i) WHERE len(tk) >= 2),
        |scored AS (
        |  SELECT dsc.discount, p.doc_id, p.i, p.nb, COALESCE(v.lp, -20.0) AS lp
        |  FROM (SELECT DISTINCT discount FROM lm) dsc
        |  CROSS JOIN pos p
        |  LEFT JOIN vlm v ON v.discount = dsc.discount AND v.bg = p.bg),
        |folded AS (
        |  SELECT discount, doc_id, CAST(MAX(nb) AS BIGINT) AS n_bigrams,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lp ORDER BY i)),
        |      (a, b) -> a + b) / MAX(nb) AS mean_logprob
        |  FROM scored GROUP BY discount, doc_id)
        |SELECT discount, doc_id, n_bigrams, mean_logprob FROM folded
        |ORDER BY discount, doc_id""".stripMargin

  /** The t41/e40 trigram KN scoring oracle — knScoreSql one order up, and
    * like it ONE definition grading the batch scorer and its streaming
    * twin verbatim: all EIGHT integer statistics recounted in SQL and
    * joined on; only the ln rides the t41_lp dump.
    */
  private val kn3ScoreSql =
      """WITH lm AS (SELECT tg, n, ctx, n1f, cont, mid_ctx, mid_n1f, n1b, nbg, lp
        |           FROM read_parquet('{{AUX}}/t41_lp/*.parquet')),
        |tgc AS (
        |  SELECT tk[i + 1] || ' ' || tk[i + 2] || ' ' || tk[i + 3] AS tg,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk) - 2)) AS r(i) WHERE len(tk) >= 3
        |  GROUP BY 1),
        |ts AS (
        |  SELECT tg, n, string_split(tg, ' ')[1] AS w1,
        |    string_split(tg, ' ')[2] AS w2, string_split(tg, ' ')[3] AS w3
        |  FROM tgc),
        |ctx3 AS (
        |  SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS ctx,
        |    CAST(COUNT(*) AS BIGINT) AS n1f
        |  FROM ts GROUP BY 1, 2),
        |cont3 AS (
        |  SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS cont FROM ts GROUP BY 1, 2),
        |mid AS (
        |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS mid_ctx,
        |    CAST(COUNT(DISTINCT w3) AS BIGINT) AS mid_n1f
        |  FROM ts GROUP BY 1),
        |bgc AS (
        |  SELECT tk[i + 1] || ' ' || tk[i + 2] AS bg, CAST(COUNT(*) AS BIGINT) AS bn
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk) - 1)) AS r(i) WHERE len(tk) >= 2
        |  GROUP BY 1),
        |unic AS (
        |  SELECT split_part(bg, ' ', 2) AS w3, CAST(COUNT(*) AS BIGINT) AS n1b
        |  FROM bgc GROUP BY 1),
        |totc AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM bgc),
        |vlm AS (
        |  SELECT lm.tg, lm.lp FROM lm
        |  JOIN ts ON ts.tg = lm.tg AND ts.n = lm.n
        |  JOIN ctx3 ON ctx3.w1 = ts.w1 AND ctx3.w2 = ts.w2
        |    AND ctx3.ctx = lm.ctx AND ctx3.n1f = lm.n1f
        |  JOIN cont3 ON cont3.w2 = ts.w2 AND cont3.w3 = ts.w3
        |    AND cont3.cont = lm.cont
        |  JOIN mid ON mid.w2 = ts.w2 AND mid.mid_ctx = lm.mid_ctx
        |    AND mid.mid_n1f = lm.mid_n1f
        |  JOIN unic ON unic.w3 = ts.w3 AND unic.n1b = lm.n1b
        |  JOIN totc ON totc.t = lm.nbg),
        |pos AS (
        |  SELECT doc_id, i, tk[i + 1] || ' ' || tk[i + 2] || ' ' || tk[i + 3] AS tg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk) - 2)) AS r(i) WHERE len(tk) >= 3),
        |scored AS (
        |  SELECT p.doc_id, p.i, COALESCE(v.lp, -20.0) AS lp
        |  FROM pos p LEFT JOIN vlm v ON v.tg = p.tg),
        |folded AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lp ORDER BY i)),
        |      (a, b) -> a + b) / COUNT(*) AS mean_logprob
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_trigrams, mean_logprob FROM folded
        |ORDER BY doc_id""".stripMargin

  /** The t44/e44 4-gram KN oracle — kn3ScoreSql one order up, grading the
    * ORDER-GENERIC builder (`kneserNeyLmOrder(4)`): recounts all ELEVEN
    * sufficient statistics (raw 4-gram counts + context sums, the level-3
    * and level-2 continuation-type triples from the 4-gram and trigram
    * type tables, and the bigram-type unigram level) in SQL, joins the
    * dumped LM on every one of them, takes only `lp` on faith, and
    * replays the position-ordered scoring fold. One definition grades
    * batch (t44) and live (e44).
    */
  /** The kn4 statistics-validation CTE chain shared by kn4ScoreSql and
    * the t47 standing-table identity oracle: recounts all ELEVEN integer
    * statistics from scratch and joins the dumped LM on every one —
    * `vlm` carries the full validated row, so a stale standing table
    * (any statistic diverging from the live corpus) drops rows and fails
    * the row-count compare.
    */
  private val kn4StatsCtes =
      """lm AS (SELECT g, n, ctx, n1f, cont3, mid_ctx3, mid_n1f3,
        |                  cont2, mid_ctx2, mid_n1f2, n1b, nbg, lp
        |           FROM read_parquet('{{AUX}}/t44_lp/*.parquet')),
        |qgc AS (
        |  SELECT tk[i + 1] || ' ' || tk[i + 2] || ' ' || tk[i + 3] || ' ' || tk[i + 4] AS qg,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk) - 3)) AS r(i) WHERE len(tk) >= 4
        |  GROUP BY 1),
        |qs AS (
        |  SELECT qg, n, string_split(qg, ' ')[1] AS w1,
        |    string_split(qg, ' ')[2] AS w2, string_split(qg, ' ')[3] AS w3,
        |    string_split(qg, ' ')[4] AS w4
        |  FROM qgc),
        |ctx4 AS (
        |  SELECT w1, w2, w3, CAST(SUM(n) AS BIGINT) AS ctx,
        |    CAST(COUNT(*) AS BIGINT) AS n1f
        |  FROM qs GROUP BY 1, 2, 3),
        |cont3t AS (
        |  SELECT w2, w3, w4, CAST(COUNT(*) AS BIGINT) AS cont3
        |  FROM qs GROUP BY 1, 2, 3),
        |mid3 AS (
        |  SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS mid_ctx3,
        |    CAST(COUNT(DISTINCT w4) AS BIGINT) AS mid_n1f3
        |  FROM qs GROUP BY 1, 2),
        |tgc AS (
        |  SELECT tk[i + 1] || ' ' || tk[i + 2] || ' ' || tk[i + 3] AS tg
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk) - 2)) AS r(i) WHERE len(tk) >= 3
        |  GROUP BY 1),
        |ts AS (
        |  SELECT string_split(tg, ' ')[2] AS t2, string_split(tg, ' ')[3] AS t3
        |  FROM tgc),
        |cont2t AS (
        |  SELECT t2, t3, CAST(COUNT(*) AS BIGINT) AS cont2 FROM ts GROUP BY 1, 2),
        |mid2 AS (
        |  SELECT t2, CAST(COUNT(*) AS BIGINT) AS mid_ctx2,
        |    CAST(COUNT(DISTINCT t3) AS BIGINT) AS mid_n1f2
        |  FROM ts GROUP BY 1),
        |bgc AS (
        |  SELECT tk[i + 1] || ' ' || tk[i + 2] AS bg
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk) - 1)) AS r(i) WHERE len(tk) >= 2
        |  GROUP BY 1),
        |unic AS (
        |  SELECT split_part(bg, ' ', 2) AS w4, CAST(COUNT(*) AS BIGINT) AS n1b
        |  FROM bgc GROUP BY 1),
        |totc AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM bgc),
        |vlm AS (
        |  SELECT lm.* FROM lm
        |  JOIN qs ON qs.qg = lm.g AND qs.n = lm.n
        |  JOIN ctx4 ON ctx4.w1 = qs.w1 AND ctx4.w2 = qs.w2 AND ctx4.w3 = qs.w3
        |    AND ctx4.ctx = lm.ctx AND ctx4.n1f = lm.n1f
        |  JOIN cont3t ON cont3t.w2 = qs.w2 AND cont3t.w3 = qs.w3
        |    AND cont3t.w4 = qs.w4 AND cont3t.cont3 = lm.cont3
        |  JOIN mid3 ON mid3.w2 = qs.w2 AND mid3.w3 = qs.w3
        |    AND mid3.mid_ctx3 = lm.mid_ctx3 AND mid3.mid_n1f3 = lm.mid_n1f3
        |  JOIN cont2t ON cont2t.t2 = qs.w3 AND cont2t.t3 = qs.w4
        |    AND cont2t.cont2 = lm.cont2
        |  JOIN mid2 ON mid2.t2 = qs.w3 AND mid2.mid_ctx2 = lm.mid_ctx2
        |    AND mid2.mid_n1f2 = lm.mid_n1f2
        |  JOIN unic ON unic.w4 = qs.w4 AND unic.n1b = lm.n1b
        |  JOIN totc ON totc.t = lm.nbg)""".stripMargin

  private val kn4ScoreSql =
      s"""WITH $kn4StatsCtes,
        |pos AS (
        |  SELECT doc_id, i,
        |    tk[i + 1] || ' ' || tk[i + 2] || ' ' || tk[i + 3] || ' ' || tk[i + 4] AS qg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk) - 3)) AS r(i) WHERE len(tk) >= 4),
        |scored AS (
        |  SELECT p.doc_id, p.i, COALESCE(v.lp, -20.0) AS lp
        |  FROM pos p LEFT JOIN vlm v ON v.g = p.qg),
        |folded AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_quadgrams,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lp ORDER BY i)),
        |      (a, b) -> a + b) / COUNT(*) AS mean_logprob
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_quadgrams, mean_logprob FROM folded
        |ORDER BY doc_id""".stripMargin

  /** The t42/e42 multimodal-recipe oracle — ONE definition grading the
    * batch composition and its staged streaming twin verbatim: all three
    * screen families' CTE chains composed under the same first-rejecting-
    * stage priority. A `def` (not a val) so it can safely reference the
    * shared CTE fragments regardless of initialization order.
    */
  private def t42RecipeSql: String =
      s"""WITH $gearChunkSetCtes,
        |gsh AS (
        |  SELECT a.doc_id AS fid, b.doc_id AS cid, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM d a JOIN d b ON a.chunk_hex = b.chunk_hex
        |  WHERE (a.doc_id >= 100000 OR a.doc_id % 10 = 0)
        |    AND b.doc_id < 100000 AND b.doc_id % 10 <> 0
        |  GROUP BY 1, 2),
        |gr AS (
        |  SELECT DISTINCT gsh.fid AS doc_id
        |  FROM gsh JOIN sz sa ON sa.doc_id = gsh.fid
        |  JOIN sz sb ON sb.doc_id = gsh.cid
        |  WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.4),
        |tdocs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, '~' || text FROM documents WHERE doc_id < 20),
        |ttoks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM tdocs),
        |tsh AS (
        |  SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS shingle
        |  FROM ttoks, UNNEST(range(1, len(tk) - 2)) AS u(i)),
        |tsizes AS (SELECT doc_id, COUNT(*) AS set_size FROM tsh GROUP BY doc_id),
        |tinter AS (
        |  SELECT f.doc_id AS fid, c.doc_id AS cid, COUNT(*) AS inter
        |  FROM tsh f JOIN tsh c ON f.shingle = c.shingle
        |  WHERE (f.doc_id >= 100000 OR f.doc_id % 10 = 0)
        |    AND c.doc_id < 100000 AND c.doc_id % 10 <> 0
        |  GROUP BY 1, 2),
        |tr AS (
        |  SELECT DISTINCT fid AS doc_id FROM tinter
        |  JOIN tsizes sf ON sf.doc_id = fid
        |  JOIN tsizes sc ON sc.doc_id = cid
        |  WHERE inter / (sf.set_size + sc.set_size - inter) >= 0.5),
        |$mihCodesCtes,
        |mcand AS (
        |  SELECT DISTINCT f.vec_id AS fid, c.vec_id AS cid
        |  FROM codes f JOIN codes c
        |    ON c.band = f.band AND c.band_val = f.band_val
        |  WHERE f.vec_id % 8 = 0 AND c.vec_id % 8 <> 0),
        |mham AS (
        |  SELECT mc.fid, mc.cid,
        |    CAST(SUM(bit_count(xor(a.band_val, b.band_val))) AS BIGINT) AS hamming
        |  FROM mcand mc JOIN codes a ON a.vec_id = mc.fid
        |  JOIN codes b ON b.vec_id = mc.cid AND b.band = a.band
        |  GROUP BY 1, 2),
        |mr AS (SELECT DISTINCT fid AS doc_id FROM mham WHERE hamming <= 3),
        |freshset AS (
        |  SELECT doc_id FROM tdocs WHERE doc_id >= 100000 OR doc_id % 10 = 0)
        |SELECT f.doc_id,
        |  CASE WHEN gr.doc_id IS NOT NULL THEN 'media_dup'
        |       WHEN tr.doc_id IS NOT NULL THEN 'text_dup'
        |       WHEN mr.doc_id IS NOT NULL THEN 'embedding_dup'
        |       ELSE 'accepted' END AS verdict
        |FROM freshset f
        |LEFT JOIN gr ON gr.doc_id = f.doc_id
        |LEFT JOIN tr ON tr.doc_id = f.doc_id
        |LEFT JOIN mr ON mr.doc_id = f.doc_id
        |ORDER BY f.doc_id"""

  /** The t43/e41 temperature-mixture oracle — ONE definition grading the
    * batch resampler and its streaming twin verbatim: rates, the id-hash
    * gate and the per-stratum yields all recomputed in SQL over the
    * doc_hashes aux; the Σ√n normalizer folds in stratum order from a
    * 0.0 seed (the t22 position-fold pattern) so the double rate is
    * bit-identical across engines.
    */
  private val tempMixSql =
      """WITH dh AS (SELECT doc_id, h FROM read_parquet('{{AUX}}/doc_hashes/*.parquet')),
        |cnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM cnt),
        |ssum AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang)), (a, b) -> a + b) AS s
        |  FROM cnt),
        |rates AS (
        |  SELECT c.lang, c.n, least(CAST(1.0 AS DOUBLE),
        |    sqrt(CAST(c.n AS DOUBLE)) / ssum.s * tot.nn / CAST(c.n AS DOUBLE))
        |    AS accept_rate
        |  FROM cnt c, tot, ssum),
        |kept AS (
        |  SELECT d.lang, len(string_split(d.text, ' ')) AS tk
        |  FROM documents d
        |  JOIN dh ON dh.doc_id = d.doc_id
        |  JOIN rates r ON r.lang = d.lang
        |  WHERE CAST(((dh.h % 1000000) + 1000000) % 1000000 AS DOUBLE) / 1000000.0
        |    < r.accept_rate)
        |SELECT r.lang, r.n AS n_docs, r.accept_rate,
        |  CAST(COUNT(k.tk) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(SUM(k.tk), 0) AS BIGINT) AS n_tokens_kept
        |FROM rates r LEFT JOIN kept k ON k.lang = r.lang
        |GROUP BY r.lang, r.n, r.accept_rate
        |ORDER BY r.lang""".stripMargin

  /** The MIH code CTE chain shared by s22/s23/e37: sign bits recomputed
    * from the dumped ±1 planes (AuxDumps "mih_planes"), repacked into the
    * four 8-bit band values — one SQL definition of the banding whoever
    * consumes it (top-k, batch screen, streaming screen).
    */
  private val mihCodesCtes =
    """planes AS (SELECT p, signs FROM read_parquet('{{AUX}}/mih_planes/*.parquet')),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |bits AS (
      |  SELECT vec_id, CAST(p // 8 AS INT) AS band, CAST(p % 8 AS INT) AS bp,
      |    CASE WHEN list_sum(list_transform(list_zip(v, signs), x -> x[1] * x[2])) >= 0
      |      THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      |  FROM e, planes),
      |codes AS (
      |  SELECT vec_id, band,
      |    CAST(sum(bit * (1::BIGINT << CAST(7 - bp AS INT))) AS BIGINT) AS band_val
      |  FROM bits GROUP BY vec_id, band)""".stripMargin

  /** The s23/e37 radius-6 MIH screen oracle over the %8 fresh/corpus
    * split — ONE definition grading the batch operator and its streaming
    * twin verbatim.
    */
  /** The fresh-vs-corpus edit-distance screen contract shared by d20
    * (batch incremental) and e43 (its streaming twin): one SQL definition
    * replaying grams, the corpus-df rarity order, both prefix cuts, the
    * short pool, the length filter and the exact levenshtein verify —
    * so batch and live must agree on their output by construction. Same
    * en/ASCII oracle scope as d19.
    */
  private val incrementalEditSql =
    """WITH t AS (
        |  SELECT doc_id AS id, substring(text, 1, 64) AS s
        |  FROM documents WHERE lang = 'en'),
        |corp AS (SELECT * FROM t WHERE id % 10 <> 0),
        |fr AS (SELECT * FROM t WHERE id % 10 = 0),
        |cg AS (
        |  SELECT id, UNNEST(list_distinct(CASE WHEN length(s) >= 4
        |    THEN list_transform(range(1, length(s) - 2), i -> substring(s, CAST(i AS INT), 4))
        |    ELSE [s] END)) AS g
        |  FROM corp),
        |fg AS (
        |  SELECT id, UNNEST(list_distinct(CASE WHEN length(s) >= 4
        |    THEN list_transform(range(1, length(s) - 2), i -> substring(s, CAST(i AS INT), 4))
        |    ELSE [s] END)) AS g
        |  FROM fr),
        |dfq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM cg GROUP BY g),
        |cpref AS (
        |  SELECT id AS corpus_id, g FROM (
        |    SELECT c.id, c.g,
        |      ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY d.df, c.g) AS rk
        |    FROM cg c JOIN dfq d ON d.g = c.g) z
        |  WHERE rk <= 17),
        |fpref AS (
        |  SELECT id AS fresh_id, g FROM (
        |    SELECT f.id, f.g,
        |      ROW_NUMBER() OVER (PARTITION BY f.id
        |        ORDER BY COALESCE(d.df, 0), f.g) AS rk
        |    FROM fg f LEFT JOIN dfq d ON d.g = f.g) z
        |  WHERE rk <= 17),
        |csh AS (
        |  SELECT c.id, length(c.s) AS len FROM corp c
        |  JOIN (SELECT id, COUNT(*) AS ng FROM cg GROUP BY id) n
        |    ON n.id = c.id AND n.ng < 17),
        |fsh AS (
        |  SELECT f.id, length(f.s) AS len FROM fr f
        |  JOIN (SELECT id, COUNT(*) AS ng FROM fg GROUP BY id) n
        |    ON n.id = f.id AND n.ng < 17),
        |cands AS (
        |  SELECT DISTINCT fresh_id, corpus_id FROM (
        |    SELECT f.fresh_id, c.corpus_id
        |    FROM fpref f JOIN cpref c ON f.g = c.g
        |    UNION ALL
        |    SELECT f.id, c.id FROM fsh f JOIN csh c
        |      ON abs(f.len - c.len) <= 4) u)
        |SELECT ca.fresh_id, ca.corpus_id,
        |  CAST(levenshtein(tf.s, tc.s) AS BIGINT) AS dist
        |FROM cands ca JOIN fr tf ON tf.id = ca.fresh_id
        |JOIN corp tc ON tc.id = ca.corpus_id
        |WHERE abs(length(tf.s) - length(tc.s)) <= 4
        |  AND levenshtein(tf.s, tc.s) <= 4
        |ORDER BY fresh_id, corpus_id"""

  /** The ADAPTIVE-WINDOW standing edit screen contract shared by d25
    * (batch probe on the standing index) and e47 (its streaming twin):
    * the d20 screen logic over a shared-head corpus (synthetic URL head,
    * the d24 degraded shape) where the pairing window starts after the
    * CORPUS-side longest common prefix — the LCP is a build-time property
    * of the corpus half only (the index freezes it; fresh strings slice
    * at the stored offset), and the scan is capped at 4096 chars exactly
    * like [[graft.operators.Dedup.commonPrefixLength]]'s `maxScan`
    * (ADVICE r15: the cap is part of the operator definition the oracle
    * must replay). Same en/ASCII oracle scope as d19.
    */
  private val adaptiveEditIncrementalSql =
    """WITH raw AS (
        |  SELECT doc_id AS id,
        |    concat('https://corpus.example.org/docs/', text) AS s0
        |  FROM documents WHERE lang = 'en'),
        |mm AS (SELECT min(s0) AS a, max(s0) AS b FROM raw WHERE id % 10 <> 0),
        |lcp AS (
        |  SELECT COALESCE(MAX(i), 0) AS n
        |  FROM mm, UNNEST(range(1, least(length(a), length(b), 4096) + 1)) AS r(i)
        |  WHERE substring(a, 1, CAST(i AS INT)) = substring(b, 1, CAST(i AS INT))),
        |t AS (
        |  SELECT id, substring(s0, CAST((SELECT n FROM lcp) AS INT) + 1, 64) AS s
        |  FROM raw),
        |corp AS (SELECT * FROM t WHERE id % 10 <> 0),
        |fr AS (SELECT * FROM t WHERE id % 10 = 0),
        |cg AS (
        |  SELECT id, UNNEST(list_distinct(CASE WHEN length(s) >= 4
        |    THEN list_transform(range(1, length(s) - 2), i -> substring(s, CAST(i AS INT), 4))
        |    ELSE [s] END)) AS g
        |  FROM corp),
        |fg AS (
        |  SELECT id, UNNEST(list_distinct(CASE WHEN length(s) >= 4
        |    THEN list_transform(range(1, length(s) - 2), i -> substring(s, CAST(i AS INT), 4))
        |    ELSE [s] END)) AS g
        |  FROM fr),
        |dfq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM cg GROUP BY g),
        |cpref AS (
        |  SELECT id AS corpus_id, g FROM (
        |    SELECT c.id, c.g,
        |      ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY d.df, c.g) AS rk
        |    FROM cg c JOIN dfq d ON d.g = c.g) z
        |  WHERE rk <= 17),
        |fpref AS (
        |  SELECT id AS fresh_id, g FROM (
        |    SELECT f.id, f.g,
        |      ROW_NUMBER() OVER (PARTITION BY f.id
        |        ORDER BY COALESCE(d.df, 0), f.g) AS rk
        |    FROM fg f LEFT JOIN dfq d ON d.g = f.g) z
        |  WHERE rk <= 17),
        |csh AS (
        |  SELECT c.id, length(c.s) AS len FROM corp c
        |  JOIN (SELECT id, COUNT(*) AS ng FROM cg GROUP BY id) n
        |    ON n.id = c.id AND n.ng < 17),
        |fsh AS (
        |  SELECT f.id, length(f.s) AS len FROM fr f
        |  JOIN (SELECT id, COUNT(*) AS ng FROM fg GROUP BY id) n
        |    ON n.id = f.id AND n.ng < 17),
        |cands AS (
        |  SELECT DISTINCT fresh_id, corpus_id FROM (
        |    SELECT f.fresh_id, c.corpus_id
        |    FROM fpref f JOIN cpref c ON f.g = c.g
        |    UNION ALL
        |    SELECT f.id, c.id FROM fsh f JOIN csh c
        |      ON abs(f.len - c.len) <= 4) u)
        |SELECT ca.fresh_id, ca.corpus_id,
        |  CAST(levenshtein(tf.s, tc.s) AS BIGINT) AS dist
        |FROM cands ca JOIN fr tf ON tf.id = ca.fresh_id
        |JOIN corp tc ON tc.id = ca.corpus_id
        |WHERE abs(length(tf.s) - length(tc.s)) <= 4
        |  AND levenshtein(tf.s, tc.s) <= 4
        |ORDER BY fresh_id, corpus_id"""

  private val mihScreenSql =
    s"""WITH $mihCodesCtes,
      |cand AS (
      |  SELECT DISTINCT f.vec_id AS fresh_id, c.vec_id AS corpus_id
      |  FROM codes f JOIN codes c
      |    ON c.band = f.band AND c.band_val = f.band_val
      |  WHERE f.vec_id % 8 = 0 AND c.vec_id % 8 <> 0),
      |ham AS (
      |  SELECT ca.fresh_id, ca.corpus_id,
      |    CAST(SUM(bit_count(xor(a.band_val, b.band_val))) AS BIGINT) AS hamming
      |  FROM cand ca
      |  JOIN codes a ON a.vec_id = ca.fresh_id
      |  JOIN codes b ON b.vec_id = ca.corpus_id AND b.band = a.band
      |  GROUP BY ca.fresh_id, ca.corpus_id)
      |SELECT fresh_id, corpus_id, hamming FROM ham WHERE hamming <= 6
      |ORDER BY fresh_id, corpus_id""".stripMargin

  /** The s26 band-BALL screen oracle — deliberately NOT a replay of the
    * band-probe plan: it brute-forces EVERY fresh×corpus pair's full-code
    * Hamming distance and keeps radius ≤ 7 = 2·bands−1, the distance the
    * ball-probe pigeonhole guarantees complete. The Spark side only
    * matches if the band-gated candidate stage truly loses nothing at
    * that radius — the oracle PROVES the completeness claim instead of
    * reproducing the candidate logic.
    */
  private val mihBallScreenSql =
    s"""WITH $mihCodesCtes,
      |ham AS (
      |  SELECT a.vec_id AS fresh_id, b.vec_id AS corpus_id,
      |    CAST(SUM(bit_count(xor(a.band_val, b.band_val))) AS BIGINT) AS hamming
      |  FROM codes a JOIN codes b ON b.band = a.band
      |  WHERE a.vec_id % 8 = 0 AND b.vec_id % 8 <> 0
      |  GROUP BY 1, 2)
      |SELECT fresh_id, corpus_id, hamming FROM ham WHERE hamming <= 7
      |ORDER BY fresh_id, corpus_id""".stripMargin

  /** DuckDB's list-lambda cosine over two DOUBLE[] expressions — the exact
    * per-pair formula every embedding oracle folds.
    */
  private def listCos(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) / " +
      s"(sqrt(list_sum(list_transform($a, x -> x*x))) * sqrt(list_sum(list_transform($b, x -> x*x))))"

  /** The s01 exact-top-5 oracle — standalone SELECT, reused verbatim as
    * the ground-truth CTE of the recall oracle (s12) so "exact" cannot
    * drift between the two gates.
    */
  private val s01TopkSql = {
    val cos = listCos("CAST(q.embedding AS DOUBLE[])", "CAST(c.embedding AS DOUBLE[])")
    s"""SELECT query_id, rank, neighbor_id, cosine FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    $cos AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |      $cos DESC,
      |      c.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 10) x
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** The s04 trained-IVF oracle, split into its CTE chain and final SELECT
    * so the recall oracle (s12) can mount the same approximate search as a
    * CTE — one definition of the IVF walk on the SQL side.
    */
  /** The trained-IVF CTE chain parameterized on the centroid aux table and
    * probe width — one SQL definition of the inverted-file walk whoever
    * trained the quantizer (s04/s12/s17 = full-corpus training, s18 = the
    * frozen initial-half quantizer the appended index serves under) and
    * however many cells a query probes (e28's streaming serve probes 1,
    * e34 probes 2 — windows can't rank centroids in-stream, but the per-row
    * cell ranking over the literal centroids can).
    */
  private def ivfCtesFrom(centroidAux: String, nProbe: Int = 2) =
    s"""corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (SELECT cid, cvec AS cv FROM read_parquet('{{AUX}}/$centroidAux/*.parquet')),
      |assign AS (
      |  SELECT vec_id AS neighbor_id, cid, v AS nv FROM (
      |    SELECT c.vec_id, ct.cid, c.v,
      |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
      |        ORDER BY ${listCos("c.v", "ct.cv")} DESC, ct.cid) AS crn
      |    FROM corp c CROSS JOIN cent ct) x WHERE crn = 1),
      |probes AS (
      |  SELECT query_id, cid, qv FROM (
      |    SELECT q.vec_id AS query_id, ct.cid, q.v AS qv,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY ${listCos("q.v", "ct.cv")} DESC, ct.cid) AS crn
      |    FROM corp q CROSS JOIN cent ct WHERE q.vec_id < 10) x WHERE crn <= $nProbe),
      |cand AS (
      |  SELECT DISTINCT p.query_id, a.neighbor_id, ${listCos("p.qv", "a.nv")} AS cosine
      |  FROM probes p JOIN assign a ON a.cid = p.cid AND a.neighbor_id <> p.query_id)""".stripMargin

  private val ivfCtes = ivfCtesFrom("s04_centroids")

  private val ivfSelect =
    """SELECT query_id, rank, neighbor_id, cosine FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM cand) x WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The s03 hyperplane-LSH oracle, split CTEs/SELECT like the IVF walk so
    * the s13 recall row mounts the same approximate search as a CTE.
    */
  private val lshCtes =
    """planes AS (SELECT p, signs FROM read_parquet('{{AUX}}/hyperplanes32/*.parquet') WHERE p < 8),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |bits AS (
      |  SELECT vec_id, p,
      |    CASE WHEN list_sum(list_transform(list_zip(v, signs), x -> x[1] * x[2])) >= 0
      |      THEN 1::BIGINT ELSE 0::BIGINT END AS bit
      |  FROM e, planes),
      |buckets AS (
      |  SELECT vec_id, CAST(sum(bit * (1::BIGINT << CAST(7 - p AS INT))) AS BIGINT) AS bucket
      |  FROM bits GROUP BY vec_id),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_sum(list_transform(list_zip(qe.v, ce.v), x -> x[1] * x[2]))
      |    / (sqrt(list_sum(list_transform(qe.v, x -> x*x)))
      |       * sqrt(list_sum(list_transform(ce.v, x -> x*x)))) AS cosine
      |  FROM buckets q JOIN buckets c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
      |  JOIN e qe ON qe.vec_id = q.vec_id
      |  JOIN e ce ON ce.vec_id = c.vec_id
      |  WHERE q.vec_id < 10)""".stripMargin

  private val lshSelect =
    """SELECT query_id, rank, neighbor_id, cosine FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored) x
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The s10 IVF-PQ oracle, same split — the RESIDUAL path (the serving
    * configuration): corpus codes quantize v − centroid(cell) against the
    * residual-trained codebooks (aux `s09r_codebooks`), and each
    * candidate's ADC score is the probed cell's ⟨q, centroid⟩ shift plus
    * the subspace-ordered table fold.
    */
  private val (ivfPqCtes, ivfPqSelect) = {
    def sdot(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2]))"
    def cos(a: String, b: String) =
      s"${sdot(a, b)} / (sqrt(${sdot(a, a)}) * sqrt(${sdot(b, b)}))"
    val rslice = "rv[CAST(sub*16+1 AS INT) : CAST(sub*16+16 AS INT)]"
    val qslice = "q.v[CAST(sub*16+1 AS INT) : CAST(sub*16+16 AS INT)]"
    val ctes =
      s"""cent AS (SELECT cid, cvec AS cv FROM read_parquet('{{AUX}}/s04_centroids/*.parquet')),
        |cb AS (SELECT sub, cid, cvec FROM read_parquet('{{AUX}}/s09r_codebooks/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cells AS (
        |  SELECT vec_id, cid AS cell FROM (
        |    SELECT e.vec_id, ct.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${cos("e.v", "ct.cv")} DESC, ct.cid) AS crn
        |    FROM e CROSS JOIN cent ct) x WHERE crn = 1),
        |res AS (
        |  SELECT e.vec_id, list_transform(list_zip(e.v, ct.cv), x -> x[1] - x[2]) AS rv
        |  FROM e JOIN cells cl ON cl.vec_id = e.vec_id
        |  JOIN cent ct ON ct.cid = cl.cell),
        |probes AS (
        |  SELECT vec_id AS query_id, cid AS cell, qdot FROM (
        |    SELECT q.vec_id, ct.cid, ${sdot("q.v", "ct.cv")} AS qdot,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${cos("q.v", "ct.cv")} DESC, ct.cid) AS crn
        |    FROM e q CROSS JOIN cent ct WHERE q.vec_id < 10) x WHERE crn <= 2),
        |codes AS (
        |  SELECT vec_id, sub, cid FROM (
        |    SELECT r.vec_id, cb.sub, cb.cid,
        |      ROW_NUMBER() OVER (PARTITION BY r.vec_id, cb.sub
        |        ORDER BY ${sdot("r." + rslice, "cb.cvec")} DESC, cb.cid) AS rn
        |    FROM res r, cb) x WHERE rn = 1),
        |tabs AS (
        |  SELECT q.vec_id AS query_id, cb.sub, cb.cid,
        |    ${sdot(qslice, "cb.cvec")} AS tdot
        |  FROM e q, cb WHERE q.vec_id < 10),
        |adcs AS (
        |  SELECT t.query_id, c.vec_id AS neighbor_id,
        |    MAX(p.qdot) + list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t.tdot ORDER BY t.sub)),
        |      (a, b) -> a + b) AS adc
        |  FROM cells cl
        |  JOIN probes p ON p.cell = cl.cell
        |  JOIN codes c ON c.vec_id = cl.vec_id
        |  JOIN tabs t ON t.query_id = p.query_id AND t.sub = c.sub AND t.cid = c.cid
        |  WHERE cl.vec_id <> p.query_id
        |  GROUP BY t.query_id, c.vec_id),
        |cand2 AS (
        |  SELECT query_id, neighbor_id, adc,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY adc DESC, neighbor_id) AS crn
        |  FROM adcs),
        |fine AS (
        |  SELECT query_id, neighbor_id, adc, ${cos("qe.v", "ce.v")} AS cosine
        |  FROM cand2
        |  JOIN e qe ON qe.vec_id = query_id
        |  JOIN e ce ON ce.vec_id = neighbor_id
        |  WHERE crn <= 20)""".stripMargin
    val sel =
      """SELECT query_id, rank, neighbor_id, adc, cosine FROM (
        |  SELECT query_id, neighbor_id, adc, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM fine) x
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    (ctes, sel)
  }

  /** The filtered-exact ground truth (s16): s01's brute-force top-5 with
    * the label-equality constraint folded into the pair join — the exact
    * answer a metadata-filtered search must recover.
    */
  private val filtExactSql = {
    val cos = listCos("CAST(q.embedding AS DOUBLE[])", "CAST(c.embedding AS DOUBLE[])")
    s"""SELECT query_id, rank, neighbor_id, cosine FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    $cos AS cosine,
      |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
      |      $cos DESC,
      |      c.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings c
      |    ON q.vec_id <> c.vec_id AND q.label = c.label
      |  WHERE q.vec_id < 10) x
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** The s04 IVF walk with the label filter threaded through (s16):
    * assignment is unchanged (the quantizer is label-blind), but the label
    * rides both the inverted file and the probes, and the candidate join
    * requires `a.label = p.label` — the SQL mirror of the (cid, attr)
    * probe join in Ivf.search. Ends in `cand`, so [[ivfSelect]]
    * mounts unchanged.
    */
  private val ivfFiltCtes =
    s"""corp AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cent AS (SELECT cid, cvec AS cv FROM read_parquet('{{AUX}}/s04_centroids/*.parquet')),
      |assign AS (
      |  SELECT vec_id AS neighbor_id, label, cid, v AS nv FROM (
      |    SELECT c.vec_id, c.label, ct.cid, c.v,
      |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
      |        ORDER BY ${listCos("c.v", "ct.cv")} DESC, ct.cid) AS crn
      |    FROM corp c CROSS JOIN cent ct) x WHERE crn = 1),
      |probes AS (
      |  SELECT query_id, label, cid, qv FROM (
      |    SELECT q.vec_id AS query_id, q.label, ct.cid, q.v AS qv,
      |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |        ORDER BY ${listCos("q.v", "ct.cv")} DESC, ct.cid) AS crn
      |    FROM corp q CROSS JOIN cent ct WHERE q.vec_id < 10) x WHERE crn <= 2),
      |cand AS (
      |  SELECT DISTINCT p.query_id, a.neighbor_id, ${listCos("p.qv", "a.nv")} AS cosine
      |  FROM probes p JOIN assign a
      |    ON a.cid = p.cid AND a.label = p.label AND a.neighbor_id <> p.query_id)""".stripMargin

  /** The s17/e28/e34 standing IVF index of `dir`'s embeddings (built once
    * per session, then reused).
    */
  private def standingIvf(s: org.apache.spark.sql.SparkSession,
                          dir: String): Similarity.IvfIndex =
    Similarity.writeIvfIndex(t(s, dir, "embeddings"), "vec_id", "embedding",
      "ivf_idx_" + graft.sources.BucketedLake.layoutSuffix(dir + "#ivf", 16))

  /** The e28/e34 live serve: the `vec_id < 10` query vectors stream into
    * [[graft.streaming.ScreenStream.serveIvf]] against [[standingIvf]] at
    * `nProbe`, one AvailableNow run, top-5 rows read back from its sink.
    */
  private def ivfServe(s: org.apache.spark.sql.SparkSession, dir: String,
                       nProbe: Int): org.apache.spark.sql.DataFrame = {
    import graft.streaming.{EventsStream, ScreenStream}
    val sinkName = s"stream_ivf_serve_p${nProbe}_${sinkCounter.incrementAndGet()}"
    EventsStream.runAvailableNow(ScreenStream.serveIvf(
      ScreenStream.readEmbeddings(s, dir).filter(col("vec_id") < 10),
      standingIvf(s, dir), "vec_id", "embedding", 5, nProbe),
      sinkName, outputMode = "complete")
    Similarity.topKRows(s.table(sinkName)).orderBy("query_id", "rank")
  }

  /** Build-then-append the s18 standing IVF index: trained on the initial
    * 3/4 (`vec_id % 4 ≠ 0`), the remaining quarter folded in under the
    * frozen quantizer. Idempotent per (session, dir) via the d17 contract:
    * append is not naturally idempotent, so catalog presence of the cells
    * table is the already-built-AND-appended marker and the handle is
    * reconstructed from the catalog when found.
    */
  private def ensureAppendedIvfIndex(
      s: org.apache.spark.sql.SparkSession, dir: String,
      initial: org.apache.spark.sql.DataFrame,
      appended: org.apache.spark.sql.DataFrame): Similarity.IvfIndex = {
    val prefix =
      "ivf_idxa_" + graft.sources.BucketedLake.layoutSuffix(dir + "#ivfa", 16)
    val cellsName = s"${prefix}_cells_k16_b16"
    if (s.catalog.tableExists(cellsName))
      Similarity.IvfIndex(cellsName, s"${prefix}_cent_k16", 16,
        Similarity.vectorDim(initial, "embedding"),
        s.table(cellsName).count(), 16)
    else
      Similarity.appendIvfIndex(appended,
        Similarity.writeIvfIndex(initial, "vec_id", "embedding", prefix),
        "vec_id", "embedding", epoch = 1L)
  }

  /** Build (once per session + sf dir) the m15 standing GEAR digest index
    * over the ORIGINAL blobs of the shifted corpus; the mask family is
    * part of the layout identity via the suffix.
    */
  private def ensureGearChunkIndex(s: org.apache.spark.sql.SparkSession,
                                   dir: String,
                                   corpus: org.apache.spark.sql.DataFrame) = {
    val suffix = graft.sources.BucketedLake.layoutSuffix(dir + "#gear6", 16)
    graft.operators.Multimodal.writeGearChunkIndex(corpus,
      graft.operators.Multimodal.ChunkIndex(
        s"gear_idx_$suffix", s"gear_sz_$suffix"))
  }

  /** Build (once per session + sf dir) the s24 standing MIH code index
    * over the `vec_id % 8 ≠ 0` corpus; the band family is part of the
    * layout identity via the table name.
    */
  private def ensureMihIndex(s: org.apache.spark.sql.SparkSession,
                             dir: String,
                             corpus: org.apache.spark.sql.DataFrame) =
    graft.operators.Similarity.writeMihIndex(corpus, "vec_id", "embedding",
      "idx_" + graft.sources.BucketedLake.layoutSuffix(dir + "#mih", 16))

  /** Build-then-append the m16 gear index: built from the even original
    * ids, the odd half folded in via appendGearChunkIndex — idempotent per
    * (session, dir) via the d17 contract.
    */
  private def ensureAppendedGearIndex(
      s: org.apache.spark.sql.SparkSession, dir: String,
      media: org.apache.spark.sql.DataFrame):
      graft.operators.Multimodal.ChunkIndex = {
    val suffix = graft.sources.BucketedLake.layoutSuffix(dir + "#gear6a", 16)
    val names = graft.operators.Multimodal.ChunkIndex(
      s"gear_idxa_$suffix", s"gear_sza_$suffix")
    if (s.catalog.tableExists(names.digests)) names
    else graft.operators.Multimodal.appendGearChunkIndex(
      media.filter(pmod(col("doc_id"), lit(2)) === 1),
      graft.operators.Multimodal.writeGearChunkIndex(
        media.filter(pmod(col("doc_id"), lit(2)) === 0), names),
      epoch = 1L)
  }

  /** Build-then-append the s25 MIH index: built from `vec_id % 8 ∈ {1,2,3}`
    * under the standard plane family, the `% 8 ∈ {4..7}` half folded in
    * under the FROZEN knobs — idempotent per (session, dir).
    */
  private def ensureAppendedMihIndex(
      s: org.apache.spark.sql.SparkSession, dir: String,
      e: org.apache.spark.sql.DataFrame): graft.operators.Similarity.MihIndex = {
    val prefix = "idxa_" + graft.sources.BucketedLake.layoutSuffix(dir + "#miha", 16)
    val built = graft.operators.Similarity.writeMihIndex(
      e.filter(col("vec_id") % 8 =!= 0 && col("vec_id") % 8 <= 3),
      "vec_id", "embedding", prefix)
    val marker = built.codes + "_appended"
    if (!s.catalog.tableExists(marker)) {
      graft.operators.Similarity.appendMihIndex(
        e.filter(col("vec_id") % 8 >= 4), built, "vec_id", "embedding",
        epoch = 1L)
      s.range(1).createOrReplaceTempView(marker)
    }
    built
  }

  /** Build (once per session + sf dir) the d22 standing edit-distance
    * index over the given (doc_id, title) corpus; maxDist=4/q=4 are part
    * of the layout identity via the suffix.
    */
  private def ensureEditIndex(s: org.apache.spark.sql.SparkSession,
                              dir: String,
                              corpus: org.apache.spark.sql.DataFrame) =
    Dedup.writeEditIndex(corpus, "doc_id", "title",
      "edit_idx_" + graft.sources.BucketedLake.layoutSuffix(dir + "#edit4", 16))

  /** The ONE standing dup-cluster label table of the cluster family
    * (VERDICT r16 #1 — the d16 lake pattern completed end to end): base
    * build = the d08 closure over the STANDING corpus (`doc_id % 10 < 8`,
    * the d11/d21 split) written as (id, cluster, epoch 0) bucketed by id.
    * d21/e36 serve against [[Dedup.readClusterLabels]] of this table;
    * [[ensureMaintainedClusterLabels]] write-backs the fresh batch's fold
    * so split serves (e49) read the maintained full labeling — labels are
    * derived from raw shingle pairs exactly ONCE per corpus, never per
    * serve.
    */
  private def ensureCorpusClusterLabels(
      s: org.apache.spark.sql.SparkSession, dir: String,
      docs: org.apache.spark.sql.DataFrame): String = {
    val name = "dup_labels_" +
      graft.sources.BucketedLake.layoutSuffix(dir + "#dup_labels_c8", 16)
    // guard BEFORE deriving: dupClusters is eager (its contraction loop
    // runs jobs at call time), so evaluating it as writeClusterLabels'
    // argument would re-run the corpus screen + closure on every serve
    // even though the write itself is skipped (r17 self-review)
    if (!s.catalog.tableExists(name))
      Dedup.writeClusterLabels(s, name,
        Dedup.dupClusters(Dedup.ngramJaccardPairs(
          docs.filter(pmod(col("doc_id"), lit(10)) < 8), "doc_id", "text")))
    name
  }

  /** The fresh batch's near-dup pairs for the cluster family's
    * maintenance — cross pairs from the STANDING shingle index (the d12
    * probe: corpus side never re-shuffles) plus the batch's internal
    * pairs. Shared by the d21/e36 serves and the d26 write-back so all
    * three fold the identical pair set.
    */
  private def freshClusterPairs(
      s: org.apache.spark.sql.SparkSession, dir: String,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val fresh = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
    val idx = ensureShingleIndex(s, dir,
      docs.filter(pmod(col("doc_id"), lit(10)) < 8))
    Dedup.incrementalJaccardPairsIndexed(fresh, idx, "doc_id", "text")
      .select(col("fresh_id").as("id_a"), col("corpus_id").as("id_b"))
      .union(Dedup.ngramJaccardPairs(fresh, "doc_id", "text")
        .select(col("id_a"), col("id_b")))
  }

  /** Ensure the fresh batch's fold has been WRITTEN BACK into the standing
    * label table (d26's contract, idempotent per session via the s25
    * marker pattern): after this, [[Dedup.readClusterLabels]] returns the
    * FULL corpus labeling — bit-identical to a from-scratch d08 closure
    * over all documents — so tomorrow's e49 split and tomorrow's d21
    * serve read today's maintenance instead of re-deriving anything.
    */
  private def ensureMaintainedClusterLabels(
      s: org.apache.spark.sql.SparkSession, dir: String,
      docs: org.apache.spark.sql.DataFrame): String = {
    val name = ensureCorpusClusterLabels(s, dir, docs)
    val marker = name + "_maintained"
    if (!s.catalog.tableExists(marker)) {
      Dedup.maintainClusterLabels(s, name, freshClusterPairs(s, dir, docs))
      s.range(1).createOrReplaceTempView(marker)
    }
    name
  }

  /** The ADAPTIVE-WINDOW standing edit index for d25/e47: built over the
    * raw head-prefixed strings with `sliceChars = 64`, so
    * [[Dedup.writeEditIndex]] computes the corpus LCP once at build time
    * and freezes the offset into the knob family (table names carry
    * `_w64o{off}`).
    */
  private def ensureAdaptiveEditIndex(s: org.apache.spark.sql.SparkSession,
                                      dir: String,
                                      corpus: org.apache.spark.sql.DataFrame) =
    Dedup.writeEditIndex(corpus, "doc_id", "s0",
      "edit_idxw_" + graft.sources.BucketedLake.layoutSuffix(dir + "#edit4w", 16),
      sliceChars = 64)

  /** Build-then-append the d23 edit index: built from half the standing
    * corpus (`doc_id % 10 ∈ 1..5`), the other half (`% 10 ∈ 6..9`) folded
    * in under the FROZEN rarity order — idempotent per (session, dir) via
    * the s25 marker pattern.
    */
  private def ensureAppendedEditIndex(
      s: org.apache.spark.sql.SparkSession, dir: String,
      half1: org.apache.spark.sql.DataFrame,
      half2: org.apache.spark.sql.DataFrame): Dedup.EditIndex = {
    val prefix =
      "edit_idxa_" + graft.sources.BucketedLake.layoutSuffix(dir + "#edit4a", 16)
    val built = Dedup.writeEditIndex(half1, "doc_id", "title", prefix)
    val marker = built.dfq + "_appended"
    if (!s.catalog.tableExists(marker)) {
      Dedup.appendEditIndex(half2, built, "doc_id", "title", epoch = 1L)
      s.range(1).createOrReplaceTempView(marker)
    }
    built
  }

  /** Build (once per session + sf dir) the m10 standing chunk-digest index
    * over the non-fresh corpus (`doc_id % 10 ≠ 0` — the m09 split); chunk
    * size and bucket count ride the naming per the layout contract.
    */
  private def ensureChunkIndex(s: org.apache.spark.sql.SparkSession,
                               dir: String,
                               media: org.apache.spark.sql.DataFrame) = {
    val suffix = graft.sources.BucketedLake.layoutSuffix(dir + "#chunk64", 16)
    graft.operators.Multimodal.writeChunkIndex(
      media.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      graft.operators.Multimodal.ChunkIndex(
        s"chunk_idx_$suffix", s"chunk_sz_$suffix"))
  }

  /** Build-then-append the m11 chunk index: built from half the standing
    * corpus (`doc_id % 10 ∈ 1..5`), the other half (`% 10 ∈ 6..9`) folded
    * in via [[graft.operators.Multimodal.appendChunkIndex]]. Idempotent
    * per (session, dir) via the d17 contract — catalog presence of the
    * digest table is the built-AND-appended marker.
    */
  private def ensureAppendedChunkIndex(
      s: org.apache.spark.sql.SparkSession, dir: String,
      media: org.apache.spark.sql.DataFrame):
      graft.operators.Multimodal.ChunkIndex = {
    val suffix = graft.sources.BucketedLake.layoutSuffix(dir + "#chunk64a", 16)
    val names = graft.operators.Multimodal.ChunkIndex(
      s"chunk_idxa_$suffix", s"chunk_sza_$suffix")
    if (s.catalog.tableExists(names.digests)) names
    else {
      graft.operators.Multimodal.appendChunkIndex(
        media.filter(pmod(col("doc_id"), lit(10)) >= 6),
        graft.operators.Multimodal.writeChunkIndex(
          media.filter(pmod(col("doc_id"), lit(10)).between(1, 5)), names),
        epoch = 1L)
    }
  }

  /** The recall@k oracle template (s12/s13/s14/s16): exact = s01's ground
    * truth verbatim (or a caller-supplied constrained variant), approx =
    * the index family's own oracled walk mounted as a CTE, joined on
    * (query, neighbor) and rolled up per query — ONE SQL definition of
    * "recall" across every shipped index.
    */
  private def recallOracle(ctes: String, approxSelect: String,
                           exactSql: String = s01TopkSql) =
    s"""WITH $ctes,
      |exact AS ($exactSql),
      |approx AS ($approxSelect),
      |j AS (
      |  SELECT exact.query_id,
      |    CASE WHEN approx.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
      |  FROM exact LEFT JOIN approx
      |    ON approx.query_id = exact.query_id
      |   AND approx.neighbor_id = exact.neighbor_id)
      |SELECT query_id, n_exact, n_hit, n_hit / n_exact AS recall FROM (
      |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
      |    CAST(SUM(hit) AS BIGINT) AS n_hit
      |  FROM j GROUP BY query_id) x
      |ORDER BY query_id"""

  val defs: Map[String, QueryDef] = Map(

    // ---- deduplication ----------------------------------------------------

    // Exact dedup with deterministic survivor (lowest doc_id per key group).
    "d01_dedup_exact" -> of(
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |  FROM documents) x
        |WHERE rn = 1 ORDER BY doc_id""") { (s, d) =>
      Dedup.exact(t(s, d, "documents"), Seq("lang", "source"), "doc_id")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    },

    // Exact n-gram Jaccard near-dup pairs.
    "d02_dedup_ngram_jaccard" -> of(jaccardOracle()) { (s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // The df-cut variant: hub shingles (document frequency > 2 here) are
    // dropped BEFORE the self-join — the cut that keeps pathological join
    // keys from exploding the candidate space at corpus scale. Semantics
    // change (pairs sharing only hub shingles are missed, set sizes shrink),
    // so the oracle applies the identical cut.
    "d07_dedup_jaccard_dfcut" -> of(jaccardOracle(maxDocFreq = Some(2))) { (s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        maxDocFreq = Some(2))
        .orderBy("id_a", "id_b")
    },

    // Near-dup CLUSTERS from the Jaccard pairs: connected components via
    // min-label propagation (an A~B~C chain collapses to one cluster even
    // without an A~C pair), min id = cluster id = deterministic survivor.
    // The oracle computes true components with a recursive reachability CTE.
    "d08_dedup_clusters" -> of(
      s"""WITH RECURSIVE ${jaccardCtes(None)},
        |edges AS (
        |  SELECT id_a, id_b FROM jp UNION ALL SELECT id_b, id_a FROM jp),
        |reach(id, label) AS (
        |  SELECT id_a, id_a FROM edges
        |  UNION
        |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON r.id = e.id_b)
        |SELECT id AS doc_id, MIN(label) AS cluster,
        |  id = MIN(label) AS is_survivor
        |FROM reach GROUP BY id ORDER BY doc_id""") { (s, d) =>
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text")
      Dedup.dupClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster"),
          (col("id") === col("cluster")).as("is_survivor"))
        .orderBy("doc_id")
    },

    // MinHash+LSH candidates verified by exact Jaccard — oracle-checked
    // against the exhaustive-Jaccard SQL (recall ≈ 1 at this dup structure).
    "d03_dedup_minhash_lsh" -> of(jaccardOracle()) { (s, d) =>
      Dedup.minhashLshPairs(t(s, d, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // SimHash near-dup pairs. Oracled via the materialized token→xxhash64
    // mapping (AuxDumps "d04_tok_hashes"): DuckDB re-tokenizes, recomputes
    // the 64 per-bit majority votes, packs the signature, bands it, pairs
    // within buckets and verifies Hamming ≤ 3 — everything downstream of the
    // hash primitive.
    "d04_dedup_simhash" -> of(
      """WITH th AS (SELECT tok, h FROM read_parquet('{{AUX}}/d04_tok_hashes/*.parquet')),
        |toks AS (
        |  SELECT doc_id, u.tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(tk) AS u(tok)),
        |hashed AS (SELECT doc_id, th.h AS h FROM toks JOIN th USING (tok)),
        |bits AS (
        |  SELECT doc_id, j,
        |    CASE WHEN 2 * count(*) FILTER (WHERE (h >> CAST(j AS INT)) & 1 = 1)
        |      > count(*) THEN 1 ELSE 0 END AS bit_set
        |  FROM hashed, UNNEST(range(0, 64)) AS r(j)
        |  GROUP BY doc_id, j),
        |sigs AS (
        |  SELECT doc_id,
        |    bit_or(CASE WHEN bit_set = 0 THEN 0
        |      WHEN j = 63 THEN -9223372036854775807 - 1
        |      ELSE (1::BIGINT << CAST(j AS INT)) END) AS sig
        |  FROM bits GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, sig, b, (sig >> CAST(b * 16 AS INT)) & 65535 AS band_val
        |  FROM sigs, UNNEST(range(0, 4)) AS r(b)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.sig AS sig_a, b.sig AS sig_b
        |  FROM banded a JOIN banded b
        |    ON a.b = b.b AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
        |FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 3
        |ORDER BY id_a, id_b""") { (s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")
    },

    // LSH-bucketed embedding near-dup — the scale path (pairs generated
    // within hyperplane buckets only, exact-cosine verified). Oracled end to
    // end via the materialized plane signs: DuckDB recomputes every bucket
    // bit, the within-bucket pairing and the cosine threshold.
    "d06_dedup_embedding_lsh" -> of(
      """WITH planes AS (SELECT p, signs FROM read_parquet('{{AUX}}/hyperplanes32/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |bits AS (
        |  SELECT vec_id, p,
        |    CASE WHEN list_sum(list_transform(list_zip(v, signs), x -> x[1] * x[2])) >= 0
        |      THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        |  FROM e, planes),
        |sigs AS (
        |  SELECT vec_id, p // 4 AS tbl,
        |    CAST(sum(bit * (1::BIGINT << CAST(3 - (p % 4) AS INT))) AS BIGINT) AS sig
        |  FROM bits GROUP BY vec_id, p // 4),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM sigs a JOIN sigs b
        |    ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id),
        |pairs AS (
        |  SELECT id_a, id_b,
        |    list_sum(list_transform(list_zip(ea.v, eb.v), x -> x[1] * x[2]))
        |    / (sqrt(list_sum(list_transform(ea.v, x -> x*x)))
        |       * sqrt(list_sum(list_transform(eb.v, x -> x*x)))) AS cosine
        |  FROM cand
        |  JOIN e ea ON ea.vec_id = id_a
        |  JOIN e eb ON eb.vec_id = id_b)
        |SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.4
        |ORDER BY id_a, id_b""") { (s, d) =>
      Dedup.embeddingCosinePairsLsh(t(s, d, "embeddings"), "vec_id", "embedding", 0.4)
        .orderBy("id_a", "id_b")
    },

    // Incremental EMBEDDING ingest screen (d15): the d11 daily-ingest
    // shape in cosine space — fresh vectors (every 8th id, the batch)
    // against the standing corpus (the rest), same signature family and
    // verify as d06, pair work bounded by fresh-bucket occupancy.
    "d15_dedup_incremental_embedding" -> of(incrementalEmbeddingSql) { (s, d) =>
      val e = t(s, d, "embeddings")
      Dedup.incrementalEmbeddingPairsLsh(
        e.filter(col("vec_id") % 8 === 0), e.filter(col("vec_id") % 8 =!= 0),
        "vec_id", "embedding", 0.4)
        .orderBy("fresh_id", "corpus_id")
    },

    // The same embedding screen served from the STANDING bucketed signature
    // index (d16 — the d12 amortized-ingest pattern in cosine space): corpus
    // signatures and pre-normed vectors live as bucketed warehouse tables
    // written once; each ingest bands only the fresh batch and probes them
    // with no corpus-side exchange (PlanSpec pins the bucketed scan).
    // Semantics are identical to d15 by construction — same knob family,
    // same verify — so the d15 oracle applies verbatim (and ExtensionSpec
    // pins result equality directly).
    "d16_dedup_incremental_embedding_indexed" ->
      of(incrementalEmbeddingSql) { (s, d) =>
        val e = t(s, d, "embeddings")
        val idx = ensureEmbeddingIndex(s, d, e.filter(col("vec_id") % 8 =!= 0))
        Dedup.incrementalEmbeddingPairsIndexed(
          e.filter(col("vec_id") % 8 === 0), idx, "vec_id", "embedding", 0.4)
          .orderBy("fresh_id", "corpus_id")
      },

    // The d16 index GROWN BY APPEND (d17 — the daily compaction step):
    // built from half the corpus, the other half folded in via
    // appendEmbeddingSignatureIndex, then the same fresh screen. The oracle
    // (d15's verbatim) pins that an appended index screens exactly like a
    // freshly-built one — same knob family, same bucket layout, union of
    // bucket files.
    "d17_dedup_incremental_embedding_appended" ->
      of(incrementalEmbeddingSql) { (s, d) =>
        val e = t(s, d, "embeddings")
        val idx = ensureAppendedEmbeddingIndex(s, d,
          e.filter(col("vec_id") % 8 =!= 0 && col("vec_id") % 8 <= 3),
          e.filter(col("vec_id") % 8 >= 4))
        Dedup.incrementalEmbeddingPairsIndexed(
          e.filter(col("vec_id") % 8 === 0), idx, "vec_id", "embedding", 0.4)
          .orderBy("fresh_id", "corpus_id")
      },

    // Embedding-cosine near-dup pairs — exact all-pairs CROSS-CHECK for d06
    // (small-scale only; the crossJoin is the documented scale-killer the
    // LSH variant replaces).
    "d05_dedup_embedding_cosine" -> of(
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])),
        |    x -> x[1] * x[2]))
        |  / (sqrt(list_sum(list_transform(CAST(a.embedding AS DOUBLE[]), x -> x*x)))
        |     * sqrt(list_sum(list_transform(CAST(b.embedding AS DOUBLE[]), x -> x*x)))) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])),
        |    x -> x[1] * x[2]))
        |  / (sqrt(list_sum(list_transform(CAST(a.embedding AS DOUBLE[]), x -> x*x)))
        |     * sqrt(list_sum(list_transform(CAST(b.embedding AS DOUBLE[]), x -> x*x)))) >= 0.4
        |ORDER BY id_a, id_b""") { (s, d) =>
      Dedup.embeddingCosinePairs(t(s, d, "embeddings"), "vec_id", "embedding", 0.4)
        .orderBy("id_a", "id_b")
    },

    // Pluggable survivor policy over dup clusters: keep each cluster's
    // LONGEST member (quality-aware curation), not the min id — composes
    // dupClusters with a score table; the oracle recomputes the component
    // closure and the score ranking.
    "d10_dedup_survivor_quality" -> of(
      s"""WITH RECURSIVE ${jaccardCtes(None)},
        |edges AS (
        |  SELECT id_a, id_b FROM jp UNION ALL SELECT id_b, id_a FROM jp),
        |reach(id, label) AS (
        |  SELECT id_a, id_a FROM edges
        |  UNION
        |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON r.id = e.id_b),
        |comp AS (SELECT id, MIN(label) AS cluster FROM reach GROUP BY id),
        |scored AS (
        |  SELECT c.id, c.cluster,
        |    ROW_NUMBER() OVER (PARTITION BY c.cluster
        |      ORDER BY len(string_split(d.text, ' ')) DESC, c.id) AS rn
        |  FROM comp c JOIN documents d ON d.doc_id = c.id),
        |surv AS (SELECT cluster, id AS survivor FROM scored WHERE rn = 1)
        |SELECT s.id AS doc_id, s.cluster, sv.survivor,
        |  s.id = sv.survivor AS is_survivor
        |FROM scored s JOIN surv sv USING (cluster)
        |ORDER BY doc_id""") { (s, d) =>
      val docs = t(s, d, "documents")
      val clusters = Dedup.dupClusters(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text"))
      val scores = docs.select(col("doc_id").as("id"),
        size(tokens(col("text"))).cast("long").as("score"))
      Dedup.survivorsByScore(clusters, scores)
        .select(col("id").as("doc_id"), col("cluster"), col("survivor"),
          col("is_survivor"))
        .orderBy("doc_id")
    },

    // Incremental near-dup screening — today's batch (doc_id % 10 ≥ 8,
    // a FRACTION window so the split scales with the data — the r15
    // fixture lesson) against the standing corpus (% 10 < 8), never
    // corpus-vs-corpus: the
    // daily-ingest shape where the corpus shingle table is a standing
    // index and each ingest shuffles only the fresh batch.
    "d11_dedup_incremental" -> of(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS shingle
        |  FROM toks, UNNEST(range(1, len(tk) - 2)) AS u(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT f.doc_id AS fresh_id, c.doc_id AS corpus_id, COUNT(*) AS inter
        |  FROM sh f JOIN sh c ON f.shingle = c.shingle
        |  WHERE f.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
        |  GROUP BY f.doc_id, c.doc_id)
        |SELECT fresh_id, corpus_id,
        |  inter / (sf.set_size + sc.set_size - inter) AS jaccard
        |FROM inter
        |JOIN sizes sf ON sf.doc_id = fresh_id
        |JOIN sizes sc ON sc.doc_id = corpus_id
        |WHERE inter / (sf.set_size + sc.set_size - inter) >= 0.5
        |ORDER BY fresh_id, corpus_id""") { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.incrementalJaccardPairs(
        docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
        docs.filter(pmod(col("doc_id"), lit(10)) < 8),
        "doc_id", "text")
        .orderBy("fresh_id", "corpus_id")
    },

    // The same screen with a BLOOM semi-join reduction (Spark's own
    // runtime-filter expression pair, applied explicitly): a sketch of the
    // fresh batch's shingle hashes prunes the corpus side of the shuffle
    // join to ~|fresh| + fpp·|corpus| rows. No false negatives → identical
    // results, so the d11 oracle applies verbatim; PlanSpec pins the
    // might_contain filter on the corpus branch.
    "d13_dedup_incremental_bloom" -> of(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS shingle
        |  FROM toks, UNNEST(range(1, len(tk) - 2)) AS u(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT f.doc_id AS fresh_id, c.doc_id AS corpus_id, COUNT(*) AS inter
        |  FROM sh f JOIN sh c ON f.shingle = c.shingle
        |  WHERE f.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
        |  GROUP BY f.doc_id, c.doc_id)
        |SELECT fresh_id, corpus_id,
        |  inter / (sf.set_size + sc.set_size - inter) AS jaccard
        |FROM inter
        |JOIN sizes sf ON sf.doc_id = fresh_id
        |JOIN sizes sc ON sc.doc_id = corpus_id
        |WHERE inter / (sf.set_size + sc.set_size - inter) >= 0.5
        |ORDER BY fresh_id, corpus_id""") { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.incrementalJaccardPairsBloomed(
        docs.filter(pmod(col("doc_id"), lit(10)) >= 8),
        docs.filter(pmod(col("doc_id"), lit(10)) < 8),
        "doc_id", "text",
        // sized to the batch: ≤ sf0.1's ~250k fresh shingles → 2 Mb sketch
        // (256 KiB); an oversized sketch is pure literal-shipping overhead
        expectedFreshShingles = 1L << 18)
        .orderBy("fresh_id", "corpus_id")
    },

    // Shingle CONTAINMENT pairs (d14): directed |A∩B|/|A| ≥ 0.8 — the
    // asymmetric duplication Jaccard structurally misses (a short doc
    // quoted whole inside a long one has containment ≈ 1, Jaccard ≈ 0).
    // Same candidate shuffle as d02; both directions from one
    // intersection count.
    "d14_dedup_containment" -> of(
      s"""WITH ${shingleInterCtes("SELECT doc_id, shingle FROM sh")},
        |sides AS (
        |  SELECT id_a, id_b, inter,
        |    sa.set_size AS size_a, sb.set_size AS size_b
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b),
        |dir AS (
        |  SELECT id_a AS contained_id, id_b AS container_id,
        |    inter / size_a AS containment FROM sides
        |  UNION ALL
        |  SELECT id_b, id_a, inter / size_b FROM sides)
        |SELECT contained_id, container_id, containment
        |FROM dir WHERE containment >= 0.8
        |ORDER BY contained_id, container_id""") { (s, d) =>
      Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text")
        .orderBy("contained_id", "container_id")
    },

    // The same screen served from the STANDING bucketed shingle index
    // (SCALE.md's amortized ingest shape): the corpus (id, shingle) set and
    // its sizes live as bucketed+sorted warehouse tables written once; each
    // ingest probes them with no corpus-side exchange (PlanSpec pins the
    // bucketed scan). Semantics are identical to d11 by construction, so
    // the d11 oracle applies verbatim.
    "d12_dedup_incremental_indexed" -> of(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS shingle
        |  FROM toks, UNNEST(range(1, len(tk) - 2)) AS u(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT f.doc_id AS fresh_id, c.doc_id AS corpus_id, COUNT(*) AS inter
        |  FROM sh f JOIN sh c ON f.shingle = c.shingle
        |  WHERE f.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
        |  GROUP BY f.doc_id, c.doc_id)
        |SELECT fresh_id, corpus_id,
        |  inter / (sf.set_size + sc.set_size - inter) AS jaccard
        |FROM inter
        |JOIN sizes sf ON sf.doc_id = fresh_id
        |JOIN sizes sc ON sc.doc_id = corpus_id
        |WHERE inter / (sf.set_size + sc.set_size - inter) >= 0.5
        |ORDER BY fresh_id, corpus_id""") { (s, d) =>
      val docs = t(s, d, "documents")
      val idx = ensureShingleIndex(s, d,
        docs.filter(pmod(col("doc_id"), lit(10)) < 8))
      Dedup.incrementalJaccardPairsIndexed(
        docs.filter(pmod(col("doc_id"), lit(10)) >= 8), idx, "doc_id", "text")
        .orderBy("fresh_id", "corpus_id")
    },

    // The d12 standing shingle index GROWN BY APPEND (d18 — the Jaccard
    // family's compaction step, d17's shape for shingles): built from
    // half the corpus (doc_id % 10 < 4), the other half (% 10 ∈ 4..7)
    // folded in via appendShingleIndex, then
    // the same fresh screen. The d11 oracle pins that an appended index
    // screens exactly like a freshly-built one.
    "d18_dedup_incremental_shingle_appended" -> of(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS shingle
        |  FROM toks, UNNEST(range(1, len(tk) - 2)) AS u(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT f.doc_id AS fresh_id, c.doc_id AS corpus_id, COUNT(*) AS inter
        |  FROM sh f JOIN sh c ON f.shingle = c.shingle
        |  WHERE f.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
        |  GROUP BY f.doc_id, c.doc_id)
        |SELECT fresh_id, corpus_id,
        |  inter / (sf.set_size + sc.set_size - inter) AS jaccard
        |FROM inter
        |JOIN sizes sf ON sf.doc_id = fresh_id
        |JOIN sizes sc ON sc.doc_id = corpus_id
        |WHERE inter / (sf.set_size + sc.set_size - inter) >= 0.5
        |ORDER BY fresh_id, corpus_id""") { (s, d) =>
      val docs = t(s, d, "documents")
      val suffix =
        graft.sources.BucketedLake.layoutSuffix(d + "#shingle_k4_app", 16)
      val idx = Dedup.ShingleIndex(s"shingle_idxa_$suffix", s"shingle_sza_$suffix")
      // append is not idempotent — the catalog presence of the shingles
      // table marks already-built-AND-appended for this (session, dir)
      if (!s.catalog.tableExists(idx.shingles)) {
        Dedup.writeShingleIndex(docs.filter(pmod(col("doc_id"), lit(10)) < 4),
          "doc_id", "text", idx)
        Dedup.appendShingleIndex(
          docs.filter(pmod(col("doc_id"), lit(10)).between(4, 7)), idx,
          "doc_id", "text", epoch = 1L)
      }
      Dedup.incrementalJaccardPairsIndexed(
        docs.filter(pmod(col("doc_id"), lit(10)) >= 8), idx, "doc_id", "text")
        .orderBy("fresh_id", "corpus_id")
    },

    // The appended shingle index COMPACTED (d28 — VERDICT r17 #4, the
    // generic rung the appended index families were missing): d18's
    // build-then-append lifecycle leaves multi-file buckets (one file per
    // append per bucket, global sort lost); BucketedLake
    // .compactBucketedTable rewrites both index tables back to one
    // globally-sorted file per bucket — a file-LAYOUT operation, the same
    // rows — and the same fresh screen runs against the compacted layout.
    // The d11 oracle pins that build → append → compact lands on exactly
    // the freshly-built index's answer; PlanSpec pins the single-file
    // buckets and the exchange-free probe.
    "d28_shingle_index_compacted" -> of(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS shingle
        |  FROM toks, UNNEST(range(1, len(tk) - 2)) AS u(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT f.doc_id AS fresh_id, c.doc_id AS corpus_id, COUNT(*) AS inter
        |  FROM sh f JOIN sh c ON f.shingle = c.shingle
        |  WHERE f.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
        |  GROUP BY f.doc_id, c.doc_id)
        |SELECT fresh_id, corpus_id,
        |  inter / (sf.set_size + sc.set_size - inter) AS jaccard
        |FROM inter
        |JOIN sizes sf ON sf.doc_id = fresh_id
        |JOIN sizes sc ON sc.doc_id = corpus_id
        |WHERE inter / (sf.set_size + sc.set_size - inter) >= 0.5
        |ORDER BY fresh_id, corpus_id""") { (s, d) =>
      val docs = t(s, d, "documents")
      val suffix =
        graft.sources.BucketedLake.layoutSuffix(d + "#shingle_k4_cpt", 16)
      val idx = Dedup.ShingleIndex(s"shingle_idxc_$suffix", s"shingle_szc_$suffix")
      // catalog presence marks built-appended-AND-compacted for this
      // (session, dir) — append is not idempotent, so the whole lifecycle
      // runs exactly once
      if (!s.catalog.tableExists(idx.shingles)) {
        Dedup.writeShingleIndex(docs.filter(pmod(col("doc_id"), lit(10)) < 4),
          "doc_id", "text", idx)
        Dedup.appendShingleIndex(
          docs.filter(pmod(col("doc_id"), lit(10)).between(4, 7)), idx,
          "doc_id", "text", epoch = 1L)
        graft.sources.BucketedLake.compactBucketedTable(
          s, idx.shingles, "shingle", 16)
        graft.sources.BucketedLake.compactBucketedTable(
          s, idx.sizes, "doc_id", 16)
      }
      Dedup.incrementalJaccardPairsIndexed(
        docs.filter(pmod(col("doc_id"), lit(10)) >= 8), idx, "doc_id", "text")
        .orderBy("fresh_id", "corpus_id")
    },

    // SemDeDup-style semantic dedup: k-means clusters are the candidate
    // generator (within-cluster pairs only — the IVF idea applied to dedup),
    // pairs at cosine ≥ 0.4 resolve to clusters by connected components.
    // The oracle recomputes assignment, pairing and the component closure
    // from the same materialized centroids s04 trains (identical call:
    // kmeansCentroids(k=16, iters=3) is bit-reproducible).
    "d09_dedup_semantic" -> of {
      def cos(a: String, b: String) =
        s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) / " +
          s"(sqrt(list_sum(list_transform($a, x -> x*x))) * sqrt(list_sum(list_transform($b, x -> x*x))))"
      s"""WITH RECURSIVE corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT cid, cvec AS cv FROM read_parquet('{{AUX}}/s04_centroids/*.parquet')),
         |assign AS (
         |  SELECT vec_id, v, cid FROM (
         |    SELECT c.vec_id, c.v, ct.cid,
         |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
         |        ORDER BY ${cos("c.v", "ct.cv")} DESC, ct.cid) AS crn
         |    FROM corp c CROSS JOIN cent ct) x WHERE crn = 1),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE ${cos("a.v", "b.v")} >= 0.4),
         |edges AS (SELECT id_a, id_b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT id_a, id_a FROM edges
         |  UNION
         |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON r.id = e.id_b)
         |SELECT id AS vec_id, MIN(label) AS cluster, id = MIN(label) AS is_survivor
         |FROM reach GROUP BY id ORDER BY vec_id"""
    } { (s, d) =>
      // nClusters pinned to the s04 quantizer's 16 (NOT the √n default) so
      // the oracle reads the same dumped centroid table s04 trains
      val pairs = Similarity.semanticDupPairs(
        t(s, d, "embeddings"), "vec_id", "embedding", 0.4, nClusters = Some(16))
      Dedup.dupClusters(pairs)
        .select(col("id").as("vec_id"), col("cluster"),
          (col("id") === col("cluster")).as("is_survivor"))
        .orderBy("vec_id")
    },

    // Edit-distance near-dup pairs (d19): the typo/OCR rung of the dedup
    // ladder — pairs within levenshtein ≤ 4 on the 64-char title slice,
    // candidates via Ed-Join prefix filtering (each string's q·k+1
    // globally-RAREST distinct 2-grams; a pair missing from the prefix
    // bucket join is provably beyond the bound — exact, unlike LSH). The
    // oracle replays grams, the global (df, gram) rarity order, prefixes,
    // the length filter and the exact levenshtein verify from scratch.
    // Scoped to lang = 'en' (pure ASCII at every sf, checked): Spark's
    // levenshtein counts CHARACTERS while DuckDB's counts BYTES, so the
    // cross-engine compare is only meaningful where the two coincide —
    // an oracle-surface restriction, not an operator one.
    "d19_dedup_edit_distance" -> of(
      """WITH t AS (
        |  SELECT doc_id AS id, substring(text, 1, 64) AS s
        |  FROM documents WHERE lang = 'en'),
        |grams AS (
        |  SELECT id, UNNEST(list_distinct(CASE WHEN length(s) >= 4
        |    THEN list_transform(range(1, length(s) - 2), i -> substring(s, CAST(i AS INT), 4))
        |    ELSE [s] END)) AS g
        |  FROM t),
        |dfq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM grams GROUP BY g),
        |pref AS (
        |  SELECT id, g FROM (
        |    SELECT gr.id, gr.g,
        |      ROW_NUMBER() OVER (PARTITION BY gr.id ORDER BY d.df, gr.g) AS rk
        |    FROM grams gr JOIN dfq d ON d.g = gr.g) z
        |  WHERE rk <= 17),
        |sh AS (
        |  SELECT t.id, length(t.s) AS len FROM t
        |  JOIN (SELECT id, COUNT(*) AS ng FROM grams GROUP BY id) n
        |    ON n.id = t.id AND n.ng < 17),
        |cands AS (
        |  SELECT DISTINCT id_a, id_b FROM (
        |    SELECT a.id AS id_a, b.id AS id_b
        |    FROM pref a JOIN pref b ON a.g = b.g AND a.id < b.id
        |    UNION ALL
        |    SELECT a.id, b.id FROM sh a JOIN sh b
        |      ON abs(a.len - b.len) <= 4 AND a.id < b.id) u)
        |SELECT c.id_a, c.id_b, CAST(levenshtein(ta.s, tb.s) AS BIGINT) AS dist
        |FROM cands c JOIN t ta ON ta.id = c.id_a JOIN t tb ON tb.id = c.id_b
        |WHERE abs(length(ta.s) - length(tb.s)) <= 4
        |  AND levenshtein(ta.s, tb.s) <= 4
        |ORDER BY id_a, id_b""") { (s, d) =>
      Dedup.editDistancePairs(
        t(s, d, "documents").filter(col("lang") === "en")
          .select(col("doc_id"), substring(col("text"), 1, 64).as("title")),
        "doc_id", "title", maxDist = 4, q = 4)
        .orderBy("id_a", "id_b")
    },

    // Incremental edit-distance screen (d20): the d11 ingest shape for the
    // typo rung — fresh docs (doc_id % 10 = 0) screen against the standing
    // corpus under the d19 prefix contract, rarity ordered by the CORPUS
    // gram df (unseen grams rank rarest at df 0; the prefix theorem holds
    // under any shared total order, so the screen stays exact). Per-ingest
    // pair work ∝ the batch's rare-gram collisions, never corpus
    // self-pairs. Same en/ASCII oracle scope as d19.
    "d20_incremental_edit_distance" -> of(incrementalEditSql) { (s, d) =>
      val en = t(s, d, "documents").filter(col("lang") === "en")
        .select(col("doc_id"), substring(col("text"), 1, 64).as("title"))
      Dedup.incrementalEditDistancePairs(
        en.filter(pmod(col("doc_id"), lit(10)) === 0),
        en.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        "doc_id", "title", maxDist = 4, q = 4)
        .orderBy("fresh_id", "corpus_id")
    },

    // Standing edit-distance index screen (d22): d20 against the d12/d16
    // lake pattern — the gram-df rarity table, the corpus rarity prefixes
    // (strings riding), the gram-poor short pool and the strings live as
    // four bucketed warehouse tables; a screen shuffles ONLY the fresh
    // batch. Result-identical to d20 by construction, so its oracle
    // grades this path verbatim.
    "d22_incremental_edit_indexed" -> of(incrementalEditSql) { (s, d) =>
      val en = t(s, d, "documents").filter(col("lang") === "en")
        .select(col("doc_id"), substring(col("text"), 1, 64).as("title"))
      val idx = ensureEditIndex(s, d,
        en.filter(pmod(col("doc_id"), lit(10)) =!= 0))
      Dedup.incrementalEditDistancePairsIndexed(
        en.filter(pmod(col("doc_id"), lit(10)) === 0), idx,
        "doc_id", "title")
        .orderBy("fresh_id", "corpus_id")
    },

    // Edit-index append lifecycle (d23): the index is built from HALF the
    // standing corpus and the other half folds in under the FROZEN rarity
    // order (the df table is deliberately not updated — the Ed-Join
    // theorem needs only a SHARED total order, so the screen's OUTPUT
    // stays exact under any fixed order; what drifts is hub-avoidance
    // quality, a rebuild-cadence question). Graded by the from-scratch
    // d20 oracle: the appended screen must land pair-identical even
    // though its candidate sets may differ from the from-scratch plan's.
    "d23_incremental_edit_appended" -> of(incrementalEditSql) { (s, d) =>
      val en = t(s, d, "documents").filter(col("lang") === "en")
        .select(col("doc_id"), substring(col("text"), 1, 64).as("title"))
      val idx = ensureAppendedEditIndex(s, d,
        en.filter(pmod(col("doc_id"), lit(10)).between(1, 5)),
        en.filter(pmod(col("doc_id"), lit(10)) >= 6))
      Dedup.incrementalEditDistancePairsIndexed(
        en.filter(pmod(col("doc_id"), lit(10)) === 0), idx,
        "doc_id", "title")
        .orderBy("fresh_id", "corpus_id")
    },

    // Content-adaptive edit slice (d24): the d19 pairing where the title
    // window starts AFTER the corpus-wide longest common prefix (computed
    // distributed via LCP(set) = LCP(min, max) — two string aggregates).
    // The query injects a synthetic shared URL head in front of every
    // text, the degraded corpus shape (log lines, URL-titled docs) where
    // a FIXED window fills with corpus-common grams and the Ed-Join
    // prefix filter collapses toward all-pairs (the r14 ×30 lesson,
    // spec-pinned: the fixed slice trips the candidate guard on a
    // shared-head fixture, the adaptive slice stays flat). The oracle
    // replays the LCP (min/max + the max matching prefix length), the
    // shifted slice, and the full d19 pair logic in SQL. Same en/ASCII
    // scope as d19.
    "d24_edit_adaptive_slice" -> of(
      """WITH raw AS (
        |  SELECT doc_id AS id,
        |    concat('https://corpus.example.org/docs/', text) AS s0
        |  FROM documents WHERE lang = 'en'),
        |mm AS (SELECT min(s0) AS a, max(s0) AS b FROM raw),
        |lcp AS (
        |  SELECT COALESCE(MAX(i), 0) AS n
        |  FROM mm, UNNEST(range(1, least(length(a), length(b), 4096) + 1)) AS r(i)
        |  WHERE substring(a, 1, CAST(i AS INT)) = substring(b, 1, CAST(i AS INT))),
        |t AS (
        |  SELECT id, substring(s0, CAST((SELECT n FROM lcp) AS INT) + 1, 64) AS s
        |  FROM raw),
        |grams AS (
        |  SELECT id, UNNEST(list_distinct(CASE WHEN length(s) >= 4
        |    THEN list_transform(range(1, length(s) - 2), i -> substring(s, CAST(i AS INT), 4))
        |    ELSE [s] END)) AS g
        |  FROM t),
        |dfq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM grams GROUP BY g),
        |pref AS (
        |  SELECT id, g FROM (
        |    SELECT gr.id, gr.g,
        |      ROW_NUMBER() OVER (PARTITION BY gr.id ORDER BY d.df, gr.g) AS rk
        |    FROM grams gr JOIN dfq d ON d.g = gr.g) z
        |  WHERE rk <= 17),
        |sh AS (
        |  SELECT t.id, length(t.s) AS len FROM t
        |  JOIN (SELECT id, COUNT(*) AS ng FROM grams GROUP BY id) n
        |    ON n.id = t.id AND n.ng < 17),
        |cands AS (
        |  SELECT DISTINCT id_a, id_b FROM (
        |    SELECT a.id AS id_a, b.id AS id_b
        |    FROM pref a JOIN pref b ON a.g = b.g AND a.id < b.id
        |    UNION ALL
        |    SELECT a.id, b.id FROM sh a JOIN sh b
        |      ON abs(a.len - b.len) <= 4 AND a.id < b.id) u)
        |SELECT c.id_a, c.id_b, CAST(levenshtein(ta.s, tb.s) AS BIGINT) AS dist
        |FROM cands c JOIN t ta ON ta.id = c.id_a JOIN t tb ON tb.id = c.id_b
        |WHERE abs(length(ta.s) - length(tb.s)) <= 4
        |  AND levenshtein(ta.s, tb.s) <= 4
        |ORDER BY id_a, id_b""") { (s, d) =>
      val en = t(s, d, "documents").filter(col("lang") === "en")
        .select(col("doc_id"),
          concat(lit("https://corpus.example.org/docs/"), col("text")).as("s0"))
      val sliced = en.select(col("doc_id"),
        Dedup.adaptiveEditSlice(en, "s0").as("title"))
      Dedup.editDistancePairs(sliced, "doc_id", "title", maxDist = 4, q = 4)
        .orderBy("id_a", "id_b")
    },

    // Adaptive-window STANDING edit screen (d25): d24's corpus-aware
    // window threaded through the d22 lake pattern (VERDICT r15 #1 — the
    // d24 fix was batch-only). The index is built over the raw
    // shared-head strings with sliceChars = 64: writeEditIndex computes
    // the CORPUS-side LCP once at build time, bakes the offset into the
    // knob family (table names carry _w64o{off}), and builds every
    // structure over the shifted window; the probe slices the fresh
    // batch at the FROZEN offset. A standing screen pointed at log lines
    // or URL-titled docs therefore keeps its prefix selectivity instead
    // of collapsing toward all-pairs and aborting on the candidate
    // guard. The oracle replays the corpus LCP (capped at 4096 like
    // commonPrefixLength's maxScan — ADVICE r15), the frozen slice on
    // BOTH sides, and the full d20 screen logic in SQL.
    "d25_edit_adaptive_indexed" -> of(adaptiveEditIncrementalSql) { (s, d) =>
      val en = t(s, d, "documents").filter(col("lang") === "en")
        .select(col("doc_id"),
          concat(lit("https://corpus.example.org/docs/"), col("text")).as("s0"))
      val idx = ensureAdaptiveEditIndex(s, d,
        en.filter(pmod(col("doc_id"), lit(10)) =!= 0))
      Dedup.incrementalEditDistancePairsIndexed(
        en.filter(pmod(col("doc_id"), lit(10)) === 0), idx,
        "doc_id", "s0")
        .orderBy("fresh_id", "corpus_id")
    },

    // Incremental dup-cluster maintenance (d21): fold the ingest batch's
    // fresh pairs into the STANDING cluster labels — attach, new-cluster
    // and cluster-MERGE cases all handled by one delta-sized closure over
    // touched-cluster members + fresh pairs, untouched clusters passing
    // through by anti-join. The SERVE reads both standing structures from
    // the lake (VERDICT r16 #1 — the last corpus-sized derivation pulled
    // out of a serving path): labels from the bucketed label table
    // (Dedup.readClusterLabels — merge-on-read, no exchange) and cross
    // pairs through the d12 standing shingle index, so per-serve cost is
    // the batch's shingling + bucket-pruned probes + the delta closure,
    // NEVER a corpus shingle self-join (PlanSpec-pinned). Graded by the
    // d08 definition itself: the oracle is the from-scratch recursive
    // closure over ALL documents' pairs, so the incremental path must
    // land bit-identical to a full re-cluster (the pair predicate is
    // pairwise ⇒ full-pair set = corpus-internal ∪ cross ∪
    // fresh-internal); correct whether or not d26's write-back has
    // already folded this batch (the closure is a fixed point).
    "d21_incremental_clusters" -> of(d21OracleSql) { (s, d) =>
      val docs = t(s, d, "documents")
      val standing = Dedup.readClusterLabels(
        s, ensureCorpusClusterLabels(s, d, docs))
      Dedup.incrementalDupClusters(standing, freshClusterPairs(s, d, docs))
        .select(col("id").as("doc_id"), col("cluster"),
          (col("id") === col("cluster")).as("is_survivor"))
        .orderBy("doc_id")
    },

    // Label-table MAINTENANCE (d26 — VERDICT r16 #1's write-back rung):
    // the d21 fold made durable. The accepted batch's pairs fold through
    // the same delta-sized closure and the RELABELED rows append into the
    // standing label table at the next epoch (Dedup.maintainClusterLabels
    // — the d17/s25 append contract for labels; merge-on-read, so the
    // ingest never pays a corpus-sized rewrite and re-folding the same
    // batch is value-idempotent). The query serves the maintained table
    // back through readClusterLabels — tomorrow's e49 split and
    // tomorrow's d21 serve read exactly this — and is graded by the same
    // from-scratch d08 oracle as d21/e36: the maintained TABLE, not just
    // the fold, must equal a full re-cluster bit for bit.
    "d26_label_table_maintenance" -> of(d21OracleSql) { (s, d) =>
      val name = ensureMaintainedClusterLabels(s, d, t(s, d, "documents"))
      Dedup.readClusterLabels(s, name)
        .select(col("id").as("doc_id"), col("cluster"),
          (col("id") === col("cluster")).as("is_survivor"))
        .orderBy("doc_id")
    },

    // Label-table COMPACTION (d27 — the lifecycle's last rung): after
    // maintenance epochs accumulate, the merge-on-read result rewrites
    // the table at a single epoch 0 under the same bucket spec (the d18
    // compaction step for labels; run on a cadence, never on the ingest
    // path). Reads before and after are bit-identical by construction —
    // readClusterLabels IS the merge the rewrite materializes — so the
    // same from-scratch d08 oracle grades the COMPACTED table, closing
    // the loop: build (epoch 0) → maintain (d26, delta appends) →
    // compact (d27, one row per id again, single-file globally-sorted
    // buckets) all land on one answer.
    "d27_label_table_compaction" -> of(d21OracleSql) { (s, d) =>
      val name = ensureMaintainedClusterLabels(s, d, t(s, d, "documents"))
      Dedup.compactClusterLabels(s, name)
      Dedup.readClusterLabels(s, name)
        .select(col("id").as("doc_id"), col("cluster"),
          (col("id") === col("cluster")).as("is_survivor"))
        .orderBy("doc_id")
    },

    // Cross-source duplication matrix (t35): which sources duplicate into
    // which — the rollup a curation owner reads before dropping mirror
    // sites or re-weighting a scraped source. One row per unordered
    // source pair with ≥1 near-dup pair: pair count + mean Jaccard (the
    // mean via the quantized exact sum, so the double is
    // partitioning-independent). Cost after the d02 pair generation is
    // two source-map joins + an O(sources²) rollup.
    "t35_source_dup_matrix" -> of(
      s"""WITH ${jaccardCtes(None)},
        |src AS (SELECT doc_id, source FROM documents),
        |p AS (
        |  SELECT LEAST(sa.source, sb.source) AS source_a,
        |    GREATEST(sa.source, sb.source) AS source_b, jp.jaccard
        |  FROM jp JOIN src sa ON sa.doc_id = jp.id_a
        |  JOIN src sb ON sb.doc_id = jp.id_b)
        |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CAST(floor(jaccard * 1e18) AS HUGEINT)) AS DOUBLE) / 1e18
        |    / COUNT(*) AS mean_jaccard
        |FROM p GROUP BY source_a, source_b ORDER BY source_a, source_b""") { (s, d) =>
      val docs = t(s, d, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"),
          (graft.operators.GraphOps.quantizedSum(col("jaccard")) /
            count(lit(1))).as("mean_jaccard"))
        .orderBy("source_a", "source_b")
    },

    // ---- graph propagation ------------------------------------------------

    // Fixed-iteration PageRank over the near-dup pair graph (the curation
    // use: rank documents/hosts by similarity-graph centrality before
    // sampling). 3 rounds, d = 0.85, undirected edges from the d02 Jaccard
    // pairs; rank sums are quantized exact-integer sums (GraphOps
    // .quantizedSum) so the doubles bit-match with no per-node buffering.
    "g01_pagerank" -> of(pagerankOracle(3, 0.85)) { (s, d) =>
      graft.operators.GraphOps.pageRank(
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text"),
        iters = 3)
        .orderBy("id")
    },

    // Weight-proportional PageRank (g06): g01 with rank flowing along the
    // pairs' Jaccard weights — similarity-weighted centrality, so a node
    // held by many weak coincidental links stops outranking a tight
    // template hub. Strengths AND rank messages sum through the same
    // quantized exact tree as g01 (no ordered folds, O(1) group state).
    "g06_weighted_pagerank" -> of(weightedPagerankOracle(3, 0.85)) { (s, d) =>
      graft.operators.GraphOps.weightedPageRank(
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text"),
        "jaccard", iters = 3)
        .orderBy("id")
    },

    // Triangle census over the same near-dup graph: per-node triangle
    // counts + local clustering coefficient, wedges generated only at each
    // edge's (degree, id)-lower endpoint — O(m^1.5) wedge volume however
    // skewed the degree distribution (the hub never fans out).
    "g02_triangles" -> of(triangleOracle) { (s, d) =>
      graft.operators.GraphOps.triangleStats(
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text"))
        .orderBy("id")
    },

    // Dup-cluster size profile (g03): the distribution a dedup-pipeline
    // owner reads before choosing survivor policy and salting strategy —
    // how many clusters of each size, how many docs they hold, and each
    // size's share of all CLUSTERED docs (singletons are docs that pair
    // but only with themselves transitively — every node in the pair
    // graph belongs to exactly one component). Composes the d08 closure
    // with a two-level rollup; cost after the closure is O(components).
    "g03_cluster_profile" -> of(
      s"""WITH RECURSIVE ${jaccardCtes(None)},
        |edges AS (
        |  SELECT id_a, id_b FROM jp UNION ALL SELECT id_b, id_a FROM jp),
        |reach(id, label) AS (
        |  SELECT id_a, id_a FROM edges
        |  UNION
        |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON r.id = e.id_b),
        |comp AS (SELECT id, MIN(label) AS cluster FROM reach GROUP BY id),
        |cs AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS csize FROM comp GROUP BY cluster),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM comp)
        |SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(csize * COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(csize * COUNT(*) AS DOUBLE) / CAST(tot.n_docs AS DOUBLE) AS doc_share
        |FROM cs CROSS JOIN tot
        |GROUP BY csize, tot.n_docs ORDER BY csize""") { (s, d) =>
      val pairs = Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text")
      val comp = Dedup.dupClusters(pairs)
      val cs = comp.groupBy("cluster").agg(count(lit(1)).as("csize"))
      val tot = comp.agg(count(lit(1)).as("n_docs0"))
      cs.groupBy("csize").agg(count(lit(1)).as("n_clusters"))
        .crossJoin(tot)
        .select(col("csize"), col("n_clusters"),
          (col("csize") * col("n_clusters")).as("n_docs"),
          ((col("csize") * col("n_clusters")).cast("double") /
            col("n_docs0").cast("double")).as("doc_share"))
        .orderBy("csize")
    },

    // Neighborhood-similarity link prediction (g04): common-neighbor /
    // Jaccard / Resource-Allocation scores over the near-dup graph — ranks the
    // pairs a noisy candidate generator may have dropped (LSH band miss)
    // for a second-pass exact verify, and flags weakly-attached cluster
    // bridges (is_edge with low jaccard) before transitive-closure merges
    // them. Oracle mirrors the wedge-at-center plan and the quantized
    // exact RA-weight sum operation for operation.
    "g04_node_similarity" -> of(
      s"""WITH ${jaccardCtes(None)},
        |und AS (SELECT id_a AS a, id_b AS b FROM jp),
        |sym AS (SELECT a AS s, b AS t FROM und UNION ALL SELECT b, a FROM und),
        |deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY s),
        |wed AS (
        |  SELECT x.t AS u, y.t AS v, x.s AS c, dg.d AS dc
        |  FROM sym x JOIN sym y ON x.s = y.s AND x.t < y.t
        |  JOIN deg dg ON dg.s = x.s),
        |cn AS (
        |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common,
        |    CAST(SUM(CAST(floor(CAST(1.0 AS DOUBLE) / CAST(dc AS DOUBLE) * 1e18)
        |      AS HUGEINT)) AS DOUBLE) / 1e18 AS ra_index
        |  FROM wed GROUP BY u, v)
        |SELECT cn.u AS id_a, cn.v AS id_b, cn.common,
        |  CAST(cn.common AS DOUBLE) / (du.d + dv.d - cn.common) AS jaccard,
        |  cn.ra_index, (e.a IS NOT NULL) AS is_edge
        |FROM cn JOIN deg du ON du.s = cn.u JOIN deg dv ON dv.s = cn.v
        |LEFT JOIN und e ON e.a = cn.u AND e.b = cn.v
        |ORDER BY id_a, id_b""") { (s, d) =>
      graft.operators.GraphOps.nodeSimilarity(
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text"))
        .orderBy("id_a", "id_b")
    },

    // Bridge audit (g05): g04 with the zero-common edges unioned in — an
    // edge whose endpoints share NO neighbor is the weakest cluster bridge
    // of all (jaccard 0), and the default co-neighbor frame structurally
    // misses it. This is the full-edge-set view a curation owner scans
    // before transitive-closure merging: every is_edge row exists, ranked
    // worst-first by jaccard. The oracle extends the g04 SQL with the same
    // anti-joined union.
    "g05_bridge_audit" -> of(
      s"""WITH ${jaccardCtes(None)},
        |und AS (SELECT id_a AS a, id_b AS b FROM jp),
        |sym AS (SELECT a AS s, b AS t FROM und UNION ALL SELECT b, a FROM und),
        |deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY s),
        |wed AS (
        |  SELECT x.t AS u, y.t AS v, x.s AS c, dg.d AS dc
        |  FROM sym x JOIN sym y ON x.s = y.s AND x.t < y.t
        |  JOIN deg dg ON dg.s = x.s),
        |cn0 AS (
        |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common,
        |    CAST(SUM(CAST(floor(CAST(1.0 AS DOUBLE) / CAST(dc AS DOUBLE) * 1e18)
        |      AS HUGEINT)) AS DOUBLE) / 1e18 AS ra_index
        |  FROM wed GROUP BY u, v),
        |cn AS (
        |  SELECT u, v, common, ra_index FROM cn0
        |  UNION ALL
        |  SELECT e.a, e.b, CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)
        |  FROM und e WHERE NOT EXISTS (
        |    SELECT 1 FROM cn0 WHERE cn0.u = e.a AND cn0.v = e.b))
        |SELECT cn.u AS id_a, cn.v AS id_b, cn.common,
        |  CAST(cn.common AS DOUBLE) / (du.d + dv.d - cn.common) AS jaccard,
        |  cn.ra_index, (e.a IS NOT NULL) AS is_edge
        |FROM cn JOIN deg du ON du.s = cn.u JOIN deg dv ON dv.s = cn.v
        |LEFT JOIN und e ON e.a = cn.u AND e.b = cn.v
        |WHERE e.a IS NOT NULL
        |ORDER BY jaccard, id_a, id_b""") { (s, d) =>
      graft.operators.GraphOps.nodeSimilarity(
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text"),
        includeZeroCommonEdges = true)
        .filter(col("is_edge"))
        .orderBy("jaccard", "id_a", "id_b")
    },

    // Fixed-round k-core peel (g07): density screen over the near-dup
    // graph — high-core survivors are mutually-duplicating template
    // families (cut as a block before survivor selection), while organic
    // near-dup pairs peel away in the first rounds. 4 rounds at k=2
    // (converged: the sf0.01 graph stabilizes after round 1); the oracle
    // unrolls the identical peel.
    "g07_kcore" -> of(kcoreOracle(2, 4)) { (s, d) =>
      graft.operators.GraphOps.kCore(
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text"),
        k = 2, rounds = 4)
        .orderBy("id")
    },

    // Degeneracy profile (g09): the k-core sweep — survivors and
    // within-core edges per k, the curve a curation owner reads to pick
    // the block-cut threshold (the k where it hits zero bounds the
    // graph's degeneracy). Shares the persisted edge set across sweep
    // points; NULL edges mark an empty core on both engines.
    "g09_degeneracy_profile" -> of(kcoreProfileOracle(Seq(2, 3, 4), 4)) { (s, d) =>
      graft.operators.GraphOps.kCoreProfile(
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text"),
        ks = Seq(2, 3, 4), rounds = 4)
        .orderBy("k")
    },

    // One-pass coreness DECOMPOSITION (g10): per-node coreness via the
    // sequential min-degree peel — level k resumes from level k−1's
    // survivors, so the whole degeneracy curve (any k granularity) costs
    // ONE decomposition instead of g09's full peel per sweep point, and
    // the coreness column is what curation joins on. The oracle replays
    // the identical level-by-level fixed-round schedule.
    "g10_coreness" -> of(corenessOracle(4, 4)) { (s, d) =>
      graft.operators.GraphOps.corenessDecomposition(
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text"),
        kMax = 4, rounds = 4)
        .orderBy("id")
    },

    // Degree assortativity (g08): one Pearson number separating
    // hub-to-hub template families (r > 0, cut as a block) from
    // hub-and-spoke canonical-plus-variants shapes (r < 0,
    // survivor-select). All sufficient statistics are exact integer sums
    // (DECIMAL(38,0) / HUGEINT), so the final doubles bit-match.
    "g08_assortativity" -> of(
      s"""WITH ${jaccardCtes(None)},
        |und AS (SELECT id_a AS a, id_b AS b FROM jp WHERE id_a <> id_b),
        |deg AS (
        |  SELECT id, CAST(COUNT(*) AS BIGINT) AS d
        |  FROM (SELECT a AS id FROM und UNION ALL SELECT b FROM und) n GROUP BY id),
        |sym AS (SELECT a AS s, b AS t FROM und UNION ALL SELECT b, a FROM und),
        |st AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS m,
        |    SUM(CAST(ds.d AS HUGEINT)) AS sx,
        |    SUM(CAST(ds.d * ds.d AS HUGEINT)) AS sxx,
        |    SUM(CAST(ds.d * dt.d AS HUGEINT)) AS sxy
        |  FROM sym JOIN deg ds ON ds.id = sym.s JOIN deg dt ON dt.id = sym.t),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
        |SELECT nn.n_nodes, CAST(m // 2 AS BIGINT) AS n_edges,
        |  (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |  (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS assortativity
        |FROM st, nn""") { (s, d) =>
      graft.operators.GraphOps.degreeAssortativity(
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text"))
    },

    // ---- similarity search ------------------------------------------------

    // Exact cosine top-5 for the first 10 vectors, via the bounded-heap
    // Aggregator (rank + neighbor id are the contract; cosine is emitted and
    // must bit-match the oracle's identical sequential-fold formula).
    "s01_sim_topk_agg" -> of(s01TopkSql) { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.cosineTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    },

    // Same contract through the window-ranked plan (cross-check of the
    // custom Aggregator against pure built-ins).
    "s02_sim_topk_window" -> of(
      """SELECT query_id, rank, neighbor_id FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_sum(list_transform(list_zip(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])),
        |        x -> x[1] * x[2]))
        |      / (sqrt(list_sum(list_transform(CAST(q.embedding AS DOUBLE[]), x -> x*x)))
        |         * sqrt(list_sum(list_transform(CAST(c.embedding AS DOUBLE[]), x -> x*x)))) DESC,
        |      c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 10) x
        |WHERE rank <= 5 ORDER BY query_id, rank""") { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.cosineTopKWindow(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 5)
        .select("query_id", "rank", "neighbor_id")
        .orderBy("query_id", "rank")
    },

    // LSH-bucketed ANN. Oracled via the materialized hyperplane sign vectors
    // (AuxDumps "hyperplanes8"): DuckDB recomputes each vector's 8 sign bits
    // (sequential-fold dot against the ±1 planes — same fold order as the
    // operator, so the d ≥ 0 threshold sees bit-identical sums), packs the
    // bucket, joins query×corpus within buckets and ranks by exact cosine.
    "s03_sim_ann_lsh" -> of(s"WITH $lshCtes\n$lshSelect") { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.lshBucketedNeighbors(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    },

    // MULTI-PROBE LSH ANN (s15): the s03 bucket search extended with the 8
    // Hamming-distance-1 probe buckets per query (Lv et al. 2007) — recall
    // recovered at fixed index size via a linear probe fan-out instead of
    // quadratic bucket growth. The oracle replays the same buckets from
    // the materialized planes and generates the identical 1-flip probe set
    // with xor; candidates are provably distinct (one bucket per corpus
    // vector), ranked by exact cosine.
    "s15_ann_multiprobe" -> of(
      s"""WITH $lshCtes,
        |probes AS (
        |  SELECT vec_id AS query_id, bucket AS probe
        |  FROM buckets WHERE vec_id < 10
        |  UNION
        |  SELECT b.vec_id, xor(b.bucket, (1::BIGINT << CAST(7 - u.p AS INT)))
        |  FROM buckets b, UNNEST(range(0, 8)) AS u(p) WHERE b.vec_id < 10),
        |mscored AS (
        |  SELECT p.query_id, c.vec_id AS neighbor_id,
        |    list_sum(list_transform(list_zip(qe.v, ce.v), x -> x[1] * x[2]))
        |    / (sqrt(list_sum(list_transform(qe.v, x -> x*x)))
        |       * sqrt(list_sum(list_transform(ce.v, x -> x*x)))) AS cosine
        |  FROM probes p
        |  JOIN buckets c ON c.bucket = p.probe AND c.vec_id <> p.query_id
        |  JOIN e qe ON qe.vec_id = p.query_id
        |  JOIN e ce ON ce.vec_id = c.vec_id)
        |SELECT query_id, rank, neighbor_id, cosine FROM (
        |  SELECT query_id, neighbor_id, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM mscored) x
        |WHERE rank <= 5 ORDER BY query_id, rank""") { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.multiProbeLshNeighbors(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    },

    // Multi-index Hamming ANN (s22, Norouzi et al. CVPR'12): 32-bit SRP
    // code held as four SEPARATE 8-bit band ints; candidates share at
    // least one exact band (pigeonhole-complete for Hamming radius 3),
    // ranked by full-code Hamming (integer xor/bit_count — codes move,
    // floats only for the coarse-40 re-rank). The oracle recomputes bits
    // from the dumped ±1 planes (AuxDumps "mih_planes"), repacks the
    // band values, and replays band-join, Hamming ranking and the exact
    // cosine re-rank in SQL.
    "s22_mih_hamming" -> of(
      s"""WITH $mihCodesCtes,
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        |  FROM codes q JOIN codes c
        |    ON c.band = q.band AND c.band_val = q.band_val AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |ham AS (
        |  SELECT ca.query_id, ca.neighbor_id,
        |    CAST(SUM(bit_count(xor(qc.band_val, cc.band_val))) AS BIGINT) AS hamming
        |  FROM cand ca
        |  JOIN codes qc ON qc.vec_id = ca.query_id
        |  JOIN codes cc ON cc.vec_id = ca.neighbor_id AND cc.band = qc.band
        |  GROUP BY ca.query_id, ca.neighbor_id),
        |coarse AS (
        |  SELECT query_id, neighbor_id, hamming,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY hamming, neighbor_id) AS crn
        |  FROM ham),
        |sc22 AS (
        |  SELECT co.query_id, co.neighbor_id, co.hamming,
        |    ${listCos("qe.v", "ce.v")} AS cosine
        |  FROM coarse co
        |  JOIN e qe ON qe.vec_id = co.query_id
        |  JOIN e ce ON ce.vec_id = co.neighbor_id
        |  WHERE co.crn <= 40)
        |SELECT query_id, rank, neighbor_id, hamming, cosine FROM (
        |  SELECT query_id, neighbor_id, hamming, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM sc22) x
        |WHERE rank <= 5 ORDER BY query_id, rank""") { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.mihHammingNeighbors(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    },

    // Radius-6 MIH Hamming screen (s23): the s22 code family as a
    // fresh-vs-corpus ingest pre-screen — codes ONLY (no vector or norm
    // ever joins), band equi-join + one integer projection + distinct;
    // pigeonhole-complete for radius ≤ 3, band-gated beyond (the
    // documented MIH truncation). Shares its oracle verbatim with the
    // streaming twin e37.
    "s23_mih_screen" -> of(mihScreenSql) { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.mihHammingScreen(e.filter(col("vec_id") % 8 === 0),
        e.filter(col("vec_id") % 8 =!= 0), "vec_id", "embedding", radius = 6)
        .orderBy("fresh_id", "corpus_id")
    },

    // MIH screen against the STANDING code index (s24): s23 with the
    // corpus side pre-coded and bucketed on disk — per-ingest cost is
    // the fresh batch's coding only, the band probe reads the code table
    // through its bucket layout with no index-side exchange (the d16
    // pattern). The s23 oracle grades it verbatim.
    "s24_mih_screen_indexed" -> of(mihScreenSql) { (s, d) =>
      val e = t(s, d, "embeddings")
      val idx = ensureMihIndex(s, d, e.filter(col("vec_id") % 8 =!= 0))
      Similarity.mihHammingScreenIndexed(
        e.filter(col("vec_id") % 8 === 0), idx, "vec_id", "embedding",
        radius = 6)
        .orderBy("fresh_id", "corpus_id")
    },

    // Band-BALL MIH screen (s26): s23 running Norouzi et al.'s actual
    // search procedure — each fresh band probes its band value AND every
    // single-bit flip (probeBallRadius=1, (bandBits+1)× fresh-side
    // fan-out only; the corpus side is untouched), lifting the pigeonhole
    // guarantee from bands−1=3 to 2·bands−1=7. The oracle is a BRUTE
    // FORCE over all fresh×corpus code pairs at radius 7: it matches only
    // if the band-gated plan is genuinely complete at that radius — the
    // spread-bits pairs (e.g. 2+2+1+1) that exact-band matching provably
    // misses (ExtensionSpec pins the miss) must all be found.
    "s26_mih_ball_screen" -> of(mihBallScreenSql) { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.mihHammingScreen(e.filter(col("vec_id") % 8 === 0),
        e.filter(col("vec_id") % 8 =!= 0), "vec_id", "embedding",
        radius = 7, probeBallRadius = 1)
        .orderBy("fresh_id", "corpus_id")
    },

    // MIH index APPEND lifecycle (s25): built from 3/7 of the corpus,
    // the rest folded in under the FROZEN plane family (hash-derived —
    // freezing needs no stored state); the s23 screen against the
    // appended index must equal a screen against the full corpus (the
    // s23 oracle verbatim).
    "s25_mih_index_append" -> of(mihScreenSql) { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.mihHammingScreenIndexed(
        e.filter(col("vec_id") % 8 === 0),
        ensureAppendedMihIndex(s, d, e), "vec_id", "embedding", radius = 6)
        .orderBy("fresh_id", "corpus_id")
    },

    // Embedding L2 normalization — the standard pre-index step (unit
    // vectors make cosine = dot). The norm is computed ONCE per row and
    // referenced from the transform lambda; both engines divide the same
    // doubles element-wise, so the unit vectors bit-match. The query
    // posexplodes to one scalar row per component: the driver's comparer
    // row-sorts with pandas, which cannot sort array columns — arrays must
    // never appear in a final query output (library callers still get the
    // array form via the `unit` intermediate).
    "s05_normalize" -> of(
      """WITH norm AS (
        |  SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> x / sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), y -> y*y)))) AS unit
        |  FROM embeddings WHERE vec_id < 100)
        |SELECT vec_id, CAST(i AS INT) AS idx, unit[i + 1] AS unit_val
        |FROM norm, UNNEST(range(len(unit))) AS r(i)
        |ORDER BY vec_id, idx""") { (s, d) =>
      graft.functions.NativeFunctions.register(s)
      t(s, d, "embeddings").filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("norm", Similarity.l2norm(col("v")))
        .select(col("vec_id"),
          posexplode(transform(col("v"), x => x / col("norm"))))
        .select(col("vec_id"), col("pos").as("idx"), col("col").as("unit_val"))
        .orderBy("vec_id", "idx")
    },

    // Symmetric int8 scalar quantization of the embedding column — the
    // compression step before indexing. scale = max|x|/127 (exact max,
    // exact division); q = round(x/scale) (both engines round half away
    // from zero on doubles). Exploded to scalar rows like s05.
    "s06_quantize_int8" -> of(
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 100),
        |sc AS (
        |  SELECT vec_id, v,
        |    list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |  FROM e)
        |SELECT vec_id, CAST(i AS INT) AS idx,
        |  CAST(CASE WHEN scale = 0 THEN 0 ELSE round(v[i + 1] / scale) END AS INT) AS q_val,
        |  scale
        |FROM sc, UNNEST(range(len(v))) AS r(i)
        |ORDER BY vec_id, idx""") { (s, d) =>
      t(s, d, "embeddings").filter(col("vec_id") < 100)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("scale", Similarity.int8Scale(col("v")))
        .select(col("vec_id"), col("scale"), posexplode(col("v")))
        .select(col("vec_id"), col("pos").as("idx"),
          Similarity.int8Quantize(col("col"), col("scale")).as("q_val"),
          col("scale"))
        .orderBy("vec_id", "idx")
    },

    // JL-style random projection to 16 dims (hash-derived ±1 signs,
    // AuxDumps "rp_signs16") — the dimensionality-cheapening step before
    // ANN/dedup passes. Exploded to scalar rows like s05/s06.
    "s07_random_projection" -> of(
      """WITH signs AS (SELECT p, signs FROM read_parquet('{{AUX}}/rp_signs16/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id < 100)
        |SELECT vec_id, CAST(p AS INT) AS dim,
        |  list_sum(list_transform(list_zip(v, signs), x -> x[1] * x[2])) AS y
        |FROM e, signs
        |ORDER BY vec_id, dim""") { (s, d) =>
      Similarity.randomProjection(
        t(s, d, "embeddings").filter(col("vec_id") < 100), "vec_id", "embedding", 16)
        .orderBy("vec_id", "dim")
    },

    // Two-stage ANN: LSH-bucketed candidates → int8-quantized INTEGER-dot
    // coarse top-20 → exact-cosine re-rank top-5 (the production retrieval
    // shape: quantized prefilter, full-precision re-rank of a bounded set).
    // The coarse stage is pure 64-bit integer arithmetic — order-free and
    // bit-reproducible — so the oracle rebuilds the exact candidate set from
    // the dumped hyperplanes + the s06 quantization formula, then re-ranks
    // with the s01 sequential-fold cosine.
    "s08_ann_rerank" -> of(
      """WITH planes AS (SELECT p, signs FROM read_parquet('{{AUX}}/hyperplanes32/*.parquet') WHERE p < 8),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qz AS (
        |  SELECT vec_id, v,
        |    list_transform(v, x -> CAST(CASE WHEN scale = 0 THEN 0
        |      ELSE round(x / scale) END AS BIGINT)) AS q
        |  FROM (SELECT vec_id, v,
        |          list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |        FROM e) sc),
        |bits AS (
        |  SELECT vec_id, p,
        |    CASE WHEN list_sum(list_transform(list_zip(v, signs), x -> x[1] * x[2])) >= 0
        |      THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        |  FROM e, planes),
        |buckets AS (
        |  SELECT vec_id, CAST(sum(bit * (1::BIGINT << CAST(7 - p AS INT))) AS BIGINT) AS bucket
        |  FROM bits GROUP BY vec_id),
        |cand AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(list_zip(qq.q, cq.q), x -> x[1] * x[2])) AS BIGINT) AS coarse_score,
        |    qq.v AS qv, cq.v AS cv
        |  FROM buckets q JOIN buckets c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        |  JOIN qz qq ON qq.vec_id = q.vec_id
        |  JOIN qz cq ON cq.vec_id = c.vec_id
        |  WHERE q.vec_id < 10),
        |coarse AS (
        |  SELECT query_id, neighbor_id, coarse_score, qv, cv,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY coarse_score DESC, neighbor_id) AS crn
        |  FROM cand),
        |fine AS (
        |  SELECT query_id, neighbor_id, coarse_score,
        |    list_sum(list_transform(list_zip(qv, cv), x -> x[1] * x[2]))
        |    / (sqrt(list_sum(list_transform(qv, x -> x*x)))
        |       * sqrt(list_sum(list_transform(cv, x -> x*x)))) AS cosine
        |  FROM coarse WHERE crn <= 20)
        |SELECT query_id, rank, neighbor_id, coarse_score, cosine FROM (
        |  SELECT query_id, neighbor_id, coarse_score, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM fine) x
        |WHERE rank <= 5 ORDER BY query_id, rank""") { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.annRerankQuantized(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", k = 5, coarseM = 20)
        .orderBy("query_id", "rank")
    },

    // PQ-ADC search (s09): corpus compressed to 4 codebook codes per vector
    // (inner-product PQ, bit-reproducible per-subspace k-means), candidates
    // scored by summed ADC table lookups in subspace order, exact-cosine
    // re-rank of the coarse top-20. The oracle consumes the dumped
    // codebooks and rebuilds codes, tables, folds and both rankings.
    "s09_pq_adc" -> of {
      def sdot(a: String, b: String) =
        s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2]))"
      def cos(a: String, b: String) =
        s"${sdot(a, b)} / (sqrt(${sdot(a, a)}) * sqrt(${sdot(b, b)}))"
      val qslice = "v[CAST(sub*16+1 AS INT) : CAST(sub*16+16 AS INT)]"
      s"""WITH cb AS (SELECT sub, cid, cvec FROM read_parquet('{{AUX}}/s09_codebooks/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |codes AS (
        |  SELECT vec_id, sub, cid FROM (
        |    SELECT e.vec_id, cb.sub, cb.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, cb.sub
        |        ORDER BY ${sdot(qslice, "cb.cvec")} DESC, cb.cid) AS rn
        |    FROM e, cb) x WHERE rn = 1),
        |tabs AS (
        |  SELECT q.vec_id AS query_id, cb.sub, cb.cid,
        |    ${sdot(qslice.replace("v[", "q.v["), "cb.cvec")} AS tdot
        |  FROM e q, cb WHERE q.vec_id < 10),
        |adc AS (
        |  SELECT t.query_id, c.vec_id AS neighbor_id,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t.tdot ORDER BY t.sub)),
        |      (a, b) -> a + b) AS adc
        |  FROM codes c JOIN tabs t ON t.sub = c.sub AND t.cid = c.cid
        |  WHERE c.vec_id <> t.query_id
        |  GROUP BY t.query_id, c.vec_id),
        |cand AS (
        |  SELECT query_id, neighbor_id, adc,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY adc DESC, neighbor_id) AS crn
        |  FROM adc),
        |fine AS (
        |  SELECT query_id, neighbor_id, adc, ${cos("qe.v", "ce.v")} AS cosine
        |  FROM cand
        |  JOIN e qe ON qe.vec_id = query_id
        |  JOIN e ce ON ce.vec_id = neighbor_id
        |  WHERE crn <= 20)
        |SELECT query_id, rank, neighbor_id, adc, cosine FROM (
        |  SELECT query_id, neighbor_id, adc, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM fine) x
        |WHERE rank <= 5 ORDER BY query_id, rank"""
    } { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.pqSearch(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", k = 5, coarseM = 20)
        .orderBy("query_id", "rank")
    },

    // IVF-PQ composite search (s10): the s04 coarse cells and RESIDUAL
    // product codes stacked into the workhorse index — each corpus vector
    // encodes v − centroid(cell), a query ADC-scores ONLY the codes of its
    // 2 probed cells as ⟨q,centroid⟩ + table fold, then exact-cosine
    // re-ranks the coarse top-20. The oracle rebuilds assignment,
    // residuals, probing, codes, tables, shifts, folds and both rankings
    // from the s04 + s09r aux dumps.
    "s10_ivf_pq" -> of(s"WITH $ivfPqCtes\n$ivfPqSelect") { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.ivfPqSearch(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", k = 5, nProbe = 2, coarseM = 20,
        residual = true)
        .orderBy("query_id", "rank")
    },

    // Cluster-balanced diversity sampling (s11): cap each semantic
    // cluster's contribution at 5 docs, members taken in xxhash64(id)
    // order — over-represented modes can't dominate the curated sample.
    // nClusters pinned to 16 so the oracle reads the same s04_centroids
    // dump; the hash order comes from the vec_hashes aux (the t05
    // doc_hashes contract applied to vector ids).
    "s11_cluster_sample" -> of {
      def cos(a: String, b: String) =
        s"list_sum(list_transform(list_zip($a, $b), x -> x[1] * x[2])) / " +
          s"(sqrt(list_sum(list_transform($a, x -> x*x))) * sqrt(list_sum(list_transform($b, x -> x*x))))"
      s"""WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT cid, cvec AS cv FROM read_parquet('{{AUX}}/s04_centroids/*.parquet')),
         |assign AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT c.vec_id, ct.cid,
         |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
         |        ORDER BY ${cos("c.v", "ct.cv")} DESC, ct.cid) AS crn
         |    FROM corp c CROSS JOIN cent ct) x WHERE crn = 1),
         |vh AS (SELECT vec_id, h FROM read_parquet('{{AUX}}/vec_hashes/*.parquet')),
         |ranked AS (
         |  SELECT a.vec_id, a.cid,
         |    ROW_NUMBER() OVER (PARTITION BY a.cid
         |      ORDER BY vh.h, a.vec_id) AS sample_rank
         |  FROM assign a JOIN vh ON vh.vec_id = a.vec_id)
         |SELECT vec_id, cid, sample_rank FROM ranked
         |WHERE sample_rank <= 5 ORDER BY cid, sample_rank"""
    } { (s, d) =>
      Similarity.clusterBalancedSample(t(s, d, "embeddings"), "vec_id",
        "embedding", perCluster = 5, nClusters = Some(16))
        .select(col("id").as("vec_id"), col("cid"), col("sample_rank"))
        .orderBy("cid", "sample_rank")
    },

    // IVF ANN with a TRAINED deterministic coarse quantizer (reproducible
    // k-means, Similarity.kmeansCentroids). The centroids are materialized
    // by Verify (AuxDumps "s04_centroids"); the oracle consumes them and
    // recomputes the whole inverted-file path — assignment, probing,
    // in-list ranking — in SQL.
    "s04_sim_ann_ivf" -> of(s"WITH $ivfCtes\n$ivfSelect") { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.ivfNeighborsTrained(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    },

    // Streaming point-in-time enrichment (e30): the fact rows ARRIVE as a
    // stream and each joins the SCD2 dimension version valid at its own
    // timestamp — stream-static equi-join + validity filter, fully
    // STATELESS (no watermark, no state store): versioned-dimension
    // enrichment rides the scan, which is why it scales to any fact rate.
    // Graded against the same from-scratch SQL as q50.
    "e30_stream_pit_enrich" -> of(RelationalQueries.pitOracleSql) { (s, d) =>
      import graft.streaming.EventsStream
      val hist = RelationalQueries.pitHistory(s, d)
      val liStream = graft.streaming.TableStream.readProbed(s, d, "lineitem")
        .filter(pmod(col("l_orderkey"), lit(3000)) < 30)
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast("timestamp").as("sd"))
      val joined = graft.operators.Merges
        .pointInTimeLookup(liStream, hist, Seq("o_orderkey"), col("sd"))
        .select(col("o_orderkey"), col("l_linenumber"), col("sd"),
          col("o_totalprice").as("price_at_ship"), col("valid_from"))
      val sinkName = s"stream_pit_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(joined, sinkName)
      s.table(sinkName).orderBy("o_orderkey", "l_linenumber", "sd", "valid_from")
    },

    // Streaming CDC apply (e29): the q51 changelog ARRIVES as a stream —
    // generation 1 and generation 2 land in separate micro-batches, so
    // latest-wins supersession crosses the batch boundary through the
    // state store. One complete-mode max_by aggregate holds the latest
    // change per TOUCHED key (state ∝ changed keys — the CDC-state shape;
    // a production stream bounds it with a watermarked window or periodic
    // compaction into the base), and the serve step merges that state
    // with the base table exactly as the batch apply does. Graded against
    // the same from-scratch SQL as q51, so both maintenance paths must
    // agree.
    "e29_stream_cdc_apply" -> of(RelationalQueries.cdcOracleSql) { (s, d) =>
      import graft.streaming.EventsStream
      val (base, c1, c23) = RelationalQueries.cdcParts(s, d)
      val root = java.nio.file.Files.createTempDirectory("graft-cdc-feed-")
      def dump(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
        val p = s"$root/$name"
        df.coalesce(1).write.parquet(p)
        new java.io.File(p).listFiles().foreach(_.setLastModified(mtime))
      }
      val t0 = 1600000000000L // fixed epoch base; only relative order matters
      dump(c1, "batch-0", t0)
      dump(c23, "batch-1", t0 + 60000)
      val schema = s.read.parquet(s"$root/batch-0").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/batch-*")
      val latest = stream.groupBy("o_orderkey")
        .agg(max_by(struct(col("op"), col("o_orderstatus"), col("o_totalprice")),
          struct(col("ts"), col("op"))).as("c"))
      val sinkName = s"stream_cdc_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(latest, sinkName, outputMode = "complete")
      val st = s.table(sinkName).select(col("o_orderkey"),
        col("c.op").as("op"), col("c.o_orderstatus").as("o_orderstatus"),
        col("c.o_totalprice").as("o_totalprice"))
      base.join(st.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .unionByName(st.filter(col("op") === "U")
          .select("o_orderkey", "o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    },

    // Standing IVF index (s17): the d16 amortized-serving pattern applied
    // to retrieval — quantizer + cid-bucketed inverted file persisted as
    // warehouse tables; each query batch ranks the frozen centroids (read
    // back on the driver) and probes its cells through the bucketed
    // layout, paying neither the k-means training nor the corpus
    // assignment scan that s04's direct path pays per call. Result-identical to s04 by
    // construction (bit-reproducible training, spec-pinned assignment
    // parity), so the s04 oracle grades this path verbatim.
    "s17_ivf_indexed" -> of(s"WITH $ivfCtes\n$ivfSelect") { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.ivfSearchIndexed(e.filter(col("vec_id") < 10), standingIvf(s, d),
        "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    },

    // IVF index APPEND (s18): the d17 compaction step for retrieval — the
    // standing index is built from 3/4 of the corpus, the remaining
    // quarter folds in under the FROZEN initial quantizer (re-training
    // would move cell boundaries out from under the standing
    // assignments), and queries probe the appended layout. The oracle is
    // the same inverted-file walk with the centroid CTE pointed at the
    // initial-half training (s18_centroids aux) — assignment of EVERY
    // corpus row, appended or not, recomputed in SQL from those frozen
    // centroids.
    "s18_ivf_index_append" -> of(s"WITH ${ivfCtesFrom("s18_centroids")}\n$ivfSelect") { (s, d) =>
      val e = t(s, d, "embeddings")
      val idx = ensureAppendedIvfIndex(s, d,
        e.filter(pmod(col("vec_id"), lit(4)) =!= 0),
        e.filter(pmod(col("vec_id"), lit(4)) === 0))
      Similarity.ivfSearchIndexed(e.filter(col("vec_id") < 10), idx,
        "vec_id", "embedding", 5)
        .orderBy("query_id", "rank")
    },

    // Streaming retrieval serve (e28): query vectors ARRIVE as a stream
    // and take top-5 from the standing IVF index live — the serving twin
    // of s17 (the e23 pattern for retrieval). Each vector ranks the
    // literal centroids in its own row (windows can't rank centroids in a
    // stream) and probes nProbe=1 — the latency-over-recall serving point;
    // e34 is the nProbe=2 variant of the same helper. The stream-static
    // candidate join runs BEFORE the one stateful op, a complete-mode
    // bounded-heap top-k whose state is O(queries × k). Oracle = the IVF
    // walk at crn <= 1.
    "e28_stream_ivf_serve" -> of(s"WITH ${ivfCtesFrom("s04_centroids", 1)}\n$ivfSelect") { (s, d) =>
      ivfServe(s, d, nProbe = 1)
    },

    // Standing IVF-PQ index (s19): the s17 treatment for the compressed
    // composite — coarse quantizer, PQ codebooks, the melted code rows
    // (bucketed by cell) and the re-rank vector table all persisted; a
    // query batch ADC-scans stored codes for its probed cells and
    // re-ranks from the stored vectors, paying neither training nor
    // corpus encoding per call. Result-identical to s10 by construction,
    // so the s10 oracle grades this path verbatim.
    "s19_ivfpq_indexed" -> of(s"WITH $ivfPqCtes\n$ivfPqSelect") { (s, d) =>
      val e = t(s, d, "embeddings")
      val idx = Similarity.writeIvfPqIndex(e, "vec_id", "embedding",
        "ivfpq_idx_" + graft.sources.BucketedLake.layoutSuffix(d + "#ivfpq", 16),
        residual = true)
      Similarity.ivfPqSearchIndexed(e.filter(col("vec_id") < 10), idx,
        "vec_id", "embedding", k = 5, nProbe = 2, coarseM = 20)
        .orderBy("query_id", "rank")
    },

    // ANN recall@k (s12): the index-quality gate — fraction of the exact
    // top-5 set (s01's ground truth, same SQL) the trained-IVF search
    // (s04's walk, same CTEs) recovers per query. Evaluation is two
    // k-bounded frames joined on (query, neighbor) — cost independent of
    // corpus size, the property that lets it run as a standing health
    // check next to the index build.
    "s12_ann_recall" -> of(recallOracle(ivfCtes, ivfSelect)) { (s, d) =>
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      // exact ground truth materializes CONCURRENTLY with the quantizer
      // training's driver round trips (optimization r21, guide §2.6 /
      // VERDICT r20 #4) — the two sides are independent until recallAtK
      val sides = graft.operators.DriverJobs.awaitAll[org.apache.spark.sql.DataFrame](Seq(
        () => Similarity.ivfNeighborsTrained(q, e, "vec_id", "embedding", 5),
        () => graft.operators.Caching.materialized(
          Similarity.cosineTopK(q, e, "vec_id", "embedding", 5))))
      Similarity.recallAtK(sides(0), sides(1), k = 5)
        .orderBy("query_id")
    },

    // Recall@k for the OTHER shipped index families — with s12 this gives
    // every approximate index a standing, corpus-size-independent quality
    // gate against the same s01 ground truth: s13 = the hyperplane-LSH
    // bucket search (s03's walk), s14 = the IVF-PQ composite (s10's walk).
    "s13_lsh_recall" -> of(recallOracle(lshCtes, lshSelect)) { (s, d) =>
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      Similarity.recallAtK(
        Similarity.lshBucketedNeighbors(q, e, "vec_id", "embedding", 5),
        Similarity.cosineTopK(q, e, "vec_id", "embedding", 5), k = 5)
        .orderBy("query_id")
    },

    // Metadata-FILTERED ANN with its recall gate (s16): neighbors must
    // share the query's label (constrained retrieval — same-language
    // chunks, same-tenant docs). Exact side = brute force with the label
    // equality AS the join key (attr slices replace the |Q|×|C| pair
    // space); approx side = the s04 trained IVF with the filter applied
    // INSIDE the cell scan via the (cid, label) probe join — pre-filter,
    // not post-filter, because dropping non-matching rows from an
    // unfiltered top-k loses recall whenever the true filtered neighbors
    // rank below k unfiltered. Both walks fully recomputed by the oracle.
    "s16_filtered_recall" -> of(recallOracle(ivfFiltCtes, ivfSelect, filtExactSql)) { (s, d) =>
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      // exact side under the quantizer training's round trips (see s12)
      val sides = graft.operators.DriverJobs.awaitAll[org.apache.spark.sql.DataFrame](Seq(
        () => Similarity.ivfNeighborsTrainedFiltered(q, e, "vec_id", "embedding", "label", 5),
        () => graft.operators.Caching.materialized(
          Similarity.cosineTopKFiltered(q, e, "vec_id", "embedding", "label", 5))))
      Similarity.recallAtK(sides(0), sides(1), k = 5)
        .orderBy("query_id")
    },

    // Hard-negative mining (s20): for each query, the top-5 most-similar
    // corpus vectors with a DIFFERENT label — the near-misses a
    // contrastive retrieval model trains against, the highest-leverage
    // data op in embedding-model training. IVF scale path with the
    // mismatch as a POST-filter inside the probed cells (the dual of
    // s16's pre-filter: the negative constraint keeps the ~1−1/|labels|
    // complement of every cell, so post-filtering loses nothing a
    // (cid, label) anti-key would save). Oracle replays assignment,
    // probing, the mismatch filter and ranking from the s04 dump.
    "s20_hard_negatives" -> of(
      s"""WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |cent AS (SELECT cid, cvec AS cv FROM read_parquet('{{AUX}}/s04_centroids/*.parquet')),
        |assign AS (
        |  SELECT vec_id AS neighbor_id, cid, v AS nv, label AS n_label FROM (
        |    SELECT c.vec_id, ct.cid, c.v, c.label,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
        |        ORDER BY ${listCos("c.v", "ct.cv")} DESC, ct.cid) AS crn
        |    FROM corp c CROSS JOIN cent ct) x WHERE crn = 1),
        |probes AS (
        |  SELECT query_id, cid, qv, q_label FROM (
        |    SELECT q.vec_id AS query_id, ct.cid, q.v AS qv, q.label AS q_label,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${listCos("q.v", "ct.cv")} DESC, ct.cid) AS crn
        |    FROM corp q CROSS JOIN cent ct WHERE q.vec_id < 10) x WHERE crn <= 2),
        |cand AS (
        |  SELECT DISTINCT p.query_id, a.neighbor_id, a.n_label AS neighbor_label,
        |    ${listCos("p.qv", "a.nv")} AS cosine
        |  FROM probes p JOIN assign a ON a.cid = p.cid
        |    AND a.neighbor_id <> p.query_id AND a.n_label <> p.q_label)
        |SELECT query_id, rank, neighbor_id, neighbor_label, cosine FROM (
        |  SELECT query_id, neighbor_id, neighbor_label, cosine,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM cand) x WHERE rank <= 5 ORDER BY query_id, rank""") { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.hardNegatives(e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", "label", k = 5)
        .orderBy("query_id", "rank")
    },

    // Embedding-space drift monitor (s21): the t33 χ² alarm in vector
    // space — the fresh batch's (vec_id % 8 = 0) per-cell occupancy under
    // the STANDING-corpus-trained quantizer vs the corpus-proportional
    // expectation. Attributable (which semantic cells drifted), exact
    // counts + one fixed double tree per cell, oracled from the s21
    // centroid dump with the t33 contrib tree verbatim.
    "s21_embedding_drift" -> of(
      s"""WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cent AS (SELECT cid, cvec AS cv FROM read_parquet('{{AUX}}/s21_centroids/*.parquet')),
        |assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT c.vec_id, ct.cid,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
        |        ORDER BY ${listCos("c.v", "ct.cv")} DESC, ct.cid) AS crn
        |    FROM corp c CROSS JOIN cent ct) x WHERE crn = 1),
        |co AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS corpus_n
        |  FROM assign WHERE vec_id % 8 <> 0 GROUP BY cid),
        |fo AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS fresh_n
        |  FROM assign WHERE vec_id % 8 = 0 GROUP BY cid),
        |j AS (SELECT co.cid, co.corpus_n, COALESCE(fo.fresh_n, 0) AS fresh_n
        |  FROM co LEFT JOIN fo ON fo.cid = co.cid),
        |tot AS (SELECT CAST(SUM(corpus_n) AS BIGINT) AS c_tot,
        |    CAST(SUM(fresh_n) AS BIGINT) AS f_tot FROM j)
        |SELECT j.cid, j.corpus_n, j.fresh_n,
        |  CAST(tot.f_tot AS DOUBLE) * CAST(j.corpus_n AS DOUBLE) / CAST(tot.c_tot AS DOUBLE) AS expected,
        |  (CAST(j.fresh_n AS DOUBLE) - CAST(tot.f_tot AS DOUBLE) * CAST(j.corpus_n AS DOUBLE) / CAST(tot.c_tot AS DOUBLE))
        |    * (CAST(j.fresh_n AS DOUBLE) - CAST(tot.f_tot AS DOUBLE) * CAST(j.corpus_n AS DOUBLE) / CAST(tot.c_tot AS DOUBLE))
        |    / (CAST(tot.f_tot AS DOUBLE) * CAST(j.corpus_n AS DOUBLE) / CAST(tot.c_tot AS DOUBLE)) AS contrib
        |FROM j CROSS JOIN tot ORDER BY j.cid""") { (s, d) =>
      val e = t(s, d, "embeddings")
      Similarity.cellOccupancyDrift(
        e.filter(pmod(col("vec_id"), lit(8)) =!= 0),
        e.filter(pmod(col("vec_id"), lit(8)) === 0),
        "vec_id", "embedding")
        .orderBy("cid")
    },

    "s14_ivfpq_recall" -> of(recallOracle(ivfPqCtes, ivfPqSelect)) { (s, d) =>
      val e = t(s, d, "embeddings")
      val q = e.filter(col("vec_id") < 10)
      // exact side under the composite training's round trips (see s12)
      val sides = graft.operators.DriverJobs.awaitAll[org.apache.spark.sql.DataFrame](Seq(
        () => Similarity.ivfPqSearch(q, e, "vec_id", "embedding",
          k = 5, nProbe = 2, coarseM = 20, residual = true),
        () => graft.operators.Caching.materialized(
          Similarity.cosineTopK(q, e, "vec_id", "embedding", 5))))
      Similarity.recallAtK(sides(0), sides(1), k = 5)
        .orderBy("query_id")
    },

    // Adaptive-knob LSH recall gate at the 0.9 near-dup regime (s27 —
    // VERDICT r15 #3): the 100 TB dedup story rests on the
    // occupancy-holding adaptiveLshKnobs policy, whose recall was an A/B
    // narrative note, not a standing oracle-graded row. The corpus has NO
    // true ≥0.9 pairs (max base pair cosine ≈ 0.6), so the gate PLANTS
    // them: one deterministic perturbed copy per vec_id < 50 (coordinate
    // i scaled by 1 ± 0.05 on parity — cosine to its source ≥ 0.998,
    // replayable in SQL with the identical double expression tree). The
    // screen then runs embeddingCosinePairsLsh at threshold 0.9 with the
    // knobs LEFT TO THE POLICY (n includes the plants, so the knob step
    // moves with sf — (4,8) at sf0.01, (8,16) at sf0.1), and each planted
    // query gets a (truth_n, caught_n, recall) row against the exact
    // planted-query × universe ≥0.9 truth (50·n work, never all-pairs).
    // The oracle replays the plant, the signatures from the
    // adaptive_planes dump (b rides as a column), banding, the exact
    // verify and the recall rollup.
    "s27_adaptive_lsh_recall" -> of(adaptiveLshRecallSql) { (s, d) =>
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val planted = plantNearDups(e)
      val universe = e.unionByName(planted)
      // the knob input is derived ONCE per (session, corpus) and frozen
      // (KnobMemo — VERDICT r16 #3); the gate's repeated serves replay it
      val n = graft.operators.KnobMemo.corpusN(s, d + "#adaptive_lsh_n")(
        e.count() + e.filter(col("vec_id") < 50).count())
      val (b, l) = Dedup.adaptiveLshKnobs(n)
      val hits = Dedup.embeddingCosinePairsLsh(universe, "vec_id", "v", 0.9,
          planesPerTable = b, tables = l)
        .filter(col("id_a") >= 1000000L || col("id_b") >= 1000000L)
      // truth is enumerated PER PLANTED QUERY (both orientations when a
      // pair's endpoints are both plants), so a both-planted hit must
      // credit both query rows — not just the id_b-as-query canonical one
      val caught = hits
        .select(
          when(col("id_b") >= 1000000L, col("id_b")).otherwise(col("id_a"))
            .as("query_id"),
          when(col("id_b") >= 1000000L, col("id_a")).otherwise(col("id_b"))
            .as("other_id"))
        .union(hits
          .filter(col("id_a") >= 1000000L && col("id_b") >= 1000000L)
          .select(col("id_a").as("query_id"), col("id_b").as("other_id")))
      plantedRecallRollup(planted, universe, caught)
    },

    // Adaptive-bandBits MIH recall gate at the 0.9 regime (s28): the s27
    // contract for the code family — fresh = the planted copies, corpus =
    // the base embeddings, the screen at radius bands−1 = 3 (the
    // pigeonhole-complete contract) with bandBits resolved by
    // Similarity.adaptiveMihBandBits(corpus size); truth is the same
    // exact planted-query × corpus ≥0.9 set. The oracle repacks band
    // codes from the adaptive_mih_planes dump (bits rides as a column)
    // and replays band join, full-code Hamming and the rollup.
    "s28_adaptive_mih_recall" -> of(adaptiveMihRecallSql) { (s, d) =>
      val e = t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val planted = plantNearDups(e)
      val caught = Similarity.mihHammingScreen(planted, e, "vec_id", "v",
        radius = 3, bands = 4,
        bandBits = Similarity.adaptiveMihBandBits(
          graft.operators.KnobMemo.corpusN(s, d + "#emb_n")(e.count())))
        .select(col("fresh_id").as("query_id"), col("corpus_id").as("other_id"))
      plantedRecallRollup(planted, e, caught)
    },

    // ---- text analysis ----------------------------------------------------

    // Language-ID heuristic: stopword-marker voting with fixed tie-break.
    "t01_text_langid" -> of {
      val cases = TextFunctions.langMarkers.map { case (lang, ms) =>
        val arr = ms.map(m => s"x = '$m'").mkString(" OR ")
        s"len(list_filter(tk, x -> $arr)) AS s_$lang"
      }.mkString(", ")
      """WITH scored AS (
        |  SELECT doc_id, lang, CASES FROM (
        |    SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents) d)
        |SELECT doc_id, lang AS labeled_lang,
        |  CASE
        |    WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |    WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |    WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es AND s_fr >= s_zh THEN 'fr'
        |    WHEN s_zh > s_en AND s_zh > s_de AND s_zh > s_es AND s_zh > s_fr THEN 'zh'
        |    ELSE 'en' END AS pred_lang
        |FROM scored ORDER BY doc_id""".replace("CASES", cases)
    } { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), col("lang").as("labeled_lang"),
          langId(tokens(col("text"))).as("pred_lang"))
        .orderBy("doc_id")
    },

    // Quality scoring: exact token/char/ratio features.
    "t02_text_quality" -> of(
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  length(text) AS n_chars,
        |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS mean_token_len,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'is')) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stopword_ratio
        |FROM documents ORDER BY doc_id""") { (s, d) =>
      val toks = tokens(col("text"))
      t(s, d, "documents")
        .select(col("doc_id"),
          nTokens(toks).as("n_tokens"),
          nChars(col("text")).as("n_chars"),
          meanTokenLen(col("text"), toks).as("mean_token_len"),
          (langScore(toks, Seq("the", "a", "of", "and", "is")).cast(DoubleType) /
            size(toks)).as("stopword_ratio"))
        .orderBy("doc_id")
    },

    // Token counting: whitespace + BPE-ish regex segmentation.
    "t03_text_tokens" -> of(
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS bpe_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS distinct_tokens
        |FROM documents ORDER BY doc_id""") { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          size(tokens(col("text"))).as("ws_tokens"),
          size(bpeTokens(col("text"))).as("bpe_tokens"),
          size(array_distinct(tokens(col("text")))).as("distinct_tokens"))
        .orderBy("doc_id")
    },

    // Document fingerprinting. Oracled via the materialized string→xxhash64
    // mapping (AuxDumps "t04_hashes"): DuckDB recomputes normalize() (lower,
    // punctuation strip, whitespace collapse, trim), the 5-word shingling,
    // and the min-shingle/fallback selection, joining the mapping only for
    // the hash values themselves.
    "t04_text_fingerprint" -> of(
      """WITH hm AS (SELECT s, h FROM read_parquet('{{AUX}}/t04_hashes/*.parquet')),
        |norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |      ' +', ' ', 'g')) AS nt
        |  FROM documents),
        |toks AS (SELECT doc_id, nt, string_split(nt, ' ') AS tk FROM norm),
        |sh AS (
        |  SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS s
        |  FROM toks, UNNEST(range(1, len(tk) - 3)) AS r(i)
        |  WHERE len(tk) >= 5),
        |shmin AS (
        |  SELECT sh.doc_id, min(hm.h) AS min_h
        |  FROM sh JOIN hm USING (s) GROUP BY sh.doc_id),
        |fpj AS (SELECT toks.doc_id, hm.h AS fp FROM toks JOIN hm ON toks.nt = hm.s)
        |SELECT fpj.doc_id AS doc_id, fp, coalesce(min_h, fp) AS winnow_fp
        |FROM fpj LEFT JOIN shmin ON fpj.doc_id = shmin.doc_id
        |ORDER BY fpj.doc_id""") { (s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          fingerprint(col("text")).as("fp"),
          TextFunctions.winnowFingerprintFused(s, col("text")).as("winnow_fp"))
        .orderBy("doc_id")
    },

    // ---- corpus assembly --------------------------------------------------

    // Reproducible train/val/test split (90/5/5) keyed on the id hash alone:
    // stable under growth/re-partitioning, no RNG. Oracle recomputes the
    // bucketing and cut-points from the materialized id hashes.
    "t05_corpus_split" -> of(
      """WITH dh AS (SELECT doc_id, h FROM read_parquet('{{AUX}}/doc_hashes/*.parquet')),
        |b AS (SELECT doc_id, ((h % 100) + 100) % 100 AS bucket FROM dh)
        |SELECT doc_id,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""") { (s, d) =>
      graft.operators.CorpusOps.hashSplit(t(s, d, "documents"), "doc_id",
        Seq("train" -> 90, "val" -> 95, "test" -> 100))
        .select("doc_id", "split")
        .orderBy("doc_id")
    },

    // Leakage-safe corpus split (t46): the t05 hash split with the
    // near-dup structure closed over — every doc takes the split of its
    // DUP-CLUSTER representative's hash bucket, so a chain of near
    // duplicates can never straddle train/test (the eval-leakage mode a
    // doc-hash split is structurally blind to, closed AT SPLIT TIME
    // rather than patched by a decontamination screen afterwards).
    // `moved` attributes which docs the closure actually re-assigned.
    // The oracle replays the d08 recursive closure, the singleton
    // fallback, and BOTH hash-bucket splits from the doc_hashes dump.
    "t46_leakage_safe_split" -> of(t46OracleSql) { (s, d) =>
      val docs = t(s, d, "documents")
      val clusters = Dedup.dupClusters(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text"))
      graft.operators.CorpusOps.leakageSafeSplit(docs, clusters, "doc_id",
        Seq("train" -> 90, "val" -> 95, "test" -> 100))
        .select("doc_id", "cluster", "split", "moved")
        .orderBy("doc_id")
    },

    // Per-source quota sampling (source mixing): at most 20 docs per source,
    // chosen in hash order. Oracle reproduces the ranking from the same id
    // hashes.
    "q31_source_quota" -> of(
      """WITH dh AS (SELECT doc_id, h FROM read_parquet('{{AUX}}/doc_hashes/*.parquet')),
        |ranked AS (
        |  SELECT d.doc_id, d.source,
        |    ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY dh.h, d.doc_id) AS rn
        |  FROM documents d JOIN dh ON d.doc_id = dh.doc_id)
        |SELECT doc_id, source FROM ranked WHERE rn <= 20
        |ORDER BY doc_id""") { (s, d) =>
      graft.operators.CorpusOps.quotaPerGroup(t(s, d, "documents"), "source", "doc_id", 20)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // Vocabulary head: top-100 tokens by document frequency (tokenizer /
    // stopword seed stats). Pure SQL — no hash primitive involved.
    "t06_vocab_topk" -> of(
      """WITH tok AS (
        |  SELECT doc_id, u.tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(tk) AS u(tok)),
        |per_doc AS (
        |  SELECT doc_id, tok, COUNT(*) AS occ FROM tok GROUP BY doc_id, tok)
        |SELECT tok, COUNT(*) AS doc_freq, CAST(SUM(occ) AS BIGINT) AS occurrences
        |FROM per_doc GROUP BY tok
        |ORDER BY doc_freq DESC, tok LIMIT 100""") { (s, d) =>
      graft.operators.CorpusOps.vocabTopK(t(s, d, "documents"), "doc_id", "text", 100)
    },

    // Corpus length profile: exact percentiles oracle-checked; the
    // percentile_approx sketch rides along as a closeness-contract column
    // (q23 HLL pattern — engines never sketch identically).
    "t07_token_percentiles" -> of(
      """WITH t AS (SELECT len(string_split(text, ' ')) AS n_tokens FROM documents)
        |SELECT 0 AS idx, quantile_cont(n_tokens, 0.25) AS q, 1 AS approx_within_contract FROM t
        |UNION ALL SELECT 1, quantile_cont(n_tokens, 0.5), 1 FROM t
        |UNION ALL SELECT 2, quantile_cont(n_tokens, 0.75), 1 FROM t
        |UNION ALL SELECT 3, quantile_cont(n_tokens, 0.9), 1 FROM t
        |ORDER BY idx""") { (s, d) =>
      graft.operators.CorpusOps.tokenPercentiles(
        t(s, d, "documents"), "text", Seq(0.25, 0.5, 0.75, 0.9))
        .orderBy("idx")
    },

    // Per-doc top TF-IDF terms (bounded to the first 50 docs for output
    // size). The idf values come from the materialized df→ln(N/df) mapping
    // (AuxDumps "t08_idf": Spark's StrictMath.log differs from DuckDB's ln
    // by 1 ulp on some ratios); tf, df, the join, the product and the
    // ranking are all recomputed in SQL.
    "t08_tfidf_topterms" -> of(
      """WITH idfmap AS (SELECT df, idf FROM read_parquet('{{AUX}}/t08_idf/*.parquet')),
        |tok AS (
        |  SELECT doc_id, u.tok
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(tk) AS u(tok)),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf * idf AS tfidf
        |  FROM tf JOIN dfreq USING (tok) JOIN idfmap USING (df)),
        |ranked AS (
        |  SELECT doc_id, tok, tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, tok, tfidf FROM ranked
        |WHERE rank <= 3 AND doc_id < 50
        |ORDER BY doc_id, rank""") { (s, d) =>
      graft.operators.CorpusOps.tfidfTopTerms(t(s, d, "documents"), "doc_id", "text", 3)
        .filter(col("doc_id") < 50)
        .orderBy("doc_id", "rank")
    },

    // Sequence packing: deterministic (pack, offset) layout of every doc
    // into 2048-token training sequences, one stream per source shard —
    // the reproducible last mile of a corpus build. Oracle recomputes the
    // per-shard running layout with a window cumsum.
    "t09_seq_packing" -> of(
      """WITH sized AS (
        |  SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |laid AS (
        |  SELECT source, doc_id, n_tokens,
        |    -- CAST: DuckDB's windowed SUM(BIGINT) returns HUGEINT, which
        |    -- pandas renders as float — the driver's dtype-sensitive hash
        |    -- then sees 0.0 vs Spark's 0
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS start
        |  FROM sized)
        |SELECT source, start // 2048 AS pack_no, start % 2048 AS "offset",
        |  doc_id, n_tokens
        |FROM laid ORDER BY source, pack_no, "offset", doc_id""") { (s, d) =>
      graft.operators.CorpusOps.packSequences(
        t(s, d, "documents"), "doc_id", "text", "source", 2048)
        .orderBy("source", "pack_no", "offset", "doc_id")
    },

    // Vocabulary growth curve (t32): cumulative distinct-token count at
    // each quarter-corpus prefix in hash order — the Heaps-law diversity
    // audit (a flattening curve means new data re-uses the existing
    // vocabulary). Hash-ordered prefixes make the curve a property of the
    // corpus, not of ingestion order. The oracle recomputes NTILE,
    // first-prefix-per-token and all three cumulative rollups from the
    // doc_hashes aux.
    "t32_vocab_growth" -> of(
      """WITH dh AS (SELECT doc_id, h FROM read_parquet('{{AUX}}/doc_hashes/*.parquet')),
        |qd AS (SELECT d.doc_id, d.text,
        |    NTILE(4) OVER (ORDER BY dh.h, d.doc_id) AS q
        |  FROM documents d JOIN dh USING (doc_id)),
        |tok AS (SELECT q, u.tok
        |  FROM (SELECT q, string_split(text, ' ') AS tk FROM qd) x,
        |    UNNEST(tk) AS u(tok)),
        |perq AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS toks FROM tok GROUP BY q),
        |docsq AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS docs FROM qd GROUP BY q),
        |newv AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS new_vocab
        |  FROM (SELECT tok, MIN(q) AS q FROM tok GROUP BY tok) f GROUP BY q)
        |SELECT d.q,
        |  CAST(SUM(d.docs) OVER (ORDER BY d.q) AS BIGINT) AS n_docs,
        |  CAST(SUM(p.toks) OVER (ORDER BY d.q) AS BIGINT) AS n_tokens,
        |  CAST(SUM(COALESCE(v.new_vocab, 0)) OVER (ORDER BY d.q) AS BIGINT) AS vocab
        |FROM docsq d JOIN perq p USING (q) LEFT JOIN newv v USING (q)
        |ORDER BY q""") { (s, d) =>
      graft.operators.CorpusOps.vocabularyGrowth(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy("q")
    },

    // Token-distribution drift (t33): χ² of a fresh batch's token counts
    // against the corpus-proportional expectation over the corpus's
    // top-50 tokens — the attributable ingest-anomaly alarm (which tokens
    // drifted). χ² deliberately: exact counts + one fixed double tree per
    // row, no transcendentals, so the oracle recomputes everything from
    // scratch with no materialized primitives.
    "t33_token_drift" -> of(t33OracleSql) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.operators.CorpusOps.tokenDriftChi2(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text")
        .orderBy("rank")
    },

    // Benchmark decontamination screen (t34): exact 8-word-shingle
    // collision of every corpus doc (doc_id >= 50) against the benchmark
    // set (doc_id < 50) — the GPT-3/PaLM decontamination recipe. frac ≈ 1
    // is a leaked eval doc; the near-dup structure of this corpus crosses
    // the split, so real hits exist. Oracle rebuilds shingles, the
    // collision join and both distinct counts from scratch.
    "t34_contamination" -> of(t34OracleSql) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.operators.CorpusOps.contaminationScreen(
        docs.filter(col("doc_id") >= 50),
        docs.filter(col("doc_id") < 50),
        "doc_id", "text", k = 8)
        .orderBy("doc_id")
    },

    // Streaming drift monitor (e32): t33 live — the fresh batch's token
    // counts are MAINTAINED BY THE STREAM (one complete-mode count whose
    // state is the batch's VOCABULARY, bounded by language, not data
    // volume — the natural home for an always-on ingest alarm), and the
    // χ² serve reads the materialized counts against the static corpus
    // top-K. Graded by the same from-scratch SQL as t33.
    "e32_stream_drift" -> of(t33OracleSql) { (s, d) =>
      import graft.streaming.EventsStream
      val freshStream = graft.streaming.TableStream.readProbed(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("fresh_n"))
      val sinkName = s"stream_drift_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(freshStream, sinkName, outputMode = "complete")
      graft.operators.CorpusOps.tokenDriftChi2FromCounts(
        t(s, d, "documents").filter(pmod(col("doc_id"), lit(10)) =!= 0),
        s.table(sinkName), "text")
        .orderBy("rank")
    },

    // STREAMING per-session conversion funnel (e33), driver-checked: the
    // e13 stage fold scoped per 30-minute session, run as a real
    // AvailableNow flatMapGroupsWithState query into a memory sink — the
    // live conversion-dashboard twin. Emission semantics are e04's (a
    // session-funnel row appears iff the session closed by gap or
    // finalized by event-time timeout under the final watermark); the
    // oracle composes the e04 session numbering with the e13 list_reduce
    // transition fold per session.
    "e33_stream_funnel" -> of(
      s"""WITH $gapSessionCtes,
        |coded AS (
        |  SELECT n.user_id, n.session_no, n.ts, n.event_id,
        |    CASE e.event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |      WHEN 'purchase' THEN 3 ELSE 0 END AS code
        |  FROM numbered n JOIN events e ON e.event_id = n.event_id),
        |sess AS (
        |  SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |    CAST(COUNT(*) AS BIGINT) AS n_events, MAX(ts) AS last_ts,
        |    list_reduce(list_prepend(0, list(code ORDER BY ts, event_id)), (a, b) ->
        |      CASE WHEN a = 0 AND b = 1 THEN 1
        |           WHEN a = 1 AND b = 2 THEN 2
        |           WHEN a = 2 AND b = 3 THEN 3
        |           ELSE a END) AS stage
        |  FROM coded GROUP BY user_id, session_no),
        |wm AS (
        |  SELECT user_id, session_no, stage, n_events, last_ts,
        |    MAX(session_no) OVER (PARTITION BY user_id) AS max_session
        |  FROM sess)
        |SELECT user_id, session_no, stage, n_events FROM wm
        |WHERE session_no < max_session
        |   OR CAST(last_ts AS TIMESTAMP) + INTERVAL 30 MINUTE
        |      < (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 1 MINUTE
        |ORDER BY user_id, session_no""") { (s, d) =>
      import graft.streaming.{EventsStream, FunnelStream}
      val sinkName = s"stream_funnel_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(
        FunnelStream.funnels(EventsStream.readEvents(s, d)).toDF(), sinkName)
      s.table(sinkName).orderBy("user_id", "session_no")
    },

    // Contamination audit: non-train documents whose winnow fingerprint
    // collides with a train document — near-dup leakage across the t05
    // hash split. Composes hashSplit (id-hash buckets, doc_hashes aux) with
    // the robust fingerprint (t04_hashes aux); the oracle recomputes both
    // sides and the cross-split join.
    "t10_contamination" -> of(
      """WITH dh AS (SELECT doc_id, h FROM read_parquet('{{AUX}}/doc_hashes/*.parquet')),
        |splits AS (
        |  SELECT doc_id,
        |    CASE WHEN ((h % 100) + 100) % 100 < 90 THEN 'train' ELSE 'holdout' END AS split
        |  FROM dh),
        |hm AS (SELECT s, h FROM read_parquet('{{AUX}}/t04_hashes/*.parquet')),
        |norm AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |      ' +', ' ', 'g')) AS nt
        |  FROM documents),
        |toks AS (SELECT doc_id, nt, string_split(nt, ' ') AS tk FROM norm),
        |sh AS (
        |  SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS s
        |  FROM toks, UNNEST(range(1, len(tk) - 3)) AS r(i)
        |  WHERE len(tk) >= 5),
        |shmin AS (
        |  SELECT sh.doc_id, min(hm.h) AS min_h
        |  FROM sh JOIN hm USING (s) GROUP BY sh.doc_id),
        |fpj AS (SELECT toks.doc_id AS doc_id, hm.h AS fp FROM toks JOIN hm ON toks.nt = hm.s),
        |wfp AS (
        |  SELECT fpj.doc_id AS doc_id, coalesce(min_h, fp) AS winnow_fp
        |  FROM fpj LEFT JOIN shmin ON fpj.doc_id = shmin.doc_id)
        |SELECT ho.doc_id AS holdout_doc, tr.doc_id AS train_doc
        |FROM wfp ho
        |JOIN splits sho ON sho.doc_id = ho.doc_id AND sho.split = 'holdout'
        |JOIN wfp tr ON tr.winnow_fp = ho.winnow_fp AND tr.doc_id <> ho.doc_id
        |JOIN splits str ON str.doc_id = tr.doc_id AND str.split = 'train'
        |ORDER BY holdout_doc, train_doc""") { (s, d) =>
      val docs = t(s, d, "documents")
      val splits = graft.operators.CorpusOps.hashSplit(docs, "doc_id",
        Seq("train" -> 90, "holdout" -> 100)).select("doc_id", "split")
      // both join branches consume the fingerprints — persist so the
      // pipeline runs one corpus pass, not two (Dedup caching convention);
      // core-width spread first (optimization r21, guide §2.5: the
      // fingerprint is CPU-dense per row and otherwise runs at the
      // sub-split scan's width 1)
      val wfp = graft.operators.Caching.coreWidthBy(
          docs.select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"),
          TextFunctions.winnowFingerprintFused(s, col("text")).as("winnow_fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ho = wfp.join(splits.filter(col("split") === "holdout"), "doc_id")
        .select(col("doc_id").as("holdout_doc"), col("winnow_fp"))
      val tr = wfp.join(splits.filter(col("split") === "train"), "doc_id")
        .select(col("doc_id").as("train_doc"), col("winnow_fp"))
      ho.join(tr, Seq("winnow_fp"))
        .filter(col("holdout_doc") =!= col("train_doc"))
        .select("holdout_doc", "train_doc")
        .orderBy("holdout_doc", "train_doc")
    },

    // PII detection + redaction. The synthetic corpus is letters-only (no
    // organic PII), so the demo derives deterministic PII spans from table
    // fields (source → email, doc_id → phone/IPv4, presence varying by
    // doc_id residue) and then runs the GENERIC operator over the enriched
    // text; both engines run the identical RE2-compatible patterns.
    "t11_pii_redact" -> of {
      import TextFunctions.{emailRe, ipv4Re, phoneRe}
      s"""WITH enriched AS (
         |  SELECT doc_id,
         |    text || ' contact ' || source || '@example.com' ||
         |    CASE WHEN doc_id % 3 = 0
         |      THEN ' tel 303-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
         |           '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
         |      ELSE '' END ||
         |    CASE WHEN doc_id % 2 = 0
         |      THEN ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) ||
         |           '.0.' || CAST(n_chars % 256 AS VARCHAR)
         |      ELSE '' END AS contact_text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(contact_text, '$emailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(contact_text, '$phoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(contact_text, '$ipv4Re')) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(contact_text,
         |    '$emailRe', '<EMAIL>', 'g'), '$phoneRe', '<PHONE>', 'g'),
         |    '$ipv4Re', '<IP>', 'g') AS redacted
         |FROM enriched ORDER BY doc_id"""
    } { (s, d) =>
      val contact = concat(col("text"), lit(" contact "), col("source"),
        lit("@example.com"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" tel 303-"),
            lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"),
            lit("-"),
            lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(2)) === 0,
          concat(lit(" ip 10."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".0."), pmod(col("n_chars"), lit(256)).cast("string")))
          .otherwise(lit("")))
      t(s, d, "documents")
        .withColumn("contact_text", contact)
        .select(col("doc_id"),
          piiCount(col("contact_text"), TextFunctions.emailRe).cast("long").as("n_emails"),
          piiCount(col("contact_text"), TextFunctions.phoneRe).cast("long").as("n_phones"),
          piiCount(col("contact_text"), TextFunctions.ipv4Re).cast("long").as("n_ips"),
          redactPii(col("contact_text")).as("redacted"))
        .orderBy("doc_id")
    },

    // Gopher-style repetition/boilerplate signals. The Spark plan is ONE
    // shuffle-free projection (run lengths and mode counts via single-pass
    // HOFs; the mode of the bigram multiset = longest equal-run of the
    // SORTED array); the oracle recomputes every signal relationally
    // (islands for runs, GROUP BY for the mode).
    "t12_repetition" -> of(
      """WITH toks AS (
        |  SELECT doc_id, tk, len(tk) AS n FROM (
        |    SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d),
        |pos AS (
        |  SELECT doc_id, i, tk[i + 1] AS tok
        |  FROM toks, UNNEST(range(len(tk))) AS r(i)),
        |runs AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS run
        |  FROM (SELECT doc_id, tok,
        |          i - ROW_NUMBER() OVER (PARTITION BY doc_id, tok ORDER BY i) AS grp
        |        FROM pos) g
        |  GROUP BY doc_id, tok, grp),
        |mr AS (SELECT doc_id, MAX(run) AS max_run FROM runs GROUP BY doc_id),
        |bg AS (
        |  SELECT doc_id, tk[i + 1] || ' ' || tk[i + 2] AS bigram
        |  FROM toks, UNNEST(range(len(tk) - 1)) AS r(i) WHERE len(tk) >= 2),
        |bgc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY doc_id, bigram),
        |tb AS (SELECT doc_id, MAX(c) AS top_bigram_n FROM bgc GROUP BY doc_id),
        |shn AS (
        |  SELECT doc_id, CAST(len(shl) AS BIGINT) AS n_sh,
        |    CAST(len(shl) - len(list_distinct(shl)) AS BIGINT) AS dup_sh
        |  FROM (SELECT doc_id, list(array_to_string(tk[i:i + 4], ' ')) AS shl
        |        FROM toks, UNNEST(range(1, len(tk) - 3)) AS r(i) WHERE len(tk) >= 5
        |        GROUP BY doc_id) s)
        |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens, mr.max_run,
        |  COALESCE(tb.top_bigram_n, 0) AS top_bigram_n,
        |  COALESCE(CAST(tb.top_bigram_n AS DOUBLE) / (t.n - 1), 0.0) AS top_bigram_frac,
        |  COALESCE(CAST(dup_sh AS DOUBLE) / n_sh, 0.0) AS dup_shingle_frac
        |FROM toks t JOIN mr USING (doc_id)
        |LEFT JOIN tb USING (doc_id) LEFT JOIN shn USING (doc_id)
        |ORDER BY doc_id""") { (s, d) =>
      graft.operators.CorpusOps.repetitionSignals(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Stratified deterministic sampling: per-source keep rates (derived
    // from the source name so both engines compute them), selection by id
    // hash bucket — reproducible, shuffle-free, stable under corpus growth.
    "t13_sample_stratified" -> of(
      """WITH dh AS (SELECT doc_id, h FROM read_parquet('{{AUX}}/doc_hashes/*.parquet')),
        |rated AS (
        |  SELECT d.doc_id, d.source,
        |    10 + (CAST(substr(d.source, 4) AS INT) % 4) * 25 AS rate,
        |    ((h % 100) + 100) % 100 AS hash_bucket
        |  FROM documents d JOIN dh USING (doc_id))
        |SELECT doc_id, source, CAST(rate AS INT) AS rate, hash_bucket
        |FROM rated WHERE hash_bucket < rate ORDER BY doc_id""") { (s, d) =>
      val rate = lit(10) + (substring(col("source"), 4, 10).cast("int") % 4) * 25
      graft.operators.CorpusOps.stratifiedSample(t(s, d, "documents"), "doc_id", rate)
        .select(col("doc_id"), col("source"), col("rate").cast("int").as("rate"),
          col("hash_bucket"))
        .orderBy("doc_id")
    },

    // Temperature-weighted source mixing: per-source doc budgets ∝
    // sqrt(source tokens) (T=2 temperature sampling; sqrt is correctly
    // rounded so the weights bit-match, unlike a fractional pow), filled by
    // hash-first ranking. The weight normalizer folds in source order on
    // both engines so double addition order cannot perturb it.
    "t14_source_mix" -> of(
      """WITH dh AS (SELECT doc_id, h FROM read_parquet('{{AUX}}/doc_hashes/*.parquet')),
        |per_src AS (
        |  SELECT source, SUM(len(string_split(text, ' '))) AS n_tokens
        |  FROM documents GROUP BY source),
        |ws AS (SELECT source, sqrt(CAST(n_tokens AS DOUBLE)) AS w FROM per_src),
        |norm AS (SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b) AS sum_w FROM ws),
        |targets AS (
        |  SELECT source, CAST(floor(200 * w / sum_w) AS BIGINT) AS target_docs
        |  FROM ws CROSS JOIN norm),
        |ranked AS (
        |  SELECT d.doc_id, d.source,
        |    ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY dh.h, d.doc_id) AS rn
        |  FROM documents d JOIN dh USING (doc_id))
        |SELECT r.doc_id, r.source
        |FROM ranked r JOIN targets t ON t.source = r.source AND r.rn <= t.target_docs
        |ORDER BY doc_id""") { (s, d) =>
      graft.operators.CorpusOps.temperatureMix(
        t(s, d, "documents"), "doc_id", "text", "source", 200)
        .select("doc_id", "source")
        .orderBy("doc_id")
    },

    // CCNet-style unigram log-prob quality scoring: a capped unigram LM
    // (AuxDumps "t15_lp"; the ln is the materialized primitive, the counts
    // are revalidated by the oracle's (tok, n) join) scores each doc by
    // mean token log-prob, folded in token order on both engines, then
    // bucketed head/middle/tail — the shape a perplexity filter thresholds.
    "t15_unigram_logprob" -> of(
      """WITH lm AS (SELECT tok, n, lp FROM read_parquet('{{AUX}}/t15_lp/*.parquet')),
        |cnt AS (
        |  SELECT u.tok, COUNT(*) AS n
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(tk) AS u(tok) GROUP BY u.tok),
        |vlm AS (SELECT lm.tok, lm.lp FROM lm JOIN cnt ON cnt.tok = lm.tok AND cnt.n = lm.n),
        |toks AS (
        |  SELECT doc_id, i, tk[i + 1] AS tok, len(tk) AS n_tokens
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk))) AS r(i)),
        |scored AS (
        |  SELECT t.doc_id, t.i, t.n_tokens, COALESCE(vlm.lp, -20.0) AS lp
        |  FROM toks t LEFT JOIN vlm ON vlm.tok = t.tok),
        |folded AS (
        |  SELECT doc_id, CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lp ORDER BY i)),
        |      (a, b) -> a + b) / MAX(n_tokens) AS mean_logprob
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_tokens, mean_logprob,
        |  CASE WHEN mean_logprob >= -3.40 THEN 'head'
        |       WHEN mean_logprob >= -3.42 THEN 'middle'
        |       ELSE 'tail' END AS ppl_bucket
        |FROM folded ORDER BY doc_id""") { (s, d) =>
      val docs = t(s, d, "documents")
      val lm = graft.operators.CorpusOps.unigramLm(docs, "doc_id", "text")
      graft.operators.CorpusOps.unigramLogprob(docs, "doc_id", "text", lm, -20.0)
        .withColumn("ppl_bucket",
          when(col("mean_logprob") >= -3.40, "head")
            .when(col("mean_logprob") >= -3.42, "middle")
            .otherwise("tail"))
        .orderBy("doc_id")
    },

    // Exact duplicated-substring spans (Lee et al. 2021's exact-match dedup
    // shape): k-token windows shared across >= 2 docs, merged per doc into
    // maximal spans — the cut-list for excising boilerplate instead of
    // dropping whole documents. Hash-free contract (window TEXT is the key),
    // so the oracle rebuilds it verbatim: positioned shingles → distinct-doc
    // count → gaps-and-islands merge.
    "t18_dup_spans" -> of(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |win AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||
        |    tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7] AS w
        |  FROM toks, UNNEST(range(1, len(tk) - 6)) AS u(i)),
        |dup AS (SELECT w FROM win GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2),
        |hits AS (SELECT win.doc_id, win.pos FROM win JOIN dup USING (w)),
        |flagged AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
        |      THEN 1 ELSE 0 END AS new_span
        |  FROM hits),
        |spans AS (
        |  SELECT doc_id, pos,
        |    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_no
        |  FROM flagged)
        |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
        |  MAX(pos) + 7 - MIN(pos) + 1 AS span_tokens
        |FROM spans GROUP BY doc_id, span_no
        |ORDER BY doc_id, span_start""") { (s, d) =>
      graft.operators.CorpusOps.duplicateSpans(t(s, d, "documents"),
        "doc_id", "text", k = 8)
        .orderBy("doc_id", "span_start")
    },

    // Apply the cut list (the step after t18 in a Lee-et-al. pipeline):
    // keep-first span list — each duplicated window's minimum containing
    // doc keeps its copy, every other occurrence is excised — then token
    // indices inside any span are dropped and survivors re-joined. The
    // oracle rebuilds the whole chain from t18's CTEs: keeper rides the
    // same doc-frequency aggregate, cut spans merge gaps-and-islands, and
    // the cleaned text is the order-preserving join of uncut tokens.
    "t27_apply_cutlist" -> of(
      """WITH toks0 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |win AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||
        |    tk[i+4]||' '||tk[i+5]||' '||tk[i+6]||' '||tk[i+7] AS w
        |  FROM toks0, UNNEST(range(1, len(tk) - 6)) AS u(i)),
        |dup AS (
        |  SELECT w, MIN(doc_id) AS keeper FROM win GROUP BY w
        |  HAVING COUNT(DISTINCT doc_id) >= 2),
        |hits AS (
        |  SELECT win.doc_id, win.pos FROM win JOIN dup USING (w)
        |  WHERE win.doc_id <> dup.keeper),
        |flagged AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
        |      THEN 1 ELSE 0 END AS new_span
        |  FROM hits),
        |spans AS (
        |  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end
        |  FROM (SELECT doc_id, pos,
        |          SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_no
        |        FROM flagged)
        |  GROUP BY doc_id, span_no),
        |toks AS (
        |  SELECT doc_id, i, tk[i + 1] AS tok
        |  FROM toks0, UNNEST(range(len(tk))) AS r(i)),
        |kept AS (
        |  SELECT t.doc_id, t.i, t.tok FROM toks t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans s
        |    WHERE s.doc_id = t.doc_id AND t.i BETWEEN s.span_start AND s.span_end)),
        |agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text_clean,
        |    COUNT(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.text_clean, '') AS text_clean,
        |  len(string_split(d.text, ' ')) - COALESCE(a.n_kept, 0) AS n_cut
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""") { (s, d) =>
      val docs = t(s, d, "documents")
      val spans = graft.operators.CorpusOps.duplicateSpansKeepFirst(
        docs, "doc_id", "text", k = 8)
      graft.operators.CorpusOps.applyCutList(docs, spans, "doc_id", "text")
        .orderBy("doc_id")
    },

    // Per-source percentile quality gate (t28): keep each source's best
    // half by stopword-ratio score — the adaptive-threshold shape CCNet
    // uses per shard (a global cutoff over-prunes clean sources and
    // under-prunes noisy ones). PERCENT_RANK over unique (score desc, id)
    // order is deterministic on both engines.
    "t28_percentile_gate" -> of(
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> x = 'the' OR x = 'a' OR x = 'of' OR x = 'and' OR x = 'is')) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS score
        |  FROM documents)
        |SELECT doc_id, source, score,
        |  PERCENT_RANK() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS pct_rank,
        |  PERCENT_RANK() OVER (PARTITION BY source ORDER BY score DESC, doc_id) <= 0.5 AS keep
        |FROM scored ORDER BY doc_id""") { (s, d) =>
      val toks = tokens(col("text"))
      val scored = t(s, d, "documents")
        .select(col("doc_id"), col("source"),
          (langScore(toks, Seq("the", "a", "of", "and", "is")).cast(DoubleType) /
            size(toks)).as("score"))
      graft.operators.CorpusOps.percentileGate(
        scored, "doc_id", "source", "score", 0.5)
        .orderBy("doc_id")
    },

    // Token-budget mixture realization (t29): t14's √tokens temperature
    // weights budgeted in TOKENS (as real training mixtures are) — each
    // source greedily fills its floor(B·w/Σw) token budget with hash-first
    // documents' exact cumulative counts; a doc is kept iff its cumsum
    // fits (undershoot < one doc, never a split doc). Same doc_hashes aux
    // contract as t05/t14.
    "t29_token_budget_mix" -> of(
      """WITH dh AS (SELECT doc_id, h FROM read_parquet('{{AUX}}/doc_hashes/*.parquet')),
        |per_src AS (
        |  SELECT source, SUM(len(string_split(text, ' '))) AS n_tokens
        |  FROM documents GROUP BY source),
        |ws AS (SELECT source, sqrt(CAST(n_tokens AS DOUBLE)) AS w FROM per_src),
        |norm AS (SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b) AS sum_w FROM ws),
        |targets AS (
        |  SELECT source, CAST(floor(20000 * w / sum_w) AS BIGINT) AS target_tokens
        |  FROM ws CROSS JOIN norm),
        |ranked AS (
        |  SELECT d.doc_id, d.source,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CAST(len(string_split(d.text, ' ')) AS BIGINT)) OVER (
        |      PARTITION BY d.source ORDER BY dh.h, d.doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM documents d JOIN dh USING (doc_id))
        |SELECT r.doc_id, r.source, r.n_tokens, r.cum_tokens, t.target_tokens
        |FROM ranked r JOIN targets t ON t.source = r.source
        |  AND r.cum_tokens <= t.target_tokens
        |ORDER BY doc_id""") { (s, d) =>
      graft.operators.CorpusOps.tokenBudgetMix(
        t(s, d, "documents"), "doc_id", "text", "source", 20000)
        .select("doc_id", "source", "n_tokens", "cum_tokens", "target_tokens")
        .orderBy("doc_id")
    },

    // DSIR importance weights (Xie et al. 2023, unigram feature space):
    // weight = mean log p_target(tok) − mean log p_raw(tok), target LM
    // trained on the src0 subcorpus, raw LM on the whole corpus. Both LM
    // lns are materialized primitives (t19_lp_target / t15_lp aux, counts
    // revalidated in SQL); both folds run in token order from a 0.0 seed,
    // so the weight difference is bit-identical across engines.
    "t19_dsir_weights" -> of(
      """WITH lmr AS (SELECT tok, n, lp FROM read_parquet('{{AUX}}/t15_lp/*.parquet')),
        |lmt AS (SELECT tok, n, lp FROM read_parquet('{{AUX}}/t19_lp_target/*.parquet')),
        |cntr AS (
        |  SELECT u.tok, COUNT(*) AS n
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(tk) AS u(tok) GROUP BY u.tok),
        |cntt AS (
        |  SELECT u.tok, COUNT(*) AS n
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents
        |        WHERE source = 'src0') d,
        |    UNNEST(tk) AS u(tok) GROUP BY u.tok),
        |vr AS (SELECT lmr.tok, lmr.lp FROM lmr JOIN cntr ON cntr.tok = lmr.tok AND cntr.n = lmr.n),
        |vt AS (SELECT lmt.tok, lmt.lp FROM lmt JOIN cntt ON cntt.tok = lmt.tok AND cntt.n = lmt.n),
        |toks AS (
        |  SELECT doc_id, i, tk[i + 1] AS tok, len(tk) AS n_tokens
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk))) AS r(i)),
        |scored AS (
        |  SELECT t.doc_id, t.i, t.n_tokens,
        |    COALESCE(vt.lp, -20.0) AS lpt, COALESCE(vr.lp, -20.0) AS lpr
        |  FROM toks t
        |  LEFT JOIN vt ON vt.tok = t.tok
        |  LEFT JOIN vr ON vr.tok = t.tok),
        |folded AS (
        |  SELECT doc_id, CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lpt ORDER BY i)),
        |      (a, b) -> a + b) / MAX(n_tokens) AS lp_target,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lpr ORDER BY i)),
        |      (a, b) -> a + b) / MAX(n_tokens) AS lp_raw
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_tokens, lp_target, lp_raw,
        |  lp_target - lp_raw AS weight
        |FROM folded ORDER BY doc_id""") { (s, d) =>
      val docs = t(s, d, "documents")
      val rawLm = graft.operators.CorpusOps.unigramLm(docs, "doc_id", "text")
      val tgtLm = graft.operators.CorpusOps.unigramLm(
        docs.filter(col("source") === "src0"), "doc_id", "text")
      graft.operators.CorpusOps.dsirWeights(docs, "doc_id", "text", tgtLm, rawLm)
        .orderBy("doc_id")
    },

    // Overlapping token chunking (RAG / context-window prep): 32-token
    // chunks striding by 24 (8-token overlap), token-coordinate bounds +
    // chunk text. Pure integer arithmetic + slicing — both engines rebuild
    // it exactly.
    "t20_chunking" -> of(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |base AS (
        |  SELECT doc_id, tk, len(tk) AS n,
        |    CASE WHEN len(tk) > 32 THEN (len(tk) - 32 + 23) // 24 ELSE 0 END AS nc
        |  FROM toks),
        |chunks AS (
        |  SELECT doc_id, i AS chunk_no, i * 24 AS start_tok, tk, n
        |  FROM base, UNNEST(range(0, nc + 1)) AS u(i))
        |SELECT doc_id, chunk_no, start_tok,
        |  LEAST(start_tok + 32, n) - 1 AS end_tok,
        |  LEAST(32, n - start_tok) AS n_chunk_tokens,
        |  array_to_string(tk[start_tok + 1 : start_tok + 32], ' ') AS chunk_text
        |FROM chunks ORDER BY doc_id, chunk_no""") { (s, d) =>
      graft.operators.CorpusOps.chunkDocs(t(s, d, "documents"),
        "doc_id", "text", chunkTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_no")
    },

    // Bigram-LM fluency scoring — the n=2 rung of the perplexity-filter
    // ladder (t15 is n=1): mean log p(w2|w1) per doc, OOV bigrams floored.
    // The LM ln is the materialized primitive (t22_lp aux); the oracle
    // recounts bigrams AND context sums in SQL, joins on (bg, n, ctx), and
    // refolds the positions in order — identical IEEE sequence.
    "t22_bigram_logprob" -> of(
      """WITH lm AS (SELECT bg, n, ctx, lp FROM read_parquet('{{AUX}}/t22_lp/*.parquet')),
        |bgc AS (
        |  SELECT tk[i + 1] || ' ' || tk[i + 2] AS bg, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk) - 1)) AS r(i) WHERE len(tk) >= 2
        |  GROUP BY 1),
        |ctxc AS (
        |  SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(n) AS BIGINT) AS c
        |  FROM bgc GROUP BY 1),
        |vlm AS (
        |  SELECT lm.bg, lm.lp FROM lm
        |  JOIN bgc ON bgc.bg = lm.bg AND bgc.n = lm.n
        |  JOIN ctxc ON ctxc.w1 = split_part(lm.bg, ' ', 1) AND ctxc.c = lm.ctx),
        |pos AS (
        |  SELECT doc_id, i, tk[i + 1] || ' ' || tk[i + 2] AS bg,
        |    len(tk) - 1 AS nb
        |  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents) d,
        |    UNNEST(range(len(tk) - 1)) AS r(i) WHERE len(tk) >= 2),
        |scored AS (
        |  SELECT p.doc_id, p.i, p.nb, COALESCE(v.lp, -20.0) AS lp
        |  FROM pos p LEFT JOIN vlm v ON v.bg = p.bg),
        |folded AS (
        |  SELECT doc_id, CAST(MAX(nb) AS BIGINT) AS n_bigrams,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(lp ORDER BY i)),
        |      (a, b) -> a + b) / MAX(nb) AS mean_logprob
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, mean_logprob FROM folded
        |ORDER BY doc_id""") { (s, d) =>
      val docs = t(s, d, "documents")
      val lm = graft.operators.CorpusOps.bigramLm(docs, "doc_id", "text")
      graft.operators.CorpusOps.bigramLogprob(docs, "doc_id", "text", lm, -20.0)
        .orderBy("doc_id")
    },

    // Trigram Kneser–Ney fluency scoring (t41) — t40's n=3 rung, the
    // order production fluency filters actually run: interpolated KN with
    // recursive backoff (trigram → bigram-continuation → unigram-
    // continuation, Chen & Goodman '98), all EIGHT sufficient statistics
    // exact integer counts. The oracle recounts every statistic in SQL
    // (trigram counts, (w1,w2) context totals + distinct continuations,
    // (w2,w3) distinct-predecessor counts, per-w2 type/continuation
    // counts, bigram-type left contexts, the type total), joins on ALL of
    // them, and takes only the ln on faith — t40's trust envelope one
    // order up. Scoring refolds positions in order through the shared
    // gram fold.
    "t41_kn3_logprob" -> of(kn3ScoreSql) { (s, d) =>
      val lm = s.table(StandingLm.ensure(s, d, 3))
      graft.operators.CorpusOps.trigramLogprob(t(s, d, "documents"),
        "doc_id", "text", lm.select(col("tg"), col("lp")), -20.0)
        .orderBy("doc_id")
    },

    // 4-gram KN fluency scoring (t44) — the ORDER-GENERIC builder
    // (VERDICT r13 #7) driven one rung past the hand-rolled pair:
    // `kneserNeyLmOrder(4)` runs the full Chen-Goodman recursion (raw
    // counts at the top, continuation-TYPE levels at 3 and 2, bigram-type
    // unigrams) whose order-2/3 instantiations are spec-pinned bit-exact
    // fixed points of t40/t41's builders. The oracle recounts all ELEVEN
    // sufficient statistics and joins on them — only the ln rides the
    // t44_lp dump.
    "t44_kn4_logprob" -> of(kn4ScoreSql) { (s, d) =>
      val lm = s.table(StandingLm.ensure(s, d, 4))
      graft.operators.CorpusOps.ngramLogprob(t(s, d, "documents"),
        "doc_id", "text", lm.select(col("g"), col("lp")), -20.0, 4,
        "g", "n_quadgrams")
        .orderBy("doc_id")
    },

    // Standing-LM-table identity (t47 — VERDICT r16 #2's proof row): the
    // persisted order-4 KN table served back verbatim, graded by the
    // from-scratch DuckDB recount of all ELEVEN integer statistics (the
    // kn4 CTE chain) joined on every one — so a standing table that
    // drifted from the live corpus by ANY statistic drops rows and fails
    // the compare, pinning table == direct derivation end-to-end (the
    // bit-level lp identity at every order is CorpusPropertySpec's pin;
    // the transcendental itself rides the dump, t40's trust envelope).
    "t47_kn_lm_standing" -> of(
      s"""WITH $kn4StatsCtes
        |SELECT g, n, ctx, n1f, cont3, mid_ctx3, mid_n1f3,
        |  cont2, mid_ctx2, mid_n1f2, n1b, nbg, lp
        |FROM vlm ORDER BY g""") { (s, d) =>
      s.table(StandingLm.ensure(s, d, 4)).orderBy("g")
    },

    // LM-table MAINTENANCE (t49) — the lifecycle rung the standing-LM
    // lake was missing (build → serve → MAINTAIN, the d26 contract for
    // the fluency-filter family): the KN sufficient statistics are
    // additive gram counts, so standing (g, n, epoch) tables built over
    // the base corpus absorb an ingest batch by EPOCH-KEYED append
    // (per-gram addition at read time — the batch pays only its own
    // counting; replaying an applied epoch is a no-op, the exactly-once
    // contract additive deltas need), and the order-4 head re-derives
    // gram-table-sized from the maintained counts. Base (% 10 < 8) +
    // batch (% 10 >= 8) = the whole corpus, so the t47 standing-table
    // oracle — a from-scratch DuckDB recount of all ELEVEN integer
    // statistics over the full documents table — grades the maintained
    // path bit-for-bit with no weakening: a fold that dropped, doubled
    // or mis-summed ANY gram diverges some statistic and fails the join.
    "t49_kn_lm_maintenance" -> of(
      s"""WITH $kn4StatsCtes
        |SELECT g, n, ctx, n1f, cont3, mid_ctx3, mid_n1f3,
        |  cont2, mid_ctx2, mid_n1f2, n1b, nbg, lp
        |FROM vlm ORDER BY g""") { (s, d) =>
      StandingLm.maintainedHead(s, d, 4).orderBy("g")
    },

    // STREAMING LM-table maintenance (e50) — t49's ingest half live: the
    // arriving batch's per-(k, g) gram counts are maintained BY THE
    // STREAM (one complete-mode count over the union of the three gram
    // explosions — state is the BATCH's gram vocabulary, bounded by the
    // arriving data, never the corpus; the e32 drift-counter shape), and
    // the serve step folds the materialized deltas into the standing
    // gram family (its own lifecycle tag, epoch-keyed exactly-once as
    // t49) before re-deriving the order-4 head gram-table-sized. One
    // from-scratch eleven-statistic oracle grades batch and live
    // maintenance bit-for-bit.
    "e50_stream_kn_maintenance" -> of(
      s"""WITH $kn4StatsCtes
        |SELECT g, n, ctx, n1f, cont3, mid_ctx3, mid_n1f3,
        |  cont2, mid_ctx2, mid_n1f2, n1b, nbg, lp
        |FROM vlm ORDER BY g""") { (s, d) =>
      import graft.streaming.EventsStream
      val fresh = graft.streaming.TableStream.readProbed(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(10)) >= 8)
      val grams = (2 to 4).map { k =>
        fresh.select(lit(k).as("k"),
          explode(graft.functions.NativeFunctions.wordShinglesFused(
            s, TextFunctions.tokens(col("text")), k)).as("g"))
      }.reduce(_.unionByName(_))
        .groupBy("k", "g").agg(count(lit(1)).as("n"))
      val sinkName = s"stream_kngc_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(grams, sinkName, outputMode = "complete")
      StandingLm.maintainedHeadFromDeltas(s, d, s.table(sinkName), 4)
        .orderBy("g")
    },

    // Gram-table COMPACTION (t50) — the LM lifecycle's cadence rung
    // proven end to end (the d27 contract for gram counts): maintenance
    // epochs collapse to the FRONTIER epoch (not 0 — here the epoch
    // column doubles as the exactly-once replay ledger, and compacting
    // it away would let a replayed frontier fold double-count), the
    // rewrite happens under the same bucket spec, superseded delta rows
    // drop, and the order-4 head derived FROM THE COMPACTED TABLES — its
    // own persisted name, so the derivation provably consumed the
    // rewritten layout — lands on the same from-scratch eleven-statistic
    // oracle as t49/e50: build → maintain → compact, one answer.
    "t50_kn_gram_compaction" -> of(
      s"""WITH $kn4StatsCtes
        |SELECT g, n, ctx, n1f, cont3, mid_ctx3, mid_n1f3,
        |  cont2, mid_ctx2, mid_n1f2, n1b, nbg, lp
        |FROM vlm ORDER BY g""") { (s, d) =>
      StandingLm.compactedHead(s, d, 4).orderBy("g")
    },

    // Head-refresh CADENCE served (t52 — the r18 fold/refresh decoupling
    // made a first-class graded behavior, not just a spec): three folds
    // land under spark.graft.lm.headRefreshEpochs=3, the staleness
    // advisory fires only on the first (nothing persisted yet), and the
    // SERVED head is the epoch-1 refresh — base + first batch, the
    // labeled bounded staleness the cadence buys. The oracle recounts the
    // order-2 KN statistics from scratch over exactly that corpus slice
    // (doc_id % 10 < 9) and joins on all five integer statistics (the
    // t47 trust envelope at order 2; lp rides the t52_lp dump), so
    // refresh-every-fold and never-refresh both fail the compare — and
    // the epoch-2/3 grams, though folded into the standing tables, must
    // be absent from what scorers see. The cadence value 3 here is also
    // the recommended production shape: N ≈ head_cost/fold_cost ≈ 3–5
    // from the measured ×10 economics (see StandingLm.headRefreshEpochs'
    // sizing note).
    "t52_kn_head_cadence" -> of(
      """WITH lm AS (SELECT g, n, ctx, n1f, n1b, nbg, lp
        |           FROM read_parquet('{{AUX}}/t52_lp/*.parquet')),
        |toks AS (SELECT string_split(text, ' ') AS tk FROM documents
        |         WHERE doc_id % 10 < 9),
        |bgc AS (
        |  SELECT tk[i + 1] || ' ' || tk[i + 2] AS g, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM toks, UNNEST(range(len(tk) - 1)) AS r(i) WHERE len(tk) >= 2
        |  GROUP BY 1),
        |ctxc AS (
        |  SELECT split_part(g, ' ', 1) AS w1, CAST(SUM(n) AS BIGINT) AS c,
        |    CAST(COUNT(*) AS BIGINT) AS nf
        |  FROM bgc GROUP BY 1),
        |contc AS (
        |  SELECT split_part(g, ' ', 2) AS w2, CAST(COUNT(*) AS BIGINT) AS nb
        |  FROM bgc GROUP BY 1),
        |totc AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM bgc)
        |SELECT lm.g, lm.n, lm.ctx, lm.n1f, lm.n1b, lm.nbg, lm.lp
        |FROM lm
        |JOIN bgc ON bgc.g = lm.g AND bgc.n = lm.n
        |JOIN ctxc ON ctxc.w1 = split_part(lm.g, ' ', 1)
        |  AND ctxc.c = lm.ctx AND ctxc.nf = lm.n1f
        |JOIN contc ON contc.w2 = split_part(lm.g, ' ', 2)
        |  AND contc.nb = lm.n1b
        |JOIN totc ON totc.t = lm.nbg
        |ORDER BY lm.g""") { (s, d) =>
      cadenceServedHead(s, d).orderBy("g")
    },

    // Within-document duplicate-block REMOVAL (t51) — the repetition
    // family's rewrite rung (t12 measures, this cleans; the t11→t39
    // detect→rewrite pattern applied to boilerplate): consecutive
    // `block`-token blocks, first occurrence wins, survivors rejoin in
    // order — the within-doc repetition class whole-doc dedup cannot
    // touch (Lee et al. 2022, block-aligned). block = 2 on this corpus
    // so BOTH branches run at volume (~36% of fixture docs carry at
    // least one repeated 2-block; 5-blocks never repeat here — the t37
    // convention of exercising the rewrite, not just the pass-through).
    // The oracle rebuilds the blocking positionally (list_slice +
    // range), takes first occurrences by min block index, and re-joins
    // in that order — the array_distinct order contract, written out.
    // Sequence-span packing (t53 — the concat-then-chunk every LLM
    // pretraining pipeline runs; t09's delegated straddle-split made
    // first-class over ONE GLOBAL stream): documents concatenate in
    // id-hash order and cut into 512-token sequences; each doc emits one
    // row per sequence it overlaps, with the doc-side token span and its
    // offset inside the sequence. The Spark side computes the global
    // token offset as a DISTRIBUTED two-level prefix sum (range-bucketed
    // by the top hash bits + broadcast bucket prefixes —
    // CorpusOps.packSequenceSpans); the oracle runs the semantically-
    // equal FLAT global cumsum over the materialized doc hashes, so the
    // two-level decomposition is graded bit-for-bit, offsets and spans
    // alike (all-long arithmetic, integral division on both engines).
    "t53_sequence_packing" -> of(
      """WITH dh AS (SELECT doc_id, h FROM read_parquet('{{AUX}}/doc_hashes/*.parquet')),
        |base AS (SELECT d.doc_id,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok, dh.h
        |  FROM documents d JOIN dh USING (doc_id)
        |  WHERE len(string_split(d.text, ' ')) > 0),
        |offs AS (SELECT doc_id, n_tok,
        |    CAST(SUM(n_tok) OVER (ORDER BY h, doc_id) AS BIGINT) AS end_off
        |  FROM base),
        |spans AS (SELECT doc_id, n_tok, end_off - n_tok AS start_off,
        |    UNNEST(generate_series((end_off - n_tok) // 512,
        |                           (end_off - 1) // 512)) AS seq_id
        |  FROM offs)
        |SELECT seq_id, doc_id,
        |  GREATEST(0, seq_id * 512 - start_off) AS doc_from,
        |  LEAST(n_tok, (seq_id + 1) * 512 - start_off) - 1 AS doc_to,
        |  GREATEST(start_off, seq_id * 512) - seq_id * 512 AS seq_off
        |FROM spans ORDER BY seq_id, doc_id""") { (s, d) =>
      graft.operators.CorpusOps
        .packSequenceSpans(t(s, d, "documents"), "doc_id", "text", 512L)
        .orderBy("seq_id", "doc_id")
    },

    "t51_dedup_block_rewrite" -> of(
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |blocks AS (
        |  SELECT doc_id, i,
        |    array_to_string(list_slice(tk, i*2 + 1, i*2 + 2), ' ') AS b
        |  FROM toks, UNNEST(range(CAST(ceil(len(tk)/2.0) AS BIGINT))) AS r(i)),
        |firsts AS (SELECT doc_id, b, MIN(i) AS fi FROM blocks GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, string_agg(b, ' ' ORDER BY fi) AS text_clean,
        |    CAST(COUNT(*) AS BIGINT) AS kept
        |  FROM firsts GROUP BY 1),
        |cnt AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_blocks
        |  FROM blocks GROUP BY 1)
        |SELECT t.doc_id, a.text_clean, c.n_blocks,
        |  c.n_blocks - a.kept AS n_removed
        |FROM toks t JOIN agg a USING (doc_id) JOIN cnt c USING (doc_id)
        |ORDER BY t.doc_id""") { (s, d) =>
      graft.operators.CorpusOps.dedupBlocks(
        t(s, d, "documents"), "doc_id", "text", block = 2)
        .orderBy("doc_id")
    },

    // Corpus-build v4 (t48 — VERDICT r16 #7): the assembled ingest
    // pipeline END TO END on standing structures, one oracle. An arriving
    // batch (doc_id % 10 >= 8, the d21 family's ingest) flows through:
    // (1) near-dup screen — cross pairs against the d12 STANDING shingle
    // index plus the batch's internal pairs under first-seen-wins (the
    // smaller id survives); (2) decontamination — survivors' 8-token
    // shingles probe the t34 benchmark set (doc_id < 50; a benchmark doc
    // arriving in training data rejects itself — the point of the
    // screen); (3) leakage-safe split — survivors take their cluster's
    // hash split from the MAINTAINED standing label table (d26's
    // write-back), with the `moved` audit riding. Rejects report their
    // FIRST-rejecting stage, t42's priority contract. Per-ingest cost is
    // batch shingling + bucket-pruned probes + two hash projections —
    // zero corpus-side derivation anywhere, the 100 TB serving shape of
    // the whole assembly. The oracle composes the jaccard screen, the
    // t34 contamination probe, the d08 recursive closure and the t46
    // split arithmetic from scratch in SQL.
    "t48_corpus_build_v4" -> of(
      s"""WITH RECURSIVE ${jaccardCtes(None)},
        |edges AS (
        |  SELECT id_a, id_b FROM jp UNION ALL SELECT id_b, id_a FROM jp),
        |fresh AS (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8),
        |dupr AS (
        |  SELECT DISTINCT e.id_a AS doc_id FROM edges e
        |  WHERE e.id_a % 10 >= 8
        |    AND (e.id_b % 10 < 8 OR e.id_b < e.id_a)),
        |toks8 AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh8 AS (
        |  SELECT DISTINCT doc_id, ${(0 until 8).map(j => s"tk[i+$j]").mkString(" || ' ' || ")} AS g
        |  FROM toks8, UNNEST(range(1, len(tk) - 6)) AS u(i)),
        |contam AS (
        |  SELECT DISTINCT s.doc_id FROM sh8 s
        |  JOIN (SELECT DISTINCT g FROM sh8 WHERE doc_id < 50) b USING (g)
        |  WHERE s.doc_id % 10 >= 8),
        |reach(id, label) AS (
        |  SELECT id_a, id_a FROM edges
        |  UNION
        |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON r.id = e.id_b),
        |cl AS (SELECT id AS doc_id, MIN(label) AS cluster FROM reach GROUP BY id),
        |lab AS (
        |  SELECT f.doc_id, COALESCE(cl.cluster, f.doc_id) AS cluster
        |  FROM fresh f LEFT JOIN cl USING (doc_id)),
        |dh AS (SELECT doc_id, ((h % 100) + 100) % 100 AS bucket
        |  FROM read_parquet('{{AUX}}/doc_hashes/*.parquet'))
        |SELECT f.doc_id,
        |  CASE WHEN d.doc_id IS NOT NULL THEN 'near_dup'
        |       WHEN c.doc_id IS NOT NULL THEN 'contaminated'
        |       WHEN ch.bucket < 90 THEN 'train'
        |       WHEN ch.bucket < 95 THEN 'val' ELSE 'test' END AS verdict,
        |  CASE WHEN d.doc_id IS NOT NULL OR c.doc_id IS NOT NULL THEN FALSE
        |       ELSE (CASE WHEN ch.bucket < 90 THEN 'train'
        |                  WHEN ch.bucket < 95 THEN 'val' ELSE 'test' END)
        |         <> (CASE WHEN oh.bucket < 90 THEN 'train'
        |                  WHEN oh.bucket < 95 THEN 'val' ELSE 'test' END)
        |  END AS moved
        |FROM fresh f
        |LEFT JOIN dupr d ON d.doc_id = f.doc_id
        |LEFT JOIN contam c ON c.doc_id = f.doc_id
        |JOIN lab l ON l.doc_id = f.doc_id
        |JOIN dh ch ON ch.doc_id = l.cluster
        |JOIN dh oh ON oh.doc_id = f.doc_id
        |ORDER BY f.doc_id""") { (s, d) =>
      val docs = t(s, d, "documents")
      val fresh = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
      val idx = ensureShingleIndex(s, d,
        docs.filter(pmod(col("doc_id"), lit(10)) < 8))
      val dupRejects = Dedup
        .incrementalJaccardPairsIndexed(fresh, idx, "doc_id", "text")
        .select(col("fresh_id").as("doc_id"))
        .union(Dedup.ngramJaccardPairs(fresh, "doc_id", "text")
          .select(col("id_b").as("doc_id")))
        .distinct()
      val s1 = fresh.join(dupRejects, Seq("doc_id"), "left_anti")
      val bg = docs.filter(col("doc_id") < 50)
        .select(explode(array_distinct(
          graft.functions.NativeFunctions.wordShinglesFused(
            s, tokens(col("text")), 8))).as("g")).distinct()
      val contam = s1
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.NativeFunctions.wordShinglesFused(
            s, tokens(col("text")), 8))).as("g"))
        .join(broadcast(bg), "g").select("doc_id").distinct()
      val s2 = s1.join(contam, Seq("doc_id"), "left_anti")
      val labels = Dedup.readClusterLabels(
        s, ensureMaintainedClusterLabels(s, d, docs))
      val assigned = graft.operators.CorpusOps.leakageSafeSplit(
        s2.select("doc_id"), labels, "doc_id",
        Seq("train" -> 90, "val" -> 95, "test" -> 100))
      fresh.select("doc_id")
        .join(dupRejects.withColumn("__d", lit(1)), Seq("doc_id"), "left")
        .join(contam.withColumn("__c", lit(1)), Seq("doc_id"), "left")
        .join(assigned.select(col("doc_id"), col("split"), col("moved")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__d") === 1, "near_dup")
            .when(col("__c") === 1, "contaminated")
            .otherwise(col("split")).as("verdict"),
          coalesce(col("moved"), lit(false)).as("moved"))
        .orderBy("doc_id")
    },

    // KN discount sweep (t45, VERDICT r14 #7): a production fluency
    // filter SWEEPS the absolute discount instead of trusting 0.75 — the
    // 11 integer statistics are discount-independent (one corpus pass
    // family serves every discount), only the final arithmetic changes,
    // so the sweep costs k LM head-computations, not k corpus scans.
    // Emits per-(discount, doc) scores at D ∈ {0.4, 0.75, 0.9}. The
    // oracle recounts the shared integer statistics ONCE, joins each
    // discount's dumped table on all five (the t40 contract ×3 — only
    // the ln rides), and replays the position-ordered fold per discount.
    "t45_kn_discount_sweep" -> of(knDiscountSweepSql) { (s, d) =>
      val docs = t(s, d, "documents")
      Seq(0.4, 0.75, 0.9).map { disc =>
        val lm = s.table(StandingLm.ensure(s, d, 2, disc))
        graft.operators.CorpusOps.bigramLogprob(docs, "doc_id", "text",
          lm.select(col("bg"), col("lp")), -20.0)
          .withColumn("discount", lit(disc))
      }.reduce(_.unionByName(_))
        .select("discount", "doc_id", "n_bigrams", "mean_logprob")
        .orderBy("discount", "doc_id")
    },

    // STREAMING trigram KN fluency scoring (e40) — t41 live, at e39's
    // restated cost class from birth (never the complete-mode list-state
    // shape): KnScoreStream's n-gram-generic wiring with k=3 against the
    // static trigram LM. The fold, state width (16 bytes/doc) and append
    // emission are ORDER-INDEPENDENT — a trigram occurrence is one
    // (pos, lp) row like a bigram one — so the bit-parity argument
    // (position-sorted within-batch fold onto the carried sum) transfers
    // verbatim; StreamingSpec pins it against CorpusOps.trigramLogprob.
    // The t41 oracle grades the streaming plan with no weakening.
    "e40_stream_kn3_score" -> of(kn3ScoreSql) { (s, d) =>
      import graft.streaming.{EventsStream, KnScoreStream, ScreenStream}
      val lm = s.table(StandingLm.ensure(s, d, 3))
      val scored = KnScoreStream.scoreGrams(
        ScreenStream.readDocs(s, d), "doc_id", "text",
        lm.select(col("tg"), col("lp")), -20.0, 3, "tg")
      val sinkName = s"stream_kn3_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(
        scored.toDF().toDF("doc_id", "n_trigrams", "mean_logprob"), sinkName,
        outputMode = "append")
      s.table(sinkName).orderBy("doc_id")
    },

    // STREAMING 4-gram KN fluency scoring (e44) — t44 live through the
    // SAME n-gram-generic KnScoreStream wiring as e39 (k=2) and e40
    // (k=3): the order-generic LM builds batch-side on the standing
    // corpus, arriving documents score through the constant-width
    // (n_folded, Σlp) fold — 16 bytes/doc at any order, because a k-gram
    // occurrence is one (pos, lp) row no matter what k is. The t44 oracle
    // grades the streaming plan with no weakening.
    "e44_stream_kn4_score" -> of(kn4ScoreSql) { (s, d) =>
      import graft.streaming.{EventsStream, KnScoreStream, ScreenStream}
      val lm = s.table(StandingLm.ensure(s, d, 4))
      val scored = KnScoreStream.scoreGrams(
        ScreenStream.readDocs(s, d), "doc_id", "text",
        lm.select(col("g"), col("lp")), -20.0, 4, "g")
      val sinkName = s"stream_kn4_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(
        scored.toDF().toDF("doc_id", "n_quadgrams", "mean_logprob"), sinkName,
        outputMode = "append")
      s.table(sinkName).orderBy("doc_id")
    },

    // Kneser–Ney smoothed bigram fluency scoring (t40) — the standard
    // smoothing rung above t22's MLE conditionals: interpolated KN with
    // absolute discount 0.75, continuation probabilities from distinct-
    // context counts. The ln is the materialized primitive (t40_lp aux);
    // the oracle recounts all FIVE integer statistics in SQL, joins on
    // them, and refolds positions in order — t22's trust envelope exactly.
    "t40_kn_logprob" -> of(knScoreSql) { (s, d) =>
      val lm = s.table(StandingLm.ensure(s, d, 2))
      graft.operators.CorpusOps.bigramLogprob(t(s, d, "documents"),
        "doc_id", "text", lm.select(col("bg"), col("lp")), -20.0)
        .orderBy("doc_id")
    },

    // STREAMING KN fluency scoring (e39) — t40 live, at production cost
    // (the r12 `weak` restated, VERDICT r12 #1): the stateless front of
    // the plan is the batch scorer's verbatim (posexplode, stream-static
    // LM broadcast join, OOV coalesce), but the fold is
    // flatMapGroupsWithState carrying ONLY (n_folded, Σlp) per doc — the
    // e33 funnel pattern — instead of the first shape's complete-mode
    // collect_list aggregate whose per-doc position-list state cost
    // 18.5 s / 35 s CPU at sf0.1 (10% of the whole r12 bench). Append
    // emission: one row per doc, batch-fold-bit-identical because each
    // group sorts its batch arrivals by position and folds onto the
    // carried sum (StreamingSpec pins parity against
    // CorpusOps.bigramLogprob); the t40 oracle grades the plan verbatim.
    "e39_stream_kn_score" -> of(knScoreSql) { (s, d) =>
      import graft.streaming.{EventsStream, KnScoreStream, ScreenStream}
      val lm = s.table(StandingLm.ensure(s, d, 2))
      val scored = KnScoreStream.score(
        ScreenStream.readDocs(s, d), "doc_id", "text",
        lm.select(col("bg"), col("lp")), -20.0)
      val sinkName = s"stream_kn_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(scored.toDF(), sinkName,
        outputMode = "append")
      s.table(sinkName).orderBy("doc_id")
    },

    // Gopher/C4-style composite quality gate: per-rule boolean flags + the
    // conjunctive keep decision, kept as flags (not a filter) so the drop
    // reasons stay auditable per rule. Metrics reuse the t02/t12 fragments
    // (token count, mean token length, stopword ratio, top-bigram fraction,
    // max identical-token run); every ratio divides two exact integers, so
    // the flag comparisons see bit-identical doubles in both engines.
    "t21_quality_gate" -> of(
      s"""WITH $qualityGateCtes
        |SELECT doc_id, n_tokens, mean_token_len, stopword_ratio, top_bigram_frac,
        |  max_run, r_len, r_mean_len, r_stop, r_rep, r_run, keep
        |FROM gated ORDER BY doc_id""") { (s, d) =>
      graft.operators.CorpusOps.qualityGate(t(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },

    // The quality gate against a LIVE ingest (e16): per-(source, keep)
    // doc/token yield counts, complete-mode AvailableNow — the stateless
    // gate drops into the streaming plan unchanged, the one stateful op is
    // an O(sources × 2)-state groupBy, and the emission equals the batch
    // gate + aggregation, so the batch SQL grades the streaming plan.
    "e16_stream_quality" -> of(
      s"""WITH $qualityGateCtes
        |SELECT d.source, g.keep, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(g.n_tokens) AS BIGINT) AS n_tokens
        |FROM gated g JOIN documents d USING (doc_id)
        |GROUP BY d.source, g.keep ORDER BY d.source, g.keep""") { (s, d) =>
      import graft.streaming.{EventsStream, QualityStream, ScreenStream}
      val gated = QualityStream.gateCounts(
        ScreenStream.readDocs(s, d), "doc_id", "text")
      val sinkName = s"stream_quality_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(gated, sinkName, outputMode = "complete")
      s.table(sinkName).orderBy("source", "keep")
    },

    // NB: there is no t16 — the id was retired during round-3 review when
    // its candidate query merged into this composed chain; ids are stable
    // across rounds (BENCH/CORRECTNESS history), so the gap stays.
    //
    // The curated-corpus chain as ONE oracled query (the CorpusPipelineDemo
    // path, value-checked): near-dup survivors (connected-component closure)
    // ∘ reproducible train split (id-hash) ∘ per-source doc/token stats.
    // Composition is where silent drift hides; this pins the composed result,
    // not just each stage.
    "t17_curated_stats" -> of(
      s"""WITH RECURSIVE ${jaccardCtes(None)},
        |edges AS (
        |  SELECT id_a, id_b FROM jp UNION ALL SELECT id_b, id_a FROM jp),
        |reach(id, label) AS (
        |  SELECT id_a, id_a FROM edges
        |  UNION
        |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON r.id = e.id_b),
        |losers AS (
        |  SELECT id FROM (SELECT id, MIN(label) AS cluster FROM reach GROUP BY id) x
        |  WHERE id <> cluster),
        |dh AS (SELECT doc_id, h FROM read_parquet('{{AUX}}/doc_hashes/*.parquet')),
        |splits AS (
        |  SELECT doc_id,
        |    CASE WHEN ((h % 100) + 100) % 100 < 90 THEN 'train' ELSE 'holdout' END AS split
        |  FROM dh),
        |curated AS (
        |  SELECT d.doc_id, d.source, len(string_split(d.text, ' ')) AS n
        |  FROM documents d JOIN splits s ON s.doc_id = d.doc_id AND s.split = 'train'
        |  WHERE d.doc_id NOT IN (SELECT id FROM losers))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS n_tokens
        |FROM curated GROUP BY source ORDER BY source""") { (s, d) =>
      val survivors = Dedup.nearDupSurvivors(t(s, d, "documents"), "doc_id", "text")
      graft.operators.CorpusOps.hashSplit(survivors, "doc_id",
        Seq("train" -> 90, "holdout" -> 100))
        .filter(col("split") === "train")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
        .orderBy("source")
    },

    // The t17 curated chain EXTENDED with the t21 quality gate — the full
    // modern curation recipe in one oracled query: near-dup survivors
    // (component closure) ∘ quality-gate keep ∘ reproducible train split ∘
    // per-source doc/token stats. Gate flags are per-doc, so gating the
    // survivor set equals gating the corpus and intersecting — the SQL
    // mirrors the whole composition (recursive closure + gate CTEs with
    // `toks` renamed to avoid colliding with the Jaccard chain's CTE).
    "t23_curated_gated" -> of(
      s"""WITH RECURSIVE ${jaccardCtes(None)},
        |edges AS (
        |  SELECT id_a, id_b FROM jp UNION ALL SELECT id_b, id_a FROM jp),
        |reach(id, label) AS (
        |  SELECT id_a, id_a FROM edges
        |  UNION
        |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON r.id = e.id_b),
        |losers AS (
        |  SELECT id FROM (SELECT id, MIN(label) AS cluster FROM reach GROUP BY id) x
        |  WHERE id <> cluster),
        |${qualityGateCtes.replace("toks", "qtoks")},
        |dh AS (SELECT doc_id, h FROM read_parquet('{{AUX}}/doc_hashes/*.parquet')),
        |splits AS (
        |  SELECT doc_id,
        |    CASE WHEN ((h % 100) + 100) % 100 < 90 THEN 'train' ELSE 'holdout' END AS split
        |  FROM dh),
        |curated AS (
        |  SELECT d.doc_id, d.source, g.n_tokens
        |  FROM documents d
        |  JOIN gated g ON g.doc_id = d.doc_id AND g.keep
        |  JOIN splits s ON s.doc_id = d.doc_id AND s.split = 'train'
        |  WHERE d.doc_id NOT IN (SELECT id FROM losers))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM curated GROUP BY source ORDER BY source""") { (s, d) =>
      val survivors = Dedup.nearDupSurvivors(t(s, d, "documents"), "doc_id", "text")
      val gated = graft.operators.CorpusOps.qualityGate(
        survivors, "doc_id", "text", carryCols = Seq("source"))
        .filter(col("keep"))
      graft.operators.CorpusOps.hashSplit(gated, "doc_id",
        Seq("train" -> 90, "holdout" -> 100))
        .filter(col("split") === "train")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
        .orderBy("source")
    },

    // The corpus-build recipe v2 (t36): t23 with DECONTAMINATION in the
    // chain — the full pre-training assembly a corpus actually ships
    // through: benchmark docs (doc_id < 50) are excluded from the pool
    // outright, the pool deduplicates (near-dup survivors), gates on
    // quality, splits growth-stably, and every doc sharing ANY 8-shingle
    // with the benchmark drops before the per-source rollup. Each stage
    // is an already-oracled operator; this query pins their COMPOSITION
    // (stage order is load-bearing: decontamination must see the pool,
    // not the survivors, so a contaminated doc can't sneak through by
    // losing its dedup cluster to a clean twin... and conversely a
    // cluster that keeps a contaminated survivor is dropped here).
    "t36_curated_decontaminated" -> of {
      val cat = (0 until 8).map(j => s"tk[i+$j]").mkString(" || ' ' || ")
      s"""WITH RECURSIVE pool AS (SELECT * FROM documents WHERE doc_id >= 50),
        |${jaccardCtes(None, "pool")},
        |edges AS (
        |  SELECT id_a, id_b FROM jp UNION ALL SELECT id_b, id_a FROM jp),
        |reach(id, label) AS (
        |  SELECT id_a, id_a FROM edges
        |  UNION
        |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON r.id = e.id_b),
        |losers AS (
        |  SELECT id FROM (SELECT id, MIN(label) AS cluster FROM reach GROUP BY id) x
        |  WHERE id <> cluster),
        |${qualityGateCtes.replace("toks", "qtoks").replace("FROM documents", "FROM pool")},
        |ctoks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |csh AS (
        |  SELECT DISTINCT doc_id, $cat AS g
        |  FROM ctoks, UNNEST(range(1, len(tk) - 6)) AS u(i)),
        |contaminated AS (
        |  SELECT DISTINCT a.doc_id FROM csh a JOIN csh b ON b.g = a.g
        |  WHERE a.doc_id >= 50 AND b.doc_id < 50),
        |dh AS (SELECT doc_id, h FROM read_parquet('{{AUX}}/doc_hashes/*.parquet')),
        |splits AS (
        |  SELECT doc_id,
        |    CASE WHEN ((h % 100) + 100) % 100 < 90 THEN 'train' ELSE 'holdout' END AS split
        |  FROM dh),
        |curated AS (
        |  SELECT d.doc_id, d.source, g.n_tokens
        |  FROM pool d
        |  JOIN gated g ON g.doc_id = d.doc_id AND g.keep
        |  JOIN splits s ON s.doc_id = d.doc_id AND s.split = 'train'
        |  WHERE d.doc_id NOT IN (SELECT id FROM losers)
        |    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated))
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
        |FROM curated GROUP BY source ORDER BY source"""
    } { (s, d) =>
      val docs = t(s, d, "documents")
      val pool = docs.filter(col("doc_id") >= 50)
      val bench = docs.filter(col("doc_id") < 50)
      val survivors = Dedup.nearDupSurvivors(pool, "doc_id", "text")
      val gated = graft.operators.CorpusOps.qualityGate(
        survivors, "doc_id", "text", carryCols = Seq("source"))
        .filter(col("keep"))
      val contaminated = graft.operators.CorpusOps.contaminationScreen(
        pool, bench, "doc_id", "text", k = 8)
        .filter(col("n_hit") > 0).select("doc_id")
      graft.operators.CorpusOps.hashSplit(gated, "doc_id",
        Seq("train" -> 90, "holdout" -> 100))
        .filter(col("split") === "train")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
        .orderBy("source")
    },

    // Multimodal corpus-build recipe v3 (t42, VERDICT r12 #5): the three
    // round-12 ingest-screen families COMPOSED into one accept/reject
    // report. A fresh batch (the byte-shifted media twins ≥ 100000 plus
    // the %10 doc / %8 vec split — preserved residue classes of the
    // scaled-corpus remap, so the ×N legs replicate the base workload
    // exactly; ADVICE r15 / VERDICT r16 #5) runs, in order: (1) gear-CDC chunk screen —
    // byte-level shifted copies, the most mechanical dup class; (2) text
    // shingle-Jaccard screen over stage-1 SURVIVORS; (3) MIH Hamming
    // screen (radius 3 = the guaranteed band radius) over stage-1+2
    // survivors that HAVE embeddings (the shifted twins don't — media
    // without a vector passes the semantic stage by construction,
    // documented). STAGE ORDER IS LOAD-BEARING twice: each stage screens
    // only the previous survivors (later, costlier stages do less work —
    // the production layering), and the verdict attributes each reject to
    // its FIRST-rejecting stage (a shifted copy reports media_dup even
    // though the text screen would also catch it). The oracle computes
    // the three reject sets in full and applies the same priority — label
    // -identical because survivors-only screening equals full screening
    // minus earlier rejects on a fixed corpus.
    "t42_multimodal_recipe" -> of(t42RecipeSql) { (s, d) =>
      import graft.operators.{Dedup, Multimodal, Similarity}
      val docs = t(s, d, "documents")
      val media = shiftedMediaCorpus(s, d)
      val mediaRejects = Multimodal.incrementalGearChunkPairs(
        media.filter(col("doc_id") >= 100000 || col("doc_id") % 10 === 0),
        media.filter(col("doc_id") < 100000 && col("doc_id") % 10 =!= 0),
        threshold = 0.4)
        .select(col("fresh_id").as("doc_id")).distinct()
      val freshText = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 100000).cast("long").as("doc_id"),
            concat(lit("~"), col("text")).as("text")))
      val s1 = freshText.join(mediaRejects, Seq("doc_id"), "left_anti")
      val textRejects = Dedup.incrementalJaccardPairs(
        s1, docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
        .select(col("fresh_id").as("doc_id")).distinct()
      val s2 = s1.join(textRejects, Seq("doc_id"), "left_anti")
      val embs = t(s, d, "embeddings")
      val embRejects = Similarity.mihHammingScreen(
        embs.filter(col("vec_id") % 8 === 0)
          .join(s2.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"),
        embs.filter(col("vec_id") % 8 =!= 0), "vec_id", "embedding",
        radius = 3)
        .select(col("fresh_id").as("doc_id")).distinct()
      freshText.select(col("doc_id"))
        .join(mediaRejects.withColumn("__m", lit(1)), Seq("doc_id"), "left")
        .join(textRejects.withColumn("__t", lit(1)), Seq("doc_id"), "left")
        .join(embRejects.withColumn("__e", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__m") === 1, "media_dup")
            .when(col("__t") === 1, "text_dup")
            .when(col("__e") === 1, "embedding_dup")
            .otherwise("accepted").as("verdict"))
        .orderBy("doc_id")
    },

    // The multimodal corpus-build recipe LIVE (e42) — t42 as a staged
    // streaming ingest: each family's streaming screen (the e38 gear, e15
    // shingle and e37 MIH shapes) runs as a sequential AvailableNow
    // stage, and each later stage's FRESH STREAM is anti-joined
    // stream-static against the previous stage's materialized rejects —
    // so the stage order stays load-bearing exactly as in batch (later,
    // costlier stages see only survivors), and the serve step composes
    // the three reject sets into first-rejecting-stage verdicts. All
    // corpus sides are static (digests/shingles/codes built once); the
    // t42 oracle grades the composed live run verbatim.
    "e42_stream_multimodal_recipe" -> of(t42RecipeSql) { (s, d) =>
      import graft.streaming.{EventsStream, ScreenStream, TableStream}
      import graft.operators.{Dedup, Multimodal, Similarity}
      val docs = t(s, d, "documents")
      val media = shiftedMediaCorpus(s, d)
      // --- stage A: gear-CDC media screen (streaming fresh blobs) ---
      val mediaCorpus = media.filter(
        col("doc_id") < 100000 && col("doc_id") % 10 =!= 0)
      val corpusD = Multimodal.gearDigestSet(mediaCorpus, "corpus_id")
      val gearSizes = corpusD.groupBy("corpus_id")
        .agg(count(lit(1)).as("sz_c"))
      def freshDocsStream() = TableStream.readProbed(s, d, "documents")
      val freshMediaStream = freshDocsStream()
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("text").cast("binary").as("payload"))
        .unionByName(freshDocsStream().filter(col("doc_id") < 20)
          .select((col("doc_id") + 100000).cast("long").as("doc_id"),
            concat(lit("~"), col("text")).cast("binary").as("payload")))
      val gearSink = s"stream_recipe_gear_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(
        ScreenStream.screenGearChunks(freshMediaStream, corpusD, gearSizes,
          threshold = 0.4),
        gearSink, outputMode = "append")
      val mediaRejects = s.table(gearSink)
        .filter(col("inter").cast("double") /
          (col("sz_f") + col("sz_c") - col("inter")).cast("double") >= 0.4)
        .select(col("fresh_id").as("doc_id")).distinct()
      // --- stage B: text shingle screen over stage-A survivors ---
      val textCorpus = docs.filter(col("doc_id") % 10 =!= 0)
      val shC = Dedup.shingleSet(textCorpus, "doc_id", "text", 4,
        persist = false)
      val shSizes = shC.groupBy(col("doc_id")).agg(count(lit(1)).as("set_size"))
      val freshTextStream = freshDocsStream()
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .unionByName(freshDocsStream().filter(col("doc_id") < 20)
          .select((col("doc_id") + 100000).cast("long").as("doc_id"),
            concat(lit("~"), col("text")).as("text")))
        .join(mediaRejects, Seq("doc_id"), "left_anti")
      val textSink = s"stream_recipe_text_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(
        ScreenStream.screen(freshTextStream, shC, shSizes, "doc_id", "text"),
        textSink, outputMode = "append")
      val textRejects = s.table(textSink)
        .select(col("fresh_id").as("doc_id")).distinct()
      // --- stage C: MIH embedding screen over stage-B survivors ---
      val embs = t(s, d, "embeddings")
      val dim = Similarity.vectorDim(embs, "embedding")
      val signs = Similarity.hyperplaneSigns(s, 32, 100, dim)
      val corpusCodes = Similarity.mihCodeBands(
        embs.filter(col("vec_id") % 8 =!= 0), "vec_id", "embedding",
        "corpus_id", "c_code", signs, 4, 8)
      val freshIdsStatic = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"))
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 100000).cast("long").as("doc_id")))
      val survivors2 = freshIdsStatic
        .join(mediaRejects, Seq("doc_id"), "left_anti")
        .join(textRejects, Seq("doc_id"), "left_anti")
      val freshVecStream = ScreenStream.readEmbeddings(s, d)
        .filter(col("vec_id") % 8 === 0)
        .join(survivors2.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
      val mihSink = s"stream_recipe_mih_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(
        ScreenStream.screenMih(freshVecStream, corpusCodes,
          "vec_id", "embedding", signs, 4, 8, 3),
        mihSink, outputMode = "append")
      val embRejects = s.table(mihSink)
        .select(col("fresh_id").as("doc_id")).distinct()
      // --- serve: first-rejecting-stage verdicts (t42's compose) ---
      freshIdsStatic
        .join(mediaRejects.withColumn("__m", lit(1)), Seq("doc_id"), "left")
        .join(textRejects.withColumn("__t", lit(1)), Seq("doc_id"), "left")
        .join(embRejects.withColumn("__e", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__m") === 1, "media_dup")
            .when(col("__t") === 1, "text_dup")
            .when(col("__e") === 1, "embedding_dup")
            .otherwise("accepted").as("verdict"))
        .orderBy("doc_id")
    },

    // STREAMING recipe v3 served from STANDING INDEXES (e45) — e42's
    // 100 TB serving shape: the same three staged AvailableNow screens
    // over the same splits, but every corpus-side structure is a standing
    // bucketed table (gear digest index, shingle index, MIH code index —
    // the m15/d12/s24 layouts) built once and read through its bucket
    // layout, so the recipe's per-ingest cost excludes ALL corpus
    // re-derivation (e42 re-digests/re-shingles/re-codes the corpus per
    // run — its measured ×4.8 at ×10; the indexed screens' curves are
    // ×1.5–2.0). Result-identical by construction (the index holds
    // exactly the frame the direct path computes), so the SAME t42 oracle
    // grades this plan.
    "e45_stream_recipe_indexed" -> of(t42RecipeSql) { (s, d) =>
      import graft.streaming.{EventsStream, ScreenStream, TableStream}
      import graft.operators.{Dedup, Multimodal, Similarity}
      val docs = t(s, d, "documents")
      val media = shiftedMediaCorpus(s, d)
      // --- standing indexes over e42's exact corpus splits ---
      // The three builds are mutually independent (distinct tables,
      // distinct inputs) and each is a terminal write action, so they run
      // as three concurrent driver-submitted jobs (guide §2.6: overlap
      // independent jobs so one build's task tail back-fills the others'
      // idle slots). Results are unchanged — only job ordering overlaps.
      val sfx = graft.sources.BucketedLake.layoutSuffix(d + "#rcp10", 16)
      val embs = t(s, d, "embeddings")
      // bounded fail-fast await + sibling cancellation live in DriverJobs
      // (VERDICT r20 #6)
      val built = graft.operators.DriverJobs.awaitAll[Any](Seq(
        () => Multimodal.writeGearChunkIndex(
          media.filter(col("doc_id") < 100000 && col("doc_id") % 10 =!= 0),
          Multimodal.ChunkIndex(s"rcp_gear_$sfx", s"rcp_gearsz_$sfx")),
        () => Dedup.writeShingleIndex(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          Dedup.ShingleIndex(s"rcp_sh_$sfx", s"rcp_shsz_$sfx")),
        () => Similarity.writeMihIndex(
          embs.filter(col("vec_id") % 8 =!= 0), "vec_id", "embedding",
          s"rcp_$sfx")), maxThreads = 3)
      val gearIdx = built(0).asInstanceOf[Multimodal.ChunkIndex]
      val shIdx = built(1).asInstanceOf[Dedup.ShingleIndex]
      val mihIdx = built(2).asInstanceOf[Similarity.MihIndex]
      // --- stage A: gear screen against the digest index ---
      def freshDocsStream() = TableStream.readProbed(s, d, "documents")
      val freshMediaStream = freshDocsStream()
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("text").cast("binary").as("payload"))
        .unionByName(freshDocsStream().filter(col("doc_id") < 20)
          .select((col("doc_id") + 100000).cast("long").as("doc_id"),
            concat(lit("~"), col("text")).cast("binary").as("payload")))
      val gearSink = s"stream_rcpidx_gear_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(
        ScreenStream.screenGearChunks(freshMediaStream,
          s.table(gearIdx.digests)
            .select(col("doc_id").as("corpus_id"), col("digest")),
          s.table(gearIdx.sizes)
            .select(col("doc_id").as("corpus_id"), col("sz_c")),
          threshold = 0.4),
        gearSink, outputMode = "append")
      val mediaRejects = s.table(gearSink)
        .filter(col("inter").cast("double") /
          (col("sz_f") + col("sz_c") - col("inter")).cast("double") >= 0.4)
        .select(col("fresh_id").as("doc_id")).distinct()
      // --- stage B: text screen against the shingle index ---
      val freshTextStream = freshDocsStream()
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .unionByName(freshDocsStream().filter(col("doc_id") < 20)
          .select((col("doc_id") + 100000).cast("long").as("doc_id"),
            concat(lit("~"), col("text")).as("text")))
        .join(mediaRejects, Seq("doc_id"), "left_anti")
      val textSink = s"stream_rcpidx_text_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(
        ScreenStream.screen(freshTextStream,
          s.table(shIdx.shingles), s.table(shIdx.sizes), "doc_id", "text"),
        textSink, outputMode = "append")
      val textRejects = s.table(textSink)
        .select(col("fresh_id").as("doc_id")).distinct()
      // --- stage C: MIH screen against the code index ---
      val signs = mihIdx.family(s).signs
      val freshIdsStatic = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"))
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 100000).cast("long").as("doc_id")))
      val survivors2 = freshIdsStatic
        .join(mediaRejects, Seq("doc_id"), "left_anti")
        .join(textRejects, Seq("doc_id"), "left_anti")
      val freshVecStream = ScreenStream.readEmbeddings(s, d)
        .filter(col("vec_id") % 8 === 0)
        .join(survivors2.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
      val mihSink = s"stream_rcpidx_mih_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(
        ScreenStream.screenMih(freshVecStream, s.table(mihIdx.codes),
          "vec_id", "embedding", signs, mihIdx.bands, mihIdx.bandBits, 3),
        mihSink, outputMode = "append")
      val embRejects = s.table(mihSink)
        .select(col("fresh_id").as("doc_id")).distinct()
      // --- serve: first-rejecting-stage verdicts, t42's compose ---
      freshIdsStatic
        .join(mediaRejects.withColumn("__m", lit(1)), Seq("doc_id"), "left")
        .join(textRejects.withColumn("__t", lit(1)), Seq("doc_id"), "left")
        .join(embRejects.withColumn("__e", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__m") === 1, "media_dup")
            .when(col("__t") === 1, "text_dup")
            .when(col("__e") === 1, "embedding_dup")
            .otherwise("accepted").as("verdict"))
        .orderBy("doc_id")
    },

    // Temperature mixture resampling (t43) — the multilingual/domain
    // REBALANCING step (mT5/XLM-R recipe): strata get target share
    // ∝ share^τ, here τ=0.5 over `lang` (the corpus is en-heavy: en
    // downsamples to ~0.70 at sf0.01, every tail language keeps rate 1.0
    // — both branches of the least() live). Bit-exactness of the double
    // rate is engineered, not hoped for: τ=0.5 runs as IEEE sqrt, the
    // normalizer Σ√n folds in stratum order from a 0.0 seed (the t22
    // position-fold pattern — addition order is the only nondeterminism a
    // float sum has), and the rate is left-associated identically in both
    // engines. The per-doc gate replays the doc_hashes aux in SQL.
    "t43_temperature_mix" -> of(tempMixSql) { (s, d) =>
      val docs = t(s, d, "documents")
      val kept = graft.operators.CorpusOps
        .temperatureResample(docs, "doc_id", "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"),
          sum(size(tokens(col("text"))).cast("long")).as("n_tokens_kept"))
      graft.operators.CorpusOps.temperatureRates(docs, "lang")
        .join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("accept_rate"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"))
        .orderBy("lang")
    },

    // The temperature mixture gate against a LIVE ingest (e41) — the
    // t43 rebalancing dashboard: rates come from the STANDING corpus
    // (strata-sized, broadcast — the e39 static-LM pattern), arriving
    // docs pass the batch resampler's stateless gate predicate verbatim,
    // and the one stateful op is the per-stratum yield groupBy (state
    // O(strata), complete mode). Serve joins the static rate table back
    // for n_docs/accept_rate; the t43 oracle grades the plan verbatim.
    "e41_stream_mix_yield" -> of(tempMixSql) { (s, d) =>
      import graft.streaming.{EventsStream, MixStream, ScreenStream}
      val docs = t(s, d, "documents")
      val rates = graft.operators.CorpusOps.temperatureRates(docs, "lang")
      val yields = MixStream.gatedYields(
        ScreenStream.readDocs(s, d), rates, "doc_id", "lang", "text")
      val sinkName = s"stream_mix_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(yields, sinkName, outputMode = "complete")
      rates.join(s.table(sinkName), Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("accept_rate"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"))
        .orderBy("lang")
    },

    // Checksum-validated card-number screen (t37): the PII rung beyond
    // t11's regex-only pass — candidates are 13–19-digit runs (optional
    // space/dash grouping), but only Luhn-VALID ones are real card shapes
    // and get masked; checksum failures (order ids, serials — here ~90% of
    // the synthetic candidates) are listed unredacted. Every doc carries a
    // deterministic 16-digit synthetic number whose last digit is
    // doc_id%10, so ~1 in 10 passes the checksum — both branches exercised
    // at volume. The oracle re-runs the same RE2-subset regex and rebuilds
    // the Luhn fold digit-by-digit via UNNEST(range) — exact integer
    // arithmetic, no materialized primitives.
    "t37_card_screen" -> of {
      import graft.functions.TextFunctions.cardRe
      s"""WITH enriched AS (
        |  SELECT doc_id,
        |    text || ' card ' ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN substr(card16, 1, 4) || '-' || substr(card16, 5, 4) ||
        |           '-' || substr(card16, 9, 4) || '-' || substr(card16, 13, 4)
        |      ELSE card16 END AS card_text
        |  FROM (SELECT doc_id, text,
        |      lpad(CAST((doc_id * 271828 + 13) % 1000000000000000 AS VARCHAR),
        |        15, '0') || CAST(doc_id % 10 AS VARCHAR) AS card16
        |    FROM documents)),
        |cands AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS cand_no, cs[i] AS raw
        |  FROM (SELECT doc_id, regexp_extract_all(card_text, '$cardRe') AS cs
        |    FROM enriched) x, UNNEST(range(1, len(cs) + 1)) AS u(i)),
        |norm AS (
        |  SELECT doc_id, cand_no, raw,
        |    regexp_replace(raw, '[ -]', '', 'g') AS digits
        |  FROM cands),
        |luhn AS (
        |  SELECT doc_id, cand_no, raw, digits,
        |    SUM(CASE WHEN (len(digits) - i) % 2 = 1
        |      THEN CASE WHEN 2 * CAST(substr(digits, i, 1) AS INT) > 9
        |        THEN 2 * CAST(substr(digits, i, 1) AS INT) - 9
        |        ELSE 2 * CAST(substr(digits, i, 1) AS INT) END
        |      ELSE CAST(substr(digits, i, 1) AS INT) END) AS s
        |  FROM norm, UNNEST(range(1, len(digits) + 1)) AS u(i)
        |  GROUP BY doc_id, cand_no, raw, digits)
        |SELECT doc_id, cand_no, CAST(len(digits) AS BIGINT) AS n_digits,
        |  s % 10 = 0 AND len(digits) BETWEEN 13 AND 19 AS luhn_valid,
        |  CASE WHEN s % 10 = 0 AND len(digits) BETWEEN 13 AND 19
        |    THEN '****' || substr(digits, len(digits) - 3, 4)
        |    ELSE raw END AS display
        |FROM luhn ORDER BY doc_id, cand_no"""
    } { (s, d) =>
      val card16 = concat(
        lpad(pmod(col("doc_id") * 271828 + 13, lit(1000000000000000L))
          .cast("string"), 15, "0"),
        pmod(col("doc_id"), lit(10)).cast("string"))
      val formatted = when(pmod(col("doc_id"), lit(2)) === 0,
        concat_ws("-", substring(col("card16"), 1, 4),
          substring(col("card16"), 5, 4), substring(col("card16"), 9, 4),
          substring(col("card16"), 13, 4)))
        .otherwise(col("card16"))
      graft.operators.CorpusOps.cardScreen(
        t(s, d, "documents")
          .withColumn("card16", card16)
          .withColumn("card_text",
            concat(col("text"), lit(" card "), formatted)),
        "doc_id", "card_text")
        .orderBy("doc_id", "cand_no")
    },

    // Contamination screen, degraded exchange (t38): the t34 audit with
    // the bench side treated as TOO BIG to broadcast — the collision
    // becomes a shuffle-hash join on the shingle key (the d02 bucket
    // shape) with the bloom prefilter composed in FRONT of it: the
    // sketch builds over the bench shingles and prunes the corpus gram
    // stream before the exchange, so the big shuffle carries only
    // might-collide grams. False positives die in the exact join, false
    // negatives cannot occur, the denominator counts the unpruned set —
    // so the audit is bit-identical to t34 and the SAME oracle grades
    // both paths (VERDICT r11 #5: the documented degrade path was
    // previously untested).
    "t38_contamination_shuffle" -> of(t34OracleSql) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.operators.CorpusOps.contaminationScreen(
        docs.filter(col("doc_id") >= 50),
        docs.filter(col("doc_id") < 50),
        "doc_id", "text", k = 8,
        broadcastBench = false, bloomPrefilter = true,
        expectedBenchShingles = 1L << 14)
        .orderBy("doc_id")
    },

    // Checksum-GATED card redaction (t39): the production composition of
    // t11's rewrite with t37's validation — the SAME enriched fixture as
    // t37 (every doc carries a deterministic 16-digit number, ~1 in 10
    // Luhn-valid, half dash-grouped), and only VALIDATED candidates are
    // masked in-place; checksum failures stay verbatim so the redactor
    // never mangles order ids. The oracle splits the text around the
    // same regex, replays the Luhn fold per candidate and re-interleaves
    // pieces with processed matches via an ordered string_agg — the
    // exact fold the Spark aggregate HOF runs.
    "t39_redact_validated" -> of {
      import graft.functions.TextFunctions.cardRe
      s"""WITH enriched AS (
        |  SELECT doc_id,
        |    text || ' card ' ||
        |    CASE WHEN doc_id % 2 = 0
        |      THEN substr(card16, 1, 4) || '-' || substr(card16, 5, 4) ||
        |           '-' || substr(card16, 9, 4) || '-' || substr(card16, 13, 4)
        |      ELSE card16 END AS card_text
        |  FROM (SELECT doc_id, text,
        |      lpad(CAST((doc_id * 271828 + 13) % 1000000000000000 AS VARCHAR),
        |        15, '0') || CAST(doc_id % 10 AS VARCHAR) AS card16
        |    FROM documents)),
        |p AS (
        |  SELECT doc_id,
        |    string_split_regex(card_text, '$cardRe') AS pieces,
        |    regexp_extract_all(card_text, '$cardRe') AS ms
        |  FROM enriched),
        |cand AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS i, ms[i] AS raw,
        |    regexp_replace(ms[i], '[ -]', '', 'g') AS digits
        |  FROM p, UNNEST(range(1, len(ms) + 1)) u(i)),
        |luhn AS (
        |  SELECT doc_id, i, raw, digits,
        |    SUM(CASE WHEN (len(digits) - j) % 2 = 1
        |      THEN CASE WHEN 2 * CAST(substr(digits, j, 1) AS INT) > 9
        |        THEN 2 * CAST(substr(digits, j, 1) AS INT) - 9
        |        ELSE 2 * CAST(substr(digits, j, 1) AS INT) END
        |      ELSE CAST(substr(digits, j, 1) AS INT) END) AS s
        |  FROM cand, UNNEST(range(1, len(digits) + 1)) u(j)
        |  GROUP BY doc_id, i, raw, digits),
        |proc AS (
        |  SELECT doc_id, i,
        |    CASE WHEN s % 10 = 0 AND len(digits) BETWEEN 13 AND 19
        |      THEN '****' || substr(digits, len(digits) - 3, 4)
        |      ELSE raw END AS rep,
        |    (s % 10 = 0 AND len(digits) BETWEEN 13 AND 19) AS ok
        |  FROM luhn),
        |agg AS (
        |  SELECT pr.doc_id,
        |    string_agg(pr.rep || p2.pieces[CAST(pr.i + 1 AS INT)], ''
        |      ORDER BY pr.i) AS tail_,
        |    CAST(COUNT(*) AS BIGINT) AS n_cands,
        |    CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
        |  FROM proc pr JOIN p p2 ON p2.doc_id = pr.doc_id
        |  GROUP BY pr.doc_id)
        |SELECT p.doc_id, COALESCE(a.n_cands, 0) AS n_cands,
        |  COALESCE(a.n_masked, 0) AS n_masked,
        |  p.pieces[1] || COALESCE(a.tail_, '') AS redacted
        |FROM p LEFT JOIN agg a ON a.doc_id = p.doc_id
        |ORDER BY p.doc_id"""
    } { (s, d) =>
      val card16 = concat(
        lpad(pmod(col("doc_id") * 271828 + 13, lit(1000000000000000L))
          .cast("string"), 15, "0"),
        pmod(col("doc_id"), lit(10)).cast("string"))
      val formatted = when(pmod(col("doc_id"), lit(2)) === 0,
        concat_ws("-", substring(col("card16"), 1, 4),
          substring(col("card16"), 5, 4), substring(col("card16"), 9, 4),
          substring(col("card16"), 13, 4)))
        .otherwise(col("card16"))
      graft.operators.CorpusOps.redactValidatedCards(
        t(s, d, "documents")
          .withColumn("card16", card16)
          .withColumn("card_text",
            concat(col("text"), lit(" card "), formatted)),
        "doc_id", "card_text")
        .orderBy("doc_id")
    },

    // BPE merge learning (t25) — tokenizer TRAINING: 3 rounds of
    // word-weighted pair counting + argmax + merge application over the
    // vocabulary table (corpus touched once; rounds are vocab-sized).
    // Round r's counts depend on every earlier merge's application, so the
    // 3-row merge table value-checks the whole iterative pipeline.
    "t25_bpe_merges" -> of(bpeOracle(3)) { (s, d) =>
      graft.operators.CorpusOps.bpeMerges(t(s, d, "documents"), "doc_id", "text",
        rounds = 3)
        .orderBy("round")
    },

    // BPE tokenizer APPLICATION (t26): train 3 merges, encode the
    // vocabulary with them, and report each doc's whitespace vs encoded
    // token counts — the real packing budget where t03's regex count is an
    // estimate. The oracle applies the trainer chain's own final symbol
    // state, so train→encode cannot drift between engines.
    "t26_bpe_token_counts" -> of(bpeApplyOracle(3)) { (s, d) =>
      val docs = t(s, d, "documents")
      val merges = graft.operators.CorpusOps.bpeMerges(docs, "doc_id", "text",
        rounds = 3)
      graft.operators.CorpusOps.bpeTokenCounts(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    },

    // Curated-writer roundtrip (t24): hash-split the corpus, write it
    // through the partitioned/sorted curated layout, READ THE FILES BACK
    // and aggregate — the writer's losslessness graded by the oracle
    // (DuckDB aggregates the same split assignment straight from the source
    // table, so any row the layout dropped, duplicated or mangled breaks
    // the value compare). Upgrades the writer from spec-only to oracled.
    "t24_curated_roundtrip" -> of(
      """WITH dh AS (SELECT doc_id, h FROM read_parquet('{{AUX}}/doc_hashes/*.parquet')),
        |splits AS (
        |  SELECT doc_id,
        |    CASE WHEN ((h % 100) + 100) % 100 < 90 THEN 'train' ELSE 'holdout' END AS split
        |  FROM dh)
        |SELECT s.split, d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents d JOIN splits s USING (doc_id)
        |GROUP BY s.split, d.source ORDER BY s.split, d.source""") { (s, d) =>
      val split = graft.operators.CorpusOps.hashSplit(
        t(s, d, "documents"), "doc_id", Seq("train" -> 90, "holdout" -> 100))
      val dir = java.nio.file.Files.createTempDirectory("graft-curated-rt-")
      graft.operators.CorpusOps.writeCurated(split, dir.toString)
      s.read.parquet(dir.toString)
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(tokens(col("text"))).cast("long")).as("n_tokens"))
        .orderBy("split", "source")
    },

    // ---- multimodal -------------------------------------------------------

    // Binary payload plumbing + partition-batched (stubbed) feature extract.
    "m01_multimodal_features" -> of(
      """SELECT doc_id, media_type, n_bytes, head_hex FROM (
        |  SELECT doc_id, 'text/plain' AS media_type,
        |    CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        |    substring(hex(CAST(text AS BLOB)), 1, 16) AS head_hex
        |  FROM documents) x ORDER BY doc_id""") { (s, d) =>
      Multimodal.extractFeatures(
        Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text"))
        .select("doc_id", "media_type", "n_bytes", "head_hex")
        .orderBy("doc_id")
    },

    // Byte-level header parsing (REAL, not the decode stub): two big-endian
    // u32 fields from each payload's first 8 bytes — the width/height /
    // sample-rate shape of media header sniffing, pure codegen expressions.
    "m03_multimodal_header" -> of(
      """SELECT doc_id,
        |  ('0x' || substring(hex(CAST(text AS BLOB)), 1, 8))::BIGINT AS hdr_a,
        |  ('0x' || substring(hex(CAST(text AS BLOB)), 9, 8))::BIGINT AS hdr_b
        |FROM documents
        |WHERE octet_length(CAST(text AS BLOB)) >= 8
        |ORDER BY doc_id""") { (s, d) =>
      Multimodal.parseHeaderU32(
        Multimodal.asMediaTable(t(s, d, "documents"), "doc_id", "text"))
        .orderBy("doc_id")
    },

    // Fixed-size payload chunking — the frame-sampling/batch shape for media
    // payloads (each chunk row would feed a decoder batch at scale).
    "m02_multimodal_chunks" -> of(
      s"""SELECT doc_id, chunk_no, chunk_hex FROM ($hexChunkSql) c
        |ORDER BY doc_id, chunk_no""") { (s, d) =>
      graft.operators.Multimodal.hexChunks(
        graft.operators.Multimodal.asMediaTable(
          t(s, d, "documents").filter(col("doc_id") <= 50), "doc_id", "text"))
        .orderBy("doc_id", "chunk_no")
    },

    // Stride "frame" sampling over the m02 chunk layout — every 4th chunk
    // stands in for keyframe extraction from a video payload (the decode
    // itself stays the honest stub; the selection/layout plumbing is real).
    "m04_multimodal_frames" -> of(
      s"""SELECT doc_id, CAST(chunk_no // 4 AS BIGINT) AS frame_no, chunk_no,
        |  chunk_hex AS frame_hex
        |FROM ($hexChunkSql) c WHERE chunk_no % 4 = 0
        |ORDER BY doc_id, chunk_no""") { (s, d) =>
      graft.operators.Multimodal.hexChunks(
        graft.operators.Multimodal.asMediaTable(
          t(s, d, "documents").filter(col("doc_id") <= 50), "doc_id", "text"))
        .filter(pmod(col("chunk_no"), lit(4L)) === 0)
        .select(col("doc_id"),
          call_function("div", col("chunk_no"), lit(4L)).as("frame_no"),
          col("chunk_no"), col("chunk_hex").as("frame_hex"))
        .orderBy("doc_id", "chunk_no")
    },

    // Exact binary dedup by cryptographic content hash — the media twin of
    // d01 (text exact dedup): group on sha256(payload), survivor = lowest
    // doc_id, copies counted. The digest (64 hex chars) is the shuffle key
    // and the only carried column, so shuffle volume is independent of
    // payload size; 256-bit collision space makes hash-equality a safe
    // byte-equality proxy at any corpus scale. DuckDB's sha256(VARCHAR)
    // hashes the string's UTF-8 bytes — exactly the payload asMediaTable
    // wraps — so both digests match byte-for-byte.
    "m05_multimodal_dedup" -> of(
      """SELECT sha256(text) AS content_sha256,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  MIN(doc_id) AS survivor_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1, 2 ORDER BY survivor_id""") { (s, d) =>
      graft.operators.Multimodal.dedupByContent(
        graft.operators.Multimodal.asMediaTable(
          t(s, d, "documents"), "doc_id", "text"))
        .select("content_sha256", "n_bytes", "survivor_id", "n_copies")
        .orderBy("survivor_id")
    },

    // Chunk-level dedup statistics (m06): per blob, how many of its 64-byte
    // chunks are bytes already stored under an earlier (doc, chunk)
    // digest — the storage-dedup view composing the m02 chunk layout with
    // the m05 digest key. Only digests shuffle, never payload bytes.
    "m06_chunk_dedup" -> of(
      // the oracle ranks within chunk_hex instead of the digest: hex is
      // injective on the chunk bytes, so the partitions are identical and
      // the digest itself (an internal key) needs no cross-engine twin
      s"""WITH c AS ($hexChunkSql),
        |r AS (SELECT doc_id, chunk_no,
        |        ROW_NUMBER() OVER (PARTITION BY chunk_hex
        |          ORDER BY doc_id, chunk_no) AS rn
        |      FROM c)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        |FROM r GROUP BY doc_id ORDER BY doc_id""") { (s, d) =>
      graft.operators.Multimodal.chunkDedupStats(
        graft.operators.Multimodal.asMediaTable(
          t(s, d, "documents").filter(col("doc_id") <= 50), "doc_id", "text"))
        .orderBy("doc_id")
    },

    // Blob-level near-dup pairs by shared content chunks (m07): the media
    // twin of d02 — Jaccard over DISTINCT chunk-digest sets, candidates
    // generated inside digest buckets (never all-pairs), only digests on
    // the wire. Full corpus (near-dups live anywhere), threshold 0.5. The
    // oracle partitions by chunk_hex instead of the digest (injective on
    // the chunk bytes — the m06 contract) and recomputes sizes, the
    // bucket self-join, and the Jaccard division from scratch.
    "m07_chunk_similarity" -> of(
      s"""WITH c AS ($hexChunkAllSql),
        |d AS (SELECT DISTINCT doc_id, chunk_hex FROM c),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM d GROUP BY doc_id),
        |sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM d a JOIN d b ON a.chunk_hex = b.chunk_hex AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT sh.id_a, sh.id_b, sh.inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |  CAST(sh.inter AS DOUBLE) / CAST(sa.sz + sb.sz - sh.inter AS DOUBLE) AS jaccard
        |FROM sh JOIN sz sa ON sa.doc_id = sh.id_a JOIN sz sb ON sb.doc_id = sh.id_b
        |WHERE CAST(sh.inter AS DOUBLE) / CAST(sa.sz + sb.sz - sh.inter AS DOUBLE) >= 0.5
        |ORDER BY id_a, id_b""") { (s, d) =>
      graft.operators.Multimodal.chunkJaccardPairs(
        graft.operators.Multimodal.asMediaTable(
          t(s, d, "documents"), "doc_id", "text"))
        .orderBy("id_a", "id_b")
    },

    // Media dup CLUSTERS (m08): the d08 closure over m07's chunk-similarity
    // pairs — an A~B~C chain of partially-overlapping blobs collapses to one
    // cluster (survivor = min id) even without a direct A~C pair, which is
    // how a storage-dedup pass actually retires near-copies. Same
    // Shiloach–Vishkin machinery as d08 (map-side-combined hooks, bounded
    // contraction rounds); the oracle computes true components with a
    // recursive reachability CTE over the m07 pair SQL.
    "m08_chunk_dup_clusters" -> of(
      s"""WITH RECURSIVE c AS ($hexChunkAllSql),
        |d AS (SELECT DISTINCT doc_id, chunk_hex FROM c),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM d GROUP BY doc_id),
        |sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM d a JOIN d b ON a.chunk_hex = b.chunk_hex AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jp AS (SELECT sh.id_a, sh.id_b
        |  FROM sh JOIN sz sa ON sa.doc_id = sh.id_a JOIN sz sb ON sb.doc_id = sh.id_b
        |  WHERE CAST(sh.inter AS DOUBLE) / CAST(sa.sz + sb.sz - sh.inter AS DOUBLE) >= 0.5),
        |edges AS (
        |  SELECT id_a, id_b FROM jp UNION ALL SELECT id_b, id_a FROM jp),
        |reach(id, label) AS (
        |  SELECT id_a, id_a FROM edges
        |  UNION
        |  SELECT e.id_a, r.label FROM edges e JOIN reach r ON r.id = e.id_b)
        |SELECT id AS doc_id, MIN(label) AS cluster,
        |  id = MIN(label) AS is_survivor
        |FROM reach GROUP BY id ORDER BY doc_id""") { (s, d) =>
      val pairs = graft.operators.Multimodal.chunkJaccardPairs(
        graft.operators.Multimodal.asMediaTable(
          t(s, d, "documents"), "doc_id", "text"))
      Dedup.dupClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster"),
          (col("id") === col("cluster")).as("is_survivor"))
        .orderBy("doc_id")
    },

    // Standing chunk-digest index screen (m10): m09 with the corpus side
    // served from the d12-style bucketed layout — per-ingest cost
    // excludes the corpus chunking + digesting, the probe join reads the
    // digest table through its buckets with no corpus-side exchange, and
    // results are identical to the direct screen by construction (the m09
    // oracle verbatim).
    "m10_chunk_screen_indexed" -> of(chunkScreenOracle) { (s, d) =>
      val media = graft.operators.Multimodal.asMediaTable(
        t(s, d, "documents"), "doc_id", "text")
      graft.operators.Multimodal.incrementalChunkPairsIndexed(
        media.filter(pmod(col("doc_id"), lit(10)) === 0),
        ensureChunkIndex(s, d, media))
        .orderBy("fresh_id", "corpus_id")
    },

    // Chunk-index append (m11): the media-family compaction step — the
    // standing index is built from half the corpus and the other half
    // folds in under the catalog-validated bucket spec (no rebuild);
    // screening the fresh batch against the appended index must equal the
    // freshly-built screen, which is exactly what the shared oracle
    // recomputes.
    "m11_chunk_index_append" -> of(chunkScreenOracle) { (s, d) =>
      val media = graft.operators.Multimodal.asMediaTable(
        t(s, d, "documents"), "doc_id", "text")
      graft.operators.Multimodal.incrementalChunkPairsIndexed(
        media.filter(pmod(col("doc_id"), lit(10)) === 0),
        ensureAppendedChunkIndex(s, d, media))
        .orderBy("fresh_id", "corpus_id")
    },

    // Content-defined chunk near-dup pairs (m12): the m07 contract with a
    // gear rolling-hash chunker, on a corpus that CONTAINS byte-shifted
    // copies (docs < 20 re-appear one byte longer under id + 100000) — the
    // case fixed-size chunking provably misses, because every 64-byte
    // window shifts by one. Gear boundaries move with the bytes: the cut
    // decision is local to the last maskBits bytes, so after the first cut
    // past the insertion the chunk stream re-synchronizes and the shifted
    // copy shares every later chunk with its original. The oracle rebuilds
    // the rolling hash from the dumped gear table (the cut at position i
    // is (Σ_{d<6} gear(b_{i−d})·2^d) mod 64 = 0 — a windowed self-join),
    // derives boundaries, chunk spans, distinct chunk sets and the
    // Jaccard from scratch over injective chunk_hex (the m07 tail).
    "m12_cdc_chunk_pairs" -> of(
      s"""WITH $gearChunkSetCtes,
        |sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM d a JOIN d b ON a.chunk_hex = b.chunk_hex AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT sh.id_a, sh.id_b, sh.inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |  CAST(sh.inter AS DOUBLE) / CAST(sa.sz + sb.sz - sh.inter AS DOUBLE) AS jaccard
        |FROM sh JOIN sz sa ON sa.doc_id = sh.id_a JOIN sz sb ON sb.doc_id = sh.id_b
        |WHERE CAST(sh.inter AS DOUBLE) / CAST(sa.sz + sb.sz - sh.inter AS DOUBLE) >= 0.4
        |ORDER BY id_a, id_b""") { (s, d) =>
      graft.operators.Multimodal.gearChunkJaccardPairs(
        shiftedMediaCorpus(s, d), threshold = 0.4)
        .orderBy("id_a", "id_b")
    },

    // Gear-CDC ingest screen (m14): m12's daily-ingest shape — the
    // byte-shifted copies arrive as the FRESH batch and screen against
    // the standing originals through the gear digest probe join.
    // Boundary re-sync means every shifted copy still pairs with its
    // original — the live dedup case the fixed-size screen (m09)
    // provably misses. Shares its oracle verbatim with the streaming
    // twin e38.
    "m14_gear_screen" -> of(gearScreenSql) { (s, d) =>
      val media = shiftedMediaCorpus(s, d)
      graft.operators.Multimodal.incrementalGearChunkPairs(
        media.filter(col("doc_id") >= 100000),
        media.filter(col("doc_id") < 100000), threshold = 0.4)
        .orderBy("fresh_id", "corpus_id")
    },

    // Gear-CDC screen against the STANDING digest index (m15): m14 with
    // the corpus side pre-chunked, pre-digested and bucketed on disk —
    // per-ingest cost is the fresh batch only, the probe join reads the
    // index through its bucket layout with no corpus-side exchange (the
    // m10 pattern). The m14 oracle grades it verbatim.
    "m15_gear_screen_indexed" -> of(gearScreenSql) { (s, d) =>
      val media = shiftedMediaCorpus(s, d)
      val idx = ensureGearChunkIndex(s, d, media.filter(col("doc_id") < 100000))
      graft.operators.Multimodal.incrementalGearChunkPairsIndexed(
        media.filter(col("doc_id") >= 100000), idx, threshold = 0.4)
        .orderBy("fresh_id", "corpus_id")
    },

    // Gear index APPEND lifecycle (m16): the standing digest index built
    // from half the originals, the other half folded in via the bucketed
    // append (frozen mask family, catalog-validated spec) — then the m14
    // screen runs against the appended index and must equal a screen
    // against a from-scratch index of the full corpus (the m14 oracle
    // verbatim).
    "m16_gear_index_append" -> of(gearScreenSql) { (s, d) =>
      val media = shiftedMediaCorpus(s, d)
      graft.operators.Multimodal.incrementalGearChunkPairsIndexed(
        media.filter(col("doc_id") >= 100000),
        ensureAppendedGearIndex(s, d, media.filter(col("doc_id") < 100000)),
        threshold = 0.4)
        .orderBy("fresh_id", "corpus_id")
    },

    // STREAMING gear-CDC ingest screen (e38) — m14 live: arriving blobs
    // cut/digest/dedup/size their chunk sets IN-ROW, probe the standing
    // gear digest table stream-static, and the one stateful op is the
    // shared-chunk count per pair; the Jaccard cut applies batch-side
    // over the materialized state (the e31 serve shape). AvailableNow
    // complete-mode emission equals the batch screen, so the m14 oracle
    // grades the streaming plan verbatim.
    "e38_stream_gear_screen" -> of(gearScreenSql) { (s, d) =>
      import graft.streaming.{EventsStream, ScreenStream}
      val media = shiftedMediaCorpus(s, d)
      val corpus = media.filter(col("doc_id") < 100000)
      // computed static sides materialized before the stream (optimization
      // r21, guide §2.4/§5): the corpus gear chunking is CPU-dense per
      // byte and fed TWO plan branches (digest probe + size join) — un-
      // cached it re-chunked the corpus twice per micro-batch at state
      // width with AQE off
      val corpusD = graft.operators.Multimodal.gearDigestSet(corpus, "corpus_id")
      val sizes = corpusD.groupBy("corpus_id").agg(count(lit(1)).as("sz_c"))
      graft.operators.Caching.materializedAll(corpusD, sizes)
      val freshStream = graft.streaming.TableStream.readProbed(s, d, "documents")
        .filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000).cast("long").as("doc_id"),
          concat(lit("~"), col("text")).cast("binary").as("payload"))
      val agg = ScreenStream.screenGearChunks(freshStream, corpusD, sizes,
        threshold = 0.4)
      val sinkName = s"stream_gear_screen_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(agg, sinkName, outputMode = "append")
      s.table(sinkName)
        .withColumn("jaccard", col("inter").cast("double") /
          (col("sz_f") + col("sz_c") - col("inter")).cast("double"))
        .filter(col("jaccard") >= 0.4)
        .select("fresh_id", "corpus_id", "inter", "sz_f", "sz_c", "jaccard")
        .orderBy("fresh_id", "corpus_id")
    },

    // Bounded content-defined chunking (m13): the FastCDC-shaped
    // production form of m12 — chunk lengths clamped to [16, 128] bytes
    // (min gates cut eligibility, max forces a cut), killing both CDC
    // degeneracies (a run of tiny chunks from dense cut points; one giant
    // chunk from a cut-free payload) at the cost of weaker re-sync right
    // after an edit. The rolling hash stays GLOBAL (never reset), so
    // re-synchronization still happens ≥ minSize into a chunk. Bounds
    // make cut eligibility sequential — not windowed-SQL-expressible — so
    // the oracle consumes the MATERIALIZED spans (aux m13_bounds, the
    // hash-dump contract) and re-derives byte slices, chunk sets and the
    // Jaccard itself; the boundary algorithm is pinned by a plain-Scala
    // spec replica with tiling + bounds assertions.
    "m13_cdc_bounded_pairs" -> of(
      s"""WITH base AS (
        |  SELECT doc_id, hex(encode(text)) AS ph FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, hex(encode('~' || text))
        |  FROM documents WHERE doc_id < 20),
        |sp AS (SELECT doc_id, st, en FROM read_parquet('{{AUX}}/m13_bounds/*.parquet')),
        |d AS (
        |  SELECT DISTINCT sp.doc_id,
        |    substring(b.ph, CAST((sp.st - 1) * 2 + 1 AS INT),
        |      CAST((sp.en - sp.st + 1) * 2 AS INT)) AS chunk_hex
        |  FROM sp JOIN base b ON b.doc_id = sp.doc_id),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM d GROUP BY doc_id),
        |sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM d a JOIN d b ON a.chunk_hex = b.chunk_hex AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT sh.id_a, sh.id_b, sh.inter, sa.sz AS sz_a, sb.sz AS sz_b,
        |  CAST(sh.inter AS DOUBLE) / CAST(sa.sz + sb.sz - sh.inter AS DOUBLE) AS jaccard
        |FROM sh JOIN sz sa ON sa.doc_id = sh.id_a JOIN sz sb ON sb.doc_id = sh.id_b
        |WHERE CAST(sh.inter AS DOUBLE) / CAST(sa.sz + sb.sz - sh.inter AS DOUBLE) >= 0.4
        |ORDER BY id_a, id_b""") { (s, d) =>
      graft.operators.Multimodal.gearChunkJaccardPairs(
        shiftedMediaCorpus(s, d), threshold = 0.4,
        maskBits = 6, minSize = 16, maxSize = 128)
        .orderBy("id_a", "id_b")
    },

    // Streaming retrieval serve at nProbe=2 (e34): e28's recall gap closed
    // — the per-row cell ranking keeps the TOP-2 cells in the batch walk's
    // (cos DESC, cid) order; everything downstream is e28's shape.
    // Oracle = the batch IVF walk at crn <= 2, the same SQL that grades
    // the s17 standing index.
    "e34_stream_ivf_serve_probe2" -> of(
      s"WITH ${ivfCtesFrom("s04_centroids", 2)}\n$ivfSelect") { (s, d) =>
      ivfServe(s, d, nProbe = 2)
    },

    // Streaming decontamination screen (e35): corpus docs ARRIVE as a
    // stream and collide live against the static benchmark shingle set —
    // t34 always-on, the e32 serve-from-state pattern. In-row distinct
    // shingles explode statelessly into a stream-static BROADCAST probe;
    // the ONE stateful op materializes only the HIT PAIRS (doc, gram), so
    // state is bounded by contamination volume, not corpus size — the
    // thing the alarm fires on is the only thing held. The serve step is
    // batch: distinct gram/bench-doc counts from the materialized pairs
    // (re-joining the static bench side) + static per-doc sizes, emitting
    // the complete zero-filled audit. Graded by the t34 SQL verbatim —
    // both maintenance paths must agree row for row.
    "e35_stream_contamination" -> of(t34OracleSql) { (s, d) =>
      import graft.streaming.{EventsStream, ScreenStream}
      val docs = t(s, d, "documents")
      def sh(df: org.apache.spark.sql.DataFrame, as: String) =
        df.select(col("doc_id").as(as),
          explode(array_distinct(graft.functions.NativeFunctions
            .wordShinglesFused(s, tokens(col("text")), 8))).as("g"))
      val bg = sh(docs.filter(col("doc_id") < 50), "bench_id")
      val hitPairs = ScreenStream.readDocs(s, d).filter(col("doc_id") >= 50)
        .select(col("doc_id"),
          explode(array_distinct(graft.functions.NativeFunctions
            .wordShinglesFused(s, tokens(col("text")), 8))).as("g"))
        .join(broadcast(bg.select("g").distinct()), "g")
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("__n"))
      val sinkName = s"stream_contam_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(hitPairs, sinkName, outputMode = "complete")
      val hits = s.table(sinkName).join(bg, "g")
        .groupBy("doc_id")
        .agg(count_distinct(col("g")).as("n_hit"),
          count_distinct(col("bench_id")).as("n_bench_docs"))
      val corpus = docs.filter(col("doc_id") >= 50)
      val sizes = sh(corpus, "doc_id")
        .groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      corpus.select("doc_id").distinct()
        .join(sizes, Seq("doc_id"), "left")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          coalesce(col("n_bench_docs"), lit(0L)).as("n_bench_docs"))
        .withColumn("frac",
          when(col("n_grams") > 0,
            col("n_hit").cast("double") / col("n_grams").cast("double"))
            .otherwise(lit(0.0)))
        .orderBy("doc_id")
    },

    // STREAMING incremental cluster maintenance (e36): d21 live, the e29
    // CDC-apply shape — the ingest screen's fresh PAIRS arrive as a
    // stream (two micro-batch files, so the state provably accumulates
    // across batches), ONE complete-mode stateful op holds the distinct
    // pair set (state ∝ ingest pairs, never corpus size), and the serve
    // step folds the materialized pairs into the STANDING cluster labels
    // via the same delta-sized touched-subgraph closure as the batch
    // operator. Like d21, the serve reads standing structures from the
    // lake (VERDICT r16 #1): labels via readClusterLabels, the feed's
    // cross pairs through the d12 shingle index — no corpus-sized
    // derivation anywhere in the serving path. Graded by the d21
    // definition itself: the from-scratch recursive closure over ALL
    // documents' pairs — both maintenance paths must land bit-identical
    // to a full re-cluster.
    "e36_stream_clusters" -> of(d21OracleSql) { (s, d) =>
      import graft.streaming.EventsStream
      val docs = t(s, d, "documents")
      val standing = Dedup.readClusterLabels(
        s, ensureCorpusClusterLabels(s, d, docs))
      // persisted: the feed writes BOTH parity files from this frame —
      // without it each dump re-runs the whole screen
      val freshPairs = graft.operators.Caching.persisted(
        freshClusterPairs(s, d, docs))
      // the e29 changelog-feed pattern: pair rows land as files and
      // stream in one per trigger, split by a deterministic parity
      val root = java.nio.file.Files.createTempDirectory("graft-pairs-feed-")
      def dump(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
        val p = s"$root/$name"
        df.coalesce(1).write.parquet(p)
        new java.io.File(p).listFiles().foreach(_.setLastModified(mtime))
      }
      val t0 = 1600000000000L
      dump(freshPairs.filter(pmod(col("id_a") + col("id_b"), lit(2)) === 0),
        "batch-0", t0)
      dump(freshPairs.filter(pmod(col("id_a") + col("id_b"), lit(2)) === 1),
        "batch-1", t0 + 60000)
      val schema = s.read.parquet(s"$root/batch-0").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/batch-*")
      val statePairs = stream.groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("__n"))
      val sinkName = s"stream_clusters_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(statePairs, sinkName, outputMode = "complete")
      Dedup.incrementalDupClusters(standing,
          s.table(sinkName).select(col("id_a"), col("id_b")))
        .select(col("id").as("doc_id"), col("cluster"),
          (col("id") === col("cluster")).as("is_survivor"))
        .orderBy("doc_id")
    },

    // Streaming media ingest screen (e31): fresh blobs ARRIVE as a stream
    // and screen live against the m10 standing chunk index — per-blob
    // digesting/dedup/sizing happen IN-ROW (a blob's chunks all live in
    // its row, so the fresh side is stateless), the probe and size joins
    // are stream-static on the bucketed tables, and the one stateful op
    // is the shared-chunk count per candidate pair. The Jaccard cut is
    // served batch-side over the materialized state; graded against the
    // same from-scratch SQL as m09/m10, so all three maintenance paths
    // must agree.
    "e31_stream_chunk_screen" -> of(chunkScreenOracle) { (s, d) =>
      import graft.streaming.{EventsStream, ScreenStream}
      val media = graft.operators.Multimodal.asMediaTable(
        t(s, d, "documents"), "doc_id", "text")
      val idx = ensureChunkIndex(s, d, media)
      val freshStream = graft.streaming.TableStream.readProbed(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("text").cast("binary").as("payload"))
      val agg = ScreenStream.screenChunks(freshStream, idx, threshold = 0.5)
      val sinkName = s"stream_chunk_screen_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(agg, sinkName, outputMode = "append")
      s.table(sinkName)
        .withColumn("jaccard", col("inter").cast("double") /
          (col("sz_f") + col("sz_c") - col("inter")).cast("double"))
        .filter(col("jaccard") >= 0.5)
        .select("fresh_id", "corpus_id", "inter", "sz_f", "sz_c", "jaccard")
        .orderBy("fresh_id", "corpus_id")
    },

    // Incremental media ingest screen (m09): the d11 daily-ingest shape
    // for the chunk-similarity family — a fresh blob batch (doc_id % 10 =
    // 0) screens against the standing corpus (the rest) through the
    // digest probe join; fresh-vs-corpus pairs only, never corpus
    // self-pairs, per-ingest pair work ∝ the batch's digest hits. The
    // oracle recomputes both sides' chunk sets, the probe join and the
    // Jaccard from scratch over injective chunk_hex.
    "m09_chunk_screen" -> of(chunkScreenOracle) { (s, d) =>
      val media = graft.operators.Multimodal.asMediaTable(
        t(s, d, "documents"), "doc_id", "text")
      graft.operators.Multimodal.incrementalChunkPairs(
        media.filter(pmod(col("doc_id"), lit(10)) === 0),
        media.filter(pmod(col("doc_id"), lit(10)) =!= 0))
        .orderBy("fresh_id", "corpus_id")
    },

    // ---- event-stream shaping --------------------------------------------

    // Gap-based sessionization (30-minute inactivity threshold): lag + step
    // cumsum — the batch shape of the streaming session operator.
    "e01_sessionize" -> of(
      s"""WITH $gapSessionCtes
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |  COUNT(*) AS n_events, MIN(event_id) AS first_event
        |FROM numbered GROUP BY user_id, session_no
        |ORDER BY user_id, session_no""") { (s, d) =>
      gapSessions(Q.events(s, d))
        .groupBy(col("user_id"), col("session_no"))
        .agg(count(lit(1)).as("n_events"), min(col("event_id")).as("first_event"))
        .orderBy("user_id", "session_no")
    },

    // As-of join (SURVEY §2.4: composable from window + filter — no custom
    // operator needed): for each 'error' event, the most recent 'purchase'
    // by the same user at-or-before it. One shuffle on user_id; the
    // carry-forward is a running last() with purchases ordered first at
    // equal timestamps so same-instant purchases qualify.
    "e03_asof_join" -> of(
      """SELECT e.event_id, e.user_id,
        |  (SELECT MAX(CAST(p.ts AS TIMESTAMP)) FROM events p
        |   WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
        |     AND CAST(p.ts AS TIMESTAMP) <= CAST(e.ts AS TIMESTAMP)) AS last_purchase_ts
        |FROM events e WHERE e.event_type = 'error'
        |ORDER BY e.event_id""") { (s, d) =>
      val ev = Q.events(s, d)
      val tagged = ev.select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "purchase", 0).otherwise(1).as("tag"))
        .filter(col("event_type").isin("purchase", "error"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("tag"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("last_purchase_ts",
          last(when(col("tag") === 0, col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "error")
        .select("event_id", "user_id", "last_purchase_ts")
        .orderBy("event_id")
    },

    // STREAMING, driver-checked: the flatMapGroupsWithState sessionizer runs
    // as a real AvailableNow streaming query into a memory sink; the oracle
    // models its exact emission semantics — a session is emitted iff closed
    // by a gap (a later session exists for the user) or finalized by
    // event-time timeout (last event ts + 30min gap < final watermark =
    // global max ts - 1min).
    "e04_stream_sessions" -> of(
      s"""WITH $gapSessionCtes,
        |sessions AS (
        |  SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |    COUNT(*) AS n_events, MIN(event_id) AS first_event, MAX(ts) AS last_ts,
        |    MAX(CAST(session_no AS BIGINT)) OVER (PARTITION BY user_id) AS max_session
        |  FROM numbered GROUP BY user_id, session_no)
        |SELECT user_id, session_no, n_events, first_event FROM sessions
        |WHERE session_no < max_session
        |   OR CAST(last_ts AS TIMESTAMP) + INTERVAL 30 MINUTE
        |      < (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events) - INTERVAL 1 MINUTE
        |ORDER BY user_id, session_no""") { (s, d) =>
      import graft.streaming.{EventsStream, SessionizeStream}
      val sinkName = s"stream_sessions_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(
        SessionizeStream.sessions(EventsStream.readEvents(s, d)).toDF(), sinkName)
      s.table(sinkName).orderBy("user_id", "session_no")
    },

    // STREAMING dedup, driver-checked: dropDuplicatesWithinWatermark runs as
    // a real AvailableNow streaming query into a memory sink. The output
    // projects only the dedup keys (survivor choice within a batch is
    // engine-determined; the key set is not), so the emission contract is
    // exactly DISTINCT over the feed. NB the strict-DISTINCT equivalence
    // holds for the single-snapshot ingest used here (one parquet file →
    // one micro-batch); multi-batch feeds legitimately re-emit keys whose
    // state aged past the watermark — that is the operator's documented
    // semantics, not a defect, but it would diverge from this oracle.
    "e05_stream_dedup" -> of(
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""") { (s, d) =>
      import graft.streaming.EventsStream
      val sinkName = s"stream_dedup_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(
        EventsStream.dedupWithinWatermark(
          EventsStream.readEvents(s, d), Seq("user_id", "event_type")), sinkName)
      s.table(sinkName).select("user_id", "event_type")
        .orderBy("user_id", "event_type")
    },

    // STREAMING stream-static enrichment join, driver-checked: the events
    // stream joins a batch-computed per-user dimension (broadcast — re-read
    // per micro-batch by contract, the standard enrichment shape), then a
    // global aggregate bounds the output. AvailableNow over the full feed
    // makes the emission equal the batch join+agg, which the oracle states
    // directly.
    "e06_stream_static_join" -> of(
      """WITH user_stats AS (
        |  SELECT user_id, COUNT(*) AS user_total FROM events GROUP BY user_id),
        |enriched AS (
        |  SELECT e.event_type,
        |    CASE WHEN user_total >= 67 THEN 'heavy' ELSE 'light' END AS tier,
        |    e.value
        |  FROM events e JOIN user_stats USING (user_id))
        |SELECT event_type, tier, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM enriched GROUP BY event_type, tier
        |ORDER BY event_type, tier""") { (s, d) =>
      import graft.streaming.EventsStream
      val staticStats = Q.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("user_total"))
      val joined = EventsStream.readEvents(s, d)
        .join(broadcast(staticStats), "user_id")
        .withColumn("tier",
          when(col("user_total") >= 67, "heavy").otherwise("light"))
        .groupBy("event_type", "tier")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      val sinkName = s"stream_enrich_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(joined, sinkName, outputMode = "complete")
      s.table(sinkName).orderBy("event_type", "tier")
    },

    // STREAMING stream-stream interval join, driver-checked: errors that
    // follow a purchase by the same user within an hour, as two watermarked
    // event streams. The watermark + time-range condition bound BOTH join
    // state stores (the property that lets this run forever); AvailableNow
    // over the full feed makes the emission equal the batch interval join,
    // which the oracle states directly.
    "e09_stream_stream_join" -> of(purchaseErrorJoinSql) { (s, d) =>
      import graft.streaming.EventsStream
      val joined = EventsStream.intervalJoin(
        purchaseFeed(s, d), errorFeed(s, d), "user_id")
        .select(col("purchase_id"), col("error_id"),
          col("l.user_id").as("user_id"))
      val sinkName = s"stream_interval_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(joined, sinkName)
      s.table(sinkName).orderBy("purchase_id", "error_id")
    },

    // T7's oracled MATCHED subset (e19): a left-outer stream-stream join's
    // matched rows emit exactly when an inner join's do (a pair emits once
    // both sides arrive; the null-padded UNMATCHED rows wait on
    // watermark-timed eviction — oracled separately at snapshot semantics
    // as e21). Same SQL as e09 — the equality IS the check.
    "e19_stream_outer_join_matched" -> of(purchaseErrorJoinSql) { (s, d) =>
      import graft.streaming.EventsStream
      val joined = EventsStream.intervalJoin(
        purchaseFeed(s, d), errorFeed(s, d), "user_id",
        joinType = "left_outer")
        .select(col("purchase_id"), col("error_id"),
          col("l.user_id").as("user_id"))
      val sinkName = s"stream_outer_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(joined, sinkName)
      s.table(sinkName)
        .filter(col("error_id").isNotNull)
        .orderBy("purchase_id", "error_id")
    },

    // T7's oracled UNMATCHED subset (e21): at snapshot (AvailableNow)
    // semantics even the eviction is deterministic — a left row null-pads
    // exactly when the final watermark proves no future match can arrive,
    // i.e. its whole join window [ts, ts + 1h] sits strictly below the
    // watermark; later matchless rows stay buffered and never emit. The
    // oracle is an anti-join bounded by the ms-floored watermark. With e19
    // this makes T7 fully oracled; only the sink/capability internals
    // remain spec-only.
    "e21_stream_outer_join_unmatched" -> of(
      """WITH e AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
        |  FROM events),
        |wm AS (
        |  -- two watermarked inputs, 2h delay each; the global watermark is
        |  -- the MIN of the per-input (ms-floored max ts - delay) values
        |  SELECT LEAST(
        |    (SELECT MAX(epoch_us(ts)) // 1000 FROM e WHERE event_type = 'purchase'),
        |    (SELECT MAX(epoch_us(ts)) // 1000 FROM e WHERE event_type = 'error'))
        |    - 7200000 AS wm_ms)
        |SELECT p.event_id AS purchase_id, p.user_id
        |FROM e p, wm
        |WHERE p.event_type = 'purchase'
        |  AND epoch_us(p.ts) // 1000 + 3600000 < wm.wm_ms
        |  AND NOT EXISTS (
        |    SELECT 1 FROM e er WHERE er.event_type = 'error'
        |      AND er.user_id = p.user_id
        |      AND er.ts >= p.ts AND er.ts <= p.ts + INTERVAL 1 HOUR)
        |ORDER BY purchase_id""") { (s, d) =>
      import graft.streaming.EventsStream
      val joined = EventsStream.intervalJoin(
        purchaseFeed(s, d), errorFeed(s, d), "user_id",
        joinType = "left_outer")
        .select(col("purchase_id"), col("error_id"),
          col("l.user_id").as("user_id"))
      val sinkName = s"stream_outer_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(joined, sinkName)
      s.table(sinkName)
        .filter(col("error_id").isNull)
        .select("purchase_id", "user_id")
        .orderBy("purchase_id")
    },

    // Sliding (overlapping) windows — each event lands in size/slide
    // windows (2h/1h → two), the generator shape behind rolling rates. The
    // oracle expands the same two epoch-aligned window starts per event.
    "e12_sliding_windows" -> of(
      """WITH wins AS (
        |  SELECT event_type, value,
        |    UNNEST([date_trunc('hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR,
        |            date_trunc('hour', CAST(ts AS TIMESTAMP))]) AS win
        |  FROM events)
        |SELECT win, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM wins GROUP BY win, event_type
        |ORDER BY win, event_type""") { (s, d) =>
      Q.events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .select(col("w.start").as("win"), col("event_type"), col("n"),
          col("total_value"))
        .orderBy("win", "event_type")
    },

    // Native session_window sessionization (the built-in operator, vs the
    // hand-rolled cumsum e01 and stateful e04): session end = last event +
    // gap. NB the boundary is STRICT — [ts, ts+gap) windows merge only on
    // overlap, so a gap of exactly 30min starts a new session (diff >= gap
    // in the oracle, unlike e01's diff > gap convention).
    "e11_session_window" -> of(
      """WITH gaps AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN CAST(ts AS TIMESTAMP)
        |        - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
        |            ORDER BY CAST(ts AS TIMESTAMP), event_id) >= INTERVAL 30 MINUTE
        |      OR LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
        |            ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |numbered AS (
        |  SELECT user_id, ts,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM gaps)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM numbered GROUP BY user_id, session_no
        |ORDER BY user_id, session_start""") { (s, d) =>
      Q.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // Per-user EWMA of purchase values — the sequential fold that looks
    // like it needs a UDF but is a sorted collect + aggregate HOF. The fold
    // order is total (ts, event_id), so the float result is reproducible;
    // the oracle prepends the 0.0 seed and folds the identical arithmetic
    // with list_reduce.
    "e10_ewma" -> of(
      """WITH seq AS (
        |  SELECT user_id,
        |    -- CAST: order at µs like Spark (raw ns order could disagree
        |    -- with (µs, event_id) order for same-µs events)
        |    list(value ORDER BY CAST(ts AS TIMESTAMP), event_id) AS vals
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vals),
        |    (a, b) -> a * 0.9 + b * 0.1) AS ewma
        |FROM seq ORDER BY user_id""") { (s, d) =>
      graft.operators.TimeSeriesOps.ewmaPerKey(
        Q.events(s, d).filter(col("event_type") === "purchase"),
        "user_id", "ts", "event_id", "value", alpha = 0.1)
        .orderBy("user_id")
    },

    // Trailing-window z-score anomaly flags (e17): each purchase scored
    // against the exact-decimal moments of its own preceding ≤20 events
    // (the q40 moment pattern over a ROWS frame), flagged at |z6| > 3 with
    // ≥5 observations. z is emitted rounded to 6 decimals and the flag
    // tests the rounded value — the q40 FMA-contraction margin.
    "e17_anomaly_zscore" -> of(
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS mts, value
        |  FROM events WHERE event_type = 'purchase'),
        |win AS (
        |  SELECT user_id, event_id, value,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS n_prev,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sxx
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY mts, event_id
        |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, value, n_prev,
        |  CASE WHEN n_prev >= 5
        |            AND (n_prev * sxx - sx * sx) / (n_prev * (n_prev - 1)) > 0
        |       THEN round((value - sx / n_prev)
        |         / sqrt((n_prev * sxx - sx * sx) / (n_prev * (n_prev - 1))), 6)
        |       END AS z6,
        |  COALESCE(n_prev >= 5
        |      AND (n_prev * sxx - sx * sx) / (n_prev * (n_prev - 1)) > 0
        |      AND abs(round((value - sx / n_prev)
        |        / sqrt((n_prev * sxx - sx * sx) / (n_prev * (n_prev - 1))), 6)) > 3.0,
        |    FALSE) AS is_anomaly
        |FROM win ORDER BY user_id, event_id""") { (s, d) =>
      graft.operators.TimeSeriesOps.anomalyZScores(
        Q.events(s, d).filter(col("event_type") === "purchase"),
        "user_id", "ts", "event_id", "value")
        .select("user_id", "event_id", "value", "n_prev", "z6", "is_anomaly")
        .orderBy("user_id", "event_id")
    },

    // STREAMING per-event anomaly scoring (e18): the e17 z-score as a live
    // pipeline — bounded per-key frame state, events emitted as the
    // watermark finalizes them. The oracle is e17's moment SQL restricted
    // to the watermark-ripe prefix (strictly below max purchase ts − 1min,
    // with the watermark's ms flooring reproduced), exactly the rows the
    // AvailableNow run's flush timeout emits; score parity with the batch
    // operator is bit-exact (spec-pinned).
    "e18_stream_anomaly" -> of(
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS mts, value
        |  FROM events WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT (MAX(epoch_us(mts)) // 1000 - 60000) * 1000 AS wm_us FROM e),
        |win AS (
        |  SELECT user_id, event_id, mts, value,
        |    CAST(COUNT(*) OVER w AS BIGINT) AS n_prev,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sxx
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY mts, event_id
        |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, value, n_prev,
        |  CASE WHEN n_prev >= 5
        |            AND (n_prev * sxx - sx * sx) / (n_prev * (n_prev - 1)) > 0
        |       THEN round((value - sx / n_prev)
        |         / sqrt((n_prev * sxx - sx * sx) / (n_prev * (n_prev - 1))), 6)
        |       END AS z6,
        |  COALESCE(n_prev >= 5
        |      AND (n_prev * sxx - sx * sx) / (n_prev * (n_prev - 1)) > 0
        |      AND abs(round((value - sx / n_prev)
        |        / sqrt((n_prev * sxx - sx * sx) / (n_prev * (n_prev - 1))), 6)) > 3.0,
        |    FALSE) AS is_anomaly
        |FROM win, wm WHERE epoch_us(mts) < wm.wm_us
        |ORDER BY user_id, event_id""") { (s, d) =>
      import graft.streaming.{AnomalyStream, EventsStream}
      val sinkName = s"stream_anomaly_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(
        AnomalyStream.scores(
          EventsStream.readEvents(s, d).filter(col("event_type") === "purchase"),
          "user_id", "event_id", "value").toDF(), sinkName)
      s.table(sinkName)
        .select(col("key").as("user_id"), col("tie").as("event_id"),
          col("value"), col("n_prev"), col("z6"), col("is_anomaly"))
        .orderBy("user_id", "event_id")
    },

    // STREAMING per-key EWMA, finalized subset (e20): under an AvailableNow
    // snapshot the data arrives in one micro-batch (watermark still at 0 —
    // no mid-run burst splits), so a key emits exactly ONE row — all its
    // events folded in (µs ts, tie) order, the e10 fold — iff its idle TTL
    // expires strictly before the final watermark (the zero-row advance
    // batch fires the timeout); every other key emits nothing. The oracle
    // reproduces the fold, the watermark's ms flooring and the strict
    // timeout edge; what stays spec-pinned for the EWMA stream shrinks to
    // mid-stream burst splits, which need multi-batch arrival by
    // construction.
    "e20_stream_ewma" -> of(ewmaSnapshotSql) { (s, d) =>
      import graft.streaming.{EventsStream, EwmaStream}
      val sinkName = s"stream_ewma_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(
        EwmaStream.ewma(
          EventsStream.readEvents(s, d).filter(col("event_type") === "purchase"),
          "user_id", "event_id", "value", alpha = 0.1).toDF(), sinkName)
      s.table(sinkName)
        .select(col("key").as("user_id"), col("n_events"), col("ewma"))
        .orderBy("user_id")
    },

    // STREAMING per-key EWMA over MULTI-BATCH arrival (e22) — closes the r7
    // gap where the cross-batch path was spec-only. The purchase feed
    // arrives as two ts-split data micro-batches
    // ([[twoBatchPurchaseFeed]]), so keys spanning the split exercise the
    // path the single-batch e20 cannot: first-half events buffer in state,
    // PARTIALLY fold when batch 2's watermark ripens them, and the
    // remainder folds at timeout. The emitted set equals e20's (ts-ordered
    // split — see [[ewmaSnapshotSql]]); the oracle therefore grades the
    // incremental two-phase fold bit-for-bit against the single sequential
    // fold.
    "e22_stream_ewma_multibatch" -> of(ewmaSnapshotSql) { (s, d) =>
      import graft.streaming.{EventsStream, EwmaStream}
      val feedDir = twoBatchPurchaseFeed(s, d)
      val schema = s.read.parquet(s"$feedDir/batch-0").schema
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$feedDir/batch-*")
      val sinkName = s"stream_ewma_mb_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(
        EwmaStream.ewma(stream, "user_id", "event_id", "value",
          alpha = 0.1).toDF(), sinkName)
      s.table(sinkName)
        .select(col("key").as("user_id"), col("n_events"), col("ewma"))
        .orderBy("user_id")
    },

    // STREAMING fresh-vs-corpus near-dup screen — the d11 daily-ingest
    // story as a live pipeline: fresh docs arrive as a stream, the corpus
    // shingles/sizes are static (the standing-index shape), all static
    // joins run before the one streaming aggregation, and an AvailableNow
    // complete-mode run makes the emission equal the batch screen — so the
    // d11 oracle grades the streaming plan verbatim.
    "e15_stream_screen" -> of(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] AS shingle
        |  FROM toks, UNNEST(range(1, len(tk) - 2)) AS u(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT f.doc_id AS fresh_id, c.doc_id AS corpus_id, COUNT(*) AS inter
        |  FROM sh f JOIN sh c ON f.shingle = c.shingle
        |  WHERE f.doc_id % 10 >= 8 AND c.doc_id % 10 < 8
        |  GROUP BY f.doc_id, c.doc_id)
        |SELECT fresh_id, corpus_id,
        |  inter / (sf.set_size + sc.set_size - inter) AS jaccard
        |FROM inter
        |JOIN sizes sf ON sf.doc_id = fresh_id
        |JOIN sizes sc ON sc.doc_id = corpus_id
        |WHERE inter / (sf.set_size + sc.set_size - inter) >= 0.5
        |ORDER BY fresh_id, corpus_id""") { (s, d) =>
      import graft.streaming.{EventsStream, ScreenStream}
      val corpus = t(s, d, "documents")
        .filter(pmod(col("doc_id"), lit(10)) < 8)
      val shC = Dedup.shingleSet(corpus, "doc_id", "text", 4, persist = false)
      val sizes = shC.groupBy(col("doc_id")).agg(count(lit(1)).as("set_size"))
      val fresh = ScreenStream.readDocs(s, d)
        .filter(pmod(col("doc_id"), lit(10)) >= 8)
      val screened = ScreenStream.screen(fresh, shC, sizes, "doc_id", "text")
      val sinkName = s"stream_screen_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(screened, sinkName, outputMode = "append")
      s.table(sinkName).orderBy("fresh_id", "corpus_id")
    },

    // STREAMING edit-distance ingest screen (e43) — the typo/OCR rung
    // live, the last screen family to get a streaming twin: fresh title
    // slices arrive as a stream and screen against the standing corpus
    // under d20's Ed-Join prefix contract (corpus-df rarity order, both
    // prefix cuts, the gram-poor short pool, banded levenshtein verify,
    // in-plan per-doc candidate guard). The static gram-df/prefix/short
    // structures join stream-static BEFORE the one per-fresh-doc fold,
    // where the fresh prefix cut + dedup + verify run in task memory
    // (state = one seen flag per doc). AvailableNow append-mode emission
    // equals the batch incremental screen, so the d20 oracle grades the
    // streaming plan verbatim.
    "e43_stream_edit_screen" -> of(incrementalEditSql) { (s, d) =>
      import graft.streaming.{EventsStream, ScreenStream}
      val corpus = t(s, d, "documents").filter(col("lang") === "en")
        .filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id"), substring(col("text"), 1, 64).as("title"))
      val fresh = ScreenStream.readDocs(s, d)
        .filter(col("lang") === "en")
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), substring(col("text"), 1, 64).as("title"))
      val screened = ScreenStream.screenEditDistance(fresh, corpus,
        "doc_id", "title", maxDist = 4, q = 4)
      val sinkName = s"stream_edit_screen_${sinkCounter.incrementAndGet()}"
      // CPU-dense fold (banded-levenshtein verify) → state width tracks
      // cores, not the store-bound 8-partition default (optimization r21,
      // guide §2.5: bytes under-represent CPU; the r20 width sweep that
      // picked 8 measured store-bound shapes). Scale-adaptive: width =
      // defaultParallelism, capped by the session's batch setting.
      EventsStream.runAvailableNow(screened, sinkName, outputMode = "append",
        statePartitions = s.sparkContext.defaultParallelism)
      s.table(sinkName).orderBy("fresh_id", "corpus_id")
    },

    // STREAMING edit screen on the STANDING index (e46): e43's serving
    // shape — the df/prefix/short probes read d22's bucketed tables, so a
    // live typo screen's per-batch cost excludes every corpus-side
    // derivation (the e45 pattern for the edit family). The d20 oracle
    // grades direct batch (d20), indexed batch (d22), appended (d23),
    // direct live (e43) and indexed live (e46) — five plans, one answer.
    "e46_stream_edit_screen_indexed" -> of(incrementalEditSql) { (s, d) =>
      import graft.streaming.{EventsStream, ScreenStream}
      val en = t(s, d, "documents").filter(col("lang") === "en")
        .select(col("doc_id"), substring(col("text"), 1, 64).as("title"))
      val idx = ensureEditIndex(s, d,
        en.filter(pmod(col("doc_id"), lit(10)) =!= 0))
      val fresh = ScreenStream.readDocs(s, d)
        .filter(col("lang") === "en")
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), substring(col("text"), 1, 64).as("title"))
      val screened = ScreenStream.screenEditDistanceIndexed(fresh, idx,
        "doc_id", "title")
      val sinkName = s"stream_edit_idx_${sinkCounter.incrementAndGet()}"
      // core-width state for the CPU-dense verify fold (see e43)
      EventsStream.runAvailableNow(screened, sinkName, outputMode = "append",
        statePartitions = s.sparkContext.defaultParallelism)
      s.table(sinkName).orderBy("fresh_id", "corpus_id")
    },

    // STREAMING leakage-safe split serve (e48): t46 at ingest time —
    // arriving documents are assigned their split LIVE by a stream-static
    // left join against the standing cluster labels (the d08/d21/e36
    // labeling the dedup pipeline maintains; batch-derived here) plus the
    // same two stateless hash projections. Fully stateless — no watermark,
    // no state store — so split-at-ingest serves at any arrival rate; a
    // doc whose cluster is unknown (not yet screened) is its own cluster,
    // exactly the batch singleton fallback. The t46 oracle grades the
    // plan verbatim.
    "e48_stream_leakage_split" -> of(t46OracleSql) { (s, d) =>
      import graft.streaming.EventsStream
      val docs = t(s, d, "documents")
      val clusters = Dedup.dupClusters(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text"))
      val arriving = graft.streaming.TableStream.readProbed(s, d, "documents")
        .select("doc_id")
      val assigned = graft.operators.CorpusOps.leakageSafeSplit(
        arriving, clusters, "doc_id",
        Seq("train" -> 90, "val" -> 95, "test" -> 100))
      val sinkName = s"stream_leak_split_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(assigned, sinkName, outputMode = "append")
      s.table(sinkName)
        .select("doc_id", "cluster", "split", "moved")
        .orderBy("doc_id")
    },

    // STREAMING leakage-safe split against STANDING labels (e49): e48's
    // serving shape — the (id, cluster) labeling lives as a bucketed
    // warehouse table, and as of r17 it is THE MAINTAINED table (base
    // corpus closure at epoch 0 + d26's write-back fold of the fresh
    // batch), so this split literally reads yesterday's maintenance:
    // arriving docs probe readClusterLabels stream-static and take the
    // two hash projections — NO closure, no shingle pass, per run.
    // Result-identical to e48 by construction (the maintained labeling
    // is bit-identical to the full d08 closure — d26's own oracle pins
    // that) — the t46 oracle grades direct batch, live-derived and
    // live-standing, three plans one answer.
    "e49_stream_leakage_split_standing" -> of(t46OracleSql) { (s, d) =>
      import graft.streaming.EventsStream
      val labels = ensureMaintainedClusterLabels(s, d, t(s, d, "documents"))
      val arriving = graft.streaming.TableStream.readProbed(s, d, "documents")
        .select("doc_id")
      val assigned = graft.operators.CorpusOps.leakageSafeSplit(
        arriving, Dedup.readClusterLabels(s, labels), "doc_id",
        Seq("train" -> 90, "val" -> 95, "test" -> 100))
      val sinkName = s"stream_leak_split_idx_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(assigned, sinkName, outputMode = "append")
      s.table(sinkName)
        .select("doc_id", "cluster", "split", "moved")
        .orderBy("doc_id")
    },

    // STREAMING adaptive-window edit screen (e47): d25's live twin — the
    // last leg of VERDICT r15 #1. Arriving shared-head strings slice at
    // the standing index's FROZEN offset (a stateless projection inside
    // screenEditDistanceIndexed — the live screen never recomputes the
    // LCP), then flow through the e46 stream-static probe + fold shape
    // unchanged. One oracle grades the batch probe (d25) and the live
    // screen verbatim.
    "e47_stream_edit_adaptive" -> of(adaptiveEditIncrementalSql) { (s, d) =>
      import graft.streaming.{EventsStream, ScreenStream}
      val head = lit("https://corpus.example.org/docs/")
      val corpus = t(s, d, "documents").filter(col("lang") === "en")
        .filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("doc_id"), concat(head, col("text")).as("s0"))
      val idx = ensureAdaptiveEditIndex(s, d, corpus)
      val fresh = ScreenStream.readDocs(s, d)
        .filter(col("lang") === "en")
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), concat(head, col("text")).as("s0"))
      val screened = ScreenStream.screenEditDistanceIndexed(fresh, idx,
        "doc_id", "s0")
      val sinkName = s"stream_edit_adapt_${sinkCounter.incrementAndGet()}"
      // core-width state for the CPU-dense verify fold (see e43)
      EventsStream.runAvailableNow(screened, sinkName, outputMode = "append",
        statePartitions = s.sparkContext.defaultParallelism)
      s.table(sinkName).orderBy("fresh_id", "corpus_id")
    },

    // STREAMING embedding ingest screen against the STANDING signature
    // index — the d16 layout's live consumer (e15's cosine-space twin):
    // arriving vectors band in-row with the index's knob family, candidate
    // + vector joins are stream-static against the bucketed tables, and
    // the one stateful operator is the per-fresh-doc distinct fold (state =
    // one seen flag per doc). AvailableNow append-mode emission equals the
    // batch indexed screen, so the d15 oracle grades the plan verbatim.
    "e23_stream_embedding_screen" -> of(incrementalEmbeddingSql) { (s, d) =>
      import graft.streaming.{EventsStream, ScreenStream}
      val e = t(s, d, "embeddings")
      val idx = ensureEmbeddingIndex(s, d, e.filter(col("vec_id") % 8 =!= 0))
      val fresh = ScreenStream.readEmbeddings(s, d)
        .filter(col("vec_id") % 8 === 0)
      val screened = ScreenStream.screenEmbeddings(fresh, idx,
        "vec_id", "embedding", 0.4)
      val sinkName = s"stream_emb_screen_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(screened, sinkName, outputMode = "append")
      s.table(sinkName).orderBy("fresh_id", "corpus_id")
    },

    // STREAMING MIH Hamming screen (e37) — s23 live: fresh vectors
    // band-code in-row with the SAME code family the standing code table
    // was built with, the band join is stream-static against
    // that table, Hamming + radius cut are one stateless integer
    // projection (codes only — no vector or norm ever enters the stream
    // plan), and the one stateful op is the per-fresh-doc distinct fold.
    // AvailableNow append-mode emission equals the batch screen, so the
    // s23 oracle grades the streaming plan verbatim.
    "e37_stream_mih_screen" -> of(mihScreenSql) { (s, d) =>
      import graft.streaming.{EventsStream, ScreenStream}
      val e = t(s, d, "embeddings")
      val dim = Similarity.vectorDim(e, "embedding")
      val signs = Similarity.hyperplaneSigns(s, 32, 100, dim)
      // computed static side materialized before the stream (optimization
      // r21, guide §2.4/§5) so the corpus banding runs once at batch
      // width, not per micro-batch at state width with AQE off
      val corpusCodes = graft.operators.Caching.materialized(
        Similarity.mihCodeBands(
          e.filter(col("vec_id") % 8 =!= 0), "vec_id", "embedding",
          "corpus_id", "c_code", signs, 4, 8))
      val fresh = ScreenStream.readEmbeddings(s, d)
        .filter(col("vec_id") % 8 === 0)
      val screened = ScreenStream.screenMih(fresh, corpusCodes,
        "vec_id", "embedding", signs, 4, 8, 6)
      val sinkName = s"stream_mih_${sinkCounter.incrementAndGet()}"
      EventsStream.runAvailableNow(screened, sinkName, outputMode = "append")
      s.table(sinkName).orderBy("fresh_id", "corpus_id")
    },

    // Funnel analysis: per-user furthest stage through view → click →
    // purchase in event-time order — a sequential state machine, expressed
    // as the same sorted-collect + integer fold e10 uses (no UDF). Events
    // map to stage codes first so both engines fold int-state over
    // int-elements (DuckDB's list_reduce needs acc and element to agree).
    "e13_funnel" -> of(
      """WITH coded AS (
        |  SELECT user_id,
        |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |      WHEN 'purchase' THEN 3 ELSE 0 END AS code,
        |    CAST(ts AS TIMESTAMP) AS ts, event_id
        |  FROM events),
        |seqs AS (
        |  SELECT user_id, list(code ORDER BY ts, event_id) AS codes
        |  FROM coded GROUP BY user_id)
        |SELECT user_id,
        |  list_reduce(list_prepend(0, codes), (a, b) ->
        |    CASE WHEN a = 0 AND b = 1 THEN 1
        |         WHEN a = 1 AND b = 2 THEN 2
        |         WHEN a = 2 AND b = 3 THEN 3
        |         ELSE a END) AS stage
        |FROM seqs ORDER BY user_id""") { (s, d) =>
      val coded = Q.events(s, d).select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "view", 1)
          .when(col("event_type") === "click", 2)
          .when(col("event_type") === "purchase", 3).otherwise(0).as("code"))
      coded.groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("code")))).as("seq"))
        .select(col("user_id"),
          aggregate(col("seq"), lit(0), (st, x) => {
            val c = x.getField("code")
            when(st === 0 && c === 1, 1)
              .when(st === 1 && c === 2, 2)
              .when(st === 2 && c === 3, 3)
              .otherwise(st)
          }).as("stage"))
        .orderBy("user_id")
    },

    // Cohort retention: users grouped by first-activity week, counted per
    // weekly offset they remain active — two aggregations and a join, the
    // canonical product-analytics rollup.
    "e14_cohort_retention" -> of(
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |    -- CAST: DuckDB date_trunc('week') yields DATE; Spark yields
        |    -- TIMESTAMP
        |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS week
        |  FROM events),
        |cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM act GROUP BY user_id)
        |SELECT c.cohort_week,
        |  CAST((epoch(a.week) - epoch(c.cohort_week)) AS BIGINT) // 604800 AS week_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM act a JOIN cohort c USING (user_id)
        |GROUP BY c.cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""") { (s, d) =>
      val act = Q.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
        .distinct()
      val cohort = act.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
      act.join(cohort, "user_id")
        .select(col("cohort_week"),
          call_function("div",
            unix_timestamp(col("week")) - unix_timestamp(col("cohort_week")),
            lit(604800L)).as("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    },

    // Containment/range join via time-bucket equi-join: for each error
    // event, how many concurrent user sessions (gap-based intervals)
    // contained its timestamp. The scale pattern replaces the nested-loop
    // non-equi join with an hour-bucket equi-join + residual predicate; the
    // oracle is the direct correlated range count.
    "e08_range_join_bucketed" -> of(
      s"""WITH $gapSessionCtes,
        |sessions AS (
        |  SELECT user_id, session_no, MIN(ts) AS lo, MAX(ts) AS hi
        |  FROM numbered GROUP BY user_id, session_no),
        |pts AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |  WHERE event_type = 'error' AND event_id < 3000)
        |SELECT p.event_id, p.ts,
        |  (SELECT COUNT(*) FROM sessions s
        |   WHERE p.ts >= s.lo AND p.ts <= s.hi) AS n_containing
        |FROM pts p ORDER BY p.event_id""") { (s, d) =>
      val ev = Q.events(s, d)
      val sessions = gapSessions(ev)
        .groupBy(col("user_id"), col("session_no"))
        .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      val points = ev.filter(col("event_type") === "error" && col("event_id") < 3000)
        .select("event_id", "ts")
      graft.operators.TimeSeriesOps.intervalContainCount(points, "event_id", "ts", sessions)
        .orderBy("event_id")
    },

    // Time-spine gap fill with forward-fill (resample-and-ffill): every
    // (hour, event_type) slot between the feed's bounds, observation counts
    // zero-filled, hourly totals carried forward per type.
    "e07_gapfill" -> of(
      """WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |hourly AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM ev GROUP BY 1, 2),
        |bounds AS (
        |  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi FROM ev),
        |spine AS (
        |  SELECT u.hour, t.event_type
        |  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds) u
        |  CROSS JOIN (SELECT DISTINCT event_type FROM ev) t),
        |joined AS (
        |  SELECT s.hour, s.event_type, COALESCE(n, 0) AS n, h.total
        |  FROM spine s LEFT JOIN hourly h
        |    ON s.hour = h.hour AND s.event_type = h.event_type)
        |SELECT hour, event_type, n,
        |  COALESCE(LAST_VALUE(total IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS carried_total
        |FROM joined ORDER BY event_type, hour""") { (s, d) =>
      graft.operators.TimeSeriesOps.gapFillHourly(Q.events(s, d), "event_type", "ts", "value")
        .orderBy("event_type", "hour")
    },

    // Tumbling-window aggregation (the batch equivalent of the streaming
    // windowed agg; Structured Streaming runs the same plan via readStream).
    "e02_event_windows" -> of(
      """SELECT date_trunc('hour', ts) AS win, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY win, event_type""") { (s, d) =>
      Q.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
        .orderBy("win", "event_type")
    })
}
