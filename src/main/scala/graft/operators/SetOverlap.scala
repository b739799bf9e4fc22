package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

import graft.sources.BucketedLake

/** The set-overlap machinery shared by every key family — word shingles
  * ([[Dedup.shingleSet]]), fixed-size chunk digests
  * ([[Multimodal.chunkDigestSet]]) and gear chunk digests
  * ([[Multimodal.gearDigestSet]]). A family contributes only its key
  * extractor: a DISTINCT (id, key) set. Everything downstream of that set
  * lives here once, so the families cannot drift apart:
  *
  *  - [[selfPairs]]: key self-join → pair count → per-side set sizes;
  *  - [[screen]]: fresh-vs-corpus probe join on the key → pair count →
  *    size joins → Jaccard cut (fresh-vs-corpus only by construction);
  *  - [[writeIndex]] / [[appendIndex]]: the standing key-set index — the
  *    (id, key) set bucketed+sorted on the key (the probe join key) and
  *    per-id set sizes bucketed on the id, so an indexed screen reads the
  *    corpus side with no Exchange (PlanSpec-pinned);
  *  - [[fold]]: the per-fresh-doc streaming fold behind the live screens.
  *
  * Scale shape: candidates form only inside key buckets, never all-pairs,
  * and only (id, key) rows shuffle — O(keys) wire volume. Hub keys (a
  * shingle or chunk shared by a large part of the corpus) explode the
  * bucket join; the d07 df-cut composes in front of [[selfPairs]].
  */
object SetOverlap {

  /** Per-id set sizes (`id`, `as`) of a distinct (id, key) set. */
  def sizes(keys: DataFrame, id: String, as: String): DataFrame =
    keys.groupBy(col(id)).agg(count(lit(1)).as(as))

  /** Self-pairs of one distinct key set: (id_a < id_b, inter, sz_a, sz_b),
    * `inter` the number of shared keys and the sizes the two ids' set
    * sizes. Each caller applies its own ratio and cut (Jaccard,
    * containment). The set is read three times (both join sides and the
    * sizes), so callers hand in a persisted frame.
    */
  def selfPairs(keys: DataFrame, id: String, key: String): DataFrame =
    withSizes(keys.select(col(id).as("id_a"), col(key))
      .join(keys.select(col(id).as("id_b"), col(key)), Seq(key))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter")), keys, id)

  /** Join (id_a, id_b, ...) pairs to both ids' set sizes from the distinct
    * (`id`, key) set `keys`, adding sz_a and sz_b. The sizes are O(corpus):
    * no broadcast hints, these stay shuffle joins (AQE may still choose
    * broadcast at small scale).
    */
  def withSizes(pairs: DataFrame, keys: DataFrame, id: String): DataFrame = {
    val sz = sizes(keys, id, "sz")
    pairs
      .join(sz.select(col(id).as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sz.select(col(id).as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
  }

  /** Jaccard of a pair from its intersection and the two set sizes. */
  def jaccard(inter: String, szA: String, szB: String) =
    col(inter).cast("double") /
      (col(szA) + col(szB) - col(inter)).cast("double")

  /** Fresh-vs-corpus screen: `fresh` (fresh_id, `key`) probes `corpus`
    * (corpus_id, `key`) — live frames or the standing index tables — and
    * pairs whose Jaccard clears `threshold` come back as
    * (fresh_id, corpus_id, inter, sz_f, sz_c, jaccard). `corpusSizes`
    * carries (corpus_id, sz_c). Per-ingest pair work is ∝ the fresh
    * batch's key hits; the corpus is never paired with itself.
    */
  def screen(fresh: DataFrame, corpus: DataFrame, corpusSizes: DataFrame,
             key: String, threshold: Double): DataFrame =
    fresh.join(corpus, Seq(key))
      .groupBy("fresh_id", "corpus_id").agg(count(lit(1)).as("inter"))
      .join(sizes(fresh, "fresh_id", "sz_f"), Seq("fresh_id"))
      .join(corpusSizes, Seq("corpus_id"))
      .withColumn("jaccard", jaccard("inter", "sz_f", "sz_c"))
      .filter(col("jaccard") >= threshold)
      .select("fresh_id", "corpus_id", "inter", "sz_f", "sz_c", "jaccard")

  /** Materialize a standing key-set index from a distinct (id, key) set:
    * the set lands in `keyTable` bucketed+sorted on the key, per-id sizes
    * (`sizeCol`) in `sizeTable` bucketed on the id, both at ledger epoch
    * 0. Idempotent per (session, names): when both tables exist the call
    * returns without building `keys` (serving paths call it every job).
    * The key set must be built WITHOUT a width spread — a bucketed write
    * emits one file per (task, bucket), and the layout contract is one
    * file per bucket per fold.
    */
  def writeIndex(spark: SparkSession, keyTable: String, sizeTable: String,
                 sizeCol: String, buckets: Int)(keys: => DataFrame): Unit = {
    if (!(spark.catalog.tableExists(keyTable) &&
        spark.catalog.tableExists(sizeTable))) {
      val d = Caching.persisted(keys)
      val Array(id, key) = d.columns
      BucketedLake.writeBucketedTableLedgered(spark, keyTable, d, key, buckets)
      BucketedLake.writeBucketedTableLedgered(spark, sizeTable,
        sizes(d, id, sizeCol), id, buckets)
      d.unpersist(blocking = false)
    }
  }

  /** Fold an ACCEPTED ingest batch's distinct (id, key) set into a
    * standing index (the d17 compaction pattern): keys and per-id sizes
    * append under the catalog-validated bucket spec, so the next screen
    * runs against today's survivors without a rebuild. `buckets` must be
    * the index's own, and batch ids must be disjoint from the indexed
    * corpus — the screen that precedes this call establishes it, and
    * id-disjointness is what makes the sizes append pure addition.
    *
    * Exactly-once (VERDICT r19 #1): the caller's fold `epoch` makes a
    * crash-then-retry a no-op instead of a silent double-insert —
    * duplicated key/size rows would inflate every later screen's
    * intersection counts and fan out its size join. Both tables share one
    * epoch; per-table frontier gating heals a crash that landed between
    * the two appends. The epoch is REQUIRED: fold identity must come from
    * the caller's scheduler or ledger, since an auto-assigned epoch would
    * turn every retry into a new fold.
    */
  def appendIndex(keys: DataFrame, keyTable: String, sizeTable: String,
                  sizeCol: String, buckets: Int, epoch: Long): Unit = {
    val spark = keys.sparkSession
    val Array(id, key) = keys.columns
    val d = Caching.persisted(keys)
    BucketedLake.appendBucketedTableOnce(spark, keyTable, d, epoch, key, buckets)
    BucketedLake.appendBucketedTableOnce(spark, sizeTable,
      sizes(d, id, sizeCol), epoch, id, buckets)
    d.unpersist(blocking = false)
  }

  /** One fresh-key × corpus collision row entering the streaming fold. */
  final case class CollisionRow(fresh_id: Long, sz_f: Long,
                                corpus_id: Long, sz_c: Long)
    extends graft.streaming.ScreenStream.FreshRow
  /** One surviving pair with its shared-key count, set sizes and Jaccard. */
  final case class PairOut(fresh_id: Long, corpus_id: Long, sz_f: Long,
                           sz_c: Long, inter: Long, jaccard: Double)

  /** Per-fresh-doc streaming fold behind every live set-overlap screen
    * (`ScreenStream.screen`, `screenChunks`, `screenGearChunks`): count
    * shared keys per corpus doc from THIS micro-batch's collision rows in
    * task memory and emit the pairs whose Jaccard clears `threshold`. The
    * only state is the [[graft.streaming.ScreenStream.requireFirstArrival]]
    * seen flag: a fresh doc's key rows are all generated by the stateless
    * explode in the batch that read the doc row, so a group never spans
    * batches — enforced, not assumed. `idleTtlMillis` > 0 drops the flag
    * after that idle window (always-on deployments).
    *
    * The cut runs IN the fold: without it the emission is every candidate
    * pair, which hub keys make corpus-proportional, and an AvailableNow
    * gate's in-memory sink would hold it on the heap (the r14 e42 ×10
    * OOM). The Jaccard is the batch [[screen]]'s expression on the same
    * long operands, so the double bit-matches and a serve-side re-filter
    * is a no-op.
    */
  private[graft] def fold(op: String, threshold: Double,
                          idleTtlMillis: Long = 0L)(
      key: Long, rows: Iterator[CollisionRow],
      state: GroupState[Boolean]): Iterator[PairOut] = {
    import graft.streaming.ScreenStream.{dropIfTimedOut, requireFirstArrival}
    if (dropIfTimedOut(state)) return Iterator.empty
    requireFirstArrival(key, state, op, idleTtlMillis)
    val inter = scala.collection.mutable.LinkedHashMap.empty[(Long, Long), Long]
    var sizeF = 0L
    rows.foreach { r =>
      sizeF = r.sz_f
      val k2 = (r.corpus_id, r.sz_c)
      inter.update(k2, inter.getOrElse(k2, 0L) + 1L)
    }
    val szF = sizeF
    inter.iterator.flatMap { case ((cid, szC), n) =>
      val j = n.toDouble / (szF + szC - n).toDouble
      if (j >= threshold) Iterator.single(PairOut(key, cid, szF, szC, n, j))
      else Iterator.empty
    }
  }

  /** Run [[fold]] over a STREAMING frame of collision rows
    * (fresh_id, sz_f, corpus_id, sz_c) — every static join already
    * applied, since joins are not allowed after a streaming aggregation.
    * Returns [[PairOut]] rows.
    */
  def streamScreen(collisions: DataFrame, op: String, threshold: Double,
                   idleTtlMillis: Long = 0L): DataFrame = {
    val spark = collisions.sparkSession
    import spark.implicits._
    graft.streaming.ScreenStream.foldPerDoc(collisions
      .select(Seq("fresh_id", "sz_f", "corpus_id", "sz_c")
        .map(c => col(c).cast("long").as(c)): _*)
      .as[CollisionRow], idleTtlMillis)(fold(op, threshold, idleTtlMillis))
  }
}
