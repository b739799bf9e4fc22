package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`ARRAY<FLOAT>`; SURVEY §2.11).
  *
  * Numeric contract: vectors are widened to `ARRAY<DOUBLE>` (exact) and dot
  * products are sequential left-folds — deterministic regardless of
  * parallelism, and reproducible by any oracle that folds in array order.
  */
object Similarity {

  /** Sequential-fold dot product. Delegates to the codegen'd native
    * [[graft.functions.DotProduct]] expression (registered as `dot_product`;
    * every DataFrame-level operator here registers it on entry). Identical
    * fold order/semantics to the HOF form [[dotHof]].
    */
  def dot(a: Column, b: Column): Column = call_function("dot_product", a, b)

  /** Higher-order-function reference implementation of [[dot]] (kept as the
    * cross-check for the native expression; NativeFunctionsSpec asserts
    * bit-equality, including null on mismatched dimensions).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** One scored neighbor. */
  final case class Scored(id: Long, score: Double)

  /** Bounded-heap top-k typed Aggregator (the SURVEY §7.3-4 custom
    * aggregate): per-group state is at most k entries, partial-aggregated
    * map-side before the shuffle and merged associatively — the scale path
    * for "top-k per query over a huge corpus" where a window function would
    * shuffle the entire pair space to rank it.
    *
    * Ordering: score desc, id asc — total and deterministic.
    */
  final class TopKAggregator(k: Int) extends Aggregator[Scored, List[Scored], Seq[Scored]] {
    // java.lang.Double.compare, not `>`: SQL ranks NaN as the LARGEST double
    // (Spark and DuckDB both), so a NaN cosine (zero-norm vector) must land
    // at rank 1 here too, keeping parity with the window/row_number variant.
    private def better(x: Scored, y: Scored): Boolean = {
      val c = java.lang.Double.compare(x.score, y.score)
      c > 0 || (c == 0 && x.id < y.id)
    }
    private def insert(buf: List[Scored], s: Scored): List[Scored] = {
      val merged = (s :: buf).sortWith(better)
      if (merged.size > k) merged.take(k) else merged
    }
    override def zero: List[Scored] = Nil
    override def reduce(buf: List[Scored], s: Scored): List[Scored] = insert(buf, s)
    override def merge(a: List[Scored], b: List[Scored]): List[Scored] =
      b.foldLeft(a)(insert)
    override def finish(buf: List[Scored]): Seq[Scored] = buf.sortWith(better)
    override def bufferEncoder: Encoder[List[Scored]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder()
  }

  /** All (query, corpus) cosine pairs for `queries` × `corpus` (minus
    * self-pairs). With `broadcastQueries` (the default) the query side is
    * broadcast and the corpus side never moves — correct for the "small
    * query set vs huge corpus" shape, but a LARGE query set would OOM the
    * driver instead of changing the plan; callers ranking corpus-vs-corpus
    * must pass `broadcastQueries = false`, which leaves the join strategy to
    * Catalyst/AQE (cartesian or size-based broadcast).
    */
  private def scoredPairs(queries: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String,
                          broadcastQueries: Boolean = true): DataFrame = {
    graft.functions.NativeFunctions.register(queries.sparkSession)
    // norms precomputed once per ROW (|Q|+|C| folds), not once per PAIR —
    // the pair loop then does a single dot product instead of three.
    // Bit-identical to per-pair recomputation (same values multiplied).
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("q_norm", l2norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("c_norm", l2norm(col("cv")))
    (if (broadcastQueries) broadcast(q) else q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("q_norm") * col("c_norm")))
  }

  /** Brute-force exact top-k via the bounded-heap Aggregator: pairs are
    * reduced to k survivors per query inside each partition (partial agg)
    * before any shuffle — the 100 TB-shaped plan.
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String, k: Int,
                 broadcastQueries: Boolean = true): DataFrame =
    topKRows(topKLists(scoredPairs(queries, corpus, idCol, vecCol, broadcastQueries), k))

  /** (query_id, neighbor_id, cosine) candidates folded to each query's
    * [[TopKAggregator]] list: (query_id, neighbors).
    */
  private[graft] def topKLists(cands: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k), ExpressionEncoder[Scored]())
    cands.groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("cosine")).as("neighbors"))
  }

  /** [[topKLists]] lists as ranked (query_id, rank, neighbor_id, cosine) rows. */
  private[graft] def topKRows(lists: DataFrame): DataFrame =
    lists.select(col("query_id"), posexplode(col("neighbors")).as(Seq("rank0", "n")))
      .select(col("query_id"), (col("rank0") + 1).as("rank"),
        col("n.id").as("neighbor_id"), col("n.score").as("cosine"))

  /** ==SMALL-SCALE CROSS-CHECK — not a scale path== Window-ranked variant
    * of the same query (built-ins only): correct, but it shuffles the FULL
    * pair space to rank it. It exists to verify [[cosineTopK]] (the
    * production variant — bounded-heap partial aggregation, k survivors per
    * query leave each partition) on inputs small enough to enumerate.
    *
    * The smallness contract is ENFORCED (VERDICT r6 #3): the corpus is
    * counted once up front (id-column-only scan, count reused in the error,
    * never recomputed) and the call aborts loudly above `crossCheckCap`
    * (default 100k rows) — the full-pair-space shuffle is structurally
    * incapable of running at corpus scale. Queries are not separately
    * capped: the pair space is |queries|×|corpus| and queries ⊆ corpus-like
    * inputs in every use; the corpus bound dominates.
    */
  def cosineTopKWindow(queries: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, k: Int,
                       broadcastQueries: Boolean = true,
                       crossCheckCap: Long = CrossCheckGuard.DefaultCap): DataFrame = {
    CrossCheckGuard.requireSmall(corpus.select(idCol), "cosineTopKWindow",
      "cosineTopK", crossCheckCap)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scoredPairs(queries, corpus, idCol, vecCol, broadcastQueries)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Random-hyperplane LSH signature: bit p = sign(v · h_p) where h_p is the
    * deterministic ±1 hyperplane h_p[i] = sign(xxhash64(p, i)). Buckets
    * cluster directionally-similar vectors; signatures are reproducible
    * everywhere (hash-derived planes, no RNG state). `offset` shifts the
    * plane indices (p = offset .. offset+planes-1) so callers can draw
    * INDEPENDENT signatures for multi-table LSH from the same hash family.
    */
  def hyperplaneSignature(v: Column, planes: Int, offset: Int = 0): Column =
    aggregate(
      transform(sequence(lit(offset), lit(offset + planes - 1)), p => {
        val d = aggregate(
          zip_with(v, sequence(lit(0), size(v) - 1),
            (x, i) => x * when(pmod(xxhash64(p, i), lit(2)) === 0, 1.0).otherwise(-1.0)),
          lit(0.0), _ + _)
        when(d >= 0, lit(1L)).otherwise(lit(0L))
      }),
      lit(0L),
      (acc, bit) => shiftleft(acc, 1).bitwiseOR(bit))

  /** Vector dimensionality from the first row carrying a non-null vector.
    * An empty (or all-null) input gets dimension 0 — the sign vectors
    * degenerate to empty arrays and the LSH operators return their
    * (correct) empty result instead of throwing at plan-build time.
    */
  private[graft] def vectorDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol)).as("d")).filter(col("d") >= 0).head(1)
      .headOption.map(_.getInt(0)).getOrElse(0)

  /** The ±1 sign vectors of planes `offset .. offset+planes-1`, materialized
    * once (tiny Spark job reusing the exact [[hyperplaneSignature]] hash
    * expressions, so the values are identical by construction).
    */
  def hyperplaneSigns(spark: org.apache.spark.sql.SparkSession, planes: Int,
                      offset: Int, dim: Int): Array[Array[Double]] =
    if (dim <= 0) Array.fill(planes)(Array.empty[Double])
    else spark.range(1)
      .select(explode(sequence(lit(offset), lit(offset + planes - 1))).as("p"))
      .select(col("p"), transform(sequence(lit(0), lit(dim - 1)),
        i => when(pmod(xxhash64(col("p"), i), lit(2)) === 0, lit(1.0))
          .otherwise(lit(-1.0))).as("signs"))
      .orderBy("p").collect()
      .map(_.getSeq[Double](1).toArray)

  /** [[hyperplaneSignature]] with the hash work hoisted out: signs are
    * precomputed literals ([[hyperplaneSigns]]) and each plane projection is
    * one codegen'd `dot_product` — same sequential fold over the same ±1
    * values, so the signature is bit-identical to the HOF form (spec-
    * asserted), at a fraction of the per-row cost (the HOF recomputes
    * planes × dim xxhash64 calls per ROW in interpreted lambdas).
    */
  def hyperplaneSignatureFrom(v: Column, signs: Array[Array[Double]]): Column =
    signs.zipWithIndex.map { case (s, i) =>
      // lit(Array[Double]) keeps the ARRAY<DOUBLE> type even when empty
      // (array() of zero columns would be ARRAY<VOID> and fail analysis)
      when(dot(v, lit(s)) >= 0,
        lit(1L << (signs.length - 1 - i))).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Deterministic Lloyd k-means for the IVF coarse quantizer: the
    * one-subspace case of [[Ivf.train]]. Init = first k corpus vectors by
    * id; each iteration assigns every vector to its best centroid (ties →
    * lowest centroid id) and recomputes per-dimension means as exact
    * decimal sums divided on the driver. Fully reproducible run to run — the
    * property the DuckDB oracle needs, since Verify trains twice (query +
    * centroid dump) and the results must bit-match. Empty clusters keep
    * their previous centroid; an empty corpus gives no centroids.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int = 16, iters: Int = 3): Array[Array[Double]] =
    Ivf.train(corpus, idCol, vecCol, k, iters).head

  /** Trained-quantizer IVF ANN: k-means centroids ([[kmeansCentroids]]);
    * every corpus vector sits in its best cell, a query probes its `nProbe`
    * best cells and ranks only their members by exact cosine
    * ([[Ivf.search]]) — at scale a probe touches nProbe/nCentroids of the
    * corpus. Fully deterministic → DuckDB-oracle-able.
    */
  def ivfNeighborsTrained(queries: DataFrame, corpus: DataFrame, idCol: String,
                          vecCol: String, k: Int, nCentroids: Int = 16,
                          nProbe: Int = 2, iters: Int = 3): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCentroids, iters)
    Ivf.search(queries, Ivf.assign(corpus, idCol, vecCol, cents), idCol, vecCol,
      k, cents, nProbe)
  }

  /** Centroid array → (cid, cvec) DataFrame (shared by the standing index
    * and the Verify aux dump so both see literally the same values).
    */
  def centroidsDf(spark: org.apache.spark.sql.SparkSession,
                  cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
      .toDF("cid", "cvec")
  }

  /** IVF ANN with the untrained stand-in quantizer — the first `nCentroids`
    * corpus vectors by id, kept as [[ivfNeighborsTrained]]'s cross-check:
    * its `iters = 0` case.
    */
  def ivfNeighbors(queries: DataFrame, corpus: DataFrame, idCol: String,
                   vecCol: String, k: Int, nCentroids: Int = 16,
                   nProbe: Int = 2): DataFrame =
    ivfNeighborsTrained(queries, corpus, idCol, vecCol, k, nCentroids, nProbe, iters = 0)

  /** Metadata-filtered trained-IVF search: valid neighbors must share the
    * query's `attrCol` value (same-language chunks, same-tenant documents —
    * the constrained-retrieval shape every vector store grows). The coarse
    * quantizer is trained on the FULL corpus (standard for filtered
    * search — per-attr quantizers fragment training data); the filter is
    * applied INSIDE the cell scan via the (cid, attr) probe join, so a
    * probe's work shrinks to the matching slice of its nProbe cells
    * (pre-filtering; post-filtering a top-k would LOSE recall when the
    * unfiltered top-k is dominated by non-matching neighbors).
    */
  def ivfNeighborsTrainedFiltered(queries: DataFrame, corpus: DataFrame,
                                  idCol: String, vecCol: String,
                                  attrCol: String, k: Int,
                                  nCentroids: Int = 16, nProbe: Int = 2,
                                  iters: Int = 3): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCentroids, iters)
    Ivf.search(queries,
      Ivf.assign(corpus, idCol, vecCol, cents, col(attrCol).as("attr")),
      idCol, vecCol, k, cents, nProbe, Some(attrCol))
  }

  /** Exact metadata-filtered top-k — the ground truth [[ivfNeighborsTrainedFiltered]]
    * is gated against (and a correct-by-construction filtered search in its
    * own right). The attribute equality IS the join key: the pair space is
    * the per-attr-slice blocks instead of |Q|×|C|, and the bounded-heap
    * Aggregator still caps per-query state at k before any shuffle.
    */
  def cosineTopKFiltered(queries: DataFrame, corpus: DataFrame, idCol: String,
                         vecCol: String, attrCol: String, k: Int,
                         broadcastQueries: Boolean = true): DataFrame = {
    graft.functions.NativeFunctions.register(queries.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(attrCol).as("attr"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("q_norm", l2norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(attrCol).as("attr"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("c_norm", l2norm(col("cv")))
    val pairs = (if (broadcastQueries) broadcast(q) else q).join(c, Seq("attr"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("q_norm") * col("c_norm")))
    topKRows(topKLists(pairs, k))
  }

  /** Standing IVF index handle (the d16 amortized-serving pattern applied
    * to retrieval): `cells` = the inverted file as a cid-bucketed,
    * cid-sorted warehouse table (cid, id, v, norm); `centroids` = the
    * trained quantizer (cid, cvec). Table names embed k and the bucket
    * count — the layout identity — so a session can never probe a layout
    * built with different parameters under the same name.
    */
  final case class IvfIndex(cells: String, centroids: String,
                            nCentroids: Int, dim: Int, corpusRows: Long,
                            buckets: Int)

  /** Materialize the standing IVF index for `corpus` — train and assign
    * ONCE, then serve every later query batch from the tables
    * ([[ivfSearchIndexed]]) without re-training the quantizer or
    * re-scanning/re-assigning the corpus (what [[ivfNeighborsTrained]]
    * pays on every call). Training is the bit-reproducible k-means and
    * assignment the fused shuffle-free argmax, so the indexed search is
    * result-identical to the direct one by construction (spec-pinned; the
    * s04 oracle applies verbatim). Idempotent per (session, names): an
    * existing catalog layout is reused, not retrained.
    *
    * Scale shape: one corpus pass assigns and writes through the cid
    * bucket layout; a probe then reads nProbe/nCentroids of the corpus
    * through pre-bucketed files with no index-side Exchange (the q33/d16
    * zero-exchange pattern, PlanSpec-pinned).
    */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    namePrefix: String, nCentroids: Int = 16,
                    iters: Int = 3, buckets: Int = 16): IvfIndex = {
    val spark = corpus.sparkSession
    graft.functions.NativeFunctions.register(spark)
    val dim = vectorDim(corpus, vecCol)
    val idx = IvfIndex(s"${namePrefix}_cells_k${nCentroids}_b$buckets",
      s"${namePrefix}_cent_k$nCentroids", nCentroids, dim, 0L, buckets)
    if (!(spark.catalog.tableExists(idx.cells) &&
        spark.catalog.tableExists(idx.centroids))) {
      val cents = kmeansCentroids(corpus, idCol, vecCol, nCentroids, iters)
      // the appended cells table carries the exactly-once epoch ledger;
      // the centroid table is the frozen quantizer and is never appended
      graft.sources.BucketedLake.writeBucketedTableLedgered(spark, idx.cells,
        Ivf.cellRows(corpus, idCol, vecCol, cents), "cid", buckets)
      graft.sources.BucketedLake.writeBucketedTable(spark, idx.centroids,
        centroidsDf(spark, cents), "cid", 1)
    }
    idx.copy(corpusRows = spark.table(idx.cells).count())
  }

  /** Read the frozen quantizer back from a standing [[IvfIndex]] — a
    * bounded driver-side collect (at most nCentroids rows, the k-means-seed
    * shape; fewer when the corpus had fewer rows), validated against the
    * handle's k.
    */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    index: IvfIndex): Array[Array[Double]] =
    Ivf.frozen(spark, index.centroids, index.nCentroids)

  /** Fold an ingest batch into a standing [[IvfIndex]] without rebuilding
    * it — the compaction step that closes the retrieval daily loop (the
    * d17 pattern for the inverted file). The batch assigns under the
    * FROZEN quantizer read back from the centroid table (never re-trained:
    * re-training would silently move cell boundaries out from under the
    * standing assignments) and appends into the cells table under the same
    * bucket spec, catalog-validated. `batch` must be id-disjoint from the
    * indexed corpus. Like signature appends, occupancy grows ∝ appended
    * volume at fixed k — a corpus that doubles wants a re-trained, larger
    * quantizer (rebuild); results stay CORRECT either way, probes just
    * scan longer cell lists.
    *
    * Exactly-once (VERDICT r19 #1): the caller's fold `epoch` (REQUIRED —
    * the appendShingleIndex contract) makes a crash-then-retry a no-op
    * (frontier gate + row-presence repair on the cells table).
    */
  def appendIvfIndex(batch: DataFrame, index: IvfIndex, idCol: String,
                     vecCol: String, epoch: Long): IvfIndex = {
    val spark = batch.sparkSession
    graft.functions.NativeFunctions.register(spark)
    val dimBatch = vectorDim(batch, vecCol)
    require(dimBatch == index.dim,
      s"appendIvfIndex: batch dim $dimBatch != index dim ${index.dim} — " +
        "the quantizer is dimension-specific")
    graft.sources.BucketedLake.appendBucketedTableOnce(spark, index.cells,
      Ivf.cellRows(batch, idCol, vecCol, loadCentroids(spark, index)), epoch,
      "cid", index.buckets)
    index.copy(corpusRows = spark.table(index.cells).count())
  }

  /** [[ivfNeighborsTrained]] against a standing [[IvfIndex]] instead of a
    * corpus DataFrame — identical results when the index was built from
    * the same corpus (spec-pinned), but per-query-batch cost excludes the
    * k-means training and the corpus assignment scan: the query batch
    * probes its nProbe best cells under the frozen quantizer (read back on
    * the driver, at most nCentroids rows) and meets their members through the
    * bucketed inverted file. The s04 oracle grades this path verbatim.
    */
  def ivfSearchIndexed(queries: DataFrame, index: IvfIndex, idCol: String,
                       vecCol: String, k: Int, nProbe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    Ivf.search(queries, spark.table(index.cells), idCol, vecCol, k,
      loadCentroids(spark, index), nProbe)
  }

  /** Embedding-space drift monitor — the vector twin of the t33 token
    * alarm: a fresh batch's per-CELL occupancy (assignment under the
    * corpus-trained quantizer) against the corpus-proportional
    * expectation, χ² contribution per cell. A changed embedding model, a
    * new content source, or an upstream preprocessing drift shows up as
    * cells over/under-filled long before any downstream metric moves, and
    * the answer is ATTRIBUTABLE — which semantic regions drifted.
    *
    * Same exactness stance as t33: occupancies are exact counts (map-side
    * combinable), the expectation/χ² is one fixed double tree per cell,
    * no transcendentals — oracle-able from the dumped centroids alone.
    * Cells the corpus doesn't occupy are excluded (expectation undefined),
    * exactly as t33 scopes to the corpus top-K. Scale: assignment is the
    * shuffle-free argmax projection; the whole monitor shuffles
    * O(nCells) count rows.
    */
  def cellOccupancyDrift(corpus: DataFrame, fresh: DataFrame, idCol: String,
                         vecCol: String, nCells: Int = 16,
                         iters: Int = 3): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCells, iters)
    def occ(df: DataFrame, as: String) =
      Ivf.assign(df, idCol, vecCol, cents).groupBy("cid").agg(count(lit(1)).as(as))
    val joined = occ(corpus, "corpus_n")
      .join(occ(fresh, "fresh_n"), Seq("cid"), "left")
      .na.fill(0L, Seq("fresh_n"))
    val totals = joined.agg(sum("corpus_n").as("c_tot"), sum("fresh_n").as("f_tot"))
    joined.crossJoin(broadcast(totals))
      .withColumn("expected",
        col("f_tot").cast("double") * col("corpus_n").cast("double") /
          col("c_tot").cast("double"))
      .withColumn("contrib",
        (col("fresh_n").cast("double") - col("expected")) *
          (col("fresh_n").cast("double") - col("expected")) / col("expected"))
      .select("cid", "corpus_n", "fresh_n", "expected", "contrib")
  }

  /** Hard-negative mining for contrastive training — for each query, the
    * top-`k` most-similar corpus vectors whose `labelCol` DIFFERS from the
    * query's: the near-misses a retrieval model must learn to push away,
    * the single highest-leverage data op in embedding-model training. The
    * scale path is the trained IVF walk (literal centroids, probes read
    * nProbe/nCells of the corpus through the cid join) with the label
    * MISMATCH applied as a post-filter inside the probed cells.
    *
    * Post-filter vs s16's pre-filter, the duality stated: s16's equality
    * constraint is SELECTIVE (a label keeps ~1/|labels| of each cell), so
    * post-filtering an unfiltered top-k there loses recall and the attr
    * must ride the join key. The negative constraint keeps the COMPLEMENT
    * (~1−1/|labels| of every cell) — nearly everything passes, so
    * post-filtering inside the probed cells is the right plan and a
    * (cid, label) anti-key would buy nothing. Recall loss comes only from
    * probing (same as unfiltered IVF); a pathological cell dominated by
    * the query's own label degrades toward fewer-than-k rows, never wrong
    * rows. Returns (query_id, rank, neighbor_id, neighbor_label, cosine).
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int,
                    nCentroids: Int = 16, nProbe: Int = 2,
                    iters: Int = 3): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCentroids, iters)
    Ivf.top(Ivf.candidates(
        Ivf.probe(queries, idCol, vecCol, cents, nProbe, col(labelCol).as("q_label")),
        Ivf.assign(corpus, idCol, vecCol, cents, col(labelCol).as("n_label")))
      .filter(col("q_label") =!= col("n_label")), k,
      col("n_label").as("neighbor_label"))
  }

  /** Per-row top-`nProbe` cell selection against LITERAL centroids — the
    * stream-safe probe ([[Ivf.probe]]): one row per (id, probed cid) with
    * the vector and its norm carried for the candidate join, cells in the
    * batch walk's (cosine DESC, cid) order. Returns (id, v, v_norm, cid).
    */
  def probeCells(df: DataFrame, idCol: String, vecCol: String,
                 cents: Array[Array[Double]], nProbe: Int): DataFrame =
    Ivf.probe(df, idCol, vecCol, cents, nProbe).withColumnRenamed("norm", "v_norm")

  /** Cluster-balanced diversity sampling (the D4/DeDup-then-Diversify
    * shape): cap each semantic cluster's contribution at `perCluster`
    * docs, so over-represented modes (boilerplate clouds, template farms)
    * cannot dominate the curated sample however many near-copies they
    * ship. Clusters come from the bit-reproducible k-means quantizer;
    * within a cluster, members are taken in `xxhash64(id)` order (id
    * tie-break) — the same growth-stable deterministic choice as the t13
    * stratified sampler, so adding new docs never reshuffles which old
    * docs a stable cluster keeps beyond displacement.
    *
    * Scale shape: centroid training is the s04 machinery (corpus-once +
    * vocab-sized iterations), assignment is the shuffle-free argmax
    * projection, and the only data shuffle is ONE exchange on the cluster
    * key for the per-cluster window — rank work bounded by cluster size.
    * Returns (id, cid, sample_rank ≤ perCluster).
    */
  def clusterBalancedSample(corpus: DataFrame, idCol: String, vecCol: String,
                            perCluster: Int, nClusters: Option[Int] = None,
                            iters: Int = 3): DataFrame = {
    require(perCluster >= 1, s"perCluster must be >= 1: $perCluster")
    val k = nClusters.getOrElse(
      math.min(math.ceil(math.sqrt(corpus.count().toDouble)).toInt, 65536).max(1))
    val cents = kmeansCentroids(corpus, idCol, vecCol, k, iters)
    val w = Window.partitionBy(col("cid"))
      .orderBy(xxhash64(col("id")), col("id"))
    Ivf.assign(corpus, idCol, vecCol, cents)
      .select(col("id"), col("cid"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= perCluster)
  }

  /** ANN recall@k — the index-quality measurement a retrieval pipeline
    * runs before trusting an approximate index: for each query, the
    * fraction of the EXACT top-k neighbor set the approximate result
    * recovered (rank-insensitive, the standard definition). Both inputs
    * are (query_id, rank, neighbor_id[, ...]) frames — any of the s01–s10
    * searches compose directly; `k` truncates BOTH sides so a deeper
    * approximate list cannot inflate its own score.
    *
    * Scale shape: one equi-join on (query_id, neighbor_id) between two
    * already-k-bounded frames (≤ queries × k rows each) and one query-key
    * rollup — evaluation cost is independent of corpus size, which is what
    * lets it run as a standing index-health check. A query with NO exact
    * top-k rows (empty corpus slice) is excluded rather than scored 0/0.
    * Returns (query_id, n_exact, n_hit, recall) — one row per query with
    * exact results.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"recallAtK: k must be >= 1: $k")
    val ex = exact.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
    // distinct: the contract expects ranked search output with unique
    // neighbors per query, but a malformed approx frame with duplicate
    // (query, neighbor) rows would fan out the join and silently OVERSTATE
    // both n_exact and n_hit — dedup here so recall can only be honest
    val ap = approx.filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
      .withColumn("__hit", lit(1L))
    ex.join(ap, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall", col("n_hit") / col("n_exact"))
  }

  /** SemDeDup-style semantic near-dup pairs: cluster the corpus with the
    * reproducible k-means quantizer, then pair ONLY within clusters and keep
    * pairs with cosine ≥ `threshold`. The cluster assignment is the candidate
    * generator (an inverted file, like IVF search): pair work is
    * O(Σ cluster²), never all-pairs, and at scale the corpus is
    * hash-partitioned by cluster id so each cluster's pairing is one
    * partition-local job. `nClusters` defaults to ⌈√n⌉ — the choice that
    * balances cluster count against cluster size, making expected pair work
    * O(n^1.5) — capped at 65536 so the literal centroid matrix stays
    * metadata-sized at any corpus scale (the default costs one count()
    * action; pass an explicit value to skip it — the oracled d09 fixture
    * pins 16 = the s04 quantizer's default so both read one dumped centroid
    * table).
    */
  def semanticDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, nClusters: Option[Int] = None,
                       iters: Int = 3): DataFrame = {
    graft.functions.NativeFunctions.register(corpus.sparkSession)
    val k = nClusters.getOrElse(
      math.min(math.ceil(math.sqrt(corpus.count().toDouble)).toInt, 65536).max(1))
    val cents = kmeansCentroids(corpus, idCol, vecCol, k, iters)
    // both pair sides consume the assignment — persist (guarded) so the n×k
    // dot products run once, not twice. Like the Dedup shingle caches this
    // CANNOT be unpersisted eagerly — the returned frame is a lazy plan
    // built on it — so release is the documented session convention:
    // [[graft.SessionSweep.sweep]] between corpora/queries.
    val assigned = Caching.persisted(Ivf.assign(corpus, idCol, vecCol, cents))
    val a = assigned.select(col("id").as("id_a"), col("v").as("va"),
      col("norm").as("na"), col("cid"))
    val b = assigned.select(col("id").as("id_b"), col("v").as("vb"),
      col("norm").as("nb"), col("cid"))
    a.join(b, Seq("cid")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** JL-style dense random projection to `outDims`: y_p = dot(v, sign_p)
    * over the hash-derived ±1 sign family (offset 1000 keeps the family
    * disjoint from the LSH planes). Pairwise distances are preserved in
    * expectation (Johnson–Lindenstrauss) at a fraction of the
    * dimensionality — the cheapening step before ANN/dedup passes whose
    * cost is linear in dim. Deterministic (hash-derived signs, sequential
    * dot fold) → oracle-able; signs hoisted to literals × codegen
    * `dot_product`, one projection over the scan, no shuffle.
    */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
                       outDims: Int = 16): DataFrame = {
    graft.functions.NativeFunctions.register(df.sparkSession)
    val signs = hyperplaneSigns(df.sparkSession, outDims, 1000,
      vectorDim(df, vecCol))
    val v = col(vecCol).cast("array<double>")
    val comps = signs.zipWithIndex.map { case (sv, p) =>
      struct(lit(p).as("p"), dot(v, lit(sv)).as("y"))
    }
    df.select(col(idCol), explode(array(comps.toIndexedSeq: _*)).as("c"))
      .select(col(idCol), col("c.p").as("dim"), col("c.y").as("y"))
  }

  /** Symmetric int8 scalar quantization (the standard embedding-index
    * compression): per-vector scale = max|x|/127, component q = round(x/scale).
    * max and the divisions are exact/correctly-rounded, so quantized values
    * bit-match across engines. A zero vector quantizes to zeros.
    */
  def int8Scale(v: Column): Column =
    array_max(transform(v, x => abs(x))) / lit(127)

  def int8Quantize(x: Column, scale: Column): Column =
    when(scale === 0, lit(0)).otherwise(round(x / scale)).cast("int")

  /** LSH-bucketed approximate nearest neighbors: rank only the candidates in
    * the query's bucket (exact cosine within bucket). The scale path — the
    * corpus is hash-partitioned by bucket, queries probe one bucket each; no
    * cross join. Approximate by construction: recall depends on `planes`
    * (fewer planes → bigger buckets → higher recall, more work).
    */
  def lshBucketedNeighbors(queries: DataFrame, corpus: DataFrame, idCol: String,
                           vecCol: String, k: Int, planes: Int = 8): DataFrame = {
    graft.functions.NativeFunctions.register(queries.sparkSession)
    val signs = hyperplaneSigns(queries.sparkSession, planes, 0,
      vectorDim(corpus, vecCol))
    def sig(df: DataFrame, id: String, vec: String, norm: String) =
      df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(vec),
        hyperplaneSignatureFrom(col(vecCol).cast("array<double>"), signs).as("bucket"))
        .withColumn(norm, l2norm(col(vec)))
    val q = sig(queries, "query_id", "qv", "q_norm")
    val c = sig(corpus, "neighbor_id", "cv", "c_norm")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Multi-probe LSH ANN (the Lv et al. 2007 idea in hyperplane space):
    * rank candidates from the query's own bucket PLUS the `planes` buckets
    * at Hamming distance 1 — each probe flips one signature bit. A true
    * neighbor lost to quantization differs from the query on planes with
    * small margins; its bucket is one of the 1-flip buckets, so probing
    * them recovers most of that recall at a FIXED index size. The
    * alternative (fewer planes → bigger buckets) pays quadratic
    * within-bucket candidate growth instead — multi-probe moves the cost
    * to a linear (planes+1)× probe fan-out, which is the right trade at
    * corpus scale where bucket occupancy, not probe count, is the
    * scale-killer. A corpus vector lives in exactly ONE bucket and the
    * probe set is distinct buckets, so the probe join yields each
    * (query, candidate) pair at most once — no dedup exchange. Candidates
    * are a strict superset of [[lshBucketedNeighbors]]'s (spec-pinned),
    * hence recall ≥ the single-probe operator on any input.
    */
  def multiProbeLshNeighbors(queries: DataFrame, corpus: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             planes: Int = 8): DataFrame = {
    graft.functions.NativeFunctions.register(queries.sparkSession)
    val signs = hyperplaneSigns(queries.sparkSession, planes, 0,
      vectorDim(corpus, vecCol))
    def sig(df: DataFrame, id: String, vec: String, norm: String) =
      df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(vec),
        hyperplaneSignatureFrom(col(vecCol).cast("array<double>"), signs).as("bucket"))
        .withColumn(norm, l2norm(col(vec)))
    // 1-flip masks are plan constants; probe 0 is the query's own bucket
    val masks = (0 until planes).map(p => 1L << (planes - 1 - p))
    val q = sig(queries, "query_id", "qv", "q_norm")
      .select(col("query_id"), col("qv"), col("q_norm"),
        explode(array(col("bucket") +:
          masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    val c = sig(corpus, "neighbor_id", "cv", "c_norm")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** The occupancy-holding `bandBits` policy at corpus size `n` — the
    * adaptive knob the r15 pinned-vs-adaptive A/B measured (bits =
    * ⌈log₂ n⌉ − 7 clamped to [8, 24]: expected band-bucket occupancy
    * n / 2^bandBits ≈ 128, the [[graft.operators.Dedup.adaptiveLshKnobs]]
    * policy applied to the MIH substring length). The oracle anchor
    * (bits = 8) is the fixed point below n = 2¹⁵; the s28 gate grades
    * the policy's operating point with an oracle-replayed recall row.
    */
  def adaptiveMihBandBits(n: Long): Int =
    math.min(24, math.max(8, ceilLog2(n) - 7))

  /** Exact integer ⌈log₂ n⌉ (ADVICE r9: the double-log formulation held
    * knob anchors only where libm's ln came out exactly integral;
    * 64 − nlz(n−1) has no such dependence). Shared by every adaptive
    * knob policy — [[adaptiveMihBandBits]] and
    * [[graft.operators.Dedup.adaptiveLshKnobs]].
    */
  private[graft] def ceilLog2(n: Long): Int =
    if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)

  /** Multi-index Hamming ANN (the Norouzi–Punjani–Fleet "Multi-Index
    * Hashing" shape, CVPR'12): every vector gets a `bands`×`bandBits`-bit
    * sign-random-projection code held as `bands` SEPARATE small integers
    * (never one packed 64-bit word — no sign-bit/overflow hazards in any
    * engine, and the band IS the join key), candidates are the corpus rows
    * sharing at least one exact band with the query (pigeonhole: a code
    * within Hamming distance < `bands` of the query MUST agree on some
    * band, so the candidate set is provably complete for radius
    * `bands`−1), ranked by full-code Hamming distance — Σ over bands of
    * bit_count(xor) — and the best `coarseM` re-ranked by exact cosine for
    * the top-k.
    *
    * Where it sits in the family: s03/s15 treat the signature as a BUCKET
    * (equality only — a 1-bit miss loses the candidate unless probed);
    * MIH treats it as a DISTANCE (any ≤ bands−1-bit disagreement still
    * joins, and further disagreement is scored, not lost), giving
    * LSH-index costs with metric-style recall. The compressed-domain
    * economics are PQ's (s09): candidate generation and ranking touch only
    * integer codes — floats move for `coarseM` rows per query, never the
    * corpus.
    *
    * Scale shape: band join = `bands` equi-joins on (band index, band
    * value) — the corpus side is hash-partitioned by band key, queries
    * broadcast; ONE distinct on (query, candidate) dedupes multi-band
    * agreements (bounded ×`bands` duplication, not quadratic). Bucket
    * occupancy is corpus_size / 2^bandBits per band value on near-uniform
    * sign codes, so candidate volume per query ≈ bands · n / 2^bandBits —
    * the default 8-bit bands fit the test corpora (500–50k vectors,
    * occupancy ≈ 2–200); at 10⁹ vectors the knob is `bandBits` up to
    * 16–24 (occupancy back to ~15k–60), holding the guaranteed radius at
    * `bands`−1 — exactly the MIH paper's substring-length tradeoff
    * (longer substrings, fewer of them, or accept a smaller guaranteed
    * radius; the adaptiveLshKnobs occupancy policy applies verbatim).
    */
  def mihHammingNeighbors(queries: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          bands: Int = 4, bandBits: Int = 8,
                          planeOffset: Int = 100,
                          coarseM: Int = 40): DataFrame = {
    val family = HyperplaneLsh.mih(queries.sparkSession, bands, bandBits,
      planeOffset, vectorDim(corpus, vecCol))
    def coded(df: DataFrame, id: String, vec: String, norm: String) =
      df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(vec),
        family.codes(vecCol).as("code"))
        .withColumn(norm, l2norm(col(vec)))
    val q = Caching.persisted(coded(queries, "query_id", "qv", "q_norm"))
    val c = Caching.persisted(coded(corpus, "neighbor_id", "cv", "c_norm"))
    // codes-only candidate stage (the PQ economy: floats join in only for
    // the coarseM survivors, never the corpus)
    val cands = family.candidates(
        broadcast(family.explodeCodes(q, "code", col("query_id"),
          col("code").as("q_code"))),
        family.explodeCodes(c, "code", col("neighbor_id"), col("code").as("c_code")),
        "query_id", "neighbor_id")
      .select("query_id", "neighbor_id", "q_code", "c_code")
      .distinct()
      .withColumn("hamming", family.hamming("q_code", "c_code"))
    val wCoarse = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    val wFine = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cands
      .withColumn("crn", row_number().over(wCoarse))
      .filter(col("crn") <= coarseM)
      .join(broadcast(q.select(col("query_id"), col("qv"), col("q_norm"))), "query_id")
      .join(c.select(col("neighbor_id"), col("cv"), col("c_norm")), "neighbor_id")
      .withColumn("cosine",
        dot(col("qv"), col("cv")) / (col("q_norm") * col("c_norm")))
      .withColumn("rank", row_number().over(wFine))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "hamming", "cosine")
  }

  /** A frame's MIH codes under `signs` exploded to one row per band: (id,
    * code array, band, band_val) — [[HyperplaneLsh.Family.codeBands]], the
    * layout the standing code table, the batch screens and their streaming
    * twin all band through, so stream and batch can never band differently.
    */
  def mihCodeBands(df: DataFrame, idCol: String, vecCol: String,
                   idAs: String, codeAs: String,
                   signs: Array[Array[Double]],
                   bands: Int, bandBits: Int): DataFrame =
    HyperplaneLsh.mih(df.sparkSession, bands, bandBits, signs)
      .codeBands(df, idCol, vecCol, idAs, codeAs)

  /** Radius-bounded MIH Hamming SCREEN (the fresh-vs-corpus shape of
    * [[mihHammingNeighbors]]): emit every band-sharing (fresh, corpus)
    * pair whose full-code Hamming distance is ≤ `radius`. Codes ONLY — no
    * vector ever joins, no norm is computed; the whole operator is integer
    * band joins + one distinct, which is what makes it the cheap standing
    * pre-screen in front of an exact-cosine verify (the d13/d15 layering
    * with Hamming as the coarse metric).
    *
    * Recall contract, stated precisely: pigeonhole-COMPLETE for
    * radius ≤ `bands`−1 (such a pair must share a band — never missed);
    * beyond that, a pair only appears if some band agrees exactly, the
    * standard MIH truncation (at 4×8 bands a radius-6 pair with
    * differences spread 2+2+1+1 is missed) — size `bands` to the radius
    * you need guaranteed, exactly as the candidate-volume doc on
    * [[mihHammingNeighbors]] prescribes, or raise `probeBallRadius`.
    * `radius` therefore has NO default (ADVICE r14 — an earlier default
    * of 6 silently placed callers in the truncated-recall regime):
    * choosing it IS choosing the recall contract. Pass ≤ `bands`−1 for
    * guaranteed completeness at exact-band probing, or pair a larger
    * radius with probeBallRadius = 1, which lifts the guarantee to
    * 2·bands−1 = 7 ≥ 6 at a (bandBits+1)× fresh-side-only fan-out.
    *
    * `probeBallRadius` is Norouzi et al.'s actual search procedure
    * (CVPR'12 §3.1): probe each band index not just at the query's exact
    * band value but at every value within Hamming distance
    * ≤ `probeBallRadius` of it in BAND space. At 1 that is the value
    * plus its `bandBits` single-bit flips — (bandBits+1)× fan-out on the
    * FRESH side only (the s15 multi-probe economics: the corpus/index
    * side is untouched, so the standing layout serves any ball radius) —
    * and the pigeonhole guarantee lifts to radius
    * (probeBallRadius+1)·bands − 1: a pair within 2·bands−1 must have
    * some band with ≤ 1 differing bits, which the ball reaches exactly.
    */
  def mihHammingScreen(fresh: DataFrame, corpus: DataFrame, idCol: String,
                       vecCol: String, radius: Int,
                       bands: Int = 4, bandBits: Int = 8,
                       planeOffset: Int = 100,
                       probeBallRadius: Int = 0): DataFrame = {
    val family = HyperplaneLsh.mih(fresh.sparkSession, bands, bandBits,
      planeOffset, vectorDim(corpus, vecCol))
    family.probe(fresh, idCol, vecCol,
      family.codeBands(corpus, idCol, vecCol, "corpus_id", "c_code"),
      radius, probeBallRadius).distinct()
  }

  /** A standing MIH code table: the [[mihCodeBands]] layout written
    * bucketed by (band, band_val) — the d16/s17 lake pattern for the MIH
    * family. The plane family (bands, bandBits, planeOffset) and the
    * bucket count are part of the table name, so a screen can never probe
    * an index banded by other planes. `dim` is not: it is the indexed
    * corpus's own, and a fresh vector of another dimension fails the code
    * guard.
    */
  final case class MihIndex(codes: String, bands: Int, bandBits: Int,
                            planeOffset: Int, dim: Int, buckets: Int) {
    /** The code family the index was built with. */
    private[graft] def family(spark: org.apache.spark.sql.SparkSession) =
      HyperplaneLsh.mih(spark, bands, bandBits, planeOffset, dim)
  }

  /** Build (idempotently, catalog-checked) the standing MIH code index
    * over `corpus`. One job: code + band-explode + bucketed write; no
    * vector is stored — the index IS the integer codes.
    */
  def writeMihIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    namePrefix: String, bands: Int = 4, bandBits: Int = 8,
                    planeOffset: Int = 100, buckets: Int = 16): MihIndex = {
    val spark = corpus.sparkSession
    val idx = MihIndex(
      s"${namePrefix}_mih_b${bands}x${bandBits}_o${planeOffset}_k$buckets",
      bands, bandBits, planeOffset, vectorDim(corpus, vecCol), buckets)
    if (!spark.catalog.tableExists(idx.codes))
      graft.sources.BucketedLake.writeBucketedTableLedgered(spark, idx.codes,
        idx.family(spark).codeBands(corpus, idCol, vecCol, "corpus_id", "c_code"),
        "band", buckets, "band_val")
    idx
  }

  /** Fold an ACCEPTED ingest batch into a standing [[MihIndex]] — the
    * s18/d17 append pattern with a FROZEN code family: the batch codes
    * under the index's own (bands, bandBits, planeOffset, dim) knobs —
    * hash-derived planes, so freezing needs no stored state — and appends
    * under the catalog-validated bucket spec. Tomorrow's
    * [[mihHammingScreenIndexed]] probes today's survivors with no
    * rebuild; batch ids must be disjoint from the indexed corpus.
    *
    * Exactly-once (VERDICT r19 #1): the caller's fold `epoch` (REQUIRED —
    * the appendShingleIndex contract) makes a crash-then-retry a no-op
    * (frontier gate + row-presence repair on the code table).
    */
  def appendMihIndex(batch: DataFrame, index: MihIndex, idCol: String,
                     vecCol: String, epoch: Long): MihIndex = {
    val spark = batch.sparkSession
    graft.sources.BucketedLake.appendBucketedTableOnce(spark, index.codes,
      index.family(spark).codeBands(batch, idCol, vecCol, "corpus_id", "c_code"),
      epoch, "band", index.buckets, "band_val")
    index
  }

  /** [[mihHammingScreen]] against a standing [[MihIndex]] — identical
    * results when the index was built from the same corpus (spec-pinned;
    * the s23 oracle applies verbatim), but the per-ingest cost excludes
    * the corpus-side coding entirely: only the FRESH batch codes, and the
    * band probe reads the code table through its bucket layout with no
    * index-side Exchange (the d16 pattern, PlanSpec-pinned). This is the
    * 100 TB serving shape: the index is integer codes on disk, a probe
    * touches the matching buckets, and nothing about the corpus is
    * recomputed per ingest.
    */
  def mihHammingScreenIndexed(fresh: DataFrame, index: MihIndex,
                              idCol: String, vecCol: String,
                              radius: Int,
                              probeBallRadius: Int = 0): DataFrame = {
    val spark = fresh.sparkSession
    index.family(spark).probe(fresh, idCol, vecCol, spark.table(index.codes),
      radius, probeBallRadius).distinct()
  }

  /** Product-quantization codebooks (the FAISS-PQ shape, inner-product
    * flavor): the vector splits into `subspaces` contiguous slices and each
    * slice gets its own `k`-centroid quantizer trained with the SAME
    * bit-reproducible k-means as the IVF coarse quantizer, all subspaces in
    * one corpus pass per iteration ([[Ivf.train]]) — so the whole codebook
    * is rebuildable and auditable. Returns one centroid array per subspace.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  subspaces: Int = 4, k: Int = 16,
                  iters: Int = 3): Seq[Array[Array[Double]]] =
    Ivf.codebooks(corpus, idCol, vecCol, vectorDim(corpus, vecCol),
      subspaces, k, iters)

  /** Residual product codebooks: the [[pqCodebooks]] trainer run over the
    * cell residuals v − centroid(cell) under the [[kmeansCentroids]] coarse
    * quantizer — the FAISS IVF-PQ shape. Residuals cluster around the
    * origin with the coarse structure subtracted out, so a fixed code
    * budget spends its centroids on within-cell variation instead of
    * re-describing cell means — the recall-per-byte gain the s14 gate
    * measures. Deterministic end to end, so a retraining inside Verify
    * reproduces the search plan's codebooks bit-for-bit (the s09 dump
    * contract).
    */
  def residualPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                          nCells: Int = 16, subspaces: Int = 4,
                          codebookK: Int = 16,
                          iters: Int = 3): Seq[Array[Array[Double]]] =
    Ivf.residualCodebooks(corpus, idCol, vecCol,
      kmeansCentroids(corpus, idCol, vecCol, nCells, iters), subspaces, codebookK, iters)

  /** Codebook arrays → (sub, cid, cvec) DataFrame — shared by the search
    * plan and the Verify aux dump so both see literally the same values
    * (the [[centroidsDf]] contract, per subspace).
    */
  def pqCodebooksDf(spark: org.apache.spark.sql.SparkSession,
                    cbs: Seq[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    cbs.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, i) => (s.toLong, i.toLong, c.toSeq) }
    }.toDF("sub", "cid", "cvec")
  }

  /** PQ-ADC approximate search with exact re-rank: corpus vectors compress
    * to `subspaces` small integer codes (nearest codebook centroid by max
    * dot, ties to the lowest cid); a query precomputes one dot per
    * (subspace, centroid) — the ADC lookup table — and every candidate's
    * approximate inner product is the sum of `subspaces` table entries.
    * Coarse ADC keeps `coarseM` per query; exact cosine re-ranks those into
    * the top `k` ([[annRerankQuantized]]'s two-stage contract, compressed-
    * domain flavor).
    *
    * Scale shape: the compressed scan moves (id, sub, cid) rows — the
    * 100 TB point of PQ: the float corpus is touched only for the bounded
    * re-rank join; the ADC stage reads codes (bytes/vector, not KB/vector).
    * Every fold is order-pinned: per-candidate ADC sums fold in subspace
    * order from a 0.0 seed, so scores — and therefore the coarse cut — are
    * bit-reproducible on any partitioning.
    */
  def pqSearch(queries: DataFrame, corpus: DataFrame, idCol: String,
               vecCol: String, k: Int, coarseM: Int = 20,
               subspaces: Int = 4, codebookK: Int = 16,
               iters: Int = 3): DataFrame = {
    // dimension probed ONCE for both training and search
    val dim = vectorDim(corpus, vecCol)
    val cbs = Ivf.codebooks(corpus, idCol, vecCol, dim, subspaces, codebookK, iters)
    if (cbs.exists(_.isEmpty)) return Ivf.noPqResult(queries, idCol)
    val codes = Ivf.codeRows(corpus, col(vecCol).cast("array<double>"), cbs,
      col(idCol).as("neighbor_id"))
    val tables = Ivf.adcTables(queries, idCol, vecCol,
      pqCodebooksDf(queries.sparkSession, cbs), dim / subspaces)
    Ivf.pqRerank(codes.join(broadcast(tables), Seq("sub", "cid"))
        .filter(col("query_id") =!= col("neighbor_id")),
      queries, corpus, idCol, vecCol, coarseM, k)
  }

  /** IVF-PQ composite index search — the two proven quantizers composed
    * into the workhorse large-corpus index architecture: a coarse k-means
    * partitions the corpus into cells ([[kmeansCentroids]], the s04
    * trainer), each vector compresses to PQ codes, and a query touches
    * ONLY the codes of its `nProbe` best cells: ADC-scores them, keeps
    * `coarseM`, exact-cosine re-ranks into the top `k`. `residual = true`
    * (the s10 serving configuration) encodes the cell residual
    * v − centroid(cell) against residual-trained codebooks and scores
    * ⟨q,v⟩ ≈ ⟨q,c⟩ + Σ table entries — the FAISS shape, better recall at
    * the same code budget (the s14 gate measures it); `false` quantizes
    * the raw vector (the s09 flat-PQ trainer) as the cross-check option.
    *
    * Scale shape: a probe reads nProbe/nCells of the CODES (bytes per
    * vector), and floats surface only for the bounded re-rank join — IVF's
    * data-skipping stacked on PQ's compression. All rankings tie-break on
    * ids and the ADC fold is subspace-ordered, so results are
    * bit-reproducible (and DuckDB-graded from the same two aux dumps s04
    * and s09 already materialize).
    */
  def ivfPqSearch(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, k: Int, nProbe: Int = 2, coarseM: Int = 20,
                  nCells: Int = 16, subspaces: Int = 4, codebookK: Int = 16,
                  iters: Int = 3, residual: Boolean = false): DataFrame = {
    val dim = vectorDim(corpus, vecCol)
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCells, iters)
    val cbs = Ivf.codebooks(corpus, idCol, vecCol, dim, cents, residual,
      subspaces, codebookK, iters)
    if (cents.isEmpty || cbs.exists(_.isEmpty)) return Ivf.noPqResult(queries, idCol)
    Ivf.ivfPqSearch(queries, idCol, vecCol, k, nProbe, coarseM, cents,
      Ivf.ivfCodeRows(corpus, idCol, vecCol, cents, cbs, residual),
      pqCodebooksDf(queries.sparkSession, cbs), dim / subspaces, corpus, residual)
  }

  /** Standing IVF-PQ index handle — the [[IvfIndex]] pattern for the
    * compressed composite: `codes` = the melted (neighbor_id, cell, sub,
    * cid) code rows bucketed by cell (bytes per vector on disk and on the
    * probe path), `vectors` = the full-precision (id, v) table the bounded
    * re-rank joins, plus the two trained artifact tables. Names embed
    * every layout-identity parameter.
    */
  final case class IvfPqIndex(codes: String, centroids: String,
                              codebooks: String, vectors: String,
                              nCells: Int, subspaces: Int, codebookK: Int,
                              dim: Int, corpusRows: Long, buckets: Int,
                              residual: Boolean = false)

  /** Materialize the standing IVF-PQ index — train both quantizers and
    * encode ONCE; every later query batch ADC-scans stored codes for its
    * probed cells and re-ranks from the stored vectors
    * ([[ivfPqSearchIndexed]]), paying neither training nor corpus
    * encoding per call. Training and encoding are [[ivfPqSearch]]'s own
    * kernel steps, so the indexed search is result-identical to the direct
    * one by construction (the s10 oracle applies verbatim). Idempotent per
    * (session, names).
    */
  def writeIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      namePrefix: String, nCells: Int = 16,
                      subspaces: Int = 4, codebookK: Int = 16,
                      iters: Int = 3, buckets: Int = 16,
                      residual: Boolean = false): IvfPqIndex = {
    val spark = corpus.sparkSession
    val dim = vectorDim(corpus, vecCol)
    // residual codes are a different layout identity — the flag rides the
    // table names so residual and raw indexes never alias in the catalog
    val res = if (residual) "_res" else ""
    val idx = IvfPqIndex(
      s"${namePrefix}_codes${res}_c${nCells}_s${subspaces}x${codebookK}_b$buckets",
      s"${namePrefix}_cent_c$nCells",
      s"${namePrefix}_cb${res}_s${subspaces}x$codebookK",
      s"${namePrefix}_vec_b$buckets",
      nCells, subspaces, codebookK, dim, 0L, buckets, residual)
    if (!(spark.catalog.tableExists(idx.codes) &&
        spark.catalog.tableExists(idx.centroids) &&
        spark.catalog.tableExists(idx.codebooks) &&
        spark.catalog.tableExists(idx.vectors))) {
      val cents = kmeansCentroids(corpus, idCol, vecCol, nCells, iters)
      val cbs = Ivf.codebooks(corpus, idCol, vecCol, dim, cents, residual,
        subspaces, codebookK, iters)
      graft.sources.BucketedLake.writeBucketedTable(spark, idx.codes,
        Ivf.ivfCodeRows(corpus, idCol, vecCol, cents, cbs, residual), "cell", buckets)
      graft.sources.BucketedLake.writeBucketedTable(spark, idx.centroids,
        centroidsDf(spark, cents), "cid", 1)
      graft.sources.BucketedLake.writeBucketedTable(spark, idx.codebooks,
        pqCodebooksDf(spark, cbs), "sub", 1)
      graft.sources.BucketedLake.writeBucketedTable(spark, idx.vectors,
        corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")),
        "id", buckets)
    }
    idx.copy(corpusRows = spark.table(idx.codes).count() / subspaces)
  }

  /** [[ivfPqSearch]] against a standing [[IvfPqIndex]] — identical results
    * when the index was built from the same corpus (spec-pinned; the s10
    * oracle grades this path verbatim), but the per-query-batch plan
    * touches only the frozen quantizer (read back on the driver, at most
    * nCells rows), the broadcast codebook table, the probed cells' CODE rows
    * (read through the bucket layout, no index-side exchange), and a
    * coarseM-bounded slice of the vector table.
    */
  def ivfPqSearchIndexed(queries: DataFrame, index: IvfPqIndex,
                         idCol: String, vecCol: String, k: Int,
                         nProbe: Int = 2, coarseM: Int = 20): DataFrame = {
    val spark = queries.sparkSession
    Ivf.ivfPqSearch(queries, idCol, vecCol, k, nProbe, coarseM,
      Ivf.frozen(spark, index.centroids, index.nCells), spark.table(index.codes),
      spark.table(index.codebooks), index.dim / index.subspaces,
      spark.table(index.vectors).select(col("id").as(idCol), col("v").as(vecCol)),
      index.residual)
  }

  /** Two-stage ANN: LSH-bucketed candidates → int8-quantized integer-dot
    * COARSE score keeps the top `coarseM` per query → exact-cosine re-rank of
    * only those survivors emits the top `k` — the production retrieval shape
    * (quantized prefilter over the index, full-precision re-rank of a
    * bounded candidate set).
    *
    * Scale shape: candidate generation is the same bucket join as
    * [[lshBucketedNeighbors]] (never all-pairs); the coarse stage runs pure
    * 64-bit integer arithmetic (quantized components are ints, the dot is an
    * order-free exact integer sum — cheap AND bit-reproducible); the
    * expensive float cosine touches at most `coarseM` rows per query.
    * Determinism: coarse ties break on neighbor_id, so the re-rank sees an
    * engine-independent candidate set (the property the oracle checks).
    */
  def annRerankQuantized(queries: DataFrame, corpus: DataFrame, idCol: String,
                         vecCol: String, k: Int, coarseM: Int = 20,
                         planes: Int = 8): DataFrame = {
    graft.functions.NativeFunctions.register(queries.sparkSession)
    val signs = hyperplaneSigns(queries.sparkSession, planes, 0,
      vectorDim(corpus, vecCol))
    def sig(df: DataFrame, id: String, vec: String, qvec: String) = {
      val v = col(vecCol).cast("array<double>")
      df.select(col(idCol).as(id), v.as(vec),
          hyperplaneSignatureFrom(v, signs).as("bucket"),
          int8Scale(v).as("__sc"))
        .withColumn(qvec,
          transform(col(vec), x => int8Quantize(x, col("__sc")).cast("long")))
        .drop("__sc")
    }
    val q = sig(queries, "query_id", "qv", "qq")
    val c = sig(corpus, "neighbor_id", "cv", "cq")
    val coarseW = Window.partitionBy(col("query_id"))
      .orderBy(col("coarse_score").desc, col("neighbor_id"))
    val fineW = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("coarse_score",
        aggregate(zip_with(col("qq"), col("cq"), (x, y) => x * y),
          lit(0L), (acc, x) => acc + x))
      .withColumn("__crn", row_number().over(coarseW))
      .filter(col("__crn") <= coarseM)
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(fineW))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "coarse_score", "cosine")
  }
}
