package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
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
                 broadcastQueries: Boolean = true): DataFrame = {
    val topk = udaf(new TopKAggregator(k), ExpressionEncoder[Scored]())
    scoredPairs(queries, corpus, idCol, vecCol, broadcastQueries)
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("cosine")).as("neighbors"))
      .select(col("query_id"),
        posexplode(col("neighbors")).as(Seq("rank0", "n")))
      .select(col("query_id"), (col("rank0") + 1).as("rank"),
        col("n.id").as("neighbor_id"), col("n.score").as("cosine"))
  }

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

  /** One task's exact per-cluster partial: scale-18 decimal component sums
    * plus the row count. The Tungsten leg of [[kmeansCentroids]] — at most k
    * of these leave each input partition, so the per-iteration shuffle is
    * O(partitions × k) rows (spec-pinned in SimilaritySpec), never the
    * corpus. `java.math.BigDecimal` encodes as DECIMAL(38,18) (Spark's
    * system default), which round-trips scale-18 sums exactly while
    * |sum| < 10²⁰ — the loud guard in [[centroidPartials]] enforces that
    * envelope instead of letting an encoder overflow null out a centroid.
    */
  private[graft] final case class CentroidPartial(
      cid: Int, sums: Array[java.math.BigDecimal], n: Long)

  /** Exact image of Spark's cast(DOUBLE AS DECIMAL(38,18)): shortest-repr
    * string, then scale-18 HALF_UP (Decimal.changePrecision's rounding).
    */
  private def toDec18(x: Double): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(18, java.math.RoundingMode.HALF_UP)

  private val DecLimit = new java.math.BigDecimal(java.math.BigInteger.ONE, -20)

  /** Exact combine of two per-cluster partials — the reduce both k-means
    * trainers ([[kmeansCentroids]], [[pqCodebooksFor]]) shuffle through.
    * BigDecimal addition is exact and associative, so combine order cannot
    * perturb the merged sums; a shorter array (an empty partial) extends
    * with exact zeros implicitly.
    */
  private def mergeCentroidPartials(a: CentroidPartial,
                                    b: CentroidPartial): CentroidPartial = {
    val (lo, hi) = if (a.sums.length >= b.sums.length) (b, a) else (a, b)
    val merged = hi.sums.clone()
    var i = 0
    while (i < lo.sums.length) { merged(i) = merged(i).add(lo.sums(i)); i += 1 }
    CentroidPartial(a.cid, merged, a.n + b.n)
  }

  /** Per-partition exact partial sums over an assignment frame with
    * `cid: int` and `v: array<double>` (nulls pre-handled by the caller:
    * null rows filtered, null components zeroed — adding exact decimal 0 is
    * the identity, so the sums equal SUM-skips-null semantics). Typed
    * Dataset end to end: rows deserialize to primitive (Int, Array[Double])
    * tuples — no external `Row`/boxed-Seq pass — and the partials shuffle
    * through the DECIMAL(38,18) encoder, ≤ k rows per input partition.
    */
  private[graft] def centroidPartials(
      assigned: DataFrame): org.apache.spark.sql.Dataset[CentroidPartial] = {
    implicit val inEnc: Encoder[(Int, Array[Double])] = ExpressionEncoder()
    implicit val outEnc: Encoder[CentroidPartial] = ExpressionEncoder()
    assigned.select(col("cid").cast("int"), col("v")).as[(Int, Array[Double])]
      .mapPartitions { it =>
        val acc = mutable.Map.empty[Int, (mutable.ArrayBuffer[java.math.BigDecimal], Long)]
        it.foreach { case (cid, vec) =>
          val (buf, n) = acc.getOrElse(cid,
            (mutable.ArrayBuffer.empty[java.math.BigDecimal], 0L))
          while (buf.length < vec.length) buf += java.math.BigDecimal.ZERO
          var i = 0
          while (i < vec.length) {
            buf(i) = buf(i).add(toDec18(vec(i)))
            i += 1
          }
          acc(cid) = (buf, n + 1)
        }
        acc.iterator.map { case (cid, (buf, n)) =>
          // DECIMAL(38,18) holds |sum| < 10²⁰ exactly; beyond that the
          // encoder would overflow to null and silently corrupt a centroid
          // — abort loudly at the boundary instead (10²⁰ ≈ a 10¹⁹-row
          // partition of unit-scale components; unreachable on real input).
          buf.foreach { s =>
            if (s.abs.compareTo(DecLimit) >= 0)
              throw new IllegalStateException(
                "kmeansCentroids: partial component sum exceeds DECIMAL(38,18) range")
          }
          CentroidPartial(cid, buf.toArray, n)
        }
      }
  }

  /** Deterministic Lloyd k-means for the IVF coarse quantizer. Init = first
    * k corpus vectors by id; each iteration assigns every vector to its
    * nearest centroid by cosine (ties → lowest centroid id) and recomputes
    * per-dimension means. Fully reproducible run to run — the property the
    * DuckDB oracle needs, since Verify trains twice (query + centroid dump)
    * and the results must bit-match:
    *  - per-dimension sums aggregate as scale-18 BigDecimals (the exact
    *    image of cast(DOUBLE AS DECIMAL(38,18)), so partition / merge order
    *    can't perturb them), combined as per-partition array partials
    *    ([[centroidPartials]] — O(partitions × k) shuffled rows, typed
    *    Dataset with primitive encoders, no RDD/external-Row pass) and
    *    divided once on the driver;
    *  - centroids are collected (k × dim doubles — tiny) and re-broadcast as
    *    literals each iteration, exactly how MLlib's KMeans iterates;
    *  - assignment ranks by dot(v,c)/‖c‖ — ‖v‖ is constant per vector so
    *    the argmax is the cosine argmax without the extra fold.
    * Empty clusters keep their previous centroid.
    *
    * The training projection is core-width pinned ([[Caching.coreWidth]],
    * optimization r21): the per-iteration partial-sum pass is CPU-dense
    * per row (exact BigDecimal component sums), and a small corpus reads
    * as ONE scan split — so every training job ran its map stage as one
    * task (measured: ~300–500 ms/iteration at sf0.1, the whole cost of the
    * PQ family). Partitioning cannot perturb results: the partial sums are
    * exact and their merge is associative+commutative by construction.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int = 16, iters: Int = 3): Array[Array[Double]] = {
    graft.functions.NativeFunctions.register(corpus.sparkSession)
    // guarded persist + unconditional unpersist: if an equivalent plan is
    // already cached (repeated training in one session), the unpersist in
    // `finally` releases that shared entry — acceptable, since the corpus
    // projection is rebuilt (and re-guarded) by any later caller.
    val v = Caching.persisted(Caching.coreWidth(
      corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))))
    try {
      var cents: Array[Array[Double]] =
        v.orderBy("id").limit(k).collect().map(_.getSeq[Double](1).toArray)
      // empty corpus → no centroids → empty ANN result downstream (the same
      // degrade-not-throw contract as vectorDim/hyperplaneSigns)
      if (cents.isEmpty) return Array.empty
      for (_ <- 0 until iters) {
        val norms = cents.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
        // fused argmax (nearest_centroid_dot): highest dot/norm, ties to
        // the lowest cid, zero-norm (degenerate-seed) centroids pinned to
        // -∞ so they can never swallow assignments. Bit-identical to the
        // struct(sim, -cid)/array_max form (NativeFunctionsSpec pins it) —
        // the k-expression argmax forest fell out of whole-stage codegen
        // at corpus-adaptive k = √n and ran interpreted.
        val assigned = v.withColumn("cid",
          graft.functions.NativeFunctions.nearestCentroid(
            corpus.sparkSession, col("v"), cents.flatten, norms, useVnorm = false))
        // Per-dimension sums as PER-PARTITION exact partial sums
        // ([[centroidPartials]]): each task emits at most k rows (cid →
        // array of decimal component sums + count), so the per-iteration
        // shuffle is O(partitions × k) rows — not the n×d posexploded rows
        // a groupBy(cid, pos) would move, and not a corpus re-shuffle. At
        // 100 TB × 3 iterations that is a metadata-sized shuffle. Exactness
        // is preserved: double→BigDecimal reproduces Spark's cast(DOUBLE AS
        // DECIMAL(38,18)) bit for bit, and BigDecimal addition is exact and
        // associative, so partition boundaries and merge order cannot
        // perturb the centroid values. Null handling matches SUM: null
        // vectors contribute nothing (filtered), null components add exact
        // decimal zero — identity — while the row still counts toward n.
        val prepared = assigned
          .filter(col("v").isNotNull)
          .select(col("cid"),
            transform(col("v"), x => coalesce(x, lit(0.0))).as("v"))
        implicit val intEnc: Encoder[Int] = Encoders.scalaInt
        val sums = centroidPartials(prepared)
          .groupByKey(_.cid)
          .reduceGroups(mergeCentroidPartials _)
          .collect()
        val next = cents.map(_.clone())
        sums.foreach { case (_, CentroidPartial(cid, buf, n)) =>
          var pos = 0
          while (pos < buf.length) {
            next(cid)(pos) = buf(pos).doubleValue() / n
            pos += 1
          }
        }
        cents = next
      }
      cents
    } finally v.unpersist()
  }

  /** Trained-quantizer IVF ANN: k-means centroids ([[kmeansCentroids]])
    * instead of the first-N stand-in, same inverted-file search.
    */
  def ivfNeighborsTrained(queries: DataFrame, corpus: DataFrame, idCol: String,
                          vecCol: String, k: Int, nCentroids: Int = 16,
                          nProbe: Int = 2, iters: Int = 3): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCentroids, iters)
    ivfFrom(queries, corpus, idCol, vecCol, k,
      centroidsDf(queries.sparkSession, cents), nProbe,
      centsArr = Some(cents))
  }

  /** Centroid array → (cid, cvec) DataFrame (shared by the IVF search plan
    * and the Verify aux dump so both see literally the same values).
    */
  def centroidsDf(spark: org.apache.spark.sql.SparkSession,
                  cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
      .toDF("cid", "cvec")
  }

  /** IVF-style approximate nearest neighbors with a deterministic coarse
    * quantizer (SURVEY §2.11 "IVF or LSH-bucketed variant as the scale path").
    * The coarse "centroids" are the first `nCentroids` corpus vectors by id —
    * the untrained stand-in kept as [[ivfNeighborsTrained]]'s cross-check.
    * Every corpus vector is assigned to
    * its max-cosine centroid (the inverted file); a query probes its `nProbe`
    * closest centroids and ranks only those lists — at scale the corpus is
    * hash-partitioned by centroid id, so a probe touches nProbe/nCentroids of
    * the data instead of all of it. Fully deterministic → DuckDB-oracle-able.
    */
  def ivfNeighbors(queries: DataFrame, corpus: DataFrame, idCol: String,
                   vecCol: String, k: Int, nCentroids: Int = 16,
                   nProbe: Int = 2): DataFrame =
    ivfFrom(queries, corpus, idCol, vecCol, k,
      corpus.filter(col(idCol) < nCentroids)
        .select(col(idCol).as("cid"), col(vecCol).cast("array<double>").as("cvec")),
      nProbe)

  /** Shared inverted-file search: assign corpus to max-cosine centroid,
    * probe nProbe lists per query, exact-cosine rank within them. The
    * centroid table is broadcast (k × dim — always small). When `attrCol`
    * is set, the search is METADATA-FILTERED: the attribute rides both the
    * inverted file and the probe side, and the probe join keys on
    * (cid, attr) — each probe scans only the matching slice of its cells
    * (pre-filtering; post-filtering a top-k would LOSE recall when the
    * unfiltered top-k is dominated by non-matching neighbors).
    */
  private def ivfFrom(queries: DataFrame, corpus: DataFrame, idCol: String,
                      vecCol: String, k: Int, centroids: DataFrame,
                      nProbe: Int, attrCol: Option[String] = None,
                      centsArr: Option[Array[Array[Double]]] = None): DataFrame = {
    graft.functions.NativeFunctions.register(queries.sparkSession)
    val cent = broadcast(centroids.withColumn("c_norm", l2norm(col("cvec"))))
    def closestCentroids(df: DataFrame, idAs: String, vecAs: String, n: Int) = {
      val w = Window.partitionBy(col(idAs)).orderBy(col("c_sim").desc, col("cid"))
      df.select(Seq(col(idCol).as(idAs), col(vecCol).cast("array<double>").as(vecAs)) ++
          attrCol.map(a => col(a).as("attr")): _*)
        .withColumn("v_norm", l2norm(col(vecAs)))
        .crossJoin(cent)
        .withColumn("c_sim", dot(col(vecAs), col("cvec")) / (col("v_norm") * col("c_norm")))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= n)
    }
    val attr = attrCol.map(_ => col("attr")).toSeq
    // Corpus-side assignment (optimization r21, guide §2.4): when the
    // caller holds the trained centroid MATRIX (the s12/s16 paths), the
    // inverted file assigns through the fused nearest_centroid argmax —
    // no corpus-wide crossJoin + window Exchange/Sort. Identical ranking
    // arithmetic and min-cid tie-break (spec-pinned vs the struct form;
    // writeIvfIndex already builds standing cells this way and its
    // searches are oracle-graded against this very SQL). The untrained
    // path (s04 — centroids are corpus ROWS) keeps the window walk.
    val inverted = centsArr match {
      case Some(c) if c.nonEmpty =>
        val norms = c.map(cc => math.sqrt(cc.foldLeft(0.0)((a, x) => a + x * x)))
        corpus.select(Seq(col(idCol).as("neighbor_id"),
            col(vecCol).cast("array<double>").as("nv")) ++
            attrCol.map(a => col(a).as("attr")): _*)
          .withColumn("n_norm", l2norm(col("nv")))
          .withColumn("cid", graft.functions.NativeFunctions.nearestCentroid(
            corpus.sparkSession, col("nv"), c.flatten, norms, useVnorm = true))
          .select(Seq(col("cid"), col("neighbor_id"), col("nv"),
            col("n_norm")) ++ attr: _*)
      case _ => closestCentroids(corpus, "neighbor_id", "nv", 1)
        .select(Seq(col("cid"), col("neighbor_id"), col("nv"),
          col("v_norm").as("n_norm")) ++ attr: _*)
    }
    val probes = closestCentroids(queries, "query_id", "qv", nProbe)
      .select(Seq(col("query_id"), col("qv"), col("v_norm").as("q_norm"),
        col("cid")) ++ attr: _*)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    probes.join(inverted, Seq("cid") ++ attrCol.map(_ => "attr"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("nv")) / (col("q_norm") * col("n_norm"))).as("cosine"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Metadata-filtered trained-IVF search: valid neighbors must share the
    * query's `attrCol` value (same-language chunks, same-tenant documents —
    * the constrained-retrieval shape every vector store grows). The coarse
    * quantizer is trained on the FULL corpus (standard for filtered
    * search — per-attr quantizers fragment training data); the filter is
    * applied INSIDE the cell scan via the (cid, attr) probe join, so a
    * probe's work shrinks to the matching slice of its nProbe cells.
    */
  def ivfNeighborsTrainedFiltered(queries: DataFrame, corpus: DataFrame,
                                  idCol: String, vecCol: String,
                                  attrCol: String, k: Int,
                                  nCentroids: Int = 16, nProbe: Int = 2,
                                  iters: Int = 3): DataFrame = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCentroids, iters)
    ivfFrom(queries, corpus, idCol, vecCol, k,
      centroidsDf(queries.sparkSession, cents),
      nProbe, Some(attrCol), centsArr = Some(cents))
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
    val topk = udaf(new TopKAggregator(k), ExpressionEncoder[Scored]())
    val q = queries.select(col(idCol).as("query_id"), col(attrCol).as("attr"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("q_norm", l2norm(col("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(attrCol).as("attr"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("c_norm", l2norm(col("cv")))
    (if (broadcastQueries) broadcast(q) else q).join(c, Seq("attr"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("qv"), col("cv")) / (col("q_norm") * col("c_norm")))
      .groupBy(col("query_id"))
      .agg(topk(col("neighbor_id"), col("cosine")).as("neighbors"))
      .select(col("query_id"),
        posexplode(col("neighbors")).as(Seq("rank0", "n")))
      .select(col("query_id"), (col("rank0") + 1).as("rank"),
        col("n.id").as("neighbor_id"), col("n.score").as("cosine"))
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
        assignToCentroids(corpus, idCol, vecCol, cents)
          .select(col("cid"), col("id"), col("v"), col("v_norm").as("norm")),
        "cid", buckets)
      graft.sources.BucketedLake.writeBucketedTable(spark, idx.centroids,
        centroidsDf(spark, cents), "cid", 1)
    }
    idx.copy(corpusRows = spark.table(idx.cells).count())
  }

  /** Read the frozen quantizer back from a standing [[IvfIndex]] — a
    * bounded driver-side collect (nCentroids rows, the k-means-seed
    * shape), validated against the handle's k.
    */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    index: IvfIndex): Array[Array[Double]] = {
    val cents = spark.table(index.centroids)
      .orderBy("cid").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("cvec").toArray)
    require(cents.length == index.nCentroids,
      s"loadCentroids: centroid table ${index.centroids} holds " +
        s"${cents.length} rows, expected ${index.nCentroids}")
    cents
  }

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
    val cents = loadCentroids(spark, index)
    val assigned = assignToCentroids(batch, idCol, vecCol, cents)
      .select(col("cid"), col("id"), col("v"), col("v_norm").as("norm"))
    graft.sources.BucketedLake.appendBucketedTableOnce(spark, index.cells,
      assigned, epoch, "cid", index.buckets)
    index.copy(corpusRows = spark.table(index.cells).count())
  }

  /** [[ivfNeighborsTrained]] against a standing [[IvfIndex]] instead of a
    * corpus DataFrame — identical results when the index was built from
    * the same corpus (spec-pinned), but per-query-batch cost excludes the
    * k-means training and the corpus assignment scan: the query batch
    * ranks centroids from the broadcast centroid table and probes its
    * nProbe cells through the bucketed inverted file. The probe tail is
    * the exact [[ivfNeighborsTrained]] walk, so the s04 oracle grades this
    * path verbatim.
    */
  def ivfSearchIndexed(queries: DataFrame, index: IvfIndex, idCol: String,
                       vecCol: String, k: Int, nProbe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.NativeFunctions.register(spark)
    val cent = broadcast(spark.table(index.centroids)
      .withColumn("c_norm", l2norm(col("cvec"))))
    val wp = Window.partitionBy(col("query_id")).orderBy(col("c_sim").desc, col("cid"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("q_norm", l2norm(col("qv")))
      .crossJoin(cent)
      .withColumn("c_sim", dot(col("qv"), col("cvec")) / (col("q_norm") * col("c_norm")))
      .withColumn("crn", row_number().over(wp))
      .filter(col("crn") <= nProbe)
      .select(col("query_id"), col("qv"), col("q_norm"), col("cid"))
    val inverted = spark.table(index.cells)
      .select(col("cid"), col("id").as("neighbor_id"), col("v").as("nv"),
        col("norm").as("n_norm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    probes.join(inverted, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("nv")) / (col("q_norm") * col("n_norm"))).as("cosine"))
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Nearest-centroid assignment as a SHUFFLE-FREE argmax projection
    * (struct(sim, -cid) lexicographic max — the kmeansCentroids shape),
    * not crossJoin(centroids) + row_number: the window form shuffled n×k
    * expanded rows just to keep rank 1. Semantics are identical INCLUDING
    * the degenerate cases, because the sim formula is the unmodified
    * per-pair cosine dot/(v_norm·c_norm) every oracle recomputes: a
    * zero-norm vector or centroid yields NaN, which ranks ABOVE all
    * doubles in struct ordering exactly as it sorted first in the
    * row_number window (and in DuckDB's ORDER BY DESC), with the same
    * lowest-cid tie-break via the negated id. Returns
    * (id, v, v_norm, cid) — one row per corpus vector, no shuffle.
    */
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
      assignToCentroids(df, idCol, vecCol, cents)
        .groupBy("cid").agg(count(lit(1)).as(as))
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
    * scale path is the trained IVF walk (broadcast centroid table, probes
    * read nProbe/nCells of the cell-bucketed corpus) with the label
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
    graft.functions.NativeFunctions.register(queries.sparkSession)
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCentroids, iters)
    if (cents.isEmpty)
      return queries.limit(0).select(col(idCol).cast("long").as("query_id"),
        lit(0).as("rank"), col(idCol).cast("long").as("neighbor_id"),
        col(labelCol).as("neighbor_label"), lit(0.0).as("cosine"))
    val inverted = assignToCentroids(corpus, idCol, vecCol, cents)
      .join(corpus.select(col(idCol).as("id"), col(labelCol).as("n_label")), "id")
      .select(col("cid"), col("id").as("neighbor_id"), col("v").as("nv"),
        col("v_norm").as("n_norm"), col("n_label"))
    val probes = probeCells(queries, idCol, vecCol, cents, nProbe)
      .join(queries.select(col(idCol).as("id"), col(labelCol).as("q_label")), "id")
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("v_norm").as("q_norm"), col("cid"), col("q_label"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    probes.join(inverted, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id") &&
        col("q_label") =!= col("n_label"))
      .withColumn("cosine",
        dot(col("qv"), col("nv")) / (col("q_norm") * col("n_norm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("n_label").as("neighbor_label"), col("cosine"))
  }

  /** Per-row top-`nProbe` cell selection against LITERAL centroids — the
    * stream-safe probe: a window can't rank centroids per query inside a
    * stream, but `slice(array_sort(...))` over a per-row struct array can,
    * with no shuffle and no state. Sort key = (−cosine, cid), the s04
    * window's (cosine DESC, cid) order; cosine is the same
    * dot/(v_norm·c_norm) tree as the batch walk, so probed cells are
    * bit-identical to it. Returns one row per (id, probed cid) with the
    * vector and its norm carried for the candidate join.
    */
  def probeCells(df: DataFrame, idCol: String, vecCol: String,
                 cents: Array[Array[Double]], nProbe: Int): DataFrame = {
    graft.functions.NativeFunctions.register(df.sparkSession)
    val norms = cents.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
    val v = col(vecCol).cast("array<double>")
    val cellStructs = cents.indices.map { ci =>
      struct(
        (-(dot(col("__v"), lit(cents(ci))) / (col("__vn") * lit(norms(ci)))))
          .as("ns"),
        lit(ci.toLong).as("cid"))
    }
    df.select(col(idCol).as("id"), v.as("__v"))
      .withColumn("__vn", l2norm(col("__v")))
      .select(col("id"), col("__v"), col("__vn"),
        explode(slice(array_sort(array(cellStructs: _*)), 1, nProbe)).as("__pc"))
      .select(col("id"), col("__v").as("v"), col("__vn").as("v_norm"),
        col("__pc.cid").as("cid"))
  }

  private[graft] def assignToCentroids(corpus: DataFrame, idCol: String,
                                       vecCol: String,
                                       cents: Array[Array[Double]]): DataFrame = {
    graft.functions.NativeFunctions.register(corpus.sparkSession)
    val norms = cents.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
    // fused cosine argmax (nearest_centroid_cos): same values, same
    // Double.compare ordering and min-ci tie-break as the struct/array_max
    // form it replaces (spec-pinned) — one tight k × dim loop instead of a
    // k-expression forest that leaves whole-stage codegen at k = √n.
    corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("v_norm", l2norm(col("v")))
      .withColumn("cid",
        graft.functions.NativeFunctions.nearestCentroid(
          corpus.sparkSession, col("v"), cents.flatten, norms, useVnorm = true))
      .select(col("id"), col("v"), col("v_norm"), col("cid"))
  }

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
    if (cents.isEmpty)
      return corpus.select(col(idCol).as("id"), lit(0L).as("cid"),
        lit(0).as("sample_rank")).limit(0)
    val w = Window.partitionBy(col("cid"))
      .orderBy(xxhash64(col("id")), col("id"))
    assignToCentroids(corpus, idCol, vecCol, cents)
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
    * O(n^1.5) — capped at 65536 so the broadcast centroid table stays
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
    // empty corpus → no centroids → no pairs (the degrade-not-throw
    // contract of vectorDim/kmeansCentroids; an empty struct-argmax array
    // below would otherwise fail analysis)
    if (cents.isEmpty)
      return corpus.select(col(idCol).as("id_a"), col(idCol).as("id_b"),
        lit(0.0).as("cosine")).limit(0)
    // both pair sides consume the assignment — persist (guarded) so the n×k
    // dot products run once, not twice. Like the Dedup shingle caches this
    // CANNOT be unpersisted eagerly — the returned frame is a lazy plan
    // built on it — so release is the documented session convention:
    // [[graft.SessionSweep.sweep]] between corpora/queries.
    val assigned = Caching.persisted(
      assignToCentroids(corpus, idCol, vecCol, cents))
    val a = assigned.select(col("id").as("id_a"), col("v").as("va"),
      col("v_norm").as("na"), col("cid"))
    val b = assigned.select(col("id").as("id_b"), col("v").as("vb"),
      col("v_norm").as("nb"), col("cid"))
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
    * bit-reproducible k-means as the IVF coarse quantizer — so the whole
    * codebook is rebuildable and auditable. Returns one centroid array per
    * subspace.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  subspaces: Int = 4, k: Int = 16,
                  iters: Int = 3): Seq[Array[Array[Double]]] =
    pqCodebooksFor(corpus, idCol, vecCol, vectorDim(corpus, vecCol),
      subspaces, k, iters)

  /** FUSED product-codebook trainer: one corpus pass per Lloyd iteration
    * trains ALL subspaces at once. Per row, one projection computes every
    * subspace's cosine-argmax assignment and one explode emits
    * (key = sub·k + cid, subvector) — the composite key rides the SAME
    * exact-decimal partial-sum machinery as [[kmeansCentroids]]
    * ([[centroidPartials]]), so the shuffle stays O(partitions × sub·k)
    * rows. Training `subspaces` separate k-means would scan (and persist a
    * sliced copy of) the corpus `subspaces` times per iteration; at 100 TB
    * the fused pass is the difference between 3 scans and 12.
    *
    * Bit-parity with the unfused form is BY CONSTRUCTION — same first-k
    * seed slices (the seeds of a sliced corpus are slices of the seeds),
    * same per-subspace assignment arithmetic, and BigDecimal addition is
    * exact and associative so regrouping by composite key cannot perturb a
    * sum — and spec-pinned (fused == per-slice [[kmeansCentroids]]).
    */
  private[graft] def pqCodebooksFor(corpus: DataFrame, idCol: String,
                                    vecCol: String, dim: Int, subspaces: Int,
                                    k: Int, iters: Int): Seq[Array[Array[Double]]] = {
    if (dim == 0) return Seq.fill(subspaces)(Array.empty)
    require(dim % subspaces == 0,
      s"pqCodebooks: dim $dim not divisible into $subspaces subspaces")
    val sub = dim / subspaces
    graft.functions.NativeFunctions.register(corpus.sparkSession)
    // same core-width training pin as [[kmeansCentroids]]
    val v = Caching.persisted(Caching.coreWidth(
      corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))))
    try {
      val seeds = v.orderBy("id").limit(k).collect()
        .map(_.getSeq[Double](1).toArray)
      if (seeds.isEmpty) return Seq.fill(subspaces)(Array.empty)
      var cents: Array[Array[Array[Double]]] =
        Array.tabulate(subspaces)(s => seeds.map(_.slice(s * sub, s * sub + sub)))
      for (_ <- 0 until iters) {
        val pieces = (0 until subspaces).map { s =>
          val sv = slice(col("v"), s * sub + 1, sub)
          val norms = cents(s).map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
          val simStructs = cents(s).indices.map { ci =>
            val sim =
              if (norms(ci) == 0.0) lit(Double.NegativeInfinity)
              else dot(sv, lit(cents(s)(ci))) / lit(norms(ci))
            struct(sim.as("sim"), lit(-ci).as("ncid"))
          }
          struct(
            (lit(s * k) - array_max(array(simStructs: _*)).getField("ncid"))
              .cast("int").as("cid"),
            transform(sv, x => coalesce(x, lit(0.0))).as("v"))
        }
        val prepared = v.filter(col("v").isNotNull)
          .select(explode(array(pieces: _*)).as("p"))
          .select(col("p.cid").as("cid"), col("p.v").as("v"))
        implicit val intEnc: Encoder[Int] = Encoders.scalaInt
        val sums = centroidPartials(prepared)
          .groupByKey(_.cid)
          .reduceGroups(mergeCentroidPartials _)
          .collect()
        val next = cents.map(_.map(_.clone()))
        sums.foreach { case (_, CentroidPartial(key, buf, n)) =>
          val (s, ci) = (key / k, key % k)
          var pos = 0
          while (pos < buf.length) {
            next(s)(ci)(pos) = buf(pos).doubleValue() / n
            pos += 1
          }
        }
        cents = next
      }
      cents.toIndexedSeq
    } finally v.unpersist()
  }

  /** Per-vector cell residuals r = v − centroid(cell) under the given
    * coarse centroids: (id, rv) with the same cosine-argmax assignment the
    * IVF probe uses. The subtraction is one `zip_with` of IEEE doubles —
    * deterministic, so residuals (and everything trained on them) stay
    * bit-reproducible.
    */
  private[graft] def residualFrame(corpus: DataFrame, idCol: String,
                                   vecCol: String,
                                   cents: Array[Array[Double]]): DataFrame =
    assignToCentroids(corpus, idCol, vecCol, cents)
      .join(broadcast(centroidsDf(corpus.sparkSession, cents)), "cid")
      .select(col("id"),
        zip_with(col("v"), col("cvec"), (x, y) => x - y).as("rv"))

  /** Residual product codebooks: the [[pqCodebooksFor]] trainer run over
    * the cell residuals instead of the raw vectors — the FAISS IVF-PQ
    * shape. Residuals cluster around the origin with the coarse structure
    * subtracted out, so a fixed code budget spends its centroids on
    * within-cell variation instead of re-describing cell means — the
    * recall-per-byte gain the s14 gate measures. Deterministic end to end
    * (assignment, subtraction, and the exact-decimal k-means), so a
    * retraining inside Verify reproduces the search plan's codebooks
    * bit-for-bit (the s09 dump contract).
    */
  def residualPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                          nCells: Int = 16, subspaces: Int = 4,
                          codebookK: Int = 16,
                          iters: Int = 3): Seq[Array[Array[Double]]] = {
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCells, iters)
    residualPqCodebooksFor(corpus, idCol, vecCol, cents, subspaces,
      codebookK, iters)
  }

  private def residualPqCodebooksFor(corpus: DataFrame, idCol: String,
                                     vecCol: String,
                                     cents: Array[Array[Double]],
                                     subspaces: Int, codebookK: Int,
                                     iters: Int): Seq[Array[Array[Double]]] = {
    if (cents.isEmpty) return Seq.fill(subspaces)(Array.empty)
    pqCodebooksFor(residualFrame(corpus, idCol, vecCol, cents), "id", "rv",
      cents.head.length, subspaces, codebookK, iters)
  }

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

  /** Per-subspace PQ code columns over broadcast codebook literals
    * (struct-argmax: max dot, then lowest cid — the d09 assignment shape);
    * column s is named `code_s`. Shared by [[pqSearch]] and
    * [[ivfPqSearch]] so the code-assignment arithmetic cannot drift
    * between the flat and the IVF-composed index.
    */
  private def pqCodeCols(spark: org.apache.spark.sql.SparkSession,
                         cbs: Seq[Array[Array[Double]]], v: Column,
                         sub: Int): Seq[Column] = {
    // fused pq_codes loop (optimization r21): the per-subspace
    // struct-argmax forest (subspaces × k dot trees in one projection)
    // fell out of whole-stage codegen and encoded every corpus row
    // interpreted — the same bailout class the MIH band codes hit in r20.
    // One expression computes all codes; the per-column element_at views
    // share it through subexpression elimination. Bit-identical including
    // the null/ragged edges (spec-pinned; the helper coalesces a null
    // vector back to the forest's all-zero codes).
    val codes = graft.functions.NativeFunctions.pqCodes(spark, v, cbs)
    cbs.indices.map(s => element_at(codes, s + 1).as(s"code_$s"))
  }

  /** Melt `code_0..code_{n-1}` columns to (neighbor_id, [carry,] sub, cid)
    * rows — the compressed-domain scan relation both PQ searches join.
    */
  private def pqMeltCodes(withCodes: DataFrame, subspaces: Int,
                          carry: Seq[String]): DataFrame =
    withCodes
      .select(col("neighbor_id") +: (carry.map(col) :+
        posexplode(array((0 until subspaces).map(s => col(s"code_$s")): _*))
          .as(Seq("sub", "cid"))): _*)
      .select(col("neighbor_id") +: (carry.map(col) ++
        Seq(col("sub").cast("long").as("sub"), col("cid"))): _*)

  /** ADC lookup tables: one dot per (query, subspace, centroid). */
  private def pqAdcTables(queries: DataFrame, idCol: String, v: Column,
                          cbs: Seq[Array[Array[Double]]], sub: Int): DataFrame =
    queries.select(col(idCol).as("query_id"), v.as("qv"))
      .crossJoin(broadcast(pqCodebooksDf(queries.sparkSession, cbs)))
      .select(col("query_id"), col("sub"), col("cid"),
        dot(slice(col("qv"), (col("sub") * sub + 1).cast("int"), lit(sub)),
          col("cvec")).as("tdot"))

  /** The shared ADC→re-rank tail: candidate (query_id, neighbor_id, sub,
    * tdot) rows fold per candidate in SUBSPACE ORDER from a 0.0 seed (so
    * the coarse cut is bit-reproducible on any partitioning; the buffered
    * list is `subspaces` entries — a constant, never a hub), the coarse
    * window keeps `coarseM` per query, and the exact cosine re-ranks the
    * survivors into the top `k`. If the candidates carry an `adc_shift`
    * column (the residual path's per-(query, cell) ⟨q, centroid⟩ dot,
    * constant within a candidate group), the ADC score is shift + fold —
    * the residual decomposition ⟨q,v⟩ ≈ ⟨q,c⟩ + ⟨q,r̂⟩.
    */
  private def pqRankTail(cands: DataFrame, queries: DataFrame,
                         corpus: DataFrame, idCol: String, v: Column,
                         coarseM: Int, k: Int): DataFrame = {
    val coarseW = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val fineW = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"), v.as("qv"))
    val nv = corpus.select(col(idCol).as("neighbor_id"), v.as("nv"))
    val fold = aggregate(
      array_sort(collect_list(struct(col("sub"), col("tdot").as("t")))),
      lit(0.0), (acc, x) => acc + x.getField("t"))
    val scored =
      if (cands.columns.contains("adc_shift"))
        cands.groupBy(col("query_id"), col("neighbor_id"))
          .agg(fold.as("__adc0"), max(col("adc_shift")).as("__shift"))
          .select(col("query_id"), col("neighbor_id"),
            (col("__shift") + col("__adc0")).as("adc"))
      else
        cands.groupBy(col("query_id"), col("neighbor_id"))
          .agg(fold.as("adc"))
    scored
      .withColumn("__crn", row_number().over(coarseW))
      .filter(col("__crn") <= coarseM)
      .join(broadcast(qv), "query_id")
      .join(nv, "neighbor_id")
      .withColumn("cosine", cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(fineW))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "adc", "cosine")
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
    graft.functions.NativeFunctions.register(queries.sparkSession)
    // dimension probed ONCE for both training and search (it's a one-row
    // job, but it's a job — no reason to schedule it twice per call)
    val dim = vectorDim(corpus, vecCol)
    val cbs = pqCodebooksFor(corpus, idCol, vecCol, dim, subspaces,
      codebookK, iters)
    val v = col(vecCol).cast("array<double>")
    if (cbs.exists(_.isEmpty))
      // empty corpus → empty result, schema intact (degrade-not-throw)
      return queries.limit(0).select(col(idCol).cast("long").as("query_id"),
        lit(0).as("rank"), col(idCol).cast("long").as("neighbor_id"),
        lit(0.0).as("adc"), lit(0.0).as("cosine"))
    val sub = dim / subspaces
    // corpus → codes (pure projection over broadcast codebook literals) →
    // melted code rows; ADC tables per query; fold + rank via the shared
    // tail
    val melted = pqMeltCodes(
      corpus.select(col(idCol).as("neighbor_id") +: pqCodeCols(corpus.sparkSession, cbs, v, sub): _*),
      subspaces, Nil)
    val tables = pqAdcTables(queries, idCol, v, cbs, sub)
    pqRankTail(
      melted.join(broadcast(tables), Seq("sub", "cid"))
        .filter(col("query_id") =!= col("neighbor_id")),
      queries, corpus, idCol, v, coarseM, k)
  }

  /** IVF-PQ composite index search — the two proven quantizers composed
    * into the workhorse large-corpus index architecture: a coarse k-means
    * partitions the corpus into cells ([[kmeansCentroids]], the s04
    * trainer), each vector compresses to PQ codes, and a query touches
    * ONLY the codes of its `nProbe` closest cells: ADC-scores them, keeps
    * `coarseM`, exact-cosine re-ranks into the top `k`. `residual = true`
    * (the s10 serving configuration) encodes the cell residual
    * v − centroid(cell) against residual-trained codebooks and scores
    * ⟨q,v⟩ ≈ ⟨q,c⟩ + Σ table entries — the FAISS shape, better recall at
    * the same code budget (the s14 gate measures it); `false` quantizes
    * the raw vector ([[pqCodebooksFor]] on v, the s09 flat-PQ trainer) as
    * the cross-check option.
    *
    * Scale shape: the corpus is hash-partitioned by cell; a probe reads
    * nProbe/nCells of the CODES (bytes per vector), and floats surface
    * only for the bounded re-rank join — IVF's data-skipping stacked on
    * PQ's compression. All rankings tie-break on ids and the ADC fold is
    * subspace-ordered, so results are bit-reproducible (and DuckDB-graded
    * from the same two aux dumps s04 and s09 already materialize).
    */
  def ivfPqSearch(queries: DataFrame, corpus: DataFrame, idCol: String,
                  vecCol: String, k: Int, nProbe: Int = 2, coarseM: Int = 20,
                  nCells: Int = 16, subspaces: Int = 4, codebookK: Int = 16,
                  iters: Int = 3, residual: Boolean = false): DataFrame = {
    graft.functions.NativeFunctions.register(queries.sparkSession)
    val dim = vectorDim(corpus, vecCol)
    val cents = kmeansCentroids(corpus, idCol, vecCol, nCells, iters)
    // residual=true trains the codebooks on v − centroid(cell) (the FAISS
    // IVF-PQ shape — see [[residualPqCodebooks]]); false keeps the
    // raw-vector codebooks as the cross-check option
    val cbs =
      if (residual) residualPqCodebooksFor(corpus, idCol, vecCol, cents,
        subspaces, codebookK, iters)
      else pqCodebooksFor(corpus, idCol, vecCol, dim, subspaces,
        codebookK, iters)
    val v = col(vecCol).cast("array<double>")
    if (cents.isEmpty || cbs.exists(_.isEmpty))
      return queries.limit(0).select(col(idCol).cast("long").as("query_id"),
        lit(0).as("rank"), col(idCol).cast("long").as("neighbor_id"),
        lit(0.0).as("adc"), lit(0.0).as("cosine"))
    val sub = dim / subspaces
    val cent = broadcast(centroidsDf(queries.sparkSession, cents)
      .withColumn("c_norm", l2norm(col("cvec"))))
    // cell assignment/probing: the s04 window shape (cosine rank, cid
    // tie); probe rows carry ⟨q, centroid⟩ — the residual path's ADC shift
    def closestCells(df: DataFrame, idAs: String, n: Int) = {
      val w = Window.partitionBy(col(idAs)).orderBy(col("c_sim").desc, col("cid"))
      df.select(col(idCol).as(idAs), v.as("__v"))
        .withColumn("v_norm", l2norm(col("__v")))
        .crossJoin(cent)
        .withColumn("c_sim", dot(col("__v"), col("cvec")) / (col("v_norm") * col("c_norm")))
        .withColumn("crn", row_number().over(w))
        .filter(col("crn") <= n)
        .select(col(idAs), col("cid").as("cell"),
          dot(col("__v"), col("cvec")).as("adc_shift"))
    }
    // corpus → (cell, PQ code rows): only codes move through the probe
    // join; the shared tail folds + ranks exactly as pqSearch. On the
    // residual path the encoded vector is the cell residual.
    val encoded =
      if (residual)
        residualFrame(corpus, idCol, vecCol, cents)
          .select(col("id").as("neighbor_id") +:
            pqCodeCols(corpus.sparkSession, cbs, col("rv"), sub): _*)
      else corpus.select(col(idCol).as("neighbor_id") +: pqCodeCols(corpus.sparkSession, cbs, v, sub): _*)
    // corpus cells through the fused windowless assignment — exactly the
    // standing-index build's shape (writeIvfPqIndex), whose searches the
    // s10 oracle already grades as identical to this path
    val cells = assignToCentroids(corpus, idCol, vecCol, cents)
      .select(col("id").as("neighbor_id"), col("cid").as("cell"))
    val melted = pqMeltCodes(encoded.join(cells, "neighbor_id"),
      subspaces, Seq("cell"))
    val tables = pqAdcTables(queries, idCol, v, cbs, sub)
    val probes0 = closestCells(queries, "query_id", nProbe)
    val probes = if (residual) probes0 else probes0.drop("adc_shift")
    pqRankTail(
      melted.join(broadcast(probes), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .join(broadcast(tables), Seq("query_id", "sub", "cid")),
      queries, corpus, idCol, v, coarseM, k)
  }

  /** Standing IVF-PQ index handle — the [[IvfIndex]] pattern for the
    * compressed composite: `codes` = the melted (cell, neighbor_id, sub,
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
    * encoding per call. Both trainings are bit-reproducible and the code
    * assignment is the same [[pqCodeCols]] projection [[ivfPqSearch]]
    * runs, so the indexed search is result-identical to the direct one by
    * construction (the s10 oracle applies verbatim). Idempotent per
    * (session, names).
    */
  def writeIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      namePrefix: String, nCells: Int = 16,
                      subspaces: Int = 4, codebookK: Int = 16,
                      iters: Int = 3, buckets: Int = 16,
                      residual: Boolean = false): IvfPqIndex = {
    val spark = corpus.sparkSession
    graft.functions.NativeFunctions.register(spark)
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
      val cbs =
        if (residual) residualPqCodebooksFor(corpus, idCol, vecCol, cents,
          subspaces, codebookK, iters)
        else pqCodebooksFor(corpus, idCol, vecCol, dim, subspaces,
          codebookK, iters)
      val sub = dim / subspaces
      val v = col(vecCol).cast("array<double>")
      val cells = assignToCentroids(corpus, idCol, vecCol, cents)
        .select(col("id").as("neighbor_id"), col("cid").as("cell"))
      val encoded =
        if (residual)
          residualFrame(corpus, idCol, vecCol, cents)
            .select(col("id").as("neighbor_id") +:
              pqCodeCols(corpus.sparkSession, cbs, col("rv"), sub): _*)
        else corpus.select(col(idCol).as("neighbor_id") +: pqCodeCols(corpus.sparkSession, cbs, v, sub): _*)
      val melted = pqMeltCodes(encoded.join(cells, "neighbor_id"),
        subspaces, Seq("cell"))
      graft.sources.BucketedLake.writeBucketedTable(spark, idx.codes,
        melted, "cell", buckets)
      graft.sources.BucketedLake.writeBucketedTable(spark, idx.centroids,
        centroidsDf(spark, cents), "cid", 1)
      graft.sources.BucketedLake.writeBucketedTable(spark, idx.codebooks,
        pqCodebooksDf(spark, cbs), "sub", 1)
      graft.sources.BucketedLake.writeBucketedTable(spark, idx.vectors,
        corpus.select(col(idCol).as("id"), v.as("v")), "id", buckets)
    }
    idx.copy(corpusRows = spark.table(idx.codes).count() / subspaces)
  }

  /** [[ivfPqSearch]] against a standing [[IvfPqIndex]] — identical results
    * when the index was built from the same corpus (spec-pinned; the s10
    * oracle grades this path verbatim), but the per-query-batch plan
    * touches only the broadcast artifact tables, the probed cells' CODE
    * rows (read through the bucket layout, no index-side exchange), and a
    * coarseM-bounded slice of the vector table.
    */
  def ivfPqSearchIndexed(queries: DataFrame, index: IvfPqIndex,
                         idCol: String, vecCol: String, k: Int,
                         nProbe: Int = 2, coarseM: Int = 20): DataFrame = {
    val spark = queries.sparkSession
    graft.functions.NativeFunctions.register(spark)
    val sub = index.dim / index.subspaces
    val v = col(vecCol).cast("array<double>")
    val cent = broadcast(spark.table(index.centroids)
      .withColumn("c_norm", l2norm(col("cvec"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("c_sim").desc, col("cid"))
    val probes0 = queries.select(col(idCol).as("query_id"), v.as("__v"))
      .withColumn("v_norm", l2norm(col("__v")))
      .crossJoin(cent)
      .withColumn("c_sim", dot(col("__v"), col("cvec")) / (col("v_norm") * col("c_norm")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") <= nProbe)
      .select(col("query_id"), col("cid").as("cell"),
        dot(col("__v"), col("cvec")).as("adc_shift"))
    // a residual index scores shift + fold (the stored codes are residual
    // codes); a raw index drops the shift column and folds alone
    val probes = if (index.residual) probes0 else probes0.drop("adc_shift")
    val tables = queries.select(col(idCol).as("query_id"), v.as("qv"))
      .crossJoin(broadcast(spark.table(index.codebooks)))
      .select(col("query_id"), col("sub"), col("cid"),
        dot(slice(col("qv"), (col("sub") * sub + 1).cast("int"), lit(sub)),
          col("cvec")).as("tdot"))
    val cands = spark.table(index.codes)
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(tables), Seq("query_id", "sub", "cid"))
    val corpusTbl = spark.table(index.vectors)
      .select(col("id").as(idCol), col("v").as(vecCol))
    pqRankTail(cands, queries, corpusTbl, idCol, v, coarseM, k)
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
