package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.NativeFunctions

/** The inverted-file (IVF) and product-quantization (PQ) family's one
  * kernel, behind the coarse quantizer ([[Similarity.kmeansCentroids]]), the
  * PQ codebooks ([[Similarity.pqCodebooks]],
  * [[Similarity.residualPqCodebooks]]), the inverted-file searches
  * ([[Similarity.ivfNeighborsTrained]] and its filtered, first-N and
  * indexed forms, [[Similarity.hardNegatives]], [[Similarity.pqSearch]],
  * [[Similarity.ivfPqSearch]], [[Similarity.ivfPqSearchIndexed]]), the
  * standing indexes ([[Similarity.writeIvfIndex]],
  * [[Similarity.appendIvfIndex]], [[Similarity.writeIvfPqIndex]]) and the
  * live serve ([[graft.streaming.ScreenStream.serveIvf]]). Each decision
  * lives here once, so the entry points cannot drift apart:
  *
  *  - [[norms]]: the centroid norms, the same sequential fold as `l2norm`;
  *  - [[assign]] / [[probe]]: the cell ranking — the fused
  *    `nearest_centroid` expression, cosine DESC, NULL sims (zero norms)
  *    last, ties to the lowest cid — as corpus assignment (the best cell)
  *    and as the query probe (the `nProbe` best cells), in batch and in
  *    streams alike: a projection, never a crossJoin + window;
  *  - [[train]]: the Lloyd iteration — seeds are the first k vectors by id,
  *    the fused argmax assigns, exact decimal partials sum
  *    ([[centroidPartials]]), the driver divides, an empty cluster keeps
  *    its centroid — for one subspace (the coarse quantizer) or all PQ
  *    subspaces in one pass;
  *  - [[codebooks]] / [[codeRows]]: raw or residual codebooks, then the PQ
  *    encode and its melt to (…, sub, cid) rows;
  *  - [[adcTables]] / [[pqRerank]]: the ADC lookup tables, the
  *    subspace-ordered score fold, the coarse cut and the exact re-rank;
  *  - [[candidates]] / [[top]]: the cell-candidate join — cid join,
  *    self-pair drop, exact cosine — and the (cosine DESC, neighbor_id)
  *    top-k.
  *
  * Scale shape: the centroid matrix rides every plan as a literal (k × dim
  * doubles), so assignment and probing are row-local projections; a probe
  * reads nProbe/k of the corpus through the cid join.
  */
private[graft] object Ivf {

  type Centroids = Array[Array[Double]]

  /** Each centroid's L2 norm, the fold `l2norm` runs in a plan. */
  def norms(cents: Centroids): Array[Double] =
    cents.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))

  /** The cell ranking of vector column `v`: the best cell, or with `n` the
    * `n` best cells (best first). `cosine = false` is the k-means
    * iteration's dot/‖c‖ form.
    */
  private def ranking(spark: SparkSession, v: Column, cents: Centroids,
                      n: Option[Int], cosine: Boolean = true): Column = n match {
    case None => NativeFunctions.nearestCentroid(spark, v, cents.flatten, norms(cents), cosine)
    case Some(n) => NativeFunctions.nearestCentroids(spark, v, cents.flatten, norms(cents), n)
  }

  /** Centroid `cid`'s vector, read from the literal matrix. */
  private def centroid(cid: Column, cents: Centroids): Column =
    element_at(typedlit(cents), (cid + 1).cast("int"))

  /** `df`'s (`idCol`, `vecCol`) as (id, v, norm) plus `carry`, the vector
    * cast to ARRAY<DOUBLE> (registers the native functions).
    */
  private def vectors(df: DataFrame, idCol: String, vecCol: String,
                      carry: Seq[Column]): DataFrame = {
    NativeFunctions.register(df.sparkSession)
    df.select(Seq(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v")) ++
        carry: _*)
      .withColumn("norm", Similarity.l2norm(col("v")))
  }

  /** Cell assignment: (id, v, norm, cid) plus `carry`, one row per vector
    * in its best cell — the inverted file's layout.
    */
  def assign(df: DataFrame, idCol: String, vecCol: String, cents: Centroids,
             carry: Column*): DataFrame =
    vectors(df, idCol, vecCol, carry)
      .withColumn("cid", ranking(df.sparkSession, col("v"), cents, None))

  /** The query probe: (id, v, norm, cid) plus `carry`, one row per vector
    * and each of its `nProbe` best cells. Stateless, so a stream can probe.
    */
  def probe(df: DataFrame, idCol: String, vecCol: String, cents: Centroids,
            nProbe: Int, carry: Column*): DataFrame =
    vectors(df, idCol, vecCol, carry)
      .withColumn("cid", explode(ranking(df.sparkSession, col("v"), cents, Some(nProbe))))

  /** The cell-candidate join: the members of each cell (an [[assign]]
    * frame or a standing cells table) meet the [[probe]] rows of that cell
    * on cid and `on`, self-pairs dropped. Emits (neighbor_id, nv, n_norm,
    * query_id, qv, q_norm, cosine) plus both sides' other columns. The
    * cells side is the join's first child, so a plan lists the index branch
    * directly under the join.
    */
  def candidates(probes: DataFrame, cells: DataFrame, on: String*): DataFrame =
    cells.withColumnsRenamed(Map("id" -> "neighbor_id", "v" -> "nv", "norm" -> "n_norm"))
      .join(probes.withColumnsRenamed(Map("id" -> "query_id", "v" -> "qv",
        "norm" -> "q_norm")), "cid" +: on)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        Similarity.dot(col("qv"), col("nv")) / (col("q_norm") * col("n_norm")))

  /** The `k` best candidates per query by (cosine DESC, neighbor_id):
    * (query_id, rank, neighbor_id, `extra`…, cosine).
    */
  def top(cands: DataFrame, k: Int, extra: Column*): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(Seq(col("query_id"), col("rank"), col("neighbor_id")) ++ extra :+
        col("cosine"): _*)
  }

  /** The inverted-file search: `queries` probe their `nProbe` best cells
    * under `cents` and rank the distinct candidates among `cells`' members.
    * With `attrCol` both sides carry it as `attr` and the join keys on
    * (cid, attr), so a probe scans only the matching slice of its cells.
    * Candidates hash on query_id once, which serves both the distinct and
    * the ranking window.
    */
  def search(queries: DataFrame, cells: DataFrame, idCol: String, vecCol: String,
             k: Int, cents: Centroids, nProbe: Int,
             attrCol: Option[String] = None): DataFrame =
    top(candidates(
      probe(queries, idCol, vecCol, cents, nProbe, attrCol.map(col(_).as("attr")).toSeq: _*),
      cells, attrCol.map(_ => "attr").toSeq: _*)
      .select("query_id", "neighbor_id", "cosine")
      .repartition(col("query_id")).distinct(), k)

  /** The standing cells table's rows (cid, id, v, norm) for `df`. */
  def cellRows(df: DataFrame, idCol: String, vecCol: String,
               cents: Centroids): DataFrame =
    assign(df, idCol, vecCol, cents).select("cid", "id", "v", "norm")

  /** A standing index's frozen quantizer, read back on the driver (at most
    * `n` rows in one task, ordered there — a plan-side sort would add a
    * sampling job and a shuffle) and validated: [[train]] keeps min(`n`,
    * corpus rows) seeds, so a small corpus stores fewer cells and an empty
    * one none, always cids 0, 1, ….
    */
  def frozen(spark: SparkSession, table: String, n: Int): Centroids = {
    val rows = spark.table(table).select("cid", "cvec").coalesce(1).collect()
      .sortBy(_.getLong(0))
    require(rows.length <= n && rows.indices.forall(i => rows(i).getLong(0) == i),
      s"centroid table $table holds cids ${rows.map(_.getLong(0)).mkString(",")}, " +
        s"expected 0 until at most $n")
    rows.map(_.getSeq[Double](1).toArray)
  }

  /** One task's exact per-cluster partial: scale-18 decimal component sums
    * plus the row count. `java.math.BigDecimal` encodes as DECIMAL(38,18),
    * which round-trips scale-18 sums exactly while |sum| < 10²⁰ — the loud
    * guard in [[centroidPartials]] enforces that envelope instead of
    * letting an encoder overflow null out a centroid.
    */
  final case class CentroidPartial(cid: Int, sums: Array[java.math.BigDecimal], n: Long)

  /** Exact image of Spark's cast(DOUBLE AS DECIMAL(38,18)): shortest-repr
    * string, then scale-18 HALF_UP (Decimal.changePrecision's rounding).
    */
  private def toDec18(x: Double): java.math.BigDecimal =
    new java.math.BigDecimal(java.lang.Double.toString(x))
      .setScale(18, java.math.RoundingMode.HALF_UP)

  private val DecLimit = new java.math.BigDecimal(java.math.BigInteger.ONE, -20)

  /** Exact combine of two partials. BigDecimal addition is exact and
    * associative, so combine order cannot perturb the merged sums; a
    * shorter array (an empty partial) extends with exact zeros.
    */
  private def merge(a: CentroidPartial, b: CentroidPartial): CentroidPartial = {
    val (lo, hi) = if (a.sums.length >= b.sums.length) (b, a) else (a, b)
    val merged = hi.sums.clone()
    var i = 0
    while (i < lo.sums.length) { merged(i) = merged(i).add(lo.sums(i)); i += 1 }
    CentroidPartial(a.cid, merged, a.n + b.n)
  }

  /** Per-partition exact partial sums over an assignment frame with
    * `cid: int` and `v: array<double>` (null rows filtered, null components
    * zeroed by the caller — adding exact decimal 0 is the identity, so the
    * sums equal SUM-skips-null semantics). Typed Dataset end to end:
    * primitive (Int, Array[Double]) rows in, at most one partial per cid
    * out of each partition, so the shuffle is O(partitions × clusters).
    */
  def centroidPartials(assigned: DataFrame): Dataset[CentroidPartial] = {
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
          // beyond DECIMAL(38,18) the encoder would null out a centroid —
          // abort at the boundary (≈ a 10¹⁹-row partition of unit-scale
          // components; unreachable on real input)
          buf.foreach { s =>
            if (s.abs.compareTo(DecLimit) >= 0)
              throw new IllegalStateException(
                "kmeansCentroids: partial component sum exceeds DECIMAL(38,18) range")
          }
          CentroidPartial(cid, buf.toArray, n)
        }
      }
  }

  /** Deterministic Lloyd k-means over `subspaces` contiguous `sub`-wide
    * slices of `vecCol` at once (one subspace is the whole vector: the IVF
    * coarse quantizer). Seeds are the first `k` vectors by id, sliced; each
    * iteration assigns every slice to its best centroid by the fused
    * dot/‖c‖ argmax (a zero-norm centroid gets no members and keeps its
    * seed), sums each (subspace, cluster) key as exact scale-18 decimal
    * partials and divides once on the driver; an empty cluster keeps its
    * centroid. Bit-reproducible on any partitioning — the partial sums are
    * exact and their merge associative — which the DuckDB oracle needs,
    * since Verify retrains and the dumped centroids must bit-match.
    *
    * The training projection is core-width pinned ([[Caching.coreWidth]]):
    * the exact-decimal pass is CPU-dense per row, and a small corpus reads
    * as one scan split. Returns one centroid array per subspace (empty on
    * an empty corpus).
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
            subspaces: Int = 1, sub: Int = 0): Seq[Centroids] = {
    val spark = corpus.sparkSession
    NativeFunctions.register(spark)
    // guarded persist + unconditional unpersist: an equivalent plan already
    // cached is released too; any later caller re-guards its own projection
    val v = Caching.persisted(Caching.coreWidth(
      corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))))
    try {
      val seeds = v.orderBy("id").limit(k).collect().map(_.getSeq[Double](1).toArray)
      if (seeds.isEmpty) return Seq.fill(subspaces)(Array.empty)
      def part(s: Int): Column =
        if (subspaces == 1) col("v") else slice(col("v"), s * sub + 1, sub)
      var cents: Seq[Centroids] =
        if (subspaces == 1) Seq(seeds)
        else (0 until subspaces).map(s => seeds.map(_.slice(s * sub, s * sub + sub)))
      for (_ <- 0 until iters) {
        // key = subspace · k + cid; null components add exact decimal 0
        val pieces = cents.indices.map(s => struct(
          (ranking(spark, part(s), cents(s), None, cosine = false) + lit(s * k))
            .cast("int").as("cid"),
          transform(part(s), x => coalesce(x, lit(0.0))).as("v")))
        val prepared = v.filter(col("v").isNotNull)
          .select((if (subspaces == 1) pieces.head else explode(array(pieces: _*))).as("p"))
          .select(col("p.cid").as("cid"), col("p.v").as("v"))
        implicit val intEnc: Encoder[Int] = Encoders.scalaInt
        val sums = centroidPartials(prepared).groupByKey(_.cid)
          .reduceGroups(merge _).collect()
        val next = cents.map(_.map(_.clone()))
        sums.foreach { case (_, CentroidPartial(key, buf, n)) =>
          val c = next(key / k)(key % k)
          var pos = 0
          while (pos < buf.length) { c(pos) = buf(pos).doubleValue() / n; pos += 1 }
        }
        cents = next
      }
      cents
    } finally v.unpersist()
  }

  /** Product codebooks of `dim`-wide vectors: `subspaces` codebooks of `k`
    * centroids, trained together by [[train]].
    */
  def codebooks(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
                subspaces: Int, k: Int, iters: Int): Seq[Centroids] = {
    if (dim == 0) return Seq.fill(subspaces)(Array.empty)
    require(dim % subspaces == 0,
      s"pqCodebooks: dim $dim not divisible into $subspaces subspaces")
    train(corpus, idCol, vecCol, k, iters, subspaces, dim / subspaces)
  }

  /** Vector column `v` minus the centroid of its cell `cid`. */
  private def residual(v: Column, cid: Column, cents: Centroids): Column =
    zip_with(v, centroid(cid, cents), (x, y) => x - y)

  /** Product codebooks trained on the cell residuals v − centroid(cell)
    * under `cents` — the FAISS IVF-PQ shape.
    */
  def residualCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                        cents: Centroids, subspaces: Int, k: Int,
                        iters: Int): Seq[Centroids] =
    if (cents.isEmpty) Seq.fill(subspaces)(Array.empty)
    else codebooks(assign(corpus, idCol, vecCol, cents)
        .select(col("id"), residual(col("v"), col("cid"), cents).as("rv")),
      "id", "rv", cents.head.length, subspaces, k, iters)

  /** The codebooks an IVF-PQ index encodes with: raw over `dim`-wide
    * vectors, or `residual` under `cents`.
    */
  def codebooks(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
                cents: Centroids, residual: Boolean, subspaces: Int, k: Int,
                iters: Int): Seq[Centroids] =
    if (residual) residualCodebooks(corpus, idCol, vecCol, cents, subspaces, k, iters)
    else codebooks(corpus, idCol, vecCol, dim, subspaces, k, iters)

  /** The PQ codes of vector column `v` under `cbs`, melted to one
    * (`keep`…, sub, cid) row per subspace — the compressed-domain scan
    * relation. An empty corpus trains no codewords, so it has no code rows
    * (degrade-not-throw).
    */
  def codeRows(df: DataFrame, v: Column, cbs: Seq[Centroids], keep: Column*): DataFrame =
    if (cbs.exists(_.isEmpty))
      df.limit(0).select(keep :+ lit(0L).as("sub") :+ lit(0L).as("cid"): _*)
    else
      df.select(keep :+ posexplode(NativeFunctions.pqCodes(df.sparkSession, v, cbs))
          .as(Seq("sub", "cid")): _*)
        .withColumn("sub", col("sub").cast("long"))

  /** An IVF-PQ corpus's code rows (neighbor_id, cell, sub, cid): each
    * vector's cell and the codes of the vector or of its cell residual, in
    * one pass over the corpus.
    */
  def ivfCodeRows(corpus: DataFrame, idCol: String, vecCol: String,
                  cents: Centroids, cbs: Seq[Centroids], residual: Boolean): DataFrame =
    codeRows(assign(corpus, idCol, vecCol, cents),
      if (residual) this.residual(col("v"), col("cid"), cents) else col("v"), cbs,
      col("id").as("neighbor_id"), col("cid").as("cell"))

  /** The ADC lookup tables: one (query_id, sub, cid, tdot) row per query and
    * codeword of `codebooks` (sub, cid, cvec) — the dot of the query's
    * `sub`-wide slice with the codeword.
    */
  def adcTables(queries: DataFrame, idCol: String, vecCol: String,
                codebooks: DataFrame, sub: Int): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
      .crossJoin(broadcast(codebooks))
      .select(col("query_id"), col("sub"), col("cid"),
        Similarity.dot(slice(col("qv"), (col("sub") * sub + 1).cast("int"), lit(sub)),
          col("cvec")).as("tdot"))

  /** The ADC → re-rank tail: candidate (query_id, neighbor_id, sub, tdot)
    * rows fold per candidate in SUBSPACE ORDER from a 0.0 seed (so the
    * coarse cut is bit-reproducible on any partitioning), the coarse window
    * keeps `coarseM` per query, and the exact cosine against `corpus`
    * re-ranks the survivors into the top `k`. Candidates carrying an
    * `adc_shift` (a residual index's ⟨q, centroid⟩, constant per candidate)
    * score shift + fold — the decomposition ⟨q,v⟩ ≈ ⟨q,c⟩ + ⟨q,r̂⟩.
    */
  def pqRerank(cands: DataFrame, queries: DataFrame, corpus: DataFrame,
               idCol: String, vecCol: String, coarseM: Int, k: Int): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val coarseW = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val fineW = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val fold = aggregate(
      array_sort(collect_list(struct(col("sub"), col("tdot").as("t")))),
      lit(0.0), (acc, x) => acc + x.getField("t"))
    val scored =
      if (cands.columns.contains("adc_shift"))
        cands.groupBy(col("query_id"), col("neighbor_id"))
          .agg(fold.as("__adc0"), max(col("adc_shift")).as("__shift"))
          .select(col("query_id"), col("neighbor_id"),
            (col("__shift") + col("__adc0")).as("adc"))
      else cands.groupBy(col("query_id"), col("neighbor_id")).agg(fold.as("adc"))
    scored
      .withColumn("__crn", row_number().over(coarseW))
      .filter(col("__crn") <= coarseM)
      .join(broadcast(queries.select(col(idCol).as("query_id"), v.as("qv"))), "query_id")
      .join(corpus.select(col(idCol).as("neighbor_id"), v.as("nv")), "neighbor_id")
      .withColumn("cosine", Similarity.cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(fineW))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "adc", "cosine")
  }

  /** The IVF-PQ search over stored or computed parts: `queries` probe their
    * `nProbe` best cells under `cents`, ADC-score the probed cells' `codes`
    * (neighbor_id, cell, sub, cid) against tables from `codebooks`
    * (sub, cid, cvec) — shifted by ⟨q, centroid⟩ when the codes are
    * `residual` — and re-rank the coarse `coarseM` from `vectors`
    * (`idCol`, `vecCol`).
    */
  def ivfPqSearch(queries: DataFrame, idCol: String, vecCol: String, k: Int,
                  nProbe: Int, coarseM: Int, cents: Centroids, codes: DataFrame,
                  codebooks: DataFrame, sub: Int, vectors: DataFrame,
                  residual: Boolean): DataFrame = {
    val p = probe(queries, idCol, vecCol, cents, nProbe)
    val probes = p.select(Seq(col("id").as("query_id"), col("cid").as("cell")) ++
      (if (residual)
        Seq(Similarity.dot(col("v"), centroid(col("cid"), cents)).as("adc_shift"))
      else Nil): _*)
    pqRerank(codes.join(broadcast(probes), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .join(broadcast(adcTables(queries, idCol, vecCol, codebooks, sub)),
          Seq("query_id", "sub", "cid")),
      queries, vectors, idCol, vecCol, coarseM, k)
  }

  /** The empty PQ search result, schema intact (degrade-not-throw). */
  def noPqResult(queries: DataFrame, idCol: String): DataFrame =
    queries.limit(0).select(col(idCol).cast("long").as("query_id"),
      lit(0).as("rank"), col(idCol).cast("long").as("neighbor_id"),
      lit(0.0).as("adc"), lit(0.0).as("cosine"))
}
