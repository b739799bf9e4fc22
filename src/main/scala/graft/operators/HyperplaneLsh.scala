package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The hyperplane sign families shared by every embedding near-dup entry
  * point, in two metrics over the same guarded `hyperplane_signatures`:
  *
  * COSINE (multi-table LSH) — the self-pairs
  * ([[Dedup.embeddingCosinePairsLsh]]), the direct and indexed
  * fresh-vs-corpus screens ([[Dedup.incrementalEmbeddingPairsLsh]],
  * [[Dedup.incrementalEmbeddingPairsIndexed]]), the standing index write and
  * append ([[Dedup.writeEmbeddingSignatureIndex]],
  * [[Dedup.appendEmbeddingSignatureIndex]]) and the live screen
  * ([[graft.streaming.ScreenStream.screenEmbeddings]]). It is the cosine
  * twin of [[SetOverlap]]: a caller contributes its sides and its knobs,
  * and each step lives here once, so the entry points cannot drift apart:
  *
  *  - [[vectors]]: the (id, v, norm) projection of an embedding column;
  *  - [[Family.bands]]: one row per (vector, table) carrying its signature
  *    (…, tbl, sig) — the guarded `hyperplane_signatures` posexplode;
  *  - the size rule: a side is broadcast when its driver-side estimate fits
  *    [[broadcastCap]] ([[Family.vectorBytes]], [[Family.bandBytes]]);
  *  - [[Family.selfPairs]] / [[Family.screen]]: the bucket join and the
  *    verify — vector join-backs, exact cosine ≥ threshold, distinct.
  *
  * HAMMING (multi-index hashing, [[mih]]) — the candidate stage of
  * [[Similarity.mihHammingNeighbors]], the direct, indexed and ball screens
  * ([[Similarity.mihHammingScreen]], [[Similarity.mihHammingScreenIndexed]]),
  * the standing code index ([[Similarity.writeMihIndex]],
  * [[Similarity.appendMihIndex]]) and the live screen
  * ([[graft.streaming.ScreenStream.screenMih]]): each table's signature is
  * a band code, kept as an array per row —
  *
  *  - [[Family.codes]] / [[Family.codeBands]]: the guarded code array and
  *    its (id, code, band, band_val) explode, the standing table's layout;
  *  - [[Family.ball]]: the fresh side's band-space Hamming ball;
  *  - [[Family.candidates]] / [[Family.probe]]: the band equi-join without
  *    self-pairs, the full-code [[Family.hamming]] and the radius cut.
  *
  * Scale shape: candidates form only inside (table, signature) buckets,
  * never all-pairs; past the cap a side falls back to the shuffle join.
  */
private[graft] object HyperplaneLsh {

  /** Names every cosine signature guard: the error a bad vector raises. */
  private val What = "LSH signatures"

  /** The MIH code family: `bands` codes of `bandBits` bits from the planes
    * `planeOffset until planeOffset + bands·bandBits` over `dim`-dimensional
    * vectors (one Spark job derives the signs).
    */
  def mih(spark: SparkSession, bands: Int, bandBits: Int, planeOffset: Int,
          dim: Int): Family =
    mih(spark, bands, bandBits,
      Similarity.hyperplaneSigns(spark, bands * bandBits, planeOffset, dim))

  /** The MIH code family of already-derived `signs` (registers the native
    * functions, as [[vectors]] does).
    */
  def mih(spark: SparkSession, bands: Int, bandBits: Int,
          signs: Array[Array[Double]]): Family = {
    graft.functions.NativeFunctions.register(spark)
    new Family(spark, bandBits, bands, signs, "MIH band codes")
  }

  /** Explicit-broadcast ceiling (128 MB): far above Spark's conservative
    * 10 MB default — a 128 MB hashed relation is routine on any executor
    * sized for embedding work — and far below driver/executor memory
    * pressure. Catalyst's own estimate of a cached vector projection sits
    * just above that default at ~20k×64-dim, so it planned a sort-merge
    * join that shuffled + sorted every candidate WITH its 512 B payload
    * (measured at 10×: 600 MB shuffle, 13 GB spill); the driver knows the
    * true size, so the hint is explicit. Above it, candidates shuffle to
    * the vectors instead (the only possible plan at that size).
    */
  val broadcastCap: Long = 128L << 20

  /** `df` broadcast when its estimated `bytes` fit [[broadcastCap]]. */
  private def sized(df: DataFrame, bytes: Long): DataFrame =
    if (bytes <= broadcastCap) broadcast(df) else df

  /** The (`idCol`, v, norm) projection of embedding column `vecCol`, cast
    * to ARRAY<DOUBLE> (registers the native functions the family needs).
    */
  def vectors(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    graft.functions.NativeFunctions.register(df.sparkSession)
    df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("norm", Similarity.l2norm(col("v")))
  }

  /** An (`idCol`, v, norm) frame as join-back side `s`: (`id`, v_s, n_s). */
  def joinBack(vecs: DataFrame, idCol: String, id: String, s: String): DataFrame =
    vecs.select(col(idCol).as(id), col("v").as(s"v_$s"), col("norm").as(s"n_$s"))

  /** Exact cosine of the joined-back sides `a` and `b`. */
  def cosine(a: String, b: String): Column =
    Similarity.dot(col(s"v_$a"), col(s"v_$b")) / (col(s"n_$a") * col(s"n_$b"))

  /** One signature family: `tables` codes of `planesPerTable` bits each
    * from the ±1 plane `signs` ([[Similarity.hyperplaneSigns]], materialized
    * once), its guard named `what`. The public constructor makes the cosine
    * family, planes `0 until tables·planesPerTable` over `dim` dimensions;
    * [[mih]] makes the Hamming one. Every side that meets another in a
    * bucket join must be banded by the same family; an empty corpus
    * degenerates to dim 0 / empty signs and an empty result, not a throw.
    */
  final class Family private[HyperplaneLsh] (
      spark: SparkSession, val planesPerTable: Int, val tables: Int,
      private[graft] val signs: Array[Array[Double]], what: String) {
    def this(spark: SparkSession, planesPerTable: Int, tables: Int, dim: Int) =
      this(spark, planesPerTable, tables,
        Similarity.hyperplaneSigns(spark, tables * planesPerTable, 0, dim), What)

    val dim: Int = signs.headOption.fold(0)(_.length)

    /** The error a bad vector in embedding column `vecCol` raises. */
    private def badVector(vecCol: String): Column =
      raise_error(lit(s"$what: embedding column '$vecCol' holds a " +
        s"null vector, a null element or a vector whose dimension is not " +
        s"$dim; embeddings must be non-null with one fixed dimension"))

    /** The signatures of `vec` (ARRAY<DOUBLE> of embedding column `vecCol`),
      * one per table, all computed in ONE fused codegen loop
      * (`hyperplane_signatures`, bit-identical to the per-plane
      * `dot_product` form, spec-pinned; at adaptive knob sizes the
      * per-plane expression forest fell out of whole-stage codegen and ran
      * interpreted, ~7 s per 32 planes at 10×). Where the loop returns
      * NULL — a null vector, a null element or a wrong dimension — the
      * query fails naming `vecCol` instead of the row vanishing at an
      * explode; valid rows never evaluate the error branch.
      */
    private def signatures(vec: Column, vecCol: String): Column =
      coalesce(graft.functions.NativeFunctions.hyperplaneSignatures(
        spark, vec, signs.flatten, planesPerTable, tables), badVector(vecCol))

    /** `v`'s (`keep`…, tbl, sig) rows, its vector in column v. */
    def bands(v: DataFrame, vecCol: String, keep: Column*): DataFrame =
      v.select(keep :+ posexplode(signatures(col("v"), vecCol))
        .as(Seq("tbl", "sig")): _*)

    /** The norm column, failing as [[bands]] does where it is NULL — for a
      * plan whose filter on the norm could be pushed below the explode.
      */
    def normOrFail(vecCol: String): Column =
      coalesce(col("norm"), badVector(vecCol))

    /** Driver-side estimate of `rows` vectors as an (id, v, norm) lookup. */
    def vectorBytes(rows: Long): Long = rows * (dim.toLong * 8 + 48)

    /** Driver-side estimate of `rows` vectors' banded (id, tbl, sig) rows. */
    def bandBytes(rows: Long): Long = rows * tables.toLong * 40

    /** Self-pairs of `v` (`idCol`, v, norm), `n` rows: (id_a < id_b,
      * cosine) for pairs sharing a bucket in ANY table whose cosine clears
      * `threshold`.
      */
    def selfPairs(v: DataFrame, n: Long, idCol: String, vecCol: String,
                  threshold: Double): DataFrame =
      verify(bands(v, vecCol, col(idCol).as("id_a"))
        .join(sized(bands(v, vecCol, col(idCol).as("id_b")), bandBytes(n)),
          Seq("tbl", "sig"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b"), idCol, threshold, ("a", v, n), ("b", v, n))

    /** Fresh-vs-corpus screen: `fresh` (`idCol`, v, norm), `nFresh` rows,
      * is banded here and probes `corpusBands` (corpus_id, tbl, sig) —
      * live bands or the standing signature table; `corpus` (`idCol`, v,
      * norm), `nCorpus` rows, is the corpus lookup. Returns (fresh_id,
      * corpus_id, cosine). The fresh batch is the natural broadcast; past
      * the cap the probe join shuffles only the fresh side against a
      * bucketed corpus table.
      */
    def screen(fresh: DataFrame, nFresh: Long, corpusBands: DataFrame,
               corpus: DataFrame, nCorpus: Long, idCol: String,
               vecCol: String, threshold: Double): DataFrame =
      verify(corpusBands
        .join(sized(bands(fresh, vecCol, col(idCol).as("fresh_id")),
          bandBytes(nFresh)), Seq("tbl", "sig"))
        .select("fresh_id", "corpus_id"), idCol, threshold,
        ("f", fresh, nFresh), ("c", corpus, nCorpus))

    /** VERIFY-THEN-DISTINCT: candidate occurrences (idA, idB) stream
      * straight through both size-ruled join-backs (each side a (tag,
      * vectors, rows) triple) and the exact-cosine filter, and only
      * SURVIVORS reach the dedup exchange. Distinct before the join-backs
      * shuffled every raw occurrence (measured at 10×/(8,16): a 716 MB
      * exchange + 7.8 GB aggregate spill for 14.7M candidates of which
      * 0.24% survive). A pair co-occurring in k tables is verified k
      * times, but k is ~1 for the bulk and the codegen'd dot is far
      * cheaper than shuffling an occurrence; the duplicates are
      * bit-identical rows (same vectors, same fold order), so the final
      * distinct collapses them exactly.
      */
    private def verify(candidates: DataFrame, idCol: String, threshold: Double,
                       a: (String, DataFrame, Long),
                       b: (String, DataFrame, Long)): DataFrame = {
      val Array(idA, idB) = candidates.columns
      def side(id: String, s: (String, DataFrame, Long)) =
        sized(joinBack(s._2, idCol, id, s._1), vectorBytes(s._3))
      candidates.join(side(idA, a), Seq(idA)).join(side(idB, b), Seq(idB))
        .withColumn("cosine", cosine(a._1, b._1))
        .filter(col("cosine") >= threshold)
        .select(idA, idB, "cosine")
        .distinct()
    }

    /** The band-code array of embedding column `vecCol`: one
      * `planesPerTable`-bit code per table, MSB-first per band in row-major
      * plane order (spec-pinned). Kept as SEPARATE small integers, never one
      * packed word — no sign-bit or overflow hazard, and the band is the
      * join key.
      */
    def codes(vecCol: String): Column =
      signatures(col(vecCol).cast("array<double>"), vecCol)

    /** `coded`'s rows exploded over its code array `codeCol`, one per band:
      * (`keep`…, band, band_val).
      */
    def explodeCodes(coded: DataFrame, codeCol: String, keep: Column*): DataFrame =
      coded.select(keep :+ posexplode(col(codeCol)).as(Seq("band", "band_val")): _*)

    /** `df` coded and exploded: (`idAs`, `codeAs`, band, band_val) — the
      * standing code table's layout, so a probe and the index it reads can
      * never band differently.
      */
    def codeBands(df: DataFrame, idCol: String, vecCol: String, idAs: String,
                  codeAs: String): DataFrame =
      explodeCodes(df.select(col(idCol).as(idAs), codes(vecCol).as(codeAs)),
        codeAs, col(idAs), col(codeAs))

    /** Expand each band row into its Hamming BALL in band space: the band
      * value itself plus, at `ballRadius` 1, every single-bit flip — one
      * explode over a (planesPerTable+1)-element array built from the
      * materialized `band_val` column (cheap integer XORs; nothing about
      * the code is recomputed). Probing is fresh-side only, so a standing
      * code table serves any ball radius unchanged. Radius > 1 is not
      * implemented: the ball grows as C(bandBits, r) and the guarantee step
      * (bands·(r+1)−1) is better bought with more bands.
      */
    def ball(bandRows: DataFrame, ballRadius: Int): DataFrame = {
      require(ballRadius >= 0 && ballRadius <= 1,
        s"probeBallRadius must be 0 or 1, got $ballRadius")
      if (ballRadius == 0) bandRows
      else {
        val flips = array((col("band_val") +:
          (0 until planesPerTable).map(b =>
            col("band_val").bitwiseXOR(lit(1L << b)))): _*)
        bandRows.select(bandRows.columns.toIndexedSeq
          .filter(_ != "band_val").map(col) :+
          explode(flips).as("band_val"): _*)
      }
    }

    /** Full-code Hamming distance between code-array columns `a` and `b`:
      * Σ over bands of bit_count(xor) — pure integer arithmetic, one
      * codegen projection.
      */
    def hamming(a: String, b: String): Column =
      (1 to tables).map(j => bit_count(element_at(col(a), j)
        .bitwiseXOR(element_at(col(b), j))).cast("long")).reduce(_ + _)

    /** Band rows `probes` ⋈ band rows `coded` on (band, band_val), pairs of
      * one id (`idA` = `idB`) dropped: one row per shared band.
      */
    def candidates(probes: DataFrame, coded: DataFrame, idA: String,
                   idB: String): DataFrame =
      probes.join(coded, Seq("band", "band_val")).filter(col(idA) =!= col(idB))

    /** The radius screen's probe: `fresh` is coded and ball-expanded, joins
      * `corpusCodes` (corpus_id, c_code, band, band_val) — live code bands
      * or the standing code table — and yields (fresh_id, corpus_id,
      * hamming) with hamming ≤ `radius`, once per shared band (not
      * deduplicated).
      */
    def probe(fresh: DataFrame, idCol: String, vecCol: String,
              corpusCodes: DataFrame, radius: Int, ballRadius: Int): DataFrame =
      candidates(ball(codeBands(fresh, idCol, vecCol, "fresh_id", "f_code"),
        ballRadius), corpusCodes, "fresh_id", "corpus_id")
        .select(col("fresh_id"), col("corpus_id"),
          hamming("f_code", "c_code").as("hamming"))
        .filter(col("hamming") <= radius)
  }
}
