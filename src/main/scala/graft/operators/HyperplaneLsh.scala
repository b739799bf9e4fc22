package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The multi-table hyperplane-LSH machinery shared by every cosine-space
  * near-dup entry point — the self-pairs ([[Dedup.embeddingCosinePairsLsh]]),
  * the direct and indexed fresh-vs-corpus screens
  * ([[Dedup.incrementalEmbeddingPairsLsh]],
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
  * Scale shape: candidates form only inside (table, signature) buckets,
  * never all-pairs; past the cap a side falls back to the shuffle join.
  */
private[graft] object HyperplaneLsh {

  /** Names every signature guard: the error a bad vector raises. */
  private val What = "LSH signatures"

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

  /** One signature family: `tables` codes of `planesPerTable` bits over
    * `dim`-dimensional vectors, from the deterministic hash-derived planes
    * `0 until tables·planesPerTable` ([[Similarity.hyperplaneSigns]],
    * materialized once here). Every side that meets another in a bucket
    * join must be banded by the same family; an empty corpus degenerates
    * to dim 0 / empty signs and an empty result, not a throw.
    */
  final class Family(spark: SparkSession, val planesPerTable: Int,
                     val tables: Int, val dim: Int) {
    private val signs =
      Similarity.hyperplaneSigns(spark, tables * planesPerTable, 0, dim)

    /** `v`'s (`keep`…, tbl, sig) rows, its vector in column v. All
      * signatures are computed in ONE fused codegen loop
      * (`hyperplane_signatures`, bit-identical to the per-plane
      * `dot_product` form, spec-pinned; at adaptive knob sizes the
      * per-plane expression forest fell out of whole-stage codegen and ran
      * interpreted, ~7 s per 32 planes at 10×); a null vector, a null
      * element or a wrong dimension fails the query naming `vecCol`
      * instead of vanishing at the explode.
      */
    def bands(v: DataFrame, vecCol: String, keep: Column*): DataFrame =
      v.select(keep :+ posexplode(Similarity.signaturesOrFail(spark, What,
        col("v"), vecCol, signs, planesPerTable, tables)).as(Seq("tbl", "sig")): _*)

    /** The norm column, failing as [[bands]] does where it is NULL — for a
      * plan whose filter on the norm could be pushed below the explode.
      */
    def normOrFail(vecCol: String): Column =
      coalesce(col("norm"), Similarity.badVector(What, vecCol, dim))

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
  }
}
