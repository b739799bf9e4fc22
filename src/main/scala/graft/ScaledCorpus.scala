package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-smoke corpus builder (VERDICT r7 #5): derive an N×-scaled
  * documents/embeddings set from a driver-provided sf dir, preserving the
  * workload's SHAPE so heavy-family work metrics can be compared across a
  * true 10× step:
  *
  *  - `documents`: each source row becomes `factor` replicas with remapped
  *    ids and the text pushed through a per-replica LENGTH-PRESERVING
  *    character bijection (replica 0 is the base corpus verbatim; replica
  *    r ≥ 1 `translate`s the 94 printable-ASCII characters 0x21–0x7E onto
  *    the 94-codepoint window at U+4E00 + 94·(r−1) in the CJK block —
  *    space is NOT remapped, so tokenization rides verbatim). Replica
  *    groups are therefore token-DISJOINT — shingles, minhash bands,
  *    Jaccard pairs and edit-gram collisions never cross replicas — so
  *    the result behaves like `factor` independent shards of the same
  *    generator: dup fraction, per-source mix, doc/token-LENGTH
  *    distribution and per-position character entropy all stay constant
  *    while volume scales. (A verbatim copy would instead make every
  *    replica a dup of its siblings and grow pair counts quadratically in
  *    `factor` — a different workload, not a bigger one.) Pair-count
  *    linearity and char-exact length preservation are spec-pinned
  *    (`ScaledCorpusSpec`).
  *
  *    Why a bijection and not a token prefix (the r14 lesson — VERDICT
  *    r14 #1): the previous scaler prefixed every token `r{rep}_`, which
  *    changes PER-TOKEN LENGTH as a function of the scale factor. Any
  *    operator with a fixed character window saw different content per
  *    scale step — at two-digit reps the 4-char prefix consumed ~44% of
  *    the edit family's 64-char title slice and collapsed within-replica
  *    gram rarity, manufacturing a ×30 superlinearity that belonged to
  *    the INSTRUMENT, not the operator (48.6M prefix-join candidates at
  *    ×30 vs 105k at ×10). A per-character bijection is the scaleEvents
  *    recipe applied to text: remap the identity space (here, the
  *    alphabet), keep everything metric verbatim — distinct grams stay
  *    distinct, identical grams identical, so within-replica gram df is
  *    ISOMORPHIC to the base corpus at every factor. Token disjointness
  *    holds for any token containing at least one printable-ASCII
  *    character (the driver corpus is pure ASCII — TESTDATA canary).
  *  - `embeddings`: `factor` replicas with remapped ids and a per-replica
  *    hash-derived SIGNED PERMUTATION (coordinate permutation ∘ ±1 sign
  *    diagonal) applied to the vector (VERDICT r8 #2 — the earlier cyclic
  *    shift mapped one vector's dominant axis onto another's, so
  *    cross-replica cosines were NOT random-pair-like and the r8 smoke's
  *    pair count partly measured the artifact). A signed permutation is
  *    orthogonal and IEEE-exact per component (moves + sign-bit flips, no
  *    arithmetic), so intra-replica dot products contain exactly the base
  *    run's terms (reordered summation → values equal to ~1 ulp; replica 0
  *    is verbatim and bit-identical — both spec-pinned).
  *
  *    Why not the plain sign diagonal VERDICT r8 suggested: measured on
  *    this corpus it is insufficient — sign flips keep each component on
  *    its own axis, so cross-replica versions of correlated pairs (and of
  *    a vector with itself, Σ±x_i² with std √(Σx_i⁴) ≈ 0.21 at effective
  *    dim ≈ 22) retain fat tails; the measured cross-replica pair density
  *    at the 0.4 threshold was 5.9e-4 vs the generator's own random-pair
  *    density 4.6e-4. The permutation decouples the axes, making
  *    cross-replica dots statistically indistinguishable from the
  *    generator's own random pairs (std ≈ 1/√d = 0.125).
  *
  *    What "decorrelated" can and cannot mean here: these embeddings are
  *    near-generic 64-dim directions (no injected high-cosine near-dups;
  *    max base pair cosine ≈ 0.6), so the ≥0.4-pair population IS the
  *    random-pair tail and its count grows ~quadratically in corpus size
  *    for ANY faithful scaling — in d=64 a sphere-packing argument rules
  *    out 10×-more vectors with pairwise cosine < 0.4. The honest 10×
  *    yardstick is therefore pair DENSITY (pairs / C(n,2) ≈ 4.6e-4,
  *    constant), not pair count; count linearity holds only for
  *    thresholds ≥ ~0.75 where the random tail vanishes (≈0 pairs).
  *
  * This is a measurement utility for SCALE.md's empirical scaling table,
  * not a pipeline operator: it runs once, writes parquet under the given
  * out dir (inside the repo's target/), and the bench is then pointed at
  * that dir with `SPARK_GRAFT_BENCH_ONLY`.
  */
object ScaledCorpus {

  /** Printable ASCII, 0x21–0x7E — space excluded so whitespace
    * tokenization is invariant under the replica bijection.
    */
  private val RemapFrom: String = (0x21 to 0x7e).map(_.toChar).mkString

  /** Replica r ≥ 1's image alphabet: the 94-codepoint window at
    * U+4E00 + 94·(r−1) — BMP, single UTF-16 unit per char, so Spark's
    * char-counting `length`/`substring`/`levenshtein` see EXACTLY the
    * base corpus's geometry. The CJK block (U+4E00–U+9FFF, ~21k points)
    * bounds the factor at 200 replicas, far past any smoke.
    */
  private def remapTo(rep: Int): String = {
    require(rep >= 1 && rep <= 200, s"replica $rep outside the CJK window")
    (0 until RemapFrom.length).map(i => (0x4E00 + 94 * (rep - 1) + i).toChar).mkString
  }


  /** Class-preserving id remap: with base = classMod·q + m, the replica
    * id is classMod·(q·factor + rep) + m — key-disjoint across replicas
    * AND `id % d` is preserved verbatim for every divisor d of classMod.
    *
    * Why the class matters (the r15 lesson): the harness splits
    * fresh/corpus by residue classes (documents `% 10`, embeddings
    * `% 8`, the CDC/PIT order window `% 3000` with `% 5`/`% 10`/`% 15`
    * mixes inside). Under the naive `id·factor + rep` remap the residue
    * becomes the REPLICA (id % 10 = rep), so "fresh" collapsed onto
    * replica 0 — which is content-disjoint from every other replica by
    * construction — and a scaled screen measured ZERO collisions
    * (DuckDB replay: 103k candidates at 1×, 0 at ×10) while claiming to
    * scale the workload. Preserving the class keeps every replica
    * contributing to BOTH sides of each split, so per-replica workload
    * is the base workload verbatim. classMod = 1 degenerates to the
    * plain `id·factor + rep` (events, part/supp keys — no class splits).
    */
  private def remapId(base: org.apache.spark.sql.Column, rep: org.apache.spark.sql.Column,
                      factor: Int, classMod: Int): org.apache.spark.sql.Column = {
    // widen FIRST (ADVICE r15): an id column read as 32-bit int would
    // otherwise multiply in its native type and silently wrap (non-ANSI)
    // before the final cast, colliding replica ids at large ids × factors
    val b = base.cast("long")
    val m = pmod(b, lit(classMod.toLong))
    ((b - m) * factor + rep.cast("long") * classMod + m)
  }

  /** `factor` token-disjoint replicas; ids remapped class-preservingly
    * (classMod 10 — the harness's doc split),
    * text pushed through the per-replica length-preserving character
    * bijection (replica 0 verbatim — see the class doc). One `translate`
    * per row against a driver-built literal table indexed by `rep`: a
    * single pass over the scan, no shuffle, no UDF.
    */
  def scaleDocuments(docs: DataFrame, factor: Int): DataFrame = {
    val tos = typedLit((1 until factor).map(remapTo))
    val rep = explode(sequence(lit(0), lit(factor - 1))).as("rep")
    docs
      .select(col("*"), rep)
      .select(
        remapId(col("doc_id"), col("rep"), factor, 10).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(call_function("translate",
            col("text"), lit(RemapFrom), element_at(tos, col("rep"))))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Replica r's BYTE-length-preserving image alphabet: the printable
    * ASCII window ROTATED by r positions within itself — every image
    * char is single-byte UTF-8, so `octet_length`, gear/fixed chunk
    * boundaries, shuffle MB and every other byte-denominated quantity
    * ride exactly (the CJK window is 3 bytes/char — 2.64× heavier
    * replicas, which made the media family's scale curves upper bounds;
    * VERDICT r15 #4). Rotation is a bijection on the SAME alphabet, so
    * cross-replica content collisions are no longer structurally zero:
    * a rotated q-gram CAN coincide with an organic gram of another
    * replica. That makes this the instrument for the MEDIA/chunk
    * families only, whose collision unit is a ≥2^maskBits-byte
    * content-defined chunk (a 64+-byte substring whose rotation is
    * another corpus substring — probability ~0, and the spec pins the
    * measured cross-replica duplicate-digest count at ZERO on the
    * fixture). Text-gram families keep the CJK bijection, which buys
    * structural disjointness at the price of byte inflation.
    */
  private def remapToBytes(rep: Int): String = {
    require(rep >= 1 && rep <= 93, s"replica $rep outside the rotation window")
    (0 until RemapFrom.length)
      .map(i => RemapFrom((i + rep) % RemapFrom.length)).mkString
  }

  /** [[scaleDocuments]] with the byte-length-preserving rotation
    * alphabet (see [[remapToBytes]]) — same class-preserving id remap,
    * same single-`translate` pass; replica 0 verbatim.
    */
  def scaleDocumentsBytes(docs: DataFrame, factor: Int): DataFrame = {
    val tos = typedLit((1 until factor).map(remapToBytes))
    val rep = explode(sequence(lit(0), lit(factor - 1))).as("rep")
    docs
      .select(col("*"), rep)
      .select(
        remapId(col("doc_id"), col("rep"), factor, 10).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(call_function("translate",
            col("text"), lit(RemapFrom), element_at(tos, col("rep"))))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Deterministic splitmix64-derived signed permutation for replica `rep`
    * over dimension `d`: (perm, signs) with y_i = signs(i) · x_{perm(i)}.
    * Pure function of (rep, d) — the scaled corpus is bit-reproducible
    * across runs and partitionings.
    */
  def signedPerm(rep: Int, d: Int): (Array[Int], Array[Float]) = {
    def mix(x: Long): Long = {
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // seed through the splitmix FINALIZER, not a raw GAMMA multiple
    // (ADVICE r9): seeding state = GAMMA·(rep+1) made replica r+1's draw
    // stream exactly replica r's shifted by one position — overlapping
    // entropy that left the decorrelation resting on the permutation alone.
    // mix(rep) places each replica at an unrelated point of the sequence.
    var state = mix(rep + 1L)
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      mix(state)
    }
    val perm = Array.tabulate(d)(identity)
    var i = d - 1
    while (i > 0) { // Fisher–Yates over the splitmix stream
      val j = java.lang.Math.floorMod(next(), i + 1L).toInt
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    val signs = Array.fill(d)(if (next() >= 0L) 1.0f else -1.0f)
    (perm, signs)
  }

  /** `factor` replicas under per-replica signed permutations; ids remapped.
    * Replica 0 is the base corpus verbatim. The (perm, signs) tables are
    * driver-computed literals indexed by `rep` inside one `zip_with` over
    * the scan — a single pass, no shuffle, no UDF.
    */
  def scaleEmbeddings(embs: DataFrame, factor: Int): DataFrame = {
    val d = graft.operators.Similarity.vectorDim(embs, "embedding")
    val sp = (0 until factor).map(r => signedPerm(r, d))
    val perms = typedLit(sp.map(_._1.toSeq))
    val signs = typedLit(sp.map(_._2.toSeq))
    val rep = explode(sequence(lit(0), lit(factor - 1))).as("rep")
    embs
      .select(col("*"), rep)
      .select(
        remapId(col("vec_id"), col("rep"), factor, 8).as("vec_id"),
        when(col("rep") === 0, col("embedding")).otherwise(
          zip_with(
            element_at(perms, col("rep") + 1),
            element_at(signs, col("rep") + 1),
            (src, s) => element_at(col("embedding"), src + 1) * s))
          .as("embedding"),
        col("label"))
  }

  /** `factor` KEY-DISJOINT replicas of the events table: user and event
    * ids remap off each other's key space (`id*factor + rep`), everything
    * else — ts, event_type, value, props — rides verbatim. Per-key series
    * length, event-type mix and per-key time density therefore stay
    * constant while key cardinality and total volume scale ×factor: the
    * honest 10× for the STREAMING families, whose state is keyed by
    * user/session/window (sessionization, dedup-by-id, per-key EWMA,
    * stream-stream join buffers) — state grows linearly in keys, never
    * quadratically in pairs, and no replica's events can join or session
    * with another's. A verbatim copy would instead put `factor` identical
    * event series on each key, growing per-key state and join fan-out by
    * ×factor at CONSTANT key count — a different workload, not a bigger
    * one (the documents lesson, key-space flavored).
    */
  def scaleEvents(events: DataFrame, factor: Int): DataFrame = {
    val rep = explode(sequence(lit(0), lit(factor - 1))).as("rep")
    events
      .select(col("*"), rep)
      .select(
        remapId(col("event_id"), col("rep"), factor, 1).as("event_id"),
        col("ts"),
        remapId(col("user_id"), col("rep"), factor, 1).as("user_id"),
        col("event_type"), col("value"), col("props"))
  }

  /** `factor` KEY-DISJOINT replicas of the TPC-H pair (VERDICT r14 #5 —
    * the last out-of-scope rows in the streaming ×10 contract, e29/e30):
    * every key column remaps `id·factor + rep` (orderkeys CONSISTENTLY
    * across both tables, so each replica's lineitems land on its own
    * orders), everything metric — dates, prices, statuses, linenumbers —
    * rides verbatim: the scaleEvents recipe. Lines-per-order, update
    * mix and date density stay constant while key cardinality and volume
    * scale ×factor.
    *
    * Window interaction: the CDC/PIT queries select orders by the
    * FRACTION window `o_orderkey % 3000 < j`, with inner `% m` update
    * mixes for m ∈ {5, 10, 15}. The classMod-3000 remap preserves
    * `o_orderkey % 3000` VERBATIM on every replica (and with it every
    * `% d` for d dividing 3000) for ANY factor — so each replica's
    * selected window fraction, and the update-mix composition inside
    * it, is the base workload's exactly (spec-pinned; the r15 class-
    * preservation lesson). Splits on residues of non-divisors of 3000
    * would scramble per replica — none of the TPC-H fixtures use one.
    */
  def scaleOrders(orders: DataFrame, factor: Int): DataFrame = {
    val rep = explode(sequence(lit(0), lit(factor - 1))).as("rep")
    orders
      .select(col("*"), rep)
      .select(
        remapId(col("o_orderkey"), col("rep"), factor, 3000).as("o_orderkey"),
        remapId(col("o_custkey"), col("rep"), factor, 1).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
  }

  /** [[scaleOrders]]'s fact side: `l_orderkey` remaps under the SAME
    * `id·factor + rep`, so replica r's lineitems reference exactly
    * replica r's orders.
    */
  def scaleLineitem(lineitem: DataFrame, factor: Int): DataFrame = {
    val rep = explode(sequence(lit(0), lit(factor - 1))).as("rep")
    lineitem
      .select(col("*"), rep)
      .select(
        remapId(col("l_orderkey"), col("rep"), factor, 3000).as("l_orderkey"),
        remapId(col("l_partkey"), col("rep"), factor, 1).as("l_partkey"),
        remapId(col("l_suppkey"), col("rep"), factor, 1).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
  }

  /** ×factor replicas of the three scaling DIMENSIONS (VERDICT r19 #5 —
    * the q-family sweep needs every table its joins read): keys remap
    * under the SAME `id·factor + rep` as the fact-side foreign keys
    * ([[scaleOrders]]' o_custkey, [[scaleLineitem]]'s l_partkey /
    * l_suppkey), so replica r's facts join exactly replica r's dims and
    * join OUTPUT scales ×factor with the input — the TPC-H SF contract
    * (customer/supplier/part grow with SF; nation/region stay fixed and
    * ride verbatim). Attribute columns repeat across replicas, so
    * group-by-attribute cardinality stays constant while counts scale.
    */
  private def scaleByKey(df: DataFrame, key: String, factor: Int): DataFrame = {
    val rep = explode(sequence(lit(0), lit(factor - 1))).as("rep")
    df.select(col("*"), rep)
      .select(remapId(col(key), col("rep"), factor, 1).as(key) +:
        df.columns.filterNot(_ == key).map(col): _*)
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/scale10")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // "bytes": documents through the byte-length-preserving rotation
    // alphabet (the media-family instrument) instead of the CJK bijection
    val bytesMode = args.lift(3).contains("bytes")
    val spark = GraftSession.posture(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")

    val docScaler: (DataFrame, Int) => DataFrame =
      if (bytesMode) scaleDocumentsBytes else scaleDocuments
    docScaler(spark.read.parquet(s"$src/documents.parquet"), factor)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    scaleEmbeddings(spark.read.parquet(s"$src/embeddings.parquet"), factor)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    scaleEvents(spark.read.parquet(s"$src/events.parquet"), factor)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    scaleOrders(spark.read.parquet(s"$src/orders.parquet"), factor)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    scaleLineitem(spark.read.parquet(s"$src/lineitem.parquet"), factor)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // scaling dims ride the fact FKs' remap; fixed dims copy verbatim
    Seq("customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey").foreach { case (t, k) =>
      scaleByKey(spark.read.parquet(s"$src/$t.parquet"), k, factor)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    println(s"""{"scaled":"$out","factor":$factor,"src":"$src"}""")
    spark.stop()
  }
}
