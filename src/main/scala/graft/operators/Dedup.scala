package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for LLM-corpus curation (SURVEY §2.11).
  *
  * Scale design: every variant is a shingle/signature → shuffle-on-key →
  * bucket-local pair generation shape. Nothing ever materializes the full
  * O(n²) pair space — candidates come from co-bucketed keys only, and the
  * candidate key space (shingles, LSH bands, simhash bands) is tunable so
  * bucket sizes stay bounded at 100 TB. `maxDocFreq` caps pathological hub
  * shingles (stop-shingles shared by everything) exactly like a df-cut in IR.
  *
  * Caching note: the Jaccard/MinHash operators persist their shingle
  * intermediate and the cosine-LSH operator its vector projection
  * (MEMORY_AND_DISK, spillable) because each feeds 2-3 downstream consumers
  * of the returned lazy plan (so they cannot be unpersisted eagerly), and
  * [[dupClusters]] leaves its FINAL round persisted as an RDD (the returned
  * frame is built on it). The handles are internal, so a long-lived session
  * running many dedup passes should call [[graft.SessionSweep.sweep]]
  * between corpora — it clears both the SQL cache AND RDD-level persists,
  * which `spark.catalog.clearCache()` alone does not.
  */
object Dedup {

  /** Exact dedup, deterministic survivor: keep the lowest `tieBreak` row per
    * key group (`dropDuplicates` picks an arbitrary row — unusable for
    * reproducible corpus builds). One hash-shuffle on the key columns.
    */
  def exact(df: DataFrame, keys: Seq[String], tieBreak: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tieBreak))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Distinct (doc, shingle) pairs for `idCol` over k-word shingles. By
    * default persisted (spillable, guarded against double-persist): the set
    * feeds sizes + both self-join branches, so the shingle higher-order
    * expression should run one corpus pass, not three. `persist = false` is
    * the 100 TB escape hatch (see SCALE.md "shingle set"): the persist is
    * itself corpus-scale storage, so a caller that keeps a STANDING shingle
    * table (the d11 ingest shape — write this frame out bucketed by
    * shingle, read it back for every consumer) or accepts recompute should
    * opt out rather than spill a second copy of the corpus.
    */
  private[graft] def shingleSet(docs: DataFrame, idCol: String, textCol: String, k: Int,
                                persist: Boolean = true,
                                spread: Boolean = true): DataFrame = {
    // array_distinct BEFORE the explode: `idCol` is part of the output key,
    // so per-doc dedup of the shingle array IS the globally-distinct
    // (doc, shingle) set — identical rows to explode-then-`.distinct()`,
    // with zero shuffle (a full exchange of the corpus's largest
    // intermediate, removed; the set materializes in one scan stage).
    // Core-width spread BEFORE the shingle projection (optimization r21,
    // guide §2.5): a sub-split corpus otherwise shingles in ONE task —
    // measured ×10 d02 9.6 → 5.1 s — and the keyed spread doubles as the
    // per-doc set-size aggregation's exchange. No-op at corpus scale (scan
    // already ≥ cluster width). `spread = false` for the two shapes where
    // the extra exchange is wrong: BUCKETED INDEX BUILDS (an unaligned
    // multi-partition plan writes one file per task per bucket — the
    // layout contract is one per bucket) and fresh-side PROBES against a
    // standing index (batch-sized by contract; the probe path is pinned
    // exchange-free on the index side and broadcast-only on the fresh
    // side).
    val base =
      if (spread) Caching.coreWidthBy(docs.select(col(idCol), col(textCol)),
        col(idCol))
      else docs
    val sh = base
      .select(col(idCol),
        explode(array_distinct(graft.functions.NativeFunctions.wordShinglesFused(
          docs.sparkSession, tokens(col(textCol)), k))).as("shingle"))
    if (persist) Caching.persisted(sh) else sh
  }

  /** Exact n-gram Jaccard near-dup pairs: J(A,B) = |A∩B| / |A∪B| over k-word
    * shingle sets, emitted for J ≥ threshold with id_a < id_b.
    *
    * Plan shape: per-doc array_distinct → shingle explode (no global
    * distinct needed — see [[shingleSet]]) → self-join on shingle (hash
    * shuffle on the shingle key; co-bucketed docs meet locally) → pair-count
    * aggregation → broadcast-join per-doc set sizes. `maxDocFreq` (off by
    * default) drops shingles appearing in more than that many docs before the
    * self-join — the standard df-cut that keeps hub keys from exploding the
    * candidate space at scale (changes semantics: pairs sharing only hub
    * shingles are missed; apply the same cut in any oracle).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 4, threshold: Double = 0.5,
                        maxDocFreq: Option[Int] = None,
                        persistShingles: Boolean = true): DataFrame = {
    val sh = shingleSet(docs, idCol, textCol, k, persistShingles)
    val filtered = maxDocFreq match {
      case Some(cap) =>
        val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("shingle")
        sh.join(hot, Seq("shingle"), "left_anti")
      case None => sh
    }
    SetOverlap.selfPairs(filtered, idCol, "shingle")
      .withColumn("jaccard", SetOverlap.jaccard("inter", "sz_a", "sz_b"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Shingle CONTAINMENT pairs: C(A→B) = |A∩B| / |A| over k-word shingle
    * sets, emitted DIRECTED for C ≥ threshold — the asymmetric duplication
    * Jaccard structurally misses: a short doc quoted whole inside a long
    * one has containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0, so a
    * Jaccard-thresholded pass keeps both copies of every quote, license
    * block and syndicated excerpt. Returns
    * (contained_id, container_id, containment), both directions of a pair
    * tested independently.
    *
    * Scale shape: identical to [[ngramJaccardPairs]] — the one shingle-key
    * shuffle generates candidates, the denominators join per side — only
    * the final ratio differs, so the same bucket-boundedness (and the same
    * hub-shingle caveat) applies. The two directions derive from ONE
    * intersection count; nothing is paired twice.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 4, threshold: Double = 0.8,
                       persistShingles: Boolean = true): DataFrame = {
    val both = SetOverlap.selfPairs(
      shingleSet(docs, idCol, textCol, k, persistShingles), idCol, "shingle")
    both.select(col("id_a").as("contained_id"), col("id_b").as("container_id"),
        (col("inter") / col("sz_a")).as("containment"))
      .union(both.select(col("id_b").as("contained_id"),
        col("id_a").as("container_id"),
        (col("inter") / col("sz_b")).as("containment")))
      .filter(col("containment") >= threshold)
  }

  /** Incremental near-dup screening: which `fresh` docs are near-dups of the
    * EXISTING `corpus` — the daily-ingest shape (screen today's crawl against
    * the standing corpus; never re-pair the corpus against itself). Same
    * shingle-bucket candidate generation as [[ngramJaccardPairs]], but the
    * join is fresh-vs-corpus, so the pair space is
    * O(fresh shingles × bucket occupancy), independent of corpus-side
    * self-pairs. At scale the corpus shingle table is the standing index
    * (bucketed/partitioned by shingle); each ingest shuffles only the
    * fresh batch. Returns (fresh_id, corpus_id, jaccard).
    */
  def incrementalJaccardPairs(fresh: DataFrame, corpus: DataFrame,
                              idCol: String, textCol: String,
                              k: Int = 4, threshold: Double = 0.5,
                              persistShingles: Boolean = true): DataFrame = {
    val shC = shingleSet(corpus, idCol, textCol, k, persistShingles)
    screenShingles(shingleSet(fresh, idCol, textCol, k, persistShingles),
      shC, SetOverlap.sizes(shC, idCol, "set_size"), idCol, threshold)
  }

  /** [[SetOverlap.screen]] over shingle sets: `shF`/`shC` carry
    * (`idCol`, shingle), `sizeC` (`idCol`, set_size) — the standing index
    * layout. Returns (fresh_id, corpus_id, jaccard).
    */
  private def screenShingles(shF: DataFrame, shC: DataFrame, sizeC: DataFrame,
                             idCol: String, threshold: Double): DataFrame =
    SetOverlap.screen(shF.select(col(idCol).as("fresh_id"), col("shingle")),
      shC.select(col(idCol).as("corpus_id"), col("shingle")),
      sizeC.select(col(idCol).as("corpus_id"), col("set_size").as("sz_c")),
      "shingle", threshold)
      .select("fresh_id", "corpus_id", "jaccard")

  /** Names of the two warehouse tables that make up a standing shingle
    * index: the (id, shingle) set bucketed+sorted by `shingle` (the probe
    * join key) and the per-doc set sizes bucketed by `idCol` (the
    * post-aggregation join key).
    */
  final case class ShingleIndex(shingles: String, sizes: String)

  /** Materialize the standing shingle index for `corpus` — the SCALE.md
    * "standing index" escape for the Jaccard family's corpus-scale
    * intermediate: instead of persisting (or recomputing) the shingle set
    * per job, write it ONCE as a bucketed warehouse layout and run every
    * later consumer against the tables. Each daily
    * [[incrementalJaccardPairsIndexed]] screen then shuffles ONLY the
    * fresh batch: the corpus side of the probe join reads pre-bucketed,
    * pre-sorted files with no Exchange (the q33 zero-exchange pattern,
    * PlanSpec-pinned), and the sizes join likewise. `k` and `buckets` are
    * part of the layout contract — screen with the same `k` the index was
    * built with.
    */
  def writeShingleIndex(corpus: DataFrame, idCol: String, textCol: String,
                        index: ShingleIndex, k: Int = 4,
                        buckets: Int = 16): ShingleIndex = {
    SetOverlap.writeIndex(corpus.sparkSession, index.shingles, index.sizes,
      "set_size", buckets)(shingleSet(corpus, idCol, textCol, k,
        persist = false, spread = false))
    index
  }

  /** Fold an ACCEPTED ingest batch into a standing [[ShingleIndex]] — the
    * Jaccard-family compaction step (the d17 pattern for shingles),
    * exactly-once per `epoch` ([[SetOverlap.appendIndex]]), so tomorrow's
    * [[incrementalJaccardPairsIndexed]] screens against today's survivors
    * without a rebuild. `k` and `buckets` MUST be the index's own (they are
    * part of the layout contract, baked into the caller's table naming).
    */
  def appendShingleIndex(batch: DataFrame, index: ShingleIndex,
                         idCol: String, textCol: String,
                         k: Int = 4, buckets: Int = 16,
                         epoch: Long): ShingleIndex = {
    SetOverlap.appendIndex(shingleSet(batch, idCol, textCol, k,
      persist = false, spread = false), index.shingles, index.sizes,
      "set_size", buckets, epoch)
    index
  }

  /** [[incrementalJaccardPairs]] against a standing [[ShingleIndex]]
    * instead of a corpus DataFrame — identical results when the index was
    * built from the same corpus with the same `k` (spec-pinned); per-ingest
    * cost ∝ the fresh batch, with the corpus never re-shuffled.
    */
  def incrementalJaccardPairsIndexed(fresh: DataFrame, index: ShingleIndex,
                                     idCol: String, textCol: String,
                                     k: Int = 4,
                                     threshold: Double = 0.5): DataFrame =
    // spread = false: the fresh side is batch-sized by contract and the
    // probe plan is pinned broadcast-only on this side (d12/d28) — an
    // exchange here buys nothing and breaks the serving shape
    screenShingles(shingleSet(fresh, idCol, textCol, k, spread = false),
      fresh.sparkSession.table(index.shingles),
      fresh.sparkSession.table(index.sizes), idCol, threshold)

  /** [[incrementalJaccardPairs]] with a bloom semi-join reduction on the
    * corpus side — the third point in the ingest-screen design space
    * (direct / standing-index / bloom-pruned):
    *
    * A bloom sketch is built over the FRESH batch's shingle hashes (one job
    * over the small side; the sketch is ≤ `numBits/8` bytes and rides the
    * plan as a literal), and the CORPUS shingle stream is pruned by
    * `might_contain` before the shuffle join. The big shuffle's corpus side
    * then carries only shingles that might also occur in today's batch —
    * at daily-ingest ratios ~|fresh shingles| + fpp·|corpus| rows instead
    * of |corpus| rows. False positives are dropped by the exact join and
    * false negatives cannot occur, so results are identical to the direct
    * screen (spec-pinned; the d11 oracle applies verbatim).
    *
    * Spark's own `InjectRuntimeFilter` plants exactly this expression pair,
    * but only under its heuristics (a selective scan-level filter on the
    * build side); a whole-small-table build side never qualifies, hence the
    * explicit operator. The full-corpus pass for the Jaccard denominators
    * (per-doc set sizes) remains — that aggregation ships one row per doc
    * after map-side partial aggregation, not one per shingle, so the
    * shingle-key join shuffle this prunes is the dominant mover.
    *
    * Sizing: `bloomBits = 0` (default) derives ~8 bits per expected item
    * (≈2% fpp). The sketch is not free — it rides the plan as a literal, so
    * the driver re-hashes it during optimization and every task ships it:
    * an oversized 1 MiB sketch measurably costs ~1 s/run at bench scale
    * where a right-sized 256 KiB one is noise. Size to the BATCH (the build
    * side), never the corpus; undersizing only costs false-positive probe
    * rows that the exact join drops anyway.
    */
  def incrementalJaccardPairsBloomed(fresh: DataFrame, corpus: DataFrame,
                                     idCol: String, textCol: String,
                                     k: Int = 4, threshold: Double = 0.5,
                                     expectedFreshShingles: Long = 1L << 20,
                                     bloomBits: Long = 0L,
                                     persistShingles: Boolean = true): DataFrame = {
    // derived sizing is capped: the sketch is a driver-built plan literal,
    // so it must stay plan-sized no matter what the caller estimates. A
    // batch too big for the 8 MiB cap only raises fpp (never correctness);
    // a corpus screened repeatedly at that scale wants the standing index
    // (d12) instead of a per-run sketch.
    val bits =
      if (bloomBits > 0) bloomBits
      else math.min(math.max(expectedFreshShingles * 8, 1L << 16), 1L << 26)
    val shF = shingleSet(fresh, idCol, textCol, k, persistShingles)
    val shC = shingleSet(corpus, idCol, textCol, k, persistShingles)
    val sizeC = SetOverlap.sizes(shC, idCol, "set_size")
    val bloom = graft.functions.NativeFunctions.bloomAggBytes(
      shF, xxhash64(col("shingle")), expectedFreshShingles, bits)
    val pruned = shC.filter(graft.functions.NativeFunctions.mightContain(
      shC.sparkSession, bloom, xxhash64(col("shingle"))))
    screenShingles(shF, pruned, sizeC, idCol, threshold)
  }

  /** MinHash + LSH near-dup pairs: signature → band keys → bucket self-join
    * (candidates) → exact Jaccard verification ≥ threshold.
    *
    * Candidate generation touches only docs sharing an LSH band bucket —
    * O(Σ bucket²) not O(n²). With 64 hashes × 16 bands (4 rows/band), a pair
    * at J=0.5 is caught with prob 1-(1-0.5⁴)¹⁶ ≈ 0.65, at J=0.9 ≈ 1-1e-13;
    * near-exact recall for the ≥0.9 dups corpus curation hunts.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 4, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = numHashes / bands
    // One (doc, shingle-hash) row per distinct shingle. This intermediate
    // feeds the signatures, the set sizes, AND the verification intersects —
    // persist it (spillable) so the shingle higher-order expression runs once
    // per corpus pass, not once per consumer. ~16 bytes/shingle.
    val hashed = Caching.persisted(docs
      .select(col(idCol),
        explode(array_distinct(graft.functions.NativeFunctions.wordShinglesFused(
          docs.sparkSession, tokens(col(textCol)), k))).as("shingle"))
      .select(col(idCol), xxhash64(col("shingle")).as("h")))
    // Signature via codegen'd hash-agg (no higher-order lambdas on the hot
    // path): the i-th permutation re-mixes the 8-byte shingle hash with
    // xxhash64(·, i) and MIN-aggregates per doc; one doc-id shuffle.
    val minAggs = (0 until numHashes).map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i"))
    val sigs = hashed.groupBy(col(idCol)).agg(minAggs.head, minAggs.tail: _*)
    // Band keys: xxhash64 over the band's signature slice + band index.
    val bandKeyCols = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
      xxhash64(slice :+ lit(b): _*)
    }
    val banded = sigs.select(col(idCol), explode(array(bandKeyCols: _*)).as("band_key"))
    val candidates = banded.select(col(idCol).as("id_a"), col("band_key"))
      .join(banded.select(col(idCol).as("id_b"), col("band_key")), Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    // Exact-Jaccard verification on the hashed shingle sets: |A∩B| counted by
    // joining each candidate pair's rows on equal shingle hash (a 64-bit
    // collision inside one pair is ~|A||B|/2^64 — negligible). Candidate-
    // bounded work; nothing here is O(n²) or broadcast-sized.
    val inter = candidates
      .join(hashed.select(col(idCol).as("id_a"), col("h")), Seq("id_a"))
      .join(hashed.select(col(idCol).as("id_b"), col("h")), Seq("id_b", "h"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    SetOverlap.withSizes(inter, hashed, idCol)
      .withColumn("jaccard", SetOverlap.jaccard("inter", "sz_a", "sz_b"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** SimHash near-dup pairs: 64-bit signatures, candidates from 16-bit band
    * buckets (a pair within Hamming ≤ 3 shares ≥1 of 4 bands by pigeonhole —
    * recall 1.0, no approximation), verified with exact Hamming ≤ maxHamming.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-band pigeonhole guarantees recall only for hamming <= 3")
    // SimHash: bit b of the 64-bit signature is set iff the sign-sum of bit
    // b across token hashes is positive — equivalently iff 2·c_b > n where
    // c_b = popcount of bit b over the doc's token hashes and n = token count.
    // The 64 per-bit popcounts are packed into 16 aggregate longs of 4×16-bit
    // lanes (lane j of long g counts bit 4g+j): branch-free bit arithmetic,
    // 4× fewer aggregation buffer slots and ~4× less generated code than one
    // sum column per bit (the round-1 shape was 22% of the whole bench, almost
    // all janino-compile + branchy agg). One doc-id shuffle, map-side partial
    // agg. Correctness envelope: ≤32767 tokens/doc — the worst-case packed
    // sum (n × 2^48 in lane 3) stays under 2^63, so no overflow is reachable
    // on accepted input regardless of the session's ANSI setting. The
    // assert_true guard below rejects anything larger: at 32768+ a popular
    // bit's lane-3 contribution could top the long, which would abort loudly
    // under ANSI but WRAP SILENTLY with spark.sql.ansi.enabled=false — so
    // the guard must sit at the crash-free boundary, not at the lane-carry
    // boundary (65536). Docs beyond 32767 tokens should be chunked upstream.
    // Core-width spread before the token-hash explode (optimization r21,
    // guide §2.5): at sub-split sizes the hash + 16-lane packed popcount
    // aggregation ran as ONE task (1.6 s single-core at sf0.1); the keyed
    // spread parallelizes it AND pre-establishes the groupBy(idCol)
    // partitioning, so no net exchange is added. No-op at corpus scale.
    val tokenHashes = Caching
      .coreWidthBy(docs.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .select(col(idCol), xxhash64(col("tok")).as("h"))
    val packedSums = (0 until 16).map { g =>
      val lanes = (0 until 4).map { j =>
        shiftleft(shiftright(col("h"), 4 * g + j).bitwiseAND(1L), 16 * j)
      }
      sum(lanes.reduce(_ + _)).as(s"p$g")
    }
    val aggCols = packedSums :+ count(lit(1)).as("n")
    val sigBits = (0 until 64).map { b =>
      val cb = shiftright(col(s"p${b / 4}"), 16 * (b % 4)).bitwiseAND(0xFFFFL)
      when(cb * 2 > col("n"), lit(1L << b)).otherwise(lit(0L))
    }
    // assert_true returns null (or throws): filtering on it both forces the
    // guard's evaluation and keeps every surviving row
    val sigs = tokenHashes.groupBy(col(idCol)).agg(aggCols.head, aggCols.tail: _*)
      .filter(assert_true(col("n") <= 32767,
        lit("simhash: doc exceeds 32767 tokens; the packed popcount sum could overflow Long — chunk the doc upstream")).isNull)
      .select(col(idCol), sigBits.reduce(_ bitwiseOR _).as("sig"))
    val banded = sigs.select(col(idCol), col("sig"),
      explode(transform(sequence(lit(0), lit(3)),
        b => concat_ws(":", b, call_function("shiftright", col("sig"), b * 16).bitwiseAND(0xFFFFL)))).as("band"))
    banded.select(col(idCol).as("id_a"), col("sig").as("sig_a"), col("band"))
      .join(banded.select(col(idCol).as("id_b"), col("sig").as("sig_b"), col("band")), Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b")
      .distinct()
      .withColumn("hamming", hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Near-dup clusters from a pair list: connected components by
    * Shiloach–Vishkin-style HOOK, FLATTEN, CONTRACT rounds, so an A~B~C
    * chain dedups as ONE cluster even when A~C was never emitted as a
    * pair. Each round:
    *   1. HOOK every supernode onto the minimum of its
    *      neighborhood-plus-self (one aggregate over the symmetrized
    *      edges) — hooks always point strictly downward, so they form a
    *      forest rooted at local minima;
    *   2. FLATTEN that forest toward stars. Two modes:
    *      OPTIMISTIC (the default, and the terminal state for clique-like
    *      dup graphs): a LAZY bounded 3-hop pointer advance (two
    *      self-joins of the hook, no materialization) folded into the
    *      contraction's job — the whole round is ONE Spark action.
    *      Partial flattening is safe: labels still point strictly
    *      downward within their component, so the exit condition below is
    *      unchanged; the only cost of an under-flattened round is more
    *      rounds. The mode demotes itself the first time a round fails
    *      to halve the edge count — the signature of a chain-like hook
    *      forest, where bounded advances merely SHIFT the chain
    *      (~diameter/3 rounds if left optimistic) — and from then on
    *      FULL flattening runs: materialized pointer doubling
    *      (hook ← hook∘hook until stable) on the STATIC forest, which
    *      provably halves pointer depth per iteration — unlike jumping on
    *      a per-round label function, which this operator once did and
    *      which degenerates on randomly-permuted chains (measured in
    *      simulation: a 5000-chain took ~1500 label rounds);
    *   3. CONTRACT the graph by relabeling both edge endpoints to their
    *      flattened label and dropping self-loops (two joins + distinct),
    *      composing the labels into the running original-id mapping.
    * Convergence is when the contracted edge set is EMPTY — an exact test
    * that falls out of the same count that materializes the round, with no
    * separate fixpoint probe. Empty contraction ⟺ every edge's endpoints
    * share a label ⟺ each component carries ONE label, and since a
    * component's minimum only ever hooks onto itself, that label is the
    * component minimum — exactness does not depend on how flat any
    * intermediate round was.
    *
    * Measured rounds (simulation, any id layout): cliques — the common
    * Jaccard-dup shape — 1 one-action round; monotone chains 2 rounds
    * (one optimistic round shifts, demotes the mode, one flatten round
    * collapses); randomly-permuted chains — the shape semantic-similarity
    * graphs take at threshold cosine — shrink ≥3× per optimistic round
    * (supernodes ≈ local minima ≈ n/3). The default 50-round cap
    * therefore covers components far beyond any real corpus; the loop
    * stops at the empty edge set regardless, and a non-converged exit
    * fails loudly (a silent partial contraction would report one
    * component as several clusters, each with its own survivor —
    * downstream dedup would keep duplicates with nothing looking wrong).
    * The spec pins chain round bounds in both layouts.
    *
    * Returns (id, cluster) for every id appearing in `pairs`, where
    * `cluster` is the component's minimum id — which is also the
    * deterministic survivor (`is_survivor = id == cluster`). The minimum
    * is preserved by contraction: a component's global minimum only ever
    * hooks onto itself, so it is the component's last surviving supernode.
    */
  def dupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame =
    dupClustersWithRounds(pairs, maxIters, localSolve = true)._1

  /** Edge-count gate for the small-graph local solve: ≤ this many
    * DISTINCT canonical non-self pair rows (total rows ≤ 2× including
    * self-pairs) resolve on the driver via min-root union-find — exact
    * same min-id labels as the distributed closure (spec-pinned on
    * random graphs), without the per-round job latency that dominates a
    * delta-sized subgraph (an ingest batch's touched clusters, a fixture
    * corpus). Memory is the real budget, sized honestly: rows collect as
    * primitive-long pairs (never GenericRow), so the transient driver
    * footprint at the cap is ~2M boxed-tuple rows + the LongMap + the
    * output array — low hundreds of MB, within any multi-GB driver but
    * NOT a 1g default; size the cap to YOUR driver via the session conf
    * `spark.graft.dedup.localSolveEdgeCap` (edges; 0 disables the local
    * solve entirely, small-heap drivers should lower it before ever
    * raising it). Above the cap the hook-flatten contraction loop is the
    * scale path, unchanged. The same economics as AQE localizing a small
    * shuffle: the DATA decides, and the big-data path is always there.
    */
  private val LocalSolveEdgeCapDefault = 1L << 20

  private[graft] def localSolveEdgeCap(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.dedup.localSolveEdgeCap").map { v =>
      // name the conf key in the failure (ADVICE r17: a bare toLong
      // surfaced as an unexplained NumberFormatException deep inside
      // dupClusters); a negative value means the same as 0 — disabled
      val parsed =
        try v.trim.toLong
        catch { case e: NumberFormatException =>
          throw new IllegalArgumentException(
            "spark.graft.dedup.localSolveEdgeCap must be an edge count " +
              s"(long; 0 disables the local solve) — got '$v'", e)
        }
      math.max(parsed, 0L)
    }.getOrElse(LocalSolveEdgeCapDefault)

  /** [[dupClusters]] plus the number of contraction rounds it ran —
    * operational telemetry (a rounds count near `maxIters` says the pair
    * graph is chain-like and the cap needs headroom) and the hook the
    * convergence-rate spec measures through.
    */
  private[graft] def dupClustersWithRounds(pairs: DataFrame,
                                           maxIters: Int = 50,
                                           localSolve: Boolean = false)
      : (DataFrame, Int) = {
    val spark = pairs.sparkSession
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Every per-round intermediate is materialized into an RDD WE hold the
    // handle to (not Dataset.localCheckpoint: that persists a hidden RDD
    // that neither Dataset.unpersist nor catalog.clearCache can free —
    // leaked blocks squeezed every later query in the session). The
    // RDD-level localCheckpoint additionally truncates the RDD DEPENDENCY
    // chain, which rebuilding the frame with createDataFrame alone does
    // not: without it every round's RDD references the whole prior-round
    // DAG, and dozens of rounds overflow the stack serializing the shuffle
    // lineage. The single number each runJob returns doubles as the loop
    // control (row count for contractions, changed count for flattening) —
    // one action per materialization, no separate probes.
    def materialize(df: DataFrame)(count: org.apache.spark.sql.Row => Boolean)
        : (org.apache.spark.rdd.RDD[org.apache.spark.sql.Row], Long) = {
      val rdd = df.rdd.persist(level)
      rdd.localCheckpoint()
      val cnt = spark.sparkContext.runJob(rdd,
        (it: Iterator[org.apache.spark.sql.Row]) => {
          var c = 0L; it.foreach(r => if (count(r)) c += 1); c
        }).sum
      (rdd, cnt)
    }
    // flattened hook tables stay alive until the FINAL mapping materializes
    // (its lazy plan references every round's roots); freed together after.
    // Only the mapping's own RDD remains, released by SessionSweep like
    // every operator-internal cache.
    val retained = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    // self-pairs (x,x) are kept through the ONE materialization of the
    // input (so the upstream pair plan — often an expensive Jaccard query —
    // is never re-evaluated) but excluded from the edge count and the
    // contraction: they contribute no connectivity, yet their ids still owe
    // a singleton (id, id) output row under this operator's every-id
    // contract. No real pair generator emits them; the cost is one filter
    // over the cached RDD.
    val e0 = pairs
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .distinct()
    var (eRdd, eCnt) = materialize(e0)(r => r.get(0) != r.get(1))
    retained += eRdd
    // small-graph local solve (see [[LocalSolveEdgeCapDefault]]): the
    // input is already materialized and counted, so the gate is free;
    // long-typed ids only (every graft pair generator), the distributed
    // loop handles anything else. Union-to-the-smaller-root keeps each
    // root the component MINIMUM by induction, so labels are bit-identical
    // to the contraction loop's.
    val longIds = e0.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    val localCap = localSolveEdgeCap(spark)
    if (localSolve && localCap > 0 && longIds && eCnt <= localCap &&
        eRdd.count() <= 2 * localCap) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      eRdd.map(r => (r.getLong(0), r.getLong(1))).collect().foreach { p =>
        val (a, b) = p
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        if (a != b) {
          val (ra, rb) = (find(a), find(b))
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
      }
      val out = parent.keys.toArray.map(id =>
        org.apache.spark.sql.Row(id, find(id)))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val result = spark.createDataFrame(
        spark.sparkContext.parallelize(out.toIndexedSeq,
          math.max(1, math.min(spark.sparkContext.defaultParallelism,
            out.length / 4096 + 1))), schema)
      eRdd.unpersist(blocking = false)
      return (result, 0)
    }
    var edges = spark.createDataFrame(eRdd, e0.schema)
      .filter(col("a") =!= col("b"))
    var mapping: Option[DataFrame] = None
    var iter = 0
    var optimistic = true
    while (eCnt > 0 && iter < maxIters) {
      // 1. hook: supernode → min(neighbors ∪ self). Lazy — it is consumed
      // only inside this round's job plans (the aggregate re-runs over the
      // cached edge RDD; identical subplans share their shuffle via
      // Spark's exchange reuse, cheaper than a materialization action).
      val hook = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
        .groupBy(col("a"))
        .agg(min(col("b")).as("nbr_min"))
        .select(col("a").as("node"), least(col("a"), col("nbr_min")).as("lbl"))
      // 2. flatten — see the scaladoc's two modes.
      val flat: DataFrame = if (optimistic) {
        // lazy bounded 3-hop advance: node → hook³(node), roots absorb
        // (left join misses keep the shorter label). No action of its own;
        // it is evaluated inside the contraction job below (and once more
        // in the final mapping job). Under-flattening only costs rounds.
        val h1 = hook.select(col("node").as("jn1"), col("lbl").as("jl1"))
        val h2 = hook.select(col("node").as("jn2"), col("lbl").as("jl2"))
        hook
          .join(h1, col("lbl") === col("jn1"), "left")
          .select(col("node"), coalesce(col("jl1"), col("lbl")).as("lbl"))
          .join(h2, col("lbl") === col("jn2"), "left")
          .select(col("node"), coalesce(col("jl2"), col("lbl")).as("lbl"))
      } else {
        // full: hook ← hook∘hook until no pointer moves. Hooks point
        // strictly downward to existing supernode keys, so the left join
        // always resolves and depth halves per iteration (static forest —
        // ≤ log₂(depth)+1 actions).
        var f = hook
        var flatRdd: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
        var moved = 1L
        var jumpIter = 0
        while (moved > 0) {
          jumpIter += 1
          require(jumpIter <= 64, "dupClusters: flatten failed to stabilize" +
            " (impossible for a downward-pointing forest — internal invariant broken)")
          val jump = f
            .join(f.select(col("node").as("jn"), col("lbl").as("jl")),
              col("lbl") === col("jn"), "left")
            .select(col("node"), col("lbl").as("old_lbl"),
              coalesce(col("jl"), col("lbl")).as("lbl"))
          val (jRdd, changed) = materialize(jump)(r => r.get(1) != r.get(2))
          moved = changed
          // a superseded flatten step is dead the moment its successor lands
          flatRdd.foreach(_.unpersist(blocking = false))
          flatRdd = Some(jRdd)
          f = spark.createDataFrame(jRdd, jump.schema).select("node", "lbl")
        }
        retained ++= flatRdd
        f
      }
      // 3a. compose the roots into the original-id mapping: a supernode
      // whose component already fully contracted no longer appears in
      // `flat` — the left join keeps its (final) label
      mapping = Some(mapping match {
        case None => flat.select(col("node").as("id"), col("lbl").as("cluster"))
        case Some(m) =>
          m.join(flat.select(col("node").as("__n"), col("lbl").as("__l")),
              m("cluster") === col("__n"), "left")
            .select(m("id"), coalesce(col("__l"), m("cluster")).as("cluster"))
      })
      // 3b. contract: relabel both endpoints to their root, drop
      // self-loops, dedupe; the row count of the result IS the
      // convergence test (empty ⟺ every component is a single supernode)
      val contracted = edges
        .join(flat.select(col("node").as("a"), col("lbl").as("la")), "a")
        .join(flat.select(col("node").as("b"), col("lbl").as("lb")), "b")
        .select(least(col("la"), col("lb")).as("a"),
          greatest(col("la"), col("lb")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
      val (rdd, cnt) = materialize(contracted)(_ => true)
      // an optimistic round that failed to halve the edges is the
      // chain-shift signature — demote to full flattening for the rest
      if (optimistic && cnt * 2 > eCnt) optimistic = false
      retained += rdd
      eRdd = rdd
      eCnt = cnt
      edges = spark.createDataFrame(rdd, e0.schema)
      iter += 1
    }
    require(eCnt == 0L,
      s"dupClusters did not contract to empty in $maxIters rounds (the pair" +
        s" graph is more chain-like than the cap allows); raise maxIters")
    // singleton rows for ids seen ONLY as self-pairs (cluster = the id
    // itself); reads the already-cached input RDD, materialized into the
    // final result BEFORE the intermediates are freed
    val selfOnly = spark.createDataFrame(retained.head, e0.schema)
      .filter(col("a") === col("b"))
      .select(col("a").as("id"), col("b").as("cluster"))
    val resultPlan = mapping match {
      case None => selfOnly
      case Some(m) => m.union(selfOnly.join(m, Seq("id"), "left_anti"))
    }
    val (mRdd, _) = materialize(resultPlan)(_ => true)
    val result = spark.createDataFrame(mRdd, resultPlan.schema)
    retained.foreach(_.unpersist(blocking = false))
    (result, iter)
  }

  /** The standard near-dup curation step in one call: Jaccard pairs →
    * component closure → drop every non-min member. The one definition the
    * demo pipeline and the composed-chain oracle query both use, so a
    * change to pairing defaults or survivor policy cannot silently diverge
    * them.
    */
  def nearDupSurvivors(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val losers = dupClusters(ngramJaccardPairs(docs, idCol, textCol))
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Incremental dup-cluster maintenance — the lifecycle rung AFTER the
    * incremental pair screens (d11/d15/d20): fold a fresh ingest batch's
    * near-dup pairs into STANDING cluster labels without re-clustering the
    * corpus. The fresh pairs (fresh-vs-corpus from the screen, plus the
    * batch's internal pairs) can do three things to the standing state:
    * attach fresh docs to existing clusters, form brand-new clusters, and —
    * the case a naive "assign to nearest cluster" shortcut gets wrong —
    * MERGE standing clusters that a fresh doc now bridges. All three reduce
    * to one component closure over a SUBGRAPH: the members of TOUCHED
    * standing clusters (connectivity within an untouched-by-the-batch
    * cluster is fully captured by star edges member→label, because labels
    * are per-component constants) plus the fresh pairs themselves. Untouched
    * clusters pass through by anti-join, so per-ingest closure work is
    * ∝ touched-cluster membership + batch pairs — never the corpus.
    *
    * Result is IDENTICAL to re-running [[dupClusters]] over the full pair
    * set (standing ∪ fresh): components disjoint from the batch keep their
    * rows verbatim, and a touched component's full membership is present in
    * the subgraph, so its new min-id label is exact. With monotonically
    * growing ids (fresh > corpus) a standing survivor therefore stays
    * survivor unless its cluster merges into one with a smaller min — the
    * same stability contract the from-scratch op has.
    *
    * Scale shape: the touched-membership lookup is a semi-join of the
    * standing label table on its `cluster` column — bucket the standing
    * table by `cluster` (the [[graft.sources.BucketedLake]] pattern the
    * d12/d16 indexes use) and the lookup reads only matching buckets with
    * zero corpus-side exchange; the closure then runs on the delta-sized
    * subgraph.
    *
    * `standing` is [[dupClusters]] output (id, cluster); `freshPairs` has
    * (id_a, id_b). Returns the updated full (id, cluster) table.
    */
  def incrementalDupClusters(standing: DataFrame, freshPairs: DataFrame,
                             maxIters: Int = 50): DataFrame = {
    val st = Caching.persisted(standing)
    val (members, relabeled) =
      incrementalDupClustersParts(st, freshPairs, maxIters)
    st.join(members.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("cluster"))
      .union(relabeled.select(col("id"), col("cluster")))
  }

  /** [[incrementalDupClusters]]'s delta machinery, exposed for the
    * write-back path ([[maintainClusterLabels]]): `members` = the touched
    * standing clusters' full membership, `relabeled` = the delta-sized
    * (id, cluster) rows the batch changes or creates — exactly what an
    * append-maintained label table needs to fold in.
    */
  private[graft] def incrementalDupClustersParts(
      standing: DataFrame, freshPairs: DataFrame,
      maxIters: Int = 50): (DataFrame, DataFrame) = {
    // both inputs are referenced by MULTIPLE actions of the fold (touched,
    // members, subgraph seed, the caller's anti-join): persist them so the
    // pair screen and the label read each run ONCE, not once per branch —
    // the r16 shapes hid this behind the corpus closure's checkpoint; a
    // table-served standing side exposed it (~3× the screen per serve)
    val st = Caching.persisted(standing)
    val fp = Caching.persisted(freshPairs.select(col("id_a"), col("id_b")))
    val touched = fp.select(col("id_a").as("id"))
      .union(fp.select(col("id_b").as("id"))).distinct()
    val affectedClusters = st.join(touched, Seq("id"), "left_semi")
      .select(col("cluster")).distinct()
    val members = st.join(affectedClusters, Seq("cluster"), "left_semi")
    // Star edges carry each touched cluster's full membership (and its
    // standing min label, which keeps label minimality exact) into the
    // subgraph alongside the raw fresh pairs.
    val subEdges = fp
      .union(members.select(col("id").as("id_a"), col("cluster").as("id_b")))
    (members, dupClusters(subEdges, maxIters))
  }

  // ---- standing cluster-label lake (VERDICT r16 #1) ------------------------

  /** Persist a [[dupClusters]] labeling as the STANDING label table — the
    * d12/d16 lake pattern applied to the labels themselves, so serving
    * paths (incremental maintenance, leakage-safe splits, survivor
    * policies) read labels from a bucketed layout instead of re-deriving
    * the corpus closure per run. Layout: (id, cluster, epoch) bucketed +
    * sorted by id; the base build writes every row at epoch 0 and
    * [[maintainClusterLabels]] APPENDS delta-sized relabelings at higher
    * epochs — merge-on-read (each id's latest epoch wins, resolved
    * bucket-locally by [[readClusterLabels]]), so an ingest batch never
    * pays a corpus-sized rewrite; compaction is a separate rewrite when
    * epochs accumulate, exactly the appendBucketedTable economics.
    */
  def writeClusterLabels(spark: org.apache.spark.sql.SparkSession,
                         name: String, clusters: DataFrame,
                         buckets: Int = 16): String = {
    val fresh = !spark.catalog.tableExists(name)
    graft.sources.BucketedLake.writeBucketedTable(spark, name,
      clusters.select(col("id"), col("cluster"))
        .withColumn("epoch", lit(0L)),
      "id", buckets)
    // base build = frontier 0 in the catalog (VERDICT r17 #6: folds read
    // the property, never a max(epoch) scan); fresh writes only — the
    // write above no-ops on an existing table
    if (fresh) graft.sources.BucketedLake.setFrontier(spark, name, 0L)
    name
  }

  /** The current (id, cluster) labeling from a standing label table:
    * each id's latest-epoch row. The table is bucketed by id, so the
    * per-id fold is bucket-local — NO exchange (PlanSpec-pinned); at any
    * corpus size a label read costs one pruned scan + local aggregation.
    * Deterministic because every epoch holds at most one row per id
    * (base build and each maintenance delta are [[dupClusters]]-shaped).
    */
  def readClusterLabels(spark: org.apache.spark.sql.SparkSession,
                        name: String): DataFrame =
    spark.table(name).groupBy(col("id"))
      .agg(max_by(col("cluster"), col("epoch")).as("cluster"))

  /** Fold an ingest batch's near-dup pairs into the standing label table
    * — [[incrementalDupClusters]] made a WRITE-BACK (the d17/s25 append
    * contract for labels): attach / new-cluster / merge resolve through
    * the same delta-sized touched-subgraph closure, and ONLY the
    * relabeled rows append, at the next epoch — tomorrow's split serve
    * and tomorrow's maintenance read today's fold through
    * [[readClusterLabels]] with zero re-derivation. Idempotent in VALUE:
    * re-folding the same pairs appends rows that merge-on-read to the
    * same labeling (the closure is a fixed point), so retries are safe.
    * The epoch bump reads the catalog-tracked frontier property (VERDICT
    * r17 #6 — no per-fold max(epoch) scan; `FrontierSpec` pins property
    * == max(epoch)), falling back to one scan for pre-property layouts.
    */
  def maintainClusterLabels(spark: org.apache.spark.sql.SparkSession,
                            name: String, freshPairs: DataFrame,
                            buckets: Int = 16,
                            maxIters: Int = 50): String = {
    val standing = readClusterLabels(spark, name)
    val (_, relabeled) =
      incrementalDupClustersParts(standing, freshPairs, maxIters)
    // fallback coalesce: an EMPTY pre-property standing table (dup-free
    // corpus — a supported degenerate case) has a null max; the first
    // fold then lands at epoch 0
    val next = graft.sources.BucketedLake.frontier(spark, name) match {
      case Some(p) =>
        // Crash reconcile (ADVICE r18): append-then-setFrontier is not
        // atomic, so rows can exist ABOVE the property (a fold landed,
        // its frontier write didn't). This is the VALUE-IDEMPOTENT
        // sibling of BucketedLake.appendBucketedTableOnce's row-presence
        // repair — labels may auto-assign epochs and adopt orphans
        // forward precisely because a replayed fold merges-on-read to
        // the same labeling; the id-keyed index families must NOT (a
        // re-append there duplicates rows), so they require caller fold
        // epochs instead. Without the repair the next fold
        // would reuse that epoch and two distinct folds would share one
        // ledger label (reads stay correct — the fold is value-idempotent
        // — but FrontierSpec's property == max(epoch) invariant breaks).
        // Cheap: every append file is single-epoch, so parquet min/max
        // stats prune all files at epochs ≤ p; the scan reads only an
        // orphaned fold's own rows (normally zero files).
        val orphan = spark.table(name).filter(col("epoch") > p)
          .agg(coalesce(max(col("epoch")), lit(p))).head().getLong(0)
        if (orphan > p)
          graft.sources.BucketedLake.setFrontier(spark, name, orphan)
        orphan + 1L
      case None =>
        spark.table(name)
          .agg(coalesce(max(col("epoch")), lit(-1L))).head().getLong(0) + 1L
    }
    graft.sources.BucketedLake.appendBucketedTable(spark, name,
      relabeled.select(col("id"), col("cluster"))
        .withColumn("epoch", lit(next)),
      "id", buckets)
    graft.sources.BucketedLake.setFrontier(spark, name, next)
    name
  }

  /** Compact a standing label table back to a single epoch — the
    * appendBucketedTable contract's "rewrite when appends accumulate"
    * step for labels (the d18 compaction rung): the merge-on-read result
    * is materialized once, the table rewritten at epoch 0 under the SAME
    * bucket spec, and every superseded delta row drops. Reads before and
    * after are bit-identical by construction ([[readClusterLabels]] IS
    * the merge the rewrite materializes — spec-pinned); what compaction
    * buys is the read-side fold shrinking back to one row per id and
    * single-file buckets that stay globally sorted. Run it on a cadence
    * (epochs × delta volume), never on the ingest path.
    */
  def compactClusterLabels(spark: org.apache.spark.sql.SparkSession,
                           name: String, buckets: Int = 16): String = {
    // the merged labeling materializes BEFORE the overwrite through the
    // shared held-handle rewrite (the rewrite reads the table it replaces)
    graft.sources.BucketedLake.rewriteBucketedTable(spark, name,
      readClusterLabels(spark, name).withColumn("epoch", lit(0L)),
      "id", buckets)
    // labels compact to epoch 0 (the fold is value-idempotent, so unlike
    // gram counts there is no replay ledger to preserve) — reset the
    // catalog frontier to match, the Overwrite dropped it anyway
    graft.sources.BucketedLake.setFrontier(spark, name, 0L)
    name
  }

  /** Pluggable survivor selection over dup clusters: instead of the default
    * min-id survivor, keep each cluster's highest-`score` member (ties →
    * lowest id) — the "keep the best copy" policy a curation pipeline wants
    * (longest doc, highest quality score, freshest crawl). `clusters` is
    * [[dupClusters]] output (id, cluster); `scores` maps id → score and
    * MUST cover every clustered id — enforced with a left join + null
    * guard (`assert_true`), because under an inner join an unscored member
    * would silently drop out of its cluster, a shrunken-cluster corruption
    * nothing downstream could notice (score DEFAULTS still belong in the
    * caller, who knows the right neutral value).
    * One shuffle on the cluster key; per-cluster ranking is bounded by
    * cluster size. Returns (id, cluster, survivor, is_survivor).
    */
  def survivorsByScore(clusters: DataFrame, scores: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("score").desc, col("id"))
    val ranked = clusters.join(scores, Seq("id"), "left")
      .filter(assert_true(col("score").isNotNull,
        concat(lit("survivorsByScore: no score row for clustered id "),
          col("id"), lit(" — cover every member or default upstream"))).isNull)
      .withColumn("__rn", row_number().over(w))
    val surv = ranked.filter(col("__rn") === 1)
      .select(col("cluster"), col("id").as("survivor"))
    ranked.drop("__rn", "score").join(surv, "cluster")
      .select(col("id"), col("cluster"), col("survivor"),
        (col("id") === col("survivor")).as("is_survivor"))
  }

  /** Corpus-size-adaptive LSH knobs (VERDICT r8 #4). At FIXED bits per
    * table the bucket count is constant, so expected occupancy grows ∝n
    * and within-bucket pair work ∝n² — the r8 10× smoke measured exactly
    * that (shuffle ×91, 12.4 GB spill for data ×10 at b=4). Growing b with
    * log₂(n) holds expected occupancy ≈ n/2^b constant (target ≈128,
    * anchored so every verification scale — n ≤ 2048 — lands on the
    * oracle-pinned (4, 8) point) and keeps pair work ~linear. Fewer bits
    * per signature means higher recall, so L only needs to grow when b
    * does: recall(θ) = 1-(1-p^b)^L with p = 1-θ/π gives, at cosine 0.9,
    * 0.998 for (4,8), 0.996 for (8,16), 0.996 for (12,32), 0.95 for
    * (20,64). b caps at 20 (signature cost stays ≤ 20·64 plane dots per
    * vector); past ~10⁸ vectors threshold-pair ENUMERATION itself is the
    * wrong tool — outputs go quadratic for any generic-direction corpus —
    * and curation should move to d09 SemDeDup / s04 IVF. The d06 DuckDB
    * oracle replays the (4,8) candidate generation bit-exactly and is
    * valid for any corpus ≤2048 vectors; the policy itself is spec-pinned
    * (ExtensionSpec) so the anchor can't drift silently.
    */
  def adaptiveLshKnobs(n: Long): (Int, Int) = {
    // exact integer ⌈log₂(n)⌉ ([[Similarity.ceilLog2]] — ADVICE r9: the
    // double-log formulation held the spec-pinned (4,8) anchor at n=2048
    // only because libm's ln came out exactly integral there)
    val b = math.min(20, math.max(4, Similarity.ceilLog2(n) - 7))
    val l = if (b <= 6) 8 else if (b <= 10) 16 else if (b <= 14) 32 else 64
    (b, l)
  }

  /** Embedding near-dup pairs via multi-table hyperplane LSH — the scale
    * path. Each vector gets `tables` independent `planesPerTable`-bit
    * signatures (deterministic hash-derived hyperplanes on disjoint index
    * ranges of the same family — [[Similarity.hyperplaneSignature]]);
    * candidate pairs share a bucket in ANY table (one hash shuffle on the
    * (table, signature) key, O(Σ bucket²) not O(n²)) and are verified with
    * the exact cosine ≥ threshold. Recall for a pair at angle θ is
    * 1-(1-(1-θ/π)^b)^L — at b=4, L=8: ≈0.75 at cosine 0.4 and ≈0.998 at
    * 0.9, the regime near-dup curation cares about; raise `tables` for more
    * recall at proportional cost. Knobs left at 0 are chosen by
    * [[adaptiveLshKnobs]] from the corpus size (the count rides on the
    * persisted projection the pipeline needs anyway), so the DEFAULT call
    * is scale-safe instead of quadratic past ~100k vectors.
    * [[embeddingCosinePairs]] is the exact all-pairs cross-check at small
    * scale.
    */
  def embeddingCosinePairsLsh(vecs: DataFrame, idCol: String, vecCol: String,
                              threshold: Double, planesPerTable: Int = 0,
                              tables: Int = 0): DataFrame = {
    // PARALLELISM FLOOR (r9): with every downstream join a broadcast there
    // is no exchange in the candidate pipeline, so signature computation,
    // candidate generation and verification ALL inherit the scan's
    // partitioning — and a 10× corpus is still one ~80 MB parquet split,
    // i.e. ONE task end to end (measured: 56 s wall at 1.1 cores busy).
    // When the scan is narrower than the cluster, hash-spread the cached
    // projection by id ONCE (vectors are small rows; ~10 MB here) so every
    // downstream stage runs cluster-wide. At real corpus sizes the scan is
    // already wide and this is a no-op.
    val v = Caching.persisted(Caching.coreWidthBy(
      HyperplaneLsh.vectors(vecs, idCol, vecCol), col(idCol)))
    val n = v.count()
    val (b, l) = resolveLshKnobs(n, planesPerTable, tables)
    new HyperplaneLsh.Family(vecs.sparkSession, b, l,
      Similarity.vectorDim(vecs, vecCol))
      .selfPairs(v, n, idCol, vecCol, threshold)
  }

  /** Caller-override-aware knob resolution: explicit knobs win per-knob;
    * anything left at 0 comes from [[adaptiveLshKnobs]] of the corpus size.
    */
  private def resolveLshKnobs(n: Long, planesPerTable: Int,
                              tables: Int): (Int, Int) =
    if (planesPerTable > 0 && tables > 0) (planesPerTable, tables)
    else {
      val (ab, al) = adaptiveLshKnobs(n)
      (if (planesPerTable > 0) planesPerTable else ab,
        if (tables > 0) tables else al)
    }

  /** Incremental EMBEDDING near-dup screening — the d11 daily-ingest shape
    * in cosine space: which `fresh` vectors are semantic near-dups of the
    * EXISTING `corpus` (inputs disjoint by contract, like d11). Both sides
    * draw multi-table hyperplane signatures from the SAME hash-derived
    * family ([[embeddingCosinePairsLsh]]'s tables — dimension probed from
    * the corpus side), candidates share a bucket in any table, and the
    * exact cosine verifies ≥ `threshold`. Returns
    * (fresh_id, corpus_id, cosine).
    *
    * Scale shape: the join is fresh-vs-corpus only — pair work is
    * O(fresh-bucket occupancy), never corpus self-pairs. This DIRECT form
    * still re-scans and re-signatures the corpus every ingest; at scale,
    * build the corpus signatures once as a standing
    * [[EmbeddingSignatureIndex]] and screen with
    * [[incrementalEmbeddingPairsIndexed]] (result-identical, per-ingest
    * work ∝ the fresh batch).
    */
  def incrementalEmbeddingPairsLsh(fresh: DataFrame, corpus: DataFrame,
                                   idCol: String, vecCol: String,
                                   threshold: Double, planesPerTable: Int = 0,
                                   tables: Int = 0): DataFrame = {
    // parallelism floor on both cached sides, as in [[embeddingCosinePairsLsh]]
    def prep(df: DataFrame) = Caching.persisted(Caching.coreWidthBy(
      HyperplaneLsh.vectors(df, idCol, vecCol), col(idCol)))
    val vf = prep(fresh)
    val vc = prep(corpus)
    // bucket occupancy is governed by the STANDING side: adapt to corpus n
    val nCorpus = vc.count()
    val (b, l) = resolveLshKnobs(nCorpus, planesPerTable, tables)
    // an empty corpus has no dimension: band the fresh side at its own, so
    // its rows meet no candidates instead of failing the signature guard
    val dim = Similarity.vectorDim(if (nCorpus > 0) corpus else fresh, vecCol)
    val nFresh = vf.count()
    val family = new HyperplaneLsh.Family(fresh.sparkSession, b, l, dim)
    family.screen(vf, nFresh,
      family.bands(vc, vecCol, col(idCol).as("corpus_id")), vc, nCorpus,
      idCol, vecCol, threshold)
  }

  /** A standing embedding-signature index: the d12 bucketed-layout pattern
    * applied to [[incrementalEmbeddingPairsLsh]]'s LSH signatures, so the
    * daily embedding ingest screen stops re-scanning and re-signaturing the
    * corpus. Two warehouse tables — the (id, tbl, sig) signature set
    * bucketed+sorted by (tbl, sig) (the probe join key) and the
    * (id, v, norm) vector lookup bucketed by id (the verification join-back
    * key) — plus the knobs that are part of the layout identity: screening
    * MUST band the fresh side with the same (planesPerTable, tables, dim)
    * family the index was built with, so they ride the value, not a naming
    * convention. `corpusRows` carries the build-time count so consumers can
    * size the verification join-back without re-counting the corpus.
    */
  final case class EmbeddingSignatureIndex(signatures: String, vectors: String,
                                           planesPerTable: Int, tables: Int,
                                           dim: Int, corpusRows: Long,
                                           buckets: Int) {
    /** The signature family the index was built with. */
    private[graft] def family(spark: org.apache.spark.sql.SparkSession) =
      new HyperplaneLsh.Family(spark, planesPerTable, tables, dim)
  }

  /** Materialize the standing signature index for `corpus` — write ONCE,
    * screen every later ingest against the tables
    * ([[incrementalEmbeddingPairsIndexed]]). Knobs left at 0 resolve via
    * [[adaptiveLshKnobs]] from the corpus size, exactly as the direct
    * screen resolves them, so the indexed screen is result-identical to
    * [[incrementalEmbeddingPairsLsh]] on the same corpus (spec-pinned).
    * Table names embed the resolved knobs and bucket count
    * (`{prefix}_sig_p{b}x{L}_b{buckets}`), mirroring
    * [[graft.sources.BucketedLake.layoutSuffix]]: a session can never
    * silently screen against a layout built with different parameters.
    *
    * Scale shape: one corpus pass computes signatures (fused
    * `hyperplane_signatures` codegen) and norms; both tables write through
    * their bucket layout, after which per-ingest work is ∝ the fresh batch
    * — the corpus side of the probe join reads pre-bucketed, pre-sorted
    * files with no Exchange (the q33/d12 zero-exchange pattern,
    * PlanSpec-pinned).
    */
  def writeEmbeddingSignatureIndex(corpus: DataFrame, idCol: String,
                                   vecCol: String, namePrefix: String,
                                   planesPerTable: Int = 0, tables: Int = 0,
                                   buckets: Int = 16): EmbeddingSignatureIndex = {
    val spark = corpus.sparkSession
    val v = HyperplaneLsh.vectors(corpus, idCol, vecCol).persist()
    val n = v.count()
    val (b, l) = resolveLshKnobs(n, planesPerTable, tables)
    val dim = Similarity.vectorDim(corpus, vecCol)
    val idx = EmbeddingSignatureIndex(
      s"${namePrefix}_sig_p${b}x${l}_b$buckets",
      s"${namePrefix}_vec_p${b}x${l}_b$buckets", b, l, dim, n, buckets)
    graft.sources.BucketedLake.writeBucketedTableLedgered(spark, idx.signatures,
      idx.family(spark).bands(v, vecCol, col(idCol)), "tbl", buckets, "sig")
    graft.sources.BucketedLake.writeBucketedTableLedgered(spark, idx.vectors,
      v, idCol, buckets)
    v.unpersist(blocking = false)
    idx
  }

  /** Fold an ACCEPTED ingest batch into a standing
    * [[EmbeddingSignatureIndex]] without rebuilding it — the compaction
    * step that closes the daily loop (screen with
    * [[incrementalEmbeddingPairsIndexed]], keep the survivors, append them
    * so tomorrow's batch screens against them too). The batch is banded
    * with the INDEX'S knob family (never re-adapted) and appended into both
    * tables under the same bucket spec — Spark validates the spec against
    * the catalog, so an append can never silently change the layout; reads
    * keep pruning/co-locating by bucket with no exchange (multi-file
    * buckets lose global sortedness, costing consumers a local re-sort,
    * not a shuffle — compact by rebuilding when that matters).
    * `batch` must be id-disjoint from the indexed corpus (the d11/d15
    * ingest contract — the screen that precedes this call is exactly what
    * establishes it). Returns the updated handle; check [[staleKnobs]]
    * after growth — occupancy grows ∝ appended volume at fixed bits, so a
    * corpus that doubles wants the next adaptive knob step, i.e. a
    * rebuild.
    *
    * Exactly-once (VERDICT r19 #1): the caller's fold `epoch` (REQUIRED —
    * the appendShingleIndex contract) makes a crash-then-retry of the
    * fold a no-op (per-table frontier gate + row-presence repair, one
    * epoch across both tables). `corpusRows` advances only when the
    * VECTOR fold actually applies, so a skipped replay never inflates
    * the knob policy's input — and no count job runs per ingest (the
    * index's own screen-side stance).
    */
  def appendEmbeddingSignatureIndex(batch: DataFrame,
                                    index: EmbeddingSignatureIndex,
                                    idCol: String, vecCol: String,
                                    epoch: Long): EmbeddingSignatureIndex = {
    val spark = batch.sparkSession
    val v = HyperplaneLsh.vectors(batch, idCol, vecCol).persist()
    val n = v.count()
    val dimBatch = Similarity.vectorDim(batch, vecCol)
    require(dimBatch == index.dim || n == 0,
      s"appendEmbeddingSignatureIndex: batch dim $dimBatch != index dim " +
        s"${index.dim} — the signature family is dimension-specific")
    graft.sources.BucketedLake.appendBucketedTableOnce(spark, index.signatures,
      index.family(spark).bands(v, vecCol, col(idCol)),
      epoch, "tbl", index.buckets, "sig")
    val appliedVectors = graft.sources.BucketedLake.appendBucketedTableOnce(
      spark, index.vectors, v, epoch, idCol, index.buckets)
    v.unpersist(blocking = false)
    index.copy(corpusRows =
      if (appliedVectors) index.corpusRows + n else index.corpusRows)
  }

  /** Advisory: after appends, does the adaptive policy now prescribe a
    * different knob point than this index was built with? Fixed bits at
    * growing n means bucket occupancy (and so within-bucket pair work)
    * grows linearly in the appended volume — the exact failure
    * [[adaptiveLshKnobs]] exists to prevent. True says "rebuild the index
    * at the current corpus size"; results remain CORRECT either way (knobs
    * trade cost/recall, never membership of the verified output in the
    * exact-cosine contract).
    */
  def staleKnobs(index: EmbeddingSignatureIndex): Boolean =
    adaptiveLshKnobs(index.corpusRows) !=
      ((index.planesPerTable, index.tables))

  /** [[incrementalEmbeddingPairsLsh]] against a standing
    * [[EmbeddingSignatureIndex]] instead of a corpus DataFrame — identical
    * results when the index was built from the same corpus (spec-pinned;
    * the d15 oracle applies verbatim), but the per-ingest cost excludes the
    * corpus scan + signature computation the direct screen pays every run:
    * only the FRESH batch is banded, the probe join reads the corpus
    * signature table through its bucket layout with no corpus-side
    * Exchange, and the verification join-back reads the pre-normed vector
    * table. Fresh-side banding uses the index's own knob family — the one
    * it was built with — never a re-adapted one (a fresh batch is small;
    * adapting to IT would silently change the bucket space out from under
    * the standing side).
    */
  def incrementalEmbeddingPairsIndexed(fresh: DataFrame,
                                       index: EmbeddingSignatureIndex,
                                       idCol: String, vecCol: String,
                                       threshold: Double): DataFrame = {
    val spark = fresh.sparkSession
    val vf = Caching.persisted(Caching.coreWidthBy(
      HyperplaneLsh.vectors(fresh, idCol, vecCol), col(idCol)))
    val nFresh = vf.count()
    val dimFresh = Similarity.vectorDim(fresh, vecCol)
    require(dimFresh == index.dim || nFresh == 0,
      s"incrementalEmbeddingPairsIndexed: fresh dim $dimFresh != index dim " +
        s"${index.dim} — the signature family is dimension-specific; " +
        "rebuild the index or fix the batch")
    // the corpus lookup is sized by the build-time count instead of a
    // count job per ingest; the signature table reads bucketed, so past
    // the cap only the fresh side exchanges (PlanSpec)
    index.family(spark).screen(vf, nFresh,
      spark.table(index.signatures)
        .select(col(idCol).as("corpus_id"), col("tbl"), col("sig")),
      spark.table(index.vectors), index.corpusRows, idCol, vecCol, threshold)
  }

  /** Default [[editDistancePairs]]/[[incrementalEditDistancePairs]]
    * candidate-volume cap. d19 is the one family member whose work is
    * inherently ∝ candidate collisions rather than corpus size — a
    * low-entropy corpus (tiny alphabet, replicated shards) can push the
    * prefix join toward n²·selectivity silently (measured: ×19 wall at
    * ×10 data on the scaled-replica corpus before q was raised). The cap
    * turns that silent blow-up into a loud abort, the CrossCheckGuard /
    * ewmaPerKey pattern. 25M candidates ≈ tens of seconds of banded
    * verify on one executor core-set — past that the knobs are wrong.
    */
  val DefaultEditCandidateCap = 25000000L

  /** Corpus-wide longest-common-prefix length of `strCol`, in code
    * points, capped at `maxScan` — two string aggregates
    * ([[EdJoin.lcp]]). Empty or all-null input → 0.
    */
  def commonPrefixLength(docs: DataFrame, strCol: String,
                         maxScan: Int = 4096): Int =
    EdJoin.lcp(docs, strCol, maxScan)

  /** Content-adaptive slice for the edit family (VERDICT r14 #2): the
    * `sliceChars` characters starting AFTER the corpus-wide common
    * prefix, as a Column over `strCol`.
    *
    * Why it exists: the Ed-Join prefix filter's selectivity rests on the
    * sliced window carrying each string's DISTINGUISHING grams. A corpus
    * whose strings share a long head (log lines with a fixed timestamp
    * format, URL-titled or boilerplate-headed documents) fills a
    * fixed-position window with corpus-COMMON material — in the limit
    * every doc's rarest grams are everyone's grams, the prefix join
    * degrades toward all-pairs, and only the candidate-volume guard
    * stands between the plan and an n² verify (the measured ×30 lesson:
    * SCALE.md's r14 probe, where a scaler artifact manufactured exactly
    * this corpus shape). Skipping the SHARED prefix costs two aggregates
    * and restores the window to per-doc-distinct content; candidates
    * collapse back to near-dup collisions (spec-pinned on a
    * prefix-inflated fixture where the fixed slice trips the guard).
    *
    * Semantics note: pairing on a different window is a DIFFERENT (better
    * conditioned) query — equal-prefix corpora agree on the skipped head,
    * so for pairs the head contributes 0 edits and distances over the
    * shifted window equal distances over a same-length fixed window
    * whenever the head is truly shared. The d24 oracle replays this
    * definition (LCP and all) in SQL.
    */
  def adaptiveEditSlice(docs: DataFrame, strCol: String,
                        sliceChars: Int = 64,
                        maxScan: Int = 4096): org.apache.spark.sql.Column =
    EdJoin.slice(docs, strCol, sliceChars, maxScan)(col(strCol))

  /** Edit-distance near-dup pairs — the typo/OCR-noise rung of the dedup
    * ladder (shingle Jaccard needs whole shared windows; a handful of
    * single-character edits scattered through a title destroys every
    * 4-gram yet leaves the edit distance ≤ k). Returns (id_a < id_b, dist)
    * for every pair within `maxDist` edits.
    *
    * Scale shape (Ed-Join, [[EdJoin]]): all-pairs Levenshtein is
    * O(n²·len²), the worst join in this file; prefix filtering makes
    * candidates ∝ rare-gram collisions instead. Each string's DISTINCT
    * q-grams rank in a GLOBAL (df, gram) order and only the
    * `q·maxDist + 1` RAREST form its prefix; a pair missing from the
    * prefix bucket join is PROVABLY beyond the bound (no recall loss,
    * unlike LSH). The theorem's one blind spot — pairs where BOTH sides
    * are gram-poor (short or highly repetitive strings; 'abcd' vs 'abce'
    * at q=4 share zero grams yet sit at distance 1) — routes through an
    * exhaustive SHORT-POOL length-band join, exact and self-bounding.
    * Candidates prune further by |len_a − len_b| ≤ maxDist, then verify
    * with one banded Levenshtein each. Shuffles: gram df agg, the prefix
    * bucket join, the length-bucket pool join, the verify join-back — all
    * equi-joins; hub grams rank LAST and fall outside every prefix.
    * `maxCandidates` is the in-plan volume guard
    * ([[DefaultEditCandidateCap]]).
    */
  def editDistancePairs(docs: DataFrame, idCol: String, strCol: String,
                        maxDist: Int = 4, q: Int = 4,
                        maxCandidates: Long = DefaultEditCandidateCap): DataFrame =
    EdJoin.selfPairs(
      docs.select(col(idCol).as("id"), col(strCol).as("s")).filter(col("s").isNotNull),
      EdJoin.Knobs(maxDist, q), maxCandidates, "editDistancePairs",
      "Raise q, lower maxDist, or screen incrementally with " +
        "incrementalEditDistancePairs")

  /** Incremental edit-distance screen — the d11 daily-ingest shape for
    * the typo rung: FRESH strings screen against the standing corpus
    * (never against each other) under the same Ed-Join prefix contract as
    * [[editDistancePairs]]. The rarity order is the CORPUS's gram df
    * (grams the corpus has never seen rank rarest at df 0 — the prefix
    * theorem holds under ANY shared total order, so the screen stays
    * exact); candidates form only where a fresh prefix gram hits a corpus
    * prefix gram, per-ingest work ∝ the batch's rare-gram collisions.
    * Gram-poor strings route through the exhaustive fresh-short ×
    * corpus-short length-band pool, so the screen is exact for every
    * input. This is [[EdJoin.screen]] fed corpus frames built on the fly;
    * [[incrementalEditDistancePairsIndexed]] feeds it the index tables.
    * `maxCandidates` guards the candidate volume in-plan. Returns
    * (fresh_id, corpus_id, dist ≤ maxDist).
    */
  def incrementalEditDistancePairs(fresh: DataFrame, corpus: DataFrame,
                                   idCol: String, strCol: String,
                                   maxDist: Int = 4, q: Int = 4,
                                   maxCandidates: Long = DefaultEditCandidateCap): DataFrame = {
    val k = EdJoin.Knobs(maxDist, q)
    val cs = corpus.select(col(idCol).as("corpus_id"), col(strCol).as("s_c"))
      .filter(col("s_c").isNotNull)
    EdJoin.screen(
      fresh.select(col(idCol).as("id"), col(strCol).as("s")).filter(col("s").isNotNull),
      EdJoin.corpus(cs, EdJoin.corpusGrams(cs, k), k), k, maxCandidates,
      "incrementalEditDistancePairs", "Raise q or lower maxDist")
  }

  /** Standing edit-distance screen index — the d12/d16/s24 lake pattern
    * for the typo/OCR family: the corpus structures
    * [[incrementalEditDistancePairs]] re-derives per call (the gram-df
    * rarity table, each corpus doc's rarity PREFIX carrying its string,
    * the gram-poor short pool keyed by length, and the strings) live as
    * four bucketed warehouse tables. A screen then shuffles ONLY the
    * fresh batch; every corpus-side probe reads pre-bucketed files.
    * `maxDist`/`q` are part of the layout contract (the prefix length is
    * `q·maxDist + 1` — baked into the prefix table at build time).
    *
    * `sliceFrom`/`sliceChars` are the FROZEN pairing-window knobs
    * (VERDICT r15 #1): when `sliceChars > 0` the index was built over
    * `substring(s, sliceFrom, sliceChars)` with `sliceFrom` = the
    * corpus-wide LCP + 1 computed AT BUILD TIME — the [[adaptiveEditSlice]]
    * window made a standing-index property. Probes and appends slice at
    * the stored offset (never recomputing it), so the window is frozen
    * exactly like the rarity order: a shared-head corpus (log lines,
    * URL-titled docs) keeps its prefix selectivity across every future
    * screen and append instead of collapsing toward all-pairs and
    * aborting on the candidate guard. `sliceChars = 0` means the caller
    * pre-sliced (or wants whole strings) — the pre-r16 contract,
    * unchanged.
    */
  final case class EditIndex(dfq: String, prefix: String, shortPool: String,
                             strings: String, maxDist: Int, q: Int,
                             buckets: Int, sliceFrom: Int = 1,
                             sliceChars: Int = 0) {
    private[graft] def knobs: EdJoin.Knobs = EdJoin.Knobs(maxDist, q)

    /** The frozen pairing window. */
    private[graft] def slice: EdJoin.Slice = EdJoin.Slice(sliceFrom, sliceChars)

    /** The index tables' stored columns (no epoch ledger) as the frames a
      * fresh side probes.
      */
    private[graft] def corpus(spark: org.apache.spark.sql.SparkSession): EdJoin.Corpus =
      EdJoin.Corpus(spark.table(dfq).select("g", "df"),
        spark.table(prefix).select("g", "corpus_id", "s_c"),
        spark.table(shortPool).select("len_b", "corpus_id", "s_c"),
        spark.table(strings).select("corpus_id", "s_c"))
  }

  /** `sliceChars > 0` builds the ADAPTIVE-WINDOW variant: the corpus-wide
    * LCP is computed here (two string aggregates — [[commonPrefixLength]])
    * and the index is built over `substring(s, lcp + 1, sliceChars)`;
    * the offset joins maxDist/q/buckets in the knob-baked table names
    * (`..._w{sliceChars}o{sliceFrom}`). HARD CONTRACT (ADVICE r16): a
    * `namePrefix` names ONE corpus — the build-time LCP is memoized per
    * (namePrefix, window knobs) within the application, so re-entering
    * with the SAME prefix over a corpus whose head has drifted reuses the
    * frozen offset and the existing table family (exactly what a
    * standing index should do: the probe window never moves under a
    * live screen). Drift protection is cross-JVM only: a fresh JVM
    * recomputes the LCP, and a drifted head then derives a DIFFERENT
    * `_w{chars}o{off}` family instead of silently probing a stale
    * window. To re-window within an application, use a new `namePrefix`.
    * `sliceChars = 0` (default) keeps the pre-r16 whole-string contract
    * and table names verbatim.
    */
  def writeEditIndex(corpus: DataFrame, idCol: String, strCol: String,
                     namePrefix: String, maxDist: Int = 4, q: Int = 4,
                     buckets: Int = 16, sliceChars: Int = 0,
                     sliceMaxScan: Int = 4096): EditIndex = {
    val spark = corpus.sparkSession
    // the knobs ARE the layout (prefix length = q·maxDist + 1 is baked
    // into the prefix table at build time), so they are baked into the
    // table names exactly like writeMihIndex's _mih_b{bands}x{bandBits}_o{planeOffset}:
    // reusing a namePrefix with different maxDist/q/buckets builds a NEW
    // table family instead of silently returning an index whose stored
    // prefixes were cut for different knobs (which would break the
    // pigeonhole guarantee and drop pairs — ADVICE r14)
    // the offset is needed to DERIVE the table name, which would put a
    // corpus min/max aggregate in front of the tableExists fast path on
    // every serve — contradicting the index's own "no corpus-side work
    // per ingest" contract — so the build-time LCP is a KnobMemo
    // derivation keyed by (namePrefix, window knobs)
    val sliceFrom = KnobMemo.corpusN(spark,
      s"${namePrefix}_edit_w${sliceChars}s${sliceMaxScan}_off")(
      EdJoin.slice(corpus, strCol, sliceChars, sliceMaxScan).from).toInt
    val win = if (sliceChars > 0) s"_w${sliceChars}o$sliceFrom" else ""
    val nm = s"${namePrefix}_edit_d${maxDist}q${q}_k$buckets$win"
    val idx = EditIndex(s"${nm}_dfq", s"${nm}_pref",
      s"${nm}_short", s"${nm}_str", maxDist, q, buckets, sliceFrom, sliceChars)
    if (!spark.catalog.tableExists(idx.dfq)) {
      val k = idx.knobs
      val cs = idx.slice.strings(corpus, idCol, strCol, "corpus_id", "s_c")
      val c = EdJoin.corpus(cs, EdJoin.corpusGrams(cs, k), k)
      // read by the prefix cut and written as its own table
      Caching.persisted(c.dfq)
      // the three APPENDED tables carry the exactly-once epoch ledger;
      // dfq is frozen at build time (the honest asymmetry) and stays plain
      graft.sources.BucketedLake.writeBucketedTableLedgered(spark, idx.prefix,
        c.prefixRows, "g", buckets)
      graft.sources.BucketedLake.writeBucketedTableLedgered(spark, idx.shortPool,
        c.short, "len_b", buckets)
      graft.sources.BucketedLake.writeBucketedTableLedgered(spark, idx.strings,
        cs, "corpus_id", buckets)
      graft.sources.BucketedLake.writeBucketedTable(spark, idx.dfq,
        c.dfq, "g", buckets)
    }
    idx
  }

  /** Fold an ACCEPTED ingest batch into a standing [[EditIndex]] under the
    * FROZEN rarity order — the d17 compaction pattern with one honest
    * asymmetry: the df table is NOT updated. The Ed-Join prefix theorem
    * requires only a SHARED total order on grams — ANY fixed order keeps
    * the screen exact — so freezing the order at build time preserves
    * exactness for every future screen (spec-pinned: screen-after-append
    * equals the from-scratch screen's pairs even though the two plans'
    * CANDIDATE sets may differ). What drifts is only hub-avoidance
    * QUALITY: grams that become common after the freeze still rank rare,
    * so candidate volume creeps up with corpus drift — a rebuild-cadence
    * question (monitor via the in-plan candidate guard), not a
    * correctness one. Batch ids must be disjoint from the indexed corpus.
    *
    * The adaptive pairing window freezes the same way (VERDICT r15 #1):
    * the batch slices at the INDEX's stored `sliceFrom` — never its own
    * LCP — so appended strings live in the same window every standing
    * probe reads. A batch whose head diverges from the build-time head
    * is still screened exactly (the window is part of the operator
    * definition); what drifts is window QUALITY, the same
    * rebuild-cadence monitoring as the rarity order.
    *
    * Exactly-once (VERDICT r19 #1): the caller's fold `epoch` (REQUIRED —
    * the appendShingleIndex contract) makes a crash-then-retry a no-op —
    * one epoch across the three appended tables (prefix/short/strings;
    * dfq is frozen), per-table frontier gating healing a crash between
    * appends.
    */
  def appendEditIndex(batch: DataFrame, index: EditIndex, idCol: String,
                      strCol: String, epoch: Long): EditIndex = {
    val spark = batch.sparkSession
    val k = index.knobs
    val cs = index.slice.strings(batch, idCol, strCol, "corpus_id", "s_c")
    val c = EdJoin.corpus(cs, EdJoin.corpusGrams(cs, k), k,
      frozen = Some(spark.table(index.dfq)))
    graft.sources.BucketedLake.appendBucketedTableOnce(spark, index.prefix,
      c.prefixRows, epoch, "g", index.buckets)
    graft.sources.BucketedLake.appendBucketedTableOnce(spark, index.shortPool,
      c.short, epoch, "len_b", index.buckets)
    graft.sources.BucketedLake.appendBucketedTableOnce(spark, index.strings,
      cs, epoch, "corpus_id", index.buckets)
    index
  }

  /** [[incrementalEditDistancePairs]] against a standing [[EditIndex]] —
    * identical RESULTS when the index was built from the same corpus (the
    * d20 oracle applies verbatim; under appends the frozen-order theorem
    * keeps the OUTPUT identical even where candidates differ), but the
    * per-ingest cost excludes every corpus-side derivation: the same
    * [[EdJoin.screen]] probe reads the df/prefix/short/strings frames from
    * the bucketed tables. An adaptive-window index (`sliceChars > 0`)
    * slices the fresh batch at its FROZEN `sliceFrom` — the probe always
    * reads the window the index was built over.
    */
  def incrementalEditDistancePairsIndexed(fresh: DataFrame, index: EditIndex,
                                          idCol: String, strCol: String,
                                          maxCandidates: Long = DefaultEditCandidateCap): DataFrame =
    EdJoin.screen(index.slice.strings(fresh, idCol, strCol, "id", "s"),
      index.corpus(fresh.sparkSession), index.knobs, maxCandidates,
      "incrementalEditDistancePairsIndexed",
      "Raise q or lower maxDist; rebuild the index if corpus drift has " +
        "eroded the frozen rarity order")

  /** ==SMALL-SCALE CROSS-CHECK — not a scale path== Embedding near-dup
    * pairs: cosine ≥ threshold over `ARRAY<FLOAT>` columns, as an EXACT
    * all-pairs crossJoin. Deliberately O(n²): it exists to verify
    * [[embeddingCosinePairsLsh]] (the production variant — LSH-bucketed,
    * never all-pairs) on corpora small enough to enumerate.
    *
    * The smallness contract is ENFORCED, not advisory (VERDICT r6 #3): the
    * input is counted ONCE up front (an id-column-only scan — the count is
    * reused for the error message, never recomputed) and the call aborts
    * loudly above `crossCheckCap` (default 100k rows ⇒ ≤ ~5·10⁹ candidate
    * pairs), so the all-pairs shape is structurally incapable of running
    * at corpus scale. Raising the cap is an explicit caller decision.
    */
  def embeddingCosinePairs(vecs: DataFrame, idCol: String, vecCol: String,
                           threshold: Double,
                           crossCheckCap: Long = CrossCheckGuard.DefaultCap): DataFrame = {
    graft.functions.NativeFunctions.register(vecs.sparkSession)
    CrossCheckGuard.requireSmall(vecs.select(idCol), "embeddingCosinePairs",
      "embeddingCosinePairsLsh", crossCheckCap)
    val v = vecs.select(col(idCol), col(vecCol).cast("array<double>").as("v"),
      Similarity.l2norm(col(vecCol).cast("array<double>")).as("norm"))
    v.select(col(idCol).as("id_a"), col("v").as("v_a"), col("norm").as("n_a"))
      .crossJoin(v.select(col(idCol).as("id_b"), col("v").as("v_b"), col("norm").as("n_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}
