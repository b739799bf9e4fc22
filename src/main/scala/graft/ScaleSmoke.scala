package graft

import org.apache.spark.sql.SparkSession

/** Measurement companion to [[ScaledCorpus]] (VERDICT r7 #5): runs the
  * embedding-LSH dedup operator over a given corpus dir with an explicit
  * `planesPerTable`, and prints that run's load-independent work metrics as
  * one JSON line.
  *
  * Purpose: the fixed-knob 10× smoke showed d06's DEFAULT 4-bit tables go
  * quadratic in within-bucket pair work (shuffle ×90.8 for data ×10 — bucket
  * count is constant, so occupancy grows ∝N and pairs ∝N²). SCALE.md's
  * documented scale path is to grow bits-per-table with log₂(growth) so
  * expected bucket occupancy stays constant; this main is the instrument
  * that MEASURES that claim instead of asserting it (4 bits at 1× vs
  * 4+log₂(10)≈8 bits at 10× should land within a small factor of the 1×
  * shuffle volume, not 100×).
  */
object ScaleSmoke {

  /** The 1-(1-p^b)^L hyperplane-LSH recall formula at cosine `cos` — the
    * floor the standing recall gate asserts against (VERDICT r9 #6). Per
    * pair at angle θ a b-plane signature agrees with prob p^b, p = 1-θ/π;
    * pairs ABOVE the threshold are caught with higher probability, so the
    * at-threshold value lower-bounds expected recall over any ≥threshold
    * population.
    */
  def recallFloor(b: Int, l: Int, cos: Double): Double = {
    val p = 1.0 - math.acos(cos) / math.Pi
    1.0 - math.pow(1.0 - math.pow(p, b), l)
  }

  /** ==indexab mode (VERDICT r14 #4)== Pinned-vs-adaptive knob A/B for
    * the STANDING index serving shapes, on the e23/s24 corpus/fresh split
    * (`vec_id % 8`): build the embedding signature index and the MIH code
    * index twice — once at the oracle-anchored knobs ((4,8) planes×tables
    * / 4×8-bit bands) and once at the occupancy-holding adaptive knobs
    * ([[graft.operators.Dedup.adaptiveLshKnobs]] for LSH; bandBits =
    * max(8, ⌈log₂ n⌉ − 7) at fixed bands for MIH — n/2^bandBits ≈ 128,
    * the same policy).
    *
    * The measured quantity is EXACT CANDIDATE VOLUME, computed from
    * per-bucket COUNT joins (Σ over buckets of corpus-occupancy ×
    * fresh-occupancy — exact, never enumerates a candidate row), because
    * at deep scale the pinned arm's candidates are the wall itself: at
    * ×30 the (4,8) family would enumerate ~10¹⁰ rows and the full screen
    * is deliberately SKIPPED (`screen_sec: -1`) above `fullScreenCap` —
    * that refusal IS the measurement. Arms under the cap also run the
    * real screen end-to-end. MIH screens run at radius = bands−1 = 3,
    * the guaranteed-complete contract both knob families honor in their
    * own code space (cross-knob pair sets are not comparable beyond it —
    * longer codes measure a finer Hamming). Emits one JSON line per
    * (family, knobs).
    */
  /** The ab_* warehouse-table tag for a corpus dir: readable basename PLUS
    * the full-path layout hash (ADVICE r16 — basename alone collides two
    * corpora at a/scale10 vs b/scale10, silently measuring the first
    * corpus's index on the second run; the query-side ensure* helpers
    * already key by the full path).
    */
  private def abTag(dir: String): String =
    dir.replaceAll(".*/", "").replaceAll("[^A-Za-z0-9_]", "_") + "_" +
      graft.sources.BucketedLake.layoutSuffix(dir, 16)

  /** `f`'s result and its wall time in seconds. */
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  private def indexAb(spark: SparkSession, dir: String,
                      work: WorkMetricsListener): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Similarity}
    val fullScreenCap = 2e8
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val corpus = e.filter(col("vec_id") % 8 =!= 0)
    val fresh = e.filter(col("vec_id") % 8 === 0).persist()
    val n = corpus.count()
    val nF = fresh.count()
    val dim = Similarity.vectorDim(e, "embedding")
    val tag = abTag(dir)

    def timedWork[A](f: => A): (A, Double, WorkSnapshot) = {
      val w0 = work.snapshot(spark.sparkContext)
      val (a, sec) = timed(f)
      (a, sec, work.snapshot(spark.sparkContext) - w0)
    }
    def volume(corpusKeyed: org.apache.spark.sql.DataFrame,
               freshKeyed: org.apache.spark.sql.DataFrame,
               keys: Seq[String]): Long = {
      val c = corpusKeyed.groupBy(keys.map(col): _*).agg(count(lit(1)).as("nc"))
      val f = freshKeyed.groupBy(keys.map(col): _*).agg(count(lit(1)).as("nf"))
      c.join(f, keys).agg(coalesce(sum(col("nc") * col("nf")), lit(0L)))
        .head().getLong(0)
    }

    graft.functions.NativeFunctions.register(spark)

    // — embedding signature index (the e23/d12 family) —
    for ((label, b0, l0) <- Seq(("pinned", 4, 8), ("adaptive", 0, 0))) {
      val (idx, buildSec) = timed {
        Dedup.writeEmbeddingSignatureIndex(
          corpus, "vec_id", "embedding", s"ab_${tag}_emb_$label", b0, l0)
      }
      val signs = Similarity.hyperplaneSigns(spark, idx.tables * idx.planesPerTable, 0, dim)
      val fSig = fresh
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .select(posexplode(graft.functions.NativeFunctions.hyperplaneSignatures(
          spark, col("v"), signs.flatten, idx.planesPerTable, idx.tables))
          .as(Seq("tbl", "sig")))
      val (cand, candSec) = timed {
        volume(spark.table(idx.signatures), fSig, Seq("tbl", "sig"))
      }
      val (pairs, sec, w) =
        if (cand <= fullScreenCap) timedWork {
          Dedup.incrementalEmbeddingPairsIndexed(
            fresh, idx, "vec_id", "embedding", 0.4).count()
        } else ((-1L, -1.0, WorkSnapshot(0, 0, 0, 0, 0)))
      println(f"""{"mode":"indexab","family":"emb","knobs":"$label","dir":"$dir","n":$n,"n_fresh":$nF,"planes_per_table":${idx.planesPerTable},"tables":${idx.tables},"build_sec":$buildSec%.2f,"candidates":$cand,"cand_sec":$candSec%.2f,"screen_sec":$sec%.2f,"pairs":$pairs,"shuffle_read_bytes":${w.shuffleReadBytes},"shuffle_write_bytes":${w.shuffleWriteBytes},"spill_disk_bytes":${w.spillDiskBytes},"tasks":${w.tasks}}""")
    }

    // — MIH code index (the s24 family) —
    val adaptiveBits = Similarity.adaptiveMihBandBits(n)
    for ((label, bits) <- Seq(("pinned", 8), ("adaptive", adaptiveBits))) {
      val (idx, buildSec) = timed {
        Similarity.writeMihIndex(
          corpus, "vec_id", "embedding", s"ab_${tag}_mih_$label",
          bands = 4, bandBits = bits)
      }
      val fBand = idx.family(spark).codeBands(fresh, "vec_id", "embedding",
        "fresh_id", "f_code")
      val (cand, candSec) = timed {
        volume(spark.table(idx.codes), fBand, Seq("band", "band_val"))
      }
      val (pairs, sec, w) =
        if (cand <= fullScreenCap) timedWork {
          Similarity.mihHammingScreenIndexed(
            fresh, idx, "vec_id", "embedding", radius = 3).count()
        } else ((-1L, -1.0, WorkSnapshot(0, 0, 0, 0, 0)))
      println(f"""{"mode":"indexab","family":"mih","knobs":"$label","dir":"$dir","n":$n,"n_fresh":$nF,"bands":4,"band_bits":$bits,"build_sec":$buildSec%.2f,"candidates":$cand,"cand_sec":$candSec%.2f,"screen_sec":$sec%.2f,"pairs":$pairs,"shuffle_read_bytes":${w.shuffleReadBytes},"shuffle_write_bytes":${w.shuffleWriteBytes},"spill_disk_bytes":${w.spillDiskBytes},"tasks":${w.tasks}}""")
    }
    fresh.unpersist(blocking = false)
  }

  /** ==editab mode (VERDICT r15 #1)== Fixed-vs-adaptive pairing-window
    * A/B for the STANDING edit index on a SHARED-HEAD corpus (every en
    * doc prefixed with the d24 synthetic URL head): build the index
    * twice — once over the fixed 1..64 window, once adaptive
    * (`sliceChars = 64`, corpus LCP frozen at build) — then measure, per
    * arm, (a) the exact prefix-join candidate volume via per-gram COUNT
    * joins (never enumerating a candidate row — at ×10 the fixed arm's
    * candidates ARE the wall), and (b) the real indexed screen
    * end-to-end under the default 25M guard, recording a guard abort as
    * the REFUSAL it is. The expected artifact: fixed volume ∝
    * |fresh|·|corpus| (quadratic in scale, guard-refused at ×10),
    * adaptive volume ∝ true collisions (linear). One JSON line per arm.
    */
  private def editAdaptiveAb(spark: SparkSession, dir: String,
                             work: WorkMetricsListener): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    val head = "https://corpus.example.org/shard-0000/2026/01/01/documents/part-"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("lang") === "en")
      .select(col("doc_id"), concat(lit(head), col("text")).as("s0"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val fresh = docs.filter(pmod(col("doc_id"), lit(10)) === 0).persist()
    val (nC, nF) = (corpus.count(), fresh.count())
    val tag = abTag(dir)
    val (fixedIdx, fixedBuildSec) = timed {
      Dedup.writeEditIndex(
        corpus.select(col("doc_id"), substring(col("s0"), 1, 64).as("s0")),
        "doc_id", "s0", s"ab_${tag}_editfix")
    }
    val (adaptIdx, adaptBuildSec) = timed {
      Dedup.writeEditIndex(corpus, "doc_id", "s0", s"ab_${tag}_editad",
        sliceChars = 64)
    }
    for ((label, idx, buildSec, freshArm) <- Seq(
        ("fixed", fixedIdx, fixedBuildSec,
          fresh.select(col("doc_id"), substring(col("s0"), 1, 64).as("s0"))),
        ("adaptive", adaptIdx, adaptBuildSec, fresh))) {
      // the probe's own fresh-side prefix derivation (slice at the frozen
      // offset for the adaptive arm; gram size and prefix length derived
      // from the INDEX knobs, so the measured volume is the volume of the
      // screen actually configured)
      val q = idx.q
      val prefixLen = idx.q * idx.maxDist + 1
      val fs = (if (idx.sliceChars > 0)
          freshArm.select(col("doc_id"),
            substring(col("s0"), idx.sliceFrom, idx.sliceChars).as("s0"))
        else freshArm)
        .select(col("doc_id").cast("long").as("id"), col("s0").as("s"))
        .filter(col("s").isNotNull)
      val g = fs.select(col("id"), explode(array_distinct(expr(
        s"CASE WHEN length(s) >= $q THEN transform(sequence(1, length(s) - ${q - 1}), " +
          s"i -> substring(s, i, $q)) ELSE array(s) END"))).as("g"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("df"), col("g"))
      val fpref = g.join(spark.table(idx.dfq), Seq("g"), "left")
        .withColumn("df", coalesce(col("df"), lit(0L)))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= prefixLen).select(col("id"), col("g"))
      val (vol, volSec) = timed {
        val c = spark.table(idx.prefix).groupBy("g").agg(count(lit(1)).as("nc"))
        val f2 = fpref.groupBy("g").agg(count(lit(1)).as("nf"))
        c.join(f2, "g").agg(coalesce(sum(col("nc") * col("nf")), lit(0L)))
          .head().getLong(0)
      }
      val ((pairs, refused), screenSec) = timed {
        try (Dedup.incrementalEditDistancePairsIndexed(
          freshArm, idx, "doc_id", "s0").count(), false)
        catch {
          case e: Exception
            if Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
              .exists(t => Option(t.getMessage).exists(
                _.contains("exceeds maxCandidates"))) => (-1L, true)
        }
      }
      println(f"""{"mode":"editab","knobs":"$label","dir":"$dir","n_corpus":$nC,"n_fresh":$nF,"slice_from":${idx.sliceFrom},"build_sec":$buildSec%.2f,"prefix_volume":$vol,"vol_sec":$volSec%.2f,"screen_sec":$screenSec%.2f,"pairs":$pairs,"guard_refused":$refused}""")
    }
    fresh.unpersist(blocking = false)
  }

  /** ×N leg for the cluster-label lake + leakage-safe split families
    * (VERDICT r16 #1 done-criterion "serve cost ∝ batch" and #4 "a ×10
    * row for t46's batch shape"). Build = standing shingle index + base
    * label table (the once-per-corpus cost); serve = the d21 fold
    * (fresh pairs via the standing index probe + delta closure over the
    * label table read); maintain = the d26 write-back append; split =
    * t46's assignment given maintained labels (one join + two hash
    * projections — the operator's own cost, labels never re-derived).
    */
  private def labelSplitAb(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.{CorpusOps, Dedup}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val corpus = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
    val fresh = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
    val tag = abTag(dir)
    val (shIdx, idxSec) = timed {
      Dedup.writeShingleIndex(corpus, "doc_id", "text",
        Dedup.ShingleIndex(s"ab_${tag}_lblsh", s"ab_${tag}_lblshsz"))
    }
    val (lblTable, buildSec) = timed {
      Dedup.writeClusterLabels(spark, s"ab_${tag}_lbl",
        Dedup.dupClusters(Dedup.ngramJaccardPairs(corpus, "doc_id", "text")))
    }
    // the fresh-pair screen is SHARED work (both the serve and the
    // write-back consume the same pairs): persist it once so maintain_sec
    // measures the write-back increment — the delta closure + append —
    // not a from-scratch re-screen (review r17: the unpersisted def
    // re-ran the whole screen per leg and inflated the published rows)
    val fp = graft.operators.Caching.persisted(Dedup
      .incrementalJaccardPairsIndexed(fresh, shIdx, "doc_id", "text")
      .select(col("fresh_id").as("id_a"), col("corpus_id").as("id_b"))
      .union(Dedup.ngramJaccardPairs(fresh, "doc_id", "text")
        .select(col("id_a"), col("id_b"))))
    val (serveRows, serveSec) = timed {
      Dedup.incrementalDupClusters(
        Dedup.readClusterLabels(spark, lblTable), fp).count()
    }
    val (_, maintainSec) = timed {
      Dedup.maintainClusterLabels(spark, lblTable, fp)
    }
    val weights = Seq("train" -> 90, "val" -> 95, "test" -> 100)
    val ((splitRows, moved), splitSec) = timed {
      val sp = graft.operators.Caching.persisted(
        CorpusOps.leakageSafeSplit(docs.select("doc_id"),
          Dedup.readClusterLabels(spark, lblTable), "doc_id", weights))
      (sp.count(), sp.filter(col("moved")).count())
    }
    println(f"""{"mode":"labelab","dir":"$dir","n_docs":${docs.count()},"idx_build_sec":$idxSec%.2f,"label_build_sec":$buildSec%.2f,"serve_sec":$serveSec%.2f,"serve_rows":$serveRows,"maintain_sec":$maintainSec%.2f,"split_sec":$splitSec%.2f,"split_rows":$splitRows,"moved":$moved}""")
  }

  /** ==lmmaint mode== The LM maintenance rung's scale instrument (t49/
    * e50): on a base / ingest hash split, measure
    * (1) the standing gram-table family build (the once-per-corpus cost),
    * (2) the batch fold (must be ∝ the batch's own gram counting +
    * append), (3) the head re-derivation from the maintained tables
    * (gram-table-sized), against (4) a from-scratch order-4 retrain over
    * the grown corpus (the corpus-passes cost class maintenance exists
    * to avoid). Run at ×1 and ×10: fold + head should track the batch /
    * gram-table sizes, retrain the corpus. `batchPct` (default 20, the
    * t49 fixture share) varies the ingest share — the fold must scale
    * with IT, not the corpus (a 2% daily ingest vs the fixture's 20%).
    */
  private def lmMaintAb(spark: SparkSession, dir: String,
                        batchPct: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.CorpusOps
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = docs.filter(pmod(col("doc_id"), lit(100)) < 100 - batchPct)
    val batch = docs.filter(pmod(col("doc_id"), lit(100)) >= 100 - batchPct)
    val tag = abTag(dir) + s"_p$batchPct"
    val names = (2 to 4).map(k => k -> s"ab_${tag}_kngc_k$k").toMap
    names.values.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    val (_, buildSec) = timed {
      (2 to 4).foreach(k => CorpusOps.writeKnGramTable(spark, names(k),
        CorpusOps.knGramCounts(base, "text", k)))
    }
    val (_, foldSec) = timed {
      (2 to 4).foreach(k => CorpusOps.maintainKnGramTable(spark, names(k),
        CorpusOps.knGramCounts(batch, "text", k), epoch = 1L))
    }
    val (headRows, headSec) = timed {
      CorpusOps.kneserNeyHeadFromCounts(
        k => CorpusOps.readKnGramCounts(spark, names(k)), 4,
        spreadProviders = true).count()
    }
    val gramRows = (2 to 4).map(k => spark.table(names(k)).count()).sum
    val (retrainRows, retrainSec) = timed {
      CorpusOps.kneserNeyLmOrder(docs, "doc_id", "text", 4).count()
    }
    println(f"""{"mode":"lmmaint","dir":"$dir","batch_pct":$batchPct,"n_base":${base.count()},"n_batch":${batch.count()},"gram_rows":$gramRows,"build_sec":$buildSec%.2f,"fold_sec":$foldSec%.2f,"head_sec":$headSec%.2f,"head_rows":$headRows,"retrain_sec":$retrainSec%.2f,"retrain_rows":$retrainRows}""")
  }

  /** The s27/s28 planted recall gates AT THE SCALED KNOB STEP (VERDICT
    * r16 #7): the oracle-graded gates run at the fixture sf where the
    * adaptive policies resolve (4,8)/8-bit; this leg replays the same
    * plant (deterministic ±5% coordinate perturbation of vec_id < 50 —
    * cosine ≥ 0.998 to the source), the same exact planted-query × corpus
    * ≥0.9 truth (50·n work), and the same screens with knobs LEFT TO THE
    * POLICIES against a scaled corpus, so the knob step the policies
    * take at ×10 (e.g. (4,8)→(8,16)) is recall-MEASURED, not formula-
    * asserted. Emits per-family total and minimum per-query recall.
    */
  private def plantedRecallAb(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, Similarity}
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val planted = e.filter(col("vec_id") < 50)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(v, (x, i) -> x * (1.0D + 0.05D * " +
          "(CASE WHEN i % 2 = 0 THEN 1.0D ELSE -1.0D END)))").as("v"))
    val universe = e.unionByName(planted).persist()
    val n = universe.count()
    val (b, l) = Dedup.adaptiveLshKnobs(n)
    val bits = Similarity.adaptiveMihBandBits(e.count())
    def withNorm(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("norm", graft.operators.Similarity.l2norm(col("v")))
    def truth(others: org.apache.spark.sql.DataFrame) = withNorm(planted)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qn"))
      .crossJoin(withNorm(others).select(col("vec_id").as("other_id"),
        col("v").as("ov"), col("norm").as("onn")))
      .filter(col("query_id") =!= col("other_id"))
      .filter(Similarity.dot(col("qv"), col("ov")) / (col("qn") * col("onn")) >= 0.9)
      .select("query_id", "other_id")
    def rollup(t: org.apache.spark.sql.DataFrame,
               caught: org.apache.spark.sql.DataFrame): (Long, Long, Double) = {
      val per = t.join(caught.withColumn("hit", lit(1L)),
          Seq("query_id", "other_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("tn"), sum(coalesce(col("hit"), lit(0L))).as("cn"))
        .agg(sum("tn"), sum("cn"),
          min(col("cn").cast("double") / col("tn").cast("double")))
        .head()
      (per.getLong(0), per.getLong(1), per.getDouble(2))
    }
    val lshHits = Dedup.embeddingCosinePairsLsh(universe, "vec_id", "v", 0.9, b, l)
      .filter(col("id_a") >= 1000000L || col("id_b") >= 1000000L)
    val lshCaught = lshHits
      .select(when(col("id_b") >= 1000000L, col("id_b")).otherwise(col("id_a"))
          .as("query_id"),
        when(col("id_b") >= 1000000L, col("id_a")).otherwise(col("id_b"))
          .as("other_id"))
      .union(lshHits.filter(col("id_a") >= 1000000L && col("id_b") >= 1000000L)
        .select(col("id_a").as("query_id"), col("id_b").as("other_id")))
    val (lt, lc, lmin) = rollup(truth(universe), lshCaught)
    val mihCaught = Similarity.mihHammingScreen(planted, e, "vec_id", "v",
        radius = 3, bands = 4, bandBits = bits)
      .select(col("fresh_id").as("query_id"), col("corpus_id").as("other_id"))
    val (mt, mc, mmin) = rollup(truth(e), mihCaught)
    universe.unpersist(blocking = false)
    println(f"""{"mode":"plantedrecall","dir":"$dir","n":$n,"lsh_b":$b,"lsh_l":$l,"mih_bits":$bits,"lsh_truth":$lt,"lsh_caught":$lc,"lsh_min_query_recall":$lmin%.4f,"mih_truth":$mt,"mih_caught":$mc,"mih_min_query_recall":$mmin%.4f}""")
  }

  /** ==qsweep mode (VERDICT r19 #5)== Relational q-family scale audit:
    * the sketch/text/dedup/multimodal families all carry ×10/×30 curves
    * (the r19 wide sweep caught q54's conditional-CSE per-row pathology
    * there), but the q-family — joins, windows, IVM, CDC, salted joins —
    * had never run above sf0.1. This mode runs the named q-queries (the
    * most expensive by committed bench history, by default) against a
    * [[ScaledCorpus]] dir and emits one JSON line per query with:
    *
    *   - `cold_sec` / `warm_sec`: first run (per-query codegen included)
    *     and a second run after a blocking sweep — the warm number is the
    *     scaling signal (the q54 pathology shows as warm wall growing
    *     super-linearly in the factor);
    *   - load-independent work metrics (shuffle bytes, spill, tasks) —
    *     a shuffle that grows faster than ×factor is a plan problem even
    *     on a noisy host;
    *   - physical join-operator counts parsed from the FINAL (post-AQE)
    *     plan — `bhj`/`smj`/`shj`/`bnlj`/`cartesian` — so a
    *     broadcast↔sort-merge flip between scales is visible in the
    *     artifact, not just in a saved explain dump.
    *
    * ScaledCorpus scales the three join dims under the fact FKs' remap
    * (referential integrity per replica), so join OUTPUT scales ×factor —
    * without that, scaled facts would dangle against 1× dims and the
    * sweep would measure joins that drop (factor−1)/factor of their rows.
    */
  private def qSweep(spark: SparkSession, dir: String,
                     namesArg: Option[String],
                     work: WorkMetricsListener): Unit = {
    val names = namesArg
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq("q26_pivot", "q55_rankq_quantiles",
        "q03_join_agg_nation", "q30_grouping_sets", "q50_scd2_pit",
        "q51_cdc_apply", "q33_bucketed_join", "q19_having_case",
        "q37_scd2_merge", "q53_layout_pruning", "q47_hist_quantiles",
        "q42_auto_salted_join"))
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"qsweep: unknown queries ${unknown.mkString(",")}")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val t0 = System.nanoTime()
      val df0 = fn(spark, dir)
      df0.count()
      val cold = (System.nanoTime() - t0) / 1e9
      SessionSweep.sweep(spark, blocking = true)
      val w0 = work.snapshot(spark.sparkContext)
      val t1 = System.nanoTime()
      val df1 = fn(spark, dir)
      df1.count()
      val warm = (System.nanoTime() - t1) / 1e9
      val w = work.snapshot(spark.sparkContext) - w0
      // FINAL plan after AQE re-planning: materialized by the count above
      val plan = df1.queryExecution.executedPlan.toString
      def ops(marker: String): Int =
        marker.r.findAllMatchIn(plan).size
      SessionSweep.sweep(spark, blocking = true)
      println(
        s"""{"mode":"qsweep","dir":"$dir","query":"$n"""" +
          f""","cold_sec":$cold%.3f,"warm_sec":$warm%.3f""" +
          s""","shuffle_read":${w.shuffleReadBytes},"shuffle_write":${w.shuffleWriteBytes}""" +
          s""","spill_disk":${w.spillDiskBytes},"tasks":${w.tasks}""" +
          s""","bhj":${ops("BroadcastHashJoin")},"smj":${ops("SortMergeJoin")}""" +
          s""","shj":${ops("ShuffledHashJoin")},"bnlj":${ops("BroadcastNestedLoopJoin")}""" +
          s""","cartesian":${ops("CartesianProduct")}}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/scale10")
    // "exact" = all-pairs ground truth (cap raised for the measurement);
    // "recall" = the standing recall gate (truth + LSH + floor assertion);
    // "indexab" = pinned-vs-adaptive standing-index A/B (VERDICT r14 #4);
    // otherwise the arg is planesPerTable for the LSH path
    val exact = args.lift(1).contains("exact")
    val recallGate = args.lift(1).contains("recall")
    val indexAbMode = args.lift(1).contains("indexab")
    val editAbMode = args.lift(1).contains("editab")
    val labelAbMode = args.lift(1).contains("labelab")
    val plantedMode = args.lift(1).contains("plantedrecall")
    val lmMaintMode = args.lift(1).contains("lmmaint")
    val qsweepMode = args.lift(1).contains("qsweep")
    val planesPerTable =
      if (exact || indexAbMode || editAbMode || labelAbMode || plantedMode ||
        lmMaintMode || qsweepMode) 0
      else if (recallGate) args.lift(2).map(_.toInt).getOrElse(0)
      else args.lift(1).map(_.toInt).getOrElse(8)
    val tables =
      if (recallGate) args.lift(3).map(_.toInt).getOrElse(0)
      // qsweep's args(2) is a query-name list, not a knob — don't parse it
      else if (qsweepMode) 8
      else args.lift(2).map(_.toInt).getOrElse(8)
    val spark = GraftSession.posture(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    val work = new WorkMetricsListener
    spark.sparkContext.addSparkListener(work)

    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")

    if (qsweepMode) {
      qSweep(spark, dir, args.lift(2), work)
      SessionSweep.sweep(spark, blocking = true)
      spark.stop()
      return
    }

    if (indexAbMode) {
      indexAb(spark, dir, work)
      SessionSweep.sweep(spark, blocking = true)
      spark.stop()
      return
    }

    if (editAbMode) {
      editAdaptiveAb(spark, dir, work)
      SessionSweep.sweep(spark, blocking = true)
      spark.stop()
      return
    }

    if (labelAbMode) {
      labelSplitAb(spark, dir)
      SessionSweep.sweep(spark, blocking = true)
      spark.stop()
      return
    }

    if (plantedMode) {
      plantedRecallAb(spark, dir)
      SessionSweep.sweep(spark, blocking = true)
      spark.stop()
      return
    }

    if (lmMaintMode) {
      lmMaintAb(spark, dir, args.lift(2).map(_.toInt).getOrElse(20))
      SessionSweep.sweep(spark, blocking = true)
      spark.stop()
      return
    }

    if (recallGate) {
      // == Standing recall gate (VERDICT r9 #6) ==
      // r9's recall points (77% at (4,8), 37% at adaptive (8,16), cosine
      // 0.4) lived only in SCALE.md prose; this mode re-measures them
      // against the guarded all-pairs ground truth and ASSERTS
      // recall ≥ recallFloor, so a future knob change that silently trades
      // recall away fails the smoke instead of shipping. The gate runs at
      // 0.4 because that is where this corpus HAS true pairs (max base
      // pair cosine ≈ 0.6 — the ≥0.9 truth set is empty); the same
      // formula it validates gives 0.996+ at the 0.9 near-dup regime
      // curation thresholds live in. LSH pairs are a spec-pinned SUBSET
      // of the exact pairs (identical verify), so recall = |lsh| / |truth|.
      val threshold = args.lift(4).map(_.toDouble).getOrElse(0.4)
      val n = vecs.count()
      val (b, l) =
        if (planesPerTable > 0 && tables > 0) (planesPerTable, tables)
        else graft.operators.Dedup.adaptiveLshKnobs(n)
      val truth = graft.operators.Dedup.embeddingCosinePairs(
        vecs, "vec_id", "embedding", threshold, crossCheckCap = 1000000L).count()
      val lsh = graft.operators.Dedup.embeddingCosinePairsLsh(
        vecs, "vec_id", "embedding", threshold, b, l).count()
      val recall = if (truth == 0) 1.0 else lsh.toDouble / truth
      val floor = recallFloor(b, l, threshold)
      SessionSweep.sweep(spark, blocking = true)
      spark.stop()
      println(f"""{"dir":"$dir","mode":"recall","planes_per_table":$b,"tables":$l,"threshold":$threshold,"n":$n,"truth_pairs":$truth,"lsh_pairs":$lsh,"recall":$recall%.4f,"formula_floor":$floor%.4f,"floor_at_0.9":${recallFloor(b, l, 0.9)}%.4f,"pass":${recall >= floor}}""")
      if (recall < floor) {
        System.err.println(
          f"[scale-smoke] RECALL GATE FAILED: measured $recall%.4f < formula floor $floor%.4f at cosine $threshold (b=$b, L=$l)")
        sys.exit(3)
      }
      return
    }

    val w0 = work.snapshot(spark.sparkContext)
    val t0 = System.nanoTime()
    val pairs =
      if (exact)
        graft.operators.Dedup.embeddingCosinePairs(
          vecs, "vec_id", "embedding", 0.4, crossCheckCap = 1000000L).count()
      else graft.operators.Dedup.embeddingCosinePairsLsh(
        vecs, "vec_id", "embedding", 0.4, planesPerTable, tables).count()
    val sec = (System.nanoTime() - t0) / 1e9
    val w = work.snapshot(spark.sparkContext) - w0
    SessionSweep.sweep(spark, blocking = true)
    spark.stop()
    println(f"""{"dir":"$dir","mode":"${if (exact) "exact" else "lsh"}","planes_per_table":$planesPerTable,"tables":$tables,"pairs":$pairs,"sec":$sec%.2f,"shuffle_read_bytes":${w.shuffleReadBytes},"shuffle_write_bytes":${w.shuffleWriteBytes},"spill_mem_bytes":${w.spillMemBytes},"spill_disk_bytes":${w.spillDiskBytes},"tasks":${w.tasks}}""")
  }
}
