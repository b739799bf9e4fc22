package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.{Dedup, Multimodal, Similarity}

/** Invariants for the hash-defined extension operators (those with rows-only
  * driver checks), cross-checked against the exactly-oracled variants on the
  * sf0.001 testdata.
  */
class ExtensionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$dir/embeddings.parquet")

  private lazy val exactPairs =
    Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash LSH finds exactly the exact-Jaccard pairs on this corpus") {
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === exactPairs)
    assert(exactPairs.nonEmpty) // the corpus has engineered near-dups
  }

  test("simhash (hamming<=3) finds a subset of docs incl. known near-dups") {
    val sim = Dedup.simhashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // SimHash at hamming<=3 is a different (stricter, token-multiset) notion
    // than 4-gram Jaccard>=0.5 — but on this corpus's ~0.99-dups they overlap.
    assert((sim intersect exactPairs).nonEmpty)
    // determinism across plans/runs
    val sim2 = Dedup.simhashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sim === sim2)
  }

  test("whole-doc fingerprints: distinct docs don't collide; stable across runs") {
    val fp = docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val n = fp.count()
    val nfp = fp.select("fp").distinct().count()
    assert(nfp === n) // no exact dups in corpus → no collisions expected
    val again = docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    assert(fp.except(again).count() === 0)
  }

  test("winnow fingerprint collides for near-dup pairs more than random pairs") {
    val wfp = docs.select(col("doc_id"), winnowFingerprint(col("text")).as("w"))
    val byId = wfp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dupCollisions = exactPairs.count { case (a, b) => byId(a) == byId(b) }
    assert(dupCollisions.toDouble / exactPairs.size > 0.5)
  }

  test("topK Aggregator agrees with window ranking end to end") {
    val q = embs.filter(col("vec_id") < 5)
    val viaAgg = Similarity.cosineTopK(q, embs, "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaWin = Similarity.cosineTopKWindow(q, embs, "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaAgg === viaWin)
    assert(viaAgg.size === 25)
  }

  test("all-pairs cross-checks abort loudly above the enforced cap") {
    // VERDICT r6 #3: the two deliberately-quadratic cross-check operators
    // must be structurally incapable of running at corpus scale — the
    // smallness contract is a require(), not a doc comment. embs has 200
    // rows at sf0.001, so a cap of 10 must abort BEFORE any pair work.
    val e1 = intercept[IllegalArgumentException] {
      Dedup.embeddingCosinePairs(embs, "vec_id", "embedding", 0.4,
        crossCheckCap = 10)
    }
    assert(e1.getMessage.contains("CROSS-CHECK") &&
      e1.getMessage.contains("embeddingCosinePairsLsh"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.cosineTopKWindow(embs.limit(3), embs, "vec_id", "embedding",
        5, crossCheckCap = 10)
    }
    assert(e2.getMessage.contains("CROSS-CHECK") &&
      e2.getMessage.contains("cosineTopK"))
    // and at the default cap both still run on enumerable inputs
    assert(Dedup.embeddingCosinePairs(embs, "vec_id", "embedding", 0.4)
      .count() > 0)
  }

  test("hoisted hyperplane signature is bit-identical to the HOF form") {
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    for (offset <- Seq(0, 4, 28)) {
      val signs = Similarity.hyperplaneSigns(spark, 4, offset, dim)
      val both = embs.select(
        Similarity.hyperplaneSignature(col("embedding").cast("array<double>"), 4, offset).as("hof"),
        Similarity.hyperplaneSignatureFrom(col("embedding").cast("array<double>"), signs).as("fast"))
      assert(both.filter(col("hof") =!= col("fast")).count() === 0, s"offset=$offset")
    }
  }

  test("LSH ANN: deterministic, subset of corpus, exact cosines on survivors") {
    val q = embs.filter(col("vec_id") < 5)
    val ann = Similarity.lshBucketedNeighbors(q, embs, "vec_id", "embedding", 5)
    val rows = ann.collect()
    assert(rows.nonEmpty)
    // cosine values on returned candidates equal the exact formula
    val brute = Similarity.cosineTopKWindow(q, embs, "vec_id", "embedding", Int.MaxValue)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(brute(key) === r.getAs[Double]("cosine"))
    }
    val again = Similarity.lshBucketedNeighbors(q, embs, "vec_id", "embedding", 5).collect()
    assert(rows.map(_.toString).toSet === again.map(_.toString).toSet)
  }

  test("adaptive LSH knob policy: oracle anchor fixed, occupancy held ~128 at scale") {
    // the d06 DuckDB oracle replays (4, 8) bit-exactly — every verification
    // scale MUST land there; drift here silently breaks the hash compare
    Seq(1L, 500L, 2000L, 2048L).foreach { n =>
      assert(Dedup.adaptiveLshKnobs(n) === ((4, 8)), s"oracle anchor broken at n=$n")
    }
    // past the anchor, bits grow with log2(n): expected occupancy n/2^b
    // stays within [64, 128] so within-bucket pair work stays ~linear
    Seq(20_000L, 327_000L, 2_000_000L, 100_000_000L).foreach { n =>
      val (b, l) = Dedup.adaptiveLshKnobs(n)
      val occ = n.toDouble / (1L << b)
      assert(occ <= 128.0 && (b == 20 || occ > 32.0),
        s"occupancy $occ out of band at n=$n (b=$b)")
      // tables grow with bits so recall at cosine 0.9 stays >= ~0.94:
      // recall = 1-(1-p^b)^l, p = 1 - acos(0.9)/pi
      val p = 1.0 - math.acos(0.9) / math.Pi
      val recall = 1.0 - math.pow(1.0 - math.pow(p, b), l)
      assert(recall >= 0.94, s"recall $recall too low at n=$n (b=$b, l=$l)")
    }
    // monotone non-decreasing bits in n (no occupancy cliffs)
    val bs = (10 to 30).map(e => Dedup.adaptiveLshKnobs(1L << e)._1)
    assert(bs === bs.sorted)
  }

  test("LSH cosine dedup: subset of exact all-pairs, same cosines, finds dups") {
    val exact = Dedup.embeddingCosinePairs(embs, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.embeddingCosinePairsLsh(embs, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every LSH pair is a true pair with the identical exact cosine
    lsh.foreach { case (k, c) => assert(exact(k) === c) }
    // recall sanity: the bucketing keeps a usable share of the true pairs
    assert(exact.nonEmpty && lsh.nonEmpty)
    assert(lsh.size.toDouble / exact.size > 0.3)
  }

  test("multi-probe LSH: strict superset of single-probe candidates, recall >= s03") {
    val q = embs.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(Similarity.lshBucketedNeighbors(
      q, embs, "vec_id", "embedding", Int.MaxValue))
    val multi = pairs(Similarity.multiProbeLshNeighbors(
      q, embs, "vec_id", "embedding", Int.MaxValue))
    assert(single.subsetOf(multi),
      "1-flip probing must never lose the own-bucket candidates")
    assert(multi.size > single.size,
      "on this corpus the flip probes must actually add candidates")
    // recall@5 against the exact ground truth: multi-probe can only help
    val truth = pairs(Similarity.cosineTopKWindow(
      q, embs, "vec_id", "embedding", 5))
    val top5single = pairs(Similarity.lshBucketedNeighbors(
      q, embs, "vec_id", "embedding", 5))
    val top5multi = pairs(Similarity.multiProbeLshNeighbors(
      q, embs, "vec_id", "embedding", 5))
    assert((top5multi intersect truth).size >= (top5single intersect truth).size)
    // determinism
    assert(pairs(Similarity.multiProbeLshNeighbors(
      q, embs, "vec_id", "embedding", 5)) === top5multi)
  }

  /** Plain-Scala MIH code replica from the same sign vectors (same
    * sequential dot fold as dot_product, so the sign bits agree).
    */
  private lazy val mihCodes: Map[Long, Array[Long]] = {
    val dim = Similarity.vectorDim(embs, "embedding")
    val signs = Similarity.hyperplaneSigns(spark, 32, 100, dim)
    val vecs = embs.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def code(v: Array[Double]): Array[Long] =
      (0 until 4).map { j =>
        (0 until 8).foldLeft(0L) { (acc, b) =>
          val s = signs(j * 8 + b)
          var d = 0.0; var i = 0
          while (i < v.length) { d += v(i) * s(i); i += 1 }
          (acc << 1) | (if (d >= 0) 1L else 0L)
        }
      }.toArray
    vecs.map { case (id, v) => id -> code(v) }
  }

  private def mihHam(a: Array[Long], b: Array[Long]): Int =
    (0 until 4).map(j => java.lang.Long.bitCount(a(j) ^ b(j))).sum

  test("MIH hamming ANN: pigeonhole-complete candidates, exact hamming, deterministic") {
    val q = embs.filter(col("vec_id") < 10)
    val codes = mihCodes
    def ham(a: Array[Long], b: Array[Long]): Int = mihHam(a, b)
    val all = Similarity.mihHammingNeighbors(q, embs, "vec_id", "embedding",
      Int.MaxValue, coarseM = Int.MaxValue).collect()
    val got = all.map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    assert(got.nonEmpty)
    // reported hamming matches the replica; candidates share >= 1 band
    got.foreach { case ((qid, nid), h) =>
      assert(h === ham(codes(qid), codes(nid)).toLong, s"hamming of ($qid,$nid)")
      assert((0 until 4).exists(j => codes(qid)(j) == codes(nid)(j)),
        s"candidate ($qid,$nid) shares no band")
    }
    // pigeonhole: EVERY pair within hamming bands-1 = 3 is a candidate
    for (qid <- 0L until 10L; nid <- codes.keys if nid != qid) {
      val h = ham(codes(qid), codes(nid))
      if (h <= 3)
        assert(got.contains((qid, nid)), s"pair ($qid,$nid) at hamming $h missing")
    }
    // determinism of the full coarse+fine ranking
    val t5a = Similarity.mihHammingNeighbors(q, embs, "vec_id", "embedding", 5)
      .collect().toSeq
    val t5b = Similarity.mihHammingNeighbors(q, embs, "vec_id", "embedding", 5)
      .collect().toSeq
    assert(t5a === t5b && t5a.nonEmpty)
  }

  test("MIH screen: equals brute-force band-sharing pairs within radius") {
    val codes = mihCodes
    val fresh = codes.keySet.filter(_ % 8 == 0)
    val corpus = codes.keySet.filterNot(_ % 8 == 0)
    val expected = (for {
      f <- fresh; c <- corpus
      if (0 until 4).exists(j => codes(f)(j) == codes(c)(j))
      h = mihHam(codes(f), codes(c)) if h <= 6
    } yield (f, c) -> h.toLong).toMap
    val got = Similarity.mihHammingScreen(
      embs.filter(col("vec_id") % 8 === 0),
      embs.filter(col("vec_id") % 8 =!= 0), "vec_id", "embedding", radius = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("MIH screen: a null vector, a null element or a 63-dim vector fails naming the column") {
    val good = embs.filter(col("vec_id") % 8 === 0).select("vec_id", "embedding")
    val corpus = embs.filter(col("vec_id") % 8 =!= 0).select("vec_id", "embedding")
    val one = good.limit(1)
    val idx = Similarity.writeMihIndex(corpus, "vec_id", "embedding",
      "mih_idx_contract")
    val bad = Seq(
      "null vector" -> lit(null).cast("array<float>"),
      "null element" -> transform(col("embedding"),
        (x, i) => when(i === 0, lit(null).cast("float")).otherwise(x)),
      "63-dim vector" -> slice(col("embedding"), 1, 63))
    bad.zipWithIndex.foreach { case ((what, vec), i) =>
      val withBad = good.unionByName(
        one.select(lit(900001L).as("vec_id"), vec.as("embedding")))
      Seq[(String, () => Any)](
        "neighbors" -> (() => Similarity.mihHammingNeighbors(withBad, corpus,
          "vec_id", "embedding", 5).collect()),
        "screen" -> (() => Similarity.mihHammingScreen(withBad, corpus,
          "vec_id", "embedding", radius = 6).collect()),
        "ball screen" -> (() => Similarity.mihHammingScreen(withBad, corpus,
          "vec_id", "embedding", radius = 7, probeBallRadius = 1).collect()),
        "index build" -> (() => Similarity.writeMihIndex(withBad, "vec_id",
          "embedding", s"mih_idx_contract_bad$i")),
        "index append" -> (() => Similarity.appendMihIndex(withBad, idx,
          "vec_id", "embedding", epoch = 1L + i)),
        "indexed screen" -> (() => Similarity.mihHammingScreenIndexed(withBad,
          idx, "vec_id", "embedding", radius = 6).collect())).foreach {
        case (path, run) =>
          val e = intercept[Exception](run())
          assert(causeMentions(e, "MIH band codes", "embedding column 'embedding'",
            "non-null with one fixed dimension"), s"$path, $what: $e")
      }
    }
  }

  test("hyperplane LSH: a null vector, a null element or a 63-dim vector fails naming the column") {
    val good = embs.filter(col("vec_id") % 8 === 0).select("vec_id", "embedding")
    val corpus = embs.filter(col("vec_id") % 8 =!= 0).select("vec_id", "embedding")
    val one = good.limit(1)
    val idx = Dedup.writeEmbeddingSignatureIndex(corpus, "vec_id", "embedding",
      "emb_idx_contract")
    val bad = Seq(
      "null vector" -> lit(null).cast("array<float>"),
      "null element" -> transform(col("embedding"),
        (x, i) => when(i === 0, lit(null).cast("float")).otherwise(x)),
      "63-dim vector" -> slice(col("embedding"), 1, 63))
    bad.zipWithIndex.foreach { case ((what, vec), i) =>
      val withBad = good.unionByName(
        one.select(lit(900001L).as("vec_id"), vec.as("embedding")))
      Seq[(String, () => Any)](
        "self-pairs" -> (() => Dedup.embeddingCosinePairsLsh(
          withBad, "vec_id", "embedding", 0.4).collect()),
        "fresh-vs-corpus" -> (() => Dedup.incrementalEmbeddingPairsLsh(
          withBad, corpus, "vec_id", "embedding", 0.4).collect()),
        "index build" -> (() => Dedup.writeEmbeddingSignatureIndex(
          withBad, "vec_id", "embedding", s"emb_idx_contract_bad$i")),
        "index append" -> (() => Dedup.appendEmbeddingSignatureIndex(
          withBad, idx, "vec_id", "embedding", epoch = 1L + i)),
        "indexed screen" -> (() => Dedup.incrementalEmbeddingPairsIndexed(
          withBad, idx, "vec_id", "embedding", 0.4).collect())).foreach {
        case (path, run) =>
          val e = intercept[Exception](run())
          assert(causeMentions(e, "LSH signatures", "embedding column 'embedding'",
            "non-null with one fixed dimension"), s"$path, $what: $e")
      }
    }
  }

  test("MIH band-ball screen: complete at 2·bands−1; exact-band provably misses spread pairs") {
    val codes = mihCodes
    val fresh = codes.keySet.filter(_ % 8 == 0)
    val corpus = codes.keySet.filterNot(_ % 8 == 0)
    // ground truth: EVERY pair within radius 7 — no band condition at all
    val all7 = (for {
      f <- fresh; c <- corpus
      h = mihHam(codes(f), codes(c)) if h <= 7
    } yield (f, c) -> h.toLong).toMap
    val ball = Similarity.mihHammingScreen(
      embs.filter(col("vec_id") % 8 === 0),
      embs.filter(col("vec_id") % 8 =!= 0), "vec_id", "embedding",
      radius = 7, probeBallRadius = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // the pigeonhole guarantee: ≤ 2·bands−1 ⇒ some band has ≤ 1 differing
    // bits ⇒ the single-bit-flip ball reaches it — nothing may be missed
    assert(ball === all7)
    assert(ball.nonEmpty)
    // spread pairs (no band exactly equal, e.g. bit differences 2+2+1+1):
    // exact-band matching misses EXACTLY these — the structural identity
    // the s23 truncation doc claims
    val spread = all7.keySet.filter { case (f, c) =>
      (0 until 4).forall(j => codes(f)(j) != codes(c)(j))
    }
    val exact = Similarity.mihHammingScreen(
      embs.filter(col("vec_id") % 8 === 0),
      embs.filter(col("vec_id") % 8 =!= 0), "vec_id", "embedding",
      radius = 7, probeBallRadius = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact === all7.keySet -- spread)
    // the fixture genuinely exercises the upgrade: spread pairs exist, so
    // the ball screen finds pairs the exact-band screen provably cannot
    assert(spread.nonEmpty,
      "fixture has no spread pair — the completeness upgrade is untested")
  }

  test("index append lifecycle under GROWTH: 3 appended batches, screen bit-identical to from-scratch at every step") {
    import graft.operators.{Multimodal, Similarity}
    // VERDICT r12 #6: s25/m16 append once; this drives the lifecycle the
    // lake actually runs — repeated ingests folding into the standing
    // index, with a screen after EVERY append checked against an index
    // built from scratch over the corpus-so-far.
    val fresh = embs.filter(col("vec_id") % 8 === 0)
    def slice(i: Int) = embs.filter(col("vec_id") % 8 =!= 0 &&
      col("vec_id") % 4 === i)
    var idx = Similarity.writeMihIndex(slice(0), "vec_id", "embedding",
      "spec_mih_grow")
    var corpusSoFar = slice(0)
    for (i <- 1 to 3) {
      idx = Similarity.appendMihIndex(slice(i), idx, "vec_id", "embedding",
        epoch = i.toLong)
      corpusSoFar = corpusSoFar.unionByName(slice(i))
      val viaAppended = Similarity.mihHammingScreenIndexed(
        fresh, idx, "vec_id", "embedding", radius = 8)
      val scratch = Similarity.writeMihIndex(corpusSoFar, "vec_id",
        "embedding", s"spec_mih_scratch_$i")
      val viaScratch = Similarity.mihHammingScreenIndexed(
        fresh, scratch, "vec_id", "embedding", radius = 8)
      assert(viaAppended.count() > 0, s"step $i produced no pairs")
      assert(viaAppended.except(viaScratch).count() === 0, s"step $i extra")
      assert(viaScratch.except(viaAppended).count() === 0, s"step $i missing")
    }
    // final step also equals the DIRECT (index-free) screen
    val direct = Similarity.mihHammingScreen(fresh,
      embs.filter(col("vec_id") % 8 =!= 0), "vec_id", "embedding", radius = 8)
    val viaFinal = Similarity.mihHammingScreenIndexed(
      fresh, idx, "vec_id", "embedding", radius = 8)
    assert(viaFinal.except(direct).count() === 0)
    assert(direct.except(viaFinal).count() === 0)
    // gear side: same 3-append lifecycle on the chunk-digest index
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val freshM = Multimodal.asMediaTable(
      docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("~"), col("text")).as("text")), "doc_id", "text")
    def mslice(i: Int) = media.filter(col("doc_id") % 4 === i)
    var gidx = Multimodal.writeGearChunkIndex(mslice(0),
      Multimodal.ChunkIndex("spec_gear_grow_d", "spec_gear_grow_s"))
    var mediaSoFar = mslice(0)
    for (i <- 1 to 3) {
      gidx = Multimodal.appendGearChunkIndex(mslice(i), gidx, epoch = i.toLong)
      mediaSoFar = mediaSoFar.unionByName(mslice(i))
      val viaAppended = Multimodal.incrementalGearChunkPairsIndexed(
        freshM, gidx, 0.4)
      val scratch = Multimodal.writeGearChunkIndex(mediaSoFar,
        Multimodal.ChunkIndex(s"spec_gear_scr_d_$i", s"spec_gear_scr_s_$i"))
      val viaScratch = Multimodal.incrementalGearChunkPairsIndexed(
        freshM, scratch, 0.4)
      assert(viaAppended.except(viaScratch).count() === 0, s"gear step $i extra")
      assert(viaScratch.except(viaAppended).count() === 0, s"gear step $i missing")
    }
    val gdirect = Multimodal.incrementalGearChunkPairs(freshM, media, 0.4)
    val gfinal = Multimodal.incrementalGearChunkPairsIndexed(freshM, gidx, 0.4)
    assert(gfinal.count() > 0)
    assert(gfinal.except(gdirect).count() === 0)
    assert(gdirect.except(gfinal).count() === 0)
  }

  test("MIH index: two plane offsets under one prefix give two tables, each indexed screen == its direct screen") {
    val fresh = embs.filter(col("vec_id") % 8 === 0)
    val corpus = embs.filter(col("vec_id") % 8 =!= 0)
    val idxs = Seq(100, 7).map(off => off -> Similarity.writeMihIndex(corpus,
      "vec_id", "embedding", "spec_mih_offsets", planeOffset = off))
    assert(idxs.map(_._2.codes).distinct.size === 2)
    val screens = idxs.map { case (off, idx) =>
      assert(idx.planeOffset === off)
      val direct = Similarity.mihHammingScreen(fresh, corpus, "vec_id",
        "embedding", radius = 8, planeOffset = off)
      val indexed = Similarity.mihHammingScreenIndexed(fresh, idx, "vec_id",
        "embedding", radius = 8)
      val d = direct.collect().toSet
      assert(d.nonEmpty)
      assert(indexed.collect().toSet === d, s"planeOffset $off")
      d
    }
    // the two plane families genuinely differ, so a shared table would show
    assert(screens(0) !== screens(1))
  }

  test("indexed MIH screen == direct screen; indexed gear screen == direct screen") {
    import graft.operators.{Multimodal, Similarity}
    val fresh = embs.filter(col("vec_id") % 8 === 0)
    val corpus = embs.filter(col("vec_id") % 8 =!= 0)
    val direct = Similarity.mihHammingScreen(fresh, corpus,
      "vec_id", "embedding", radius = 8)
    val idx = Similarity.writeMihIndex(corpus, "vec_id", "embedding",
      "spec_mih_idx")
    val indexed = Similarity.mihHammingScreenIndexed(fresh, idx,
      "vec_id", "embedding", radius = 8)
    assert(indexed.count() > 0)
    assert(indexed.except(direct).count() === 0)
    assert(direct.except(indexed).count() === 0)
    // gear: shifted copies of docs 0-4 screen against the originals
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val freshM = Multimodal.asMediaTable(
      docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("~"), col("text")).as("text")), "doc_id", "text")
    val gdirect = Multimodal.incrementalGearChunkPairs(freshM, media, 0.4)
    val gidx = Multimodal.writeGearChunkIndex(media,
      Multimodal.ChunkIndex("spec_gear_idx", "spec_gear_sz"))
    val gindexed = Multimodal.incrementalGearChunkPairsIndexed(freshM, gidx, 0.4)
    assert(gindexed.count() > 0)
    assert(gindexed.except(gdirect).count() === 0)
    assert(gdirect.except(gindexed).count() === 0)
  }

  test("recall gate formula: floors match the documented knob points") {
    // the 1-(1-p^b)^L values SCALE.md and the adaptive-knob scaladoc quote,
    // pinned so the ScaleSmoke recall gate's floor can't drift from the doc
    assert(math.abs(ScaleSmoke.recallFloor(4, 8, 0.4) - 0.75) < 0.01)
    assert(ScaleSmoke.recallFloor(4, 8, 0.9) > 0.995)
    assert(ScaleSmoke.recallFloor(8, 16, 0.9) > 0.995)
    assert(ScaleSmoke.recallFloor(12, 32, 0.9) > 0.99)
    assert(ScaleSmoke.recallFloor(20, 64, 0.9) > 0.94)
    // floors are honest: monotone in L, decreasing in b at fixed L
    assert(ScaleSmoke.recallFloor(4, 16, 0.4) > ScaleSmoke.recallFloor(4, 8, 0.4))
    assert(ScaleSmoke.recallFloor(8, 8, 0.4) < ScaleSmoke.recallFloor(4, 8, 0.4))
  }

  test("d16 standing signature index reproduces the direct embedding screen exactly") {
    val fresh = embs.filter(col("vec_id") % 8 === 0)
    val corpus = embs.filter(col("vec_id") % 8 =!= 0)
    val direct = Dedup.incrementalEmbeddingPairsLsh(
      fresh, corpus, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val idx = Dedup.writeEmbeddingSignatureIndex(corpus, "vec_id", "embedding",
      "emb_idx_spec")
    // knobs resolved identically to the direct screen (corpus-size-adaptive)
    assert((idx.planesPerTable, idx.tables) ===
      Dedup.adaptiveLshKnobs(corpus.count()))
    val indexed = Dedup.incrementalEmbeddingPairsIndexed(
      fresh, idx, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical pair set, bit-identical cosines — the d15 oracle applies
    // verbatim to d16 only because of this equivalence
    assert(indexed === direct)
    assert(direct.nonEmpty)
    // a mismatched batch dimension fails loudly, never silently returns
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalEmbeddingPairsIndexed(
        fresh.select(col("vec_id"), expr("slice(embedding, 1, 8)").as("embedding")),
        idx, "vec_id", "embedding", 0.4)
    }
    assert(e.getMessage.contains("dim"))
  }

  test("d17 appended signature index screens exactly like a freshly-built one") {
    val fresh = embs.filter(col("vec_id") % 8 === 0)
    val corpus = embs.filter(col("vec_id") % 8 =!= 0)
    val direct = Dedup.incrementalEmbeddingPairsLsh(
      fresh, corpus, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val half1 = corpus.filter(col("vec_id") % 8 <= 3)
    val half2 = corpus.filter(col("vec_id") % 8 >= 4)
    val built = Dedup.writeEmbeddingSignatureIndex(half1, "vec_id", "embedding",
      "emb_idx_append_spec")
    val grown = Dedup.appendEmbeddingSignatureIndex(half2, built,
      "vec_id", "embedding", epoch = 1L)
    // the handle accounts for the appended rows; knob family unchanged
    assert(grown.corpusRows === corpus.count())
    assert((grown.planesPerTable, grown.tables) ===
      ((built.planesPerTable, built.tables)))
    val screened = Dedup.incrementalEmbeddingPairsIndexed(
      fresh, grown, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(screened === direct)
    assert(direct.nonEmpty)
    // a mismatched append batch fails loudly before touching the tables
    val e = intercept[IllegalArgumentException] {
      Dedup.appendEmbeddingSignatureIndex(
        fresh.select(col("vec_id"), expr("slice(embedding, 1, 8)").as("embedding")),
        grown, "vec_id", "embedding", epoch = 2L)
    }
    assert(e.getMessage.contains("dim"))
    // staleness advisory: growth past the adaptive policy's next knob step
    // flags a rebuild; same-point growth does not
    assert(!Dedup.staleKnobs(grown.copy(corpusRows = 2048)))
    assert(Dedup.staleKnobs(grown.copy(corpusRows = 1L << 20)))
  }

  test("d18 appended shingle index screens exactly like a freshly-built one") {
    val fresh = docs.filter(col("doc_id") >= 400)
    val corpus = docs.filter(col("doc_id") < 400)
    val direct = Dedup.incrementalJaccardPairs(fresh, corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val idx = Dedup.writeShingleIndex(corpus.filter(col("doc_id") < 200),
      "doc_id", "text",
      Dedup.ShingleIndex("shingle_idx_append_spec", "shingle_sz_append_spec"))
    Dedup.appendShingleIndex(
      corpus.filter(col("doc_id") >= 200), idx, "doc_id", "text", epoch = 1L)
    val screened = Dedup.incrementalJaccardPairsIndexed(fresh, idx,
      "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(screened === direct)
    assert(direct.nonEmpty)
  }

  test("k-means: bit-reproducible across trainings; trained IVF recall >= first-N") {
    val c1 = Similarity.kmeansCentroids(embs, "vec_id", "embedding")
    val c2 = Similarity.kmeansCentroids(embs, "vec_id", "embedding")
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq) // exact, not approx
    // Queries must be DISJOINT from the first-N centroid seeds (vec_id < 16):
    // a query that IS a centroid gets its own perfectly-tailored cell, which
    // inflates first-N recall artificially.
    val q = embs.filter(col("vec_id") >= 100 && col("vec_id") < 120)
    val truth = Similarity.cosineTopKWindow(q, embs, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got intersect truth).size.toDouble / truth.size
    }
    for (nProbe <- Seq(2, 3)) {
      val trained = recall(Similarity.ivfNeighborsTrained(q, embs, "vec_id", "embedding", 5, 16, nProbe))
      val firstN = recall(Similarity.ivfNeighbors(q, embs, "vec_id", "embedding", 5, 16, nProbe))
      assert(trained >= firstN,
        s"nProbe=$nProbe: trained recall $trained < first-N recall $firstN")
    }
  }

  test("s17 standing IVF index serves the direct trained search bit-for-bit") {
    val q = embs.filter(col("vec_id") < 10)
    val idx = Similarity.writeIvfIndex(embs, "vec_id", "embedding", "ivf_idx_spec")
    val indexed = Similarity.ivfSearchIndexed(q, idx, "vec_id", "embedding", 5)
    val direct = Similarity.ivfNeighborsTrained(q, embs, "vec_id", "embedding", 5)
    assert(indexed.orderBy("query_id", "rank").collect().toSeq ===
      direct.orderBy("query_id", "rank").collect().toSeq)
    // rebuild call with the same names must reuse the catalog layout
    val again = Similarity.writeIvfIndex(embs, "vec_id", "embedding", "ivf_idx_spec")
    assert(again === idx)
  }

  test("s19 standing IVF-PQ index serves the direct composite search bit-for-bit") {
    val q = embs.filter(col("vec_id") < 10)
    val idx = Similarity.writeIvfPqIndex(embs, "vec_id", "embedding", "ivfpq_spec")
    val indexed = Similarity.ivfPqSearchIndexed(q, idx, "vec_id", "embedding",
      k = 5, nProbe = 2, coarseM = 20)
    val direct = Similarity.ivfPqSearch(q, embs, "vec_id", "embedding",
      k = 5, nProbe = 2, coarseM = 20)
    assert(indexed.orderBy("query_id", "rank").collect().toSeq ===
      direct.orderBy("query_id", "rank").collect().toSeq)
    val again = Similarity.writeIvfPqIndex(embs, "vec_id", "embedding", "ivfpq_spec")
    assert(again === idx)
  }

  test("s19 residual standing index serves the direct residual search bit-for-bit; layouts don't alias") {
    val q = embs.filter(col("vec_id") < 10)
    val idx = Similarity.writeIvfPqIndex(embs, "vec_id", "embedding",
      "ivfpq_res_spec", residual = true)
    assert(idx.residual)
    val indexed = Similarity.ivfPqSearchIndexed(q, idx, "vec_id", "embedding",
      k = 5, nProbe = 2, coarseM = 20)
    val direct = Similarity.ivfPqSearch(q, embs, "vec_id", "embedding",
      k = 5, nProbe = 2, coarseM = 20, residual = true)
    assert(indexed.orderBy("query_id", "rank").collect().toSeq ===
      direct.orderBy("query_id", "rank").collect().toSeq)
    // residual and raw indexes under the same prefix are distinct catalog
    // layouts (the flag rides the code/codebook table names)
    val raw = Similarity.writeIvfPqIndex(embs, "vec_id", "embedding",
      "ivfpq_res_spec", residual = false)
    assert(raw.codes != idx.codes && raw.codebooks != idx.codebooks)
  }

  test("s18 IVF append: appended cells == frozen-quantizer assignment of the union") {
    val half1 = embs.filter(pmod(col("vec_id"), lit(2)) === 0)
    val half2 = embs.filter(pmod(col("vec_id"), lit(2)) =!= 0)
    val idx0 = Similarity.writeIvfIndex(half1, "vec_id", "embedding", "ivf_app_spec")
    val idx = Similarity.appendIvfIndex(half2, idx0, "vec_id", "embedding",
      epoch = 1L)
    assert(idx.corpusRows === embs.count())
    // the cells table must equal assigning the WHOLE corpus under the
    // quantizer trained on half1 — appends froze the cell boundaries
    val cents = Similarity.kmeansCentroids(half1, "vec_id", "embedding")
    val expect = graft.operators.Ivf.cellRows(embs, "vec_id", "embedding", cents)
    // project the data columns: the stored layout also carries the
    // exactly-once `epoch` ledger column (build=0, append fold=N)
    val stored = spark.table(idx.cells).select("cid", "id", "v", "norm")
    assert(stored.except(expect).isEmpty && expect.except(stored).isEmpty,
      "appended inverted file diverged from the frozen-quantizer assignment")
    // dimension guard fails loudly
    import spark.implicits._
    val bad = Seq((999999L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.appendIvfIndex(bad, idx, "vec_id", "embedding", epoch = 2L)
    }
    assert(e.getMessage.contains("dim"))
  }

  test("filtered topK: equals the label-restricted window ranking; labels never cross") {
    val q = embs.filter(col("vec_id") < 10)
    val got = Similarity.cosineTopKFiltered(q, embs, "vec_id", "embedding", "label", 5)
      .orderBy("query_id", "rank").collect().toSeq
    // reference: brute-force pairs restricted to matching labels, window-ranked
    val labels = embs.select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ref = Similarity.cosineTopKWindow(q, embs, "vec_id", "embedding", Int.MaxValue)
      .collect()
      .filter(r => labels(r.getAs[Long]("query_id")) == labels(r.getAs[Long]("neighbor_id")))
      .groupBy(_.getAs[Long]("query_id")).toSeq
      .flatMap { case (qid, rows) =>
        rows.sortBy(r => (-r.getAs[Double]("cosine"), r.getAs[Long]("neighbor_id")))
          .take(5).zipWithIndex
          .map { case (r, i) =>
            (qid, i + 1, r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")) }
      }.sortBy(t => (t._1, t._2))
    assert(got.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))) === ref)
    got.foreach(r => assert(labels(r.getLong(0)) == labels(r.getLong(2))))
  }

  test("filtered IVF: probing every cell recovers the filtered exact answer — recall 1") {
    // at nProbe = nCentroids the cell scan is exhaustive within the label
    // slice, so the approximate walk must equal the filtered ground truth
    val q = embs.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopKFiltered(q, embs, "vec_id", "embedding", "label", 5)
    val full = Similarity.ivfNeighborsTrainedFiltered(
      q, embs, "vec_id", "embedding", "label", 5, nCentroids = 16, nProbe = 16)
    import spark.implicits._
    val recall = Similarity.recallAtK(full, exact, 5)
      .select("recall").as[Double].collect()
    assert(recall.nonEmpty && recall.forall(_ === 1.0))
    // and at the shipped nProbe=2 every candidate still respects the filter
    val labels = embs.select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    Similarity.ivfNeighborsTrainedFiltered(q, embs, "vec_id", "embedding", "label", 5)
      .select("query_id", "neighbor_id").collect()
      .foreach(r => assert(labels(r.getLong(0)) == labels(r.getLong(1))))
  }

  test("k-means partials: <= k rows leave each partition; sums = SQL decimal image") {
    // The property lives below the SQL layer (typed mapPartitions), so
    // PlanSpec can't see it — pin it here: the per-iteration shuffle input
    // is bounded by partitions × k rows, and the exact decimal partials
    // reproduce SUM(CAST(component AS DECIMAL(38,18))) bit for bit.
    val k = 7
    val nPart = 5
    val assigned = embs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        (col("vec_id") % k).cast("int").as("cid"))
      .repartition(nPart)
    val partials = graft.operators.Ivf.centroidPartials(assigned.select(col("cid"), col("v")))
    val perPartition = partials.rdd
      .mapPartitions(it => Iterator.single(it.size)).collect()
    assert(perPartition.length === nPart)
    assert(perPartition.forall(_ <= k),
      s"a partition emitted more than k=$k partial rows: ${perPartition.toSeq}")
    // exactness: driver-merged partials == the n×d posexplode decimal sums
    val merged = partials.collect().groupBy(_.cid).map { case (cid, ps) =>
      val dim = ps.map(_.sums.length).max
      val sums = Array.fill(dim)(java.math.BigDecimal.ZERO)
      ps.foreach(p => p.sums.indices.foreach(i => sums(i) = sums(i).add(p.sums(i))))
      cid -> (sums.toSeq, ps.map(_.n).sum)
    }
    val viaSql = assigned
      .select(col("cid"), posexplode(col("v")))
      .groupBy("cid", "pos")
      .agg(sum(col("col").cast("decimal(38,18)")).as("s"),
        count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (cid, rows) =>
        val byPos = rows.map(r => r.getInt(1) -> r.getDecimal(2)).toMap
        cid -> ((0 until byPos.size).map(byPos), rows.head.getLong(3))
      }
    assert(merged.keySet === viaSql.keySet)
    merged.foreach { case (cid, (sums, n)) =>
      val (expS, expN) = viaSql(cid)
      assert(n === expN, s"cid=$cid row count")
      sums.indices.foreach { i =>
        assert(sums(i).compareTo(expS(i)) === 0, s"cid=$cid pos=$i")
      }
    }
  }

  test("topK without query-side broadcast: same results, no broadcast hint") {
    val q = embs.filter(col("vec_id") < 5)
    val hinted = Similarity.cosineTopK(q, embs, "vec_id", "embedding", 5)
    val unhinted = Similarity.cosineTopK(q, embs, "vec_id", "embedding", 5,
      broadcastQueries = false)
    assert(unhinted.collect().map(_.toString).sorted
      === hinted.collect().map(_.toString).sorted)
    // the guard really removes the hint: no broadcast marker below the join
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    assert(hinted.queryExecution.analyzed.collect { case h: ResolvedHint => h }.nonEmpty)
    assert(unhinted.queryExecution.analyzed.collect { case h: ResolvedHint => h }.isEmpty)
  }

  test("edge guards: empty corpus LSH is empty; over-long doc fails loudly") {
    val emptyE = embs.filter(lit(false))
    assert(Similarity.lshBucketedNeighbors(emptyE, emptyE, "vec_id", "embedding", 5).count() === 0)
    assert(Dedup.embeddingCosinePairsLsh(emptyE, "vec_id", "embedding", 0.4).count() === 0)
    // a doc beyond 65535 tokens would CARRY across packed popcount lanes —
    // it must fail LOUDLY (the explicit 65535 guard, or ANSI overflow when
    // the top lane is populated enough to blow the packed long first),
    // never return a wrong signature
    import spark.implicits._
    val longDoc = Seq((1L, ("a " * 65536).trim), (2L, "b b")).toDF("doc_id", "text")
    val err = intercept[Exception] {
      Dedup.simhashPairs(longDoc, "doc_id", "text").count()
    }
    val all = (err.getMessage +: Option(err.getCause).map(_.getMessage).toSeq).mkString(" ")
    assert(all.contains("65535") || all.toLowerCase.contains("overflow"))
  }

  test("chunk-similarity pairs: engineered shared chunks yield the exact Jaccards") {
    import spark.implicits._
    // 64-byte building blocks; blobs are aligned concatenations of them
    def blk(c: Char) = c.toString * 64
    val media = Seq(
      (1L, blk('a') + blk('b') + blk('c')), // A
      (2L, blk('a') + blk('b') + blk('x')), // B: shares 2 of 3 with A
      (3L, blk('p') + blk('q') + blk('r')), // C: disjoint
      (4L, blk('a') + blk('b') + blk('c'))  // D == A byte-identical
    ).toDF("doc_id", "payload")
      .select(col("doc_id"), col("payload").cast("binary").as("payload"))
    val got = graft.operators.Multimodal.chunkJaccardPairs(media)
      .select("id_a", "id_b", "inter", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got === Set(
      (1L, 2L, 2L, 0.5),   // 2 shared / (3+3-2)
      (1L, 4L, 3L, 1.0),   // identical blobs
      (2L, 4L, 2L, 0.5)))  // C pairs with nothing; threshold 0.5 holds the rest out
  }

  test("m10 standing chunk index screens exactly like the direct screen") {
    import graft.operators.Multimodal
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val fresh = media.filter(pmod(col("doc_id"), lit(10)) === 0)
    val corpus = media.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val idx = Multimodal.writeChunkIndex(corpus,
      Multimodal.ChunkIndex("chunk_idx_spec", "chunk_sz_spec"))
    val indexed = Multimodal.incrementalChunkPairsIndexed(fresh, idx)
      .orderBy("fresh_id", "corpus_id").collect().toSeq
    val direct = Multimodal.incrementalChunkPairs(fresh, corpus)
      .orderBy("fresh_id", "corpus_id").collect().toSeq
    assert(indexed === direct)
  }

  test("m11 appended chunk index screens exactly like a freshly-built one") {
    import graft.operators.Multimodal
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val fresh = media.filter(pmod(col("doc_id"), lit(10)) === 0)
    val half1 = media.filter(pmod(col("doc_id"), lit(10)).between(1, 5))
    val half2 = media.filter(pmod(col("doc_id"), lit(10)) >= 6)
    val appended = Multimodal.appendChunkIndex(half2,
      Multimodal.writeChunkIndex(half1,
        Multimodal.ChunkIndex("chunk_idxa_spec", "chunk_sza_spec")),
      epoch = 1L)
    val direct = Multimodal.writeChunkIndex(half1.unionByName(half2),
      Multimodal.ChunkIndex("chunk_idxf_spec", "chunk_szf_spec"))
    val a = Multimodal.incrementalChunkPairsIndexed(fresh, appended)
      .orderBy("fresh_id", "corpus_id").collect().toSeq
    val b = Multimodal.incrementalChunkPairsIndexed(fresh, direct)
      .orderBy("fresh_id", "corpus_id").collect().toSeq
    assert(a === b)
  }

  test("multimodal feature extract: stub features match payload bytes") {
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(media)
    val joined = feats.join(docs, "doc_id")
      .select(col("n_bytes"), length(col("text")).as("len"),
        col("head_hex"), upper(hex(substring(col("text"), 1, 8))).as("expect_hex"))
      .collect()
    joined.foreach { r =>
      assert(r.getInt(0) === r.getInt(1)) // ascii corpus: bytes == chars
      assert(r.getString(2) === r.getString(3))
    }
  }

  test("hash split: stable under corpus growth; quota bound holds per group") {
    import graft.operators.CorpusOps
    val weights = Seq("train" -> 90, "val" -> 95, "test" -> 100)
    val full = CorpusOps.hashSplit(docs, "doc_id", weights)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // the leakage guarantee: splitting a SUBSET assigns identical labels
    val subset = CorpusOps.hashSplit(docs.filter(col("doc_id") % 3 === 0), "doc_id", weights)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    subset.foreach { case (id, s) => assert(full(id) === s) }
    assert(full.values.toSet === Set("train", "val", "test"))
    val quota = CorpusOps.quotaPerGroup(docs, "source", "doc_id", 5)
    val sizes = quota.groupBy("source").count().collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 5))
    assert(quota.count() ===
      docs.groupBy("source").count().collect()
        .map(r => math.min(r.getLong(1), 5L)).sum)
  }

  test("dup clusters: transitive chains collapse to the min-id component") {
    import spark.implicits._
    // 1-2, 2-3, 3-4 chain (diameter 3 — needs >1 propagation round) + 9-10
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L))
      .toDF("id_a", "id_b")
    val out = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 9L -> 9L, 10L -> 9L))
  }

  test("dup clusters: 200-node chains converge in few rounds in BOTH id layouts") {
    import spark.implicits._
    // Path graphs are the worst case for connected components (semantic-dup
    // graphs chain at threshold cosine), and the two id layouts stress the
    // two different failure modes this operator has had to engineer out:
    //  - MONOTONE ids (sorted along the chain): the hook forest is one long
    //    pointer path — plain min-contraction without flattening shifts the
    //    chain by one per round (~199 rounds); flattening must collapse it
    //    in ONE contraction round.
    //  - RANDOMLY PERMUTED ids: label-propagation-with-jump degenerates to
    //    ~diameter/3 rounds here; hook-flatten-contract must shrink the
    //    chain geometrically (~5 rounds at diameter 199).
    // The permuted run also drives enough rounds to regress the RDD-lineage
    // truncation (dozens of un-checkpointed rounds overflowed the stack).
    val n = 200
    val base = (0 until n).toList.map(_.toLong + 5000)
    for ((ids, layout, maxRounds) <- Seq(
        (base, "sorted", 2),
        (new scala.util.Random(42).shuffle(base), "shuffled", 12))) {
      val pairs = ids.zip(ids.tail).map { case (a, b) => (a, b) }.toDF("id_a", "id_b")
      val (clusters, rounds) = Dedup.dupClustersWithRounds(pairs)
      val out = clusters.collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(out.length === n, layout)
      assert(out.map(_._2).toSet === Set(5000L), layout)
      assert(rounds <= maxRounds,
        s"$layout chain: expected geometric contraction, took $rounds rounds")
    }
  }

  test("dup clusters: clique+chain mixture demotes within one wasted round") {
    import spark.implicits._
    // The optimistic mode's blind spot: a round where cliques dominate the
    // edge count contracts massively even while an embedded chain only
    // SHIFTS — the demotion ratio must catch the chain on the next round
    // (bounded waste: one optimistic round), not thrash until maxIters.
    val cliques = (0 until 30).flatMap { c =>
      val base = 10000L + c * 100
      for (i <- 0 until 20; j <- i + 1 until 20) yield (base + i, base + j)
    }
    val chain = (0L until 199L).map(i => (i, i + 1)) // monotone: worst shift case
    val pairs = (cliques ++ chain).toDF("id_a", "id_b")
    val (clusters, rounds) = Dedup.dupClustersWithRounds(pairs)
    val out = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rounds <= 4, s"mixture should demote after one wasted round, took $rounds")
    assert((0L to 199L).forall(out(_) == 0L), "chain must collapse to its min")
    assert((0 until 30).forall { c =>
      val base = 10000L + c * 100
      (0 until 20).forall(i => out(base + i) == base)
    }, "each clique must collapse to its own min")
  }

  test("dup clusters: a wide star funnels through map-side combine, one round") {
    import spark.implicits._
    // The widest-skew shape (VERDICT r7 #7): one center joined to W leaves
    // puts all W rows on ONE groupBy key in the hook step. That aggregate
    // is min() — partial-aggregable — so each map partition pre-combines
    // its slice of the hot key and the exchange carries O(partitions) rows
    // for the center, not O(W): the q29/q42 salted-JOIN pattern does NOT
    // apply here (salting exists for joins, which have no combine; salting
    // an aggregate would hand-reimplement what partial aggregation already
    // does). The contract/flatten joins probe the hot label against flat's
    // ONE row per node — the replicate-one-small-row shape AQE's skew-join
    // split handles at scale. Pinned here: (a) the hook-shaped plan
    // partial-aggregates BEFORE its exchange; (b) a 50k-leaf star clusters
    // correctly in ONE contraction round (stars are the easy case for
    // round count — every leaf hooks straight to the center; chains, not
    // stars, are what burns rounds).
    val w = 50000
    val pairs = (1 to w).map(i => (0L, i.toLong)).toDF("id_a", "id_b")
      .repartition(8)
    // (a) the hook's exact aggregate shape partial-aggregates pre-shuffle
    val hookShaped = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
    val hook = hookShaped
      .union(hookShaped.select(col("b").as("a"), col("a").as("b")))
      .groupBy(col("a")).agg(min(col("b")).as("nbr_min"))
    val plan = hook.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"),
      s"hook aggregate must map-side combine the hot key:\n${plan.take(800)}")
    // (b) end-to-end: one round, every leaf labeled with the center
    val (clusters, rounds) = Dedup.dupClustersWithRounds(pairs)
    val out = clusters.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(out.length === w + 1)
    assert(out.forall(_._2 == 0L), "every member must collapse to the center")
    assert(rounds === 1, s"a star must contract in one round, took $rounds")
  }

  test("indexed incremental screen == direct incremental screen") {
    // the standing-index variant must be a pure layout change: same rows,
    // same jaccard values as screening against the corpus DataFrame
    val fresh = docs.filter(col("doc_id") >= 400)
    val corpus = docs.filter(col("doc_id") < 400)
    val idx = Dedup.writeShingleIndex(corpus, "doc_id", "text",
      Dedup.ShingleIndex("spec_shingle_idx", "spec_shingle_sz"))
    val direct = Dedup.incrementalJaccardPairs(fresh, corpus, "doc_id", "text")
      .collect().map(_.toString).sorted
    val indexed = Dedup.incrementalJaccardPairsIndexed(fresh, idx, "doc_id", "text")
      .collect().map(_.toString).sorted
    assert(indexed.nonEmpty)
    assert(indexed.toSeq === direct.toSeq)
  }

  test("bloomed incremental screen == direct incremental screen; empty fresh side is empty") {
    // the bloom prefilter must be a pure shuffle reduction: no false
    // negatives, so same rows and jaccard values as the direct screen —
    // even with a deliberately undersized sketch (high fpp only costs
    // shuffle rows, never correctness)
    val fresh = docs.filter(col("doc_id") >= 400)
    val corpus = docs.filter(col("doc_id") < 400)
    val direct = Dedup.incrementalJaccardPairs(fresh, corpus, "doc_id", "text")
      .collect().map(_.toString).sorted
    val bloomed = Dedup.incrementalJaccardPairsBloomed(fresh, corpus, "doc_id", "text",
      expectedFreshShingles = 64, bloomBits = 512)
      .collect().map(_.toString).sorted
    assert(bloomed.nonEmpty)
    assert(bloomed.toSeq === direct.toSeq)
    // empty fresh side → null sketch → constant-false prefilter, not an NPE
    val none = Dedup.incrementalJaccardPairsBloomed(
      fresh.filter(lit(false)), corpus, "doc_id", "text")
    assert(none.count() === 0)
  }

  test("dup clusters: local solve and distributed contraction agree on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      // random graph with chains, stars and merges; some self-pairs
      val n = 200 + trial * 100
      val edges = (1 to n).map { _ =>
        (rng.nextInt(120).toLong, rng.nextInt(120).toLong)
      } ++ Seq((500L, 500L))
      val pairs = edges.toDF("id_a", "id_b")
      val local = Dedup.dupClusters(pairs) // gated → local union-find
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Dedup.dupClustersWithRounds(pairs)._1 // always distributed
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local === dist, s"trial $trial: label sets diverged")
      assert(local(500L) === 500L, "self-pair singleton contract")
    }
    // the cap is a session knob sized to the DRIVER (small-heap drivers
    // lower it; 0 disables the local solve): with it off, the public API
    // takes the distributed loop and lands on the same labels
    val knobPairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    GraftSession.withConf(spark, "spark.graft.dedup.localSolveEdgeCap" -> "0") {
      val viaDistributed = Dedup.dupClusters(knobPairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaDistributed === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    }
  }

  test("dup clusters: self-pairs yield singleton rows; empty input yields empty") {
    import spark.implicits._
    // (7,7) is an id seen ONLY as a self-pair — no connectivity, but the
    // every-id contract still owes it a singleton row; (1,1) also appears
    // in a real pair and must NOT be duplicated by the singleton path
    val pairs = Seq((1L, 2L), (1L, 1L), (7L, 7L)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
    val empty = Dedup.dupClusters(pairs.limit(0))
    assert(empty.columns.toSeq === Seq("id", "cluster"))
    assert(empty.count() === 0)
  }

  test("standing label table: write-back maintenance equals full re-cluster; value-idempotent merge-on-read") {
    import spark.implicits._
    val name = s"labels_spec_${System.nanoTime()}"
    // standing corpus clusters: {1,2} and {10,11}; 20 is a pair-less doc
    // that must never enter the labeling (the dupClusters edge contract)
    val basePairs = Seq((1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    Dedup.writeClusterLabels(spark, name, Dedup.dupClusters(basePairs),
      buckets = 4)
    // fresh batch exercises all three maintenance cases: ATTACH (30→2),
    // NEW cluster (40,41), and MERGE (a fresh doc 50 bridging the two
    // standing clusters 1 and 10 — the case a nearest-cluster shortcut
    // gets wrong)
    val freshPairs = Seq((30L, 2L), (40L, 41L), (50L, 1L), (50L, 10L))
      .toDF("id_a", "id_b")
    Dedup.maintainClusterLabels(spark, name, freshPairs, buckets = 4)
    val read = Dedup.readClusterLabels(spark, name)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.dupClusters(basePairs.unionByName(freshPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(read === full, "maintained table must equal a full re-cluster")
    assert(read(11L) === 1L, "merge case: 11 must relabel to the merged min")
    // re-folding the SAME batch appends rows but merge-on-read lands the
    // identical labeling (the closure is a fixed point — retry-safe)
    Dedup.maintainClusterLabels(spark, name, freshPairs, buckets = 4)
    val again = Dedup.readClusterLabels(spark, name)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === full, "re-fold must be value-idempotent")
    val epochs = spark.table(name).select("epoch").distinct().count()
    assert(epochs === 3, "base + two maintenance epochs must coexist")
    // a second DISJOINT batch folds on top of the first's result
    Dedup.maintainClusterLabels(spark, name,
      Seq((60L, 40L)).toDF("id_a", "id_b"), buckets = 4)
    val read3 = Dedup.readClusterLabels(spark, name)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(read3(60L) === 40L && read3(41L) === 40L)
    assert(read3 - 60L === full, "untouched labels must ride through")
    // COMPACTION: merge-on-read materialized back to a single epoch —
    // read identical, epochs collapse, further maintenance still works
    Dedup.compactClusterLabels(spark, name, buckets = 4)
    val compacted = Dedup.readClusterLabels(spark, name)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(compacted === read3, "compaction must not change the labeling")
    assert(spark.table(name).select("epoch").distinct().count() === 1)
    assert(spark.table(name).count() === read3.size.toLong,
      "compaction must drop every superseded delta row")
    Dedup.maintainClusterLabels(spark, name,
      Seq((70L, 60L)).toDF("id_a", "id_b"), buckets = 4)
    assert(Dedup.readClusterLabels(spark, name)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      .apply(70L) === 40L, "post-compaction maintenance must keep folding")
    spark.sql(s"DROP TABLE $name")
    // dup-free degenerate case (r17 self-review): an EMPTY base table —
    // the corpus had no pairs — must accept its first fold, not NPE on
    // the null max(epoch)
    val empty = s"labels_spec_empty_${System.nanoTime()}"
    Dedup.writeClusterLabels(spark, empty,
      Dedup.dupClusters(spark.emptyDataset[(Long, Long)].toDF("id_a", "id_b")),
      buckets = 4)
    Dedup.maintainClusterLabels(spark, empty,
      Seq((1L, 2L)).toDF("id_a", "id_b"), buckets = 4)
    assert(Dedup.readClusterLabels(spark, empty)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 1L, 2L -> 1L))
    spark.sql(s"DROP TABLE $empty")
  }

  test("KnobMemo: a frozen knob input replays without re-derivation; keys are independent") {
    val derived = new java.util.concurrent.atomic.AtomicInteger(0)
    val key = s"spec_knob_${System.nanoTime()}"
    def derive(): Long = { derived.incrementAndGet(); 4242L }
    val first = graft.operators.KnobMemo.corpusN(spark, key)(derive())
    val replay = graft.operators.KnobMemo.corpusN(spark, key)(derive())
    assert(first === 4242L && replay === 4242L)
    assert(derived.get() === 1,
      "the derivation must run ONCE per key — serves replay the frozen value")
    // a different key derives independently (different corpus, new family)
    val other = graft.operators.KnobMemo.corpusN(spark, key + "_b")(99L)
    assert(other === 99L && derived.get() === 1)
  }

  test("s27/s28 planted-recall truth resolves dot_product in a new session") {
    // a new session's function registry holds none of graft's functions, so
    // the recall truth must register them itself rather than rely on the
    // screen it grades having done so first
    val fresh = spark.newSession()
    val e = fresh.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val truth = graft.queries.ExtensionQueries.plantedRecallRollup(
      e.filter(col("vec_id") < 5), e, e.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("other_id")))
    assert(truth.collect().forall(_.getAs[Long]("caught_n") === 0L))
    val s28 = SparkEntry.queries("s28_adaptive_mih_recall")(spark.newSession(), dir)
      .collect()
    assert(s28.nonEmpty && s28.forall(_.getAs[Long]("truth_n") > 0))
  }

  test("exact dedup keeps lowest tiebreak row and all groups") {
    val out = Dedup.exact(docs, Seq("lang", "source"), "doc_id")
    val groups = docs.select("lang", "source").distinct().count()
    assert(out.count() === groups)
    val viaMin = docs.groupBy("lang", "source").agg(min("doc_id").as("doc_id"))
    assert(out.select("doc_id").except(viaMin.select("doc_id")).count() === 0)
  }
}
