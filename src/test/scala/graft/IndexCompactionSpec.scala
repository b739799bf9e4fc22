package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity}
import graft.queries.Q.t
import graft.sources.BucketedLake

/** Generic bucketed-index compaction graded across EVERY append-grown
  * standing-index family (VERDICT r18 #2 — d28 covers the shingle index;
  * this spec runs the same `compactBucketedTable` lifecycle through the
  * edit / MIH / gear / IVF families), plus the compaction-staleness
  * advisory (VERDICT r18 #3).
  *
  * Per family, the lifecycle is build → append → probe, then compact every
  * appended table, then probe again, pinning:
  *  (a) probe results BIT-IDENTICAL pre/post compaction (compaction is a
  *      file-layout operation — the same rows under the same bucket spec);
  *  (b) single-file buckets restored (the primary probe table returns to
  *      exactly one file per bucket);
  *  (c) the post-compaction probe reads the index through its bucketed
  *      layout with no Exchange between the probe join and the index scan
  *      (the PlanSpec d28 pattern);
  *  (d) the `indexStale` advisory fires after the append and clears after
  *      compaction.
  */
class IndexCompactionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** One lifecycle grading: `primary` is the probe-join table (asserted on
    * for layout and plan), `tables` every appended (name, key, moreKeys)
    * to compact, `buckets` the shared bucket spec width.
    */
  private def gradeLifecycle(primary: String,
                             tables: Seq[(String, String, Seq[String])],
                             buckets: Int,
                             probe: () => DataFrame): Unit = {
    val before = probe().collect().toSeq
    assert(before.nonEmpty, "the probe must return rows for the grade to mean anything")
    // after one append the primary table is multi-file and the advisory
    // (at the tightest threshold) fires
    assert(BucketedLake.bucketMaxFiles(spark, primary) >= 2,
      s"$primary should hold multi-file buckets after the append")
    assert(BucketedLake.indexStale(spark, primary, maxFilesPerBucket = 1),
      s"$primary advisory should fire after an append")
    tables.foreach { case (name, key, more) =>
      BucketedLake.compactBucketedTable(spark, name, key, buckets, more: _*)
    }
    assert(BucketedLake.bucketMaxFiles(spark, primary) === 1,
      s"$primary should be back to one file per bucket after compaction")
    assert(!BucketedLake.indexStale(spark, primary, maxFilesPerBucket = 1),
      s"$primary advisory should clear after compaction")
    val after = probe().collect().toSeq
    assert(before === after,
      "probe results must be bit-identical pre/post compaction")
    // plan: bucketed read of the compacted index, no Exchange on the
    // ANCESTRY PATH from the index scan up to its probe join (a text
    // slice would sweep in the sibling fresh branch, whose own shuffles
    // are legitimate — walk the tree indents instead). Auto-broadcast is
    // disabled for the capture (the WorkMetricsSpec A/B pattern): at spec
    // scale AQE broadcasts the few-KB index side, which is its legitimate
    // small-input choice, not the layout under test — the claim being
    // pinned is that at scale (join planned as SMJ/shuffled-hash) the
    // bucketed layout feeds the join with NO exchange of the index side.
    val plan = GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val df = probe()
      df.count() // materialize AQE's final stages before printing
      df.queryExecution.executedPlan.toString
    }
    assert(plan.contains("Bucketed: true"), plan.take(1200))
    val lines = plan.linesIterator.toVector
    def indent(l: String): Int = l.indexWhere(c => !" :+-".contains(c))
    val scanIdx =
      lines.indexWhere(l => l.contains(primary) && l.contains("Scan"))
    assert(scanIdx > 0, s"expected a scan of $primary:\n${plan.take(1200)}")
    var minInd = indent(lines(scanIdx))
    var j = scanIdx - 1
    var foundJoin = false
    val pathExchanges = Vector.newBuilder[String]
    while (j >= 0 && !foundJoin) {
      val ind = indent(lines(j))
      if (ind >= 0 && ind < minInd) { // an ancestor of the scan
        if (lines(j).contains("Join")) foundJoin = true
        // flag SHUFFLES of the index side; a BroadcastExchange here can
        // only be an explicit by-design hint (auto-broadcast is off for
        // this capture — e.g. the edit probe's 1-row candidate-guard
        // frame), never a reshuffle of the index data
        else if (lines(j).contains("Exchange") &&
            !lines(j).contains("BroadcastExchange"))
          pathExchanges += lines(j)
        minInd = ind
      }
      j -= 1
    }
    assert(foundJoin, s"expected a join above the $primary scan")
    val offending = pathExchanges.result()
    assert(offending.isEmpty,
      s"compacted index side must reach its join exchange-free:\n${offending.mkString("\n")}")
  }

  test("edit index: build → append → compact is probe-identical, single-file, exchange-free") {
    val n = System.nanoTime()
    val en = t(spark, dir, "documents").filter(col("lang") === "en")
      .select(col("doc_id"), substring(col("text"), 1, 64).as("title"))
    val idx = Dedup.writeEditIndex(
      en.filter(pmod(col("doc_id"), lit(10)).between(1, 5)),
      "doc_id", "title", s"cspec_edit_$n")
    Dedup.appendEditIndex(
      en.filter(pmod(col("doc_id"), lit(10)) >= 6), idx, "doc_id", "title",
      epoch = 1L)
    // fresh batch = near-dups BY CONSTRUCTION (one char appended to corpus
    // titles → edit distance 1): sf0.001 is too small for organic pairs
    val fresh = en.filter(pmod(col("doc_id"), lit(10)).between(1, 8))
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("title"), lit("x")).as("title"))
    gradeLifecycle(idx.prefix,
      Seq((idx.prefix, "g", Nil), (idx.shortPool, "len_b", Nil),
        (idx.strings, "corpus_id", Nil)),
      idx.buckets,
      () => Dedup.incrementalEditDistancePairsIndexed(
        fresh, idx, "doc_id", "title")
        .orderBy("fresh_id", "corpus_id"))
  }

  test("MIH index: build → append → compact is probe-identical, single-file, exchange-free") {
    val n = System.nanoTime()
    val e = t(spark, dir, "embeddings")
    val idx = Similarity.writeMihIndex(
      e.filter(col("vec_id") % 8 =!= 0 && col("vec_id") % 8 <= 3),
      "vec_id", "embedding", s"cspec_mih_$n")
    Similarity.appendMihIndex(
      e.filter(col("vec_id") % 8 >= 4), idx, "vec_id", "embedding",
      epoch = 1L)
    gradeLifecycle(idx.codes,
      Seq((idx.codes, "band", Seq("band_val"))),
      idx.buckets,
      () => Similarity.mihHammingScreenIndexed(
        e.filter(col("vec_id") % 8 === 0), idx, "vec_id", "embedding",
        radius = 6)
        .orderBy("fresh_id", "corpus_id"))
  }

  test("gear index: build → append → compact is probe-identical, single-file, exchange-free") {
    val n = System.nanoTime()
    val media = graft.queries.ExtensionQueries.shiftedMediaCorpus(spark, dir)
    val standing = media.filter(col("doc_id") < 100000)
    val idx = Multimodal.writeGearChunkIndex(
      standing.filter(pmod(col("doc_id"), lit(2)) === 0),
      Multimodal.ChunkIndex(s"cspec_gear_idx_$n", s"cspec_gear_sz_$n"))
    Multimodal.appendGearChunkIndex(
      standing.filter(pmod(col("doc_id"), lit(2)) === 1), idx, epoch = 1L)
    gradeLifecycle(idx.digests,
      Seq((idx.digests, "digest", Nil), (idx.sizes, "doc_id", Nil)),
      buckets = 16,
      () => Multimodal.incrementalGearChunkPairsIndexed(
        media.filter(col("doc_id") >= 100000), idx, threshold = 0.4)
        .orderBy("fresh_id", "corpus_id"))
  }

  test("IVF index: build → append → compact is probe-identical, single-file, exchange-free") {
    val n = System.nanoTime()
    val e = t(spark, dir, "embeddings")
    val idx = Similarity.appendIvfIndex(
      e.filter(pmod(col("vec_id"), lit(4)) === 0),
      Similarity.writeIvfIndex(
        e.filter(pmod(col("vec_id"), lit(4)) =!= 0),
        "vec_id", "embedding", s"cspec_ivf_$n"),
      "vec_id", "embedding", epoch = 1L)
    gradeLifecycle(idx.cells,
      Seq((idx.cells, "cid", Nil)),
      idx.buckets,
      () => Similarity.ivfSearchIndexed(
        e.filter(col("vec_id") < 10), idx, "vec_id", "embedding", 5)
        .orderBy("query_id", "rank"))
  }

  test("staleness advisory: N appends fire the default threshold; compaction clears it") {
    import spark.implicits._
    val name = s"cspec_adv_${System.nanoTime()}"
    // single input partition so the build lands one file per bucket (a
    // bucketed write emits one file per (task, bucket))
    def batch(off: Long) =
      (0L until 16L).map(i => (off + i, s"v$i")).toDF("id", "s").coalesce(1)
    BucketedLake.writeBucketedTable(spark, name, batch(0), "id", 4)
    assert(BucketedLake.bucketMaxFiles(spark, name) === 1)
    assert(!BucketedLake.indexStale(spark, name),
      "a freshly built table is not stale")
    // three appends → up to 4 files in a bucket → beyond the default
    // threshold of 3
    (1 to 3).foreach(i => BucketedLake.appendBucketedTable(
      spark, name, batch(100L * i), "id", 4))
    assert(BucketedLake.bucketMaxFiles(spark, name) === 4)
    assert(BucketedLake.indexStale(spark, name),
      "accumulated appends must fire the advisory")
    BucketedLake.compactBucketedTable(spark, name, "id", 4)
    assert(BucketedLake.bucketMaxFiles(spark, name) === 1)
    assert(!BucketedLake.indexStale(spark, name),
      "compaction must clear the advisory")
    spark.sql(s"DROP TABLE $name")
  }
}
