package graft

import graft.model.TaskConfig
import graft.operators.CotripOps
import graft.queries.CotripQueries
import graft.sinks.FeatureCollectionSink
import graft.sources.CotripSource

/** Plan-quality regression tests: the properties that make these queries
  * scale (pushdown, pruning, broadcast dims, shuffle-free conformance path)
  * asserted on the actual physical plans, so a refactor that silently
  * de-optimizes fails CI rather than only showing up in a 100 TB bill.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def physicalPlan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q02: filters and column pruning reach the parquet scan") {
    val plan = physicalPlan("q02_filter_project")
    assert(plan.contains("PushedFilters: ["), plan.take(500))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") || plan.contains("GreaterThan(l_quantity"))
    // pruned read schema: no unused columns in the scan
    assert(!plan.contains("l_comment") && !plan.contains("l_tax,"))
  }

  test("q03: all three dimension joins are broadcast hash joins") {
    val plan = physicalPlan("q03_join_agg_nation")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts === 3, s"expected 3 broadcast joins, plan:\n${plan.take(800)}")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q09: top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = physicalPlan("q09_topk")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("conformance pipeline is shuffle-free (single stage, SURVEY §4.3)") {
    val out = CotripOps.pipeline(
      CotripSource.fromPages(spark, CotripQueries.fixturePages), TaskConfig("t"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"conformance path must not shuffle:\n$plan")
  }

  test("cotrip-pages → pipeline → sink: no from_json or regexp_replace; the explode is whole-stage codegen'd") {
    import org.apache.spark.sql.execution.{GenerateExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val pages = java.nio.file.Files.createTempDirectory("cotrip-plan")
    CotripQueries.fixturePages.zipWithIndex.foreach { case (body, i) =>
      java.nio.file.Files.writeString(pages.resolve(f"page-$i%03d.json"), body)
    }
    val json = FeatureCollectionSink.featureJson(CotripOps.pipeline(
      CotripSource.fromDsv2(spark, Map("mode" -> "fixture", "path" -> pages.toString)),
      TaskConfig("t")))
    json.collect()
    val plan = json.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val text = plan.toString
    assert(!text.contains("from_json") && !text.contains("regexp_replace"), text)
    val fused = plan.collect { case w: WholeStageCodegenExec =>
      w.child.collect { case g: GenerateExec => g } }.flatten
    assert(fused.size === 1 && plan.collect { case g: GenerateExec => g }.size === 1,
      s"the explode's Generate must sit inside a codegen stage:\n$text")
    assert(text.linesIterator.exists(_.matches("""\s*[+:\- ]*\*\(\d+\) Generate .*""")), text)
  }

  test("s01: top-k aggregates partially before the shuffle (ObjectHashAggregate x2)") {
    val plan = physicalPlan("s01_sim_topk_agg")
    val aggs = "ObjectHashAggregate".r.findAllIn(plan).size
    assert(aggs >= 2, s"expected partial+final ObjectHashAggregate:\n${plan.take(800)}")
  }

  test("d06: LSH dedup never plans an all-pairs join (bucket-join only)") {
    // All-pairs shows up as CartesianProduct, or as BroadcastNestedLoopJoin
    // when AQE broadcasts the small side of a cross join.
    def allPairs(plan: String) =
      plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin")
    val plan = physicalPlan("d06_dedup_embedding_lsh")
    assert(!allPairs(plan),
      s"LSH dedup must pair within buckets, not all-pairs:\n${plan.take(800)}")
    // the incremental (fresh-vs-corpus) screen keeps the same bucket-join
    // contract
    assert(!allPairs(physicalPlan("d15_dedup_incremental_embedding")))
    // d05 (the exact cross-check) IS the all-pairs form — sanity that the
    // assertion above is meaningful:
    assert(allPairs(physicalPlan("d05_dedup_embedding_cosine")))
  }

  test("d06: candidates stay off the wire — broadcast joins, fused signatures (r9)") {
    val plan = physicalPlan("d06_dedup_embedding_lsh")
    // the joins around candidate generation + verification must all be
    // broadcasts at lookup sizes under the cap: a SortMergeJoin here means
    // Catalyst's under-estimate won and every candidate occurrence is
    // being shuffled+sorted WITH its vector payload again (the r9 13 GB
    // spill shape)
    assert(!plan.contains("SortMergeJoin"),
      s"candidate pipeline must not sort-merge join:\n${plan.take(800)}")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"expected broadcast self-join + two vector join-backs:\n${plan.take(800)}")
    // signatures come from the fused native expression, not a per-plane
    // dot_product forest (which falls out of codegen at adaptive sizes)
    assert(plan.contains("hyperplane_signatures"),
      "banding must use the fused hyperplane_signatures expression")
  }

  test("d02: shingle set never shuffles exploded shingle rows") {
    // The distinct (doc, shingle) set is per-doc array_distinct before the
    // explode — doc_id is part of the key, so a global `.distinct()` would
    // be a redundant full exchange of the corpus's largest intermediate.
    // Pin (optimization r21): the only Exchange allowed at or below the
    // Generate(explode) is the conditional CORE-WIDTH SPREAD of the doc
    // projection (hashpartitioning on doc_id, BEFORE the explode — guide
    // §2.5; a sub-split corpus otherwise shingles single-task). Exploded
    // shingle rows themselves still never shuffle until the self-join's
    // own key exchange. Built with persistShingles = false so the subplan
    // is visible (the cached form would collapse it into an
    // InMemoryTableScan).
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.operators.Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", persistShingles = false)
      .queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toVector
    val gen = lines.indexWhere(_.contains("Generate explode"))
    val scan = lines.indexWhere(_.contains("Scan parquet"), gen)
    assert(gen >= 0 && scan > gen, s"expected explode-over-scan:\n${plan.take(800)}")
    val between = lines.slice(gen, scan + 1)
    val exchanges = between.filter(_.contains("Exchange"))
    assert(exchanges.forall(l => l.contains("hashpartitioning(doc_id")),
      s"only the pre-explode doc_id spread may exchange below the explode:\n${between.mkString("\n")}")
  }

  test("d12: standing shingle index reads bucketed, corpus side never exchanges") {
    val plan = physicalPlan("d12_dedup_incremental_indexed")
    // the index table must actually be read through its bucketed layout
    assert(plan.contains("Bucketed: true"), plan.take(1200))
    // and no Exchange may sit between the probe join and the index scan —
    // the whole point of the layout is that each ingest never re-shuffles
    // the corpus side (the fresh side exchanging/broadcasting is fine)
    val lines = plan.linesIterator.toVector
    val scanIdx = lines.indexWhere(_.contains("shingle_idx_"))
    assert(scanIdx > 0, s"expected a scan of the shingle index:\n${plan.take(1200)}")
    val joinIdx = lines.lastIndexWhere(_.contains("Join"), scanIdx)
    assert(joinIdx >= 0)
    val branch = lines.slice(joinIdx + 1, scanIdx + 1)
      .filterNot(_.contains("BroadcastExchange")) // fresh-side broadcast, other branch
    assert(!branch.exists(_.contains("Exchange")),
      s"index side must not exchange:\n${branch.mkString("\n")}")
  }

  test("d16: standing signature index reads bucketed, corpus side never exchanges") {
    val plan = physicalPlan("d16_dedup_incremental_embedding_indexed")
    // both standing tables must be read through their bucketed layout
    assert(plan.contains("Bucketed: true"), plan.take(1200))
    // no Exchange between the probe join and the signature-index scan: the
    // whole point of the layout is that each embedding ingest never
    // re-shuffles (or re-signatures) the corpus side — fresh-side
    // broadcasts are fine
    val lines = plan.linesIterator.toVector
    val scanIdx = lines.indexWhere(l => l.contains("emb_idx_") && l.contains("_sig_"))
    assert(scanIdx > 0, s"expected a scan of the signature index:\n${plan.take(1200)}")
    val joinIdx = lines.lastIndexWhere(_.contains("Join"), scanIdx)
    assert(joinIdx >= 0)
    val branch = lines.slice(joinIdx + 1, scanIdx + 1)
      .filterNot(_.contains("BroadcastExchange"))
    assert(!branch.exists(_.contains("Exchange")),
      s"signature-index side must not exchange:\n${branch.mkString("\n")}")
    // and the fused signature expression bands ONLY the fresh side — the
    // corpus branch must not recompute signatures from vectors
    val sigExprs = lines.count(_.contains("hyperplane_signatures"))
    assert(sigExprs >= 1 && lines.slice(joinIdx + 1, scanIdx + 1)
      .forall(!_.contains("hyperplane_signatures")),
      s"corpus side must read stored signatures, not recompute:\n${plan.take(1500)}")
  }

  test("d21: serve reads standing labels + shingle index — no corpus-side derivation") {
    val plan = physicalPlan("d21_incremental_clusters")
    // labels must come from the standing bucketed table, not a re-derived
    // closure (the r16 `weak`: the last corpus-sized derivation in a
    // serving path)
    assert(plan.contains("dup_labels_"),
      s"expected a standing label-table scan:\n${plan.take(1500)}")
    // cross pairs must probe the d12 standing shingle index
    assert(plan.contains("shingle_idx_"),
      s"expected a standing shingle-index scan:\n${plan.take(1500)}")
    // and NO corpus-side (`% 10 < 8`) documents scan may appear anywhere —
    // the only documents reads a serve is allowed are the fresh batch's
    // (`% 10 >= 8`)
    val corpusScan = "pmod\\([^)]*doc_id[^)]*, 10\\) < 8".r
    assert(corpusScan.findFirstIn(plan).isEmpty,
      s"serve plan re-derives the corpus side:\n${plan.take(2000)}")
  }

  test("t49: serve reads the frontier-epoch maintained head — no corpus pass") {
    val plan = physicalPlan("t49_kn_lm_maintenance")
    // the serve must read the persisted maintained head (whose name
    // carries the gram family's frontier epoch — staleness impossible by
    // identity)...
    assert(plan.contains("kn_lmm_") && plan.contains("_e1"),
      s"expected the frontier-epoch maintained-head scan:\n${plan.take(1500)}")
    // ...and NEVER re-run a corpus n-gram pass at serve time (the e44
    // amortization gap t47 closed for builds, closed here for the
    // maintained path too): no documents scan may appear in the plan
    assert(!plan.contains("documents"),
      s"maintained head re-scans the corpus:\n${plan.take(2000)}")
  }

  test("d28: compaction restores single-file buckets; probe stays exchange-free") {
    // evaluating the query runs build → append → compact (catalog-guarded)
    val df = SparkEntry.queries("d28_shingle_index_compacted")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the probe must read the compacted index through its bucketed layout
    // with no Exchange between the probe join and the index scan (the d12
    // contract, unchanged by compaction)
    assert(plan.contains("Bucketed: true"), plan.take(1200))
    val lines = plan.linesIterator.toVector
    val scanIdx = lines.indexWhere(_.contains("shingle_idxc_"))
    assert(scanIdx > 0, s"expected a scan of the compacted index:\n${plan.take(1200)}")
    val joinIdx = lines.lastIndexWhere(_.contains("Join"), scanIdx)
    assert(joinIdx >= 0)
    val branch = lines.slice(joinIdx + 1, scanIdx + 1)
      .filterNot(_.contains("BroadcastExchange"))
    assert(!branch.exists(_.contains("Exchange")),
      s"compacted index side must not exchange:\n${branch.mkString("\n")}")
    // and the LAYOUT claim itself: after build (1 file/bucket) + append
    // (+1 file/bucket) + compact, each index table is back to exactly one
    // file per bucket
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    for (t <- Seq("shingle_idxc_", "shingle_szc_")) {
      val name = spark.catalog.listTables().collect().map(_.name)
        .find(_.startsWith(t)).getOrElse(fail(s"no $t table in catalog"))
      val files = Option(new java.io.File(warehouse, name).listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      assert(files.length === 16,
        s"$name should hold 16 single-file buckets, found ${files.length}")
    }
  }

  test("label table: merge-on-read resolves bucket-locally, no exchange") {
    import spark.implicits._
    val name = s"labels_plan_${System.nanoTime()}"
    graft.operators.Dedup.writeClusterLabels(spark, name,
      Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster"), buckets = 4)
    graft.operators.Dedup.maintainClusterLabels(spark, name,
      Seq((3L, 1L)).toDF("id_a", "id_b"), buckets = 4)
    val plan = graft.operators.Dedup.readClusterLabels(spark, name)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), plan.take(800))
    assert(!plan.contains("Exchange"),
      s"latest-epoch read must be bucket-local:\n$plan")
    spark.sql(s"DROP TABLE $name")
  }

  test("d13: bloom prefilter sits on the corpus branch before the shuffle join") {
    val plan = physicalPlan("d13_dedup_incremental_bloom")
    // the semi-join reduction must actually be planted: a might_contain
    // filter pruning the corpus shingle stream BEFORE its exchange, so the
    // big shuffle ships only possibly-matching shingles
    assert(plan.contains("might_contain"),
      s"expected a might_contain prefilter:\n${plan.take(1200)}")
    val lines = plan.linesIterator.toVector
    val filterIdx = lines.indexWhere(_.contains("might_contain"))
    // an Exchange must appear ABOVE the bloom filter (nearer the join),
    // i.e. the filter runs scan-side, below the corpus branch's shuffle
    assert(lines.take(filterIdx).exists(_.contains("Exchange")),
      s"bloom filter must run below the corpus-side exchange:\n${plan.take(1500)}")
  }

  test("s15: multi-probe candidates come from the bucket equi-join — no all-pairs, query side broadcast") {
    val plan = physicalPlan("s15_ann_multiprobe")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"probe fan-out must ride the bucket equi-key:\n${plan.take(900)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"the (query × probes) side must broadcast:\n${plan.take(900)}")
  }

  test("s04: centroid table broadcasts; corpus never moves for assignment") {
    val plan = physicalPlan("s04_sim_ann_ivf")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"centroids must broadcast:\n${plan.take(800)}")
  }

  test("q33: bucketed join and key-agg plan with ZERO exchanges") {
    // disable broadcast so the co-location (not a broadcast) must carry it
    GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = physicalPlan("q33_bucketed_join")
      // the final ORDER BY legitimately range-exchanges; nothing else may
      val exchanges = "Exchange".r.findAllIn(plan).size
      val rangeExchanges = "Exchange rangepartitioning".r.findAllIn(plan).size
      assert(exchanges === rangeExchanges,
        s"join/agg must be exchange-free on bucketed tables:\n${plan.take(1200)}")
      assert(plan.contains("SortMergeJoin"), "expected a shuffle-free SMJ")
      assert(plan.contains("Bucketed: true"), plan.take(600))
    }
  }

  test("e08: bucketized range join is an equi-join, not a nested loop") {
    val plan = physicalPlan("e08_range_join_bucketed")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"containment join must ride the bucket equi-key:\n${plan.take(900)}")
  }

  test("corpus queries prune the documents scan to referenced columns") {
    // t05 touches only the id — a scan dragging `text` along would read
    // ~100x the bytes at corpus scale
    assert(physicalPlan("t05_corpus_split").contains("ReadSchema: struct<doc_id:bigint>"))
    assert(physicalPlan("q31_source_quota")
      .contains("ReadSchema: struct<doc_id:bigint,source:string>"))
  }

  test("t12: repetition signals are one shuffle-free projection over the scan") {
    val plan = graft.operators.CorpusOps.repetitionSignals(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"repetition signals must not shuffle:\n${plan.take(800)}")
    assert(!plan.contains("Generate"),
      s"repetition signals must not explode the token stream:\n${plan.take(800)}")
  }

  test("t27: cut-list application is a projection after one doc-key join — no UDF, no token explode") {
    import org.apache.spark.sql.functions._
    val spark0 = spark
    import spark0.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val spans = Seq((0L, 1L, 8L, 8L))
      .toDF("doc_id", "span_start", "span_end", "span_tokens")
    val plan = graft.operators.CorpusOps.applyCutList(docs, spans, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // the excision is an indexed-filter HOF inside a Project: the token
    // stream must never explode, and no scala UDF may appear
    assert(!plan.contains("Generate"),
      s"cut application must not explode the token stream:\n${plan.take(800)}")
    assert(!plan.toLowerCase.contains("scalaudf"),
      s"cut application must stay HOF-only:\n${plan.take(800)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("t28: percentile gate is one window pass — single key exchange, no join") {
    import org.apache.spark.sql.functions._
    val scored = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), length(col("text")).as("score"))
    val plan = graft.operators.CorpusOps.percentileGate(
      scored, "doc_id", "source", "score", 0.5)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges === 1, s"expected exactly one source-key exchange:\n${plan.take(800)}")
    assert(!plan.contains("Join"), s"gate must not join:\n${plan.take(800)}")
  }

  test("t29: token-budget mix broadcasts the target table; one window exchange for the corpus") {
    val plan = graft.operators.CorpusOps.tokenBudgetMix(
      spark.read.parquet(s"$dir/documents.parquet"),
      "doc_id", "text", "source", 20000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"per-source targets must broadcast:\n${plan.take(800)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must not sort-merge against a tiny target table:\n${plan.take(800)}")
  }

  test("t13: stratified sample is a filter over the scan — no shuffle, no join") {
    val plan = graft.operators.CorpusOps.stratifiedSample(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", org.apache.spark.sql.functions.lit(50))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"stratified sampling must stay embarrassingly parallel:\n${plan.take(800)}")
  }

  test("d09: semantic dedup pairs within clusters, never all-pairs") {
    val plan = graft.operators.Similarity.semanticDupPairs(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding", 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"semantic dedup must pair within k-means clusters:\n${plan.take(800)}")
  }

  test("t21: quality gate is one shuffle-free projection over the scan") {
    val plan = graft.operators.CorpusOps.qualityGate(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"quality gate must cost no more than the metrics it reads:\n${plan.take(800)}")
    assert(!plan.contains("Generate"),
      s"quality gate must not explode the token stream:\n${plan.take(800)}")
  }

  test("s08: two-stage re-rank never plans an all-pairs join (bucket-join only)") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val plan = graft.operators.Similarity.annRerankQuantized(
      e.filter(org.apache.spark.sql.functions.col("vec_id") < 10), e,
      "vec_id", "embedding", k = 5, coarseM = 20)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"re-rank candidates must come from the LSH bucket join:\n${plan.take(800)}")
  }

  test("m05: binary dedup shuffles the digest, never the payload") {
    val plan = graft.operators.Multimodal.dedupByContent(
      graft.operators.Multimodal.asMediaTable(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text"))
      .queryExecution.executedPlan.toString
    // partial agg drops `payload` before the exchange: the shuffled schema
    // carries only the digest/byte-count keys and agg buffers
    val exchange = plan.split("Exchange hashpartitioning")(1)
    assert(exchange.contains("content_sha256"), plan.take(800))
    assert(!exchange.split("\n")(0).contains("payload"), plan.take(800))
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs >= 2, s"expected partial+final HashAggregate:\n${plan.take(800)}")
  }

  test("t22: the bigram-LM join is broadcast map-side, never a corpus sort-merge") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val lm = graft.operators.CorpusOps.bigramLm(docs, "doc_id", "text")
    val plan = graft.operators.CorpusOps.bigramLogprob(docs, "doc_id", "text", lm, -20.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"),
      s"the token stream must never shuffle for the LM lookup:\n${plan.take(800)}")
    // r13: the tokenize+shingle HOF must be evaluated ONCE per doc, inside
    // the Generate — carrying size(bgArr) through the explode made column
    // pruning re-inline the whole HOF into the post-Generate PROJECT,
    // re-evaluated per EXPLODED row, interpreted: O(doc_len²) per doc
    // (measured 18s vs 2s on the e39 stream at sf0.1). Generate nodes may
    // carry the HOF; Project nodes never.
    val hofProjects = plan.linesIterator.filter(l =>
      l.contains("Project") && l.contains("transform(")).toSeq
    assert(hofProjects.isEmpty,
      s"shingle HOF re-inlined into a Project:\n${hofProjects.mkString("\n")}")
  }

  test("g02: triangle census is all equi-joins — no cartesian, no nested loop") {
    val plan = physicalPlan("g02_triangles")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"triangle wedge/closure must stay equi-joins:\n${plan.take(1200)}")
  }

  test("g01/g04: rank and RA sums are plain hash aggregates — no per-group message arrays") {
    // the r10-verdict hub fix: a collect_list fold buffers a destination's
    // whole in-neighborhood in one aggregation group (OOM at a degree-1e7
    // hub); the quantizedSum tree must plan as a partial-aggregating
    // HashAggregate whose state is one decimal, with no array in sight
    for (q <- Seq("g01_pagerank", "g04_node_similarity", "g06_weighted_pagerank")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("collect_list") && !plan.contains("array_sort"),
        s"$q must not buffer per-group message arrays:\n${plan.take(1200)}")
      assert(!plan.contains("ObjectHashAggregate"),
        s"$q sums must stay in codegen HashAggregate:\n${plan.take(1200)}")
    }
  }

  test("r11 operators plan clean: equi-joins only, no cartesian anywhere") {
    // the round's new candidate-generating ops must never fall back to
    // all-pairs plans: edit-distance prefix joins, CDC digest buckets,
    // the contamination collision join, hard-negative probes
    for (q <- Seq("m12_cdc_chunk_pairs", "m13_cdc_bounded_pairs",
        "t34_contamination", "s20_hard_negatives", "t35_source_dup_matrix")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must stay equi-join:\n${plan.take(1200)}")
    }
    // d19/d20 carry the r12 candidate-volume guard: a SINGLE-ROW count
    // frame broadcast-cross-joined onto the candidate stream (it plans as
    // one BroadcastNestedLoopJoin over a 1-row side — O(candidates) work,
    // not a pair blow-up). Candidate GENERATION must still be pure
    // equi-join: no cartesian, and exactly the one guard BNLJ.
    for (q <- Seq("d19_dedup_edit_distance", "d20_incremental_edit_distance")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q must stay equi-join:\n${plan.take(1200)}")
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
      assert(bnlj === 1,
        s"$q: expected exactly the 1-row guard cross join, got $bnlj:\n${plan.take(1200)}")
    }
  }

  test("r12 operators plan clean: g07/g08/s22 equi-joins only, no cartesian") {
    // kCore's per-round semi-joins, assortativity's degree joins and the
    // MIH band join must all stay hash equi-joins; g08's single-row
    // stats×n_nodes cross is the only permitted BNLJ (1-row side).
    for (q <- Seq("g07_kcore", "s22_mih_hamming")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must stay equi-join:\n${plan.take(1200)}")
    }
    val g08 = physicalPlan("g08_assortativity")
    assert(!g08.contains("CartesianProduct"), g08.take(1200))
    assert("BroadcastNestedLoopJoin".r.findAllIn(g08).size <= 1,
      s"g08: only the 1-row stats cross join may nest:\n${g08.take(1200)}")
  }

  test("t34: the benchmark side broadcasts — the corpus never shuffles for the collision") {
    val plan = physicalPlan("t34_contamination")
    // the GRAM-keyed collision join must be a broadcast (a sort-merge
    // there shuffles the whole corpus gram stream — the thing the
    // eval-sized bench side exists to avoid); the later doc_id-keyed
    // zero-fill joins may plan however the sizes dictate
    assert("BroadcastHashJoin \\[g#".r.findFirstIn(plan).isDefined,
      s"expected the gram collision join to broadcast:\n${plan.take(1200)}")
    assert("SortMergeJoin \\[g#".r.findFirstIn(plan).isEmpty,
      s"gram collision join must not sort-merge:\n${plan.take(1200)}")
  }

  test("t38: degraded screen shuffle-joins the gram key with the bloom prefilter planted") {
    val plan = physicalPlan("t38_contamination_shuffle")
    // the degrade path must NOT silently re-broadcast (that would test
    // nothing) and the corpus gram stream must pass the might_contain
    // prune before the exchange
    assert("BroadcastHashJoin \\[g#".r.findFirstIn(plan).isEmpty,
      s"bench side must not broadcast in the degraded screen:\n${plan.take(1200)}")
    assert("ShuffledHashJoin \\[g#".r.findFirstIn(plan).isDefined,
      s"expected the shingle-key shuffle join:\n${plan.take(1200)}")
    assert(plan.contains("might_contain"),
      s"expected the bloom prefilter in the corpus scan stage:\n${plan.take(1200)}")
  }

  test("s11: cluster sample shuffles ONCE (the window key) — assignment is a projection") {
    val plan = physicalPlan("s11_cluster_sample")
    // assignment rides as centroid literals (no join), so the only data
    // exchanges are the per-cluster window and the presentation sort
    assert(!plan.contains("Join"), s"assignment must not join:\n${plan.take(800)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1,
      s"expected exactly the cluster-key exchange, got $exchanges:\n${plan.take(1200)}")
  }

  test("e17: anomaly scoring is one window pass — single key exchange, no join") {
    val plan = physicalPlan("e17_anomaly_zscore")
    assert(!plan.contains("Join"), s"moments must come from the frame, not a join:\n${plan.take(800)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1,
      s"expected exactly the user_id window exchange, got $exchanges:\n${plan.take(1200)}")
  }

  test("q36: z-order key is a pure projection — no shuffle, no generator") {
    val plan = physicalPlan("q36_zorder_key")
    // the final orderBy is the query's presentation sort; the KEY itself
    // must not add exchanges beyond it
    assert("Exchange".r.findAllIn(plan).size <= 1, plan.take(800))
    assert(!plan.contains("Generate"))
  }

  test("q40: moment statistics partial-aggregate before one shuffle") {
    val plan = physicalPlan("q40_stats_corr")
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs >= 2, s"expected partial+final HashAggregate:\n${plan.take(800)}")
  }

  test("runAndSubmit posts one FeatureCollection through a pluggable poster") {
    var posted: Option[(String, String)] = None
    graft.CotripPipeline(TaskConfig("tok")).runAndSubmit(
      spark,
      graft.sources.FixturePageClient.chain(CotripQueries.fixturePages),
      "http://example.invalid/layer",
      (url, body) => posted = Some((url, body)))
    val (url, body) = posted.get
    assert(url === "http://example.invalid/layer")
    assert(body.startsWith("""{"type":"FeatureCollection","features":["""))
    assert(body.contains("\"mp1-2\""))
  }

  test("q42: salt expansion appears iff the MEASURED skew exceeds threshold") {
    // The decision is measurement-driven, so drive it with engineered
    // inputs: a uniform probe must plan the plain join (no generator, no
    // build-side replication), a one-hot-key probe must plan q29's salted
    // shape. The salt explode shows up as a Generate node over sequence().
    import org.apache.spark.sql.functions._
    import graft.operators.QualityChecks
    val build = spark.range(0, 50).select(col("id").as("k"), lit(1L).as("v"))
    val uniform = spark.range(0, 5000)
      .select((col("id") % 50).as("k"), col("id").as("row_id"))
    // 4000 of 5000 rows on one key → mean_ratio = 0.8 × 50 = 40 ≫ 4
    val hot = spark.range(0, 5000)
      .select(when(col("id") < 4000, lit(7)).otherwise(col("id") % 50)
        .cast("long").as("k"), col("id").as("row_id"))

    val plainPlan = QualityChecks.autoSaltedJoin(uniform, build, "k", "row_id")
      .queryExecution.executedPlan.toString
    assert(!plainPlan.contains("Generate"),
      s"uniform input must not pay salt replication:\n${plainPlan.take(600)}")

    val saltedDf = QualityChecks.autoSaltedJoin(hot, build, "k", "row_id")
    val saltedPlan = saltedDf.queryExecution.executedPlan.toString
    assert(saltedPlan.contains("Generate"),
      s"hot key (ratio ~40) must trigger the salt explode:\n${saltedPlan.take(600)}")
    // factor derivation: ratio ~40 → ⌈40⌉ buckets, capped at maxSalt
    assert(QualityChecks.saltFactorFor(40.0, 4.0, 64) === 40)
    assert(QualityChecks.saltFactorFor(40.0, 4.0, 16) === 16)
    assert(QualityChecks.saltFactorFor(3.9, 4.0, 64) === 1)
    // and both branches return the SAME relation
    val plain = uniform.join(build, Seq("k"))
    assert(QualityChecks.autoSaltedJoin(uniform, build, "k", "row_id")
      .exceptAll(plain).isEmpty && plain.exceptAll(
        QualityChecks.autoSaltedJoin(uniform, build, "k", "row_id")).isEmpty)
    val hotPlain = hot.join(build, Seq("k"))
    assert(saltedDf.exceptAll(hotPlain).isEmpty &&
      hotPlain.exceptAll(saltedDf).isEmpty)
  }

  test("q43: HLL is two pure aggregations — no joins, partial-agg before both shuffles") {
    val plan = physicalPlan("q43_hll_distinct")
    assert(!plan.contains("Join"),
      s"HLL must not join (registers and estimate are pure aggregates):\n${plan.take(800)}")
    // partial+final HashAggregate at both the register and estimate levels:
    // the map-side combine IS the sketch's mergeability at work
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs >= 4, s"expected partial+final aggregates at 2 levels:\n${plan.take(800)}")
  }

  test("q44: CMS grid broadcasts back; top-20 plans as TakeOrderedAndProject") {
    val plan = physicalPlan("q44_cms_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 192-cell grid must broadcast, never shuffle the token table:\n${plan.take(800)}")
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must not globally sort:\n${plan.take(800)}")
  }

  test("t30: KMV sketches partial-aggregate (ObjectHashAggregate x2) — bounded state per group") {
    val plan = physicalPlan("t30_kmv_set_ops")
    val aggs = "ObjectHashAggregate".r.findAllIn(plan).size
    assert(aggs >= 2, s"expected partial+final bottom-k aggregation:\n${plan.take(800)}")
  }

  test("q45: the base/delta split predicates push down to both order scans") {
    val plan = physicalPlan("q45_incremental_agg")
    assert(plan.contains("LessThan(o_orderdate") &&
      plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"split predicates must reach the parquet scans:\n${plan.take(1200)}")
  }

  test("q46: incremental HLL stays join-free — register merge is a pure aggregate") {
    val plan = physicalPlan("q46_hll_incremental")
    assert(!plan.contains("Join"),
      s"register-state merge must be union+max, never a join:\n${plan.take(800)}")
  }

  test("t31: weighted sample cut plans as TakeOrderedAndProject over the scan") {
    val plan = physicalPlan("t31_weighted_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the k-cut must be per-partition top-k, not a global sort:\n${plan.take(800)}")
    assert(!plan.contains("Join"), plan.take(800))
  }

  test("q47: bin counts partial-aggregate; split predicates push to both event scans") {
    val plan = physicalPlan("q47_hist_quantiles")
    // the map-side combine on (grp, bin) IS the histogram merge at work
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs >= 4, s"expected partial+final aggregates at 2+ levels:\n${plan.take(800)}")
    assert(plan.contains("LessThan(ts") && plan.contains("GreaterThanOrEqual(ts"),
      s"base/delta split predicates must reach the parquet scans:\n${plan.take(1200)}")
  }

  test("q54: code counts partial-aggregate; split predicates push to both event scans") {
    val plan = physicalPlan("q54_loglin_quantiles")
    // the map-side combine on (grp, code) IS the log-linear merge at work
    // (the q47 contract on the unbounded sketch)
    val aggs = "HashAggregate".r.findAllIn(plan).size
    assert(aggs >= 4, s"expected partial+final aggregates at 2+ levels:\n${plan.take(800)}")
    assert(plan.contains("LessThan(ts") && plan.contains("GreaterThanOrEqual(ts"),
      s"base/delta split predicates must reach the parquet scans:\n${plan.take(1200)}")
    // the octave binning stays codegen-friendly: no UDF anywhere in the plan
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"logLinCode must be built-in expressions only:\n${plan.take(800)}")
  }

  test("q55: sketch state partial-aggregates map-side; split predicates push; build runs once") {
    val df = SparkEntry.queries("q55_rankq_quantiles")(spark, dir)
    df.collect() // materialize so the persisted-state reuse is in the plan
    val plan = df.queryExecution.executedPlan.toString
    // the bounded typed-aggregator state (64 counters + k items) partial-
    // aggregates BEFORE the exchange — the map-side combine IS the state
    // algebra's merge at work (the KMV contract on the rank sketch)
    val partials = "ObjectHashAggregate".r.findAllIn(plan).size
    assert(partials >= 4,
      s"expected partial+final ObjectHashAggregate on both halves:\n${plan.take(1000)}")
    assert(plan.contains("LessThan(ts") && plan.contains("GreaterThanOrEqual(ts"),
      s"base/delta split predicates must reach the parquet scans:\n${plan.take(1200)}")
    // the walk reads the state twice (selector + sample); the persisted
    // state frame must serve both so the sketch build runs ONCE
    assert(plan.contains("InMemoryTableScan"),
      s"quantile walk must reuse the persisted state, not rebuild it:\n${plan.take(1000)}")
    // level computation stays built-in expressions (smear/popcount)
    assert(!plan.contains("BatchEvalPython"), plan.take(600))
  }

  test("s16: the label filter rides the hash joins — no cartesian pair space") {
    val plan = physicalPlan("s16_filtered_recall")
    assert(!plan.contains("CartesianProduct"),
      s"filtered search must join on (cell, label) / label, never all-pairs:\n${plan.take(800)}")
  }

  test("s17: inverted file reads bucketed; index side never exchanges") {
    val plan = physicalPlan("s17_ivf_indexed")
    assert(plan.contains("Bucketed: true"), plan.take(1200))
    // no Exchange between the probe join and the cells scan — the point of
    // the standing layout is that a query batch never re-shuffles (or
    // re-assigns) the corpus side; probe-side broadcasts are fine
    val lines = plan.linesIterator.toVector
    val scanIdx = lines.indexWhere(l => l.contains("ivf_idx_") && l.contains("_cells_"))
    assert(scanIdx > 0, s"expected a scan of the inverted file:\n${plan.take(1200)}")
    val joinIdx = lines.lastIndexWhere(_.contains("Join"), scanIdx)
    assert(joinIdx >= 0)
    val branch = lines.slice(joinIdx + 1, scanIdx + 1)
      .filterNot(_.contains("BroadcastExchange"))
    assert(!branch.exists(_.contains("Exchange")),
      s"inverted-file side must not exchange:\n${branch.mkString("\n")}")
    // and the corpus branch must not re-run assignment — the fused argmax
    // belongs to the BUILD, never the probe
    assert(lines.slice(joinIdx + 1, scanIdx + 1)
      .forall(!_.contains("nearest_centroid")),
      s"probe path must read stored assignments, not recompute:\n${plan.take(1500)}")
  }

  test("s19: code table reads bucketed; no code recompute on the probe path") {
    val plan = physicalPlan("s19_ivfpq_indexed")
    assert(plan.contains("Bucketed: true"), plan.take(1200))
    val lines = plan.linesIterator.toVector
    val scanIdx = lines.indexWhere(l => l.contains("ivfpq_idx_") && l.contains("_codes_"))
    assert(scanIdx > 0, s"expected a scan of the code table:\n${plan.take(1200)}")
    val joinIdx = lines.lastIndexWhere(_.contains("Join"), scanIdx)
    assert(joinIdx >= 0)
    val branch = lines.slice(joinIdx + 1, scanIdx + 1)
      .filterNot(_.contains("BroadcastExchange"))
    assert(!branch.exists(_.contains("Exchange")),
      s"code-table side must not exchange:\n${branch.mkString("\n")}")
  }

  test("q49/q50: IVM delta terms and the PIT lookup are all equi-joins — never nested-loop") {
    for (q <- Seq("q49_incremental_join", "q50_scd2_pit")) {
      val plan = physicalPlan(q)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must plan hash equi-joins only:\n${plan.take(800)}")
    }
  }

  test("q51: the fraction window PRUNES the order scans again; no cartesian") {
    // r15 moved the fixture window from an absolute `< 3000` (prunable
    // but constant-size at every scale) to the fraction `% 3000 < 60`
    // (scales honestly, but a modulo has no row-group stats — the pin
    // degraded to "evaluates at the scan"). r16 restores pruning with
    // the residue LAYOUT (BucketedLake.ensureResidue): the window rides
    // a physical `wres` column over range-sorted files, so the filter
    // is a PUSHED parquet predicate with tight min/max again — the pin
    // upgrades back to a pruned scan (VERDICT r15 #5).
    val plan = physicalPlan("q51_cdc_apply")
    assert(plan.contains("LessThan(wres,60)"),
      s"the fraction window must be a pushed parquet filter on wres:\n${plan.take(1200)}")
    assert(plan.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("LessThan(wres,60)")),
      s"wres < 60 must appear in PushedFilters:\n${plan.take(1200)}")
    assert(plan.linesIterator.exists(l => l.contains("ReadSchema") &&
      !l.contains("o_orderpriority")),
      "base scan must stay column-pruned")
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("q50/e30's lineitem window is a pushed wres filter too") {
    val plan = physicalPlan("q50_scd2_pit")
    assert(plan.contains("LessThan(wres,30)"),
      s"the PIT fact window must push to the residue layout:\n${plan.take(1200)}")
  }

  test("m10: chunk-digest index reads bucketed; corpus side never exchanges or re-digests") {
    val plan = physicalPlan("m10_chunk_screen_indexed")
    assert(plan.contains("Bucketed: true"), plan.take(1200))
    val lines = plan.linesIterator.toVector
    val scanIdx = lines.indexWhere(l => l.contains("chunk_idx_") && l.contains("FileScan"))
    assert(scanIdx > 0, s"expected a scan of the digest index:\n${plan.take(1200)}")
    assert(lines(scanIdx).contains("Bucketed: true"),
      s"digest index must be read through its bucket layout:\n${lines(scanIdx)}")
    // the index BRANCH is the contiguous run after the fresh side's last
    // scan/generate line — it must carry no exchange and no re-digesting
    val freshEnd = lines.lastIndexWhere(
      l => l.contains("FileScan") || l.contains("Generate"), scanIdx - 1)
    val branch = lines.slice(freshEnd + 1, scanIdx)
    assert(!branch.exists(l => l.contains("Exchange") && !l.contains("BroadcastExchange")),
      s"digest-index side must not exchange:\n${branch.mkString("\n")}")
    assert(branch.forall(!_.contains("sha2")),
      s"corpus side must read stored digests, not re-digest:\n${branch.mkString("\n")}")
  }

  test("m15: gear digest index reads bucketed; corpus side never exchanges or re-chunks") {
    val plan = physicalPlan("m15_gear_screen_indexed")
    val lines = plan.linesIterator.toVector
    val scanIdx = lines.indexWhere(l => l.contains("gear_idx_") && l.contains("FileScan"))
    assert(scanIdx > 0, s"expected a scan of the gear digest index:\n${plan.take(1200)}")
    assert(lines(scanIdx).contains("Bucketed: true"),
      s"gear index must be read through its bucket layout:\n${lines(scanIdx)}")
    val freshEnd = lines.lastIndexWhere(
      l => l.contains("FileScan") || l.contains("Generate"), scanIdx - 1)
    val branch = lines.slice(freshEnd + 1, scanIdx)
    assert(!branch.exists(l => l.contains("Exchange") && !l.contains("BroadcastExchange")),
      s"gear-index side must not exchange:\n${branch.mkString("\n")}")
    assert(branch.forall(l => !l.contains("sha2") && !l.contains("gear_chunk_ends")),
      s"corpus side must read stored digests, not re-chunk:\n${branch.mkString("\n")}")
  }

  test("s24: MIH code index reads bucketed; index side never exchanges or re-codes") {
    val plan = physicalPlan("s24_mih_screen_indexed")
    val lines = plan.linesIterator.toVector
    val scanIdx = lines.indexWhere(l => l.contains("_mih_b") && l.contains("FileScan"))
    assert(scanIdx > 0, s"expected a scan of the MIH code index:\n${plan.take(1200)}")
    assert(lines(scanIdx).contains("Bucketed: true"),
      s"code index must be read through its bucket layout:\n${lines(scanIdx)}")
    val freshEnd = lines.lastIndexWhere(
      l => l.contains("FileScan") || l.contains("Generate"), scanIdx - 1)
    val branch = lines.slice(freshEnd + 1, scanIdx)
    assert(!branch.exists(l => l.contains("Exchange") && !l.contains("BroadcastExchange")),
      s"code-index side must not exchange:\n${branch.mkString("\n")}")
    assert(branch.forall(!_.contains("dot_product")),
      s"index side must read stored codes, not re-code:\n${branch.mkString("\n")}")
  }

  test("DEBUG flag logs a bounded sample to stderr (honored, unlike reference)") {
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(err)) {
      val oldErr = System.err
      System.setErr(new java.io.PrintStream(err))
      try CotripPipeline(TaskConfig("tok", debug = true)).transform(
        CotripSource.fromPages(spark, CotripQueries.fixturePages)).count()
      finally System.setErr(oldErr)
    }
    val lines = err.toString.linesIterator.filter(_.contains("[cotrip DEBUG]")).toSeq
    assert(lines.nonEmpty && lines.size <= 5)
  }

  test("t44: order-4 KN scoring broadcast-joins the LM; nothing cartesian") {
    val plan = physicalPlan("t44_kn4_logprob")
    // the (gram, lp) join in the scoring fold is the map-side hash join
    // (a 4-gram vocabulary can't be a plan literal), and the only
    // nested-loop shapes allowed are the 1-row broadcast type totals
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    assert(!plan.contains("CartesianProduct"), "order-4 KN planned a cartesian")
  }

  test("t45: discount sweep shares the statistics family; LM joins broadcast, no cartesian") {
    val plan = physicalPlan("t45_kn_discount_sweep")
    // each discount's (bg, lp) scoring join is a map-side hash join (the
    // vocabulary can't be a plan literal); sweeping must never cross-pair
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
    assert(!plan.contains("CartesianProduct"), "discount sweep planned a cartesian")
  }

  test("d24: adaptive slice pairs plan equi-joins only; lang filter reaches the scan") {
    // the LCP aggregates run eagerly (two string aggs, driver compare);
    // the PAIR plan built on top must be the d19 shape — gram/length
    // equi-joins, no cartesian — and the en scope pushes to parquet
    val plan = physicalPlan("d24_edit_adaptive_slice")
    assert(plan.contains("EqualTo(lang,en)") || plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"),
      s"lang filter must reach the scan:\n${plan.take(900)}")
    assert(!plan.contains("CartesianProduct"), "adaptive-slice pairing planned a cartesian")
  }

  test("t32: no global NTILE; the doc-scale rank window is partitioned by hash range") {
    // VERDICT r15 #2: prefix assignment used to funnel every doc row
    // through one NTILE task. The scale path decomposes the global rank
    // into range offsets (a rangeBuckets-row rollup — knob-bounded) +
    // a row_number window PARTITIONED by the hash range.
    val plan = physicalPlan("t32_vocab_growth")
    assert(!plan.contains("ntile("),
      "the global NTILE is back in the t32 plan")
    val partitionedRank =
      "windowspecdefinition\\(fb#\\d+L?, h#\\d+L? ASC".r
    assert(partitionedRank.findFirstIn(plan).isDefined,
      "the doc-scale row_number window must be partitioned by fb:\n" +
        plan.linesIterator.filter(_.contains("windowspecdefinition"))
          .mkString("\n").take(1200))
  }

  test("d25: adaptive edit-index probe reads bucketed; index side never exchanges") {
    // the d22 contract carried to the adaptive-window family: the frozen
    // offset changes WHAT is indexed, never the probe's exchange shape
    val plan = physicalPlan("d25_edit_adaptive_indexed")
    assert(plan.contains("Bucketed: true"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"))
    val lines = plan.linesIterator.toVector
    val scanIdx = lines.indexWhere(l => l.contains("edit_idxw_") && l.contains("_pref"))
    assert(scanIdx > 0, "expected a scan of the adaptive edit prefix table:\n" +
      lines.filter(_.contains("edit_idxw_")).mkString("\n").take(1200))
    val joinIdx = lines.lastIndexWhere(_.contains("Join"), scanIdx)
    assert(joinIdx >= 0)
    val branch = lines.slice(joinIdx + 1, scanIdx + 1)
      .filterNot(_.contains("BroadcastExchange"))
    assert(!branch.exists(_.contains("Exchange")),
      s"index side must not exchange:\n${branch.mkString("\n")}")
  }

  test("d22: edit-index prefix probe reads bucketed; index side never exchanges") {
    val plan = physicalPlan("d22_incremental_edit_indexed")
    // the index tables must actually be read through their bucket layout
    assert(plan.contains("Bucketed: true"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"))
    // no Exchange between the prefix-probe join and the prefix-table scan
    // (the d12 contract: each ingest never re-shuffles the corpus side)
    val lines = plan.linesIterator.toVector
    val scanIdx = lines.indexWhere(l => l.contains("edit_idx_") && l.contains("_pref"))
    assert(scanIdx > 0, "expected a scan of the edit prefix table:\n" +
      lines.filter(_.contains("edit_idx_")).mkString("\n").take(1200))
    val joinIdx = lines.lastIndexWhere(_.contains("Join"), scanIdx)
    assert(joinIdx >= 0)
    val branch = lines.slice(joinIdx + 1, scanIdx + 1)
      .filterNot(_.contains("BroadcastExchange"))
    assert(!branch.exists(_.contains("Exchange")),
      s"index side must not exchange:\n${branch.mkString("\n")}")
  }

  test("d20 (e43's batch twin): the edit screen plans equi-joins only") {
    val plan = physicalPlan("d20_incremental_edit_distance")
    // prefix/short-pool/verify joins are all equi-joins on grams/lengths/
    // ids; the lone BroadcastNestedLoopJoin allowed is the in-plan
    // candidate-volume guard's 1-row broadcast count
    assert(!plan.contains("CartesianProduct"), "edit screen planned a cartesian")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"))
  }

  test("width pins: a narrow batch frame spreads to core width, a wide or streaming one passes through") {
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    import graft.operators.Caching
    val helper = new AdaptiveSparkPlanHelper {}
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      helper.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
    val cores = spark.sparkContext.defaultParallelism
    assert(cores > 1)
    val path = java.nio.file.Files.createTempDirectory("core-width").resolve("t").toString
    spark.range(1000).coalesce(1).write.parquet(path)
    val narrow = spark.read.parquet(path)
    assert(narrow.rdd.getNumPartitions === 1)

    val byId = Caching.coreWidthBy(narrow, col("id"))
    assert(byId.rdd.getNumPartitions === cores)
    exchanges(byId).map(_.outputPartitioning) match {
      case Seq(HashPartitioning(Seq(key: org.apache.spark.sql.catalyst.expressions.Attribute), n)) =>
        assert(key.name === "id" && n === cores)
      case other => fail(s"expected one hash exchange on id, got $other")
    }
    val spread = Caching.coreWidth(narrow)
    assert(spread.rdd.getNumPartitions === cores)
    assert(exchanges(spread).map(_.outputPartitioning) === Seq(RoundRobinPartitioning(cores)))

    val wide = spark.range(0, 1000, 1, cores).toDF()
    assert(Caching.coreWidthBy(wide, col("id")) eq wide)
    assert(Caching.coreWidth(wide) eq wide)
    assert(exchanges(wide).isEmpty)

    val stream = spark.readStream.format("rate").load()
    assert(Caching.coreWidthBy(stream, col("value")) eq stream)
  }
}
