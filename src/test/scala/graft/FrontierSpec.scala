package graft

import org.apache.spark.sql.functions._

import graft.operators.{CorpusOps, Dedup}
import graft.sources.BucketedLake

/** The catalog-tracked frontier for standing maintained tables (VERDICT
  * r17 #6) and the monotonic-epoch ledger it enforces (ADVICE r17).
  *
  * Invariants pinned here:
  *  - the `graft.frontier` table property equals max(epoch) in the data
  *    after build, every non-empty fold, and compaction — the property is
  *    a catalog mirror of the rows, never a divergent second truth;
  *  - gram-count folds are REJECTED (no-op, false) for any epoch ≤ the
  *    frontier: a frontier replay, an out-of-order assignment, and — the
  *    ADVICE r17 double-count scenario — a delayed pre-frontier retry
  *    arriving after compaction collapsed its rows;
  *  - an EMPTY batch still advances the frontier (the epoch is recorded
  *    in the catalog, not inferred from appended rows), so a later replay
  *    of that epoch with different content cannot apply;
  *  - label-table folds take their epoch from the property (no per-fold
  *    max(epoch) scan) and compaction resets it to 0 with the rows.
  */
class FrontierSpec extends SparkSpec {
  import spark.implicits._

  private def maxEpoch(name: String): Long =
    spark.table(name).agg(coalesce(max(col("epoch")), lit(-1L)))
      .head().getLong(0)

  private def prop(name: String): Option[Long] =
    BucketedLake.frontier(spark, name)

  test("gram table: property mirrors max(epoch); pre-frontier replays rejected") {
    val name = "t_frontier_gc"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val base = Seq(("a b", 1L), ("b c", 2L)).toDF("g", "n")
    CorpusOps.writeKnGramTable(spark, name, base)
    assert(prop(name) === Some(0L))
    assert(maxEpoch(name) === 0L)

    // epoch 2 applies (monotonic: 2 > 0); property and rows agree
    assert(CorpusOps.maintainKnGramTable(spark, name,
      Seq(("a b", 3L)).toDF("g", "n"), epoch = 2L))
    assert(prop(name) === Some(2L))
    assert(maxEpoch(name) === 2L)

    // out-of-order epoch 1 is ≤ frontier → rejected, nothing appended
    val before = spark.table(name).count()
    assert(!CorpusOps.maintainKnGramTable(spark, name,
      Seq(("z z", 9L)).toDF("g", "n"), epoch = 1L))
    assert(spark.table(name).count() === before)
    // frontier replay likewise
    assert(!CorpusOps.maintainKnGramTable(spark, name,
      Seq(("z z", 9L)).toDF("g", "n"), epoch = 2L))
    assert(spark.table(name).count() === before)
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("gram table: delayed pre-frontier retry after compaction cannot double-count") {
    val name = "t_frontier_gc_compact"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    CorpusOps.writeKnGramTable(spark, name, Seq(("a b", 1L)).toDF("g", "n"))
    assert(CorpusOps.maintainKnGramTable(spark, name,
      Seq(("a b", 2L)).toDF("g", "n"), epoch = 1L))
    assert(CorpusOps.maintainKnGramTable(spark, name,
      Seq(("a b", 4L)).toDF("g", "n"), epoch = 2L))
    CorpusOps.compactKnGramTable(spark, name)
    // rows collapsed to the frontier epoch; property preserved through the
    // Overwrite (ADVICE r17: without the catalog ledger, epoch 1's rows are
    // gone and a retry of epoch 1 passed the old isEmpty check)
    assert(prop(name) === Some(2L))
    assert(maxEpoch(name) === 2L)
    val read = CorpusOps.readKnGramCounts(spark, name).head().getLong(1)
    assert(read === 7L)
    assert(!CorpusOps.maintainKnGramTable(spark, name,
      Seq(("a b", 2L)).toDF("g", "n"), epoch = 1L),
      "pre-frontier retry after compaction must be a no-op")
    assert(CorpusOps.readKnGramCounts(spark, name).head().getLong(1) === 7L,
      "the retry must not have double-counted")
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("gram table: an empty batch records its epoch in the catalog") {
    val name = "t_frontier_gc_empty"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    CorpusOps.writeKnGramTable(spark, name, Seq(("a b", 1L)).toDF("g", "n"))
    val empty = Seq.empty[(String, Long)].toDF("g", "n")
    assert(CorpusOps.maintainKnGramTable(spark, name, empty, epoch = 1L),
      "an empty batch is still an applied epoch")
    assert(prop(name) === Some(1L), "the epoch lives in the catalog even " +
      "though zero rows appended")
    assert(maxEpoch(name) === 0L)
    // the ADVICE r17 hole: a replay of epoch 1 WITH content must not apply
    assert(!CorpusOps.maintainKnGramTable(spark, name,
      Seq(("a b", 9L)).toDF("g", "n"), epoch = 1L))
    assert(CorpusOps.readKnGramCounts(spark, name).head().getLong(1) === 1L)
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("label table: fold epochs come from the property; compaction resets to 0") {
    val name = "t_frontier_labels"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val clusters = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("id", "cluster")
    Dedup.writeClusterLabels(spark, name, clusters)
    assert(prop(name) === Some(0L))
    Dedup.maintainClusterLabels(spark, name,
      Seq((5L, 9L)).toDF("id_a", "id_b"))
    assert(prop(name) === Some(1L))
    assert(maxEpoch(name) === 1L, "property must mirror max(epoch)")
    Dedup.maintainClusterLabels(spark, name,
      Seq((2L, 9L)).toDF("id_a", "id_b"))
    assert(prop(name) === Some(2L))
    assert(maxEpoch(name) === 2L)
    val labels = Dedup.readClusterLabels(spark, name)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Dedup.compactClusterLabels(spark, name)
    assert(prop(name) === Some(0L))
    assert(maxEpoch(name) === 0L)
    assert(Dedup.readClusterLabels(spark, name)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === labels,
      "compaction must not change reads")
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("gram table: crash-retry (append landed, frontier write lost) repairs, never double-counts") {
    val name = "t_frontier_gc_crash"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    CorpusOps.writeKnGramTable(spark, name, Seq(("a b", 1L)).toDF("g", "n"))
    // simulate the crash window (ADVICE r18): epoch 1's delta rows land via
    // the same append path maintainKnGramTable uses, but the process "dies"
    // before setFrontier — the catalog still says 0
    BucketedLake.appendBucketedTable(spark, name,
      Seq(("a b", 2L)).toDF("g", "n").withColumn("epoch", lit(1L)), "g", 8)
    assert(prop(name) === Some(0L))
    assert(maxEpoch(name) === 1L)
    // the retry of epoch 1 passes the frontier gate (1 > 0) but must detect
    // the landed rows and repair the property instead of re-appending
    assert(CorpusOps.maintainKnGramTable(spark, name,
      Seq(("a b", 2L)).toDF("g", "n"), epoch = 1L),
      "the repaired retry still reports the fold as applied")
    assert(prop(name) === Some(1L), "property repaired to the landed epoch")
    assert(maxEpoch(name) === 1L)
    assert(CorpusOps.readKnGramCounts(spark, name).head().getLong(1) === 3L,
      "the crash-retry must not have double-counted the delta")
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("label table: fold entry reconciles a crash-orphaned epoch before assigning its own") {
    val name = "t_frontier_labels_crash"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    Dedup.writeClusterLabels(spark, name,
      Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster"))
    assert(prop(name) === Some(0L))
    // simulate the crash window: an epoch-1 fold's rows landed but the
    // frontier write was lost — property says 0, data says 1
    BucketedLake.appendBucketedTable(spark, name,
      Seq((3L, 1L)).toDF("id", "cluster").withColumn("epoch", lit(1L)),
      "id", 16)
    assert(prop(name) === Some(0L))
    assert(maxEpoch(name) === 1L)
    // the next fold must NOT reuse epoch 1 (two distinct folds sharing a
    // ledger label): it repairs the property and lands at epoch 2
    Dedup.maintainClusterLabels(spark, name,
      Seq((4L, 1L)).toDF("id_a", "id_b"))
    assert(prop(name) === Some(2L), "repair + fold advance the property past the orphan")
    assert(maxEpoch(name) === 2L, "property == max(epoch) restored")
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("localSolveEdgeCap: malformed conf fails naming the key; negative = 0") {
    GraftSession.withConf(spark, "spark.graft.dedup.localSolveEdgeCap" -> "not-a-number") {
      val e = intercept[IllegalArgumentException](Dedup.localSolveEdgeCap(spark))
      assert(e.getMessage.contains("spark.graft.dedup.localSolveEdgeCap"))
      assert(e.getMessage.contains("not-a-number"))
    }
    GraftSession.withConf(spark, "spark.graft.dedup.localSolveEdgeCap" -> "-5") {
      assert(Dedup.localSolveEdgeCap(spark) === 0L)
    }
  }
}
