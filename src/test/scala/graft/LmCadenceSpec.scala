package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusOps
import graft.queries.StandingLm

/** The LM head refresh cadence (VERDICT r17 #3): folds append cheaply on
  * every ingest; the gram-table-sized head derivation runs only when the
  * staleness advisory fires, and serves in between read the newest
  * persisted head — bounded, labeled staleness via the `_e{epoch}` name.
  */
class LmCadenceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("headStale: boundary and never-persisted cases") {
    assert(StandingLm.headStale(5L, None, 3))
    assert(!StandingLm.headStale(5L, Some(3L), 3))  // lag 2 < 3
    assert(StandingLm.headStale(6L, Some(3L), 3))   // lag 3 ≥ 3
    assert(StandingLm.headStale(1L, Some(0L), 1))   // default: any advance
    assert(!StandingLm.headStale(1L, Some(1L), 1))  // frontier already served
  }

  test("headRefreshEpochs: default 1; malformed/non-positive rejected naming the key") {
    assert(StandingLm.headRefreshEpochs(spark) === 1)
    GraftSession.withConf(spark, "spark.graft.lm.headRefreshEpochs" -> "abc") {
      val e = intercept[IllegalArgumentException](
        StandingLm.headRefreshEpochs(spark))
      assert(e.getMessage.contains("spark.graft.lm.headRefreshEpochs"))
    }
    GraftSession.withConf(spark, "spark.graft.lm.headRefreshEpochs" -> "0") {
      intercept[IllegalArgumentException](StandingLm.headRefreshEpochs(spark))
    }
  }

  test("cadence 3: four folds → two head derivations, in-between serves read the persisted head") {
    val tag = "cadspec"
    val docs = graft.queries.Q.t(spark, dir, "documents")
    // clear any tables a previous run of this suite left behind
    val prefix = "kn_lmm" + tag
    spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith(prefix) || n.startsWith("kn_gc" + tag))
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    def fold(epoch: Long) = StandingLm.maintainedHeadImpl(
      spark, dir, order = 2, discount = 0.75, tag = tag,
      deltaFor = k => CorpusOps.knGramCounts(
        docs.filter(pmod(col("doc_id"), lit(100)) === lit(79 + epoch)),
        "text", k),
      epoch = epoch)
    def headEpochs: Seq[Long] = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith(prefix)).toSeq
      .flatMap(n => n.split("_e").last.toLongOption).sorted

    GraftSession.withConf(spark, "spark.graft.lm.headRefreshEpochs" -> "3") {
      fold(1L) // no head persisted yet → derives at frontier 1
      assert(headEpochs === Seq(1L))
      fold(2L) // lag 1 < 3 → serves the e1 head, derives nothing
      fold(3L) // lag 2 < 3 → same
      assert(headEpochs === Seq(1L),
        "in-between folds must not re-derive the head")
      val served = fold(3L) // replayed fold: frontier stays 3, serve e1
      assert(served.inputFiles.exists(_.contains(prefix)), "serves a persisted head")
      fold(4L) // lag 3 ≥ 3 → advisory fires, derives at frontier 4
      assert(headEpochs === Seq(1L, 4L),
        "the advisory must trigger exactly one new derivation")
      // the refreshed head is bit-identical to a from-scratch derivation
      // over the maintained counts at frontier 4 (the t49 oracle's
      // no-weakening argument)
      val fresh = CorpusOps.kneserNeyHeadFromCounts(
        k => CorpusOps.readKnGramCounts(spark,
          StandingLm.gramTableName(dir, k, tag)), 2)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.toSeq.mkString("|")).toMap
      val headAt4 = spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith(prefix)).find(_.endsWith("_e4")).get
      assert(rows(spark.table(headAt4)) === rows(fresh))
    }
  }
}
