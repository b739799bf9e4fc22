package perfbench

import java.io.File

import graft.SparkEntry

/** A fixed slice of the declared queries over a small generated data set,
  * each executed into an order-independent row digest (the digest
  * aggregate is the query's sink). Small inputs: fixed per-query costs —
  * planning, task launch, spreading to `defaultParallelism` — dominate.
  * One job is one query; the jobs walk the slice in passes, in an order
  * drawn from the seed, and a run ends only between passes, so every run
  * times each query equally often.
  */
final class QueryMix extends Workload {
  /** Data set size (see `Gen.writeTables`): 10.0 gives 500 documents, 500
    * embeddings, 15,000 orders and 10,000 events. The data seed is fixed,
    * so every query's digest is recorded once for all seeds.
    */
  val Scale = 10.0
  val DataSeed = 42L
  /** One cheap query per layer the workload covers, with the tables it
    * reads.
    */
  val Queries: Seq[(String, String)] = Seq(
    "q07_window_topn" -> "orders", // relational
    "q44_cms_heavy_hitters" -> "documents", // operators.Sketches
    "g08_assortativity" -> "documents", // operators.graph
    "d02_dedup_ngram_jaccard" -> "documents", // operators.dedup
    "t10_contamination" -> "documents", // functions (winnow), operators.corpus (hash split)
    "m15_gear_screen_indexed" -> "documents", // operators.multimodal over a BucketedLake index
    "s24_mih_screen_indexed" -> "embeddings", // operators.similarity over a BucketedLake index
    "e20_stream_ewma" -> "events") // streaming

  private var dataDir: String = _
  private var order: Seq[String] = Nil
  private var expected: Expected = _
  /** Input rows of each query: the rows of the table it reads. */
  private var rows: Map[String, Long] = Map.empty
  private val fns = SparkEntry.queries

  override def setup(ctx: Ctx): Unit = {
    dataDir = new File(ctx.dir, "data").getAbsolutePath
    val tables = Queries.map(_._2).toSet
    Gen.writeTables(ctx.spark, DataSeed, Scale, dataDir, tables)
    val tableRows = tables.map(t => t -> ctx.spark.read.parquet(s"$dataDir/$t.parquet").count()).toMap
    rows = Queries.map { case (q, t) => q -> tableRows(t) }.toMap
    order = new scala.util.Random(ctx.seed).shuffle(Queries.map(_._1))
    expected = new Expected(ctx, "query_mix")
    // warm-up pass: also builds the standing layouts some queries keep
    order.foreach(q => expected.record(q, Digest.of(fns(q)(ctx.spark, dataDir))))
  }

  override def jobsPerPass: Int = Queries.size

  override def job(ctx: Ctx, i: Int): JobResult = {
    val q = order(i % order.size)
    val ok = ctx.span(s"query.$q")(expected.check(q, Digest.of(fns(q)(ctx.spark, dataDir))))
    JobResult(rows(q), ok, s"digest mismatch: $q")
  }

  override def layerMetrics(ctx: Ctx, root: Span): Map[String, Double] =
    ctx.tracer.children(root.id).flatMap { s =>
      val q = s.name.stripPrefix("query.")
      Seq(s"query.${q}_s" -> s.seconds,
        s"query.${q}_tasks" -> ctx.tracer.inclusive(s.id).tasks.toDouble)
    }.toMap
}
