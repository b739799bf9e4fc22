package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity}
import graft.streaming.{EventsStream, ScreenStream, TableStream}

/** The standing-index ingest lifecycle (the shape of query e45): standing
  * shingle, MIH and gear indexes over a seeded corpus are built at setup.
  * Each job takes the seeded fresh batch, writes its own index tables beside
  * the standing ones (`BucketedLake` writes), then screens the batch as
  * three `EventsStream.runAvailableNow` streams — gear chunks, text
  * shingles, MIH codes — against the standing indexes and composes the
  * first-rejecting-stage verdict per document. The batch tables are dropped
  * at the end, so every job starts from the same index size.
  */
final class IngestScreen extends Workload {
  val CorpusDocs = 2000
  val FreshDocs = 200
  val FreshIdBase = 1000000L
  private var freshDir: String = _
  private var warehouse: File = _
  private var shIdx: Dedup.ShingleIndex = _
  private var mihIdx: Similarity.MihIndex = _
  private var gearIdx: Multimodal.ChunkIndex = _
  private var signs: Array[Array[Double]] = _
  private var expected: Expected = _
  private val m = scala.collection.mutable.HashMap.empty[String, Double]

  override def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    warehouse = new File(ctx.dir, "warehouse")
    val corpusDir = new File(ctx.dir, "corpus").getAbsolutePath
    freshDir = new File(ctx.dir, "fresh").getAbsolutePath
    // the seed draws the corpus; the fresh batch mixes new documents with
    // near-copies of corpus documents, in a seed-drawn ingest order
    val all = Gen.documents(spark, ctx.seed, CorpusDocs + FreshDocs).persist()
    val vecs = Gen.embeddings(spark, ctx.seed, CorpusDocs + FreshDocs).persist()
    def isFresh(id: org.apache.spark.sql.Column) =
      pmod(xxhash64(id, lit(ctx.seed)), lit((CorpusDocs + FreshDocs).toLong)) < FreshDocs
    val corpus = all.filter(!isFresh(col("doc_id")))
    val corpusVecs = vecs.filter(!isFresh(col("vec_id")))
    corpus.write.mode(SaveMode.Overwrite).parquet(s"$corpusDir/documents.parquet")
    corpusVecs.write.mode(SaveMode.Overwrite).parquet(s"$corpusDir/embeddings.parquet")
    all.filter(isFresh(col("doc_id")))
      .select((col("doc_id") + FreshIdBase).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      .orderBy(xxhash64(col("doc_id"), lit(ctx.seed + 1)))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$freshDir/documents.parquet")
    vecs.filter(isFresh(col("vec_id")))
      .select((col("vec_id") + FreshIdBase).as("vec_id"), col("embedding"), col("label"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$freshDir/embeddings.parquet")
    all.unpersist(); vecs.unpersist()

    // initial standing-index build
    val cDocs = spark.read.parquet(s"$corpusDir/documents.parquet")
    shIdx = Dedup.writeShingleIndex(cDocs, "doc_id", "text", Dedup.ShingleIndex("std_sh", "std_shsz"))
    mihIdx = Similarity.writeMihIndex(spark.read.parquet(s"$corpusDir/embeddings.parquet"),
      "vec_id", "embedding", "std")
    gearIdx = Multimodal.writeGearChunkIndex(Multimodal.asMediaTable(cDocs, "doc_id", "text"),
      Multimodal.ChunkIndex("std_gear", "std_gearsz"))
    signs = Similarity.hyperplaneSigns(spark, mihIdx.bands * mihIdx.bandBits,
      mihIdx.planeOffset, mihIdx.dim)
    expected = new Expected(ctx, "ingest_screen")
    expected.record("verdicts", run(ctx, -1))
  }

  private def dirBytes(f: File): (Long, Long) =
    if (f.isFile) (f.length, if (f.getName.startsWith("part-")) 1L else 0L)
    else Option(f.listFiles).toSeq.flatten.map(dirBytes)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** One ingest job; returns the digest of the verdicts. */
  private def run(ctx: Ctx, i: Int): String = {
    val spark = ctx.spark
    val tag = if (i < 0) "warm" else s"j$i"
    val traced = ctx.tracer.active
    val freshDocs = spark.read.parquet(s"$freshDir/documents.parquet")
    val freshVecs = spark.read.parquet(s"$freshDir/embeddings.parquet")

    // lake writes: the batch's own index tables
    val batchTables = ctx.span("lake.write") {
      val sh = ctx.span("dedup.index_write")(Dedup.writeShingleIndex(freshDocs, "doc_id", "text",
        Dedup.ShingleIndex(s"${tag}_sh", s"${tag}_shsz")))
      val mih = ctx.span("similarity.mih_build")(
        Similarity.writeMihIndex(freshVecs, "vec_id", "embedding", tag))
      val gear = ctx.span("multimodal.gear_build")(Multimodal.writeGearChunkIndex(
        Multimodal.asMediaTable(freshDocs, "doc_id", "text"),
        Multimodal.ChunkIndex(s"${tag}_gear", s"${tag}_gearsz")))
      Seq(sh.shingles, sh.sizes, mih.codes, gear.digests, gear.sizes)
    }
    if (traced) ctx.span("lake.probe") {
      val (bytes, files) = batchTables.map(t => dirBytes(new File(warehouse, t)))
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      m("lake.bytes_written") = bytes.toDouble
      m("lake.files_written") = files.toDouble
      // index serving: the batch's codes against the standing codes, both
      // bucketed on the band
      val serve = spark.table(batchTables(2)).select(col("band"), col("band_val"),
          col("corpus_id").as("fresh_id"))
        .join(spark.table(mihIdx.codes), Seq("band", "band_val"))
      m("lake.serve_exchanges") = Plans.exchanges(serve).toDouble
      m("similarity.mih_candidates") =
        serve.select("fresh_id", "corpus_id").distinct().count().toDouble
      m("multimodal.gear_chunks") = spark.table(batchTables(3)).count().toDouble
    }

    // the three streaming screens against the standing indexes
    def docStream() = TableStream.readProbed(spark, freshDir, "documents")
    val gearSink = s"${tag}_gear_hits"
    ctx.span("streaming.gear_screen")(EventsStream.runAvailableNow(
      ScreenStream.screenGearChunks(
        docStream().select(col("doc_id").cast("long").as("doc_id"),
          col("text").cast("binary").as("payload")),
        spark.table(gearIdx.digests).select(col("doc_id").as("corpus_id"), col("digest")),
        spark.table(gearIdx.sizes).select(col("doc_id").as("corpus_id"), col("sz_c")),
        threshold = 0.4),
      gearSink))
    val textSink = s"${tag}_text_hits"
    ctx.span("streaming.text_screen")(EventsStream.runAvailableNow(
      ScreenStream.screen(docStream().select(col("doc_id").cast("long").as("doc_id"), col("text")),
        spark.table(shIdx.shingles), spark.table(shIdx.sizes), "doc_id", "text"),
      textSink))
    val mihSink = s"${tag}_mih_hits"
    ctx.span("streaming.mih_screen")(EventsStream.runAvailableNow(
      ScreenStream.screenMih(ScreenStream.readEmbeddings(spark, freshDir), spark.table(mihIdx.codes),
        "vec_id", "embedding", signs, mihIdx.bands, mihIdx.bandBits, 3),
      mihSink))

    val digest = ctx.span("verdicts") {
      val media = spark.table(gearSink)
        .filter(col("inter").cast("double") /
          (col("sz_f") + col("sz_c") - col("inter")).cast("double") >= 0.4)
        .select(col("fresh_id").as("doc_id")).distinct()
      val text = spark.table(textSink).select(col("fresh_id").as("doc_id")).distinct()
      val emb = spark.table(mihSink).select(col("fresh_id").as("doc_id")).distinct()
      if (traced) m("similarity.mih_pairs") = spark.table(mihSink).count().toDouble
      Digest.of(freshDocs.select("doc_id")
        .join(media.withColumn("m", lit(1)), Seq("doc_id"), "left")
        .join(text.withColumn("t", lit(1)), Seq("doc_id"), "left")
        .join(emb.withColumn("e", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("m") === 1, "media_dup").when(col("t") === 1, "text_dup")
            .when(col("e") === 1, "embedding_dup").otherwise("accepted").as("verdict")))
    }
    ctx.span("cleanup") {
      Seq(gearSink, textSink, mihSink).foreach(spark.catalog.dropTempView)
      batchTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    digest
  }

  override def job(ctx: Ctx, i: Int): JobResult = {
    val d = run(ctx, i)
    JobResult(2L * FreshDocs, expected.check("verdicts", d), s"digest $d")
  }

  override def layerMetrics(ctx: Ctx, root: Span): Map[String, Double] = {
    val t = ctx.tracer
    val kids = t.children(root.id)
    def secs(n: String): Double = t.spans.filter(s => s.name == n && s.job == root.job).map(_.seconds).sum
    val screens = kids.filter(_.name.startsWith("streaming."))
    val sc = screens.map(s => t.inclusive(s.id))
    val runS = screens.map(_.seconds).sum
    Map(
      "lake.write_s" -> secs("lake.write"),
      "dedup.index_write_s" -> secs("dedup.index_write"),
      "similarity.mih_build_s" -> secs("similarity.mih_build"),
      "multimodal.gear_build_s" -> secs("multimodal.gear_build"),
      "similarity.mih_precision" -> m.getOrElse("similarity.mih_pairs", 0.0) /
        math.max(1.0, m.getOrElse("similarity.mih_candidates", 0.0)),
      "streaming.run_s" -> runS,
      "streaming.micro_batches" -> sc.map(_.microBatches).sum.toDouble,
      "streaming.add_batch_s" -> sc.map(_.addBatchMs).sum / 1e3,
      "streaming.planning_s" -> sc.map(_.planningMs).sum / 1e3,
      "streaming.wal_commit_s" -> sc.map(_.walCommitMs).sum / 1e3,
      "streaming.lifecycle_s" -> (runS - sc.map(_.triggerMs).sum / 1e3),
      "ingest.verdicts_s" -> secs("verdicts")) ++ m
  }
}
