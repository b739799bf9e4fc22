package graft

import org.apache.spark.sql.functions._

/** Bucket-occupancy diagnostic for the d06 hyperplane-LSH family: prints,
  * per table, the top bucket sizes and the implied within-bucket pair work
  * (Σ size²/2), for a given corpus dir and (planesPerTable, tables). This is
  * the instrument behind the occupancy-cap policy: a single hot bucket of
  * size s contributes s²/2 candidate pairs — at s = 15k that is 112M pairs
  * from ONE (table, signature) cell, which is what a shuffle/spill blowup
  * at fixed knobs looks like.
  */
object LshDiag {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/scale10")
    val planesPerTable = args.lift(1).map(_.toInt).getOrElse(8)
    val tables = args.lift(2).map(_.toInt).getOrElse(16)
    val spark = GraftSession.posture(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.NativeFunctions.register(spark)

    if (args.lift(3).contains("explain")) {
      graft.operators.Dedup.embeddingCosinePairsLsh(
        spark.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", 0.4, planesPerTable, tables)
        .explain("formatted")
      spark.stop(); return
    }
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val v = vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dim = graft.operators.Similarity.vectorDim(vecs, "embedding")
    val allSigns = graft.operators.Similarity.hyperplaneSigns(
      spark, tables * planesPerTable, 0, dim)
    val sigCols = (0 until tables).map { l =>
      struct(lit(l.toLong).as("tbl"),
        graft.operators.Similarity.hyperplaneSignatureFrom(col("v"),
          allSigns.slice(l * planesPerTable, (l + 1) * planesPerTable)).as("sig"))
    }
    val occ = v.select(explode(array(sigCols: _*)).as("bk"))
      .groupBy(col("bk.tbl").as("tbl"), col("bk.sig").as("sig"))
      .agg(count(lit(1)).as("n"))
      .groupBy("tbl")
      .agg(max(col("n")).as("max_bucket"),
        sum((col("n") * (col("n") - 1)).cast("long") / 2).cast("long").as("pair_work"),
        count(lit(1)).as("nonempty_buckets"))
      .orderBy(desc("pair_work"))
    occ.collect().foreach { r =>
      println(s"""{"tbl":${r.getLong(0)},"max_bucket":${r.getLong(1)},"pair_work":${r.getLong(2)},"nonempty":${r.getLong(3)}}""")
    }
    spark.stop()
  }
}
