package perfbench

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded synthetic tables with the shapes of the program's test data
  * (`orders`, `events`, `documents`, `embeddings`). The same seed always
  * gives the same rows.
  */
object Gen {
  private val Vocab = ("a the data spark stream batch table row column query join agg group " +
    "sort hash merge key value filter window scan order line part customer vector fast slow " +
    "big small index shard merge token corpus page sign route").split(" ").distinct

  /** `n` documents: random sentences over a small vocabulary, a tenth of them
    * near-copies (one word changed) of an earlier document, so near-dup
    * detection has pairs to find.
    */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rng = new java.util.SplittableRandom(seed)
    val texts = new Array[String](n)
    val langs = Array("en", "fr", "de", "zh", "es")
    val rows = (0 until n).map { i =>
      val text =
        if (i > 10 && rng.nextInt(10) == 0) {
          val words = texts(rng.nextInt(i)).split(" ")
          words(rng.nextInt(words.length)) = Vocab(rng.nextInt(Vocab.length))
          words.mkString(" ")
        } else Array.fill(12 + rng.nextInt(60))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, langs(rng.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** `n` 64-dimensional unit vectors in 10 labelled clusters, a tenth of
    * them slightly perturbed copies of an earlier vector.
    */
  def embeddings(spark: SparkSession, seed: Long, n: Int, dim: Int = 64): DataFrame = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5eed)
    val centers = Array.fill(10, dim)(rng.nextDouble() * 2 - 1)
    val vecs = new Array[Array[Double]](n)
    val labels = new Array[Int](n)
    val rows = (0 until n).map { i =>
      if (i > 10 && rng.nextInt(10) == 0) {
        val j = rng.nextInt(i)
        labels(i) = labels(j)
        vecs(i) = vecs(j).map(x => x + (rng.nextDouble() * 2 - 1) * 0.01)
      } else {
        labels(i) = rng.nextInt(10)
        vecs(i) = Array.tabulate(dim)(d => centers(labels(i))(d) * 0.3 + (rng.nextDouble() * 2 - 1))
      }
      val norm = math.sqrt(vecs(i).map(x => x * x).sum)
      Row(i.toLong, vecs(i).map(x => (x / norm).toFloat).toSeq, labels(i))
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** A pseudo-random value in [0, m) for row `id`, stream `tag`. */
  private def rnd(seed: Long, tag: Int, m: Long): org.apache.spark.sql.Column =
    pmod(xxhash64(col("id"), lit(seed), lit(tag)), lit(m))

  private def pick(seed: Long, tag: Int, values: Seq[String]): org.apache.spark.sql.Column =
    element_at(array(values.map(lit): _*), (rnd(seed, tag, values.size.toLong) + 1).cast(IntegerType))

  private def day(base: String, seed: Long, tag: Int, span: Long): org.apache.spark.sql.Column =
    (to_timestamp(lit(base)) + make_dt_interval(rnd(seed, tag, span).cast(IntegerType)))

  /** Writes the named tables of a `scale`-sized data set as one parquet
    * file each under `dir`. Scale 1.0 is 1,500 orders, 1,000 events and 50
    * documents and embeddings.
    */
  def writeTables(spark: SparkSession, seed: Long, scale: Double, dir: String,
                  names: Set[String]): Unit = {
    def n(base: Double): Long = math.max(1L, (base * scale).toLong)
    val nCust = n(150); val nEvents = n(1000); val nUsers = math.max(10L, n(15))
    val tables: Seq[(String, () => DataFrame)] = Seq(
      "orders" -> (() => spark.range(n(1500)).select(col("id").as("o_orderkey"),
        rnd(seed, 11, nCust).as("o_custkey"),
        pick(seed, 12, Seq("F", "O", "P")).as("o_orderstatus"),
        (rnd(seed, 13, 50000000) / 100.0 + 1000).as("o_totalprice"),
        day("1995-01-01", seed, 14, 2400).as("o_orderdate"),
        pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))),
      "events" -> (() => spark.range(nEvents).select(col("id").as("event_id"),
        (to_timestamp(lit("2024-01-01")) + make_dt_interval(lit(0), lit(0), lit(0),
          (col("id") * (30L * 86400L) / nEvents + rnd(seed, 27, 100)).cast(DecimalType(18, 6)))).as("ts"),
        rnd(seed, 28, nUsers).as("user_id"),
        pick(seed, 29, Seq("click", "signup", "error", "view", "purchase")).as("event_type"),
        (rnd(seed, 30, 2000) / 100.0).as("value"),
        format_string("{\"k\": %d}", rnd(seed, 31, 100)).as("props"))),
      "documents" -> (() => documents(spark, seed, n(50).toInt)),
      "embeddings" -> (() => embeddings(spark, seed, n(50).toInt)))
    for ((name, df) <- tables if names(name))
      df().coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")
  }
}
