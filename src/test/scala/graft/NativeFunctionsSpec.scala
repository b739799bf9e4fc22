package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.{DotProduct, NativeFunctions, NearestCentroid}
import graft.operators.Similarity

/** The custom codegen DotProduct expression: bit-equality with the
  * higher-order-function fold (codegen'd path via the registered function,
  * interpreted path via nullSafeEval), null on mismatched dimensions, and
  * NaN-ordering parity between TopKAggregator and SQL ranking.
  */
class NativeFunctionsSpec extends SparkSpec {

  import spark.implicits._

  test("dot_product == HOF fold bit-for-bit on real embeddings (codegen path)") {
    NativeFunctions.register(spark)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val paired = e.as("a").crossJoin(e.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id")).limit(2000)
    val diff = paired.select(
      Similarity.dot(col("a.v"), col("b.v")).as("native"),
      Similarity.dotHof(col("a.v"), col("b.v")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() === 0)
  }

  test("interpreted path (nullSafeEval) matches and nulls mismatched dims") {
    def arr(xs: Double*) = Literal.create(ArrayData.toArrayData(xs.toArray),
      ArrayType(DoubleType))
    val e = DotProduct(arr(1.0, 2.0, 3.0), arr(4.0, 5.0, 6.0))
    assert(e.eval(null) === (4.0 + 10.0 + 18.0))
    val mismatched = DotProduct(arr(1.0, 2.0), arr(1.0, 2.0, 3.0))
    assert(mismatched.eval(null) === null)
  }

  test("mismatched dims are null through SQL too (= HOF zip_with semantics)") {
    NativeFunctions.register(spark)
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    val out = df.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotHof(col("a"), col("b")).as("hof")).collect().head
    assert(out.isNullAt(0) && out.isNullAt(1))
  }

  test("hyperplane_signatures: fused loop bit-matches the per-plane dot_product form") {
    // real vectors, several (b, L) shapes incl. the adaptive ladder points
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(200)
    for ((b, l) <- Seq((4, 8), (8, 16), (5, 3))) {
      val signs = Similarity.hyperplaneSigns(spark, b * l, 0, 64)
      val perPlane = (0 until l).map { t =>
        Similarity.hyperplaneSignatureFrom(col("v"),
          signs.slice(t * b, (t + 1) * b))
      }
      val diff = e.select(
        NativeFunctions.hyperplaneSignatures(spark, col("v"), signs.flatten, b, l).as("fused"),
        array(perPlane: _*).as("per_plane"))
        .filter(col("fused") =!= col("per_plane"))
      assert(diff.count() === 0, s"signature mismatch at (b=$b, L=$l)")
    }
  }

  test("hyperplane_signatures: interpreted eval matches codegen; nulls on mismatch") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v")).limit(50)
    val signs = Similarity.hyperplaneSigns(spark, 12, 0, 64).flatten
    val viaCodegen = e.select(
      NativeFunctions.hyperplaneSignatures(spark, col("v"), signs, 4, 3).as("s"))
      .collect().map(_.getSeq[Long](0))
    val expr = graft.functions.HyperplaneSignatures(
      org.apache.spark.sql.catalyst.expressions.Literal.create(null,
        ArrayType(DoubleType)), Literal.create(null, ArrayType(DoubleType)), 4, 3)
    assert(expr.eval(null) === null) // null inputs -> null
    // wrong matrix length -> null row, not a crash
    val bad = e.select(NativeFunctions.hyperplaneSignatures(
      spark, col("v"), signs.take(100), 4, 3).as("s")).collect()
    assert(bad.forall(_.isNullAt(0)))
    assert(viaCodegen.nonEmpty && viaCodegen.forall(_.length == 3))
  }

  test("nearest_centroid: fused argmax bit-matches the struct/array_max forest") {
    // the struct(sim, -ci)/array_max reference, in both divisor forms
    def reference(df: org.apache.spark.sql.DataFrame, cents: Array[Array[Double]],
                  useVnorm: Boolean): org.apache.spark.sql.Column = {
      val norms = cents.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
      val structs = cents.indices.map { ci =>
        val sim =
          if (!useVnorm && norms(ci) == 0.0) lit(Double.NegativeInfinity)
          else if (useVnorm)
            Similarity.dot(col("v"), lit(cents(ci))) / (col("v_norm") * lit(norms(ci)))
          else Similarity.dot(col("v"), lit(cents(ci))) / lit(norms(ci))
        struct(sim.as("sim"), lit(-ci).as("ncid"))
      }
      (-array_max(array(structs: _*)).getField("ncid")).cast("long")
    }
    val real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    // adversarial fixtures: a zero vector (cosine sims all NaN — NaN ranks
    // above all doubles in Spark's ordering), exact ties via duplicated
    // centroids (→ lowest ci), and a ragged-dim vector (null sims → ci 0)
    val weird = Seq(
      (9001L, Seq(0.0, 0.0, 0.0, 0.0)),
      (9002L, Seq(1.0, 2.0, 3.0, 4.0)),
      (9003L, Seq(-1.0, -2.0, 3.0, 4.0)),
      (9004L, Seq(1.0, 2.0)) // ragged
    ).toDF("id", "v").select(col("id"), col("v").cast("array<double>").as("v"))
    val centsReal = Similarity.kmeansCentroids(real, "id", "v", 7, 1)
    val centsWeird = Array(
      Array(1.0, 0.0, 0.0, 0.0),
      Array(0.0, 0.0, 0.0, 0.0), // zero-norm centroid (degenerate seed)
      Array(1.0, 0.0, 0.0, 0.0), // duplicate of ci 0 → tie
      Array(0.0, 1.0, 0.0, 0.0))
    // reference-comparable cases: the real corpus (both modes — no
    // degenerate norms) and the weird fixture in iteration mode (its
    // zero-norm guard predates the division). The weird fixture in cosine
    // mode is NOT reference-comparable: under Spark 4's default ANSI mode
    // the struct form THROWS DIVIDE_BY_ZERO on a zero norm, while the
    // fused loop keeps IEEE semantics (NaN/∞) — which is what the DuckDB
    // oracle computes too. Those cases are pinned explicitly below.
    for ((df, cents, useVnorm) <- Seq(
      (real, centsReal, true), (real, centsReal, false), (weird, centsWeird, false))) {
      val norms = cents.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
      val withNorm = df.withColumn("v_norm", Similarity.l2norm(col("v")))
      val diff = withNorm.select(
        NativeFunctions.nearestCentroid(spark, col("v"), cents.flatten, norms,
          useVnorm).as("fused"),
        reference(withNorm, cents, useVnorm).as("ref"))
        .filter(col("fused") =!= col("ref") ||
          col("fused").isNull =!= col("ref").isNull)
      assert(diff.count() === 0, s"argmax drift (useVnorm=$useVnorm)")
    }
    // degenerate cosine semantics, pinned: IEEE division like the oracle —
    // a zero vnorm makes every sim NaN (ties → ci 0); an un-guarded
    // zero-norm CENTROID yields 0/0 = NaN which ranks above every real sim
    // (the documented degenerate-seed hazard — training goes through the
    // guarded iteration form, so this arises only from a genuinely
    // zero-mean cluster); a ragged vector nulls every sim → ci 0.
    val normsW = centsWeird.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
    val got = weird.select(col("id"),
      NativeFunctions.nearestCentroid(spark, col("v"), centsWeird.flatten,
        normsW, useVnorm = true).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(9001L -> 0L, 9002L -> 1L, 9003L -> 1L, 9004L -> 0L))
  }

  test("nearest_centroid nulls a centroid's sim on null norm/component, never unboxes 0.0") {
    // null elements in the SQL-exposed centroid/norm arrays used to flow
    // through getDouble as a silent 0.0 (ADVICE r9); now they null that
    // centroid's sim — it ranks below every real sim, like a null dot
    NativeFunctions.nearestCentroid(spark, col("v"), Array(1.0), Array(1.0),
      useVnorm = true) // registers both SQL names
    // centroid 0 has a null component; centroid 1 matches the vector → 1
    // (under the old unboxing bug ci 0 would score dot = 0·1 + 2·2 = big)
    val nullCent = spark.sql(
      """SELECT nearest_centroid_cos(array(1.0d, 2.0d),
        |  array(CAST(NULL AS DOUBLE), 2.0d, 1.0d, 2.0d),
        |  array(2.23606797749979d, 2.23606797749979d)) AS cid""".stripMargin)
      .head().getLong(0)
    assert(nullCent === 1L)
    // centroid 0 has a null NORM; centroid 1 is real → 1
    val nullNorm = spark.sql(
      """SELECT nearest_centroid_cos(array(1.0d, 2.0d),
        |  array(1.0d, 2.0d, 1.0d, 2.0d),
        |  array(CAST(NULL AS DOUBLE), 2.23606797749979d)) AS cid""".stripMargin)
      .head().getLong(0)
    assert(nullNorm === 1L)
    // all sims null → ci 0 by the ties-to-lowest rule (same as ragged dims)
    val allNull = spark.sql(
      """SELECT nearest_centroid_cos(array(1.0d, 2.0d),
        |  array(CAST(NULL AS DOUBLE), 2.0d, CAST(NULL AS DOUBLE), 2.0d),
        |  array(1.0d, 1.0d)) AS cid""".stripMargin)
      .head().getLong(0)
    assert(allNull === 0L)
    // interpreted path agrees with codegen
    val expr = NearestCentroid(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array[java.lang.Double](1.0, 2.0),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array[java.lang.Double](null, 2.0, 1.0, 2.0),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array[java.lang.Double](2.23606797749979, 2.23606797749979),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true)),
      useVnorm = true)
    assert(expr.eval(null) === 1L)
  }

  test("TopKAggregator ranks NaN first, matching SQL NaN-is-largest ordering") {
    val data = Seq((1L, 10L, 0.5), (1L, 11L, Double.NaN), (1L, 12L, 0.9))
      .toDF("query_id", "neighbor_id", "cosine")
    val topk = udaf(new Similarity.TopKAggregator(2),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Similarity.Scored]())
    val got = data.groupBy("query_id")
      .agg(topk(col("neighbor_id"), col("cosine")).as("n"))
      .select(explode(col("n.id")).as("id")).as[Long].collect().toSeq
    assert(got === Seq(11L, 12L)) // NaN first, then 0.9
  }

  test("SQL builders reject wrong arities with WRONG_NUM_ARGS, never silently drop args") {
    // ADVICE r11: gear_chunk_ends(payload, maskBits, minSize) used to fall
    // into the 2-arg branch and IGNORE minSize; hilbert_key(x, y) threw a
    // bare IndexOutOfBoundsException. Both must name the function and the
    // accepted arities instead.
    // gearChunkEnds/hilbertKey register on first Column-API use
    graft.functions.NativeFunctions.gearChunkEnds(spark, lit(Array[Byte]()), 6)
    graft.functions.Hilbert.hilbertKey(spark, lit(1L), lit(2L))
    val threeArgGear = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT gear_chunk_ends(CAST('ab' AS BINARY), 6, 64)").collect()
    }
    assert(threeArgGear.getMessage.contains("gear_chunk_ends") &&
      threeArgGear.getMessage.contains("2 or 4"), threeArgGear.getMessage)
    val twoArgHilbert = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT hilbert_key(1L, 2L)").collect()
    }
    assert(twoArgHilbert.getMessage.contains("hilbert_key") &&
      twoArgHilbert.getMessage.contains("3"), twoArgHilbert.getMessage)
    // the accepted arities still build
    assert(spark.sql("SELECT size(gear_chunk_ends(CAST('ab' AS BINARY), 6))")
      .head().getInt(0) >= 0)
    assert(spark.sql(
      "SELECT size(gear_chunk_ends(CAST('ab' AS BINARY), 6, 1, 64))")
      .head().getInt(0) >= 0)
    assert(spark.sql("SELECT hilbert_key(1L, 2L, 4)").head().getLong(0) >= 0L)
    // every function in the table, on both routes: each arity from 0 to
    // three past the probe's is either accepted or WRONG_NUM_ARGS naming the
    // function (dot_product(array(1d)) used to be an index error on the
    // lazy route, and dot_product(a, b, c) silently ignored c)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val injected = org.apache.spark.sql.GraftExtensionsProbe.applyInjections(ext)
    NativeFunctions.table.foreach(NativeFunctions.ensure(spark, _))
    val routes = Seq("extension" -> injected, "lazy" -> spark.sessionState.functionRegistry)
    for ((route, registry) <- routes; f <- NativeFunctions.table) {
      val ident = org.apache.spark.sql.catalyst.FunctionIdentifier(f.name)
      assert(registry.lookupFunction(ident, f.probe) === f.builder(f.probe), s"$route ${f.name}")
      val accepted = (0 to f.probe.length + 3).filter { n =>
        val args = Seq.tabulate(n)(i => f.probe(math.min(i, f.probe.length - 1)))
        try { registry.lookupFunction(ident, args); true }
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION" =>
            assert(e.getMessage.contains(s"`${f.name}`"), s"$route: ${e.getMessage}")
            false
        }
      }
      val expected = if (f.name == "gear_chunk_ends") Seq(2, 4) else Seq(f.probe.length)
      assert(accepted === expected, s"$route ${f.name}")
    }
  }

  test("word_shingles: fused loop bit-matches the HOF form incl. edges") {
    // real corpus + the edge zoo: null text, empty text, exactly-k tokens,
    // fewer-than-k tokens, double spaces (empty tokens from split -1),
    // repeated shingles (distinct NOT folded in — the raw window list)
    val edges = Seq(
      (900001L, null.asInstanceOf[String]), (900002L, ""),
      (900003L, "one two three four"), (900004L, "one two three"),
      (900005L, "a  b c d e"), (900006L, "x x x x x x"),
      (900007L, " leading and trailing "))
      .toDF("doc_id", "text")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300)
      .unionByName(edges)
    for (k <- Seq(2, 4, 8)) {
      val diff = docs.select(
        NativeFunctions.wordShinglesFused(spark,
          graft.functions.TextFunctions.tokens(col("text")), k).as("fused"),
        graft.functions.TextFunctions.wordShingles(
          graft.functions.TextFunctions.tokens(col("text")), k).as("hof"))
        .filter(col("fused") =!= col("hof") ||
          col("fused").isNull =!= col("hof").isNull)
      assert(diff.count() === 0, s"word_shingles mismatch at k=$k")
    }
    // interpreted path agrees with codegen'd SQL and preserves window order
    NativeFunctions.register(spark)
    val viaSql = spark.sql(
      "SELECT word_shingles(split('a b c d', ' ', -1), 2)")
      .head().getSeq[String](0)
    assert(viaSql === Seq("a b", "b c", "c d"))
    val expr = graft.functions.WordShingles(
      Literal.create(Seq("a", "b", "c"),
        ArrayType(org.apache.spark.sql.types.StringType)), 2)
    assert(expr.eval(null).asInstanceOf[ArrayData].numElements() === 2)
  }

  test("winnowFingerprintFused bit-matches the HOF winnowFingerprint") {
    // the fused form only swaps the shingle construction (word_shingles,
    // already pinned above) — this pins the WHOLE fingerprint composition,
    // including the null/empty/short branches that route through
    // otherwise(xxhash64(normalized)) on both forms
    val edges = Seq(
      (910001L, null.asInstanceOf[String]), (910002L, ""),
      (910003L, "one two three four five"), (910004L, "one two"),
      (910005L, "A  Punct,uated!  text with   MANY tokens here okay"),
      (910006L, "x x x x x x x"))
      .toDF("doc_id", "text")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(300)
      .unionByName(edges)
    val diff = docs.select(
      graft.functions.TextFunctions.winnowFingerprintFused(
        spark, col("text")).as("fused"),
      graft.functions.TextFunctions.winnowFingerprint(col("text")).as("hof"))
      .filter(col("fused") =!= col("hof") ||
        col("fused").isNull =!= col("hof").isNull)
    assert(diff.count() === 0, "winnow fingerprint mismatch")
  }

  test("char_qgrams: fused loop bit-matches the HOF form incl. edges") {
    // real corpus titles + the edge zoo: null, empty, shorter-than-q,
    // exactly-q, multi-byte UTF-8 (char-based windows, not byte-based),
    // repeated grams (distinct NOT folded in — the raw window list)
    val edges = Seq(
      (900001L, null.asInstanceOf[String]), (900002L, ""),
      (900003L, "abc"), (900004L, "abcd"), (900005L, "aaaaaaaa"),
      (900006L, "caf\u00e9 na\u00efve \u4f60\u597d\u4e16\u754c"),
      (900007L, " x "))
      .toDF("doc_id", "s")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), substring(col("text"), 1, 64).as("s")).limit(300)
      .unionByName(edges)
    for (q <- Seq(1, 4, 8)) {
      val hof = expr(
        s"CASE WHEN length(s) >= $q THEN transform(sequence(1, length(s) - ${q - 1}), " +
          s"i -> substring(s, i, $q)) ELSE array(s) END")
      val diff = docs.select(
        NativeFunctions.charQgramsFused(spark, col("s"), q).as("fused"),
        hof.as("hof"))
        .filter(col("fused") =!= col("hof") ||
          col("fused").isNull =!= col("hof").isNull)
      assert(diff.count() === 0, s"char_qgrams mismatch at q=$q")
    }
    // interpreted path agrees with codegen'd SQL and preserves window order
    val viaSql = spark.sql("SELECT char_qgrams('abcde', 2)")
      .head().getSeq[String](0)
    assert(viaSql === Seq("ab", "bc", "cd", "de"))
    val ex = graft.functions.CharQgrams(Literal.create("abc",
      org.apache.spark.sql.types.StringType), 2)
    assert(ex.eval(null).asInstanceOf[ArrayData].numElements() === 2)
    // multi-byte windows slice on characters exactly like substring
    val cn = spark.sql("SELECT char_qgrams('\u4f60\u597d\u4e16\u754c', 2)")
      .head().getSeq[String](0)
    assert(cn === Seq("\u4f60\u597d", "\u597d\u4e16", "\u4e16\u754c"))
  }

  test("json_array_elements: exact top-level slices; strings unescaped, nulls null; non-arrays and malformed text null") {
    val arrays = Seq(
      "[[39.50,1e2],[-0.0,10000000.0]]" -> Seq("[39.50,1e2]", "[-0.0,10000000.0]"),
      "[[[1,2],[3,4]],[[5,6]]]" -> Seq("[[1,2],[3,4]]", "[[5,6]]"),
      " [ [1, 2] ,\n[3,4]\t] " -> Seq("[1, 2]", "[3,4]"),
      """["a\"b", "caf\u00e9\n", null, 1, {"k":[1]}, true]""" ->
        Seq("a\"b", "caf\u00e9\n", null, "1", """{"k":[1]}""", "true"),
      "[]" -> Seq(), " [ ] " -> Seq(),
      ("[" * 1000) + ("]" * 1000) -> Seq(("[" * 999) + ("]" * 999)))
    val notArrays = Seq(null, "", "  ", "null", "1", "\"[1]\"", """{"a":[1]}""",
      "[1,,2]", "[1,2", "]", "1e", "[1e]", "[01]", "[1,]", "[,1]", "[1 2]", "[1] x", "[1][2]",
      "[NaN]", "['a']", "[\"a\\x\"]", "[\"a\nb\"]", "[-]", "[1.]", "[tru]",
      "\uFEFF[1]", "[\u0000]\u0000", "[/*c*/1]",
      ("[" * 1001) + ("]" * 1001))
    val cases = arrays.map { case (t, parts) => t -> Some(parts) } ++ notArrays.map(_ -> None)
    // codegen'd: the projection sits above an exchange, not a foldable literal
    val viaCodegen = cases.map(_._1).toDF("t").repartition(1)
      .select(col("t"), NativeFunctions.jsonArrayElements(spark, col("t")).as("parts"))
      .collect().map(r => Option(r.getString(0)) -> Option(r.getSeq[String](1))).toMap
    cases.foreach { case (t, want) =>
      assert(viaCodegen(Option(t)) === want, s"codegen: $t")
      val interpreted = graft.functions.JsonArrayElements(
        Literal.create(t, org.apache.spark.sql.types.StringType)).eval(null)
      assert(Option(interpreted).map(_.asInstanceOf[ArrayData].toSeq[AnyRef](
        org.apache.spark.sql.types.StringType).map(s => Option(s).map(_.toString).orNull)) === want,
        s"interpreted: $t")
    }
  }

  test("geojson_feature: array coordinates verbatim minus outside whitespace, any other text a to_json-escaped string") {
    val odd = "q\"b\\s\b\f\n\r\t\u0001\u001f caf\u00e9 \u4f60 \u2028/"
    val compact = Map("[1.50, 2e1]" -> "[1.50,2e1]",
      "[\r\n [\"a b\\\" c\" , 1e2],\n\t[]\n]" -> "[[\"a b\\\" c\",1e2],[]]")
    val df = (compact.keys.toSeq.map(_ -> odd) ++
        Seq((odd, "Point"), ("[1,,2]", null), (null, "Point")))
      .toDF("c", "t").repartition(1)
    val got = df.select(col("c"), col("t"),
        NativeFunctions.geoJsonFeature(spark, lit("""{"id":"x"}"""),
          struct(col("t").as("type"), col("c").as("coordinates"))).as("j"),
        to_json(struct(col("t"), col("c")), java.util.Map.of("ignoreNullFields", "false")).as("quoted"))
      .collect()
    got.foreach { r =>
      val (c, quoted) = (r.getString(0), r.getString(3))
      // to_json's own escaping of both members, with the array spliced raw
      val viaToJson = quoted.replace("\"t\":", "\"type\":").replace(",\"c\":", ",\"coordinates\":")
      val expected = """{"id":"x","geometry":""" + compact.get(c).fold(viaToJson)(raw =>
        viaToJson.substring(0, viaToJson.indexOf(",\"coordinates\":")) +
          ",\"coordinates\":" + raw + "}") + "}"
      assert(r.getString(2) === expected, String.valueOf(c))
    }
    val nullGeometry = graft.functions.GeoJsonFeature(Literal("{}"),
      Literal.create(null, graft.model.GeoSchemas.geometry)).eval(null)
    assert(nullGeometry.toString === """{"geometry":null}""")
  }

  test("pq_codes: fused loop bit-matches the struct-argmax forest incl. edges") {
    // the forest form pqCodeCols replaced (optimization r21): per subspace
    // argmax of plain dot with ties to the lowest cid, null/short windows
    // ranking below every value, all-null -> code 0, null vector -> all
    // zero codes
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val edges = Seq(
      (900001L, null.asInstanceOf[Seq[Double]]),
      (900002L, Seq.empty[Double]),
      (900003L, Seq(1.0, 2.0, 3.0)),                    // ragged (not 32-dim)
      (900004L, Seq.fill(32)(0.0)),                     // all-tie dots
      (900005L, (1 to 32).map(_.toDouble).toSeq))
      .toDF("vec_id", "v")
    val docs = e.limit(400).unionByName(edges)
    val subspaces = 4
    val sub = 8
    // deterministic small codebooks
    val cbs: Seq[Array[Array[Double]]] = (0 until subspaces).map { s =>
      Array.tabulate(16, sub)((ci, i) => ((s + 1) * (ci + 1) * (i + 1) % 7 - 3).toDouble)
    }
    val forest = cbs.indices.map { s =>
      val sv = slice(col("v"), s * sub + 1, sub)
      val structs = cbs(s).indices.map { ci =>
        struct(Similarity.dot(sv, lit(cbs(s)(ci))).as("d"),
          lit(-ci).as("nc")) }
      (-array_max(array(structs: _*)).getField("nc")).cast("long").as(s"f_$s")
    }
    val fusedArr = NativeFunctions.pqCodes(spark, col("v"), cbs)
    val fused = cbs.indices.map(s => element_at(fusedArr, s + 1).as(s"n_$s"))
    val both = docs.select((forest ++ fused): _*)
    val mismatch = cbs.indices.map(s =>
      (col(s"f_$s") =!= col(s"n_$s")) ||
        (col(s"f_$s").isNull =!= col(s"n_$s").isNull))
      .reduce(_ || _)
    assert(both.filter(mismatch).count() === 0)
  }
}
