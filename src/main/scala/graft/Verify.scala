package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev iteration
    // only — the driver always passes two args, running everything)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.lift(2).map(SparkEntry.selectQueries(_, "[verify] filter"))
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.posture(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(e => selected(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operators persist internal intermediates (dedup shingles, LSH
      // projections, label-propagation rounds); drop them between queries —
      // at BOTH cache layers — so ~95 queries in one session stay
      // memory-bounded
      finally SessionSweep.sweep(spark)
    }
    // Hash-primitive oracle inputs go to a SIBLING of outDir (not inside it:
    // the driver enumerates outDir's subdirectories as query outputs). The
    // absolute path is baked into the oracle SQL below, so DuckDB reads the
    // exact files this run wrote.
    val auxDir = new java.io.File(outDir + "_aux").getAbsolutePath
    SparkEntry.auxDumps.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$auxDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] aux $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(e => selected(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{{AUX}}", auxDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
