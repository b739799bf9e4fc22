package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's full declared surface (one entry per implemented
  * operator from SURVEY.md §2 + the north-star extensions); `oracleSql` holds
  * the DuckDB-runnable equivalent for every SQL-expressible entry. Column
  * names and row order are aligned pairwise (see QueryDef).
  */
object SparkEntry {

  private val registry: Map[String, QueryDef] =
    RelationalQueries.defs ++ ExtensionQueries.defs ++ SketchQueries.defs ++
      CotripQueries.defs

  /** Parse a comma-list query filter; exit 2 naming every name that is not
    * a declared query, so a typo'd filter cannot yield a well-formed-looking
    * partial run. `source` prefixes the message.
    */
  def selectQueries(csv: String, source: String): Set[String] = {
    val only = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = only.diff(registry.keySet)
    if (unknown.nonEmpty) {
      System.err.println(s"$source names match no query: " +
        unknown.toSeq.sorted.mkString(", "))
      sys.exit(2)
    }
    only
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry("q03_join_agg_nation").fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.view.mapValues(_.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. Omitted for non-SQL-expressible ops → the driver
    * records a weaker rows-only check. SQL may reference `{{AUX}}`, which
    * Verify substitutes with the absolute path of the [[auxDumps]] directory.
    */
  def oracleSql: Map[String, String] =
    registry.collect { case (k, QueryDef(_, Some(sql))) => k -> sql }

  /** Materialized oracle inputs for hash-defined operators (see
    * [[graft.queries.AuxDumps]]); Verify writes each to
    * `<outDir>_aux/<name>` before dumping `oracle_sql.json`.
    */
  def auxDumps: Map[String, (SparkSession, String) => DataFrame] = AuxDumps.defs
}
