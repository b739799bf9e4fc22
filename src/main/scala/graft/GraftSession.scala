package graft

import org.apache.spark.sql.SparkSession

/** The one session posture every main and test runs under, and the
  * one scoped override of runtime SQL confs.
  */
object GraftSession {

  /** Local thread count for the mains: `SPARK_GRAFT_CPUS`,
    * default 32.
    */
  lazy val envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** `local[cpus]` with `cpus` shuffle partitions, UTC, no UI, and the AQE
    * posture the bench measures. AQE may re-plan INSIDE cached plans:
    * Spark's default (false) pins every `Dataset.persist` materialization
    * to the full static shuffle width, so stages over an operator-internal
    * persist (dedup edge sets, graph peels, trained centroid frames) pay
    * that many map tasks per pass. Coalescing is by size even when slots
    * sit idle (Spark's parallelismFirst=true keeps ~defaultParallelism
    * partitions however tiny the shuffle). Both are partitioning-only
    * knobs: results are partitioning-independent by library contract
    * (exact integer/decimal sums wherever a double would be
    * order-sensitive).
    */
  def posture(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .getOrCreate()

  /** Run `body` with each key set to its value, then restore every key to
    * its prior value, or unset it if it had none — also when `body` throws.
    * The confs are session-global: a query planned concurrently on the same
    * session sees the override.
    */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
