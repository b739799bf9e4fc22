package graft.operators

import org.apache.spark.sql.SparkSession

/** Application-scoped memo for DATA-DERIVED knob inputs (VERDICT r16 #3):
  * the adaptive policies ([[Dedup.adaptiveLshKnobs]],
  * [[Similarity.adaptiveMihBandBits]]) derive their knobs from a corpus
  * count and the adaptive-window edit index ([[Dedup.writeEditIndex]])
  * its window offset from the corpus LCP, and a serving path that
  * re-derives per run contradicts the standing-index economics — the knob
  * was FROZEN into the layout at build time, so probes should replay it,
  * not re-derive it. This memo makes the derivation
  * once-per-(application, key): the first caller (the build) pays the
  * scan, every later serve replays the frozen value. Within a JVM the key
  * names ONE corpus; a fresh JVM recomputes once and — because knobs are
  * baked into the standing tables' NAMES — derives the same layout or an
  * intentionally new family, never a silently stale one.
  */
object KnobMemo {

  private val memo = scala.collection.concurrent.TrieMap.empty[String, Long]

  /** The memoized derivation: `derive` runs at most once per
    * (application, key) — concurrent first calls may race it twice, both
    * computing the same value (the derivation must be deterministic for
    * the key, which is the same-key-same-corpus hard contract).
    */
  def corpusN(spark: SparkSession, key: String)(derive: => Long): Long =
    memo.getOrElseUpdate(
      spark.sparkContext.applicationId + "#" + key, derive)
}
