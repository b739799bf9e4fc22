package graft.streaming

import java.util.concurrent.ConcurrentLinkedDeque
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.streaming.StreamingQuery

/** Synchronous micro-batch accounting for bench telemetry.
  *
  * ADVICE r6: the previous count came from a `StreamingQueryListener`, whose
  * progress events are delivered asynchronously on the listener bus — a
  * rep's last events could land after the rep's delta was read and get
  * attributed to the next rep or next query. This counter is bumped by
  * [[EventsStream.runAvailableNow]] ITSELF, from the terminated query's own
  * `recentProgress` history, before the call returns — so a caller that
  * takes a delta around a synchronous query run sees exactly that run's
  * batches, with no async window. (`recentProgress` retains the last 100
  * progress updates by default; AvailableNow snapshot runs commit 2–5
  * micro-batches, far under the cap.)
  */
object StreamTelemetry {
  /** Total micro-batches committed by completed [[EventsStream.runAvailableNow]]
    * invocations in this JVM; read-delta around a query run for its count.
    */
  val microBatchesCompleted = new AtomicLong(0L)

  /** The most recent [[EventsStream.runAvailableNow]] runs' terminated
    * queries, oldest first, at most [[KeptRuns]]. A terminated query still
    * explains its last micro-batch's plan, so a plan dump prints what a
    * stream ran after the run returns and the run builds no plan string;
    * the cap bounds what a long-lived JVM holds on to.
    */
  private val runs = new ConcurrentLinkedDeque[StreamingQuery]()
  private val KeptRuns = 8

  private[graft] def recordRun(q: StreamingQuery): Unit = {
    runs.addLast(q)
    while (runs.size > KeptRuns) runs.pollFirst()
  }

  /** The kept runs, oldest first, and forget them. */
  def takeRuns(): Seq[StreamingQuery] =
    Iterator.continually(runs.pollFirst()).takeWhile(_ != null).toSeq
}
