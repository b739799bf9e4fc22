package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `job` is the timed job it belongs to (-1 outside a
  * job); `parent` is the enclosing span's id (-1 for a root).
  */
final case class Span(id: Int, name: String, parent: Int, job: Int,
                      startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark and streaming counters attributed to one span. */
final class Counters {
  var tasks = 0L
  var stages = 0L
  var width1Stages = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var taskFailures = 0L
  var microBatches = 0L
  var addBatchMs = 0L
  var planningMs = 0L
  var walCommitMs = 0L
  var triggerMs = 0L

  def +=(o: Counters): Unit = {
    tasks += o.tasks; stages += o.stages; width1Stages += o.width1Stages
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    taskFailures += o.taskFailures; microBatches += o.microBatches
    addBatchMs += o.addBatchMs; planningMs += o.planningMs
    walCommitMs += o.walCommitMs; triggerMs += o.triggerMs
  }
}

/** In-memory span recorder, owned by the benchmark. Spans are opened only
  * on the benchmark's own thread, around each call into a layer of the
  * program. Opening a span sets the Spark job group to the span's id, so the
  * listener below attributes every job the call submits to that span. With
  * tracing off, `span` runs its body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.HashMap.empty[Int, Counters]
  private val stack = mutable.Stack.empty[Span]
  @volatile var current: Int = -1
  private var sc: SparkContext = _
  var job: Int = -1

  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    val listener = new TraceListener(this)
    sc.addSparkListener(listener)
    spark.streams.addListener(listener.streaming)
  }

  /** True while a traced job runs: only then are spans recorded. */
  def active: Boolean = enabled && job >= 0

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), job,
        System.nanoTime())
      spans += s
      stack.push(s)
      current = s.id
      sc.setJobGroup(Tracer.groupOf(s.id), name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        current = stack.headOption.map(_.id).getOrElse(-1)
        if (current >= 0) sc.setJobGroup(Tracer.groupOf(current), spans(current).name,
          interruptOnCancel = false)
        else sc.clearJobGroup()
      }
    }

  /** Deliver every queued listener event, so counters are complete. */
  def flush(): Unit = if (enabled) org.apache.spark.graftbench.BusFlush.flush(sc)

  def countersOf(id: Int): Counters = synchronized(counters.getOrElseUpdate(id, new Counters))

  /** Counters of a span plus all its descendants. */
  def inclusive(id: Int): Counters = {
    val total = new Counters
    val kids = spans.groupBy(_.parent)
    def walk(i: Int): Unit = {
      synchronized(counters.get(i)).foreach(total += _)
      kids.getOrElse(i, Nil).foreach(k => walk(k.id))
    }
    walk(id)
    total
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** A span's duration minus the part its children cover (children run on
    * the same thread, one after another).
    */
  def selfSeconds(s: Span): Double = s.seconds - children(s.id).map(_.seconds).sum

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"job":${s.job},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val GroupPrefix = "perfbench-span-"
  def groupOf(id: Int): String = GroupPrefix + id
}

/** Attributes task and stage counters, and micro-batch durations, to the
  * span that submitted them. A batch job names its span through the job
  * group. A streaming query runs its jobs under its own job group (the run
  * id), so the query is mapped to the span that was open when it started.
  */
final class TraceListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val runSpan = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  /** Stages with one task over more input rows than this count as width-1. */
  val Width1Rows = 10000L

  private def spanOfGroup(group: String): Int =
    if (group == null) -1
    else if (group.startsWith(Tracer.GroupPrefix)) group.stripPrefix(Tracer.GroupPrefix).toInt
    else Option(runSpan.get(group)).map(_.intValue).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val id = spanOfGroup(group)
    if (id >= 0) synchronized(e.stageIds.foreach(stageSpan(_) = id))
  }

  private def spanOfStage(stage: Int): Int = synchronized(stageSpan.getOrElse(stage, -1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = spanOfStage(e.stageId)
    if (id < 0) return
    val c = tracer.countersOf(id)
    c.synchronized {
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = spanOfStage(e.stageInfo.stageId)
    if (id < 0) return
    val c = tracer.countersOf(id)
    val m = e.stageInfo.taskMetrics
    val rows =
      if (m == null) 0L
      else m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
    c.synchronized {
      c.stages += 1
      if (e.stageInfo.numTasks == 1 && rows > Width1Rows) c.width1Stages += 1
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    // posted synchronously when the query starts, while the benchmark
    // thread is inside the span that started it
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val id = tracer.current
      if (id >= 0) runSpan.put(e.runId.toString, id)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val id = Option(runSpan.get(e.progress.runId.toString)).map(_.intValue).getOrElse(-1)
      if (id < 0) return
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val c = tracer.countersOf(id)
      c.synchronized {
        c.microBatches += 1
        c.addBatchMs += ms("addBatch")
        c.planningMs += ms("queryPlanning")
        c.walCommitMs += ms("walCommit")
        c.triggerMs += ms("triggerExecution")
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }
}
