package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SqlEvents

/** One call into a layer, recorded by [[Tracer.span]]. Counters are
  * filled by the listener on Spark's listener-bus thread; read them only
  * after [[Tracer.finish]] has drained the bus. */
final class Span(val id: Long, val name: String, val parent: Long,
                 val startMs: Long, val startNs: Long) {
  var endMs = 0L
  var endNs = 0L
  var jobs = 0
  var tasks = 0
  var shuffleBytes = 0L
  var inputBytes = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var planMs = 0.0
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  /** Bytes the call added to its store, when the workload measures them. */
  var bytesWritten = 0L
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Span tracing for the traced run.
  *
  * Before each call into a layer the client thread sets the SparkContext
  * local property `perfbench.span`; Spark copies local properties onto the
  * jobs the call submits, including those launched from its broadcast and
  * subquery threads, so the listener can file every job, stage and task
  * under the span that caused it. Stage call sites are not used: they are
  * lost on those helper threads. Spans stay in memory until the run ends.
  *
  * A disabled tracer records nothing and registers no listener, which is
  * how the timed (untraced) runs use it. */
final class Tracer(spark: SparkSession, val enabled: Boolean) extends SparkListener {
  import Tracer.Prop

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, (Span, Long)]()
  private val execSpan = new ConcurrentHashMap[Long, Span]()
  private var current: Span = null
  private var nextId = 0L
  private var attached = false

  // Whole-run totals over every task, attributed or not.
  @volatile var totalGcMs = 0L
  @volatile var totalSpillBytes = 0L
  @volatile var totalTasks = 0L

  if (enabled) attach()

  def attach(): Unit = if (!attached) { sc.addSparkListener(this); attached = true }
  def detach(): Unit = if (attached) {
    SqlEvents.drain(sc); sc.removeSparkListener(this); attached = false
  }

  /** Run `body` as a span named `name`. Nested spans are children of the
    * enclosing one; a job is filed under the innermost span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || !attached) body
    else {
      nextId += 1
      val s = new Span(nextId, name, if (current == null) 0L else current.id,
        System.currentTimeMillis(), System.nanoTime())
      byId.put(s.id, s)
      spans += s
      val prev = current
      current = s
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        current = prev
        sc.setLocalProperty(Prop, if (prev == null) null else prev.id.toString)
      }
    }

  /** The last span recorded under `name` (for workload-side counters). */
  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  /** Drain the listener bus; after this every counter is final. */
  def finish(): Seq[Span] = {
    if (attached) SqlEvents.drain(sc)
    spans.toSeq
  }

  private def spanOf(p: Properties): Span =
    if (p == null) null
    else Option(p.getProperty(Prop)).map(id => byId.get(id.toLong)).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    if (s != null) {
      jobStart.put(e.jobId, (s, e.time))
      s.synchronized(s.jobs += 1)
      e.stageIds.foreach(stageSpan.put(_, s))
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => execSpan.put(x.toLong, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (s, t0) =>
      s.synchronized(s.jobIntervals += ((t0, e.time)))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    if (s != null) stageSpan.put(e.stageInfo.stageId, s)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val spill = m.memoryBytesSpilled + m.diskBytesSpilled
      totalTasks += 1
      totalGcMs += m.jvmGCTime
      totalSpillBytes += spill
      val s = stageSpan.get(e.stageId)
      if (s != null) s.synchronized {
        s.tasks += 1
        s.taskCpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.spillBytes += spill
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Option(execSpan.remove(end.executionId)).foreach { s =>
        val ms = SqlEvents.planMs(end)
        s.synchronized(s.planMs += ms)
      }
    case _ =>
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Wall time of `s` not covered by any of its jobs: driver self time
    * (planning, commits, metadata and file-system work). */
  def gapMs(s: Span): Double = {
    val iv = s.jobIntervals.map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) }.filter(x => x._2 > x._1)
      .sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, s.wallMs - covered)
  }

  /** Wall time minus the part covered by direct child spans. */
  def selfMs(s: Span, all: Seq[Span]): Double =
    s.wallMs - all.filter(_.parent == s.id).map(_.wallMs).sum
}
