package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** One timed region: a layer call, a whole `Ingest.run` or a suite query.
  * `parent` is the span the region belongs to (0 = none); `op` names the
  * operation it was recorded for. Counters are filled in by [[Probe]]. */
final case class Span(id: Long, name: String, parent: Long, op: String,
                      startMs: Long, startNs: Long) {
  var endMs = 0L
  var endNs = 0L
  var compiles = 0L
  var compileMsEst = 0.0
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Per-span counters derived from the listener events. */
final case class SpanStats(jobs: Int, stages: Int, tasks: Long,
                           sqlExecutions: Int, sqlS: Double,
                           jobUnionS: Double,
                           shuffleBytes: Long, spillBytes: Long)

/** SparkListener plus span recorder.
  *
  * Spans are opened and closed on the driver thread; the open span's id is
  * set as the SparkContext local property [[Probe.SpanKey]], so every job
  * submitted inside the span carries it in its start event, and its stages
  * and tasks are attributed through the job. SQL executions are attributed
  * by start time (spans never overlap in time). Codegen compiles are read
  * from `CodegenMetrics` at span open and close (the client is
  * single-threaded, so the delta belongs to the span). Everything stays in
  * memory until [[stats]] is asked for.
  */
class Probe(sc: SparkContext) extends SparkListener {
  import Probe._

  private final class JobRec(val span: Long, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stagesBySpan = new ConcurrentHashMap[Long, java.lang.Integer]()
  private val tasksBySpan = new ConcurrentHashMap[Long, java.lang.Long]()
  private val shuffleBySpan = new ConcurrentHashMap[Long, java.lang.Long]()
  private val spillBySpan = new ConcurrentHashMap[Long, java.lang.Long]()
  // SQL execution id -> (start, end) in ms; end is -1 until it ends
  private val sqlExecs = new ConcurrentHashMap[Long, (Long, Long)]()

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  private var stack: List[Span] = Nil

  private def add(m: ConcurrentHashMap[Long, java.lang.Long], k: Long,
                  v: Long): Unit =
    m.merge(k, v, (a: java.lang.Long, b: java.lang.Long) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, new JobRec(span, e.time))
    e.stageIds.foreach(s => stageSpan.put(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val span = stageSpan.getOrDefault(e.stageInfo.stageId, 0L)
    stagesBySpan.merge(span, 1, (a: java.lang.Integer, b: java.lang.Integer) => a + b)
    add(tasksBySpan, span, e.stageInfo.numTasks.toLong)
    Option(e.stageInfo.taskMetrics).foreach { m =>
      add(shuffleBySpan, span, m.shuffleWriteMetrics.bytesWritten)
      add(spillBySpan, span, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlExecs.put(s.executionId, (s.time, -1L))
    case s: SparkListenerSQLExecutionEnd =>
      Option(sqlExecs.get(s.executionId))
        .foreach(x => sqlExecs.put(s.executionId, (x._1, s.time)))
    case _ =>
  }

  private def compileCount: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body` inside a new span. */
  def span[T](name: String, op: String, parent: Long = -1L)(body: => T): T = {
    val s = open(name, op, parent)
    try body finally close(s)
  }

  /** Reserve a span id, so that spans recorded earlier can name it as their
    * parent. */
  def reserve(): Long = { nextId += 1; nextId }

  def open(name: String, op: String, parent: Long = -1L,
           id: Long = -1L): Span = {
    val sid = if (id > 0) id else reserve()
    val p = if (parent >= 0) parent else stack.headOption.map(_.id).getOrElse(0L)
    val s = Span(sid, name, p, op, System.currentTimeMillis(), System.nanoTime())
    s.compiles = compileCount
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, sid.toString)
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    val n = compileCount - s.compiles
    s.compiles = n
    s.compileMsEst = n * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    stack = stack.tail
    sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
  }

  /** Counters of every recorded span, after draining the listener bus. */
  def stats(): Map[Long, SpanStats] = {
    PerfbenchBus.drain(sc)
    val bySpan = jobs.asScala.values.groupBy(_.span)
    val sql = sqlExecs.asScala.values.toSeq
    spans.map { s =>
      val js = bySpan.getOrElse(s.id, Nil).toSeq
      val mine = sql.filter { case (a, _) => a >= s.startMs && a <= s.endMs }
        .map { case (a, b) => (a, if (b < 0) s.endMs else b) }
      val intervals = js.map(j => (math.max(j.startMs, s.startMs),
        math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var union = 0L
      var cur = (0L, 0L)
      intervals.foreach { case (a, b) =>
        if (a > cur._2) { union += cur._2 - cur._1; cur = (a, b) }
        else cur = (cur._1, math.max(cur._2, b))
      }
      union += cur._2 - cur._1
      s.id -> SpanStats(
        jobs = js.size,
        stages = Option(stagesBySpan.get(s.id)).map(_.intValue).getOrElse(0),
        tasks = Option(tasksBySpan.get(s.id)).map(_.longValue).getOrElse(0L),
        sqlExecutions = mine.size,
        sqlS = mine.map { case (a, b) => math.max(0L, b - a) }.sum / 1e3,
        jobUnionS = union / 1e3,
        shuffleBytes = Option(shuffleBySpan.get(s.id)).map(_.longValue).getOrElse(0L),
        spillBytes = Option(spillBySpan.get(s.id)).map(_.longValue).getOrElse(0L))
    }.toMap
  }
}

object Probe {
  val SpanKey = "perfbench.span"
}
