package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a graft layer. Times are epoch milliseconds (with
  * a nanosecond-derived fraction) so they line up with listener events. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                      parent: Int, op: Int) {
  def ms: Double = endMs - startMs
}

object Tracer {
  /** Op id of spans inside untimed warm-up ops; the per-layer figures
    * leave them out. Set-up and traced-pass spans carry -1. */
  val WarmupOp: Int = -2
}

/** In-memory span recorder. With tracing off `span` only runs its body. */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1 // the op id every new span is stamped with
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowMs: Double = (System.nanoTime() + epochNs) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowMs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, nowMs, parent, op)
      }
    }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},"parent":${s.parent},"op":${s.op}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Engine counts from a SparkListener, a StreamingQueryListener and the
  * SQL write-statistics accumulators. Events arrive asynchronously, so
  * everything is kept with its time and attributed to op windows after
  * the run. */
final class EngineListener extends SparkListener {
  final case class Task(launch: Long, finish: Long, cpuNs: Long, shuffleWrite: Long)
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  /** execution id → (start time, ids of its "number of written files" metrics) */
  private val execStart = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Set[Long])]()
  val filesWritten = new ConcurrentLinkedQueue[(Long, Long)]() // (exec start ms, files)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (info != null)
      tasks.add(Task(info.launchTime, info.finishTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
  }

  private def fileMetricIds(p: SparkPlanInfo): Set[Long] =
    p.metrics.filter(_.name == "number of written files").map(_.accumulatorId).toSet ++
      p.children.flatMap(fileMetricIds)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execStart.put(s.executionId, (s.time, fileMetricIds(s.sparkPlanInfo)))
    case a: SparkListenerSQLAdaptiveExecutionUpdate =>
      Option(execStart.get(a.executionId)).foreach { case (t, ids) =>
        execStart.put(a.executionId, (t, ids ++ fileMetricIds(a.sparkPlanInfo))) }
    case u: SparkListenerDriverAccumUpdates =>
      Option(execStart.get(u.executionId)).foreach { case (t, ids) =>
        val n = u.accumUpdates.collect { case (id, v) if ids(id) => v }.sum
        if (n > 0) filesWritten.add((t, n))
      }
    case _ =>
  }
}

final class StreamListener extends StreamingQueryListener {
  val started = new ConcurrentLinkedQueue[java.lang.Long]()
  val addBatch = new ConcurrentLinkedQueue[(Long, Long)]() // (trigger start ms, addBatch ms)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    started.add(java.time.Instant.parse(e.timestamp).toEpochMilli)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ab = Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0 || ab > 0)
      addBatch.add((java.time.Instant.parse(p.timestamp).toEpochMilli, ab))
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Per-op engine figures, attributed by time window. */
object Attribution {
  final case class Window(start: Double, end: Double)

  private def in(w: Window, t: Double): Boolean = t >= w.start && t <= w.end

  /** Share of the window with no task running, in ms. */
  def idleMs(w: Window, tasks: Seq[(Long, Long)]): Double = {
    val iv = tasks.map { case (a, b) => (math.max(a.toDouble, w.start), math.min(b.toDouble, w.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    (w.end - w.start) - covered
  }

  def perOp(ws: Seq[Window], eng: EngineListener, str: StreamListener): Map[String, Double] = {
    if (ws.isEmpty) return Map.empty
    val jobs = eng.jobStarts.asScala.toSeq.map(_.longValue.toDouble)
    val tasks = eng.tasks.asScala.toSeq
    val files = eng.filesWritten.asScala.toSeq
    val started = str.started.asScala.toSeq.map(_.longValue.toDouble)
    def mean(f: Window => Double): Double = ws.map(f).sum / ws.size
    Map(
      "engine.jobs_per_op" -> mean(w => jobs.count(in(w, _)).toDouble),
      "engine.tasks_per_op" -> mean(w => tasks.count(t => in(w, t.launch.toDouble)).toDouble),
      "engine.idle_tasks_ms_per_op" -> mean(w => idleMs(w, tasks.map(t => (t.launch, t.finish)))),
      "engine.task_cpu_ms_per_op" -> mean(w => tasks.filter(t => in(w, t.launch.toDouble)).map(_.cpuNs).sum / 1e6),
      "engine.shuffle_write_bytes_per_op" -> mean(w => tasks.filter(t => in(w, t.launch.toDouble)).map(_.shuffleWrite).sum.toDouble),
      "engine.files_written_per_op" -> mean(w => files.filter(f => in(w, f._1.toDouble)).map(_._2).sum.toDouble),
      "streams.queries_started_per_batch" -> mean(w => started.count(in(w, _)).toDouble))
  }

  /** addBatch time of the progress events inside a drain span. */
  def addBatchMs(s: Span, str: StreamListener): Double =
    str.addBatch.asScala.toSeq.filter(p => p._1 >= s.startMs - 1 && p._1 <= s.endMs).map(_._2).sum.toDouble
}
