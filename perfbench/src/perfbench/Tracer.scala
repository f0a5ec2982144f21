package perfbench

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlEvents

import scala.collection.mutable

/** One timed interval. An op span has `parent == -1`; a call span's parent
  * is its op, and every span of one op carries that op's id as `opId`. */
final case class Span(id: Long, opId: Long, parent: Long, name: String,
                      startMs: Long, endMs: Long, wallNs: Long)

/**
 * Spans around each op and each call into a library layer.
 *
 * Untraced (`enabled = false`) it only times ops. Traced, every call runs
 * under its own job group (a thread-local property that threads started
 * inside the call inherit), and a SparkListener records jobs, stages, tasks
 * and SQL executions, so that each is charged to exactly one call by its
 * group: a job by the group it started under, a task by the group its stage
 * attempt was submitted under.
 * Planning time is read from each executed query's QueryPlanningTracker,
 * off the execution-end event that also drives QueryExecutionListener
 * callbacks (which carry no execution id or group to charge them by).
 * Listeners are attached only
 * while a traced op runs, which lets one run interleave traced and
 * untraced ops and report the tracing overhead. Spans and records stay in
 * memory until [[report]] and [[writeJson]] at the end of the run.
 */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var currentOp = -1L

  private final case class Job(id: Int, group: String, timeMs: Long)
  private final case class Task(stage: (Int, Int), launchMs: Long, finishMs: Long,
                                cpuNs: Long, shuffleBytes: Long, writtenBytes: Long)
  private val jobs = mutable.ArrayBuffer.empty[Job]
  // (stage, attempt) -> the job group it was submitted under; a job that
  // reuses a finished shuffle lists its stage too, but never submits it
  private val stageGroup = mutable.Map.empty[(Int, Int), String]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val execGroup = mutable.Map.empty[Long, String]
  private val planNs = mutable.Map.empty[Long, Long]
  private val lock = new Object

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties).map(_.getProperty(GroupProperty)).orNull
      jobs += Job(e.jobId, group, e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val group = Option(e.properties).map(_.getProperty(GroupProperty)).orNull
      stageGroup((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = group
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      tasks += Task((e.stageId, e.stageAttemptId), e.taskInfo.launchTime, e.taskInfo.finishTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.outputMetrics.bytesWritten)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        lock.synchronized { execGroup(s.executionId) = s.jobGroupId.orNull }
      case s: SparkListenerSQLExecutionEnd =>
        val ms = SqlEvents.queryExecution(s).map { qe =>
          val phases = qe.tracker.phases
          PlanPhases.flatMap(phases.get).map(_.durationMs).sum
        }.getOrElse(0L)
        lock.synchronized { planNs(s.executionId) = ms * 1000000L }
      case _ =>
    }
  }

  /** Run one op and return its result with its wall seconds. Spans and
    * listener records are kept only when tracing is enabled and `traced`. */
  def op[T](name: String, traced: Boolean = true)(body: => T): (T, Double) = {
    val on = enabled && traced
    if (on) sc.addSparkListener(listener)
    val id = newId()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    if (on) {
      currentOp = id
      sc.setJobGroup(group(id), name, interruptOnCancel = false)
    }
    try {
      val result = body
      (result, (System.nanoTime() - t0) / 1e9)
    } finally if (on) {
      spans += Span(id, id, -1L, name, startMs, System.currentTimeMillis(), System.nanoTime() - t0)
      sc.clearJobGroup()
      currentOp = -1L
      ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
  }

  /** Run one call into a layer inside the current op, under its own job group. */
  def call[T](name: String)(body: => T): T =
    if (currentOp < 0) body
    else {
      val id = newId()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      sc.setJobGroup(group(id), name, interruptOnCancel = false)
      try body
      finally {
        spans += Span(id, currentOp, currentOp, name, startMs, System.currentTimeMillis(),
          System.nanoTime() - t0)
        sc.setJobGroup(group(currentOp), "op", interruptOnCancel = false)
      }
    }

  private def newId(): Long = { nextId += 1; nextId }

  private def callSpans: Seq[Span] = spans.toSeq.filter(_.parent >= 0)

  /** Counters of one call span. */
  private def metrics(s: Span): Map[String, Double] = lock.synchronized {
    val mine = jobs.count(_.group == group(s.id))
    val ts = tasks.filter(t => stageGroup.get(t.stage).contains(group(s.id)))
    val busyMs = union(ts.map(t => (math.max(t.launchMs, s.startMs), math.min(t.finishMs, s.endMs))).toSeq)
    val wall = s.wallNs / 1e9
    val plan = execGroup.collect { case (exec, g) if g == group(s.id) => planNs.getOrElse(exec, 0L) }.sum
    Map(
      "wall_s" -> wall,
      "jobs" -> mine.toDouble,
      "tasks" -> ts.size.toDouble,
      "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "plan_s" -> plan / 1e9,
      "idle_s" -> math.max(0.0, wall - busyMs / 1e3),
      "shuffle_mb" -> ts.map(_.shuffleBytes).sum / Mb,
      "written_mb" -> ts.map(_.writtenBytes).sum / Mb)
  }

  /** Per call name, the counters of every traced call, in call order. */
  def report(): Map[String, Seq[Map[String, Double]]] =
    callSpans.groupBy(_.name).map { case (name, ss) => name -> ss.map(metrics) }

  /** For each op span named `name`, the jobs submitted and the tasks
    * launched during the op that no call span owns (0 and 0 when the
    * attribution is complete). */
  def unattributed(name: String): Seq[(Span, Int, Int)] = lock.synchronized {
    val ops = spans.toSeq.filter(s => s.parent < 0 && s.name == name)
    val owned = callSpans.map(s => group(s.id)).toSet
    ops.map { o =>
      def during(ms: Long) = ms >= o.startMs && ms <= o.endMs
      (o, jobs.count(j => during(j.timeMs) && !owned(j.group)),
        tasks.count(t => during(t.launchMs) && !stageGroup.get(t.stage).exists(owned)))
    }
  }

  /** Write every span with its counters as one JSON document. */
  def writeJson(path: java.nio.file.Path): Unit = {
    val lines = spans.toSeq.map { s =>
      val m = if (s.parent >= 0) metrics(s) else Map.empty[String, Double]
      val fields = Seq(
        s""""id":${s.id}""", s""""op":${s.opId}""", s""""parent":${s.parent}""",
        s""""name":"${s.name}"""", s""""start_ms":${s.startMs}""", s""""end_ms":${s.endMs}""",
        s""""wall_ns":${s.wallNs}""") ++ m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
      fields.mkString("{", ",", "}")
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("{\"spans\":[\n", ",\n", "\n]}\n"))
  }
}

object Tracer {
  private val GroupProperty = "spark.jobGroup.id"
  private val Mb = 1024.0 * 1024.0
  private val PlanPhases = Seq(QueryPlanningTracker.ANALYSIS,
    QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)

  private def group(spanId: Long): String = s"perfbench-$spanId"

  /** Total length of the union of `[from, until)` intervals. */
  private def union(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    for ((from, until) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (from >= end) { covered += until - from; end = until }
      else if (until > end) { covered += until - end; end = until }
    }
    covered
  }
}
