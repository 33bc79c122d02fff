package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, plus the Spark
  * engine's own counters read through listeners the benchmark registers.
  *
  * With tracing off every `span` is a plain call and no listener is
  * registered, so untraced runs pay nothing. With tracing on, spans and
  * listener events are kept in memory and written once at exit.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  /** Spans and counters are recorded only while active; a traced run
    * also times ops with tracing inactive to measure its overhead. */
  var active = false

  val spans = ArrayBuffer[Span]()
  val ops = ArrayBuffer[Op]()
  private var stack: List[Int] = Nil
  private var opId = -1

  def span[T](name: String)(f: => T): T =
    if (!active || opId < 0) f
    else {
      val id = spans.length
      val s = Span(id, stack.headOption.getOrElse(-1), opId, name,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = id :: stack
      try f
      finally {
        s.t1 = System.nanoTime(); s.ms1 = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  /** Run one op as the root span; returns its wall in seconds. Listener
    * events are drained at the op's end, so every engine event of the op
    * is counted before the next op starts. */
  def op[T](kind: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    if (!active) {
      val v = f
      (v, (System.nanoTime() - t0) / 1e9)
    } else {
      opId = ops.length
      val o = Op(opId, kind)
      ops += o
      o.before = listener.map(_.snapshot())
      try {
        val v = span(kind)(f)
        (v, (spans.filter(s => s.op == o.id && s.parent < 0).head.durNs) / 1e9)
      } finally {
        listener.foreach(_.drain())
        o.after = listener.map(_.snapshot())
        opId = -1
      }
    }
  }

  var listener: Option[EngineListener] = None

  def attach(spark: SparkSession): Unit = {
    val l = listener.getOrElse {
      val n = new EngineListener(spark.sparkContext)
      listener = Some(n)
      n
    }
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    active = true
  }

  def detach(spark: SparkSession): Unit = listener.foreach { l =>
    l.drain()
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
    active = false
  }

  /** Self time of each span: its duration minus the part its children
    * cover (children of one parent never overlap: one client thread). */
  def selfNs(s: Span): Long =
    s.durNs - spans.iterator.filter(_.parent == s.id).map(_.durNs).sum

  def spansOf(opId: Int): Seq[Span] = spans.filter(_.op == opId).toSeq
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        t0: Long, ms0: Long) {
    var t1: Long = t0
    var ms1: Long = ms0
    def durNs: Long = t1 - t0
  }
  final case class Op(id: Int, kind: String) {
    var before: Option[Counters] = None
    var after: Option[Counters] = None
    def delta: Counters = after.get - before.get
  }

  /** Cumulative engine counters. Times are in ns unless named otherwise. */
  final case class Counters(jobs: Long, stages: Long, tasks: Long,
      failedTasks: Long, taskRunMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long) {
    def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, failedTasks - o.failedTasks, taskRunMs - o.taskRunMs,
      cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
      shuffleRead - o.shuffleRead, spill - o.spill, input - o.input,
      analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
      planningMs - o.planningMs)
  }

  final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
                           runMs: Long)
}

/** Collects task, stage and job events and the planning phases of every
  * query execution. */
final class EngineListener(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {
  import Tracer._

  private var c = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val tasks = ArrayBuffer[TaskRec]()

  def snapshot(): Counters = synchronized(c)
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
  def taskRecs: Seq[TaskRec] = synchronized(tasks.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = e.reason != Success
    if (m != null) {
      c = c.copy(tasks = c.tasks + 1,
        failedTasks = c.failedTasks + (if (failed) 1 else 0),
        taskRunMs = c.taskRunMs + m.executorRunTime,
        cpuNs = c.cpuNs + m.executorCpuTime, gcMs = c.gcMs + m.jvmGCTime,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
        input = c.input + m.inputMetrics.bytesRead)
    } else c = c.copy(tasks = c.tasks + 1,
      failedTasks = c.failedTasks + (if (failed) 1 else 0))
    tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      if (m != null) m.executorRunTime else 0L)
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    c = c.copy(analysisMs = c.analysisMs + ms("analysis"),
      optimizationMs = c.optimizationMs + ms("optimization"),
      planningMs = c.planningMs + ms("planning"))
  }
  override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
    phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)
}
