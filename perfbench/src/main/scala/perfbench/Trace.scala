package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.util.QueryExecutionListener

/** Largest per-stage sum of task peak execution memory since the last
  * reset: the one engine figure the untraced run needs, so it is the
  * only listener attached there. */
final class PeakMemMeter extends SparkListener {
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    peak.getAndAccumulate(s.stageInfo.taskMetrics.peakExecutionMemory, Math.max(_, _))
  def reset(): Unit = peak.set(0L)
  def peakBytes: Long = peak.get
}

/** One SQL execution (one action) as the trace saw it. `frame` is the
  * innermost `graft.*` frame of its call site, e.g.
  * `graft.pipeline.ImportPipeline.validate`, or the first benchmark
  * frame when the action was started from here. */
final class ExecRecord(val frame: String, val startMs: Long) {
  var endMs: Long = startMs
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Jobs that started, and tasks and stages that ended, within a span. */
case class Window(jobs: Int, tasks: Int, failedTasks: Int, busyMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

/** A span the benchmark opened around one call into a layer. */
case class Span(name: String, startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** The per-layer trace: a `SparkListener` for jobs, stages and tasks, a
  * `QueryExecutionListener` for planning time, and the spans the
  * benchmark records around its own calls. Actions are attributed to a
  * layer by the innermost `graft.*` frame of their SQL-execution call
  * site (stage call sites point at AQE's threads, so they cannot be
  * used). Everything stays in memory; read it after [[drain]]. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  // root executions by id, in start order
  private val execs = mutable.LinkedHashMap.empty[Long, ExecRecord]
  val spans = mutable.ArrayBuffer.empty[Span]
  // every job, task and stage with its time, whether or not SQL started it
  private val jobTimes = mutable.ArrayBuffer.empty[Long]
  private val taskEnds = mutable.ArrayBuffer.empty[(Long, Boolean)]
  private val stageEnds = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  private val planEvents = mutable.ArrayBuffer.empty[(Long, Long)]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  def drain(): Unit = {
    var tries = 0
    while (!GraftShim.drainListenerBus(spark.sparkContext, 15000L) && tries < 8) tries += 1
  }
  def clear(): Unit = synchronized {
    execs.clear(); spans.clear()
    planEvents.clear(); jobTimes.clear(); taskEnds.clear(); stageEnds.clear()
  }

  def span[A](name: String)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    try body finally spans += Span(name, t0, System.currentTimeMillis())
  }

  /** Root executions, in start order. */
  def executions: Seq[ExecRecord] = synchronized { execs.values.toSeq }
  def within(s: Span): Seq[ExecRecord] =
    executions.filter(e => e.startMs >= s.startMs && e.startMs <= s.endMs)

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart if e.rootExecutionId.forall(_ == e.executionId) =>
        execs(e.executionId) = new ExecRecord(Tracer.frame(e.details), e.time)
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach(_.endMs = e.time)
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobTimes += j.time
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    taskEnds += ((t.taskInfo.finishTime, t.taskInfo.failed))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val m = s.stageInfo.taskMetrics
    stageEnds += ((s.stageInfo.completionTime.getOrElse(0L), m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      planEvents += ((phases.map(_.startTimeMs).max, phases.map(_.durationMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  /** Jobs that started, and tasks and stages that ended, within `span`. */
  def window(span: Span): Window = synchronized {
    def in(t: Long) = t >= span.startMs && t <= span.endMs
    val tasks = taskEnds.filter(t => in(t._1))
    val stages = stageEnds.filter(st => in(st._1))
    Window(jobTimes.count(in), tasks.size, tasks.count(_._2),
      stages.map(_._2).sum, stages.map(_._3).sum, stages.map(_._4).sum)
  }

  /** Analysis, optimization and planning time of the actions whose
    * planning ended between `fromMs` and `toMs`. */
  def planSeconds(fromMs: Long, toMs: Long): Double = synchronized {
    planEvents.collect { case (t, d) if t >= fromMs && t <= toMs => d }.sum / 1000.0
  }
}

object Tracer {
  private val Anon = """\$anonfun\$([^$]+)""".r

  /** `graft.pipeline.ImportPipeline$.$anonfun$validate$1(Imp...scala:9)`
    * → `graft.pipeline.ImportPipeline.validate`. */
  def frame(details: String): String = {
    val lines = Option(details).getOrElse("").split("\n").map(_.trim)
    lines.find(_.startsWith("graft."))
      .orElse(lines.find(_.startsWith("perfbench.")))
      .map { l =>
        val sig = l.takeWhile(_ != '(')
        val dot = sig.lastIndexOf('.')
        val cls = sig.take(dot).takeWhile(_ != '$')
        val m = sig.drop(dot + 1)
        val method = Anon.findFirstMatchIn(m).map(_.group(1)).getOrElse(m)
        s"$cls.$method"
      }
      .getOrElse("unknown")
  }
}
