package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Shared clock: epoch milliseconds with sub-millisecond resolution, so
  * harness spans line up with the scheduler's event times. */
object Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed region of the driver thread. `parent` is -1 at the root. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, var end: Double)

/** In-memory span recorder. While a span is open its id is the driver
  * thread's `SpanProp` local property, so every Spark job it starts
  * (including broadcast jobs, which inherit the caller's properties)
  * names the span that caused it. */
final class Spans(sc: SparkContext) {
  val all = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var enabled = false

  def apply[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sp = Span(all.size, stack.headOption.getOrElse(-1), kind, name,
        Clock.nowMs, Double.NaN)
      all += sp
      stack = sp.id :: stack
      sc.setLocalProperty(Tracer.SpanProp, sp.id.toString)
      try body
      finally {
        sp.end = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp,
          stack.headOption.map(_.toString).orNull)
      }
    }
}

/** Per-job scheduler counters, filled on the listener thread. */
final class JobRec(val id: Int, val span: String, val start: Double,
    val callSite: String) {
  @volatile var end: Double = Double.NaN
  @volatile var stages = 0
  @volatile var tasks = 0
  @volatile var runMs = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var inBytes = 0L
  @volatile var shuffleRead = 0L
  @volatile var shuffleWrite = 0L
  @volatile var spill = 0L
}

/** Catalyst phase interval of one executed query. */
final case class Phase(name: String, start: Double, end: Double)

/** The benchmark's own listeners: a SparkListener for jobs, stages and
  * task metrics, and a QueryExecutionListener for Catalyst's phase
  * timings. Both are attached only for traced passes. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val executionSite = new ConcurrentHashMap[Long, String]()
  val phases = new ConcurrentLinkedQueue[Phase]()

  /** A SQL execution names the call site of the action that started it;
    * its jobs' own stage names often do not (adaptive query stages are
    * submitted from a pool thread). */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      executionSite.put(x.executionId, x.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).orNull
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executionSite.get(id.toLong)))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val rec = new JobRec(e.jobId, span, e.time.toDouble, site)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(stageJob.put(_, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(Phase(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val SpanProp = "graft.bench.span"
}
