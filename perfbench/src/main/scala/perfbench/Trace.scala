package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One node of the span tree workload → pass → op → {build, execute} →
  * job. Times are epoch milliseconds, the clock Spark stamps job events
  * with.
  */
final case class Span(id: Long, parent: Long, trace: String, name: String,
    kind: String, start: Long, var end: Long = -1L) {
  def length: Long = math.max(end - start, 0L)
}

/** Task-level counters of one job, summed over its stages' task-end
  * events.
  */
final class JobRec(val span: Span, val artifact: Option[String]) {
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var schedMs = 0L
  var fetchWaitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L
  val stageRunMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty
}

/** Catalyst phase times of the query executions run during one op. */
final class PlanRec {
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
}

/** The traced run's collectors: a SparkListener for jobs and tasks, a
  * QueryExecutionListener for Catalyst phases, and the span tree. A job
  * is attached to the build or execute span that was current on the
  * submitting thread through a local property; the listener bus is
  * drained at every op boundary, so an op's counts are complete when
  * its span closes.
  */
final class Tracer(spark: SparkSession, val traceId: String) {
  import Tracer.SpanProp

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(1L)
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val jobBuf = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]
  private val plans = mutable.Map.empty[Long, PlanRec]
  private val execArtifact = mutable.Map.empty[Long, Option[String]]
  @volatile private var planTarget: Long = -1L

  def spans: Seq[Span] = synchronized(spanBuf.toList)
  def jobs: Seq[JobRec] = synchronized(jobBuf.values.toList)
  def plan(opId: Long): PlanRec = synchronized(plans.getOrElse(opId, new PlanRec))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
      parent.foreach { pid =>
        val details = e.stageInfos.map(_.details).find(_.nonEmpty).getOrElse("")
        // jobs submitted from Spark's own pools (broadcasts, subqueries)
        // have no graft frame; their SQL execution's call site does
        val execution = Option(e.properties.getProperty("spark.sql.execution.id"))
          .map(_.toLong)
        val artifact = CallSite.artifact(details).orElse(
          Tracer.this.synchronized(execution.flatMap(execArtifact.get).flatten))
        val span = Span(ids.getAndIncrement(), pid, traceId,
          s"job-${e.jobId}", "job", e.time)
        val rec = new JobRec(span, artifact)
        Tracer.this.synchronized {
          spanBuf += span
          jobBuf(e.jobId) = rec
          e.stageIds.foreach(stageJob(_) = rec)
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized(execArtifact(x.executionId) = CallSite.artifact(x.details))
      case _ =>
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized(jobBuf.get(e.jobId).foreach(_.span.end = e.time))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized(stageJob.get(e.stageId).foreach { r =>
        val info = e.taskInfo
        r.tasks += 1
        if (info.failed || info.killed) r.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          r.cpuNs += m.executorCpuTime
          r.runMs += m.executorRunTime
          r.gcMs += m.jvmGCTime
          r.deserMs += m.executorDeserializeTime
          r.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead
          r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          r.peakMem = math.max(r.peakMem, m.peakExecutionMemory)
          r.stageRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            m.executorRunTime
        }
      })
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val target = planTarget
      if (target >= 0) {
        val ph = qe.tracker.phases
        def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
        Tracer.this.synchronized {
          val r = plans.getOrElseUpdate(target, new PlanRec)
          r.analysisMs += ms("analysis")
          r.optimizationMs += ms("optimization")
          r.planningMs += ms("planning")
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  def uninstall(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
  }

  def drain(): Unit = PerfbenchBus.drain(sc)

  def open(kind: String, name: String, parent: Long): Span = {
    val s = Span(ids.getAndIncrement(), parent, traceId, name, kind,
      System.currentTimeMillis())
    synchronized(spanBuf += s)
    s
  }

  def close(s: Span): Unit = s.end = System.currentTimeMillis()

  /** Runs `body` with `s` as the span its jobs attach to. */
  def within[T](s: Span)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally sc.setLocalProperty(SpanProp, prev)
  }

  /** Opens an op span; jobs and query executions until [[endOp]] are
    * counted for it.
    */
  def beginOp(name: String, parent: Long): Span = {
    drain()
    val s = open("op", name, parent)
    planTarget = s.id
    s
  }

  def endOp(s: Span): Unit = {
    drain()
    planTarget = -1L
    close(s)
  }

  /** The span tree as JSON lines, one span per line. */
  def spansJson: String = spans.sortBy(_.id).map { s =>
    Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
      "trace" -> Json.str(s.trace), "name" -> Json.str(s.name),
      "kind" -> Json.str(s.kind), "start" -> Json.num(s.start),
      "end" -> Json.num(s.end)))
  }.mkString("", "\n", "\n")
}

object Tracer {
  val SpanProp = "perfbench.span"
}
