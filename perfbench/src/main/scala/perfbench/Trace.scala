package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so spans
  * (timed here) and jobs (timed by the scheduler in epoch ms) share an axis.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Double, var end: Double = Double.NaN)

/** Per-job record; task metrics are summed over the job's tasks. `site` is
  * the innermost engine frame of the call that started the job's SQL
  * execution (or, outside one, of the job's own call site).
  */
final class JobRec(val id: Int, val op: Int, val span: Int, val start: Double,
    val site: String) {
  var end: Double = Double.NaN
  var stages = 0
  var tasks = 0
  var taskFailures = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var records = 0L
  var bytesIn = 0L
}

/** Spans around the harness's calls into each layer. A span's id rides as
  * a Spark local property into every job the call launches (operators'
  * build-time actions included), so the collector can attribute jobs,
  * stages and task metrics to spans. Disabled, it is a pass-through.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  @volatile var op: Int = -1

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), op, name, Clock.nowMs)
      spans += s
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      stack = s.id :: stack
      try body
      finally {
        s.end = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  /** Wait until the listener bus has delivered every event of the op. */
  def drain(): Unit = if (enabled) PerfbenchBridge.drainListenerBus(sc)
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Listener side of the trace: jobs, stages, tasks, RDD block updates and
  * the planning phases of every executed query, keyed by op and span.
  */
final class Collector(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val checkpointBytes = new ConcurrentHashMap[Int, java.lang.Long]()
  // (op, funcName, analysis ms, optimization ms, planning ms, end ms)
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double, Double, Double, Double)]()
  // SQL execution id -> engine frame of the call that started it: the stage
  // jobs of an adaptive plan are submitted from scheduler threads, so their
  // own call sites show no engine frame
  private val executionSite = new ConcurrentHashMap[String, String]()

  private def engineFrame(callSite: String): String =
    callSite.linesIterator.find(_.startsWith("graft.")).getOrElse("")

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val root = s.rootExecutionId.flatMap(r => Option(executionSite.get(r.toString)))
      executionSite.put(s.executionId.toString,
        Some(engineFrame(s.details)).filter(_.nonEmpty).orElse(root).getOrElse(""))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(x => Option(executionSite.get(x)))
      .getOrElse(e.stageInfos.lastOption.map(s => engineFrame(s.details)).getOrElse(""))
    val j = new JobRec(e.jobId, tracer.op, span, e.time.toDouble, site)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (e.reason != Success) j.taskFailures += 1
        Option(e.taskMetrics).foreach { m =>
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.records += m.inputMetrics.recordsRead
          j.bytesIn += m.inputMetrics.bytesRead
        }
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      checkpointBytes.merge(tracer.op, b.memSize + b.diskSize, (x, y) => x + y)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
    plans.add((tracer.op, funcName, ms("analysis"), ms("optimization"), ms("planning"),
      Clock.nowMs))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)
}
