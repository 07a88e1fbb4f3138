package starbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval with a parent, all spans of one op sharing
  * the op's id. Times are epoch milliseconds. `attrs` holds the counters
  * recorded at the same boundary (task metrics for a stage, call site for
  * a job). */
final case class Span(id: Long, parent: Long, op: Long, kind: String,
                      name: String, start: Double, end: Double,
                      attrs: Map[String, Any]) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "op" -> op,
    "kind" -> kind, "name" -> name, "start" -> start, "end" -> end) ++ attrs
}

/** Spans at the boundaries the benchmark owns (op → DAG task, or op →
  * query build / query exec) plus the Spark jobs and stages those calls
  * cause, observed through Spark's public listener APIs only.
  *
  * A benchmark span publishes its id as a SparkContext local property
  * before it calls into graft. Spark copies local properties onto every
  * job submitted under that call, including the jobs AQE and broadcast
  * exchanges submit from their own threads, so each job finds its parent
  * span from its start event. Stages and tasks attach through their job.
  * Catalyst phase times arrive through a QueryExecutionListener and are
  * attached to the op whose interval contains them (one client, so ops
  * never overlap).
  *
  * Everything stays in memory until [[drain]] is called after the run. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val plans = new ConcurrentLinkedQueue[Map[String, Double]]()

  private val sc = spark.sparkContext
  private var current: (Long, Long) = (0L, 0L) // (span, op) on the client thread

  private final class JobRec(val span: Long, val parent: Long, val op: Long,
                             val start: Long, val site: String,
                             val siteLong: String)
  private final class StageAcc {
    var tasks, failed = 0L
    var runMs, cpuNs, gcMs, schedMs, deserMs = 0L
    var inB, shWB, shRB, spillB, outB = 0L
  }
  // written on the listener bus thread only, read after drain
  private val jobs = mutable.HashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stageAcc = mutable.HashMap[(Int, Int), StageAcc]()
  @volatile private var markerSeen = false
  @volatile private var markerPlanSeen = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = e.properties
      val marker = props != null && props.getProperty(MarkerProp) != null
      val span = if (props == null) null else props.getProperty(SpanProp)
      if (marker) markerJobs += e.jobId
      else if (span != null) {
        val last = e.stageInfos.maxBy(_.stageId)
        jobs(e.jobId) = new JobRec(ids.incrementAndGet(), span.toLong,
          props.getProperty(OpProp).toLong, e.time, last.name, last.details)
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId) match {
        case Some(j) =>
          spans.add(Span(j.span, j.parent, j.op, "job", j.site, j.start.toDouble,
            e.time.toDouble, Map("job_id" -> e.jobId, "call_site" -> j.site,
              "call_site_long" -> j.siteLong,
              "succeeded" -> (e.jobResult == JobSucceeded))))
          jobSpans(e.jobId) = (j.span, j.op)
        case None =>
          if (markerJobs.contains(e.jobId)) markerSeen = true
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.contains(e.stageId)) {
        val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
        a.tasks += 1
        if (!e.taskInfo.successful) a.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.deserMs += m.executorDeserializeTime
          a.inB += m.inputMetrics.bytesRead
          a.shWB += m.shuffleWriteMetrics.bytesWritten
          a.shRB += m.shuffleReadMetrics.totalBytesRead
          a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          a.outB += m.outputMetrics.bytesWritten
          // the scheduler delay of Spark's own UI: task wall time not spent
          // deserializing, running, serializing or fetching the result
          a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            e.taskInfo.gettingResultTime)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      stageJob.get(si.stageId).foreach { jobId =>
        val a = stageAcc.remove((si.stageId, si.attemptNumber())).getOrElse(new StageAcc)
        stageEnds += ((jobId, si.stageId, si.attemptNumber(), si.name,
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), a))
      }
    }
  }
  private val jobSpans = mutable.HashMap[Int, (Long, Long)]()
  private val stageEnds = mutable.ArrayBuffer[(Int, Int, Int, String, Long, Long, StageAcc)]()
  private val markerJobs = mutable.HashSet[Int]()

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (qe.analyzed.output.exists(_.name == MarkerColumn)) markerPlanSeen = true
      else {
        val m = mutable.Map[String, Double]()
        ph.foreach { case (k, v) =>
          m(k + "_ms") = v.durationMs.toDouble
          m(k + "_start") = v.startTimeMs.toDouble
        }
        plans.add(m.toMap)
      }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  /** Run `f` inside a new span of `kind` under the current span; jobs `f`
    * submits attach to it. Must be called from the client thread. */
  def span[T](kind: String, name: String)(f: => T): T = {
    val (parent, op0) = current
    val id = ids.incrementAndGet()
    val op = if (kind == "op") id else op0
    current = (id, op)
    sc.setLocalProperty(SpanProp, id.toString)
    sc.setLocalProperty(OpProp, op.toString)
    val start = nowMs()
    try f
    finally {
      spans.add(Span(id, parent, op, kind, name, start, nowMs(), Map.empty))
      current = (parent, op0)
      if (parent == 0L) {
        sc.setLocalProperty(SpanProp, null)
        sc.setLocalProperty(OpProp, null)
      } else {
        sc.setLocalProperty(SpanProp, parent.toString)
        sc.setLocalProperty(OpProp, op0.toString)
      }
    }
  }

  /** Wait until the listener bus has delivered every event of the calls
    * made so far: run one marker query and wait for both its job-end and
    * its query-execution event, which queue behind everything earlier.
    * Then turn the recorded stages into spans and detach the listeners. */
  def drain(timeoutMs: Long = 60000L): Unit = {
    sc.setLocalProperty(MarkerProp, "1")
    spark.range(1).selectExpr(s"id AS $MarkerColumn").collect()
    sc.setLocalProperty(MarkerProp, null)
    val deadline = System.currentTimeMillis() + timeoutMs
    while ((!markerSeen || !markerPlanSeen) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    stageEnds.foreach { case (jobId, stageId, attempt, name, sub, done, a) =>
      jobSpans.get(jobId).foreach { case (jobSpan, op) =>
        spans.add(Span(ids.incrementAndGet(), jobSpan, op, "stage", name,
          sub.toDouble, done.toDouble, Map(
            "stage_id" -> stageId, "attempt" -> attempt,
            "tasks" -> a.tasks, "failed_tasks" -> a.failed,
            "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
            "sched_delay_ms" -> a.schedMs, "deser_ms" -> a.deserMs,
            "input_bytes" -> a.inB, "shuffle_write_bytes" -> a.shWB,
            "shuffle_read_bytes" -> a.shRB, "spill_bytes" -> a.spillB,
            "output_bytes" -> a.outB)))
      }
    }
  }
}

object Trace {
  val SpanProp = "starbench.span"
  val OpProp = "starbench.op"
  val MarkerProp = "starbench.marker"
  val MarkerColumn = "starbench_drain_marker"

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as Spark's listener event times. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}
