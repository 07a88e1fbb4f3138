package graft.obs

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.Bridge

/** One Spark job: its call site (the action of its SQL execution, else
  * its result stage's), the stages that ran (skipped ones excluded),
  * their finished tasks, and its wall time from submission to end. */
final case class Job(id: Int, callSite: String, stages: Int, tasks: Int,
                     wallMs: Long)

/** One root SQL execution (a driver action; AQE's per-stage jobs belong
  * to it) with its physical-plan description. */
final case class Execution(id: Long, plan: String)

/** The Spark work one measured call caused, and the call's wall time.
  *
  * `compiles` and `compileMs` are the generated classes Spark compiled
  * while the call ran and their Janino time. Spark counts compiles per
  * JVM, not per job, so these two are exact only when nothing else runs
  * at the same time; a concurrent query's compiles are counted too. */
final case class Work(wallMs: Double, jobs: Seq[Job], executions: Seq[Execution],
                      compiles: Long, compileMs: Double)

/** The engine's one way to see what Spark work a call causes.
  *
  * [[measure]] scopes by a fresh job tag. Spark keeps job tags in the
  * calling thread's local properties and copies them onto every job and
  * SQL execution submitted under the call, including those AQE and
  * broadcast exchanges submit from their own threads, and onto threads
  * the call starts. Jobs other threads run at the same time carry no
  * such tag and are not counted.
  *
  * Listener delivery is asynchronous, so after the call one marker job is
  * run and waited for: the bus delivers in order, so once the marker's end
  * arrives every earlier job and execution of the call has been seen. */
object Obs {
  // SparkContext.SPARK_JOB_TAGS, which Spark keeps package-private
  private val JobTagsProp = "spark.job.tags"
  // SQLExecution.EXECUTION_ID_KEY: the execution a job runs for
  private val ExecutionIdProp = "spark.sql.execution.id"
  private val MarkerProp = "graft.obs.marker"
  private val scopes = new AtomicLong(0)

  /** Run `f` and return its result with the [[Work]] it caused. */
  def measure[T](spark: SparkSession)(f: => T): (T, Work) = {
    val sc = spark.sparkContext
    val scope = new Scope(s"graft-obs-${scopes.incrementAndGet()}")
    sc.addSparkListener(scope)
    try {
      sc.addJobTag(scope.tag)
      val (n0, ns0) = Bridge.codegenCompiles
      val t0 = System.nanoTime()
      val out = try f finally sc.removeJobTag(scope.tag)
      val wallMs = (System.nanoTime() - t0) / 1e6
      val (n1, ns1) = Bridge.codegenCompiles
      sc.setLocalProperty(MarkerProp, scope.tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerProp, null)
      if (!scope.drained.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener bus never delivered the marker job")
      val (jobs, executions) = scope.seen
      (out, Work(wallMs, jobs, executions, n1 - n0, (ns1 - ns0) / 1e6))
    } finally sc.removeSparkListener(scope)
  }

  /** Records the jobs and root executions tagged `tag`. Its maps are only
    * touched on the listener bus thread; [[seen]] is published through
    * the `drained` latch. */
  private final class Scope(val tag: String) extends SparkListener {
    val drained = new CountDownLatch(1)
    var seen: (Seq[Job], Seq[Execution]) = (Nil, Nil)

    private var markerJob = -1
    private val started = mutable.HashMap[Int, (String, Long)]()
    private val stageJob = mutable.HashMap[Int, Int]()
    private val stages, tasks = mutable.HashMap[Int, Int]().withDefaultValue(0)
    private val jobs = mutable.ArrayBuffer[Job]()
    // every tagged execution's description: the call site of its action
    private val actions = mutable.HashMap[Long, String]()
    private val executions = mutable.ArrayBuffer[Execution]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).foreach { p =>
        val marker = p.getProperty(MarkerProp)
        if (marker != null) { if (marker == tag) markerJob = e.jobId }
        else if (Option(p.getProperty(JobTagsProp)).exists(_.split(',').contains(tag))) {
          // AQE submits stage jobs from its own threads, so their result
          // stage names that thread, not the action
          val site = Option(p.getProperty(ExecutionIdProp))
            .flatMap(id => actions.get(id.toLong))
            .getOrElse(e.stageInfos.maxByOption(_.stageId).fold("")(_.name))
          started(e.jobId) = (site, e.time)
          e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach(stages(_) += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach(tasks(_) += 1)

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == markerJob) {
        seen = (jobs.sortBy(_.id).toSeq, executions.toSeq)
        drained.countDown()
      } else started.remove(e.jobId).foreach { case (site, submitted) =>
        jobs += Job(e.jobId, site, stages(e.jobId), tasks(e.jobId), e.time - submitted)
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
        actions(s.executionId) = s.description
        if (s.rootExecutionId.forall(_ == s.executionId))
          executions += Execution(s.executionId, s.physicalPlanDescription)
      case _ => ()
    }
  }
}
