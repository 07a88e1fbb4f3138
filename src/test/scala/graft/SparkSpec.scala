package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftExtensions

/** Shared local SparkSession for all suites (one forked JVM; never stopped). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf001 = "/root/testdata/sf0.001"

  /** The physical-plan descriptions of the SQL executions `f` starts.
    * Listener delivery is asynchronous, so a marker job submitted
    * afterwards is waited for: the bus delivers in order, so once the
    * marker's end arrives every earlier execution start has been seen. */
  def sqlPlansOf[T](f: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val markerProp = "graft.spec.planMarker"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val markerId = new java.util.concurrent.atomic.AtomicInteger(-1)
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription): Unit
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(markerProp) != null))
          markerId.set(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerId.get()) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val out = f
      sc.setLocalProperty(markerProp, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the marker job")
      (out, plans.toArray(Array.empty[String]).toSeq)
    } finally {
      sc.setLocalProperty(markerProp, null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-spec-wh").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
