package graft.obs

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.SparkSpec

/** [[Obs.measure]]: what it counts is the call's own work, and the counts
  * of a known action agree with a hand count. */
class ObsSpec extends SparkSpec {

  test("measure counts only its own scope: another thread's concurrent job is not counted") {
    val sc = spark.sparkContext
    val go, otherDone = new CountDownLatch(1)
    // started outside the scope, so it inherits no tag from it
    val other = new Thread(() => {
      go.await()
      sc.parallelize(1 to 3, 3).count()
      otherDone.countDown()
    })
    other.start()
    val (n, work) = Obs.measure(spark) {
      go.countDown()
      assert(otherDone.await(60, TimeUnit.SECONDS), "the other thread's job never ran")
      // a thread the call itself starts carries its tag
      val child = new Thread(() => sc.parallelize(1 to 4, 4).count(): Unit)
      child.start()
      child.join()
      sc.parallelize(1 to 2, 2).count()
    }
    other.join()
    assert(n == 2)
    // the child thread's job (4 tasks) and the call's own (2 tasks); the
    // other thread's 3-task job ran inside the call's window, uncounted
    assert(work.jobs.map(j => (j.stages, j.tasks)) == Seq((1, 4), (1, 2)),
      s"${work.jobs}")
    assert(work.executions.isEmpty, "RDD jobs start no SQL execution")
  }

  test("one count() on a parquet table: jobs, stages, tasks and root executions match a hand count") {
    val dir = Files.createTempDirectory("graft-obs").toString + "/t"
    spark.range(0, 100, 1, 2).write.parquet(dir)
    // reading infers the schema with a job of its own: outside the scope
    val t = spark.read.parquet(dir)
    val (rows, work) = Obs.measure(spark)(t.count())
    assert(rows == 100)
    // one action → one root execution. Under AQE the partial aggregate's
    // shuffle map stage runs as its own job (one task per file), then the
    // final aggregate runs as a second job whose map stage is skipped
    assert(work.executions.size == 1, s"${work.executions}")
    assert(work.executions.head.plan.contains("Scan parquet"),
      work.executions.head.plan)
    assert(work.jobs.map(j => (j.stages, j.tasks)) == Seq((1, 2), (1, 1)),
      s"${work.jobs}")
    assert(work.jobs.forall(_.callSite.nonEmpty))
  }
}
