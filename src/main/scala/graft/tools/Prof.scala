package graft.tools

import graft.{Graft, SparkEntry}
import graft.obs.{Obs, Work}
import graft.queries.Fixtures

/** Per-job profile of gate queries, read from [[graft.obs.Obs]].
  *
  * Usage: runMain graft.tools.Prof <sfDir> <query1> [query2 ...]
  *
  * Every query is first built and counted once, in order, to warm it;
  * then each is built and counted again under [[Obs.measure]], the two
  * passes [[graft.Bench]] makes. The build (driver-side construction,
  * including the eager jobs an operator runs while building) and the
  * execution (`count()`, the action [[graft.Bench]] times) each print
  * their wall time, their job count, the generated classes Spark compiled
  * and their compile time (JVM-wide counts, exact here because nothing
  * else runs), and one line per job: stages, tasks, wall time and call
  * site. The session is shaped like the bench's: local[$SPARK_GRAFT_CPUS],
  * as many shuffle partitions, the Graft extensions.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Prof <sfDir> <query...>")
    val (sfDir, names) = (args(0), args.drop(1).toSeq)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.session(master = s"local[$cpus]", shufflePartitions = cpus)
    spark.sparkContext.setLogLevel("ERROR")
    def show(phase: String, w: Work): Unit = {
      println(f"  $phase%-5s ${w.wallMs / 1e3}%8.3f s ${w.jobs.size}%4d jobs " +
        f"${w.compiles}%4d compiles ${w.compileMs / 1e3}%7.3f s compiling")
      w.jobs.foreach { j =>
        println(f"    job ${j.id}%-5d ${j.stages}%3d stages ${j.tasks}%5d tasks " +
          f"${j.wallMs / 1e3}%8.3f s  ${j.callSite}")
      }
    }
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir).count()
      Fixtures.reapTransients(spark)
    }
    names.foreach { name =>
      val query = SparkEntry.queries(name)
      val (df, build) = Obs.measure(spark)(query(spark, sfDir))
      val (rows, exec) = Obs.measure(spark)(df.count())
      println(s"$name: $rows rows")
      show("build", build)
      show("exec", exec)
      Fixtures.reapTransients(spark)
    }
    Fixtures.clear()
    spark.stop()
  }
}
