package graft

import java.nio.file.Files

import org.apache.spark.SparkConf
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.obs.Obs

/** [[Materialize]]: the mode follows the context's startup conf, a
  * reliable pin survives the loss of its blocks, and a local pin whose
  * blocks are lost fails loudly instead of returning rows.
  *
  * `local[4]` runs a single executor, so losing one is simulated by
  * removing the pinned relation's own blocks from the block manager. Only
  * that relation's blocks are dropped: other suites' fixtures share this
  * context. */
class MaterializeSpec extends SparkSpec {

  // a shuffled aggregate, the shape operators pin
  private def relation: DataFrame =
    spark.range(0, 1000, 1, 4)
      .groupBy((col("id") % 37).as("k"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))

  // read through a second shuffle, as an operator's downstream join does
  private def downstream(pinned: DataFrame): DataFrame =
    pinned.groupBy((col("k") % 5).as("g")).agg(sum(col("n")).as("n"), sum(col("s")).as("s"))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(0))

  private def pinnedRdd(pinned: DataFrame): RDD[_] = {
    val rdds = pinned.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
    assert(rdds.size == 1, pinned.queryExecution.analyzed)
    rdds.head
  }

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).toSeq

  test("a SparkConf carrying spark.checkpoint.dir selects reliable mode; one without it selects local") {
    assert(Materialize.modeOf(new SparkConf(false)) == Materialize.Local)
    assert(Materialize.modeOf(new SparkConf(false).set("spark.checkpoint.dir", "/ckpt")) ==
      Materialize.Reliable)
    // a checkpoint dir set at run time leaves the shared context local
    spark.sparkContext.setCheckpointDir(Files.createTempDirectory("graft-ckpt").toString)
    assert(Materialize.modeOf(spark.sparkContext.getConf) == Materialize.Local)
  }

  test("local mode: a pin whose blocks are lost fails with Spark's checkpoint-block error, never wrong rows") {
    val pinned = Materialize.pin(relation)
    val expected = rows(downstream(relation))
    // the first read stores the blocks and truncates the lineage
    assert(rows(pinned) == rows(relation))
    val rdd = pinnedRdd(pinned)
    assert(rdd.isCheckpointed)
    rdd.unpersist(blocking = true)
    val e = intercept[Exception](downstream(pinned).collect())
    assert(messages(e).exists(m => m.contains("Checkpoint block") && m.contains("not found")),
      messages(e).mkString("\n"))
    // the relation itself still computes: only the pinned blocks were dropped
    assert(rows(downstream(relation)) == expected)
  }

  test("reliable mode: a pin whose blocks are lost returns the same rows as local and unpinned") {
    spark.sparkContext.setCheckpointDir(Files.createTempDirectory("graft-ckpt").toString)
    val expected = rows(downstream(relation))
    val local = Materialize.pinIn(Materialize.Local, relation, eager = false)
    val reliable = Materialize.pinIn(Materialize.Reliable, relation, eager = false)
    // reliable is eager whichever entry: the files exist before any read
    val rdd = pinnedRdd(reliable)
    assert(rdd.isCheckpointed && rdd.getCheckpointFile.isDefined)
    rdd.unpersist(blocking = true)
    assert(rows(downstream(reliable)) == expected)
    assert(rows(reliable) == rows(local))
  }

  test("a job a pin starts is labelled with the calling file, and the caller's call site is restored") {
    val sc = spark.sparkContext
    sc.setCallSite("outer call site")
    try {
      // the lazy pin runs the relation's shuffle map stage at the call;
      // the eager one also stores the relation
      for (entry <- Seq[DataFrame => DataFrame](Materialize.pin, Materialize.pinNow)) {
        val (_, work) = Obs.measure(spark)(entry(relation))
        assert(work.jobs.nonEmpty)
        assert(work.jobs.forall(_.callSite.startsWith("localCheckpoint at MaterializeSpec.scala:")),
          work.jobs.map(_.callSite))
        assert(sc.getLocalProperty("callSite.short") == "outer call site")
      }
    } finally sc.clearCallSite()
  }
}
