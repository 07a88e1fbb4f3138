package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.pipeline.StarPipeline

/** End-to-end surface drive: extensions via config string, SQL-level
  * graft_cosine, full pipeline run. `runMain graft.tools.Demo`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // 1. SQL surface of the native expression (registered via config string)
    Tables.read(spark, "/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("emb")
    val sims = spark.sql(
      """SELECT a.vec_id i, b.vec_id j,
        |  graft_cosine(transform(a.embedding, x -> CAST(x AS DOUBLE)),
        |               transform(b.embedding, x -> CAST(x AS DOUBLE))) AS cos
        |FROM emb a JOIN emb b ON a.vec_id < b.vec_id AND b.vec_id < 4
        |ORDER BY i, j""".stripMargin)
    println("graft_cosine via SQL:")
    sims.show(3, false)

    // 2. error path: wrong input type
    try {
      spark.sql("SELECT graft_cosine(array(1.0), 'nope')").collect()
      println("ERROR-PATH: no exception (unexpected)")
    } catch {
      case e: Exception =>
        println(s"ERROR-PATH ok: ${e.getMessage.linesIterator.next()}")
    }

    // 3. full star pipeline through the DAG runner, with notification hooks
    val wh = Files.createTempDirectory("graft-demo-wh").toString
    val cb = graft.pipeline.Dag.Callbacks(
      onSuccess = id => println(s"notify: $id succeeded"),
      onFailure = (id, e) => println(s"notify: $id FAILED ${e.getMessage}"))
    val report = graft.pipeline.Dag.run(
      StarPipeline.tasks(spark, "/root/testdata/sf0.001", wh), cb)
    println(s"pipeline order: ${report.order.mkString(" -> ")}")
    println(s"pipeline succeeded: ${report.succeeded}")
    val ss = Tables.read(spark, s"$wh/datamart/sales_summary")
    println(s"sales_summary rows: ${ss.count()}")
    ss.orderBy("date", "product_category").show(3, false)

    // 4. failure path: config-driven domain with a missing CSV drop
    import graft.pipeline.{Dag, DomainConfig, PipelineBuilder}
    import graft.sources.CsvIngest.ColumnSpec
    val emptyInbox = Files.createTempDirectory("graft-demo-inbox").toString
    val badDomain = DomainConfig.Domain("ads",
      raw = Seq(DomainConfig.RawTable("clicks", Seq(ColumnSpec("click_id", "STRING")))),
      transforms = Seq(DomainConfig.Transform("core.counts", Nil)(s =>
        Tables.read(s, "/nonexistent"))))
    val badReport = Dag.run(
      PipelineBuilder.tasks(spark, badDomain, emptyInbox, s"$wh/ads", "2024-03-01"), cb)
    println(s"failure-path statuses: ${badReport.statuses.toSeq.sortBy(_._1)}")

    spark.stop()
  }
}
