package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Datamart, DateDim}
import graft.sources.{IndexedScan, StatsIndex}

/** [[SalesSummaryStream]]: the continuously maintained summary must equal
  * the batch [[Datamart.salesSummary]] over everything streamed — under
  * late arrivals for old dates, batch-id replay, and with untouched date
  * partitions' files carried into each new generation unrewritten. */
class SalesSummaryStreamSpec extends SparkSpec {
  import spark.implicits._

  private val dimP = Seq((0, "CAT"), (1, "DOG")).toDF("part_sk", "category")
    .withColumn("is_current", lit(true))

  // (customer_sk, date, order_id, part_sk, net, qty); batch 2 carries a
  // LATE line for batch 0's date AND a late line of an EXISTING order
  private val batches: Seq[Seq[(Int, String, Long, Int, Double, Double)]] = Seq(
    Seq((1, "2024-06-01", 10L, 0, 100.0, 1.0), (1, "2024-06-01", 11L, 1, 50.0, 2.0)),
    Seq((2, "2024-06-02", 12L, 0, 70.0, 1.0)),
    Seq((1, "2024-06-01", 13L, 0, 30.0, 1.0), (2, "2024-06-01", 10L, 0, 5.0, 1.0)))

  private def df(rows: Seq[(Int, String, Long, Int, Double, Double)]): DataFrame =
    rows.toDF("customer_sk", "od", "order_id", "part_sk", "net_amount", "quantity")
      .withColumn("order_date", col("od").cast("date")).drop("od")

  private lazy val dates = DateDim.fromTableSpan(
    df(batches.flatten).select(col("order_date").as("d")), "d")

  private def rows(d: DataFrame) = d
    .select(col("date").cast("string"), col("product_category"),
      col("total_sales"), col("total_orders"), col("total_quantity"),
      col("avg_order_value"))
    .as[(String, String, Double, Long, Double, Double)].collect().toSet

  test("streamed refresh == batch summary; late date recomputes; replay exact; untouched partitions stable") {
    val root = Files.createTempDirectory("graft-ssstream").toString
    val (log, sum) = (s"$root/log", s"$root/sum")
    val (logGens, sumGens) = (s"$log/_stats_gens", s"$sum/_stats_gens")
    def apply(b: DataFrame, id: Long): Seq[String] =
      SalesSummaryStream.applyBatch(b, id, log, sum, dimP, dates,
        logGens, sumGens)
    batches.zipWithIndex.foreach { case (b, id) =>
      val touched = apply(df(b), id.toLong)
      assert(touched.toSet ==
        b.map(_._2).toSet, s"batch $id touched $touched")
    }
    val want = rows(Datamart.salesSummary(df(batches.flatten), dimP, dates))
    assert(rows(SalesSummaryStream.readSummary(spark, sum, sumGens)) == want)

    // an untouched date keeps its files through a foreign batch: the
    // newest generation names the same files, none of them rewritten
    def files(date: String): Map[String, Long] = {
      val fs = new org.apache.hadoop.fs.Path(sum)
        .getFileSystem(spark.sessionState.newHadoopConf())
      StatsIndex.loadLatest(spark, sumGens).select("file").as[String]
        .collect().filter(_.contains(s"/date=$date/"))
        .map(f => f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
          .getModificationTime).toMap
    }
    val d2Before = files("2024-06-02")
    assert(d2Before.nonEmpty)
    apply( // batch touching only 06-01
      df(Seq((1, "2024-06-01", 14L, 1, 9.0, 1.0))), 3L)
    assert(files("2024-06-02") == d2Before,
      "an untouched date partition was rewritten")

    // crash-replay of batch 2: its (date, batch) log slices REPLACE, the
    // touched date recomputes from the log — summary unchanged
    val afterBatch3 = rows(SalesSummaryStream.readSummary(spark, sum, sumGens))
    apply(df(batches(2)), 2L)
    assert(rows(SalesSummaryStream.readSummary(spark, sum, sumGens)) == afterBatch3,
      "replayed batch id changed the summary")
    val logN = IndexedScan.readIndexedVersioned(spark, log, logGens)
      .where(col("_batch_id").cast("long") === 2L).count()
    assert(logN == batches(2).size, "replay appended instead of replacing")
  }

  test("end-to-end MemoryStream run") {
    implicit val sq = spark.sqlContext
    val root = Files.createTempDirectory("graft-ssstream-e2e").toString
    val ckpt = Files.createTempDirectory("graft-ssstream-ckpt").toString
    val mem = MemoryStream[(Int, String, Long, Int, Double, Double)]
    val q = SalesSummaryStream.run(
      mem.toDF().toDF("customer_sk", "od", "order_id", "part_sk",
          "net_amount", "quantity")
        .withColumn("order_date", col("od").cast("date")).drop("od"),
      s"$root/log", s"$root/sum", dimP, dates, ckpt,
      s"$root/log/_stats_gens", s"$root/sum/_stats_gens")
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(rows(SalesSummaryStream.readSummary(spark, s"$root/sum",
        s"$root/sum/_stats_gens")) ==
      rows(Datamart.salesSummary(df(batches.flatten), dimP, dates)))
  }
}
