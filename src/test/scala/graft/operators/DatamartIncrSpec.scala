package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[DatamartIncr]]: incremental maintenance must equal the batch rebuild
  * EXACTLY — under adversarial delta splits (an order's lines split across
  * deltas), on real sf0.001 fact data, and through the versioned
  * summary refresh where untouched partitions' files must stay
  * byte-identical. */
class DatamartIncrSpec extends SparkSpec {
  import spark.implicits._

  private def dimOf(rows: Seq[(Int, Long, String, String)]): DataFrame =
    rows.toDF("customer_sk", "customer_id", "name", "mkt_segment")
      .withColumn("is_current", lit(true))

  private val dim = dimOf(Seq(
    (1, 1L, "alice", "SEG"), (2, 2L, "bob", "SEG"), (3, 3L, "carol", "SEG")))

  // order 101's two lines land in DIFFERENT deltas — the case a
  // per-customer running count(DISTINCT) gets wrong and order-grain
  // state must absorb exactly
  private val factRows = Seq(
    (1, "2024-06-25", 100L, 600.0),
    (1, "2024-06-20", 101L, 400.0),
    (1, "2024-06-20", 101L, 200.0),
    (2, "2023-06-01", 103L, 50.0),
    (3, "2024-06-30", 104L, 700.0))
  private def factOf(rows: Seq[(Int, String, Long, Double)]): DataFrame =
    rows.toDF("customer_sk", "od", "order_id", "net_amount")
      .withColumn("order_date", col("od").cast("date")).drop("od")

  private def analyticsRows(df: DataFrame): Set[(Long, String, String, String,
      String, Long, Double, Int, Double, String)] =
    df.select(col("customer_id"), col("name"), col("mkt_segment"),
        col("first_order_date").cast("string"),
        col("last_order_date").cast("string"),
        col("total_orders"), col("total_lifetime_value"),
        col("days_since_last_order"), col("average_order_value"),
        col("customer_segment"))
      .as[(Long, String, String, String, String, Long, Double, Int, Double,
        String)].collect().toSet

  test("order split across deltas: state merge == batch, distinct orders exact") {
    val fact = factOf(factRows)
    val d1 = factOf(factRows.take(2)) // first line of 101
    val d2 = factOf(factRows.slice(2, 4)) // second line of 101
    val d3 = factOf(factRows.drop(4))
    val state = DatamartIncr.mergeState(
      DatamartIncr.mergeState(DatamartIncr.orderState(d1),
        DatamartIncr.orderState(d2)),
      DatamartIncr.orderState(d3))
    // the split order folded to ONE state row with the summed net
    val o101 = state.where(col("order_id") === 101L).collect()
    assert(o101.length == 1 && o101.head.getAs[Double]("net_amount") == 600.0)
    val anchor = spark.range(1)
      .select(lit("2024-07-01").cast("date").as("anchor_date"))
    val got = analyticsRows(
      DatamartIncr.customerAnalyticsFromState(state, dim, anchor))
    val want = analyticsRows(Datamart.customerAnalytics(fact, dim, "2024-07-01"))
    assert(got == want, s"incremental $got != batch $want")
    // alice: 2 distinct orders (101 counted once despite the split)
    assert(got.exists(r => r._1 == 1L && r._6 == 2L))
  }

  test("sf0.001 fact split by LINE NUMBER (orders shredded across 3 deltas) == batch") {
    val orders = spark.read.parquet(s"$sf001/orders.parquet")
    val lineitem = spark.read.parquet(s"$sf001/lineitem.parquet")
    val dimC = Scd2.snapshotDim(
      spark.read.parquet(s"$sf001/customer.parquet")
        .select(col("c_custkey").as("customer_id"), col("c_name").as("name"),
          col("c_mktsegment").as("mkt_segment")),
      "customer_id", "customer_sk")
    val dimP = Scd2.snapshotDim(
      spark.read.parquet(s"$sf001/part.parquet")
        .select(col("p_partkey").as("part_id")), "part_id", "part_sk")
    val fact = FactBuild.factOrders(orders, lineitem, dimC, dimP)
    // split by line number mod 3: nearly every multi-line order is
    // shredded across deltas
    val deltas = (0 to 2).map(i => fact.where(col("line_number") % 3 === i))
    val state = deltas.map(DatamartIncr.orderState)
      .reduce(DatamartIncr.mergeState)
    val anchor = Datamart.anchorOf(orders, "o_orderdate")
    val got = analyticsRows(
      DatamartIncr.customerAnalyticsFromState(state, dimC, anchor))
    val want = analyticsRows(
      Datamart.customerAnalytics(fact, dimC, anchor))
    assert(got == want)
    assert(state.count() == fact.select("order_id").distinct().count(),
      "state is not order-grain")
  }

  test("salesSummaryRefresh: touched-date splice == full rebuild (pure relational)") {
    val orders = spark.read.parquet(s"$sf001/orders.parquet")
    val lineitem = spark.read.parquet(s"$sf001/lineitem.parquet")
    val dimC = Scd2.snapshotDim(
      spark.read.parquet(s"$sf001/customer.parquet")
        .select(col("c_custkey").as("customer_id")), "customer_id", "customer_sk")
    val dimP = Scd2.snapshotDim(
      spark.read.parquet(s"$sf001/part.parquet")
        .select(col("p_partkey").as("part_id"),
          col("p_type").as("category")), "part_id", "part_sk")
    val dates = DateDim.fromTableSpan(orders, "o_orderdate")
    val fact = FactBuild.factOrders(orders, lineitem, dimC, dimP)
    val split = "1999-01-01"
    val prev = Datamart.salesSummary(
      fact.where(col("order_date") < lit(split).cast("date")), dimP, dates)
    val touched = DatamartIncr.touchedDates(
      fact.where(col("order_date") >= lit(split).cast("date")))
    assert(touched.nonEmpty && touched.forall(_ >= split))
    val got = DatamartIncr.salesSummaryRefresh(prev, fact, dimP, dates, touched)
    val want = Datamart.salesSummary(fact, dimP, dates)
    def rows(df: DataFrame) = df
      .select(col("date").cast("string"), col("product_category"),
        col("total_sales"), col("total_orders"), col("total_quantity"),
        col("avg_order_value"))
      .as[(String, String, Double, Long, Double, Double)].collect().toSet
    assert(rows(got) == rows(want))
  }

  test("persisted summary refresh: only touched date partitions rewritten, byte-identical rest") {
    val path = Files.createTempDirectory("graft-dmincr-sum").toString + "/sum"
    val gens = s"$path/_stats_gens"
    val fact = factOf(factRows)
    val dimP = Seq((0, "CAT")).toDF("part_sk", "category")
      .withColumn("is_current", lit(true))
    val factP = fact.withColumn("part_sk", lit(0))
      .withColumn("quantity", lit(1.0))
    val dates = DateDim.fromTableSpan(
      factP.select(col("order_date").as("d")), "d")
    DatamartIncr.refreshSalesSummaryVersioned(path, gens, factP, dimP, dates,
      DatamartIncr.touchedDates(factP))
    // the newest generation's files for one date, with their mtimes
    def partFiles(date: String): Map[String, Long] = {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      graft.sources.StatsIndex.loadLatest(spark, gens).select("file")
        .as[String].collect().filter(_.contains(s"/date=$date/"))
        .map(f => f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
          .getModificationTime).toMap
    }
    val before = partFiles("2023-06-01")
    assert(before.nonEmpty)
    // late rows arrive for 2024-06-20 only → refresh that one date
    val late = factOf(Seq((1, "2024-06-20", 105L, 111.0)))
    val newFull = factP.unionByName(
      late.withColumn("part_sk", lit(0)).withColumn("quantity", lit(1.0)))
    DatamartIncr.refreshSalesSummaryVersioned(path, gens, newFull, dimP, dates,
      DatamartIncr.touchedDates(late))
    assert(partFiles("2023-06-01") == before,
      "untouched date partition was rewritten")
    def rows(df: DataFrame) = df
      .select(col("date").cast("string"), col("product_category"),
        col("total_sales"), col("total_orders"))
      .as[(String, String, Double, Long)].collect().toSet
    assert(rows(DatamartIncr.readSalesSummaryVersioned(spark, path, gens)) ==
      rows(Datamart.salesSummary(newFull, dimP, dates)))
  }

  test("refresh guards: empty touched dates refused") {
    intercept[IllegalArgumentException] {
      DatamartIncr.salesSummaryRefresh(spark.emptyDataFrame,
        spark.emptyDataFrame, spark.emptyDataFrame, spark.emptyDataFrame, Nil)
    }
  }
}
