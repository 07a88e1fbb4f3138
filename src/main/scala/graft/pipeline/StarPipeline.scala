package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators._
import graft.sources.RawLayer

/** The reference's three DAGs (ingest_raw → process_core → process_datamart,
  * /root/reference/dags/) as one graft DAG over parquet layers.
  *
  * Layer layout under `warehouse/`:
  *   core/dim_customers, core/dim_parts, core/dim_dates, core/fact_orders
  *   datamart/sales_summary, datamart/customer_analytics
  *
  * Each task reads the previous layer from disk (not a lineage handoff) so
  * any subset can re-run idempotently — the property the reference gets
  * from per-day MERGE + WRITE_APPEND, here from whole/partition overwrite.
  */
object StarPipeline {

  def tasks(spark: SparkSession, srcDir: String, warehouse: String): Seq[Dag.Task] = {
    def t(name: String) = Tables.load(spark, srcDir, name)
    def read(layer: String) = spark.read.parquet(s"$warehouse/$layer")
    def write(df: DataFrame, layer: String): Unit =
      RawLayer.truncateWrite(df, s"$warehouse/$layer")

    val dimCustomers = Dag.Task("core.dim_customers")(() =>
      write(Scd2.snapshotDim(
        t("customer").select(
          col("c_custkey").as("customer_id"), col("c_name").as("name"),
          col("c_nationkey").as("nation_key"), col("c_acctbal").as("acct_bal"),
          col("c_mktsegment").as("mkt_segment")),
        "customer_id", "customer_sk"), "core/dim_customers"))

    val dimParts = Dag.Task("core.dim_parts")(() =>
      write(Scd2.snapshotDim(
        t("part").select(
          col("p_partkey").as("part_id"), col("p_name").as("name"),
          col("p_brand").as("brand"), col("p_type").as("category"),
          col("p_size").as("size"), col("p_retailprice").as("retail_price")),
        "part_id", "part_sk"), "core/dim_parts"))

    val dimDates = Dag.Task("core.dim_dates")(() =>
      write(DateDim.fromTableSpan(t("orders"), "o_orderdate"), "core/dim_dates"))

    val factOrders = Dag.Task("core.fact_orders",
        deps = Seq("core.dim_customers", "core.dim_parts", "core.dim_dates"))(() =>
      write(FactBuild.factOrders(
        t("orders"), t("lineitem"), read("core/dim_customers"), read("core/dim_parts")),
        "core/fact_orders"))

    val salesSummary = Dag.Task("datamart.sales_summary",
        deps = Seq("core.fact_orders"))(() =>
      write(Datamart.salesSummary(
        read("core/fact_orders"), read("core/dim_parts"), read("core/dim_dates")),
        "datamart/sales_summary"))

    val customerAnalytics = Dag.Task("datamart.customer_analytics",
        deps = Seq("core.fact_orders"))(() =>
      write(Datamart.customerAnalytics(
        read("core/fact_orders"), read("core/dim_customers"),
        Datamart.anchorOf(t("orders"), "o_orderdate")),
        "datamart/customer_analytics"))

    Seq(dimCustomers, dimParts, dimDates, factOrders, salesSummary, customerAnalytics)
  }

  def run(spark: SparkSession, srcDir: String, warehouse: String): Dag.Report =
    Dag.run(tasks(spark, srcDir, warehouse))

  // -------------------------------------------------------------------
  // Incremental daily run (the reference's actual operating mode)
  // -------------------------------------------------------------------

  /** One EXECUTION DATE of the reference's daily loop
    * (`dags/process_core_sales.py` / `process_datamart_sales.py` run with
    * `dstart = execution_date`), incremental end to end — per-day work
    * scales with the day, not the warehouse:
    *
    *  - `core.fact_orders`: build the fact for `executionDate`'s orders
    *    only ([[dayFact]] — the date filter sits on orders BEFORE the
    *    joins AND the day's order keys broadcast as a semi-join prune on
    *    lineitem, so neither side of the fact join carries other days'
    *    rows) and replace that one `order_date` partition as a VERSIONED
    *    generation commit ([[graft.operators.Upsert
    *    .replacePartitionsVersioned]]) — the reference's per-day MERGE
    *    (`fact_orders.sql:59-77`) as a snapshot-isolated partition swap.
    *    Re-running the date rewrites only its own partition (idempotent,
    *    the Airflow retry contract), and a reader holding yesterday's
    *    manifest is never disturbed mid-republish.
    *  - `datamart.sales_summary`: [[DatamartIncr
    *    .refreshSalesSummaryVersioned]] for exactly this date — the
    *    reference's delete-one-date-and-reinsert (`sales_summary
    *    .sql:5-10`) at partition grain, committed as a generation.
    *  - `datamart.customer_analytics`: the day's order-grain state lands
    *    under its `_run_date=executionDate` partition (dynamic overwrite
    *    ⇒ a retried date REPLACES its own landing — the idempotency
    *    [[DatamartIncr.applyDelta]] explicitly does not give); the full
    *    output then derives from the merged state log with the EXECUTION
    *    DATE as the analysis anchor — the reference's own convention
    *    ("using the execution date", `customer_analytics.sql:9`) — and
    *    never rescans fact history.
    *
    * Dimensions stay snapshot-rebuilt ([[tasks]]): they are broadcast-
    * sized, and rebuilding them daily is the reference's
    * `WRITE_TRUNCATE` behavior for this source. The big tables — fact
    * and datamarts — are the ones that must not be rebuilt, and aren't. */
  def incrementalTasks(spark: SparkSession, srcDir: String,
                       warehouse: String,
                       executionDate: String): Seq[Dag.Task] = {
    def t(name: String) = Tables.load(spark, srcDir, name)
    def read(layer: String) = spark.read.parquet(s"$warehouse/$layer")
    val day = lit(executionDate).cast("date")

    val base = tasks(spark, srcDir, warehouse)
      .filter(_.id.startsWith("core.dim_"))

    val factPath = s"$warehouse/core/fact_orders"
    val factGens = s"$factPath/_stats_gens"
    val factDay = Dag.Task("core.fact_orders",
        deps = Seq("core.dim_customers", "core.dim_parts", "core.dim_dates"))(() =>
      // the day's slice REPLACES its own `order_date` partition as a
      // GENERATION COMMIT — the reference's per-day MERGE as a versioned
      // partition swap: idempotent under Airflow retry, and a reader
      // holding yesterday's manifest keeps a consistent snapshot through
      // the republish (the publish-window race of the dynamic overwrite
      // this replaces). The day's fact join runs ONCE, as the staged
      // write: the replaced partition is read off the `order_date=`
      // directory that write staged, so the join never runs a second
      // time to find it (likewise the summary refresh's aggregate
      // below). The commit maintains the manifest incrementally (one
      // footer read per new file); downstream tasks read the fact
      // THROUGH it and open only their date's files.
      graft.operators.Upsert.replacePartitionsVersioned(factPath,
        dayFact(spark, srcDir, warehouse, executionDate),
        Seq("order_date"), factGens): Unit)

    def factRead(): DataFrame = graft.sources.IndexedScan
      .readIndexedVersioned(spark, factPath, factGens)
      .withColumn("order_date", col("order_date").cast("date"))

    val summaryPath = s"$warehouse/datamart/sales_summary"
    val summaryGens = s"$summaryPath/_stats_gens"
    val salesDay = Dag.Task("datamart.sales_summary",
        deps = Seq("core.fact_orders"))(() =>
      DatamartIncr.refreshSalesSummaryVersioned(summaryPath, summaryGens,
        factRead(), read("core/dim_parts"), read("core/dim_dates"),
        Seq(executionDate)): Unit)

    val custState = Dag.Task("datamart.customer_analytics_state",
        deps = Seq("core.fact_orders"))(() =>
      DatamartIncr.orderState(
          factRead().where(col("order_date") === day))
        .withColumn("_run_date", day)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_run_date")
        .parquet(s"$warehouse/datamart/customer_state"))

    val custDay = Dag.Task("datamart.customer_analytics",
        deps = Seq("datamart.customer_analytics_state"))(() => {
      val log = spark.read.parquet(s"$warehouse/datamart/customer_state")
        .drop("_run_date")
      val state = log.groupBy(col("customer_sk"), col("order_id"))
        .agg(min(col("order_date")).as("order_date"),
             sum(col("net_amount")).as("net_amount"))
      val anchor = spark.range(1).select(day.as("anchor_date"))
      RawLayer.truncateWrite(
        DatamartIncr.customerAnalyticsFromState(
          state, read("core/dim_customers"), anchor),
        s"$warehouse/datamart/customer_analytics")
    })

    base ++ Seq(factDay, salesDay, custState, custDay)
  }

  /** One execution date's fact slice, BOTH join sides pruned — exposed
    * for the plan assertion in PipelineSpec.
    *
    * The reference joins the COMPLETE `order_items` table against the
    * day's orders (`sql/core/fact/fact_orders.sql:22-29`): faithful, but
    * at 100 TB the per-day build must not scan the full lineitem. The
    * day's order KEYS are day-sized, so they broadcast as a LEFT SEMI
    * filter onto lineitem — other days' lines are dropped map-side and
    * never reach the fact join's shuffle (and AQE then sizes the
    * day-slice joins at runtime). With a date-partitioned lineitem
    * layout the scan itself prunes instead — see SCALING.md; this
    * semi-join is the layout-independent floor. */
  def dayFact(spark: SparkSession, srcDir: String, warehouse: String,
              executionDate: String): DataFrame = {
    def t(name: String) = Tables.load(spark, srcDir, name)
    val day = lit(executionDate).cast("date")
    val dayOrders = t("orders").where(to_date(col("o_orderdate")) === day)
    val dayLines = t("lineitem").join(
      broadcast(dayOrders.select(col("o_orderkey").as("_day_ok"))),
      col("l_orderkey") === col("_day_ok"), "left_semi")
    FactBuild.factOrders(dayOrders, dayLines,
      spark.read.parquet(s"$warehouse/core/dim_customers"),
      spark.read.parquet(s"$warehouse/core/dim_parts"))
  }

  /** Run one execution date end to end (the Airflow daily trigger);
    * [[Dag.backfill]] over [[incrementalTasks]] replays a date range. */
  def runDay(spark: SparkSession, srcDir: String, warehouse: String,
             executionDate: String): Dag.Report =
    Dag.run(incrementalTasks(spark, srcDir, warehouse, executionDate))
}
