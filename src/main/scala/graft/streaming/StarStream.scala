package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.DatamartIncr

/** The full continuous star pipeline: the reference's three chained
  * daily DAGs — `dags/ingest_raw_sales.py` → `dags/process_core_sales.py`
  * → `dags/process_datamart_sales.py`, coupled by ExternalTaskSensors
  * (`process_core_sales.py:36-44`) — recomposed as ONE always-on
  * streaming application over two arriving feeds:
  *
  *  - a **customer-CDC feed** (key, observation ts, tracked attribute +
  *    riders) maintaining the SCD2 `dim_customers` continuously via
  *    [[Scd2Stream]]: raw bucketed landing, touched-bucket exact
  *    rebuild, optional ratio-triggered log compaction;
  *  - a **fact feed** (fact-grain rows, the [[graft.operators.FactBuild]]
  *    contract) maintaining `fact_orders` + both datamarts via
  *    [[SalesSummaryStream]] (fact log and date-pruned summary refresh,
  *    both committed as manifest generations) and [[DatamartStream]]
  *    (order-grain mergeable state landings, periodically folded by
  *    [[BatchLog.compact]]).
  *
  * Every landing is replay-idempotent per batch id (it replaces exactly
  * that batch's slice), and every maintained table
  * is a deterministic function of its landed log — so restart replay
  * CONVERGES instead of compounding, table for table (spec-pinned
  * against the batch [[graft.pipeline.StarPipeline]]).
  *
  * The reference's sensor chain becomes READ-TIME composition: the
  * datamart readers ([[customerAnalytics]]) join the CURRENT core
  * tables at query time, so cross-feed consistency is
  * consistent-at-read rather than barrier-scheduled — queries read
  * current dims/datamarts at any instant (serialize only with the
  * compaction windows, see [[BatchLog]]). `dim_parts`/`dim_dates` stay
  * broadcast-sized snapshot dims (the reference WRITE_TRUNCATEs them
  * daily); the fact handler re-reads them each micro-batch, so a
  * periodic batch refresh is picked up by the next batch.
  *
  * Scale shape, per micro-batch: one bucketed CDC landing + a
  * touched-buckets-only dim rebuild; one (order_date, batch) fact
  * landing + a touched-dates-only summary recompute; one order-grain
  * state landing. Nothing re-reads the fact history; nothing rewrites
  * an untouched partition. At 100 TB/day each batch's work is
  * proportional to the batch and its touched partitions, not the
  * warehouse.
  */
object StarStream {

  /** Warehouse layout of the continuously maintained star — the
    * [[graft.pipeline.StarPipeline]] layer names, plus the two landing
    * logs the streaming faces need. */
  final case class Layout(warehouse: String) {
    /** Bucketed CDC observation log ([[Scd2Stream]] raw layer). */
    val dimCustomersRaw: String = s"$warehouse/core/dim_customers_raw"
    /** Full SCD2 `dim_customers`, `_kb`-bucket-partitioned. */
    val dimCustomers: String = s"$warehouse/core/dim_customers"
    /** Fact landing log, partitioned `(order_date, _batch_id)` — the log
      * IS the fact table: drop `_batch_id` and you have `fact_orders`. */
    val factOrders: String = s"$warehouse/core/fact_orders"
    /** VERSIONED manifest root over the fact log: every landing commits
      * an index generation ([[graft.operators.Upsert
      * .replacePartitionsVersioned]]), readers pin snapshots —
      * [[factOrders()]] reads THROUGH the newest one. A versioned log
      * must never be read with plain `spark.read.parquet` (replaced
      * files stay on disk until [[StarStream.retire]]). */
    val factGens: String = s"$warehouse/core/fact_orders/_stats_gens"
    val salesSummary: String = s"$warehouse/datamart/sales_summary"
    /** Versioned manifest root over the maintained summary. */
    val summaryGens: String = s"$warehouse/datamart/sales_summary/_stats_gens"
    /** Order-grain mergeable analytics state ([[DatamartStream]]). */
    val customerState: String = s"$warehouse/datamart/customer_state"
  }

  /** Stream tuning. `tracked` is the SCD2 change column; `stateCompactEvery`
    * folds the analytics state log every N fact batches (0 disables).
    *
    * `retireEvery` schedules RETENTION inside the fact loop: every N
    * fact batches, [[retire]] reaps manifest generations past the
    * newest `retireKeep` and the data files no retained generation
    * still names — without it a long-running continuous star
    * accumulates one generation per landing, unboundedly.
    * `retireGraceMs` spares generations (and their files) younger than
    * it, so size it ≳ your longest reader; a reader pinned within the
    * newest `retireKeep` generations is never broken regardless. 0
    * disables (the caller owns retention, e.g. an external cron). */
  final case class Config(
      key: String = "customer_id",
      ts: String = "ts",
      tracked: String = "mkt_segment",
      tieBreak: Seq[String] = Nil,
      nBuckets: Int = 64,
      scd2Compaction: Option[Scd2Stream.CompactionPolicy] = None,
      stateKeepRecent: Int = 8,
      stateCompactEvery: Long = 16,
      retireEvery: Long = 0,
      retireKeep: Int = 8,
      retireGraceMs: Long = 0L)

  /** The application's two coordinated micro-batch queries. */
  final case class Queries(dims: StreamingQuery, facts: StreamingQuery) {
    def processAllAvailable(): Unit = {
      dims.processAllAvailable(); facts.processAllAvailable()
    }
    def stop(): Unit = { dims.stop(); facts.stop() }
  }

  /** One CDC micro-batch: raw bucketed landing + touched-bucket SCD2
    * rebuild (+ policy-driven compaction) — [[Scd2Stream.applyBatch]]
    * bound to the star layout. Exposed for direct replay testing. */
  def applyCdcBatch(batch: DataFrame, batchId: Long, layout: Layout,
                    cfg: Config = Config()): Unit =
    Scd2Stream.applyBatch(batch, batchId, layout.dimCustomersRaw,
      layout.dimCustomers, cfg.key, cfg.ts, cfg.tracked, cfg.tieBreak,
      cfg.nBuckets, cfg.scd2Compaction)

  /** One fact micro-batch: fact-log landing + touched-date summary
    * refresh as VERSIONED generation commits ([[SalesSummaryStream
    * .applyBatch]] — snapshot-isolated readers, no publish window),
    * order-grain state landing ([[DatamartStream.writeBatch]]),
    * periodic state-log fold. Returns the touched dates. Exposed for
    * direct replay testing. */
  def applyFactBatch(batch: DataFrame, batchId: Long, layout: Layout,
                     dimPart: DataFrame, dimDates: DataFrame,
                     cfg: Config = Config()): Seq[String] = {
    val touched = SalesSummaryStream.applyBatch(batch, batchId,
      layout.factOrders, layout.salesSummary, dimPart, dimDates,
      layout.factGens, layout.summaryGens)
    DatamartStream.writeBatch(batch, batchId, layout.customerState)
    if (cfg.stateCompactEvery > 0 && batchId > 0 &&
        batchId % cfg.stateCompactEvery == 0)
      DatamartStream.compact(batch.sparkSession, layout.customerState,
        cfg.stateKeepRecent): Unit
    // scheduled retention (cfg.retireEvery): generations accumulate one
    // per landing — reap past the newest retireKeep on a cadence so the
    // always-on star is bounded without an external cron
    if (cfg.retireEvery > 0 && batchId > 0 && batchId % cfg.retireEvery == 0)
      retire(batch.sparkSession, layout, cfg.retireKeep, cfg.retireGraceMs)
    touched
  }

  /** Retention for the versioned star tables in one call: reap
    * generations past the newest `keep` and the data files no retained
    * generation still names, fact log and summary alike
    * ([[graft.sources.StatsIndex.retire]]). Run on a schedule sized to
    * the longest reader you tolerate (graceMs spares pinned snapshots
    * younger than it). */
  def retire(spark: SparkSession, layout: Layout, keep: Int = 8,
             graceMs: Long = 0L): Unit = {
    graft.sources.StatsIndex.retire(spark, layout.factOrders,
      layout.factGens, keep, graceMs): Unit
    graft.sources.StatsIndex.retire(spark, layout.salesSummary,
      layout.summaryGens, keep, graceMs): Unit
  }

  /** Start the always-on star: one application, two foreachBatch loops
    * (one per feed — each with its own checkpointed batch-id sequence,
    * the unit of replay idempotency). `dimPart`/`dimDates` are thunks
    * re-evaluated every fact batch so an external snapshot refresh of
    * the small dims is picked up without a restart. */
  def run(cdc: DataFrame, facts: DataFrame, layout: Layout,
          checkpointRoot: String,
          dimPart: () => DataFrame, dimDates: () => DataFrame,
          cfg: Config = Config()): Queries = {
    val dims = cdc.writeStream
      .option("checkpointLocation", s"$checkpointRoot/dims")
      .outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyCdcBatch(b, id, layout, cfg)
      }
      .start()
    val factQ = facts.writeStream
      .option("checkpointLocation", s"$checkpointRoot/facts")
      .outputMode("append")
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyFactBatch(b, id, layout, dimPart(), dimDates(), cfg): Unit
      }
      .start()
    Queries(dims, factQ)
  }

  // -------------------------------------------------------------------
  // Readers — "queries read current dims/datamarts at any instant"
  // -------------------------------------------------------------------

  /** The full maintained SCD2 customer history — richer than the batch
    * pipeline's snapshot dim (real versions with validity intervals;
    * [[graft.operators.Scd2.snapshotAt]] gives time travel). */
  def dimCustomersHistory(spark: SparkSession, layout: Layout): DataFrame =
    Scd2Stream.readDim(spark, layout.dimCustomers)

  /** Current rows only, in the batch star contract: `customer_sk` is
    * `md5(natural key)` — [[graft.operators.Scd2.snapshotDim]]'s
    * map-side deterministic surrogate, so the sk agrees with what a
    * batch-built fact feed carries. The history surrogate `sk` drops
    * (it names a VERSION, not a customer). */
  def dimCustomersCurrent(spark: SparkSession, layout: Layout,
                          cfg: Config = Config()): DataFrame =
    dimCustomersHistory(spark, layout)
      .where(col("is_current"))
      .withColumn("customer_sk", md5(col(cfg.key).cast("string")))
      .drop("sk")

  /** The maintained fact: the landing log minus its replay machinery,
    * read THROUGH the newest committed generation's manifest
    * (snapshot-isolated — a concurrent landing never disturbs a
    * constructed reader; date/measure filters prune files at planning
    * time with no call-site plumbing). */
  def factOrders(spark: SparkSession, layout: Layout): DataFrame =
    SalesSummaryStream.readFactLog(spark, layout.factOrders, layout.factGens)

  /** The maintained `sales_summary`, typed — read through its newest
    * generation, like [[factOrders()]]. */
  def salesSummary(spark: SparkSession, layout: Layout): DataFrame =
    SalesSummaryStream.readSummary(spark, layout.salesSummary,
      layout.summaryGens)

  /** Current `customer_analytics` — merged order-grain state joined to
    * the CURRENT streamed dim at read time (the sensor chain as
    * read-time composition). `anchor` is a 1-row `anchor_date` relation,
    * [[graft.operators.Datamart.anchorOf]]. */
  def customerAnalytics(spark: SparkSession, layout: Layout,
                        anchor: DataFrame,
                        cfg: Config = Config()): DataFrame =
    DatamartIncr.customerAnalyticsFromState(
      DatamartStream.mergedState(spark, layout.customerState),
      dimCustomersCurrent(spark, layout, cfg), anchor)
}
