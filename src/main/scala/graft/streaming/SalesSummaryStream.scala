package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.DatamartIncr

/** Continuous `sales_summary` maintenance — the streaming face of
  * [[DatamartIncr.refreshSalesSummaryVersioned]], completing the
  * reference's daily chain (`ingest → core → datamart`) as one always-on
  * pipeline: fact rows arrive, and only their dates' summary partitions
  * refresh.
  *
  * Both tables are VERSIONED: each landing and each summary refresh
  * commits as an index generation
  * ([[graft.operators.Upsert.replacePartitionsVersioned]]), so a reader
  * that pinned the previous generation keeps reading its snapshot
  * consistently THROUGH a concurrent day-republish (spec-pinned in
  * StarStreamSpec), and a reader arriving after the commit sees exactly
  * the new state. Both must be read through their manifests
  * ([[readFactLog]], [[readSummary]]): replaced files stay on disk until
  * [[graft.sources.StatsIndex.retire]], on the caller's schedule.
  *
  * Exactness under replay comes from TWO layered idempotencies, the
  * [[Scd2Stream]] argument:
  *
  *  1. the raw fact log is partitioned by `(order_date, _batch_id)` and
  *     each landing replaces exactly its own slices — an at-least-once
  *     re-execution of a batch id REPLACES its own slice of each date it
  *     touched, so the log is exactly-once;
  *  2. the summary refresh is a DETERMINISTIC function of the log (a
  *     touched date recomputes wholesale from the date-pruned log — the
  *     reference's delete-and-reinsert, `sales_summary.sql:5-10`), so
  *     re-running a refresh converges instead of compounding.
  *
  * Late data needs no watermark bargain here: a late row lands in its
  * own (old) date partition and that date simply recomputes — the
  * summary's groups are date-functional, so the recompute is exact at
  * any lateness. Per batch the cost is one landing commit plus a
  * recompute of the touched dates' slices; dates the batch never names
  * are not read or rewritten, and the date-pruned log read opens only
  * the touched dates' files (the manifest IS the listing). */
object SalesSummaryStream {

  /** One micro-batch apply — exposed for direct replay testing. Returns
    * the touched dates (empty batch → no-op). `dimPart`/`dimDates` are
    * the broadcast-sized static dimensions the summary joins;
    * `factGens`/`summaryGens` are the two tables' manifest roots. */
  def applyBatch(factBatch: DataFrame, batchId: Long,
                 factLogPath: String, summaryPath: String,
                 dimPart: DataFrame, dimDates: DataFrame,
                 factGens: String, summaryGens: String): Seq[String] = {
    val spark = factBatch.sparkSession
    val touched = DatamartIncr.touchedDates(factBatch)
    if (touched.isEmpty) return Nil
    graft.operators.Upsert.replacePartitionsVersioned(factLogPath,
      factBatch.withColumn("_batch_id", lit(batchId)),
      Seq("order_date", "_batch_id"), factGens): Unit
    // the refresh reads the LOG, not the batch: a replayed/late batch's
    // date recomputes from everything ever landed for it
    DatamartIncr.refreshSalesSummaryVersioned(summaryPath, summaryGens,
      readFactLog(spark, factLogPath, factGens),
      dimPart, dimDates, touched): Unit
    touched
  }

  /** The versioned fact log as a fact relation: the newest generation's
    * manifest IS the file listing (snapshot-isolated; replaced files on
    * disk are invisible), date filters prune at planning time.
    * (`order_date` comes back from partition paths as a string; the
    * cast restores it.) */
  def readFactLog(spark: SparkSession, factLogPath: String,
                  factGens: String): DataFrame =
    graft.sources.IndexedScan.readIndexedVersioned(spark, factLogPath, factGens)
      .drop("_batch_id")
      .withColumn("order_date", col("order_date").cast("date"))

  /** Start the maintenance stream over arriving fact rows. */
  def run(factStream: DataFrame, factLogPath: String, summaryPath: String,
          dimPart: DataFrame, dimDates: DataFrame,
          checkpointDir: String,
          factGens: String, summaryGens: String): StreamingQuery =
    factStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, factLogPath, summaryPath,
          dimPart, dimDates, factGens, summaryGens): Unit
      }
      .start()

  /** The maintained summary, read through its newest generation,
    * `date` restored to typed form. */
  def readSummary(spark: SparkSession, summaryPath: String,
                  summaryGens: String): DataFrame =
    DatamartIncr.readSalesSummaryVersioned(spark, summaryPath, summaryGens)
}
