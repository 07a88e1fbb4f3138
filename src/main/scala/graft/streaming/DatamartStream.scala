package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.operators.DatamartIncr

/** Streaming customer-analytics maintenance — the replay-safe face of
  * [[DatamartIncr]]'s order-grain state (merging a replayed delta into
  * one state in place would double-count its sums).
  *
  * Each micro-batch lands its OWN order-grain partial-aggregate state
  * ([[DatamartIncr.orderState]]) under its `_batch_id` partition
  * ([[StreamSink.writeBatch]]): an at-least-once re-execution of a batch
  * id REPLACES exactly its own partition, so the landed log is
  * exactly-once. Order-grain states are
  * MERGEABLE (min/sum recombine per (customer, order)), so "current
  * analytics" is one keyed aggregation over the landed log + the shared
  * [[graft.operators.Datamart.finishAnalytics]] derivation — the fact
  * history is never rescanned, the reference's daily full-table rebuild
  * (`sql/datamart/sales/customer_analytics.sql:5-7`) replaced by
  * delta-sized landings.
  *
  * Log growth: one row per (order × batch that touched it) — in the
  * common case where an order's lines co-arrive, exactly one row per
  * order, the same footprint as a merged state. */
object DatamartStream {

  /** One micro-batch landing — exposed for direct replay testing.
    * Empty batches short-circuit: an empty FIRST batch must not create
    * the landing path as a bare directory [[mergedState]]'s schema
    * inference then chokes on. */
  def writeBatch(factBatch: DataFrame, batchId: Long, path: String): Unit = {
    if (factBatch.isEmpty) return
    StreamSink.writeBatch(DatamartIncr.orderState(factBatch), batchId, path)
  }

  /** Start the maintenance stream over arriving fact rows. */
  def run(factStream: DataFrame, path: String,
          checkpointDir: String): StreamingQuery =
    factStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, path)
      }
      .start()

  /** The whole-stream merged order-grain state from the landed log —
    * one keyed aggregation over ~|orders| rows. */
  def mergedState(spark: SparkSession, path: String): DataFrame =
    DatamartIncr.orderState(Tables.read(spark, path).drop("_batch_id"))

  /** Fold old `_batch_id` partitions into one merged-state snapshot,
    * keeping the `keepRecent` newest ids raw and replayable — bounds the
    * log's partition-directory count (and [[mergedState]]'s listing cost)
    * over a long-running stream. The fold IS [[mergedState]]'s own
    * aggregation, so compaction never changes an answer (min/sum
    * recombine; spec-pinned). Run from the same serial foreachBatch loop
    * as [[writeBatch]] — see [[BatchLog.compact]] for the replay and
    * crash-safety contract. Returns the folded batch ids. */
  def compact(spark: SparkSession, path: String,
              keepRecent: Int = 8): Seq[Long] =
    BatchLog.compact(spark, path, keepRecent, DatamartIncr.orderState)

  /** Current exact `customer_analytics` from the landed log — equals the
    * batch [[graft.operators.Datamart.customerAnalytics]] over everything
    * that has streamed through. */
  def currentAnalytics(spark: SparkSession, path: String,
                       dimCustomer: DataFrame,
                       anchor: DataFrame): DataFrame =
    DatamartIncr.customerAnalyticsFromState(
      mergedState(spark, path), dimCustomer, anchor)
}
