package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.operators.HeavyHitters

/** Continuous heavy-hitter monitoring — the streaming face of
  * [[HeavyHitters]], completing the monitoring family (HLL distincts /
  * KLL quantiles in [[SketchStream]], Misra–Gries frequencies here).
  *
  * Each micro-batch lands its OWN merged MG summary (≤ ⌈1/s⌉ rows of
  * `(key, cnt)`, KB-scale) under its `_batch_id` partition with dynamic
  * partition overwrite — the [[SketchStream]] replay discipline: an
  * at-least-once re-execution of a batch id rewrites exactly its own
  * partition, so the landed relation is exactly-once. MG summaries are
  * MERGEABLE (Agarwal et al. 2012): summing the landed counts per key
  * and applying one more cap-decrement yields a valid MG summary of the
  * ENTIRE stream — cumulative underestimation ≤ n/(cap+1), so an
  * s-frequent key (s > 1/(cap+1)) always survives. "Current heavy
  * hitters" is then answered by that merged SCREEN (bounded arithmetic
  * over cap×batches tiny rows — the per-key MG scan over history never
  * re-runs) plus ONE exact verify aggregation over the landed data,
  * counting candidates only — [[HeavyHitters.verifyFrequent]], the same
  * exact-threshold pass as batch, so streamed == batch exactly.
  *
  * Scale: per batch the landing costs one MG pass over the batch (the
  * work a batch screen would do anyway) and writes ≤ cap rows; the
  * query-time cost is the verify scan — the irreducible price of EXACT
  * counts — with its screen precomputed incrementally.
  */
object HeavyHittersStream {

  /** One micro-batch landing — exposed for direct replay testing.
    * Computes the batch's per-partition MG summaries, merges them to one
    * ≤ cap-row summary, and lands it under `_batch_id`. */
  def writeBatch(batch: DataFrame, batchId: Long, path: String,
                 keyCol: String, support: Double): Unit = {
    // empty-batch guard (the DatamartStream.writeBatch discipline): an
    // empty first batch must not create the path as a bare directory that
    // mergedCandidates' schema inference then chokes on
    if (batch.isEmpty) return
    val cap = HeavyHitters.capFor(support)
    val keys = batch.select(col(keyCol))
    val summary = HeavyHitters.mergeToCap(
      HeavyHitters.mgSummaries(keys, keyCol, cap), keyCol, cap)
    StreamSink.writeBatch(summary, batchId, path)
  }

  /** Start the maintenance stream. */
  def run(stream: DataFrame, path: String, checkpointDir: String,
          keyCol: String, support: Double): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, path, keyCol, support)
      }
      .start()

  /** The merged screen: ≤ cap candidate keys for the whole stream so
    * far, from the landed summaries alone (no data scan). A SUPERSET of
    * the true s-frequent keys by the mergeable-summaries bound; false
    * positives are culled by [[frequent]]'s verify. */
  def mergedCandidates(spark: SparkSession, path: String, keyCol: String,
                       support: Double): DataFrame =
    HeavyHitters.mergeToCap(
        Tables.read(spark, path).drop("_batch_id"),
        keyCol, HeavyHitters.capFor(support))
      .select(col(keyCol))

  /** Fold old `_batch_id` summary partitions into one ≤ cap-row merged
    * MG snapshot, keeping the `keepRecent` newest ids raw and replayable.
    * Valid because MG merges COMPOSE (Agarwal et al. 2012): snapshot ∪
    * later summaries cap-merged is still a whole-stream MG summary with
    * cumulative underestimation ≤ n/(cap+1), so [[mergedCandidates]]'
    * superset guarantee — and therefore [[frequent]]'s exactness — is
    * unchanged (spec-pinned). See [[BatchLog.compact]] for the replay
    * and crash-safety contract. Returns the folded batch ids. */
  def compact(spark: SparkSession, path: String, keyCol: String,
              support: Double, keepRecent: Int = 8): Seq[Long] =
    BatchLog.compact(spark, path, keepRecent, folded =>
      HeavyHitters.mergeToCap(folded, keyCol, HeavyHitters.capFor(support)))

  /** Current EXACT heavy hitters of `data` (the landed stream contents —
    * every row must have passed through [[writeBatch]] as part of some
    * batch, or the screen's superset guarantee does not cover it):
    * merged screen + one exact verify aggregation counting candidates
    * only. Result == [[HeavyHitters.frequent]](data) exactly. */
  def frequent(data: DataFrame, keyCol: String, support: Double,
               summariesPath: String): DataFrame = {
    val cands = mergedCandidates(data.sparkSession, summariesPath,
      keyCol, support)
    HeavyHitters.verifyFrequent(data.select(col(keyCol)), keyCol,
      cands, support)
  }
}
