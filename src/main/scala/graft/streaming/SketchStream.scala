package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.SketchStats

/** Continuous sketch maintenance — the streaming face of
  * [[SketchStats]]: every micro-batch lands its per-group sketch rows
  * (KB-scale) under its own `_batch_id` partition
  * ([[StreamSink.writeBatch]]), so an at-least-once replay rewrites EXACTLY its
  * own rows — the additive stats (`n_rows`, `sum_*`) stay exactly-once,
  * not just the union-idempotent HLL estimates. Monitoring questions
  * ("distinct urls so far", "did the p99 doc length move?") then read
  * [[SketchStats.merged]] over the landed rows — never the stream's
  * history.
  *
  * State is the sketch relation itself: no streaming aggregation state,
  * no watermark, unbounded keys welcome — each batch's groupBy is local
  * to the batch.
  */
object SketchStream {

  /** One micro-batch landing — exposed for direct replay testing. */
  def writeBatch(batch: DataFrame, batchId: Long, path: String,
                 keys: Seq[String], distinctCols: Seq[String],
                 sumCols: Seq[String] = Nil,
                 quantileCols: Seq[String] = Nil): Unit = {
    require(!keys.contains("_batch_id"),
      "sketchStream: '_batch_id' is the reserved replay-idempotency " +
        "partition column and cannot be a group key")
    StreamSink.writeBatch(
      SketchStats.sketchBatch(batch, keys, distinctCols, sumCols, quantileCols),
      batchId, path)
  }

  /** Start the maintenance stream. */
  def run(stream: DataFrame, path: String, checkpointDir: String,
          keys: Seq[String], distinctCols: Seq[String],
          sumCols: Seq[String] = Nil,
          quantileCols: Seq[String] = Nil): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, path, keys, distinctCols, sumCols, quantileCols)
      }
      .start()

  /** Current merged estimates over everything landed so far. */
  def stats(spark: SparkSession, path: String, keys: Seq[String]): DataFrame =
    SketchStats.mergedFrom(spark, path, keys)
}
