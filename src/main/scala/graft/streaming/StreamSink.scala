package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Parquet sink for Structured Streaming with replay idempotency — the
  * streaming twin of the batch raw layer's partition-grain overwrite
  * ([[graft.sources.RawLayer.appendPartitioned]]).
  *
  * Spark's `foreachBatch` gives at-least-once batch delivery: after a
  * crash between "batch written" and "offsets committed", the SAME batch
  * id is re-executed on restart. Appending would duplicate it. Writing
  * each micro-batch under `(partitionCols..., _batch_id)` with dynamic
  * partition overwrite makes the replay rewrite exactly its own
  * partitions — exactly-once OUTPUT from at-least-once execution, with no
  * global commit log to coordinate at 100 TB/day (object-store rename per
  * batch partition is the only metadata op). Readers prune on the
  * partition columns; `_batch_id` subdirectories are transparent to them.
  * Every unversioned `_batch_id` log in the engine lands through
  * [[writeBatch]].
  */
object StreamSink {

  /** One micro-batch landing under zero or more partition columns plus
    * `_batch_id` — exposed for direct replay testing. */
  def writeBatch(batch: DataFrame, batchId: Long, outPath: String,
                 partitionCols: String*): Unit = {
    require(!batch.columns.contains("_batch_id"),
      "sink: batch already has a column named '_batch_id' — rename it; " +
        "'_batch_id' is the reserved replay-idempotency partition column")
    graft.sources.RawLayer.appendPartitioned(
      batch.withColumn("_batch_id", lit(batchId)), outPath,
      partitionCols :+ "_batch_id")
  }

  /** Start the stream: each micro-batch lands atomically-per-partition via
    * [[writeBatch]]; `checkpointDir` carries the offsets that decide which
    * batch ids replay after restart. */
  def partitionedParquet(stream: DataFrame, outPath: String,
                         checkpointDir: String,
                         partitionCol: String): StreamingQuery = {
    require(stream.columns.contains(partitionCol),
      s"sink: stream has no partition column '$partitionCol' " +
        s"(columns: ${stream.columns.mkString(", ")})")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, outPath, partitionCol)
      }
      .start()
  }
}
