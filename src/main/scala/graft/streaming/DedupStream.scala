package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Materialize
import graft.operators.{Dedup, DedupStore}

/** The production streaming dedup loop — probe, verdict, append — with
  * the within-batch new×new leg CLOSED: [[DedupStore.streamingCandidates]]
  * alone deliberately omits it (a stream-stream self-join needs an
  * event-time watermark the dedup domain doesn't have), which lets two
  * copies arriving in one micro-batch both pass. Here each micro-batch
  * runs [[DedupStore.incrementalVerdicts]] instead: new×history through
  * the band equi-join against the persisted store, new×new through the
  * batch's own bounded band self-join (one micro-batch × itself — the
  * keep-first convention keeps exactly the lowest id of a same-batch
  * burst), then appends ONLY the survivors' fingerprints, so the store
  * stays canonical.
  *
  * Replay (at-least-once `foreachBatch`) converges:
  *  - verdicts land under a `_batch_id` partition
  *    ([[StreamSink.writeBatch]]) — a replay rewrites its own rows;
  *  - the store append is [[StreamSink.writeBatch]] under
  *    `(band, _batch_id)` — same property;
  *  - a replayed batch that already half-landed sees its own ids in the
  *    store, but [[DedupStore.incrementalVerdicts]] treats ids present in
  *    the CURRENT batch as new (lower-id rule), so the verdicts are
  *    identical to the first attempt (spec-pinned).
  *
  * `storePath` is OWNED by this loop (partition layout
  * `band=N/_batch_id=M`). Seed history by feeding it as the first batch
  * or via [[applyBatch]] with a reserved id — never by
  * [[DedupStore.save]], whose band-only layout differs in depth.
  */
object DedupStream {

  /** One micro-batch: verdicts vs (store ∪ this batch), then append the
    * survivors' fingerprints. Exposed for direct replay testing.
    *
    * Cost note: the batch is fingerprinted twice (once inside
    * `incrementalVerdicts`, once for the survivors' append) — both are
    * map-side md5-over-shingles passes over the BATCH only, never the
    * store; at streaming batch sizes that second map pass is noise next
    * to the store probe, and it keeps `DedupStore`'s API surface
    * unchanged. */
  def applyBatch(batch: DataFrame, batchId: Long, idCol: String,
                 textCol: String, storePath: String, verdictsPath: String,
                 threshold: Double = 0.75): Unit = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val store =
      if (fs.exists(new org.apache.hadoop.fs.Path(storePath)))
        DedupStore.load(spark, storePath)
      else // first batch: an empty relation with the band schema
        Dedup.lshBands(
          Dedup.minhashSignatures(batch.limit(0), idCol, textCol), idCol)
    // one verdict relation feeds both the sink and the append filter
    val verdicts = Materialize.pin(
      DedupStore.incrementalVerdicts(batch, idCol, textCol, store, threshold))
    StreamSink.writeBatch(verdicts, batchId, verdictsPath)
    val survivors = batch.join(
      verdicts.where(!col("is_dup")).select(col(idCol)), Seq(idCol))
    StreamSink.writeBatch(
      Dedup.lshBands(Dedup.minhashSignatures(survivors, idCol, textCol), idCol),
      batchId, storePath, "band")
  }

  /** Start the loop: each micro-batch probes, verdicts, and appends via
    * [[applyBatch]]. Micro-batches execute serially, so the
    * read-store-then-append cycle never races itself. */
  def run(stream: DataFrame, idCol: String, textCol: String,
          storePath: String, verdictsPath: String, checkpointDir: String,
          threshold: Double = 0.75): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, idCol, textCol, storePath, verdictsPath,
          threshold)
      }
      .start()
}
