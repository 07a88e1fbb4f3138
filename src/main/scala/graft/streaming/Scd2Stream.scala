package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables
import graft.operators.Scd2

/** Incremental SCD2 dimension maintenance from a CDC stream — the
  * streaming twin of [[graft.operators.Scd2.fromHistory]] and the
  * streaming completion of the reference's daily MERGE loop
  * (/root/reference/sql/core/dim/dim_customers.sql runs once per
  * Airflow day; this maintains the same dimension continuously).
  *
  * The classic incremental MERGE (expire current row, insert new) is
  * WRONG under out-of-order arrival: a late event must insert a version
  * MID-history and can even resurrect an observation that was previously
  * collapsed as a non-change (same value as its then-predecessor). No
  * current-row-only state can reproduce that. The kappa-style shape here
  * is exact instead:
  *
  *  1. every micro-batch lands in a RAW observation log first
  *     ([[StreamSink.writeBatch]] — partitioned by key-hash bucket and
  *     batch id, so an at-least-once replay overwrites exactly its own
  *     partitions);
  *  2. the batch's touched BUCKETS (≤ nBuckets distinct values —
  *     driver-bounded by construction) drive a partition-pruned read of
  *     the raw log: only those buckets' full history is re-read;
  *  3. [[Scd2.fromHistory]] rebuilds those buckets' keys exactly — one
  *     keyed window over the touched slice, embarrassingly parallel;
  *  4. dynamic partition overwrite rewrites exactly the touched bucket
  *     partitions of the dimension. Untouched buckets are never read and
  *     never written.
  *
  * Scale: per batch the work is (touched buckets' history) — at
  * 100 TB/day with a reasonable nBuckets each batch re-derives a
  * bounded, pruned slice, not the dimension; the dim rewrite granularity
  * equals the rebuild granularity, so correctness never depends on
  * which rows changed, only on which buckets were touched. Replay is
  * convergent: the dim is a deterministic function of the raw log, and
  * the raw log write is idempotent per batch id.
  *
  * A null natural key hashes to xxhash64's seed bucket (Spark skips
  * null inputs), so no null partition directory can arise.
  */
object Scd2Stream {

  /** Key-hash bucket — the partition grain of BOTH the raw log and the
    * dimension (they must agree: rebuild reads raw by bucket and
    * rewrites dim by bucket). */
  def bucketOf(key: Column, nBuckets: Int): Column =
    pmod(xxhash64(key), lit(nBuckets.toLong))

  /** Auto-compaction policy for the maintenance loop — the
    * monitor-decide step that removes [[compactBuckets]]'s last manual
    * knob (the [[graft.operators.IvfPq.appendOrRebuild]] precedent):
    * after each batch's rebuild, a touched bucket whose raw-observation
    * count exceeds `ratio` × its version count (and carries at least
    * `minRawRows` observations — tiny buckets aren't worth a rewrite)
    * is compacted under a watermark of `max(event ts seen in the
    * touched slice) − lateness`. Both inputs are already on disk and
    * pruned to the touched buckets, so the decision costs two bucket-
    * grain aggregations of ≤ nBuckets rows each.
    *
    * `lateness` is the stream's bounded-lateness bargain (a Spark
    * interval string, e.g. "1 hour"): an arrival with event time ≤
    * max-seen − lateness would violate the bound, so compaction below
    * that watermark is EXACT (`ts` must be a timestamp for the interval
    * subtraction). The raw/version ratio of every bucket then stays
    * bounded by `ratio` plus one batch's worth of landings — the
    * property Scd2StreamSpec pins on a long feed. */
  final case class CompactionPolicy(ratio: Double = 3.0,
                                    minRawRows: Long = 256,
                                    lateness: String = "1 hour") {
    require(ratio > 1.0, s"compaction ratio=$ratio must exceed 1 " +
      "(a rebuild keeps at least one row per version)")
    require(minRawRows >= 0, s"minRawRows=$minRawRows")
  }

  /** One micro-batch apply — exposed for direct replay testing.
    * Raw landing first (idempotent per batch id), then touched-bucket
    * rebuild, then bucket-grain dim rewrite, then (when a
    * [[CompactionPolicy]] is supplied) ratio-triggered raw-log
    * compaction of the touched buckets. */
  def applyBatch(batch: DataFrame, batchId: Long,
                 rawPath: String, dimPath: String,
                 key: String, ts: String, tracked: String,
                 tieBreak: Seq[String] = Nil, nBuckets: Int = 64,
                 compaction: Option[CompactionPolicy] = None): Unit = {
    require(nBuckets >= 1, s"scd2Stream: nBuckets=$nBuckets")
    require(batch.columns.contains(key) && batch.columns.contains(ts) &&
        batch.columns.contains(tracked),
      s"scd2Stream: batch missing one of '$key'/'$ts'/'$tracked' " +
        s"(columns: ${batch.columns.mkString(", ")})")
    // the bucket column is OURS throughout the raw log and the dim — a
    // user column of the same name would be silently overwritten here and
    // materialized as a partition value downstream (the Compaction `_z`
    // lesson: never shadow user data in a path that persists)
    require(!batch.columns.contains("_kb"),
      "scd2Stream: batch already has a column named '_kb' — rename it; " +
        "'_kb' is the reserved key-hash bucket column")
    val spark = batch.sparkSession
    val kb = batch.withColumn("_kb", bucketOf(col(key), nBuckets))
    StreamSink.writeBatch(kb, batchId, rawPath, "_kb")
    // the touched-bucket plan: ≤ nBuckets rows by construction, so the
    // collect is driver-bounded regardless of batch size
    val touched = kb.select(col("_kb")).distinct().collect().map(_.getLong(0))
    if (touched.nonEmpty) {
      val history = Tables.read(spark, rawPath)
        .where(col("_kb").isin(touched.toSeq: _*))
        .drop("_batch_id")
      val rebuilt = Scd2.fromHistory(history, key, ts, tracked, tieBreak)
      graft.sources.RawLayer.appendPartitioned(rebuilt, dimPath, Seq("_kb"))
      compaction.foreach { pol =>
        maybeCompact(spark, rawPath, dimPath, touched.toSeq,
          key, ts, tracked, tieBreak, pol)
      }
    }
  }

  /** The monitor-decide step of a [[CompactionPolicy]]: measure each
    * touched bucket's raw/version ratio from the two on-disk relations
    * (both reads partition-pruned to `buckets`), compact the ones past
    * the threshold under the policy's lateness watermark. Returns the
    * compacted bucket ids (empty when nothing tripped). Runs from the
    * same serial foreachBatch loop as the landing — the
    * [[compactBuckets]] concurrency contract. */
  def maybeCompact(spark: SparkSession, rawPath: String, dimPath: String,
                   buckets: Seq[Long], key: String, ts: String,
                   tracked: String, tieBreak: Seq[String],
                   pol: CompactionPolicy): Seq[Long] = {
    if (buckets.isEmpty) return Nil
    // ≤ nBuckets rows each, by construction
    val rawStats = Tables.read(spark, rawPath)
      .where(col("_kb").isin(buckets: _*))
      .groupBy(col("_kb"))
      .agg(count(lit(1)).as("_raw"), max(col(ts)).as("_maxTs"))
    val verStats = Tables.read(spark, dimPath)
      .where(col("_kb").isin(buckets: _*))
      .groupBy(col("_kb")).agg(count(lit(1)).as("_ver"))
    val stats = rawStats.join(verStats, Seq("_kb"))
      .where(col("_raw") >= pol.minRawRows &&
        col("_raw") > lit(pol.ratio) * col("_ver"))
      // _kb read back from a partition path is an INT — cast before getLong
      .select(col("_kb").cast("long"), col("_maxTs")).collect()
    if (stats.isEmpty) return Nil
    val tripped = stats.map(_.getLong(0)).toSeq
    // ONE watermark for all tripped buckets: the global max event time
    // seen minus the lateness bound — the standard (monotone) streaming
    // watermark; per-bucket maxima would let a quiet bucket's watermark
    // lag behind the stream's actual progress for no exactness gain
    val maxTs = stats.map(r => r.getTimestamp(1)).max((a: java.sql.Timestamp,
      b: java.sql.Timestamp) => a.compareTo(b))
    val wm = lit(maxTs) - expr(s"INTERVAL ${pol.lateness}")
    compactBuckets(spark, rawPath, tripped, key, ts, tracked, tieBreak,
      watermark = Some(wm))
    tripped
  }

  /** Start the maintenance stream: each micro-batch applies via
    * [[applyBatch]]; `checkpointDir` carries the offsets that decide
    * which batch ids replay after restart. */
  def run(stream: DataFrame, rawPath: String, dimPath: String,
          checkpointDir: String, key: String, ts: String, tracked: String,
          tieBreak: Seq[String] = Nil, nBuckets: Int = 64,
          compaction: Option[CompactionPolicy] = None): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, rawPath, dimPath, key, ts, tracked,
          tieBreak, nBuckets, compaction)
      }
      .start()

  /** The maintained dimension, bucket column dropped — column contract
    * identical to [[Scd2.fromHistory]] so consumers can swap freely. */
  def readDim(spark: SparkSession, dimPath: String): DataFrame =
    Tables.read(spark, dimPath).drop("_kb")

  /** `_batch_id` partition value compacted observations land under. Real
    * batch ids are ≥ 0, so the sentinel never collides with a replay. */
  val CompactedBatchId: Long = -1L

  /** Bucket-grain raw-log compaction — the operator's real scale
    * ceiling removed: without it every touched-bucket rebuild re-reads
    * the bucket's FULL observation history, which at years of CDC grows
    * without bound. Compaction rewrites each bucket down to one
    * observation per (key, change) — exactly the rows
    * [[Scd2.fromHistory]]'s own change-collapse keeps, so a rebuild from
    * the compacted log is IDENTICAL to one from the full log (dropped
    * rows are precisely the rows `fromHistory` filters first; the spec
    * pins this on the out-of-order adversarial feed).
    *
    * LATE-ARRIVAL CONTRACT: a dropped non-change row can be resurrected
    * by a later event landing mid-history BEFORE it (the key-7 case in
    * Scd2StreamSpec) — compacting it away would lose that version. So
    * compaction takes a `watermark`: only rows with `ts ≤ watermark`
    * may be dropped; everything younger stays raw, change or not. Under
    * bounded lateness (no arrival carries a ts ≤ the chosen watermark),
    * a resurrecting insert below the watermark is impossible and
    * compaction is EXACT — the same bounded-lateness bargain a streaming
    * watermark always is. `watermark = None` compacts the whole bucket:
    * exact for the history seen so far, only safe once a bucket can no
    * longer receive late data.
    *
    * Crash safety rides the existing staged publish: the compacted
    * buckets land under a hidden `_staging_*` dir and replace their
    * `_kb=` partitions wholesale via [[graft.sources.RawLayer
    * .publishPartitions]] (aside-rename to trash, then in-rename — no
    * crash point destroys observations). Replay convergence is
    * preserved: a pre-compaction batch id replayed later re-lands its
    * rows alongside the compacted set, and `fromHistory` collapses the
    * duplicates — the dim is unchanged.
    *
    * Run it from the same serial `foreachBatch` loop as [[applyBatch]]
    * (micro-batches execute one at a time) — never concurrently with a
    * landing batch, whose partitions the wholesale bucket replace would
    * clobber. */
  def compactBuckets(spark: SparkSession, rawPath: String, buckets: Seq[Long],
                     key: String, ts: String, tracked: String,
                     tieBreak: Seq[String] = Nil,
                     watermark: Option[Column] = None): Unit = {
    if (buckets.isEmpty) return
    import org.apache.spark.sql.expressions.Window
    val raw = Tables.read(spark, rawPath)
      .where(col("_kb").isin(buckets: _*))
    val orderCols: Seq[Column] = col(ts) +: tieBreak.map(col)
    val w = Window.partitionBy(col(key)).orderBy(orderCols: _*)
    val nonChange = lag(col(tracked), 1).over(w) === col(tracked)
    val droppable = watermark match {
      case Some(wm) => nonChange && col(ts) <= wm
      case None => nonChange
    }
    val compacted = raw
      .withColumn("_drop", coalesce(droppable, lit(false)))
      .where(!col("_drop")).drop("_drop")
      .withColumn("_batch_id", lit(CompactedBatchId))
    val root = new org.apache.hadoop.fs.Path(rawPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new org.apache.hadoop.fs.Path(root,
      s"_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    compacted.write.mode("overwrite")
      .partitionBy("_kb", "_batch_id").parquet(staging.toString)
    graft.sources.RawLayer.publishPartitions(fs, staging, root)
  }
}
