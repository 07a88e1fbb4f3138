package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Partition-count compaction for `_batch_id`-partitioned landed logs
  * ([[DatamartStream]], [[HeavyHittersStream]], [[SketchStream]]).
  *
  * The replay discipline those streams share — each micro-batch lands
  * under its own `_batch_id` partition with dynamic overwrite — accrues
  * one partition DIRECTORY per batch forever: even when every landing is
  * KB-scale, a long-running stream's merged reads pay file-listing and
  * footer overhead linear in total batch count. Because each stream's
  * landed rows are MERGEABLE (order-grain states min/sum-recombine, MG
  * summaries cap-merge, sketches union), old partitions can fold into one
  * merged snapshot under the [[CompactedBatchId]] sentinel without
  * changing any downstream answer — the stream-specific `fold` IS the
  * same aggregation its `merged*` reader already applies, so
  * fold-then-merge == merge (associativity), spec-pinned per stream.
  *
  * REPLAY CONTRACT: only batch ids that can no longer re-execute may
  * fold — a replayed id whose rows are already inside the snapshot would
  * re-land its partition and double-count. Structured Streaming's
  * foreachBatch replays at most the final un-checkpointed batch on
  * restart, so `keepRecent ≥ 1` suffices; keep headroom anyway (the
  * default gives plenty) — the [[Scd2Stream.CompactionPolicy]] lateness
  * bargain, in batch-id units.
  *
  * Crash safety is the aside-rename discipline of
  * [[graft.sources.RawLayer.publishPartitions]]: the merged snapshot is
  * fully written under a hidden `_staging_*` dir first, folded partitions
  * rename ASIDE into hidden `_trash_*` (never deleted in place), then the
  * snapshot renames in. No crash point destroys observations; the worst
  * window (crash between the asides and the in-rename) leaves the folded
  * rows absent from discovery but intact under `_trash_*` for recovery,
  * exactly the contract the bucket compactor documents. Run it from the
  * same serial `foreachBatch` loop as the landings — never concurrently
  * with a batch write.
  *
  * READER RACE: between the aside-renames and the snapshot rename-in,
  * the folded rows are invisible to a CONCURRENT merged read — a reader
  * in that window transiently under-counts. Readers must serialize with
  * `compact` (in practice: read from the same foreachBatch loop that
  * compacts, as every stream here does); an any-instant external read
  * guarantee holds only OUTSIDE the compaction window.
  */
object BatchLog {

  /** `_batch_id` value merged snapshots land under. Real batch ids are
    * ≥ 0, so the sentinel never collides with a replay. */
  val CompactedBatchId: Long = -1L

  /** Batch ids present on disk, read from partition DIRECTORY names
    * alone — metadata-scale, no data files opened. */
  def batchIds(spark: SparkSession, path: String): Seq[Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("_batch_id="))
      .map(_.getPath.getName.stripPrefix("_batch_id=").toLong)
      .sorted
  }

  /** Fold every batch partition except the `keepRecent` newest (plus any
    * previous snapshot) into one merged [[CompactedBatchId]] partition.
    * `fold` receives the to-be-folded rows with `_batch_id` dropped and
    * must return rows in the log's row schema — the stream's own merge
    * aggregation. Returns the folded REAL batch ids (empty when fewer
    * than `keepRecent + 1` real partitions exist — nothing to gain). */
  def compact(spark: SparkSession, path: String, keepRecent: Int,
              fold: DataFrame => DataFrame): Seq[Long] = {
    require(keepRecent >= 1,
      s"batchLog.compact: keepRecent=$keepRecent — at least the final " +
        "batch id must stay raw (it can replay after a restart)")
    val ids = batchIds(spark, path)
    val real = ids.filter(_ != CompactedBatchId)
    val foldReal = real.dropRight(keepRecent)
    if (foldReal.isEmpty) return Nil
    val foldSet = foldReal ++ ids.filter(_ == CompactedBatchId)
    // partition values read back from paths are INTs — cast before isin
    val merged = fold(
        Tables.read(spark, path)
          .where(col("_batch_id").cast("long").isin(foldSet: _*))
          .drop("_batch_id"))
      .withColumn("_batch_id", lit(CompactedBatchId))
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    graft.sources.RawLayer.sweepOrphans(fs, root)
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new Path(root, s"_staging_$tag")
    merged.write.mode("overwrite").partitionBy("_batch_id")
      .parquet(staging.toString)
    val snap = s"_batch_id=$CompactedBatchId"
    val stagedSnap = new Path(staging, snap)
    // an EMPTY fold writes no partition dir at all (possible: MG
    // cap-decrement can eliminate every candidate, folding real rows to
    // nothing). The correct snapshot is then ABSENCE — merging zero rows
    // is neutral for every downstream reader — so the folded partitions
    // still retire, just with no snapshot renamed in. Check BEFORE the
    // aside-renames: discovering the missing dir after them would crash
    // the stream with the folded rows stranded in _trash_* (reaped by
    // the 24h orphan sweep).
    val haveSnap = fs.exists(stagedSnap)
    val trash = new Path(root, s"_trash_$tag")
    fs.mkdirs(trash)
    foldSet.foreach { id =>
      val dir = new Path(root, s"_batch_id=$id")
      if (fs.exists(dir) && !fs.rename(dir, new Path(trash, dir.getName)))
        throw new java.io.IOException(
          s"batchLog.compact: aside-rename $dir failed")
    }
    if (haveSnap && !fs.rename(stagedSnap, new Path(root, snap)))
      throw new java.io.IOException(
        s"batchLog.compact: snapshot rename into $root failed — folded " +
          s"partitions preserved under $trash")
    fs.delete(trash, true)
    fs.delete(staging, true)
    foldReal
  }
}
