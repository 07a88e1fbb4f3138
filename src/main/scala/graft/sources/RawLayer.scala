package graft.sources

import org.apache.spark.sql.DataFrame

/** Raw-layer parquet writes: the reference's write dispositions on
  * partitioned immutable storage.
  */
object RawLayer {

  /** WRITE_APPEND with backfill idempotency: dynamic partition overwrite
    * replaces exactly the partitions present in this batch — re-running a
    * day never duplicates it (reference gets this from MERGE; we get it
    * from partition-grain overwrite, which at 100 TB is also the only
    * affordable variant). The engine's one in-place partition-grain
    * overwrite: the `_batch_id` logs of
    * [[graft.streaming.StreamSink.writeBatch]] and the bucket, state and
    * change-feed landings all write through here.
    */
  def appendPartitioned(df: DataFrame, outPath: String,
                        partitionCols: Seq[String] = Seq("ingestion_date")): Unit = {
    // per-WRITE option, never a session conf: a session-level set would
    // silently turn every co-resident job's plain overwrite into
    // partition-grain overwrite for the rest of the application
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(outPath)
  }

  /** WRITE_TRUNCATE: full refresh (datamart layer). */
  def truncateWrite(df: DataFrame, outPath: String): Unit =
    df.write.mode("overwrite").parquet(outPath)

  /** Retention for orphaned hidden `_trash_*`/`_staging_*` dirs left under
    * dest by a CRASHED publish: the next successful publish sweeps them once
    * older than this. Generous, so a slow concurrent publish's live staging
    * or trash can never be reaped out from under it. */
  private[graft] val OrphanRetentionMs: Long = 24L * 3600 * 1000

  /** Delete hidden publish-machinery dirs under `dest` older than
    * [[OrphanRetentionMs]] — a crashed run's `_trash_*` (recovery window
    * expired) and `_staging_*` (never published, dead weight). Both prefixes
    * start with `_` so partition discovery never saw them; this only stops
    * unbounded storage growth across crashes. */
  private[graft] def sweepOrphans(fs: org.apache.hadoop.fs.FileSystem,
                                  dest: org.apache.hadoop.fs.Path): Unit = {
    val cutoff = System.currentTimeMillis() - OrphanRetentionMs
    if (fs.exists(dest))
      fs.listStatus(dest)
        .filter { st =>
          val n = st.getPath.getName
          st.isDirectory && (n.startsWith("_trash_") || n.startsWith("_staging_")) &&
            st.getModificationTime < cutoff
        }
        .foreach(st => fs.delete(st.getPath, true))
  }

  /** Move every `col=value` partition directory from `staging` into `dest`,
    * replacing same-name partitions (partition-grain overwrite, the publish
    * half of the staged [[Loaded.writeRaw]]), then drop the staging dir.
    *
    * Crash safety: a replaced partition is renamed ASIDE into a hidden
    * `_trash_*` sibling (invisible to partition discovery) before the new
    * directory renames in — never delete-then-rename. The trash is dropped
    * only after EVERY partition has landed. So no crash point destroys
    * data: the worst case (crash between the aside-rename and the in-rename)
    * leaves that one partition momentarily absent from discovery with its
    * old files intact under `_trash_*` for recovery; every other crash
    * point leaves each partition fully old or fully new.
    *
    * Live-process failure (an in-rename returns false with the process still
    * alive): the aside copy is renamed BACK into place before throwing, so a
    * non-crash failure never leaves a partition absent — only a genuine
    * crash can, and then the data still survives in `_trash_*`. Orphaned
    * trash/staging from previous crashed runs is swept here once past
    * [[OrphanRetentionMs]].
    *
    * Returns the published partition directories under `dest` — the
    * exact delta a downstream [[graft.sources.StatsIndex.updateFiles]]
    * can index without re-walking the table. */
  private[graft] def publishPartitions(fs: org.apache.hadoop.fs.FileSystem,
                                       staging: org.apache.hadoop.fs.Path,
                                       dest: org.apache.hadoop.fs.Path
                                      ): Seq[org.apache.hadoop.fs.Path] = {
    fs.mkdirs(dest)
    sweepOrphans(fs, dest)
    val trash = new org.apache.hadoop.fs.Path(dest,
      s"_trash_${java.util.UUID.randomUUID().toString.take(8)}")
    var trashUsed = false
    val published = fs.listStatus(staging)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map { st =>
        val target = new org.apache.hadoop.fs.Path(dest, st.getPath.getName)
        val aside: Option[org.apache.hadoop.fs.Path] =
          if (!fs.exists(target)) None
          else {
            if (!trashUsed) { fs.mkdirs(trash); trashUsed = true }
            val a = new org.apache.hadoop.fs.Path(trash, st.getPath.getName)
            if (!fs.rename(target, a)) throw new java.io.IOException(
              s"publish: aside-rename $target -> $a failed")
            Some(a)
          }
        if (!fs.rename(st.getPath, target)) {
          // still alive: restore the displaced partition so a non-crash
          // failure leaves dest availability unchanged
          val restored = aside.exists(a => fs.rename(a, target))
          throw new java.io.IOException(
            s"publish: rename ${st.getPath} -> $target failed" + (aside match {
              case Some(_) if restored => "; previous partition restored in place"
              case Some(a) => s"; ROLLBACK ALSO FAILED — previous partition preserved at $a"
              case None => ""
            }))
        }
        target
      }
    if (trashUsed) fs.delete(trash, true)
    fs.delete(staging, true)
    published.toSeq
  }

  /** Parquet files directly under the given partition directories — the
    * publish delta, listed with one `listStatus` per partition instead of
    * a table walk. */
  private[graft] def partitionFiles(fs: org.apache.hadoop.fs.FileSystem,
                                    dirs: Seq[org.apache.hadoop.fs.Path]): Seq[String] =
    dirs.flatMap { d =>
      fs.listStatus(d).toSeq
        .filter(st => !st.isDirectory && st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
        .map(_.getPath.toString)
    }
}
