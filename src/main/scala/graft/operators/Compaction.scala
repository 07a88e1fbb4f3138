package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.Tables

/** Small-file compaction for partitioned parquet tables.
  *
  * At 100 TB the silent killer is not data volume but FILE COUNT: a
  * streaming sink or a fine-grained MERGE leaves thousands of KB-sized
  * files per partition, and every downstream scan pays listing + open +
  * footer-parse per file (object-store listings are the worst case).
  * Compaction rewrites only the partitions whose layout is bad, into
  * `ceil(bytes / targetBytes)` files each — the Delta/Iceberg `OPTIMIZE`
  * idea re-expressed on plain parquet directories.
  *
  * Scale decisions:
  *  - census is a DRIVER-SIDE listing (bounded by file count, the same
  *    metadata a scan would list anyway) — no Spark job runs for the plan;
  *  - the rewrite reads each bad partition and `coalesce`s — NO shuffle,
  *    tasks just concatenate small files into big ones (bin-packing, not
  *    re-hashing; the bytes move once);
  *  - partitions already at-or-under their target file count are never
  *    read, never written — their files stay byte-identical;
  *  - the rewrite lands under a hidden `_staging_*` prefix and moves into
  *    place per-partition via [[graft.sources.RawLayer]]'s publish
  *    machinery (rename-atomic on HDFS/POSIX): a crash before publish
  *    leaves the table untouched, and publish renames each old partition
  *    ASIDE into a hidden `_trash_*` dir before renaming the new one in —
  *    no crash point destroys data (worst case: one partition momentarily
  *    absent from discovery, its old files recoverable from trash);
  *  - re-running is a no-op (the plan comes out empty once layout is good).
  */
object Compaction {

  /** One partition's layout census + target. `compact` = the rewrite
    * predicate: more files than the byte-derived target (and at least
    * `minFiles`, so a 2-file partition isn't churned for nothing). */
  case class PartitionPlan(partition: String, nFiles: Int, bytes: Long,
                           targetFiles: Int, compact: Boolean)

  case class Report(partitionsCompacted: Int, filesBefore: Int, filesAfter: Int,
                    bytesRewritten: Long)

  private def dataFiles(fs: FileSystem, dir: Path) =
    fs.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Census every `col=value` partition directory under `path` (driver-side
    * listing only — no job). */
  def plan(spark: SparkSession, path: String, targetBytes: Long,
           minFiles: Int = 4): Seq[PartitionPlan] = {
    require(targetBytes >= 1, s"targetBytes=$targetBytes must be >= 1")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .sortBy(_.getPath.getName)
      .map { st =>
        val files = dataFiles(fs, st.getPath)
        val bytes = files.map(_.getLen).sum
        val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        PartitionPlan(st.getPath.getName, files.length, bytes, target,
          compact = files.length > target && files.length >= minFiles)
      }.toSeq
  }

  /** Rewrite exactly the partitions [[plan]] flags, staged-atomic.
    *
    * @param zorderBy when non-empty, the rewrite Z-orders each compacted
    *   partition on these columns ([[ZOrder]]) instead of plain
    *   bin-packing — compaction is the moment a deployment applies layout
    *   optimization, since the bytes are being rewritten anyway. The
    *   price is one range exchange per partition (coalesce moves bytes
    *   once, clustering must also re-order them); the payoff is tight
    *   per-file min-max stats on every listed column for all later scans.
    *   Good partitions still skip the rewrite entirely, so repeated runs
    *   converge to a no-op either way. */
  def compact(spark: SparkSession, path: String, targetBytes: Long,
              minFiles: Int = 4, zorderBy: Seq[String] = Nil): Report = {
    val todo = plan(spark, path, targetBytes, minFiles).filter(_.compact)
    if (todo.isEmpty) return Report(0, 0, 0, 0L)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new Path(root,
      s"_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      todo.foreach { p =>
        val df = Tables.read(spark, s"$path/${p.partition}")
        val out =
          if (zorderBy.isEmpty) df.coalesce(p.targetFiles)
          else ZOrder.clustered(df, zorderBy, p.targetFiles)
        out.write.mode("overwrite").parquet(s"$staging/${p.partition}")
      }
      graft.sources.RawLayer.publishPartitions(fs, staging, root)
    } catch {
      case e: Throwable =>
        fs.delete(staging, true)
        throw e
    }
    val after = todo.map(p =>
      dataFiles(fs, new Path(root, p.partition)).length).sum
    Report(todo.size, todo.map(_.nFiles).sum, after, todo.map(_.bytes).sum)
  }

  /** [[compact]] for a VERSIONED table
    * ([[graft.operators.Upsert.mergeIntoVersioned]]): the rewrite
    * commits as a new index generation instead of renaming directories,
    * so readers keep full snapshot isolation — a reader pinned to the
    * pre-compaction generation keeps reading the old small files
    * (on disk until vacuum), and the change feed between the two
    * generations is EMPTY by construction (same rows, new layout — the
    * invariant the spec pins).
    *
    * Differences from the in-place flow, all forced by the manifest:
    *  - the census reads the MANIFEST, not the directory — a partition
    *    dir also holds replaced files from older generations, which are
    *    not part of the table and must be neither counted nor rewritten;
    *  - each candidate partition is read as its manifest FILE LIST under
    *    the generation's recorded schema, so compaction also pays down
    *    schema-evolution debt: pre-evolution files are rewritten WITH
    *    the added columns (as nulls) and the null-fill read path retires
    *    for those rows;
    *  - nothing is deleted — old files leave the manifest and wait for
    *    `StatsIndex.vacuum` like any replaced generation's files.
    *
    * Returns the committed generation, or None when every partition's
    * layout is already good (re-running converges to None). */
  def compactVersioned(spark: SparkSession, path: String, indexRoot: String,
                       partitionCol: String, targetBytes: Long,
                       minFiles: Int = 4, zorderBy: Seq[String] = Nil,
                       statsColumns: Seq[String] = Nil): Option[Long] = {
    require(targetBytes >= 1, s"targetBytes=$targetBytes must be >= 1")
    import graft.sources.StatsIndex
    val gens = StatsIndex.generations(spark, indexRoot)
    require(gens.nonEmpty,
      s"compactVersioned: no complete index generation under $indexRoot")
    val current = StatsIndex.load(spark, s"$indexRoot/_v=${gens.last}")
      .localCheckpoint()
    val schema = StatsIndex.generationSchema(spark, indexRoot, gens.last)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())

    // group by each file's partition directory RELATIVE to the root —
    // works for any nesting depth (a `(order_date, _batch_id)` landing
    // grain compacts like a flat one); `partitionCol` is only the
    // recorded-partition-columns fallback for pre-recording generations
    val qroot = fs.makeQualified(root).toString
    val byPartition: Map[String, Seq[String]] = current
      .select(org.apache.spark.sql.functions.col("file")).distinct()
      .collect().map(_.getString(0)).toSeq
      .groupBy { f =>
        val parent = new Path(f).getParent
        parent.getFileSystem(spark.sessionState.newHadoopConf())
          .makeQualified(parent).toString
          .stripPrefix(qroot).stripPrefix("/")
      }
      .filter { case (rel, _) =>
        rel.nonEmpty && rel.split('/').forall(_.contains("=")) }
    val todo = byPartition.toSeq.sortBy(_._1).flatMap { case (dir, files) =>
      val bytes = files.map(f => fs.getFileStatus(new Path(f)).getLen).sum
      val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      if (files.length > target && files.length >= minFiles)
        Some((dir, files, target))
      else None
    }
    if (todo.isEmpty) return None
    val parts = todo.map { case (dir, _, _) => StatsIndex.partitionOf(dir) }
    val cols = parts.head.map(_._1)
    require(parts.forall(_.map(_._1) == cols),
      s"compactVersioned: inconsistent partition layouts under $path")

    val staging = new Path(root,
      s"_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      todo.foreach { case (dir, files, target) =>
        val df = schema.fold(Tables.read(spark, files: _*))(
          spark.read.schema(_).parquet(files: _*))
        val out =
          if (zorderBy.isEmpty) df.coalesce(target)
          else ZOrder.clustered(df, zorderBy, target)
        out.write.mode("overwrite").parquet(s"$staging/$dir")
      }
      // move in under fresh names, commit = next generation
      val runId = java.util.UUID.randomUUID().toString.take(8)
      val movedIn = todo.flatMap { case (dir, _, _) =>
        val target = new Path(root, dir)
        fs.mkdirs(target)
        fs.listStatus(new Path(staging, dir)).toSeq
          .filter(f => !f.isDirectory &&
            f.getPath.getName.endsWith(".parquet") &&
            !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .map { f =>
            val in = new Path(target, s"compact-$runId-${f.getPath.getName}")
            if (!fs.rename(f.getPath, in)) throw new java.io.IOException(
              s"compactVersioned: rename ${f.getPath} -> $in failed")
            fs.makeQualified(in).toString
          }
      }
      // survivors: manifest rows outside every compacted partition
      val fresh = StatsIndex.statsForFiles(spark, movedIn, statsColumns)
      val nextGen = StatsIndex.restrictToPartitions(current, cols,
        parts.map(_.map(_._2)), keep = false).unionByName(fresh)
      val partCols = StatsIndex.generationPartitionCols(spark, indexRoot,
        gens.last).getOrElse(Seq(partitionCol))
      // optimistic commit: a merge racing this compaction wins or loses
      // cleanly — never a lost update (ConcurrentWriteException = retry)
      Some(StatsIndex.saveGeneration(nextGen, indexRoot, schema, partCols,
        expectedBase = Some(gens.last)))
    } finally fs.delete(staging, true)
  }
}
