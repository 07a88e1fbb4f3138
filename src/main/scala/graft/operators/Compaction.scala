package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.sources.StatsIndex

/** Small-file compaction for VERSIONED partitioned parquet tables
  * ([[graft.operators.Upsert.mergeIntoVersioned]]).
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
  *  - census is a DRIVER-SIDE pass over the current manifest (bounded by
  *    file count, the same metadata a scan would list anyway) — no Spark
  *    job runs for the plan;
  *  - the rewrite reads each bad partition and `coalesce`s — NO shuffle,
  *    tasks just concatenate small files into big ones (bin-packing, not
  *    re-hashing; the bytes move once);
  *  - partitions already at-or-under their target file count are never
  *    read, never written — their manifest rows survive verbatim;
  *  - the rewrite commits through the versioned writers' one generation
  *    commit ([[graft.operators.Upsert.commitVersioned]]), so readers
  *    keep full snapshot isolation and the bloom relation stays whole;
  *  - re-running is a no-op (the census comes out empty once layout is
  *    good).
  */
object Compaction {

  /** Rewrite the fragmented partitions of a versioned table as a new
    * index generation — a reader pinned to the pre-compaction generation
    * keeps reading the old small files (on disk until vacuum), and the
    * change feed between the two generations is EMPTY by construction
    * (same rows, new layout — the invariant the spec pins).
    *
    * Forced by the manifest:
    *  - the census reads the MANIFEST, not the directory — a partition
    *    dir also holds replaced files from older generations, which are
    *    not part of the table and must be neither counted nor rewritten.
    *    A partition is rewritten when it has more files than its
    *    byte-derived target and at least `minFiles` (so a 2-file
    *    partition isn't churned for nothing);
    *  - each candidate partition is read as its manifest FILE LIST under
    *    the generation's recorded schema, so compaction also pays down
    *    schema-evolution debt: pre-evolution files are rewritten WITH
    *    the added columns (as nulls) and the null-fill read path retires
    *    for those rows;
    *  - nothing is deleted — old files leave the manifest and wait for
    *    `StatsIndex.vacuum` like any replaced generation's files.
    *
    * The partition columns are the generation's recorded ones, else the
    * `c=v` segments of the manifest's directories; the two must agree.
    *
    * @param zorderBy when non-empty, the rewrite Z-orders each compacted
    *   partition on these columns ([[ZOrder]]) instead of plain
    *   bin-packing — compaction is the moment a deployment applies layout
    *   optimization, since the bytes are being rewritten anyway. The
    *   price is one range exchange per partition (coalesce moves bytes
    *   once, clustering must also re-order them); the payoff is tight
    *   per-file min-max stats on every listed column for all later scans.
    *
    * Returns the committed generation, or None when every partition's
    * layout is already good (re-running converges to None). */
  def compactVersioned(spark: SparkSession, path: String, indexRoot: String,
                       targetBytes: Long, minFiles: Int = 4,
                       zorderBy: Seq[String] = Nil,
                       statsColumns: Seq[String] = Nil): Option[Long] = {
    require(targetBytes >= 1, s"targetBytes=$targetBytes must be >= 1")
    val (base, current) = Upsert.latestSnapshot(spark, path, indexRoot,
      "compactVersioned")
    require(base.nonEmpty,
      s"compactVersioned: no complete index generation under $indexRoot")
    val schema = StatsIndex.generationSchema(spark, indexRoot, base.get)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())

    // group by each file's partition directory RELATIVE to the root —
    // works for any nesting depth (a `(order_date, _batch_id)` landing
    // grain compacts like a flat one)
    val qroot = fs.makeQualified(root).toString
    val byPartition: Map[String, Seq[String]] = current.get
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq
      .groupBy(f => fs.makeQualified(new Path(f).getParent).toString
        .stripPrefix(qroot).stripPrefix("/"))
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
    val parsed = todo.map { case (dir, _, _) => StatsIndex.partitionOf(dir).map(_._1) }
    require(parsed.distinct.size == 1,
      s"compactVersioned: inconsistent partition layouts under $path")
    val partitionCols = StatsIndex.generationPartitionCols(spark, indexRoot,
      base.get).getOrElse(parsed.head)
    require(partitionCols == parsed.head,
      s"compactVersioned: recorded partition columns " +
        s"${partitionCols.mkString(", ")} disagree with the manifest's " +
        s"directories ${parsed.head.mkString(", ")} under $path")

    // optimistic commit: a merge racing this compaction wins or loses
    // cleanly — never a lost update (ConcurrentWriteException = retry)
    Some(Upsert.commitVersioned(spark, path, indexRoot, base, current,
      staging => todo.foreach { case (dir, files, target) =>
        val df = schema.fold(Tables.read(spark, files: _*))(
          spark.read.schema(_).parquet(files: _*))
        val out =
          if (zorderBy.isEmpty) df.coalesce(target)
          else ZOrder.clustered(df, zorderBy, target)
        out.write.mode("overwrite").parquet(s"$staging/$dir")
      },
      partitionCols, Nil, Nil, schema, statsColumns, Nil))
  }
}
