package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MERGE/upsert semantics on immutable storage.
  *
  * The reference leans on BigQuery `MERGE` (fact_orders.sql:59-77,
  * dim_*.sql) for idempotent re-runs. Parquet has no row-level UPDATE, so
  * Spark-first the same guarantee comes from latest-wins deduplication plus
  * (at write time) dynamic partition overwrite — re-running a day replaces
  * exactly that day's partition.
  *
  * One shuffle on the merge key; map-side nothing is wasted because the
  * window and the final projection pipeline in the same stage after the
  * exchange.
  */
object Upsert {

  /** Latest-wins merge of `updates` into `base` on `keys`: any key present in
    * `updates` takes the update row, others keep the base row. Row count ==
    * distinct keys of the union.
    */
  def merge(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = base.columns.toSeq
    val tagged = base.withColumn("_src", lit(0))
      .unionByName(updates.selectExpr(cols: _*).withColumn("_src", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("_src").desc)
    tagged
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_src", "_rn")
  }

  /** Storage-level MERGE into a persisted, partitioned parquet table — the
    * analogue of the reference's `MERGE core.fact_orders USING batch ON
    * keys WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT`
    * (fact_orders.sql:59-77), scaled to immutable storage:
    *
    *  1. plan = the updates' distinct `partitionCol` values (a fact batch
    *     touches a handful of days — tiny, collected driver-side);
    *  2. read ONLY those partitions of the table (partition-pruned scan —
    *     the 100 TB table is never scanned, never rewritten wholesale);
    *  3. [[merge]] latest-wins on `keys`: matched keys take the update
    *     row, unmatched table rows survive, new keys insert;
    *  4. staged-atomic rewrite of EXACTLY the touched partition
    *     directories: the merged slice lands under a hidden `_staging_*`
    *     prefix (invisible to partition discovery), then each `col=value`
    *     directory moves into place ([[graft.sources.RawLayer]] publish
    *     machinery — per-partition rename, atomic on HDFS/POSIX).
    *
    * Untouched partitions are never read and never written — their files
    * stay byte-identical. Re-running the same batch is idempotent
    * (latest-wins yields the same rows). A crash before publish leaves
    * the staging dir behind and the table exactly as it was. During
    * publish a replaced partition is renamed aside into a hidden
    * `_trash_*` dir before the new one renames in, so the worst crash
    * point leaves that one partition momentarily absent from discovery but
    * recoverable from trash — every other crash point leaves each
    * partition fully old or fully new, and no crash point destroys data.
    * A live-process rename failure rolls the aside copy back in place
    * before throwing (see [[graft.sources.RawLayer.publishPartitions]]).
    *
    * Contract: `updates` carries the table's full schema; `partitionCol`
    * values must be non-null and STABLE per key (a key whose partition
    * value changes between runs would leave its old row in an untouched
    * partition — the same constraint BigQuery's pruned MERGE ON
    * `target.day IN (...)` optimization imposes). First run (no table at
    * `path`) degenerates to a plain partitioned write of `updates`.
    *
    * `statsIndexPath`: with a [[graft.sources.StatsIndex]] over the
    * table, the slice read takes its file list FROM THE INDEX
    * ([[graft.sources.StatsIndex.partitionFiles]]) instead of listing
    * the whole table tree and pruning afterwards — at millions of files
    * the listing is the planning cost, and a merge touching two days
    * should pay two directories' worth of it. After publish the touched
    * partitions' index rows are replaced
    * ([[graft.sources.StatsIndex.replacePartitions]]), so the index
    * keeps matching the table across merges. The index must cover the
    * table (e.g. maintained by the ingest publish path); it IS the
    * listing here, so a stale index would read stale files — that is
    * why this merge refreshes it in the same call.
    *
    * `bloomsPath` (requires `statsIndexPath`): with a per-file Bloom
    * membership index over `bloomColumns` (⊆ `keys` — the
    * high-cardinality ones), the touched partitions' files split by
    * whether their blooms admit ANY of the updates' key values
    * ([[graft.sources.StatsIndex.pruneFilesBloomAny]], per-column
    * verdicts intersected — sound: a file holding a full matching key
    * survives every column's test). Files proven key-free PASS THROUGH
    * to the rewrite without entering [[merge]]'s key shuffle — exact,
    * because latest-wins leaves unmatched rows untouched; files absent
    * from the bloom relation are unknown and take the merge path. For a
    * point-update batch on a big partition that turns the merge's
    * shuffle from |partition| into |files actually holding the keys| —
    * the regime where partition pruning alone stops helping (every file
    * of the day spans the full key range, min/max useless). The rewrite
    * IO is unchanged (partition-overwrite semantics); the probe set is
    * the updates' distinct key values, driver-collected and capped at
    * `maxBloomProbeKeys` (a bigger batch skips the split — it would
    * touch most files anyway). After publish the bloom index reconciles
    * via [[graft.sources.StatsIndex.updateBlooms]], exactly as the
    * stats index does.
    */
  def mergeInto(path: String, updates: DataFrame, keys: Seq[String],
                partitionCol: String,
                statsIndexPath: Option[String] = None,
                statsColumns: Seq[String] = Nil,
                bloomsPath: Option[String] = None,
                bloomColumns: Seq[String] = Nil,
                maxBloomProbeKeys: Int = 100000,
                bloomItemsPerFile: Long = 1L << 20,
                bloomFpp: Double = 0.01,
                deletes: Option[DataFrame] = None): Unit = {
    require(keys.nonEmpty, "mergeInto: empty key list")
    // `deletes`: keys to REMOVE (MERGE's WHEN MATCHED DELETE), carrying
    // the key columns + partitionCol (the partitions to touch). Applied
    // AFTER updates — a key both updated and deleted in one call ends
    // deleted. A partition emptied entirely has its directory removed
    // after publish (a crash between publish and that removal leaves the
    // old generation readable; re-running the same merge converges —
    // deletes re-apply idempotently). Null delete keys match nothing
    // (equality semantics), like any anti-join.
    deletes.foreach { d =>
      val missing = (keys :+ partitionCol).filterNot(d.columns.contains)
      require(missing.isEmpty,
        s"mergeInto: deletes frame lacks column(s) ${missing.mkString(", ")}")
    }
    require(!keys.contains(partitionCol),
      s"mergeInto: partitionCol '$partitionCol' cannot be a merge key " +
        "(within one partition it is constant; as a key it would make " +
        "every row its own match group)")
    require(bloomsPath.isEmpty || statsIndexPath.nonEmpty,
      "mergeInto: bloomsPath needs statsIndexPath (the index IS the file " +
        "listing the bloom split refines)")
    require(bloomsPath.isEmpty || (bloomColumns.nonEmpty &&
        bloomColumns.forall(keys.contains)),
      s"mergeInto: bloomColumns must be a non-empty subset of the merge " +
        s"keys; got ${bloomColumns.mkString(", ")}")
    val spark = updates.sparkSession
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sessionState.newHadoopConf())
    val exists = fs.exists(dest) &&
      fs.listStatus(dest).exists(st =>
        st.isDirectory && st.getPath.getName.contains("="))
    // the touched-partition plan: tiny (one row per distinct batch
    // partition), collected to drive partition pruning on the read —
    // deletes' partitions are touched too (their rows must be read to
    // be dropped, even when no update lands there)
    val touched = deletes.fold(updates.select(col(partitionCol)))(d =>
        updates.select(col(partitionCol))
          .unionByName(d.select(col(partitionCol))))
      .distinct().collect().map(_.get(0)).toSeq
    require(!touched.contains(null),
      s"mergeInto: updates/deletes carry a NULL $partitionCol — a null " +
        "partition cannot be pruned or published atomically")
    // bloom probes must cover DELETED keys too: a file holding only a
    // deleted key must enter the merge slice, never pass through
    val probeKeys = deletes.fold(updates.select(keys.map(col): _*))(d =>
      updates.select(keys.map(col): _*)
        .unionByName(d.select(keys.map(col): _*)))
    def applyDeletes(df: DataFrame): DataFrame = deletes.fold(df)(d =>
      df.join(d.select(keys.map(col): _*), keys, "left_anti"))
    def partDirName(v: Any): String =
      graft.sources.StatsIndex.partitionDir(spark, Seq(partitionCol), Seq(v))
    val merged =
      if (!exists) applyDeletes(updates)
      else {
        def emptySlice = spark.read.parquet(path).where(lit(false))
        val (mergeSlice, passThrough): (DataFrame, Option[DataFrame]) =
          statsIndexPath match {
            case Some(idx) =>
              // file list from the index relation — no table-tree listing;
              // basePath keeps the partition column parsed from the paths
              val files = graft.sources.StatsIndex.partitionFiles(
                graft.sources.StatsIndex.load(spark, idx), partitionCol, touched)
              // safety invariant: a touched partition that EXISTS on disk
              // must be represented in the index — an unmatched existing
              // partition (stale index, or a partition value Spark
              // path-escapes so the segment match misses) would silently
              // DROP its rows from the merge and then overwrite the
              // directory. One bounded exists() per touched partition.
              val unmatched = touched.filter { v =>
                fs.exists(new org.apache.hadoop.fs.Path(dest, partDirName(v))) &&
                  !files.exists(_.contains(s"/${partDirName(v)}/"))
              }
              require(unmatched.isEmpty,
                s"mergeInto: stats index at $idx names no files for existing " +
                  s"partition(s) ${unmatched.mkString(", ")} — stale index, or " +
                  "partition values that need path escaping; rebuild the index " +
                  "or run the listing-based merge")
              if (files.isEmpty) (emptySlice, None) // all-new partitions
              else {
                val (mergeFiles, passFiles) = splitByBlooms(spark, files,
                  probeKeys, bloomsPath, bloomColumns, maxBloomProbeKeys)
                def rd(fl: Seq[String]) =
                  spark.read.option("basePath", path).parquet(fl: _*)
                (if (mergeFiles.isEmpty) emptySlice else rd(mergeFiles),
                  if (passFiles.isEmpty) None else Some(rd(passFiles)))
              }
            case None =>
              (spark.read.parquet(path)
                .where(col(partitionCol).isin(touched: _*)), None)
          }
        // pass-through files are bloom-PROVEN to hold none of the updates'
        // OR deletes' keys: latest-wins would return their rows unchanged
        // and no delete can hit them, so they bypass the merge's key
        // shuffle and union straight into the write
        val core = applyDeletes(merge(mergeSlice, updates, keys))
        passThrough.fold(core)(p => core.unionByName(p))
      }
    val staging = new org.apache.hadoop.fs.Path(dest,
      s"_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      merged.write.mode("overwrite").partitionBy(partitionCol)
        .parquet(staging.toString)
      val published = graft.sources.RawLayer.publishPartitions(fs, staging, dest)
      // a touched partition the merged output left EMPTY (every row
      // deleted) published no directory — its old generation must go,
      // or the deleted rows resurrect on the next read
      // Hive-ESCAPED directory names — Spark writes `%xx` for special
      // characters, so a raw s"$col=$v" would miss the published-set
      // match AND the exists() for exactly those values, leaving the
      // old generation (and its deleted rows) to resurrect (ADVICE r17)
      val emptied = touched
        .map(v => new org.apache.hadoop.fs.Path(dest, partDirName(v)))
        .filterNot(p => published.contains(p))
        .filter(fs.exists(_))
      emptied.foreach(p => fs.delete(p, true))
      statsIndexPath.foreach { idx =>
        // thread the caller's column subset so a partial-coverage index
        // stays partial (writeRaw's statsColumns discipline); emptied
        // partitions pass too — replacePartitions drops rows for
        // directories that no longer exist
        graft.sources.StatsIndex.replacePartitions(spark, idx,
          (published ++ emptied).map(_.toString), statsColumns)
      }
      bloomsPath.foreach { bp =>
        // reconcile, not append: publish REPLACED the touched partitions'
        // files wholesale, so their old bloom rows must drop with them
        graft.sources.StatsIndex.reconcileBlooms(spark, path, bp, bloomColumns,
          bloomItemsPerFile, bloomFpp)
      }
    } catch {
      case e: Throwable =>
        fs.delete(staging, true)
        throw e
    }
  }

  /** MERGE with SNAPSHOT-ISOLATED readers — [[mergeInto]]'s semantics on
    * a VERSIONED manifest ([[graft.sources.StatsIndex]] generations),
    * closing the publish-window race the in-place flow has: there,
    * partition dirs republish before `replacePartitions` lands, and a
    * reader constructing its file index in that window sees stats naming
    * deleted files and crashes. Here nothing is ever deleted in the
    * write path — the Delta copy-on-write shape on plain parquet:
    *
    *  1. read the touched partitions' files AS NAMED BY the current
    *     index generation (the snapshot — never a directory listing);
    *  2. latest-wins [[merge]] + deletes, staged write;
    *  3. staged part-files MOVE INTO the live partition directories
    *     under fresh names — pure additions; unindexed files are
    *     invisible to every index-served reader, so a crash here leaves
    *     garbage for [[graft.sources.StatsIndex.vacuum]], never a
    *     corrupt table;
    *  4. COMMIT = write index generation N+1 (untouched partitions'
    *     rows survive as-is, touched partitions' rows are replaced by
    *     the new files' stats; replaced files simply leave the
    *     manifest). The generation write is the atomic flip: a reader
    *     pinned to N keeps reading the OLD files — still on disk —
    *     consistently; a reader arriving after sees exactly N+1.
    *
    * Retention is ONE call — [[graft.sources.StatsIndex.retire]]: reap
    * generations past the newest `keep`, then reap only data files no
    * RETAINED generation still names (a bare `vacuum(table,
    * loadLatest(...))` would destroy the older retained snapshots'
    * files while their manifests still promise them — time travel
    * would break before its generation was reaped). The trade: the TABLE
    * DIRECTORY now holds multiple generations of files, so plain
    * `spark.read.parquet(path)` sees duplicates — a versioned table must
    * be read through [[graft.sources.IndexedScan.readIndexedVersioned]]
    * (exactly Delta's contract for its own directories). Writers stay
    * SINGLE (generation numbering is not fenced); readers are free.
    *
    * Bootstrap: a missing/empty generation root with an empty table dir
    * lands the batch as generation 1. A non-empty UNINDEXED table is
    * refused — silently making its files invisible would "lose" them;
    * run `saveGeneration(build(...))` once to adopt it. */
  def mergeIntoVersioned(path: String, updates: DataFrame, keys: Seq[String],
                         partitionCol: String, indexRoot: String,
                         statsColumns: Seq[String] = Nil,
                         deletes: Option[DataFrame] = None): Long =
    mergeIntoVersionedCols(path, updates, keys, Seq(partitionCol), indexRoot,
      statsColumns, deletes)

  /** [[mergeIntoVersioned]] for a MULTI-LEVEL partition layout — the
    * reference's own landing grain is `(order_date, _batch_id)`
    * (two nested `col=value` levels), and the versioned manifest must
    * version it like any other table. A touched partition is a value
    * TUPLE over `partitionCols` (outermost first); the snapshot read,
    * the survivor filter, and the generation's recorded partition
    * columns all operate on the nested `c1=v1/c2=v2` path segment
    * `partitionBy` writes. A partition emptied by deletes simply leaves
    * the manifest — copy-on-write never removes directories; its files
    * become vacuum's business like any replaced generation's. */
  def mergeIntoVersionedCols(path: String, updates: DataFrame, keys: Seq[String],
                             partitionCols: Seq[String], indexRoot: String,
                             statsColumns: Seq[String] = Nil,
                             deletes: Option[DataFrame] = None,
                             bloomColumns: Seq[String] = Nil,
                             maxBloomProbeKeys: Int = 100000,
                             bloomItemsPerFile: Long = 1L << 20,
                             bloomFpp: Double = 0.01): Long = {
    require(keys.nonEmpty, "mergeIntoVersioned: empty key list")
    require(partitionCols.nonEmpty, "mergeIntoVersioned: no partition columns")
    partitionCols.foreach(pc => require(!keys.contains(pc),
      s"mergeIntoVersioned: partition column '$pc' cannot be a merge key"))
    require(bloomColumns.isEmpty || bloomColumns.forall(keys.contains),
      s"mergeIntoVersioned: bloomColumns must be a subset of the merge " +
        s"keys; got ${bloomColumns.mkString(", ")}")
    // schema evolution lets updates OMIT non-key columns; the keys and
    // the partition columns are the contract and must never be fabricated
    // as nulls by the alignment below
    locally {
      val missing = (keys ++ partitionCols).filterNot(updates.columns.contains)
      require(missing.isEmpty,
        s"mergeIntoVersioned: updates frame lacks key/partition " +
          s"column(s) ${missing.mkString(", ")}")
    }
    deletes.foreach { d =>
      val missing = (keys ++ partitionCols).filterNot(d.columns.contains)
      require(missing.isEmpty,
        s"mergeIntoVersioned: deletes frame lacks column(s) ${missing.mkString(", ")}")
    }
    val spark = updates.sparkSession
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sessionState.newHadoopConf())
    val gens = graft.sources.StatsIndex.generations(spark, indexRoot)
    if (gens.isEmpty)
      require(!fs.exists(dest) ||
          graft.sources.StatsIndex.listDataFiles(spark, path).isEmpty,
        s"mergeIntoVersioned: $path holds data but $indexRoot has no " +
          "generation — adopt it first with saveGeneration(build(...))")
    val current =
      if (gens.isEmpty) None
      else Some(graft.sources.StatsIndex.load(spark, s"$indexRoot/_v=${gens.last}"))

    // the touched slice is needed BEFORE the write (the snapshot read),
    // and a delete-only partition stages no file — so unlike the replace
    // it is collected up front, rendered as the writer renders it
    val touched = graft.sources.StatsIndex.partitionTuples(
      deletes.fold(updates.select(partitionCols.map(col): _*))(d =>
        updates.select(partitionCols.map(col): _*)
          .unionByName(d.select(partitionCols.map(col): _*))),
      partitionCols)
    require(!touched.exists(_.contains(null)),
      s"mergeIntoVersioned: updates/deletes carry a NULL partition value " +
        s"in ${partitionCols.mkString(", ")}")
    def applyDeletes(df: DataFrame): DataFrame = deletes.fold(df)(d =>
      df.join(d.select(keys.map(col): _*), keys, "left_anti"))

    val (dataSchema, align) = evolveVersioned(spark, indexRoot, gens,
      current, updates, partitionCols)

    // 1-2. snapshot read of the touched slice, merge, stage. With a
    // bloom relation committed on the PREVIOUS generation, the touched
    // slice SPLITS: files bloom-proven to hold none of the updates' or
    // deletes' keys never enter the merge — and unlike the in-place
    // flow they are not even REWRITTEN: copy-on-write lets a key-free
    // file survive in the next manifest verbatim, so a point update's
    // read AND write cost is |files actually holding the keys|, not
    // |touched partitions| (the regime where every file of a day spans
    // the full key range and min/max pruning is useless).
    val sliceFiles = current.map(c =>
      graft.sources.StatsIndex.partitionTupleFiles(c, partitionCols, touched))
      .getOrElse(Nil)
    val probeKeys = deletes.fold(updates.select(keys.map(col): _*))(d =>
      updates.select(keys.map(col): _*)
        .unionByName(d.select(keys.map(col): _*)))
    val (mergeFiles, passFiles) =
      if (bloomColumns.isEmpty || sliceFiles.isEmpty || gens.isEmpty)
        (sliceFiles, Nil)
      else splitByBlooms(spark, sliceFiles, probeKeys,
        Some(graft.sources.StatsIndex.generationBloomsPath(indexRoot, gens.last)),
        bloomColumns, maxBloomProbeKeys)
    // the slice is read under the table's schema, partition columns
    // included: inferring them from the directory names would turn a
    // DECIMAL into a DOUBLE (or `007` into 7) and re-land the slice
    // under a directory name its old files do not share
    val sliceSchema = org.apache.spark.sql.types.StructType(
      dataSchema.fields ++ partitionCols.map(updates.schema(_)))
    val merged = applyDeletes(
      if (mergeFiles.isEmpty) align(updates)
      else merge(
        align(spark.read.schema(sliceSchema).option("basePath", path)
          .parquet(mergeFiles: _*)),
        align(updates), keys))
    commitVersioned(spark, path, indexRoot, gens, current, merged,
      partitionCols, touched, passFiles, dataSchema, statsColumns,
      bloomColumns, bloomItemsPerFile, bloomFpp)
  }

  /** Dynamic partition overwrite as a GENERATION COMMIT — the versioned
    * twin of `df.write.option("partitionOverwriteMode", "dynamic")`: the
    * frame's partitions replace their manifest slices WHOLESALE,
    * untouched partitions survive verbatim, nothing on disk is deleted,
    * and a reader pinned to the previous generation keeps a consistent
    * snapshot through the publish — the window the in-place overwrite
    * leaves open. This is the landing shape of the continuous star
    * ([[graft.streaming.SalesSummaryStream]]): replay-idempotent per
    * batch, because re-landing a slice re-replaces exactly itself
    * (a new generation with identical logical content). Schema
    * evolution as in [[mergeIntoVersionedCols]]. Returns the committed
    * generation.
    *
    * The frame is evaluated ONCE, by the staged write: the touched
    * partitions are the `c=v` directories that write staged, so the
    * frame's plan never runs a second time to find them. The guards
    * therefore fire after the staged write and before anything moves
    * into the table — an empty frame stages no partition directory, a
    * NULL value stages the default partition; either raises, publishes
    * nothing, and the staging directory is deleted. */
  def replacePartitionsVersioned(path: String, df: DataFrame,
                                 partitionCols: Seq[String], indexRoot: String,
                                 statsColumns: Seq[String] = Nil): Long = {
    require(partitionCols.nonEmpty,
      "replacePartitionsVersioned: no partition columns")
    locally {
      val missing = partitionCols.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"replacePartitionsVersioned: frame lacks partition " +
          s"column(s) ${missing.mkString(", ")}")
    }
    val spark = df.sparkSession
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sessionState.newHadoopConf())
    val gens = graft.sources.StatsIndex.generations(spark, indexRoot)
    if (gens.isEmpty)
      require(!fs.exists(dest) ||
          graft.sources.StatsIndex.listDataFiles(spark, path).isEmpty,
        s"replacePartitionsVersioned: $path holds data but $indexRoot has " +
          "no generation — adopt it first with saveGeneration(build(...))")
    val current =
      if (gens.isEmpty) None
      else Some(graft.sources.StatsIndex.load(spark, s"$indexRoot/_v=${gens.last}"))
    val (dataSchema, align) = evolveVersioned(spark, indexRoot, gens,
      current, df, partitionCols)
    commitVersioned(spark, path, indexRoot, gens, current, align(df),
      partitionCols, Nil, Nil, dataSchema, statsColumns, Nil,
      1L << 20, 0.01, checkTouched = { touched =>
        require(touched.nonEmpty,
          "replacePartitionsVersioned: empty frame — nothing to replace " +
            "(an empty landing is the caller's no-op, not a generation)")
        require(!touched.exists(_.contains(null)),
          s"replacePartitionsVersioned: NULL partition value " +
            s"in ${partitionCols.mkString(", ")}")
      })
  }

  /** SCHEMA EVOLUTION for the versioned writers: the incoming frame may
    * carry columns the table lacks (and vice versa — a delta feed
    * rarely republishes every column). The table's data schema is the
    * UNION: the previous generation's recorded schema (sidecar; else
    * inferred from one manifest file) extended by the frame's new
    * columns, everything nullable. Old files are never rewritten — the
    * evolved schema is RECORDED with the new generation, and
    * index-served reads request it, so parquet fills the missing
    * columns with nulls exactly where history had no value. Shared
    * column names must agree on type (loudly). Returns the evolved data
    * schema and the column-alignment projection. */
  private def evolveVersioned(spark: org.apache.spark.sql.SparkSession,
                              indexRoot: String, gens: Seq[Long],
                              current: Option[DataFrame], incoming: DataFrame,
                              partitionCols: Seq[String])
      : (org.apache.spark.sql.types.StructType, DataFrame => DataFrame) = {
    val newDataFields = incoming.schema.fields
      .filterNot(f => partitionCols.contains(f.name))
    val oldDataFields: Seq[org.apache.spark.sql.types.StructField] =
      current.flatMap { c =>
        graft.sources.StatsIndex.generationSchema(spark, indexRoot, gens.last)
          .map(_.fields.toSeq)
          .orElse(c.select(col("file")).limit(1).collect().headOption
            .map(r => spark.read.parquet(r.getString(0)).schema.fields.toSeq))
      }.getOrElse(Nil)
    oldDataFields.foreach { f =>
      newDataFields.find(_.name == f.name).foreach(u =>
        require(u.dataType == f.dataType,
          s"versioned write: column '${f.name}' type changed " +
            s"(${f.dataType.simpleString} -> ${u.dataType.simpleString}) — " +
            "type evolution is not supported, rename the column"))
    }
    val dataFields = (oldDataFields ++
        newDataFields.filterNot(u => oldDataFields.exists(_.name == u.name)))
      .map(_.copy(nullable = true))
    val partFields = partitionCols.map(incoming.schema(_))
    val align = (df: DataFrame) =>
      df.select((dataFields ++ partFields).map { f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    (org.apache.spark.sql.types.StructType(dataFields), align)
  }

  /** The shared commit tail of the versioned writers: stage `out`
    * partitioned, move its files into the live tree under fresh `gen-`
    * names (pure additions — a crash leaves vacuum-able garbage, never
    * a corrupt table), and commit generation N+1 = survivors + fresh
    * stats (+ carried/fresh blooms). `passFiles` are bloom-proven
    * unchanged files that survive the manifest despite sitting in
    * touched partitions.
    *
    * The touched partitions are `knownTouched` (tuples the caller had to
    * collect before writing — a merge's delete-only partitions stage no
    * file) plus every `c=v` directory the staged write produced, read
    * back from the directory names (unescaped; the default partition
    * reads as NULL) — so `out` runs exactly once, as the write.
    * `checkTouched` sees that set after the staged write and before any
    * file moves in: a guard that raises publishes nothing, and the
    * staging directory is deleted either way. */
  private def commitVersioned(spark: org.apache.spark.sql.SparkSession,
                              path: String, indexRoot: String,
                              gens: Seq[Long], current: Option[DataFrame],
                              out: DataFrame, partitionCols: Seq[String],
                              knownTouched: Seq[Seq[String]],
                              passFiles: Seq[String],
                              dataSchema: org.apache.spark.sql.types.StructType,
                              statsColumns: Seq[String],
                              bloomColumns: Seq[String],
                              bloomItemsPerFile: Long,
                              bloomFpp: Double,
                              checkTouched: Seq[Seq[String]] => Unit = _ => ()): Long = {
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sessionState.newHadoopConf())
    val staging = new org.apache.hadoop.fs.Path(dest,
      s"_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      out.write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(staging.toString)

      // move staged files in under fresh names — pure additions.
      // Multi-level layouts nest `c=v` directories; walk them down to
      // the leaf files, preserving each file's relative partition path.
      val runId = java.util.UUID.randomUUID().toString.take(8)
      def staged(dir: org.apache.hadoop.fs.Path,
                 rel: Seq[String]): Seq[(org.apache.hadoop.fs.Path, Seq[String])] =
        fs.listStatus(dir).toSeq.flatMap { st =>
          val n = st.getPath.getName
          if (st.isDirectory && n.contains("="))
            staged(st.getPath, rel :+ n)
          else if (!st.isDirectory && n.endsWith(".parquet") &&
              !n.startsWith("_") && !n.startsWith(".") && rel.nonEmpty)
            Seq((st.getPath, rel))
          else Nil
        }
      val stagedFiles = staged(staging, Nil)
      val touched = locally {
        import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils._
        (knownTouched ++ stagedFiles.map(_._2).distinct.map(_.map { seg =>
          val v = seg.substring(seg.indexOf('=') + 1)
          if (v == DEFAULT_PARTITION_NAME) null else unescapePathName(v)
        })).distinct
      }
      checkTouched(touched)
      val movedIn = stagedFiles.map { case (f, rel) =>
        val target = new org.apache.hadoop.fs.Path(dest, rel.mkString("/"))
        fs.mkdirs(target)
        val in = new org.apache.hadoop.fs.Path(target,
          s"gen-$runId-${f.getName}")
        // one retry after re-mkdirs: a concurrent vacuum's empty-dir
        // sweep can delete `target` between the mkdirs and the rename
        // (the sweep is best-effort; the WRITER owns recovery)
        if (!fs.rename(f, in)) {
          fs.mkdirs(target)
          if (!fs.rename(f, in)) throw new java.io.IOException(
            s"versioned write: rename $f -> $in failed")
        }
        fs.makeQualified(in).toString
      }

      // commit: generation N+1 = untouched survivors + the new files
      val hconf = spark.sessionState.newHadoopConf()
      val prefixes = touched.map { t =>
        val p = new org.apache.hadoop.fs.Path(dest,
          graft.sources.StatsIndex.partitionDir(spark, partitionCols, t))
        val q = p.getFileSystem(hconf).makeQualified(p).toString
        if (q.endsWith("/")) q else q + "/"
      }
      // survivor filter: manifest rows NOT under a touched partition
      // prefix. Small touched sets compile to a bounded OR of prefix
      // tests; a WIDE commit (full-table rewrite, compaction-heavy
      // generation — 10⁴+ partitions) would make that OR an
      // expression-tree the driver/Catalyst chokes on before any data
      // moves, so past the threshold the restriction becomes a
      // distributed ANTI-JOIN: partition values extracted from the file
      // paths executor-side, joined against the (broadcast) touched
      // tuples — cost ∝ manifest size, expression tree O(1).
      val fresh = graft.sources.StatsIndex.statsForFiles(
        spark, movedIn, statsColumns)
      val nextGen = current.map { c =>
        val untouchedRows =
          if (touched.size <= wideTouchedThreshold) {
            val under = prefixes.map(p => col("file").startsWith(p))
              .reduceOption(_ || _).getOrElse(lit(false))
            c.where(!under)
          } else untouchedByAntiJoin(spark, c, partitionCols, touched)
        // bloom pass-through files SURVIVE the manifest despite sitting
        // in touched partitions — their rows are provably unchanged
        val survivors =
          if (passFiles.isEmpty) untouchedRows
          else untouchedRows.unionByName(
            c.where(col("file").isin(passFiles: _*)))
        survivors.unionByName(fresh)
      }.getOrElse(fresh)
      // the generation's bloom relation: the previous generation's rows
      // for files still in the manifest (semi-join — never a rebuild),
      // plus fresh filters for the files this write landed. Maintained
      // whenever bloomColumns is set OR a previous relation exists, so
      // coverage survives a bloom-less call conservatively (new files
      // simply stay unknown-kept until a covered merge or compaction).
      val carried = gens.lastOption
        .flatMap(g => graft.sources.StatsIndex.generationBlooms(spark, indexRoot, g))
        .map(_.join(nextGen.select(col("file")).distinct(), Seq("file"),
          "left_semi"))
      val freshBlooms =
        if (bloomColumns.isEmpty || movedIn.isEmpty) None
        else Some(graft.sources.StatsIndex.bloomsForFiles(spark, movedIn,
          bloomColumns, bloomItemsPerFile, bloomFpp))
      val nextBlooms = (carried, freshBlooms) match {
        case (Some(c), Some(f)) => Some(c.unionByName(f))
        case (c, f) => c.orElse(f)
      }
      // optimistic commit (the Delta slot protocol): this manifest was
      // derived from `gens.last` — if any other writer committed past it
      // meanwhile, publishing would lose their update, so the commit
      // claims its slot exclusively and aborts with
      // ConcurrentWriteException instead (nothing published; retry
      // re-reads the new latest generation)
      graft.sources.StatsIndex.saveGeneration(nextGen, indexRoot,
        Some(dataSchema), partitionCols, nextBlooms,
        expectedBase = Some(gens.lastOption.getOrElse(0L)))
    } finally fs.delete(staging, true)
  }

  /** Shared width threshold with the CDF reader — one policy for "when
    * does an OR of partition-prefix tests stop being an expression and
    * start being a planning problem". */
  private def wideTouchedThreshold: Int = ChangeFeed.wideTouchedThreshold

  /** Manifest rows NOT under any touched partition — the wide-commit
    * survivor filter as a distributed anti-join
    * ([[ChangeFeed.restrictByTupleJoin]]). */
  private def untouchedByAntiJoin(spark: org.apache.spark.sql.SparkSession,
                                  stats: DataFrame, partitionCols: Seq[String],
                                  touched: Seq[Seq[String]]): DataFrame =
    ChangeFeed.restrictByTupleJoin(stats, partitionCols, touched, anti = true)

  /** Bounded retry loop around a VERSIONED commit — the Delta-style
    * optimistic loop completed: [[mergeIntoVersioned]]/
    * [[mergeIntoVersionedCols]]/[[replacePartitionsVersioned]] re-read
    * the latest generation at ENTRY, so a retry after
    * [[graft.sources.StatsIndex.ConcurrentWriteException]] is exactly
    * "re-derive against the new latest and try again" — the loser's
    * changes are re-merged on top of the winner's, nothing lost.
    * `body` MUST be the whole read-derive-commit operation (a bare
    * `saveGeneration` retried without re-deriving would republish the
    * stale manifest). Linear backoff de-synchronizes herds; throws the
    * last ConcurrentWriteException once `attempts` is exhausted. */
  def retryingCommit[T](attempts: Int = 5, backoffMs: Long = 50L)
                       (body: () => T): T = {
    require(attempts >= 1, s"retryingCommit: attempts=$attempts must be >= 1")
    var tries = 0
    while (true) {
      try return body()
      catch {
        case e: graft.sources.StatsIndex.ConcurrentWriteException =>
          tries += 1
          if (tries >= attempts) throw e
          if (backoffMs > 0) Thread.sleep(backoffMs * tries)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** (files that must enter the merge, files bloom-PROVEN to hold none of
    * the updates' key values). No bloom index / oversized probe set /
    * unprobeable column type → no split, everything merges. A file the
    * bloom relation has not seen is UNKNOWN and merges (the
    * no-false-negative discipline of
    * [[graft.sources.StatsIndex.prunedReadPoint]]). Multi-column
    * soundness: a file holding a full matching key survives EVERY key
    * column's any-value test, so failing one test proves the file
    * key-free. */
  private[graft] def splitByBlooms(spark: org.apache.spark.sql.SparkSession,
                            files: Seq[String], updates: DataFrame,
                            bloomsPath: Option[String],
                            bloomColumns: Seq[String],
                            maxProbe: Int): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val bp = bloomsPath match {
      case Some(p) => p
      case None => return (files, Nil)
    }
    val bpPath = new org.apache.hadoop.fs.Path(bp)
    if (!bpPath.getFileSystem(spark.sessionState.newHadoopConf()).exists(bpPath))
      return (files, Nil) // first merge before any bloom build: no split
    val blooms = graft.sources.StatsIndex.loadBlooms(spark, bp)
    import spark.implicits._
    val covered = blooms.select(col("file")).distinct()
      .as[String].collect().toSet
    var mergeSide = files.toSet
    bloomColumns.foreach { c =>
      // a NULL probe value disables this column's split entirely (the
      // oversized-probe fallback): blooms cannot represent null — the
      // build skips nulls — so a null-keyed update's match file is
      // unprovable and everything must merge. Collect as Rows, not
      // Dataset[Long]: a null in a non-nullable encoder NPEs.
      val probed: Option[Set[String]] = updates.schema(c).dataType match {
        case StringType =>
          val rows = updates.select(col(c)).distinct().limit(maxProbe + 1)
            .collect()
          if (rows.length > maxProbe || rows.exists(_.isNullAt(0))) None
          else Some(graft.sources.StatsIndex.pruneFilesBloomAny(
            blooms, c, strValues = rows.map(_.getString(0)).toSeq).toSet)
        case LongType | IntegerType =>
          val rows = updates.select(col(c).cast("long")).distinct()
            .limit(maxProbe + 1).collect()
          if (rows.length > maxProbe || rows.exists(_.isNullAt(0))) None
          else Some(graft.sources.StatsIndex.pruneFilesBloomAny(
            blooms, c, longValues = rows.map(_.getLong(0)).toSeq).toSet)
        case other => throw new IllegalArgumentException(
          s"mergeInto: bloom column '$c' is $other — equality membership " +
            "needs string/long/int (buildBlooms would have rejected it)")
      }
      probed.foreach { surv =>
        mergeSide = mergeSide.filter(f => !covered(f) || surv(f))
      }
    }
    (files.filter(mergeSide), files.filterNot(mergeSide))
  }
}
