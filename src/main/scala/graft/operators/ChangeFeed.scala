package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.{Materialize, Tables}
import graft.sources.{IndexedScan, StatsIndex}

/** Change data feed + time travel over a VERSIONED table
  * ([[Upsert.mergeIntoVersioned]] + [[graft.sources.StatsIndex]]
  * generations) — the read half of the copy-on-write manifest: every
  * generation is an immutable file-list snapshot, so
  *
  *  - `asOf(gen)` reads ANY retained generation consistently (Delta's
  *    `VERSION AS OF`) by mounting that generation's stats rows as the
  *    scan's [[graft.sources.GraftFileIndex]] — replaced files are
  *    still on disk until vacuum, so the old snapshot is bit-identical;
  *  - `between(from, to)` emits the keyed change rows
  *    (insert / delete / update with before/after values,
  *    [[SnapshotDiff]] semantics) WITHOUT diffing the whole table: one
  *    distributed job ([[touchedSlices]]) diffs the two generations'
  *    manifests on FILE NAMES and collects only the stats rows of the
  *    partitions whose file sets changed (never the manifests' full
  *    file lists), and only those partitions enter the join — a merge
  *    that touched 3 of 10 000 partitions costs a 3-partition diff, not
  *    a table scan. Partition values come off the paths through
  *    [[graft.sources.StatsIndex]]'s partition-path codec. A side
  *    whose restricted slice is FILE-EMPTY (the append-only hop: every
  *    touched partition is new on the other side — the most common
  *    daily-ingest hop) reads as a correctly-schemed empty relation,
  *    never as its full manifest. That is the CDF-at-100 TB shape:
  *    change cost ∝ changed slice, including the pure-insert case.
  *
  * The partition-pruning step is CONSERVATIVE by construction:
  * [[Upsert.mergeIntoVersioned]] rewrites every touched partition's
  * files under fresh `gen-<runId>-` names, so a partition with ANY row
  * change always has a file-set change; an untouched partition's rows
  * survive in the manifest verbatim and its files never differ. A
  * byte-identical rewrite (touched but unchanged partition) enters the
  * diff and contributes zero rows — wasted read, never a wrong answer.
  */
object ChangeFeed {

  /** Read the table AS OF index generation `gen` (files named by that
    * generation's manifest — see [[graft.sources.IndexedScan
    * .readIndexedGeneration]]). A FILE-EMPTY manifest (a merge that
    * legally deleted every remaining row) answers with the empty
    * relation under the generation's recorded schema. Throws if the
    * generation directory is gone (vacuumed past retention). */
  def asOf(spark: SparkSession, tablePath: String, indexRoot: String,
           gen: Long): DataFrame =
    IndexedScan.readIndexedGeneration(spark, tablePath, indexRoot, gen)

  /** Keyed change rows between generations `fromGen` → `toGen`:
    * [[SnapshotDiff.diff]] columns (`op`, keys, `b_*`/`a_*`), computed
    * over ONLY the partitions whose file manifests changed. `columns`
    * optionally projects the compared payload (keys and `partitionCol`
    * are always included); default = full schema. */
  def between(spark: SparkSession, tablePath: String, indexRoot: String,
              fromGen: Long, toGen: Long, keys: Seq[String],
              partitionCol: String, columns: Seq[String] = Nil): DataFrame =
    betweenCols(spark, tablePath, indexRoot, fromGen, toGen, keys,
      Seq(partitionCol), columns)

  /** [[between]] for a MULTI-LEVEL partition layout (e.g. the landing
    * grain `(order_date, _batch_id)`): a touched partition is a value
    * TUPLE, matched as the nested `c1=v1/c2=v2` path segment. */
  def betweenCols(spark: SparkSession, tablePath: String, indexRoot: String,
                  fromGen: Long, toGen: Long, keys: Seq[String],
                  partitionCols: Seq[String],
                  columns: Seq[String] = Nil): DataFrame = {
    require(fromGen != toGen, s"between: fromGen == toGen == $fromGen")
    require(partitionCols.nonEmpty, "between: no partition columns")
    val fromStats = StatsIndex.load(spark, s"$indexRoot/_v=$fromGen")
    val toStats = StatsIndex.load(spark, s"$indexRoot/_v=$toGen")
    val slices = touchedSlices(fromStats, toStats, partitionCols)
    val (fromRows, toRows) = (slices.from, slices.to)
    def project(df: DataFrame): DataFrame =
      if (columns.isEmpty) df
      else df.select((keys ++ partitionCols ++ columns).distinct.map(col): _*)
    def readSlice(rows: Array[StatsIndex.FileColStats], gen: Long): DataFrame =
      project(IndexedScan.readIndexedRows(spark, tablePath, rows,
        dataSchema = StatsIndex.generationSchema(spark, indexRoot, gen)))
    def emptyLike(schema: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    // Each side reads ONLY its touched slice. A side whose slice is
    // file-empty (append-only hop: every touched partition is new on the
    // other side; or a delete-all hop the other way) is the EMPTY
    // relation — it contributes no rows to the diff, so it can safely
    // borrow the other side's schema (alignment below fills columns
    // either way). Reading the full manifests here — the pre-R20
    // fallback — would make the commonest CDC hop cost a full-table diff.
    val (from, to) = (fromRows.nonEmpty, toRows.nonEmpty) match {
      case (true, true) =>
        (readSlice(fromRows, fromGen), readSlice(toRows, toGen))
      case (true, false) =>
        val f = readSlice(fromRows, fromGen); (f, emptyLike(f.schema))
      case (false, true) =>
        val t = readSlice(toRows, toGen); (emptyLike(t.schema), t)
      case (false, false) =>
        // no partition changed at all (or both generations are
        // file-empty): the feed is provably empty — recover a schema
        // from a recorded sidecar, else one manifest file's footer.
        // (A touched partition always contributes its files' stats rows
        // on at least one side, so "touched but both slices empty" is
        // structurally impossible here — the wrong-layout cases fail
        // loudly above instead.)
        def fileSchema(stats: DataFrame): Option[StructType] =
          stats.select(col("file")).limit(1).collect().headOption
            .map(r => Tables.schemaOf(spark, r.getString(0)))
        val ds = StatsIndex.generationSchema(spark, indexRoot, toGen)
          .orElse(StatsIndex.generationSchema(spark, indexRoot, fromGen))
          .orElse(fileSchema(toStats)).orElse(fileSchema(fromStats))
          .getOrElse(throw new IllegalStateException(
            s"between: generations $fromGen and $toGen of $indexRoot are " +
              "both file-empty and record no schema sidecar — no schema " +
              "recoverable"))
        val e = project(emptyLike(StructType(ds.fields.toSeq
          .filterNot(f => partitionCols.contains(f.name)) ++
          partitionCols.map(StructField(_, StringType, nullable = true)))))
        (e, e)
    }
    // a shared column whose TYPE differs between generations cannot be
    // aligned away — reject loudly rather than let the null-safe compare
    // silently coerce (mergeIntoVersioned refuses type evolution, so
    // this only fires on hand-built generations)
    from.schema.fields.foreach { f =>
      to.schema.fields.find(_.name == f.name).foreach(g =>
        require(g.dataType == f.dataType,
          s"between: column '${f.name}' type differs across generations " +
            s"(${f.dataType.simpleString} vs ${g.dataType.simpleString})"))
    }
    // schema evolution across the hop: align both sides to the union of
    // columns (from-side order first), missing columns as typed nulls —
    // a value landing in a NEW column is then an update (null <=> value
    // is false), while history's null-vs-null compares unchanged
    val toOnly = to.schema.fields.filterNot(f => from.columns.contains(f.name))
    val target = from.schema.fields ++ toOnly
    def aligned(df: DataFrame): DataFrame =
      df.select(target.map { f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toIndexedSeq: _*)
    SnapshotDiff.diff(aligned(from), aligned(to), keys)
  }

  /** The touched slice of a hop: the partitions containing any file
    * present in only one of the two manifests (the file-set diff), as
    * decoded value tuples (sorted), and each side's stats rows under
    * them. */
  private[graft] final case class Slices(touched: Seq[Seq[String]],
                                         from: Array[StatsIndex.FileColStats],
                                         to: Array[StatsIndex.FileColStats])

  /** [[Slices]] of the hop `fromStats` → `toStats` in ONE distributed
    * job, which `betweenCols` counts on: tag each manifest row
    * with its side, extract the partition tuple executor-side
    * ([[StatsIndex.partitionSegmentValues]]), mark files present on
    * exactly ONE side as changed, mark partitions containing any changed
    * file as touched, and collect exactly the touched partitions' stats
    * rows — the same rows the two slice indexes hold driver-side anyway
    * (the Delta-manifest shape; bounded by the touched slice, which is
    * the quantity the index minimizes). The repartition establishes ONE
    * tuple-keyed exchange both window frames reuse.
    *
    * LOUD invariants (ADVICE r19): a touched file whose path does not
    * carry every partition column, or carries them in another nesting
    * order, means `partitionCols` do not describe the table's layout —
    * silently dropping it would make a CDC follower apply nothing and
    * still advance its cursor (unrecoverable replica loss). */
  private[graft] def touchedSlices(fromStats: DataFrame, toStats: DataFrame,
                                   partitionCols: Seq[String]): Slices = {
    val pIdx = partitionCols.indices
    val pCols = pIdx.map(i => col(s"_p$i"))
    val u = fromStats.withColumn("_side", lit(1))
      .unionByName(toStats.withColumn("_side", lit(2)))
      .select(col("*") +: StatsIndex.partitionSegmentValues(partitionCols)
        .zip(pIdx).map { case (e, i) => e.as(s"_p$i") }: _*)
      .repartition(pCols: _*)
    val wFile = org.apache.spark.sql.expressions.Window
      .partitionBy(pCols :+ col("file"): _*)
    val wPart = org.apache.spark.sql.expressions.Window.partitionBy(pCols: _*)
    val statCols = Seq("file", "rows", "column", "typ", "min_num", "max_num",
      "min_str", "max_str", "null_count")
    val collected = u
      .withColumn("_chg",
        when(min(col("_side")).over(wFile) === max(col("_side")).over(wFile),
          1).otherwise(0))
      .withColumn("_touched", max(col("_chg")).over(wPart))
      .where(col("_touched") === 1)
      .select(col("_side") +: (statCols.map(col) ++ pCols): _*)
      .collect()
    val pOff = 1 + statCols.size
    if (collected.exists(r => pIdx.exists(i => r.getString(pOff + i).isEmpty)))
      throw new IllegalStateException(
        s"betweenCols: changed file(s) whose paths do not carry " +
          s"partition column(s) ${partitionCols.mkString(", ")} — the given " +
          "partition columns do not match the table's on-disk layout")
    // Per-column extraction is order-independent, but the caller's
    // partitionCols order is a CONTRACT (it names the on-disk nesting,
    // and downstream consumers key partition tuples by it) — each
    // touched file's decoded directory must carry them in that order.
    val touched = collected.map(_.getString(1)).distinct.map { f =>
      val segs = StatsIndex.partitionOf(f.substring(0, f.lastIndexOf('/')))
      if (segs.map(_._1).filter(partitionCols.contains) != partitionCols)
        throw new IllegalStateException(
          s"betweenCols: partition column(s) " +
            s"(${partitionCols.mkString(", ")}) are not in the table's " +
            s"on-disk nesting order for file $f")
      partitionCols.map(segs.toMap)
    }.distinct.toSeq.sortBy(_.mkString("/"))
    def fcs(r: Row): StatsIndex.FileColStats =
      StatsIndex.FileColStats(r.getString(1), r.getLong(2), r.getString(3),
        r.getString(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)),
        if (r.isNullAt(7)) None else Some(r.getString(7)),
        if (r.isNullAt(8)) None else Some(r.getString(8)),
        r.getLong(9))
    Slices(touched, collected.filter(_.getInt(0) == 1).map(fcs),
      collected.filter(_.getInt(0) == 2).map(fcs))
  }

  /** Apply one hop's change rows to a DOWNSTREAM table — the
    * replication consumer that completes the CDC loop: the after-image
    * of inserts/updates upserts ([[Upsert.mergeInto]] latest-wins), the
    * before-image keys of deletes delete. Because `mergeInto` is
    * idempotent per batch, re-applying the same hop converges — which
    * is exactly what [[graft.streaming.ChangeFeedStream]]'s
    * at-least-once delivery needs: crash between apply and cursor
    * advance, re-apply, same downstream table. The downstream needs
    * none of the versioned machinery (it can be a plain partitioned
    * table, a different layout, or another versioned table fed through
    * its own merge). */
  def applyChanges(changes: DataFrame, downstreamPath: String,
                   keys: Seq[String], partitionCol: String,
                   statsIndexPath: Option[String] = None): Unit = {
    // keys pass through diff output under their BARE names — exclude
    // them before the prefix scan, or a key itself named `a_…` would
    // masquerade as an after-image column and corrupt the extraction
    val afterCols = changes.columns.filterNot(keys.contains)
      .filter(_.startsWith("a_")).map(_.stripPrefix("a_")).toSeq
    require(afterCols.contains(partitionCol),
      s"applyChanges: change rows carry no a_$partitionCol — feed the " +
        "partition column through between()'s projection")
    // Materialize the hop ONCE: it is delta-sized by construction, but
    // callers ([[graft.streaming.ChangeFeedStream.drain]]) hand a LAZY
    // manifest-diff plan — without this checkpoint the two emptiness
    // probes below, the merge's touched-partition collect, and the merge
    // scan each re-ran the whole diff pipeline (4-5 executions per hop,
    // measured at sf0.1). The first probe below stores it.
    val ch = Materialize.pin(changes)
    val upserts = ch.where(col("op").isin("insert", "update"))
      .select(keys.map(col) ++
        afterCols.map(c => col(s"a_$c").as(c)): _*)
    val dels = ch.where(col("op") === "delete")
      .select(keys.map(col) :+ col(s"b_$partitionCol").as(partitionCol): _*)
    // bounded driver check, ONE aggregation job over the checkpointed hop
    // (was two separate isEmpty actions)
    val present = ch.agg(
      max(col("op").isin("insert", "update")).as("_u"),
      max(col("op") === "delete").as("_d")).head()
    val hasUpserts = !present.isNullAt(0) && present.getBoolean(0)
    val hasDels = !present.isNullAt(1) && present.getBoolean(1)
    if (!hasUpserts && !hasDels) return
    Upsert.mergeInto(downstreamPath,
      if (hasUpserts) upserts else upserts.limit(0),
      keys, partitionCol,
      statsIndexPath = statsIndexPath,
      deletes = if (hasDels) Some(dels) else None)
  }
}
