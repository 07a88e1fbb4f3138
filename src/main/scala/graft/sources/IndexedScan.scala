package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables

/** The [[StatsIndex]] min/max + Bloom file-skipping wired into the scan
  * itself: a [[FileIndex]] implementation whose `listFiles` consults the
  * persisted index against the query's OWN pushed predicates — so ANY
  * Catalyst-planned filter over an indexed table prunes files
  * automatically, with no call to the manual `prunedRead*` API and no
  * predicate re-statement. This is the Delta/Iceberg integration shape:
  * the index is the table manifest, planning replays it driver-side, and
  * `FileSourceScanExec` opens only the surviving files (visible as
  * `numFiles` in the scan node — the plan is otherwise the stock
  * parquet scan, so column pruning, row-group pushdown, AQE and
  * whole-stage codegen all still apply downstream).
  *
  * Division of labor at 100 TB:
  *  - file stats are COLLECTED ONCE at relation construction (one row
  *    per file × column — the same driver-resident scale as a Delta
  *    snapshot); every query's `listFiles` is then pure driver
  *    computation, no planning-time job;
  *  - Bloom filters (megabytes per file × column) STAY DISTRIBUTED:
  *    only a query carrying an equality/IN predicate on a
  *    bloom-indexed column runs the one metadata-scale probe job
  *    ([[StatsIndex.pruneFilesBloomAny]]), the `prunedReadPoint`
  *    discipline moved into planning.
  *
  * Pruning is conservative in exactly [[StatsIndex]]'s sense: a file is
  * dropped only when stats/bits PROVE every matching row absent;
  * unsupported or non-literal predicates, missing stats rows, unknown
  * null counts, and bloom-uncovered files all keep the file. String
  * bounds compare in UTF-8 binary order ([[UTF8String]]) to match both
  * the SQL-side pruner and the parquet writer's truncation contract;
  * numeric literal bounds are ulp-widened after any lossy conversion so
  * representation error can never fabricate disjointness.
  *
  * The indexed FILE SET is the table: files on disk but absent from the
  * stats relation are invisible (the manifest discipline — `writeRaw`
  * and `mergeInto` maintain the index transactionally with the data).
  * Partition directories (`col=value` path segments) surface as STRING
  * partition columns, pruned driver-side from the path values without
  * touching storage.
  */
object IndexedScan extends Logging {

  /** Open `tablePath` as a DataFrame whose scan consults the persisted
    * stats index (and Bloom index, when given) at planning time.
    * Filters applied to the result — directly or through any view /
    * join / aggregation Catalyst pushes them down through — prune
    * files automatically. */
  def readIndexed(spark: SparkSession, tablePath: String, statsPath: String,
                  bloomsPath: Option[String] = None): DataFrame =
    readIndexedFrom(spark, tablePath, StatsIndex.load(spark, statsPath),
      bloomsPath.map(StatsIndex.loadBlooms(spark, _)))

  /** DYNAMIC FILE PRUNING for a dim-filtered fact join (the Delta/DFP
    * shape): when an indexed fact joins a SMALL dimension, the dim's
    * distinct join keys are collected (cap-guarded) and re-stated as a
    * redundant `IN` filter on the fact side — semantically a no-op for
    * inner/semi joins (the join already keeps only matching keys), but
    * Catalyst pushes it into [[GraftFileIndex]]'s `listFiles`, where the
    * existing In/InSet translation prunes fact FILES through the stats
    * ranges and Bloom bits before a single fact byte is read.
    *
    * At 100 TB this is the difference between scanning the fact table
    * and scanning the handful of files that hold the dim's keys: the
    * dim-side collect is bounded by `maxKeys` (over the cap the join
    * proceeds unpruned — correct, just not accelerated, mirroring
    * [[graft.operators.Upsert]]'s oversized-probe fallback), the Bloom
    * probe is one metadata-scale job, and the join itself is whatever
    * Catalyst/AQE picks (a dim this small broadcasts).
    *
    * Restricted to `inner`/`left_semi`: any join type that keeps
    * unmatched fact rows (outer) would be changed by the injected
    * filter. Null dim keys are dropped from the probe set — an equality
    * join can never match them. */
  def dfpJoin(fact: DataFrame, key: String, dim: DataFrame, dimKey: String,
              joinType: String = "inner", maxKeys: Int = 10000): DataFrame = {
    val jt = joinType.toLowerCase.replace("_", "")
    require(jt == "inner" || jt == "leftsemi" || jt == "semi",
      s"dfpJoin: join type '$joinType' keeps unmatched fact rows — the " +
        "injected key filter would drop them; use inner or left_semi")
    val keys = dim.select(dimKey).where(col(dimKey).isNotNull)
      .distinct().limit(maxKeys + 1).collect().map(_.get(0))
    val pruned =
      if (keys.length > maxKeys) {
        logInfo(s"dfpJoin: >$maxKeys distinct dim keys — joining unpruned")
        fact
      } else if (keys.isEmpty) fact.where(lit(false))
      else {
        // runtime-typed literals: the collected keys are Any, and
        // functions.lit reflects on the STATIC type (encoder lookup
        // fails on Any) — Literal.apply dispatches on the value itself
        import org.apache.spark.sql.graft.Bridge
        fact.where(Bridge.column(In(Bridge.expression(col(key)),
          keys.map(Literal.apply).toIndexedSeq)))
      }
    if (key == dimKey) pruned.join(dim, Seq(key), joinType)
    else pruned.join(dim, pruned(key) === dim(dimKey), joinType)
  }

  /** [[readIndexed]] against a VERSIONED index root ([[StatsIndex]]
    * generations): pins the newest COMPLETE generation at construction —
    * the snapshot-isolation read for tables maintained by
    * [[graft.operators.Upsert.mergeIntoVersioned]]. A concurrent merge
    * never disturbs this reader: its generation's files are left on
    * disk until vacuum's grace window expires. */
  def readIndexedVersioned(spark: SparkSession, tablePath: String,
                           indexRoot: String,
                           blooms: Option[DataFrame] = None): DataFrame = {
    val gens = StatsIndex.generations(spark, indexRoot)
    require(gens.nonEmpty,
      s"readIndexedVersioned: no complete index generation under $indexRoot")
    readIndexedGeneration(spark, tablePath, indexRoot, gens.last, blooms)
  }

  /** [[readIndexedVersioned]] pinned to an EXPLICIT generation (time
    * travel): the generation's file manifest AND its recorded data
    * schema (when present — a schema-evolving table's old files lack
    * later columns physically; reading them under the generation's
    * recorded schema fills nulls exactly as the write intended). */
  def readIndexedGeneration(spark: SparkSession, tablePath: String,
                            indexRoot: String, gen: Long,
                            blooms: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    // one collect of the manifest: it both decides emptiness and becomes
    // the index's snapshot (a generation is immutable, so the rows never
    // need re-collecting)
    val rows = StatsIndex.load(spark, s"$indexRoot/_v=$gen")
      .as[StatsIndex.FileColStats].collect()
    val schema = StatsIndex.generationSchema(spark, indexRoot, gen)
    if (rows.isEmpty)
      // a merge that deletes every remaining row legally commits a
      // FILE-EMPTY manifest — the table at that generation is the empty
      // relation under its recorded schema, not an error (partition
      // columns surface as the strings an indexed read would return)
      emptyGeneration(spark, indexRoot, gen, schema)
    else {
      // the generation's own committed bloom relation rides along
      // automatically — equality/IN predicates on bloom-indexed columns
      // prune files with zero call-site plumbing
      val gblooms = blooms.orElse(
        StatsIndex.generationBlooms(spark, indexRoot, gen))
      readIndexedRows(spark, tablePath, rows, gblooms, schema)
    }
  }

  /** The correctly-schemed empty relation of a file-empty generation:
    * recorded data schema + recorded partition columns (as the STRING
    * columns an index-served scan surfaces). Loud when no schema was
    * recorded — there is nothing to recover one from. */
  private[graft] def emptyGeneration(spark: SparkSession, indexRoot: String,
                                     gen: Long,
                                     schema: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val ds = schema.getOrElse(throw new IllegalStateException(
      s"generation $gen under $indexRoot has an empty file manifest and " +
        "no recorded schema sidecar — unrecoverable; re-commit through " +
        "mergeIntoVersioned (which records schemas) or vacuum past it"))
    val parts = StatsIndex.generationPartitionCols(spark, indexRoot, gen)
      .getOrElse(Nil)
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(ds.fields.toSeq ++
        parts.map(StructField(_, StringType, nullable = true))))
  }

  /** [[readIndexed]] fed already-loaded index relations — the in-memory
    * path (a freshly built, unsaved index works too). `dataSchema`
    * overrides file-footer inference (the schema-evolution read path:
    * the scan requests the evolved schema and parquet fills missing
    * columns with nulls in pre-evolution files). */
  def readIndexedFrom(spark: SparkSession, tablePath: String,
                      stats: DataFrame, blooms: Option[DataFrame] = None,
                      dataSchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    relationFor(spark,
      new GraftFileIndex(spark, tablePath, stats, blooms, dataSchema))

  /** [[readIndexedFrom]] fed ALREADY-COLLECTED stats rows — for callers
    * that obtained the slice's rows as part of their own driver work
    * ([[readIndexedGeneration]]'s manifest collect,
    * [[graft.operators.ChangeFeed.betweenCols]]'s fused manifest-diff
    * job) and must not pay a second collect job at index construction. */
  private[graft] def readIndexedRows(spark: SparkSession, tablePath: String,
                                     rows: Array[StatsIndex.FileColStats],
                                     blooms: Option[DataFrame] = None,
                                     dataSchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame =
    relationFor(spark,
      new GraftFileIndex(spark, tablePath, null, blooms, dataSchema, Some(rows)))

  private def relationFor(spark: SparkSession, idx: GraftFileIndex): DataFrame = {
    val format =
      if (idx.isOrc) new OrcFileFormat()
      else new ParquetFileFormat()
    val relation = HadoopFsRelation(
      location = idx,
      partitionSchema = idx.partitionSchema,
      dataSchema = idx.dataSchema,
      bucketSpec = None,
      fileFormat = format,
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
  }
}

/** See [[IndexedScan]]. One instance = one snapshot of the index (the
  * stats relation is collected at construction; [[refresh]] re-collects).
  * `preCollected` skips that collect: the caller already holds the
  * slice's rows (one fused driver job upstream) and the index is a
  * pinned snapshot of them — [[refresh]] then re-verifies file statuses
  * but keeps the given rows. */
final class GraftFileIndex(spark: SparkSession, tablePath: String,
                           stats: DataFrame, blooms: Option[DataFrame],
                           schemaOverride: Option[StructType] = None,
                           preCollected: Option[Array[StatsIndex.FileColStats]] = None)
  extends FileIndex with Logging {

  import GraftFileIndex._

  // ---- snapshot state (driver-resident, metadata scale) ----

  private var statRows: Array[StatsIndex.FileColStats] = _
  private var byFile: Map[String, Array[StatsIndex.FileColStats]] = _
  private var statuses: Map[String, FileStatus] = _
  /** Files the bloom relation covers — absence is UNKNOWN, never
    * absence of a value (see [[StatsIndex.prunedReadPoint]]). */
  private var bloomCovered: Set[String] = Set.empty
  private var bloomColumns: Set[String] = Set.empty
  private var partCols: Seq[String] = Nil
  private var partitions: Map[String, Seq[(String, String)]] = Map.empty
  private var totalBytes: Long = 0L

  refresh()

  override def refresh(): Unit = {
    import spark.implicits._
    statRows = preCollected.getOrElse(stats.as[StatsIndex.FileColStats].collect())
    byFile = statRows.groupBy(_.file)
    require(byFile.nonEmpty,
      s"GraftFileIndex: stats index over $tablePath is empty")
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(tablePath).getFileSystem(conf)
    val qualifiedRoot = fs.makeQualified(new Path(tablePath)).toString
    // one getFileStatus per indexed file, walked via the parent dirs so
    // an object store pays one LIST per directory, not one HEAD per file
    statuses = byFile.keysIterator.toSeq.groupBy(f => new Path(f).getParent)
      .iterator.flatMap { case (dir, wanted) =>
        val want = wanted.toSet
        fs.listStatus(dir).iterator
          .filter(st => want(st.getPath.toString))
      }.map(st => st.getPath.toString -> st).toMap
    val missing = byFile.keySet -- statuses.keySet
    require(missing.isEmpty,
      s"GraftFileIndex: ${missing.size} indexed files missing on disk, " +
        s"e.g. ${missing.head} — refresh the index")
    totalBytes = statuses.valuesIterator.map(_.getLen).sum
    // each file's `col=value` directory segments below the root, decoded
    // once per snapshot; every file must agree on the column sequence
    partitions = byFile.keysIterator.map(f => f -> StatsIndex.partitionOf(
      f.substring(0, f.lastIndexOf('/')).stripPrefix(qualifiedRoot))).toMap
    val layouts = partitions.valuesIterator.map(_.map(_._1)).toSet
    require(layouts.size == 1,
      s"GraftFileIndex: inconsistent partition layouts under $tablePath: $layouts")
    partCols = layouts.head
    bloomCovered = blooms match {
      case Some(b) => b.select("file").distinct().as[String].collect().toSet
      case None => Set.empty
    }
    bloomColumns = blooms match {
      case Some(b) => b.select("column").distinct().as[String].collect().toSet
      case None => Set.empty
    }
  }

  def isOrc: Boolean = byFile.keysIterator.next().endsWith(".orc")

  /** Data schema: the caller's override when given (schema evolution —
    * old files lack later columns physically and must be read under the
    * EVOLVED schema so the scan fills nulls), else read from one
    * surviving file's footer on the driver ([[graft.Tables.schemaOf]]). */
  val dataSchema: StructType = schemaOverride.getOrElse {
    val one = byFile.keysIterator.min
    if (isOrc) spark.read.orc(one).schema else Tables.schemaOf(spark, one)
  }

  override val rootPaths: Seq[Path] = Seq(new Path(tablePath))

  override def partitionSchema: StructType =
    StructType(partCols.map(StructField(_, StringType, nullable = true)))

  override def inputFiles: Array[String] = byFile.keySet.toArray.sorted

  override def sizeInBytes: Long = totalBytes

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // 1. partition pruning: evaluate the pushed partition predicates
    //    against each directory's path-derived values, driver-side
    val byPartition = byFile.keySet.groupBy(f => partitions(f).map(_._2))
    val partPred = compilePartitionPredicate(partitionFilters)
    val partSurvivors = byPartition.filter { case (values, _) =>
      partPred(InternalRow.fromSeq(values.map(UTF8String.fromString)))
    }

    // 2. stats pruning: translate supported data predicates to
    //    conservative per-column constraints, drop provably-disjoint files
    val cs = translate(dataFilters)
    val afterStats = partSurvivors.view.mapValues(_.filterNot(f =>
      excludedByStats(byFile(f), cs))).toMap

    // 3. bloom pruning: one distributed probe job, only when an
    //    equality/IN predicate hits a bloom-covered column
    val probed = bloomSurvivors(cs, afterStats.valuesIterator.flatten.toSet)

    val dirs = afterStats.iterator.map { case (values, files) =>
      val keep = files.filter(probed).toSeq.sorted
      PartitionDirectory(
        InternalRow.fromSeq(values.map(UTF8String.fromString)),
        keep.map(f => FileStatusWithMetadata(statuses(f))))
    }.filter(_.files.nonEmpty).toSeq
    val nIn = byFile.size
    val nOut = dirs.iterator.map(_.files.size).sum
    if (nOut < nIn)
      logInfo(s"GraftFileIndex: pruned ${nIn - nOut} of $nIn files " +
        s"(${partitionFilters.size} partition + ${dataFilters.size} data filters)")
    dirs
  }

  /** Partition predicates arrive bound to the relation's output
    * attributes; re-bind by NAME onto the string partition row. */
  private def compilePartitionPredicate(
      filters: Seq[Expression]): InternalRow => Boolean = {
    if (filters.isEmpty || partCols.isEmpty) return _ => true
    val ordinal = partCols.zipWithIndex.toMap
    val bound = filters.reduce(And).transform {
      case a: AttributeReference if ordinal.contains(a.name) =>
        BoundReference(ordinal(a.name), StringType, nullable = true)
    }
    if (bound.exists(_.isInstanceOf[AttributeReference])) {
      // a predicate referencing something that is not a partition column
      // reached us — stand down rather than mis-evaluate (conservative)
      logWarning(s"GraftFileIndex: unbindable partition filter $bound — keeping all")
      return _ => true
    }
    val pred = Predicate.createInterpreted(bound)
    row => pred.eval(row) // eval is false on null: unknown never matches
  }

  private def bloomSurvivors(cs: Constraints,
                             candidates: Set[String]): String => Boolean = {
    val probes = cs.eqProbes.filter { case (c, _) => bloomCoversColumn(c) }
    if (probes.isEmpty || blooms.isEmpty || candidates.isEmpty)
      return _ => true
    val b = blooms.get
    val surviving = probes.foldLeft(candidates) { case (alive, (column, vs)) =>
      val ok = (vs.strs, vs.longs) match {
        case (s, Nil) if s.nonEmpty =>
          StatsIndex.pruneFilesBloomAny(b, column, strValues = s).toSet
        case (Nil, l) if l.nonEmpty =>
          StatsIndex.pruneFilesBloomAny(b, column, longValues = l).toSet
        case _ => return _ => true // mixed/empty: stand down, keep all
      }
      alive.filter(f => ok(f) || !bloomCovered(f))
    }
    surviving
  }

  private def bloomCoversColumn(c: String): Boolean = bloomColumns.contains(c)
}

object GraftFileIndex {

  /** One per-column probe set: the values an equality/IN conjunct pins
    * (exactly one of the two lists is populated). */
  private final case class Probe(strs: List[String], longs: List[Long])

  /** Conservative driver-side digest of the pushed data predicates. */
  private final case class Constraints(
      numRanges: Map[String, (Double, Double)],
      strRanges: Map[String, (String, String)],
      eqProbes: Map[String, Probe],
      notNullCols: Set[String],
      nullCols: Set[String])

  /** Translate the conjuncts Spark pushed into per-column constraints.
    * Anything unrecognized is simply not a constraint — the scan
    * re-applies every predicate row-wise, so skipping is always safe. */
  private def translate(filters: Seq[Expression]): Constraints = {
    var num = Map.empty[String, (Double, Double)]
    var strBounds = Map.empty[String, (Option[String], Option[String])]
    var probes = Map.empty[String, Probe]
    var notNull = Set.empty[String]
    var isNull = Set.empty[String]

    def addNum(c: String, lo: Double, hi: Double): Unit = {
      val (l0, h0) = num.getOrElse(c, (Double.NegativeInfinity, Double.PositiveInfinity))
      num += c -> (math.max(l0, lo), math.min(h0, hi))
    }
    def addStr(c: String, lo: Option[String], hi: Option[String]): Unit = {
      val cur = strBounds.getOrElse(c, (None, None))
      strBounds += c -> (maxStr(cur._1, lo), minStr(cur._2, hi))
    }

    def numericValue(lit: Literal): Option[(Double, Double)] = lit.value match {
      case null => None
      case _ => lit.dataType match {
        case ByteType | ShortType | IntegerType | DateType =>
          val v = lit.value.asInstanceOf[Number].intValue.toDouble
          Some((v, v)) // ints ≤ 2^31 are exact in double
        case LongType | TimestampType | TimestampNTZType =>
          val v = lit.value.asInstanceOf[Number].longValue
          val d = v.toDouble
          Some((math.nextDown(d), math.nextUp(d))) // lossy past 2^53: widen
        case FloatType =>
          val v = lit.value.asInstanceOf[Float].toDouble; Some((v, v))
        case DoubleType =>
          val v = lit.value.asInstanceOf[Double]; Some((v, v))
        case _: DecimalType =>
          val d = lit.value.asInstanceOf[org.apache.spark.sql.types.Decimal]
            .toDouble
          Some((math.nextDown(d), math.nextUp(d)))
        case _ => None
      }
    }
    def stringValue(lit: Literal): Option[String] = lit.value match {
      case u: UTF8String => Some(u.toString)
      case _ => None
    }
    def longProbe(lit: Literal): Option[Long] = lit.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Option(lit.value).map(_.asInstanceOf[Number].longValue)
      case _ => None
    }
    def addProbe(c: String, lits: Seq[Literal]): Unit = {
      val strs = lits.flatMap(stringValue)
      val longs = lits.flatMap(longProbe)
      if (strs.size == lits.size)
        probes += c -> Probe(strs.toList, Nil)
      else if (longs.size == lits.size)
        probes += c -> Probe(Nil, longs.toList)
      // partial coverage: no probe (conservative)
    }
    def addEq(a: AttributeReference, lit: Literal): Unit = {
      numericValue(lit).foreach { case (lo, hi) => addNum(a.name, lo, hi) }
      stringValue(lit).foreach(v => addStr(a.name, Some(v), Some(v)))
      addProbe(a.name, Seq(lit))
    }
    // an InSet's value set: range-bound it like an IN, probe it whole
    def addProbe2(a: AttributeReference, lits: Seq[Literal]): Unit = {
      val nums = lits.flatMap(numericValue)
      if (nums.size == lits.size)
        addNum(a.name, nums.map(_._1).min, nums.map(_._2).max)
      val strs = lits.flatMap(stringValue)
      if (strs.size == lits.size)
        addStr(a.name, strs.reduceOption(binMin), strs.reduceOption(binMax))
      addProbe(a.name, lits)
    }
    def addCmp(a: AttributeReference, lit: Literal,
               isLower: Boolean): Unit = {
      // strict vs inclusive collapses: inclusive bounds are conservative
      numericValue(lit).foreach { case (lo, hi) =>
        if (isLower) addNum(a.name, lo, Double.PositiveInfinity)
        else addNum(a.name, Double.NegativeInfinity, hi)
      }
      stringValue(lit).foreach { v =>
        if (isLower) addStr(a.name, Some(v), None)
        else addStr(a.name, None, Some(v))
      }
    }

    filters.foreach {
      case EqualTo(a: AttributeReference, l: Literal) => addEq(a, l)
      case EqualTo(l: Literal, a: AttributeReference) => addEq(a, l)
      case EqualNullSafe(a: AttributeReference, l: Literal) if l.value != null => addEq(a, l)
      case EqualNullSafe(l: Literal, a: AttributeReference) if l.value != null => addEq(a, l)
      case GreaterThan(a: AttributeReference, l: Literal) => addCmp(a, l, isLower = true)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => addCmp(a, l, isLower = true)
      case LessThan(a: AttributeReference, l: Literal) => addCmp(a, l, isLower = false)
      case LessThanOrEqual(a: AttributeReference, l: Literal) => addCmp(a, l, isLower = false)
      case GreaterThan(l: Literal, a: AttributeReference) => addCmp(a, l, isLower = false)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => addCmp(a, l, isLower = false)
      case LessThan(l: Literal, a: AttributeReference) => addCmp(a, l, isLower = true)
      case LessThanOrEqual(l: Literal, a: AttributeReference) => addCmp(a, l, isLower = true)
      case In(a: AttributeReference, list) if list.nonEmpty &&
          list.forall(e => e.isInstanceOf[Literal] &&
            e.asInstanceOf[Literal].value != null) =>
        val lits = list.map(_.asInstanceOf[Literal])
        val nums = lits.flatMap(numericValue)
        if (nums.size == lits.size)
          addNum(a.name, nums.map(_._1).min, nums.map(_._2).max)
        val strs = lits.flatMap(stringValue)
        if (strs.size == lits.size)
          addStr(a.name, strs.reduceOption(binMin), strs.reduceOption(binMax))
        addProbe(a.name, lits)
      case InSet(a: AttributeReference, hset) if hset.nonEmpty &&
          !hset.contains(null) =>
        // the optimizer's large-IN form: values are INTERNAL (UTF8String /
        // boxed primitives), exactly what Literal(v, a.dataType) carries
        addProbe2(a, hset.toSeq.map(Literal(_, a.dataType)))
      case IsNotNull(a: AttributeReference) => notNull += a.name
      case IsNull(a: AttributeReference) => isNull += a.name
      case _ => // unsupported conjunct: contributes no constraint
    }

    // materialize the half-open string bounds (None = unbounded)
    val strFinal = strBounds.collect {
      case (c, (lo, hi)) if lo.nonEmpty || hi.nonEmpty =>
        c -> (lo, hi)
    }
    ConstraintsWithOpenStrings(num, strFinal, probes, notNull, isNull)
  }

  /** [[Constraints]] but with Option-al string bounds folded in. */
  private def ConstraintsWithOpenStrings(
      num: Map[String, (Double, Double)],
      str: Map[String, (Option[String], Option[String])],
      probes: Map[String, Probe],
      notNull: Set[String], isNull: Set[String]): Constraints = {
    // encode open ends with null markers consumed by excludedByStats
    Constraints(num,
      str.map { case (c, (lo, hi)) => c -> (lo.orNull, hi.orNull) },
      probes, notNull, isNull)
  }

  private def binMax(a: String, b: String): String = if (binCmp(a, b) >= 0) a else b
  private def binMin(a: String, b: String): String = if (binCmp(a, b) <= 0) a else b

  private def maxStr(a: Option[String], b: Option[String]): Option[String] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(if (binCmp(x, y) >= 0) x else y)
      case _ => a.orElse(b)
    }
  private def minStr(a: Option[String], b: Option[String]): Option[String] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(if (binCmp(x, y) <= 0) x else y)
      case _ => a.orElse(b)
    }

  /** UTF-8 binary order — the order parquet's string min/max are in and
    * the order [[StatsIndex.pruneFiles]]'s SQL comparisons use. */
  private def binCmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Mirror of [[StatsIndex.pruneFiles]]'s per-file exclusion test,
    * plus null-count handling for bare IsNull/IsNotNull conjuncts. */
  private def excludedByStats(rows: Array[StatsIndex.FileColStats],
                              cs: Constraints): Boolean =
    rows.exists { r =>
      val allNull = r.null_count >= 0 && r.null_count == r.rows
      val numHit = cs.numRanges.get(r.column).exists { case (lo, hi) =>
        allNull ||
          r.max_num.exists(_ < lo) || r.min_num.exists(_ > hi)
      }
      val strHit = cs.strRanges.get(r.column).exists { case (lo, hi) =>
        allNull ||
          (hi != null && r.min_str.exists(binCmp(_, hi) > 0)) ||
          (lo != null && r.max_str.exists(binCmp(_, lo) < 0))
      }
      val notNullHit = cs.notNullCols.contains(r.column) && allNull
      val nullHit = cs.nullCols.contains(r.column) && r.null_count == 0
      numHit || strHit || notNullHit || nullHit
    }
}
