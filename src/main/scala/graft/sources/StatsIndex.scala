package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{
  DEFAULT_PARTITION_NAME, escapePathName, unescapePathName}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.{Materialize, Tables}

/** File-level min/max statistics index over a parquet table — the
  * metadata layer that makes [[graft.operators.ZOrder]]'s clustering
  * pay off at catalog scale, the same role Delta's add-file stats /
  * Iceberg's manifest entries play.
  *
  * Spark's parquet reader already prunes ROW GROUPS from footers — but
  * only after planning has listed every file and a task has opened each
  * footer. At 100 TB (millions of files) the per-query footer pass IS
  * the bottleneck a metadata index removes: footers are read ONCE, in a
  * distributed pass, into a tiny queryable relation (one row per
  * file × column); query-time pruning is then a filter over that
  * relation producing the surviving file list, and the actual scan opens
  * only those files. The index is incremental — [[update]] appends stats
  * for files not yet indexed, never rewriting existing entries — so an
  * append-mostly raw layer pays one footer read per file, ever.
  *
  * Pruning is CONSERVATIVE by construction: a file is dropped only when
  * its stats PROVE every matching row absent — the column's
  * [min, max] is disjoint from the predicate range, or the column is
  * all-null (range predicates never match null). Missing stats (column
  * not indexed, writer emitted none, unknown null count) always keep the
  * file, and integer min/max are widened one ulp when cast to double so
  * representation error can never fabricate disjointness. The caller
  * re-applies the real predicate after [[prunedRead]]; the index only
  * shrinks the file list.
  *
  * The surviving file list is collected driver-side — the Delta/Iceberg
  * shape (log replay and manifest pruning are driver work there too);
  * it is bounded by the file count AFTER pruning, which is exactly the
  * quantity the index minimizes.
  */
object StatsIndex extends org.apache.spark.internal.Logging {

  /** One (file, column) stats row. Numeric stats are conservative
    * doubles (ulp-widened for 64-bit integers); string stats carry the
    * writer's UTF-8 min/max truncation as-is (parquet guarantees those
    * bound the true range). `null_count` is -1 when any row group left
    * it unset (unknown ⇒ never used to exclude). */
  final case class FileColStats(file: String, rows: Long, column: String,
                                typ: String,
                                min_num: Option[Double], max_num: Option[Double],
                                min_str: Option[String], max_str: Option[String],
                                null_count: Long)

  /** Data files under `tablePath`, recursive, skipping hidden segments
    * by SPARK'S visibility rule: `.`-prefixed always hidden,
    * `_`-prefixed hidden UNLESS it is a `col=value` partition directory
    * (`_batch_id=3` is a visible partition Spark's own discovery reads;
    * `_staging_x`/`_trash_x`/`_stats` are not) — so the index sees
    * exactly the files a plain `spark.read` would, and
    * underscore-named partition columns (the streaming landing logs'
    * `_batch_id`) index like any other.
    *
    * The walk fans out over a bounded driver thread pool (the
    * `InMemoryFileIndex` shape): each directory's `listStatus` is one
    * task, discovered subdirectories re-enqueue. On object stores a
    * listing round-trip is milliseconds of latency, so a
    * partition-per-day × buckets layout lists `listParallelism`× faster
    * than the sequential walk this replaces — at millions of files the
    * LISTING, not the footers, is otherwise the planning bottleneck the
    * index exists to remove. Result is sorted (deterministic). */
  def listDataFiles(spark: SparkSession, tablePath: String,
                    listParallelism: Int = 16): Seq[String] = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def visible(p: Path): Boolean = {
      val n = p.getName
      !n.startsWith(".") && (!n.startsWith("_") || n.contains("="))
    }
    val files = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, listParallelism))
    val pending = new java.util.concurrent.atomic.AtomicLong(0L)
    val done = new java.util.concurrent.CountDownLatch(1)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def submit(p: Path): Unit = {
      pending.incrementAndGet()
      pool.execute { () =>
        try {
          if (failure.get() == null)
            fs.listStatus(p).foreach { st =>
              if (visible(st.getPath)) {
                if (st.isDirectory) submit(st.getPath)
                else if (isDataFile(st.getPath.getName))
                  files.add(st.getPath.toString)
              }
            }
        } catch {
          case t: Throwable => failure.compareAndSet(null, t)
        } finally if (pending.decrementAndGet() == 0L) done.countDown()
      }
    }
    submit(root)
    done.await()
    pool.shutdown()
    if (failure.get() != null) throw failure.get()
    files.asScala.toSeq.sorted
  }

  /** Build the stats relation for `tablePath`: one distributed footer
    * pass (files round-robin over tasks), one output row per
    * file × indexed column. `columns` empty = every primitive leaf
    * column the footers carry. */
  def build(spark: SparkSession, tablePath: String,
            columns: Seq[String] = Nil): DataFrame =
    statsForFiles(spark, listDataFiles(spark, tablePath), columns)

  /** Stats rows for one file's footer. Per-column chunks aggregate
    * across row groups: min of mins, max of maxes, null counts summed
    * only while every group reports one. Bounds are emitted ONLY when
    * EVERY row group's chunk is accounted for — carries value stats, is
    * provably all-null (numNulls == group rows), or sits in an empty
    * group. A chunk with rows but missing/suppressed/empty stats
    * (older or foreign writers) makes the whole column's bounds unknown:
    * partial bounds could otherwise prove a false "disjoint" and prune a
    * file that contains matching rows. */
  /** Both footer-bearing columnar formats the ingest dispatcher serves
    * are indexable; anything else never enters the walk. */
  private def isDataFile(name: String): Boolean =
    name.endsWith(".parquet") || name.endsWith(".orc")

  private def footerStats(file: String, conf: SerializableConfiguration,
                          wanted: Set[String]): Seq[FileColStats] =
    if (file.endsWith(".orc")) orcFooterStats(file, conf, wanted)
    else parquetFooterStats(file, conf, wanted)

  private def parquetFooterStats(file: String, conf: SerializableConfiguration,
                                 wanted: Set[String]): Seq[FileColStats] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), conf.value))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // pair each chunk with its row group's row count — whether absent
      // value stats are safely ignorable depends on the group having rows
      val byCol = blocks
        .flatMap(b => b.getColumns.asScala.map(c => (c, b.getRowCount)))
        .groupBy(_._1.getPath.toDotString)
        .filter { case (c, _) => wanted.isEmpty || wanted(c) }
      byCol.toSeq.sortBy(_._1).flatMap { case (colName, chunkRows) =>
        val pt = chunkRows.head._1.getPrimitiveType
        val allStats = chunkRows.map(_._1.getStatistics)
        val nulls =
          if (allStats.forall(s => s != null && s.isNumNullsSet))
            allStats.map(_.getNumNulls).sum
          else -1L
        val trusted = chunkRows.forall { case (ch, groupRows) =>
          val s = ch.getStatistics
          groupRows == 0L ||
            (s != null && !s.isEmpty &&
              (s.hasNonNullValue ||
                (s.isNumNullsSet && s.getNumNulls == groupRows)))
        }
        val present = allStats.filter(s =>
          s != null && !s.isEmpty && s.hasNonNullValue)
        if (!trusted)
          Some(FileColStats(file, rows, colName, pt.getPrimitiveTypeName.name,
            None, None, None, None, nulls))
        else numericBounds(pt, present) match {
          case Some((lo, hi)) =>
            Some(FileColStats(file, rows, colName, pt.getPrimitiveTypeName.name,
              Some(lo), Some(hi), None, None, nulls))
          case None if isString(pt) && present.nonEmpty =>
            // aggregate with UTF-8 byte order (what pruneFiles' Spark
            // string comparison uses) — Java String order disagrees on
            // supplementary-plane characters and could mis-bound the file
            val mins = present.map(_.minAsString)
            val maxs = present.map(_.maxAsString)
            Some(FileColStats(file, rows, colName, "STRING",
              None, None, Some(mins.min(Utf8Ordering)),
              Some(maxs.max(Utf8Ordering)), nulls))
          case None =>
            // unsupported type, or no non-null values in any group (the
            // all-null case — excludable for range predicates iff the
            // null count is trustworthy)
            Some(FileColStats(file, rows, colName, pt.getPrimitiveTypeName.name,
              None, None, None, None, nulls))
        }
      }
    } finally reader.close()
  }

  /** Stats rows for one ORC file's footer — the ORC twin of
    * [[parquetFooterStats]], so the dispatcher's `source_format=ORC`
    * tables are served by the same index instead of silently
    * un-prunable. ORC footers carry FILE-level column statistics
    * (no per-row-group aggregation needed); top-level primitive struct
    * fields only, matching the flat tables the ingest path writes.
    *
    * Conservative mappings:
    *  - integer categories ulp-widen like parquet INT64 (ORC integer
    *    stats are longs regardless of width);
    *  - string bounds are kept ONLY when both endpoints consist solely
    *    of chars < U+D800: the ORC writer computes min/max in Java
    *    UTF-16 order, which agrees with [[pruneFiles]]'s UTF-8 order
    *    exactly when the first differing unit is below the surrogate
    *    range — and an all-sub-surrogate endpoint proves every
    *    comparison that selected it resolved there (a supplementary
    *    value would have compared ABOVE such a max in both orders);
    *  - date/timestamp/decimal/binary carry no bounds (never pruned);
    *  - `null_count` = rows − numberOfValues (exact for top-level
    *    columns; ORC always records the value count). */
  private def orcFooterStats(file: String, conf: SerializableConfiguration,
                             wanted: Set[String]): Seq[FileColStats] = {
    import org.apache.orc.{ColumnStatistics => OrcStats, OrcFile, TypeDescription}
    val reader = OrcFile.createReader(new Path(file),
      OrcFile.readerOptions(conf.value))
    try {
      val schema = reader.getSchema
      if (schema.getCategory != TypeDescription.Category.STRUCT) return Nil
      val rows = reader.getNumberOfRows
      val stats: Array[OrcStats] = reader.getStatistics
      val fields = schema.getFieldNames.asScala.toSeq
        .zip(schema.getChildren.asScala.toSeq)
      fields.filter { case (n, _) => wanted.isEmpty || wanted(n) }
        .sortBy(_._1)
        .map { case (name, t) =>
          val cs = stats(t.getId)
          val nonNull = cs.getNumberOfValues
          val nulls = rows - nonNull
          val typ = t.getCategory.getName.toUpperCase
          val base = FileColStats(file, rows, name, typ,
            None, None, None, None, nulls)
          if (nonNull == 0L) base // all-null (or empty): excludable via nulls
          else cs match {
            case s: org.apache.orc.IntegerColumnStatistics =>
              base.copy(min_num = Some(Math.nextDown(s.getMinimum.toDouble)),
                max_num = Some(Math.nextUp(s.getMaximum.toDouble)))
            case s: org.apache.orc.DoubleColumnStatistics =>
              base.copy(min_num = Some(s.getMinimum),
                max_num = Some(s.getMaximum))
            case s: org.apache.orc.StringColumnStatistics =>
              val (lo, hi) = (Option(s.getMinimum), Option(s.getMaximum))
              def subSurrogate(v: String) = v.forall(_ < '\uD800')
              if (lo.exists(subSurrogate) && hi.exists(subSurrogate))
                base.copy(typ = "STRING", min_str = lo, max_str = hi)
              else base.copy(typ = "STRING")
            case _ => base // boolean/date/ts/decimal/binary: no bounds
          }
        }
    } finally reader.close()
  }

  /** UTF-8 byte / code-point order — matches Spark's UTF8String binary
    * comparison used by [[pruneFiles]]'s string range predicates. */
  private object Utf8Ordering extends Ordering[String] {
    def compare(a: String, b: String): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
  }

  private def isString(pt: PrimitiveType): Boolean =
    pt.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.BINARY &&
      pt.getLogicalTypeAnnotation != null &&
      pt.getLogicalTypeAnnotation.isInstanceOf[
        LogicalTypeAnnotation.StringLogicalTypeAnnotation]

  /** Conservative double bounds for a numeric chunk set; None for
    * non-numeric types or absent stats. INT64 widens one ulp each way —
    * a long above 2^53 rounds when cast, and a round UP of the min (or
    * down of the max) could otherwise fabricate disjointness.
    *
    * LOGICAL-type aware: the physical integer a footer stores is not
    * always the value Spark compares. A decimal column's stats carry the
    * UNSCALED integer (`decimal(10,2)` 123.45 → 12345) while the pruner's
    * literals are SCALED — comparing raw would prove false disjointness
    * and prune files that contain matching rows. So decimal bounds
    * rescale by 10^-scale (INT32/INT64/binary-backed alike), MILLIS
    * timestamps rescale to the micros Spark literals carry, and the
    * untranslatable annotations (unsigned ints, TIME, non-milli/micro
    * timestamps) emit NO bounds rather than wrong ones. Every lossy
    * conversion ulp-widens. Indexes built before this rescaling over
    * decimal columns must be rebuilt ([[build]]). */
  private def numericBounds(pt: PrimitiveType,
                            stats: Seq[Statistics[_]]): Option[(Double, Double)] = {
    import PrimitiveType.PrimitiveTypeName._
    if (stats.isEmpty) return None
    def widened(lo: Double, hi: Double) =
      Some((Math.nextDown(lo), Math.nextUp(hi)))
    pt.getLogicalTypeAnnotation match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
        def unscaled(v: Any): Option[java.math.BigInteger] = v match {
          case i: java.lang.Integer => Some(java.math.BigInteger.valueOf(i.longValue))
          case l: java.lang.Long => Some(java.math.BigInteger.valueOf(l))
          // FLBA / BINARY decimals: big-endian two's-complement unscaled
          case b: org.apache.parquet.io.api.Binary =>
            Some(new java.math.BigInteger(b.getBytes))
          case _ => None
        }
        def scaled(u: java.math.BigInteger): Double =
          new java.math.BigDecimal(u, d.getScale).doubleValue
        val los = stats.map(s => unscaled(s.genericGetMin))
        val his = stats.map(s => unscaled(s.genericGetMax))
        if (los.exists(_.isEmpty) || his.exists(_.isEmpty)) None
        else widened(los.flatten.map(scaled).min, his.flatten.map(scaled).max)
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if pt.getPrimitiveTypeName == INT64 =>
        val factor = t.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MICROS => 1L
          case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
          case _ => return None // NANOS etc.: Spark has no literal in that unit
        }
        def micros(v: Any): Double =
          java.math.BigDecimal.valueOf(v.asInstanceOf[java.lang.Long].longValue)
            .multiply(java.math.BigDecimal.valueOf(factor)).doubleValue
        widened(stats.map(s => micros(s.genericGetMin)).min,
          stats.map(s => micros(s.genericGetMax)).max)
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if !i.isSigned =>
        None // raw signed bits of an unsigned column mis-order its values
      case _: LogicalTypeAnnotation.TimeLogicalTypeAnnotation => None
      case _ => pt.getPrimitiveTypeName match {
        case INT32 =>
          Some((stats.map(_.genericGetMin.asInstanceOf[Integer].toDouble).min,
            stats.map(_.genericGetMax.asInstanceOf[Integer].toDouble).max))
        case INT64 =>
          Some((Math.nextDown(
              stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].toDouble).min),
            Math.nextUp(
              stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].toDouble).max)))
        case FLOAT =>
          Some((stats.map(_.genericGetMin.asInstanceOf[java.lang.Float].toDouble).min,
            stats.map(_.genericGetMax.asInstanceOf[java.lang.Float].toDouble).max))
        case DOUBLE =>
          Some((stats.map(_.genericGetMin.asInstanceOf[java.lang.Double].doubleValue).min,
            stats.map(_.genericGetMax.asInstanceOf[java.lang.Double].doubleValue).max))
        case _ => None
      }
    }
  }

  /** Persist the index (one small parquet relation). */
  def save(stats: DataFrame, indexPath: String): Unit =
    stats.write.mode("overwrite").parquet(indexPath)

  def load(spark: SparkSession, indexPath: String): DataFrame =
    Tables.read(spark, indexPath)

  // -------------------------------------------------------------------
  // Versioned generations — the concurrent-reader manifest
  // -------------------------------------------------------------------
  //
  // `save` overwrites the one index relation in place, which is fine for
  // the single-writer/single-reader discipline but leaves a window where
  // a reader constructing a [[GraftFileIndex]] mid-publish sees an index
  // naming deleted files and crashes. Generations close it the Delta
  // way: each snapshot writes a fresh immutable `_v=N` directory under
  // the index root, readers pin the NEWEST COMPLETE generation (its
  // `_SUCCESS` marker is the commit), and old generations — whose data
  // files [[graft.operators.Upsert.mergeIntoVersioned]] leaves on disk —
  // stay readable until [[vacuumGenerations]]/[[vacuum]] reap them past
  // the retention window. Writers stay single (generation numbering is
  // not fenced); READERS become freely concurrent.

  /** A versioned commit lost the race to a concurrent writer — nothing
    * was published; re-read the table and retry the whole operation
    * (the merge must re-derive against the NEW latest generation). */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** Filesystem schemes whose `create(path, overwrite=false)` is an
    * atomic exclusive create — the primitive the optimistic claim's
    * linearization point requires. HDFS/ViewFS guarantee it in the
    * NameNode; `file:` is check-then-create inside one kernel on one
    * host, which suffices for the single-host deployments (and tests)
    * that use it. Bare object stores (s3a/gs/wasb/abfs/oss) do NOT
    * guarantee it — two writers can both believe they created the
    * claim — so [[saveGeneration]] refuses them loudly rather than
    * letting the fence silently not fence. Extend deliberately via
    * `-Dgraft.claim.extraSchemes=scheme1,scheme2` AFTER fronting the
    * store with a coordination layer (the Delta LogStore pattern). */
  private val atomicClaimSchemes = Set("hdfs", "viewfs", "file", "local")

  private[graft] def claimSchemeSupported(scheme: String): Boolean =
    atomicClaimSchemes.contains(scheme) ||
      sys.props.get("graft.claim.extraSchemes").toSeq
        .flatMap(_.split(",")).map(_.trim).contains(scheme)

  /** Complete (= `_SUCCESS`-marked) generation numbers under the root,
    * ascending. */
  def generations(spark: SparkSession, indexRoot: String): Seq[Long] = {
    val root = new Path(indexRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_v="))
      .flatMap(st => scala.util.Try(
        st.getPath.getName.stripPrefix("_v=").toLong).toOption
        .filter(_ => fs.exists(new Path(st.getPath, "_SUCCESS"))))
      .sorted
  }

  /** Write `stats` as the NEXT generation and return its number — the
    * write is the commit: readers see the generation only once its
    * `_SUCCESS` lands, and no existing generation is touched. Numbering
    * skips past EVERY existing `_v=` directory and `_claim_v=` marker,
    * complete or not, so a crashed writer's carcass never collides
    * (and stays reapable by [[vacuumGenerations]]).
    *
    * `expectedBase` = OPTIMISTIC CONCURRENCY (the Delta commit-slot
    * protocol): the caller names the generation its output was DERIVED
    * FROM (0 for bootstrap). The commit then (1) claims its slot with an
    * exclusive `_claim_v=N` create — atomic on HDFS; the linearization
    * point between racing writers — and (2) aborts with
    * [[ConcurrentWriteException]] if ANY slot between the base and its
    * own is held by someone else (a complete generation or another
    * claim): that writer's changes would otherwise be silently lost,
    * since this manifest was derived from the older base. Exactly one
    * of two same-base racers wins (the one that claims base+1); the
    * loser deletes its claim and throws — nothing published, retry from
    * the new latest. A claim left by a CRASHED writer parks its slot
    * until [[vacuumGenerations]] reaps it past grace (pick grace ≳ your
    * longest write). Without `expectedBase` the legacy single-writer
    * contract applies (no claim, no fence).
    *
    * TOCTOU closed (ADVICE r19): `next` is computed BEFORE the claim, so
    * a racer that claims the same slot, fully commits `_v=next`, and
    * releases its claim inside that window would slip past a
    * between-base-and-next gap check — the committed generation IS
    * `next`, not strictly below it. The post-claim validation therefore
    * re-lists and aborts on ANY slot above `base` that is not this
    * writer's own claim (a committed `_v=next`, a parked higher claim, a
    * crashed dir — all mean this manifest's base is stale). Sidecar and
    * bloom writes inside a claimed slot are exclusive creates
    * (overwrite=false / errorifexists): a collision with a committed
    * generation's metadata fails loudly instead of clobbering it.
    *
    * FILESYSTEM CONTRACT: the claim's linearization point is
    * `fs.create(path, overwrite=false)` being ATOMIC — true on HDFS,
    * ViewFS and POSIX-rename filesystems; NOT true on bare object
    * stores (S3A without a metadata layer, GCS connector in its default
    * mode): there, check-then-create races and two writers can both
    * "win" the slot. `expectedBase` therefore REFUSES schemes outside
    * [[atomicClaimSchemes]] — on an object store, front the commit with
    * a coordination layer (DynamoDB-style lock, Delta's LogStore
    * pattern) or extend the allow-list deliberately via
    * `graft.claim.extraSchemes`. */
  def saveGeneration(stats: DataFrame, indexRoot: String,
                     dataSchema: Option[StructType] = None,
                     partitionCols: Seq[String] = Nil,
                     blooms: Option[DataFrame] = None,
                     expectedBase: Option[Long] = None): Long = {
    val root = new Path(indexRoot)
    val fs = root.getFileSystem(
      stats.sparkSession.sessionState.newHadoopConf())
    def slots(): Seq[Long] =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith("_v="))
          scala.util.Try(n.stripPrefix("_v=").toLong).toOption
        else if (!st.isDirectory && n.startsWith("_claim_v="))
          scala.util.Try(n.stripPrefix("_claim_v=").toLong).toOption
        else None
      }
    val next = (0L +: slots()).max + 1L
    val claim = new Path(root, s"_claim_v=$next")
    expectedBase.foreach { base =>
      require(claimSchemeSupported(fs.getScheme),
        s"saveGeneration: filesystem scheme '${fs.getScheme}' does not " +
          "guarantee an atomic exclusive create — the optimistic claim " +
          "would silently race on it. Use an HDFS-semantics filesystem, " +
          "or extend -Dgraft.claim.extraSchemes after fronting commits " +
          "with an external lock (the Delta LogStore pattern)")
      fs.mkdirs(root)
      // exclusive create: the slot is ours or someone else's, atomically
      try fs.create(claim, false).close()
      catch {
        case e: java.io.IOException =>
          throw new ConcurrentWriteException(
            s"saveGeneration: slot $next under $indexRoot already claimed " +
              s"by a concurrent writer ($e) — retry from the new latest")
      }
      // post-claim validation (re-listed AFTER the linearization point):
      // ANY slot above our base that is not our own claim means another
      // writer committed — or is committing — work this manifest does not
      // include; publishing would lose their update. This covers the
      // strict gap (base, next) AND the TOCTOU window where a racer
      // claimed, committed `_v=next` itself, and released before our
      // claim create.
      val foreign = slots().filter(_ > base).filterNot(_ == next) ++
        (if (fs.exists(new Path(root, s"_v=$next"))) Seq(next) else Nil)
      if (foreign.nonEmpty) {
        fs.delete(claim, false)
        throw new ConcurrentWriteException(
          s"saveGeneration: slot(s) ${foreign.distinct.sorted.mkString(", ")} " +
            s"landed after base $base under $indexRoot — this manifest is " +
            "stale; re-read the table and retry")
      }
    }
    try {
      // sidecars FIRST: once the parquet `_SUCCESS` commits the
      // generation, a racing reader must already find the schema (an
      // orphan sidecar from a crash here is inert — generationSchema is
      // only consulted for generations that exist). Inside a CLAIMED
      // slot the writes are exclusive — a collision means a committed
      // generation's metadata was about to be clobbered (the ADVICE r19
      // TOCTOU tail) and must fail loudly; the legacy single-writer path
      // keeps overwrite semantics (a crashed own attempt may be re-run).
      val exclusive = expectedBase.nonEmpty
      def sidecar(name: String, body: String): Unit = {
        fs.mkdirs(root)
        val out =
          try fs.create(new Path(root, name), !exclusive)
          catch {
            case e: java.io.IOException if exclusive =>
              throw new ConcurrentWriteException(
                s"saveGeneration: sidecar $name already exists under " +
                  s"$indexRoot — a concurrent writer owns slot $next ($e)")
          }
        try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }
      dataSchema.foreach(st => sidecar(s"_schema_v=$next.json", st.json))
      // partition columns recorded alongside: a FILE-EMPTY manifest (a
      // merge that legally deletes every remaining row) carries no paths
      // to parse them from, and an empty-table read still owes the caller
      // the partition columns in its schema
      if (partitionCols.nonEmpty)
        sidecar(s"_partcols_v=$next.json",
          StructType(partitionCols.map(org.apache.spark.sql.types.StructField(
            _, org.apache.spark.sql.types.StringType))).json)
      // bloom relation too: by the time the stats `_SUCCESS` flips the
      // generation live, a reader pinning it must already find its blooms
      // (a generation with no bloom dir reads unprobed — conservative)
      blooms.foreach(b =>
        b.write.mode(if (exclusive) "errorifexists" else "overwrite")
          .parquet(generationBloomsPath(indexRoot, next)))
      stats.write.mode("errorifexists").parquet(s"$indexRoot/_v=$next")
      next
    } finally {
      // success: the committed `_v=N` dir occupies the slot; failure:
      // the partial dir (if any) parks it until vacuum — either way the
      // claim marker has served its purpose
      if (expectedBase.nonEmpty) fs.delete(claim, false)
    }
  }

  /** Where generation `gen`'s per-file Bloom relation lives (when its
    * committing merge maintained one). `_`-prefixed without being a
    * `_v=` directory, so [[generations]] never mistakes it for one. */
  def generationBloomsPath(indexRoot: String, gen: Long): String =
    s"$indexRoot/_blooms_v=$gen"

  /** Generation `gen`'s Bloom relation, if one was committed with it. */
  def generationBlooms(spark: SparkSession, indexRoot: String,
                       gen: Long): Option[DataFrame] = {
    val p = new Path(generationBloomsPath(indexRoot, gen))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(loadBlooms(spark, p.toString)) else None
  }

  /** The data schema (partition column excluded) recorded when
    * generation `gen` was committed — the read schema a
    * schema-evolving table needs: files written before a column was
    * added lack it physically, and the scan fills nulls only when its
    * requested schema is the EVOLVED one, not one inferred from
    * whichever old file came first. Absent for generations written
    * before schema recording (readers fall back to file inference). */
  def generationSchema(spark: SparkSession, indexRoot: String,
                       gen: Long): Option[StructType] =
    readSidecar(spark, indexRoot, s"_schema_v=$gen.json")

  /** The partition column names recorded when generation `gen` was
    * committed (ordered, outermost first) — what lets a FILE-EMPTY
    * manifest still answer with a correctly-schemed empty relation.
    * Absent for generations written before recording. */
  def generationPartitionCols(spark: SparkSession, indexRoot: String,
                              gen: Long): Option[Seq[String]] =
    readSidecar(spark, indexRoot, s"_partcols_v=$gen.json")
      .map(_.fieldNames.toSeq)

  /** The reading twin of [[saveGeneration]]'s sidecar writer: the
    * struct recorded as JSON in `indexRoot/name`, if it exists. */
  private def readSidecar(spark: SparkSession, indexRoot: String,
                          name: String): Option[StructType] = {
    val p = new Path(indexRoot, name)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(0, buf) finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(
          new String(buf, java.nio.charset.StandardCharsets.UTF_8))
        .asInstanceOf[StructType])
    }
  }

  /** The newest complete generation's relation — what every versioned
    * reader pins at construction. */
  def loadLatest(spark: SparkSession, indexRoot: String): DataFrame = {
    val gens = generations(spark, indexRoot)
    require(gens.nonEmpty,
      s"loadLatest: no complete index generation under $indexRoot")
    load(spark, s"$indexRoot/_v=${gens.last}")
  }

  /** Reap old index generations: complete generations beyond the newest
    * `keep`, and incomplete (crashed-write) generation dirs, both only
    * once older than `graceMs` — a reader that pinned a generation
    * within the grace window is never pulled out from under.
    *
    * CLAIMS get their own floor: an incomplete slot's `_claim_v=` marker
    * is reaped only past `max(graceMs, claimGraceMs)` — a retention pass
    * with a small `graceMs` (0 is the common spec/test value) running
    * concurrently with an IN-FLIGHT optimistic commit would otherwise
    * delete the live writer's claim immediately, re-opening exactly the
    * lost-update race the claim exists to prevent (ADVICE r19). Size
    * `claimGraceMs` ≳ your longest commit; pass 0 only when no writer
    * can be live (tests, decommissioned tables). A claim whose `_v=N`
    * DID complete is inert litter (writer crashed between commit and
    * claim release — the committed dir occupies the slot) and reaps past
    * plain `graceMs`, as do orphan metadata sidecars/bloom dirs whose
    * slot has neither a generation nor a claim.
    * Returns the deleted generation directories. */
  def vacuumGenerations(spark: SparkSession, indexRoot: String,
                        keep: Int = 2, graceMs: Long = 0L,
                        nowMs: Long = System.currentTimeMillis(),
                        claimGraceMs: Long = 600000L): Seq[String] = {
    require(keep >= 1, s"vacuumGenerations: keep=$keep must be >= 1")
    val root = new Path(indexRoot)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Nil
    val complete = generations(spark, indexRoot).toSet
    val spared = complete.toSeq.sorted.takeRight(keep).toSet
    val doomed = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_v="))
      .filter { st =>
        val n = scala.util.Try(
          st.getPath.getName.stripPrefix("_v=").toLong).toOption
        val isSpared = n.exists(spared)
        val old = nowMs - st.getModificationTime >= graceMs
        !isSpared && old
      }
      .map(_.getPath)
    doomed.foreach { p =>
      fs.delete(p, true)
      // the generation's sidecars share its lifecycle
      fs.delete(new Path(root,
        s"_schema_v=${p.getName.stripPrefix("_v=")}.json"), false)
      fs.delete(new Path(root,
        s"_partcols_v=${p.getName.stripPrefix("_v=")}.json"), false)
      fs.delete(new Path(root,
        s"_blooms_v=${p.getName.stripPrefix("_v=")}"), true)
    }
    // stale commit-slot claims (a CRASHED writer's — a live writer holds
    // its claim only for the duration of one commit): a claim whose
    // `_v=N` never completed parks the slot and, worse, aborts every
    // later optimistic commit from an older base — reap it, but only
    // past the CLAIM floor (a live commit's claim must never be pulled
    // mid-flight; see the Scaladoc). A claim whose `_v=N` is complete is
    // inert (the committed dir occupies the slot) and reaps past plain
    // grace.
    val claimFloorMs = math.max(graceMs, claimGraceMs)
    fs.listStatus(root).toSeq
      .filter(st => !st.isDirectory &&
        st.getPath.getName.startsWith("_claim_v="))
      .filter { st =>
        val n = scala.util.Try(
          st.getPath.getName.stripPrefix("_claim_v=").toLong).toOption
        val age = nowMs - st.getModificationTime
        if (n.exists(complete)) age >= graceMs else age >= claimFloorMs
      }
      .foreach(st => fs.delete(st.getPath, false))
    // orphan slot metadata: sidecars / bloom dirs for a slot that has
    // neither a `_v=` directory nor a claim (a writer crashed between
    // sidecar and stats write, then its claim was reaped). Left behind
    // they would make the slot's eventual re-claimer fail its exclusive
    // sidecar writes forever. The claim floor applies — an IN-FLIGHT
    // commit writes sidecars before its stats land and must not have
    // them swept.
    val live = fs.listStatus(root).toSeq.flatMap { st =>
      val n = st.getPath.getName
      scala.util.Try {
        if (st.isDirectory && n.startsWith("_v=")) Some(n.stripPrefix("_v=").toLong)
        else if (!st.isDirectory && n.startsWith("_claim_v="))
          Some(n.stripPrefix("_claim_v=").toLong)
        else None
      }.toOption.flatten
    }.toSet
    def orphanSlot(name: String, prefix: String, suffix: String): Option[Long] =
      if (!name.startsWith(prefix) || !name.endsWith(suffix)) None
      else scala.util.Try(name.stripPrefix(prefix)
        .stripSuffix(suffix).toLong).toOption.filterNot(live)
    fs.listStatus(root).toSeq
      .filter { st =>
        val n = st.getPath.getName
        (orphanSlot(n, "_schema_v=", ".json").nonEmpty ||
          orphanSlot(n, "_partcols_v=", ".json").nonEmpty ||
          (st.isDirectory && orphanSlot(n, "_blooms_v=", "").nonEmpty)) &&
          nowMs - st.getModificationTime >= claimFloorMs
      }
      .foreach(st => scala.util.Try(fs.delete(st.getPath, true)))
    doomed.map(_.toString).sorted
  }

  /** Retention for a VERSIONED table in one call, ordered so every
    * RETAINED generation stays time-travel readable: first reap
    * generations past the newest `keep` ([[vacuumGenerations]]), then
    * reap data files that NO surviving generation names — the union of
    * the retained manifests is the keep-set, so a file still promised
    * by an older retained snapshot is never deleted (a bare
    * `vacuum(table, loadLatest(...))` on a versioned table would —
    * the manifests outliving their files is exactly the breakage
    * ChangeFeedSpec pins). Returns (reaped generation dirs, reaped
    * data files). */
  def retire(spark: SparkSession, tablePath: String, indexRoot: String,
             keep: Int = 2, graceMs: Long = 0L,
             nowMs: Long = System.currentTimeMillis(),
             claimGraceMs: Long = 600000L): (Seq[String], Seq[String]) = {
    val gens0 = generations(spark, indexRoot)
    require(gens0.nonEmpty,
      s"retire: no complete index generation under $indexRoot")
    val reapedGens = vacuumGenerations(spark, indexRoot, keep, graceMs, nowMs,
      claimGraceMs)
    val retained = generations(spark, indexRoot)
    require(retained.nonEmpty, "retire: vacuumGenerations left no generation")
    val keepSet = retained.map(g => load(spark, s"$indexRoot/_v=$g"))
      .reduce(_.unionByName(_))
    // every retained manifest FILE-EMPTY (a delete-all table): vacuum's
    // empty-stats guard would refuse — stand down on the data sweep
    // (conservative; replaced files wait for a later non-empty
    // generation) rather than treat the guard as an error
    if (keepSet.select("file").limit(1).isEmpty) (reapedGens, Nil)
    else (reapedGens, vacuum(spark, tablePath, keepSet, graceMs, nowMs))
  }

  /** Footer stats for an explicit file list, as one distributed pass —
    * the shared worker behind [[build]]/[[updateFiles]]/
    * [[replacePartitions]] and the versioned merge. */
  private[graft] def statsForFiles(spark: SparkSession, files: Seq[String],
                                   columns: Seq[String] = Nil): DataFrame = {
    import spark.implicits._
    if (files.isEmpty) return spark.emptyDataset[FileColStats].toDF()
    val conf = new SerializableConfiguration(spark.sessionState.newHadoopConf())
    val wanted = columns.toSet
    val par = math.min(files.size, spark.sparkContext.defaultParallelism)
    spark.createDataset(files).repartition(par)
      .mapPartitions(_.flatMap(f => footerStats(f, conf, wanted)))
      .toDF()
  }

  /** Incremental maintenance: index stats for files under `tablePath`
    * NOT yet in the index at `indexPath`, appending only those rows —
    * existing entries are never read back or rewritten, so an
    * append-mostly table pays one footer read per file over its life.
    * Returns the number of newly indexed files. (Deleted files' stale
    * rows are harmless for pruning — they name files the scan will
    * never be asked to read — but [[build]]+[[save]] rebuilds clean.) */
  def update(spark: SparkSession, tablePath: String, indexPath: String,
             columns: Seq[String] = Nil): Long =
    updateFiles(spark, listDataFiles(spark, tablePath), indexPath, columns)

  /** [[update]] fed a PRE-LISTED candidate set — the ingest publish path
    * already knows exactly which files it just wrote, so it can skip the
    * tree walk entirely (at millions of files the walk is the cost the
    * delta avoids). Candidates already indexed are skipped, making the
    * call idempotent under publish replay. */
  def updateFiles(spark: SparkSession, candidates: Seq[String], indexPath: String,
                  columns: Seq[String] = Nil): Long = {
    val fs = new Path(indexPath).getFileSystem(spark.sessionState.newHadoopConf())
    val existing: Set[String] =
      if (!fs.exists(new Path(indexPath))) Set.empty
      else load(spark, indexPath).select("file").distinct()
        .collect().map(_.getString(0)).toSet
    val fresh = candidates.filterNot(existing)
    if (fresh.isEmpty) return 0L
    statsForFiles(spark, fresh, columns).write.mode("append").parquet(indexPath)
    fresh.size.toLong
  }

  /** VACUUM: delete data files on disk but ABSENT from the stats
    * relation — the reaper that completes the manifest discipline
    * ([[graft.sources.IndexedScan]]: the indexed file SET is the table;
    * an unindexed file is invisible to every index-aware reader, so
    * after `graceMs` it is garbage by definition — a crashed writer's
    * leftover, a replaced partition's old generation, a bypassing
    * write that must not silently join the table).
    *
    * Safety rails:
    *  - refuses an EMPTY stats relation (that vacuum would be "delete
    *    the table" — rebuild or pass the right index instead);
    *  - `graceMs` spares young files: a plain (non-staged) writer still
    *    mid-commit is never reaped — pick it ≳ your longest write;
    *  - only data files the discovery walk can see are candidates:
    *    `_`/`.`-prefixed staging/trash/log dirs belong to their own
    *    lifecycles ([[graft.streaming.BatchLog]]'s orphan sweep, the
    *    RawLayer publish machinery) and are never touched;
    *  - `dryRun` reports without deleting.
    *
    * Metadata-scale driver work (one tree walk + one `getFileStatus`
    * per unindexed candidate — normally a handful). Returns the deleted
    * (or, dry, would-delete) fully-qualified paths, sorted. */
  def vacuum(spark: SparkSession, tablePath: String, stats: DataFrame,
             graceMs: Long, nowMs: Long = System.currentTimeMillis(),
             dryRun: Boolean = false): Seq[String] = {
    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    val indexed = stats.select("file").distinct()
      .collect().map(r => fs.makeQualified(new Path(r.getString(0))).toString)
      .toSet
    require(indexed.nonEmpty,
      s"vacuum: stats relation is empty — refusing to treat every file " +
        s"under $tablePath as garbage")
    val onDisk = listDataFiles(spark, tablePath)
      .map(f => fs.makeQualified(new Path(f)).toString)
    val doomed = onDisk.filterNot(indexed).filter { f =>
      nowMs - fs.getFileStatus(new Path(f)).getModificationTime >= graceMs
    }.sorted
    if (!dryRun) {
      doomed.foreach(f => fs.delete(new Path(f), false))
      // sweep partition directories the reap EMPTIED, bottom-up (stop at
      // the table root; only `col=value` segments) — correctness never
      // needs this (empty dirs hold no rows), but at object-store scale
      // dead directories tax every listing a writer or walk still does
      val rootQ = fs.makeQualified(new Path(tablePath))
      doomed.map(f => new Path(f).getParent).distinct.foreach { p0 =>
        var p = p0
        // best-effort sweep, Try on BOTH list and delete: a concurrent
        // writer repopulating the dir between them makes the
        // non-recursive delete throw on HDFS — that is the writer
        // winning, not a vacuum failure (correctness never needs the
        // sweep; empty dirs hold no rows)
        while (p != null && fs.makeQualified(p) != rootQ &&
            p.getName.contains("=") &&
            scala.util.Try(fs.listStatus(p).isEmpty).getOrElse(false) &&
            scala.util.Try(fs.delete(p, false)).getOrElse(false)) {
          p = p.getParent
        }
      }
    }
    logInfo(s"vacuum($tablePath): ${onDisk.size} on disk, " +
      s"${indexed.size} indexed, ${doomed.size} " +
      (if (dryRun) "reapable (dry run)" else "deleted"))
    doomed
  }

  // -------------------------------------------------------------------
  // Partition-path codec: the one mapping between a partition value
  // tuple and the manifest paths under it
  // -------------------------------------------------------------------
  //
  // A tuple over `partitionCols` (outermost first) names the nested
  // `c1=v1/c2=v2` directory `partitionBy` writes. Every module that maps
  // tuples to paths or back goes through four pieces:
  //  - encode: [[partitionDir]] (each value rendered by [[partitionDirValue]]);
  //  - decode: [[partitionOf]];
  //  - extract: [[partitionSegmentValues]], executor-side;
  //  - restrict: [[restrictToPartitions]].
  //
  // Matching rule: a manifest row is under tuple `t` when, for every
  // partition column `c`, the first `/c=…/` directory segment of its
  // `file` carries `t`'s encoded value for `c`. Values compare encoded to
  // encoded, so no unescape runs on the data path.

  /** One partition value as the directory-name component `partitionBy`
    * writes for it: the value cast to string in the session time zone
    * (the writer's own cast), Hive-escaped (`%` → `%25`, `:`/`=`/control
    * chars → `%xx`); NULL or empty names the default partition. A String
    * is taken as already cast — the form [[partitionTuples]] collects
    * and [[partitionOf]] decodes. `String.valueOf` is not this
    * rendering: a TIMESTAMP prints `…10:00:00.0` and a DECIMAL zero of
    * scale 8 `0E-8`, directories the writer never makes. */
  private[graft] def partitionDirValue(spark: SparkSession, v: Any): String = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val s = v match {
      case null => null
      case s: String => s
      case other => Cast(Literal(other), org.apache.spark.sql.types.StringType,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval().toString
    }
    if (s == null || s.isEmpty) DEFAULT_PARTITION_NAME else escapePathName(s)
  }

  /** The nested `c1=v1/c2=v2` directory path `partitionBy(cols…)` writes
    * for one value tuple (outermost first): column names and values
    * escaped as the writer escapes them. */
  private[graft] def partitionDir(spark: SparkSession, partitionCols: Seq[String],
                                  tuple: Seq[Any]): String =
    partitionCols.zip(tuple).map { case (c, v) =>
      s"${escapePathName(c)}=${partitionDirValue(spark, v)}"
    }.mkString("/")

  /** The inverse of [[partitionDir]]: the `(column, value)` pairs of the
    * trailing `c=v` segments of directory path `dir`, outermost first —
    * the segments Spark's own partition discovery parses (it too stops
    * at the first segment without `=`). Both sides unescape with Spark's
    * `unescapePathName`; the default partition decodes to NULL. */
  private[graft] def partitionOf(dir: String): Seq[(String, String)] =
    dir.split('/').reverseIterator.takeWhile(_.contains('=')).toSeq.reverse
      .map { seg =>
        val i = seg.indexOf('=')
        val v = seg.substring(i + 1)
        (unescapePathName(seg.substring(0, i)),
          if (v == DEFAULT_PARTITION_NAME) null else unescapePathName(v))
      }

  /** The distinct `partitionCols` tuples of `df`, collected through
    * Spark's string cast — exactly the values the writer renders into
    * directory names; NULL stays null. One job over `df`. */
  private[graft] def partitionTuples(df: DataFrame,
                                     partitionCols: Seq[String]): Seq[Seq[String]] =
    df.select(partitionCols.map(c => col(c).cast("string")): _*)
      .distinct().collect()
      .map(r => partitionCols.indices.map(i =>
        if (r.isNullAt(i)) null else r.getString(i)))
      .toSeq

  /** The indexed files under the given `col=value` partition directories —
    * the file list a partition-pruned read needs, answered from the index
    * relation instead of a table-tree listing (at millions of files the
    * listing is exactly the planning cost the index removes). Values are
    * rendered by [[partitionDirValue]] before the path-segment match, so
    * they compare against the directory names Spark actually writes. */
  def partitionFiles(stats: DataFrame, partitionCol: String,
                     values: Seq[Any]): Seq[String] =
    partitionTupleFiles(stats, Seq(partitionCol), values.map(Seq(_)))

  /** Executor-side: for each partition column, the encoded value of the
    * first `/c=…/` directory segment of a manifest row's `file`, or ""
    * when the path has no such segment. */
  private[graft] def partitionSegmentValues(partitionCols: Seq[String]): Seq[Column] =
    partitionCols.map(c => regexp_extract(col("file"),
      "/" + java.util.regex.Pattern.quote(escapePathName(c)) + "=([^/]+)/", 1))

  /** Past this many partition tuples an OR of segment tests stops being
    * "a bounded expression" and starts being a driver/Catalyst planning
    * problem (a full-table rewrite or compaction-heavy commit touches
    * 10⁴–10⁶ partitions; a left-deep OR that size overflows the
    * optimizer's recursion before any data is read), so
    * [[restrictToPartitions]] switches to the broadcast join. 64 keeps
    * the common small hop/merge on the zero-shuffle filter path. Every
    * tuple restriction goes through [[restrictToPartitions]], so this
    * one threshold governs [[partitionTupleFiles]]/[[partitionFiles]]
    * (the versioned merge's slice read), [[replacePartitions]], the
    * survivor filter of the one versioned commit,
    * [[graft.operators.Upsert.commitVersioned]] (merges, partition
    * replaces and compactions alike). */
  private[graft] val wideTupleThreshold: Int = 64

  /** The manifest rows under (`keep = true`) or not under (`keep =
    * false`) any of `tuples`, by the codec's matching rule. Up to
    * [[wideTupleThreshold]] tuples the test is a filter (an OR of
    * per-column segment equalities, no shuffle); past it, a semi- or
    * anti-join of the extracted segment values against the broadcast
    * tuple relation — cost ∝ manifest size, expression tree
    * O(columns). No tuples keeps nothing (`keep`) or everything. */
  private[graft] def restrictToPartitions(stats: DataFrame,
                                          partitionCols: Seq[String],
                                          tuples: Seq[Seq[Any]],
                                          keep: Boolean): DataFrame = {
    if (tuples.isEmpty) return if (keep) stats.where(lit(false)) else stats
    val spark = stats.sparkSession
    val tcols = partitionCols.indices.map(i => s"_tp$i")
    val encoded = tuples.map(_.map(partitionDirValue(spark, _)))
    val tagged = stats.select(col("*") +: partitionSegmentValues(partitionCols)
      .zip(tcols).map { case (e, n) => e.as(n) }: _*)
    val restricted =
      if (tuples.size > wideTupleThreshold) {
        val schema = StructType(tcols.map(c =>
          org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType, nullable = false)))
        val tuplesDf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            encoded.map(org.apache.spark.sql.Row.fromSeq),
            math.max(1, math.min(tuples.size / 50000 + 1, 32))), schema)
          .distinct()
        tagged.join(broadcast(tuplesDf), tcols,
          if (keep) "left_semi" else "left_anti")
      } else {
        val under = encoded.map(t => tcols.zip(t)
          .map { case (c, v) => col(c) === v }.reduce(_ && _)).reduce(_ || _)
        tagged.where(if (keep) under else !under)
      }
    restricted.drop(tcols: _*)
  }

  /** [[partitionFiles]] for a MULTI-LEVEL layout: each wanted partition
    * is a value TUPLE over `partitionCols` (outermost first), restricted
    * by [[restrictToPartitions]]. */
  def partitionTupleFiles(stats: DataFrame, partitionCols: Seq[String],
                          tuples: Seq[Seq[Any]]): Seq[String] = {
    require(tuples.nonEmpty, "partitionTupleFiles: empty tuple list")
    require(partitionCols.nonEmpty, "partitionTupleFiles: no partition columns")
    tuples.foreach(t => require(t.size == partitionCols.size,
      s"partitionTupleFiles: tuple $t does not match columns $partitionCols"))
    restrictToPartitions(stats, partitionCols, tuples, keep = true)
      .select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Replace the index rows for files under `partitionDirs` with fresh
    * footer stats for the files NOW there — the maintenance a
    * partition-grain rewrite ([[graft.operators.Upsert.mergeInto]],
    * compaction) owes an index it reads from: after the rewrite the old
    * file names are gone and the new ones unindexed, and an index used
    * AS the file listing must never name a deleted file. The directories
    * decode ([[partitionOf]]) to tuples of one partition layout; survivor
    * rows are pinned eagerly ([[Materialize.pinNow]]) before the overwrite so
    * the rewrite never reads the files it replaces. The index is
    * derivable metadata — a crash mid-overwrite loses nothing [[build]]
    * cannot recreate. */
  def replacePartitions(spark: SparkSession, indexPath: String,
                        partitionDirs: Seq[String],
                        columns: Seq[String] = Nil): Unit = {
    if (partitionDirs.isEmpty) return
    val parts = partitionDirs.map(partitionOf)
    val cols = parts.head.map(_._1)
    require(cols.nonEmpty && parts.forall(_.map(_._1) == cols),
      s"replacePartitions: ${partitionDirs.mkString(", ")} are not partition " +
        "directories of one layout")
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new Path(indexPath).getFileSystem(hconf)
    val survivors =
      if (!fs.exists(new Path(indexPath))) None
      else Some(Materialize.pinNow(restrictToPartitions(load(spark, indexPath),
        cols, parts.map(_.map(_._2)), keep = false)))
    val fresh = partitionDirs.flatMap { d =>
      val dir = new Path(d)
      val dfs = dir.getFileSystem(hconf)
      if (!dfs.exists(dir)) Nil
      else dfs.listStatus(dfs.makeQualified(dir)).toSeq
        .filter(st => !st.isDirectory && isDataFile(st.getPath.getName))
        .map(_.getPath.toString)
    }
    val freshStats = statsForFiles(spark, fresh, columns)
    survivors.map(_.unionByName(freshStats)).getOrElse(freshStats)
      .write.mode("overwrite").parquet(indexPath)
  }

  /** Files that MAY contain rows matching every range predicate —
    * conjunctive semantics, conservative per column: a file is dropped
    * only when stats prove a column disjoint from its range
    * (`max < lo` or `min > hi`) or prove it all-null. Unknown stats
    * keep the file. `numRanges` compare against the numeric bounds
    * (give timestamps/dates in their physical units — µs / days);
    * `strRanges` against the UTF-8 string bounds. */
  def pruneFiles(stats: DataFrame,
                 numRanges: Map[String, (Double, Double)],
                 strRanges: Map[String, (String, String)] = Map.empty): Seq[String] = {
    val allFiles = stats.select(col("file")).distinct()
    val allNull = col("null_count") >= 0 && col("null_count") === col("rows")
    val violations = numRanges.map { case (c, (lo, hi)) =>
      col("column") === c &&
        (allNull ||
          (col("max_num").isNotNull && col("max_num") < lo) ||
          (col("min_num").isNotNull && col("min_num") > hi))
    } ++ strRanges.map { case (c, (lo, hi)) =>
      col("column") === c &&
        (allNull ||
          (col("max_str").isNotNull && col("max_str") < lo) ||
          (col("min_str").isNotNull && col("min_str") > hi))
    }
    if (violations.isEmpty)
      return allFiles.collect().map(_.getString(0)).toSeq.sorted
    val excluded = stats.where(violations.reduce(_ || _))
      .select(col("file")).distinct()
    allFiles.except(excluded).collect().map(_.getString(0)).toSeq.sorted
  }

  /** Read only the files the index cannot rule out. The result still
    * contains non-matching rows from surviving files — re-apply the
    * real predicate; the index only shrinks the FILE list (and with it
    * listing, footer, and scan work). */
  def prunedRead(spark: SparkSession, stats: DataFrame,
                 numRanges: Map[String, (Double, Double)],
                 strRanges: Map[String, (String, String)] = Map.empty): DataFrame = {
    val files = pruneFiles(stats, numRanges, strRanges)
    if (files.isEmpty) emptyLike(spark, stats, "prunedRead")
    else readFiles(spark, files, "prunedRead")
  }

  /** A total prune is the index working perfectly: the answer to the
    * query is zero rows, not an error. Schema comes from one indexed
    * file's footer (`limit(0)` plans no scan tasks), so callers get a
    * correctly-typed empty frame without pre-screening for absence. */
  private def emptyLike(spark: SparkSession, stats: DataFrame,
                        caller: String): DataFrame = {
    val any = stats.select(col("file")).limit(1).collect()
    require(any.nonEmpty,
      s"$caller: stats index is empty — no files to derive a schema from")
    logInfo(s"$caller: every file pruned — returning empty result")
    readFiles(spark, Seq(any.head.getString(0)), caller).limit(0)
  }

  private def readFiles(spark: SparkSession, files: Seq[String],
                        caller: String): DataFrame = {
    val (orc, parquet) = files.partition(_.endsWith(".orc"))
    require(orc.isEmpty || parquet.isEmpty,
      s"$caller: index mixes parquet and ORC files — one table, one format")
    if (orc.nonEmpty) spark.read.orc(orc: _*)
    else Tables.read(spark, parquet: _*)
  }

  // -------------------------------------------------------------------
  // Per-file Bloom membership index (equality predicates)
  // -------------------------------------------------------------------

  /** One file × column Bloom filter — the point-lookup complement to
    * [[FileColStats]]: min/max ranges prune when data CLUSTERS (sorted
    * or z-ordered layouts give tight per-file rectangles), Bloom bits
    * prune when values SCATTER — the high-cardinality key whose every
    * file spans nearly the full range, where `min ≤ v ≤ max` holds for
    * every file and range pruning is useless. */
  final case class FileBloom(file: String, column: String,
                             bloom: Array[Byte])

  /** Build per-file Bloom filters for `columns` in ONE distributed table
    * scan: rows group by their source file and fold into a
    * [[graft.functions.BloomBuildAgg]] per column (map-side partial
    * filters, bitwise OR merge) — never one scan per file, never a
    * driver loop. Columns must be string/long/int (equality on doubles
    * is rejected loudly). Sizing: `expectedItemsPerFile` rows at `fpp`
    * per (file, column) — ~1.2 MB of bits per million rows at 1%; the
    * relation stays metadata-scale (files × columns rows).
    *
    * Probe guarantee mirrors the stats index's conservatism: NO false
    * negatives (a file containing the value ALWAYS survives
    * [[pruneFilesBloom]] — Bloom filters one-sidedly err toward
    * "maybe"), false positives at fpp merely keep a file the scan then
    * filters row-wise. */
  def buildBlooms(spark: SparkSession, tablePath: String,
                  columns: Seq[String],
                  expectedItemsPerFile: Long = 1L << 20,
                  fpp: Double = 0.01): DataFrame = {
    require(columns.nonEmpty, "buildBlooms: no columns")
    val files = listDataFiles(spark, tablePath)
    bloomsForFiles(spark, files, columns, expectedItemsPerFile, fpp)
  }

  /** Reconcile a persisted bloom index with the table's CURRENT file
    * set: scan ONLY files the index has not seen (the [[update]]
    * discipline), and DROP rows for files that no longer exist — a
    * partition republish (aside-rename trash, fresh part-file names)
    * must not leave the index naming deleted files, or a later
    * [[pruneFilesBloom]] survivor list reads into PATH_NOT_FOUND (the
    * `replacePartitions` lesson, applied here as full reconciliation:
    * the bloom relation is metadata-scale, so the listing diff is the
    * whole cost). Kept rows are pinned ([[Materialize.pinNow]]) before the
    * overwrite, the [[replacePartitions]] read-then-replace discipline. */
  def updateBlooms(spark: SparkSession, tablePath: String,
                   bloomsPath: String, columns: Seq[String],
                   expectedItemsPerFile: Long = 1L << 20,
                   fpp: Double = 0.01): DataFrame = {
    import spark.implicits._
    val existing = loadBlooms(spark, bloomsPath)
    val known = existing.select(col("file")).distinct()
      .as[String].collect().toSet
    val current = listDataFiles(spark, tablePath)
    val fresh = current.filterNot(known)
    val stale = known -- current
    val freshRows =
      if (fresh.isEmpty) None
      else Some(bloomsForFiles(spark, fresh, columns,
        expectedItemsPerFile, fpp))
    if (stale.nonEmpty) {
      val kept = Materialize.pinNow(existing.where(col("file").isin(current: _*)))
      freshRows.fold(kept)(kept.unionByName(_))
        .write.mode("overwrite").parquet(bloomsPath)
    } else freshRows.foreach(
      _.write.mode("append").parquet(bloomsPath))
    loadBlooms(spark, bloomsPath)
  }

  /** [[updateBlooms]] with bootstrap: builds and persists the index when
    * none exists yet — the publish-path entry point ([[graft.sources
    * .CsvIngest]]'s `writeRaw(bloomsPath=…)`, `Upsert.mergeInto`), so
    * maintaining the bloom index is one option flag, never a manual
    * build-then-update choreography. */
  def reconcileBlooms(spark: SparkSession, tablePath: String,
                      bloomsPath: String, columns: Seq[String],
                      expectedItemsPerFile: Long = 1L << 20,
                      fpp: Double = 0.01): DataFrame = {
    require(columns.nonEmpty, "reconcileBlooms: no columns")
    val bp = new Path(bloomsPath)
    val fs = bp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(bp)) {
      saveBlooms(buildBlooms(spark, tablePath, columns,
        expectedItemsPerFile, fpp), bloomsPath)
      loadBlooms(spark, bloomsPath)
    } else updateBlooms(spark, tablePath, bloomsPath, columns,
      expectedItemsPerFile, fpp)
  }

  private[graft] def bloomsForFiles(spark: SparkSession, files: Seq[String],
                                    columns: Seq[String], items: Long,
                                    fpp: Double): DataFrame = {
    import spark.implicits._
    if (files.isEmpty) return spark.emptyDataset[FileBloom].toDF()
    val data = readFiles(spark, files, "buildBlooms")
    columns.foreach { c =>
      val dt = data.schema(c).dataType // throws loudly on a missing column
      require(dt == org.apache.spark.sql.types.StringType ||
          dt == org.apache.spark.sql.types.LongType ||
          dt == org.apache.spark.sql.types.IntegerType,
        s"buildBlooms: column '$c' is $dt — equality membership needs " +
          "string/long/int")
    }
    def agg(c: String) = org.apache.spark.sql.graft.Bridge.column(
      graft.functions.BloomBuildAgg(
          org.apache.spark.sql.graft.Bridge.expression(col(c)), items, fpp)
        .toAggregateExpression()).as(c)
    val wide = data.withColumn("_file", input_file_name())
      .groupBy(col("_file"))
      .agg(agg(columns.head), columns.tail.map(agg): _*)
    val pairs = columns.flatMap(c => Seq(lit(c), col(c)))
    wide.select(col("_file"),
        explode(map(pairs: _*)).as(Seq("column", "bloom")))
      .as[(String, String, Array[Byte])]
      // normalize the scan's file URIs (file:///x) to the listing's
      // qualified form (file:/x) so bloom rows and [[FileColStats]]
      // rows name files IDENTICALLY and survivor lists intersect
      .map { case (f, c, b) => FileBloom(new Path(f).toString, c, b) }
      .toDF()
  }

  /** Persist / load the bloom relation (tiny; one parquet footprint). */
  def saveBlooms(blooms: DataFrame, path: String): Unit =
    blooms.write.mode("overwrite").parquet(path)

  def loadBlooms(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, path)

  /** Files that MAY contain rows matching every equality predicate —
    * conjunctive, conservative: a file is dropped only when some
    * predicate column's Bloom filter proves the value absent; a file
    * with no bloom row for a predicate column is kept (unknown never
    * prunes). Evaluation is distributed over the bloom relation (one
    * filter deserialization per (file, column) row — metadata-scale),
    * never a driver loop over filters. */
  def pruneFilesBloom(blooms: DataFrame,
                      eqStr: Map[String, String],
                      eqLong: Map[String, Long] = Map.empty): Seq[String] = {
    val spark = blooms.sparkSession
    import spark.implicits._
    val allFiles = blooms.select(col("file")).distinct()
    if (eqStr.isEmpty && eqLong.isEmpty)
      return allFiles.as[String].collect().toSeq.sorted
    val cols = (eqStr.keySet ++ eqLong.keySet).toSeq
    val excluded = blooms
      .where(col("column").isin(cols: _*))
      .select(col("file"), col("column"), col("bloom"))
      .as[(String, String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (file, column, bytes) =>
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes))
          val absent = eqStr.get(column).map(v => !bf.mightContainString(v))
            .orElse(eqLong.get(column).map(v => !bf.mightContainLong(v)))
            .getOrElse(false)
          if (absent) Some(file) else None
        }
      }.toDF("file").distinct()
    allFiles.except(excluded).as[String].collect().toSeq.sorted
  }

  /** Files that MAY contain AT LEAST ONE of the probe `values` in
    * `column` — the batch-probe variant of [[pruneFilesBloom]] (a
    * point-update merge probes its whole update batch's keys at once).
    * Returned survivors are drawn from the bloom relation's file
    * UNIVERSE; the caller must treat files absent from the relation as
    * unknown and keep them (the [[prunedReadPoint]] discipline).
    * Conservative: a file is dropped only when its Bloom filter proves
    * EVERY probe value absent — no false negatives, a file containing
    * any probed key always survives. Probe values ship with the task
    * closure (caller bounds their count); evaluation is one pass over
    * the metadata-scale bloom relation. */
  def pruneFilesBloomAny(blooms: DataFrame, column: String,
                         strValues: Seq[String] = Nil,
                         longValues: Seq[Long] = Nil): Seq[String] = {
    require(strValues.isEmpty != longValues.isEmpty,
      "pruneFilesBloomAny: exactly one probe type (got " +
        s"${strValues.size} strings, ${longValues.size} longs)")
    val spark = blooms.sparkSession
    import spark.implicits._
    val allFiles = blooms.select(col("file")).distinct()
    val excluded = blooms.where(col("column") === column)
      .select(col("file"), col("bloom"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (file, bytes) =>
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(bytes))
          val anyHit =
            if (strValues.nonEmpty) strValues.exists(bf.mightContainString)
            else longValues.exists(bf.mightContainLong)
          if (anyHit) None else Some(file)
        }
      }.toDF("file").distinct()
    allFiles.except(excluded).as[String].collect().toSeq.sorted
  }

  /** Point-lookup read: equality predicates pruned by BOTH indexes —
    * min/max treats `col = v` as the degenerate range `[v, v]` (wins on
    * clustered layouts) and the Bloom filters rule out scattered files
    * range bounds cannot (wins on high-cardinality keys) — then only
    * the intersection of survivors is scanned. Long probe values round
    * through double for the range side exactly as [[build]]'s
    * ulp-widened bounds expect: rounding can only widen, never
    * fabricate a disjoint. Re-apply the real predicate after the read.
    *
    * Absence from the bloom relation is UNKNOWN, never absence of the
    * value: a stats survivor with no bloom row at all (landed by
    * [[graft.sources.CsvIngest]]'s `writeRaw` — which auto-maintains
    * only the stats index — before [[updateBlooms]] ran) is KEPT; only
    * an actual Bloom filter may prove a value absent. Dropping such a
    * file would return wrong (missing) rows and break the
    * no-false-negative contract both indexes share. */
  def prunedReadPoint(spark: SparkSession, stats: DataFrame,
                      blooms: DataFrame,
                      eqStr: Map[String, String],
                      eqLong: Map[String, Long] = Map.empty): DataFrame = {
    import spark.implicits._
    val ranges = eqLong.map { case (c, v) => c -> (v.toDouble, v.toDouble) }
    val strRanges = eqStr.map { case (c, v) => c -> (v, v) }
    val byStats = pruneFiles(stats, ranges, strRanges).toSet
    val byBloom = pruneFilesBloom(blooms, eqStr, eqLong).toSet
    val bloomCovered = blooms.select(col("file")).distinct()
      .as[String].collect().toSet
    val files = byStats.filter(f => byBloom(f) || !bloomCovered(f))
      .toSeq.sorted
    if (files.isEmpty) emptyLike(spark, stats, "prunedReadPoint")
    else readFiles(spark, files, "prunedReadPoint")
  }
}
