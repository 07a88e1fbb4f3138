package graft

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetBridge, ParquetFileFormat, ParquetOptions}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated star-schema test tables.
  *
  * Mirrors the reference's config-driven table registry with declared schemas
  * (/root/reference/config/sales_config.yaml, /root/reference/utils/operators.py:11-96):
  * every table has a declared column->type contract, `load` validates the
  * on-disk parquet against it, and documented coercions are applied centrally
  * here rather than at call sites. Schema drift in the driver's generated
  * testdata (it has already shipped two encodings of `events.ts` across
  * rounds: INT64 TIMESTAMP(NANOS) and timestamp[us]) therefore fails as ONE
  * named `testdata schema drift` error at load, instead of N scattered
  * analysis errors deep inside queries.
  *
  * [[read]] underneath `load` is the engine's one schema-inferring parquet
  * read: every layer, index and model read in `src/main` goes through it.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Timestamp columns may arrive as µs TIMESTAMP with or without the
    * isAdjustedToUTC bit (Spark 4 reads the latter as TIMESTAMP_NTZ when
    * `spark.sql.parquet.inferTimestampNTZ.enabled` is on, the default). */
  private val tsEnc: Set[DataType] = Set(TimestampType, TimestampNTZType)
  private val floatArr: Set[DataType] =
    Set(ArrayType(FloatType, containsNull = true), ArrayType(FloatType, containsNull = false))

  /** Declared schema registry: accepted on-disk encodings per column. */
  val declared: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region" -> Seq(
      "r_regionkey" -> Set(IntegerType), "r_name" -> Set(StringType)),
    "nation" -> Seq(
      "n_nationkey" -> Set(IntegerType), "n_name" -> Set(StringType),
      "n_regionkey" -> Set(IntegerType)),
    "customer" -> Seq(
      "c_custkey" -> Set(LongType), "c_name" -> Set(StringType),
      "c_nationkey" -> Set(IntegerType), "c_acctbal" -> Set(DoubleType),
      "c_mktsegment" -> Set(StringType)),
    "supplier" -> Seq(
      "s_suppkey" -> Set(LongType), "s_name" -> Set(StringType),
      "s_nationkey" -> Set(IntegerType), "s_acctbal" -> Set(DoubleType)),
    "part" -> Seq(
      "p_partkey" -> Set(LongType), "p_name" -> Set(StringType),
      "p_brand" -> Set(StringType), "p_type" -> Set(StringType),
      "p_size" -> Set(IntegerType), "p_retailprice" -> Set(DoubleType)),
    "orders" -> Seq(
      "o_orderkey" -> Set(LongType), "o_custkey" -> Set(LongType),
      "o_orderstatus" -> Set(StringType), "o_totalprice" -> Set(DoubleType),
      "o_orderdate" -> tsEnc, "o_orderpriority" -> Set(StringType)),
    "lineitem" -> Seq(
      "l_orderkey" -> Set(LongType), "l_partkey" -> Set(LongType),
      "l_suppkey" -> Set(LongType), "l_linenumber" -> Set(IntegerType),
      "l_quantity" -> Set(DoubleType), "l_extendedprice" -> Set(DoubleType),
      "l_discount" -> Set(DoubleType), "l_tax" -> Set(DoubleType),
      "l_returnflag" -> Set(StringType), "l_linestatus" -> Set(StringType),
      "l_shipdate" -> tsEnc),
    "events" -> Seq(
      "event_id" -> Set(LongType), "ts" -> (tsEnc + LongType),
      "user_id" -> Set(LongType), "event_type" -> Set(StringType),
      "value" -> Set(DoubleType), "props" -> Set(StringType)),
    "documents" -> Seq(
      "doc_id" -> Set(LongType), "text" -> Set(StringType),
      "lang" -> Set(StringType), "source" -> Set(StringType),
      "n_chars" -> Set(LongType)),
    "embeddings" -> Seq(
      "vec_id" -> Set(LongType), "embedding" -> floatArr,
      "label" -> Set(IntegerType)))

  /** Load a table, validate it against [[declared]], and apply the documented
    * coercions (currently: `events.ts` normalized to session-zone µs
    * TimestampType whatever the on-disk encoding).
    *
    * DELIBERATE session-conf set (the exception to the per-write-option rule
    * enforced on RawLayer/StreamSink): `nanosAsLong` is a READ-side flag with
    * no per-scan option form, it is set-once to a constant (never toggled
    * back, so there is no order-dependence to leak), and its only effect is
    * enabling a ns-timestamp scan that would otherwise throw at schema
    * conversion — with a µs-encoded file the flag is a no-op.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, s"$dir/$name.parquet")
    validate(name, raw)
    coerce(name, raw)
  }

  /** The one schema-inferring parquet read: `spark.read.parquet(paths: _*)`
    * with the data schema resolved on the driver instead of in a Spark
    * job. Spark's non-merging inference reads ONE footer, but through
    * `mergeSchemasInParallel`, which submits a one-task job for it; here
    * that footer is read in-process:
    *  - the same file: a summary file first, else the first data file in
    *    path order, from the same listing (Spark's hidden-file rule, so
    *    `_x=v` directories are kept and `_stats_gens` is not);
    *  - the same conversion (Spark's own `readSchema`, through
    *    [[ParquetBridge.footerSchema]]);
    *  - the same relation: the index the schema came from is the one the
    *    scan lists, built as `DataSource.resolveRelation` builds it, so
    *    a directory past the parallel-listing threshold pays its listing
    *    job once. Partition columns are inferred from the paths as
    *    before.
    * Anything this path does not resolve — a missing path, a directory
    * with no data file, a streaming sink's `_spark_metadata` log, a
    * `mergeSchema` session — goes to `spark.read.parquet`, so the result
    * or the error is Spark's own. Not a cache: each call reads the footer
    * of what is on disk now. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    readWith(spark, Map.empty, paths)

  /** [[read]] of some files under `basePath`, with the partition columns
    * parsed relative to it (the `basePath` read option). */
  def readUnder(spark: SparkSession, basePath: String, files: Seq[String]): DataFrame =
    readWith(spark, Map("basePath" -> basePath), files)

  /** `spark.read.parquet(file).schema` for one data file, from its footer. */
  def schemaOf(spark: SparkSession, file: String): StructType =
    read(spark, file).schema

  private def readWith(spark: SparkSession, options: Map[String, String],
                       paths: Seq[String]): DataFrame = {
    // DataFrameReader passes a single path as the `path` option
    val opts = if (paths.size == 1) options + ("path" -> paths.head) else options
    val conf = spark.sessionState.newHadoopConfWithOptions(opts)
    val sqlConf = spark.sessionState.conf
    val resolved = for {
      roots <- ParquetBridge.roots(paths, conf)
      if !new ParquetOptions(opts, sqlConf).mergeSchema
      if !(paths.size == 1 && FileStreamSink.hasMetadata(paths, conf, sqlConf))
      index = new InMemoryFileIndex(spark, roots, opts, None,
        FileStatusCache.getOrCreate(spark))
      file <- firstFooter(index.allFiles())
      dataSchema <- ParquetBridge.footerSchema(spark, file, opts)
    } yield HadoopFsRelation(index, index.partitionSchema, dataSchema,
      None, new ParquetFileFormat(), CaseInsensitiveMap(opts))(spark)
    resolved.fold(spark.read.options(options).parquet(paths: _*))(
      spark.baseRelationToDataFrame)
  }

  /** The file Spark's non-merging inference opens: `_common_metadata`,
    * else `_metadata`, else the first data file in path order. */
  private def firstFooter(files: Seq[FileStatus]): Option[FileStatus] = {
    val summaries = Seq("_common_metadata", "_metadata")
    val sorted = files.sortBy(_.getPath.toString)
    summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
      .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
  }

  /** Throw one clearly-named error on testdata schema drift. */
  private def validate(name: String, df: DataFrame): Unit =
    declared.get(name).foreach { cols =>
      val actual = df.schema.fields.map(f => f.name -> f.dataType).toMap
      cols.foreach { case (c, accepted) =>
        actual.get(c) match {
          case None =>
            sys.error(s"testdata schema drift: table '$name' is missing declared column '$c' " +
              s"(found columns: ${df.schema.fieldNames.mkString(", ")})")
          case Some(dt) if !accepted.contains(dt) =>
            sys.error(s"testdata schema drift: table '$name' column '$c' has type " +
              s"${dt.catalogString}, accepted encodings: " +
              accepted.map(_.catalogString).mkString(", "))
          case _ => ()
        }
      }
    }

  /** Documented coercions, applied schema-adaptively:
    *  - events.ts as INT64 (legacy ns via nanosAsLong) -> ns div 1000 -> µs TimestampType
    *  - events.ts as TIMESTAMP_NTZ -> cast to TimestampType (UTC session zone,
    *    value-preserving — every entrypoint pins spark.sql.session.timeZone=UTC)
    *  - events.ts already TimestampType -> untouched
    */
  private def coerce(name: String, df: DataFrame): DataFrame =
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }

  /** Register all tables as temp views (used by tests and the DAG demo). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
