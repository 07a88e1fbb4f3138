package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.functions.BucketIndex

/** Z-order (Morton) clustering for multi-column data skipping — the
  * storage-layout lever for scan efficiency at 100 TB. Partitioning prunes
  * on ONE hierarchy; Z-ordering makes parquet's per-file/row-group min-max
  * stats tight on SEVERAL columns at once, so selective predicates on any
  * ordered dimension skip most of the table at the reader, before any Spark
  * operator runs.
  *
  * Method (the same shape Delta's OPTIMIZE ZORDER BY uses, re-expressed on
  * plain parquet): each clustering column is rank-bucketized by sampled
  * quantile cut points (equi-POPULATED buckets, so skewed distributions
  * spread instead of collapsing into one bucket), bucket indexes are
  * bit-interleaved into a Morton z-value, and the write is
  * `repartitionByRange(zvalue) + sortWithinPartitions(zvalue)` — every
  * output file covers a tight z-range, hence a tight hyper-rectangle in the
  * original column space, hence tight min-max stats per column.
  *
  * Everything is one map pass over the data plus ONE range exchange (the
  * write's physical clustering — unavoidable by definition of layout):
  * quantiles come from a driver-side `approxQuantile` over a bounded
  * sample-ish sketch (no full sort), bucketization is a codegen'd binary
  * search ([[BucketIndex]]), interleaving is folded integer arithmetic that
  * Catalyst fuses into the same stage.
  */
object ZOrder {

  /** Bits per clustering column; n·bits must fit a long. 8 bits = 256
    * equi-populated buckets per column — file-grain skipping needs only
    * enough resolution to separate files, not row-level precision. */
  val DefaultBits = 8

  /** Fold-interleave `bits`-wide bucket columns into a Morton z-value:
    * bit p of column c lands at position p·n + (n-1-c) — the standard
    * round-robin, so the curve alternates dimensions at every bit. */
  def interleaveBits(buckets: Seq[Column], bits: Int): Column = {
    require(buckets.nonEmpty, "interleaveBits: no columns")
    require(buckets.size * bits <= 63,
      s"${buckets.size} cols x $bits bits exceeds a long")
    var z = lit(0L)
    for (p <- bits - 1 to 0 by -1; c <- buckets) {
      z = shiftleft(z, 1).bitwiseOR(
        shiftright(c.cast("long"), p).bitwiseAND(lit(1L)))
    }
    z
  }

  /** The z-value column for `df` over `cols` (numeric or castable to
    * double; nulls land in bucket 0 and so cluster together at the low end
    * of the curve — enforced by an explicit coalesce, since [[BucketIndex]]
    * itself is null-propagating). Cut points are computed HERE,
    * driver-side, once. Fails fast, naming the column, when a clustering
    * column has no non-null values (no quantile cuts exist). */
  def zvalue(df: DataFrame, cols: Seq[String], bits: Int = DefaultBits): Column = {
    require(cols.nonEmpty, "zvalue: no clustering columns")
    val nBuckets = 1 << bits
    // approxQuantile never sorts the relation: it merges bounded
    // per-partition sketches (Greenwald-Khanna), one pass, driver gets
    // only the cut points. relativeError 1/(4·buckets) keeps neighboring
    // cuts from collapsing while the sketch stays small.
    val doubled = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val cutsPerCol = doubled.stat.approxQuantile(cols.toArray, probs,
      1.0 / (4 * nBuckets))
    val bucketCols = cols.zip(cutsPerCol).map { case (c, cuts) =>
      val cleaned = cuts.distinct.sorted
      require(cleaned.nonEmpty,
        s"zvalue: no non-null values for clustering column '$c' — cannot bucketize")
      coalesce(Bridge.column(BucketIndex(
        Bridge.expression(col(c).cast("double")), cleaned)), lit(0))
    }
    interleaveBits(bucketCols, bits)
  }

  /** `df` physically re-clustered on the z-value over `cols`: one range
    * exchange into `nFiles` partitions, sorted within each. The staging
    * column name is collision-proofed against `df`'s own columns — a user
    * table with a `_z` column must not get it silently overwritten and
    * dropped. Shared by [[writeClustered]] and compaction's zorder
    * rewrite ([[Compaction.compactVersioned]]). */
  private[operators] def clustered(df: DataFrame, cols: Seq[String],
                                   nFiles: Int, bits: Int = DefaultBits): DataFrame = {
    require(nFiles >= 1, s"nFiles=$nFiles")
    val zc = Iterator.from(0).map(i => if (i == 0) "_z" else s"_z$i")
      .find(n => !df.columns.contains(n)).get
    df.withColumn(zc, zvalue(df, cols, bits))
      .repartitionByRange(nFiles, col(zc))
      .sortWithinPartitions(zc)
      .drop(zc)
  }

  /** Write `df` to `path` Z-ordered on `cols` across `nFiles` files. The
    * single exchange is the range partitioning on the z-value — the
    * physical re-clustering itself; everything else rides map-side. */
  def writeClustered(df: DataFrame, cols: Seq[String], path: String,
                     nFiles: Int, bits: Int = DefaultBits): Unit =
    clustered(df, cols, nFiles, bits)
      .write.mode("overwrite").parquet(path)
}
