package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass table profiling — the data-quality census run before a table
  * is trusted: per column, row/null/distinct counts and numeric bounds.
  *
  * Scale shape: ONE scan regardless of column count — every metric for
  * every column lives in a single aggregation (Spark plans the multiple
  * `count(distinct)`s as one expand + two-phase aggregate, so the input
  * is read once; the expand multiplies rows × profiled columns, which is
  * the standard price of exact multi-distinct and the reason `exact =
  * false` swaps in `approx_count_distinct` for 100 TB-scale profiles —
  * map-side HLL partials, no expand, ~2% error). The wide one-row result
  * unpivots to (column, metric...) rows via `stack`, driver-free.
  *
  * Determinism (SURVEY §4): counts and min/max are exact; `sum_v` rounds
  * at 4 (whole-table magnitude); averages are left to the caller
  * (round-sum-then-divide) — no stddev, whose FP accumulation order is
  * not cross-engine-stable.
  */
object Profile {

  /** Numeric profile of `cols` (castable to double): one row per column —
    * `(column, n_rows, n_nulls, n_distinct, min_v, max_v, sum_v)`. */
  def numeric(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profile: no columns")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"profile: no such columns: ${missing.mkString(", ")}")
    val aggs = cols.flatMap { c =>
      val v = col(c).cast("double")
      Seq(
        count(v).as(s"_cnt_$c"),
        (if (exact) countDistinct(v) else approx_count_distinct(v))
          .as(s"_dst_$c"),
        min(v).as(s"_min_$c"),
        max(v).as(s"_max_$c"),
        round(sum(v), 4).as(s"_sum_$c"))
    }
    val wide = df.agg(count(lit(1)).as("_n"), aggs: _*)
    val stackExpr = cols.map { c =>
      s"'$c', _cnt_$c, _dst_$c, _min_$c, _max_$c, _sum_$c"
    }.mkString(", ")
    wide.selectExpr("_n",
        s"stack(${cols.size}, $stackExpr) AS " +
          "(column, _cnt, n_distinct, min_v, max_v, sum_v)")
      .select(col("column"), col("_n").as("n_rows"),
        (col("_n") - col("_cnt")).as("n_nulls"),
        col("n_distinct"), col("min_v"), col("max_v"), col("sum_v"))
      .orderBy("column")
  }

  /** String profile of `cols`: one row per column —
    * `(column, n_rows, n_nulls, n_empty, n_distinct, min_len, max_len,
    * total_len)`. Same one-scan contract as [[numeric]]; `total_len`
    * (not an average) so callers divide per SURVEY §4's
    * round-sum-then-divide rule. */
  def strings(df: DataFrame, cols: Seq[String], exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "profile: no columns")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"profile: no such columns: ${missing.mkString(", ")}")
    val aggs = cols.flatMap { c =>
      val v = col(c).cast("string")
      Seq(
        count(v).as(s"_cnt_$c"),
        sum(when(v === "", 1L).otherwise(0L)).as(s"_emp_$c"),
        (if (exact) countDistinct(v) else approx_count_distinct(v))
          .as(s"_dst_$c"),
        min(length(v)).cast("long").as(s"_mnl_$c"),
        max(length(v)).cast("long").as(s"_mxl_$c"),
        sum(length(v).cast("long")).as(s"_tot_$c"))
    }
    val wide = df.agg(count(lit(1)).as("_n"), aggs: _*)
    val stackExpr = cols.map { c =>
      s"'$c', _cnt_$c, _emp_$c, _dst_$c, _mnl_$c, _mxl_$c, _tot_$c"
    }.mkString(", ")
    wide.selectExpr("_n",
        s"stack(${cols.size}, $stackExpr) AS " +
          "(column, _cnt, n_empty, n_distinct, min_len, max_len, total_len)")
      .select(col("column"), col("_n").as("n_rows"),
        (col("_n") - col("_cnt")).as("n_nulls"),
        col("n_empty"), col("n_distinct"),
        col("min_len"), col("max_len"), col("total_len"))
      .orderBy("column")
  }

  /** Equi-width histogram over a FIXED range — one scan, one shrinking
    * shuffle (≤ bins+2 groups), fully deterministic: bin i covers
    * `[lo + i·w, lo + (i+1)·w)` with the last bin right-closed; values
    * outside [lo, hi] land in bins -1 / `bins` (never silently dropped —
    * a histogram that hides out-of-range rows misreports the table).
    * Fixed range (vs data-derived min/max) is what makes the result
    * stable across days and oracles exactly; derive lo/hi once from
    * [[numeric]] and pin them. Empty bins are emitted with count 0 so
    * the output shape is constant. */
  def histogram(df: DataFrame, c: String, lo: Double, hi: Double,
                bins: Int): DataFrame = {
    require(bins >= 1, s"histogram: bins=$bins")
    require(lo < hi, s"histogram: lo=$lo >= hi=$hi")
    require(df.columns.contains(c), s"histogram: no such column '$c'")
    val counts = df.select(binOf(col(c), lo, hi, bins).as("bin"))
      .where(col("bin").isNotNull)
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    val spark = df.sparkSession
    val allBins = spark.range(-1, bins + 1)
      .select(col("id").cast("int").as("bin"))
    val w = (hi - lo) / bins
    allBins.join(counts, Seq("bin"), "left")
      .select(col("bin"),
        round(lit(lo) + col("bin") * w, 6).as("bin_lo"),
        round(lit(lo) + (col("bin") + 1) * w, 6).as("bin_hi"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("bin")
  }

  /** The [[histogram]] bin of `value` (cast to double): `bins` equi-width
    * bins over [lo, hi], the last right-closed, -1 / `bins` outside the
    * range, NULL for NULL. Every comparison against a histogram bins
    * through this one expression — two sides binned differently would
    * measure the binning, not the data. */
  private[operators] def binOf(value: Column, lo: Double, hi: Double,
                               bins: Int): Column = {
    val v = value.cast("double")
    val raw = floor((v - lo) / (hi - lo) * bins).cast("int")
    when(v.isNull, lit(null))
      .when(v < lo, lit(-1)).when(v > hi, lit(bins))
      .when(raw === bins, lit(bins - 1)) // v == hi: right-closed last bin
      .otherwise(raw)
  }
}
