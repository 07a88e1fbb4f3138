package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations — the dbt-tests /
  * Great-Expectations layer an ETL runs between landing and publishing:
  * each check names a contract, the report counts its violations, and a
  * gate (`requirePass`) turns red rows into a loud failure instead of a
  * silently-published bad table.
  *
  * Scale shape: every row-local check (not-null, range, set membership,
  * arbitrary predicate) AND the uniqueness check fold into ONE
  * aggregation over one scan (uniqueness is `count(*) −
  * count(distinct key-struct)` — the distinct rides the same two-phase
  * aggregate). Only referential integrity costs a join — a left-anti
  * against the (distinct) referenced keys, broadcast when the key set is
  * dim-sized. Nothing collects; the report is a ≤ #checks-row relation.
  */
object Expectations {

  sealed trait Check { def name: String }

  /** Row-local checks: violation is a per-row predicate. */
  sealed trait RowCheck extends Check { def violated: Column }

  final case class NotNull(column: String) extends RowCheck {
    val name = s"not_null($column)"
    def violated: Column = col(column).isNull
  }

  /** Violations = non-null values outside [lo, hi] (nulls are
    * [[NotNull]]'s business, not a range violation). */
  final case class InRange(column: String, lo: Double, hi: Double) extends RowCheck {
    val name = s"range($column,$lo,$hi)"
    def violated: Column =
      col(column).isNotNull && (col(column) < lo || col(column) > hi)
  }

  final case class InSet(column: String, values: Seq[String]) extends RowCheck {
    val name = s"in_set($column)"
    def violated: Column =
      col(column).isNotNull && !col(column).isin(values: _*)
  }

  /** Arbitrary row contract: a row violates when the predicate is false
    * OR null (an unevaluable contract is not a passing one). */
  final case class Predicate(label: String, holds: Column) extends RowCheck {
    val name = s"predicate($label)"
    def violated: Column = !coalesce(holds, lit(false))
  }

  /** Violations = surplus rows beyond one per key:
    * `count(*) − count(distinct struct(cols))`. */
  final case class UniqueKey(columns: Seq[String]) extends Check {
    val name = s"unique(${columns.mkString(",")})"
  }

  /** Table-level staleness contract (the Airflow-sensor class of check):
    * the newest `tsCol` value must lie within `maxLagDays` of `anchorTs`
    * (the run's logical date — pass it in; never CURRENT_DATE, which
    * would make the report non-reproducible). An empty or all-null table
    * is STALE by definition — no data is not fresh data. Violations are
    * 0 or 1: staleness is a table property, not a row count. */
  final case class Freshness(tsCol: String, anchorTs: String,
                             maxLagDays: Int) extends Check {
    val name = s"freshness($tsCol,${maxLagDays}d)"
    /** Violations given the newest timestamp: fresh → 0; stale → the
      * when is false → null → 1; empty/all-null → null → 1. */
    private[operators] def violations(newest: Column): Column =
      coalesce(when(newest >=
          to_timestamp(lit(anchorTs)) - expr(s"INTERVAL $maxLagDays DAYS"), 0L),
        lit(1L))
  }

  /** Violations = rows (not keys) whose non-null `column` has no match
    * in `ref.refColumn` — the FK contract. */
  final case class RefIntegrity(column: String, ref: DataFrame,
                                refColumn: String) extends Check {
    val name = s"ref($column->$refColumn)"
  }

  // ── Baseline-relative drift checks ──────────────────────────────────
  // "Did today's load look like the last trusted one?" — the profiling
  // census ([[Profile]]) and the sketch monitor ([[SketchStats]]) turned
  // into publish gates. Scale shape: every check's today-side metric
  // folds into the SAME single aggregation as the row-local checks, and
  // so does a [[Slice]] baseline's (the scan count stays one); a
  // [[Materialized]] baseline reduces to a one-row aggregate crossJoined
  // in (broadcast 1×1 — the audited constant-sided-crossJoin pattern). A
  // missing or empty baseline is a VIOLATION, not a pass: an unevaluable
  // contract never gates anything open (the [[Predicate]] rule).

  /** What a drift check compares today against. Both forms yield the
    * same baseline quantities for the same rows, so a check's verdict
    * does not depend on which one carries them. */
  sealed trait Baseline {
    /** The relation the baseline aggregates run over; None = the gated
      * table itself (the aggregates are conditional on the slice). */
    private[operators] def relation: Option[DataFrame]
    /** Baseline row count. */
    private[operators] def rows: Column
    /** `column`'s row count, null count, non-null count and sum (round
      * at 4) — [[Profile.numeric]]'s `n_rows`, `n_nulls`, `n_rows −
      * n_nulls`, `sum_v`; NULL when the baseline has no row for it. */
    private[operators] def rowsOf(column: String): Column
    private[operators] def nullsOf(column: String): Column
    private[operators] def valuesOf(column: String): Column
    private[operators] def sumOf(column: String): Column
    /** Baseline count of bin `i`, where `bin` bins a gated-table row
      * ([[Profile.histogram]]'s `cnt`). */
    private[operators] def binCount(bin: Column, i: Int): Column
  }

  /** A persisted [[Profile.numeric]] / [[Profile.histogram]] relation —
    * yesterday's profile, the trusted load's histogram. */
  final case class Materialized(df: DataFrame) extends Baseline {
    private def of(column: String, metric: Column): Column =
      max(when(col("column") === column, metric))
    private[operators] def relation: Option[DataFrame] = Some(df)
    private[operators] def rows: Column = max(col("n_rows"))
    private[operators] def rowsOf(column: String): Column = of(column, col("n_rows"))
    private[operators] def nullsOf(column: String): Column = of(column, col("n_nulls"))
    private[operators] def valuesOf(column: String): Column =
      of(column, col("n_rows") - col("n_nulls"))
    private[operators] def sumOf(column: String): Column = of(column, col("sum_v"))
    private[operators] def binCount(bin: Column, i: Int): Column =
      max(when(col("bin") === i, col("cnt")))
  }

  /** The rows of the gated table matching `pred` — yesterday's
    * partition, the trusted date range. Its aggregates are conditional
    * counts and sums over the same scan as everything else, equal to the
    * [[Materialized]] profile of `df.where(pred)` (the sum carries
    * [[Profile.numeric]]'s round-at-4). Every column is "profiled"; an
    * empty slice has 0 rows, which violates like an empty profile. */
  final case class Slice(pred: Column) extends Baseline {
    private[operators] def relation: Option[DataFrame] = None
    private[operators] def rows: Column = count(when(pred, 1))
    private[operators] def rowsOf(column: String): Column = rows
    private[operators] def nullsOf(column: String): Column =
      count(when(pred && col(column).isNull, 1))
    private[operators] def valuesOf(column: String): Column =
      count(when(pred, col(column)))
    private[operators] def sumOf(column: String): Column =
      round(sum(when(pred, col(column).cast("double"))), 4)
    private[operators] def binCount(bin: Column, i: Int): Column =
      count(when(pred && bin === i, 1))
  }

  sealed trait DriftCheck extends Check {
    /** Where the baseline aggregates run: a relation crossJoined in, or
      * None to fold them into the gated table's single aggregation. */
    private[operators] def baselineRelation: Option[DataFrame]
    /** Today-side aggregates over the gated table, aliased under `p`. */
    private[operators] def todayAggs(p: String): Seq[Column]
    /** Baseline-side aggregates, aliased under `p`. */
    private[operators] def baselineAggs(p: String): Seq[Column]
    /** Violation count (0 or 1) over the joined today+baseline row. */
    private[operators] def violationCount(p: String): Column
  }

  /** The drift checks whose baseline is a [[Baseline]]. */
  sealed trait ProfileDrift extends DriftCheck {
    def baseline: Baseline
    private[operators] def baselineRelation: Option[DataFrame] = baseline.relation
  }

  /** Row-count drift: violated when today's count falls outside
    * [base/maxRatio, base·maxRatio] or the baseline has no rows. */
  final case class RowCountDrift(baseline: Baseline,
                                 maxRatio: Double) extends ProfileDrift {
    require(maxRatio >= 1.0, s"row_count_drift: maxRatio=$maxRatio < 1")
    val name = s"row_count_drift($maxRatio)"
    private[operators] def todayAggs(p: String): Seq[Column] =
      Seq(count(lit(1)).as(s"${p}_t"))
    private[operators] def baselineAggs(p: String): Seq[Column] =
      Seq(baseline.rows.as(s"${p}_b"))
    private[operators] def violationCount(p: String): Column = {
      val t = col(s"${p}_t"); val b = col(s"${p}_b")
      when(b.isNull || b === 0, lit(1L))
        .when(t > b * maxRatio || t * maxRatio < b, lit(1L))
        .otherwise(lit(0L))
    }
  }

  /** Null-rate drift for `column`: violated when |rate_today −
    * rate_base| > maxDelta (or either side is unevaluable — empty table,
    * missing baseline row, empty baseline). */
  final case class NullRateDrift(column: String, baseline: Baseline,
                                 maxDelta: Double) extends ProfileDrift {
    val name = s"null_rate_drift($column,$maxDelta)"
    private[operators] def todayAggs(p: String): Seq[Column] = Seq(
      count(lit(1)).as(s"${p}_n"),
      sum(when(col(column).isNull, 1L).otherwise(0L)).as(s"${p}_z"))
    private[operators] def baselineAggs(p: String): Seq[Column] = Seq(
      baseline.nullsOf(column).as(s"${p}_bz"),
      baseline.rowsOf(column).as(s"${p}_bn"))
    private[operators] def violationCount(p: String): Column = {
      val n = col(s"${p}_n"); val z = col(s"${p}_z")
      val bn = col(s"${p}_bn"); val bz = col(s"${p}_bz")
      when(n === 0 || bn.isNull || bn === 0, lit(1L))
        .when(abs(z.cast("double") / n - bz.cast("double") / bn) > maxDelta,
          lit(1L))
        .otherwise(lit(0L))
    }
  }

  /** Mean drift for `column` (baseline mean = `sum_v / (n_rows −
    * n_nulls)`): violated when |mean_today − mean_base| > maxDelta. The
    * baseline sum carries Profile's round-at-4 — pick maxDelta ≫ 1e-4,
    * which any real drift band is. */
  final case class MeanDrift(column: String, baseline: Baseline,
                             maxDelta: Double) extends ProfileDrift {
    val name = s"mean_drift($column,$maxDelta)"
    private[operators] def todayAggs(p: String): Seq[Column] = Seq(
      count(col(column)).as(s"${p}_c"),
      sum(col(column).cast("double")).as(s"${p}_s"))
    private[operators] def baselineAggs(p: String): Seq[Column] = Seq(
      baseline.sumOf(column).as(s"${p}_bs"),
      baseline.valuesOf(column).as(s"${p}_bc"))
    private[operators] def violationCount(p: String): Column = {
      val c = col(s"${p}_c"); val s = col(s"${p}_s")
      val bc = col(s"${p}_bc"); val bs = col(s"${p}_bs")
      when(c === 0 || bc.isNull || bc === 0 || bs.isNull, lit(1L))
        .when(abs(s / c - bs / bc) > maxDelta, lit(1L))
        .otherwise(lit(0L))
    }
  }

  /** Distribution drift via the POPULATION STABILITY INDEX over a fixed
    * equi-width binning: `PSI = Σ (p_i − q_i)·ln(p_i / q_i)` with
    * ε-smoothed proportions (the industry-standard monitoring metric;
    * rule of thumb: <0.1 stable, >0.25 shifted). A [[Materialized]]
    * baseline is a persisted [[Profile.histogram]] relation — pin (lo,
    * hi, bins) once and reuse them on both sides, the same fixed-range
    * discipline that makes the histogram itself reproducible; both sides
    * bin with [[Profile.binOf]]. Today's bin counts fold into the shared
    * single aggregation (bins+2 conditional counts — the out-of-range
    * bins count too, a mass shift OUT of range is drift). `todayExpr`
    * optionally swaps the TODAY side's value expression (the what-if /
    * shifted-twin gate) while the check keeps `column`'s name and
    * baseline. Bin counts are exact longs on every side, so PSI is the
    * same for either baseline form. Violated when PSI > maxPsi or either
    * side is empty/missing. */
  final case class HistogramDrift(column: String, lo: Double, hi: Double,
                                  bins: Int, baseline: Baseline,
                                  maxPsi: Double, eps: Double = 1e-4,
                                  todayExpr: Option[Column] = None)
      extends ProfileDrift {
    require(bins >= 1 && lo < hi, s"histogram_drift: bins=$bins lo=$lo hi=$hi")
    // each bin is one conditional-count column in the shared aggregation
    // — PSI over more than ~1k bins is a misuse (smoothing dominates),
    // so refuse rather than build a pathological plan
    require(bins <= 1024, s"histogram_drift: bins=$bins > 1024 — coarsen")
    require(maxPsi > 0 && eps > 0, s"histogram_drift: maxPsi=$maxPsi eps=$eps")
    val name = s"histogram_drift($column,$bins,$maxPsi)"
    private def allBins: Seq[Int] = -1 to bins
    private[operators] def todayAggs(p: String): Seq[Column] = {
      val tBin = Profile.binOf(todayExpr.getOrElse(col(column)), lo, hi, bins)
      allBins.map(i => count(when(tBin === i, 1)).as(s"${p}_t${i + 1}"))
    }
    private[operators] def baselineAggs(p: String): Seq[Column] = {
      val bBin = Profile.binOf(col(column), lo, hi, bins)
      allBins.map(i => baseline.binCount(bBin, i).as(s"${p}_b${i + 1}"))
    }
    private[operators] def violationCount(p: String): Column = {
      val t = allBins.map(i => col(s"${p}_t${i + 1}"))
      val b = allBins.map(i => coalesce(col(s"${p}_b${i + 1}"), lit(0L)))
      val tTot = t.reduce(_ + _).cast("double")
      val bTot = b.reduce(_ + _).cast("double")
      val psi = t.zip(b).map { case (ti, bi) =>
        val pi = greatest(ti / tTot, lit(eps))
        val qi = greatest(bi / bTot, lit(eps))
        (pi - qi) * log(pi / qi)
      }.reduce(_ + _)
      when(tTot === 0.0 || bTot.isNull || bTot === 0.0, lit(1L))
        .when(psi > maxPsi, lit(1L))
        .otherwise(lit(0L))
    }
  }

  /** Quantile-shift gate — the [[SketchStats]] "did this batch move the
    * p99?" question as a publish blocker: violated when today's
    * `prob`-quantile of `column` differs from the baseline's by more
    * than `band`. `baseline` is persisted [[SketchStats.sketchBatch]]
    * rows carrying `kll_<column>` (history merges, never rescans —
    * mergeable sketches are what make a quantile gate affordable at
    * 100 TB). KLL is an ε-rank sketch with randomized compaction: size
    * `band` ≫ the value-space width of ±1.65% rank error at the compared
    * quantile, and never hash-oracle the estimate itself. */
  final case class QuantileBandDrift(column: String, prob: Double, band: Double,
                                     baseline: DataFrame,
                                     kllK: Int = SketchStats.DefaultKllK)
      extends DriftCheck {
    require(prob > 0 && prob < 1, s"quantile_drift: prob=$prob")
    val name = s"quantile_drift($column,p${(prob * 100).round},$band)"
    private[operators] def baselineRelation: Option[DataFrame] = Some(baseline)
    private[operators] def todayAggs(p: String): Seq[Column] = Seq(
      kll_sketch_agg_double(col(column).cast("double"), kllK).as(s"${p}_sk"))
    private[operators] def baselineAggs(p: String): Seq[Column] = Seq(
      kll_merge_agg_double(col(s"kll_$column")).as(s"${p}_bsk"))
    private[operators] def violationCount(p: String): Column = {
      val sk = col(s"${p}_sk"); val bsk = col(s"${p}_bsk")
      val qt = kll_sketch_get_quantile_double(sk, lit(prob))
      val qb = kll_sketch_get_quantile_double(bsk, lit(prob))
      when(sk.isNull || bsk.isNull, lit(1L))
        .when(abs(qt - qb) > band, lit(1L))
        .otherwise(lit(0L))
    }
  }

  /** Evaluate all checks → `(check, violations, pass)`, one row per
    * check, ordered by name. */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "expectations: no checks")
    require(checks.map(_.name).distinct.size == checks.size,
      "expectations: duplicate check names")
    val rowChecks = checks.collect { case c: RowCheck => c }
    val freshes = checks.collect { case c: Freshness => c }
    val uniques = checks.collect { case c: UniqueKey => c }
    val drifts = checks.collect { case c: DriftCheck => c }
    // ONE aggregation over df carries every scalar check AND every drift
    // check's today-side metrics (a Slice baseline's aggregates fold in
    // too); each materialized baseline joins in as a broadcast one-row
    // aggregate. Spark plans a single distinct group without an Expand;
    // two UniqueKeys plan one (ExpectationsSpec pins both).
    val scalarReport =
      if (checks.forall(_.isInstanceOf[RefIntegrity])) None
      else Some(report(df,
        rowChecks.map { c =>
          // sum over zero rows is NULL — coalesce so an empty table
          // reports 0 violations / pass=true instead of a NULL the gate
          // would skip
          c.name -> coalesce(sum(when(c.violated, 1L).otherwise(0L)), lit(0L))
        } ++
        freshes.map(c => c.name -> c.violations(max(col(c.tsCol)))) ++
        uniques.map { c =>
          c.name -> (count(lit(1)) -
            countDistinct(struct(c.columns.map(col): _*)))
        },
        drifts))
    val refReports = checks.collect { case c: RefIntegrity =>
      df.select(col(c.column)).where(col(c.column).isNotNull)
        .join(c.ref.select(col(c.refColumn).as(c.column)).distinct(),
          Seq(c.column), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit(c.name).as("check"), col("violations"))
    }
    (scalarReport.toSeq ++ refReports).reduce(_ unionByName _)
      .withColumn("pass", col("violations") === 0L)
      .orderBy("check")
  }

  /** The `(check, violations)` rows of one aggregation over `df`: every
    * `scalar` violation count plus each drift's today-side aggregates
    * (and a [[Slice]] baseline's); each materialized baseline joins in as
    * a one-row aggregate; one `stack` unpivots the verdicts. */
  private def report(df: DataFrame,
                     scalar: Seq[(String, Column)],
                     drifts: Seq[DriftCheck]): DataFrame = {
    val prefixed = drifts.zipWithIndex.map { case (c, i) => (c, s"_d$i") }
    val aggs = scalar.zipWithIndex.map { case ((_, a), i) => a.as(s"c$i") } ++
      prefixed.flatMap { case (c, p) =>
        c.todayAggs(p) ++ (if (c.baselineRelation.isEmpty) c.baselineAggs(p) else Nil)
      }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val joined = prefixed.foldLeft(row) { case (acc, (c, p)) =>
      c.baselineRelation.fold(acc) { b =>
        val bAggs = c.baselineAggs(p)
        acc.crossJoin(b.agg(bAggs.head, bAggs.tail: _*))
      }
    }
    val verdicts =
      scalar.zipWithIndex.map { case ((n, _), i) => n -> col(s"c$i") } ++
      prefixed.map { case (c, p) => c.name -> c.violationCount(p) }
    val stackExpr = verdicts.zipWithIndex
      .map { case ((n, _), i) => s"'${n.replace("'", "''")}', v$i" }
      .mkString(", ")
    joined.select(verdicts.zipWithIndex.map { case ((_, v), i) => v.as(s"v$i") }: _*)
      .selectExpr(s"stack(${verdicts.size}, $stackExpr) AS (check, violations)")
  }

  /** The gate: throw, naming every failing check and its count, unless
    * the whole report passes. */
  def requirePass(report: DataFrame): Unit = {
    val failing = report.where(!col("pass"))
      .collect().map(r => s"${r.getString(0)}: ${r.getLong(1)} violations")
    require(failing.isEmpty,
      s"data-quality gate failed:\n  ${failing.mkString("\n  ")}")
  }
}
