package graft.operators

import graft.{SparkSpec, Tables}
import graft.queries.ExtraQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.lit

/** [[Expectations]]: hand-computed violation counts for every check
  * type, the predicate null rule, the anti-join FK check, and the loud
  * gate. */
class ExpectationsSpec extends SparkSpec {
  import spark.implicits._
  import Expectations._

  private lazy val df = Seq(
    (Option(1L), Option(5.0), "A", 1),
    (Option(1L), Option(5.0), "A", 1), // duplicate key (1,1)
    (Option(2L), Option(99.0), "X", 1), // range + set violations
    (None, None, "A", 2),               // null key
    (Option(9L), Option(3.0), "N", 1)   // key 9 absent from ref
  ).toDF("k", "v", "flag", "line")

  private lazy val ref = Seq(1L, 2L).toDF("rk")

  test("every check type counts hand-computed violations") {
    val rows = Expectations.run(df, Seq(
        NotNull("k"),
        InRange("v", 0.0, 10.0),
        InSet("flag", Seq("A", "N", "R")),
        UniqueKey(Seq("k", "line")),
        RefIntegrity("k", ref, "rk"),
        Predicate("v_lt_k_times_10", $"v" < $"k" * 10)))
      .as[(String, Long, Boolean)].collect().toList
    assert(rows == List(
      ("in_set(flag)", 1L, false),
      ("not_null(k)", 1L, false),
      // null v and null k rows: predicate null => violation (3 rows: the
      // None row, plus v=99 >= 20? no: 99 < 2*10 is false => violation;
      // 5 < 10 true, 5 < 10 true, 3 < 90 true)
      ("predicate(v_lt_k_times_10)", 2L, false),
      ("range(v,0.0,10.0)", 1L, false),
      ("ref(k->rk)", 1L, false),
      ("unique(k,line)", 1L, false)))
  }

  test("a clean table passes everything; requirePass is silent then loud") {
    val clean = Expectations.run(df.where($"k".isNotNull && $"k" =!= 2L && $"k" =!= 9L),
      Seq(NotNull("k"), InRange("v", 0.0, 10.0)))
    assert(clean.where(!$"pass").count() == 0)
    requirePass(clean)
    val e = intercept[IllegalArgumentException] {
      requirePass(Expectations.run(df, Seq(NotNull("k"))))
    }
    assert(e.getMessage.contains("not_null(k)") && e.getMessage.contains("1 violations"))
  }

  test("freshness: fresh passes, stale fails, empty/all-null is stale by definition") {
    import java.sql.Timestamp
    def run1(rows: Seq[Option[Timestamp]], lagDays: Int): (Long, Boolean) =
      Expectations.run(rows.toDF("ts"),
          Seq(Freshness("ts", "2024-03-01 00:00:00", lagDays)))
        .as[(String, Long, Boolean)].head() match { case (_, v, p) => (v, p) }
    val recent = Some(Timestamp.valueOf("2024-02-25 12:00:00"))
    val old = Some(Timestamp.valueOf("2023-11-01 00:00:00"))
    assert(run1(Seq(old, recent), 10) == ((0L, true)))   // newest within 10d
    assert(run1(Seq(old), 10) == ((1L, false)))          // stale
    assert(run1(Seq(None), 10) == ((1L, false)))         // all-null: stale
    assert(run1(Seq.empty[Option[Timestamp]], 10) == ((1L, false))) // empty: stale
  }

  test("quality gate in a DAG: a red report blocks publish, downstream skipped") {
    import graft.pipeline.Dag
    // transform -> dq gate -> publish: the gate is just requirePass as a
    // Dag task, so a failing contract stops the publish exactly like any
    // failed upstream (downstream Skipped, independent branches unaffected)
    var published = false
    def tasks(checks: Seq[Check]) = Seq(
      Dag.Task("transform")(() => ()),
      Dag.Task("dq_gate", deps = Seq("transform"))(() =>
        requirePass(Expectations.run(df, checks))),
      Dag.Task("publish", deps = Seq("dq_gate"))(() => published = true))

    val red = Dag.run(tasks(Seq(NotNull("k"))))
    assert(!red.succeeded && !published)
    assert(red.statuses("publish") == Dag.Skipped)
    assert(red.statuses("dq_gate").isInstanceOf[Dag.Failed])

    val green = Dag.run(tasks(Seq(InSet("flag", Seq("A", "N", "R", "X")))))
    assert(green.succeeded && published)
  }

  test("ref-only check list works (no scalar aggregation pass)") {
    val rows = Expectations.run(df, Seq(RefIntegrity("k", ref, "rk")))
      .as[(String, Long, Boolean)].collect().toList
    assert(rows == List(("ref(k->rk)", 1L, false)))
  }

  test("empty table: row checks report 0 violations / pass=true, never NULL") {
    val empty = Seq.empty[(Option[Long], Option[Double])].toDF("k", "v")
    val rows = Expectations.run(empty, Seq(NotNull("k"), InRange("v", 0.0, 10.0)))
      .as[(String, Long, Boolean)].collect().toList
    assert(rows == List(("not_null(k)", 0L, true), ("range(v,0.0,10.0)", 0L, true)))
    requirePass(Expectations.run(empty, Seq(NotNull("k"))))
  }

  // ── drift checks ────────────────────────────────────────────────────

  // baseline corpus: 100 rows, x = 0..99 (mean 49.5, no nulls)
  private lazy val driftBase =
    Seq.tabulate(100)(i => (i.toLong, Option(i.toDouble))).toDF("id", "x")
  private lazy val driftProfile = Profile.numeric(driftBase, Seq("x"))
  private lazy val driftBaseline = Materialized(driftProfile)
  // today: 3× rows, 10% nulls, non-null mean 100 (drift +50.5)
  private lazy val driftToday = Seq.tabulate(300)(i =>
      (i.toLong, if (i % 10 == 0) None else Option((i % 100) + 50.0)))
    .toDF("id", "x")

  test("drift vs a profile baseline: hand-computed pass/violate per band") {
    val report = Expectations.run(driftToday, Seq(
        RowCountDrift(driftBaseline, 4.0),      // 3.0× within 4× → pass
        RowCountDrift(driftBaseline, 2.0),      // 3.0× beyond 2× → violated
        NullRateDrift("x", driftBaseline, 0.2), // 0.1 vs 0.0, band 0.2 → pass
        NullRateDrift("x", driftBaseline, 0.05),// beyond 0.05 → violated
        MeanDrift("x", driftBaseline, 100.0),   // +50.5 within 100 → pass
        MeanDrift("x", driftBaseline, 10.0)))   // beyond 10 → violated
      .as[(String, Long, Boolean)].collect()
      .map { case (n, v, p) => n -> ((v, p)) }.toMap
    assert(report == Map(
      "row_count_drift(4.0)" -> ((0L, true)),
      "row_count_drift(2.0)" -> ((1L, false)),
      "null_rate_drift(x,0.2)" -> ((0L, true)),
      "null_rate_drift(x,0.05)" -> ((1L, false)),
      "mean_drift(x,100.0)" -> ((0L, true)),
      "mean_drift(x,10.0)" -> ((1L, false))))
  }

  test("drift: shrink direction violates symmetrically") {
    // today 100 rows vs baseline 300: ratio 1/3 beyond 2× either way
    val shrunkBaseline = Materialized(Profile.numeric(driftToday, Seq("x")))
    val rows = Expectations.run(driftBase, Seq(RowCountDrift(shrunkBaseline, 2.0)))
      .as[(String, Long, Boolean)].collect().toList
    assert(rows == List(("row_count_drift(2.0)", 1L, false)))
  }

  test("drift: missing baseline row / empty baseline violate (unevaluable ≠ pass)") {
    // 'id' was never profiled into the baseline → no row → violation
    val noRow = Expectations.run(driftToday,
        Seq(NullRateDrift("id", driftBaseline, 0.9),
          MeanDrift("id", driftBaseline, 1e9)))
      .as[(String, Long, Boolean)].collect().toList
    assert(noRow.forall { case (_, v, p) => v == 1L && !p })
    // a zero-row baseline relation proves nothing → violation
    val emptyBaseline = Materialized(driftProfile.where($"column" === "no_such"))
    val empty = Expectations.run(driftToday,
        Seq(RowCountDrift(emptyBaseline, 10.0)))
      .as[(String, Long, Boolean)].collect().toList
    assert(empty == List(("row_count_drift(10.0)", 1L, false)))
  }

  test("quantile drift: shifted distribution trips the KLL band; unshifted passes") {
    val base = spark.range(0, 2000)
      .select($"id".cast("double").as("x"), lit("a").as("g"))
    val baseSketch = SketchStats.sketchBatch(base, Seq("g"), Nil, Nil,
      quantileCols = Seq("x"))
    // KLL rank error ≈1.65% → value error ≲ ~70 on a 0..1999 uniform;
    // band 200 ≫ error, shift 500 ≫ band: both outcomes deterministic
    def check(today: org.apache.spark.sql.DataFrame) =
      Expectations.run(today, Seq(QuantileBandDrift("x", 0.9, 200.0, baseSketch)))
        .as[(String, Long, Boolean)].head()
    assert(check(base) == (("quantile_drift(x,p90,200.0)", 0L, true)))
    assert(check(base.withColumn("x", $"x" + 500.0)) ==
      (("quantile_drift(x,p90,200.0)", 1L, false)))
  }

  test("histogram drift (PSI): identical distribution passes tight, shifted mass violates") {
    // baseline: uniform 0..99 → 10 equi-width bins of 10 each
    val base = spark.range(0, 100).select($"id".cast("double").as("x"))
    val baseHist = Profile.histogram(base, "x", 0.0, 100.0, 10)
    def psiOf(today: org.apache.spark.sql.DataFrame, maxPsi: Double) =
      Expectations.run(today,
          Seq(HistogramDrift("x", 0.0, 100.0, 10, Materialized(baseHist), maxPsi)))
        .as[(String, Long, Boolean)].head()
    // same distribution: PSI == 0 exactly (identical proportions)
    assert(psiOf(base, 0.01) ==
      (("histogram_drift(x,10,0.01)", 0L, true)))
    // +200 shift pushes ALL mass into the out-of-range bin — max drift
    assert(psiOf(base.withColumn("x", $"x" + 200.0), 0.25) ==
      (("histogram_drift(x,10,0.25)", 1L, false)))
    // half the mass moved into one bin: a real mid-size shift trips 0.25
    val skewed = spark.range(0, 100).select(
      org.apache.spark.sql.functions.when($"id" % 2 === 0, 5.0)
        .otherwise($"id".cast("double")).as("x"))
    assert(psiOf(skewed, 0.25)._2 == 1L)
    // unevaluable: empty baseline relation violates
    assert(Expectations.run(base, Seq(HistogramDrift("x", 0.0, 100.0, 10,
        Materialized(baseHist.where($"bin" === 999)), 10.0)))
      .as[(String, Long, Boolean)].head()._2 == 1L)
  }

  test("drift + row-local checks share one report and gate together") {
    val report = Expectations.run(driftToday, Seq(
      NotNull("id"),
      RowCountDrift(driftBaseline, 2.0)))
    val e = intercept[IllegalArgumentException] { requirePass(report) }
    assert(e.getMessage.contains("row_count_drift(2.0): 1 violations"))
    assert(!e.getMessage.contains("not_null(id)"))
  }

  // ── Slice baselines (the baseline is a slice of the gated table) ────

  // one table carrying both sides: pred selects the "trusted" slice
  private lazy val selfTable = Seq.tabulate(400) { i =>
    val base = i < 100 // rows 0..99 are the baseline slice, x = 0..99
    val x: Option[Double] =
      if (base) Option(i.toDouble)
      else if (i % 10 == 0) None else Option((i % 100) + 50.0)
    (i.toLong, x, base)
  }.toDF("id", "x", "is_base")

  test("self-baselined drift == materialized-baseline drift, check for check") {
    val pred = $"is_base"
    val mBase = Materialized(Profile.numeric(selfTable.where(pred), Seq("x")))
    val mHist = Materialized(
      Profile.histogram(selfTable.where(pred), "x", 0.0, 100.0, 10))
    def checks(b: Baseline, hist: Baseline) = Seq(
      RowCountDrift(b, 5.0), RowCountDrift(b, 2.0),
      NullRateDrift("x", b, 0.2), NullRateDrift("x", b, 0.05),
      MeanDrift("x", b, 100.0), MeanDrift("x", b, 10.0),
      HistogramDrift("x", 0.0, 100.0, 10, hist, 0.01),
      HistogramDrift("x", 0.0, 100.0, 10, hist, 10.0))
    val materialized = Expectations.run(selfTable, checks(mBase, mHist))
      .as[(String, Long, Boolean)].collect().toList
    val slice = Expectations.run(selfTable, checks(Slice(pred), Slice(pred)))
      .as[(String, Long, Boolean)].collect().toList
    assert(slice == materialized)
    // and the verdicts themselves are the hand-computable ones
    val byName = slice.map { case (n, v, p) => n -> ((v, p)) }.toMap
    assert(byName("row_count_drift(5.0)") == ((0L, true)))   // 4.0× in 5×
    assert(byName("row_count_drift(2.0)") == ((1L, false)))  // 4.0× beyond 2×
    assert(byName("histogram_drift(x,10,10.0)") == ((0L, true)))
    assert(byName("histogram_drift(x,10,0.01)") == ((1L, false)))
  }

  test("self-baselined histogram drift: todayExpr swaps the today side only") {
    // today = x+200 pushes all mass out of range vs the in-table baseline
    val shifted = Expectations.run(selfTable.where($"x".isNotNull), Seq(
        HistogramDrift("x", 0.0, 100.0, 10, Slice($"is_base"), 0.25,
          todayExpr = Some($"x" + 200.0))))
      .as[(String, Long, Boolean)].head()
    assert(shifted == (("histogram_drift(x,10,0.25)", 1L, false)))
    // ... and the check NAME still carries the declared column
    val same = Expectations.run(selfTable.where($"x".isNotNull), Seq(
        HistogramDrift("x", 0.0, 100.0, 10, Slice($"is_base"), 10.0)))
      .as[(String, Long, Boolean)].head()
    assert(same == (("histogram_drift(x,10,10.0)", 0L, true)))
  }

  test("self-baselined drift: empty baseline slice violates (unevaluable ≠ pass)") {
    val empty = Slice(lit(false))
    val rows = Expectations.run(selfTable, Seq(
        RowCountDrift(empty, 10.0),
        NullRateDrift("x", empty, 0.9),
        MeanDrift("x", empty, 1e9),
        HistogramDrift("x", 0.0, 100.0, 10, empty, 10.0)))
      .as[(String, Long, Boolean)].collect().toList
    // today is the whole 400-row table, so row_count compares 400 with
    // an empty slice — unevaluable, like a zero-row Materialized
    // baseline: all four checks violate
    assert(rows.count { case (_, v, p) => v == 1L && !p } == 4,
      s"an empty baseline slice makes every drift check violate: $rows")
    assert(rows.find(_._1.startsWith("row_count")).get._2 == 1L)
  }

  test("row-count drift: an empty table against an empty baseline violates, both forms") {
    // 0 rows today vs 0 baseline rows: no ratio band can hold or break,
    // so the contract is unevaluable — a violation, as for null rate and
    // mean — whether the baseline is an empty table's profile (n_rows = 0)
    // or a slice that matches nothing
    val emptyTable = selfTable.where(lit(false))
    val profiled = Materialized(Profile.numeric(emptyTable, Seq("x")))
    for (b <- Seq(profiled, Slice($"is_base"))) {
      val rows = Expectations.run(emptyTable, Seq(RowCountDrift(b, 2.0)))
        .as[(String, Long, Boolean)].collect().toList
      assert(rows == List(("row_count_drift(2.0)", 1L, false)), s"baseline $b")
    }
  }

  // ── UniqueKey counts next to other checks in the one aggregation ────

  test("two-level unique path == hand counts with mixed checks, incl. empty table") {
    // one UniqueKey + row checks + ref: duplicates, null keys, and
    // violations all counted
    val rows = Expectations.run(df, Seq(
        UniqueKey(Seq("k", "line")),
        NotNull("k"),
        InRange("v", 0.0, 10.0),
        RefIntegrity("k", ref, "rk")))
      .as[(String, Long, Boolean)].collect().toList
    assert(rows == List(
      ("not_null(k)", 1L, false),
      ("range(v,0.0,10.0)", 1L, false),
      ("ref(k->rk)", 1L, false),
      ("unique(k,line)", 1L, false)))
    // empty table: unique reports 0 (never NULL), row checks pass
    val empty = Seq.empty[(Option[Long], Option[Double])].toDF("k", "v")
    val er = Expectations.run(empty,
        Seq(UniqueKey(Seq("k")), NotNull("k")))
      .as[(String, Long, Boolean)].collect().toList
    assert(er == List(("not_null(k)", 0L, true), ("unique(k)", 0L, true)))
    // two UniqueKeys in one aggregation — same counts.
    // k = {1, 1, 2, NULL, 9}: 5 rows − 4 distinct struct(k) = 1 (a NULL
    // key is one distinct key, as in unique(k,line) above)
    val two = Expectations.run(df,
        Seq(UniqueKey(Seq("k", "line")), UniqueKey(Seq("k"))))
      .as[(String, Long, Boolean)].collect().toList
    assert(two == List(("unique(k)", 1L, false), ("unique(k,line)", 1L, false)))
  }

  test("two-level unique path: freshness recombines (max of per-key maxes)") {
    import java.sql.Timestamp
    val rows = Seq(
      (1L, Timestamp.valueOf("2024-02-25 12:00:00")),
      (1L, Timestamp.valueOf("2023-11-01 00:00:00")),
      (2L, Timestamp.valueOf("2023-10-01 00:00:00"))).toDF("k", "ts")
    val fresh = Expectations.run(rows,
        Seq(UniqueKey(Seq("k")), Freshness("ts", "2024-03-01 00:00:00", 30)))
      .as[(String, Long, Boolean)].collect().toList
    assert(fresh == List(
      ("freshness(ts,30d)", 0L, true),
      ("unique(k)", 1L, false)))
  }

  // ── plan shape: the scans and Expands the operator comments claim ───

  private object Executed extends AdaptiveSparkPlanHelper
  /** The nodes of `df`'s executed plan, after running it: AQE query
    * stages and subqueries included, a reused exchange counted once. */
  private def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    Executed.collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
  }

  test("dq_drift and dq_drift_psi each scan orders exactly once (Slice baselines)") {
    for ((name, q) <- Seq("dq_drift" -> ExtraQueries.dqDrift _,
                          "dq_drift_psi" -> ExtraQueries.dqDriftPsi _)) {
      val scanned = executedNodes(q(spark, sf001)).collect {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
      }
      assert(scanned == Seq(Seq("orders.parquet")), s"$name scans $scanned")
    }
  }

  test("UniqueKey plans: one key with row checks plans no Expand, two keys plan one") {
    def expands(df: DataFrame) = executedNodes(df).count(_.isInstanceOf[ExpandExec])
    assert(expands(ExtraQueries.dqCheck(spark, sf001)) == 0)
    val li = Tables.load(spark, sf001, "lineitem")
    assert(expands(Expectations.run(li, Seq(
      UniqueKey(Seq("l_orderkey", "l_linenumber")), NotNull("l_orderkey")))) == 0)
    assert(expands(Expectations.run(li, Seq(
      UniqueKey(Seq("l_orderkey", "l_linenumber")), UniqueKey(Seq("l_orderkey")),
      NotNull("l_orderkey")))) == 1)
  }
}
