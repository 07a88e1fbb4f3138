"""Unit tests for the benchmark's own logic (no Spark, no JVM).

    python3 -m unittest discover -s starbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import gen_data  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


class PercentileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        import statistics
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(metrics.percentile(xs, 25), q1)
        self.assertAlmostEqual(metrics.percentile(xs, 50), q2)
        self.assertAlmostEqual(metrics.percentile(xs, 75), q3)

    def test_tail_needs_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        # p99 and p95 have 1 and 5 samples above them; p90 is the first
        # candidate with ten
        p, v = metrics.tail_percentile(xs)
        self.assertEqual(p, 90)
        self.assertAlmostEqual(v, 90.1)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_falls_back_to_lower_percentiles(self):
        xs = [float(i) for i in range(1, 31)]
        self.assertEqual(metrics.tail_percentile(xs)[0], 50)  # p75 has 8 beyond

    def test_tail_none_when_sample_too_small(self):
        self.assertIsNone(metrics.tail_percentile([float(i) for i in range(15)]))

    def test_ties_do_not_count_as_beyond(self):
        self.assertIsNone(metrics.tail_percentile([1.0] * 200))


class TypicalOpTest(unittest.TestCase):
    def op(self, kind, wall_s, ok=True):
        return {"kind": kind, "start": 0.0, "end": wall_s * 1000.0, "ok": ok}

    def test_one_kind_is_its_median(self):
        ops = [self.op("day", w) for w in (5.0, 7.0, 6.0)]
        self.assertAlmostEqual(metrics.typical_op(ops), 6.0)

    def test_other_values(self):
        ops = [dict(self.op("day", 9.0), cpu_s=c) for c in (2.0, 3.0)]
        self.assertAlmostEqual(metrics.typical_op(ops, lambda o: o["cpu_s"]), 2.5)

    def test_kinds_weigh_the_same(self):
        ops = [self.op("a", 1.0), self.op("a", 1.0), self.op("b", 4.0), self.op("c", 2.0, ok=False)]
        self.assertAlmostEqual(metrics.typical_op(ops), 2.0)  # sqrt(1 * 4); failed ops left out

    def test_all_failed_still_a_number(self):
        ops = [self.op("a", 3.0, ok=False)]
        self.assertAlmostEqual(metrics.typical_op(ops), 3.0)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_and_clipped_children(self):
        parent = {"start": 0.0, "end": 10.0}
        kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 5.0},
                {"start": 8.0, "end": 12.0}]
        # children cover [1, 5] and [8, 10] inside the parent: 6 of 10
        self.assertAlmostEqual(metrics.self_time(parent, kids), 4.0)

    def test_no_children(self):
        self.assertAlmostEqual(metrics.self_time({"start": 2.0, "end": 7.5}, []), 5.5)

    def test_child_outside_parent(self):
        self.assertAlmostEqual(
            metrics.self_time({"start": 0.0, "end": 1.0}, [{"start": 2.0, "end": 3.0}]), 1.0)


class ModuleRollupTest(unittest.TestCase):
    def site(self, *frames):
        return "\n".join(frames)

    def test_table_loader(self):
        self.assertEqual(metrics.module_of(self.site(
            "org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)",
            "graft.Tables$.load(Tables.scala:86)",
            "graft.pipeline.StarPipeline$.t$1(StarPipeline.scala:24)")), "tables")

    def test_first_graft_frame_wins(self):
        self.assertEqual(metrics.module_of(self.site(
            "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)",
            "graft.sources.RawLayer$.truncateWrite(RawLayer.scala:28)",
            "graft.pipeline.StarPipeline$.write$1(StarPipeline.scala:27)")), "sources")
        self.assertEqual(metrics.module_of(
            "graft.pipeline.StarPipeline$.$anonfun$incrementalTasks$5(StarPipeline.scala:140)"),
            "pipeline")

    def test_spark_package_bridge_is_skipped_like_spark(self):
        self.assertEqual(metrics.module_of(self.site(
            "org.apache.spark.sql.graft.Bridge$.ofRows(Bridge.scala:12)",
            "graft.operators.Dedup$.clusters(Dedup.scala:40)")), "operators")

    def test_pool_thread_jobs_are_other(self):
        self.assertEqual(metrics.module_of(self.site(
            "org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)",
            "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)",
            "java.base/java.lang.Thread.run(Thread.java:840)")), "other")

    def test_non_graft_and_unlisted_modules_are_other(self):
        self.assertEqual(metrics.module_of("starbench.QueryMix.op(Main.scala:300)"), "other")
        self.assertEqual(metrics.module_of("graft.functions.TextFunctions$.x(TextFunctions.scala:1)"),
                         "other")
        self.assertEqual(metrics.module_of("graft.queries.TpchQueries$.q3(TpchQueries.scala:9)"),
                         "queries")
        self.assertEqual(metrics.module_of(""), "other")
        self.assertEqual(metrics.module_of(None), "other")


def synthetic_record():
    """A traced record with one traced and one untraced op of each kind."""
    def op(i, kind, group, start, end, traced):
        return {"id": i, "kind": kind, "group": group, "start": start, "end": end,
                "ok": True, "traced": traced, "error": "", "files_written": 2, "bytes_written": 2**20,
                "cpu_s": 1.5}
    ops = [op(0, "day", "pipeline", 0, 1000, True), op(1, "day", "pipeline", 1000, 1900, False),
           op(2, "tpch_q3", "star", 2000, 2500, True), op(3, "tpch_q3", "star", 2500, 2900, False)]
    spans = [
        {"id": 1, "parent": 0, "op": 1, "kind": "op", "name": "day", "start": 1, "end": 999},
        {"id": 2, "parent": 1, "op": 1, "kind": "task", "name": "core.fact_orders", "start": 100, "end": 600},
        {"id": 3, "parent": 2, "op": 1, "kind": "job", "name": "parquet at Tables.scala:86",
         "start": 150, "end": 250, "call_site": "parquet at Tables.scala:86",
         "call_site_long": "graft.Tables$.load(Tables.scala:86)"},
        {"id": 4, "parent": 3, "op": 1, "kind": "stage", "name": "s", "start": 160, "end": 240,
         "tasks": 4, "failed_tasks": 0, "run_ms": 200, "cpu_ns": 1e8, "gc_ms": 10, "sched_delay_ms": 5,
         "input_bytes": 2**20, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
         "output_bytes": 0},
        {"id": 5, "parent": 0, "op": 5, "kind": "op", "name": "tpch_q3", "start": 2001, "end": 2499},
        {"id": 6, "parent": 5, "op": 5, "kind": "build", "name": "tpch_q3", "start": 2001, "end": 2200},
        {"id": 7, "parent": 5, "op": 5, "kind": "exec", "name": "tpch_q3", "start": 2200, "end": 2499},
        {"id": 8, "parent": 6, "op": 5, "kind": "job", "name": "j", "start": 2010, "end": 2100,
         "call_site": "collect at Dedup.scala:1", "call_site_long": "graft.operators.Dedup$.x(Dedup.scala:1)"},
    ]
    plans = [{"optimization_start": 2205, "optimization_ms": 7.0, "planning_start": 2212, "planning_ms": 3.0},
             {"optimization_start": 2600, "optimization_ms": 50.0, "planning_start": 2650, "planning_ms": 9.0}]
    return ops, spans, plans


class GeneratedDataTest(unittest.TestCase):
    def test_shape_follows_gate_data(self):
        # the gate data is one draw, so compare it with the mean of several
        # seeds: counts such as dup_docs (binomial, about 25 of 500) vary by
        # a fifth from seed to seed
        profiles = [gen_data.profile(gen_data.tables(seed, run.SCALE)) for seed in range(6)]
        for k, want in gen_data.GATE_PROFILE.items():
            got = sum(p[k] for p in profiles) / len(profiles)
            self.assertLessEqual(abs(got - want), gen_data.PROFILE_TOLERANCE * want,
                                 f"{k}: generated mean {got} vs gate {want}")

    def test_same_seed_same_data(self):
        a, b = gen_data.tables(3, run.SCALE), gen_data.tables(3, run.SCALE)
        self.assertTrue(all(a[n].equals(b[n]) for n in a))
        self.assertFalse(a["orders"].equals(gen_data.tables(4, run.SCALE)["orders"]))


class DeadlineTest(unittest.TestCase):
    def test_scales_with_window_ops(self):
        for w in run.WORKLOADS:
            self.assertEqual(run.deadline_s(w, 10), run.DEADLINE_S)
            self.assertEqual(run.deadline_s(w, 5), run.DEADLINE_S)
        self.assertEqual(run.deadline_s("star_rebuild", 40), 4 * run.DEADLINE_S)


class MetricNamesTest(unittest.TestCase):
    def test_spec_shape(self):
        self.assertEqual(set(SPEC), {"command", "paths", "run_seconds", "workloads",
                                     "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(SPEC["workloads"]) <= 8)
        self.assertTrue(1 <= len(SPEC["per_layer"]) <= 128)
        self.assertTrue(1 <= SPEC["run_seconds"] <= 60)
        for w in SPEC["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
        for m in SPEC["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in SPEC["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in SPEC["end_to_end"]))

    def test_names_and_units_valid_and_unique(self):
        names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in SPEC[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(metrics.valid_name(n), n)
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertTrue(metrics.valid_unit(m["unit"]), m["unit"])
            self.assertIn(m["better"], ("lower", "higher"))
        self.assertFalse(metrics.valid_name("_x"))
        self.assertFalse(metrics.valid_name("a" * 65))
        self.assertFalse(metrics.valid_name("a b"))

    def test_computed_metrics_match_spec(self):
        ops, spans, plans = synthetic_record()
        got = metrics.per_layer(ops, spans, plans, {"generations_per_op": 2.0})
        self.assertEqual(set(got), {m["name"] for m in SPEC["per_layer"]})
        e = metrics.e2e(ops, 20.0, 2048)
        self.assertEqual(set(e), {m["name"] for m in SPEC["end_to_end"]})

    def test_per_layer_values(self):
        ops, spans, plans = synthetic_record()
        got = metrics.per_layer(ops, spans, plans, {})
        # two traced ops: means per traced op
        self.assertAlmostEqual(got["pipeline.fact_orders_s"], 0.25)
        self.assertAlmostEqual(got["pipeline.dag_self_s"], (998 - 500) / 1000 / 2)
        self.assertAlmostEqual(got["queries.build_s.star"], 0.199)
        self.assertAlmostEqual(got["queries.exec_s.star"], 0.299)
        self.assertEqual(got["queries.build_jobs.star"], 1)
        self.assertEqual(got["tables.schema_jobs"], 0.5)
        self.assertEqual(got["spark.jobs.tables"], 0.5)
        self.assertEqual(got["spark.jobs.operators"], 0.5)
        self.assertAlmostEqual(got["plans.optimizer_ms"], 3.5)  # the 2600 plan is untraced
        self.assertAlmostEqual(got["spark.input_mb"], 0.5)
        self.assertAlmostEqual(got["storage.mb_written"], 1.0)
        # traced 1.0 s + 0.5 s against untraced 0.9 s + 0.4 s
        self.assertAlmostEqual(got["trace.overhead_frac"], (1.5 - 1.3) / 1.3)


class CompareTest(unittest.TestCase):
    def v(self, base, change, better="lower", bound=0.1):
        return compare.verdict(base, change, better, bound, list(zip(base, change)))["verdict"]

    def test_unchanged(self):
        base = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.1, 10.0, 9.9, 10.0]
        self.assertEqual(self.v(base, [x + 0.05 for x in base]), "unchanged")

    def test_worse_beyond_bound(self):
        base = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.1, 10.0, 9.9, 10.0]
        self.assertEqual(self.v(base, [x * 1.2 for x in base]), "worse")
        # higher-is-better metrics worsen downwards
        self.assertEqual(self.v(base, [x * 0.8 for x in base], better="higher"), "worse")

    def test_improved_needs_nine_in_ten_and_spread(self):
        base = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.1, 10.0, 9.9, 10.0]
        self.assertEqual(self.v(base, [x * 0.9 for x in base]), "improved")
        # nine pairs are too few to claim a gain
        self.assertEqual(self.v(base[:9], [x * 0.9 for x in base[:9]]), "unchanged")
        # a shift inside the base's own quartile spread is no gain
        self.assertEqual(self.v(base, [x - 0.05 for x in base]), "unchanged")

    def test_unresolved_when_spread_exceeds_bound(self):
        base = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        change = [x * 1.05 for x in base]
        self.assertEqual(self.v(base, change), "unresolved")
        # unless every change run beats every base run
        self.assertEqual(self.v(base, [x / 10 for x in base]), "improved")

    def test_rows_pair_by_seed(self):
        spec = {"workloads": [{"name": "w"}],
                "end_to_end": [{"name": "op_s", "better": "lower", "bound": 0.1}],
                "per_layer": []}
        base = [("w", s, 0, {"op_s": 1.0 + s / 100}) for s in range(10)]
        change = [("w", s, 0, {"op_s": 0.8 + s / 100}) for s in reversed(range(10))]
        (name, w, n, v), = compare.compare(spec, base, change)
        self.assertEqual((name, w, n, v["won"], v["verdict"]), ("op_s", "w", 10, 1.0, "improved"))


if __name__ == "__main__":
    unittest.main()
