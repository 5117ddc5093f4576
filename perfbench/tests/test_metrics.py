"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import decimal
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402
import oracle  # noqa: E402


def op(gate, t, end, layer="operators", ok=True, run_end=None, **kw):
    rec = {"gate": gate, "t": t, "end": end, "run_end": run_end or t, "ok": ok,
           "layer": layer, "phase": "p", "round": 0,
           "cols": ["a"], "rows": 1, "hash": "7"}
    rec.update(kw)
    return rec


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 11))
        self.assertEqual(metrics.percentile(v, 50), 5)
        self.assertEqual(metrics.percentile(v, 90), 9)
        self.assertEqual(metrics.percentile(v, 100), 10)
        self.assertEqual(metrics.percentile([3.0], 99), 3.0)

    def test_ten_samples_beyond_the_reported_level(self):
        self.assertEqual(metrics.tail_level(40), 75)
        self.assertEqual(metrics.tail_level(99), 75)
        self.assertEqual(metrics.tail_level(100), 90)
        self.assertEqual(metrics.tail_level(200), 95)
        self.assertEqual(metrics.tail_level(1000), 99)
        for n in range(20, 1200):
            pct = metrics.tail_level(n)
            rank = max(1, -(-pct * n // 100))
            self.assertGreaterEqual(n - rank, 10, (n, pct))

    def test_median_is_the_floor(self):
        self.assertEqual(metrics.tail_level(5), 50)
        self.assertEqual(metrics.tail_level(19), 50)


class SelfTime(unittest.TestCase):
    def test_union_of_children_is_subtracted_once(self):
        # overlapping children [1,3] and [2,5] cover 4, [7,8] covers 1,
        # and [9,12] is clipped to the parent's end
        self.assertEqual(metrics.covered(0, 10, [(1, 3), (2, 5), (7, 8), (9, 12)]), 6)
        self.assertEqual(metrics.covered(0, 10, []), 0)
        self.assertEqual(metrics.covered(0, 10, [(11, 12), (-5, -1)]), 0)

    def test_self_time_of_a_tree(self):
        spans = [
            {"id": 0, "parent": None, "start": 0, "end": 10},
            {"id": 1, "parent": 0, "start": 0, "end": 4},
            {"id": 2, "parent": 0, "start": 4, "end": 10},
            {"id": 3, "parent": 2, "start": 5, "end": 6},
            {"id": 4, "parent": 2, "start": 6, "end": 9},
        ]
        got = {s["id"]: s["self_ms"] for s in metrics.self_times(spans)}
        self.assertEqual(got, {0: 0, 1: 4, 2: 2, 3: 1, 4: 3})
        self.assertEqual(sum(got.values()), 10)


class FailureAccounting(unittest.TestCase):
    def test_every_bad_op_is_counted_none_skipped(self):
        ops = [op("good", 0, 1),
               op("threw", 1, 2, ok=False, error="boom"),
               op("wrong_hash", 2, 3, hash="8"),
               op("wrong_rows", 3, 4, rows=2),
               op("wrong_cols", 4, 5, cols=["b"]),
               op("no_answer", 5, 6),
               op("oracle_error", 6, 7)]
        for o in ops:
            if not o["ok"]:
                del o["cols"], o["rows"], o["hash"]
        answers = {g: {"cols": ["a"], "rows": 1, "hash": "7"}
                   for g in ["good", "threw", "wrong_hash", "wrong_rows", "wrong_cols"]}
        answers["oracle_error"] = {"error": "parser error"}
        attempted, failed = metrics.check_ops(ops, answers)
        self.assertEqual((attempted, failed), (7, 6))
        self.assertEqual([o["gate"] for o in ops if o["pass"]], ["good"])

    def test_failed_ops_reach_the_layer_counts(self):
        rec = record([op("a", 0, 10, layer="model"), op("b", 10, 20, layer="model", ok=False)])
        metrics.check_ops(rec["ops"], {"a": {"cols": ["a"], "rows": 1, "hash": "7"},
                                       "b": {"cols": ["a"], "rows": 1, "hash": "7"}})
        m, _ = metrics.per_layer(rec)
        self.assertEqual((m["model.ops"], m["model.failed"]), (2, 1))
        self.assertEqual(m["ops.failed_frac"], 0.5)


def record(ops, jobs=(), stages=(), plans=()):
    return {
        "workload": "w", "jvm_start": -1000.0, "first_op": ops[0]["t"],
        "window_end": ops[-1]["end"], "ops": ops,
        "passes": [{"t": ops[0]["t"], "end": ops[-1]["end"], "cpu_s": 1.0, "jit_s": 0.5,
                    "gc_s": 0.1, "stored_b": 0}],
        "host": {"steal0": 1.0, "steal1": 1.5, "load1_start": 0.1, "load1_end": 0.2,
                 "load1_max": 0.3},
        "rss_peak_kb": 1000, "ledger": {"before": {"mart:x": 1.0},
                                        "after": {"mart:x": 1.0, "mart:y": 2.5}},
        "trace": [{"jobs": [j[0] for j in jobs], "job_ends": [j[1] for j in jobs],
                   "stages": list(stages), "stage_submits": [
                       {"stage": s["stage"], "t": s["t"]} for s in stages],
                   "failed_tasks": [], "plans": list(plans)}],
    }


class EndToEnd(unittest.TestCase):
    def test_medians_over_passes_and_stored_bytes_only(self):
        ops = [op("a", 0, 4000), op("b", 4000, 9000), op("c", 9000, 12000)]
        rec = record(ops)
        rec["passes"] = [
            {"t": 0, "end": 4000, "cpu_s": 3.0, "stored_b": 2e6},
            {"t": 4000, "end": 9000, "cpu_s": 5.0, "stored_b": 4e6},
            {"t": 9000, "end": 12000, "cpu_s": 4.0, "stored_b": 3e6}]
        m = metrics.end_to_end(rec)
        self.assertEqual(m["setup_s"], 1.0)
        self.assertEqual(m["batch_s"], 4.0)
        self.assertEqual(m["queries_per_s"], 3 / 12)
        self.assertEqual(m["cpu_s"], 4.0)
        # what the passes leave stored, nothing else (no input bytes)
        self.assertEqual(m["stored_mb"], 3.0)
        self.assertEqual(m["rss_peak_mb"], 1000 * 1024 / 1e6)


class Attribution(unittest.TestCase):
    def test_events_go_to_the_op_whose_interval_holds_them(self):
        ops = [op("a", 0, 10), op("b", 20, 30), op("c", 30.5, 40)]
        self.assertEqual(metrics.owner(ops, 0), 0)
        self.assertEqual(metrics.owner(ops, 10), 0)
        self.assertIsNone(metrics.owner(ops, 15))
        self.assertEqual(metrics.owner(ops, 25), 1)
        self.assertEqual(metrics.owner(ops, 35), 2)
        self.assertIsNone(metrics.owner(ops, 41))

    def test_per_layer_counts_and_driver_time(self):
        ops = [op("a", 0, 100, layer="sources", run_end=40),
               op("b", 200, 300, layer="llm.dedup", run_end=200)]
        jobs = [({"job": 0, "t": 10, "stages": [0, 1]}, {"job": 0, "t": 30}),
                ({"job": 1, "t": 50, "stages": [1, 2]}, {"job": 1, "t": 90}),
                ({"job": 2, "t": 150, "stages": [3]}, {"job": 2, "t": 160}),
                ({"job": 3, "t": 210, "stages": [4]}, {"job": 3, "t": 260})]
        stages = [{"stage": 0, "t": 11, "tasks": 4, "sr_b": 0, "sw_b": 2e6, "run_ms": 100,
                   "cpu_ns": 5e7, "gc_ms": 1, "in_b": 1e6, "out_b": 0, "spill_b": 0},
                  {"stage": 1, "t": 12, "tasks": 4, "sr_b": 2e6, "sw_b": 0, "run_ms": 100,
                   "cpu_ns": 5e7, "gc_ms": 1, "in_b": 0, "out_b": 3e6, "spill_b": 0},
                  {"stage": 2, "t": 51, "tasks": 2},
                  {"stage": 3, "t": 151, "tasks": 8},
                  {"stage": 4, "t": 211, "tasks": 1}]
        plans = [{"t": 5, "ms": 7}, {"t": 205, "ms": 3}, {"t": 150, "ms": 100}]
        rec = record(ops, jobs, stages, plans)
        metrics.check_ops(rec["ops"], {})
        m, spans = metrics.per_layer(rec)
        # job 2 and stage 3 start between the ops: nobody's
        self.assertEqual(m["spark.jobs"], 3)
        self.assertEqual((m["sources.jobs"], m["llm.dedup.jobs"]), (2, 1))
        self.assertEqual((m["sources.tasks"], m["llm.dedup.tasks"]), (10, 1))
        self.assertEqual(m["sources.shuffle_mb"], 4.0)
        self.assertEqual(m["spark.tasks"], 11)
        self.assertEqual(m["sources.busy_s"], 0.1)
        self.assertEqual(m["spark.plan_s"], 0.01)
        # stage 1 ran in job 0 before job 1 started, so job 1 skipped it
        self.assertAlmostEqual(m["spark.stages_skipped_frac"], 1 / 5)
        # op a: 100 ms minus jobs [10,30] and [50,90]; op b: 100 minus 50
        self.assertAlmostEqual(m["spark.driver_s"], (40 + 50) / 1000)
        self.assertEqual((m["pipeline.mart_build_s"], m["pipeline.mart_builds"]), (2.5, 1))
        self.assertEqual(m["host.steal_s"], 0.5)
        # the span tree: job 1 started after op a's run span, so it hangs
        # under materialize; job 3 under op b's materialize
        parents = {s["id"]: s for s in spans}
        job_parents = sorted(parents[s["parent"]]["kind"] for s in spans if s["kind"] == "job")
        self.assertEqual(job_parents, ["materialize", "materialize", "run"])
        for s in spans:
            self.assertGreaterEqual(s["self_ms"], 0)


class Canonical(unittest.TestCase):
    """The Python half of the cross-engine value hash; Canon.scala renders
    the same cells the same way."""

    def test_numbers_by_value(self):
        self.assertEqual(oracle.cell(3), "3")
        self.assertEqual(oracle.cell(3.0), "3")
        self.assertEqual(oracle.cell(-0.0), "0")
        self.assertEqual(oracle.cell(decimal.Decimal("3.00")), "3")
        self.assertEqual(oracle.cell(decimal.Decimal("0.10")), oracle.cell(0.1))
        self.assertEqual(oracle.cell(0.1), "D4591870180066957722")
        self.assertEqual(oracle.cell(float("nan")), "NaN")
        self.assertEqual(oracle.cell(True), "T")

    def test_dates_equal_their_midnight_timestamps(self):
        self.assertEqual(oracle.cell(datetime.date(1970, 1, 2)), "t86400000000")
        self.assertEqual(oracle.cell(datetime.datetime(1970, 1, 2)), "t86400000000")
        self.assertEqual(oracle.cell(datetime.datetime(1970, 1, 1, 0, 0, 0, 5)), "t5")

    def test_nested_and_null(self):
        self.assertEqual(oracle.cell(None), "N")
        self.assertEqual(oracle.cell([1, None, "x"]), "[1,N,Sx]")
        self.assertEqual(oracle.cell({"a": 1, "b": [2.5]}),
                         "{1,[D4612811918334230528]}")
        self.assertEqual(oracle.cell({"key": ["b", "a"], "value": [1, 2]}), "<Sa:2,Sb:1>")

    def test_hash_ignores_row_and_column_order(self):
        a = oracle.digest(["y", "x"], [(1, "p"), (2, "q")])
        b = oracle.digest(["x", "y"], [("q", 2), ("p", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a["cols"], ["x", "y"])
        self.assertNotEqual(a, oracle.digest(["x", "y"], [("q", 2), ("p", 3)]))


class Contract(unittest.TestCase):
    def test_benchmark_json_lists_exactly_the_reported_metrics(self):
        root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         metrics.per_layer_names())
        with open(os.path.join(root, "perfbench", "workloads.json")) as f:
            workloads = json.load(f)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(workloads))


if __name__ == "__main__":
    unittest.main()
