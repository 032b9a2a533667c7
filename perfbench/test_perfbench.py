"""Self-checks of the benchmark's own logic: span arithmetic, the metric
name grammar, the output check and the BENCHMARK.json shape.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import unittest

import metrics
import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def execution(query, engine, wall, rows=1, hash_="7", ok=True):
    return {"query": query, "engine": engine, "wall_s": wall, "ok": ok,
            "error": None if ok else "boom", "rows": rows, "hash": hash_}


def raw_record(passes, **extra):
    rec = {"cores": 4, "setups": [{"start_s": 1.0, "warmup_s": 2.0, "total_s": 3.0}],
           "passes": passes, "peak_rss_mb": 100.0, "measured_s": 5.0, "spans": []}
    rec.update(extra)
    return rec


def timed_pass(n, walls, warmup=False, traced=False):
    return {"pass": n, "warmup": warmup, "traced": traced, "walls": walls}


class SpanArithmetic(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_length([(5, 1)]), 0)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        # children overlap each other and stick out of the parent
        self.assertEqual(metrics.self_time(0, 10, [(-5, 2), (1, 4), (8, 20)]), 4)
        self.assertEqual(metrics.self_time(0, 10, []), 10)

    def test_layer_metrics_from_a_traced_query(self):
        spans = [
            {"id": 1, "parent": -1, "name": "query", "query": 1, "engine": "graft",
             "start_ms": 0.0, "end_ms": 1000.0, "compile_ns": 5e8, "classes": 4,
             "cache_b": 2e6, "lake_files": 3, "lake_b": 1e6},
            {"id": 2, "parent": 1, "name": "operators.build", "query": 1, "engine": "graft",
             "start_ms": 0.0, "end_ms": 400.0},
            {"id": 3, "parent": 2, "name": "catalyst.analysis", "query": 1, "engine": "graft",
             "start_ms": 0.0, "end_ms": 100.0},
            {"id": 4, "parent": 1, "name": "execute", "query": 1, "engine": "graft",
             "start_ms": 400.0, "end_ms": 1000.0},
        ]
        raw = raw_record(
            [timed_pass(1, [execution("q", "graft", 1.0)], traced=True)], spans=spans,
            jobs=[{"job": 0, "query": 1, "start_ms": 200.0, "end_ms": 300.0, "stages": [0], "ok": True},
                  {"job": 1, "query": 1, "start_ms": 500.0, "end_ms": 900.0, "stages": [1], "ok": True},
                  # untagged: a job of no query run, though inside its window
                  {"job": 2, "query": -1, "start_ms": 600.0, "end_ms": 700.0, "stages": [2], "ok": True}],
            stages=[{"stage": 0, "attempt": 0, "start_ms": 210.0, "end_ms": 290.0, "tasks": 1, "ok": True},
                    {"stage": 1, "attempt": 1, "start_ms": 550.0, "end_ms": 850.0, "tasks": 2, "ok": True}],
            task_fields=["stage", "attempt", "run_ms", "input_records", "shuffle_read_records"],
            tasks=[[0, 0, 50, 10, 0], [1, 1, 100, 0, 0], [1, 1, 300, 0, 5], [2, 0, 999, 0, 0]],
            executions=[{"query": 1, "engine": "graft", "func": "save", "ok": True,
                         "phases": {"optimization": {"start_ms": 420.0, "end_ms": 470.0}},
                         "plan": {"exchanges": 2}}])
        for t in raw["tasks"]:
            t.extend([0] * 15)
        raw["task_fields"] += ["launch_ms", "finish_ms", "failed", "cpu_ns", "gc_ms",
                               "deserialize_ms", "peak_mem_b", "mem_spill_b", "disk_spill_b",
                               "input_b", "shuffle_write_b", "shuffle_write_records",
                               "shuffle_write_ns", "shuffle_read_b", "fetch_wait_ms"]
        nodes = list(metrics.build_tree(raw).values())
        self.assertEqual([j["job"] for j in nodes[0]["jobs"]], [0, 1])
        self.assertEqual(len(nodes[0]["tasks"]), 3)
        m = metrics.layer_metrics(nodes, cores=4, n_passes=1)
        # build 400 ms minus analysis (100) and the eager job (100)
        self.assertAlmostEqual(m["operators.build_s"], 0.2)
        self.assertEqual(m["operators.build_jobs"], 1)
        self.assertAlmostEqual(m["catalyst.analysis_s"], 0.1)
        self.assertAlmostEqual(m["catalyst.optimization_s"], 0.05)
        # execute 600 ms minus optimization (50) and job 1 (400)
        self.assertAlmostEqual(m["self.execute_s"], 0.15)
        # 1000 ms query minus the two jobs
        self.assertAlmostEqual(m["scheduler.driver_gap_s"], 0.5)
        self.assertAlmostEqual(m["self.job_s"], (20 + 100) / 1000)
        self.assertEqual(m["scheduler.stages_resubmitted"], 1)
        self.assertAlmostEqual(m["scheduler.empty_task_frac"], 1 / 3)
        self.assertAlmostEqual(m["executor.run_s"], 0.45)
        self.assertAlmostEqual(m["executor.busy_frac"], 0.45 / 4)
        self.assertAlmostEqual(m["executor.straggler_s"], 0.1)
        self.assertEqual(m["plans.exchanges"], 2)
        self.assertAlmostEqual(m["codegen.classes_per_stage"], 0)
        self.assertAlmostEqual(m["sources.lake_mb_written"], 1)


class EndToEnd(unittest.TestCase):
    def test_walls_use_timed_untraced_graft_passes_only(self):
        raw = raw_record([
            timed_pass(0, [execution("a", "graft", 9.0)], warmup=True),
            timed_pass(1, [execution("a", "graft", 1.0), execution("b", "graft", 4.0),
                           execution("a", "vanilla", 7.0)]),
            timed_pass(2, [execution("a", "graft", 3.0), execution("b", "graft", 4.0)]),
            timed_pass(3, [execution("a", "graft", 8.0)], traced=True),
        ])
        values, detail = metrics.end_to_end(raw)
        # each query's fastest timed pass; the detail keeps the medians
        self.assertEqual(values["wall_s"], 1.0 + 4.0)
        self.assertAlmostEqual(values["geomean_s"], math.sqrt(1.0 * 4.0))
        self.assertEqual(detail["median_wall_s"], 2.0 + 4.0)
        self.assertEqual(values["setup_s"], 3.0)
        self.assertEqual(detail["timed_passes"], 2)


    def test_percentile_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.supported_percentile(99))
        self.assertEqual(metrics.supported_percentile(100), 90)
        self.assertEqual(metrics.supported_percentile(1000), 99)


class OutputCheck(unittest.TestCase):
    def test_every_execution_must_match_the_expected_fingerprint(self):
        expected = {"a": {"rows": 1, "hash": "7"}}
        raw = raw_record([timed_pass(0, [
            execution("a", "graft", 1.0),
            execution("a", "vanilla", 1.0, hash_="8"),
            execution("a", "graft", 1.0, ok=False),
            execution("b", "graft", 1.0),
        ], warmup=True)])
        bad = metrics.check_outputs(raw, expected)
        self.assertEqual([(q, e) for q, e, _, _ in bad], [("a", "vanilla"), ("a", "graft"), ("b", "graft")])
        self.assertIn("!= expected", bad[0][3])
        self.assertIn("failed", bad[1][3])
        self.assertIn("no expected", bad[2][3])

    def test_expected_file_covers_every_workload_query(self):
        with open(run.EXPECTED) as f:
            expected = json.load(f)
        self.assertEqual(sorted(expected), sorted(run.WORKLOADS))
        for wl, queries in expected.items():
            for q, fp in queries.items():
                self.assertEqual(sorted(fp), ["hash", "rows"], (wl, q))


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        path = os.path.join(ROOT, "BENCHMARK.json")
        self.size = os.path.getsize(path)
        with open(path) as f:
            self.b = json.load(f)

    def test_shape(self):
        b = self.b
        self.assertLessEqual(self.size, 64 * 1024)
        self.assertEqual(sorted(b), ["command", "end_to_end", "paths", "per_layer", "run_seconds",
                                     "workloads"])
        self.assertEqual(b["command"], ["python3", "perfbench/run.py"])
        self.assertEqual(b["paths"], ["perfbench"])
        self.assertIsInstance(b["run_seconds"], int)
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        for w in b["workloads"]:
            self.assertEqual(sorted(w), ["name", "why"])
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
        for m in b["end_to_end"]:
            self.assertEqual(sorted(m), ["better", "bound", "name", "unit"])
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in b["per_layer"]:
            self.assertEqual(sorted(m), ["better", "name", "unit"])
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))

    def test_metric_name_grammar(self):
        names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in self.b[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, metrics.NAME_RE)
        for m in self.b["end_to_end"] + self.b["per_layer"]:
            self.assertRegex(m["unit"], metrics.UNIT_RE)
            self.assertIn(m["better"], ("lower", "higher"))
        self.assertIsNone(metrics.NAME_RE.match("_starts_with_underscore"))
        self.assertIsNone(metrics.NAME_RE.match("x" * 65))

    def test_matches_what_the_command_prints(self):
        b = self.b
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         metrics.END_TO_END_METRICS)
        units = metrics.per_layer_units()
        self.assertEqual([m["name"] for m in b["per_layer"]], metrics.per_layer_names())
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, units)


if __name__ == "__main__":
    unittest.main()
