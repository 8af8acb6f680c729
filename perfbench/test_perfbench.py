#!/usr/bin/env python3
"""Self-tests of the benchmark harness (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They pin generator determinism, the span self-time arithmetic, the metric
names, and that BENCHMARK.json and the metric catalog agree.
"""
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import gen_migrate  # noqa: E402
import gen_tpch  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def digests(self, gen, seed, size, name):
        out = os.path.join(self.dir, name)
        gen.generate(out, seed, size)
        return gen_migrate.digests(out)

    def test_migrate_same_seed_same_digests_other_seed_differs(self):
        a = self.digests(gen_migrate, 7, 200, "a")
        b = self.digests(gen_migrate, 7, 200, "b")
        c = self.digests(gen_migrate, 8, 200, "c")
        self.assertEqual(a, b)
        self.assertEqual(set(a), set(c))
        # Every source table draws from the seed except the fixed ULSS list
        # and the seed CSVs; each of those tables must change with it.
        fixed = {"ulss_territoriale.parquet"} | {k for k in a if k.startswith("seed/")}
        changed = {k for k in a if a[k] != c[k]}
        self.assertEqual(changed, set(a) - fixed)

    def test_tpch_same_seed_same_digests_other_seed_differs(self):
        a = self.digests(gen_tpch, 7, 0.001, "a")
        b = self.digests(gen_tpch, 7, 0.001, "b")
        c = self.digests(gen_tpch, 8, 0.001, "c")
        self.assertEqual(a, b)
        changed = {k for k in a if a[k] != c[k]}
        self.assertEqual(changed, set(a) - {"region.parquet", "nation.parquet"})

    def test_migrate_expectations_cover_every_target(self):
        out = os.path.join(self.dir, "m")
        exp = gen_migrate.generate(out, 3, 200)
        with open(os.path.join(HERE, "migrate_schema.json")) as f:
            pinned = json.load(f)
        self.assertEqual(set(exp["rows"]), set(pinned))
        self.assertEqual(len(pinned), 36)
        self.assertTrue(exp["attachments"])
        self.assertTrue(any(v > 0 for v in exp["orphans"].values()))


def span(sid, parent, a, b, level="job"):
    return {"id": sid, "parent": parent, "level": level, "name": sid, "start_ms": a, "end_ms": b}


class SpanArithmetic(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(spans.covered([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(spans.covered([(-5, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(spans.covered([], 0, 100), 0)

    def test_self_time_subtracts_the_union_of_children(self):
        tree = [span("w", None, 0, 100, "workload"),
                span("q", "w", 10, 90, "query"),
                span("j1", "q", 20, 50), span("j2", "q", 40, 60),
                span("s1", "j1", 20, 30, "stage")]
        st = spans.self_times(tree)
        self.assertEqual(st["w"], 20)     # 100 - 80 covered by q
        self.assertEqual(st["q"], 40)     # 80 - union(20..60)
        self.assertEqual(st["j1"], 20)    # 30 - 10
        self.assertEqual(st["j2"], 20)
        self.assertEqual(st["s1"], 10)

    def test_self_time_is_never_negative(self):
        tree = [span("q", None, 0, 10, "query"), span("j", "q", -5, 20)]
        st = spans.self_times(tree)
        self.assertEqual(st["q"], 0)
        self.assertEqual(spans.nesting_violations(tree), ["j"])

    def test_build_attributes_jobs_and_stages(self):
        p = {"index": 1, "start_ms": 0, "end_ms": 100, "ops": [
            {"name": "q1", "start_ms": 0, "construct_end_ms": 40, "end_ms": 90, "ok": True}]}
        jobs = [{"job_id": 1, "start_ms": 10, "end_ms": 20, "group": "q1", "description": None},
                {"job_id": 2, "start_ms": 50, "end_ms": 80, "group": "q1", "description": None},
                {"job_id": 3, "start_ms": 500, "end_ms": 600, "group": "q1", "description": None}]
        stages = [{"stage_id": 7, "attempt": 0, "job_id": 2, "submit_ms": 55, "complete_ms": 75}]
        tree = spans.build(p, jobs, stages, "queries")
        parent = {s["id"]: s["parent"] for s in tree}
        self.assertEqual(parent["pass1/job1"], "pass1/q1/construct")
        self.assertEqual(parent["pass1/job2"], "pass1/q1/exec")
        self.assertNotIn("pass1/job3", parent)
        self.assertEqual(parent["pass1/job2/stage7.0"], "pass1/job2")
        self.assertEqual(spans.nesting_violations(tree), [])

    def test_pipeline_jobs_follow_the_runner_description(self):
        p = {"index": 0, "start_ms": 0, "end_ms": 100, "ops": [
            {"name": "udos", "start_ms": 0, "end_ms": 50, "elapsed_ms": 50, "ok": True},
            {"name": "users", "start_ms": 50, "end_ms": 100, "elapsed_ms": 50, "ok": True}]}
        jobs = [{"job_id": 4, "start_ms": 60, "end_ms": 70, "group": "migrate",
                 "description": "pipeline:users"}]
        tree = spans.build(p, jobs, [], "migrate")
        self.assertEqual({s["id"]: s["parent"] for s in tree}["pass0/job4"], "pass0/users")


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_every_name_is_well_formed_and_unique(self):
        names = [w["name"] for w in self.bench["workloads"]] + \
            [m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]]
        for n in names:
            self.assertTrue(NAME.fullmatch(n), n)
        for n in list(metrics.END_TO_END) + list(metrics.PER_LAYER):
            self.assertTrue(NAME.fullmatch(n), n)
        self.assertEqual(len(names), len(set(names)))

    def test_benchmark_json_matches_the_catalog(self):
        e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in self.bench["end_to_end"]}
        self.assertEqual(e2e, {k: v[:3] for k, v in metrics.END_TO_END.items()})
        pl = {m["name"]: (m["unit"], m["better"]) for m in self.bench["per_layer"]}
        self.assertEqual(pl, {k: v[:2] for k, v in metrics.PER_LAYER.items()})
        self.assertEqual(self.bench["end_to_end"][0]["name"], "setup_s")
        self.assertEqual(max(m["bound"] for m in self.bench["end_to_end"]),
                         e2e["setup_s"][2])

    def test_per_layer_emits_exactly_the_catalog(self):
        traced = {"index": 1, "kind": "traced", "start_ms": 0, "end_ms": 100,
                  "peak_cached_bytes": 10, "peak_cached_blocks": 1, "ops": [
                      {"name": metrics.QUERIES[0], "start_ms": 0, "construct_end_ms": 30,
                       "end_ms": 90, "ok": True}]}
        untraced = dict(traced, index=0, kind="untraced")
        rec = {"cold_setup_s": 6.5, "pipeline_modules": {}, "trace": {
            "jobs": [{"job_id": 0, "start_ms": 40, "end_ms": 60, "group": metrics.QUERIES[0],
                      "description": None}],
            "stages": [{"stage_id": 0, "attempt": 0, "job_id": 0, "submit_ms": 41,
                        "complete_ms": 59, "num_tasks": 2, "task_max_ms": 9.0,
                        "task_median_ms": 6.0, "run_ms": 15, "gc_ms": 1,
                        "shuffle_write_bytes": 1 << 20, "spill_disk_bytes": 0,
                        "input_bytes": 0, "input_records": 0, "output_bytes": 0,
                        "output_records": 0}],
            "planning_ms": [5.0]}}
        stats = {"io.files_written": 0, "io.objects_written": 0, "io.objects_mb": 0.0}
        out, sp = run.per_layer(rec, "queries", [untraced], [traced], 0, 1, stats, "r1")
        self.assertEqual(set(out), set(metrics.PER_LAYER))
        self.assertEqual({s["run"] for s in sp}, {"r1"})
        self.assertEqual({s["level"] for s in sp}, {"workload", "query", "construct", "exec",
                                                    "job", "stage"})
        self.assertTrue(all(s["self_ms"] >= 0 for s in sp))
        q = metrics.QUERIES[0]
        self.assertEqual(out[f"queries.{q}.jobs"], 1)
        self.assertAlmostEqual(out[f"queries.{q}.construct_s"], 0.03)
        self.assertAlmostEqual(out["exec.driver_only_s"], 0.07)
        self.assertAlmostEqual(out["exec.task_skew"], 1.5)
        self.assertEqual(out["trace.nesting_violations"], 0)
        self.assertEqual(out["engine.cold_setup_s"], 6.5)


class Comparisons(unittest.TestCase):
    def record(self, **config):
        base = {"nproc": 4, "spark_graft_cpus": "4", "shuffle_partitions": "4",
                "local_dir": "/x/tmp", "xmx": "-Xmx3g", "seed": 1, "size": 5000,
                "commit": "a", "workload": "migrate"}
        base.update(config)
        fd, path = tempfile.mkstemp(suffix=".json")
        with os.fdopen(fd, "w") as f:
            json.dump({"config": base, "end_to_end": {"wall_s": 1.0}, "failed": 0}, f)
        self.addCleanup(os.remove, path)
        return path

    def test_pairs_runs_that_differ_only_in_commit(self):
        self.assertEqual(compare.main(self.record(), self.record(commit="b")), 0)

    def test_refuses_runs_whose_configuration_differs(self):
        self.assertEqual(compare.main(self.record(), self.record(shuffle_partitions="32")), 2)
        self.assertEqual(compare.main(self.record(), self.record(local_dir="/dev/shm/x")), 2)
        self.assertEqual(compare.main(self.record(), self.record(seed=2)), 2)


if __name__ == "__main__":
    unittest.main()
