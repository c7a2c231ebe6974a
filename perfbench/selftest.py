#!/usr/bin/env python3
"""Self-tests of the benchmark's own code (no JVM, no build).

    python3 perfbench/selftest.py

- the generator is deterministic per seed, and seeds differ;
- the oracle digest follows tools/check_oracle.py's canonical form;
- every metric named in BENCHMARK.json appears exactly once in the
  output line, with its unit, and nothing else does.
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SMALL = {"events": {"rows": 3000, "symbols": 16}, "documents": 60,
         "embeddings": 40, "part": 50, "customer": 30, "supplier": 5,
         "orders": 100, "lineitem": 400}


def _files(d):
    out = {}
    for n in sorted(os.listdir(d)):
        with open(os.path.join(d, n), "rb") as f:
            out[n] = hashlib.sha256(f.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def write(self, seed, name):
        d = os.path.join(self.tmp, name)
        fp = gen.write(gen.build(seed, SMALL), d)
        return fp, _files(d)

    def test_same_seed_is_byte_identical(self):
        a = self.write(7, "a")
        b = self.write(7, "b")
        self.assertEqual(a, b)
        self.assertEqual(len(a[1]), 10)

    def test_different_seeds_differ(self):
        a = self.write(7, "a")[1]
        b = self.write(8, "b")[1]
        # region and nation are fixed dimensions; every other table moves
        differ = {t for t in a if a[t] != b[t]}
        self.assertEqual(differ, set(a) - {"region.parquet",
                                           "nation.parquet"})

    def test_events_contract(self):
        t = gen.events(3, 20000, 64)
        self.assertEqual(t.schema.field("ts").type, pa.timestamp("us"))
        ids = t["event_id"].to_pylist()
        self.assertEqual(len(set(ids)), len(ids))
        values = t["value"].to_pylist()
        share = sum(v >= 100 for v in values) / len(values)
        self.assertTrue(0.08 < share < 0.2, share)
        users = len(set(t["user_id"].to_pylist()))
        self.assertTrue(50 < len(values) / users < 90)
        self.assertEqual(len(set(t["event_type"].to_pylist())), 64)
        self.assertTrue(all(json.loads(p).keys() == {"k"}
                            for p in t["props"].to_pylist()[:100]))


class DigestTest(unittest.TestCase):
    """The digest uses tools/check_oracle.py's canonical form: it ignores
    row and column order and sees a float's last bit and a type kind."""

    def test_parquet_fixture_digest(self):
        tmp = tempfile.mkdtemp()
        try:
            t = pa.table({"v": [0.1, 1 / 3, float("nan")], "k": [3, 1, 2],
                          "s": ["b", "a", None]})
            pq.write_table(t, os.path.join(tmp, "part-0.parquet"))
            con = duckdb.connect()
            src = f"'{tmp}/*.parquet'"
            base = oracle.digest(con.sql(f"SELECT * FROM {src}"))
            self.assertEqual(base[1], 3)
            shuffled = con.sql(f"SELECT s, v, k FROM {src} ORDER BY k DESC")
            self.assertEqual(oracle.digest(shuffled), base)
            nudged = con.sql(f"SELECT k, s, CASE WHEN k = 1 THEN "
                             f"nextafter(v, 1) ELSE v END AS v FROM {src}")
            self.assertNotEqual(oracle.digest(nudged)[0], base[0])
            decimal = con.sql(f"SELECT k::DECIMAL(18, 0) AS k, s, v "
                              f"FROM {src}")
            self.assertNotEqual(oracle.digest(decimal)[0], base[0])
        finally:
            shutil.rmtree(tmp)


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_workloads_match_benchmark_json(self):
        self.assertEqual({w["name"] for w in self.bench["workloads"]},
                         set(run.load_workloads()))

    # what the harness's passes carry: every per-layer counter except
    # the ones run.py derives and the stream.* ones (no drain here)
    DERIVED = {"construct.self_s", "execute.self_s", "trace.pass_s",
               "exec.slot_idle_frac", "trace.accounted_frac", "job_s_p50",
               "host.cal_s"}

    def fake_run(self, out_dir, drop=()):
        layers = {k: 1.0 for k in run.PER_LAYER
                  if not k.startswith(("setup.", "stream."))
                  and k not in self.DERIVED and k not in drop}
        layers["exec.task_busy_s"] = 2.0
        passes = [{"pass_s": 2.0 + i / 10, "layers": layers,
                   "jobs": {f"j{k}": [0.1, 0.2 + k / 100] for k in range(12)}}
                  for i in range(3)]
        spans = [{"id": 1, "parent": 0, "kind": "workload", "self_us": 0}]
        sid = 2
        for _ in range(3):
            spans.append({"id": sid, "parent": 1, "kind": "pass",
                          "start_us": 0, "end_us": 2500000, "self_us": 0})
            spans.append({"id": sid + 1, "parent": sid, "kind": "job",
                          "self_us": 0})
            spans.append({"id": sid + 2, "parent": sid + 1,
                          "kind": "construct", "self_us": 400000})
            spans.append({"id": sid + 3, "parent": sid + 1,
                          "kind": "execute", "self_us": 600000})
            sid += 4
        with open(os.path.join(out_dir, "trace.json"), "w") as f:
            json.dump(spans, f)
        return {"passes": passes, "cores": 4, "live_heap_mb": 100.0,
                "setup": {"session_s": 3.0, "warm_s": 4.0, "fixture_s": 0.1,
                          "first_call_s": 8.0},
                "host": {"cal_pre_s": 0.5, "cal_post_s": 0.6}}

    def test_each_metric_once_with_unit(self):
        tmp = tempfile.mkdtemp()
        try:
            res = self.fake_run(tmp)
            for values, units in ((run.end_to_end(res, 1.0), run.END_TO_END),
                                  (run.per_layer(res, 1.0, 2.0, tmp),
                                   run.PER_LAYER)):
                line = json.loads(run.result_line(True, 10, 0, values, units))
                self.assertEqual(list(line), ["correct", "attempted", "failed",
                                              "metrics"])
                text = json.dumps(line)
                for name, unit in units.items():
                    self.assertEqual(text.count(json.dumps(name) + ":"), 1)
                    self.assertEqual(line["metrics"][name]["unit"], unit)
                    self.assertIsInstance(line["metrics"][name]["value"],
                                          float)
                self.assertEqual(set(line["metrics"]), set(units))
        finally:
            shutil.rmtree(tmp)

    def test_traced_values(self):
        tmp = tempfile.mkdtemp()
        try:
            m = run.per_layer(self.fake_run(tmp), 1.0, 2.0, tmp)
            self.assertEqual(m["stream.batches"], 0.0)
            self.assertEqual(m["exec.slot_idle_frac"], 0.5)
            # (0.4 construct + 0.6 execute self + 1.0 exec_s) / 2.5 s wall
            self.assertAlmostEqual(m["trace.accounted_frac"], 0.8)
        finally:
            shutil.rmtree(tmp)

    def test_missing_layer_counter_fails(self):
        tmp = tempfile.mkdtemp()
        try:
            res = self.fake_run(tmp, drop=("exec.shuffle_read_mb",))
            with self.assertRaisesRegex(ValueError, "exec.shuffle_read_mb"):
                run.per_layer(res, 1.0, 2.0, tmp)
        finally:
            shutil.rmtree(tmp)

    def test_tail_has_ten_samples_beyond(self):
        def passes(n_passes, n_jobs):
            return [{"jobs": {f"j{j}": [0.0, float(p * n_jobs + j)]
                              for j in range(n_jobs)}}
                    for p in range(n_passes)]
        label, v = run.tail(passes(10, 10))
        self.assertEqual((label, v), ("p90.0 of 100 samples", 89.0))
        label, v = run.tail(passes(10, 20))
        self.assertEqual((label, v), ("p95.0 of 200 samples", 189.0))
        # too few samples for a p90 tail: slowest job's median
        label, v = run.tail(passes(5, 5))
        self.assertEqual(v, 14.0)
        self.assertIn("slowest job", label)

if __name__ == "__main__":
    unittest.main()
