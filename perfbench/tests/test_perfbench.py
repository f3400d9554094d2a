"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests      # from the repository root

The Scala self-test builds the program first (about a minute the first
time).
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


def scratch():
    os.makedirs(build.BUILD, exist_ok=True)
    return tempfile.mkdtemp(prefix="test-", dir=build.BUILD)


class SeededInputs(unittest.TestCase):
    def test_same_seed_gives_identical_inputs(self):
        a, b = scratch(), scratch()
        try:
            for w in gen.WORKLOADS:
                da, db = gen.ensure(w, 7, a), gen.ensure(w, 7, b)
                names = sorted(os.listdir(da))
                self.assertEqual(names, sorted(os.listdir(db)))
                _, mismatch, errors = filecmp.cmpfiles(da, db, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), w)
                dc = gen.ensure(w, 8, a)
                self.assertFalse(all(filecmp.cmp(os.path.join(da, n), os.path.join(dc, n),
                                                 shallow=False)
                                     for n in names if n != "manifest.json"), w)
        finally:
            shutil.rmtree(a)
            shutil.rmtree(b)


class Percentiles(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(list(range(19))))
        self.assertEqual(metrics.tail_percentile(list(range(1, 21))), (50.0, 10))
        self.assertEqual(metrics.tail_percentile(list(range(1, 40))), (50.0, 20))
        self.assertEqual(metrics.tail_percentile(list(range(1, 41)))[0], 75.0)
        self.assertEqual(metrics.tail_percentile(list(range(1, 101))), (90.0, 90))
        self.assertEqual(metrics.tail_percentile(list(range(1, 200)))[0], 90.0)
        self.assertEqual(metrics.tail_percentile(list(range(1, 201))), (95.0, 190))
        self.assertEqual(metrics.tail_percentile(list(range(1, 1001))), (99.0, 990))

    def test_ten_samples_lie_beyond_the_reported_value(self):
        for n in (20, 57, 100, 333, 1000, 20000):
            xs = list(range(n))
            p, v = metrics.tail_percentile(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)


def synthetic_result(workload):
    layers = {k: 1.0 for k in metrics.COUNTERS}
    layers.update({"codegen.compile_ms": 5.0, "codegen.classes": 2.0,
                   "codegen.source_kb": 1.0, "jvm.jit_cpu_s": 0.5})
    ops = [{"pass": p, "name": n, "cls": c, "ms": 10.0 + p, "cpu_s": 0.1, "ok": True,
            "layers": layers if p != 2 else {}}
           for p in range(3) for n, c in (("closure", "operator"), ("upsert", "write"),
                                          ("point_read", "read"))]
    return {"workload": workload, "traced": True, "cores": 4,
            "setup_s": 3.0, "session_s": 1.0,
            "passes": [{"index": p, "cold": p == 0, "traced": p != 2, "layers": layers}
                       for p in range(3)],
            "ops": ops, "checks": [], "heap_retained_mb": 80.0, "code_cache_mb": 40.0,
            "info": {"table.write_amp": 2.0, "table.space_amp": 1.5,
                     "table.manifest_decode_ms": [1.0], "table.files_scanned_per_point_read": [1.0]}}


class MetricNames(unittest.TestCase):
    def test_every_metric_name_is_well_formed(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        declared = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        declared += [w["name"] for w in spec["workloads"]]
        spans = [{"id": 1, "parent": 0, "name": "run", "layer": "core", "start_ms": 0.0,
                  "end_ms": 5.0}]
        for w in gen.WORKLOADS:
            r = synthetic_result(w)
            e2e, layer = metrics.end_to_end(r), metrics.per_layer(r, spans)
            self.assertEqual(sorted(e2e), sorted(m["name"] for m in spec["end_to_end"]))
            self.assertEqual(sorted(layer), sorted(m["name"] for m in spec["per_layer"]))
            declared += list(e2e) + list(layer)
        for name in declared:
            self.assertRegex(name, r"^[A-Za-z0-9_.-]+$")
            self.assertTrue(metrics.NAME.match(name), name)
        self.assertEqual(len(set(m["name"] for m in spec["per_layer"])), len(spec["per_layer"]))


class OutputChecks(unittest.TestCase):
    def test_etl_oracle_check_rejects_corrupted_results(self):
        import duckdb
        d = scratch()
        try:
            duckdb.sql("COPY (SELECT range AS p_partkey, range * 0.5 AS p_retailprice "
                       f"FROM range(10)) TO '{d}/part.parquet' (FORMAT PARQUET)")
            sql = "SELECT p_partkey, p_retailprice FROM part"
            results = os.path.join(d, "results")
            good = "SELECT range AS p_partkey, range * 0.5 AS p_retailprice FROM range(10)"
            bad = {
                "value": "SELECT CASE WHEN range = 3 THEN 99 ELSE range END AS p_partkey, "
                         "range * 0.5 AS p_retailprice FROM range(10)",
                "rows": "SELECT range AS p_partkey, range * 0.5 AS p_retailprice FROM range(9)",
                "type": "SELECT range AS p_partkey, CAST(range * 0.5 AS FLOAT) AS p_retailprice "
                        "FROM range(10)",
                "column": "SELECT range AS p_key, range * 0.5 AS p_retailprice FROM range(10)",
            }
            for name, q in [("good", good)] + sorted(bad.items()):
                os.makedirs(os.path.join(results, name))
                duckdb.sql(f"COPY ({q}) TO '{results}/{name}/part-0.parquet' (FORMAT PARQUET)")
            out = {n: ok for n, ok, _ in checks.check_etl(
                d, results, {n: sql for n in ["good", *bad, "missing"]})}
            self.assertTrue(out.pop("good"))
            self.assertEqual(out, {n: False for n in [*bad, "missing"]})
        finally:
            shutil.rmtree(d)

    def test_harness_checks_reject_corrupted_results(self):
        cp = build.build()
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.SelfTest"],
                           capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stderr)


if __name__ == "__main__":
    unittest.main()
