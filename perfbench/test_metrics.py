"""Tests of the benchmark's own helpers (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(metrics.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(metrics.percentile(xs, 75), 3.25)
        self.assertEqual(metrics.percentile([7.0], 99), 7.0)

    def test_median_matches_statistics(self):
        xs = [0.3, 0.1, 0.9, 0.4, 0.7]
        self.assertEqual(metrics.percentile(xs, 50), metrics.median(xs))

    def test_tail_needs_ten_samples_beyond(self):
        cases = {19: "max", 20: "p50", 39: "p50", 40: "p75", 99: "p75",
                 100: "p90", 200: "p95", 1000: "p99", 10000: "p99.9"}
        for n, want in cases.items():
            label, value = metrics.tail([float(i) for i in range(n)])
            self.assertEqual(label, want, n)
            if label == "max":
                self.assertEqual(value, n - 1)
            else:
                p = float(label[1:])
                self.assertGreaterEqual(sum(x > value for x in range(n)), 10)
                self.assertAlmostEqual(value, metrics.percentile(range(n), p))


class ModuleTest(unittest.TestCase):
    modules = metrics.file_modules(ROOT)

    def test_call_sites_map_to_layers(self):
        sites = [
            ("collect at Validations.scala:66", "api", "checks"),
            ("isEmpty at Validations.scala:74", "api", "checks"),
            ("collect at SqlTypeMapper.scala:88", "api", "types"),
            ("save at SqlSink.scala:87", "api", "sql"),
            ("parquet at ParquetSink.scala:219", "api", "sources"),
            ("parquet at Tables.scala:20", "operators", "sources"),
            ("localCheckpoint at Materialize.scala:56", "operators", "materialize"),
            ("count at Dedup.scala:580", "operators", "operators"),
            ("take at Upsert.scala:70", "api", "operators"),
            # the benchmark's own action on an operator's frame
            ("collect at Curate.scala:71", "operators", "operators"),
            # packages and files outside the reported layers
            ("collect at StreamOps.scala:120", "operators", "other"),
            ("count at Scratch.scala:40", "operators", "other"),
            ("run at ThreadPoolExecutor.java:1136", "api", "other"),
            ("$anonfun$relationFuture$1 at <unknown>:0", "api", "other"),
            ("", "api", "other"),
        ]
        for site, layer, want in sites:
            self.assertEqual(metrics.module_of(site, self.modules, layer), want, site)


def op(name, route, t0, t1, rows=0):
    return {"name": name, "route": route, "t0": t0, "t1": t1, "rows": rows,
            "phase": "traced", "ok": True}


def job(i, site, start, end, **kw):
    j = {"id": i, "site": site, "start": start, "end": end, "stages": 1,
         "tasks": 1, "failed_tasks": 0, "run_ms": 0, "cpu_ns": 0,
         "sched_ms": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
         "in_bytes": 0, "out_bytes": 0, "out_records": 0}
    j.update(kw)
    return j


class AccountingTest(unittest.TestCase):
    modules = metrics.file_modules(ROOT)

    def test_overlap_split_and_driver_remainder(self):
        ops = [op("api.sql_create", "sql", 0.0, 1000.0)]
        jobs = [job(1, "collect at Validations.scala:66", 100.0, 300.0),
                job(2, "save at SqlSink.scala:87", 200.0, 700.0)]
        secs, per_op, mods = metrics.attribute(ops, jobs, self.modules)
        s = secs[0]
        self.assertAlmostEqual(s["checks"], 0.15)
        self.assertAlmostEqual(s["sql"], 0.45)
        self.assertAlmostEqual(s["sql.stmt"], 0.40)
        self.assertAlmostEqual(sum(s.values()), 1.0)
        self.assertEqual(mods, {1: "checks", 2: "sql"})

    def test_unknown_sites_go_to_other_and_nothing_is_dropped(self):
        ops = [op("operators.components", "curate", 0.0, 2000.0),
               op("api.pq_create", "pq", 3000.0, 4000.0)]
        jobs = [job(1, "run at ThreadPoolExecutor.java:1136", 0.0, 500.0),
                job(2, "localCheckpoint at Materialize.scala:56", 400.0, 1500.0),
                # runs past its op's end: clipped at the op boundary
                job(3, "parquet at ParquetSink.scala:219", 3500.0, 4600.0),
                # starts between ops (a benchmark check): no op's time
                job(4, "collect at Load.scala:300", 2100.0, 2900.0)]
        secs, per_op, _ = metrics.attribute(ops, jobs, self.modules)
        total = metrics.total(secs)
        self.assertAlmostEqual(total["other"], 0.45)
        self.assertAlmostEqual(total["materialize"], 1.05)
        self.assertAlmostEqual(total["operators.driver"], 0.5)
        self.assertAlmostEqual(total["sources"], 0.5)
        self.assertAlmostEqual(total["sources.commit"], 0.5)
        self.assertAlmostEqual(sum(total.values()), 3.0)
        self.assertEqual([len(per_op[i]) for i in (0, 1)], [2, 1])

    def test_layers_report_other_and_sum_to_wall(self):
        ops = [op("operators.corpus_clean", "curate", 0.0, 1000.0, 40),
               op("operators.corpus_clean", "curate", 5000.0, 7000.0, 40),
               op("operators.corpus_clean", "curate", 8000.0, 9000.0, 40)]
        ops[0]["phase"] = "measured"
        ops[2]["phase"] = "baseline"
        jobs = [job(1, "weird site", 5000.0, 5500.0, tasks=4, run_ms=1200),
                job(2, "collect at Dedup.scala:200", 5500.0, 6500.0, tasks=2)]
        raw = {"workload": "curate", "traced_passes": 1, "ops": ops, "jobs": jobs,
               "session_s": 1.0, "setup_reps_s": [1.0], "warmup_s": 1.0}
        out = metrics.layers(raw, self.modules)
        self.assertAlmostEqual(out["other.s"], 0.5)
        self.assertAlmostEqual(out["operators.driver_s"], 0.5)
        self.assertAlmostEqual(out["trace.overhead_ratio"], 2.0)
        self.assertAlmostEqual(out["curate.docs_per_s"], 40.0)
        self.assertEqual(out["spark.jobs"], 2)
        self.assertEqual(out["spark.tasks_per_request"], 6)
        self.assertAlmostEqual(out["spark.parallelism"], 0.6)
        self.assertEqual(set(out), {n for n, _ in metrics.PER_LAYER})


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_the_reported_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         list(metrics.E2E))
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         list(metrics.PER_LAYER))
        self.assertEqual({w["name"] for w in b["workloads"]} - set(metrics.WORK_ROUTES),
                         set())


if __name__ == "__main__":
    unittest.main()
