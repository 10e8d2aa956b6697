"""Tests of the trace post-processing on a hand-written trace.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import trace_report as tr

MS = 1_000_000  # span times are nanoseconds


def span(id_, parent, name, start, end, traced=True, **attrs):
    return {"kind": "span", "id": id_, "parent": parent, "name": name,
            "module": name.split(".")[0], "start": start * MS,
            "end": end * MS, "traced": traced, "attrs": attrs}


def job(id_, start, end, cpu_ms=0, **kw):
    j = {"kind": "job", "id": id_, "start": start * MS, "end": end * MS,
         "stages": 2, "tasks": 4, "cpu_ns": cpu_ms * MS, "run_ms": cpu_ms,
         "gc_ms": 0, "shuffle_write": 0, "shuffle_read": 0, "spill": 0}
    j.update(kw)
    return j


# A cold untraced query (-100..-10 ms, left out of the overhead), one
# traced query (0..100 ms) and one later untraced run of the same key
# (200..280 ms): build 10, plan 20, exec 60 with two overlapping jobs,
# release 5, and 5 ms of the benchmark's own loop.
SPANS = [
    span(7, 0, "bench.query", -100, -10, traced=False, key="k1", rows=7),
    span(1, 0, "bench.query", 0, 100, key="k1", rows=7),
    span(2, 1, "ops.build", 0, 10),
    span(3, 1, "ops.plan", 10, 30),
    span(4, 1, "ops.exec", 30, 90),
    span(5, 1, "ops.release", 90, 95),
    span(6, 0, "bench.query", 200, 280, traced=False, key="k1", rows=7),
]
JOBS = [job(1, 35, 60, cpu_ms=100, shuffle_write=2 * 1024 * 1024),
        job(2, 50, 80, cpu_ms=60), job(3, 210, 260, cpu_ms=50)]
RESULT = {
    "workload": "query_mix", "cores": 4, "timed_start": -100 * MS,
    "timed_end": 300 * MS, "extra": {},
    "roots": [{k: s[k] for k in ("name", "start", "end", "traced", "attrs")}
              for s in SPANS if s["parent"] == 0],
    "samples": {"bench.query": [0.1, 0.08], "ops.build": [0.01],
                "ops.plan": [0.02], "ops.exec": [0.06], "ops.release": [0.005]},
}


class TraceReportTest(unittest.TestCase):

    def test_union_length_merges_and_clips(self):
        self.assertEqual(tr.union_length([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(tr.union_length([(0, 10), (5, 20)], 8, 12), 4)
        self.assertEqual(tr.union_length([]), 0)

    def test_self_time_is_duration_minus_children(self):
        st = tr.self_times(SPANS)
        self.assertEqual(st[1], 5 * MS)
        self.assertEqual(st[4], 60 * MS)
        self.assertEqual(sum(st[i] for i in range(1, 6)), 100 * MS)

    def test_self_times_account_for_the_timed_wall(self):
        m = tr.per_layer(RESULT, SPANS + JOBS)
        total = sum(m[f"self.{mod}_s"][0] for mod in tr.MODULES)
        self.assertAlmostEqual(total, 0.1)
        self.assertAlmostEqual(m["self.bench_s"][0], 0.005)
        self.assertAlmostEqual(m["self.ops_s"][0], 0.095)

    def test_spark_metrics_come_from_traced_operations_only(self):
        m = tr.per_layer(RESULT, SPANS + JOBS)
        self.assertEqual(m["spark.jobs"][0], 2)
        self.assertAlmostEqual(m["spark.task_cpu_s"][0], 0.16)
        self.assertAlmostEqual(m["spark.shuffle_write_mb"][0], 2.0)
        self.assertAlmostEqual(m["spark.cpu_util"][0], 0.16 / (0.1 * 4))
        # wall 100 - union(build+plan 0..30, jobs 35..80) = 100 - 75
        self.assertAlmostEqual(m["spark.driver_gap_s"][0], 0.025)
        self.assertEqual(m["ops.jobs_per_query"][0], 2)

    def test_overhead_compares_the_same_operation(self):
        m = tr.per_layer(RESULT, SPANS + JOBS)
        self.assertAlmostEqual(m["trace.overhead"][0], 100 / 80 - 1)
        self.assertAlmostEqual(m["trace.root_coverage"][0], 270 / 400)

    def test_every_per_layer_metric_is_reported(self):
        m = tr.per_layer(RESULT, SPANS + JOBS)
        self.assertEqual(list(m), [n for n, _, _ in tr.PER_LAYER])
        self.assertEqual(m["sources.append_s"], (0.0, "s"))

    def test_geomean_of_medians_weights_each_kind_once(self):
        # medians 0.1 and 0.4 (three samples against one); empty kinds skipped
        g = tr.geomean_of_medians([[0.1, 0.1, 0.9], [0.4], []])
        self.assertAlmostEqual(g, 0.2)
        self.assertEqual(tr.geomean_of_medians([[], []]), 0.0)

    def test_benchmark_json_lists_the_same_metrics(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            os.pardir, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json is not next to the benchmark")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in bench["per_layer"]], list(tr.PER_LAYER))


if __name__ == "__main__":
    unittest.main()
