"""Self-test for the benchmark's arithmetic and gates.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import copy
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import analysis  # noqa: E402


def span(i, parent, name, start, end, tracer_s=0.0, **counters):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end,
            "tracer_s": tracer_s, "counters": counters}


def attempt(name, wall, error=None):
    return {"name": name, "wall_s": wall, "error": error}


class PercentileTest(unittest.TestCase):
    def test_matches_linear_interpolation(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(analysis.percentile(xs, 0.5), 3.0)
        self.assertAlmostEqual(analysis.percentile(xs, 0.8), 4.2)
        self.assertEqual(analysis.percentile(xs, 0.0), 1.0)
        self.assertEqual(analysis.percentile(xs, 1.0), 5.0)

    def test_median_agrees_with_statistics(self):
        for xs in ([1.0], [2.0, 1.0], [3.0, 1.0, 2.0, 10.0], [0.1, 0.7, 0.3, 0.2, 0.9, 0.4]):
            self.assertAlmostEqual(analysis.median(xs), statistics.median(xs))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            analysis.percentile([], 0.5)

    def test_passes_sum_whole_passes_only(self):
        a = [attempt("q", w) for w in (1.0, 2.0, 3.0, 4.0, 5.0)]
        self.assertEqual(analysis.passes(a, 2), [3.0, 7.0])
        self.assertEqual(analysis.passes(a, 1), [1.0, 2.0, 3.0, 4.0, 5.0])


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_direct_children_only(self):
        spans = [
            span(0, -1, "build", 0.0, 10.0),
            span(1, 0, "runAll", 0.5, 7.5),
            span(2, 1, "ingest", 1.0, 3.0),
            span(3, 0, "runChecks", 7.5, 9.5),
        ]
        own = analysis.self_times(spans)
        self.assertAlmostEqual(own[0], 10.0 - 7.0 - 2.0)
        self.assertAlmostEqual(own[1], 7.0 - 2.0)
        self.assertAlmostEqual(own[2], 2.0)
        self.assertAlmostEqual(own[3], 2.0)
        # self times of a tree add up to the root's duration
        self.assertAlmostEqual(sum(own.values()), 10.0)


def build_record():
    """A minimal traced uber_build record: one build, one decomposition."""
    parts = [span(5, 4, "ingest", 10.0, 12.0, jobs=6, output_bytes=300.0)]
    t = 12.0
    for j, m in enumerate(analysis.MODELS):
        parts.append(span(6 + j, 4, f"models.{m}", t, t + 0.5, jobs=3, input_bytes=10.0,
                          shuffle_bytes=1.0))
        t += 0.5
    parts += [span(12, 4, "readback", t, t + 0.4, jobs=18),
              span(13, 4, "checks", t + 0.4, t + 1.4, jobs=20, fact_scans=4)]
    spans = [span(0, -1, "traced", 0.0, 20.0),
             span(1, 0, "build", 0.0, 8.0, tracer_s=0.25, jobs=76, task_run_s=16.0),
             span(2, 1, "runAll", 0.0, 6.0, jobs=56),
             span(3, 1, "runChecks", 6.0, 8.0, jobs=20),
             span(4, 0, "build.parts", 10.0, t + 1.4, jobs=76)] + parts
    return {
        "workload": "uber_build", "seed": 1, "trace": True,
        "setup_s": [3.0, 0.2, 0.3],
        "attempts": [attempt("build_0", 7.0), attempt("build_1", 6.0)],
        "gates": [{"name": "check.count", "expected": "8", "actual": "8"},
                  {"name": "model.x", "expected": "9:ab", "actual": "9:ab"}],
        "calibration": [{"cpu_loop_s": 0.4, "spark_job_s": 0.05},
                        {"cpu_loop_s": 0.6, "spark_job_s": 0.03}],
        "facts": {"csv_bytes": 200.0, "fact_rows": 1000.0},
        "peak_rss_mb": 900.0, "peak_heap_mb": 300.0,
        "traced": {"attempts": [attempt("build_0", 8.0)],
                   "job_checks": [{"name": "runAll_0", "entry_jobs": 56.0,
                                   "parts_jobs": 56.0}],
                   "cores": 4, "spans": spans},
    }


class MetricsTest(unittest.TestCase):
    def test_end_to_end(self):
        e = analysis.end_to_end(build_record())
        self.assertEqual(e["setup_s"], 0.3)
        self.assertEqual(e["pass_s"], 6.5)
        self.assertEqual(set(e), set(analysis.END_TO_END))

    def test_per_layer_reports_every_metric(self):
        m = analysis.per_layer(build_record())
        self.assertEqual(set(m), set(analysis.PER_LAYER))
        self.assertEqual(m["latency.op_p50_s"], 6.5)
        self.assertAlmostEqual(m["latency.op_p75_s"], 6.75)
        self.assertAlmostEqual(m["ingest.wall_s"], 2.0)
        self.assertAlmostEqual(m["ingest.rows_per_s"], 500.0)
        self.assertAlmostEqual(m["ingest.write_amp"], 1.5)
        self.assertAlmostEqual(m["checks.fact_scans"], 4.0)
        self.assertAlmostEqual(m["models.wall_s"], 3.0)
        self.assertEqual(m["models.jobs"], 18)
        self.assertEqual(m["spark.jobs"], 76)
        self.assertAlmostEqual(m["spark.busy_frac"], 16.0 / (8.0 * 4))
        self.assertAlmostEqual(m["trace_overhead_s"], 0.25)
        self.assertAlmostEqual(m["calibration.cpu_loop_s"], 0.5)
        self.assertEqual(m["operators.graph.wall_s"], 0.0)
        self.assertEqual(m["error_rate"], 0.0)


class GateTest(unittest.TestCase):
    def test_clean_record_passes(self):
        self.assertEqual(analysis.outcome(build_record()), (5, 0))

    def test_corrupted_result_is_caught(self):
        r = build_record()
        r["gates"][1]["actual"] = "9:ac"  # one flipped hash digit
        self.assertEqual(analysis.outcome(r), (5, 1))
        self.assertAlmostEqual(analysis.per_layer(r)["error_rate"], 1 / 5)

    def test_failed_attempt_counts(self):
        r = copy.deepcopy(build_record())
        r["attempts"][0]["error"] = "IllegalStateException: source checks failed"
        self.assertEqual(analysis.outcome(r), (5, 1))

    def test_job_mismatch_is_reported(self):
        r = copy.deepcopy(build_record())
        self.assertEqual(analysis.per_layer(r)["trace_job_mismatches"], 0)
        r["traced"]["job_checks"][0]["parts_jobs"] = 55.0
        self.assertEqual(analysis.per_layer(r)["trace_job_mismatches"], 1)


if __name__ == "__main__":
    unittest.main()
