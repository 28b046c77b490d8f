"""Tests of the benchmark's own statistics, on synthetic samples, and of its
verdict on a wrong answer.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The last test builds the program and runs one short ingest run (about a
minute); set PERFBENCH_SKIP_RUN=1 to skip it.
"""
import json
import os
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402


def op(latency, ok=True, rows=1, cpu=0.5):
    return {"latency_s": latency, "ok": ok, "rows": rows, "cpu_s": cpu}


class TailTest(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail([1.0] * 10))
        self.assertEqual(stats.tail(list(range(11))), (0, 100.0 / 11, 11))

    def test_ten_samples_lie_beyond_the_value(self):
        xs = [float(i) for i in range(1, 21)]  # 1..20
        value, pct, n = stats.tail(xs[::-1])
        self.assertEqual((value, pct, n), (10.0, 50.0, 20))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_percentile_rises_with_the_sample(self):
        value, pct, n = stats.tail([float(i) for i in range(1000)])
        self.assertEqual((value, pct, n), (989.0, 99.0, 1000))


class FailedRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.failed_ratio(12, 0), 0.0)
        self.assertEqual(stats.failed_ratio(12, 3), 0.25)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0)


class EndToEndTest(unittest.TestCase):
    def test_metrics_of_a_phase(self):
        ops = [op(0.5)] * 4 + [op(1.5, ok=False, rows=3)]
        m = stats.end_to_end(ops, setup_s=7.0, retained_heap_mb=100.0)
        self.assertAlmostEqual(m["ops_per_s"][0], 4 / 3.5)
        self.assertEqual(m["op_p50_s"][0], 0.5)
        self.assertAlmostEqual(m["rows_per_s"][0], 7 / 3.5)
        self.assertEqual(m["cpu_s_per_op"][0], 0.5)
        self.assertEqual(m["setup_s"], (7.0, "s"))
        self.assertEqual(m["retained_heap_mb"], (100.0, "MiB"))


class SpanTest(unittest.TestCase):
    def span(self, i, parent, name, start, end, op_id=0):
        return {"op": op_id, "id": i, "parent": parent, "name": name,
                "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}

    def test_self_time_subtracts_the_union_of_children(self):
        parent = self.span(0, -1, "ops.forward", 0, 10)
        kids = [self.span(1, 0, "a", 1, 4), self.span(2, 0, "b", 3, 5), self.span(3, 0, "c", 9, 12)]
        self.assertAlmostEqual(stats.self_time(parent, kids), 10 - 4 - 1)

    def test_span_fields(self):
        spans = [self.span(0, -1, "op", 0, 10),
                 self.span(1, 0, "ops.forward", 0, 10),
                 self.span(2, 1, "sources.jet.read", 0, 2),
                 self.span(3, 1, "sources.sqlite.write", 2, 5),
                 self.span(4, 1, "sources.jet.read", 5, 6)]
        f = stats.span_fields(spans)[0]
        self.assertAlmostEqual(f["ops.forward_s"], 10)
        self.assertAlmostEqual(f["ops.self_s"], 4)
        self.assertAlmostEqual(f["sources.jet_read_s"], 3)
        self.assertAlmostEqual(f["sources.sqlite_write_s"], 3)


METRICS = [{"name": "op_p50_s", "unit": "s", "better": "lower", "bound": 0.1},
           {"name": "ops_per_s", "unit": "op/s", "better": "higher", "bound": 0.1},
           {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}]


class SteadyTest(unittest.TestCase):
    def runs(self, p50, rate, setup):
        return {"op_p50_s": p50, "ops_per_s": rate, "setup_s": setup}

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 5.5 / 5.5)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)

    def test_steady_sets_pass(self):
        a = self.runs([1.0, 1.01, 0.99, 1.0, 1.02, 0.98, 1.0, 1.01, 0.99, 1.0],
                      [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0],
                      [20.0, 20.5, 19.5, 20.0, 21.0, 19.8, 20.2, 20.0, 22.0, 20.3])
        b = {k: [x * 1.02 if k != "ops_per_s" else x * 0.98 for x in v] for k, v in a.items()}
        self.assertEqual(stats.steady(a, b, METRICS), [])

    def test_wide_spread_fails(self):
        wide = [1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0]
        a = self.runs(wide, [10.0] * 10, wide)
        problems = stats.steady(a, a, METRICS)
        self.assertEqual(len(problems), 4)
        self.assertTrue(all(p.startswith(("op_p50_s: ", "setup_s: ")) and "spread" in p
                            for p in problems))

    def test_worse_second_median_fails_in_the_metric_direction(self):
        a = self.runs([1.0] * 10, [10.0] * 10, [20.0] * 10)
        slower = self.runs([1.2] * 10, [8.5] * 10, [26.0] * 10)
        faster = self.runs([0.8] * 10, [12.0] * 10, [15.0] * 10)
        self.assertEqual(len(stats.steady(a, slower, METRICS)), 3)
        self.assertEqual(stats.steady(a, faster, METRICS), [])


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_RUN") == "1", "PERFBENCH_SKIP_RUN=1")
class WrongAnswerTest(unittest.TestCase):
    """A pinned digest that does not match is a failure and a non-zero exit."""

    def test_corrupted_digest_fails_the_run(self):
        here = Path(__file__).resolve().parent
        pinned = json.loads((here / "digests.json").read_text())
        digest = pinned["gates"]["q_ivf_append"]
        pinned["gates"]["q_ivf_append"] = ("0" if digest[0] != "0" else "1") + digest[1:]
        bad = here.parent / ".bench_build" / "perfbench" / "corrupted_digests.json"
        bad.parent.mkdir(parents=True, exist_ok=True)
        bad.write_text(json.dumps(pinned))
        p = subprocess.run([sys.executable, str(here / "run.py"), "--workload", "ingest",
                            "--seed", "1", "--seconds", "1", "--trace", "0", "--digests", str(bad)],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
        bad.unlink()
        self.assertNotEqual(p.returncode, 0, p.stderr[-2000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertIn("q_ivf_append: digest", p.stderr)


if __name__ == "__main__":
    unittest.main()
