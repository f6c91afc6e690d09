"""Self-tests of the benchmark's own logic; they need no JVM or Spark.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import hoststamp  # noqa: E402
import metrics  # noqa: E402

STAT = "4242 (java (x) y) S 1 2 3 4 5 6 7 8 9 10 {u} {s} 0 0 20 0\n"
IO = "rchar: 10\nwchar: {w}\nsyscr: 1\n"


def row(name, pass_, wall, ok=True, out_rows=5, error=None):
    return {"row": name, "pass": pass_, "ok": ok, "error": error, "out_rows": out_rows,
            "wall_s": wall, "start_s": 0.0,
            "spans": {"build": wall / 2, "plan": 0.0, "exec": wall / 2, "cleanup": 0.0}}


def record(passes, setup=1.2):
    return {"cpus": "4", "warmup_passes": 1, "setup_s": setup,
            "status": "VmHWM:\t  204800 kB\n",
            "kernels_ns_per_row": {}, "oracles": {},
            "passes": [{"pass": i, "traced": False, "wall_s": sum(r["wall_s"] for r in rows),
                        "stat0": STAT.format(u=100 * i, s=0),
                        "stat1": STAT.format(u=100 * i + 50, s=25),
                        "io0": IO.format(w=0), "io1": IO.format(w=3_000_000),
                        "host0": "cpu 0 0 0 0 0 0 0 100\n", "host1": "cpu 0 0 0 0 0 0 0 90\n",
                        "tables_load_ms": [], "rows": rows}
                       for i, rows in enumerate(passes)]}


class TailRule(unittest.TestCase):
    def test_ten_readings_above(self):
        xs = [float(i) for i in range(1, 101)]
        value, pct, n = metrics.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertEqual(value, 90.0)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [float((i * 37) % 53) for i in range(53)]
        value, _, _ = metrics.tail(xs)
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_smallest_qualifying_sample(self):
        value, pct, n = metrics.tail([float(i) for i in range(11)])
        self.assertEqual((value, n), (0.0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_too_few_readings_give_no_percentile(self):
        self.assertEqual(metrics.tail([1.0] * 10), (None, None, 10))
        self.assertEqual(metrics.tail([]), (None, None, 0))


class FailedReadings(unittest.TestCase):
    def run_metrics(self, passes, verdicts):
        rec = record(passes)
        reads = metrics.readings(rec, verdicts)
        return reads, metrics.end_to_end(rec, reads)

    def test_throwing_row_is_failed_not_fast(self):
        passes = [[row("a", p, 1.0), row("b", p, 0.001, ok=False, out_rows=-1,
                                         error="boom")] for p in range(4)]
        reads, e2e = self.run_metrics(passes, {"a": None, "b": None})
        self.assertEqual(sum(r["failed"] for r in reads), 4)
        self.assertTrue(all(r["reason"] == "boom" for r in reads if r["row"] == "b"))
        self.assertEqual(e2e["row_p50_s"], 1.0)
        self.assertGreaterEqual(e2e["row_tail_s"], 1.0)

    def test_oracle_mismatch_fails_every_reading_of_the_row(self):
        passes = [[row("a", p, 1.0), row("b", p, 0.01)] for p in range(3)]
        reads, e2e = self.run_metrics(passes, {"a": None, "b": "values differ in 1/5 rows"})
        self.assertEqual([r["failed"] for r in reads if r["row"] == "b"], [True] * 3)
        self.assertEqual(e2e["row_p50_s"], 1.0)

    def test_empty_output_and_unchecked_rows_fail(self):
        passes = [[row("a", 0, 1.0, out_rows=0), row("c", 0, 1.0)]]
        reads, _ = self.run_metrics(passes, {"a": None})
        self.assertEqual([r["reason"] for r in reads], ["produced no rows", "not checked"])

    def test_row_median_is_over_per_row_medians(self):
        passes = [[row("a", p, 0.1), row("b", p, 0.2 + p), row("c", p, 5.0)]
                  for p in range(4)]
        _, e2e = self.run_metrics(passes, {"a": None, "b": None, "c": None})
        self.assertAlmostEqual(e2e["row_p50_s"], 2.2)  # b over passes 1-3

    def test_first_pass_is_warm_up(self):
        passes = [[row("a", 0, 9.0)], [row("a", 1, 1.0)], [row("a", 2, 1.0)]]
        _, e2e = self.run_metrics(passes, {"a": None})
        self.assertEqual(e2e["pass_wall_s"], 1.0)
        self.assertEqual(e2e["_timed_passes"], 2)
        self.assertAlmostEqual(e2e["pass_cpu_s"], 75 / hoststamp.CLK_TCK)
        self.assertAlmostEqual(e2e["write_mb_per_pass"], 3.0)
        self.assertAlmostEqual(e2e["peak_rss_mb"], 200.0)
        self.assertEqual(e2e["setup_s"], 1.2)

    def test_pass_summary_clamps_steal_that_runs_backwards(self):
        rec = record([[row("a", 0, 1.0)]])
        (p,) = metrics.pass_summaries(rec)
        self.assertEqual(p["steal_s"], 0.0)
        self.assertEqual(p["flags"], ["steal_backwards"])


class AssignedTime(unittest.TestCase):
    def traced_pass(self, charged_ms, total_ms):
        layers = {l: {"run_ms": 0} for l in metrics.ALL}
        layers["exec"]["run_ms"] = charged_ms
        r = dict(row("a", 1, 1.0), layers=layers)
        return {"rows": [r], "all_tasks": {"run_ms": total_ms}}

    def test_uncharged_task_time_lowers_the_share(self):
        self.assertAlmostEqual(metrics.assigned_frac(self.traced_pass(300, 400)), 0.75)

    def test_fully_charged_pass_reads_one(self):
        self.assertEqual(metrics.assigned_frac(self.traced_pass(400, 400)), 1.0)
        self.assertEqual(metrics.assigned_frac(self.traced_pass(0, 0)), 1.0)


class Spans(unittest.TestCase):
    def test_self_time_excludes_children(self):
        rec = record([[row("a", 0, 1.0), row("b", 0, 3.0)]])
        rec["passes"][0]["wall_s"] = 4.5
        t = metrics.self_times(metrics.spans(rec))
        self.assertAlmostEqual(t["pass"], 0.5)
        self.assertAlmostEqual(t["build"], 2.0)
        self.assertAlmostEqual(t["exec"], 2.0)


class ProcParsers(unittest.TestCase):
    GARBAGE = ["", "cpu", "cpu -5 -1 x", "nonsense\n\n", ")", "VmHWM: -12 kB",
               "wchar: -7", "cpu  1 2 3 4 5 6 7 -8 9"]

    def test_parsers_never_negative(self):
        for text in self.GARBAGE:
            self.assertTrue(all(v >= 0 for v in hoststamp.parse_proc_stat(text).values()))
            self.assertTrue(all(v >= 0 for v in hoststamp.parse_kv(text).values()))
            self.assertGreaterEqual(hoststamp.parse_pid_stat_ticks(text), 0)
            self.assertGreaterEqual(hoststamp.parse_status_kb(text, "VmHWM"), 0)

    def test_pid_stat_with_spaces_in_name(self):
        self.assertEqual(hoststamp.parse_pid_stat_ticks(STAT.format(u=7, s=5)), 12)

    def test_counter_running_backwards_is_clamped_and_flagged(self):
        before = {"wall": 10.0, "self_ticks": 50, "cgroup": {"throttled_usec": 900},
                  "stat": dict(hoststamp.parse_proc_stat("cpu 500 0 100 900 0 0 0 40"))}
        after = {"wall": 20.0, "self_ticks": 40, "cgroup": {"throttled_usec": 100},
                 "stat": dict(hoststamp.parse_proc_stat("cpu 400 0 120 990 0 0 0 30"))}
        s = hoststamp.stamp(before, after, bench_cpu_s=5.0)
        for k, v in s.items():
            if isinstance(v, float):
                self.assertGreaterEqual(v, 0.0, k)
        self.assertIn("user_backwards", s["flags"])
        self.assertIn("steal_backwards", s["flags"])
        self.assertIn("throttled_usec_backwards", s["flags"])
        self.assertIn("other_cpu_clamped", s["flags"])

    def test_steal_burst_is_classified(self):
        t = hoststamp.CLK_TCK
        before = {"wall": 0.0, "self_ticks": 0, "cgroup": {},
                  "stat": hoststamp.parse_proc_stat("cpu 0 0 0 0 0 0 0 0")}
        after = {"wall": 10.0, "self_ticks": 0, "cgroup": {},
                 "stat": hoststamp.parse_proc_stat(f"cpu {5 * t} 0 0 {10 * t} 0 0 0 {25 * t}")}
        s = hoststamp.stamp(before, after, bench_cpu_s=5.0)
        self.assertEqual(s["class"], "steal")
        self.assertAlmostEqual(s["steal_s"], 25.0)
        self.assertAlmostEqual(s["bench_cpu_per_wall"], 0.5)
        self.assertIn("cgroup_cpu_stat_missing", s["flags"])


if __name__ == "__main__":
    unittest.main()
