"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The last test compiles the benchmark (perfbench/build.py) and runs its
closed loop in a JVM; it is skipped when no `java` is on the PATH.
"""

import json
import os
import random
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        rng = random.Random(7)
        for n in list(range(11, 40)) + [100, 257, 1000]:
            xs = [rng.expovariate(1.0) for _ in range(n)]
            value, pct, beyond, count = stats.tail(xs)
            self.assertEqual(count, n)
            self.assertEqual(beyond, stats.TAIL_BEYOND)
            self.assertEqual(sum(1 for x in xs if x > value), stats.TAIL_BEYOND)
            self.assertAlmostEqual(pct, 100.0 * (n - stats.TAIL_BEYOND) / n)

    def test_tail_is_the_highest_such_percentile(self):
        xs = list(range(1, 101))
        value, pct, beyond, _ = stats.tail(xs)
        self.assertEqual((value, pct, beyond), (90, 90.0, 10))

    def test_too_few_samples_record_the_count_and_no_tail(self):
        for n in range(0, 11):
            rec = stats.tail_record([1.0] * n)
            self.assertIsNone(rec["op_ms_tail"])
            self.assertEqual(rec["samples"], n)
        rec = stats.tail_record(list(range(12)))
        self.assertEqual((rec["samples"], rec["samples_beyond"]), (12, 10))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_operation_list(self):
        for w in gen.SIZES:
            a = json.dumps(gen.plan(w, 11), sort_keys=True)
            b = json.dumps(gen.plan(w, 11), sort_keys=True)
            self.assertEqual(a, b, w)

    def test_other_seed_other_inputs(self):
        for w in gen.SIZES:
            a, b = gen.plan(w, 1), gen.plan(w, 2)
            self.assertTrue(a["docs"] != b["docs"] and a["ops"] != b["ops"]
                            or w == "corpus_build" and a["docs"] != b["docs"], w)

    def test_chat_turns_have_a_fixed_shape(self):
        p = gen.plan("chat_session", 5)
        sz = p["sizes"]
        seen = set()
        for op in p["ops"]:
            rows = op["rows"]
            self.assertEqual(len(rows), sz["sessions_per_turn"])
            self.assertEqual(len({r["session_id"] for r in rows}), len(rows))
            self.assertEqual(sum(r["reask"] for r in rows), sz["reasks_per_turn"])
            for r in rows:
                if r["reask"]:
                    self.assertIn(r["question"], seen | set(p["extra"]["seed_cache"]))
            seen |= {r["question"] for r in rows}

    def test_churn_never_deletes_twice_or_reappends(self):
        p = gen.plan("store_churn", 3)
        live = set(range(p["extra"]["initial_docs"]))
        gone = set()
        for op in p["ops"]:
            if op["kind"] == "append":
                self.assertFalse(set(op["ids"]) & (live | gone))
                live |= set(op["ids"])
            elif op["kind"] == "delete":
                self.assertTrue(set(op["ids"]) <= live)
                live -= set(op["ids"])
                gone |= set(op["ids"])
            else:
                for q in op["queries"]:
                    if q["expect"] is not None:
                        self.assertIn(q["expect"], live)


class AccountingTest(unittest.TestCase):
    def test_failed_operation_counted_once_and_kept(self):
        recs = [{"i": 0, "kind": "turn", "ms": 5.0, "ok": True, "items": 4},
                {"i": 1, "kind": "turn", "ms": 1.0, "ok": False, "items": 0},
                {"i": 2, "kind": "turn", "ms": 6.0, "ok": True, "items": 4}]
        self.assertEqual(stats.outcome(recs), (3, 1))

    def test_rollup_self_and_driver_time(self):
        # a 100 ms serve span with a 40 ms probe child; serve's own job ran
        # for 30 ms of its self time, the probe's for 40 ms (all of it)
        spans = [
            {"id": 1, "layer": "serve", "label": "s", "parent": 0, "op": 0,
             "start_ms": 0.0, "end_ms": 100.0, "jobs": 1, "tasks": 4,
             "task_wait_ms": 2.0, "shuffle_bytes": 10, "spill_bytes": 0,
             "written_bytes": 50, "records_read": 0, "result_rows": 0,
             "job_intervals": [[5, 35]]},
            {"id": 2, "layer": "probe", "label": "p", "parent": 1, "op": 0,
             "start_ms": 50.0, "end_ms": 90.0, "jobs": 1, "tasks": 2,
             "task_wait_ms": 1.0, "shuffle_bytes": 0, "spill_bytes": 0,
             "written_bytes": 0, "records_read": 300, "result_rows": 3,
             "job_intervals": [[50, 90]]},
            {"id": 3, "layer": "maintain", "label": "m", "parent": 0, "op": 0,
             "start_ms": 100.0, "end_ms": 101.0, "jobs": 0, "tasks": 0,
             "task_wait_ms": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
             "written_bytes": 50, "records_read": 0, "result_rows": 0,
             "job_intervals": []},
        ]
        res = {"spans": spans, "records": [{"i": 0, "kind": "turn", "ms": 101.0, "ok": True},
                                           {"i": 1, "kind": "turn", "ms": 50.0, "ok": True,
                                            "warmup": True}],
               "stats": {"hits": 1, "lookups": 4, "state_files": 7, "user_text_bytes": 25}}
        r = stats.rollup("chat_session", res)
        self.assertEqual(r["serve.self_ms"], 60.0)
        self.assertEqual(r["probe.self_ms"], 40.0)
        self.assertEqual(r["serve.driver_ms"], 30.0)
        self.assertEqual(r["probe.driver_ms"], 0.0)
        self.assertEqual(r["maintain.driver_ms"], 1.0)
        self.assertEqual(r["probe.rows_per_result"], 100.0)
        self.assertEqual(r["serve.hit_ratio"], 0.25)
        self.assertEqual(r["maintain.write_amp"], 2.0)
        self.assertEqual(set(r), {m for m, _, _ in stats.PER_LAYER})
        covered, wall = stats.span_coverage(res, "turn")
        self.assertEqual((covered, wall), (101.0, 101.0))


class MetricSetTest(unittest.TestCase):
    def test_printed_metrics_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]],
                         list(stats.END_TO_END))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         list(stats.PER_LAYER))

    def test_end_to_end_medians_exclude_warmups(self):
        rec = lambda i, ms, cpu, warm=False: {"i": i, "kind": "build", "ms": ms, "cpu_ms": cpu,
                                              "steal_ms": 0.0, "ok": True, "items": 600,
                                              "warmup": warm}
        res = {"records": [rec(0, 9000.0, 30000.0, True), rec(1, 4000.0, 9000.0),
                           rec(2, 5000.0, 11000.0), rec(3, 4500.0, 10000.0)],
               "stats": {"setup_wall_s": [3.0, 1.0, 1.2], "setup_cpu_s": [6.0, 2.0, 2.2],
                         "store_bytes_per_live_byte": [2.0, 2.0, 2.0]},
               "peak_rss_mb": 2500.0}
        metrics, other, tail, store = stats.end_to_end("corpus_build", res)
        self.assertEqual(set(metrics), {m for m, _, _ in stats.END_TO_END})
        self.assertEqual(metrics["setup_s"], 2.2)
        self.assertEqual(other["setup_wall_s"], 1.2)
        self.assertEqual(other["op_ms_p50"], 4500.0)
        self.assertEqual(metrics["op_cpu_ms_p50"], 10000.0)
        self.assertAlmostEqual(other["items_per_s"], 1000.0 * 1800 / 13500.0)
        self.assertEqual((tail["op_ms_tail"], tail["samples"]), (None, 3))


@unittest.skipIf(shutil.which("java") is None, "needs a JVM")
class ClosedLoopTest(unittest.TestCase):
    def test_throwing_operation_is_one_failed_record(self):
        build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                                    or os.path.join(ROOT, ".bench_build"))
        classes = build.ensure(ROOT, build_dir)
        out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(ROOT, classes),
                              "perfbench.SelfTest"],
                             stdout=subprocess.PIPE, text=True, check=True)
        recs = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual([r["i"] for r in recs], [0, 1, 2, 3, 4])
        self.assertEqual([r["ok"] for r in recs], [True, False, True, False, True])
        self.assertTrue(recs[1]["error"].startswith("IllegalStateException"))
        self.assertTrue(recs[3]["error"].startswith("check:"))
        self.assertEqual(stats.outcome(recs), (5, 2))


if __name__ == "__main__":
    unittest.main()
