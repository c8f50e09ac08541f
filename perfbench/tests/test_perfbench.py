"""Self-tests of the benchmark's arithmetic and checkers; no JVM needed.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import metrics  # noqa: E402


class TailRank(unittest.TestCase):
    def test_ten_samples_beyond_the_rank(self):
        samples = [(float(v), "k") for v in range(1, 101)]
        t = metrics.tail(samples)
        self.assertEqual(t["value"], 90.0)
        self.assertEqual(sum(1 for v, _ in samples if v > t["value"]), 10)
        self.assertEqual(t["percentile"], 90.0)
        self.assertEqual(t["samples"], 100)

    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(metrics.tail([(1.0, "k")] * 10))
        self.assertEqual(metrics.tail([(1.0, "k")] * 11)["value"], 1.0)

    def test_rank_on_a_kind_boundary_is_flagged(self):
        fast = [(float(v), "read") for v in range(20)]
        slow = [(100.0 + v, "write") for v in range(10)]
        t = metrics.tail(fast + slow)
        self.assertEqual(t["kind"], "read")
        self.assertFalse(t["inside_one_kind"])
        slow = [(100.0 + v, "write") for v in range(15)]
        t = metrics.tail(fast + slow)
        self.assertEqual(t["kind"], "write")
        self.assertTrue(t["inside_one_kind"])


class DriverGap(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        op = {"start_ms": 0.0, "end_ms": 100.0}
        jobs = [{"start_ms": 10.0, "end_ms": 50.0},
                {"start_ms": 20.0, "end_ms": 60.0},
                {"start_ms": 30.0, "end_ms": 40.0}]
        # union [10, 60] = 50 ms; a sum would say 90
        self.assertEqual(metrics.driver_gap_ms(op, jobs), 50.0)

    def test_jobs_are_clipped_to_the_op(self):
        op = {"start_ms": 0.0, "end_ms": 100.0}
        jobs = [{"start_ms": -20.0, "end_ms": 10.0},
                {"start_ms": 90.0, "end_ms": 150.0}]
        self.assertEqual(metrics.driver_gap_ms(op, jobs), 80.0)

    def test_pool_thread_jobs_are_attributed_by_time(self):
        ops = [{"id": 0, "start_ms": 0.0, "end_ms": 10.0},
               {"id": 1, "start_ms": 10.0, "end_ms": 20.0}]
        jobs = [{"group": "perfbench-op-1", "start_ms": 1.0, "end_ms": 2.0},
                {"group": None, "start_ms": 3.0, "end_ms": 4.0},
                {"group": None, "start_ms": 50.0, "end_ms": 60.0}]
        by_op, unattributed = metrics.attribute_jobs(ops, jobs)
        self.assertEqual([j["start_ms"] for j in by_op[0]], [3.0])
        self.assertEqual([j["start_ms"] for j in by_op[1]], [1.0])
        self.assertEqual(unattributed, 1)


class Checkers(unittest.TestCase):
    def test_record_checker_rejects_a_planted_wrong_result(self):
        rec = {"checks": [{"name": "run0.processed", "expected": "1744",
                           "actual": "1744"},
                          {"name": "r0.point.mor.7", "expected": "7|3.0|99|x",
                           "actual": "7|3.0|99|x"},
                          {"name": "q0.st4_stream_dedup",
                           "expected": "0|12|345|678", "actual": "0|12|345|678"}],
               "ops": [{"id": 0, "kind": "insert", "ok": True, "error": None}]}
        self.assertEqual(checks.record_checks(rec), [])
        self.assertEqual(checks.failed_ops(rec["ops"]), [])
        for c in rec["checks"]:
            planted = json.loads(json.dumps(rec))
            next(p for p in planted["checks"] if p["name"] == c["name"])[
                "actual"] += "0"
            self.assertEqual(len(checks.record_checks(planted)), 1)

    def test_failed_op_is_a_failure(self):
        ops = [{"id": 3, "kind": "fold_mor", "ok": False, "error": "boom"}]
        self.assertEqual(len(checks.failed_ops(ops)), 1)


class PerLayer(unittest.TestCase):
    @staticmethod
    def traced(ops, **extra):
        rec = {"ops": [dict(o) for o in ops], "wall_s": 1.0,
               "trace": {"ops": ops, "jobs": [], "spans": [], "wall_s": 1.0,
                         "jvm": {"cpu_ms": 0.0, "gc_ms": 0.0}}}
        rec["trace"].update(extra)
        return rec

    def test_queries_and_stream_batches_are_reported_per_op(self):
        ops = [{"id": i, "kind": "query." + q, "start_ms": 10.0 * i,
                "end_ms": 10.0 * i + ms, "ms": ms, "items": 1, "ok": True}
               for i, (q, ms) in enumerate([("q12_set_ops", 4.0),
                                            ("st4_stream_dedup", 8.0),
                                            ("st4_stream_dedup", 6.0)])]
        batch = {"duration_ms": {"queryPlanning": 3, "addBatch": 5}}
        rec = self.traced(ops, streams=[batch] * 4)
        names = [n for n, _, _ in metrics.PER_LAYER]
        out = metrics.per_layer(rec, names)
        self.assertEqual(out["query.q12_set_ops.ms"], 4.0)
        self.assertEqual(out["query.st4_stream_dedup.ms"], 7.0)
        # four batches over two streaming ops
        self.assertEqual(out["streaming.batches"], 2.0)
        self.assertEqual(out["streaming.query_planning_ms"], 6.0)
        self.assertEqual(out["streaming.add_batch_ms"], 10.0)
        self.assertEqual(out["streaming.wal_commit_ms"], 0.0)

    def test_route_counts_come_from_the_runs_not_the_generator(self):
        ops = [{"id": 0, "kind": "pipeline_run", "start_ms": 0.0,
                "end_ms": 5.0, "ms": 5.0, "items": 100, "ok": True}]
        runs = [{"process": 20, "pass_thru": 70, "drop": 10},
                {"process": 19, "pass_thru": 70, "drop": 11},
                {"process": 20, "pass_thru": 70, "drop": 10}]
        rec = self.traced(ops, klio_runs=runs)
        rec["klio"] = {"received": 100, "config_parse_ms": 0.1}
        out = metrics.per_layer(rec, [n for n, _, _ in metrics.PER_LAYER])
        self.assertEqual(out["klio.route.process"], 20.0)
        self.assertEqual(out["klio.route.drop"], 10.0)
        self.assertEqual(out["klio.useful_ratio"], 0.2)


class MedianEstimate(unittest.TestCase):
    def test_few_samples_give_the_plain_median(self):
        self.assertEqual(metrics.hd_median([]), 0.0)
        self.assertEqual(metrics.hd_median([7.0]), 7.0)
        self.assertEqual(metrics.hd_median([1.0, 3.0]), 2.0)

    def test_symmetric_samples_give_their_centre(self):
        self.assertAlmostEqual(metrics.hd_median(list(range(1, 102))), 51.0)

    def test_one_op_at_the_middle_moves_it_less_than_the_plain_median(self):
        # a round of mixed kinds: the middle rank is one op of one kind
        base = [40, 45, 150, 160, 280, 480, 490, 530, 540, 620, 730, 830,
                860, 1140, 1160, 1850, 2030, 2200, 2400]
        moved = list(base)
        moved[base.index(540)] = 700
        plain = metrics.median(moved) - metrics.median(base)
        smooth = metrics.hd_median(moved) - metrics.hd_median(base)
        self.assertGreater(plain, 0)
        self.assertLess(smooth, plain)
        lo, hi = sorted(base)[7], sorted(base)[11]
        self.assertTrue(lo < metrics.hd_median(base) < hi)


class Spec(unittest.TestCase):
    def test_benchmark_json_lists_the_metrics_the_runs_print(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)),
                            "BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in spec["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in spec["per_layer"]], metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
