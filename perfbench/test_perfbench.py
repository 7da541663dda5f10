"""Unit tests of the benchmark's own arithmetic and plans.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import layers  # noqa: E402
import plan  # noqa: E402
import run  # noqa: E402

POOL = [(c, p) for c in ("1", "2", "X") for p in range(1000, 1100)]


class PercentileRule(unittest.TestCase):
    def test_p50_needs_ten_samples_beyond(self):
        self.assertIsNone(layers.percentile(list(range(19)), 0.5))
        self.assertEqual(layers.percentile(list(range(20)), 0.5), 9.5)

    def test_p90_needs_ten_samples_beyond(self):
        self.assertIsNone(layers.percentile(list(range(91)), 0.9))
        self.assertAlmostEqual(layers.percentile(list(range(100)), 0.9), 89.1)

    def test_interpolation_ignores_input_order(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
        self.assertEqual(layers.percentile(xs, 0.5), 3.0)
        self.assertEqual(layers.percentile(xs, 0.5), statistics.median(xs))

    def test_empty(self):
        self.assertIsNone(layers.percentile([], 0.5))


class SelfTime(unittest.TestCase):
    spans = [
        {"id": 0, "parent": -1, "start": 0.0, "end": 100.0},
        {"id": 1, "parent": 0, "start": 5.0, "end": 25.0},
        {"id": 2, "parent": 0, "start": 30.0, "end": 90.0},
        {"id": 3, "parent": 2, "start": 40.0, "end": 50.0},
    ]

    def test_self_time_subtracts_direct_children_only(self):
        own = layers.self_times(self.spans)
        self.assertEqual(own, {0: 20.0, 1: 20.0, 2: 50.0, 3: 10.0})

    def test_self_times_sum_to_the_root(self):
        self.assertEqual(sum(layers.self_times(self.spans).values()), 100.0)

    def test_union_of_overlapping_intervals(self):
        self.assertEqual(layers.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(layers.union_ms([]), 0.0)


class LayerTable(unittest.TestCase):
    def trace(self):
        span = lambda i, p, name, layer, s, e, **kw: dict(  # noqa: E731
            id=i, parent=p, name=name, layer=layer, start=s, end=e,
            codegen=kw.get("codegen", 0), attrs=kw.get("attrs", {}))
        return {
            "marks": {"measure": 1000.0},
            "spans": [
                span(0, -1, "dump:k", "op", 10.0, 20.0),
                span(1, -1, "pass:0", "pass", 1000.0, 2000.0),
                span(2, 1, "query:k", "op", 1000.0, 2000.0, codegen=3),
                span(3, 2, "entry", "entry", 1000.0, 1100.0),
                span(4, 2, "exec", "exec", 1100.0, 2000.0),
            ],
            "jobs": [
                {"id": 0, "start": 15, "end": 18, "stages": [0]},
                {"id": 1, "start": 1050, "end": 1090, "stages": [1]},
                {"id": 2, "start": 1200, "end": 1700, "stages": [2, 3]},
                {"id": 3, "start": 1500, "end": 1800, "stages": [4]},
            ],
            "stages": [dict(id=i, tasks=4, run_ms=100, gc_ms=10, input_bytes=1,
                            shuffle_read_bytes=2, shuffle_write_bytes=3, spill_bytes=0)
                       for i in (0, 1, 2, 4)],
            "queries": [{"start": 1150, "end": 1190, "plan_ms": 40, "nodes": 7,
                         "exchanges": 1, "files": 2, "scan_rows": 10,
                         "dsv2_scans": 0, "dsv2_files": 0}],
        }

    def test_attribution_by_time_window(self):
        m = layers.layer_table(self.trace(), cpus=4)
        self.assertEqual(set(m), set(layers.PER_LAYER))
        self.assertEqual(m["exec.jobs"], 3)            # the dump job is before the mark
        self.assertEqual(m["entry.build_jobs"], 1)     # job 1 starts inside the entry span
        self.assertEqual(m["exec.stages"], 3)          # stage 3 never completed
        self.assertAlmostEqual(m["exec.run_s"], (40 + 600) / 1e3)
        self.assertAlmostEqual(m["exec.driver_gap_s"], (1000 - 640) / 1e3)
        self.assertAlmostEqual(m["entry.build_s"], 0.1)
        self.assertAlmostEqual(m["catalyst.plan_s"], 0.04)
        self.assertAlmostEqual(m["exec.core_util"], 0.3 / (1.0 * 4))
        self.assertEqual(m["exec.codegen_compiles"], 3)
        self.assertEqual(m["freqstore.commit_s"], 0.0)  # no store ops in this trace

    def test_key_self_times(self):
        t = layers.key_self_times(self.trace())
        self.assertEqual(t, {"query:k": {"op": 0.0, "entry": 0.1, "exec": 0.9}})


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_ops(self):
        for w in plan.PASS_KEYS:
            self.assertEqual(plan.pass_plan(w, 7), plan.pass_plan(w, 7))
        self.assertEqual(plan.store_plan(7, POOL), plan.store_plan(7, POOL))

    def test_other_seed_other_ops(self):
        for w in plan.PASS_KEYS:
            self.assertNotEqual(plan.pass_plan(w, 7)["passes"], plan.pass_plan(w, 8)["passes"])
        self.assertNotEqual(plan.store_plan(7, POOL), plan.store_plan(8, POOL))

    def test_every_pass_runs_every_key_once(self):
        p = plan.pass_plan("oneshot", 3)
        for order in [p["keys"]] + p["passes"]:
            self.assertEqual(sorted(order), sorted(plan.ONESHOT))

    def test_store_cycles_keep_the_sample_sets_consistent(self):
        p = plan.store_plan(5, POOL)
        present = set(p["initial"][0])
        for c in p["cycles"]:
            self.assertFalse(set(c["add"]) & present)      # never imported twice
            self.assertTrue(set(c["drop"]) <= present)     # only present samples retract
            present = (present | set(c["add"])) - set(c["drop"])
            self.assertEqual(len(present), plan.INITIAL)
            self.assertTrue(all(tuple(pt) in POOL for pt in c["points"]))

    def test_min_passes_hold_a_p50(self):
        # oneshot: MIN_SAMPLES keys; store: each cycle runs its point, range
        # and filtered lookups twice, plus the as-of and extent reads
        self.assertGreaterEqual(plan.min_passes("oneshot") * len(plan.ONESHOT),
                                2 * layers.MIN_BEYOND)
        for c in plan.store_plan(5, POOL)["cycles"]:
            per_round = len(c["points"]) // c["point_batch"] + len(c["ranges"]) + 1
            self.assertGreaterEqual(plan.MIN_CYCLES * (2 * per_round + 2),
                                    2 * layers.MIN_BEYOND)


class OutputCheck(unittest.TestCase):
    def test_key_without_oracle_sql_is_wrong(self):
        with tempfile.TemporaryDirectory() as dump:
            with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
                json.dump({}, f)
            self.assertEqual(run.check_outputs(run.DATA, dump, ["k"]), ["k"])

    def test_input_tables_are_present(self):
        self.assertEqual(run.data(), run.DATA)


if __name__ == "__main__":
    unittest.main()
