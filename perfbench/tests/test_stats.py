"""Self-tests of the benchmark's own logic. Run from the checkout root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_quantile(19))
        self.assertEqual(stats.tail_quantile(20), 0.5)
        self.assertEqual(stats.tail_quantile(39), 0.5)
        self.assertEqual(stats.tail_quantile(40), 0.75)
        self.assertEqual(stats.tail_quantile(45), 0.75)
        self.assertEqual(stats.tail_quantile(100), 0.9)
        self.assertEqual(stats.tail_quantile(200), 0.95)
        self.assertEqual(stats.tail_quantile(999), 0.95)
        self.assertEqual(stats.tail_quantile(1000), 0.99)
        self.assertEqual(stats.tail_quantile(10000), 0.999)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        random.Random(3).shuffle(xs)
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.95), 95)
        self.assertEqual(stats.percentile(xs, 1.0), 100)
        self.assertEqual(stats.percentile([7], 0.99), 7)

    def test_names(self):
        self.assertEqual(stats.quantile_name(0.75), "p75")
        self.assertEqual(stats.quantile_name(0.999), "p99.9")


class SpanSelfTime(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        spans = [
            dict(id="run", parent=None, start=0, end=100),
            dict(id="q", parent="run", start=10, end=60),
            dict(id="j1", parent="q", start=20, end=40),
            dict(id="j2", parent="q", start=30, end=50),
        ]
        st = stats.self_times(spans)
        self.assertEqual(st["run"], 50)
        self.assertEqual(st["q"], 20)
        self.assertEqual(st["j1"], 20)

    def test_children_clipped_to_parent(self):
        spans = [dict(id="a", parent=None, start=0, end=10),
                 dict(id="b", parent="a", start=5, end=30)]
        self.assertEqual(stats.self_times(spans)["a"], 5)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(stats.union_length([(0, 5), (3, 8)], 4, 6), 2)


class Digest(unittest.TestCase):
    def test_order_insensitive(self):
        rows = [f"{i}|v{i % 7}|{i * 0.5}" for i in range(500)]
        shuffled = rows[:]
        random.Random(1).shuffle(shuffled)
        self.assertEqual(stats.digest(rows), stats.digest(shuffled))

    def test_sensitive_to_multiplicity_and_content(self):
        rows = ["a|1", "b|2"]
        self.assertNotEqual(stats.digest(rows), stats.digest(rows + ["a|1"]))
        self.assertNotEqual(stats.digest(rows), stats.digest(["a|1", "b|3"]))
        self.assertTrue(stats.digest([]).startswith("0:"))


class AdditiveInvariant(unittest.TestCase):
    triggers = [["m1|4", "m2|1"], ["m2|3", "m3|2"], ["m3|5"]]
    expected = ["m1|4", "m2|4", "m3|7"]

    def test_sum_over_triggers_equals_batch(self):
        rows = [r for t in self.triggers for r in t]
        self.assertEqual(stats.additive_mismatches(rows, self.expected), [])

    def test_duplicated_trigger_fails(self):
        rows = [r for t in self.triggers + [self.triggers[1]] for r in t]
        self.assertEqual(stats.additive_mismatches(rows, self.expected), ["m2", "m3"])

    def test_lost_trigger_fails(self):
        rows = [r for t in self.triggers[:2] for r in t]
        self.assertEqual(stats.additive_mismatches(rows, self.expected), ["m3"])

    def test_multi_column_keys(self):
        self.assertEqual(stats.additive_mismatches(["a|x|1", "a|x|1"], ["a|x|2"]), [])


class ReleaserLateness(unittest.TestCase):
    def test_lateness_accounting(self):
        late_max, late_p50 = stats.release_lateness([(0, 0), (100, 103), (200, 260), (300, 290)])
        self.assertEqual(late_max, 60)
        self.assertEqual(late_p50, 1.5)

    def test_releaser_keeps_schedule(self):
        with tempfile.TemporaryDirectory() as d:
            src, dst = os.path.join(d, "out"), os.path.join(d, "watch")
            os.makedirs(src)
            os.makedirs(dst)
            names = [f"f{i}" for i in range(8)]
            for n in names:
                open(os.path.join(src, n), "w").close()
            r = run.Releaser(src, dst, names, 20)
            r.run()
            self.assertEqual(sorted(os.listdir(dst)), names)
            due = [s for _, s, _ in r.log]
            self.assertEqual([b - a for a, b in zip(due, due[1:])], [20] * 7)
            self.assertTrue(all(a >= s for _, s, a in r.log))

    def test_backlog_at_triggers(self):
        released = {"a": 0, "b": 10, "c": 20, "d": 35}
        batch = {"a": 0, "b": 1, "c": 1, "d": 2}
        self.assertEqual(stats.backlog_at_triggers(released, batch, {0: 5, 1: 25, 2: 40}),
                         {0: 1, 1: 2, 2: 1})


class OpenLoopInput(unittest.TestCase):
    def test_release_sizes_hold_the_offered_rate(self):
        sizes = run.gen.release_sizes(120, 50, 30)
        self.assertEqual(sum(sizes), 180)
        self.assertEqual(sizes[:4], [1, 2, 1, 2])
        self.assertEqual(run.gen.release_sizes(4, 50, 25), [1, 1, 1, 2])

    def test_empty_slots_refused(self):
        with self.assertRaises(ValueError):
            run.gen.release_sizes(10, 50, 10)


class TriggerRecords(unittest.TestCase):
    def test_only_work_inside_a_trigger_counts(self):
        """Jobs and plans belong to a trigger only when they start inside
        its interval: the benchmark's own read-back queries between
        triggers, and jobs of another phase's batch with the same id, do
        not count."""
        progress = [dict(phase="cap", batch=0, start=1000, rows=36, duration_ms={"triggerExecution": 500},
                         state_commit_ms=0, state_update_ms=0, state_rows=0),
                    dict(phase="cap", batch=1, start=2000, rows=36, duration_ms={"triggerExecution": 400},
                         state_commit_ms=0, state_update_ms=0, state_rows=0)]
        job = dict(span="", stages=1, tasks=4, shuffle_write=0, shuffle_read=0, spill=0, skew=1.0,
                   gc_ms=0, scan_run_ms=0)
        res = {"jobs": [dict(job, id=1, batch="0", start=1100, end=1300),
                        dict(job, id=2, batch="1", start=2100, end=2300),
                        dict(job, id=3, batch="0", start=5000, end=5100)],
               "plans": [dict(start=1050, ms=7), dict(start=2050, ms=5),
                         dict(start=1600, ms=300), dict(start=2500, ms=200)]}
        records, spans = run.trigger_records(res, progress)
        self.assertEqual([r["jobs"] for r in records], [1, 1])
        self.assertEqual([r["plan_ms"] for r in records], [7, 5])
        self.assertEqual([r["gap_ms"] for r in records], [300, 200])
        self.assertEqual(len(spans), 4)


class TriggerCpu(unittest.TestCase):
    def test_cpu_runs_from_previous_trigger_end(self):
        """A trigger's CPU time runs from the last sink call of the trigger
        before it to its own last one, whatever order the calls arrive in;
        the first trigger gets no sample."""
        calls = [dict(batch=1, cpu_end=2500.0), dict(batch=0, cpu_end=1000.0),
                 dict(batch=0, cpu_end=1200.0), dict(batch=1, cpu_end=2700.0),
                 dict(batch=2, cpu_end=3900.0)]
        self.assertEqual(stats.trigger_cpu_ms(calls), [1500.0, 1200.0])
        self.assertEqual(stats.trigger_cpu_ms(calls[1:3]), [])


if __name__ == "__main__":
    unittest.main()
