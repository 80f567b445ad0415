"""Unit tests for stats.py: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import unittest

import stats


def span(id, parent, name, start, end, **attrs):
    return {"id": id, "parent": parent, "name": name, "start_ms": start, "end_ms": end,
            "attrs": attrs}


def call(label, wall, phase="timed", error=None, **kw):
    return dict({"label": label, "phase": phase, "wall_s": wall, "cpu_s": 2 * wall,
                 "live_heap_mb": 100.0, "gc_s": 0.01, "error": error}, **kw)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_ms([(10, 30), (20, 50), (90, 120)], 0, 100), 50)
        self.assertEqual(stats.union_ms([]), 0)
        self.assertEqual(stats.union_ms([(5, 5), (7, 6)]), 0)

    def test_span_self_time_subtracts_covered_part_once(self):
        parent = span(1, 0, "p", 0, 100)
        kids = [span(2, 1, "c", 10, 30), span(3, 1, "c", 20, 50), span(4, 1, "c", 90, 120)]
        self.assertEqual(stats.self_ms(parent, kids), 50)
        self.assertEqual(stats.self_ms(parent, []), 100)

    def test_prefix_difference_per_pass_then_median(self):
        passes = [{"a": 1.0, "b": 3.0, "c": 6.0}, {"a": 2.0, "b": 3.0, "c": 7.0},
                  {"a": 1.0, "b": 4.0, "c": 9.0}]
        got = stats.prefix_self_s(passes)
        self.assertEqual(got, {"a": 1.0, "b": 2.0, "c": 4.0})

    def test_layer_table_reports_duration_and_self(self):
        tree = stats.SpanTree([span(1, 0, "p", 0, 100), span(2, 1, "c", 10, 40)])
        self.assertEqual(tree.layer_table(), [("c", 1, 30, 30), ("p", 1, 100, 70)])


class Percentiles(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(stats.median([]), 0.0)

    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.tail(list(range(99))))
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90))
        self.assertEqual(stats.tail(list(range(1, 1001))), (99, 990))
        self.assertEqual(stats.tail(list(range(1, 10001))), (99.9, 9990))


class Metrics(unittest.TestCase):
    def test_failed_call_counts_and_is_left_out_of_medians(self):
        calls = [call("q", 1.0), call("q", 3.0), call("q", 50.0, error="boom"),
                 call("q", 2.0, phase="setup")]
        self.assertEqual(stats.outcome(calls, []), (4, 1))
        self.assertEqual(stats.outcome(calls, ["q_bad"]), (4, 2))
        self.assertEqual(stats.pass_sum(calls, "timed", "wall_s", ["q"]), 2.0)

    def test_pass_is_sum_of_per_label_medians(self):
        raw = {"calls": [call("a", 1.0), call("a", 3.0), call("b", 5.0)],
               "labels": ["a", "b"], "setup_s": [9.0, 4.0, 5.0], "retained_heap_mb": 70.0,
               "stamp": {"cores": 4, "records_per_pass": 56}}
        m, samples, tails = stats.end_to_end(raw)
        self.assertEqual(m["job_s"], (7.0, "s"))
        self.assertEqual(m["cpu_s"], (14.0, "s"))
        self.assertEqual(m["setup_s"], (5.0, "s"))
        self.assertEqual(m["records_per_s_core"], (2.0, "records/s/core"))
        self.assertEqual(samples, {"a": 2, "b": 1})
        self.assertEqual(tails, {"a": None, "b": None})

    def test_scheduler_metrics_from_listener_spans(self):
        spans = [
            span(1, 0, "pass", 0, 1000),
            span(2, 1, "entry.q", 0, 1000),
            span(3, 2, "spark.job", 100, 400), span(4, 2, "spark.job", 500, 900),
            span(5, 3, "spark.stage", 100, 400), span(6, 4, "spark.stage", 500, 900),
            span(7, 5, "spark.task", 100, 300, shuffle_write_bytes=2**20, spill_bytes=0),
            span(8, 5, "spark.task", 200, 400, shuffle_write_bytes=0, spill_bytes=0),
            span(9, 6, "spark.task", 500, 900, shuffle_write_bytes=0, spill_bytes=2**21),
            span(10, 1, "prefix.payloads", 0, 200), span(11, 1, "prefix.extract", 200, 700),
        ]
        raw = {"calls": [call("q", 1.0, phase="timed"), call("q", 1.5, phase="traced")],
               "labels": ["q"], "spans": spans,
               "layers": [{"rows.in": 10.0, "rows.dedup": 8.0}],
               "stamp": {"cores": 2}}
        m, _ = stats.per_layer(raw)
        self.assertEqual(m["spark.jobs"][0], 2)
        self.assertEqual(m["spark.stages"][0], 2)
        self.assertEqual(m["spark.tasks"][0], 3)
        # tasks cover 100-400 and 500-900 of the 1000 ms call
        self.assertAlmostEqual(m["spark.driver_only_s"][0], 0.3)
        self.assertAlmostEqual(m["spark.task_busy_frac"][0], 0.8 / (1.0 * 2))
        self.assertAlmostEqual(m["spark.shuffle_write_mb"][0], 1.0)
        self.assertAlmostEqual(m["spark.spill_mb"][0], 2.0)
        self.assertAlmostEqual(m["wat.reader.s"][0], 0.2)
        self.assertAlmostEqual(m["wat.extract.s"][0], 0.3)
        self.assertAlmostEqual(m["ops.dedup.kept_frac"][0], 0.8)
        self.assertAlmostEqual(m["trace.overhead_s"][0], 0.5)


class Contract(unittest.TestCase):
    def test_metric_names_and_units_match_benchmark_json(self):
        import json
        from pathlib import Path
        bench = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        raw = {"calls": [call("q", 1.0), call("q", 1.0, phase="traced")], "labels": ["q"],
               "setup_s": [1.0], "retained_heap_mb": 1.0, "spans": [], "layers": [],
               "stamp": {"cores": 1, "records_per_pass": 1}}
        for section, metrics in (("end_to_end", stats.end_to_end(raw)[0]),
                                 ("per_layer", stats.per_layer(raw)[0])):
            want = {m["name"]: m["unit"] for m in bench[section]}
            self.assertEqual({k: u for k, (_, u) in metrics.items()}, want)


if __name__ == "__main__":
    unittest.main()
