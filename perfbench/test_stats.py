"""Tests of the benchmark's own statistics and output shape.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import run
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def span(i, parent, layer, start, end, request=0, counters=None, name=None):
    return {"id": i, "parent": parent, "layer": layer, "name": name or layer,
            "request": request, "start_ns": start * 1_000_000,
            "end_ns": end if end < 0 else end * 1_000_000,
            "counters": counters or {}}


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n in range(11, 300):
            xs = list(range(n))
            value, pct, count = stats.tail(xs)
            self.assertEqual(count, n)
            self.assertEqual(sum(1 for x in xs if x > value), 10, n)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_highest_such_percentile(self):
        # the next sample up has only nine beyond it
        xs = [float(x) for x in range(100)]
        self.assertEqual(stats.tail(xs)[0], 89.0)
        self.assertEqual(stats.tail(list(reversed(xs)))[0], 89.0)

    def test_too_few_samples_gives_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([5.0] * 10), (5.0, 100.0, 10))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


class FailuresTest(unittest.TestCase):
    def reqs(self, *errors):
        return [{"ms": 1.0, "rows": 1, "error": e} for e in errors]

    def test_counts_failed_requests(self):
        self.assertEqual(stats.failures(self.reqs(None, "bad", None, "worse")), (4, 2, 0.5))
        self.assertEqual(stats.failures(self.reqs(None, None)), (2, 0, 0.0))

    def test_run_check_fails_the_last_request_once(self):
        self.assertEqual(stats.failures(self.reqs(None, None), "state"), (2, 1, 0.5))
        self.assertEqual(stats.failures(self.reqs(None, "bad"), "state"), (2, 1, 0.5))

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(stats.failures([]), (0, 0, 1.0))

    def test_rows_per_s(self):
        r = [{"ms": 500.0, "rows": 100}, {"ms": 1500.0, "rows": 300}]
        self.assertAlmostEqual(stats.rows_per_s(r), 200.0)
        self.assertEqual(stats.rows_per_s([]), 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_subtract_from_parents(self):
        spans = [
            span(0, -1, "request", 0, 100),
            span(1, 0, "Engine", 10, 60),
            span(2, 1, "spark", 20, 30),
            # two overlapping jobs under the root: their union counts once
            span(3, 0, "spark", 70, 90),
            span(4, 0, "spark", 80, 95),
        ]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["request"], 10 + 10 + 5)
        self.assertAlmostEqual(got["Engine"], 50 - 10)
        self.assertAlmostEqual(got["spark"], 10 + 25)
        self.assertAlmostEqual(sum(got.values()), 100)

    def test_children_are_clipped_to_parents(self):
        spans = [
            span(0, -1, "request", 0, 50),
            span(1, 0, "spark", 40, 70),   # overhangs its parent
            span(2, 0, "spark", 45, -1),   # never saw its end event
        ]
        clipped = {s["id"]: s for s in stats.clip_to_parents(spans)}
        self.assertEqual(clipped[1]["end_ns"], 50 * 1_000_000)
        self.assertEqual(clipped[2]["end_ns"], 50 * 1_000_000)
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["request"], 40)
        self.assertAlmostEqual(got["spark"], 10)

    def test_counters_sum_and_max(self):
        spans = [span(0, -1, "request", 0, 1, counters={"exec.jobs": 2, "exec.max_task_over_median": 3}),
                 span(1, 0, "Engine", 0, 1, counters={"exec.jobs": 1, "exec.max_task_over_median": 5})]
        self.assertEqual(stats.counters(spans), {"exec.jobs": 3, "exec.max_task_over_median": 5})
        self.assertEqual(stats.counters(spans, layer="Engine"), {"exec.jobs": 1, "exec.max_task_over_median": 5})


class OutputShapeTest(unittest.TestCase):
    def record(self):
        spans = [span(0, -1, "request", 0, 10, request=0),
                 span(1, 0, "Engine", 1, 5, request=0, name="Engine.getHistoricalFeatures",
                      counters={"exec.jobs": 2, "pit.pick_input_rows": 30, "pit.entity_rows": 10}),
                 span(2, -1, "Similarity", 0, 4, request=-1, name="Similarity.trainIvfKMeans",
                      counters={"exec.jobs": 7})]
        return {"requests": [{"i": 0, "ms": 12.0, "rows": 10, "error": None}],
                "traced_requests": [{"i": 0, "ms": 10.0, "rows": 10, "error": None}],
                "setup_s": [9.0, 2.0, 3.0], "spans": spans}

    def test_end_to_end_metrics(self):
        m = run.end_to_end_metrics(self.record(), gen_s=0.5)
        self.assertEqual(set(m), set(run.END_TO_END))
        self.assertEqual(m["setup_s"], {"value": 3.5, "unit": "s"})
        self.assertEqual(m["rows_per_s"]["unit"], "rows/s")

    def test_layer_metrics(self):
        m = run.layer_metrics(self.record(), {"read_us": [1.0, 3.0], "recall_at_10": 0.9})
        self.assertEqual(set(m), set(run.PER_LAYER))
        self.assertEqual(m["Engine.plan_jobs"]["value"], 2)
        self.assertEqual(m["Engine.plan_ms"]["value"], 4)
        self.assertEqual(m["pit.candidate_rows_per_entity_row"]["value"], 3)
        self.assertEqual(m["Similarity.train_ms"]["value"], 4)
        self.assertEqual(m["Similarity.train_jobs"]["value"], 7)
        self.assertEqual(m["OnlineStore.read_p50_us"]["value"], 2)
        self.assertEqual(m["trace.overhead_ms"]["value"], -2)
        for v in m.values():
            self.assertEqual(set(v), {"value", "unit"})

    def test_result_line(self):
        line = stats.result_line(True, 3, 0, {"x": stats.metric(1.5, "ms")})
        self.assertEqual(json.loads(json.dumps(line)), {
            "correct": True, "attempted": 3, "failed": 0,
            "metrics": {"x": {"value": 1.5, "unit": "ms"}}})
        self.assertEqual(stats.metric(float("nan"), "ms"), {"value": 0.0, "unit": "ms"})

    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
