"""Unit tests of the benchmark's metric arithmetic and result shape."""

import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 51))  # 50 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 50)
        self.assertEqual(value, 40)  # 41..50 lie beyond it
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 80.0)

    def test_order_does_not_matter(self):
        xs = list(range(1, 31))
        self.assertEqual(stats.tail(xs[::-1]), stats.tail(xs))

    def test_twenty_samples_is_the_minimum(self):
        value, pct, _ = stats.tail(list(range(20)))
        self.assertEqual(value, 9)  # the median: ten samples above it
        self.assertAlmostEqual(pct, 50.0)

    def test_fewer_than_twenty_gives_the_maximum(self):
        self.assertEqual(stats.tail(list(range(19))), (18.0, 100.0, 19))
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


def span(i, parent, start, end, name="x"):
    return {"id": i, "trace": 1, "parent": parent, "name": name,
            "start_ms": start, "end_ms": end, "attrs": {}}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 2, 15, 20)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50)  # children cover 10..60
        self.assertEqual(st[2], 30 - 5)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)

    def test_child_outside_parent_is_clipped(self):
        st = stats.self_times([span(1, 0, 0, 10), span(2, 1, 5, 20)])
        self.assertEqual(st[1], 5)

    def test_union(self):
        self.assertEqual(stats.union_ms([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_ms([]), 0)

    def test_span_tree_nests(self):
        tree = stats.span_tree([span(1, 0, 0, 10, "op/q"), span(2, 1, 1, 4, "retrieval/query")])
        self.assertEqual(len(tree), 1)
        self.assertEqual(tree[0]["children"][0]["name"], "retrieval/query")
        self.assertEqual(tree[0]["self_ms"], 7)


class Attribution(unittest.TestCase):
    def test_driver_only_and_plan_time(self):
        raw = {"spans": [span(1, 0, 0, 100, "op/query"), span(2, 1, 0, 100, "retrieval/query")],
               "jobs": [{"id": 0, "span": 2, "start_ms": 10, "end_ms": 50}],
               "stages": [{"span": 2, "submit_ms": 20, "done_ms": 40}]}
        tr = stats.Trace(raw)
        self.assertEqual(tr.plan_ms(tr.spans[1]), 60)
        self.assertEqual(tr.driver_only_ms(tr.spans[1]), 80)


class ResultShape(unittest.TestCase):
    def test_keys_and_types(self):
        r = run.result(True, 12, 1, {"op_p50_ms": 3.25, "stages": 7}, {"op_p50_ms": "ms"})
        self.assertEqual(list(r), ["correct", "attempted", "failed", "metrics"])
        self.assertIs(r["correct"], True)
        self.assertIsInstance(r["attempted"], int)
        self.assertEqual(r["metrics"]["op_p50_ms"], {"value": 3.25, "unit": "ms"})
        self.assertEqual(r["metrics"]["stages"]["unit"], "count")
        json.loads(json.dumps(r))

    def test_end_to_end_metrics_match_benchmark_json(self):
        declared = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        raw = {"workload": "extract", "setup_s": [1.0, 2.0, 3.0], "bulk": [
            {"kind": "turns", "items": 100, "seconds": 2.0}],
            "ops": [{"kind": "extract", "ms": 5.0, "ok": True, "traced": False},
                    {"kind": "extract_resume", "ms": 1.0, "ok": True, "traced": False},
                    {"kind": "extract", "ok": False, "traced": False, "reason": "boom"}],
            "samples": {}, "info": {}}
        metrics, _ = stats.end_to_end(raw, 123.0)
        self.assertEqual(sorted(metrics), sorted(m["name"] for m in declared["end_to_end"]))
        self.assertEqual(metrics["op_p50_ms"][0], 5.0)  # the failed op is left out
        self.assertEqual(metrics["rate_per_s"][0], 50.0)
        self.assertEqual(metrics["setup_s"][0], 2.0)
        units = {m["name"]: m["unit"] for m in declared["end_to_end"]}
        self.assertEqual({k: u for k, (_, u, _) in metrics.items()}, units)

    def test_battery_slots_are_distinct_quantities(self):
        raw = {"workload": "battery", "setup_s": [4.0], "bulk": [],
               "ops": [{"kind": "battery", "ms": ms, "ok": True, "traced": False}
                       for ms in (100.0, 300.0, 600.0)],
               "samples": {"battery.pass_ms": [1000.0], "battery.text_ms": [400.0],
                           "battery.table_ms": [600.0]},
               "info": {"text_docs": 2000.0}}
        metrics, _ = stats.end_to_end(raw, 123.0)
        self.assertEqual(metrics["rate_per_s"][0], 5000.0)  # documents/s of text queries
        self.assertEqual(metrics["op_p50_ms"][0], 600.0)  # the other queries of a pass
        self.assertEqual(metrics["op_tail_ms"][0], 600.0)  # slowest single query
        self.assertEqual(metrics["op2_p50_ms"][0], 1000.0)  # battery_s

    def test_per_layer_metrics_match_benchmark_json(self):
        declared = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        raw = {"workload": "battery", "layer": {}, "samples": {}, "spans": [], "jobs": [],
               "stages": [], "ops": [], "info": {"families": {}}}
        values, _ = stats.per_layer(raw)
        self.assertEqual(sorted(values), sorted(m["name"] for m in declared["per_layer"]))


if __name__ == "__main__":
    unittest.main()
