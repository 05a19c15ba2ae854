#!/usr/bin/env python3
"""The benchmark's own test, at the tiny smoke sizes. Run from the
repository root:

    python3 perfbench/test_bench.py

For every workload it checks that an untraced run prints every end-to-end
metric of BENCHMARK.json with its unit, that a traced run prints every
per-layer metric and writes a span file whose spans plus `other` account
for the traced wall (with `other` under MAX_OTHER_SHARE of it), and that a
run with corrupted outputs fails its check.
"""
import json
import os
import subprocess
import unittest

ROOT = os.getcwd()
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
# the share of a traced pass that its direct child spans may leave uncovered
MAX_OTHER_SHARE = 0.1


def run(workload, trace=0, corrupt=0):
    p = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--smoke", "1", "--corrupt", str(corrupt)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
    return lines[-1], lines[:-1]


def union_us(intervals):
    """Length of the union of (start, end) intervals."""
    covered, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return covered + (cur_e - cur_s if cur_e is not None else 0)


class SmokeTest(unittest.TestCase):

    def check_metrics(self, result, specs):
        for m in specs:
            self.assertIn(m["name"], result["metrics"])
            self.assertEqual(result["metrics"][m["name"]]["unit"], m["unit"])
        self.assertEqual(set(result["metrics"]), {m["name"] for m in specs})

    def test_workloads(self):
        for w in SPEC["workloads"]:
            name = w["name"]
            with self.subTest(workload=name, trace=0):
                result, lines = run(name)
                self.assertTrue(result["correct"], result)
                self.assertEqual(result["failed"], 0)
                self.check_metrics(result, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(result["metrics"][m["name"]]["value"], 0)
                self.assertTrue(any(l.get("result_file") for l in lines))
            with self.subTest(workload=name, trace=1):
                result, lines = run(name, trace=1)
                self.assertTrue(result["correct"], result)
                self.check_metrics(result, SPEC["per_layer"])
                span_file = next(l["span_file"] for l in lines if "span_file" in l)
                with open(span_file) as fh:
                    spans = json.load(fh)
                root = [s for s in spans["spans"] if s["name"] == "pass"]
                self.assertEqual(len(root), 1)
                root = root[0]
                self.assertAlmostEqual(root["end_us"] - root["start_us"], spans["wall_s"] * 1e6,
                                       delta=1)
                kids = [(max(s["start_us"], root["start_us"]), min(s["end_us"], root["end_us"]))
                        for s in spans["spans"] if s["parent"] == root["id"]]
                self.assertTrue(kids)
                covered_s = union_us([k for k in kids if k[1] > k[0]]) / 1e6
                self.assertAlmostEqual(covered_s, spans["wall_s"] - spans["other_s"], places=5)
                self.assertGreaterEqual(spans["other_s"], 0)
                self.assertLess(spans["other_s"], MAX_OTHER_SHARE * spans["wall_s"])
            with self.subTest(workload=name, corrupt=1):
                result, _ = run(name, corrupt=1)
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)


if __name__ == "__main__":
    unittest.main()
