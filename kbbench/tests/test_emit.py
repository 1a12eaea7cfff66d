"""Tests of the metric emitter on canned raw results.

    python3 -m unittest discover -s kbbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import emit  # noqa: E402

SPEC = {
    "end_to_end": [
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "docs_per_s", "unit": "1/s", "better": "higher", "bound": 0.15},
    ],
    "per_layer": [
        {"name": "ner.wall_s", "unit": "s", "better": "lower"},
        {"name": "icelite.write_amp", "unit": "ratio", "better": "lower"},
    ],
}


class EmitTest(unittest.TestCase):

    def test_untraced_names_units_and_counts(self):
        raw = {"attempted": 7, "failed": 0,
               "metrics": {"setup_s": 0.8, "docs_per_s": 310.5, "ner.wall_s": 1.0}}
        out, zero = emit.result(SPEC, raw, trace=False)
        self.assertEqual(list(out), ["correct", "attempted", "failed", "metrics"])
        self.assertEqual(out["metrics"], {
            "setup_s": {"value": 0.8, "unit": "s"},
            "docs_per_s": {"value": 310.5, "unit": "1/s"}})
        self.assertEqual((out["correct"], out["attempted"], out["failed"]), (True, 7, 0))
        self.assertEqual(zero, [])

    def test_failed_checks_carry_through(self):
        raw = {"attempted": 7, "failed": 2, "metrics": {"setup_s": 0.8, "docs_per_s": 3.0}}
        out, _ = emit.result(SPEC, raw, trace=False)
        self.assertEqual((out["correct"], out["attempted"], out["failed"]), (False, 7, 2))

    def test_missing_zero_or_nonfinite_end_to_end_metric_fails(self):
        for bad in ({}, {"docs_per_s": 0.0}, {"docs_per_s": float("nan")},
                    {"docs_per_s": -1.0}, {"docs_per_s": True}):
            raw = {"attempted": 3, "failed": 0, "metrics": {"setup_s": 0.5, **bad}}
            out, _ = emit.result(SPEC, raw, trace=False)
            self.assertEqual((out["correct"], out["attempted"], out["failed"]),
                             (False, 4, 1), bad)
            self.assertNotIn("docs_per_s", out["metrics"])

    def test_traced_zero_fills_unexercised_layers(self):
        raw = {"attempted": 2, "failed": 0, "metrics": {"ner.wall_s": 1.25, "setup_s": 0.5}}
        out, zero = emit.result(SPEC, raw, trace=True)
        self.assertEqual(out["metrics"], {
            "ner.wall_s": {"value": 1.25, "unit": "s"},
            "icelite.write_amp": {"value": 0.0, "unit": "ratio"}})
        self.assertEqual(zero, ["icelite.write_amp"])
        self.assertTrue(out["correct"])

    def test_attempted_is_at_least_one(self):
        out, _ = emit.result(SPEC, {"metrics": {"setup_s": 1.0, "docs_per_s": 2.0}}, False)
        self.assertEqual(out["attempted"], 1)

    def test_line_is_one_json_object(self):
        out, _ = emit.result(SPEC, {"attempted": 1, "failed": 0,
                                    "metrics": {"setup_s": 1.0, "docs_per_s": 2.0}}, False)
        text = emit.line(out)
        self.assertNotIn("\n", text)
        self.assertEqual(json.loads(text), out)

    def test_declared_spec_is_well_formed(self):
        spec = emit.load_spec(Path(__file__).resolve().parents[2] / "BENCHMARK.json")
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])
        self.assertLessEqual(len(spec["per_layer"]), 128)
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)


if __name__ == "__main__":
    unittest.main()
