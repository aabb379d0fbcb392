"""Self-test of tools/ab_report.py: python3 -m unittest tools/test_ab_report.py"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab_report  # noqa: E402


class ReportTest(unittest.TestCase):
    def test_min_over_legs_and_speedup(self):
        lines = ab_report.report({"base": [{"q1": 2.0}, {"q1": 1.0}],
                                  "new": [{"q1": 0.5}, {"q1": 0.8}]})
        self.assertEqual(len(lines), 2)
        self.assertEqual(lines[1].split()[:4], ["q1", "1.00", "0.50", "2.00"])

    def test_intersects_keys_across_all_legs(self):
        lines = ab_report.report({
            "base": [{"q1": 1.0, "q2": 1.0}, {"q1": 1.0, "q2": 1.0}],
            "new": [{"q1": 1.0, "q3": 1.0}, {"q1": 1.0, "q2": -1.0}]})
        rows = [ln.split()[0] for ln in lines[1:-1]]
        self.assertEqual(rows, ["q1"])
        self.assertIn("q2, q3", lines[-1])

    def test_side_without_runs_exits_with_message(self):
        for sides in ({"base": [{"q1": 1.0}], "new": []},
                      {"base": [], "new": []}):
            with self.assertRaises(SystemExit) as e:
                ab_report.report(sides)
            self.assertIn("no runs for side", str(e.exception.code))

    def test_no_common_query_exits_with_message(self):
        with self.assertRaises(SystemExit) as e:
            ab_report.report({"base": [{"q1": 1.0}], "new": [{"q2": 1.0}]})
        self.assertIn("no query was timed", str(e.exception.code))

    def test_load_reads_legs_from_out_dir(self):
        with tempfile.TemporaryDirectory() as d:
            for side, i, v in (("base", 1, 1.0), ("base", 2, 2.0),
                               ("new", 1, 0.5)):
                with open(os.path.join(d, f"p_{side}_{i}.json"), "w") as f:
                    json.dump({"queries": {"q1": v}}, f)
            sides = ab_report.load("p", d)
        self.assertEqual(sides, {"base": [{"q1": 1.0}, {"q1": 2.0}],
                                 "new": [{"q1": 0.5}]})


if __name__ == "__main__":
    unittest.main()
