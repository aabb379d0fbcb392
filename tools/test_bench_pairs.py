"""Self-test of tools/bench_pairs.py on synthetic result lines:
python3 -m unittest tools/test_bench_pairs.py"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench_pairs  # noqa: E402

METRICS = [("pass_s", "lower"), ("peak_rss_mb", "lower")]


def result(pass_s, rss, correct=True, failed=0):
    return {"correct": correct, "attempted": 4, "failed": failed,
            "metrics": {"pass_s": {"value": pass_s, "unit": "s"},
                        "peak_rss_mb": {"value": rss, "unit": "MB"}}}


def pair(seed, parent, change):
    return {"seed": seed, "first": "parent", "parent": parent,
            "change": change}


class BenchPairsTest(unittest.TestCase):

    def test_seeds_parse_ranges_and_lists(self):
        self.assertEqual(bench_pairs.parse_seeds("101-104"),
                         [101, 102, 103, 104])
        self.assertEqual(bench_pairs.parse_seeds("5,9,20-21"), [5, 9, 20, 21])

    def test_result_line_is_the_last_printed_line(self):
        out = "input documents: rows=400\nlayer x 1 s\n" + \
            json.dumps(result(6.0, 900)) + "\n"
        self.assertEqual(bench_pairs.result_line(out)["metrics"]["pass_s"],
                         {"value": 6.0, "unit": "s"})

    def test_summary_quartiles_wins_and_median_difference(self):
        pairs = [pair(i, result(p, 1000), result(c, r))
                 for i, (p, c, r) in enumerate([
                     (6.0, 4.0, 990), (6.4, 4.5, 1010), (5.8, 4.1, 1000),
                     (6.2, 6.5, 995), (6.6, 4.4, 1005)])]
        lines = bench_pairs.summarize(pairs, METRICS)
        self.assertEqual(lines[0], "pairs: 5 run, 5 usable")
        rows = {tuple(l.split()[:2]): l.split() for l in lines[2:]
                if not l.startswith(" ")}
        # medians per side; quartiles from statistics.quantiles(n=4)
        self.assertEqual(rows[("pass_s", "parent")][2:5],
                         ["6.2", "5.9", "6.5"])
        self.assertEqual(rows[("pass_s", "change")][2:5],
                         ["4.4", "4.05", "5.5"])
        won = [l for l in lines if l.startswith(" ")]
        # pass_s: the change is lower in 4 of 5 pairs, by 1.9 s median
        self.assertEqual(won[0].split(), ["4", "of", "5", "-1.9"])
        # peak_rss_mb: lower in 2 pairs, higher in 2, equal in 1
        self.assertEqual(won[1].split(), ["2", "of", "5", "+0"])

    def test_incorrect_or_failed_pairs_are_left_out(self):
        pairs = [pair(1, result(6.0, 1000), result(4.0, 1000)),
                 pair(2, result(6.0, 1000), result(1.0, 1000, correct=False)),
                 pair(3, result(6.0, 1000, failed=1), result(4.0, 1000))]
        lines = bench_pairs.summarize(pairs, METRICS)
        self.assertEqual(lines[0], "pairs: 3 run, 1 usable")
        self.assertIn("seed 2: left out", lines[1])
        self.assertIn("seed 3: left out", lines[2])
        won = [l for l in lines if l.startswith(" ") and "of" in l]
        self.assertEqual(won[0].split(), ["1", "of", "1", "-2"])

    def test_report_rereads_a_pairs_file(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "pairs.jsonl")
            with open(path, "w") as f:
                for i in range(3):
                    f.write(json.dumps(pair(i, result(6.0, 1000),
                                            result(5.0, 1000))) + "\n")
            with open(os.path.join(d, "BENCHMARK.json"), "w") as f:
                json.dump({"end_to_end": [{"name": "pass_s",
                                           "better": "lower"}]}, f)
            import contextlib
            import io
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                bench_pairs.main(["--report", path, "--change", d])
            out = buf.getvalue().splitlines()
            self.assertEqual(out[0], "pairs: 3 run, 3 usable")
            self.assertTrue(any(l.split()[:3] == ["pass_s", "change", "5"]
                                for l in out))


if __name__ == "__main__":
    unittest.main()
