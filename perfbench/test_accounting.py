"""Self-tests for the traced run's accounting checks, on a synthetic
trace: one pass of two calls.

Run from the repository root: python3 -m unittest perfbench/test_accounting.py
"""
import copy
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def span(sid, layer, start, end, name="q"):
    return {"id": sid, "parent": "", "name": name, "layer": layer,
            "start_ms": start, "end_ms": end}


def job(jid, call, start, end):
    return {"id": jid, "call": call, "start_ms": start, "end_ms": end}


BATCH = {
    "passes": [{"pass": 1, "wall_s": 1.0}],
    "trace": {
        "spans": [span("pass1", "bench.pass", 0, 1000),
                  span("pass1.c0.q", "bench.call", 0, 600),
                  span("pass1.c1.q", "bench.call", 600, 1000)],
        "jobs": [job(1, "pass1.c0.q", 10, 500),
                 job(2, "pass1.c1.q", 650, 990),
                 # stale property from an earlier call: linked by time
                 job(3, "warm.c0.q", 700, 800)],
        "progress": [],
    },
}
TIMED = [{"id": "pass1.c0.q", "pass": 1}, {"id": "pass1.c1.q", "pass": 1}]


class Accounting(unittest.TestCase):
    def test_consistent_trace_passes(self):
        self.assertEqual(run.accounting(BATCH, TIMED), [])
        link, relinked = run.link_jobs(BATCH)
        self.assertEqual(link[3], "pass1.c1.q")
        self.assertEqual([j["id"] for j in relinked], [3])

    def test_job_running_past_its_call_fails(self):
        res = copy.deepcopy(BATCH)
        res["trace"]["jobs"][0]["end_ms"] = 800
        self.assertTrue(any("outside pass1.c0.q" in x
                            for x in run.accounting(res, TIMED)))

    def test_unfinished_job_fails(self):
        res = copy.deepcopy(BATCH)
        res["trace"]["jobs"].append(job(4, "pass1.c1.q", 900, 0))
        self.assertTrue(any("never ended" in x
                            for x in run.accounting(res, TIMED)))

    def test_jobs_longer_than_the_pass_fail(self):
        res = copy.deepcopy(BATCH)
        res["passes"][0]["wall_s"] = 0.5
        self.assertTrue(any("is negative" in x
                            for x in run.accounting(res, TIMED)))

    def test_stream_progress_must_count_every_event(self):
        res = copy.deepcopy(BATCH)
        res["events"] = 100
        res["snapshots"] = {"cusum": {}}
        res["trace"]["progress"] = [
            {"name": "cusum_p1", "input_rows": 60,
             "duration_ms": {"triggerExecution": 300}},
            {"name": "cusum_p1", "input_rows": 40,
             "duration_ms": {"triggerExecution": 300}}]
        self.assertEqual(run.accounting(res, TIMED), [])
        res["trace"]["progress"][1]["input_rows"] = 30
        self.assertTrue(any("counts 90 input rows" in x
                            for x in run.accounting(res, TIMED)))
        res["trace"]["progress"][1]["input_rows"] = 40
        res["trace"]["progress"][1]["duration_ms"]["triggerExecution"] = 800
        self.assertTrue(any("exceed the pass wall" in x
                            for x in run.accounting(res, TIMED)))


if __name__ == "__main__":
    unittest.main()
