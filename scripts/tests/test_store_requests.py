"""Tests for `scripts/store_requests.py`'s job budget check.

Run:  python3 -m unittest discover -s scripts/tests
"""
import contextlib
import io
import json
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import store_requests  # noqa: E402


def request(req, kind, start, end):
    return {"name": "request", "req": req, "tags": {"kind": kind},
            "start": start, "end": end}


def job(i, start, end, site="graft.sources.StoreKernel$.tombs(x.scala:1)"):
    return {"id": i, "start": start, "end": end, "exec": -1,
            "call_site": site}


def record():
    """A serve of 3 jobs, then a delete of 2 and an append of 1."""
    return {
        "spans": [request(1, "serve", 0, 100), request(2, "delete", 200, 300),
                  request(3, "append", 400, 500)],
        "jobs": [job(1, 10, 20), job(2, 30, 40), job(3, 50, 60),
                 job(4, 210, 220), job(5, 230, 240), job(6, 410, 420)],
        "plans": [],
    }


class BudgetTest(unittest.TestCase):

    def run_main(self, *args):
        with tempfile.NamedTemporaryFile("w", suffix=".json") as f:
            json.dump(record(), f)
            f.flush()
            out, err = io.StringIO(), io.StringIO()
            with contextlib.redirect_stdout(out), \
                    contextlib.redirect_stderr(err):
                code = store_requests.main([f.name, *args])
        return code, out.getvalue(), err.getvalue()

    def test_parse_budget(self):
        self.assertEqual(store_requests.parse_budget("serve=25,delete=18"),
                         {"serve": 25, "delete": 18})
        for bad in ("serve", "serve=x", "=3", "serve=-1"):
            with self.assertRaises(ValueError):
                store_requests.parse_budget(bad)

    def test_within_budget_exits_zero(self):
        code, out, err = self.run_main("--budget", "serve=3,delete=2")
        self.assertEqual(code, 0)
        self.assertIn("request 1 serve: 3 jobs", out)
        self.assertEqual(err, "")

    def test_a_request_over_its_kind_budget_exits_one(self):
        code, _, err = self.run_main("--budget", "serve=2,delete=2,append=0")
        self.assertEqual(code, 1)
        self.assertEqual(err.splitlines(), [
            "over budget: request 1 serve: 3 jobs > 2",
            "over budget: request 3 append: 1 jobs > 0"])

    def test_no_budget_checks_nothing(self):
        self.assertEqual(self.run_main()[0], 0)
        self.assertEqual(
            store_requests.over_budget(record(), {"compact": 0}), [])


class LoadTraceTest(unittest.TestCase):
    """A `load` trace: dotted kinds, jobs from the sinks' frames."""

    def record(self):
        probe = "graft.checks.Validations$.probe(Validations.scala:1)"
        merge = "graft.sources.ParquetSink$.upsert(ParquetSink.scala:1)"
        return {
            "spans": [request(1, "sql.upsert", 0, 100),
                      request(2, "parquet.upsert", 200, 300)],
            "jobs": [job(1, 10, 20, probe), job(2, 25, 30, probe),
                     job(3, 40, 60, "graft.sql.SqlSink$.jdbcAppend(x:1)"),
                     job(4, 210, 220, probe), job(5, 225, 230, probe),
                     job(6, 240, 250, merge), job(7, 255, 260, merge),
                     job(8, 265, 290, merge)],
            "plans": [],
        }

    def run_main(self, *args):
        with tempfile.NamedTemporaryFile("w", suffix=".json") as f:
            json.dump(self.record(), f)
            f.flush()
            out, err = io.StringIO(), io.StringIO()
            with contextlib.redirect_stdout(out), \
                    contextlib.redirect_stderr(err):
                code = store_requests.main([f.name, *args])
        return code, out.getvalue(), err.getvalue()

    def test_report_groups_load_jobs_by_sink_frame(self):
        code, out, _ = self.run_main()
        self.assertEqual(code, 0)
        self.assertIn("request 1 sql.upsert: 3 jobs", out)
        self.assertIn("request 2 parquet.upsert: 5 jobs", out)
        self.assertIn("2   0.015   0.015  graft.checks.Validations$.probe", out)

    def test_dotted_kind_budget(self):
        self.assertEqual(
            store_requests.parse_budget("sql.upsert=3,parquet.upsert=6"),
            {"sql.upsert": 3, "parquet.upsert": 6})
        code, _, err = self.run_main("--budget", "sql.upsert=3,parquet.upsert=4")
        self.assertEqual(code, 1)
        self.assertEqual(err.splitlines(), [
            "over budget: request 2 parquet.upsert: 5 jobs > 4"])
        self.assertEqual(
            self.run_main("--budget", "sql.upsert=3,parquet.upsert=5")[0], 0)


if __name__ == "__main__":
    unittest.main()
