"""Tests for the benchmark's own logic: percentile support, metric names,
span self time and job-to-module attribution.

Run:  python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import report  # noqa: E402


def span(i, parent, start, end, name="request", **tags):
    return {"id": i, "parent": parent, "req": 1, "name": name, "tags": tags,
            "start": start, "end": end}


def job(i, start, end, group="", call_site=""):
    return {"id": i, "group": group, "exec": -1, "call_site": call_site,
            "start": start, "end": end, "tasks": 1, "run_ms": 1, "gc_ms": 0,
            "shuffle_write": 0, "spill": 0, "out_bytes": 0}


class PercentileSupport(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(report.percentile_support(0))
        self.assertIsNone(report.percentile_support(10))

    def test_ten_samples_lie_beyond_the_reported_one(self):
        for n in (11, 20, 100, 1000):
            idx, level = report.percentile_support(n)
            self.assertEqual(n - 1 - idx, 10)
            self.assertAlmostEqual(level, (n - 10) / n)

    def test_p90_needs_a_hundred_samples(self):
        self.assertAlmostEqual(report.percentile_support(100)[1], 0.90)
        self.assertLess(report.percentile_support(99)[1], 0.90)


class MetricNames(unittest.TestCase):
    def test_charset(self):
        for ok in ("setup_s", "operators.IndexStore.ensure_s", "a-b.c_d", "9x"):
            self.assertTrue(report.valid_name(ok), ok)
        for bad in ("", ".lead", "_lead", "has space", "slash/name", "x" * 65,
                    "ünicode"):
            self.assertFalse(report.valid_name(bad), bad)

    def test_every_reported_and_declared_name_is_valid(self):
        names = list(report.END_TO_END) + list(report.PER_LAYER)
        bench = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
        declared = ([m["name"] for m in bench["end_to_end"]] +
                    [m["name"] for m in bench["per_layer"]] +
                    [w["name"] for w in bench["workloads"]])
        for n in names + declared:
            self.assertTrue(report.valid_name(n), n)
        self.assertEqual(len(set(declared)), len(declared))
        self.assertEqual({m["name"] for m in bench["end_to_end"]},
                         set(report.END_TO_END))
        self.assertEqual({m["name"] for m in bench["per_layer"]},
                         set(report.PER_LAYER))


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(report.self_times([span(1, 0, 0, 10)]), {1: 10})

    def test_nested_self_times_partition_the_root(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 50, 60),
                 span(4, 2, 15, 20)]
        st = report.self_times(spans)
        self.assertEqual(st, {1: 60, 2: 25, 3: 10, 4: 5})
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children_are_subtracted_once(self):
        st = report.self_times([span(1, 0, 0, 100), span(2, 1, 10, 40),
                                span(3, 1, 30, 60)])
        self.assertEqual(st[1], 100 - 50)

    def test_child_running_past_its_parent_is_clipped(self):
        st = report.self_times([span(1, 0, 0, 10), span(2, 1, 5, 20)])
        self.assertEqual(st[1], 5)


class Attribution(unittest.TestCase):
    def test_module_of_class(self):
        self.assertEqual(report.module_of_class("graft.checks.Validations$"), "checks")
        self.assertEqual(report.module_of_class("graft.sources.ParquetSink$"), "sources")
        self.assertEqual(report.module_of_class("graft.Materialize$"), "Materialize")
        self.assertIsNone(report.module_of_class("graftbench.LoadWorkload"))
        self.assertIsNone(report.module_of_class("org.apache.spark.rdd.RDD"))

    def test_deepest_program_frame_names_the_module(self):
        site = ("org.apache.spark.sql.Dataset.isEmpty(Dataset.scala:700)\n"
                "graft.checks.Validations$.isEmpty(Validations.scala:71)\n"
                "graft.sql.SqlSink$.write(SqlSink.scala:226)\n"
                "graft.api.Graft$.dfToTable(Graft.scala:120)\n"
                "graftbench.LoadWorkload.call(LoadWorkload.scala:90)")
        self.assertEqual(report.call_site_module(site), "checks")
        site2 = ("org.apache.spark.sql.DataFrameWriter.jdbc(DataFrameWriter.scala:1)\n"
                 "graft.sql.SqlSink$.jdbcAppend(SqlSink.scala:90)\n"
                 "graft.api.Graft$.dfToTable(Graft.scala:120)")
        self.assertEqual(report.call_site_module(site2), "sql")

    def test_harness_call_site_falls_back_to_the_span_layer(self):
        spans = [span(1, 0, 0, 100),
                 span(2, 1, 10, 90, name="operators.IndexStore.query_exec")]
        site = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n"
                "graftbench.StoreWorkload.pairs(StoreWorkload.scala:1)")
        attr = report.attribute_jobs([job(7, 20, 30, "gb-2", site)], spans)
        self.assertEqual(attr[7][0]["id"], 2)
        self.assertEqual(attr[7][1], "operators")

    def test_job_without_group_falls_back_to_the_innermost_window(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50, name="api.Graft.dfToTable")]
        site = "x\ngraft.sources.ParquetSink$.write(ParquetSink.scala:1)"
        attr = report.attribute_jobs([job(1, 20, 30, "", site),
                                      job(2, 60, 70, "", "")], spans)
        self.assertEqual(attr[1], (spans[1], "sources"))
        self.assertEqual(attr[2], (spans[0], "bench"))

    def test_helper_thread_job_takes_its_execution_call_site(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 90, name="api.Graft.dfToTable")]
        pool = "x\njava.util.concurrent.CompletableFuture$AsyncSupply.run(X.java:1)"
        plans = [{"exec": 5, "call_site":
                  "y\ngraft.types.SqlTypeMapper$.refine(SqlTypeMapper.scala:1)"}]
        j = job(3, 20, 30, "gb-2", pool)
        j["exec"] = 5
        self.assertEqual(report.attribute_jobs([j], spans, plans)[3][1], "types")
        # without the execution record it falls back to the span's layer
        self.assertEqual(report.attribute_jobs([j], spans)[3][1], "api")


def op(kind, start, end, traced=False, ok=True, rows=0):
    return {"kind": kind, "start": start, "end": end, "ok": ok,
            "traced": traced, "rows": rows}


def record(workload, ops, checks=(), units=1, facts=None):
    return {"workload": workload, "ops": ops, "checks": list(checks),
            "units": units, "startup_s": 20.0, "loop_cpu_s": 8.0,
            "heap_peak_mb": 100.0, "facts": facts or {}, "spans": []}


class EndToEnd(unittest.TestCase):
    def test_headline_is_the_median_of_one_kind(self):
        ops = [op("sql.create", 0, 5000), op("sql.upsert", 5000, 6000),
               op("sql.upsert", 6000, 9000), op("sql.upsert", 9000, 11000),
               op("parquet.upsert", 11000, 30000),
               op("sql.upsert", 30000, 30100, traced=True)]
        e = report.end_to_end(record("load", ops, units=2))
        self.assertEqual(e["headline_s"], 2.0)
        # a unit is the untraced requests' wall time over the units run
        self.assertEqual(e["unit_s"], 15.0)
        self.assertEqual(e["cpu_per_unit_s"], 4.0)

    def test_kind_figures(self):
        ops = [op("sql.create", 0, 2000, rows=300), op("sql.append", 2000, 3000, rows=100),
               op("parquet.upsert", 3000, 3500), op("sql.upsert", 3500, 4000, ok=False)]
        f = report.kind_figures(record("load", ops,
                                       checks=[{"ok": True}, {"ok": False}]))
        self.assertEqual(f["load.sql_rows_per_s"], 400 / 3)
        self.assertEqual(f["load.parquet_upsert_p50_s"], 0.5)
        self.assertEqual(f["load.parquet_rows_per_s"], 0.0)
        self.assertEqual(f["store.serve_p50_s"], 0.0)
        self.assertEqual(f["ops_failed_ratio"], 2 / 6)
        self.assertEqual(set(f) - set(report.PER_LAYER), set())


class UnionLength(unittest.TestCase):
    def test_overlaps_and_gaps(self):
        self.assertEqual(report.union_length([]), 0)
        self.assertEqual(report.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(report.union_length([(5, 3)]), 0)


if __name__ == "__main__":
    unittest.main()
