"""Unit tests of the benchmark's own arithmetic and failure counting.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        xs = list(range(100, 0, -1))  # 1..100, unsorted
        v, p = metrics.tail(xs)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(p, 100.0 * 89 / 99)

    def test_no_higher_percentile_qualifies(self):
        xs = [float(i) for i in range(48)]
        v, p = metrics.tail(xs)
        beyond = sum(1 for x in xs if x > v)
        self.assertEqual(beyond, 10)
        # the next sample up would leave only nine beyond it
        self.assertEqual(sum(1 for x in xs if x > v + 1), 9)
        self.assertAlmostEqual(p, 100.0 * 37 / 47)

    def test_eleven_samples_is_the_minimum(self):
        self.assertEqual(metrics.tail(range(11)), (0, 0.0))
        self.assertEqual(metrics.tail([3, 1, 2]), (3, None))
        self.assertEqual(metrics.pct_label(None), "max")


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "name": name, "start_us": start,
            "end_us": end, "attrs": {}}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50),
                 span(4, 1, 90, 120), span(5, 2, 12, 14)]
        st = metrics.self_times(spans)
        # children cover [10, 50] and [90, 100] of the parent
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 20 - 2)
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 30)
        self.assertEqual(st[5], 2)

    def test_layers_skip_the_warmup(self):
        spans = [span(1, 0, 0, 1000, "run"),
                 span(2, 1, 0, 400, "warmup"),
                 span(3, 2, 0, 300, "streaming.batch"),
                 span(4, 3, 0, 100, "spark.job"),
                 span(5, 1, 500, 900, "streaming.batch"),
                 span(6, 5, 500, 800, "jdbc_upsert.write"),
                 span(7, 6, 600, 700, "spark.job")]
        got = metrics.layer_self_ms(spans)
        self.assertAlmostEqual(got["streaming"], 0.1)
        self.assertAlmostEqual(got["jdbc_upsert"], 0.2)
        self.assertAlmostEqual(got["spark"], 0.1)
        self.assertEqual(got["operators"], 0.0)


def ingest_record(checks_ok=True, trace=False):
    progress = [{"run": 0, "batch_id": i, "rows_in": 10, "trigger_ms": 100 + i,
                 "addbatch_ms": 50, "plan_ms": 5, "offsets_ms": 5,
                 "commit_ms": 20} for i in range(12)]
    drain = {"tag": "drain0", "wall_s": 2.0, "cpu_s": 6.0, "setup_s": 0.5,
             "setup_cpu_s": 0.75,
             "stage_s": 0.2,
             "parse_s": 0.1, "error": None, "progress": progress,
             "calls": [{"batch_id": i, "ms": 30.0, "rows": 10, "inserted": 8,
                        "table_rows_before": 8 * i, "file_bytes": 500,
                        "span": 100 + i} for i in range(12)],
             "restart_ms": 100.0, "stored_bytes": 0,
             "landed_rows": 96,
             "checks": [{"check": "lost", "ok": True, "detail": ""},
                        {"check": "payload_checksum", "ok": checks_ok,
                         "detail": "got=1 want=2"}]}
    return {"workload": "ingest_jdbc", "trace": trace, "seed": 1,
            "params": {"distinct_rows": 96, "delivered_rows": 120},
            "warmup_s": 3.0, "warmup_cpu_s": 6.0,
            "drains": [drain, dict(drain, tag="drain1")],
            "rss_peak_mb": 500.0, "spark_groups": {}, "span_counters": {}}


def query_record(oracle_failed=None):
    passes = [[{"query": q, "wall_ms": w, "cpu_ms": 2 * w, "build_ms": 1.0,
                "exec_ms": w - 1, "error": None}
               for q, w in (("a", 100.0), ("b", 400.0))]]
    return {"workload": "query_mix", "trace": False, "seed": 1,
            "fixture_s": 2.0, "resolve_s": 0.5, "resolve_cpu_s": 1.0,
            "warmup_s": 5.0, "warmup_cpu_s": 9.0,
            "warmup_errors": {}, "passes": passes, "rss_peak_mb": 900.0,
            "spark_groups": {}, "oracle": {"failed": oracle_failed or {}}}


class FailureCounting(unittest.TestCase):
    def test_clean_ingest_run(self):
        r = metrics.evaluate(ingest_record(), [])
        self.assertTrue(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (24, 0))
        self.assertEqual(r["e2e"]["setup_s"], 6.75)
        self.assertEqual(r["e2e"]["setup_wall_s"], 3.5)
        self.assertEqual(r["e2e"]["work_cpu_s"], 6.0)
        self.assertEqual(r["e2e"]["op_cpu_ms"], 500.0)
        self.assertEqual(set(r["metrics"]), {n for n, _ in metrics.E2E})

    def test_corrupted_landed_table_fails_its_batches(self):
        r = metrics.evaluate(ingest_record(checks_ok=False), [])
        self.assertFalse(r["correct"])
        self.assertEqual(r["failed"], 24)
        self.assertEqual(r["named"]["ops_failed_ratio"][0], 1.0)

    def test_missing_checks_count_as_failed(self):
        rec = ingest_record()
        rec["drains"][1]["checks"] = []
        r = metrics.evaluate(rec, [])
        self.assertEqual(r["failed"], 12)

    def test_wrong_query_result_fails(self):
        r = metrics.evaluate(query_record({"b": "rows differ"}), [])
        self.assertFalse(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (2, 1))
        self.assertAlmostEqual(r["e2e"]["work_s"], 0.5)
        self.assertAlmostEqual(r["e2e"]["op_ms_geomean"], 200.0)
        self.assertAlmostEqual(r["e2e"]["work_cpu_s"], 1.0)
        # fixture generation is the harness's work, not set-up
        self.assertAlmostEqual(r["e2e"]["setup_s"], 10.0)
        self.assertAlmostEqual(r["e2e"]["setup_wall_s"], 5.5)
        self.assertEqual(r["named"]["fixture_s"], (2.0, "s"))

    def test_traced_run_reports_every_per_layer_metric(self):
        r = metrics.evaluate(dict(ingest_record(), trace=True), [])
        self.assertEqual(set(r["metrics"]),
                         {n for n, _, _ in metrics.PER_LAYER})
        self.assertEqual(r["metrics"]["streaming.batches"]["value"], 12)
        self.assertEqual(r["metrics"]["lake_upsert.sink_ms"]["value"], 0.0)
        self.assertEqual(r["metrics"]["jdbc_upsert.rows_inserted"]["value"],
                         96)
        self.assertAlmostEqual(
            r["metrics"]["jdbc_upsert.update_miss_ratio"]["value"], 0.8)


class ExitCode(unittest.TestCase):
    def test_a_failed_check_fails_the_command(self):
        import run
        good = metrics.evaluate(ingest_record(), [])
        bad = metrics.evaluate(query_record({"b": "rows differ"}), [])
        line, code = run.summary([good])
        self.assertEqual(code, 0)
        self.assertEqual(json.loads(line)["failed"], 0)
        line, code = run.summary([bad])
        self.assertEqual(code, 1)
        self.assertEqual(json.loads(line),
                         {"correct": False, "attempted": 2, "failed": 1,
                          "metrics": bad["metrics"]})
        self.assertEqual(run.summary([good, bad])[1], 1)


class OracleCompare(unittest.TestCase):
    def test_wrong_result_is_a_difference(self):
        import pyarrow as pa
        import oracle
        want = pa.table({"k": [1, 2], "v": [0.5, 1.25]})
        self.assertIsNone(oracle.compare(want, pa.table({"v": [0.5, 1.25],
                                                         "k": [1, 2]})))
        self.assertIn("rows differ", oracle.compare(
            want, pa.table({"k": [1, 2], "v": [0.5, 1.5]})))
        self.assertIn("rows differ", oracle.compare(want, oracle.tamper(want)))
        self.assertIn("columns differ", oracle.compare(
            want, pa.table({"k": [1, 2]})))


class CompareRule(unittest.TestCase):
    def test_gain_needs_nine_of_ten_and_a_gap_beyond_the_iqr(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.3, 9.8, 10.0, 10.2, 10.1, 9.9]
        change = [x - 1.0 for x in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)
                         ["verdict"], "gain")
        mixed = list(change)
        mixed[0], mixed[1] = 11.0, 11.0  # two lost pairs
        self.assertNotEqual(compare.verdict(parent, mixed, "lower", 0.1)
                            ["verdict"], "gain")

    def test_regression_and_unresolved(self):
        parent = [10.0] * 5 + [10.5] * 5
        self.assertEqual(compare.verdict(parent, [x * 1.3 for x in parent],
                                         "lower", 0.1)["verdict"], "regressed")
        noisy = [5.0, 15.0, 6.0, 14.0, 10.0, 10.0, 7.0, 13.0, 9.0, 11.0]
        self.assertEqual(compare.verdict(noisy, noisy[::-1], "lower", 0.1)
                         ["verdict"], "unresolved")
        self.assertEqual(compare.verdict(parent, parent, "lower", 0.1)
                         ["verdict"], "within bound")


if __name__ == "__main__":
    unittest.main()
