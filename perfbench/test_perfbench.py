"""Tests of the benchmark itself. From the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The end-to-end cases build the harness and run Spark on tiny catalogs;
set PERFBENCH_SKIP_SPARK=1 to run only the fast cases.
"""
import copy
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import compare  # noqa: E402
import run  # noqa: E402

MANIFEST = {
    "language": "English",
    "expected": {"table_missing": 1, "column_missing": 1, "column_type": 2},
    "drifted_tables": ["t000001", "t000002", "t000003"],
}
REPORT = {"report_table_list": [
    {"table_name": "t000001", "report_list": [
        "Table: t000001 exists in the base database, but not in the target database."]},
    {"table_name": "t000002", "report_list": [
        "Column: t000002.c3 exists in the base database, but not in the target database."]},
    {"table_name": "t000003", "report_list": [
        "Column: t000003.c1 has different data type. => int != string",
        "Column: t000003.c1 has different data type. => string != int"]},
]}


class ReportCheckTest(unittest.TestCase):
    def test_matching_report_passes(self):
        self.assertEqual(checks.report_problems(REPORT, MANIFEST), [])

    def test_missing_finding_is_caught(self):
        r = copy.deepcopy(REPORT)
        r["report_table_list"][2]["report_list"].pop()
        self.assertTrue(checks.report_problems(r, MANIFEST))

    def test_extra_table_is_caught(self):
        r = copy.deepcopy(REPORT)
        r["report_table_list"].append({"table_name": "t000009", "report_list": [
            "Table: t000009 exists in the base database, but not in the target database."]})
        self.assertTrue(checks.report_problems(r, MANIFEST))

    def test_unknown_message_is_caught(self):
        r = copy.deepcopy(REPORT)
        r["report_table_list"][0]["report_list"][0] = "Table: t000001 looks odd."
        self.assertTrue(checks.report_problems(r, MANIFEST))

    def test_korean_messages_are_classified(self):
        m = {"language": "Korean", "expected": {"index_columns": 1, "fk_missing": 1},
             "drifted_tables": ["t000004"]}
        r = {"report_table_list": [{"table_name": "t000004", "report_list": [
            "Index: t000004.t000004_c1_c2의 컬럼이 다릅니다. 순서까지 확인해주세요. => c1, c2 != c2, c1",
            "Foreign Key: t000004.t000004_c1_fkey가 base 데이터베이스에는 있지만, "
            "target 데이터베이스에는 없습니다."]}]}
        self.assertEqual(checks.report_problems(r, m), [])


class MetricsTest(unittest.TestCase):
    def test_tail_has_ten_samples_beyond_it(self):
        xs = [float(i) for i in range(30)]
        value, pct, n = run.tail_percentile(xs)
        self.assertEqual(sum(x > value for x in xs), 10)
        self.assertAlmostEqual(pct, 100.0 * 20 / 30)
        self.assertEqual(n, 30)

    def test_tail_of_few_samples_is_the_maximum(self):
        self.assertEqual(run.tail_percentile([3.0, 1.0, 2.0]), (3.0, 100.0, 3))

    def test_benchmark_json_lists_what_run_reports(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         run.per_layer_metrics())
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))

    def test_compare_refuses_across_hosts(self):
        a = {"workload": "w", "trace": 0, "host": {"nproc": 4},
             "metrics": {"wall_p50_s": {"value": 1.0, "unit": "s"}}}
        b = dict(a, host={"nproc": 32})
        with self.assertRaises(ValueError):
            compare.compare(a, b)
        self.assertEqual(len(compare.compare(a, copy.deepcopy(a))), 1)


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SPARK"), "PERFBENCH_SKIP_SPARK is set")
class TinyCatalogTest(unittest.TestCase):
    """The generator's planted drift, diffed by the library, checked
    against the manifest: on a tiny catalog of each shape."""

    def bench(self, workload, size):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "0.1", "--trace", "0", "--size", str(size),
             "--setups", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_parquet_catalog(self):
        r = self.bench("catalog_parquet", 4)
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)

    def test_wide_catalog(self):
        r = self.bench("catalog_diff_wide", 40)
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)


if __name__ == "__main__":
    unittest.main()
