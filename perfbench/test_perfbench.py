"""Self-tests of the benchmark's own code (no JVM needed).

    python3 perfbench/test_perfbench.py
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, n) for n in ("a.csv", "b.csv", "c.csv"))
            info_a = gen.clickstream_csv(a, 7, 3000, span_days=1.25)
            info_b = gen.clickstream_csv(b, 7, 3000, span_days=1.25)
            gen.clickstream_csv(c, 8, 3000, span_days=1.25)
            self.assertEqual(digest(a), digest(b))
            self.assertEqual(info_a, info_b)
            self.assertNotEqual(digest(a), digest(c))
            rows, size, span = info_a
            self.assertEqual(rows, 3000)
            self.assertEqual(size, os.path.getsize(a))
            # 30 h at speedFactor 5 is 6 replay slices
            self.assertGreater(span, 25)

    def test_csv_shape(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "a.csv")
            gen.clickstream_csv(path, 3, 2000)
            with open(path) as f:
                lines = f.read().splitlines()
            self.assertEqual(lines[0], gen.CSV_HEADER)
            rows = [line.split(",") for line in lines[1:]]
            self.assertTrue(all(len(r) == 9 for r in rows))
            # no whitespace inside values except the event_time's own
            self.assertTrue(all(" " not in v for r in rows for v in r[1:]))
            self.assertTrue(any(r[5] == "" for r in rows), "null brands")
            self.assertTrue(any(r[4] == "" for r in rows), "null category codes")
            parts = {len(r[4].split(".")) for r in rows if r[4]}
            self.assertEqual(parts, {2, 3, 4})
            sessions = {}
            for r in rows:
                sessions[r[8]] = sessions.get(r[8], 0) + 1
            self.assertGreater(max(sessions.values()), 2)

    def test_documents_deterministic(self):
        with tempfile.TemporaryDirectory() as d:
            gen.documents(os.path.join(d, "a"), 5, 0.001)
            gen.documents(os.path.join(d, "b"), 5, 0.001)
            gen.documents(os.path.join(d, "c"), 6, 0.001)
            a, b, c = (digest(os.path.join(d, x, "documents.parquet")) for x in "abc")
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)

    def test_documents_follow_the_reference_shape(self):
        self.assertEqual(gen.document_count(0.001), 500)
        self.assertEqual(gen.document_count(0.01), 500)
        self.assertEqual(gen.document_count(0.1), 5000)
        with tempfile.TemporaryDirectory() as d:
            gen.documents(d, 1, 0.1)
            st = gen.document_stats(os.path.join(d, "documents.parquet"))
        self.assertEqual(st["rows"], 5000)
        self.assertEqual(st["vocabulary"], 31)  # 30 words and the near-duplicate marker
        lo, _, hi = st["tokens_min_median_max"]
        self.assertEqual((lo, hi), (10, 100))
        self.assertTrue(240 <= st["near_duplicates"] <= 250)
        self.assertEqual(st["sources"], 20)


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(39), 50)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(199), 90)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile([3.0], 99), 3.0)

    def test_spread_is_iqr_over_median(self):
        vals = [10, 10, 10, 10, 10, 10, 10, 10, 10, 10]
        self.assertEqual(metrics.spread(vals), 0)
        # statistics.quantiles default (exclusive) method: q1 = 8.5, q3 = 11.5
        self.assertAlmostEqual(metrics.spread([8, 9, 10, 11, 12]), 3 / 10)


class NameTest(unittest.TestCase):
    def test_rule(self):
        for ok in ("setup_s", "exec.task_cpu_ms", "q-1", "9lives"):
            self.assertTrue(metrics.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "é", "x" * 65):
            self.assertFalse(metrics.valid_name(bad), bad)

    def test_every_reported_name_is_valid(self):
        names = list(metrics.END_TO_END) + list(metrics.PER_LAYER)
        self.assertTrue(all(metrics.valid_name(n) for n in names))
        self.assertEqual(len(names), len(set(names)))

    def test_benchmark_json_matches_the_code(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({w["name"] for w in bench["workloads"]}, set(workloads.WORKLOADS))
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        self.assertEqual(e2e, {k: u for k, (u, _) in metrics.END_TO_END.items()})
        layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
        self.assertEqual(layers, {k: u for k, u in metrics.PER_LAYER.items()
                                  if k not in metrics.PRINTED_ONLY})


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_covered_part(self):
        # children overlap each other and one sticks out past the parent
        self.assertEqual(metrics.self_time((0, 100), [(10, 20), (15, 30), (90, 120)]), 70)
        self.assertEqual(metrics.self_time((0, 100), []), 100)
        self.assertEqual(metrics.self_time((0, 100), [(-5, 200)]), 0)
        self.assertEqual(metrics.self_time((50, 60), [(0, 10), (70, 80)]), 10)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)


def fake_jvm(run_dir, ops):
    spans = [{"id": 1, "name": "job", "kind": "unit", "parent": 0, "op": -1,
              "start_us": 0, "end_us": 1000, "error": None, "counters": {}}]
    for i, name in enumerate(ops, 2):
        spans.append({"id": i, "name": name, "kind": "op", "parent": 1, "op": i,
                      "start_us": i, "end_us": i + 1, "error": None, "counters": {}})
    return {"workload": "night-job", "dir": run_dir, "spans": spans, "events": [], "failures": [],
            "first_op_us": 0, "launched_us": 0, "peak_rss_kb": 1024, "heap_live_kb": 512}


class WrongResultTest(unittest.TestCase):
    """A deliberately wrong expected result must count as a failure."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.data = os.path.join(self.tmp.name, "data")
        gen.documents(self.data, 1, 0.001)
        self.run_dir = os.path.join(self.tmp.name, "jvm1")
        check_dir = os.path.join(self.run_dir, "check")
        os.makedirs(os.path.join(check_dir, "q_count"))
        duckdb.sql(f"COPY (SELECT count(*) AS n FROM '{self.data}/documents.parquet') "
                   f"TO '{check_dir}/q_count/part-0.parquet' (FORMAT parquet)")
        self.check_dir = check_dir

    def tearDown(self):
        self.tmp.cleanup()

    def outcome(self, sql):
        with open(os.path.join(self.check_dir, "oracle_sql.json"), "w") as f:
            json.dump({"q_count": sql}, f)
        jvm = fake_jvm(self.run_dir, ["q_count", "q_count"])
        return checks.check("night-job", [jvm], {"data": self.data, "queries": ["q_count"]})

    def fail_ratio(self, outcome):
        return dict((k, v) for k, v, _ in metrics.workload_figures(
            "night-job", [fake_jvm(self.run_dir, ["q_count"])], {}, outcome))["fail_ratio"]

    def test_right_result_passes(self):
        out = self.outcome("SELECT count(*) AS n FROM documents")
        self.assertEqual(out["failed"], 0, out["reasons"])
        self.assertEqual(self.fail_ratio(out), 0)

    def test_wrong_result_fails(self):
        out = self.outcome("SELECT count(*) + 1 AS n FROM documents")
        self.assertEqual((out["attempted"], out["failed"]), (2, 2))
        self.assertGreater(self.fail_ratio(out), 0)

    def test_ingest_sink_from_other_input_fails(self):
        d = self.tmp.name
        a, b = os.path.join(d, "a.csv"), os.path.join(d, "b.csv")
        gen.clickstream_csv(a, 1, 500)
        gen.clickstream_csv(b, 2, 500)
        sink = os.path.join(d, "sink")
        os.makedirs(sink)
        duckdb.sql(f"COPY ({checks.batch_sql(a)}) TO '{sink}/part-0.parquet' (FORMAT parquet)")
        ok = checks.check_ingest(a, 500, sink, sink)
        self.assertNotIn("batch", " ".join(ok))
        self.assertTrue(any(r.startswith("batch") for r in checks.check_ingest(b, 500, sink, sink)))


if __name__ == "__main__":
    unittest.main()
