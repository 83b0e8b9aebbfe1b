"""Tests for the benchmark's own code (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def op(i, ms, ok=True, kind="query"):
    return {"id": i, "kind": kind, "name": f"q{i}", "startMs": 1000.0 * i,
            "endMs": 1000.0 * i + ms, "ok": ok, "error": "" if ok else "boom"}


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        for n in [20, 21, 50, 100, 130, 1000]:
            p = stats.tail_percentile(n)
            xs = list(range(n))
            self.assertGreaterEqual(stats.beyond(xs, p), 10, n)
            # one percentile higher would leave fewer than ten beyond
            if p < 99:
                self.assertLess(stats.beyond(xs, p + 1), 10, n)

    def test_known_values(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(130), 92)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertIsNone(stats.tail_percentile(19))

    def test_small_samples_fall_back_to_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100, 3.0))
        p, v = stats.tail([float(x) for x in range(1, 101)])
        self.assertEqual((p, v), (90, 90.0))

    def test_nearest_rank(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)
        self.assertEqual(stats.percentile(xs, 1), 1.0)


class ErrorRate(unittest.TestCase):
    def test_counts_failed_over_attempted(self):
        ops = [op(0, 5), op(1, 5, ok=False), op(2, 5), op(3, 5, ok=False)]
        self.assertEqual(stats.error_rate(ops), 0.5)
        self.assertEqual(stats.error_rate([op(0, 1)]), 0.0)

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(stats.error_rate([]), 1.0)


class SelfTime(unittest.TestCase):
    def test_children_covered_once(self):
        spans = [
            {"id": 1, "parent": 0, "trace": 0, "name": "op.query", "startMs": 0, "endMs": 100},
            {"id": 2, "parent": 1, "trace": 0, "name": "queries.call", "startMs": 10, "endMs": 30},
            {"id": 3, "parent": 1, "trace": 0, "name": "queries.exec.tpch", "startMs": 30, "endMs": 90},
            # two overlapping jobs under exec: their union is 40 ms
            {"id": 4, "parent": 3, "trace": 0, "name": "spark.job", "startMs": 40, "endMs": 70},
            {"id": 5, "parent": 3, "trace": 0, "name": "spark.job", "startMs": 60, "endMs": 80},
        ]
        own = stats.self_times(spans)
        self.assertAlmostEqual(own["op.query"], 20)
        self.assertAlmostEqual(own["queries.call"], 20)
        self.assertAlmostEqual(own["queries.exec.tpch"], 20)
        self.assertAlmostEqual(own["spark.job"], 50)


class Generator(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def digest(self, kind, seed):
        out = os.path.join(self.tmp, f"{kind}-{seed}-{len(os.listdir(self.tmp))}")
        if kind == "query":
            gen.write_query_inputs(out, seed, 0.001, 100, 100)
        elif kind == "warehouse":
            gen.write_warehouse_inputs(out, seed, 0.001)
        else:
            gen.write_cdc_inputs(out, seed, 0.001, 3, 0.05)
        return gen.file_digest(out)

    def test_same_seed_same_bytes(self):
        for kind in ["query", "warehouse", "cdc"]:
            self.assertEqual(self.digest(kind, 7), self.digest(kind, 7), kind)

    def test_other_seed_other_bytes(self):
        for kind in ["query", "warehouse", "cdc"]:
            self.assertNotEqual(self.digest(kind, 7), self.digest(kind, 8), kind)

    def test_cdc_batches_touch_each_key_once(self):
        import pyarrow.parquet as pq
        out = os.path.join(self.tmp, "cdc")
        gen.write_cdc_inputs(out, 3, 0.001, 4, 0.05)
        live = set(pq.read_table(os.path.join(out, "base.parquet")).column("o_orderkey").to_pylist())
        for f in sorted(os.listdir(os.path.join(out, "batches"))):
            b = pq.read_table(os.path.join(out, "batches", f)).to_pydict()
            keys = b["o_orderkey"]
            self.assertEqual(len(keys), len(set(keys)), f)
            for k, o in zip(keys, b["op"]):
                self.assertEqual(k in live, o != "I", (f, k, o))
                if o == "D":
                    live.discard(k)
                else:
                    live.add(k)


class OutputChecker(unittest.TestCase):
    def frames(self):
        import pandas as pd
        exp = pd.DataFrame({"k": [1, 2, 3], "v": [1.5, 2.0, None], "s": ["a", "b", "c"]})
        return exp, exp.iloc[::-1].reset_index(drop=True)

    def test_order_and_integral_floats_do_not_matter(self):
        import pandas as pd
        exp, got = self.frames()
        self.assertIsNone(check.compare(got, exp))
        a = pd.DataFrame({"x": [6.0, 7.5]})
        b = pd.DataFrame({"x": [7.5, 6.0]})
        self.assertIsNone(check.compare(a, b))

    def test_planted_wrong_row_fails(self):
        exp, got = self.frames()
        got.loc[1, "v"] = 2.5
        self.assertIsNotNone(check.compare(got, exp))
        exp, got = self.frames()
        got.loc[0, "s"] = "x"
        self.assertIsNotNone(check.compare(got, exp))

    def test_half_cent_rounding_is_one_cent_at_most(self):
        import pandas as pd
        exp = pd.DataFrame({"k": [1, 2], "revenue": [315901.96, 12.5]})
        got = pd.DataFrame({"k": [1, 2], "revenue": [315901.95, 12.5]})
        self.assertIsNone(check.compare(got, exp))
        got = pd.DataFrame({"k": [1, 2], "revenue": [315901.94, 12.5]})
        self.assertIsNotNone(check.compare(got, exp))

    def test_missing_or_extra_row_fails(self):
        exp, got = self.frames()
        self.assertIsNotNone(check.compare(got.iloc[:2], exp))

    def test_int_vs_float_column_fails(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2]})
        b = pd.DataFrame({"x": [1.0, 2.0]})
        self.assertIsNotNone(check.compare(a, b))

    def test_planted_wrong_row_fails_the_query_run(self):
        """End to end through the parquet + DuckDB path run.py uses."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        tmp = tempfile.mkdtemp()
        try:
            gen.write_parquet(pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int32()),
                                        "r_name": ["A", "B", "C"]}),
                              os.path.join(tmp, "in", "region.parquet"))
            good = pa.table({"r_name": ["A", "B", "C"]})
            bad = pa.table({"r_name": ["A", "B", "X"]})
            os.makedirs(os.path.join(tmp, "out", "q_good"))
            os.makedirs(os.path.join(tmp, "out", "q_bad"))
            pq.write_table(good, os.path.join(tmp, "out", "q_good", "part-0.parquet"))
            pq.write_table(bad, os.path.join(tmp, "out", "q_bad", "part-0.parquet"))
            sql = "SELECT r_name FROM region ORDER BY r_name"
            v = check.check_queries(os.path.join(tmp, "in"), os.path.join(tmp, "out"),
                                    {"q_good": sql, "q_bad": sql, "q_missing": sql})
            self.assertIsNone(v["q_good"])
            self.assertIsNotNone(v["q_bad"])
            self.assertIsNotNone(v["q_missing"])
        finally:
            shutil.rmtree(tmp)


if __name__ == "__main__":
    unittest.main()
