"""Fast self-test of the benchmark itself (no Spark session, tiny sizes).

    python3 perfbench/selftest.py

Checks that every metric in ``BENCHMARK.json`` is printed with its
unit, that a deliberately wrong expected result makes the matching gate
fail, and that one seed always generates byte-identical inputs.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import tempfile
import unittest
from argparse import Namespace
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common as C  # noqa: E402
from perfbench import data as D  # noqa: E402

C.import_package()
E2E, PER_LAYER = C.metric_units("end_to_end"), C.metric_units("per_layer")


def _bytes_of(fn) -> bytes:
    with tempfile.TemporaryDirectory() as d:
        fn(d)
        out = b""
        for root, _, files in sorted(os.walk(d)):
            for f in sorted(files):
                with open(os.path.join(root, f), "rb") as fh:
                    out += f.encode() + fh.read()
        return out


class MetricsPrinted(unittest.TestCase):
    def test_benchmark_json_matches_workloads(self):
        with open(os.path.join(C.ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        from perfbench.analytics import MIX
        from perfbench.run import WORKLOADS

        self.assertEqual(tuple(w["name"] for w in spec["workloads"]), WORKLOADS)
        for fam in MIX:
            self.assertIn(f"plans.{fam}.p50_s", PER_LAYER)

    def _result(self, trace: int, layer: dict) -> dict:
        buf = io.StringIO()
        metrics = {n: 1.5 for n in E2E}
        with contextlib.redirect_stdout(buf), tempfile.TemporaryDirectory() as d:
            old = C.OUT
            C.OUT = d
            try:
                C.finish(Namespace(seed=1, trace=trace), C.Tracer(bool(trace), "t"), "w",
                         C.Gates(), 3, 0, metrics, layer, {})
            finally:
                C.OUT = old
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def test_every_metric_printed_with_unit(self):
        for trace, table in ((0, E2E), (1, PER_LAYER)):
            out = self._result(trace, {"session.get_spark_s": 2.0})
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertEqual(set(out["metrics"]), set(table))
            for name, m in out["metrics"].items():
                self.assertEqual(m["unit"], table[name])
                self.assertIsInstance(m["value"], float)

    def test_unlisted_layer_metric_rejected(self):
        with self.assertRaises(KeyError):
            self._result(1, {"bogus.metric": 1.0})


class GatesFail(unittest.TestCase):
    def _raw(self):
        import pandas as pd

        frames = [D.stamp(D.activity_rows(3, i, 300), "2024-03-01T00:00:00") for i in range(3)]
        return pd.concat(frames, ignore_index=True)

    def test_gold_gate(self):
        from investcloud_data_pipeline_spark.datagen import make_ip_region_frame

        ip = make_ip_region_frame()
        raw = self._raw()
        expected = D.expected_gold(raw, ip)
        self.assertTrue(D.gold_matches(expected.copy(), expected)[0])
        wrong = expected.copy()
        wrong.loc[0, "total_watch_time"] += 1
        self.assertFalse(D.gold_matches(wrong, expected)[0])
        wrong = expected.copy()
        wrong.loc[0, "geo_region"] = "Atlantis"
        self.assertFalse(D.gold_matches(wrong, expected)[0])
        self.assertFalse(D.gold_matches(expected.iloc[1:], expected)[0])

    def test_raw_shape(self):
        raw = self._raw()
        n_valid, n_distinct = D.valid_counts(raw)
        self.assertLess(n_valid, len(raw))          # dirty rows present
        self.assertLess(n_distinct, n_valid)        # duplicate deliveries present

    def test_curation_gates(self):
        from perfbench import curation as K

        corpus = K.make_corpus(4, 60)
        truth_pairs = sorted(K._truth_pairs(corpus["near_groups"]))
        good = {
            "kept": None,
            "exact": [(s, len(ids)) for s, ids in corpus["exact_groups"].items()],
            "cands": truth_pairs,
            "components": 1,
            "epairs": 0,
        }
        with tempfile.TemporaryDirectory() as d:
            import pyarrow as pa
            import pyarrow.parquet as pq

            base = corpus["doc_id"][corpus["kind"] == "base"]
            pq.write_table(pa.table({"doc_id": base}), os.path.join(d, "s.parquet"))
            g = C.Gates()
            K.check(g, corpus, good, d, "ok")
            self.assertEqual(g.failed, 0, g.notes)
            bad = dict(good, exact=good["exact"][1:], cands=truth_pairs[:1])
            g = C.Gates()
            K.check(g, corpus, bad, d, "bad")
            self.assertEqual(set(n for n, ok in g.results.items() if not ok),
                             {"bad.exact_groups", "bad.lsh_recall"})

    def test_oracle_compare(self):
        import duckdb

        from perfbench import analytics as A

        sys.path.insert(0, os.path.join(C.ROOT, "tools"))
        con = duckdb.connect()
        sql = "SELECT 1::INTEGER AS a, 'x' AS b UNION ALL SELECT 2, 'y'"
        ab, ba = [("a", "int"), ("b", "string")], [("b", "string"), ("a", "int")]
        self.assertEqual(A.compare(ba, [("y", 2), ("x", 1)], con.sql(sql)), "")
        self.assertIn("values differ", A.compare(ab, [(1, "x"), (2, "z")], con.sql(sql)))
        self.assertIn("rowcount", A.compare(ab, [(1, "x")], con.sql(sql)))
        # same values, only the types differ: bigint vs INTEGER, HUGEINT
        wide = [("a", "bigint"), ("b", "string")]
        self.assertIn("type[a]", A.compare(wide, [(1, "x"), (2, "y")], con.sql(sql)))
        huge = "SELECT a::HUGEINT AS a, b FROM (" + sql + ")"
        self.assertIn("type[a]", A.compare(wide, [(1, "x"), (2, "y")], con.sql(huge)))


class SameSeedSameBytes(unittest.TestCase):
    def test_live_files(self):
        def gen(seed):
            def write(d):
                for i in range(3):
                    D.stamp(D.activity_rows(seed, i, 200), "2024-03-01T00:00:00").to_parquet(
                        os.path.join(d, f"{i}.parquet"), index=False)
            return write
        self.assertEqual(_bytes_of(gen(5)), _bytes_of(gen(5)))
        self.assertNotEqual(_bytes_of(gen(5)), _bytes_of(gen(6)))

    def test_backlog_csv(self):
        from perfbench import medallion as M

        def gen(seed):
            return lambda d: M._backlog(d, seed, 2, 300)
        self.assertEqual(_bytes_of(gen(5)), _bytes_of(gen(5)))
        self.assertNotEqual(_bytes_of(gen(5)), _bytes_of(gen(6)))

    def test_corpus(self):
        from perfbench import curation as K

        def gen(seed):
            return lambda d: K.write_corpus(K.make_corpus(seed, 80), d)
        self.assertEqual(_bytes_of(gen(5)), _bytes_of(gen(5)))
        self.assertNotEqual(_bytes_of(gen(5)), _bytes_of(gen(6)))

    def test_query_order(self):
        from perfbench import analytics as A

        self.assertEqual(A.order(5), A.order(5))
        self.assertNotEqual(A.order(5), A.order(6))
        self.assertEqual(sorted(A.order(5)), sorted(A.order(6)))

    def test_stamp_anchor(self):
        df = D.stamp(D.activity_rows(1, 0, 50), None, datetime(2024, 3, 1))
        self.assertTrue(df["timestamp"].str.startswith(("2023", "2024", "not")).all())


if __name__ == "__main__":
    unittest.main()
