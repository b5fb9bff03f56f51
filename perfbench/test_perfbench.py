"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The corpus, table and metric tests are pure Python and fast. The failure
accounting test builds the program and starts one harness JVM (about a
minute); set PERFBENCH_SKIP_JVM=1 to skip it. The reference test compares
the generated tables with the project's reference tables; it runs when
PERFBENCH_REFERENCE names the directory of them at the benchmark's scale
factor (sf 0.01; smaller sets are too few rows for the percentile checks).
"""
import contextlib
import filecmp
import io
import json
import os
import shutil
import sys
import tempfile
import unittest
import xml.etree.ElementTree as ET

import duckdb
import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_irs990  # noqa: E402
import gen_tables  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


def _tree_files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class CorpusTest(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            ea = gen_irs990.generate(a, 11, 300)
            eb = gen_irs990.generate(b, 11, 300)
            ec = gen_irs990.generate(c, 12, 300)
            files = _tree_files(a)
            self.assertEqual(files, _tree_files(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            drop = lambda e: {k: v for k, v in e.items() if k != "manifest"}
            self.assertEqual(drop(ea), drop(eb))
            self.assertNotEqual(drop(ea), drop(ec))

    def test_expected_outputs_match_files(self):
        """Re-derives every expected output by parsing the written files,
        the way XmlIngest and the two GraftJobs read them."""
        with tempfile.TemporaryDirectory() as d:
            e = gen_irs990.generate(d, 5, 600)
            ok = failed = records = 0
            cities, revenue = {}, {}
            with open(e["manifest"]) as f:
                uris = [u for u in f.read().split("\n") if u]
            for uri in uris:
                try:
                    root = ET.parse(os.path.join(d, uri)).getroot()
                except (OSError, ET.ParseError):
                    failed += 1
                    continue
                ok += 1
                els = list(root.iter())
                records += len(els)
                tag = lambda el: el.tag.split("}")[-1]
                text = lambda el: (el.text or "").strip()
                for el in els:
                    if tag(el) == "CityNm":
                        c = text(el).lower()
                        cities[c] = cities.get(c, 0) + 1
                amts = [text(el) for el in els if tag(el) == "TotalRevenueAmt"]
                if amts:
                    vals = [int(a) for a in amts if a]
                    revenue[uri] = sum(vals) if vals else None
            self.assertEqual((ok, failed, records),
                             (e["files_ok"], e["files_failed"], e["records"]))
            self.assertEqual(cities, e["cities"])
            self.assertEqual(revenue, e["revenue"])
            # the planted shares are present
            self.assertIn("", cities)
            self.assertIn(None, revenue.values())
            self.assertGreater(failed, 0)

    def test_tables_same_seed_same_rows(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            gen_tables.generate(a, 3, 0.001)
            gen_tables.generate(b, 3, 0.001)
            for t in sorted(os.listdir(a)):
                self.assertTrue(pq.read_table(os.path.join(a, t)).equals(
                    pq.read_table(os.path.join(b, t))), t)


def _summary(path):
    """Per column of one parquet file: its distinct count and, by type,
    the 5th/50th/95th percentiles (numbers, timestamps in epoch seconds,
    list elements) or the mean length (strings, lists)."""
    con = duckdb.connect()
    rel = con.sql(f"SELECT * FROM '{path}'")
    out = {}
    for c, ty in zip(rel.columns, map(str, rel.types)):
        q = lambda e, f=f"'{path}'": con.sql(f"SELECT {e} FROM {f}").fetchone()
        if ty.endswith("[]"):
            el = f"(SELECT unnest({c}) AS v FROM '{path}')"
            out[c] = {"len": q(f"avg(len({c}))")[0],
                      "pct": q("quantile_cont(v, [0.05, 0.5, 0.95])", el)[0]}
            continue
        v = f"epoch({c})" if ty.startswith("TIMESTAMP") else c
        out[c] = {"distinct": q(f"count(DISTINCT {c})")[0]}
        if ty == "VARCHAR":
            out[c]["len"] = q(f"avg(length({c}))")[0]
        else:
            out[c]["pct"] = q(f"quantile_cont({v}, [0.05, 0.5, 0.95])")[0]
    return out


@unittest.skipUnless(os.environ.get("PERFBENCH_REFERENCE"),
                     "PERFBENCH_REFERENCE names no reference table directory")
class ReferenceTablesTest(unittest.TestCase):
    """The generated tables have the reference tables' schemas and row
    counts, and close summary statistics, for several seeds."""

    def test_matches_reference(self):
        ref = os.environ["PERFBENCH_REFERENCE"]
        sf = pq.read_metadata(os.path.join(ref, "lineitem.parquet")
                              ).num_rows / 6_000_000
        for seed in (1, 2, 3):
            with tempfile.TemporaryDirectory() as d:
                gen_tables.generate(d, seed, sf)
                for t in sorted(os.listdir(ref)):
                    r, g = os.path.join(ref, t), os.path.join(d, t)
                    self.assertTrue(pq.read_schema(g).equals(
                        pq.read_schema(r), check_metadata=False), t)
                    rows = pq.read_metadata(r).num_rows
                    self.assertEqual(pq.read_metadata(g).num_rows, rows, t)
                    rs, gs = _summary(r), _summary(g)
                    for c, want in rs.items():
                        got, where = gs[c], f"seed {seed} {t}.{c}"
                        if "distinct" in want:
                            self.assertLessEqual(
                                abs(got["distinct"] - want["distinct"]),
                                max(2, 0.1 * want["distinct"]), where)
                        if "len" in want:
                            self.assertAlmostEqual(
                                got["len"], want["len"],
                                delta=0.1 * want["len"], msg=where)
                        if "pct" in want and rows >= 100:
                            # 5 % of the 5-95 span, plus one step of a
                            # column with few distinct values, plus three
                            # standard errors of a percentile of `rows`
                            span = want["pct"][2] - want["pct"][0]
                            tol = span * (0.05 + 1.5 / rows ** 0.5 + 1 /
                                          want.get("distinct", 1e18)) + 1e-9
                            for a, b in zip(got["pct"], want["pct"]):
                                self.assertAlmostEqual(a, b, delta=tol,
                                                       msg=where)


class MetricsTest(unittest.TestCase):

    def test_failed_operation_is_never_a_time(self):
        op = lambda p, k, ok, b=0.0, w=0.0: {
            "pass": p, "op": k, "ok": ok, "build_s": b, "write_s": w,
            "wall_s": b + w}
        res = {"launch_s": 1.0, "session_s": 2.0,
               "setup": [{"staging_s": 0.5}],
               "passes": [{"wall_s": 3.0}, {"wall_s": 2.0}],
               "ops": [op(1, "a", True, 1.0, 1.0), op(1, "boom", False),
                       op(1, "wrong", True, 9.0, 9.0),
                       op(2, "a", True, 0.5, 0.5), op(2, "boom", False),
                       op(2, "wrong", True, 9.0, 9.0)]}
        m = run.end_to_end(res, {"boom", "wrong"})
        self.assertEqual(m["cold_p50_s"], 2.0)
        self.assertEqual(m["warm_p50_s"], 1.0)
        self.assertEqual(m["setup_s"], 3.5)
        # no successful operation left: the latency metrics are omitted
        m = run.end_to_end(res, {"a", "boom", "wrong"})
        self.assertEqual(sorted(m), ["cold_pass_s", "setup_s", "warm_pass_s"])

    def test_job_cover_is_the_union_within_the_operation(self):
        sp = [{"id": "p2/a", "kind": "op", "start_ms": 100, "dur_ms": 50},
              {"id": "p2/a/job1", "kind": "job", "start_ms": 90,
               "dur_ms": 20},
              {"id": "p2/a/job2", "kind": "job", "start_ms": 105,
               "dur_ms": 10},
              {"id": "p2/a/job3", "kind": "job", "start_ms": 140,
               "dur_ms": 30},
              {"id": "p2/b", "kind": "op", "start_ms": 200, "dur_ms": 5}]
        self.assertEqual(layers.job_cover(sp), {"p2/a": 0.025, "p2/b": 0.0})


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_JVM") == "1", "no JVM run")
class FailureAccountingTest(unittest.TestCase):

    def test_throwing_operations_land_as_failed(self):
        """A key missing from SparkEntry.queries and a key the program
        throws on (win_volatility_parkinson divides by a zero daily low)
        are failed operations with their exception classes; the healthy
        key beside them still reports times."""
        seed = next(s for s in range(1, 200) if _has_zero_value(s))
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            run.main(["--workload", "olap_interactive", "--seed", str(seed),
                      "--seconds", "1", "--keys",
                      "no_such_key,win_volatility_parkinson,fn_math"])
        lines = out.getvalue().strip().split("\n")
        result = json.loads(lines[-1])
        failures = "\n".join(l for l in lines if l.startswith("FAILED"))
        self.assertIn("no_such_key: graftbench.Harness$MissingKey", failures)
        self.assertIn("win_volatility_parkinson: "
                      "org.apache.spark.SparkArithmeticException", failures)
        self.assertFalse(result["correct"])
        passes = result["attempted"] // 3
        self.assertEqual(result["failed"], 2 * passes)
        self.assertGreater(result["metrics"]["warm_p50_s"]["value"], 0)


def _has_zero_value(seed):
    d = tempfile.mkdtemp()
    try:
        gen_tables.generate(d, seed, run.WORKLOADS["olap_interactive"]["sf"])
        v = pq.read_table(os.path.join(d, "events.parquet"),
                          columns=["value"]).column(0).to_numpy()
        return bool(np.any(v == 0))
    finally:
        shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
