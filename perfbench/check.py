"""Output checks for one benchmark run, made once per invocation on the
harness's untimed check execution (parquet under the run's check dir).

- Keys with a DuckDB oracle: the oracle SQL runs over the run's generated
  tables and must match the Spark result by the rule of
  `scripts/check_oracle.py`, whose `close` and `TABLES` are imported:
  columns by name, scalar cells only, rows in produced order, exact for
  non-floats, floats rounded to 9 digits then equal within 1e-7.
- Spec-gated keys: the schema must be the same in every pass and the check
  execution, and there must be at least one row.
- The IRS-990 operations must reproduce the corpus generator's closed-form
  outputs, and the ingest accumulators its ok/failed/record counts.
"""
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from check_oracle import TABLES, close  # noqa: E402


def _null(v):
    return v is None or (isinstance(v, float) and math.isnan(v))


def compare_oracle(con, sql, path):
    """None when the Spark output at `path` matches `sql` by the rule of
    `check_oracle.py`, else the reason."""
    ora = con.sql(sql).df()
    got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
    oc, gc = sorted(ora.columns), sorted(got.columns)
    if oc != gc:
        return f"columns differ: oracle={oc} spark={gc}"
    nonscalar = [c for c in gc if got[c].map(
        lambda v: isinstance(v, (list, dict))
        or type(v).__name__ == "ndarray").any()]
    if nonscalar:
        return f"non-scalar result columns {nonscalar}"
    if len(ora) != len(got):
        return f"rows differ: oracle={len(ora)} spark={len(got)}"
    for i, (r1, r2) in enumerate(zip(ora[oc].values.tolist(),
                                     got[oc].values.tolist())):
        for c, a, b in zip(oc, r1, r2):
            if _null(a) and _null(b):
                continue
            if _null(a) != _null(b) or not close(a, b):
                return f"row {i} col {c}: oracle={a!r} spark={b!r}"
    return None


def _rows(con, path):
    return con.sql(f"SELECT * FROM '{path}/*.parquet'").fetchall()


def check_irs(con, op, path, expected):
    rows = _rows(con, path)
    if op.startswith("etl.cities_count."):
        got = {c: n for c, n in rows}
        want = expected["cities"]
    elif op.startswith("etl.revenue_by_filing."):
        got = {d: r for d, r in rows}
        want = expected["revenue"]
    else:  # ingest.fetch_parse: one row per element of every ok file
        got, want = len(rows), expected["records"]
    return None if got == want else f"differs from the generator ({op})"


def check_outputs(res, data_dir, check_dir, expected):
    """{op: "ok" | reason} for every operation of the run."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t)}.parquet'")
    verdicts = {}
    for op, c in res["check"].items():
        path = os.path.join(check_dir, op)
        try:
            if not c["ok"]:
                why = f"check execution threw {c['error']}"
            elif op in res["oracle_sql"]:
                why = compare_oracle(con, res["oracle_sql"][op], path)
            elif expected and (op.startswith("etl.") or
                               op == "ingest.fetch_parse"):
                why = check_irs(con, op, path, expected)
            elif not c["stable_schema"]:
                why = "schema changed between executions"
            elif con.sql(f"SELECT count(*) FROM '{path}/*.parquet'"
                         ).fetchone()[0] < 1:
                why = "no rows"
            else:
                why = None
        except Exception as e:  # a broken oracle or unreadable output
            why = f"check error: {type(e).__name__}: {e}"
        verdicts[op] = why or "ok"
    ing = res.get("ingest_check")
    if expected and ing:
        counts = {"files_ok": ing["ok"], "files_failed": ing["failed"],
                  "records": ing["records"]}
        want = {k: expected[k] for k in counts}
        if counts != want and verdicts.get("ingest.fetch_parse") == "ok":
            verdicts["ingest.fetch_parse"] = \
                f"ingest counts {counts} != generator {want}"
    return verdicts
