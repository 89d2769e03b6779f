"""Audit every oracle SQL for fetch-path-dependent values in DuckDB.

Motivation (round 4): ``events_sessionize`` was driver-red for three rounds
while the local replica (``fetchall``-based) passed bit-exact.  Root cause:
DuckDB returns HUGEINT for a windowed ``SUM`` over integers, and a
pandas-mediated fetch (``res.df()``) silently converts HUGEINT to float64 —
so the same oracle SQL yields ``1`` via ``fetchall()`` but ``1.0`` via
``.df()``.  Spark's BIGINT stays an int on both paths, so any driver that
collects the DuckDB side through pandas hash-mismatches *only* queries with
a HUGEINT (or similarly lossy) output column.

This tool runs every catalog oracle once and fetches its result twice —
native ``fetchall()`` and pandas ``.df()`` — canonicalizes both result sets exactly like
``tools/oracle_check.py`` does, and reports any query whose canonical
fingerprint depends on the fetch path.  A clean report means the hashed
surface of every oracle is representation-stable no matter how the driver
fetches.  Runs in pytest via ``tests/test_catalog_smoke.py``.

Usage:
    PYTHONPATH=/root/repo python tools/fetch_path_audit.py [sf_dir]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from admira_etl_project_prueba_spark.sources.tables import TABLE_NAMES


def _canon(v):
    """Mirror oracle_check._canon, plus pandas/numpy scalar normalization."""
    # numpy scalars -> python scalars so str()/repr() match native fetch
    item = getattr(v, "item", None)
    if item is not None and type(v).__module__ in ("numpy", "numpy.core"):
        v = v.item()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def audit(sf_dir: str) -> list[str]:
    """Return audit-failure strings; empty list means every oracle is
    fetch-path stable."""
    from concurrent.futures import ThreadPoolExecutor

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * "
            f"FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    problems = []
    # each oracle runs ONCE on its own cursor, into a temp table that keeps
    # the result's DuckDB types (HUGEINT stays HUGEINT), and that one
    # result is fetched twice (native + pandas).  The fetch path is what
    # is audited, so executing the query a second time only doubled the
    # cost (the slowest oracle takes ~36 s at sf0.001).  Temp tables are
    # cursor-local.  DuckDB releases the GIL during execution, so a thread
    # pool overlaps the per-oracle latency; the report order is kept
    # deterministic by collecting in input order
    def run_one(item):
        name, sql = item
        cur = con.cursor()
        cur.execute(f"CREATE TEMP TABLE oracle_result AS {sql}")
        res = cur.execute("SELECT * FROM oracle_result")
        cols = [d[0] for d in res.description]
        native = res.fetchall()
        pdf = cur.execute("SELECT * FROM oracle_result").df()
        cur.close()
        return name, sql, cols, native, pdf

    with ThreadPoolExecutor(max_workers=8) as pool:
        fetched = list(pool.map(run_one, entry_mod.oracle_sql().items()))
    for name, sql, cols, native, pdf in fetched:
        # pandas loses None-vs-NaN distinction; canonicalize both to NULL
        prows = list(pdf.itertuples(index=False, name=None))
        n_lines = sorted(
            "\x1f".join(_canon(v) for v in row) for row in native
        )
        p_lines = sorted(
            "\x1f".join(_canon(v) for v in row) for row in prows
        )
        if n_lines != p_lines:
            bad_cols = []
            for j, c in enumerate(cols):
                ncol = sorted(_canon(r[j]) for r in native)
                pcol = sorted(_canon(r[j]) for r in prows)
                if ncol == pcol:
                    continue
                has_null = any(r[j] is None for r in native)
                vals = [type(r[j]).__name__ for r in native if r[j] is not None]
                nt = vals[0] if vals else "NoneType"
                if has_null and str(pdf[c].dtype) == "float64" and nt == "int":
                    # Symmetric: a nullable int column becomes float64 under
                    # pandas on BOTH the Spark (toPandas) and DuckDB (.df())
                    # sides, so a pandas-mediated driver still matches.  The
                    # driver's 3-round history confirms (events_cube green).
                    print(f"INFO  {name}.{c}: nullable int->float64 "
                          f"(symmetric under pandas; benign)")
                    continue
                bad_cols.append(f"{c}({nt}->{pdf[c].dtype})")
            if bad_cols:
                problems.append(f"{name}: fetch-path divergence in {bad_cols}")
    return problems


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    problems = audit(sf_dir)
    for p in problems:
        print("DIVERGENT", p)
    n = len(entry_mod.oracle_sql())
    print(f"{n - len(problems)}/{n} oracles fetch-path stable")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
