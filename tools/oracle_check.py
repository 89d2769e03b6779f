"""Self-check harness replicating the driver's correctness gate.

For every catalog query: run the Spark implementation AND the DuckDB oracle
SQL on the same sf_dir, then compare row count, (sorted) column names, and
an order-insensitive value hash.  Usage:

    python tools/oracle_check.py [--distributed] [sf_dir] [name ...]

``--distributed`` sets the driver bound (``_driver.DRIVER_ROWS_MAX``) to 0
before any entry runs, so every bounded driver fast path falls through to
its distributed loop and that loop is checked against the oracle too.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from admira_etl_project_prueba_spark.operators import _driver
from admira_etl_project_prueba_spark.plans.catalog import BOUNDED_ORACLES
from admira_etl_project_prueba_spark.session import get_spark
from admira_etl_project_prueba_spark.sources.tables import TABLE_NAMES


def _canon(v):
    """Canonical text form of a value (mirrors a tolerant driver compare)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        # repr of the exact double — any bit difference shows up
        return repr(v)
    return str(v)


def frame_fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_canon(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def _bounded_check(con, spec, scols, srows):
    """Relative-error compare of a Spark result vs a BOUNDED_ORACLES spec.

    Joins on spec['keys'] and asserts |spark - ref| / max(|ref|, 1e-12)
    ≤ spec['rel_tol'][col] per bounded column (0.0 ⇒ exact).  Returns an
    error string, or None when every row/column is within bounds.

    A spec with 'count_by' first reduces the Spark ROWS to per-group
    counts (group cols + 'count_col') — for sampling ops whose membership
    is engine-specific but whose group sizes are statistically bounded.
    """
    if "count_by" in spec:
        idx = [scols.index(c) for c in spec["count_by"]]
        counts: dict[tuple, int] = {}
        for row in srows:
            k = tuple(row[i] for i in idx)
            counts[k] = counts.get(k, 0) + 1
        scols = list(spec["count_by"]) + [spec["count_col"]]
        srows = [k + (n,) for k, n in counts.items()]
    res = con.execute(spec["sql"])
    rcols = [d[0] for d in res.description]
    ref = {
        tuple(row[rcols.index(k)] for k in spec["keys"]): dict(zip(rcols, row))
        for row in res.fetchall()
    }
    if len(ref) != len(srows):
        return f"rowcount spark={len(srows)} ref={len(ref)}"
    for row in srows:
        r = dict(zip(scols, row))
        key = tuple(r[k] for k in spec["keys"])
        if key not in ref:
            return f"key {key} missing from reference"
        for col, tol in spec["rel_tol"].items():
            a, b = float(r[col]), float(ref[key][col])
            rel = abs(a - b) / max(abs(b), 1e-12)
            if rel > tol:
                return f"{col}@{key}: spark={a} ref={b} rel={rel:.4f} > {tol}"
    return None


def main():
    args = [a for a in sys.argv[1:]]
    if "--distributed" in args:
        args.remove("--distributed")
        _driver.DRIVER_ROWS_MAX = 0
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = set(args[1:]) if args and os.path.isdir(args[0]) else set(args)

    spark = get_spark(app_name="oracle-check", master=f"local[{os.environ.get('SPARK_GRAFT_CPUS','16')}]")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            bounded = BOUNDED_ORACLES.get(name)
            if bounded is not None:
                err = _bounded_check(con, bounded, scols, srows)
                if err is None:
                    print(f"PASS  {name}: {len(srows)} rows (bounded oracle)")
                    n_pass += 1
                else:
                    print(f"FAIL  {name}: bounded oracle: {err}")
                    n_fail += 1
                continue
            print(f"ROWS  {name}: {len(srows)} rows (no oracle — rows-only check)")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(oracles[name])
            drows = res.fetchall()
            dcols = [d[0] for d in res.description]
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            hs = frame_fingerprint(scols, srows)
            hd = frame_fingerprint(dcols, drows)
            if hs != hd:
                problems.append("value-hash mismatch")
                # show first differing row for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ls = sorted("\x1f".join(_canon(r[i]) for i in order_s) for r in srows)
                ld = sorted("\x1f".join(_canon(r[i]) for i in order_d) for r in drows)
                for a, b in zip(ls, ld):
                    if a != b:
                        problems.append(f"  spark: {a[:300]}")
                        problems.append(f"  duck : {b[:300]}")
                        break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:1]))
            for p in problems[1:]:
                print(f"      {p}")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
