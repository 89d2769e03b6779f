"""Driver-gate mirror: every catalog query must EXECUTE (not just plan)
at sf0.001 and return a well-formed result.  Parity with the DuckDB
oracle is checked out-of-band by tools/oracle_check.py; this gate makes
plain `pytest` catch runtime breakage (ANSI errors, bad casts, empty-edge
divisions) in any entry before the driver does."""

from __future__ import annotations

from admira_etl_project_prueba_spark.plans.catalog import CATALOG


def test_every_catalog_query_executes(spark, sf_dir):
    # Same assertions as the sequential loop, submitted from a thread
    # pool: at sf0.001 every query is job-latency-bound, so overlapping
    # independent jobs (guide §2.6) uses the idle local cores and cuts
    # this gate's wall time ~4x without changing what is checked.
    from concurrent.futures import ThreadPoolExecutor

    def check(item):
        name, entry = item
        try:
            df = entry.fn(spark, sf_dir)
            n = df.count()
            assert n >= 0
            assert len(df.columns) > 0
            return None
        except Exception as exc:  # noqa: BLE001 — collect all, report once
            return f"{name}: {type(exc).__name__}: {exc}"

    with ThreadPoolExecutor(max_workers=8) as pool:
        failures = [f for f in pool.map(check, sorted(CATALOG.items())) if f]
    assert not failures, "\n".join(failures)


def test_every_oracle_is_nonempty_sql():
    for name, entry in CATALOG.items():
        if entry.oracle is not None:
            assert "SELECT" in entry.oracle.upper(), name
        assert entry.doc, f"{name} missing doc"


def test_no_oracle_emits_hugeint(sf_dir):
    """No oracle may output a HUGEINT/UHUGEINT column.

    DuckDB widens SUM(INTEGER/BIGINT) to HUGEINT; a pandas-mediated fetch
    (``.df()``) silently converts HUGEINT to float64, so a driver hashing
    through pandas sees "1.0" where Spark emits the long "1" — rows and
    schema match, values don't.  events_sessionize was red for 3 rounds on
    exactly this (the only driver-sampled query with a HUGEINT column);
    this pins every oracle to explicit BIGINT casts so it can't recur.
    """
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    offenders = []
    for name, entry in sorted(CATALOG.items()):
        if entry.oracle is None:
            continue
        for col, typ, *_ in con.execute(f"DESCRIBE ({entry.oracle})").fetchall():
            if typ in ("HUGEINT", "UHUGEINT"):
                offenders.append(f"{name}.{col}")
    assert not offenders, offenders


def test_oracles_fetch_path_stable(sf_dir):
    """Value-level generalization of the HUGEINT guard: every oracle's
    canonical result must be identical whether the driver fetches DuckDB
    results natively (``fetchall``) or through pandas (``.df()``).  Catches
    any representation seam — HUGEINT, unsigned widening, decimal objects —
    not just the type names the DESCRIBE check enumerates."""
    from tools.fetch_path_audit import audit

    assert audit(sf_dir) == []


def test_index_cache_reclaims_other_format_tags(spark, sf_dir, tmp_path, monkeypatch):
    """A cached index store is named ``<name>_index_<tag>_<key>``.  A
    build deletes the same-name caches of every other tag and the
    untagged names of earlier builds; caches of the current tag under
    another key (as from another sf_dir), other names' caches and build
    scratch stay.  The text-index cache goes through the same helper: a
    fresh build holds exactly one committed version."""
    import os
    import tempfile

    from admira_etl_project_prueba_spark.plans import catalog

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    planted = {
        "ivf_index_0123456789abcdef": False,  # untagged, earlier naming
        "ivf_index_ivf-format-v2_0123456789abcdef": False,  # another tag
        "ivf_index_ivf-format-v3_fedcba9876543210": True,  # this tag, another key
        "ivfpq_index_ivfpq-format-v2_0123456789abcdef": True,  # another name
        "ivf_build_x1y2z3": True,  # a build's scratch
        "text_index_0123456789abcdef": False,  # the untagged v2 text cache
    }
    for d in planted:
        os.makedirs(tmp_path / d)
    built = []

    def write(frame, path):
        built.append(path)
        os.makedirs(os.path.join(path, "v00000001"))

    path = catalog._cached_index_path(spark, sf_dir, "ivf", "ivf-format-v3", write)
    assert os.path.basename(path).startswith("ivf_index_ivf-format-v3_")
    assert len(built) == 1 and os.listdir(path) == ["v00000001"]
    left = {d for d in planted if os.path.exists(tmp_path / d)}
    assert left == {d for d, keep in planted.items() if keep} | {
        "text_index_0123456789abcdef"
    }
    # a second call serves the cache: no build
    again = catalog._cached_index_path(spark, sf_dir, "ivf", "ivf-format-v3", write)
    assert again == path and len(built) == 1

    text = catalog._text_index_path(spark, sf_dir)
    assert os.path.basename(text).startswith("text_index_textidx-format-v3_")
    assert os.listdir(text) == ["v00000001"]
    assert not os.path.exists(tmp_path / "text_index_0123456789abcdef")
    assert os.path.exists(path)
