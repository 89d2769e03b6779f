"""Mergeable fixed-grid histogram → quantile store: merge algebra,
error bounds, clamping, and replay-safe streaming maintenance."""

from __future__ import annotations

from pyspark.sql import functions as F

from admira_etl_project_prueba_spark.functions.fs import resolve_store_root
from admira_etl_project_prueba_spark.operators import sketches as sk
from admira_etl_project_prueba_spark.sources.tables import load_events


def _ev(spark, rows):
    return spark.createDataFrame(rows, "event_type string, value double")


def test_histogram_merge_equals_rebuild(spark, sf_dir, tmp_path):
    """Folding day slices into the store == one histogram over the union,
    bit-identically (integer-additive sufficient statistic)."""
    ev = load_events(spark, sf_dir).select("event_type", "value", "event_id")
    a = ev.filter("event_id % 3 = 0")
    b = ev.filter("event_id % 3 = 1")
    c = ev.filter("event_id % 3 = 2")
    path = str(tmp_path / "hist_store")
    sk.write_histogram_store(a, path)
    sk.merge_histogram_store(spark, path, b)
    sk.merge_histogram_store(spark, path, c)
    merged = {
        (r["event_type"], r["bin"]): r["n"]
        for r in spark.read.parquet(resolve_store_root(spark, path)).collect()
    }
    rebuilt = {
        (r["event_type"], r["bin"]): r["n"]
        for r in sk.value_histogram(ev).collect()
    }
    assert merged == rebuilt


def test_histogram_quantiles_within_one_bin_width(spark, sf_dir):
    """Every estimate lands within one bin width (2.0) of the exact
    per-type percentile with the same ceil-rank convention."""
    ev = load_events(spark, sf_dir)
    qs = (0.5, 0.9, 0.99)
    est = {
        (r["event_type"], r["q"]): r["estimate"]
        for r in sk.histogram_quantiles(sk.value_histogram(ev), qs).collect()
    }
    vals = {}
    for row in ev.select("event_type", "value").collect():
        vals.setdefault(row["event_type"], []).append(row["value"])
    import math

    for et, xs in vals.items():
        xs.sort()
        for q in qs:
            exact = xs[max(1, math.ceil(q * len(xs))) - 1]
            assert abs(est[(et, q)] - exact) <= 2.0 + 1e-9, (et, q)


def test_histogram_clamps_out_of_domain_values(spark):
    d = _ev(spark, [("t", -5.0), ("t", 0.5), ("t", 511.9), ("t", 9999.0)])
    hist = {r["bin"]: r["n"] for r in sk.value_histogram(d).collect()}
    # -5.0 clamps into bin 0 with 0.5; 9999 clamps into the last bin with 511.9
    assert hist == {0: 2, 255: 2}


def test_histogram_quantiles_exact_on_point_mass(spark):
    """All mass in one bin: every quantile interpolates inside that bin."""
    d = _ev(spark, [("t", 10.5)] * 100)
    out = {
        r["q"]: r
        for r in sk.histogram_quantiles(sk.value_histogram(d), (0.5, 0.99)).collect()
    }
    for q, r in out.items():
        assert r["bin"] == 5
        assert 10.0 <= r["estimate"] <= 12.0
        assert r["total"] == 100


def test_stream_value_histogram_replay_safe(spark, tmp_path):
    """Streamed store == batch histogram; re-streaming the same input with
    a FRESH checkpoint (an at-least-once replay of every batch) leaves the
    read-time fold unchanged (batch-keyed deltas overwrite, never add)."""
    from admira_etl_project_prueba_spark.streaming.ingest import (
        read_histogram_store,
        stream_value_histogram,
    )

    src = tmp_path / "hist_in"
    src.mkdir()
    rows = [("click", 1.0), ("click", 3.5), ("view", 100.2), ("view", 1.0)]
    with open(src / "a.csv", "w") as fh:
        for et, v in rows:
            fh.write(f"{et},{v}\n")

    def run(ckpt):
        stream = spark.readStream.schema("event_type string, value double").csv(
            str(src)
        )
        q = stream_value_histogram(
            stream, str(tmp_path / "store"), str(tmp_path / ckpt)
        )
        q.awaitTermination(120)

    run("ckpt1")
    first = {
        (r["event_type"], r["bin"]): r["n"]
        for r in read_histogram_store(spark, str(tmp_path / "store")).collect()
    }
    batch = {
        (r["event_type"], r["bin"]): r["n"]
        for r in sk.value_histogram(_ev(spark, rows)).collect()
    }
    assert first == batch
    run("ckpt2")  # full replay under a new checkpoint: same batch ids rewrite
    second = {
        (r["event_type"], r["bin"]): r["n"]
        for r in read_histogram_store(spark, str(tmp_path / "store")).collect()
    }
    assert second == batch


def test_psi_zero_on_identical_windows(spark):
    d = _ev(spark, [("t", float(v)) for v in range(0, 500, 7)])
    out = sk.value_psi(d, d).collect()
    assert len(out) == 1
    # identical counts clear the integer weight exactly: psi == 0.0, not ~0
    assert out[0]["psi"] == 0.0
    assert out[0]["n_ref"] == out[0]["n_cur"]


def test_psi_flags_planted_shift(spark):
    ref = _ev(spark, [("t", float(v % 50)) for v in range(400)])
    same = _ev(spark, [("t", float((v * 13) % 50)) for v in range(400)])
    shifted = _ev(spark, [("t", 300.0 + float(v % 50)) for v in range(400)])
    psi_same = sk.value_psi(ref, same).collect()[0]["psi"]
    psi_shift = sk.value_psi(ref, shifted).collect()[0]["psi"]
    # same support => stable; disjoint support => far past the 0.25 alarm
    assert abs(psi_same) < 0.1
    assert psi_shift > 0.25
    # each side reports types the other lacks, smoothed, not dropped
    extra = _ev(spark, [("only_cur", 1.0)] * 10)
    rows = {r["event_type"]: r for r in sk.value_psi(ref, extra).collect()}
    assert set(rows) == {"t", "only_cur"}
    assert rows["only_cur"]["n_ref"] == 0 and rows["only_cur"]["n_cur"] == 10


def test_psi_is_partitioning_invariant(spark, sf_dir):
    ev = load_events(spark, sf_dir)
    a, b = ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")
    base = {r["event_type"]: r["psi"] for r in sk.value_psi(a, b).collect()}
    rep = {
        r["event_type"]: r["psi"]
        for r in sk.value_psi(a.repartition(17), b.repartition(3)).collect()
    }
    assert base == rep  # exact-sum seam: bit-equal under any partitioning


def test_psi_from_stores_matches_inline(spark, sf_dir, tmp_path):
    """PSI over two persisted histogram stores == PSI computed inline from
    the raw events — the standing drift monitor never re-reads events."""
    ev = load_events(spark, sf_dir)
    a, b = ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")
    pa, pb = str(tmp_path / "ref"), str(tmp_path / "cur")
    sk.write_histogram_store(a, pa, n_bins=16)
    sk.write_histogram_store(b, pb, n_bins=16)
    from_store = sorted(
        map(tuple, sk.psi_from_histograms(
            spark.read.parquet(resolve_store_root(spark, pa)),
            spark.read.parquet(resolve_store_root(spark, pb)),
            16,
        ).collect())
    )
    inline = sorted(map(tuple, sk.value_psi(a, b).collect()))
    assert from_store == inline
