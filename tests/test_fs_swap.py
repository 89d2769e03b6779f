"""functions/fs: existence checks + the rename-based compaction swap."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from admira_etl_project_prueba_spark.functions.fs import path_exists, swap_into_place


def _mkstore(path: str, marker: str) -> None:
    os.makedirs(path)
    with open(os.path.join(path, "part-0"), "w") as f:
        f.write(marker)


def _marker(path: str) -> str:
    with open(os.path.join(path, "part-0")) as f:
        return f.read()


def test_path_exists(spark, tmp_path):
    p = str(tmp_path / "x")
    assert not path_exists(spark, p)
    _mkstore(p, "a")
    assert path_exists(spark, p)


def test_swap_replaces_dst_and_cleans_up(spark, tmp_path):
    dst, tmp = str(tmp_path / "store"), str(tmp_path / "store__compacting")
    _mkstore(dst, "old")
    _mkstore(tmp, "new")
    swap_into_place(spark, tmp, dst)
    assert _marker(dst) == "new"
    assert not os.path.exists(tmp)
    assert not os.path.exists(dst + "__old")


def test_swap_clears_stale_old_from_prior_crash(spark, tmp_path):
    dst, tmp = str(tmp_path / "store"), str(tmp_path / "store__compacting")
    _mkstore(dst, "old")
    _mkstore(tmp, "new")
    _mkstore(dst + "__old", "stale-crash-leftover")
    swap_into_place(spark, tmp, dst)
    assert _marker(dst) == "new"
    assert not os.path.exists(dst + "__old")


def test_recover_swap_heals_crashed_rename_window(spark, tmp_path):
    """Crash between swap_into_place's two renames leaves only dst__old;
    recover_swap must restore it so a restarted fold does NOT mistake
    the store for absent (which would reset state and later delete the
    recovery copy)."""
    from admira_etl_project_prueba_spark.functions.fs import recover_swap

    dst = str(tmp_path / "store")
    # simulate the crash window: dst missing, __old holds the only copy
    _mkstore(dst + "__old", "survivor")
    assert recover_swap(spark, dst) is True
    assert _marker(dst) == "survivor"
    assert not os.path.exists(dst + "__old")
    # idempotent: nothing to do when dst is healthy
    assert recover_swap(spark, dst) is False
    # no-op when neither exists
    assert recover_swap(spark, str(tmp_path / "nothing")) is False


def test_streaming_store_exists_recovers_crashed_swap(spark, tmp_path):
    """The streaming fold's first-batch check must heal the crashed-swap
    window instead of reporting 'absent' (the silent-reset hazard)."""
    from admira_etl_project_prueba_spark.streaming.ingest import _store_exists

    dst = str(tmp_path / "sketch_store")
    _mkstore(dst + "__old", "counts")
    assert _store_exists(spark, dst) is True   # recovered, not "first batch"
    assert _marker(dst) == "counts"


def test_append_merge_heals_compaction_crash_window(spark, sf_dir, tmp_path):
    """An append-merge landing while only postings__old exists (a
    compaction crashed between its two renames) must RECOVER the store
    first — otherwise mode('append') silently creates a batch-only store
    and the next compaction deletes the recovery copy (total index loss,
    no error)."""
    import shutil

    from admira_etl_project_prueba_spark.operators.textops import (
        bm25_from_index,
        compact_index_store,
        merge_text_index,
        write_text_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "txt")
    write_text_index(docs.filter("doc_id < 300"), path, num_buckets=8)
    n_before = spark.read.parquet(f"{path}/postings").count()
    # simulate the compaction crash window: only __old survives
    shutil.move(f"{path}/postings", f"{path}/postings__old")
    merge_text_index(spark, path, docs.filter("doc_id >= 300"), num_buckets=8)
    n_after = spark.read.parquet(f"{path}/postings").count()
    assert n_after > n_before  # old postings survived + batch appended
    import os

    assert not os.path.exists(f"{path}/postings__old")
    # the full cycle stays healthy: compact and query
    compact_index_store(spark, path)
    assert spark.read.parquet(f"{path}/postings").count() == n_after
    assert bm25_from_index(spark, path, ["the"]).count() >= 0


def test_fact_store_exists_and_read_heal_compaction_crash_window(
    spark, sf_dir, tmp_path
):
    """MetricsStore on a legacy flat store: with only path__old present
    — a flat-layout compaction crashed between its two renames —
    exists() must heal and report True, and read() must return the
    surviving facts.  The old os.path form would have read a populated
    store as EMPTY, and the next compaction's swap would then delete the
    recovery copy (the fact-store variant of the silent-loss mode)."""
    import shutil

    from admira_etl_project_prueba_spark.operators.transform import transform
    from admira_etl_project_prueba_spark.sources.synthetic import (
        synthetic_ads,
        synthetic_crm,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_events
    from admira_etl_project_prueba_spark.store import MetricsStore

    ev = load_events(spark, sf_dir)
    batch = transform(synthetic_ads(ev), synthetic_crm(ev))
    path = str(tmp_path / "facts")
    store = MetricsStore(spark, path)
    # a store in the legacy flat layout, the only one with a swap window
    batch.write.partitionBy("date").parquet(path)
    n = store.read().count()
    assert n > 0

    # simulate compact()'s crash window: only __old survives
    shutil.move(path, path + "__old")
    assert store.exists() is True          # healed, not "nothing stored"
    assert store.read().count() == n       # facts intact
    assert not os.path.exists(path + "__old")

    # full maintenance cycle stays healthy afterwards
    before, after = store.compact()
    assert before >= after > 0
    assert store.read().count() == n


def test_fact_store_upsert_heals_crash_window_before_merging(
    spark, sf_dir, tmp_path
):
    """An upsert landing in the compact crash window must merge with the
    RECOVERED store, not treat it as first-write (which would drop every
    day the batch doesn't touch)."""
    import shutil

    from admira_etl_project_prueba_spark.operators.transform import transform
    from admira_etl_project_prueba_spark.sources.synthetic import (
        synthetic_ads,
        synthetic_crm,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_events
    from admira_etl_project_prueba_spark.store import MetricsStore

    ev = load_events(spark, sf_dir)
    batch = transform(synthetic_ads(ev), synthetic_crm(ev))
    path = str(tmp_path / "facts")
    store = MetricsStore(spark, path)
    # a store in the legacy flat layout, the only one with a swap window
    batch.write.partitionBy("date").parquet(path)
    dates = sorted(r["date"] for r in store.read().select("date").distinct().collect())
    assert len(dates) > 1
    one_day = batch.filter(F.col("date") == dates[0])

    shutil.move(path, path + "__old")
    store.store(one_day)  # upsert inside the crash window
    # every other day survived the window + upsert
    got = sorted(r["date"] for r in store.read().select("date").distinct().collect())
    assert got == dates
