"""functions/fs: existence checks and the crash-window recovery of legacy
flat stores that an older build replaced by a two-rename swap."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from admira_etl_project_prueba_spark.functions.fs import path_exists


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


def test_recover_swap_heals_crashed_rename_window(spark, tmp_path):
    """A legacy flat store replaced by an older build's two-rename swap
    can be left with only dst__old (a crash between the renames);
    recover_swap must restore it so a restarted fold does NOT mistake
    the store for absent (which would reset state)."""
    from admira_etl_project_prueba_spark.functions.fs import recover_swap

    dst = str(tmp_path / "store")
    # plant the crash window: dst missing, __old holds the only copy
    _mkstore(dst, "survivor")
    os.rename(dst, dst + "__old")
    assert recover_swap(spark, dst) is True
    assert _marker(dst) == "survivor"
    assert not os.path.exists(dst + "__old")
    # idempotent: nothing to do when dst is healthy
    assert recover_swap(spark, dst) is False
    # no-op when neither exists
    assert recover_swap(spark, str(tmp_path / "nothing")) is False


def test_append_merge_heals_compaction_crash_window(spark, tmp_path):
    """A streaming delta landing in a legacy flat delta store while only
    store__old exists (an older build's compaction crashed between its
    two renames) must RECOVER the store first — otherwise the delta
    silently creates a batch-only store beside the orphaned recovery
    copy (total loss of the earlier batches, no error).  The recovered
    flat payload then stays readable through the next compaction,
    which migrates it to v1."""
    from admira_etl_project_prueba_spark.functions.fs import list_versions
    from admira_etl_project_prueba_spark.operators.textops import cms_sketch
    from admira_etl_project_prueba_spark.streaming.ingest import (
        compact_sketch_store,
        read_sketch_store,
        stream_token_sketch_idempotent,
    )

    def docs(rows):
        return spark.createDataFrame(
            [(d, t, "en") for d, t in rows], "doc_id long, text string, lang string"
        )

    old_rows = [(1, "alpha beta"), (2, "beta gamma")]
    new_rows = [(3, "gamma delta")]
    store = str(tmp_path / "icms_store")
    # a legacy flat delta store: batch_id=* directly under the root
    cms_sketch(docs(old_rows), depth=2, width=64).withColumn(
        "batch_id", F.lit(7).cast("long")
    ).write.partitionBy("batch_id").parquet(store)
    os.rename(store, store + "__old")  # the compaction crash window

    src = tmp_path / "icms_in"
    src.mkdir()
    with open(src / "a.json", "w") as fh:
        for did, text in new_rows:
            fh.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    stream_token_sketch_idempotent(
        stream, store, str(tmp_path / "icms_ckpt"), depth=2, width=64
    ).awaitTermination(120)

    assert not os.path.exists(store + "__old")
    want = {
        (r["r"], r["bucket"]): r["cnt"]
        for r in cms_sketch(docs(old_rows + new_rows), depth=2, width=64).collect()
    }

    def snap():
        return {
            (r["r"], r["bucket"]): r["cnt"]
            for r in read_sketch_store(spark, store).collect()
        }

    assert snap() == want  # old batches survived + the delta landed
    compact_sketch_store(spark, store)
    assert list_versions(spark, store) == ["v00000001"]
    assert sorted(os.listdir(store)) == ["v00000001"]  # flat remnants swept
    assert snap() == want


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
