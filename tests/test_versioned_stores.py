"""The versioned layout of the whole-payload stores: the fact
MetricsStore, the LSH signature store, and the histogram / LM-count
model stores (plus the one-layout contract of the index stores and the
streaming sketch stores).  Each gets (a) lifecycle parity with a from-scratch
rebuild or a plain-Python per-key sum, (b) the reader-vs-rewriter race
pinned: a reader that resolved the previous version before a fold
completes against its snapshot, byte-for-byte, and (c) a root in the old
flat layout refused by every reader and writer, readable again once its
children are moved into ``v00000001``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from admira_etl_project_prueba_spark.functions import fs
from admira_etl_project_prueba_spark.operators import sketches as sk
from admira_etl_project_prueba_spark.operators import textops as tx
from admira_etl_project_prueba_spark.store import MetricsStore


def _rows(df):
    return sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------------------
# MetricsStore
# ---------------------------------------------------------------------------


def _batch(spark, days, base=10):
    from admira_etl_project_prueba_spark.functions.metrics import (
        with_derived_metrics,
    )
    from admira_etl_project_prueba_spark.schemas import (
        DERIVED_COLS,
        METRICS_SCHEMA,
    )

    rows = [
        (
            d, "google_ads", f"C-{i % 2}", "c", "google", "cpc",
            base + i, 100 + i, 5.0 + i, 2, 1, 1, 50.0,
            0.0, 0.0, 0.0, 0.0, 0.0,
        )
        for i, d in enumerate(days)
    ]
    df = spark.createDataFrame(rows, METRICS_SCHEMA)
    return with_derived_metrics(df.drop(*DERIVED_COLS))


def _sums(*batches):
    """Plain-Python per-MetricKey sums of the additive measures over
    ``batches`` — the oracle for the store's re-summing writes."""
    from admira_etl_project_prueba_spark.schemas import (
        MEASURE_COLS,
        METRIC_KEY_COLS,
    )

    acc: dict = {}
    for b in batches:
        for r in b.collect():
            key = tuple(r[c] for c in METRIC_KEY_COLS)
            prev = acc.get(key, (0,) * len(MEASURE_COLS))
            acc[key] = tuple(p + r[m] for p, m in zip(prev, MEASURE_COLS))
    return sorted(k + v for k, v in acc.items())


def _stored_sums(store):
    from admira_etl_project_prueba_spark.schemas import (
        MEASURE_COLS,
        METRIC_KEY_COLS,
    )

    return _rows(store.read().select(*METRIC_KEY_COLS, *MEASURE_COLS))


def _legacy_flat_write(df, path):
    """A store in the pre-version layout: ``date=*`` directly under
    ``path`` — exactly what the fact store's writes used to produce."""
    df.write.partitionBy("date").parquet(path)


#: the refusal every non-index store reader and writer raises on a flat root
_MIGRATE = r"old flat layout\. Migrate it by moving every child of .+ into .+/v00000001"


def _move_into_v1(path):
    """The migration the refusal names: every child of the flat root
    moved into ``v00000001``."""
    import os

    children = os.listdir(path)
    os.makedirs(os.path.join(path, "v00000001"))
    for n in children:
        os.rename(os.path.join(path, n), os.path.join(path, "v00000001", n))


def _tree(path):
    """Every file under ``path`` with its bytes, keyed by relative path."""
    import os

    out = {}
    for r, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(r, f), "rb") as fh:
                out[os.path.relpath(os.path.join(r, f), path)] = fh.read()
    return out


def test_metrics_store_versioned_lifecycle_parity(spark, tmp_path):
    """upsert / replace / compact produce the facts a plain-Python
    per-key sum predicts, each write commits a new immutable version,
    and a reader pinned to the previous version keeps its complete
    snapshot through the next upsert."""
    ver = MetricsStore(spark, str(tmp_path / "ver"))

    b1 = _batch(spark, ["2024-01-01", "2024-01-02"])
    ver.store(b1)
    assert fs.latest_version(spark, ver.path) == "v00000001"
    assert ver.exists() and _rows(ver.read()) == _rows(b1)

    # reader snapshot: pin v1's root, then upsert (which re-sums an
    # existing day AND adds a new one) — v1 must stay byte-complete
    v1_root = ver._root()
    v1_count = spark.read.parquet(v1_root).count()
    b2 = _batch(spark, ["2024-01-02", "2024-01-03"], base=100)
    ver.store(b2)
    assert fs.latest_version(spark, ver.path) == "v00000002"
    assert spark.read.parquet(v1_root).count() == v1_count  # snapshot intact
    assert _stored_sums(ver) == _sums(b1, b2)

    # replace-by-day: b1's days are b1 again, b2's other day survives
    ver.store_idempotent_replace(b1)
    assert fs.latest_version(spark, ver.path) == "v00000003"
    want = _sums(b1, b2.filter("date = '2024-01-03'"))
    assert _stored_sums(ver) == want
    replaced = _rows(ver.read())

    before, after = ver.compact()
    assert fs.latest_version(spark, ver.path) == "v00000004"
    assert before >= after > 0
    assert _rows(ver.read()) == replaced


def test_metrics_store_flat_migrates_on_first_versioned_write(spark, tmp_path):
    """A store in the old flat layout is refused by a write, which
    commits nothing.  Once its children are moved into ``v00000001`` by
    hand, the next write commits v2 over the prior facts and the root
    holds only version dirs."""
    path = str(tmp_path / "mig")
    legacy = _batch(spark, ["2024-02-01"])
    _legacy_flat_write(legacy, path)
    store = MetricsStore(spark, path)
    with pytest.raises(ValueError, match=_MIGRATE):
        store.store(_batch(spark, ["2024-02-02"]))
    assert fs.latest_version(spark, path) is None

    _move_into_v1(path)
    store.store(_batch(spark, ["2024-02-02"]))
    assert fs.latest_version(spark, path) == "v00000002"
    assert all(fs._is_version_name(n) for n in fs.list_child_names(spark, path))
    assert {r["date"] for r in store.read().select("date").distinct().collect()} == {
        "2024-02-01", "2024-02-02"
    }
    assert _rows(store.read().filter("date = '2024-02-01'")) == _rows(legacy)


def test_metrics_store_rejects_unversioned_flag(spark, tmp_path):
    """The layout is not a choice: ``versioned=False`` is refused."""
    with pytest.raises(ValueError, match="versioned=False"):
        MetricsStore(spark, str(tmp_path / "s"), versioned=False)


def test_metrics_store_reader_keeps_its_snapshot_through_an_upsert(
    spark, tmp_path
):
    """A frame built by read() before an upsert that rewrites some of
    its days still collects the pre-upsert rows: the upsert commits a
    new version instead of deleting the files the frame listed."""
    store = MetricsStore(spark, str(tmp_path / "facts"))
    store.store(_batch(spark, ["2024-03-01", "2024-03-02", "2024-03-03"]))
    df = store.read()
    want = _rows(store.read())

    store.store(_batch(spark, ["2024-03-02", "2024-03-03"], base=50))
    assert _rows(df) == want
    assert _rows(store.read()) != want


def test_every_metrics_store_write_commits_one_version(spark, tmp_path):
    """upsert, append, replace, compact and fold_stream_log each advance
    the store by exactly one committed version."""
    store = MetricsStore(spark, str(tmp_path / "facts"))
    log = str(tmp_path / "log")
    (
        _batch(spark, ["2024-04-03"], base=7)
        .withColumn("stream_id", F.lit("s1"))
        .withColumn("batch_id", F.lit(0).cast("long"))
        .write.partitionBy("stream_id", "batch_id")
        .parquet(log)
    )

    def version():
        v = fs.latest_version(spark, store.path)
        return 0 if v is None else int(v[1:])

    writes = [
        ("upsert", lambda: store.store(_batch(spark, ["2024-04-01"]))),
        ("upsert", lambda: store.store(_batch(spark, ["2024-04-01"]))),
        (
            "append",
            lambda: store.store(_batch(spark, ["2024-04-02"]), mode="append"),
        ),
        (
            "replace",
            lambda: store.store_idempotent_replace(
                _batch(spark, ["2024-04-02"], base=3)
            ),
        ),
        ("compact", store.compact),
        ("fold_stream_log", lambda: store.fold_stream_log(log)),
    ]
    for name, write in writes:
        before = version()
        write()
        assert version() == before + 1, name
    assert version() == len(writes)


def test_metrics_store_read_starts_no_job(spark, tmp_path, jobs_started):
    """read() scans with the declared fact schema: building the frame
    starts no Spark job, yet it returns the same rows and dtypes as a
    read that infers the schema from the parquet footers.  Checked on a
    store whose current version carries the hidden stream-fold
    ledger."""
    from admira_etl_project_prueba_spark.schemas import METRICS_SCHEMA

    ver = MetricsStore(spark, str(tmp_path / "ver"))
    ver.store(_batch(spark, ["2024-01-02", "2024-01-03"]))
    log = str(tmp_path / "log")
    (
        _batch(spark, ["2024-01-03"], base=7)
        .withColumn("stream_id", F.lit("s1"))
        .withColumn("batch_id", F.lit(0).cast("long"))
        .write.partitionBy("stream_id", "batch_id")
        .parquet(log)
    )
    assert ver.fold_stream_log(log) == 1
    assert fs.dir_nonempty(spark, f"{ver._root()}/{ver._LEDGER}")

    df, jobs = jobs_started(spark, ver.read)
    assert jobs == []
    inferred, inferred_jobs = jobs_started(
        spark,
        lambda: spark.read.parquet(ver._root()).select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in METRICS_SCHEMA.fields
            ]
        ),
    )
    assert inferred_jobs  # the probe does see a schema-inference job
    assert df.dtypes == inferred.dtypes
    assert _rows(df) == _rows(inferred)


def test_metrics_store_read_resolves_the_root_once(spark, tmp_path, monkeypatch):
    """read() and exists() resolve the current version exactly once per
    call (one ``fs.latest_version`` listing), on an absent store and on a
    written one."""
    calls = []
    latest = fs.latest_version

    def counting(spark_, root):
        calls.append(root)
        return latest(spark_, root)

    monkeypatch.setattr(fs, "latest_version", counting)
    store = MetricsStore(spark, str(tmp_path / "facts"))
    for written in (False, True):
        if written:
            store.store(_batch(spark, ["2024-01-01"]))
        for probe in (store.read, store.exists):
            calls.clear()
            probe()
            assert len(calls) == 1, (written, probe.__name__, calls)


def test_metrics_store_upsert_resolves_the_root_once(spark, tmp_path, monkeypatch):
    """An upsert into a written store resolves the current version once
    under its lease — the stored-days read and the carried-forward
    ledger use that root — and ``commit_version`` lists once more to
    name the next version: two ``fs.latest_version`` listings."""
    calls = []
    latest = fs.latest_version

    def counting(spark_, root):
        calls.append(root)
        return latest(spark_, root)

    store = MetricsStore(spark, str(tmp_path / "facts"))
    b1, b2 = _batch(spark, ["2024-01-01"]), _batch(spark, ["2024-01-01", "2024-01-02"])
    store.store(b1)
    monkeypatch.setattr(fs, "latest_version", counting)
    store.store(b2)
    assert len(calls) == 2, calls
    assert _stored_sums(store) == _sums(b1, b2)


def test_stream_fold_ledger_read_starts_only_its_collect_job(
    spark, tmp_path, jobs_started
):
    """stream_fold_ledger scans with the declared superset of both
    ledger formats, so reading it starts exactly one Spark job (the
    collect) — for the bounded format and for a legacy one-``key``-per-
    batch ledger alike."""
    store = MetricsStore(spark, str(tmp_path / "ver"))
    store.store(_batch(spark, ["2024-01-02"]))
    log = str(tmp_path / "log")
    for b in (0, 1, 3):
        (
            _batch(spark, ["2024-01-03"], base=b)
            .withColumn("stream_id", F.lit("s1"))
            .withColumn("batch_id", F.lit(b).cast("long"))
            .write.mode("append")
            .partitionBy("stream_id", "batch_id")
            .parquet(log)
        )
    assert store.fold_stream_log(log) == 3

    ledger, jobs = jobs_started(spark, store.stream_fold_ledger)
    assert ledger == {"s1": (1, frozenset({3}))}
    assert len(jobs) == 1

    spark.createDataFrame(
        [("s1:0",), ("s1:1",), ("s2:0",)], "key string"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{store._root()}/{store._LEDGER}"
    )
    ledger, jobs = jobs_started(spark, store.stream_fold_ledger)
    assert ledger == {"s1": (1, frozenset()), "s2": (0, frozenset())}
    assert len(jobs) == 1


# ---------------------------------------------------------------------------
# Histogram store
# ---------------------------------------------------------------------------


def _events(spark, n, shift=0):
    return spark.createDataFrame(
        [(i, "click" if i % 2 else "view", float((i * 7 + shift) % 400)) for i in range(n)],
        "event_id long, event_type string, value double",
    )


def test_fold_whole_store_flat_migration_sweeps_remnants(spark, tmp_path):
    """fold_whole_store on a legacy flat payload refuses before it
    builds or writes anything: the flat files stay byte-identical and no
    version appears.  After the hand migration into ``v00000001`` the
    fold consumes those rows, commits v2, and the root holds only
    version dirs, with the content a from-scratch build gives."""
    path = str(tmp_path / "mig_fold")
    a, b = _events(spark, 50), _events(spark, 30, shift=13)
    # the legacy flat layout: the payload directly under the path
    sk.value_histogram(a).coalesce(1).write.parquet(path)
    flat_rows = _rows(spark.read.parquet(path))
    flat_files = _tree(path)

    seen = {}
    def build(prev):
        seen["prev"] = None if prev is None else _rows(prev)
        delta = sk.value_histogram(b)
        return (
            prev.unionByName(delta)
            .groupBy("event_type", "bin")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    with pytest.raises(ValueError, match=_MIGRATE):
        fs.fold_whole_store(spark, path, build)
    assert seen == {}
    assert _tree(path) == flat_files
    assert fs.latest_version(spark, path) is None

    _move_into_v1(path)
    fs.fold_whole_store(spark, path, build)
    assert seen["prev"] == flat_rows  # the fold consumed the migrated payload
    assert sorted(fs.list_child_names(spark, path)) == ["v00000001", "v00000002"]
    # merged content == from-scratch over the union
    rebuilt = str(tmp_path / "mig_rebuilt")
    sk.write_histogram_store(
        _events(spark, 50).unionByName(_events(spark, 30, shift=13)), rebuilt
    )
    assert _rows(sk.quantiles_from_store(spark, path)) == _rows(
        sk.quantiles_from_store(spark, rebuilt)
    )
    # a FIRST write commits v1 directly
    fresh = str(tmp_path / "mig_fresh")
    sk.write_histogram_store(a, fresh)
    assert fs.latest_version(spark, fresh) == "v00000001"


def test_histogram_store_versioned_merge_parity(spark, tmp_path):
    ver = str(tmp_path / "hver")
    a, b = _events(spark, 200), _events(spark, 150, shift=13)
    sk.write_histogram_store(a, ver)
    assert fs.latest_version(spark, ver) == "v00000001"
    v1_root = fs.resolve_store_root(spark, ver)
    v1 = _rows(spark.read.parquet(v1_root))
    assert v1 == _rows(sk.value_histogram(a))

    sk.merge_histogram_store(spark, ver, b)
    assert fs.latest_version(spark, ver) == "v00000002"
    # the pinned v1 snapshot is untouched by the merge
    assert _rows(spark.read.parquet(v1_root)) == v1
    # merged store == from-scratch over the union, bin for bin
    assert _rows(
        spark.read.parquet(fs.resolve_store_root(spark, ver))
    ) == _rows(sk.value_histogram(a.unionByName(b)))
    rebuilt = str(tmp_path / "hrebuilt")
    sk.write_histogram_store(a.unionByName(b), rebuilt)
    assert _rows(sk.quantiles_from_store(spark, ver)) == _rows(
        sk.quantiles_from_store(spark, rebuilt)
    )


# ---------------------------------------------------------------------------
# LM count store
# ---------------------------------------------------------------------------


def _docs(spark, n, tag=""):
    return spark.createDataFrame(
        [(i, f"alpha beta{tag} gamma doc{i} text body", "en", "s") for i in range(n)],
        "doc_id long, text string, lang string, source string",
    )


def test_lm_counts_versioned_merge_parity(spark, tmp_path):
    ver, rebuilt = str(tmp_path / "lmver"), str(tmp_path / "lmrebuilt")
    ref, batch, score_me = _docs(spark, 30), _docs(spark, 20, tag="x"), _docs(spark, 5)
    tx.write_lm_counts(ref, ver)
    assert fs.latest_version(spark, ver) == "v00000001"
    v1_root = fs.resolve_store_root(spark, ver)
    n_v1 = spark.read.parquet(v1_root).count()

    tx.merge_lm_counts(spark, ver, batch)
    assert fs.latest_version(spark, ver) == "v00000002"
    assert spark.read.parquet(v1_root).count() == n_v1  # snapshot intact
    # merged counts == a from-scratch build over the union
    assert _rows(
        spark.read.parquet(fs.resolve_store_root(spark, ver))
    ) == _rows(tx.lm_counts(ref.unionByName(batch)))
    tx.write_lm_counts(ref.unionByName(batch), rebuilt)
    assert _rows(tx.lm_scores_from_counts(spark, score_me, ver)) == _rows(
        tx.lm_scores_from_counts(spark, score_me, rebuilt)
    )
    with pytest.raises(ValueError, match="no LM count store"):
        tx.merge_lm_counts(spark, str(tmp_path / "absent"), batch)


# ---------------------------------------------------------------------------
# LSH signature store
# ---------------------------------------------------------------------------


def test_lsh_store_versioned_merge_parity(spark, sf_dir, tmp_path):
    """Path-managed LSH store: write + merge equal the frame-level
    lsh_signature_store/lsh_store_merge pipeline, the merge commits a
    new snapshot (old one intact), and the incremental-pairs serving
    wrapper matches the frame form."""
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    ver = str(tmp_path / "lshver")

    tx.write_lsh_store(a, ver)
    assert fs.latest_version(spark, ver) == "v00000001"
    want_v1 = _rows(tx.lsh_signature_store(a))
    assert _rows(tx.read_lsh_store(spark, ver)) == want_v1
    v1_root = fs.resolve_store_root(spark, ver)

    tx.merge_lsh_store(spark, ver, b)
    assert fs.latest_version(spark, ver) == "v00000002"
    assert _rows(spark.read.parquet(v1_root)) == want_v1  # snapshot intact
    want_merged = _rows(tx.lsh_store_merge(tx.lsh_signature_store(a), b))
    assert _rows(tx.read_lsh_store(spark, ver)) == want_merged

    probe = docs.filter("doc_id % 7 = 3")
    got = _rows(tx.lsh_incremental_pairs_from_store(spark, probe, ver))
    want = _rows(
        tx.lsh_incremental_pairs(probe, tx.lsh_store_merge(tx.lsh_signature_store(a), b))
    )
    assert got == want


# ---------------------------------------------------------------------------
# Streaming sketch stores
# ---------------------------------------------------------------------------


def test_stream_sketch_folds_and_compaction_commit_versions(spark, tmp_path):
    """Each stream_token_sketch fold commits the store's next version,
    the replay-safe delta store's first batch commits v1 (later deltas
    land inside it), and compact_sketch_store commits the next version.
    A reader that resolved the previous version before a commit
    completes against it."""
    import json
    import os

    from admira_etl_project_prueba_spark.streaming.ingest import (
        compact_sketch_store,
        last_committed_batch_id,
        read_sketch_store,
        stream_token_sketch,
        stream_token_sketch_idempotent,
    )

    rows = [(1, "alpha beta gamma"), (2, "beta gamma delta"), (3, "gamma zeta")]
    src = tmp_path / "cms_in"
    src.mkdir()

    def add_file(i):
        with open(src / f"{i}.json", "w") as fh:
            fh.write(json.dumps({"doc_id": rows[i][0], "text": rows[i][1]}) + "\n")

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )

    def sketch(n):
        docs = spark.createDataFrame(
            [(d, t, "en") for d, t in rows[:n]],
            "doc_id long, text string, lang string",
        )
        return _rows(tx.cms_sketch(docs, depth=2, width=64))

    def version_no(path):
        return int(fs.latest_version(spark, path)[1:])

    add_file(0)
    add_file(1)
    fold, ckpt = str(tmp_path / "fold"), str(tmp_path / "fold_ckpt")
    stream_token_sketch(stream(), fold, ckpt, depth=2, width=64).awaitTermination(120)
    n_batches = last_committed_batch_id(spark, ckpt) + 1
    assert version_no(fold) == n_batches  # one version per fold
    prev = spark.read.parquet(fs.resolve_store_root(spark, fold))
    assert _rows(prev) == sketch(2)
    add_file(2)
    stream_token_sketch(stream(), fold, ckpt, depth=2, width=64).awaitTermination(120)
    assert version_no(fold) == n_batches + 1
    assert _rows(prev) == sketch(2)  # the previous version's reader completes
    assert _rows(spark.read.parquet(fs.resolve_store_root(spark, fold))) == sketch(3)

    deltas = str(tmp_path / "deltas")
    stream_token_sketch_idempotent(
        stream(), deltas, str(tmp_path / "delta_ckpt"), depth=2, width=64
    ).awaitTermination(120)
    assert fs.list_versions(spark, deltas) == ["v00000001"]
    prev = spark.read.parquet(fs.resolve_store_root(spark, deltas))
    n_prev = prev.count()
    compact_sketch_store(spark, deltas)
    assert fs.list_versions(spark, deltas) == ["v00000001", "v00000002"]
    assert prev.count() == n_prev  # the previous version's reader completes
    assert _rows(read_sketch_store(spark, deltas)) == sketch(3)
    root = fs.resolve_store_root(spark, deltas)
    assert [d for d in os.listdir(root) if d.startswith("batch_id=")] == [
        "batch_id=-1"
    ]


# ---------------------------------------------------------------------------
# Cross-store invariant sweep (round 12): every versioned-capable writer
# round-trips under resolve_store_root and GC keeps at most 2 versions
# ---------------------------------------------------------------------------


def test_index_store_builds_and_maintenance_commit_versions(
    spark, sf_dir, tmp_path
):
    """Every index store has one layout.  IVF and IVF-PQ: a default
    build, compaction and retrain (a rebuild for IVF-PQ) each commit
    exactly one new version and an append-merge adds to the current
    version.  Text and positional: a default build commits v1, and a
    merge and a compaction each commit the next version.  No
    ``path__*`` sibling (flat sidecar, lease or swap debris) and no
    ``postings__*`` child is left."""
    import os

    from admira_etl_project_prueba_spark.operators import similarity as sim
    from admira_etl_project_prueba_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base, batch = emb.filter("vec_id < 200"), emb.filter(
        "vec_id >= 200 AND vec_id < 260"
    )
    docs = _docs(spark, 30)
    d_base, d_batch = docs.filter("doc_id < 20"), docs.filter("doc_id >= 20")
    ivf, pq = str(tmp_path / "ivf"), str(tmp_path / "pq")
    txt, pos = str(tmp_path / "txt"), str(tmp_path / "pos")
    chains = {
        ivf: [
            (1, lambda: sim.write_ivf_index(base, ivf, n_centroids=8)),
            (1, lambda: sim.merge_ivf_index(spark, ivf, batch)),
            (2, lambda: sim.compact_ivf_index(spark, ivf)),
            (3, lambda: sim.retrain_ivf_index(spark, ivf, n_centroids=4)),
        ],
        pq: [
            (1, lambda: sim.write_ivfpq_index(base, pq, n_centroids=8)),
            (1, lambda: sim.merge_ivfpq_index(spark, pq, batch)),
            (2, lambda: sim.compact_ivfpq_index(spark, pq)),
            (3, lambda: sim.write_ivfpq_index(base, pq, n_centroids=4)),
        ],
        txt: [
            (1, lambda: tx.write_text_index(d_base, txt, num_buckets=8)),
            (2, lambda: tx.merge_text_index(spark, txt, d_batch, num_buckets=8)),
            (3, lambda: tx.compact_index_store(spark, txt)),
        ],
        pos: [
            (1, lambda: tx.write_positional_index(d_base, pos, num_buckets=8)),
            (2, lambda: tx.merge_positional_index(d_batch, pos, num_buckets=8)),
            (3, lambda: tx.compact_index_store(spark, pos)),
        ],
    }

    # The stores are independent, so each chain runs on its own thread;
    # the steps within a chain stay strictly ordered.
    def run_chain(path):
        for want, step in chains[path]:
            step()
            assert fs.latest_version(spark, path) == f"v{want:08d}", (path, want)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(run_chain, chains))
    assert sim.ivf_data_path(spark, ivf).endswith("v00000003/data")
    n_ivf = spark.read.parquet(sim.ivf_data_path(spark, ivf)).count()
    assert n_ivf == 260
    assert sorted(os.listdir(tmp_path)) == ["ivf", "pos", "pq", "txt"]
    for path, children in ((txt, ["postings", "stats"]), (pos, ["postings"])):
        assert sorted(fs.list_child_names(spark, path)) == ["v00000002", "v00000003"]
        root = tx.text_index_root(spark, path)
        assert sorted(os.listdir(root)) == children
    got = tx.bm25_from_index(spark, txt, ["doc3", "alpha"], num_buckets=8)
    want = tx.bm25_rank(docs, ["doc3", "alpha"])
    assert _rows(got) == _rows(want) and got.count() > 0


def test_flat_index_store_raises_rebuild_error(spark, tmp_path):
    """A root holding payload but no committed version is a store in the
    old flat layout.  The index resolvers refuse it with a ValueError
    naming the rebuild call.  An absent root, or one holding only a
    crashed first build's scratch, still reads as not written.

    The fact, histogram and CMS delta stores keep the flat layout inside
    each version: every read and write of a flat root raises the
    ValueError naming the migration, leaves the payload byte-identical
    and commits no version; once the children are moved into
    ``v00000001`` the store reads the same rows as the flat payload."""
    import os

    from admira_etl_project_prueba_spark.streaming import ingest

    from admira_etl_project_prueba_spark.corpus_service import CorpusService
    from admira_etl_project_prueba_spark.operators import similarity as sim

    flat = str(tmp_path / "flat")
    spark.createDataFrame([(1, 0)], "vec_id long, centroid_id long").write.partitionBy(
        "centroid_id"
    ).parquet(flat)
    with pytest.raises(ValueError, match="rebuild with write_ivf_index"):
        sim.ivf_resolved_paths(spark, flat)
    with pytest.raises(ValueError, match="rebuild with write_ivfpq_index"):
        sim.pq_resolved_paths(spark, flat)

    # a text or positional index root in the old flat layout
    flat_txt = str(tmp_path / "flat_txt")
    spark.createDataFrame(
        [("alpha", 1, [0], 3)], "term string, doc_id long, positions array<int>, "
        "term_bucket int"
    ).write.partitionBy("term_bucket").parquet(f"{flat_txt}/postings")
    with pytest.raises(ValueError, match="rebuild with write_text_index"):
        tx.text_index_root(spark, flat_txt)
    with pytest.raises(ValueError, match="write_positional_index"):
        tx.phrase_search_from_index(spark, flat_txt, ["alpha"])

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    for root in (str(tmp_path / "absent"), str(tmp_path / "scratch_only")):
        if root.endswith("scratch_only"):
            os.makedirs(os.path.join(root, "__building.1", "data"))
        data, manifest = sim.ivf_resolved_paths(spark, root)
        assert not fs.path_exists(spark, manifest), root
        svc = CorpusService(spark, docs, ivf_index_path=root, pq_index_path=root)
        assert svc._ivf_index_ready() is False, root
        assert svc._pq_index_ready() is False, root

    legacy = _batch(spark, ["2024-05-01", "2024-05-02"])
    facts = str(tmp_path / "flat_facts")
    _legacy_flat_write(legacy, facts)
    store = MetricsStore(spark, facts)
    log = str(tmp_path / "flat_facts_log")
    (
        _batch(spark, ["2024-05-02"], base=7)
        .withColumn("stream_id", F.lit("s1"))
        .withColumn("batch_id", F.lit(0).cast("long"))
        .write.partitionBy("stream_id", "batch_id")
        .parquet(log)
    )
    hist = str(tmp_path / "flat_hist")
    sk.value_histogram(_events(spark, 40)).coalesce(1).write.parquet(hist)
    cms = str(tmp_path / "flat_cms")
    sketch = tx.cms_sketch(
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
        ),
        depth=2,
        width=64,
    )
    sketch.withColumn("batch_id", F.lit(7).cast("long")).write.partitionBy(
        "batch_id"
    ).parquet(cms)
    svc = CorpusService(spark, docs)
    calls = {
        facts: [
            store.read,
            store.exists,
            lambda: store.store(_batch(spark, ["2024-05-03"])),
            lambda: store.store(_batch(spark, ["2024-05-03"]), mode="append"),
            lambda: store.store_idempotent_replace(_batch(spark, ["2024-05-01"])),
            store.compact,
            lambda: store.fold_stream_log(log),
        ],
        hist: [
            lambda: sk.quantiles_from_store(spark, hist),
            lambda: svc.drift_report(base=hist, current=hist),
            lambda: sk.write_histogram_store(_events(spark, 10), hist),
            lambda: sk.merge_histogram_store(spark, hist, _events(spark, 10)),
        ],
        cms: [
            lambda: ingest.read_sketch_store(spark, cms),
            lambda: ingest._write_batch_delta(
                spark, cms, sketch.withColumn("batch_id", F.lit(8).cast("long"))
            ),
            lambda: ingest.compact_sketch_store(spark, cms),
        ],
    }
    for root, refused in calls.items():
        files, want = _tree(root), _rows(spark.read.parquet(root))
        for call in refused:
            with pytest.raises(ValueError, match=_MIGRATE):
                call()
        assert _tree(root) == files, root
        assert "v00000001" not in os.listdir(root), root
        _move_into_v1(root)
        assert _rows(spark.read.parquet(fs.resolve_store_root(spark, root))) == want
    assert fs.path_exists(spark, f"{log}/stream_id=s1/batch_id=0")  # not folded
    assert _rows(store.read()) == _rows(legacy)
    assert _rows(ingest.read_sketch_store(spark, cms)) == _rows(
        sketch.groupBy("r", "bucket").agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    assert svc.drift_report(base=hist, current=hist)["n_types"] == 2


def test_every_versioned_store_gc_and_resolve_sweep(spark, sf_dir, tmp_path):
    """The invariant the last three rounds built piecemeal, pinned once
    for EVERY store: after three versioned commits (a) the root holds at
    most `keep=2` version dirs plus nothing else (no scratch leak, no
    flat remnants), (b) resolve_store_root points at the newest version,
    (c) the store's reader returns data from that snapshot."""
    from admira_etl_project_prueba_spark.operators import similarity as sim
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(80)
    emb = load_table(spark, sf_dir, "embeddings").limit(120)

    def metrics(path, i):
        MetricsStore(spark, path).store(
            _batch(spark, [f"2024-03-{i + 1:02d}"])
        )

    def histogram(path, i):
        sk.write_histogram_store(_events(spark, 40, shift=i), path)

    def lm_counts(path, i):
        tx.write_lm_counts(_docs(spark, 10 + i), path)

    def lsh(path, i):
        tx.write_lsh_store(docs.filter(f"doc_id % 3 = {i % 3}"), path)

    def ivf(path, i):
        sim.write_ivf_index(emb, path, n_centroids=8)

    def ivfpq(path, i):
        sim.write_ivfpq_index(emb, path, n_centroids=8, iters=1 + i % 2)

    def text_index(path, i):
        tx.write_text_index(_docs(spark, 20 + i), path)

    def positional(path, i):
        tx.write_positional_index(_docs(spark, 20 + i), path)

    readers = {
        "metrics": lambda p: MetricsStore(spark, p).read(),
        "histogram": lambda p: sk.quantiles_from_store(spark, p),
        "lm_counts": lambda p: spark.read.parquet(fs.resolve_store_root(spark, p)),
        "lsh": lambda p: tx.read_lsh_store(spark, p),
        "ivf": lambda p: sim.ivf_topk_from_index(spark, emb, p, k=3),
        "ivfpq": lambda p: sim.ivfpq_topk_from_index(spark, emb, p, k=3),
        "text_index": lambda p: tx.bm25_from_index(spark, p, ["alpha"], top_n=3),
        "positional": lambda p: spark.read.parquet(
            fs.resolve_store_root(spark, p) + "/postings"
        ),
    }
    writers = {
        "metrics": metrics,
        "histogram": histogram,
        "lm_counts": lm_counts,
        "lsh": lsh,
        "ivf": ivf,
        "ivfpq": ivfpq,
        "text_index": text_index,
        "positional": positional,
    }
    # The eight store types are fully independent (separate paths, and
    # set_gc_keep overrides are keyed per path), so each type's whole
    # commit→assert sequence runs on its own thread — the sequence WITHIN
    # a store stays strictly ordered, every assertion is unchanged, and
    # the latency-bound commit chains overlap (guide §2.6).
    from concurrent.futures import ThreadPoolExecutor

    def sweep_one(item):
        name, writer = item
        path = str(tmp_path / f"sweep_{name}")
        for i in range(3):
            writer(path, i)
        versions = fs.list_versions(spark, path)
        assert 1 <= len(versions) <= 2, (name, versions)
        others = [
            n for n in fs.list_child_names(spark, path)
            if not fs._is_version_name(n)
        ]
        assert others == [], (name, others)  # no scratch/flat leakage
        assert fs.resolve_store_root(spark, path).endswith(versions[-1]), name
        df = readers[name](path)
        assert df.count() > 0, name

        # GC-depth knob: a per-store set_gc_keep(path, 3) override widens
        # the reader grace window — after four commits the root holds
        # THREE versions (and still resolves to the newest); clearing the
        # override restores keep=2 on the next commit, which GCs back
        # down.  Exercised on every store type through the same writers —
        # the override lives in commit_version, below all eight of them.
        path = str(tmp_path / f"sweep_keep3_{name}")
        fs.set_gc_keep(path, 3)
        try:
            for i in range(4):
                writer(path, i)
            versions = fs.list_versions(spark, path)
            assert len(versions) == 3, (name, versions)
            assert fs.resolve_store_root(spark, path).endswith(
                versions[-1]
            ), name
            assert readers[name](path).count() > 0, name
        finally:
            fs.set_gc_keep(path, None)
        writer(path, 4)
        assert len(fs.list_versions(spark, path)) == 2, name

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(sweep_one, writers.items()))
