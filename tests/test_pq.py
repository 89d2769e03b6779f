"""Product-quantization (IVF-PQ) operator tests: codebook determinism,
planted-duplicate ADC optimality, IVF-PQ score parity, plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from admira_etl_project_prueba_spark.operators import similarity
from admira_etl_project_prueba_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def pq_store(embeddings, tmp_path_factory):
    """One default IVF-PQ store (16 lists) over ``embeddings``, built once
    for the tests that only serve from such a store; each serves a
    private copy (see ``_copy_store``), so none sees another's state."""
    path = str(tmp_path_factory.mktemp("pq_store") / "store")
    similarity.write_ivfpq_index(embeddings, path, n_centroids=16)
    return path


def _copy_store(pq_store, path):
    """Place a copy of the shared default store at ``path`` — the same
    committed version ``write_ivfpq_index(embeddings, path)`` writes."""
    import shutil

    shutil.copytree(pq_store, path)


def test_pq_codes_shape_and_range(embeddings):
    out = similarity.pq_codes(embeddings)
    n = embeddings.count()
    rows = out.collect()
    assert len(rows) == n * similarity.PQ_M
    assert all(0 <= r["code"] < similarity.PQ_KSUB for r in rows)
    assert all(0 <= r["subspace"] < similarity.PQ_M for r in rows)


def test_pq_codebooks_partitioning_invariant(embeddings):
    """Decimal-exact means ⇒ bit-identical codebooks at any partitioning
    (the property that makes the trainer reproducible on a cluster)."""
    a = {
        (r["subspace"], r["code_id"], r["d"]): (r["val"], r["n_members"])
        for r in similarity.pq_codebooks(embeddings).collect()
    }
    b = {
        (r["subspace"], r["code_id"], r["d"]): (r["val"], r["n_members"])
        for r in similarity.pq_codebooks(embeddings.repartition(7)).collect()
    }
    assert a == b
    assert len(a) == similarity.PQ_M * similarity.PQ_KSUB * (
        similarity.DIM // similarity.PQ_M
    )


def _with_duplicate_of_query(embeddings, dup_id):
    """The corpus plus an exact copy of vector 0 under a new vec_id."""
    dup = (
        embeddings.filter(F.col("vec_id") == 0)
        .withColumn("vec_id", F.lit(dup_id).cast("long"))
    )
    return embeddings.unionByName(dup)


def test_planted_duplicate_wins_adc(embeddings):
    """An exact copy of the query minimizes every subspace lookup (its
    code is the argmin of the query's own distance table), so its ADC
    distance is a lower bound over the whole corpus — it must rank
    first."""
    dup_id = 1_000_000
    e = _with_duplicate_of_query(embeddings, dup_id)
    top = similarity.pq_topk(e, query_vec_id=0, k=3).collect()
    assert top[0]["vec_id"] == dup_id
    best = top[0]["adc_dist2"]
    assert all(r["adc_dist2"] >= best for r in top)


def test_ivfpq_scores_match_exhaustive_adc(embeddings):
    """IVF pruning changes WHICH vectors are scored, never their score:
    every (vec_id, adc_dist2) the composite index returns must equal the
    exhaustive-ADC value for that vector."""
    full = {
        r["vec_id"]: r["adc_dist2"]
        for r in similarity._pq_adc_scored(
            embeddings, 0, similarity.PQ_M, similarity.PQ_KSUB, 1
        ).collect()
    }
    pruned = similarity.ivfpq_topk(embeddings, query_vec_id=0, k=10).collect()
    assert 0 < len(pruned) <= 10
    for r in pruned:
        assert full[r["vec_id"]] == r["adc_dist2"]


def test_ivfpq_candidates_come_from_probed_lists(embeddings):
    """Every returned centroid_id is one of the n_probe nearest lists."""
    cents = similarity._as_double(
        embeddings.filter(F.col("vec_id") < 16), "c"
    ).selectExpr("vec_id AS centroid_id", "c")
    q = similarity._as_double(
        embeddings.filter(F.col("vec_id") == 0), "q"
    ).select("q")
    probe = {
        r["centroid_id"]
        for r in similarity.with_cosine(
            cents.crossJoin(F.broadcast(q)), "q", "c"
        )
        .orderBy(F.col("cosine").desc(), F.col("centroid_id").asc())
        .limit(4)
        .collect()
    }
    out = similarity.ivfpq_topk(embeddings, query_vec_id=0, k=10).collect()
    assert all(r["centroid_id"] in probe for r in out)


def test_pq_frozen_codebook_encode_matches_inline(embeddings):
    """Encoding an ingest batch against a frozen codebook frame gives the
    same codes as the self-training form — the store/refresh seam."""
    cb = similarity.pq_codebooks_wide(embeddings)
    inline = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in similarity.pq_codes(embeddings).collect()
    }
    frozen = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in similarity.pq_codes(embeddings, codebooks=cb).collect()
    }
    assert inline == frozen


def test_ivfpq_index_roundtrip_and_prunes(spark, embeddings, pq_store, tmp_path):
    """A persisted write_ivfpq_index store serves the exact same top-k as
    the self-computing form, and the probe reaches the code scan as a
    static partition filter naming exactly the n_probe probed lists —
    query I/O is pruned 4-byte codes."""
    import os
    import re

    path = str(tmp_path / "ivfpq_index")
    _copy_store(pq_store, path)
    codes_path = similarity.pq_resolved_paths(spark, path)[0]
    assert sorted(
        d for d in os.listdir(codes_path) if d.startswith("centroid_id=")
    ) == [f"centroid_id={i}" for i in sorted(range(16), key=str)]
    inline = similarity.ivfpq_topk(embeddings, k=10).collect()
    served_df = similarity.ivfpq_topk_from_index(spark, embeddings, path, k=10)
    served = served_df.collect()
    assert [(r["vec_id"], r["adc_dist2"]) for r in served] == [
        (r["vec_id"], r["adc_dist2"]) for r in inline
    ]
    plan = served_df._jdf.queryExecution().executedPlan().toString()
    filters = re.findall(
        r"PartitionFilters: \[centroid_id#\d+ IN \(([\d,]+)\)\]", plan
    )
    assert filters
    assert all(len(f.split(",")) == 4 for f in filters)  # n_probe=4
    assert "dynamicpruning" not in plan


def test_ivfpq_index_versioned_commit_is_atomic(spark, embeddings, tmp_path):
    """Every build commits codes+codebooks+manifest in ONE immutable
    version directory: a reader resolving the store mid-rewrite
    sees either the old complete triple or the new one, never a torn
    state; a second write supersedes the first version."""
    from admira_etl_project_prueba_spark.functions import fs as _fs

    path = str(tmp_path / "ivfpq_versioned")
    similarity.write_ivfpq_index(embeddings, path)
    assert _fs.latest_version(spark, path) == "v00000001"
    codes1, cb1, cent1, man1 = similarity.pq_resolved_paths(spark, path)
    assert codes1.endswith("v00000001/codes")
    r1 = similarity.ivfpq_topk_from_index(spark, embeddings, path).collect()
    similarity.write_ivfpq_index(embeddings, path)
    assert _fs.latest_version(spark, path) == "v00000002"
    r2 = similarity.ivfpq_topk_from_index(spark, embeddings, path).collect()
    assert [(r["vec_id"], r["adc_dist2"]) for r in r1] == [
        (r["vec_id"], r["adc_dist2"]) for r in r2
    ]
    # a reader that resolved v1 before the second commit still completes
    # against its snapshot (GC keeps current+previous)
    assert spark.read.parquet(codes1).count() == embeddings.count() * 4


def _split_corpus_for_merge(embeddings):
    """(base, batch): the corpus split so the batch is disjoint from the
    model seed ranges — base keeps the low vec_ids the models train on."""
    n = embeddings.count()
    cut = n - max(1, n // 5)
    base = embeddings.filter(F.col("vec_id") < cut)
    batch = embeddings.filter(F.col("vec_id") >= cut)
    return base, batch


def test_ivfpq_merge_equals_frozen_union_encode(spark, embeddings, tmp_path):
    """merge_ivfpq_index(store(base), batch) must equal encoding the full
    union against base's FROZEN models — the FAISS merge contract (drift
    is retrain's job, never the append's)."""
    base, batch = _split_corpus_for_merge(embeddings)
    path = str(tmp_path / "ivfpq_merge")
    similarity.write_ivfpq_index(base, path, n_centroids=16)
    similarity.merge_ivfpq_index(spark, path, batch)
    merged = {
        (r["vec_id"], r["subspace"]): (r["code"], r["centroid_id"])
        for r in spark.read.parquet(
            similarity.pq_resolved_paths(spark, path)[0]
        ).collect()
    }
    cb = similarity.pq_codebooks_wide(base)
    cents = similarity._as_double(
        base.filter(F.col("vec_id") < 16), "q"
    ).selectExpr("vec_id AS centroid_id", "q")
    assign = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity._kmeans_assign(embeddings, cents)
        .select("vec_id", "centroid_id")
        .collect()
    }
    expected = {
        (r["vec_id"], r["subspace"]): (r["code"], assign[r["vec_id"]])
        for r in similarity.pq_codes(embeddings, codebooks=cb).collect()
    }
    assert merged == expected


def test_ivfpq_merge_rejects_seed_range_and_missing_manifest(
    spark, embeddings, tmp_path
):
    base, _ = _split_corpus_for_merge(embeddings)
    path = str(tmp_path / "ivfpq_guard")
    similarity.write_ivfpq_index(base, path, n_centroids=16)
    with pytest.raises(ValueError, match="seed range"):
        similarity.merge_ivfpq_index(
            spark, path, embeddings.filter(F.col("vec_id") < 16)
        )
    with pytest.raises(ValueError, match="manifest"):
        similarity.merge_ivfpq_index(
            spark, str(tmp_path / "not_a_store"), base
        )


def test_ivfpq_merged_store_serves_batch_vectors(spark, embeddings, tmp_path):
    """After a merge, a query whose true nearest neighbour arrived in the
    batch finds it through the persisted store."""
    base, batch = _split_corpus_for_merge(embeddings)
    path = str(tmp_path / "ivfpq_serve")
    similarity.write_ivfpq_index(base, path)
    similarity.merge_ivfpq_index(spark, path, batch)
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    n = embeddings.count()
    out = similarity.ivfpq_topk_from_index(
        spark, embeddings, path, query_vec_id=0, k=n, n_probe=16
    ).collect()
    assert batch_ids <= {r["vec_id"] for r in out}


def test_stream_pq_encode_fold_matches_direct_merge(spark, embeddings, tmp_path):
    """Streamed encode log + leased fold == direct merge_ivfpq_index,
    row-for-row; a re-fold of a stale log copy (the crash-between-append-
    and-cleanup window) no-ops via the anti-join instead of duplicating."""
    import json
    import shutil

    from admira_etl_project_prueba_spark.streaming.ingest import (
        fold_encoded_codes,
        stream_pq_encode,
    )

    base, batch = _split_corpus_for_merge(embeddings)
    streamed = str(tmp_path / "pq_streamed")
    direct = str(tmp_path / "pq_direct")
    similarity.write_ivfpq_index(base, streamed)
    similarity.write_ivfpq_index(base, direct)
    similarity.merge_ivfpq_index(spark, direct, batch)

    src = tmp_path / "pq_in"
    src.mkdir()
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]], r["label"])
        for r in batch.collect()
    ]
    half = len(rows) // 2
    for fname, chunk in (("a.json", rows[:half]), ("b.json", rows[half:])):
        with open(src / fname, "w") as fh:
            for vid, emb, lab in chunk:
                fh.write(
                    json.dumps(
                        {"vec_id": vid, "embedding": emb, "label": lab}
                    )
                    + "\n"
                )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    log = str(tmp_path / "pq_log")
    q = stream_pq_encode(stream, streamed, log, str(tmp_path / "pq_ckpt"))
    q.awaitTermination(120)
    stale_copy = str(tmp_path / "pq_log_stale")
    shutil.copytree(log, stale_copy)
    n = fold_encoded_codes(spark, streamed, log)
    assert n == len(rows)
    # cleanup is PER-BATCH, never a whole-directory delete: the log root
    # survives (a micro-batch landing mid-fold would land here and be
    # drained by the next fold instead of destroyed)
    import os

    assert os.path.isdir(log)
    assert not [d for d in os.listdir(log) if d.startswith("batch_id=")]
    # a late batch re-delivered under a NEW batch id drains idempotently
    shutil.copytree(
        os.path.join(stale_copy, "batch_id=0"),
        os.path.join(log, "batch_id=7"),
    )
    assert fold_encoded_codes(spark, streamed, log) == 0
    assert not [d for d in os.listdir(log) if d.startswith("batch_id=")]

    def snapshot(path):
        return {
            (r["vec_id"], r["subspace"]): (r["code"], r["centroid_id"])
            for r in spark.read.parquet(
                similarity.pq_resolved_paths(spark, path)[0]
            ).collect()
        }

    assert snapshot(streamed) == snapshot(direct)
    # crash-window replay: fold the stale copy — anti-join must no-op
    assert fold_encoded_codes(spark, streamed, stale_copy) == 0
    assert snapshot(streamed) == snapshot(direct)


def _stream_batch_to_log(spark, tmp_path, batch_rows, index_path, tag):
    """Stream-encode ``batch_rows`` against ``index_path``'s frozen
    models into a fresh log directory; returns the log path."""
    import json

    from admira_etl_project_prueba_spark.streaming.ingest import (
        stream_pq_encode,
    )

    src = tmp_path / f"pq_in_{tag}"
    src.mkdir()
    with open(src / "batch.json", "w") as fh:
        for vid, emb, lab in batch_rows:
            fh.write(
                json.dumps({"vec_id": vid, "embedding": emb, "label": lab})
                + "\n"
            )
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>, label int"
    ).json(str(src))
    log = str(tmp_path / f"pq_log_{tag}")
    q = stream_pq_encode(stream, index_path, log, str(tmp_path / f"ck_{tag}"))
    q.awaitTermination(120)
    return log


def test_fold_model_stamp_guards_retrain(spark, embeddings, tmp_path):
    """The encode log's model fingerprint distinguishes harmless store
    maintenance from a retrain: compaction (same model content, new
    version name) does NOT invalidate a pending log, while a retrain
    (new codebooks) makes the fold skip — or, with on_stale='discard',
    delete — the stale batches instead of planting codes that no longer
    match the store's codebooks."""
    import os

    from admira_etl_project_prueba_spark.streaming.ingest import (
        fold_encoded_codes,
    )

    base, batch = _split_corpus_for_merge(embeddings)
    path = str(tmp_path / "pq_stamped")
    similarity.write_ivfpq_index(base, path)
    fp1 = similarity.pq_model_fingerprint(spark, path)
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]], r["label"])
        for r in batch.collect()
    ]

    # encode, then COMPACT: version name flips, model content does not —
    # the pending log must still fold
    log1 = _stream_batch_to_log(spark, tmp_path, rows, path, "pre_compact")
    assert (
        spark.read.parquet(log1).select("model_fp").distinct().collect()[0][0]
        == fp1
    )
    similarity.compact_ivfpq_index(spark, path)
    assert similarity.pq_model_fingerprint(spark, path) == fp1
    assert fold_encoded_codes(spark, path, log1) == len(rows)

    # encode, then RETRAIN (iters=2 ⇒ different codebooks): the pending
    # log is stale — skip leaves it, discard deletes it, neither folds
    log2 = _stream_batch_to_log(spark, tmp_path, rows, path, "pre_retrain")
    similarity.write_ivfpq_index(base, path, iters=2)
    fp2 = similarity.pq_model_fingerprint(spark, path)
    assert fp2 != fp1
    assert fold_encoded_codes(spark, path, log2) == 0
    assert [d for d in os.listdir(log2) if d.startswith("batch_id=")]
    assert fold_encoded_codes(spark, path, log2, on_stale="discard") == 0
    assert not [d for d in os.listdir(log2) if d.startswith("batch_id=")]
    codes_path = similarity.pq_resolved_paths(spark, path)[0]
    batch_ids = {vid for vid, _, _ in rows}
    assert not (
        batch_ids
        & {r["vec_id"] for r in spark.read.parquet(codes_path).collect()}
    )

    # a FRESH encode against the retrained models folds normally
    log3 = _stream_batch_to_log(spark, tmp_path, rows, path, "post_retrain")
    assert fold_encoded_codes(spark, path, log3) == len(rows)


def test_fold_mixed_legacy_and_stamped_log(spark, embeddings, tmp_path):
    """A log holding PRE-UPGRADE unstamped batches next to stamped ones
    (the mid-upgrade state): without mergeSchema the read takes one
    random file's schema — legacy rows either fold unguarded or read as
    null model_fp and get classified STALE (never folded, or deleted
    under discard).  The contract: null model_fp = legacy = fold
    unconditionally, and legacy batches are NEVER in the discard set."""
    import os

    from admira_etl_project_prueba_spark.streaming.ingest import (
        fold_encoded_codes,
    )

    base, batch = _split_corpus_for_merge(embeddings)
    path = str(tmp_path / "pq_mixed")
    similarity.write_ivfpq_index(base, path)
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]], r["label"])
        for r in batch.collect()
    ]
    assert len(rows) >= 3
    g0, g1, g2 = rows[0::3], rows[1::3], rows[2::3]
    logs = [
        _stream_batch_to_log(spark, tmp_path, g, path, f"mix{i}")
        for i, g in enumerate((g0, g1, g2))
    ]
    mixed = str(tmp_path / "pq_log_mixed")
    # batch 0: legacy (model_fp column absent from its files entirely)
    (
        spark.read.parquet(logs[0])
        .drop("model_fp")
        .withColumn("batch_id", F.lit(0).cast("long"))
        .write.mode("append")
        .partitionBy("batch_id")
        .parquet(mixed)
    )
    # batch 1: stamped with the CURRENT fingerprint
    (
        spark.read.parquet(logs[1])
        .withColumn("batch_id", F.lit(1).cast("long"))
        .write.mode("append")
        .partitionBy("batch_id")
        .parquet(mixed)
    )
    # batch 2: stamped with a STALE fingerprint (pre-retrain encode)
    (
        spark.read.parquet(logs[2])
        .withColumn("model_fp", F.lit("stale.stale.0"))
        .withColumn("batch_id", F.lit(2).cast("long"))
        .write.mode("append")
        .partitionBy("batch_id")
        .parquet(mixed)
    )

    # skip: legacy + current fold; stale stays in the log
    assert fold_encoded_codes(spark, path, mixed) == len(g0) + len(g1)
    assert sorted(
        d for d in os.listdir(mixed) if d.startswith("batch_id=")
    ) == ["batch_id=2"]
    codes_path = similarity.pq_resolved_paths(spark, path)[0]
    folded = {
        r["vec_id"] for r in spark.read.parquet(codes_path).collect()
    }
    assert {vid for vid, _, _ in g0} <= folded
    assert {vid for vid, _, _ in g1} <= folded
    assert not ({vid for vid, _, _ in g2} & folded)

    # discard: the stale batch is deleted, nothing new folds — and the
    # (already-folded) legacy batch was never a discard candidate
    assert fold_encoded_codes(spark, path, mixed, on_stale="discard") == 0
    assert not [d for d in os.listdir(mixed) if d.startswith("batch_id=")]


def test_stamp_pinned_to_encoded_snapshot(spark, embeddings, tmp_path):
    """TOCTOU guard: the stamp must fingerprint the SAME resolved model
    snapshot the batch was encoded against, not the store's current
    version — a retrain committing between resolve and stamp would
    otherwise mark old-model codes with the NEW fingerprint, defeating
    the guard.  Pin by equality: fingerprint-from-resolved-paths of the
    old version stays the old fingerprint after a retrain commits."""
    base, _ = _split_corpus_for_merge(embeddings)
    path = str(tmp_path / "pq_toctou")
    similarity.write_ivfpq_index(base, path)
    _, cb1, cent1, _ = similarity.pq_resolved_paths(spark, path)
    fp1 = similarity.pq_model_fingerprint(spark, path)
    assert (
        similarity.pq_model_fingerprint_from_paths(spark, cb1, cent1) == fp1
    )
    # retrain commits a NEW version: the store fingerprint moves, the
    # pinned-snapshot fingerprint (what the encode stamps) does not
    similarity.write_ivfpq_index(base, path, iters=2)
    assert similarity.pq_model_fingerprint(spark, path) != fp1
    assert (
        similarity.pq_model_fingerprint_from_paths(spark, cb1, cent1) == fp1
    )


def test_fold_retries_on_vanished_partition(
    spark, embeddings, tmp_path, monkeypatch
):
    """The unleased-stream-vs-leased-fold race (a replayed micro-batch's
    dynamic partition overwrite deleting a file the fold pinned): the
    fold must re-pin and retry on the FileNotFound signature instead of
    failing — content is deterministic and the anti-join makes the
    retry safe.  Non-FNF errors still propagate."""
    from admira_etl_project_prueba_spark.streaming import ingest as ing

    base, batch = _split_corpus_for_merge(embeddings)
    path = str(tmp_path / "pq_retry")
    similarity.write_ivfpq_index(base, path)
    rows = [
        (r["vec_id"], [float(x) for x in r["embedding"]], r["label"])
        for r in batch.collect()
    ]
    log = _stream_batch_to_log(spark, tmp_path, rows, path, "retry")

    real = ing._fold_codes_once
    calls = {"n": 0}

    def flaky(*a, **k):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError(
                "Job aborted: java.io.FileNotFoundException: "
                "File batch_id=0/part-00000.parquet does not exist"
            )
        return real(*a, **k)

    monkeypatch.setattr(ing, "_fold_codes_once", flaky)
    assert ing.fold_encoded_codes(spark, path, log) == len(rows)
    assert calls["n"] == 2

    # an unrelated failure is NOT retried
    def broken(*a, **k):
        raise RuntimeError("executor OOM")

    monkeypatch.setattr(ing, "_fold_codes_once", broken)
    with pytest.raises(RuntimeError, match="OOM"):
        ing.fold_encoded_codes(spark, path, log)


def test_ivfpq_merge_retry_noops(spark, embeddings, tmp_path):
    """Re-merging the same batch (crash-before-ack retry, or an
    accidental double submit) appends nothing: the pre-encode anti-join
    makes the merge idempotent, so ADC sums cannot silently double."""
    base, batch = _split_corpus_for_merge(embeddings)
    path = str(tmp_path / "ivfpq_idem")
    similarity.write_ivfpq_index(base, path)
    similarity.merge_ivfpq_index(spark, path, batch)

    def snapshot():
        return sorted(
            (r["vec_id"], r["subspace"], r["code"], r["centroid_id"])
            for r in spark.read.parquet(
                similarity.pq_resolved_paths(spark, path)[0]
            ).collect()
        )

    once = snapshot()
    similarity.merge_ivfpq_index(spark, path, batch)
    assert snapshot() == once
    # half-overlap: only genuinely new rows append
    half_new = batch.withColumn(
        "vec_id", F.col("vec_id") + F.lit(10_000_000)
    )
    similarity.merge_ivfpq_index(
        spark, path, batch.unionByName(half_new)
    )
    now = snapshot()
    assert len(now) == len(once) + batch.count() * similarity.PQ_M
    assert [t for t in now if t[0] < 10_000_000] == once


def test_ivfpq_manifest_records_training_contract(spark, embeddings, tmp_path):
    path = str(tmp_path / "ivfpq_manifest")
    similarity.write_ivfpq_index(
        embeddings, path, n_centroids=16, m=4, ksub=16, iters=1
    )
    man = spark.read.parquet(
        similarity.pq_resolved_paths(spark, path)[3]
    ).first()
    assert (man["n_centroids"], man["m"], man["ksub"], man["iters"]) == (
        16, 4, 16, 1
    )


def test_residual_planted_duplicate_wins(embeddings):
    """An exact copy of the query shares its coarse assignment, hence its
    residual, hence the per-subspace argmin of the query's own distance
    table — it must rank first under residual ADC too."""
    dup_id = 1_000_000
    e = _with_duplicate_of_query(embeddings, dup_id)
    top = similarity.ivfpq_residual_topk(e, query_vec_id=0, k=3).collect()
    assert top[0]["vec_id"] == dup_id


def test_residual_vs_raw_reconstruction_is_a_measurement(embeddings):
    """Both encodings produce a complete, comparable audit — the rollout
    decision is the SMALLER mean_err2 per subspace, whichever way it
    falls on a given corpus (no textbook assumption baked in)."""
    raw = {
        r["subspace"]: r["mean_err2"]
        for r in similarity.pq_reconstruction_error(embeddings).collect()
    }
    res = {
        r["subspace"]: r["mean_err2"]
        for r in similarity.pq_reconstruction_error(
            embeddings, residual=True
        ).collect()
    }
    assert set(raw) == set(res) == set(range(similarity.PQ_M))
    assert all(v > 0 for v in raw.values()) and all(
        v > 0 for v in res.values()
    )


def test_pq_reconstruction_error_improves_with_training(embeddings):
    """One Lloyd's round must not worsen the quantizer: per-subspace mean
    squared reconstruction error at iters=1 <= the raw-seed codebooks'
    (iters=0) — the k-means objective is non-increasing."""
    e0 = {
        r["subspace"]: r["mean_err2"]
        for r in similarity.pq_reconstruction_error(embeddings, iters=0).collect()
    }
    e1 = {
        r["subspace"]: r["mean_err2"]
        for r in similarity.pq_reconstruction_error(embeddings, iters=1).collect()
    }
    assert set(e0) == set(e1) == set(range(similarity.PQ_M))
    for s in e0:
        assert e1[s] <= e0[s] + 1e-12


def test_pq_recall_report_invariants(embeddings):
    """Captured counts are bounded by k and consistent with the recall
    ratios; probing ALL lists makes IVF-PQ identical to exhaustive ADC
    so the two recalls coincide.  (No ordering invariant between the
    two at smaller n_probe: pruning removes quantization-artifact
    candidates and can thereby PROMOTE true neighbours into the
    top-k, so ivfpq_recall may legitimately exceed adc_recall.)"""
    r = similarity.pq_recall_report(embeddings, k=10).first()
    assert 0 <= r["n_adc_captured"] <= 10
    assert 0 <= r["n_ivfpq_captured"] <= 10
    assert r["adc_recall"] == r["n_adc_captured"] / 10
    assert r["ivfpq_recall"] == r["n_ivfpq_captured"] / 10
    # the rerank tier re-scores the shortlist with EXACT cosine, so it
    # can only match or beat the code-only ranking it reranks
    assert r["n_rerank_captured"] >= r["n_ivfpq_captured"]
    full = similarity.pq_recall_report(embeddings, k=10, n_probe=16).first()
    assert full["n_ivfpq_captured"] == full["n_adc_captured"]


def test_similar_docs_pq_mode(spark, sf_dir, embeddings, pq_store, tmp_path):
    """/corpus/similar?mode=pq serves ranked ADC results from the
    configured IVF-PQ store; asking for pq without a ready store is a
    400, never a silent downgrade to exact."""
    from admira_etl_project_prueba_spark.corpus_service import CorpusService
    from admira_etl_project_prueba_spark.service import ValidationError as VE
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "svc_pq_index")

    svc_unconfigured = CorpusService(spark, documents=docs, embeddings=embeddings)
    with pytest.raises(VE, match="pq_index_path"):
        svc_unconfigured.similar_docs(vec_id=0, mode="pq")

    svc = CorpusService(
        spark, documents=docs, embeddings=embeddings, pq_index_path=path
    )
    with pytest.raises(VE, match="not written"):
        svc.similar_docs(vec_id=0, mode="pq")
    with pytest.raises(VE, match="invalid mode"):
        svc.similar_docs(vec_id=0, mode="hnsw")

    _copy_store(pq_store, path)
    r = svc.similar_docs(vec_id=0, k=5, mode="pq")
    assert r["method"] == "ivfpq_index" and r["query"] == 0
    assert len(r["data"]) == 5
    dists = [row["adc_dist2"] for row in r["data"]]
    assert dists == sorted(dists)
    assert all(row["vec_id"] != 0 for row in r["data"])
    expected = similarity.ivfpq_topk(embeddings, query_vec_id=0, k=5).collect()
    assert [row["vec_id"] for row in r["data"]] == [
        e["vec_id"] for e in expected
    ]
    # mode=auto unchanged: exact fallback without an IVF index
    auto = svc.similar_docs(vec_id=0, k=3)
    assert auto["method"] == "exact" and "cosine" in auto["data"][0]
    # mode=pq_rerank: exact-cosine ranking over the code shortlist at
    # the MEASURED serving config — occupancy-derived depth (reported
    # in the envelope) and SERVING_N_PROBE, so behavior pins to the
    # dashboard's recommended_rerank_depth rather than a magic 50
    rr = svc.similar_docs(vec_id=0, k=5, mode="pq_rerank")
    assert rr["method"] == "ivfpq_rerank_index" and len(rr["data"]) == 5
    assert rr["rerank_depth"] == similarity.recommended_rerank_depth(
        spark, path
    )
    cosines = [row["cosine"] for row in rr["data"]]
    assert cosines == sorted(cosines, reverse=True)
    want = similarity.ivfpq_rerank_from_index(
        spark, embeddings, path, query_vec_id=0, k=5,
        shortlist=rr["rerank_depth"], n_probe=similarity.SERVING_N_PROBE,
    ).collect()
    assert [row["vec_id"] for row in rr["data"]] == [
        w["vec_id"] for w in want
    ]


def test_similar_by_vector_external_query(spark, sf_dir, embeddings, pq_store, tmp_path):
    """The external-embedding serving path (POST /corpus/similar body):
    validation 400s, exact/pq/pq_rerank parity with the literal-query
    operators, and the planted-copy invariant — an external query equal
    to a stored vector finds that vector first (the literal is NOT
    excluded as a self-match)."""
    from admira_etl_project_prueba_spark.corpus_service import CorpusService
    from admira_etl_project_prueba_spark.service import ValidationError as VE
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    qv = [float(x) for x in
          embeddings.filter(F.col("vec_id") == 7).first()["embedding"]]

    svc = CorpusService(spark, documents=docs, embeddings=embeddings)
    for bad in ([0.5] * 3, "nope", [0.5] * 63 + ["x"], None):
        with pytest.raises(VE, match="query_vec"):
            svc.similar_by_vector(bad)
    with pytest.raises(VE, match="invalid mode"):
        svc.similar_by_vector(qv, mode="hnsw")

    # exact fallback: the planted copy of vector 7 ranks it first
    r = svc.similar_by_vector(qv, k=5)
    assert r["method"] == "exact_queryvec" and r["query"] == "external"
    assert r["data"][0]["vec_id"] == 7
    assert r["data"][0]["cosine"] == pytest.approx(1.0, abs=1e-9)

    path = str(tmp_path / "svc_pq_qv")
    _copy_store(pq_store, path)
    svc = CorpusService(
        spark, documents=docs, embeddings=embeddings, pq_index_path=path
    )
    r = svc.similar_by_vector(qv, k=5, mode="pq")
    assert r["method"] == "ivfpq_index_queryvec"
    want = similarity.ivfpq_topk_from_index(
        spark, embeddings, path, k=5, query_vec=qv
    ).collect()
    assert [row["vec_id"] for row in r["data"]] == [w["vec_id"] for w in want]
    assert 7 in {row["vec_id"] for row in r["data"]}  # planted copy found

    rr = svc.similar_by_vector(qv, k=5, mode="pq_rerank")
    assert rr["method"] == "ivfpq_rerank_index_queryvec"
    assert rr["data"][0]["vec_id"] == 7
    assert rr["data"][0]["cosine"] == pytest.approx(1.0, abs=1e-9)
    # the served depth is the occupancy-derived recommendation
    assert rr["rerank_depth"] == similarity.recommended_rerank_depth(
        spark, path
    )

    # a NORMALIZED store honors its manifest flag for external queries:
    # the raw literal is projected onto the sphere before its distance
    # table, so the planted copy still wins
    npath = str(tmp_path / "svc_pq_qv_norm")
    similarity.write_ivfpq_index(embeddings, npath, normalize=True)
    top = similarity.ivfpq_topk_from_index(
        spark, embeddings, npath, k=5, query_vec=[2.0 * x for x in qv]
    ).collect()
    assert top[0]["vec_id"] == 7


def test_ivfpq_batch_equals_per_query(spark, embeddings):
    """Batched IVF-PQ == the single-query operator run per query, for
    every query in the batch (same training, probe, fold, ties); and an
    EXTERNAL batch (query_vecs) matches per-vector query_vec calls under
    the negative query_id convention."""
    from concurrent.futures import ThreadPoolExecutor

    vecs = [
        [float(x) for x in r["embedding"]]
        for r in embeddings.filter(F.col("vec_id").isin([20, 21])).orderBy("vec_id").collect()
    ]
    # Every operator call below trains and probes independently of the
    # others, so the eight job chains run from a thread pool; each result
    # is collected whole and compared exactly as before.
    calls = [
        lambda: similarity.ivfpq_topk_batch(embeddings, n_queries=4, k=5),
        lambda: similarity.ivfpq_topk_batch(embeddings, k=3, query_vecs=vecs),
    ]
    calls += [
        lambda qid=qid: similarity.ivfpq_topk(embeddings, query_vec_id=qid, k=5)
        for qid in range(4)
    ]
    calls += [
        lambda v=v: similarity.ivfpq_topk(embeddings, k=3, query_vec=v)
        for v in vecs
    ]
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        rows = list(pool.map(lambda call: call().collect(), calls))
    batch_rows, ext_rows, singles, ext_singles = rows[0], rows[1], rows[2:6], rows[6:]

    batch = {
        (r["query_id"], r["rnk"]): (r["vec_id"], r["adc_dist2"])
        for r in batch_rows
    }
    for qid, single in enumerate(singles):
        for rnk, row in enumerate(single, start=1):
            assert batch[(qid, rnk)] == (row["vec_id"], row["adc_dist2"]), (
                qid, rnk
            )

    ext = {(r["query_id"], r["rnk"]): r["vec_id"] for r in ext_rows}
    for i, single in enumerate(ext_singles):
        for rnk, row in enumerate(single, start=1):
            assert ext[(-(i + 1), rnk)] == row["vec_id"]
    # external queries exclude nothing: the stored copies of the batch
    # vectors are findable (each query IS vec 20/21, ADC-minimal)
    assert ext[(-1, 1)] == 20 and ext[(-2, 1)] == 21


def test_similar_by_vectors_batch_route(spark, sf_dir, embeddings, pq_store, tmp_path):
    """The batched external-query service method: per-query results
    equal single-query calls, responses come back in request order, and
    the strict-validation contract holds (pq-only mode, 1-64 vectors,
    no store → 400)."""
    from admira_etl_project_prueba_spark.corpus_service import CorpusService
    from admira_etl_project_prueba_spark.service import ValidationError as VE
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    vecs = [
        [float(x) for x in r["embedding"]]
        for r in embeddings.filter(F.col("vec_id").isin([5, 9]))
        .orderBy("vec_id")
        .collect()
    ]
    path = str(tmp_path / "svc_batch_pq")
    svc_nostore = CorpusService(spark, documents=docs, embeddings=embeddings)
    with pytest.raises(VE, match="pq_index_path"):
        svc_nostore.similar_by_vectors(vecs)
    _copy_store(pq_store, path)
    svc = CorpusService(
        spark, documents=docs, embeddings=embeddings, pq_index_path=path
    )
    with pytest.raises(VE, match="batch"):
        svc.similar_by_vectors(vecs, mode="auto")
    for bad in ([], [[0.5] * 3], [vecs[0]] * 65, "nope"):
        with pytest.raises(VE, match="query_vecs"):
            svc.similar_by_vectors(bad)

    r = svc.similar_by_vectors(vecs, k=4)
    assert r["method"] == "ivfpq_index_batch" and r["n_queries"] == 2
    assert len(r["data"]) == 2
    for i, v in enumerate(vecs):
        single = svc.similar_by_vector(v, k=4, mode="pq")["data"]
        got = [(row["vec_id"], row["adc_dist2"]) for row in r["data"][i]]
        want = [(row["vec_id"], row["adc_dist2"]) for row in single]
        assert got == want, i
        # per-query lists are EXPLICITLY rank-ordered — collect() order
        # is shuffle-incidental and must not be what callers rely on
        rnks = [row["rnk"] for row in r["data"][i]]
        assert rnks == sorted(rnks) == list(range(1, len(rnks) + 1))


def test_clustered_fixture_structure_and_recall(spark, embeddings):
    """The derived clustered fixture has REAL planted structure — every
    sampled query's exact top-1 neighbor lies in its own cluster (the
    md5-mixed centers are mutually near-orthogonal; the old linear mix
    measured 0.28 here) — and on it the serving tier meets the contract
    the uniform corpus could never certify: rerank recall@10 ≥ 0.9 at
    the default config."""
    fx = similarity.clustered_embeddings(embeddings)
    # schema drop-in: same columns as the embeddings table
    assert fx.columns == ["vec_id", "label", "embedding"]
    hits = similarity.knn_cluster_integrity(fx)
    rows = hits.collect()
    assert rows and all(r["hit"] == 1 for r in rows)
    assert all(r["label"] == r["nn_label"] for r in rows)
    rep = similarity.pq_recall_report(fx).first()
    assert rep["rerank_recall"] >= 0.9
    assert rep["ivfpq_recall"] >= 0.5  # structured data: ADC is usable
    # determinism: the fixture is a pure function of vec_id
    a = fx.filter("vec_id = 7").first()["embedding"]
    b = similarity.clustered_embeddings(embeddings).filter(
        "vec_id = 7"
    ).first()["embedding"]
    assert a == b


def test_knn_join_equals_per_query_serving(spark, embeddings, pq_store, tmp_path):
    """The bulk k-NN join (arbitrary query DataFrame vs persisted store)
    returns per-query results IDENTICAL to the single-query server —
    same frozen models, probe rule, ADC fold, ties — and its plan never
    broadcasts the query side (only the model-sized centroid/codebook
    tables), the property that makes it safe for unbounded curation
    frames."""
    path = str(tmp_path / "knn_join_store")
    _copy_store(pq_store, path)
    qdf = embeddings.filter("vec_id % 41 = 2")
    got_df = similarity.knn_join(spark, qdf, path, k=5, n_probe=4)
    got = {
        (r["query_id"], r["rnk"]): (r["vec_id"], r["adc_dist2"])
        for r in got_df.collect()
    }
    qids = [r["vec_id"] for r in qdf.select("vec_id").collect()]
    assert qids and {q for q, _ in got} == set(qids)
    for qid in qids:
        want = similarity.ivfpq_topk_from_index(
            spark, embeddings, path, query_vec_id=qid, k=5, n_probe=4
        ).collect()
        assert [got[(qid, i + 1)] for i in range(len(want))] == [
            (r["vec_id"], r["adc_dist2"]) for r in want
        ], qid

    # external (disjoint-id) query frame: ids never collide with corpus
    # rows, so nothing is self-excluded and every query gets k hits
    ext = qdf.selectExpr(
        "-(vec_id + 1) AS vec_id", "label", "embedding"
    )
    ext_rows = similarity.knn_join(spark, ext, path, k=5).groupBy(
        "query_id"
    ).count().collect()
    assert all(r["count"] == 5 for r in ext_rows)
    assert len(ext_rows) == len(qids)

    # scale shape: the only broadcast inputs are model-sized reads
    # (centroids/codebooks), never the query frame
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    import re as _re

    bcast_scans = _re.findall(
        r"BroadcastExchange[^\n]*", plan
    )
    assert "BroadcastNestedLoopJoin" in plan  # probe: broadcast centroids
    # the codes ⋈ probe join must NOT be broadcast on the probe side at
    # plan time in a way that assumes bounded queries: accept broadcast
    # only below AQE's threshold discretion, but the LOGICAL hint must
    # be absent — knn_join never calls broadcast() on probe/dtable
    src = open(
        "admira_etl_project_prueba_spark/operators/similarity.py"
    ).read()
    body = src.split("def knn_join(", 1)[1].split("\ndef ", 1)[0]
    assert body.count("F.broadcast") == 2  # cents + codebooks only
    assert "F.broadcast(probe" not in body
    assert "F.broadcast(dtable" not in body
    assert bcast_scans  # centroids/codebooks do broadcast


def test_knn_join_rerank_tier(spark, embeddings, pq_store, tmp_path):
    """The bulk rerank tier: knn_join(rerank_depth=D, corpus=) reranks
    each query's depth-D ADC shortlist by EXACT cosine — per-query
    results identical to the single-query rerank server at the same
    depth/probe, cosines equal to brute force for those pairs, and the
    plan keeps the distributed-query discipline (still only the two
    model-sized broadcasts; neither rerank join is a broadcast of a
    scaling side)."""
    path = str(tmp_path / "knn_rerank_store")
    _copy_store(pq_store, path)
    qdf = embeddings.filter("vec_id % 41 = 2")
    depth = 20
    got_df = similarity.knn_join(
        spark, qdf, path, k=5, n_probe=4, rerank_depth=depth,
        corpus=embeddings,
    )
    rows = got_df.collect()
    got = {
        (r["query_id"], r["rnk"]): (r["vec_id"], r["cosine"])
        for r in rows
    }
    qids = [r["vec_id"] for r in qdf.select("vec_id").collect()]
    assert {q for q, _ in got} == set(qids)
    n = embeddings.count()
    for qid in qids:
        want = similarity.ivfpq_rerank_from_index(
            spark, embeddings, path, query_vec_id=qid, k=5,
            shortlist=depth, n_probe=4,
        ).collect()
        assert [got[(qid, i + 1)][0] for i in range(len(want))] == [
            w["vec_id"] for w in want
        ], qid
    # exactness: each reranked cosine equals the brute-force score
    qid = qids[0]
    exact = {
        r["vec_id"]: r["cosine"]
        for r in similarity.cosine_topk(
            embeddings, query_vec_id=qid, k=n
        ).collect()
    }
    for i in range(5):
        vid, cos = got[(qid, i + 1)]
        assert cos == exact[vid], (qid, vid)
    # rerank_depth without the raw corpus is a contract error
    with pytest.raises(ValueError, match="corpus"):
        similarity.knn_join(spark, qdf, path, k=5, rerank_depth=depth)
    # scale shape: the rerank joins add NO broadcast hints — still only
    # centroids + codebooks
    import inspect as _inspect

    body = _inspect.getsource(similarity.knn_join)
    assert body.count("F.broadcast") == 2


def test_recommended_rerank_depth_tracks_occupancy(spark, embeddings, tmp_path):
    """The occupancy-derived rerank depth (round-12 law: the shortlist
    must cover LOCAL CLUSTER OCCUPANCY): on a clustered fixture whose
    lists align with the planted clusters, the p95 list occupancy IS
    the planted cluster size, so the recommendation tracks it — and the
    static serving default only ever acts as a floor."""
    n_clusters = 10
    fx = similarity.clustered_embeddings(embeddings, n_clusters=n_clusters)
    n = fx.count()
    assert n % n_clusters == 0  # evenly planted: p95 == cluster size
    cluster_size = n // n_clusters
    path = str(tmp_path / "rec_depth_store")
    # n_centroids == n_clusters: vec_ids 0..9 are one per planted
    # cluster (vec_id % 10), so every list collects exactly its cluster
    similarity.write_ivfpq_index(fx, path, n_centroids=n_clusters)
    got = similarity.recommended_rerank_depth(spark, path, floor=1)
    assert got == cluster_size, (got, cluster_size)
    # floor: a store with tiny lists never recommends a shallow rerank
    assert (
        similarity.recommended_rerank_depth(spark, path)
        == similarity.SERVING_RERANK_DEPTH
    )
    assert similarity.recommended_rerank_depth(
        spark, path, floor=cluster_size + 7
    ) == cluster_size + 7


def test_write_ivfpq_assign_modes(spark, embeddings, tmp_path):
    """The build-side n·k escape hatch: assign_mode='auto' below the
    scored-row threshold is BIT-IDENTICAL to exact (codes table equal),
    a genuinely coarse build (k=25 → 5 coarse groups) still serves
    correct k-NN through probe and rerank, and garbage modes 400
    before any IO."""
    pa, pb = str(tmp_path / "exact"), str(tmp_path / "auto")
    similarity.write_ivfpq_index(embeddings, pa, n_centroids=16)
    similarity.write_ivfpq_index(
        embeddings, pb, n_centroids=16, assign_mode="auto"
    )

    def codes(p):
        cp = similarity.pq_resolved_paths(spark, p)[0]
        return sorted(map(tuple, spark.read.parquet(cp).collect()))

    assert codes(pa) == codes(pb)

    pc = str(tmp_path / "coarse")
    similarity.write_ivfpq_index(
        embeddings, pc, n_centroids=25, assign_mode="coarse"
    )
    out = similarity.ivfpq_rerank_from_index(
        spark, embeddings, pc, query_vec_id=0, k=5, n_probe=6
    ).collect()
    assert len(out) == 5
    cosines = [r["cosine"] for r in out]
    assert cosines == sorted(cosines, reverse=True)
    # coarse assignments stay inside the centroid universe
    occ = similarity.ivfpq_occupancy_report(spark, pc).collect()
    assert all(0 <= r["centroid_id"] < 25 for r in occ)

    with pytest.raises(ValueError, match="assign_mode"):
        similarity.write_ivfpq_index(
            embeddings, str(tmp_path / "bad"), assign_mode="fast"
        )


def test_write_serving_ivfpq_index_uses_measured_config(spark, embeddings, tmp_path):
    """The serving-build wrapper consumes the SERVING_* constants (the
    round-12 measured config) and the provisioning rule — the manifest
    records m/ksub/normalized straight from the constants, so the
    documented defaults are executable, not prose."""
    path = str(tmp_path / "serving_store")
    similarity.write_serving_ivfpq_index(embeddings, path)
    _, _, _, man_path = similarity.pq_resolved_paths(spark, path)
    man = spark.read.parquet(man_path).first()
    assert int(man["m"]) == similarity.SERVING_PQ_M
    assert int(man["ksub"]) == similarity.SERVING_PQ_KSUB
    assert bool(man["normalized"]) == similarity.SERVING_NORMALIZE
    n = embeddings.count()
    want_nc = max(1, -(-n // similarity.TARGET_VECTORS_PER_LIST))
    assert int(man["n_centroids"]) == want_nc


def test_ivfpq_rerank_exactness_and_bounds(embeddings):
    """Rerank returns EXACT cosines (each equals the brute-force score
    for that vector); with a full probe and a corpus-sized shortlist the
    two-stage pipeline degenerates to exact brute-force top-k; a planted
    duplicate of the query wins through the code shortlist."""
    n = embeddings.count()
    exact = {
        r["vec_id"]: r["cosine"]
        for r in similarity.cosine_topk(embeddings, k=n).collect()
    }
    out = similarity.ivfpq_rerank_topk(embeddings, k=10).collect()
    assert len(out) == 10
    for r in out:
        assert exact[r["vec_id"]] == r["cosine"]
    full = similarity.ivfpq_rerank_topk(
        embeddings, k=10, shortlist=n, n_probe=16
    ).collect()
    brute = similarity.cosine_topk(embeddings, k=10).collect()
    assert [(r["vec_id"], r["cosine"]) for r in full] == [
        (r["vec_id"], r["cosine"]) for r in brute
    ]
    dup_id = 1_000_000
    e = _with_duplicate_of_query(embeddings, dup_id)
    top = similarity.ivfpq_rerank_topk(e, k=3).collect()
    assert top[0]["vec_id"] == dup_id and top[0]["cosine"] == 1.0


def test_ivfpq_health_and_compaction(spark, sf_dir, embeddings, tmp_path):
    """index_health gains a pq block (occupancy skew + file fan-out with
    the shared operator thresholds); merges add one file per touched
    list; compact_ivfpq_index reclaims the fan-out bit-identically and
    commits the next version."""
    from admira_etl_project_prueba_spark.corpus_service import CorpusService
    from admira_etl_project_prueba_spark.functions import fs as _fs
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base, batch = _split_corpus_for_merge(embeddings)

    path = str(tmp_path / "pqh")
    similarity.write_ivfpq_index(base, path)
    similarity.merge_ivfpq_index(spark, path, batch)
    occ = similarity.ivfpq_occupancy_report(spark, path)
    assert occ.agg(F.sum("n_vectors")).first()[0] == embeddings.count()
    assert occ.filter("n_files > 1").count() > 0  # merge fan-out

    def codes():
        return {
            (r["vec_id"], r["subspace"]): (r["code"], r["centroid_id"])
            for r in spark.read.parquet(
                similarity.pq_resolved_paths(spark, path)[0]
            ).collect()
        }

    before = codes()
    similarity.compact_ivfpq_index(spark, path)
    assert _fs.latest_version(spark, path) == "v00000002"
    occ2 = similarity.ivfpq_occupancy_report(spark, path)
    assert occ2.filter("n_files > 1").count() == 0
    assert codes() == before

    svc = CorpusService(
        spark,
        documents=docs,
        embeddings=embeddings,
        pq_index_path=path,
    )
    h = svc.index_health()["data"]["pq"]
    assert h["n_vectors"] == embeddings.count()
    assert h["max_files_per_list"] == 1 and h["needs_compaction"] is False
    assert isinstance(h["needs_retrain"], bool) and h["lease_held"] is False
    absent = CorpusService(
        spark,
        documents=docs,
        embeddings=embeddings,
        pq_index_path=str(tmp_path / "nowhere"),
    )
    assert absent.index_health()["data"]["pq"]["absent"] is True


def test_pq_plan_shape(embeddings):
    """Exhaustive ADC must stay equi-join + broadcast: no cartesian, no
    row-at-a-time Python, no un-bounded single-partition sort."""
    from tools.plan_audit import single_partition_sort_hits

    plan = (
        similarity.pq_topk(embeddings)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert single_partition_sort_hits(plan) == []
    # the codebook/distance-table sides are model-sized: they must reach
    # the corpus through broadcast hash joins, never a shuffle of codes
    assert "BroadcastHashJoin" in plan


def _query_vec(embeddings, vec_id):
    return [
        float(x)
        for x in embeddings.filter(F.col("vec_id") == vec_id).first()["embedding"]
    ]


def _served(spark, embeddings, path, **kw):
    return [
        tuple(r)
        for r in similarity.ivfpq_topk_from_index(
            spark, embeddings, path, k=10, **kw
        ).collect()
    ]


def test_ivfpq_warm_request_jobs(spark, sf_dir, embeddings, pq_store, tmp_path, jobs_started):
    """With the model held on the driver, a warm request is one pruned
    code scan: the service's literal-vector pq route starts at most 2
    Spark jobs, and a stored-vector probe at most 3 (its point-read
    collect is the third)."""
    from admira_etl_project_prueba_spark.corpus_service import CorpusService

    path = str(tmp_path / "pq_jobs")
    _copy_store(pq_store, path)
    svc = CorpusService(
        spark,
        documents=load_table(spark, sf_dir, "documents"),
        embeddings=embeddings,
        pq_index_path=path,
    )
    qv = _query_vec(embeddings, 11)
    svc.similar_by_vector(qv, k=10, mode="pq")  # fills the model cache
    out, jobs = jobs_started(
        spark, lambda: svc.similar_by_vector(qv, k=10, mode="pq")
    )
    assert len(out["data"]) == 10
    assert len(jobs) <= 2, jobs
    rows, jobs = jobs_started(
        spark, lambda: _served(spark, embeddings, path, query_vec_id=12)
    )
    assert len(rows) == 10
    assert len(jobs) <= 3, jobs


def test_similar_docs_pq_reads_the_query_row_once(
    spark, sf_dir, embeddings, pq_store, tmp_path, jobs_started
):
    """A warm /corpus/similar?mode=pq request for a known vec_id starts
    no more jobs than the operator alone (at most 3): the unknown-id
    check runs only when the operator returns no rows.  Unknown ids
    still 404; known ids return the operator's rows in both pq modes."""
    from admira_etl_project_prueba_spark.corpus_service import (
        CorpusService,
        NotFoundError,
    )

    path = str(tmp_path / "pq_docs_jobs")
    _copy_store(pq_store, path)
    svc = CorpusService(
        spark,
        documents=load_table(spark, sf_dir, "documents"),
        embeddings=embeddings,
        pq_index_path=path,
    )
    svc.similar_docs(vec_id=11, k=10, mode="pq")  # fills the model cache
    out, jobs = jobs_started(
        spark, lambda: svc.similar_docs(vec_id=12, k=10, mode="pq")
    )
    assert len(jobs) <= 3, jobs
    want = similarity.ivfpq_topk_from_index(
        spark, embeddings, path, query_vec_id=12, k=10
    ).select("vec_id", "label", "adc_dist2")
    assert [tuple(r.values()) for r in out["data"]] == [
        tuple(r) for r in want.collect()
    ]
    rr = svc.similar_docs(vec_id=12, k=5, mode="pq_rerank")
    want_rr = similarity.ivfpq_rerank_from_index(
        spark, embeddings, path, query_vec_id=12, k=5,
        shortlist=rr["rerank_depth"], n_probe=similarity.SERVING_N_PROBE,
    ).select("vec_id", "label", "adc_dist2", "cosine")
    assert [tuple(r.values()) for r in rr["data"]] == [
        tuple(r) for r in want_rr.collect()
    ]
    unknown = embeddings.agg(F.max("vec_id")).first()[0] + 1
    for mode in ("pq", "pq_rerank"):
        with pytest.raises(NotFoundError, match="unknown vec_id"):
            svc.similar_docs(vec_id=unknown, mode=mode)


def test_ivfpq_model_cache_follows_store_rewrites(spark, embeddings, tmp_path):
    """A re-write committing the next version (new resolved paths) and a
    rebuild of a deleted store (same ``v00000001`` paths, new model
    mtimes) both invalidate the cached model: the next query equals a
    cold read of the new store, whose 8 lists replace 16."""
    import shutil

    qv = _query_vec(embeddings, 3)
    for rebuild in (False, True):
        path = str(tmp_path / f"pq_rewrite_{rebuild}")
        similarity.write_ivfpq_index(embeddings, path, n_centroids=16)
        before = _served(spark, embeddings, path, query_vec=qv)
        if rebuild:
            shutil.rmtree(path)
        similarity.write_ivfpq_index(embeddings, path, n_centroids=8)
        warm = _served(spark, embeddings, path, query_vec=qv)
        # the probe ranked the new store's 8 centroids, not the cached 16
        assert len(similarity._pq_model(spark, path).centroid_ids) == 8
        similarity._PQ_MODELS.clear()
        cold = _served(spark, embeddings, path, query_vec=qv)
        assert warm == cold
        assert warm != before
        assert max(r[2] for r in warm) < 8  # centroid_id of the new lists


def test_ivfpq_model_cache_concurrent_fill(spark, embeddings, pq_store, tmp_path, monkeypatch):
    """Six threads (more than the test session's cores) querying a cold
    store load its model once and get identical rows, equal to a later
    single-threaded query."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    path = str(tmp_path / "pq_threads")
    _copy_store(pq_store, path)
    loads = []
    load = similarity._load_pq_model
    monkeypatch.setattr(
        similarity,
        "_load_pq_model",
        lambda *a: loads.append(a) or load(*a),
    )
    qv = _query_vec(embeddings, 5)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(6) as pool:
            got = list(
                pool.map(
                    lambda _: _served(spark, embeddings, path, query_vec=qv),
                    range(6),
                    timeout=600,
                )
            )
    finally:
        sys.setswitchinterval(interval)
    assert len(loads) == 1
    want = _served(spark, embeddings, path, query_vec=qv)
    assert len(want) == 10
    assert all(g == want for g in got)


def test_ivfpq_distributed_probe_equals_driver_probe(
    spark, embeddings, tmp_path, monkeypatch, jobs_started
):
    """DRIVER_ROWS_MAX = 0 moves the centroid ranking into Spark: on a
    raw and on a normalized store, single (literal and stored-vector)
    and batched probes return rows tuple-equal to the driver arm."""
    from admira_etl_project_prueba_spark.operators import _driver

    qv = _query_vec(embeddings, 9)

    def probes(path):
        return (
            jobs_started(
                spark, lambda: _served(spark, embeddings, path, query_vec=qv)
            ),
            _served(spark, embeddings, path, query_vec_id=4),
            sorted(
                tuple(r)
                for r in similarity.ivfpq_topk_batch_from_index(
                    spark, embeddings, path, n_queries=3, k=5
                ).collect()
            ),
        )

    for normalize in (False, True):
        path = str(tmp_path / f"pq_arms_{normalize}")
        similarity.write_ivfpq_index(
            embeddings, path, n_centroids=16, normalize=normalize
        )
        _served(spark, embeddings, path, query_vec=qv)  # fills the model cache
        (driver_rows, driver_jobs), *driver_rest = probes(path)
        monkeypatch.setattr(_driver, "DRIVER_ROWS_MAX", 0)
        (dist_rows, dist_jobs), *dist_rest = probes(path)
        monkeypatch.undo()
        assert driver_rows == dist_rows
        assert driver_rest == dist_rest
        assert len(dist_jobs) > len(driver_jobs)  # the probe ran in Spark
