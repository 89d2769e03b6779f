"""Similarity-search operator tests: exact cosine, batch top-k, LSH."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from admira_etl_project_prueba_spark.operators import similarity


def emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


@pytest.fixture(scope="module")
def vectors(spark):
    return emb(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [0.9, 0.1, 0.0, 0.0], 0),   # close to 0
            (2, [0.0, 1.0, 0.0, 0.0], 1),   # orthogonal
            (3, [-1.0, 0.0, 0.0, 0.0], 2),  # opposite
            (4, [0.0, 0.0, 0.0, 0.0], 3),   # zero vector
        ],
    )


def test_cosine_topk_ordering(vectors, monkeypatch):
    monkeypatch.setattr(similarity, "DIM", 4)
    out = similarity.cosine_topk(vectors, query_vec_id=0, k=4).collect()
    ids = [r["vec_id"] for r in out]
    assert ids[0] == 1                      # most similar first
    assert ids[-1] == 3                     # opposite last
    assert out[0]["cosine"] == pytest.approx(0.9 / math.sqrt(0.82))
    zero = [r for r in out if r["vec_id"] == 4][0]
    assert zero["cosine"] == 0.0            # zero-norm guard, not NaN


def test_cosine_topk_excludes_self(vectors, monkeypatch):
    monkeypatch.setattr(similarity, "DIM", 4)
    out = similarity.cosine_topk(vectors, query_vec_id=0, k=10).collect()
    assert all(r["vec_id"] != 0 for r in out)


def test_batch_topk_per_query(vectors, monkeypatch):
    monkeypatch.setattr(similarity, "DIM", 4)
    out = similarity.cosine_topk_batch(vectors, n_queries=2, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1}
    assert all(len(v) == 2 for v in by_q.values())
    assert all(r["rnk"] in (1, 2) for r in out)


def test_lsh_bucket_recall(spark, sf_dir):
    """LSH probe must return a subset of the exact top-k candidate pool and
    agree with brute force on every vector it does score."""
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    exact = {r["vec_id"]: r["cosine"] for r in similarity.cosine_topk(e, k=n).collect()}
    approx = similarity.lsh_topk(e, k=n).collect()
    for r in approx:
        assert r["vec_id"] in exact
        assert exact[r["vec_id"]] == pytest.approx(r["cosine"], abs=1e-12)


def test_lsh_buckets_deterministic(spark, sf_dir):
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    b1 = {r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets(e).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in similarity.lsh_buckets(e).collect()}
    assert b1 == b2
    assert all(0 <= v < 256 for v in b1.values())


def test_embedding_norms(vectors, monkeypatch):
    monkeypatch.setattr(similarity, "DIM", 4)
    out = {r["vec_id"]: r for r in similarity.embedding_norms(vectors).collect()}
    assert out[0]["l2_norm"] == pytest.approx(1.0)
    assert out[4]["l2_norm"] == 0.0
    assert all(r["dim"] == 4 for r in out.values())


def test_ivf_full_probe_equals_brute_force(spark, sf_dir):
    """Probing ALL inverted lists makes IVF exact — identical ids and
    cosines to the brute-force baseline."""
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    exact = similarity.cosine_topk(e, k=10).collect()
    ivf = similarity.ivf_topk(e, k=10, n_centroids=16, n_probe=16).collect()
    assert [r["vec_id"] for r in ivf] == [r["vec_id"] for r in exact]
    for a, b in zip(ivf, exact):
        assert a["cosine"] == pytest.approx(b["cosine"], abs=1e-12)


def test_ivf_assignment_partitions_the_corpus(spark, sf_dir):
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    assign = similarity.ivf_assign(e, n_centroids=16).collect()
    assert len(assign) == e.count()             # every vector exactly one list
    assert {r["centroid_id"] for r in assign} <= set(range(16))
    # a centroid is its own nearest centroid (cosine 1 with itself)
    own = {r["vec_id"]: r["centroid_id"] for r in assign if r["vec_id"] < 16}
    assert own == {i: i for i in range(16)}


def test_ivf_probe_recall_is_monotone(spark, sf_dir):
    """More probes ⇒ recall vs the exact top-10 never decreases."""
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    exact = {r["vec_id"] for r in similarity.cosine_topk(e, k=10).collect()}
    last = -1
    for n_probe in (1, 4, 16):
        got = {r["vec_id"] for r in similarity.ivf_topk(e, k=10, n_probe=n_probe).collect()}
        recall = len(got & exact)
        assert recall >= last
        last = recall
    assert last == 10  # full probe is exact


def test_pandas_udf_cosine_matches_sql_fold(spark, sf_dir):
    """The Arrow-vectorized scoring path must produce the same ranking and
    (approx) the same cosines as the SQL-fold baseline, via ArrowEvalPython
    — never row-at-a-time Python."""
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    fold = similarity.cosine_topk(e, k=10).collect()
    vec = similarity.cosine_topk_pandas(e, k=10).collect()
    assert [r["vec_id"] for r in vec] == [r["vec_id"] for r in fold]
    for a, b in zip(vec, fold):
        assert a["cosine"] == pytest.approx(b["cosine"], abs=1e-12)
    plan = (
        similarity.cosine_topk_pandas(e, k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    exact = {r["vec_id"] for r in similarity.cosine_topk(e, k=10).collect()}
    single = {r["vec_id"] for r in similarity.lsh_topk(e, k=10).collect()}
    multi = {r["vec_id"] for r in similarity.lsh_topk_multiprobe(e, k=10).collect()}
    assert len(multi & exact) >= len(single & exact)
    # multi-probe candidates are a superset of the query bucket's
    assert single <= multi | single  # sanity: never loses the home bucket


def test_label_centroids_match_numpy_and_plan(spark, sf_dir, plan_operators):
    """Centroids agree with numpy's float64 mean to quantization precision
    (1e-6 per component / n), and the plan is one partial+final aggregate."""
    import numpy as np

    from admira_etl_project_prueba_spark.operators.similarity import label_centroids
    from admira_etl_project_prueba_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = label_centroids(emb)
    got = {(r["label"], r["dim"]): r for r in df.collect()}

    pdf = emb.toPandas()
    for label, grp in pdf.groupby("label"):
        mat = np.stack(grp["embedding"].values).astype("float64")
        means = mat.mean(axis=0)
        for dim in range(mat.shape[1]):
            g = got[(label, dim)]
            assert g["n_vectors"] == len(grp)
            # each component quantized to 1e-6 before the mean
            assert abs(g["centroid"] - means[dim]) <= 1e-6
    assert len(got) == pdf["label"].nunique() * 64

    # collect() finalized AQE; count exchanges in the final plans only
    ops = plan_operators(df)
    assert ops["ShuffleExchangeExec"] + ops["BroadcastExchangeExec"] == 1
    assert "BatchEvalPythonExec" not in ops

def test_ivf_precomputed_index_matches_inline_and_prunes(spark, sf_dir, tmp_path):
    """ivf_topk over a persisted write_ivf_index table returns the exact
    same top-k as the self-computing form, and the probe reaches the
    parquet scan as a centroid_id partition filter — query-time work is
    pruned I/O, not a corpus×centroid recompute."""
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_index")
    similarity.write_ivf_index(e, path, n_centroids=16)
    data = similarity.ivf_data_path(spark, path)
    # one directory per inverted list
    import os
    assert sorted(d for d in os.listdir(data) if d.startswith("centroid_id=")) == [
        f"centroid_id={i}" for i in sorted(range(16), key=str)
    ]

    stored = spark.read.parquet(data)
    inline = similarity.ivf_topk(e, k=10, n_probe=4).collect()
    indexed_df = similarity.ivf_topk(e, k=10, n_probe=4, assignments=stored)
    indexed = indexed_df.collect()
    assert [(r["vec_id"], r["cosine"]) for r in indexed] == [
        (r["vec_id"], r["cosine"]) for r in inline
    ]
    # the probe must prune the index scan: the only scan reading centroid_id
    # is the index table, and its PartitionFilters must carry the dynamic
    # pruning subquery fed by the broadcast probe
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    idx_scans = [
        seg.split("PushedFilters", 1)[0]
        for seg in plan.split("FileScan")
        if "centroid_id" in seg.split("Batched", 1)[0]
    ]
    assert idx_scans
    assert any("dynamicpruning" in s for s in idx_scans)


def test_ivf_index_only_probe_matches_and_never_scans_corpus(
    spark, sf_dir, tmp_path
):
    """ivf_topk_from_index sources candidates purely from the inverted
    lists (vectors live IN the index): same top-k as the inline form, and
    the only reads against the corpus parquet are pushdown point-filters
    for the query vector and seed centroids — no full-corpus candidate
    scan at query time."""
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_index_v2")
    similarity.write_ivf_index(e, path, n_centroids=16)

    inline = similarity.ivf_topk(e, k=10, n_probe=4).collect()
    from_idx_df = similarity.ivf_topk_from_index(
        spark, e, path, k=10, n_probe=4
    )
    from_idx = from_idx_df.collect()
    assert [(r["vec_id"], r["label"], r["cosine"]) for r in from_idx] == [
        (r["vec_id"], r["label"], r["cosine"]) for r in inline
    ]

    plan = from_idx_df._jdf.queryExecution().executedPlan().toString()
    # every scan of the corpus table must carry a vec_id pushdown filter
    # (query-vector or centroid point-reads) — an unfiltered corpus scan
    # would mean candidates are still sourced from the corpus
    corpus_scans = [
        seg for seg in plan.split("FileScan") if "embeddings.parquet" in seg
    ]
    assert corpus_scans, "expected pushdown point-reads of the corpus"
    for seg in corpus_scans:
        pushed = seg.split("PushedFilters: [", 1)
        assert len(pushed) == 2 and "vec_id" in pushed[1].split("]", 1)[0]
    # and the index scan is pruned by the dynamic probe filter (the index
    # is the only scan whose schema carries centroid_id)
    idx_scans = [
        seg.split("PushedFilters", 1)[0]
        for seg in plan.split("FileScan")
        if "centroid_id" in seg.split("Batched", 1)[0]
    ]
    assert idx_scans and any("dynamicpruning" in s for s in idx_scans)


def test_semantic_dedup_drops_planted_duplicates(spark):
    """A planted identical-embedding pair lands in one cluster with
    cosine 1.0: the pair is reported, the larger id is dropped from the
    survivors, chains follow the per-pair (not transitive) rule, and
    pairs ∪ survivors is consistent."""
    import math

    def vec(seed):
        return [math.sin(seed * (j + 1)) for j in range(8)]

    rows = [(i, i % 3, vec(i + 1)) for i in range(40)]
    rows.append((100, 0, vec(5)))     # exact dup of vec_id 4 (seed 5)
    rows.append((101, 0, vec(5)))     # second exact dup -> drops via 4 and 100
    e = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")

    pairs = similarity.semantic_dedup_pairs(e, n_centroids=4, threshold=0.999)
    got = {(r["vec_id_a"], r["vec_id_b"]) for r in pairs.collect()}
    assert {(4, 100), (4, 101), (100, 101)} <= got
    surv = {r["vec_id"] for r in
            similarity.semantic_dedup_survivors(e, n_centroids=4, threshold=0.999).collect()}
    assert 4 in surv and 100 not in surv and 101 not in surv
    # every reported pair has its smaller member surviving or dropped only
    # via an even-smaller partner — min id of each component always survives
    assert min(a for a, _ in got) in surv


def test_kmeans_centroids_planted_clusters(spark):
    # two tight clusters on orthogonal axes; seeds (vec 0, vec 1) land one
    # in each, so two Lloyd's rounds must recover the per-cluster means.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0, 0.0], 1),
        (2, [0.9, 0.1, 0.0, 0.0], 0),
        (3, [0.8, 0.0, 0.2, 0.0], 0),
        (4, [0.0, 0.9, 0.1, 0.0], 1),
        (5, [0.1, 0.8, 0.0, 0.0], 1),
    ]
    out = similarity.kmeans_centroids(emb(spark, rows), k=2, iters=2).collect()
    by = {}
    for r in out:
        by.setdefault(r["centroid_id"], {})[r["d"]] = r
    assert set(by) == {0, 1}
    assert by[0][1]["n_members"] == 3 and by[1][1]["n_members"] == 3
    # centroid 0 = mean of vecs {0,2,3} in dim 1 = (1.0+0.9+0.8)/3
    assert by[0][1]["val"] == pytest.approx(0.9, abs=1e-6)
    assert by[1][2]["val"] == pytest.approx(0.9, abs=1e-6)
    # long form covers every dimension exactly once per centroid
    assert sorted(by[0]) == [1, 2, 3, 4]


def test_kmeans_empty_cluster_keeps_seed_and_determinism(spark):
    # vec 1 duplicates vec 0: every vector ties to centroid 0 (smallest id
    # wins), so centroid 1 gets no members and must keep its seed vector.
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
    ]
    out = similarity.kmeans_centroids(emb(spark, rows), k=2, iters=1).collect()
    c1 = {r["d"]: r for r in out if r["centroid_id"] == 1}
    assert c1[1]["n_members"] == 0
    assert c1[1]["val"] == 1.0 and c1[2]["val"] == 0.0   # untouched seed
    c0 = {r["d"]: r for r in out if r["centroid_id"] == 0}
    assert c0[1]["n_members"] == 3
    # round 2: centroid 0 has moved to the 3-vector mean, so the two
    # vectors bit-equal to centroid 1's untouched seed flip back to it —
    # Lloyd's reassignment through the kept-seed path.
    out = similarity.kmeans_centroids(emb(spark, rows), k=2, iters=2).collect()
    members = {
        r["centroid_id"]: r["n_members"] for r in out if r["d"] == 1
    }
    assert members == {0: 1, 1: 2}
    # deterministic: re-run of the 2-round plan is identical
    again = similarity.kmeans_centroids(emb(spark, rows), k=2, iters=2).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    # a different shuffle partitioning must not change the decimal-exact
    # means (the reduction-order independence claim)
    repart = similarity.kmeans_centroids(
        emb(spark, rows).repartition(7), k=2, iters=2
    ).collect()
    assert sorted(map(tuple, repart)) == sorted(map(tuple, out))


def test_quantize_embeddings_bounds_and_zero_vector(spark):
    rows = [
        (0, [1.0, -0.5, 0.25, 0.0], 0),
        (1, [0.0, 0.0, 0.0, 0.0], 1),    # zero vector
        (2, [-2.0, 2.0, 1.0, -1.0], 2),
    ]
    out = {r["vec_id"]: r for r in similarity.quantize_embeddings(emb(spark, rows)).collect()}
    # max element always hits ±127; error bounded by scale/2
    assert out[0]["q"][0] == 127 and out[0]["q"][1] == -64
    assert out[0]["max_abs_err"] <= out[0]["scale"] / 2 + 1e-12
    assert out[2]["q"] == [-127, 127, 64, -64]
    # zero vector: scale 0, all-zero codes, zero error — no NaN/div0
    assert out[1]["scale"] == 0.0 and out[1]["q"] == [0, 0, 0, 0]
    assert out[1]["max_abs_err"] == 0.0


def test_random_projection_one_hot_reads_off_sign_matrix(spark):
    # projecting e_j yields p_i = sign(i, j) / sqrt(out_dim) exactly
    j = 7
    one_hot = [0.0] * 64
    one_hot[j] = 1.0
    out = similarity.random_projection(
        emb(spark, [(0, one_hot, 0)]), out_dim=16
    ).collect()[0]
    signs = similarity._rp_signs(16)
    for i in range(16):
        assert out[f"p{i}"] == signs[i][j] / 4.0  # sqrt(16) = 4, exact


def test_random_projection_norms_and_determinism(spark):
    # ±1 matrices preserve one-hot norms EXACTLY: |p(e_j)|² =
    # Σ_i sign(i,j)²/16 = 1, every term an exact binary fraction.
    # Identical inputs project identically (the matrix is deterministic).
    def one_hot(j):
        v = [0.0] * 64
        v[j] = 1.0
        return v

    rows = [(j, one_hot(j), 0) for j in (0, 13, 63)] + [(100, one_hot(13), 0)]
    out = {r["vec_id"]: [r[f"p{i}"] for i in range(16)] for r in
           similarity.random_projection(emb(spark, rows), out_dim=16).collect()}
    for j in (0, 13, 63):
        assert sum(x * x for x in out[j]) == 1.0
    assert out[13] == out[100]


def test_negative_samples_are_true_negatives_and_reproducible(spark, sf_dir):
    """Every pair: different id AND different label; repeated runs and
    repartitionings draw identical negatives; a new salt draws fresh ones."""
    from admira_etl_project_prueba_spark.operators.similarity import negative_samples
    from admira_etl_project_prueba_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    rows = negative_samples(emb, k=4).collect()
    assert rows
    for r in rows:
        assert r["neg_vec_id"] != r["vec_id"]
        assert r["neg_label"] != r["anchor_label"]
        assert labels[r["neg_vec_id"]] == r["neg_label"]
    key = {(r["vec_id"], r["j"], r["neg_vec_id"]) for r in rows}
    again = {
        (r["vec_id"], r["j"], r["neg_vec_id"])
        for r in negative_samples(emb.repartition(7), k=4).collect()
    }
    assert key == again
    fresh = {
        (r["vec_id"], r["j"], r["neg_vec_id"])
        for r in negative_samples(emb, k=4, salt="epoch2").collect()
    }
    assert fresh != key


def test_embedding_drift_zero_on_identical_and_planted_shift(spark):
    from admira_etl_project_prueba_spark.operators.similarity import (
        embedding_drift,
    )

    ref = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0], i % 2) for i in range(10)],
        "vec_id long, embedding array<float>, label int",
    )
    # identical windows: exact zero shift (decimal seam, not ~0)
    out = {r["label"]: r for r in embedding_drift(ref, ref).collect()}
    assert set(out) == {0, 1}
    assert all(r["l2_shift"] == 0.0 for r in out.values())
    # plant a +4 shift on dim 1 of label 1's vectors only
    cur = spark.createDataFrame(
        [(i, [1.0, 2.0 + (4.0 if i % 2 else 0.0), 3.0], i % 2) for i in range(10)],
        "vec_id long, embedding array<float>, label int",
    )
    out2 = {r["label"]: r for r in embedding_drift(ref, cur).collect()}
    assert out2[0]["l2_shift"] == 0.0
    assert abs(out2[1]["l2_shift"] - 4.0) < 1e-5
    # partitioning invariance (decimal-quantized cross-dim sum)
    rep = {r["label"]: r["l2_shift"]
           for r in embedding_drift(ref.repartition(7), cur.repartition(3)).collect()}
    assert rep == {k: v["l2_shift"] for k, v in out2.items()}


def test_ivf_index_merge_equals_rebuild(spark, sf_dir, tmp_path):
    """Appending a vector batch into the IVF index == rebuilding over the
    union (same centroid set, same deterministic argmax): identical index
    rows and identical indexed top-k answers."""
    from admira_etl_project_prueba_spark.operators.similarity import (
        ivf_data_path,
        ivf_topk_from_index,
        merge_ivf_index,
        write_ivf_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter("vec_id < 300")
    new = emb.filter("vec_id >= 300")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    write_ivf_index(old, inc)
    merge_ivf_index(spark, inc, new)
    write_ivf_index(emb, full)

    def rows(p):
        return sorted(
            (r["vec_id"], r["centroid_id"], r["label"])
            for r in spark.read.parquet(ivf_data_path(spark, p)).collect()
        )

    assert rows(inc) == rows(full)
    got = [tuple(r) for r in ivf_topk_from_index(spark, emb, inc).collect()]
    want = [tuple(r) for r in ivf_topk_from_index(spark, emb, full).collect()]
    assert got == want and len(got) > 0


def test_ivf_merge_validates_manifest_and_id_range(spark, sf_dir, tmp_path):
    """The index manifest makes the centroid contract a CHECK, not a
    convention: merging with the wrong n_centroids raises before any
    write, as does a batch whose vec_ids collide with the centroid id
    range.  (The legacy half — a manifest-less index merging under the
    caller's value and gaining a manifest — is gone with the flat
    layout: every committed version holds its manifest, and a merge
    into a store without one raises.)"""
    import pytest as _pytest

    from admira_etl_project_prueba_spark.operators.similarity import (
        ivf_resolved_paths,
        merge_ivf_index,
        write_ivf_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter("vec_id < 300")
    new = emb.filter("vec_id >= 300")
    path = str(tmp_path / "idx")
    write_ivf_index(old, path, n_centroids=16)
    manifest = ivf_resolved_paths(spark, path)[1]
    assert spark.read.parquet(manifest).first()["n_centroids"] == 16
    with _pytest.raises(ValueError, match="n_centroids=16"):
        merge_ivf_index(spark, path, new, n_centroids=8)
    with _pytest.raises(ValueError, match="centroid id range"):
        merge_ivf_index(spark, path, emb.filter("vec_id < 5"), n_centroids=16)
    with _pytest.raises(ValueError, match="manifest"):
        merge_ivf_index(spark, str(tmp_path / "not_a_store"), new)


def test_ivf_compaction_restores_one_file_per_list(spark, sf_dir, tmp_path):
    """build → merge × 2 → compact: merge fan-out (one file per touched
    list per batch) collapses back to ONE file per centroid partition,
    probe results are bit-identical across the cycle, and the manifest
    is carried into the compacted version."""
    from admira_etl_project_prueba_spark.operators.similarity import (
        compact_ivf_index,
        ivf_files_per_list,
        ivf_resolved_paths,
        ivf_topk_from_index,
        merge_ivf_index,
        write_ivf_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    write_ivf_index(emb.filter("vec_id < 200"), path)
    merge_ivf_index(spark, path, emb.filter("vec_id >= 200 AND vec_id < 350"))
    merge_ivf_index(spark, path, emb.filter("vec_id >= 350"))
    fan = {r["centroid_id"]: r["n_files"]
           for r in ivf_files_per_list(spark, path).collect()}
    assert max(fan.values()) >= 3
    before = [tuple(r) for r in ivf_topk_from_index(spark, emb, path).collect()]
    def rows():
        return sorted(
            (r["vec_id"], r["centroid_id"], r["label"])
            for r in spark.read.parquet(
                ivf_resolved_paths(spark, path)[0]
            ).collect()
        )

    rows_before = rows()
    compact_ivf_index(spark, path)
    after_fan = {r["centroid_id"]: r["n_files"]
                 for r in ivf_files_per_list(spark, path).collect()}
    assert set(after_fan.values()) == {1}
    after = [tuple(r) for r in ivf_topk_from_index(spark, emb, path).collect()]
    assert after == before and len(after) > 0
    assert rows() == rows_before
    manifest = ivf_resolved_paths(spark, path)[1]
    assert spark.read.parquet(manifest).first()["n_centroids"] == 16


def test_ivf_occupancy_report_and_retrain_trigger(spark, tmp_path):
    """A deliberately skewed index (all real vectors in one list) reports
    skew = n_lists on the hot list and trips needs_ivf_retrain; a
    balanced index reports skew 1.0 everywhere and does not."""
    from admira_etl_project_prueba_spark.functions.fs import commit_version
    from admira_etl_project_prueba_spark.operators.similarity import (
        ivf_occupancy_report,
        needs_ivf_compaction,
        needs_ivf_retrain,
    )

    def write_fake_index(path, assignment):
        # (vec_id, centroid_id) rows; centroid self-rows 0..3, committed
        # as the store's first version
        rows = [(cid, [float(cid)], 0, cid) for cid in range(4)] + [
            (vid, [1.0], 0, cid) for vid, cid in assignment
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int, centroid_id long"
        )
        tmp = path + "/__building.0"
        df.write.mode("overwrite").partitionBy("centroid_id").parquet(
            tmp + "/data"
        )
        (
            spark.createDataFrame([(4,)], "n_centroids int")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp + "/manifest")
        )
        commit_version(spark, path, tmp)

    hot = str(tmp_path / "hot")
    write_fake_index(hot, [(vid, 0) for vid in range(10, 30)])
    rep = {r["centroid_id"]: r for r in ivf_occupancy_report(spark, hot).collect()}
    # only the hot list has real vectors; centroid self-rows are excluded
    assert set(rep) == {0}
    assert rep[0]["n_vectors"] == 20
    # skew is measured against the manifest's FULL list universe (4), not
    # the populated-list count — total collapse into 1 of 4 lists must
    # read 4.0, the exact imbalance the retrain monitor exists to catch
    assert rep[0]["share"] == 1.0 and rep[0]["skew"] == 4.0
    assert needs_ivf_retrain(spark, hot, skew_threshold=3.0)
    assert not needs_ivf_retrain(spark, hot, skew_threshold=4.5)

    skewed = str(tmp_path / "skewed")
    write_fake_index(
        skewed,
        [(vid, 0) for vid in range(10, 40)] + [(100, 1), (101, 2), (102, 3)],
    )
    rep = {r["centroid_id"]: r for r in ivf_occupancy_report(spark, skewed).collect()}
    assert rep[0]["n_vectors"] == 30 and rep[1]["n_vectors"] == 1
    # 4 populated lists, 33 vectors: hot skew = 30 / (33/4) ≈ 3.64
    assert rep[0]["skew"] == pytest.approx(30 * 4 / 33)
    assert needs_ivf_retrain(spark, skewed, skew_threshold=3.0)
    assert not needs_ivf_retrain(spark, skewed, skew_threshold=5.0)
    # single write ⇒ one file per list ⇒ no compaction due
    assert not needs_ivf_compaction(spark, skewed)


def test_ivf_retrain_equals_fresh_rebuild(spark, sf_dir, tmp_path):
    """Retraining the index to a new centroid count == write_ivf_index
    over the same vectors at that count, row-for-row — the retrain
    derives everything from the index itself (no corpus access), updates
    the manifest, and lands compacted (one file per list)."""
    from admira_etl_project_prueba_spark.operators.similarity import (
        ivf_files_per_list,
        ivf_resolved_paths,
        ivf_topk_from_index,
        retrain_ivf_index,
        write_ivf_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path, fresh = str(tmp_path / "idx"), str(tmp_path / "fresh")
    write_ivf_index(emb, path, n_centroids=8)
    assert retrain_ivf_index(spark, path, n_centroids=24) == 24
    manifest = ivf_resolved_paths(spark, path)[1]
    assert spark.read.parquet(manifest).first()["n_centroids"] == 24
    write_ivf_index(emb, fresh, n_centroids=24)

    def rows(p):
        return sorted(
            (r["vec_id"], r["centroid_id"], r["label"])
            for r in spark.read.parquet(
                ivf_resolved_paths(spark, p)[0]
            ).collect()
        )

    assert rows(path) == rows(fresh)
    # retrain compacts as a side effect: one file per list partition
    assert ivf_files_per_list(spark, path).agg({"n_files": "max"}).first()[0] == 1
    # probes keep working against the retrained index + new manifest value
    got = [
        tuple(r)
        for r in ivf_topk_from_index(spark, emb, path, n_centroids=24).collect()
    ]
    want = [
        tuple(r)
        for r in ivf_topk_from_index(spark, emb, fresh, n_centroids=24).collect()
    ]
    assert got == want and len(got) > 0


def test_ivf_retrain_recommended_count_and_crash_recovery(spark, sf_dir, tmp_path):
    """recommended_n_centroids sizes lists to the measured occupancy
    target (ceil of real vectors / target); retrain with n_centroids=None
    adopts it, and the scratch of a crashed prior writer (an uncommitted
    ``__building.*`` directory) is swept by the retrain's commit instead
    of failing it or becoming visible."""
    import os

    from admira_etl_project_prueba_spark.operators.similarity import (
        ivf_resolved_paths,
        recommended_n_centroids,
        retrain_ivf_index,
        write_ivf_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 200")
    path = str(tmp_path / "idx")
    write_ivf_index(emb, path, n_centroids=4)
    # 200 vectors, 4 of them centroid self-rows -> 196 real
    assert recommended_n_centroids(spark, path, target_per_list=50) == 4  # ceil(196/50)
    assert recommended_n_centroids(spark, path, target_per_list=64) == 4  # ceil(196/64)=4
    assert recommended_n_centroids(spark, path, target_per_list=10) == 20
    # simulate a writer that crashed before its commit rename
    os.makedirs(os.path.join(path, "__building.1", "data"))
    k = retrain_ivf_index(spark, path, n_centroids=10)
    assert k == 10
    assert sorted(os.listdir(path)) == ["v00000001", "v00000002"]
    data, manifest = ivf_resolved_paths(spark, path)
    assert spark.read.parquet(manifest).first()["n_centroids"] == 10
    # all 200 vectors survived the retrain
    assert spark.read.parquet(data).count() == 200


def test_ivf_retrain_rejects_nonpositive_centroid_count(spark, sf_dir, tmp_path):
    """retrain with n_centroids < 1 must raise BEFORE any IO: ivf_assign
    over an empty centroid set yields an empty assignment, and the
    commit would replace the live index with an empty version."""
    import pytest as _pytest

    from admira_etl_project_prueba_spark.functions.fs import latest_version
    from admira_etl_project_prueba_spark.operators.similarity import (
        ivf_data_path,
        retrain_ivf_index,
        write_ivf_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 100")
    path = str(tmp_path / "idx")
    write_ivf_index(emb, path, n_centroids=4)
    for bad in (0, -3):
        with _pytest.raises(ValueError, match="n_centroids must be >= 1"):
            retrain_ivf_index(spark, path, n_centroids=bad)
    # the index is untouched
    assert latest_version(spark, path) == "v00000001"
    assert spark.read.parquet(ivf_data_path(spark, path)).count() == 100


def test_coarse_assign_parity_and_determinism(spark, sf_dir):
    """The two-level coarse assignment (retrain's n·k escape hatch) must
    stay CLOSE to the exact argmax — bounds measured on this data with
    margin (agreement 0.84 at k=31/w=4; mean cos_to_centroid ratio
    0.966): misassigned vectors land in near-best lists, never garbage.
    Deterministic: two runs agree row-for-row (no RNG in the kernel)."""
    from pyspark.sql import functions as F

    from admira_etl_project_prueba_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_coarse,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k = 31  # prime, > sf0.001's natural seed count — forces g=6, w=4 < g
    j = (
        ivf_assign(emb, k)
        .selectExpr("vec_id", "centroid_id AS e", "cos_to_centroid AS ce")
        .join(
            ivf_assign_coarse(emb, k, group_probe=4).selectExpr(
                "vec_id", "centroid_id AS c", "cos_to_centroid AS cc"
            ),
            "vec_id",
        )
    )
    n = j.count()
    assert n == emb.count()  # every vector assigned exactly once
    assert j.filter("e = c").count() / n >= 0.75
    m = j.agg(F.avg("ce").alias("ae"), F.avg("cc").alias("ac")).first()
    assert m["ac"] >= 0.93 * m["ae"]
    # within a group-probe, the coarse argmax IS the argmax: coarse
    # cosine can never exceed exact (it optimizes over a subset)
    assert j.filter("cc > ce + 1e-12").count() == 0
    # deterministic re-run
    a = sorted(map(tuple, ivf_assign_coarse(emb, k).collect()))
    b = sorted(map(tuple, ivf_assign_coarse(emb, k).collect()))
    assert a == b
    # no reduction available (w >= g): falls back to the exact kernel
    exact = sorted(map(tuple, ivf_assign(emb, 16).collect()))
    fallback = sorted(map(tuple, ivf_assign_coarse(emb, 16, group_probe=4).collect()))
    assert exact == fallback


def test_retrain_coarse_mode_recall_parity_and_auto_switch(
    spark, sf_dir, tmp_path, monkeypatch
):
    """retrain_ivf_index's escape hatch end-to-end: a COARSE-retrained
    index serves probes with recall within 0.2 of the EXACT-retrained
    index (measured equal at sf0.1); auto mode switches kernels on the
    n·k threshold — below it auto == exact row-for-row, above it
    auto == coarse row-for-row (both kernels deterministic)."""
    from admira_etl_project_prueba_spark.operators import similarity
    from admira_etl_project_prueba_spark.operators.similarity import (
        cosine_topk,
        ivf_resolved_paths,
        ivf_topk_from_index,
        retrain_ivf_index,
        write_ivf_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = 31

    def build(path, mode):
        write_ivf_index(emb, path, n_centroids=8)
        got = retrain_ivf_index(spark, path, n_centroids=k, assign_mode=mode)
        assert got == k
        data, manifest = ivf_resolved_paths(spark, path)
        assert spark.read.parquet(manifest).first()["n_centroids"] == k
        idx = spark.read.parquet(data)
        assert idx.count() == n  # no vector lost to the approximate kernel
        assert idx.agg({"centroid_id": "max"}).first()[0] < k
        return path

    exact_p = build(str(tmp_path / "exact"), "exact")
    coarse_p = build(str(tmp_path / "coarse"), "coarse")

    def recall(index_path, q):
        truth = {r["vec_id"] for r in cosine_topk(emb, q, 10).collect()}
        got = {
            r["vec_id"]
            for r in ivf_topk_from_index(
                spark, emb, index_path, q, 10, n_centroids=k, n_probe=8
            ).collect()
        }
        return len(truth & got) / 10

    for q in (0, 7, 99):
        assert recall(coarse_p, q) >= recall(exact_p, q) - 0.2, q

    def rows(p):
        return sorted(
            (r["vec_id"], r["centroid_id"])
            for r in spark.read.parquet(ivf_resolved_paths(spark, p)[0]).collect()
        )

    # auto below the threshold == exact
    auto_p = str(tmp_path / "auto_lo")
    write_ivf_index(emb, auto_p, n_centroids=8)
    retrain_ivf_index(spark, auto_p, n_centroids=k, assign_mode="auto")
    assert rows(auto_p) == rows(exact_p)
    # auto above the threshold == coarse
    monkeypatch.setattr(similarity, "COARSE_ASSIGN_THRESHOLD", 1)
    auto_hi = str(tmp_path / "auto_hi")
    write_ivf_index(emb, auto_hi, n_centroids=8)
    retrain_ivf_index(spark, auto_hi, n_centroids=k, assign_mode="auto")
    assert rows(auto_hi) == rows(coarse_p)
    # bad mode rejected before any IO
    import pytest as _pytest

    with _pytest.raises(ValueError, match="assign_mode"):
        retrain_ivf_index(spark, auto_hi, n_centroids=k, assign_mode="bogus")


def test_cluster_bounded_ops_accept_persisted_assignments(spark, sf_dir, tmp_path):
    """semantic_dedup_pairs/survivors and knn_label_accuracy claim the
    100 TB assignment comes from the persisted IVF index — the
    `assignments` seam (shared with ivf_topk) makes that literal: a
    frame read from write_ivf_index's output must reproduce the inline
    computation row-for-row (same deterministic argmax), and a
    COARSE-retrained index's lists are honored as-is (the op consumes
    whatever partitioning the index carries)."""
    from admira_etl_project_prueba_spark.operators.similarity import (
        ivf_data_path,
        knn_label_accuracy,
        retrain_ivf_index,
        semantic_dedup_pairs,
        semantic_dedup_survivors,
        write_ivf_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "idx")
    write_ivf_index(emb, path, n_centroids=16)
    persisted = spark.read.parquet(ivf_data_path(spark, path))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(semantic_dedup_pairs(emb, 16, 0.8, assignments=persisted)) == rows(
        semantic_dedup_pairs(emb, 16, 0.8)
    )
    assert rows(
        semantic_dedup_survivors(emb, 16, 0.8, assignments=persisted)
    ) == rows(semantic_dedup_survivors(emb, 16, 0.8))
    assert rows(knn_label_accuracy(emb, 16, assignments=persisted)) == rows(
        knn_label_accuracy(emb, 16)
    )

    # a coarse-retrained index is a valid assignment source: the report
    # stays complete (every label scored) and sane (accuracy in [0,1])
    retrain_ivf_index(spark, path, n_centroids=31, assign_mode="coarse")
    coarse = spark.read.parquet(ivf_data_path(spark, path))
    rep = knn_label_accuracy(emb, 31, assignments=coarse).collect()
    assert {r["label"] for r in rep} == {r["label"] for r in emb.select("label").distinct().collect()}
    assert all(0.0 <= r["accuracy"] <= 1.0 for r in rep)


def test_ivf_topk_plan_shape_pinned(spark, sf_dir, tmp_path, plan_operators):
    """Pin ivf_topk's physical shape in BOTH forms (inline assignment vs
    the assignments= index seam) so a refactor that quietly adds a scan
    or shuffle fails here instead of surfacing as an unexplained bench
    drift (the round-9 0.85→1.13s scare was noise; this makes the next
    one attributable).  Counts are of physical operators in the FINAL
    AQE plans, the dynamic-pruning subquery's included, each operator
    once (``plan_operators``): AQE decides per run whether the probe's
    broadcast prints inside that subquery or in the main plan, so a
    count over the plan string flipped between (4, 3, 3) and (3, 2, 2)
    for the same work.

    Plan shape is only well-defined under pinned planner state, so the
    preconditions are established here rather than assumed: a cached
    relation left by ANY earlier test would be substituted into these
    plans (an in-memory scan in place of a FileScan), and a leaked AQE
    toggle would change Exchange materialization wholesale."""
    from admira_etl_project_prueba_spark.sources.tables import load_table

    spark.catalog.clearCache()
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true", (
        "AQE left disabled by an earlier test — fix that leak, "
        "not this pin"
    )
    e = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_shape_idx")
    similarity.write_ivf_index(e, path, n_centroids=16)
    stored = spark.read.parquet(similarity.ivf_data_path(spark, path))

    def shape(df):
        df.collect()  # finalize AQE before reading the plan
        ops = plan_operators(df)
        assert "BatchEvalPythonExec" not in ops  # never row-at-a-time Python
        return (
            ops["ShuffleExchangeExec"],
            ops["BroadcastExchangeExec"],
            ops["FileSourceScanExec"],
        )

    # inline form: corpus×centroid assignment at query time — 5 scans
    # (corpus, centroid seed, query vector, assignment's two legs), one
    # shuffle (the assignment's argmax), every join broadcast
    assert shape(similarity.ivf_topk(e, k=10, n_probe=4)) == (1, 4, 5)
    # seamed form: assignment comes from the persisted index — one scan,
    # one broadcast and the shuffle fewer; the probe prunes the index
    # scan (pruning itself is asserted in
    # test_ivf_precomputed_index_matches_inline)
    assert shape(
        similarity.ivf_topk(e, k=10, n_probe=4, assignments=stored)
    ) == (0, 3, 4)


def test_ivf_lifecycle_equals_fresh_rebuild(spark, sf_dir, tmp_path):
    """build → append-merge → compact → retrain through committed
    versions ends row-identical to one fresh build over the union at the
    retrained count, probes included, with one file per list."""
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    store, fresh = str(tmp_path / "store"), str(tmp_path / "fresh")
    similarity.write_ivf_index(e.filter("vec_id < 300"), store, n_centroids=16)
    similarity.merge_ivf_index(spark, store, e.filter("vec_id >= 300"))
    similarity.compact_ivf_index(spark, store)
    assert similarity.retrain_ivf_index(spark, store, n_centroids=8) == 8
    similarity.write_ivf_index(e, fresh, n_centroids=8)

    def rows(path):
        return sorted(
            (r["vec_id"], r["centroid_id"])
            for r in spark.read.parquet(
                similarity.ivf_data_path(spark, path)
            ).collect()
        )

    assert rows(store) == rows(fresh)
    a = similarity.ivf_topk_from_index(spark, e, store, k=5, n_centroids=8)
    b = similarity.ivf_topk_from_index(spark, e, fresh, k=5, n_centroids=8)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]
    fan = similarity.ivf_files_per_list(spark, store)
    assert fan.filter("n_files > 1").count() == 0


def test_ivf_split_assign_invariants(spark, sf_dir):
    """Incremental split (round 10): k grows by exactly the deficit,
    members of a flagged list land on {parent} ∪ {that list's seeds}
    (never another parent's sublist), healthy lists are untouched, and
    membership is preserved — the occupancy record itself is hash-gated
    in the catalog (ivf_split_occupancy)."""
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    base = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity.ivf_assign(e, 16).collect()
    }
    out, seeds = similarity._ivf_split_parts(e, 16, 30, None, None, "split1")
    got = {r["vec_id"]: r["centroid_id"] for r in out.collect()}
    assert set(got) == set(base)  # membership preserved
    seed_rows = seeds.collect()
    by_parent: dict[int, set] = {}
    for r in seed_rows:
        by_parent.setdefault(r["parent_id"], set()).add(r["cand_cid"])
    # new ids are dense from 16, one per seed
    assert sorted(c for s in by_parent.values() for c in s) == list(
        range(16, 16 + len(seed_rows))
    )
    from collections import Counter

    occ = Counter(base.values())
    import math

    want_deficit = sum(
        math.ceil(n / 30) - 1 for n in occ.values() if n > 30
    )
    assert len(seed_rows) == want_deficit > 0
    for vec_id, new_cid in got.items():
        old = base[vec_id]
        if old in by_parent:  # flagged: parent-contained reassignment
            assert new_cid == old or new_cid in by_parent[old]
        else:  # healthy: untouched
            assert new_cid == old


def test_split_ivf_index_store_cycle(spark, sf_dir, tmp_path):
    """split_ivf_index on a persisted store: new version carries the
    grown manifest + explicit centroid table; probes and merges resolve
    the explicit universe; compact preserves it; full retrain drops it
    (re-establishing the vec_id convention)."""
    from admira_etl_project_prueba_spark.functions.fs import list_versions
    from admira_etl_project_prueba_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    p = str(tmp_path / "ivf")
    similarity.write_ivf_index(e, p, n_centroids=16)
    new_k = similarity.split_ivf_index(spark, p, target_per_list=30)
    assert new_k > 16
    data, manifest = similarity.ivf_resolved_paths(spark, p)
    assert spark.read.parquet(manifest).first()["n_centroids"] == new_k
    cents = similarity.ivf_centroids_frame(spark, p)
    assert cents is not None and cents.count() == new_k
    # membership preserved through the store op
    assert spark.read.parquet(data).count() == e.count()
    # probe works against the explicit universe (k rows, valid ids)
    topk = similarity.ivf_topk_from_index(spark, e, p, k=5).collect()
    assert len(topk) == 5
    assert all(r["centroid_id"] < new_k for r in topk)
    # merge adopts the manifest k (caller passes nothing) and appends
    n0 = spark.read.parquet(data).count()
    extra = e.selectExpr(
        "vec_id + 100000 AS vec_id", "label", "embedding"
    ).limit(50)
    similarity.merge_ivf_index(spark, p, extra)
    assert spark.read.parquet(data).count() == n0 + 50
    # compact carries the centroid table into the next version
    similarity.compact_ivf_index(spark, p)
    assert similarity.ivf_centroids_frame(spark, p).count() == new_k
    assert similarity.ivf_files_per_list(spark, p).filter(
        "n_files > 1"
    ).count() == 0
    # full retrain re-establishes the convention and drops the table
    k2 = similarity.retrain_ivf_index(spark, p, n_centroids=8)
    assert k2 == 8
    assert similarity.ivf_centroids_frame(spark, p) is None
    assert len(similarity.ivf_topk_from_index(spark, e, p, k=5).collect()) == 5
