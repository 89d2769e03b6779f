"""Similarity search over embedding columns (``array<float>``).

Beyond-reference operators for training-data pipelines: exact cosine top-k
as the correctness baseline, and a deterministic random-hyperplane LSH
bucketing as the scale path (candidate set shrinks ~2^planes-fold before
any distance math).

Numeric policy: floats are promoted to double and every dot product is a
LEFT-TO-RIGHT fold (``aggregate``/``zip_with``), which DuckDB's
``list_sum(list_transform(...))`` reproduces bit-for-bit — verified, so
even the floating-point operators are oracle-checkable.

Scale posture:
* brute-force top-k: one scan, row-local arithmetic, TakeOrdered(k) — no
  shuffle of the corpus; the right baseline up to ~10^7 vectors/query-batch.
* LSH: bucket id is row-local; the query probes one bucket (or the
  multi-probe neighborhood).  At 100 TB the table is written bucketed
  (`bucketBy(buckets, 'bucket')`) so a probe is a partition-pruned read.
* the hyperplanes are derived from a deterministic integer LCG — no RNG
  state, same planes on every engine, every run, every cluster size.
"""

from __future__ import annotations

import math
import threading
from collections import OrderedDict
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from admira_etl_project_prueba_spark.functions.fs import (
    clean_version_scratch,
    commit_version,
    latest_version,
    maintenance_lease,
    path_exists,
    path_mtime,
    resolve_store_root,
    version_scratch,
)
from admira_etl_project_prueba_spark.operators import _driver

DIM = 64  # embedding dimensionality in the testdata tables

#: shared maintenance-trigger defaults — the service tier's verdicts
#: (corpus_service._ivf_health) read THESE so API monitoring can never
#: silently diverge from the operator-level triggers below
RETRAIN_SKEW_THRESHOLD = 4.0
MAX_FILES_PER_LIST = 8

#: the provisioning rule docs/SCALE.md measured (k-NN rehearsal: fixed
#: 32 lists at 10× corpus → 101.5× pair volume; lists TRACKING the
#: corpus at ~64 vectors/list → 10.4×): cluster-bounded ops stay linear
#: only when list CAPACITY is bounded, so recommended_n_centroids sizes
#: the list count to hold this occupancy
TARGET_VECTORS_PER_LIST = 64

#: deterministic "random" hyperplanes: plane i, component j (1-based j)
#: value in [-1, 1): ((LCG(i·DIM+j) mod 2001) - 1000) / 1000
_PLANE_VAL = "((((1103515245 * CAST({idx} AS BIGINT) + 12345) % 2001) + 2001) % 2001 - 1000) / 1000.0"


def _dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _norm(a: str) -> str:
    return f"sqrt(aggregate({a}, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x))"


def with_cosine(
    targets: DataFrame,
    query_col: str = "q",
    vec_col: str = "v",
    nq_col: str | None = None,
    nv_col: str | None = None,
) -> DataFrame:
    """Append ``cosine`` = dot/(|q||v|), 0.0 when either norm is 0.

    The norms are let-bound through a 1-element aggregate so each fold
    (dot, |q|, |v|) evaluates ONCE per pair — a plain CASE re-evaluates
    both norm folds in the guard and again in the quotient (Catalyst
    does no subexpression elimination inside interpreted higher-order
    functions).  Same fold order and float grouping, so the result is
    bit-identical (oracle-gated); measured −30% on broadcast pair
    scoring.

    ``nq_col``/``nv_col`` name ALREADY-COMPUTED norm columns (use
    :func:`with_norm` below the join): when a row participates in many
    pairs (assignment n·k, batch query q·n) the norm folds move out of
    the pair loop entirely and only the dot fold remains per pair
    (measured −60%).  sqrt → guard → multiply → divide grouping is the
    same, so results stay bit-identical (oracle-gated)."""
    dot = _dot(query_col, vec_col)
    if nq_col is not None and nv_col is not None:
        expr = (
            f"CASE WHEN {nq_col} > 0 AND {nv_col} > 0 "
            f"THEN {dot} / ({nq_col} * {nv_col}) ELSE 0.0 END"
        )
    elif nq_col is not None:
        nv = _norm(vec_col)
        expr = (
            f"aggregate(array(struct({dot} AS d, {nv} AS b)), "
            "CAST(0 AS DOUBLE), "
            f"(acc, p) -> CASE WHEN {nq_col} > 0 AND p.b > 0 "
            f"THEN p.d / ({nq_col} * p.b) ELSE acc END)"
        )
    elif nv_col is not None:
        nq = _norm(query_col)
        expr = (
            f"aggregate(array(struct({dot} AS d, {nq} AS a)), "
            "CAST(0 AS DOUBLE), "
            f"(acc, p) -> CASE WHEN p.a > 0 AND {nv_col} > 0 "
            f"THEN p.d / (p.a * {nv_col}) ELSE acc END)"
        )
    else:
        nq, nv = _norm(query_col), _norm(vec_col)
        expr = (
            f"aggregate(array(struct({dot} AS d, {nq} AS a, {nv} AS b)), "
            "CAST(0 AS DOUBLE), "
            "(acc, p) -> CASE WHEN p.a > 0 AND p.b > 0 "
            "THEN p.d / (p.a * p.b) ELSE acc END)"
        )
    return targets.withColumn("cosine", F.expr(expr))


def with_norm(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    """Append ``out`` = |vec_col| — computed per ROW below a join so the
    norm fold runs n + k times instead of n·k (see :func:`with_cosine`'s
    prenormed path)."""
    return df.withColumn(out, F.expr(_norm(vec_col)))


def _as_double(df: DataFrame, out: str) -> DataFrame:
    return df.selectExpr(
        "vec_id", "label", f"transform(embedding, x -> CAST(x AS DOUBLE)) AS {out}"
    )


def _double_array(vals) -> str:
    """SQL array literal of exact doubles (``None`` stays NULL)."""
    return "array(" + ", ".join(
        "CAST(NULL AS DOUBLE)" if v is None else f"CAST('{float(v)!r}' AS DOUBLE)"
        for v in vals
    ) + ")"


def literal_query_frame(spark, query_vec: list[float]) -> DataFrame:
    """A 1-row embeddings-shaped frame for an EXTERNAL query vector —
    the retrieval-service reality: the caller arrives with an embedding,
    not a corpus vec_id.  The vector folds into the plan as an exact
    double-literal array (no shuffle, no broadcast variable), under the
    sentinel ``vec_id = -1`` so every downstream self-match exclusion
    (``vec_id != qid``) is a no-op against real corpus rows.  All
    query-side plans (probe, distance table, rerank) consume this frame
    exactly as they would a point-read of a stored vector."""
    return spark.range(1).selectExpr(
        "CAST(-1 AS BIGINT) AS vec_id",
        "CAST(-1 AS INT) AS label",
        f"{_double_array(query_vec)} AS embedding",
    )


def _query_source(
    embeddings: DataFrame, query_vec_id: int, query_vec: list[float] | None
):
    """(query_frame, exclude_id): the 1-row query frame — a corpus
    point-read for ``query_vec_id``, or the literal frame for an
    external ``query_vec`` (which excludes nothing: sentinel -1)."""
    if query_vec is not None:
        return (
            literal_query_frame(embeddings.sparkSession, query_vec),
            -1,
        )
    return (
        embeddings.filter(F.col("vec_id") == query_vec_id),
        int(query_vec_id),
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    query_vec: list[float] | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k against one stored vector — or,
    with ``query_vec``, against an external embedding (same plan; the
    query side becomes a literal frame).

    The 1-row query side is broadcast; ties broken by vec_id for
    determinism; the self-match is excluded.
    """
    qf, qid = _query_source(embeddings, query_vec_id, query_vec)
    # the 1-row query's norm folds once below the join, not per corpus row
    q = with_norm(_as_double(qf, "q").select("q"), "q", "nq")
    t = _as_double(embeddings.filter(F.col("vec_id") != qid), "v")
    scored = with_cosine(t.crossJoin(F.broadcast(q)), nq_col="nq")
    return (
        scored.select("vec_id", "label", "cosine")
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def cosine_topk_batch(
    embeddings: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Top-k neighbors for each of the first ``n_queries`` vectors —
    the batch shape (query ⨯ corpus, per-query window top-k)."""
    q = with_norm(
        _as_double(embeddings.filter(F.col("vec_id") < n_queries), "q").selectExpr(
            "vec_id AS query_id", "q"
        ),
        "q",
        "nq",
    )
    # norms per row below the join: n + q folds instead of 2·n·q
    t = with_norm(_as_double(embeddings, "v"), "v", "nv")
    scored = with_cosine(
        t.crossJoin(F.broadcast(q)), nq_col="nq", nv_col="nv"
    ).filter(F.col("vec_id") != F.col("query_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "cosine", "rnk")
    )


def lsh_bucket_expr(vec_col: str, n_planes: int = 8) -> str:
    """SQL expression: random-hyperplane LSH bucket id (sign pattern)."""
    bits = []
    for i in range(n_planes):
        plane = (
            f"transform(sequence(1, {DIM}), "
            f"j -> {_PLANE_VAL.format(idx=f'({i} * {DIM} + j)')})"
        )
        bits.append(
            f"(CASE WHEN {_dot(vec_col, plane)} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        )
    return " + ".join(bits)


def lsh_buckets(embeddings: DataFrame, n_planes: int = 8) -> DataFrame:
    """Assign every vector its LSH bucket (row-local; bucket-write ready)."""
    t = _as_double(embeddings, "v")
    return t.selectExpr("vec_id", "label", f"{lsh_bucket_expr('v', n_planes)} AS bucket")


def lsh_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_planes: int = 8,
    query_vec: list[float] | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.
    ``query_vec``: external embedding — bucketed by the same plane
    expressions as the corpus (the hash is deterministic, so an external
    query lands exactly where a stored copy of it would).

    At scale the bucket column is pre-materialized + bucketed on disk, so
    this becomes a pruned read of ~corpus/2^planes vectors instead of a
    full scan.
    """
    t = _as_double(embeddings, "v").withColumn(
        "bucket", F.expr(lsh_bucket_expr("v", n_planes))
    )
    qf, qid = _query_source(embeddings, query_vec_id, query_vec)
    # the 1-row query's norm folds once below the join, not per candidate
    q = with_norm(
        _as_double(qf, "v")
        .withColumn("bucket", F.expr(lsh_bucket_expr("v", n_planes)))
        .selectExpr("v AS q", "bucket AS qbucket"),
        "q",
        "nq",
    )
    cands = t.join(F.broadcast(q), F.col("bucket") == F.col("qbucket")).filter(
        F.col("vec_id") != qid
    )
    scored = with_cosine(cands, nq_col="nq")
    return (
        scored.select("vec_id", "label", "bucket", "cosine")
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def cosine_topk_pandas(
    embeddings: DataFrame, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """Brute-force cosine top-k with the scoring hop as a scalar
    ``@pandas_udf`` — the Arrow-vectorized alternative to the SQL fold in
    :func:`cosine_topk`.

    The query vector travels inside the UDF closure (broadcast with the
    serialized function, model-sized); each Arrow batch of corpus vectors
    becomes one numpy matrix multiply.  Same ranking as the fold version
    (floats may differ in the last ulp — numpy uses pairwise summation, the
    fold is strictly sequential — hence pytest approx-parity, not an
    oracle).  Use this shape when scoring needs real linear algebra
    (matrix-vector, PCA projections) that SQL folds can't express.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    q = np.array(
        embeddings.filter(F.col("vec_id") == query_vec_id)
        .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS q")
        .first()["q"],
        dtype="float64",
    )
    qn = float(np.sqrt((q * q).sum()))

    def _cosine(vecs):
        m = np.stack(vecs.map(lambda v: np.asarray(v, dtype="float64")))
        dots = m @ q
        norms = np.sqrt((m * m).sum(axis=1))
        denom = norms * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(denom > 0, dots / denom, 0.0)
        return pd.Series(out)

    # real type objects: the module-wide `from __future__ import
    # annotations` would stringify inline hints beyond pyspark's resolver
    _cosine.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    cosine = pandas_udf(_cosine, "double")

    t = embeddings.filter(F.col("vec_id") != query_vec_id)
    return (
        t.select("vec_id", "label", cosine(F.col("embedding")).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def ivf_assign(embeddings: DataFrame, n_centroids: int = 16) -> DataFrame:
    """IVF inverted-list assignment: each vector joins the list of its
    nearest centroid (cosine argmax, ties → smallest centroid id).

    Centroids are the first ``n_centroids`` stored vectors — deterministic
    seeds standing in for a k-means pass; the *dataflow* is the real IVF
    shape: centroids broadcast (they are model-sized, not corpus-sized),
    assignment is a per-row argmax, and at scale the table is written
    ``partitionBy(centroid_id)`` so a probe is partition-pruned I/O, not a
    scan.  Returns (vec_id, label, centroid_id, cos_to_centroid).
    """
    cents = with_norm(
        _as_double(embeddings.filter(F.col("vec_id") < n_centroids), "q").selectExpr(
            "vec_id AS centroid_id", "q"
        ),
        "q",
        "nq",
    )
    # norms per ROW below the join (n + k folds) instead of per PAIR
    # (2·n·k folds) — only the dot fold remains in the n·k loop
    t = with_norm(_as_double(embeddings, "v"), "v", "nv")
    scored = with_cosine(
        t.crossJoin(F.broadcast(cents)), nq_col="nq", nv_col="nv"
    )
    # argmax as ONE hash aggregate (max of (cosine, -centroid_id) struct:
    # field-by-field comparison ⇒ highest cosine, smallest centroid on
    # ties) — partial-agg'd map-side, no sort window over corpus×centroids
    best = scored.groupBy("vec_id", "label").agg(
        F.max(
            F.struct(
                F.col("cosine"), (-F.col("centroid_id")).alias("neg_cid")
            )
        ).alias("m")
    )
    return best.select(
        "vec_id",
        "label",
        (-F.col("m.neg_cid")).cast("long").alias("centroid_id"),
        F.col("m.cosine").alias("cos_to_centroid"),
    )


def ivf_assign_coarse(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_groups: int | None = None,
    group_probe: int = 4,
) -> DataFrame:
    """Two-level (coarse-quantizer) IVF assignment — the ESCAPE HATCH for
    :func:`ivf_assign`'s n·k CPU arm (docs/SCALE.md growth law: scored
    rows went 101× at 10× corpus with corpus-tracking k, because both n
    and k grow).

    Same seed-centroid contract (centroids ARE the ``vec_id <
    n_centroids`` rows, so existing probes keep working), same output
    schema; only the argmax is approximated, FAISS-IVF-style: the first
    ``n_groups`` (default ⌈√k⌉) centroids double as a coarse quantizer,
    each centroid is binned to its nearest coarse group (k·g rows — a
    model-sized job), each VECTOR scores only the coarse groups (n·g)
    and then the centroids inside its best ``group_probe`` groups
    (≈ n·probe·k/g).  Scored rows fall from n·k to n·(g + probe·k/g) =
    O(n·√k) at the default — the arm that was quadratic when k tracks
    the corpus becomes n^1.5 in the worst case, and the broadcast stays
    k centroid vectors either way.  Deterministic (no RNG): ties break
    to the smaller group/centroid id, so reruns are reproducible.

    Trade-off: a vector whose true nearest centroid lives outside its
    probed groups lands in a near-best list instead — assignment
    agreement and probe recall vs the exact argmax are pinned in pytest
    (test_similarity), and a misassigned vector degrades probe recall
    marginally, never correctness of what IS returned.
    """
    k = int(n_centroids)
    if n_groups is not None:
        g = int(n_groups)
    else:
        g = int(k**0.5)
        g += int(g * g < k)  # ⌈√k⌉
    w = int(group_probe)
    if g >= k or w >= g:
        return ivf_assign(embeddings, k)  # no reduction available
    scored = _coarse_scored(embeddings, k, g, w)
    best = scored.groupBy("vec_id", "label").agg(
        F.max(
            F.struct(F.col("cosine"), (-F.col("centroid_id")).alias("neg_cid"))
        ).alias("m")
    )
    return best.select(
        "vec_id",
        "label",
        (-F.col("m.neg_cid")).cast("long").alias("centroid_id"),
        F.col("m.cosine").alias("cos_to_centroid"),
    )


def _coarse_scored(embeddings: DataFrame, k: int, g: int, w: int) -> DataFrame:
    """The two-level kernel's fine-stage scored frame (vec × candidate
    centroid, cosine attached) — split out so the scale rehearsal can
    COUNT the rows the kernel actually scores (its headline claim) from
    the exact dataflow the assignment uses, not a re-derivation that
    could drift."""
    cents = _as_double(embeddings.filter(F.col("vec_id") < k), "c").selectExpr(
        "vec_id AS centroid_id", "c"
    )
    supers = cents.filter(F.col("centroid_id") < g).selectExpr(
        "centroid_id AS group_id", "c AS s"
    )
    # centroid → coarse group: k·g rows, both sides model-sized
    cent_group = (
        with_cosine(cents.crossJoin(F.broadcast(supers)), "s", "c")
        .groupBy("centroid_id")
        .agg(
            F.max(
                F.struct(F.col("cosine"), (-F.col("group_id")).alias("ng"))
            ).alias("m")
        )
        .select("centroid_id", (-F.col("m.ng")).cast("long").alias("group_id"))
    )
    # vector → top-w coarse groups: ONE hash aggregate (collect g scored
    # groups per vector, sort_array + slice keeps the best w) — partial-
    # agg'd map-side, no window sort over n·g rows.  Norms per row below
    # the join (see with_cosine prenormed path): n + g folds, not 2·n·g.
    supers_n = with_norm(supers, "s", "ns")
    t = with_norm(_as_double(embeddings, "v"), "v", "nv")
    vec_groups = (
        with_cosine(
            t.crossJoin(F.broadcast(supers_n)), "s", "v",
            nq_col="ns", nv_col="nv",
        )
        .groupBy("vec_id", "label", "v")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct((-F.col("cosine")).alias("nc"), F.col("group_id"))
                    )
                ),
                1,
                w,
            ).alias("top")
        )
        .select("vec_id", "label", "v", F.explode("top.group_id").alias("group_id"))
    )
    # score only the centroids inside the probed groups; norms per row
    # below the join (n·w + k folds instead of 2·n·probe·k/g)
    cand_cents = F.broadcast(
        with_norm(
            cents.join(cent_group, "centroid_id").select(
                "group_id", "centroid_id", "c"
            ),
            "c",
            "nc",
        )
    )
    return with_cosine(
        with_norm(vec_groups, "v", "nv").join(cand_cents, "group_id"),
        "c",
        "v",
        nq_col="nc",
        nv_col="nv",
    )


def write_ivf_index(
    embeddings: DataFrame, path: str, n_centroids: int = 16
) -> None:
    """Persist the IVF inverted lists: TRUE inverted lists carrying the
    vectors themselves — (vec_id, label, embedding) written
    ``partitionBy(centroid_id)`` — so a probe of p lists is partition-pruned
    I/O over p directories and the corpus parquet is NEVER rescanned at
    query time.  That is the 100 TB shape: assignment is a once-per-ingest
    batch job; a query touches ~n_probe/n_centroids of the index bytes.
    Consumers that only need the assignment (vec_id, centroid_id) read the
    same table with column pruning.

    A 1-row manifest records ``n_centroids`` so incremental merges can
    VALIDATE the centroid contract instead of trusting the caller — a
    merge with the wrong ``n_centroids`` would silently misread real
    vectors as centroids (see :func:`merge_ivf_index`).

    Every build commits a version: the lists and manifest are written
    under the store lease to ``__building.*`` scratch and land together
    as an immutable ``path/vNNNNNNNN/{data,manifest}`` directory by one
    atomic rename (:func:`functions.fs.commit_version`).  Readers resolve
    the newest version once at scan start (:func:`ivf_resolved_paths`)
    and are snapshot-isolated from every later compact, retrain or
    split; merges append into the current version's list partitions."""
    spark = embeddings.sparkSession
    assign = ivf_assign(embeddings, n_centroids).select("vec_id", "centroid_id")
    lists = embeddings.select("vec_id", "label", "embedding").join(assign, "vec_id")
    mrow = spark.createDataFrame([(int(n_centroids),)], "n_centroids int")
    with maintenance_lease(spark, path):
        clean_version_scratch(spark, path)
        tmp = version_scratch(path)
        lists.write.mode("overwrite").partitionBy("centroid_id").parquet(
            f"{tmp}/data"
        )
        mrow.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/manifest")
        commit_version(spark, path, tmp)


def ivf_resolved_paths(spark, path: str) -> tuple[str, str]:
    """(data_path, manifest_path) of the IVF store's current version,
    resolved once at scan start: version directories are immutable
    after commit (appends via :func:`merge_ivf_index` add files but
    never remove or rewrite, which a planned scan tolerates), so the
    reader is snapshot-isolated.  Raises ``ValueError`` on a flat store
    from the old layout (see :func:`functions.fs.resolve_store_root`)."""
    root = resolve_store_root(
        spark, path, f"write_ivf_index(embeddings, {path.rstrip('/')!r}, ...)"
    )
    return f"{root}/data", f"{root}/manifest"


def ivf_data_path(spark, path: str) -> str:
    """The parquet directory holding the store's CURRENT inverted lists
    — the seam consumers pass to ``spark.read.parquet`` for the
    ``assignments=`` fast path of :func:`ivf_topk` /
    :func:`semantic_dedup_pairs` / the service tier."""
    return ivf_resolved_paths(spark, path)[0]


def ivf_topk_from_index(
    spark,
    embeddings: DataFrame,
    index_path: str,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    query_vec: list[float] | None = None,
) -> DataFrame:
    """Index-only IVF probe: candidates come exclusively from the persisted
    ``write_ivf_index`` table — the corpus parquet is touched only for two
    pushdown point-reads (the query vector and the ``n_centroids`` seed
    centroids).  The ``centroid_id IN (probe)`` join against a broadcast
    1-column frame prunes the index scan to ``n_probe`` partition
    directories, so query-time I/O is ~``n_probe/n_centroids`` of the index
    bytes regardless of corpus size.  Equivalent results to ``ivf_topk``
    (same assignment and scoring), so it shares the same oracle SQL.
    ``query_vec``: serve an external embedding — the query point-read
    disappears (literal frame, sentinel -1)."""
    explicit = ivf_centroids_frame(spark, index_path)
    if explicit is not None:
        # split-grown store: the centroid universe lives in the version's
        # explicit table (the vec_id convention can't express it)
        cents = explicit.selectExpr(
            "centroid_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS c"
        )
    else:
        cents = _as_double(
            embeddings.filter(F.col("vec_id") < n_centroids), "c"
        ).selectExpr("vec_id AS centroid_id", "c")
    qf, qid = _query_source(embeddings, query_vec_id, query_vec)
    # the 1-row query's norm folds once below the joins, not per pair
    q = with_norm(_as_double(qf, "q").select("q"), "q", "nq")
    probe = (
        with_cosine(cents.crossJoin(F.broadcast(q)), "q", "c", nq_col="nq")
        .orderBy(F.col("cosine").desc(), F.col("centroid_id").asc())
        .limit(n_probe)
        .select("centroid_id")
    )
    lists = spark.read.parquet(ivf_data_path(spark, index_path)).selectExpr(
        "vec_id",
        "label",
        "centroid_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS v",
    )
    cands = lists.join(F.broadcast(probe), "centroid_id").filter(
        F.col("vec_id") != qid
    )
    scored = with_cosine(cands.crossJoin(F.broadcast(q)), nq_col="nq")
    return (
        scored.select("vec_id", "label", "centroid_id", "cosine")
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    assignments: DataFrame | None = None,
    query_vec: list[float] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF probe: rank centroids by similarity to the
    query, scan only the ``n_probe`` nearest inverted lists, exact cosine
    within.  Complements the LSH path: IVF recall degrades gracefully with
    n_probe (tunable at query time), LSH with plane count (fixed at write).
    ``query_vec``: external embedding via the shared literal-frame seam.

    Pass ``assignments`` — a (vec_id, centroid_id) frame, canonically
    ``spark.read.parquet`` over a ``write_ivf_index`` output — to skip the
    corpus × centroid assignment at query time: the probe's centroid
    filter then prunes to ``n_probe`` partition directories (visible as
    PartitionFilters in the scan), which is the difference between an
    index lookup and a full recompute at scale.  ``n_centroids`` must
    match the value the index was written with.  Without it, assignments
    are computed inline (self-contained form, used by the oracle gate).
    """
    if assignments is None:
        assignments = ivf_assign(embeddings, n_centroids)
    assign = assignments.select("vec_id", "centroid_id")
    cents = _as_double(embeddings.filter(F.col("vec_id") < n_centroids), "c").selectExpr(
        "vec_id AS centroid_id", "c"
    )
    qf, qid = _query_source(embeddings, query_vec_id, query_vec)
    # the 1-row query's norm folds once below the joins, not per pair
    q = with_norm(_as_double(qf, "q").select("q"), "q", "nq")
    probe = (
        with_cosine(cents.crossJoin(F.broadcast(q)), "q", "c", nq_col="nq")
        .orderBy(F.col("cosine").desc(), F.col("centroid_id").asc())
        .limit(n_probe)
        .select("centroid_id")
    )
    t = _as_double(embeddings, "v")
    cands = (
        t.join(assign, "vec_id")
        .join(F.broadcast(probe), "centroid_id")
        .filter(F.col("vec_id") != qid)
    )
    scored = with_cosine(cands.crossJoin(F.broadcast(q)), nq_col="nq")
    return (
        scored.select("vec_id", "label", "centroid_id", "cosine")
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.92,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: cluster the corpus by
    IVF centroid, then score exact cosine only over pairs WITHIN a cluster
    (SemDeDup, Abbas et al. 2023 — embedding-space dedup of web corpora).

    Returns (vec_id_a, vec_id_b, centroid_id, cosine) with ``a < b`` (the
    symmetric pair dedupped) and ``cosine ≥ threshold``.

    Scale shape: the cluster equi-join bounds candidates to cluster-local
    pairs — corpus-wide work is O(Σ|cluster|²), not O(n²), and clusters
    are capacity-bounded by the centroid count chosen at ingest.  At
    100 TB the assignment is the persisted ``write_ivf_index`` table —
    pass it as ``assignments`` (a (vec_id, centroid_id)-shaped frame,
    canonically ``spark.read.parquet`` over the index; same seam as
    :func:`ivf_topk`) so the n·k assignment is NOT recomputed inline per
    call and a coarse-retrained index's lists are honored as-is; misses
    across cluster boundaries are the accepted SemDeDup recall trade-off
    (raise n_probe-style coverage by lowering n_centroids).  Cosines are
    the same SQL fold both engines evaluate identically —
    exact-oracle-able.
    """
    if assignments is None:
        assignments = ivf_assign(embeddings, n_centroids)
    a = assignments.select("vec_id", "centroid_id")
    # norms are per-VECTOR: compute them once before the self-join, not
    # per pair — the zip_with/aggregate folds are interpreted, and
    # inlining |a| and |b| into every pair tripled the fold work
    # (measured ~2.4× end-to-end at sf0.1)
    t = (
        _as_double(embeddings, "v")
        .join(a, "vec_id")
        .selectExpr("vec_id", "centroid_id", "v", f"{_norm('v')} AS nrm")
    )
    left = t.selectExpr("vec_id AS vec_id_a", "centroid_id", "v AS va", "nrm AS na")
    right = t.selectExpr("vec_id AS vec_id_b", "centroid_id", "v AS vb", "nrm AS nb")
    pairs = left.join(right, "centroid_id").filter(
        F.col("vec_id_a") < F.col("vec_id_b")
    )
    return (
        pairs.withColumn(
            "cosine",
            F.expr(
                f"CASE WHEN na > 0 AND nb > 0 THEN {_dot('va', 'vb')} / (na * nb) "
                "ELSE 0.0 END"
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_id_a", "vec_id_b", "centroid_id", "cosine")
    )


def ivf_split_assign(
    embeddings: DataFrame,
    n_centroids: int = 16,
    target_per_list: int = TARGET_VECTORS_PER_LIST,
    assignments: DataFrame | None = None,
    centroids: DataFrame | None = None,
    salt: str = "split1",
) -> DataFrame:
    """INCREMENTAL retrain: split only the over-capacity inverted lists,
    leaving every healthy list untouched — the escape from full
    ``retrain_ivf_index``'s n·k assignment when drift is localized
    (docs/SCALE.md: the n·k CPU arm is the true retrain cost; after a
    split the scored-row bill is Σ_flagged |list|·(1+new sublists),
    deficit-sized, not corpus×k-sized).

    Deterministic recipe (every step engine-portable, so the occupancy
    result is exact-oracle-able): a list with n > ``target_per_list``
    members needs s = ceil(n/target) sublists; its s−1 NEW centroid
    seeds are its members ranked by the md5 bucket of (vec_id, salt)
    (pseudo-random spread, no RNG); new centroid ids extend the universe
    densely from ``n_centroids`` in (parent, rank) order; members of a
    flagged list re-assign by cosine argmax over {parent} ∪ {its seeds}
    only (ties → smallest id, matching :func:`ivf_assign`).  k grows by
    exactly the deficit Σ(s−1).

    ``centroids`` — (centroid_id, embedding) — overrides the
    ``vec_id < n_centroids`` convention for parent vectors (stores that
    have already split once carry an explicit centroid table).  Returns
    (vec_id, label, centroid_id).
    """
    out, _ = _ivf_split_parts(
        embeddings, n_centroids, target_per_list, assignments, centroids, salt
    )
    return out


def _ivf_split_parts(
    embeddings, n_centroids, target_per_list, assignments, centroids, salt
):
    """(new assignment, seed table) — the seed table (vec_id, parent_id,
    cand_cid) is the authoritative new-centroid↔seed-vector mapping the
    store op persists (re-deriving it from the assignment would break on
    exact-duplicate ties, where a seed can re-assign to its parent)."""
    if assignments is None:
        assignments = ivf_assign(embeddings, n_centroids)
    # `a` feeds FOUR consumers (occupancy, the flagged-member ranking, the
    # member re-score, the untouched pass-through) and `flagged` another
    # four — Catalyst has no cross-branch CSE, so without materialization
    # the inline n·k assignment would be recomputed once per branch.
    # Narrow (vec_id, centroid_id) / (parent_id, s) frames; lazy checkpoint
    # so one action computes each exactly once.  Assignment is
    # deterministic — sharing cannot change the result (oracle-gated).
    a = assignments.select("vec_id", "centroid_id").localCheckpoint(
        eager=False
    )
    occ = a.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n"))
    flagged = (
        occ.filter(F.col("n") > int(target_per_list))
        .selectExpr(
            "centroid_id AS parent_id",
            f"CAST(ceil(n / CAST({int(target_per_list)} AS DOUBLE)) AS INT) AS s",
        )
        .localCheckpoint(eager=False)
    )
    from pyspark.sql import Window as _W

    keyed = "concat(vec_id, '_" + str(salt) + "')"
    rank_key = _hex60_expr(keyed)
    ranked = (
        a.join(F.broadcast(flagged), a.centroid_id == flagged.parent_id)
        .selectExpr("vec_id", "parent_id", "s", f"{rank_key} AS hkey")
        .withColumn(
            "r",
            F.row_number().over(
                _W.partitionBy("parent_id").orderBy("hkey", "vec_id")
            ),
        )
    )
    # seed numbering is GLOBAL but deficit-sized (one row per new list) —
    # the single-partition window is over Σ(s-1) rows, never the corpus
    seeds = ranked.filter(F.col("r") <= F.col("s") - 1).withColumn(
        "cand_cid",
        F.lit(int(n_centroids))
        + F.row_number().over(_W.orderBy("parent_id", "r"))
        - 1,
    )
    if centroids is not None:
        parent_vecs = centroids.selectExpr(
            "centroid_id AS parent_id",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS c",
        ).join(F.broadcast(flagged.select("parent_id")), "parent_id")
    else:
        parent_vecs = (
            _as_double(embeddings, "c")
            .selectExpr("vec_id AS parent_id", "c")
            .join(F.broadcast(flagged.select("parent_id")), "parent_id")
        )
    seed_vecs = seeds.select("vec_id", "parent_id", "cand_cid").join(
        _as_double(embeddings, "c").select("vec_id", "c"), "vec_id"
    )
    cands = parent_vecs.selectExpr(
        "parent_id", "parent_id AS cand_cid", "c"
    ).unionByName(seed_vecs.select("parent_id", "cand_cid", "c"))
    members = (
        _as_double(embeddings, "v")
        .join(
            a.join(F.broadcast(flagged.select("parent_id")),
                   a.centroid_id == F.col("parent_id"))
            .select("vec_id", "parent_id"),
            "vec_id",
        )
    )
    # norms per row below the join: members + candidates folds, not
    # 2·(members × candidates-per-parent)
    rescored = with_cosine(
        with_norm(members, "v", "nv").join(
            F.broadcast(with_norm(cands, "c", "nc")), "parent_id"
        ),
        "c",
        "v",
        nq_col="nc",
        nv_col="nv",
    )
    reassigned = (
        rescored.groupBy("vec_id", "label")
        .agg(
            F.max(
                F.struct(F.col("cosine"), (-F.col("cand_cid")).alias("neg"))
            ).alias("m")
        )
        .select(
            "vec_id", "label", (-F.col("m.neg")).cast("long").alias("centroid_id")
        )
    )
    untouched = (
        embeddings.select("vec_id", "label")
        .join(a, "vec_id")
        .join(
            F.broadcast(flagged.select("parent_id")),
            F.col("centroid_id") == F.col("parent_id"),
            "left_anti",
        )
        .select("vec_id", "label", F.col("centroid_id").cast("long").alias("centroid_id"))
    )
    return (
        untouched.unionByName(reassigned),
        seeds.select("vec_id", "parent_id", "cand_cid"),
    )


def _hex60_expr(keyed: str) -> str:
    """Engine-portable 60-bit md5 bucket (textops.hex60's recipe, local
    copy to keep this module import-cycle-free)."""
    return f"CAST(conv(substring(md5({keyed}), 1, 15), 16, 10) AS BIGINT)"


def ivf_centroids_frame(spark, path: str) -> DataFrame | None:
    """The store's EXPLICIT centroid table — (centroid_id, embedding) —
    when the current version carries one (written by
    :func:`split_ivf_index`, whose grown centroid universe cannot be
    expressed by the ``vec_id < n_centroids`` convention), else None."""
    v = latest_version(spark, path)
    if v is None:
        return None
    cpath = f"{path.rstrip('/')}/{v}/centroids"
    if not path_exists(spark, cpath):
        return None
    return spark.read.parquet(cpath)


def split_ivf_index(
    spark,
    path: str,
    target_per_list: int = TARGET_VECTORS_PER_LIST,
    salt: str = "split1",
) -> int:
    """Apply :func:`ivf_split_assign` to a persisted index: commit a new
    version whose over-capacity lists are split in place — the
    incremental leg of the maintenance cycle next to full
    ``retrain_ivf_index``.  The new version carries an explicit
    ``centroids`` table (old universe by convention or prior table, plus
    the new seeds' vectors), which every probe/merge path resolves via
    :func:`ivf_centroids_frame`; the manifest's n_centroids becomes the
    grown k.  Returns the new centroid count.  A full retrain
    re-establishes the ``vec_id < n_centroids`` convention and drops
    the table."""
    with maintenance_lease(spark, path):
        clean_version_scratch(spark, path)
        data, manifest = ivf_resolved_paths(spark, path)
        old_k = int(spark.read.parquet(manifest).first()["n_centroids"])
        stored = spark.read.parquet(data)
        vectors = stored.select("vec_id", "label", "embedding")
        cents = ivf_centroids_frame(spark, path)
        new_assign, seeds = _ivf_split_parts(
            vectors,
            old_k,
            int(target_per_list),
            stored.select("vec_id", "centroid_id"),
            cents,
            salt,
        )
        # two consumers each (data write + centroid table; k derivation)
        # and Spark has no cross-branch CSE — materialize the narrow
        # frames once (both are at most corpus-narrow / deficit-sized)
        new_assign = new_assign.localCheckpoint()
        seeds = seeds.localCheckpoint()
        # k grows by exactly the deficit — from the SEED table, so an
        # empty sublist (every member re-chose its parent) still counts
        # toward the universe, matching the manifest the probes trust
        new_k = old_k + seeds.count()
        # centroid table for the new version: prior universe + seed vectors
        if cents is None:
            old_cents = vectors.filter(F.col("vec_id") < old_k).selectExpr(
                "CAST(vec_id AS INT) AS centroid_id", "embedding"
            )
        else:
            old_cents = cents.select("centroid_id", "embedding")
        new_cents = (
            seeds.select(F.col("cand_cid").alias("centroid_id"), "vec_id")
            .join(vectors.select("vec_id", "embedding"), "vec_id")
            .selectExpr("CAST(centroid_id AS INT) AS centroid_id", "embedding")
        )
        tmp = version_scratch(path)
        (
            vectors.join(new_assign.select("vec_id", "centroid_id"), "vec_id")
            .repartition("centroid_id")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(f"{tmp}/data")
        )
        old_cents.unionByName(new_cents).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/centroids")
        (
            spark.createDataFrame([(int(new_k),)], "n_centroids int")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{tmp}/manifest")
        )
        commit_version(spark, path, tmp)
    return int(new_k)


def write_semantic_pairs(
    spark,
    embeddings: DataFrame,
    path: str,
    threshold: float = 0.92,
    n_centroids: int = 16,
    ivf_index_path: str | None = None,
) -> dict:
    """Materialize :func:`semantic_dedup_pairs` as a versioned store —
    the table-scale serving shape for ``/corpus/dedup/pairs?method=
    semantic``: the route becomes a paged read of precomputed pairs
    instead of an O(Σ|cluster|²) scoring job per request.

    ``ivf_index_path`` (recommended): assignments AND the centroid
    universe come from the persisted index — the pairs table then
    reflects exactly the lists probes use, and no n·k assignment runs.
    The build threshold + n_centroids + assignments source land in the
    version's 1-row manifest so servers can VALIDATE a request against
    what was materialized (a request threshold below the build's cannot
    be answered from the table — pairs under the build threshold were
    never written).  Versioned layout (``fs.commit_version``): rebuilds
    are atomic, readers snapshot-isolated, same contract as the IVF
    store.  Returns the manifest row as a dict."""
    if ivf_index_path is not None:
        idx_data, idx_manifest = ivf_resolved_paths(spark, ivf_index_path)
        n_centroids = int(
            spark.read.parquet(idx_manifest).first()["n_centroids"]
        )
        assignments = spark.read.parquet(idx_data)
        source = "ivf_index"
    else:
        assignments = None
        source = "inline"
    pairs = semantic_dedup_pairs(
        embeddings, n_centroids, float(threshold), assignments
    )
    meta = {
        "threshold": float(threshold),
        "n_centroids": int(n_centroids),
        "assignments_source": source,
    }
    with maintenance_lease(spark, path):
        clean_version_scratch(spark, path)
        tmp = version_scratch(path)
        pairs.write.mode("overwrite").parquet(f"{tmp}/data")
        (
            spark.createDataFrame(
                [(meta["threshold"], meta["n_centroids"], source)],
                "threshold double, n_centroids int, assignments_source string",
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{tmp}/manifest")
        )
        commit_version(spark, path, tmp)
    return meta


def read_semantic_pairs(spark, path: str):
    """(pairs DataFrame, manifest dict) for a :func:`write_semantic_pairs`
    store, or None when no version has been committed yet (fresh
    deployment) — the read seam the service's table-aware route uses."""
    v = latest_version(spark, path)
    if v is None:
        return None
    root = path.rstrip("/")
    meta = spark.read.parquet(f"{root}/{v}/manifest").first().asDict()
    return spark.read.parquet(f"{root}/{v}/data"), meta


def semantic_dedup_survivors(
    embeddings: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.92,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """Greedy min-id semantic dedup: drop every vector that is similar
    (``cosine ≥ threshold``) to ANY smaller-id vector in its cluster; keep
    the rest.  Deterministic (no RNG, no iteration order), one shuffle
    beyond :func:`semantic_dedup_pairs` — the distinct dropped-id set is
    corpus-duplicate-sized and anti-joins the corpus.  Note this is the
    per-pair rule, not transitive-closure clustering: for chains a~b~c
    (a≁c), both b and c drop; use ``graph.dedup_clusters`` over the pairs
    when cluster-election semantics are wanted instead.
    """
    dropped = (
        semantic_dedup_pairs(embeddings, n_centroids, threshold, assignments)
        .select(F.col("vec_id_b").alias("vec_id"))
        .distinct()
    )
    return embeddings.select("vec_id", "label").join(
        dropped, "vec_id", "left_anti"
    )


def lsh_topk_multiprobe(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_planes: int = 8,
) -> DataFrame:
    """Multi-probe LSH top-k: probe the query's bucket AND its Hamming-1
    neighborhood (each single-plane flip), scoring ~(1+planes)/2^planes of
    the corpus.

    Single-probe misses neighbors that land one plane-sign away; flipping
    each bit recovers most of that recall for a bounded candidate growth —
    the standard recall/cost dial when the table's bucketing (planes) is
    fixed at write time.  The probe set is built declaratively (explode of
    XOR-flips) so at scale it is a partition-pruned read of 1+planes
    buckets, still never a scan.
    """
    t = _as_double(embeddings, "v").withColumn(
        "bucket", F.expr(lsh_bucket_expr("v", n_planes))
    )
    q = t.filter(F.col("vec_id") == query_vec_id).select(
        "v",
        F.explode(
            F.expr(
                f"array_union(array(bucket), transform(sequence(0, {n_planes - 1}), "
                f"i -> bucket ^ shiftleft(1L, i)))"
            )
        ).alias("probe"),
    ).select(F.col("v").alias("q"), "probe")
    # the query's norm folds once per probe row below the join, not per
    # candidate
    q = with_norm(q, "q", "nq")
    cands = t.join(F.broadcast(q), F.col("bucket") == F.col("probe")).filter(
        F.col("vec_id") != query_vec_id
    )
    scored = with_cosine(cands, nq_col="nq")
    return (
        scored.select("vec_id", "label", "bucket", "cosine")
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def embedding_norms(embeddings: DataFrame) -> DataFrame:
    """L2 norms + dimensionality — the sanity profile of a vector column."""
    t = _as_double(embeddings, "v")
    return t.selectExpr(
        "vec_id",
        "label",
        "size(v) AS dim",
        f"{_norm('v')} AS l2_norm",
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label mean embedding (class prototypes) in long form:
    (label, dim, centroid, n_vectors).

    Cross-row float sums are partition-order dependent, so the raw mean
    would differ run-to-run on a cluster; quantizing each component to
    DECIMAL(25,6) first makes the sum associative and exact (and no
    double sits exactly on a decimal midpoint, so the quantization
    itself is engine-portable).  posexplode → ONE partial+final hash
    aggregate on (label, dim): the shuffle carries |labels|·|dims|
    partial sums per map partition, not the vectors.
    """
    exploded = embeddings.selectExpr(
        "label", "posexplode(embedding) AS (dim, val)"
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.sum(F.col("val").cast("double").cast("decimal(25,6)"))
            .cast("double")
            .alias("s"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .selectExpr(
            "label",
            "dim",
            "s / CAST(n_vectors AS DOUBLE) AS centroid",
            "n_vectors",
        )
    )


# ---------------------------------------------------------------------------
# distributed k-means (Lloyd's) — the trainer behind IVF centroids
# ---------------------------------------------------------------------------

def _kmeans_assign(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, v): nearest-centroid assignment against an
    arbitrary (centroid_id, q) frame — the per-iteration step of Lloyd's.

    Same dataflow as ``ivf_assign``: centroids broadcast (model-sized),
    argmax as ONE hash aggregate of a (cosine, -centroid_id, v) struct —
    (cosine, centroid_id) pairs are unique per vector, so carrying ``v``
    inside the struct never changes the max but saves a second join to
    recover the vector for the centroid update.
    """
    # norms per row below the join (n + k folds, not 2·n·k per iteration)
    t = with_norm(_as_double(embeddings, "v").select("vec_id", "v"), "v", "nv")
    scored = with_cosine(
        t.crossJoin(F.broadcast(with_norm(centroids, "q", "nq"))),
        "q",
        "v",
        nq_col="nq",
        nv_col="nv",
    )
    best = scored.groupBy("vec_id").agg(
        F.max(
            F.struct(
                F.col("cosine"),
                (-F.col("centroid_id")).alias("neg_cid"),
                F.col("v"),
            )
        ).alias("m")
    )
    return best.select(
        "vec_id",
        (-F.col("m.neg_cid")).cast("long").alias("centroid_id"),
        F.col("m.v").alias("v"),
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    train_fraction: float | None = None,
) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column, fully
    deterministic and engine-portable:

    * init: the first ``k`` stored vectors (the same deterministic seeds
      ``ivf_assign`` uses — this IS the trainer that refines them);
    * assign: cosine argmax against broadcast centroids (ties → smallest
      centroid id);
    * update: per-centroid per-dimension mean computed as an EXACT
      decimal(25,6) sum divided in double — the sum is order-independent,
      so the new centroids are bit-identical at any partitioning/cluster
      size (a plain double sum would drift with reduction order);
    * empty clusters keep their previous centroid.

    The whole ``iters``-round refinement is ONE lazy plan — no driver
    collect anywhere; each round costs two hash-aggregate shuffles of
    narrow rows (argmax of structs; per-dim partial sums), and the
    per-dim explode is of (centroid_id, d, val) triples, never text-sized
    payloads.  At model scale one would snapshot the k×dim centroid frame
    between rounds (it is driver-sized by definition); staying lazy keeps
    the operator a pure DataFrame → DataFrame function.

    Returns long-form centroids: ``centroid_id, n_members, d, val``
    (d is 1-based) — scalar rows, directly oracle-comparable.

    ``train_fraction``: refine over a deterministic hash-bucket sample
    (:func:`train_sample`) — the 100 TB posture: training cost tracks
    the sample, downstream assignment/encoding stays full-corpus.
    """
    train = train_sample(embeddings, train_fraction)
    cents = _as_double(embeddings.filter(F.col("vec_id") < k), "q").selectExpr(
        "vec_id AS centroid_id", "q", "CAST(0 AS BIGINT) AS n_members"
    )
    for _ in range(iters):
        assigned = _kmeans_assign(train, cents.select("centroid_id", "q"))
        upd = (
            assigned.selectExpr("centroid_id", "posexplode(v) AS (d0, val)")
            .selectExpr(
                "centroid_id",
                "d0 + 1 AS d",
                "CAST(val AS DECIMAL(25,6)) AS vald",
            )
            .groupBy("centroid_id", "d")
            .agg(F.sum("vald").alias("s"), F.count(F.lit(1)).alias("n"))
            .selectExpr("centroid_id", "d", "CAST(s AS DOUBLE) / n AS val", "n")
        )
        newc = upd.groupBy("centroid_id").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(d, val))), x -> x.val)"
            ).alias("q_new"),
            F.max("n").cast("long").alias("n_new"),
        )
        cents = (
            cents.select("centroid_id", F.col("q").alias("q_prev"))
            .join(newc, "centroid_id", "left")
            .selectExpr(
                "centroid_id",
                "coalesce(q_new, q_prev) AS q",
                "coalesce(n_new, CAST(0 AS BIGINT)) AS n_members",
            )
        )
    return cents.selectExpr(
        "centroid_id", "n_members", "posexplode(q) AS (d0, val)"
    ).selectExpr(
        "centroid_id", "n_members", "CAST(d0 + 1 AS INT) AS d", "val"
    )


def normalize_embeddings(embeddings: DataFrame) -> DataFrame:
    """Unit-L2-norm the embedding column (spherical projection) — the
    standard pre-processing for PQ under COSINE similarity: on the unit
    sphere ``L2² = 2 − 2·cos``, so the L2 quantizer the codebooks
    minimize becomes monotone in cosine, aligning ADC ranking with the
    metric the corpus is actually served under (FAISS's
    normalize_L2-before-IndexPQ practice).  Cosine itself is invariant
    to per-vector positive scaling, so exact rankings are unchanged —
    only the quantizer's geometry improves.  Zero vectors pass through
    unchanged (no 0/0).  Row-local projection in codegen: no shuffle, no
    UDF; output column keeps the name ``embedding`` (doubles)."""
    t = _as_double(embeddings, "v")
    return t.selectExpr(
        "vec_id",
        "label",
        f"CASE WHEN {_norm('v')} > 0 THEN transform(v, x -> x / {_norm('v')}) "
        "ELSE v END AS embedding",
    )


def quantize_embeddings(embeddings: DataFrame, bits: int = 8) -> DataFrame:
    """Symmetric per-vector int quantization — the storage/serving prep
    step for vector search at scale (4-8× smaller index bytes, integer
    SIMD dot products downstream).

    scale = max|x| / (2^(bits-1) - 1); q_i = round(x_i / scale)
    (zero vectors quantize to zeros with scale 0).  Entirely row-local —
    array_max / transform / zip_with in codegen, no shuffle, no UDF —
    and deterministic, so quantized indexes are reproducible across
    engines and cluster sizes.  ``max_abs_err`` (∞-norm reconstruction
    error, ≤ scale/2 by construction) travels with each row: the audit
    column a quantization rollout decides on.

    Returns (vec_id, label, scale, q array<int>, max_abs_err).
    """
    qmax = (1 << (bits - 1)) - 1
    t = _as_double(embeddings, "v")
    return (
        t.selectExpr(
            "vec_id",
            "label",
            "v",
            f"array_max(transform(v, x -> abs(x))) / {qmax} AS scale",
        )
        .selectExpr(
            "vec_id",
            "label",
            "scale",
            "v",
            "transform(v, x -> CASE WHEN scale > 0 THEN CAST(round(x / scale) AS INT) "
            "ELSE 0 END) AS q",
        )
        .selectExpr(
            "vec_id",
            "label",
            "scale",
            "q",
            "aggregate(zip_with(v, q, (x, qq) -> abs(x - qq * scale)), "
            "CAST(0 AS DOUBLE), (acc, x) -> greatest(acc, x)) AS max_abs_err",
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ style ANN compression)
# ---------------------------------------------------------------------------
#
# Jégou et al., "Product Quantization for Nearest Neighbor Search" (TPAMI
# 2011) — the standard 100 TB vector-serving layout (FAISS IVFPQ): split
# each vector into M subvectors, vector-quantize each subspace against
# its own KSUB-codeword codebook, store only the M small codes
# (M·log2(KSUB) bits — here 4 codes ≈ 4 bytes vs 64 floats = 64×
# smaller), and answer queries with Asymmetric Distance Computation: a
# per-query M×KSUB lookup table of exact subspace distances, candidate
# distance = sum of M table lookups — no candidate vector is ever read.
#
# Determinism policy (same as kmeans_centroids): codebooks init from the
# first KSUB stored vectors' subvectors and refine with Lloyd's rounds
# whose per-dim means are exact DECIMAL(25,6) sums (order-independent ⇒
# bit-identical at any partitioning); L2 subspace distances are
# left-to-right folds DuckDB reproduces bit-for-bit; the ADC sum folds
# the M lookups in subspace order, never in shuffle order.

PQ_M = 4  #: subspaces (DIM must divide evenly) — TEST-SCALE default
PQ_KSUB = 16  #: codewords per subspace codebook — TEST-SCALE default

#: SERVING defaults picked by measurement on the clustered GMM fixture
#: (docs/SCALE.md round 12: rerank recall@10 = 0.94 at 8 bytes/vector,
#: probe fraction 8/313).  The test-scale PQ_M/PQ_KSUB exist to keep the
#: DuckDB oracle chains tractable; production stores are built through
#: :func:`write_serving_ivfpq_index`, which consumes these, the service
#: rerank routes probe with ``SERVING_N_PROBE``, and
#: ``tools/ann_recall_measure.py`` sweeps the same constants — the
#: documented defaults and the measured/served behavior cannot drift.
#: The one rule that is NOT a constant: rerank_depth must cover the
#: corpus's expected duplicate/near-cluster size (measured: depth 100
#: caps at ~0.78 on 400-member clusters, 200 → 0.94, 400 → 1.0) — 200
#: is the measured FLOOR; :func:`recommended_rerank_depth` derives the
#: served value from the store's own p95 list occupancy.
SERVING_PQ_M = 8
SERVING_PQ_KSUB = 256
SERVING_NORMALIZE = True
SERVING_N_PROBE = 8
SERVING_RERANK_DEPTH = 200


def _d2(a: str, b: str) -> str:
    """Squared L2 distance as a left-to-right fold (engine-portable,
    same parity recipe as ``_dot``)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
    )


#: deterministic salt+seed for hash-bucket training samples — one value
#: engine-wide so Spark and the DuckDB oracle key the same bucket
TRAIN_SAMPLE_SEED = 42


def train_sample(
    df: DataFrame,
    train_fraction: float | None,
    salt: str = "pqtrain",
    seed: int = TRAIN_SAMPLE_SEED,
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic hash-bucket subsample for MODEL TRAINING — the
    FAISS operational practice at 100 TB: k-means/PQ codebooks are
    trained on a sample (training cost is sample-sized), then EVERYTHING
    is encoded against the frozen model (encode stays full-corpus and
    exact).  Membership is a pure function of (id, salt, seed) — the
    ``train_test_split`` md5-bucket recipe — so the sample, and
    therefore the trained model, is bit-reproducible on any engine, run,
    or cluster size, and a row never flips in/out when the corpus grows.
    ``None`` or ≥1.0 ⇒ no sampling (full-corpus training)."""
    if train_fraction is None or float(train_fraction) >= 1.0:
        return df
    bp = int(round(float(train_fraction) * 10000))
    keyed = f"concat({id_col}, '_{salt}', '{int(seed)}')"
    return df.filter(F.expr(f"{_hex60_expr(keyed)} % 10000 < {bp}"))


def _pq_subvectors(embeddings: DataFrame, m: int) -> DataFrame:
    """(vec_id, label, subspace, sv): each vector split into ``m``
    contiguous subvectors of DIM/m dims — row-local posexplode, no
    shuffle; subspace is 0-based."""
    sd = DIM // m
    t = _as_double(embeddings, "v")
    return t.selectExpr(
        "vec_id",
        "label",
        f"posexplode(transform(sequence(1, {m}), "
        f"s -> slice(v, (s - 1) * {sd} + 1, {sd}))) AS (subspace, sv)",
    )


def pq_codebooks_wide(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    seed_offset: int = 0,
    train_fraction: float | None = None,
) -> DataFrame:
    """(subspace, code_id, c array<double>, n_members): per-subspace
    codebooks — init = the ``ksub`` vectors' subvectors starting at
    ``vec_id == seed_offset`` (residual training passes
    ``seed_offset=n_centroids``: the centroid rows' own residuals are
    zero vectors, which would degenerate the seeds), refined by
    ``iters`` Lloyd's rounds (L2 argmin, ties → smallest code_id;
    decimal-exact per-dim means; empty codes keep their previous
    codeword).  The codebook is model-sized (m·ksub rows), broadcast
    everywhere it is used; training is ``iters`` pairs of hash-aggregate
    shuffles over narrow (subspace, code_id, d, val) rows.

    ``train_fraction`` bounds TRAINING cost at corpus scale: the Lloyd
    refinement statistics are computed over a deterministic hash-bucket
    sample (:func:`train_sample`) instead of every row — seeds and the
    downstream encode stay full-corpus and exact, so only the learned
    codewords (not the operator's contract) depend on the sample."""
    sub = _pq_subvectors(embeddings, m).select("vec_id", "subspace", "sv")
    tsub = train_sample(sub, train_fraction)
    cents = sub.filter(
        (F.col("vec_id") >= seed_offset)
        & (F.col("vec_id") < seed_offset + ksub)
    ).selectExpr(
        "subspace",
        f"vec_id - {int(seed_offset)} AS code_id",
        "sv AS c",
        "CAST(0 AS BIGINT) AS n_members",
    )
    for _ in range(iters):
        scored = tsub.join(
            F.broadcast(cents.select("subspace", "code_id", "c")), "subspace"
        ).select(
            "subspace",
            "vec_id",
            F.expr(_d2("sv", "c")).alias("d2"),
            "code_id",
            "sv",
        )
        # argmin as ONE hash aggregate: min of (d2, code_id, sv) struct —
        # field-by-field comparison ⇒ smallest distance, smallest code on
        # ties; sv rides along (unique (d2, code_id) per row ⇒ it never
        # decides the min) to save a join back for the update step
        best = scored.groupBy("subspace", "vec_id").agg(
            F.min(F.struct("d2", "code_id", "sv")).alias("m")
        )
        upd = (
            best.selectExpr(
                "subspace",
                "m.code_id AS code_id",
                "posexplode(m.sv) AS (d0, val)",
            )
            .selectExpr(
                "subspace",
                "code_id",
                "d0 + 1 AS d",
                "CAST(val AS DECIMAL(25,6)) AS vald",
            )
            .groupBy("subspace", "code_id", "d")
            .agg(F.sum("vald").alias("s"), F.count(F.lit(1)).alias("n"))
            .selectExpr(
                "subspace", "code_id", "d", "CAST(s AS DOUBLE) / n AS val", "n"
            )
        )
        newc = upd.groupBy("subspace", "code_id").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(d, val))), x -> x.val)"
            ).alias("c_new"),
            F.max("n").cast("long").alias("n_new"),
        )
        cents = (
            cents.select("subspace", "code_id", F.col("c").alias("c_prev"))
            .join(newc, ["subspace", "code_id"], "left")
            .selectExpr(
                "subspace",
                "code_id",
                "coalesce(c_new, c_prev) AS c",
                "coalesce(n_new, CAST(0 AS BIGINT)) AS n_members",
            )
        )
    return cents


def pq_codebooks(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    train_fraction: float | None = None,
) -> DataFrame:
    """Long-form trained PQ codebooks: (subspace, code_id, n_members, d,
    val) with d 1-based within the subspace — scalar rows, directly
    oracle-comparable (same output convention as ``kmeans_centroids``)."""
    wide = pq_codebooks_wide(embeddings, m, ksub, iters, train_fraction=train_fraction)
    return wide.selectExpr(
        "CAST(subspace AS INT) AS subspace",
        "CAST(code_id AS INT) AS code_id",
        "n_members",
        "posexplode(c) AS (d0, val)",
    ).selectExpr(
        "subspace", "code_id", "n_members", "CAST(d0 + 1 AS INT) AS d", "val"
    )


def pq_codes(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """PQ encoding: (vec_id, label, subspace, code) — each subvector's
    nearest codeword id (L2 argmin, ties → smallest code).  This is the
    stored index payload at scale: m·log2(ksub) bits per vector instead
    of the vector itself.  Pass ``codebooks`` (a ``pq_codebooks_wide``
    frame, canonically read back from a persisted store) to encode an
    ingest batch against frozen codebooks."""
    if codebooks is None:
        codebooks = pq_codebooks_wide(embeddings, m, ksub, iters)
    sub = _pq_subvectors(embeddings, m)
    scored = sub.join(
        F.broadcast(codebooks.select("subspace", "code_id", "c")), "subspace"
    ).select(
        "vec_id",
        "label",
        "subspace",
        F.expr(_d2("sv", "c")).alias("d2"),
        "code_id",
    )
    best = scored.groupBy("vec_id", "label", "subspace").agg(
        F.min(F.struct("d2", "code_id")).alias("m")
    )
    return best.selectExpr(
        "vec_id",
        "label",
        "CAST(subspace AS INT) AS subspace",
        "CAST(m.code_id AS INT) AS code",
    )


#: the ADC distance of one vector: its subspace lookups ``dt`` summed in
#: SUBSPACE order (a left-to-right fold over the sorted struct list, never
#: a shuffle-order double sum), so it is deterministic at any partitioning
_ADC_SUM = (
    "aggregate(transform(array_sort(collect_list(struct(subspace, dt))), "
    "x -> x.dt), CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
)


def _pq_adc_scored(
    embeddings: DataFrame,
    query_vec_id: int,
    m: int,
    ksub: int,
    iters: int,
    codes: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    query_vec: list[float] | None = None,
) -> DataFrame:
    """(vec_id, label, adc_dist2): every non-query vector ADC-scored
    against the query — the shared core of the PQ top-k variants.
    ``query_vec`` swaps the stored-vector point-read for an external
    literal query (sentinel -1 ⇒ no self-match to exclude).

    The distance table (m·ksub exact subspace distances query↔codeword)
    is model-sized and broadcast; each candidate costs m lookups summed
    in SUBSPACE order (a left-to-right fold over the sorted struct list,
    not a shuffle-order double sum), so the result is deterministic at
    any partitioning."""
    if codebooks is None:
        codebooks = pq_codebooks_wide(embeddings, m, ksub, iters)
    if codes is None:
        codes = pq_codes(embeddings, m, ksub, iters, codebooks=codebooks)
    qf, qid = _query_source(embeddings, query_vec_id, query_vec)
    qsub = _pq_subvectors(qf, m).selectExpr("subspace", "sv AS qv")
    dtable = codebooks.join(F.broadcast(qsub), "subspace").select(
        "subspace", F.col("code_id").alias("code"), F.expr(_d2("qv", "c")).alias("dt")
    )
    looked = codes.filter(F.col("vec_id") != qid).join(
        F.broadcast(dtable), ["subspace", "code"]
    )
    return looked.groupBy("vec_id", "label").agg(
        F.expr(_ADC_SUM).alias("adc_dist2")
    )


def pq_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    query_vec: list[float] | None = None,
    codes: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by Asymmetric Distance Computation over PQ codes:
    rank ascending by summed subspace distance table lookups — the
    exhaustive-ADC baseline (every code scored, no vector bytes read).
    ``query_vec`` serves an external embedding through the same plan.
    ``codes``/``codebooks`` let a caller that already holds the frozen
    model (an eval harness scoring several tiers, a persisted store)
    skip the inline training — results are identical because training
    is deterministic.  Returns (vec_id, label, adc_dist2) ties →
    vec_id."""
    scored = _pq_adc_scored(
        embeddings, query_vec_id, m, ksub, iters,
        codes=codes, codebooks=codebooks, query_vec=query_vec,
    )
    return scored.orderBy(
        F.col("adc_dist2").asc(), F.col("vec_id").asc()
    ).limit(k)


def ivfpq_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    assignments: DataFrame | None = None,
    query_vec: list[float] | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the FAISS-style composite index — IVF probe prunes the
    candidate set to ``n_probe`` inverted lists, ADC scores the survivors
    from their PQ codes alone.  Query-time cost at 100 TB: a model-sized
    centroid ranking + m·ksub distance table, then ~n_probe/n_centroids
    of the CODE bytes (4 bytes/vector here), never the raw vectors.
    Same ``assignments`` seam as ``ivf_topk`` (pass the persisted
    ``write_ivf_index`` frame to skip the inline n·k assignment);
    ``codebooks``/``codes`` are the matching seams for the frozen PQ
    model — training and encoding are deterministic, so a caller sharing
    them across tiers (``pq_recall_report``) gets identical results.
    Centroids follow the ``vec_id < n_centroids`` convention — for
    split-grown stores (explicit centroid tables) serve through
    :func:`ivfpq_topk_from_index`, whose centroids live in the store.
    Returns (vec_id, label, centroid_id, adc_dist2)."""
    if assignments is None:
        assignments = ivf_assign(embeddings, n_centroids)
    # assign feeds the code pruning AND the result's list attribution —
    # materialize so the inline n·k assignment runs once per action.
    assign = assignments.select("vec_id", "centroid_id").localCheckpoint(
        eager=False
    )
    cents = _as_double(
        embeddings.filter(F.col("vec_id") < n_centroids), "c"
    ).selectExpr("vec_id AS centroid_id", "c")
    qf, _ = _query_source(embeddings, query_vec_id, query_vec)
    q = _as_double(qf, "q").select("q")
    probe = (
        with_cosine(cents.crossJoin(F.broadcast(q)), "q", "c")
        .orderBy(F.col("cosine").desc(), F.col("centroid_id").asc())
        .limit(n_probe)
        .select("centroid_id")
    )
    if codebooks is None:
        # the trained model feeds BOTH the encode join and the distance
        # table — lazy checkpoint trains once per action (Catalyst has no
        # cross-branch CSE).  Deterministic training, outputs unchanged
        # (oracle-gated); a wash at sf0.1, train-once at corpus scale.
        codebooks = pq_codebooks_wide(embeddings, m, ksub, iters).localCheckpoint(
            eager=False
        )
    if codes is None:
        codes = pq_codes(embeddings, m, ksub, iters, codebooks=codebooks)
    pruned = codes.join(assign, "vec_id").join(F.broadcast(probe), "centroid_id")
    scored = _pq_adc_scored(
        embeddings, query_vec_id, m, ksub, iters,
        codes=pruned.select("vec_id", "label", "subspace", "code"),
        codebooks=codebooks,
        query_vec=query_vec,
    )
    with_list = scored.join(assign, "vec_id")
    return (
        with_list.select("vec_id", "label", "centroid_id", "adc_dist2")
        .orderBy(F.col("adc_dist2").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def pq_resolved_paths(spark, path: str) -> tuple[str, str, str, str]:
    """(codes_path, codebooks_path, centroids_path, manifest_path) of the
    IVF-PQ store's current ``path/vNNNNNNNN/``, resolved once at scan
    start for snapshot isolation.  Raises ``ValueError`` on a flat store
    from the old layout (see :func:`functions.fs.resolve_store_root`)."""
    root = resolve_store_root(
        spark, path, f"write_ivfpq_index(embeddings, {path.rstrip('/')!r}, ...)"
    )
    return (
        f"{root}/codes",
        f"{root}/codebooks",
        f"{root}/centroids",
        f"{root}/manifest",
    )


def manifest_normalized(man) -> bool:
    """True when an IVF-PQ store manifest row says the store was built
    over unit-normalized vectors — every consumer that brings RAW
    corpus/query/batch vectors to the store (indexed top-k, append-merge,
    streaming encode) must project them through
    :func:`normalize_embeddings` first, or codes and distance tables
    silently live in different geometries.  Reads via asDict so
    pre-flag manifests default to False."""
    return bool(man.asDict().get("normalized", False))


def pq_model_fingerprint(spark, index_path: str) -> str:
    """Content fingerprint of an IVF-PQ store's FROZEN model tables
    (codebooks + centroids) — the stamp :func:`streaming.ingest.
    stream_pq_encode` writes into each encode-log batch so
    :func:`streaming.ingest.fold_encoded_codes` can tell whether a
    retrain landed between encode and fold (stale-model codes must not
    fold into a store whose codebooks no longer match them).

    Version NAMES are the wrong stamp: :func:`compact_ivfpq_index` commits
    a new version with byte-identical models, which must NOT invalidate
    in-flight encode logs — only a retrain (new codebook/centroid
    content) may.  So the stamp hashes model CONTENT: xxhash64 per row,
    combined with order-independent aggregates (bit_xor + sum + count)
    so partitioning, file layout, and row order cannot change it.  Cost
    is a model-sized read (m·ksub + n_centroids rows)."""
    _, cb_path, cent_path, _ = pq_resolved_paths(spark, index_path)
    return pq_model_fingerprint_from_paths(spark, cb_path, cent_path)


def pq_model_fingerprint_from_paths(spark, cb_path: str, cent_path: str) -> str:
    """:func:`pq_model_fingerprint` over ALREADY-RESOLVED model paths.
    The encode hot path must stamp the SAME snapshot it encoded against:
    re-resolving the store's current version between encode and stamp is
    a TOCTOU — a retrain committing in that window would stamp old-model
    codes with the NEW fingerprint, making the fold accept exactly the
    stale codes the guard exists to reject."""
    rows = (
        spark.read.parquet(cb_path)
        .selectExpr("xxhash64('cb', subspace, code_id, CAST(c AS STRING)) AS h")
        .unionByName(
            spark.read.parquet(cent_path).selectExpr(
                "xxhash64('ce', centroid_id, CAST(embedding AS STRING)) AS h"
            )
        )
    )
    r = rows.agg(
        F.expr("bit_xor(h)").alias("x"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    mask = (1 << 64) - 1
    return f"{int(r['x']) & mask:016x}.{int(r['s']) % (1 << 64):016x}.{int(r['n'])}"


def write_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    train_fraction: float | None = None,
    normalize: bool = False,
    assign_mode: str = "exact",
) -> None:
    """Persist the IVF-PQ composite index: the CODES (vec_id, label,
    subspace, code — m rows of a few bytes per vector, the only
    corpus-sized payload) written ``partitionBy(centroid_id)`` so a probe
    is partition-pruned I/O, plus the model-sized codebook table and a
    1-row manifest recording (n_centroids, m, ksub, iters) so readers
    and merges validate the training contract instead of trusting call
    sites.  This is the serving layout at 100 TB: raw vectors are needed
    only at INGEST (training/encoding); queries touch ~n_probe/
    n_centroids of 4-byte-per-vector code bytes.

    The store is SELF-CONTAINED: besides the codes it persists every
    model table a consumer needs — the codebooks, the centroid VECTORS
    (n_centroids rows; without them a merge or probe would have to
    rescan the corpus for the ``vec_id < n_centroids`` convention), and
    the manifest — so incremental maintenance and serving touch the raw
    corpus only for per-query point-reads.

    Every build commits codes+codebooks+centroids+manifest inside ONE
    immutable ``path/vNNNNNNNN/`` directory via a single atomic rename
    (:func:`functions.fs.commit_version`), under the store's maintenance
    lease — a re-encode (codebook drift) can never present readers a
    new-codes/old-codebooks torn state.

    ``assign_mode`` picks the list-assignment kernel (same contract as
    :func:`retrain_ivf_index`): ``"exact"`` (default — bit-stable, what
    every oracle-gated catalog store uses) is the n·k argmax;
    ``"coarse"`` is the two-level O(n·√k) :func:`ivf_assign_coarse`;
    ``"auto"`` switches to coarse when the scored-row volume n·k
    crosses ``COARSE_ASSIGN_THRESHOLD`` — the build-side twin of the
    retrain escape hatch, because at the provisioning rule k tracks n
    and the exact assignment is the quadratic arm of the BUILD too
    (measured here: 200k vectors × 3 125 lists = 625M scored rows
    dominate the serving-store build)."""
    if assign_mode not in ("auto", "exact", "coarse"):
        raise ValueError(
            f"write_ivfpq_index: assign_mode must be auto|exact|coarse, "
            f"got {assign_mode!r}"
        )
    spark = embeddings.sparkSession
    frame = normalize_embeddings(embeddings) if normalize else embeddings
    if assign_mode == "auto":
        n = frame.count()
        assign_mode = (
            "coarse"
            if n * int(n_centroids) > COARSE_ASSIGN_THRESHOLD
            else "exact"
        )
    assigner = ivf_assign if assign_mode == "exact" else ivf_assign_coarse
    assign = assigner(frame, n_centroids).select("vec_id", "centroid_id")
    codebooks = pq_codebooks_wide(
        frame, m, ksub, iters, train_fraction=train_fraction
    )
    codes = pq_codes(frame, m, ksub, iters, codebooks=codebooks).join(
        assign, "vec_id"
    )
    cents = frame.filter(F.col("vec_id") < n_centroids).selectExpr(
        "vec_id AS centroid_id", "embedding"
    )
    train_bp = (
        10000
        if train_fraction is None or float(train_fraction) >= 1.0
        else int(round(float(train_fraction) * 10000))
    )
    mrow = spark.createDataFrame(
        [
            (
                int(n_centroids),
                int(m),
                int(ksub),
                int(iters),
                train_bp,
                bool(normalize),
            )
        ],
        "n_centroids int, m int, ksub int, iters int, train_bp int, "
        "normalized boolean",
    )
    with maintenance_lease(spark, path):
        clean_version_scratch(spark, path)
        tmp = version_scratch(path)
        codes.write.mode("overwrite").partitionBy("centroid_id").parquet(
            f"{tmp}/codes"
        )
        codebooks.write.mode("overwrite").parquet(f"{tmp}/codebooks")
        cents.write.mode("overwrite").parquet(f"{tmp}/centroids")
        mrow.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/manifest")
        commit_version(spark, path, tmp)


def write_serving_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int | None = None,
    train_fraction: float | None = None,
    iters: int = 1,
) -> None:
    """:func:`write_ivfpq_index` at the MEASURED serving config — the
    ``SERVING_PQ_M/SERVING_PQ_KSUB/SERVING_NORMALIZE`` defaults the
    round-12 recall grid picked (0.94 rerank@10 at 8 bytes/vector on
    the clustered GMM fixture, docs/SCALE.md), instead of the
    test-scale ``PQ_M/PQ_KSUB`` that exist to keep the DuckDB oracle
    chains tractable.  ``n_centroids=None`` applies the provisioning
    rule (lists track the corpus at ``TARGET_VECTORS_PER_LIST``
    occupancy — one count).  Production stores should be built through
    this; ``tools/ann_recall_measure.py`` sweeps the same constants so
    the shipped numbers stay reproducible."""
    if n_centroids is None:
        n_centroids = max(
            1, -(-embeddings.count() // TARGET_VECTORS_PER_LIST)
        )
    write_ivfpq_index(
        embeddings,
        path,
        n_centroids=int(n_centroids),
        m=SERVING_PQ_M,
        ksub=SERVING_PQ_KSUB,
        normalize=SERVING_NORMALIZE,
        train_fraction=train_fraction,
        iters=iters,
        # production posture: under the provisioning rule k tracks n,
        # so the exact n·k assignment is the build's quadratic arm —
        # auto caps it with the O(n·√k) coarse kernel past the
        # measured threshold (assignment approximation only ever costs
        # marginal probe recall, pinned in test_similarity)
        assign_mode="auto",
    )


class _PQModel(NamedTuple):
    """One resolved IVF-PQ store's frozen model, held on the driver."""

    codes_path: str
    #: the codes' schema, inferred once, so a probe's scan starts no job
    codes_schema: StructType
    cent_path: str
    m: int
    ksub: int
    normalized: bool
    #: (m, ksub, DIM // m) codewords, NaN where the store has none
    codebooks: np.ndarray
    #: (m, ksub): True where the store has that codeword
    has_code: np.ndarray
    #: centroid ids, (n, dim) vectors and norms; None when the centroid
    #: table was above ``_driver.DRIVER_ROWS_MAX`` rows at load
    centroid_ids: np.ndarray | None
    centroids: np.ndarray | None
    centroid_norms: np.ndarray | None


#: resolved-store key -> _PQModel, least recently used first.  serve.py
#: answers on several threads, so lookups and fills hold the lock.
_PQ_MODELS: OrderedDict = OrderedDict()
_PQ_MODELS_MAX = 8
_PQ_MODELS_LOCK = threading.Lock()


def _fold(terms):
    """Left-to-right sum from +0.0 — the order of ``aggregate(...,
    CAST(0 AS DOUBLE), (acc, x) -> acc + x)``.  ``terms`` may be floats
    or numpy arrays (one fold per element).  Never ``np.sum``/``np.dot``:
    they sum pairwise and would not match Spark bit for bit."""
    acc = 0.0
    for t in terms:
        acc = acc + t
    return acc


def _unit(q: list[float]) -> list[float]:
    """:func:`normalize_embeddings` of one driver-side vector, bit for bit."""
    n = math.sqrt(_fold(x * x for x in q))
    return [x / n for x in q] if n > 0 else q


def _load_pq_model(spark, codes_path, cb_path, cent_path, man_path) -> _PQModel:
    man = spark.read.parquet(man_path).first()
    m, ksub = int(man["m"]), int(man["ksub"])
    codebooks = np.full((m, ksub, DIM // m), np.nan)
    has_code = np.zeros((m, ksub), dtype=bool)
    for r in spark.read.parquet(cb_path).select("subspace", "code_id", "c").collect():
        codebooks[r["subspace"], r["code_id"]] = r["c"]
        has_code[r["subspace"], r["code_id"]] = True
    rows = _driver.collect_if_small(
        spark.read.parquet(cent_path).select("centroid_id", "embedding")
    )
    ids = cents = norms = None
    if rows is not None:
        ids = np.array([int(r["centroid_id"]) for r in rows], dtype=np.int64)
        cents = (
            np.array([r["embedding"] for r in rows], dtype=float)
            if rows
            else np.zeros((0, DIM))
        )
        norms = np.sqrt(_fold(c * c for c in cents.T))
    return _PQModel(
        codes_path,
        spark.read.parquet(codes_path).schema,
        cent_path,
        m,
        ksub,
        manifest_normalized(man),
        codebooks,
        has_code,
        ids,
        cents,
        norms,
    )


def _pq_model(spark, index_path: str) -> _PQModel:
    """The store's IVF-PQ model, read once per resolved store: manifest
    (m, ksub, normalized), codebooks, codes schema, and the centroid
    vectors when :func:`_driver.collect_if_small` takes them.

    Keyed by the resolved (codes, codebooks, centroids, manifest) paths
    plus the three model directories' ``path_mtime``: a new
    ``vNNNNNNNN`` changes the paths, and a store deleted and rebuilt
    (its first version reuses the name ``v00000001``) changes the
    mtimes, so either misses.  At most ``_PQ_MODELS_MAX`` stores stay
    cached."""
    paths = pq_resolved_paths(spark, index_path)
    key = paths + tuple(path_mtime(spark, p) for p in paths[1:])
    with _PQ_MODELS_LOCK:
        model = _PQ_MODELS.get(key)
        if model is None:
            model = _PQ_MODELS[key] = _load_pq_model(spark, *paths)
            while len(_PQ_MODELS) > _PQ_MODELS_MAX:
                _PQ_MODELS.popitem(last=False)
        else:
            _PQ_MODELS.move_to_end(key)
    return model


def _pq_probe_lists(
    spark, model: _PQModel, queries: list[list[float]], n_probe: int
) -> list[list[int]]:
    """Each query's ``n_probe`` nearest lists (cosine desc, centroid_id
    asc), with the folds of :func:`with_cosine`.  On the driver when the
    model holds the centroids within ``_driver.DRIVER_ROWS_MAX`` (read
    at call time); otherwise the probe runs in Spark over the centroid
    table and only its ``n_probe`` ids per query are collected."""
    n_probe = max(int(n_probe), 0)
    if (
        model.centroids is not None
        and len(model.centroids) <= _driver.DRIVER_ROWS_MAX
    ):
        cents, norms = model.centroids, model.centroid_norms
        out = []
        for q in queries:
            nq = math.sqrt(_fold(x * x for x in q))
            dot = _fold(q[j] * cents[:, j] for j in range(cents.shape[1]))
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where((nq > 0) & (norms > 0), dot / (nq * norms), 0.0)
            order = np.lexsort((model.centroid_ids, -cos))[:n_probe]
            out.append([int(model.centroid_ids[i]) for i in order])
        return out
    from pyspark.sql import Window

    cents = with_norm(
        spark.read.parquet(model.cent_path).selectExpr(
            "centroid_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS c"
        ),
        "c",
        "nc",
    )
    q = with_norm(
        spark.range(1).selectExpr(
            "inline(array("
            + ", ".join(
                f"struct(CAST({i} AS BIGINT) AS query_id, {_double_array(v)} AS q)"
                for i, v in enumerate(queries)
            )
            + "))"
        ),
        "q",
        "nq",
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("centroid_id").asc()
    )
    rows = (
        with_cosine(
            cents.crossJoin(F.broadcast(q)), "q", "c", nq_col="nq", nv_col="nc"
        )
        .withColumn("_r", F.row_number().over(wp))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "centroid_id", "_r")
        .collect()
    )
    out = [[] for _ in queries]
    for r in sorted(rows, key=lambda r: (r["query_id"], r["_r"])):
        out[r["query_id"]].append(int(r["centroid_id"]))
    return out


def _pq_distance_table(model: _PQModel, q: list[float]) -> list[float | None]:
    """The query's ADC table flattened to ``subspace * ksub + code``:
    :func:`_d2` of each query subvector and codeword, folded left to
    right; ``None`` where the store has no codeword."""
    sd = DIM // model.m
    qs = np.asarray(q[: model.m * sd], dtype=float).reshape(model.m, sd)
    acc = 0.0
    for j in range(sd):
        d = qs[:, j, None] - model.codebooks[:, :, j]
        acc = acc + d * d
    return [
        float(v) if ok else None
        for v, ok in zip(acc.ravel(), model.has_code.ravel())
    ]


def _pq_probed_codes(spark, model: _PQModel, probe) -> DataFrame:
    """The code rows of the probed lists: one scan of the codes with the
    declared schema, ``centroid_id IN (<probe>)`` a static partition
    filter."""
    return (
        spark.read.schema(model.codes_schema)
        .parquet(model.codes_path)
        .filter(F.col("centroid_id").isin(sorted(set(probe))))
    )


def _with_table_entry(codes: DataFrame, model: _PQModel, dts: str) -> DataFrame:
    """``codes`` plus ``dt``, each row's entry of the flattened ADC table
    ``dts`` (an array column or literal).  Rows with no entry are
    dropped, as an inner join on (subspace, code) with the table would."""
    m, ksub = model.m, model.ksub
    return codes.withColumn(
        "dt",
        F.expr(
            f"CASE WHEN subspace >= 0 AND subspace < {m} "
            f"AND code >= 0 AND code < {ksub} "
            f"THEN element_at({dts}, subspace * {ksub} + code + 1) END"
        ),
    ).filter(F.col("dt").isNotNull())


def ivfpq_topk_from_index(
    spark,
    embeddings: DataFrame,
    index_path: str,
    query_vec_id: int = 0,
    k: int = 10,
    n_probe: int = 4,
    query_vec: list[float] | None = None,
) -> DataFrame:
    """Serve IVF-PQ top-k from a persisted :func:`write_ivfpq_index`
    store.  The store's model (manifest, codebooks, centroids) is read
    once per resolved store and kept on the driver (:func:`_pq_model`:
    keyed by the resolved paths plus the model directories' mtimes).
    Per request the driver ranks the centroids and builds the m·ksub
    ADC table with the same left-to-right folds Spark would use, and
    Spark runs ONE scan of the codes: ``centroid_id IN (<probe>)`` as a
    static partition filter, each code's distance an ``element_at`` on
    the literal table, then the subspace-ordered ADC sum.  The centroid
    ranking moves to Spark when the centroid table is above
    ``_driver.DRIVER_ROWS_MAX`` rows.  Identical results to the
    self-computing :func:`ivfpq_topk` (same training, encoding, probe,
    and fold), so it shares that oracle.  The corpus parquet is touched
    only for ONE point-read collect of the query vector; with
    ``query_vec`` (an external embedding) not even that, the true
    retrieval-service shape."""
    model = _pq_model(spark, index_path)
    if query_vec is not None:
        q, qid = [float(x) for x in query_vec], -1
    else:
        rows = (
            embeddings.filter(F.col("vec_id") == query_vec_id)
            .select("embedding")
            .collect()
        )
        q = [float(x) for x in rows[0]["embedding"]] if rows else None
        qid = int(query_vec_id)
    if q is None:  # unknown stored vec_id: an empty probe prunes every list
        probe, table = [], [None] * (model.m * model.ksub)
    else:
        if model.normalized:
            # the store's codes/codebooks live on the unit sphere — the raw
            # query vector must be projected there before its distance table
            q = _unit(q)
        probe = _pq_probe_lists(spark, model, [q], n_probe)[0]
        table = _pq_distance_table(model, q)
    codes = _pq_probed_codes(spark, model, probe).filter(F.col("vec_id") != qid)
    adc = (
        _with_table_entry(codes, model, _double_array(table))
        .groupBy("vec_id", "label", "centroid_id")
        .agg(F.expr(_ADC_SUM).alias("adc_dist2"))
    )
    return (
        adc.select("vec_id", "label", "centroid_id", "adc_dist2")
        .orderBy(F.col("adc_dist2").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def ivf_residual_frame(
    embeddings: DataFrame,
    n_centroids: int = 16,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, label, embedding=residual, centroid_id): each vector
    minus its assigned coarse centroid — the frame TRUE IVF-PQ quantizes
    (Jégou 2011 §IV: residuals are tighter around zero than raw vectors,
    so the same ksub codewords spend their resolution on what the coarse
    quantizer didn't already explain).  Row-local zip_with after a
    broadcast centroid join; per-dim double subtraction is exact IEEE,
    so the residuals are engine-portable."""
    if assignments is None:
        assignments = ivf_assign(embeddings, n_centroids)
    cents = _as_double(
        embeddings.filter(F.col("vec_id") < n_centroids), "cvec"
    ).selectExpr("vec_id AS centroid_id", "cvec")
    t = _as_double(embeddings, "v")
    return (
        t.join(assignments.select("vec_id", "centroid_id"), "vec_id")
        .join(F.broadcast(cents), "centroid_id")
        .selectExpr(
            "vec_id",
            "label",
            "zip_with(v, cvec, (x, y) -> x - y) AS embedding",
            "centroid_id",
        )
    )


def ivfpq_residual_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """Residual-encoded IVF-PQ — the faithful FAISS IVFPQ dataflow:
    codes quantize each vector's RESIDUAL from its coarse centroid
    (:func:`ivf_residual_frame`), and the query builds one ADC distance
    table PER PROBED LIST from its residual against that list's centroid
    (n_probe · m · ksub entries — still model-sized, still broadcast).
    Same I/O shape as :func:`ivfpq_topk`.

    Whether residuals actually encode TIGHTER than raw vectors depends
    on how much variance the coarse quantizer explains: with COSINE
    coarse assignment over unnormalized vectors the residual spread can
    EXCEED the raw spread (measured on the synthetic corpus:
    mean_err2 0.247 residual vs 0.191 raw) — run
    :func:`pq_reconstruction_error` with ``residual=True/False`` and let
    the numbers pick the serving encoding; don't assume the textbook
    win.  Returns (vec_id, label, centroid_id, adc_dist2)."""
    if assignments is None:
        assignments = ivf_assign(embeddings, n_centroids)
    assign = assignments.select("vec_id", "centroid_id")
    res = ivf_residual_frame(embeddings, n_centroids, assign)
    codebooks = pq_codebooks_wide(
        res, m, ksub, iters, seed_offset=n_centroids
    )
    codes = pq_codes(res, m, ksub, codebooks=codebooks)
    cents = _as_double(
        embeddings.filter(F.col("vec_id") < n_centroids), "c"
    ).selectExpr("vec_id AS centroid_id", "c")
    q = _as_double(
        embeddings.filter(F.col("vec_id") == query_vec_id), "q"
    ).select("q")
    probe = (
        with_cosine(cents.crossJoin(F.broadcast(q)), "q", "c")
        .orderBy(F.col("cosine").desc(), F.col("centroid_id").asc())
        .limit(n_probe)
        .select("centroid_id", "c")
    )
    sd = DIM // m
    qsub = (
        probe.crossJoin(F.broadcast(q))
        .selectExpr(
            "centroid_id", "zip_with(q, c, (x, y) -> x - y) AS rq"
        )
        .selectExpr(
            "centroid_id",
            f"posexplode(transform(sequence(1, {m}), "
            f"s -> slice(rq, (s - 1) * {sd} + 1, {sd}))) AS (subspace, qv)",
        )
    )
    dtable = qsub.join(
        F.broadcast(codebooks.select("subspace", "code_id", "c")), "subspace"
    ).select(
        "centroid_id",
        "subspace",
        F.col("code_id").alias("code"),
        F.expr(_d2("qv", "c")).alias("dt"),
    )
    cands = (
        codes.filter(F.col("vec_id") != query_vec_id)
        .join(assign, "vec_id")
        .join(F.broadcast(probe.select("centroid_id")), "centroid_id")
    )
    scored = cands.join(
        F.broadcast(dtable), ["centroid_id", "subspace", "code"]
    ).groupBy("vec_id", "label", "centroid_id").agg(
        F.expr(_ADC_SUM).alias("adc_dist2")
    )
    return (
        scored.select("vec_id", "label", "centroid_id", "adc_dist2")
        .orderBy(F.col("adc_dist2").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def ivfpq_rerank_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    shortlist: int = 50,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    assignments: DataFrame | None = None,
    query_vec: list[float] | None = None,
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Two-stage serving — the standard production ANN shape (FAISS's
    IVFPQR / DiskANN's rerank tier): the IVF-PQ composite index builds a
    ``shortlist`` of candidates from 4-byte codes alone, then ONLY those
    ``shortlist`` raw vectors are read back and re-ranked by exact
    cosine.  Query-time I/O = pruned code bytes + ``shortlist``
    point-reads of vectors; the quantization error that costs ADC its
    top-k boundary accuracy is repaired where it matters, for pennies.
    At shortlist == the probed candidate count this IS the raw-vector
    IVF probe (pinned in pytest).  ``query_vec`` serves an external
    embedding end-to-end (probe, ADC, and rerank all read the literal).
    Returns (vec_id, label, centroid_id, adc_dist2, cosine) ranked by
    exact cosine, ties → vec_id."""
    cands = ivfpq_topk(
        embeddings, query_vec_id, int(shortlist), n_centroids, n_probe,
        m, ksub, iters, assignments=assignments, query_vec=query_vec,
        codebooks=codebooks, codes=codes,
    )
    qf, _ = _query_source(embeddings, query_vec_id, query_vec)
    # the 1-row query's norm folds once below the join, not per candidate
    q = with_norm(_as_double(qf, "q").select("q"), "q", "nq")
    t = _as_double(embeddings, "v").select("vec_id", "v")
    scored = with_cosine(
        cands.join(t, "vec_id").crossJoin(F.broadcast(q)), nq_col="nq"
    )
    return (
        scored.select("vec_id", "label", "centroid_id", "adc_dist2", "cosine")
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def pq_reconstruction_error(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    residual: bool = False,
    n_centroids: int = 16,
) -> DataFrame:
    """Per-subspace PQ quantization-quality audit — the number a rollout
    decision reads before switching serving from raw vectors to codes
    (the PQ analogue of ``quantize_embeddings``' max_abs_err column):
    for every subspace, the count, mean, and max of the squared L2
    distance between stored subvectors and their assigned codewords.
    ``residual=True`` audits the residual encoding instead (same report
    over :func:`ivf_residual_frame`; seeds shifted past the centroid
    rows) — run BOTH and let the smaller error pick the serving
    encoding (see the :func:`ivfpq_residual_topk` caveat).

    The mean goes through an exact DECIMAL(25,6) sum of the (already
    deterministic, fold-computed) per-row errors, so the report is
    bit-identical at any partitioning; max is order-free by nature.
    Cost: the encode pass it audits, plus one narrow hash aggregate.

    Returns (subspace, n_vectors, mean_err2, max_err2)."""
    frame, seed_offset = embeddings, 0
    if residual:
        frame, seed_offset = (
            ivf_residual_frame(embeddings, n_centroids),
            n_centroids,
        )
    codebooks = pq_codebooks_wide(frame, m, ksub, iters, seed_offset)
    sub = _pq_subvectors(frame, m)
    scored = sub.join(
        F.broadcast(codebooks.select("subspace", "code_id", "c")), "subspace"
    ).select(
        "vec_id", "subspace", F.expr(_d2("sv", "c")).alias("d2"), "code_id"
    )
    best = scored.groupBy("vec_id", "subspace").agg(
        F.min(F.struct("d2", "code_id")).alias("m")
    )
    return (
        best.selectExpr(
            "CAST(subspace AS INT) AS subspace",
            "m.d2 AS err2",
            "CAST(m.d2 AS DECIMAL(25,6)) AS err2d",
        )
        .groupBy("subspace")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            (F.sum("err2d").cast("double") / F.count(F.lit(1))).alias(
                "mean_err2"
            ),
            F.max("err2").alias("max_err2"),
        )
    )


def pq_recall_report(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
) -> DataFrame:
    """Approximation self-evaluation for the PQ serving paths (the ANN
    counterpart of ``lsh_recall_report``): recall@k of exhaustive-ADC
    and of IVF-PQ against the EXACT cosine top-k for the same query —
    the number an operator owner quotes when asked 'what does the
    compressed index miss?'.  All three sub-pipelines are the production
    operators; the combine is a 1-row scalar join of three k-row frames.

    Returns one row: (k, n_adc_captured, adc_recall, n_ivfpq_captured,
    ivfpq_recall).  The probe removes candidates, which at the top-k
    boundary can cut either way — dropping a true neighbour lowers
    recall, dropping a quantization-artifact candidate PROMOTES a true
    neighbour into the k (measured: ivfpq_recall can exceed adc_recall);
    at n_probe == n_centroids the two coincide exactly.  Tune n_probe /
    m / ksub until recall at the operating k is acceptable — re-run per
    corpus."""
    # Share every deterministic intermediate across the four tiers:
    # Catalyst has no cross-branch CSE, so without materialization the
    # input frame (for derived fixtures a md5-per-element expression) is
    # recomputed by every tier and the SAME codebook training / corpus
    # encode / list assignment runs three times over.  localCheckpoint is
    # lazy here (one action computes everything once); the checkpointed
    # frames are the model (m·ksub rows) plus two narrow corpus-sized
    # frames — the same trade the persisted-store serving path makes by
    # construction.  Training/encode are bit-deterministic, so sharing
    # cannot change any tier's output (oracle-gated).
    emb = embeddings.localCheckpoint(eager=False)
    codebooks = pq_codebooks_wide(emb, m, ksub, iters).localCheckpoint(
        eager=False
    )
    codes = pq_codes(emb, m, ksub, iters, codebooks=codebooks).localCheckpoint(
        eager=False
    )
    assignments = ivf_assign(emb, n_centroids).localCheckpoint(eager=False)
    exact = cosine_topk(emb, query_vec_id, k).select("vec_id")
    adc = pq_topk(
        emb, query_vec_id, k, m, ksub, iters, codes=codes, codebooks=codebooks
    ).select("vec_id")
    ivfpq = ivfpq_topk(
        emb, query_vec_id, k, n_centroids, n_probe, m, ksub, iters,
        assignments=assignments, codebooks=codebooks, codes=codes,
    ).select("vec_id")
    rerank = ivfpq_rerank_topk(
        emb, query_vec_id, k, 50, n_centroids, n_probe, m, ksub, iters,
        assignments=assignments, codebooks=codebooks, codes=codes,
    ).select("vec_id")
    n_adc = (
        adc.join(F.broadcast(exact), "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_adc_captured"))
    )
    n_ivf = (
        ivfpq.join(F.broadcast(exact), "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ivfpq_captured"))
    )
    n_rr = (
        rerank.join(F.broadcast(exact), "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rerank_captured"))
    )
    return (
        n_adc.crossJoin(F.broadcast(n_ivf))
        .crossJoin(F.broadcast(n_rr))
        .selectExpr(
            f"CAST({k} AS INT) AS k",
            "n_adc_captured",
            f"CAST(n_adc_captured AS DOUBLE) / {k} AS adc_recall",
            "n_ivfpq_captured",
            f"CAST(n_ivfpq_captured AS DOUBLE) / {k} AS ivfpq_recall",
            "n_rerank_captured",
            f"CAST(n_rerank_captured AS DOUBLE) / {k} AS rerank_recall",
        )
    )


def clustered_embeddings(
    embeddings: DataFrame, n_clusters: int = 50, eps: float = 0.25
) -> DataFrame:
    """A CLUSTERED embedding fixture derived deterministically from the
    corpus vec_ids — planted structure for ANN recall measurement.  The
    shipped synthetic ``embeddings`` table is near-uniform unit noise,
    the hardest and least representative input for a quantizer: recall
    measured on it says nothing about real corpora (real embedding
    spaces are strongly clustered).  This fixture plants ``n_clusters``
    centers (components uniform in [-1, 1) via integer hashing) and
    scatters each vector around its center (``vec_id % n_clusters``)
    with per-dimension uniform noise of half-width ``eps`` — a
    mixture-model geometry with tunable separation (center norm ≈
    √(64/3) ≈ 4.6, noise norm ≈ eps·4.6, so eps is the noise-to-signal
    ratio).

    Components hash through md5 (the engine-portable ``hex60`` recipe
    that already powers train_sample's buckets) — a LINEAR congruential
    mix is NOT enough here: with h(c,d) affine in (c,d), two centers
    differ by a near-constant per-dimension shift, leaving all centers
    strongly correlated and the "clusters" unseparated (measured: top-1
    own-cluster hit rate 0.28).  md5 mixing makes centers mutually
    near-orthogonal like real embedding clusters (hit rate 1.0).
    Everything downstream is IEEE-double arithmetic with a fixed
    evaluation order, so a DuckDB oracle derives the IDENTICAL vectors
    bit-for-bit — the property that lets recall/integrity queries over
    the fixture be hash-gated like every other entry.  Output schema
    matches the embeddings table (vec_id, label, embedding[64] double)
    with label = planted cluster id, so every ANN operator consumes it
    unchanged."""
    c = f"(vec_id % {n_clusters})"
    key_c = f"CONCAT(CAST({c} AS STRING), '_', CAST(d AS STRING), '_ctr')"
    key_n = "CONCAT(CAST(vec_id AS STRING), '_', CAST(d AS STRING), '_nz')"
    center = f"CAST({_hex60_expr(key_c)} % 2001 AS DOUBLE) / 1000.5 - 1.0"
    noise = f"CAST({_hex60_expr(key_n)} % 2001 AS DOUBLE) / 1000.5 - 1.0"
    return embeddings.selectExpr(
        "vec_id",
        f"CAST({c} AS INT) AS label",
        f"transform(sequence(0, {DIM - 1}), d -> "
        f"({center}) + {eps!r} * ({noise})) AS embedding",
    )


def knn_cluster_integrity(
    fixture: DataFrame,
    sample_mod: int = 29,
    sample_rem: int = 3,
    sample_cap: int = 1000,
) -> DataFrame:
    """Planted-structure ground truth over a clustered fixture: for a
    bounded deterministic query sample (vec_id % mod == rem, vec_id <
    cap — the cap keeps the broadcast side fixed as the corpus grows),
    find each query's EXACT top-1 cosine neighbor and flag whether it
    lies in the query's own planted cluster (label).  On a corpus with
    real structure this is ~all-hits; it is the recall denominator that
    the uniform-noise fixture could never provide.  Returns one row per
    sampled query: (vec_id, label, nn_id, nn_label, cosine, hit)."""
    from pyspark.sql import Window

    q = _as_double(
        fixture.filter(
            (F.col("vec_id") % sample_mod == sample_rem)
            & (F.col("vec_id") < sample_cap)
        ),
        "q",
    ).selectExpr("vec_id AS qid", "label AS qlabel", "q")
    # norms per row below the join: n + n_q folds instead of 2·n·n_q
    q = with_norm(q, "q", "nq")
    t = with_norm(_as_double(fixture, "v"), "v", "nv")
    scored = with_cosine(
        t.crossJoin(F.broadcast(q)), nq_col="nq", nv_col="nv"
    ).filter(F.col("vec_id") != F.col("qid"))
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .selectExpr(
            "qid AS vec_id",
            "qlabel AS label",
            "vec_id AS nn_id",
            "label AS nn_label",
            "cosine",
            "CAST(qlabel = label AS INT) AS hit",
        )
        .orderBy("vec_id")
    )


def ivfpq_occupancy_report(spark, path: str) -> DataFrame:
    """(centroid_id, n_vectors, n_files) for a persisted IVF-PQ store —
    the monitoring frame behind maintenance scheduling: n_vectors per
    list (code rows / m) drives the retrain-skew verdict exactly like
    the raw-vector IVF store's occupancy, and n_files per list counts
    the append fan-out (each merge/fold adds one file per touched list)
    that :func:`compact_ivfpq_index` reclaims."""
    codes_path, _, _, man_path = pq_resolved_paths(spark, path)
    m = int(spark.read.parquet(man_path).first()["m"])
    return (
        spark.read.parquet(codes_path)
        .select("centroid_id", F.input_file_name().alias("f"))
        .groupBy("centroid_id")
        .agg(
            (F.count(F.lit(1)) / m).cast("long").alias("n_vectors"),
            F.countDistinct("f").cast("int").alias("n_files"),
        )
    )


def recommended_rerank_depth(
    spark,
    path: str,
    floor: int = SERVING_RERANK_DEPTH,
    quantile: float = 0.95,
) -> int:
    """Occupancy-DERIVED rerank depth for a persisted IVF-PQ store — the
    round-12 law made operational: recall caps out unless the rerank
    shortlist covers the query's LOCAL CLUSTER OCCUPANCY (measured on
    the clustered GMM fixture: depth 100 plateaus at ~0.78 on 400-member
    clusters, 200 → 0.94, 400 → 1.0 — docs/SCALE.md round-12 grid), and
    on a trained store the inverted-list occupancy IS the available
    proxy for cluster size.  Returns the p95 per-list vector occupancy
    (an ordinary percentile over the n_lists-row monitoring frame — a
    model-sized aggregation, no corpus scan beyond the code-store
    footer/rowcount read the occupancy report already does), floored at
    the measured static serving default so a store with tiny lists never
    recommends a uselessly shallow rerank.  Serving routes read this
    when a store is configured (memoized per store state); the
    index_health block reports it for operators running batch
    curation."""
    occ = ivfpq_occupancy_report(spark, path)
    p = occ.agg(
        F.expr(f"percentile(n_vectors, CAST({float(quantile)} AS DOUBLE))")
        .alias("p")
    ).first()["p"]
    if p is None:
        return int(floor)
    return max(int(floor), int(-(-float(p) // 1)))


def compact_ivfpq_index(spark, path: str) -> None:
    """Compact the IVF-PQ code partitions back to ONE file per inverted
    list — reclaiming merge/fold append fan-out, results bit-identical.
    Commits a new version (codes rewritten, model tables carried
    unchanged) by one rename, so a reader mid-scan never loses a file."""
    with maintenance_lease(spark, path):
        codes_path, cb_path, cent_path, man_path = pq_resolved_paths(
            spark, path
        )
        clean_version_scratch(spark, path)
        tmp = version_scratch(path)
        (
            spark.read.parquet(codes_path)
            .repartition("centroid_id")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(f"{tmp}/codes")
        )
        spark.read.parquet(cb_path).write.mode("overwrite").parquet(
            f"{tmp}/codebooks"
        )
        spark.read.parquet(cent_path).write.mode("overwrite").parquet(
            f"{tmp}/centroids"
        )
        spark.read.parquet(man_path).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/manifest")
        commit_version(spark, path, tmp)


def ivfpq_rerank_from_index(
    spark,
    embeddings: DataFrame,
    index_path: str,
    query_vec_id: int = 0,
    k: int = 10,
    shortlist: int = 50,
    n_probe: int = 4,
    query_vec: list[float] | None = None,
) -> DataFrame:
    """Two-stage serving from the PERSISTED store: the code-only
    shortlist comes from :func:`ivfpq_topk_from_index` (pruned 4-byte
    partitions, centroids read out of the store), then only the
    ``shortlist`` raw vectors are point-read from the corpus and
    re-ranked by exact cosine — the production rerank tier
    (:func:`ivfpq_rerank_topk`) with index-resident stage one.
    ``query_vec``: external embedding; corpus reads shrink to the
    shortlist point-reads only (cosine is scale-invariant, so the raw
    literal reranks correctly even against a normalized store)."""
    cands = ivfpq_topk_from_index(
        spark, embeddings, index_path, query_vec_id, int(shortlist),
        n_probe, query_vec=query_vec,
    )
    qf, _ = _query_source(embeddings, query_vec_id, query_vec)
    # the 1-row query's norm folds once below the join, not per candidate
    q = with_norm(_as_double(qf, "q").select("q"), "q", "nq")
    t = _as_double(embeddings, "v").select("vec_id", "v")
    scored = with_cosine(
        cands.join(t, "vec_id").crossJoin(F.broadcast(q)), nq_col="nq"
    )
    return (
        scored.select("vec_id", "label", "centroid_id", "adc_dist2", "cosine")
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def merge_ivfpq_index(spark, path: str, new_embeddings: DataFrame) -> None:
    """Append-merge a NEW vector batch into the persisted IVF-PQ store —
    the FAISS operational model: the codebooks and centroids are FROZEN
    (read back out of the store, both model-sized), the batch is
    IVF-assigned and PQ-encoded against them, and the resulting code
    rows append into their ``centroid_id`` partition directories.  Cost
    is batch-sized; the merged store equals encoding the whole union
    against the ORIGINAL frozen models, row-for-row (pytest-pinned).
    Codebook/centroid drift is deliberately NOT absorbed here — that is
    the retrain trigger (watch per-list occupancy), exactly as with the
    raw-vector IVF store.

    Contract validation before any write: the manifest must exist (a
    PQ store is written whole by :func:`write_ivfpq_index`; there is no
    legacy layout to upgrade), and the batch's vec_ids must lie outside
    BOTH seed ranges — ``[0, n_centroids)`` and ``[0, ksub)`` — because a
    from-scratch rebuild over the union would train on those rows,
    silently diverging merge from rebuild semantics.

    Single-writer lease keyed on the store path, same as every other
    maintained store; readers keep snapshot isolation during the append
    (appends only add files to the current version, which a planned
    scan tolerates).

    Idempotent BY ANTI-JOIN, mirroring :func:`streaming.ingest.
    fold_encoded_codes`: batch rows whose vec_id already exists in the
    store are dropped before encoding, so a crash after the append but
    before the caller records success — or an accidental re-merge of
    the same batch — no-ops instead of appending duplicate (vec_id,
    subspace) code rows (which would double-count in the ADC
    groupBy-sum and silently corrupt rankings)."""
    with maintenance_lease(spark, path):
        codes_path, cb_path, cent_path, man_path = pq_resolved_paths(
            spark, path
        )
        if not path_exists(spark, man_path):
            raise ValueError(
                f"merge_ivfpq_index: no manifest at {man_path} — not a "
                "write_ivfpq_index store"
            )
        man = spark.read.parquet(man_path).first()
        n_centroids, m, ksub = (
            int(man["n_centroids"]), int(man["m"]), int(man["ksub"])
        )
        seed_ceiling = max(n_centroids, ksub)
        min_vec = new_embeddings.agg(F.min("vec_id")).first()[0]
        if min_vec is not None and int(min_vec) < seed_ceiling:
            raise ValueError(
                f"merge_ivfpq_index: batch contains vec_id={min_vec} inside "
                f"the model seed range [0, {seed_ceiling}) — seed rows are "
                "immutable under append-merge; rebuild for corrections"
            )
        # retry guard: drop batch rows already in the store (column-pruned
        # distinct probe) BEFORE encoding — a re-merge of the same batch
        # appends nothing instead of duplicate (vec_id, subspace) rows
        seen = spark.read.parquet(codes_path).select("vec_id").distinct()
        fresh = new_embeddings.join(seen, "vec_id", "left_anti")
        if manifest_normalized(man):
            fresh = normalize_embeddings(fresh)
        cents = spark.read.parquet(cent_path).selectExpr(
            "centroid_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS q"
        )
        codebooks = spark.read.parquet(cb_path)
        # norms per row below the join (batch + k folds, not 2·batch·k)
        t = with_norm(_as_double(fresh, "v"), "v", "nv")
        scored = with_cosine(
            t.crossJoin(F.broadcast(with_norm(cents, "q", "nq"))),
            nq_col="nq",
            nv_col="nv",
        )
        assign = (
            scored.groupBy("vec_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("cosine"), (-F.col("centroid_id")).alias("neg")
                    )
                ).alias("m")
            )
            .select(
                "vec_id", (-F.col("m.neg")).cast("long").alias("centroid_id")
            )
        )
        (
            pq_codes(fresh, m, ksub, codebooks=codebooks)
            .join(assign, "vec_id")
            .write.mode("append")
            .partitionBy("centroid_id")
            .parquet(codes_path)
        )


def ivfpq_topk_batch(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 1,
    query_vecs: list[list[float]] | None = None,
) -> DataFrame:
    """BATCHED IVF-PQ serving: top-k for each of ``n_queries`` stored
    vectors (or each vector in ``query_vecs`` — an external batch,
    query_id = -1, -2, …) through ONE pass of the code store — the
    amortization that makes compressed ANN serve throughput at scale:
    the m·ksub·|batch| distance tables and the per-query probe lists are
    model-sized broadcasts, each code row is read once and replicated
    only to the queries probing its list, and the per-query ranking is a
    bounded window (≤ probed candidates per query, never the corpus).

    Per-query results are IDENTICAL to :func:`ivfpq_topk` (same
    training, probe, ADC fold, ties) — batching changes the execution
    shape, not the answers (pytest-pinned).  Returns (query_id, vec_id,
    label, centroid_id, adc_dist2, rnk), rnk 1-based per query."""
    from pyspark.sql import Window

    spark = embeddings.sparkSession
    if query_vecs is not None:
        qframe = None
        for i, vec in enumerate(query_vecs):
            row = literal_query_frame(spark, vec).selectExpr(
                f"CAST({-(i + 1)} AS BIGINT) AS query_id",
                "label",
                "embedding",
            )
            qframe = row if qframe is None else qframe.unionByName(row)
        qframe = qframe.selectExpr(
            "query_id AS vec_id", "label", "embedding"
        )
    else:
        qframe = embeddings.filter(F.col("vec_id") < n_queries)
    qsub = _pq_subvectors(qframe, m).selectExpr(
        "vec_id AS query_id", "subspace", "sv AS qv"
    )
    # norms per row below the join: n_q + k folds instead of 2·n_q·k
    q = with_norm(
        _as_double(qframe, "q").selectExpr("vec_id AS query_id", "q"), "q", "nq"
    )
    cents = with_norm(
        _as_double(
            embeddings.filter(F.col("vec_id") < n_centroids), "c"
        ).selectExpr("vec_id AS centroid_id", "c"),
        "c",
        "nc",
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("centroid_id").asc()
    )
    probe = (
        with_cosine(
            cents.crossJoin(F.broadcast(q)), "q", "c",
            nq_col="nq", nv_col="nc",
        )
        .withColumn("_r", F.row_number().over(wp))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "centroid_id")
    )
    codebooks = pq_codebooks_wide(embeddings, m, ksub, iters)
    codes = pq_codes(embeddings, m, ksub, iters, codebooks=codebooks).join(
        ivf_assign(embeddings, n_centroids).select("vec_id", "centroid_id"),
        "vec_id",
    )
    dtable = codebooks.join(F.broadcast(qsub), "subspace").select(
        "query_id",
        "subspace",
        F.col("code_id").alias("code"),
        F.expr(_d2("qv", "c")).alias("dt"),
    )
    looked = (
        codes.join(F.broadcast(probe), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(dtable), ["query_id", "subspace", "code"])
    )
    adc = looked.groupBy("query_id", "vec_id", "label", "centroid_id").agg(
        F.expr(_ADC_SUM).alias("adc_dist2")
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist2").asc(), F.col("vec_id").asc()
    )
    return (
        adc.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "vec_id", "label", "centroid_id", "adc_dist2",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def ivfpq_topk_batch_from_index(
    spark,
    embeddings: DataFrame,
    index_path: str,
    n_queries: int = 8,
    k: int = 5,
    n_probe: int = 4,
    query_vecs: list[list[float]] | None = None,
) -> DataFrame:
    """Batched IVF-PQ serving from the PERSISTED store — the production
    throughput shape: N queries amortize ONE scan of the code store,
    pruned statically to the union of every query's probe lists.  The
    model comes from :func:`_pq_model` and the per-query probe lists and
    ADC tables are computed on the driver, exactly as in
    :func:`ivfpq_topk_from_index`; they reach Spark as one local
    (query_id, centroid_id, dts) frame of probe pairs, so building the
    plan starts no job, and each code row is replicated only to the
    queries probing its list.  Stored-vector queries point-read the
    corpus once for the batch (one collect); an external ``query_vecs``
    batch touches ONLY store bytes.  Honors the store's ``normalized``
    manifest flag.  Per-query results identical to
    :func:`ivfpq_topk_from_index` / :func:`ivfpq_topk_batch` (same
    models, probe, fold, ties).  Returns (query_id, vec_id, label,
    centroid_id, adc_dist2, rnk)."""
    from pyspark.sql import Window

    model = _pq_model(spark, index_path)
    if query_vecs is not None:
        queries = [
            (-(i + 1), [float(x) for x in v]) for i, v in enumerate(query_vecs)
        ]
    else:
        queries = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in embeddings.filter(F.col("vec_id") < n_queries)
            .select("vec_id", "embedding")
            .collect()
        ]
    if model.normalized:
        queries = [(qid, _unit(q)) for qid, q in queries]
    probes = _pq_probe_lists(spark, model, [q for _, q in queries], n_probe)
    pairs = []
    for (qid, q), probe in zip(queries, probes):
        table = _pq_distance_table(model, q)
        pairs.extend((qid, c, table) for c in probe)
    pair_frame = spark.createDataFrame(
        pairs, "query_id BIGINT, centroid_id INT, dts ARRAY<DOUBLE>"
    )
    codes = (
        _pq_probed_codes(spark, model, [c for _, c, _ in pairs])
        .join(F.broadcast(pair_frame), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    adc = (
        _with_table_entry(codes, model, "dts")
        .groupBy("query_id", "vec_id", "label", "centroid_id")
        .agg(F.expr(_ADC_SUM).alias("adc_dist2"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist2").asc(), F.col("vec_id").asc()
    )
    return (
        adc.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "vec_id", "label", "centroid_id", "adc_dist2",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def knn_join(
    spark,
    query_df: DataFrame,
    index_path: str,
    k: int = 10,
    n_probe: int = 4,
    rerank_depth: int | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Bulk k-NN JOIN against the persisted IVF-PQ store: top-k ADC
    neighbors for EVERY row of an arbitrary query DataFrame (vec_id,
    embedding[, label]) — the curation-job shape (dedup-against-
    reference, retrieval labeling) that the request-path batch
    (:func:`ivfpq_topk_batch_from_index`, probe lists and tables built on
    the driver, capped at 64) deliberately does not serve.

    Scale posture — the query side is UNBOUNDED, so nothing query-sized
    is ever broadcast or collected:

    * probe assignment: the model-sized centroid table broadcasts to the
      distributed query frame (corpus-direction of the serving join);
    * distance tables: codebooks (m·ksub rows) broadcast onto the
      query subvectors — (query_id, subspace, code, dt) stays
      DISTRIBUTED, n_q·m·ksub small rows;
    * the one corpus-sized shuffle: pruned code partitions ⋈ probe
      pairs on ``centroid_id`` (each code row is read once and
      replicated only to the queries probing its list; a hot list is
      AQE skew-join territory, same as every bucketed join here);
    * per-query ranking is a bounded window (≤ probed candidates per
      query, never the corpus).

    RERANK TIER (``rerank_depth=D``, requires the raw ``corpus`` frame):
    the ADC ranking becomes a per-query shortlist of depth D, joined
    back to the raw corpus vectors ON ``vec_id`` (a key join — the
    corpus side prunes to the shortlist's ids, read once; never a
    broadcast of either side) and to the raw query vectors on
    ``query_id``, then re-ranked by EXACT cosine — the bulk twin of
    :func:`ivfpq_rerank_from_index`, with the same distributed-query
    discipline as the ADC tier.  Use it for curation jobs that need
    recall: the round-12 measurement on the clustered GMM fixture has
    the ADC tier at ~0.21 recall@10 at serving config while rerank
    reaches 0.94 (docs/SCALE.md); size D to the corpus's local cluster
    occupancy (:func:`recommended_rerank_depth`).  Exact cosine is
    computed on the RAW (pre-normalization) vectors on both sides —
    cosine is scale-invariant, so this reranks correctly against
    normalized stores too.  Adds ``cosine``; ``rnk`` orders by it.

    Per-query ADC results are IDENTICAL to
    :func:`ivfpq_topk_from_index` (same frozen models, probe rule,
    subspace-ordered ADC fold, ties) — pytest-pinned.  Honors the
    store's ``normalized`` manifest flag.  Query ids that collide with
    corpus vec_ids are treated as self-matches and excluded (point the
    caller's ids at a disjoint range — e.g. negatives — to disable).
    Returns (query_id, vec_id, label, centroid_id, adc_dist2, rnk),
    plus ``cosine`` before ``rnk`` when reranking."""
    from pyspark.sql import Window

    if rerank_depth is not None and corpus is None:
        raise ValueError(
            "knn_join: rerank_depth requires the raw corpus frame "
            "(corpus=) — the exact-cosine stage point-reads shortlisted "
            "vectors the code store does not hold"
        )
    raw_query = query_df  # pre-normalization: the rerank reads raw vectors
    codes_path, cb_path, cent_path, man_path = pq_resolved_paths(
        spark, index_path
    )
    man = spark.read.parquet(man_path).first()
    m = int(man["m"])
    if manifest_normalized(man):
        query_df = normalize_embeddings(query_df)
    qsub = _pq_subvectors(query_df, m).selectExpr(
        "vec_id AS query_id", "subspace", "sv AS qv"
    )
    # norms per row below the join: n_q + k folds instead of 2·n_q·k
    q = with_norm(
        _as_double(query_df, "q").selectExpr("vec_id AS query_id", "q"),
        "q",
        "nq",
    )
    cents = with_norm(
        spark.read.parquet(cent_path).selectExpr(
            "centroid_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS c"
        ),
        "c",
        "nc",
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("centroid_id").asc()
    )
    probe = (
        with_cosine(
            q.crossJoin(F.broadcast(cents)), "q", "c",
            nq_col="nq", nv_col="nc",
        )
        .withColumn("_r", F.row_number().over(wp))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "centroid_id")
    )
    codebooks = spark.read.parquet(cb_path)
    dtable = qsub.join(F.broadcast(codebooks), "subspace").select(
        "query_id",
        "subspace",
        F.col("code_id").alias("code"),
        F.expr(_d2("qv", "c")).alias("dt"),
    )
    looked = (
        spark.read.parquet(codes_path)
        .join(probe, "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(dtable, ["query_id", "subspace", "code"])
    )
    adc = looked.groupBy("query_id", "vec_id", "label", "centroid_id").agg(
        F.expr(_ADC_SUM).alias("adc_dist2")
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist2").asc(), F.col("vec_id").asc()
    )
    if rerank_depth is None:
        return (
            adc.withColumn("rnk", F.row_number().over(wk))
            .filter(F.col("rnk") <= k)
            .select(
                "query_id", "vec_id", "label", "centroid_id", "adc_dist2",
                F.col("rnk").cast("int").alias("rnk"),
            )
        )
    depth = max(int(rerank_depth), int(k))
    shortlist = (
        adc.withColumn("_rd", F.row_number().over(wk))
        .filter(F.col("_rd") <= depth)
        .drop("_rd")
    )
    # shortlist (n_q·depth rows) ⋈ corpus on vec_id: a plain key join —
    # the corpus is read once, shuffled on its primary key, and each
    # raw vector survives only if shortlisted.  Then the query's raw
    # vector joins on query_id (both sides distributed) and exact
    # cosine ranks.  Neither join is a broadcast: both inputs scale.
    tv = _as_double(corpus, "v").select("vec_id", "v")
    # each query row is reused rerank_depth times — its norm folds once
    # below the join.  The corpus side stays in-fold: prenorming it would
    # fold norms for EVERY corpus row when only shortlisted ones survive.
    qraw = with_norm(
        _as_double(raw_query, "q").selectExpr("vec_id AS query_id", "q"),
        "q",
        "nq",
    )
    scored = with_cosine(
        shortlist.join(tv, "vec_id").join(qraw, "query_id"), nq_col="nq"
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "vec_id", "label", "centroid_id", "adc_dist2",
            "cosine", F.col("rnk").cast("int").alias("rnk"),
        )
    )


def _rp_signs(out_dim: int, in_dim: int = DIM) -> list[list[int]]:
    """Deterministic ±1 sign matrix (Achlioptas-style database-friendly
    random projection): sign(i, j) from an LCG on the flat index — no RNG
    state, identical on every engine / run / cluster size (same rationale
    as the LSH hyperplanes above)."""
    rows = []
    for i in range(out_dim):
        row = []
        for j in range(in_dim):
            lcg = (1103515245 * (i * in_dim + j + 1) + 12345) % (2**31)
            row.append(1 if (lcg >> 16) & 1 else -1)
        rows.append(row)
    return rows


def random_projection(embeddings: DataFrame, out_dim: int = 16) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a deterministic
    ±1 sign matrix: p_i = (Σ_j sign(i,j)·x_j) / √out_dim.

    The standard pre-ANN compression step (JL lemma: pairwise distances are
    preserved within (1±ε) for out_dim = O(log n / ε²); Achlioptas 2003
    shows ±1 entries suffice).  Row-local: the sign matrix is a plan
    LITERAL (out_dim × 64 ints folded into the expression tree), so the
    operator is scan → project with NO shuffle, no broadcast variable, no
    UDF — embarrassingly parallel at any corpus size.  Multiplying by ±1.0
    is exact in IEEE arithmetic and the fold is left-to-right, so the
    output is bit-reproducible across engines (DuckDB-oracled).

    Returns (vec_id, label, p0..p{out_dim-1}) as doubles.
    """
    signs = _rp_signs(out_dim)
    t = _as_double(embeddings, "v")
    comps = []
    for i, row in enumerate(signs):
        arr = "array(" + ", ".join(f"{s}.0D" for s in row) + ")"
        comps.append(
            f"aggregate(zip_with(v, {arr}, (x, s) -> x * s), "
            f"CAST(0 AS DOUBLE), (acc, x) -> acc + x) "
            f"/ sqrt(CAST({out_dim} AS DOUBLE)) AS p{i}"
        )
    return t.selectExpr("vec_id", "label", *comps)


def negative_samples(
    embeddings: DataFrame, k: int = 4, salt: str = "neg"
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for each
    anchor, ``k`` pseudo-random candidate ids drawn by engine-portable
    hash (hex60(anchor|salt|j) mod n), keeping only TRUE negatives
    (different label, different id).

    Epoch-reproducible by construction — same corpus, same negatives, on
    any engine or partitioning (vary ``salt`` per epoch for fresh draws).
    Shape: row-local candidate generation (explode of a k-literal
    sequence), then ONE equi-join against the id->label projection to
    fetch candidate labels; with ~uniform labels the yield is
    ~k * (1 - 1/n_labels) negatives per anchor.  Candidate ids map onto
    the corpus's contiguous [0, n) id space; n is read once (1-row
    aggregate collected at plan-build, like the strata enumerations).
    """
    from admira_etl_project_prueba_spark.operators.textops import hex60

    n = embeddings.count()
    anchors = embeddings.select("vec_id", F.col("label").alias("anchor_label"))
    h = hex60(f"concat(CAST(vec_id AS STRING), '|{salt}|', CAST(j AS STRING))")
    cands = anchors.select(
        "vec_id",
        "anchor_label",
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j"),
    ).selectExpr("vec_id", "anchor_label", "j", f"{h} % {n} AS neg_vec_id")
    labels = embeddings.select(
        F.col("vec_id").alias("neg_vec_id"), F.col("label").alias("neg_label")
    )
    return (
        cands.join(labels, "neg_vec_id")
        .filter(
            (F.col("neg_vec_id") != F.col("vec_id"))
            & (F.col("neg_label") != F.col("anchor_label"))
        )
        .select("vec_id", "j", "anchor_label", "neg_vec_id", "neg_label")
    )


def knn_label_accuracy(
    embeddings: DataFrame,
    n_centroids: int = 16,
    k: int = 5,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """Embedding-quality evaluation: leave-one-out k-NN label accuracy,
    bounded by IVF clusters.  For every vector, take its k nearest
    cluster-mates by cosine, majority-vote their labels (ties → larger
    count first, then smaller label), and score the vote against the
    vector's own label; report per-label (n_vecs, n_correct, accuracy).
    The standard cheap probe of "do these embeddings separate the
    classes?" before spending a training run on them.

    Deterministic end to end: neighbor ranking ties break on vec_id,
    vote ties on (count DESC, label ASC); vectors whose cluster holds no
    other vector are excluded (no neighbors ⇒ no vote) rather than
    scored against a fabricated default.

    Scale shape: the same cluster-bounded candidate generation as
    semantic_dedup_pairs — the equi-join on centroid_id caps candidates
    at Σ|cluster|², never corpus²; per-vector norms are computed ONCE
    before the join (the aggregate() fold is interpreted — inlining it
    per pair measurably multiplies fold work); the top-k window
    partitions by query vec_id over cluster-local rows only; the vote
    and report are count shuffles of int pairs.  At 100 TB the
    assignment comes from the persisted IVF index — pass it as
    ``assignments`` (same seam as :func:`ivf_topk` /
    :func:`semantic_dedup_pairs`) so candidates are co-partitioned
    pruned I/O with no inline n·k recompute.  Provisioning rule
    (measured, SCALE.md):
    n_centroids must TRACK the corpus — at 10× vectors a fixed centroid
    count grew candidate pairs 101.5× (quadratic hazard) while scaling
    the list count held them to 10.4× (linear).
    """
    if assignments is None:
        assignments = ivf_assign(embeddings, n_centroids)
    a = assignments.select("vec_id", "centroid_id")
    # t feeds BOTH sides of the cluster-mate self-join; without
    # materialization the inline n·k assignment (and the per-vector norm
    # fold) would run twice — lazy localCheckpoint computes it once per
    # action.  Deterministic, so results are unchanged (oracle-gated).
    t = (
        _as_double(embeddings, "v")
        .join(a, "vec_id")
        .selectExpr("vec_id", "label", "centroid_id", "v", f"{_norm('v')} AS nrm")
        .localCheckpoint(eager=False)
    )
    q = t.selectExpr(
        "vec_id", "label AS own_label", "centroid_id", "v AS vq", "nrm AS nq"
    )
    nb = t.selectExpr(
        "vec_id AS nb_id", "label AS nb_label", "centroid_id", "v AS vn", "nrm AS nn"
    )
    from pyspark.sql import Window as W

    scored = (
        q.join(nb, "centroid_id")
        .filter(F.col("vec_id") != F.col("nb_id"))
        .withColumn(
            "cosine",
            F.expr(
                f"CASE WHEN nq > 0 AND nn > 0 THEN {_dot('vq', 'vn')} / (nq * nn) "
                "ELSE 0.0 END"
            ),
        )
        .select("vec_id", "own_label", "nb_id", "nb_label", "cosine")
    )
    topk = scored.withColumn(
        "_r",
        F.row_number().over(
            W.partitionBy("vec_id").orderBy(F.desc("cosine"), "nb_id")
        ),
    ).filter(F.col("_r") <= k)
    # majority vote as ONE hash aggregate per vector: max of
    # (votes, -label) struct ⇒ most votes, smallest label on ties.
    votes = topk.groupBy("vec_id", "own_label", "nb_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    winner = votes.groupBy("vec_id", "own_label").agg(
        F.max(
            F.struct(F.col("n_votes"), (-F.col("nb_label")).alias("neg_l"))
        ).alias("m")
    ).select(
        "vec_id",
        "own_label",
        (-F.col("m.neg_l")).cast("int").alias("predicted_label"),
    )
    return (
        winner.groupBy(F.col("own_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(
                (F.col("predicted_label") == F.col("own_label")).cast("long")
            ).alias("n_correct"),
        )
        .selectExpr(
            "label",
            "n_vecs",
            "n_correct",
            "CAST(n_correct AS DOUBLE) / n_vecs AS accuracy",
        )
        .orderBy("label")
    )


def embedding_drift(ref: DataFrame, cur: DataFrame) -> DataFrame:
    """Embedding-space drift monitor: per-label L2 shift between the
    class prototypes (decimal-exact centroids) of a reference and a
    current window — the embedding-side sibling of the token-KL and
    value-PSI monitors (embedding model silently retrained / feature
    pipeline drifted ⇒ prototypes move even when token stats don't).
    Returns (label, n_ref, n_cur, l2_shift) for labels present in both
    windows, ordered by label.

    Exactness seam: centroids are already associative decimal means;
    each squared per-dim difference is quantized to decimal(25,6) before
    the cross-dim sum (the same grid convention as the ln surfaces), so
    the final sqrt sees a bit-identical argument on any engine or
    partitioning.

    Scale shape: both centroid passes reduce map-side to
    |labels| × |dims| partial sums; everything after is model-sized.
    """
    a = label_centroids(ref).selectExpr(
        "label", "dim", "centroid AS ca", "n_vectors AS n_ref"
    )
    b = label_centroids(cur).selectExpr(
        "label", "dim", "centroid AS cb", "n_vectors AS n_cur"
    )
    return (
        a.join(b, ["label", "dim"])
        .selectExpr(
            "label",
            "n_ref",
            "n_cur",
            "CAST((ca - cb) * (ca - cb) AS DECIMAL(25,6)) AS d2",
        )
        .groupBy("label")
        .agg(
            F.max("n_ref").cast("long").alias("n_ref"),
            F.max("n_cur").cast("long").alias("n_cur"),
            F.sum("d2").alias("ss"),
        )
        .selectExpr("label", "n_ref", "n_cur", "sqrt(CAST(ss AS DOUBLE)) AS l2_shift")
        .orderBy("label")
    )


def merge_ivf_index(
    spark, path: str, new_embeddings: DataFrame, n_centroids: int | None = None
) -> None:
    """Append-merge a NEW vector batch into the persisted IVF index —
    the list layout's incremental maintenance: the centroid vectors are
    read back OUT OF THE INDEX (they are its ``vec_id < n_centroids``
    rows — a stats-pruned point-read, no corpus access), the batch is
    assigned by the same deterministic cosine argmax, and the new rows
    append into their ``centroid_id`` partition directories.  Because
    the centroid set is unchanged, existing assignments stay valid and
    the merged index equals a from-scratch rebuild over the union,
    row-for-row (pytest-pinned; new vec_ids must exceed the centroid
    ids, which a growing corpus satisfies by construction).

    Contract VALIDATION (not trust): ``n_centroids`` defaults to the
    manifest's value (None — the only sound choice for split-grown
    stores, whose k the caller can't track); an explicit caller value
    is checked against the manifest (written by :func:`write_ivf_index`) —
    a mismatch raises ``ValueError`` before any write, because merging
    with the wrong centroid count would misread real vectors as
    centroids and assign the batch against garbage.  The batch's vec_ids
    are likewise checked to exceed the centroid id range.  A store with
    no manifest is no :func:`write_ivf_index` store (every committed
    version holds one) and raises ``ValueError``.

    Cost is batch-sized: one scan of the new batch plus the k-row
    centroid read.  When drift accumulates (cluster occupancy skews —
    watch it via the per-partition row counts), retrain via the k-means
    trainer and rebuild; that is the IVF operational cycle.
    """
    # single-writer lease (keyed on the index path): an append-merge
    # racing a compact/retrain in another process would append into a
    # version that commit has just superseded, losing the batch
    with maintenance_lease(spark, path):
        _merge_ivf_locked(spark, path, new_embeddings, n_centroids)


def _merge_ivf_locked(spark, path, new_embeddings, n_centroids):
    data, manifest = ivf_resolved_paths(spark, path)
    if not path_exists(spark, manifest):
        raise ValueError(
            f"merge_ivf_index: no manifest at {manifest} — not a "
            "write_ivf_index store"
        )
    stored = int(spark.read.parquet(manifest).first()["n_centroids"])
    # n_centroids=None (default) adopts the manifest's value — the only
    # sound choice for split-grown stores, whose k the caller can't be
    # expected to track; an EXPLICIT caller value is still validated.
    if n_centroids is None:
        n_centroids = stored
    if stored != int(n_centroids):
        raise ValueError(
            f"merge_ivf_index: index at {path} was built with "
            f"n_centroids={stored}, merge called with {n_centroids} — "
            "a mismatched merge would misread vectors as centroids; "
            "rebuild via write_ivf_index to change the centroid count"
        )
    explicit = ivf_centroids_frame(spark, path)
    if explicit is None:
        # convention stores: the batch must not collide with the
        # centroid id range (centroid rows are immutable under append);
        # split-grown stores carry their centroids in an explicit table,
        # so vec_ids carry no centroid meaning there
        min_vec = new_embeddings.agg(F.min("vec_id")).first()[0]
        if min_vec is not None and int(min_vec) < int(n_centroids):
            raise ValueError(
                f"merge_ivf_index: batch contains vec_id={min_vec} inside the "
                f"centroid id range [0, {n_centroids}) — centroid rows are "
                "immutable under append-merge; rebuild for corrections"
            )
        cents = (
            spark.read.parquet(data)
            .filter(F.col("vec_id") < n_centroids)
            .selectExpr(
                "vec_id AS centroid_id",
                "transform(embedding, x -> CAST(x AS DOUBLE)) AS q",
            )
        )
    else:
        cents = explicit.selectExpr(
            "centroid_id",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS q",
        )
    # norms per row below the join (batch + k folds, not 2·batch·k)
    t = with_norm(_as_double(new_embeddings, "v"), "v", "nv")
    scored = with_cosine(
        t.crossJoin(F.broadcast(with_norm(cents, "q", "nq"))),
        nq_col="nq",
        nv_col="nv",
    )
    best = (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(F.col("cosine"), (-F.col("centroid_id")).alias("neg_cid"))
            ).alias("m")
        )
        .select("vec_id", (-F.col("m.neg_cid")).cast("long").alias("centroid_id"))
    )
    (
        # append INTO the current version: adds files to existing list
        # partitions, never removes/rewrites — safe under planned scans
        new_embeddings.select("vec_id", "label", "embedding")
        .join(best, "vec_id")
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(data)
    )


def ivf_files_per_list(spark, path: str) -> DataFrame:
    """Posting-file fan-out of the IVF index: (centroid_id, n_files).
    Each :func:`merge_ivf_index` batch appends one file per touched
    list partition, so n_files ≈ 1 + merges-since-compaction — the
    occupancy/fan-out monitor the index owner watches alongside
    per-list row counts."""
    return (
        spark.read.parquet(ivf_data_path(spark, path))
        .select("centroid_id", F.input_file_name().alias("f"))
        .distinct()
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_files"))
    )


def ivf_occupancy_report(spark, path: str) -> DataFrame:
    """Per-list occupancy of the persisted IVF index: (centroid_id,
    n_vectors, share, skew) — the drift monitor :func:`merge_ivf_index`
    tells index owners to watch.  ``share`` is the list's fraction of
    all indexed vectors; ``skew`` is occupancy relative to uniform over
    the index's FULL list universe (n_vectors / (total / n_centroids),
    manifest-declared) — 1.0 everywhere is a perfectly balanced index,
    and a hot list's probe cost grows linearly with its skew.  The
    denominator is n_centroids, not the populated-list count: empty
    lists are exactly the imbalance signal (all vectors in one of k
    lists must read skew = k, not 1.0).  Centroid self-rows (vec_id <
    n_centroids) are excluded so the counts reflect real vectors.

    Scale shape: one column-pruned scan of the index (vec_id,
    centroid_id only), one map-side-combined groupBy on centroid_id,
    and a 1-row total broadcast — register-sized output (n_lists rows).
    """
    data, manifest = ivf_resolved_paths(spark, path)
    n_centroids = int(spark.read.parquet(manifest).first()["n_centroids"])
    return ivf_occupancy_of(spark.read.parquet(data), n_centroids)


def ivf_occupancy_of(assignments: DataFrame, n_centroids: int) -> DataFrame:
    """The occupancy/skew math itself, over any assignment-shaped frame
    (vec_id, centroid_id, ...) — shared by the path-reading report above
    and the oracle-gated catalog entry, so the monitor's arithmetic is
    hash-verified, not just pytest-asserted.  Same contract: skew is
    relative to uniform over the FULL ``n_centroids`` universe, centroid
    self-rows (vec_id < n_centroids) excluded."""
    per_list = (
        assignments.filter(F.col("vec_id") >= n_centroids)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    )
    total = per_list.agg(F.sum("n_vectors").alias("_total"))
    return (
        per_list.crossJoin(F.broadcast(total))
        .selectExpr(
            "CAST(centroid_id AS INT) AS centroid_id",
            "n_vectors",
            "CAST(n_vectors AS DOUBLE) / _total AS share",
            f"CAST(n_vectors AS DOUBLE) * {int(n_centroids)} / _total AS skew",
        )
        .orderBy("centroid_id")
    )


def needs_ivf_retrain(
    spark, path: str, skew_threshold: float = RETRAIN_SKEW_THRESHOLD
) -> bool:
    """The retrain trigger :func:`merge_ivf_index` documents: True when
    any list's occupancy skew exceeds the threshold — the centroids no
    longer partition the vector space evenly, so probes of hot lists
    scan far more than corpus/n_lists vectors and recall/latency both
    degrade.  The fix is the full cycle (k-means retrain + rebuild via
    :func:`write_ivf_index`), which is why this is a monitor, not an
    automatic action.  Mirrors ``textops.needs_compaction``'s shape."""
    return (
        ivf_occupancy_report(spark, path)
        .filter(F.col("skew") > float(skew_threshold))
        .limit(1)
        .count()
        > 0
    )


def needs_ivf_compaction(
    spark, path: str, max_files_per_list: int = MAX_FILES_PER_LIST
) -> bool:
    """The IVF compaction trigger: True when any list partition's file
    count exceeds the threshold (append-merge fan-out — small-file reads
    start dominating probe latency long before correctness is affected).
    The IVF twin of ``textops.needs_compaction``; fix via
    :func:`compact_ivf_index`."""
    return (
        ivf_files_per_list(spark, path)
        .filter(F.col("n_files") > int(max_files_per_list))
        .limit(1)
        .count()
        > 0
    )


def compact_ivf_index(spark, path: str) -> None:
    """Compact the append-merged IVF index back to ONE file per list
    partition — the same lifecycle leg as the text index's
    ``compact_index_store`` (build → append-merge × N → compact):
    reclaiming merge fan-out without the corpus-scan rebuild that
    retraining requires.  Rows are repartitioned BY centroid_id (each
    list lands in exactly one task ⇒ one file per directory) and written
    with a copy of the manifest (and of a split-grown centroid table) as
    the NEXT version, committed by one rename: in-flight readers keep
    scanning the version they resolved (GC keeps current + previous),
    and a failure before the commit leaves only invisible scratch.
    Results are bit-identical (pytest): compaction moves bytes, never
    assignments.  Cost is index-sized — one read + write of the lists,
    no corpus access, no re-assignment.
    """
    # single-writer lease on the store: a concurrent retrain/merge in
    # another process must wait — its commit would race this one
    with maintenance_lease(spark, path):
        clean_version_scratch(spark, path)
        data, manifest = ivf_resolved_paths(spark, path)
        tmp = version_scratch(path)
        (
            spark.read.parquet(data)
            .repartition("centroid_id")
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(f"{tmp}/data")
        )
        (
            spark.read.parquet(manifest)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{tmp}/manifest")
        )
        cents = ivf_centroids_frame(spark, path)
        if cents is not None:  # split-grown universe rides along
            cents.coalesce(1).write.mode("overwrite").parquet(
                f"{tmp}/centroids"
            )
        commit_version(spark, path, tmp)


def recommended_n_centroids(
    spark, path: str, target_per_list: int = TARGET_VECTORS_PER_LIST
) -> int:
    """The list count the index SHOULD have at its current size, per the
    measured provisioning rule (``TARGET_VECTORS_PER_LIST``): enough
    lists that average occupancy stays at the target, so probe cost per
    list is bounded as the corpus grows.  One column-pruned count of the
    index's real vectors (centroid self-rows excluded via the manifest);
    pair with :func:`needs_ivf_retrain` to decide WHEN and this to
    decide WHAT to retrain to."""
    data, manifest = ivf_resolved_paths(spark, path)
    old_k = int(spark.read.parquet(manifest).first()["n_centroids"])
    n = (
        spark.read.parquet(data)
        .filter(F.col("vec_id") >= old_k)
        .count()
    )
    return max(1, -(-n // int(target_per_list)))  # ceil div


#: retrain's auto escape hatch trips when the exact assignment would
#: score more than this many (vector × centroid) rows — n·k is the true
#: IVF training cost (docs/SCALE.md: 101× scored rows at 10× corpus with
#: corpus-tracking k); past the threshold the two-level coarse assignment
#: (O(n·√k) scored rows) takes over.  At the TARGET_VECTORS_PER_LIST
#: provisioning rule, n·k = n²/64, so this trips around n ≈ 1.8M vectors.
COARSE_ASSIGN_THRESHOLD = 50_000_000


def retrain_ivf_index(
    spark,
    path: str,
    n_centroids: int | None = None,
    assign_mode: str = "auto",
    group_probe: int = 4,
) -> int:
    """Close the maintenance loop :func:`needs_ivf_retrain` monitors:
    re-partition the index under a NEW centroid count, from the index
    alone — the lists carry the vectors themselves, so retraining is one
    index-sized read + re-assignment + write, with NO corpus rescan.
    ``n_centroids=None`` retrains to :func:`recommended_n_centroids`
    (the measured linear-scaling provisioning rule); returns the count
    actually used.  Seed-centroid contract unchanged: the new centroids
    are the index's ``vec_id < n_centroids`` rows (all present, since
    the index holds every corpus vector), so existing probes
    (:func:`ivf_topk_from_index`, the service tier) keep working with
    the new manifest value.  The result equals :func:`write_ivf_index`
    over the same vectors at the new count, row-for-row
    (pytest-pinned), and lands compacted (one file per list).

    Crash safety: the new lists and manifest land together in ONE
    version committed by one rename — the original version is never
    touched, a crash before the commit leaves only invisible scratch
    (swept by the next writer), and in-flight readers keep the version
    they resolved.

    CPU-arm escape hatch (round 9): ``assign_mode`` picks the
    assignment kernel — ``"exact"`` is the n·k argmax, ``"coarse"`` the
    two-level :func:`ivf_assign_coarse` (O(n·√k) scored rows), and
    ``"auto"`` (default) switches to coarse when n·k crosses
    ``COARSE_ASSIGN_THRESHOLD`` — the measured quadratic law
    (docs/SCALE.md: 101× scored rows at 10× corpus under the
    corpus-tracking provisioning rule) now caps itself instead of
    relying on the operator to notice.
    """
    if assign_mode not in ("auto", "exact", "coarse"):
        raise ValueError(
            f"retrain_ivf_index: assign_mode must be auto|exact|coarse, "
            f"got {assign_mode!r}"
        )
    with maintenance_lease(spark, path):
        return _retrain_ivf_locked(
            spark, path, n_centroids, assign_mode, group_probe
        )


def _retrain_ivf_locked(spark, path, n_centroids, assign_mode, group_probe):
    data = ivf_data_path(spark, path)
    if n_centroids is None:
        n_centroids = recommended_n_centroids(spark, path)
    if int(n_centroids) < 1:
        # ivf_assign with an empty centroid set yields an EMPTY assignment,
        # and the commit below would then replace the live index with an
        # empty version — validate before any IO
        raise ValueError(
            f"retrain_ivf_index: n_centroids must be >= 1, got {n_centroids}"
        )
    vectors = spark.read.parquet(data).select("vec_id", "label", "embedding")
    if assign_mode == "auto":
        # the n·k CPU law (docs/SCALE.md): exact is fine until the scored-
        # row volume crosses the threshold, then the O(n·√k) coarse path
        # takes over — one column-pruned count decides (metadata-cheap
        # next to the index-sized rewrite this function performs anyway)
        n = vectors.count()
        assign_mode = (
            "coarse" if n * int(n_centroids) > COARSE_ASSIGN_THRESHOLD else "exact"
        )
    assigner = ivf_assign if assign_mode == "exact" else (
        lambda v, k: ivf_assign_coarse(v, k, group_probe=group_probe)
    )
    assign = assigner(vectors, int(n_centroids)).select("vec_id", "centroid_id")
    relabeled = vectors.join(assign, "vec_id").repartition("centroid_id")
    mrow = spark.createDataFrame([(int(n_centroids),)], "n_centroids int")
    clean_version_scratch(spark, path)
    tmp = version_scratch(path)
    relabeled.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{tmp}/data"
    )
    mrow.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/manifest")
    commit_version(spark, path, tmp)
    return int(n_centroids)
