"""Measured scale experiments — evidence behind docs/SCALE.md's claims.

Runs A/B config experiments at $SPARK_GRAFT_SF_DIR (default sf0.1) and
prints one JSON line.  Each experiment toggles ONE runtime knob around
the same query so the delta isolates that knob's effect — and reports
BOTH wall seconds and the scale-relevant physical metrics (bytes/records
shuffled, tasks launched) read from Spark's status REST API:

* broadcast_joins — dim-side broadcasts (hint-free q3/q5 SQL) vs forced
  shuffle joins (`autoBroadcastJoinThreshold=-1`).  At sf0.1 both are
  sub-second, so the deciding metric is shuffle VOLUME: it grows with
  the fact table (100 TB → the whole join input crosses the network)
  while the broadcast plan's exchange carries only the aggregate keys.
* aqe_coalesce — AQE on/off on an over-partitioned agg (512 shuffle
  partitions).  The metric is TASKS launched: AQE collapses hundreds of
  near-empty reducers; at 10k-partition cluster scale that is the
  difference between scheduler overhead dominating or not.
* shuffle_partitions — 8/32/128 static sweep (AQE off) for context.

Every session is warmed up on the experiment queries before timing
(min-of-3), so page-cache and codegen warmth don't bias the A/B order.

Usage: PYTHONPATH=/root/repo python tools/scale_experiments.py
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from admira_etl_project_prueba_spark.session import apply_runtime_confs, get_spark
from admira_etl_project_prueba_spark.sources.tables import register_tables

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEAT = 3

# q3/q5-shaped joins through the SQL front door (no broadcast() hints, so
# the threshold knob alone decides the join strategy)
Q3_SQL = """
SELECT l_orderkey, SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS rev
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1995-03-15'
  AND l_shipdate > DATE '1995-03-15'
GROUP BY l_orderkey
"""

Q5_SQL = """
SELECT n_name, SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS rev
FROM region JOIN nation ON n_regionkey = r_regionkey
JOIN supplier ON s_nationkey = n_nationkey
JOIN customer ON c_nationkey = s_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey AND l_suppkey = s_suppkey
WHERE r_name = 'ASIA' AND o_orderdate >= DATE '1994-01-01'
  AND o_orderdate < DATE '1995-01-01'
GROUP BY n_name
"""

AGG_SQL = """
SELECT l_orderkey,
       SUM(CAST(l_quantity AS DECIMAL(25,6))) AS sum_qty,
       COUNT(*) AS n
FROM lineitem GROUP BY l_orderkey
"""


def _stages(spark) -> list[dict]:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages") as r:
        return json.load(r)


def _totals(spark) -> dict:
    t = {
        "shuffle_write_bytes": 0,
        "shuffle_write_records": 0,
        "tasks": 0,
        "input_bytes": 0,
        "input_records": 0,
    }
    for s in _stages(spark):
        t["shuffle_write_bytes"] += s.get("shuffleWriteBytes", 0)
        t["shuffle_write_records"] += s.get("shuffleWriteRecords", 0)
        t["tasks"] += s.get("numCompleteTasks", 0)
        t["input_bytes"] += s.get("inputBytes", 0)
        t["input_records"] += s.get("inputRecords", 0)
    return t


def run_measured(spark, sql_or_fn) -> dict:
    """One metered execution (physical metrics) + min-of-N wall time.

    Accepts a SQL string or a zero-arg callable returning a DataFrame to
    collect (for API-level operators that have no SQL front door)."""
    run = (
        (lambda: spark.sql(sql_or_fn).collect())
        if isinstance(sql_or_fn, str)
        else (lambda: sql_or_fn().collect())
    )
    before = _totals(spark)
    run()
    time.sleep(0.5)  # let the status store catch up
    after = _totals(spark)
    best = float("inf")
    for _ in range(REPEAT):
        t0 = time.perf_counter()
        run()
        best = min(best, time.perf_counter() - t0)
    return {
        "sec": round(best, 4),
        "shuffle_mb": round(
            (after["shuffle_write_bytes"] - before["shuffle_write_bytes"]) / 1e6, 3
        ),
        "shuffle_records": after["shuffle_write_records"]
        - before["shuffle_write_records"],
        "tasks": after["tasks"] - before["tasks"],
        "input_mb": round(
            (after["input_bytes"] - before["input_bytes"]) / 1e6, 3
        ),
        "input_records": after["input_records"] - before["input_records"],
    }


def plan_has(spark, sql: str, fragment: str) -> bool:
    return fragment in spark.sql(sql)._jdf.queryExecution().executedPlan().toString()


def fresh_session(**conf):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active:
        active.stop()
        time.sleep(1)
    extra = {k.replace("__", "."): str(v) for k, v in conf.items()}
    spark = get_spark(app_name="scale-exp", extra_conf=extra)
    apply_runtime_confs(spark)
    spark.sparkContext.setLogLevel("ERROR")
    register_tables(spark, SF_DIR)
    # warm up: page cache + codegen for every experiment query
    for sql in (Q3_SQL, Q5_SQL, AGG_SQL):
        spark.sql(sql).collect()
    return spark


def _quality_sqls() -> tuple[str, str]:
    """(inlined, staged) formulations of the same quality+language scoring
    — SCALE.md 'expression-plan hygiene' rule 3's A/B.  The inlined form
    re-tokenizes per signal and re-evaluates every marker filter per CASE
    arm; the staged form projects tokens and the hits array once."""
    from admira_etl_project_prueba_spark.operators import textops as tx

    toks = tx.TOKENS
    stops = tx._stop_list_sql()
    counts = {
        l: "size(filter(%s, x -> array_contains(array(%s), x)))"
        % (toks, ", ".join(f"'{w}'" for w in tx.LANG_MARKERS[l]))
        for l in sorted(tx.LANG_MARKERS)
    }
    best = "greatest(" + ", ".join(counts.values()) + ")"
    pick = (
        "CASE "
        + " ".join(f"WHEN {c} = {best} THEN '{l}'" for l, c in counts.items())
        + " END"
    )
    inlined = (
        f"SELECT doc_id, size({toks}) AS n_tokens, "
        f"CAST(aggregate({toks}, 0L, (a, x) -> a + length(x)) AS DOUBLE) / size({toks}) AS mtl, "
        f"CAST(size(array_distinct({toks})) AS DOUBLE) / size({toks}) AS ttr, "
        f"CAST(size(filter({toks}, x -> array_contains({stops}, x))) AS DOUBLE) / size({toks}) AS swr, "
        f"CASE WHEN {best} = 0 THEN 'und' ELSE {pick} END AS lang "
        "FROM documents"
    )
    hits_expr, langs = tx._lang_hits_expr()
    pick_hits = " ".join(
        f"WHEN element_at(hits, {i + 1}) = best THEN '{l}'"
        for i, l in enumerate(langs)
    )
    staged = f"""SELECT doc_id, n_tokens, mtl, ttr, swr,
       CASE WHEN best = 0 THEN 'und' ELSE CASE {pick_hits} END END AS lang
FROM (
  SELECT *, array_max(hits) AS best FROM (
    SELECT doc_id, size(t) AS n_tokens,
           CAST(aggregate(t, 0L, (a, x) -> a + length(x)) AS DOUBLE) / size(t) AS mtl,
           CAST(size(array_distinct(t)) AS DOUBLE) / size(t) AS ttr,
           CAST(size(filter(t, x -> array_contains({stops}, x))) AS DOUBLE) / size(t) AS swr,
           {hits_expr} AS hits
    FROM (SELECT doc_id, {toks} AS t FROM documents)
  )
)"""
    return inlined, staged


def _hof_hash_sqls() -> tuple[str, str]:
    """(lambda_hashed, row_hashed) formulations of shingle-hash explode —
    SCALE.md 'expression-plan hygiene' rule 5's A/B.  Identical output
    (count + checksum over exploded 60-bit shingle hashes); the lambda
    form md5-hashes INSIDE transform() and explodes the result, the row
    form explodes raw shingle strings and hashes per exploded row."""
    from admira_etl_project_prueba_spark.operators.textops import (
        MERSENNE31,
        TOKENS,
        _shingle_expr,
        hex60,
    )

    k = 8
    base = f"""WITH tok AS (SELECT doc_id, {TOKENS} AS t FROM documents),
sg AS (SELECT doc_id, {_shingle_expr(k)} AS shingles FROM tok)"""
    lambda_hashed = f"""{base},
hs AS (SELECT doc_id,
       array_distinct(transform(shingles, s -> {hex60('s')} % {MERSENNE31})) AS sh
       FROM sg)
SELECT COUNT(*) AS n, SUM(h) AS checksum
FROM (SELECT doc_id, explode(sh) AS h FROM hs)"""
    row_hashed = f"""{base}
SELECT COUNT(*) AS n, SUM(h) AS checksum
FROM (SELECT doc_id, {hex60('s')} % {MERSENNE31} AS h
      FROM (SELECT doc_id, explode(array_distinct(shingles)) AS s FROM sg))"""
    return lambda_hashed, row_hashed


def _ivf_200k_experiment(spark) -> dict:
    """IVF index at a scale where it wins (VERDICT r3 item 5).

    The sf0.1 embeddings table (2k vectors) is small enough that index
    overhead dominates, so the catalog excludes the indexed probe from
    bench.  This experiment builds a 200k×32 synthetic corpus (16 parquet
    files, deterministic JVM-side generator — no driver-side data), writes
    the inverted-list index once (the once-per-ingest batch job), then
    A/Bs query-time work:

      * inline  — ivf_topk: corpus-wide centroid assignment per query
      * indexed — ivf_topk_from_index: candidates from the n_probe/64
        pruned index partitions; corpus touched only by pushdown
        point-reads

    The deciding metric is INPUT I/O per query: inline rescans all corpus
    bytes, indexed reads ~n_probe/n_centroids of them — the ratio that
    holds at any corpus size."""
    import shutil
    import tempfile

    from admira_etl_project_prueba_spark.operators import similarity as sim

    root = tempfile.mkdtemp(prefix="ivf200k_")
    corpus_path = os.path.join(root, "embeddings_200k")
    index_path = os.path.join(root, "ivf_index_200k")
    n, dim, n_centroids, n_probe = 200_000, 32, 64, 4
    try:
        # range-cluster the corpus on vec_id so the point-reads (query
        # vector, seed centroids) can skip files on parquet min/max stats —
        # the storage layout a 100 TB corpus would use for id lookups
        spark.sql(
            f"""SELECT id AS vec_id, CAST(id % 10 AS INT) AS label,
                   transform(sequence(1, {dim}),
                             j -> CAST(sin(id * j) AS FLOAT)) AS embedding
            FROM range({n})"""
        ).repartitionByRange(16, "vec_id").sortWithinPartitions(
            "vec_id"
        ).write.mode("overwrite").parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)

        t0 = time.perf_counter()
        sim.write_ivf_index(corpus, index_path, n_centroids=n_centroids)
        build_sec = round(time.perf_counter() - t0, 2)

        inline = run_measured(
            spark,
            lambda: sim.ivf_topk(
                corpus, query_vec_id=777, k=10,
                n_centroids=n_centroids, n_probe=n_probe,
            ),
        )
        indexed = run_measured(
            spark,
            lambda: sim.ivf_topk_from_index(
                spark, corpus, index_path, query_vec_id=777, k=10,
                n_centroids=n_centroids, n_probe=n_probe,
            ),
        )
        # both paths must return the same top-k
        a = sim.ivf_topk(
            corpus, query_vec_id=777, k=10,
            n_centroids=n_centroids, n_probe=n_probe,
        ).collect()
        b = sim.ivf_topk_from_index(
            spark, corpus, index_path, query_vec_id=777, k=10,
            n_centroids=n_centroids, n_probe=n_probe,
        ).collect()
        assert [(r["vec_id"], r["cosine"]) for r in a] == [
            (r["vec_id"], r["cosine"]) for r in b
        ]
        return {
            "corpus_vectors": n,
            "index_build_sec": build_sec,
            "inline_assignment": inline,
            "indexed_probe": indexed,
            # records, not bytes: local-mode inputBytes under-reports for
            # columnar reads; inputRecords is the stable pruning signal
            "query_io_ratio_records": round(
                inline["input_records"] / max(indexed["input_records"], 1), 1
            ),
            "query_speedup": round(inline["sec"] / max(indexed["sec"], 1e-9), 1),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _text_index_100k_experiment(spark) -> dict:
    """Inverted text index at a scale where it wins (mirror of the IVF
    experiment for the retrieval path).

    Builds a 100k-doc synthetic corpus (deterministic JVM-side token
    generator), writes the partitionBy(term_bucket) postings index once,
    then A/Bs one BM25 query:

      * scan    — bm25_rank: tokenizes the whole corpus per query
      * indexed — bm25_from_index: reads only the query terms' bucket
        partitions; the corpus is never touched

    Deciding metric: INPUT RECORDS per query — the scan path re-reads
    every document at any corpus size, the indexed path reads
    ~|terms|/64 of the postings."""
    import shutil
    import tempfile

    from admira_etl_project_prueba_spark.operators import textops as tx

    root = tempfile.mkdtemp(prefix="textidx100k_")
    corpus_path = os.path.join(root, "documents_100k")
    index_path = os.path.join(root, "text_index_100k")
    n = 100_000
    # 10k-word synthetic vocabulary: each term's df is ~400 of 100k docs,
    # the Zipf-tail shape where posting pruning actually matters (a tiny
    # vocab would put every term in every doc and the index reads as much
    # as the scan)
    try:
        spark.sql(
            f"""SELECT id AS doc_id,
                   array_join(transform(sequence(1, 40),
                     j -> concat('w', CAST((id * 31 + j * 17) %% 10000 AS STRING))), ' ')
                     AS text
            FROM range({n})""".replace('%%', '%')
        ).repartition(16).write.mode("overwrite").parquet(corpus_path)
        corpus = spark.read.parquet(corpus_path)

        t0 = time.perf_counter()
        # 256 buckets: bucket granularity ~ postings/256, so a 3-term
        # query reads ~1% of the index (64 buckets would make each
        # bucket corpus-sized at only 100k docs and mask the pruning)
        tx.write_text_index(corpus, index_path, num_buckets=256)
        build_sec = round(time.perf_counter() - t0, 2)

        terms = ["w123", "w456", "w789"]
        scan = run_measured(spark, lambda: tx.bm25_rank(corpus, terms))
        indexed = run_measured(
            spark,
            lambda: tx.bm25_from_index(spark, index_path, terms, num_buckets=256),
        )
        a = [tuple(r) for r in tx.bm25_rank(corpus, terms).collect()]
        b = [tuple(r) for r in tx.bm25_from_index(
            spark, index_path, terms, num_buckets=256).collect()]
        assert a == b
        return {
            "corpus_docs": n,
            "index_build_sec": build_sec,
            "corpus_scan": scan,
            "indexed": indexed,
            "query_io_ratio_records": round(
                scan["input_records"] / max(indexed["input_records"], 1), 1
            ),
            "query_speedup": round(scan["sec"] / max(indexed["sec"], 1e-9), 1),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _growth_law_experiment(spark) -> dict:
    """10× growth rehearsal for the round-4 heavyweights (VERDICT r4 #6).

    Each operator runs on synthetic inputs at N and 10N built by the same
    JVM-side generator (identical per-row structure, no driver-side
    data), and the ratio of PHYSICAL work between the two sizes is the
    measured growth law — to be read against the theoretical exponent:

    * prefix_jaccard_pairs — corpus of 5-doc near-dup groups: the true
      pair count grows linearly in N, so candidate volume (the dominant
      shuffle) must too.  Brute force would grow 100×; the AllPairs
      bound is Σ_token df², not N².
    * triangle_counts — constant-average-degree graph (m = 8·n): wedge
      volume for degree-ordered orientation grows linearly at constant
      degree (the worst-case bound is m^1.5, reached only when degree
      grows with the graph).
    * pagerank (3 fixed iterations) — per-round (dst, contribution)
      shuffle is Θ(m): expect records to scale 1:1 with edges.
    """
    from admira_etl_project_prueba_spark.operators import graph as g
    from admira_etl_project_prueba_spark.operators import textops as tx

    def near_dup_corpus(n):
        # groups of 5 docs sharing 13 tokens, one unique token each:
        # within-group Jaccard (token-level) 13/15 — well over 0.5
        return spark.sql(
            f"""SELECT id AS doc_id,
                   concat_ws(' ',
                     concat_ws(' ', transform(sequence(1, 13),
                       j -> concat('t', CAST(CAST(id / 5 AS BIGINT) AS STRING),
                                   '_', CAST(j AS STRING)))),
                     concat('u', CAST(id AS STRING))) AS text
            FROM range({n})"""
        )

    def const_degree_edges(n_nodes, m):
        return spark.sql(
            f"""SELECT CAST(id % {n_nodes} AS BIGINT) AS u,
                   CAST((id * 2654435761) % {n_nodes} AS BIGINT) AS v
            FROM range({m})"""
        ).filter("u <> v")

    def measure(name, mk, sizes_1x_10x, note):
        res = {}
        for label, n in zip(("1x", "10x"), sizes_1x_10x):
            res[label] = run_measured(spark, lambda n=n: mk(n))
            res[label]["output_rows"] = mk(n).count()
            # drop the finished size's localCheckpoint blocks (pagerank
            # checkpoints per round) before the next one allocates — the
            # suite OOM'd on broadcast build when these accumulated
            spark.catalog.clearCache()
            spark._jvm.System.gc()
        return {
            **res,
            # shuffle-record growth can overshoot the semantic exponent
            # because map-side combine dilutes as keys-per-task grows
            # (same effect as the 16-file layout A/B); output_rows is the
            # clean semantic counter, records_ratio the physical one
            "records_ratio": round(
                res["10x"]["shuffle_records"] / max(res["1x"]["shuffle_records"], 1),
                1,
            ),
            "output_ratio": round(
                res["10x"]["output_rows"] / max(res["1x"]["output_rows"], 1), 1
            ),
            "theoretical": note,
        }

    out = {
        "prefix_jaccard_pairs": dict(
            docs_1x=10_000,
            **measure(
                "prefix",
                lambda n: tx.prefix_filter_jaccard_pairs(near_dup_corpus(n), 0.5),
                (10_000, 100_000),
                "linear (near-dup pairs grow ~N; brute force 100x)",
            ),
        ),
        "triangle_counts": dict(
            edges_1x=40_000,
            **measure(
                "triangles",
                lambda n: g.triangle_counts(const_degree_edges(n, 8 * n), "u", "v"),
                (5_000, 50_000),
                "linear at constant degree (worst case m^1.5)",
            ),
        ),
        "pagerank_3iter": dict(
            edges_1x=160_000,
            **measure(
                "pagerank",
                lambda n: g.pagerank(
                    const_degree_edges(n, 8 * n).selectExpr("u AS src", "v AS dst"),
                    iters=3,
                ),
                (20_000, 200_000),
                "linear: one O(m) contribution shuffle per round",
            ),
        ),
    }

    # -- LM scoring: corpus grows, model doesn't --------------------------
    # The reference LM is FIXED (2k docs) while the scored corpus grows
    # 10x: per-doc features reduce map-side to (doc_id, bucket, count), so
    # the only data-sized shuffle tracks the corpus linearly, and the
    # broadcast model side is pinned at exactly 8192 rows by construction
    # (the dense-frame invariant the count-store pytest also asserts).
    ref = near_dup_corpus(2_000)
    out["lm_cross_entropy"] = dict(
        docs_1x=10_000,
        ref_docs=2_000,
        model_rows=tx.lm_dists(ref).count(),
        **measure(
            "lm",
            lambda n: tx.lm_cross_entropy(near_dup_corpus(n), ref),
            (10_000, 100_000),
            "linear feature shuffle; model constant (8192-row broadcast)",
        ),
    )
    return out




def _growth_law_r5_experiment(spark) -> dict:
    """10x growth rehearsal for the round-5 heavyweights.

    * label_propagation (3 rounds) on a constant-degree graph: one
      map-side-reduced (node, neighbor-label) shuffle per round -> TH(m)
      per round, linear in edges.
    * knn_label_accuracy: the candidate volume is SUM |cluster|^2.  With
      a FIXED centroid count a 10x corpus means 10x-larger clusters and
      ~100x pairs (the hazard); growing centroids WITH the corpus caps
      cluster capacity and keeps pair volume ~linear (the documented
      operating rule: n_centroids tracks corpus size, exactly how a real
      IVF index is provisioned).  Both arms are measured.
    * source_overlap_matrix: grouped pair expansion bounded by dup-
      cluster size -> linear at constant cluster size (brute force over
      source pairs would be corpus^2).
    """
    from admira_etl_project_prueba_spark.operators import graph as g
    from admira_etl_project_prueba_spark.operators import similarity as sim
    from admira_etl_project_prueba_spark.operators import textops as tx

    def const_degree_edges(n_nodes, m):
        return spark.sql(
            f"""SELECT CAST(id % {n_nodes} AS BIGINT) AS u,
                   CAST((id * 2654435761) % {n_nodes} AS BIGINT) AS v
            FROM range({m})"""
        ).filter("u <> v")

    def spiky_embeddings(n):
        # 16-dim vectors with a +3 spike at dim (id % 10): ten natural
        # cosine clusters, labels follow the spike
        return spark.sql(
            f"""SELECT id AS vec_id, CAST(id % 10 AS INT) AS label,
                   transform(sequence(0, 15),
                     j -> CAST(sin(id * 0.37 + j) AS FLOAT)
                          + CAST(CASE WHEN j = id % 10 THEN 3.0
                                 ELSE 0.0 END AS FLOAT)) AS embedding
            FROM range({n})"""
        )

    def dup_corpus(n):
        # constant cluster size 4: every 4 ids share one normalized text,
        # sources rotate so overlap pairs spread across the matrix
        return spark.sql(
            f"""SELECT id AS doc_id,
                   concat('shared text block ',
                          CAST(CAST(id / 4 AS BIGINT) AS STRING)) AS text,
                   concat('src_', CAST(id % 8 AS STRING)) AS source
            FROM range({n})"""
        )

    def measure(mk, sizes, extra_counter=None):
        res = {}
        for label, n in zip(("1x", "10x"), sizes):
            res[label] = run_measured(spark, lambda n=n: mk(n))
            res[label]["output_rows"] = mk(n).count()
            if extra_counter is not None:
                res[label]["candidate_pairs"] = extra_counter(n)
            spark.catalog.clearCache()
            spark._jvm.System.gc()
        res["records_ratio"] = round(
            res["10x"]["shuffle_records"] / max(res["1x"]["shuffle_records"], 1), 1
        )
        if extra_counter is not None:
            res["pairs_ratio"] = round(
                res["10x"]["candidate_pairs"] / max(res["1x"]["candidate_pairs"], 1),
                1,
            )
        return res

    def knn_pairs(n, k):
        a = sim.ivf_assign(spiky_embeddings(n), n_centroids=k)
        sizes = a.groupBy("centroid_id").count().selectExpr(
            "CAST(sum(count * (count - 1)) AS BIGINT) AS p"
        )
        return sizes.collect()[0]["p"]

    out = {}
    out["label_propagation_3iter"] = dict(
        edges_1x=80_000,
        theoretical="linear: one (node, label) shuffle per round",
        **measure(
            lambda n: g.label_propagation(const_degree_edges(n, 8 * n), iters=3),
            (10_000, 100_000),
        ),
    )
    out["knn_fixed_centroids"] = dict(
        vecs_1x=2_000,
        n_centroids="32 at BOTH sizes",
        theoretical="quadratic pair volume (~100x) - the hazard arm",
        **measure(
            lambda n: sim.knn_label_accuracy(spiky_embeddings(n), n_centroids=32),
            (2_000, 20_000),
            extra_counter=lambda n: knn_pairs(n, 32),
        ),
    )
    def knn_scaled(n):
        k = max(32, n // 64)  # centroid count tracks corpus size
        return sim.knn_label_accuracy(spiky_embeddings(n), n_centroids=k)
    out["knn_scaled_centroids"] = dict(
        vecs_1x=2_000,
        n_centroids="n/64 (32 -> 312)",
        theoretical="linear pair volume - the provisioning rule",
        **measure(
            knn_scaled,
            (2_000, 20_000),
            extra_counter=lambda n: knn_pairs(n, max(32, n // 64)),
        ),
    )
    out["source_overlap_matrix"] = dict(
        docs_1x=20_000,
        theoretical="linear at constant dup-cluster size",
        **measure(
            lambda n: tx.source_overlap_matrix(dup_corpus(n)),
            (20_000, 200_000),
        ),
    )
    return out



def _growth_law_r8_experiment(spark) -> dict:
    """10x growth rehearsal for lsh_recall_report (VERDICT r7 #8) — the
    last bench heavyweight composing measured parts without its own
    end-to-end row.

    The report runs BOTH production sub-pipelines over one materialized
    shingle projection: the exact prefix-filtered Jaccard join (truth)
    and the banded MinHash candidates, combined by a 1-row x 1-row
    scalar join.  On a constant-cluster-size corpus (clusters of 4, no
    cross-cluster shingles) true pairs grow linearly (C(4,2) * N/4),
    the AllPairs prefix bound keeps the exact side's candidate volume
    linear, and banding keeps the LSH side per-bucket-bounded — so the
    WHOLE report should track the corpus ~linearly, and recall itself
    should be size-independent (the S-curve depends on similarity, not
    corpus size).
    """
    from admira_etl_project_prueba_spark.operators import textops as tx

    def near_dup_corpus(n):
        # same generator as the r7 rehearsal: clusters of 4 exact copies,
        # zero shared shingles across clusters
        return spark.sql(
            f"""SELECT id AS doc_id,
                   array_join(transform(sequence(1, 16),
                       j -> concat('w', CAST(CAST(id / 4 AS BIGINT) AS STRING),
                                   'x', CAST(j AS STRING))), ' ') AS text,
                   'en' AS lang,
                   concat('src_', CAST(id % 8 AS STRING)) AS source
            FROM range({n})"""
        )

    res = {}
    for label, n in zip(("1x", "10x"), (10_000, 100_000)):
        res[label] = run_measured(
            spark, lambda n=n: tx.lsh_recall_report(near_dup_corpus(n))
        )
        row = tx.lsh_recall_report(near_dup_corpus(n)).collect()[0]
        res[label]["n_true_pairs"] = row["n_true_pairs"]
        res[label]["n_candidates"] = row["n_candidates"]
        res[label]["recall"] = row["recall"]
        spark.catalog.clearCache()
        spark._jvm.System.gc()
    res["records_ratio"] = round(
        res["10x"]["shuffle_records"] / max(res["1x"]["shuffle_records"], 1), 1
    )
    res["true_pairs_ratio"] = round(
        res["10x"]["n_true_pairs"] / max(res["1x"]["n_true_pairs"], 1), 1
    )
    res["candidates_ratio"] = round(
        res["10x"]["n_candidates"] / max(res["1x"]["n_candidates"], 1), 1
    )
    res["theoretical"] = (
        "linear both sides (prefix-bounded truth, banded candidates); "
        "recall size-independent"
    )
    return {"lsh_recall_report": dict(docs_1x=10_000, **res)}


def _measured_once(spark, fn) -> dict:
    """Single metered execution for SIDE-EFFECTING ops (index writes,
    retrains) where repeat timing would measure a different store state:
    wall seconds + the same physical deltas as run_measured."""
    before = _totals(spark)
    t0 = time.perf_counter()
    fn()
    sec = time.perf_counter() - t0
    time.sleep(0.5)
    after = _totals(spark)
    return {
        "sec": round(sec, 4),
        "shuffle_mb": round(
            (after["shuffle_write_bytes"] - before["shuffle_write_bytes"]) / 1e6, 3
        ),
        "shuffle_records": after["shuffle_write_records"]
        - before["shuffle_write_records"],
        "tasks": after["tasks"] - before["tasks"],
    }


def _growth_law_r9_experiment(spark) -> dict:
    """10x growth rehearsal for (a) build_training_corpus — the #1 bench
    heavyweight, which composes measured parts (quality scan, LSH+CC
    clustering, split) but has no end-to-end row of its own — and (b)
    retrain_ivf_index, the round-8 maintenance op.

    (a) corpus: clusters of 4 exact copies with English stopwords
    INTERLEAVED between cluster-specific tokens, so every document
    passes the quality gate (lang_predicted=en via stopword hits,
    stopword_ratio 0.5) while every 3-token shingle still carries a
    cluster token — zero cross-cluster shingles, the same
    constant-cluster-size growth geometry as the dedup rehearsals.
    Expected: the pipeline is its stages, fused by Catalyst — one
    quality scan (linear), the LSH+CC clustering (linear at constant
    cluster size), a row-local split — so end-to-end wall and shuffle
    should track the corpus ~linearly.

    (b) retrain at CORPUS-TRACKING list count (the provisioning rule,
    ~64 vectors/list): vectors 2k→20k, lists 32→312.  Expected and
    HONESTLY quadratic in the scored-row count: assignment materializes
    n×k cosine rows (the true IVF training cost — 64k → 6.2M, ~97×),
    all CPU-local under one broadcast; the SHUFFLE stays linear in n
    (argmax partial-agg + repartition carry n rows each).  At extreme
    scale the documented escape is sampled k-means training
    (kmeans_centroids) + capped k — the rehearsal pins where that
    crossover thinking must start.
    """
    from admira_etl_project_prueba_spark.operators import pipeline as pl
    from admira_etl_project_prueba_spark.operators import similarity as sim

    def corpus(n):
        return spark.sql(
            f"""SELECT id AS doc_id,
                   array_join(flatten(transform(sequence(1, 16),
                       j -> array('the',
                                  concat('w', CAST(CAST(id / 4 AS BIGINT) AS STRING),
                                         'x', CAST(j AS STRING))))), ' ') AS text,
                   'en' AS lang,
                   concat('src_', CAST(id % 8 AS STRING)) AS source
            FROM range({n})"""
        )

    res = {}
    for label, n in zip(("1x", "10x"), (10_000, 100_000)):
        res[label] = run_measured(
            spark, lambda n=n: pl.build_training_corpus(corpus(n))
        )
        verdicts = (
            pl.build_training_corpus(corpus(n))
            .groupBy("status")
            .count()
            .collect()
        )
        res[label]["status"] = {r["status"]: r["count"] for r in verdicts}
        spark.catalog.clearCache()
        spark._jvm.System.gc()
    res["records_ratio"] = round(
        res["10x"]["shuffle_records"] / max(res["1x"]["shuffle_records"], 1), 1
    )
    res["theoretical"] = (
        "linear: quality scan + constant-cluster LSH/CC + row-local split"
    )
    out = {"build_training_corpus": dict(docs_1x=10_000, **res)}

    # -- (b) retrain at corpus-tracking k -----------------------------------
    import tempfile

    def vectors(n):
        # deterministic pseudo-random 64-dim embeddings (hash-mixed), so
        # assignment actually distributes across lists
        return spark.sql(
            f"""SELECT id AS vec_id,
                   transform(sequence(1, 64),
                       j -> CAST(((id * 2654435761 + j * 40503) % 1000)
                                 / 1000.0 AS FLOAT)) AS embedding,
                   CAST(id % 10 AS INT) AS label
            FROM range({n})"""
        )

    rt = {}
    for label, n in zip(("1x", "10x"), (2_000, 20_000)):
        path = tempfile.mkdtemp() + "/ivf"
        sim.write_ivf_index(vectors(n), path, n_centroids=16)
        k = sim.recommended_n_centroids(spark, path)
        m = _measured_once(
            spark, lambda p=path, k=k: sim.retrain_ivf_index(spark, p, k)
        )
        m["n_centroids"] = k
        m["scored_rows"] = n * k
        rt[label] = m
        spark.catalog.clearCache()
        spark._jvm.System.gc()
    rt["records_ratio"] = round(
        rt["10x"]["shuffle_records"] / max(rt["1x"]["shuffle_records"], 1), 1
    )
    rt["scored_rows_ratio"] = round(
        rt["10x"]["scored_rows"] / max(rt["1x"]["scored_rows"], 1), 1
    )
    rt["theoretical"] = (
        "shuffle linear in n; assignment CPU n*k (quadratic when k tracks "
        "the corpus) — sampled-kmeans + capped k is the extreme-scale escape"
    )
    out["retrain_ivf_index"] = dict(vectors_1x=2_000, **rt)
    return out


def _growth_law_r9b_experiment(spark) -> dict:
    """Round-9 10x growth rehearsals (VERDICT r8 #4/#6):

    (a) corpus_health_report after its round-8 rebuild (one materialized
    narrow projection feeds the four count sections; 3 corpus passes
    instead of 6).  Expected ~linear: every section is a bounded
    aggregate over either the shared checkpoint, the quality scan, or
    the shingle explode — all linear on a constant-cluster corpus.

    (b) source_reputation's SELF-SCORED path after its round-8
    checkpoint (the verdict frame feeds two consumers; without the
    checkpoint the full-text quality scan ran once per consumer).
    Expected ~linear: one quality scan + domain-count-sized aggregates.

    (c) retrain_ivf_index's CPU arm CAPPED by the round-9 coarse kernel:
    at corpus-tracking k (provisioning rule), exact assignment scores
    n·k rows (measured 101x at 10x in the r9 rehearsal); the two-level
    kernel scores n·(g + probe·k/g) = O(n·√k) — the 10x/10x growth of n
    and k should cost ~31x scored rows instead of ~100x, with wall
    following.  Scored rows are COUNTED from the kernel's own dataflow
    (_coarse_scored), not re-derived.
    """
    from admira_etl_project_prueba_spark.operators import profile as pf
    from admira_etl_project_prueba_spark.operators import similarity as sim
    from admira_etl_project_prueba_spark.operators import textops as tx

    def corpus(n):
        # quality-passing clustered corpus (same generator as the r9
        # build_training_corpus rehearsal): stopwords interleaved so the
        # quality gate keeps the docs, cluster-unique tokens so shingle
        # work stays cluster-bounded
        return spark.sql(
            f"""SELECT id AS doc_id,
                   array_join(flatten(transform(sequence(1, 16),
                       j -> array('the',
                                  concat('w', CAST(CAST(id / 4 AS BIGINT) AS STRING),
                                         'x', CAST(j AS STRING))))), ' ') AS text,
                   'en' AS lang,
                   concat('src_', CAST(id % 8 AS STRING)) AS source
            FROM range({n})"""
        )

    out = {}
    for name, fn in (
        ("corpus_health_report", lambda d: pf.corpus_health_report(d)),
        ("source_reputation", lambda d: tx.source_reputation(d)),
    ):
        res = {}
        for label, n in zip(("1x", "10x"), (10_000, 100_000)):
            res[label] = run_measured(spark, lambda n=n, fn=fn: fn(corpus(n)))
            res[label]["n_rows_out"] = fn(corpus(n)).count()
            spark.catalog.clearCache()
            spark._jvm.System.gc()
        res["records_ratio"] = round(
            res["10x"]["shuffle_records"] / max(res["1x"]["shuffle_records"], 1), 1
        )
        res["wall_ratio"] = round(res["10x"]["sec"] / max(res["1x"]["sec"], 1e-9), 1)
        res["theoretical"] = "linear (bounded aggregates over linear scans)"
        out[name] = dict(docs_1x=10_000, **res)

    # -- (c) retrain CPU arm: exact vs coarse at corpus-tracking k ----------
    import tempfile

    def vectors(n):
        return spark.sql(
            f"""SELECT id AS vec_id,
                   transform(sequence(1, 64),
                       j -> CAST(((id * 2654435761 + j * 40503) % 1000)
                                 / 1000.0 AS FLOAT)) AS embedding,
                   CAST(id % 10 AS INT) AS label
            FROM range({n})"""
        )

    rt = {}
    for label, n in zip(("1x", "10x"), (2_000, 20_000)):
        arms = {}
        for mode in ("exact", "coarse"):
            path = tempfile.mkdtemp() + "/ivf"
            sim.write_ivf_index(vectors(n), path, n_centroids=16)
            k = sim.recommended_n_centroids(spark, path)
            m = _measured_once(
                spark,
                lambda p=path, k=k, mode=mode: sim.retrain_ivf_index(
                    spark, p, k, assign_mode=mode
                ),
            )
            m["n_centroids"] = k
            if mode == "exact":
                m["scored_rows"] = n * k
            else:
                g = int(k**0.5)
                g += int(g * g < k)
                m["scored_rows"] = n * g + sim._coarse_scored(
                    vectors(n), k, g, 4
                ).count()
            arms[mode] = m
            spark.catalog.clearCache()
            spark._jvm.System.gc()
        rt[label] = arms
    for mode in ("exact", "coarse"):
        rt[f"{mode}_scored_ratio"] = round(
            rt["10x"][mode]["scored_rows"] / max(rt["1x"][mode]["scored_rows"], 1),
            1,
        )
        rt[f"{mode}_wall_ratio"] = round(
            rt["10x"][mode]["sec"] / max(rt["1x"][mode]["sec"], 1e-9), 1
        )
    rt["coarse_vs_exact_scored_10x"] = round(
        rt["10x"]["exact"]["scored_rows"] / max(rt["10x"]["coarse"]["scored_rows"], 1),
        1,
    )
    rt["theoretical"] = (
        "exact: n*k (quadratic when k tracks the corpus, ~100x at 10x/10x); "
        "coarse: n*(g + probe*k/g) = O(n*sqrt(k)), ~31x at 10x/10x"
    )
    out["retrain_assign_coarse"] = dict(vectors_1x=2_000, group_probe=4, **rt)
    return out


def _growth_law_containment_experiment(spark) -> dict:
    """10x growth rehearsal for containment_pairs after its round-8
    rebuild (codegen postings + one checkpoint).  On a constant-cluster
    corpus (clusters of 4 exact copies, zero cross-cluster shingles)
    directed containment pairs grow linearly (4·3·N/4), and the
    max_shingle_df cap bounds the self-join fan-out by sum(df²) ≤
    max_df · postings — so both the OUTPUT and the physical work should
    track the corpus ~linearly, never corpus²."""
    from admira_etl_project_prueba_spark.operators import textops as tx

    def corpus(n):
        return spark.sql(
            f"""SELECT id AS doc_id,
                   array_join(transform(sequence(1, 16),
                       j -> concat('w', CAST(CAST(id / 4 AS BIGINT) AS STRING),
                                   'x', CAST(j AS STRING))), ' ') AS text,
                   'en' AS lang,
                   concat('src_', CAST(id % 8 AS STRING)) AS source
            FROM range({n})"""
        )

    res = {}
    for label, n in zip(("1x", "10x"), (10_000, 100_000)):
        res[label] = run_measured(
            spark, lambda n=n: tx.containment_pairs(corpus(n))
        )
        res[label]["n_pairs"] = tx.containment_pairs(corpus(n)).count()
        spark.catalog.clearCache()
        spark._jvm.System.gc()
    res["pairs_ratio"] = round(
        res["10x"]["n_pairs"] / max(res["1x"]["n_pairs"], 1), 1
    )
    res["records_ratio"] = round(
        res["10x"]["shuffle_records"] / max(res["1x"]["shuffle_records"], 1), 1
    )
    res["theoretical"] = (
        "linear: pairs C(4,2)*2 per cluster; self-join fan-out df-capped"
    )
    return {"containment_pairs": dict(docs_1x=10_000, **res)}


def _growth_law_r7_experiment(spark) -> dict:
    """10x growth rehearsal for the round-7 heavyweights (VERDICT r6 #8).

    * leakage_safe_split: claimed ZERO extra shuffle over the bare
      LSH+CC clustering it reuses (the split is row-local hash
      arithmetic on the component id).  Measured two ways: the split's
      shuffle records vs the bare clustering's at the same size
      (ratio ~= 1.0), and the 10x corpus growth law of the whole op.
    * basket_part_lift: the pair expansion is sum_orders C(basket, 2) —
      linear in ORDERS at constant basket size, quadratic in BASKET
      SIZE.  Both arms measured: 10x orders at basket=6 (linear), and
      4x basket at fixed orders (C(24,2)/C(6,2) = 18.4x pair hazard).
    * supplier_lead_time: per-supplier exact-percentile window over
      3-int rows — linear in lines at a fixed supplier population (the
      documented operating range; the histogram store is the trade once
      lines-per-supplier outgrows a window partition).
    """
    from admira_etl_project_prueba_spark.operators import analytics as an
    from admira_etl_project_prueba_spark.operators import graph as g
    from admira_etl_project_prueba_spark.operators import textops as tx

    def near_dup_corpus(n):
        # clusters of 4 exact copies over a 16-token text whose EVERY
        # token carries the cluster id: docs in different clusters share
        # ZERO shingles (a shared filler prefix would make the whole
        # corpus one near-dup family and LSH would correctly explode
        # toward all-pairs — measured the hard way), so candidate pairs
        # stay C(4,2)-bounded per cluster
        return spark.sql(
            f"""SELECT id AS doc_id,
                   array_join(transform(sequence(1, 16),
                       j -> concat('w', CAST(CAST(id / 4 AS BIGINT) AS STRING),
                                   'x', CAST(j AS STRING))), ' ') AS text,
                   'en' AS lang,
                   concat('src_', CAST(id % 8 AS STRING)) AS source
            FROM range({n})"""
        )

    def basket_lineitem(n_orders, basket):
        return spark.sql(
            f"""SELECT CAST(id DIV {basket} AS BIGINT) AS l_orderkey,
                   CAST(id % {5 * basket} + 10 * (id DIV {basket} % 7)
                        AS BIGINT) AS l_partkey
            FROM range({n_orders * basket})"""
        )

    def lead_time_tables(n_lines):
        li = spark.sql(
            f"""SELECT CAST(id % {n_lines // 4} AS BIGINT) AS l_orderkey,
                   CAST(id % 200 AS BIGINT) AS l_suppkey,
                   CAST(id AS INT) AS l_linenumber,
                   date_add(DATE'1995-01-01',
                            CAST((id * 37) % 900 AS INT)) AS l_shipdate
            FROM range({n_lines})"""
        )
        orders = spark.sql(
            f"""SELECT CAST(id AS BIGINT) AS o_orderkey,
                   date_add(DATE'1995-01-01',
                            CAST((id * 17) % 800 AS INT)) AS o_orderdate
            FROM range({n_lines // 4})"""
        )
        return li, orders

    def measure(mk, sizes):
        res = {}
        for label, n in zip(("1x", "10x"), sizes):
            res[label] = run_measured(spark, lambda n=n: mk(n))
            res[label]["output_rows"] = mk(n).count()
            spark.catalog.clearCache()
            spark._jvm.System.gc()
        res["records_ratio"] = round(
            res["10x"]["shuffle_records"] / max(res["1x"]["shuffle_records"], 1), 1
        )
        return res

    out = {}
    out["leakage_safe_split"] = dict(
        docs_1x=10_000,
        theoretical="linear; split adds ~0 shuffle over bare clustering",
        **measure(lambda n: tx.leakage_safe_split(near_dup_corpus(n)),
                  (10_000, 100_000)),
    )
    bare = run_measured(
        spark,
        lambda: g.dedup_clusters(
            near_dup_corpus(100_000),
            tx.lsh_candidate_pairs(near_dup_corpus(100_000)),
        ),
    )
    out["leakage_safe_split"]["bare_clustering_10x"] = bare
    out["leakage_safe_split"]["split_vs_clustering_records_ratio"] = round(
        out["leakage_safe_split"]["10x"]["shuffle_records"]
        / max(bare["shuffle_records"], 1),
        2,
    )
    out["basket_lift_orders_10x"] = dict(
        orders_1x=5_000,
        basket="6 at BOTH sizes",
        theoretical="linear in orders at constant basket size",
        **measure(
            lambda n: an.basket_part_lift(basket_lineitem(n, 6), min_support=3),
            (5_000, 50_000),
        ),
    )
    out["basket_lift_basket_4x"] = dict(
        orders="5,000 at BOTH sizes",
        basket_1x=6,
        theoretical="C(24,2)/C(6,2) = 18.4x pairs from 4x basket — the hazard",
        **measure(
            lambda b: an.basket_part_lift(basket_lineitem(5_000, b), min_support=3),
            (6, 24),
        ),
    )
    out["supplier_lead_time"] = dict(
        lines_1x=20_000,
        suppliers="200 at BOTH sizes",
        theoretical="linear: two shuffles of 3-int rows per line",
        **measure(
            lambda n: an.supplier_lead_time(*lead_time_tables(n)),
            (20_000, 200_000),
        ),
    )
    return out


def _index_merge_experiment(spark) -> dict:
    """Incremental-index claim, measured: merging a FIXED 2k-doc batch
    into a small (10k) vs a 10x (100k) existing BM25 index should cost
    the same — merge reads only the new batch and a 1-row stats file,
    never the standing postings.  The rebuild-over-union alternative is
    the control arm that DOES grow with history."""
    import shutil
    import tempfile
    import time as _t

    from admira_etl_project_prueba_spark.operators import textops as tx

    def corpus(n, base=0):
        return spark.sql(
            f"""SELECT id + {base} AS doc_id,
                   concat_ws(' ', transform(sequence(1, 20),
                     j -> concat('w', CAST((id * 7 + j * 13) % 5000 AS STRING))))
                     AS text
            FROM range({n})"""
        )

    # warm the JVM/codegen on a throwaway index so the first measured arm
    # doesn't absorb session warmup (it made rebuild@10x read FASTER)
    import shutil as _sh
    warm = tempfile.mkdtemp(prefix="idxwarm_")
    tx.write_text_index(corpus(2_000), warm)
    _sh.rmtree(warm, ignore_errors=True)

    out = {}
    for label, n_hist in (("hist_10k", 10_000), ("hist_100k", 100_000)):
        d = tempfile.mkdtemp(prefix="idxmerge_")
        try:
            # materialize history + batch as parquet so "input records"
            # measures real source reads on both arms
            hist_pq, batch_pq = d + "_hist.pq", d + "_batch.pq"
            corpus(n_hist).write.mode("overwrite").parquet(hist_pq)
            corpus(2_000, base=10_000_000).write.mode("overwrite").parquet(batch_pq)
            tx.write_text_index(spark.read.parquet(hist_pq), d)

            def metered(fn):
                before = _totals(spark)
                t0 = _t.perf_counter()
                fn()
                sec = _t.perf_counter() - t0
                _t.sleep(0.5)
                after = _totals(spark)
                return {
                    "sec": round(sec, 2),
                    "input_records": after["input_records"]
                    - before["input_records"],
                }

            out[label] = {
                "merge": metered(
                    lambda: tx.merge_text_index(
                        spark, d, spark.read.parquet(batch_pq)
                    )
                ),
                "rebuild": metered(
                    lambda: tx.write_text_index(
                        spark.read.parquet(hist_pq).union(
                            spark.read.parquet(batch_pq)
                        ),
                        d + "_rebuild",
                    )
                ),
            }
            shutil.rmtree(d + "_rebuild", ignore_errors=True)
            shutil.rmtree(hist_pq, ignore_errors=True)
            shutil.rmtree(batch_pq, ignore_errors=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    out["merge_input_ratio_10x_history"] = round(
        out["hist_100k"]["merge"]["input_records"]
        / max(out["hist_10k"]["merge"]["input_records"], 1), 2
    )
    out["rebuild_input_ratio_10x_history"] = round(
        out["hist_100k"]["rebuild"]["input_records"]
        / max(out["hist_10k"]["rebuild"]["input_records"], 1), 2
    )
    return out


def _row_group_experiment(spark) -> dict:
    """Multi-row-group scan fan-out (VERDICT r3 item 7).

    Each testdata parquet is a SINGLE file/row group, and Spark cannot
    split a scan below row-group granularity — so scan-dominated bench
    queries run as one task and time single-core throughput.  This A/B
    rewrites sf0.1 lineitem as 16 files and reruns the same aggregation,
    showing the scan stage fans out (tasks ≈ files) with the same result —
    the layout, not the plan, was the serialization."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="rowgroups_")
    multi_path = os.path.join(root, "lineitem_16")
    try:
        spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")) \
            .repartition(16).write.mode("overwrite").parquet(multi_path)
        spark.read.parquet(multi_path).createOrReplaceTempView("lineitem_16")
        single_sql = AGG_SQL
        multi_sql = AGG_SQL.replace("FROM lineitem", "FROM lineitem_16")
        spark.sql(multi_sql).collect()  # warm the rewritten layout
        single = run_measured(spark, single_sql)
        multi = run_measured(spark, multi_sql)
        r1 = spark.sql(single_sql).count()
        r2 = spark.sql(multi_sql).count()
        assert r1 == r2
        return {
            "single_file": single,
            "sixteen_files": multi,
            "scan_task_ratio": round(multi["tasks"] / max(single["tasks"], 1), 1),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main():
    results = {}

    # -- broadcast vs shuffle join -----------------------------------------
    spark = fresh_session()
    assert plan_has(spark, Q3_SQL, "BroadcastHashJoin")
    bcast = {"q3": run_measured(spark, Q3_SQL), "q5": run_measured(spark, Q5_SQL)}
    spark = fresh_session(
        spark__sql__autoBroadcastJoinThreshold="-1",
        spark__sql__adaptive__autoBroadcastJoinThreshold="-1",
    )
    assert not plan_has(spark, Q3_SQL, "BroadcastHashJoin")
    shuf = {"q3": run_measured(spark, Q3_SQL), "q5": run_measured(spark, Q5_SQL)}
    results["broadcast_joins"] = {
        "broadcast": bcast,
        "all_shuffle": shuf,
        "shuffle_volume_ratio": {
            q: (
                round(shuf[q]["shuffle_mb"] / bcast[q]["shuffle_mb"], 1)
                if bcast[q]["shuffle_mb"] > 0.001
                else "inf"
            )
            for q in bcast
        },
    }

    # -- AQE partition coalescing (runtime confs, one session) -------------
    spark = fresh_session()
    spark.conf.set("spark.sql.shuffle.partitions", "512")
    spark.sql(AGG_SQL).collect()  # warm at this setting
    aqe_on = run_measured(spark, AGG_SQL)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sql(AGG_SQL).collect()
    aqe_off = run_measured(spark, AGG_SQL)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    results["aqe_coalesce_512_parts"] = {
        "aqe_on": aqe_on,
        "aqe_off": aqe_off,
        "task_ratio": round(aqe_off["tasks"] / max(aqe_on["tasks"], 1), 1),
    }

    # -- shuffle partition sizing (runtime confs, one session) -------------
    sweep = {}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    for n in (8, 32, 128):
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        spark.sql(Q3_SQL).collect()  # re-warm at this setting
        sweep[str(n)] = run_measured(spark, Q3_SQL)
    results["shuffle_partitions_q3_no_aqe"] = sweep

    # -- staged vs inlined tokenizer projection (expression-plan hygiene) --
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    inlined_sql, staged_sql = _quality_sqls()
    spark.sql(staged_sql).collect()  # warm page cache on documents
    results["staged_vs_inlined_tokenizer"] = {
        "staged": run_measured(spark, staged_sql),
        "inlined": run_measured(spark, inlined_sql),
    }

    # -- md5 inside HOF lambda vs per-row after explode (hygiene rule 5) ---
    lambda_sql, row_sql = _hof_hash_sqls()
    spark.sql(row_sql).collect()  # warm
    row_res = run_measured(spark, row_sql)
    lambda_res = run_measured(spark, lambda_sql)
    assert spark.sql(row_sql).collect() == spark.sql(lambda_sql).collect()
    results["hof_lambda_vs_row_hashing"] = {
        "row_hashed": row_res,
        "lambda_hashed": lambda_res,
        "speedup": round(lambda_res["sec"] / max(row_res["sec"], 1e-9), 1),
    }

    # -- explode vs explode_outer over an interpreted-HOF array (rule 7) ---
    # InferFiltersFromGenerate adds size(input)>0 && isnotnull(input) for a
    # NON-outer generate and pushdown re-inlines the whole tokenize->
    # shingle->md5 expression into the scan-side filter — two extra
    # interpreted evaluations per document.  Outer generates are exempt.
    def _gen_fns():
        from pyspark.sql import functions as _F
        from admira_etl_project_prueba_spark.operators.textops import (
            shingle_hashes,
        )

        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        sh = shingle_hashes(docs, 3).repartition("doc_id")

        def inner():
            return sh.select(
                "doc_id", _F.size("sh").alias("sz"), _F.explode("sh").alias("h")
            )

        def outer():
            return sh.select(
                "doc_id",
                _F.size("sh").alias("sz"),
                _F.explode_outer("sh").alias("h"),
            ).filter(_F.col("h").isNotNull())

        return inner, outer

    inner_fn, outer_fn = _gen_fns()
    outer_fn().collect()  # warm
    outer_res = run_measured(spark, outer_fn)
    inner_res = run_measured(spark, inner_fn)
    assert inner_fn().count() == outer_fn().count()
    results["generate_inferred_filter"] = {
        "explode_outer": outer_res,
        "explode_inner": inner_res,
        "speedup": round(inner_res["sec"] / max(outer_res["sec"], 1e-9), 1),
    }

    # -- HLL registers vs exact COUNT(DISTINCT): shuffle is sketch-sized ---
    # Exact per-day distinct users must shuffle every distinct (day, user)
    # pair — shuffle records grow with user cardinality, i.e. with the
    # data.  The HLL path max-merges map-side, so the exchange carries at
    # most groups x m register rows regardless of how many users exist:
    # the 100 TB COUNT(DISTINCT) rollup at fixed network cost (4.6% rel
    # error at m=512), and the registers are a reusable stored artifact.
    def _hll_fns():
        from pyspark.sql import functions as _F

        from admira_etl_project_prueba_spark.operators.sketches import (
            hll_distinct,
        )
        from admira_etl_project_prueba_spark.sources.tables import load_events

        ev = load_events(spark, SF_DIR).withColumn(
            "day", _F.date_format("ts", "yyyy-MM-dd")
        )

        def exact():
            return ev.groupBy("day").agg(
                _F.countDistinct("user_id").alias("n_users")
            )

        def sketch():
            return hll_distinct(ev, "user_id", ["day"]).select(
                "day", "est_distinct"
            )

        return exact, sketch

    exact_fn, sketch_fn = _hll_fns()
    exact_fn().collect()  # warm
    exact_res = run_measured(spark, exact_fn)
    sketch_res = run_measured(spark, sketch_fn)
    results["hll_vs_exact_distinct_by_day"] = {
        "exact_count_distinct": exact_res,
        "hll_sketch": sketch_res,
        "shuffle_record_ratio": round(
            exact_res["shuffle_records"] / max(sketch_res["shuffle_records"], 1), 1
        ),
    }

    # -- IVF indexed probe at 200k vectors (index wins on query-time I/O) --
    results["ivf_index_200k"] = _ivf_200k_experiment(spark)

    # -- inverted text index at 100k docs (index wins on query-time I/O) ---
    results["text_index_100k"] = _text_index_100k_experiment(spark)

    # -- single- vs 16-file parquet layout: scan fan-out -------------------
    results["row_group_fanout_lineitem"] = _row_group_experiment(spark)

    # -- 10x growth laws for the similarity/graph heavyweights -------------
    # own session: the 10x inputs need the full heap, not what's left
    # after the index experiments' cached blocks
    spark = fresh_session()
    results["growth_laws_10x"] = _growth_law_experiment(spark)

    # -- AQE skew-join split: the straggler killer ------------------------
    # 8M-row join where ONE key owns half the rows.  Without the split the
    # stage is a single hot task everyone waits on ((7+1)/8 in the UI);
    # with it, OptimizeSkewedJoin shards the hot partition at runtime
    # (plan shows skew=true).  At 100 TB this is the difference between a
    # join bounded by the hottest key and one bounded by the cluster.
    skew = fresh_session(
        spark__sql__autoBroadcastJoinThreshold="-1",
        spark__sql__adaptive__autoBroadcastJoinThreshold="-1",
    )
    skew.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m"
    )
    skew.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512k")

    def _skew_q():
        left = skew.range(8_000_000).selectExpr(
            "CASE WHEN id % 2 = 0 THEN 0 ELSE id % 10000 END AS k", "id AS v"
        )
        right = skew.range(10_000).selectExpr("id AS k", "id * 2 AS w")
        return left.join(right, "k").selectExpr("sum(v + w) AS s")

    probe = _skew_q()
    probe.collect()  # warm; also materializes AQE's FINAL plan on probe
    plan_with_split = probe._jdf.queryExecution().executedPlan().toString()
    saved = run_measured(skew, _skew_q)
    skew.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    _skew_q().collect()
    straggler = run_measured(skew, _skew_q)
    skew.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    results["aqe_skew_join_split"] = {
        "skew_split_on": saved,
        "skew_split_off": straggler,
        "plan_marks_skew": "skew=true" in plan_with_split,
        "speedup": round(straggler["sec"] / max(saved["sec"], 1e-9), 1),
    }


    print(json.dumps({"sf_dir": SF_DIR, "experiments": results}))


def _growth_law_r10_split_experiment(spark) -> dict:
    """Round-10 rehearsal (VERDICT r9 #6): incremental list split vs full
    retrain at 1x/10x (2k→20k vectors, store built at k=16 so every list
    is over the 64-vector capacity — the worst case FOR split, since all
    lists split).  The claim under test: split's assignment bill is
    deficit-sized (Σ_flagged n_c·s_c scored rows — each member scores its
    parent + that list's seeds only) vs full retrain's n·k_rec, so the
    CPU arm shrinks by ~k_rec/s even when every list is hot; localized
    drift widens the gap further (healthy lists cost nothing)."""
    import tempfile

    from admira_etl_project_prueba_spark.operators import similarity as sim
    from pyspark.sql import functions as F

    def vectors(n):
        return spark.sql(
            f"""SELECT id AS vec_id,
                   transform(sequence(1, 64),
                       j -> CAST(((id * 2654435761 + j * 40503) % 1000)
                                 / 1000.0 AS FLOAT)) AS embedding,
                   CAST(id % 10 AS INT) AS label
            FROM range({n})"""
        )

    out = {}
    for label, n in zip(("1x", "10x"), (2_000, 20_000)):
        split_path = tempfile.mkdtemp() + "/ivf_split"
        full_path = tempfile.mkdtemp() + "/ivf_full"
        v = vectors(n)
        sim.write_ivf_index(v, split_path, n_centroids=16)
        sim.write_ivf_index(v, full_path, n_centroids=16)
        # analytic scored-row bills from the pre-split occupancy
        occ = (
            sim.ivf_assign(v, 16)
            .groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .selectExpr("n", "CAST(ceil(n / 64.0) AS INT) AS s")
            .collect()
        )
        split_scored = sum(r["n"] * r["s"] for r in occ if r["n"] > 64)
        k_rec = sim.recommended_n_centroids(spark, full_path)
        m_split = _measured_once(
            spark,
            lambda p=split_path: sim.split_ivf_index(spark, p, target_per_list=64),
        )
        m_split["scored_rows"] = split_scored
        m_split["new_k"] = int(
            spark.read.parquet(
                sim.ivf_resolved_paths(spark, split_path)[1]
            ).first()["n_centroids"]
        )
        m_full = _measured_once(
            spark,
            lambda p=full_path, k=k_rec: sim.retrain_ivf_index(spark, p, k),
        )
        m_full["scored_rows"] = n * k_rec
        m_full["n_centroids"] = k_rec
        out[label] = {"split": m_split, "full_retrain": m_full}
        spark.catalog.clearCache()
        spark._jvm.System.gc()
    t = out["10x"]
    t["scored_rows_split_vs_full"] = round(
        t["full_retrain"]["scored_rows"] / max(t["split"]["scored_rows"], 1), 1
    )
    t["wall_split_vs_full"] = round(
        t["full_retrain"]["sec"] / max(t["split"]["sec"], 1e-9), 2
    )
    out["theoretical"] = (
        "split scores sum_flagged(n_c * s_c) ~ n * ceil(avg_occupancy/64); "
        "full retrain scores n * k_rec ~ n^2/64 at the provisioning rule — "
        "the ratio grows with k_rec/s"
    )
    return out


if __name__ == "__main__":
    import sys as _sys

    if len(_sys.argv) > 1 and _sys.argv[1] == "growth10":
        print(
            json.dumps(
                {
                    "growth_laws_10x_r10": _growth_law_r10_split_experiment(
                        fresh_session()
                    )
                }
            )
        )
        _sys.exit(0)
    if len(_sys.argv) > 1 and _sys.argv[1] == "idxmerge":
        print(json.dumps({"index_merge": _index_merge_experiment(fresh_session())}))
    elif len(_sys.argv) > 1 and _sys.argv[1] == "growth5":
        print(
            json.dumps(
                {"growth_laws_10x_r5": _growth_law_r5_experiment(fresh_session())}
            )
        )
    elif len(_sys.argv) > 1 and _sys.argv[1] == "growth7":
        print(
            json.dumps(
                {"growth_laws_10x_r7": _growth_law_r7_experiment(fresh_session())}
            )
        )
    elif len(_sys.argv) > 1 and _sys.argv[1] == "growth9c":
        print(
            json.dumps(
                {
                    "growth_laws_10x_containment": (
                        _growth_law_containment_experiment(fresh_session())
                    )
                }
            )
        )
    elif len(_sys.argv) > 1 and _sys.argv[1] == "growth9b":
        print(
            json.dumps(
                {"growth_laws_10x_r9b": _growth_law_r9b_experiment(fresh_session())}
            )
        )
    elif len(_sys.argv) > 1 and _sys.argv[1] == "growth9":
        print(
            json.dumps(
                {"growth_laws_10x_r9": _growth_law_r9_experiment(fresh_session())}
            )
        )
    elif len(_sys.argv) > 1 and _sys.argv[1] == "growth8":
        print(
            json.dumps(
                {"growth_laws_10x_r8": _growth_law_r8_experiment(fresh_session())}
            )
        )
    elif len(_sys.argv) > 1 and _sys.argv[1] == "growth":
        # re-run just the 10x growth-law rehearsal (minutes, not the
        # full suite) — used when a new operator joins the table
        print(
            json.dumps(
                {"growth_laws_10x": _growth_law_experiment(fresh_session())}
            )
        )
    else:
        main()
