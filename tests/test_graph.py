"""Connected components + dedup clustering: planted-graph correctness and
the survivor-election contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from admira_etl_project_prueba_spark.operators import _driver
from admira_etl_project_prueba_spark.operators.graph import (
    connected_components_star,
    dedup_clusters,
    pagerank,
)


def edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def union_find_components(rows):
    """Plain-Python reference: node -> smallest id reachable through the
    undirected edge list (self-loop-only nodes label themselves)."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def distributed_components(monkeypatch, e, **kw):
    """connected_components_star with the driver bound at 0, so the
    large-star/small-star round loop is what runs."""
    monkeypatch.setattr(_driver, "DRIVER_ROWS_MAX", 0)
    try:
        return {
            r["node"]: r["component"]
            for r in connected_components_star(e, **kw).collect()
        }
    finally:
        monkeypatch.undo()


def test_components_on_planted_shapes(spark, monkeypatch):
    # chain 1-2-3-4 (diameter 3), clique {10,11,12}, isolated pair {20,21}
    e = edges(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
    )
    got = distributed_components(monkeypatch, e)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_components_long_chain_converges(spark, monkeypatch):
    n = 12  # diameter > a couple of naive rounds
    e = edges(spark, [(i, i + 1) for i in range(n)])
    got = distributed_components(monkeypatch, e)
    assert set(got.values()) == {0} and len(got) == n + 1


def test_components_unconverged_raises(spark, monkeypatch):
    e = edges(spark, [(i, i + 1) for i in range(8)])
    with pytest.raises(RuntimeError):
        distributed_components(monkeypatch, e, max_iter=1)


def test_collect_if_small_reads_the_bound_per_call(spark, monkeypatch):
    """Rows at or under DRIVER_ROWS_MAX come back collected, one over it
    gives None — and a bound set after import takes effect on the next
    call (callers never cache it)."""
    from admira_etl_project_prueba_spark.operators._driver import collect_if_small

    assert _driver.DRIVER_ROWS_MAX == 65_536
    df = spark.range(5)
    assert sorted(r["id"] for r in collect_if_small(df)) == [0, 1, 2, 3, 4]
    monkeypatch.setattr(_driver, "DRIVER_ROWS_MAX", 5)
    assert len(collect_if_small(df)) == 5
    monkeypatch.setattr(_driver, "DRIVER_ROWS_MAX", 4)
    assert collect_if_small(df) is None


def test_star_driver_fast_path_equals_distributed(spark, monkeypatch):
    """The bounded in-process union-find (edge set ≤ DRIVER_ROWS_MAX
    collected once, components closed on the driver) labels EXACTLY like
    the distributed large-star/small-star loop — same smallest-reachable-
    id contract, self-loop-only nodes labeled, string-typed ids intact —
    and the distributed loop closes the 65-node chain (diameter 64)
    within a logarithmic round budget (12 rounds), where min-label
    propagation would need 64."""
    chain = [(i, i + 1) for i in range(64)]
    shapes = [
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        chain,                                              # deep chain
        [(0, i) for i in range(1, 9)],                      # star, hub=min
        [(5, 5), (1, 2)],                                   # self-loop noise
    ]
    for rows in shapes:
        e = edges(spark, rows)
        fast = {
            r["node"]: r["component"]
            for r in connected_components_star(e, max_iter=12).collect()
        }
        slow = distributed_components(monkeypatch, e, max_iter=12)
        assert fast == slow, rows
        if rows is chain:
            assert set(slow.values()) == {0} and len(slow) == 65

    # non-numeric ids survive the driver path (string ordering == Spark's)
    se = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "x")], "src string, dst string"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(se).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x"}


def test_dedup_clusters_survivor_election(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    # near-dups: {0,1,2} via transitivity (0-1, 1-2), {4,5}; 3 standalone;
    # the weak 2-3 edge is below threshold and must NOT merge
    pairs = spark.createDataFrame(
        [(0, 1, 0.9), (1, 2, 0.8), (4, 5, 0.95), (2, 3, 0.3)],
        "doc_a long, doc_b long, jaccard double",
    )
    out = {r["doc_id"]: (r["component"], r["keep"]) for r in dedup_clusters(docs, pairs).collect()}
    assert out == {
        0: (0, True), 1: (0, False), 2: (0, False),
        3: (3, True), 4: (4, True), 5: (4, False),
    }


def test_best_survivor_prefers_longest(spark):
    """The longest member of a near-dup cluster survives, not the smallest
    id; ties fall back to smallest id; singletons keep themselves."""
    from admira_etl_project_prueba_spark.operators import textops
    from admira_etl_project_prueba_spark.operators.graph import dedup_best_survivors

    base = (
        "the quick brown fox jumps over the lazy dog while the spark engine "
        "aggregates partitions of shuffled data across the cluster nodes"
    )
    longer = base + " with extra trailing context that near dup truncated away"
    docs = spark.createDataFrame(
        [
            (1, base, "en"),
            (2, longer, "en"),                 # near dup of 1, longer → wins
            (9, "a lonely unrelated doc about gardening in autumn rain", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup_best_survivors(docs, textops.lsh_candidate_pairs(docs)).collect()
    }
    assert out[1]["component"] == out[2]["component"]
    assert not out[1]["keep"] and out[2]["keep"]   # longest wins despite id 2 > 1
    assert out[9]["keep"] and out[9]["component"] == 9

def test_star_components_match_union_find(spark, monkeypatch):
    """Both arms of connected_components_star — the driver union-find and
    the distributed large-star/small-star loop — produce the labeling of
    a plain-Python union-find on planted shapes and seeded random graphs."""
    import random

    shapes = [
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        [(i, i + 1) for i in range(12)],                    # chain
        [(0, i) for i in range(1, 9)],                      # star, hub = min
        [(9, i) for i in range(9)],                         # star, hub = max
        [(5, 5), (1, 2)],                                   # self-loop noise
    ]
    rng = random.Random(7)
    for _ in range(3):                                      # seeded random graphs
        n = 40
        shapes.append(
            [(rng.randrange(n), rng.randrange(n)) for _ in range(50)]
        )
    # self-loops reach both arms unstripped — (5, 5) must yield a
    # self-labeled node from each, not get filtered here
    for rows in shapes:
        e = edges(spark, rows)
        want = union_find_components(rows)
        fast = {
            r["node"]: r["component"]
            for r in connected_components_star(e).collect()
        }
        assert fast == want, rows
    # the distributed arm's iterative per-round jobs of independent shapes
    # overlap on threads instead of serializing; the bound is set once for
    # all of them (monkeypatch is not thread-safe to toggle per shape)
    from concurrent.futures import ThreadPoolExecutor

    def check(rows):
        slow = {
            r["node"]: r["component"]
            for r in connected_components_star(edges(spark, rows)).collect()
        }
        assert slow == union_find_components(rows), rows

    monkeypatch.setattr(_driver, "DRIVER_ROWS_MAX", 0)
    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(check, shapes))


def pagerank_arms(monkeypatch, e, **kw):
    """pagerank(e) collected as {node: rank} twice: at the default bound
    (the driver rounds, for these small graphs) and at bound 0 (the
    distributed checkpointed loop)."""
    out = []
    for bound in (_driver.DRIVER_ROWS_MAX, 0):
        with monkeypatch.context() as m:
            m.setattr(_driver, "DRIVER_ROWS_MAX", bound)
            out.append(
                {r["node"]: r["rank"] for r in pagerank(e, **kw).collect()}
            )
    return out


def test_pagerank_mass_conservation_and_structure(spark, monkeypatch):
    # star: a -> b, a -> c; b and c are dangling
    for r in pagerank_arms(monkeypatch, edges(spark, [(0, 1), (0, 2)]), iters=3):
        assert set(r) == {0, 1, 2}
        # symmetric sinks tie exactly; sinks outrank the source (they
        # receive contributions, the source only teleport + dangling share)
        assert r[1] == r[2]
        assert r[1] > r[0]
        # rank mass conserved up to the decimal(25,6) contribution
        # quantization
        assert abs(sum(r.values()) - 1.0) < 1e-3
        # all ranks at least the teleport floor
        assert all(v > 0.15 / 3 - 1e-9 for v in r.values())


def test_pagerank_is_partitioning_invariant(spark, monkeypatch):
    e = [(i, (i * 7) % 23) for i in range(60)] + [(3, 5), (5, 3), (11, 3)]
    one = pagerank_arms(monkeypatch, edges(spark, e), iters=3)
    many = pagerank_arms(monkeypatch, edges(spark, e).repartition(13), iters=3)
    # decimal sums: bit-identical at any partitioning, on either arm
    assert one[0] == one[1] == many[0] == many[1]


def test_pagerank_driver_arm_equals_distributed(spark, monkeypatch):
    """The driver rounds return exactly the distributed loop's rows —
    same nodes, repr-identical doubles, same column types — on graphs
    with dangling nodes, duplicate edges, self-loops, a node that is only
    ever a dst, null ids, and an INT src beside a BIGINT dst."""
    import random

    rng = random.Random(11)
    graphs = [
        [(0, 1), (0, 2)],                                   # two dangling sinks
        [(1, 2), (1, 2), (2, 1), (2, 3), (3, 3)],           # dup edge, self-loop
        [(5, 5), (6, 6), (5, 6)],                           # self-loops only
        [(i, 99) for i in range(8)] + [(0, 1), (1, 0)],     # 99: only a dst
        [(1, None), (None, 2), (2, 1), (3, 2)],             # null ids
        [(rng.randrange(60), rng.randrange(60)) for _ in range(400)],
    ]
    for rows in graphs:
        e = spark.createDataFrame(rows, "src int, dst long")
        arms = []
        for bound in (_driver.DRIVER_ROWS_MAX, 0):
            with monkeypatch.context() as m:
                m.setattr(_driver, "DRIVER_ROWS_MAX", bound)
                df = pagerank(e, iters=3)
                got = [(r["node"], repr(r["rank"])) for r in df.collect()]
                arms.append((df.schema, sorted(got, key=repr)))
        assert arms[0] == arms[1], rows
        assert arms[0][0].simpleString() == "struct<node:bigint,rank:double>"


def test_pagerank_driver_decimal_cast_matches_spark(
    spark, sf_dir, monkeypatch
):
    """The driver's double -> DECIMAL(25,6) rounding is Spark's, checked
    in one job over random doubles, both neighbours of (k + 0.5)e-6 ties,
    tiny values and every value the fixture's trade_pagerank casts.  The
    JVM rounds its Double.toString digits, which need not be the
    shortest form Python's repr gives, so the stand-in is proven here."""
    import math
    import random

    from admira_etl_project_prueba_spark.operators import graph
    from admira_etl_project_prueba_spark.plans.catalog import CATALOG

    cast = graph._dec6
    fixture = []
    monkeypatch.setattr(graph, "_dec6", lambda x: fixture.append(x) or cast(x))
    CATALOG["trade_pagerank"].fn(spark, sf_dir)
    assert fixture

    rng = random.Random(5)
    vals = fixture + [rng.random() * 10 ** rng.uniform(-9, 0) for _ in range(3000)]
    for _ in range(3000):
        tie = (rng.randrange(2_000_000) + 0.5) * 1e-6
        vals += [math.nextafter(tie, 0.0), tie, math.nextafter(tie, 1.0)]
    vals += [0.0, 5e-324, 1e-300, 4.999999999999999e-07, 5e-07, 1.5e-06, 1.0]
    got = (
        spark.createDataFrame([(v,) for v in vals], "x double")
        .selectExpr("x", "CAST(x AS DECIMAL(25,6)) AS d")
        .collect()
    )
    bad = [(r.x, r.d) for r in got if int(r.d.scaleb(6)) != cast(r.x)]
    assert not bad, bad[:5]


def test_trade_pagerank_job_counts_pinned(spark, sf_dir, jobs_started):
    """Building trade_pagerank on the fixture starts only the edge set's
    checkpoint stages plus its count and collect (the driver rounds start
    none; the distributed loop started 47), and its noop action one job."""
    from admira_etl_project_prueba_spark.plans.catalog import CATALOG

    df, built = jobs_started(
        spark, lambda: CATALOG["trade_pagerank"].fn(spark, sf_dir)
    )
    assert len(built) <= 5, built
    _, acted = jobs_started(
        spark, lambda: df.write.format("noop").mode("overwrite").save()
    )
    assert len(acted) <= 1, acted


def test_triangle_counts_planted_graph(spark):
    """K4 on {1,2,3,4} + pendant 5 + isolated edge (6,7); duplicates,
    self-loops, and reversed orientations must not change the answer."""
    from admira_etl_project_prueba_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = k4 + [(4, 5), (6, 7), (2, 1), (3, 3), (1, 2)]  # noise
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r for r in triangle_counts(df).collect()}
    # K4: every node in C(3,2)=3 triangles; node 4 has degree 4 (pendant)
    for n in (1, 2, 3):
        assert got[n]["n_triangles"] == 3 and got[n]["degree"] == 3
        assert abs(got[n]["clustering_coeff"] - 1.0) < 1e-12
    assert got[4]["n_triangles"] == 3 and got[4]["degree"] == 4
    assert abs(got[4]["clustering_coeff"] - 0.5) < 1e-12
    assert got[5]["n_triangles"] == 0 and got[5]["clustering_coeff"] is None
    assert got[6]["n_triangles"] == 0 and got[7]["degree"] == 1
    # total triangles (each counted once per corner): 4 * 3 / 3 = 4 distinct
    assert sum(r["n_triangles"] for r in got.values()) == 3 * 4


def test_no_conf_set_in_operators():
    """Operators never change session conf: a session-wide setting flipped
    inside one operator leaks into every query running beside it (the
    only conf writer is session.py, which builds the session)."""
    import pathlib

    from admira_etl_project_prueba_spark import operators

    root = pathlib.Path(operators.__file__).parent
    offenders = [
        p.name for p in sorted(root.rglob("*.py")) if "conf.set(" in p.read_text()
    ]
    assert offenders == []


def test_no_two_rename_swap_or_flat_index_option_in_package():
    """Every store rewrite commits a version (functions/fs.commit_version)
    and every reader refuses a flat root: no package module brings back
    the two-rename swap, its ``__compacting`` / ``__merging`` staging
    siblings or ``__old`` recovery copy, its crash heal, the flat-store
    migration sweep, a second resolver, or a ``versioned: bool = False``
    flat-layout option."""
    import pathlib

    import admira_etl_project_prueba_spark as pkg

    banned = (
        "swap_into_place(",
        "versioned: bool = False",
        "__compacting",
        "__merging",
        "recover_swap(",
        "heal_if_crashed(",
        "swap_window_open(",
        "sweep_flat_remnants(",
        "index_version_dir(",
        '__old"',
    )
    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        (str(p.relative_to(root)), b)
        for p in sorted(root.rglob("*.py"))
        for b in banned
        if b in p.read_text()
    ]
    assert offenders == []


def test_label_propagation_separates_planted_cliques(spark):
    """Two 4-cliques joined by one bridge edge: after 3 synchronous
    rounds each clique converges to its minimum node id and the bridge
    does not merge them; result is partitioning-invariant (deterministic
    min-label tie-break, no RNG)."""
    from admira_etl_project_prueba_spark.operators.graph import label_propagation

    def clique(nodes):
        return [(a, b) for a in nodes for b in nodes if a < b]

    edges_rows = clique([1, 2, 3, 4]) + clique([10, 11, 12, 13]) + [(4, 10)]
    edges = spark.createDataFrame(edges_rows, "u long, v long")
    got = {r["node"]: r["label"] for r in label_propagation(edges).collect()}
    assert {got[n] for n in (1, 2, 3, 4)} == {1}
    assert {got[n] for n in (10, 11, 12, 13)} == {10}
    again = {
        r["node"]: r["label"]
        for r in label_propagation(edges.repartition(7)).collect()
    }
    assert again == got


def test_k_core_planted_core_and_cascade(spark):
    """A 4-clique (3-core) with a pendant chain: the chain peels away in
    CASCADING rounds (c depends on d's removal), the clique survives."""
    from admira_etl_project_prueba_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # 4-clique
         (4, 5), (5, 6), (6, 7)],                          # pendant chain
        "u long, v long",
    )
    out = {r["node"]: r for r in k_core(edges, k=3, iters=8).collect()}
    assert sorted(out) == [1, 2, 3, 4, 5, 6, 7]
    for n in (1, 2, 3, 4):
        assert out[n]["in_kcore"] and out[n]["degree"] == 3
    for n in (5, 6, 7):
        assert not out[n]["in_kcore"] and out[n]["degree"] == 0
    # k=2: the chain still peels (leaf cascade), the clique survives
    out2 = {r["node"]: r for r in k_core(edges, k=2, iters=8).collect()}
    assert all(out2[n]["in_kcore"] for n in (1, 2, 3, 4))
    assert not any(out2[n]["in_kcore"] for n in (5, 6, 7))


def test_k_core_until_converged_beats_truncation(spark):
    """A 30-node path at k=2 peels two endpoints per round — deeper than
    the 8-round budget.  Fixed mode truncates (and says so in its
    contract); until_converged reaches the true (empty) 2-core.  On a
    shallow graph both modes agree, so the early-exit is a pure
    optimization."""
    from admira_etl_project_prueba_spark.operators.graph import k_core

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "u long, v long"
    )
    fixed = {r["node"]: r["in_kcore"] for r in k_core(path, k=2, iters=8).collect()}
    assert sum(fixed.values()) > 0  # truncated: middle of the path survives
    full = {
        r["node"]: r["in_kcore"]
        for r in k_core(path, k=2, until_converged=True).collect()
    }
    assert sum(full.values()) == 0  # the true 2-core of a path is empty
    # shallow cascade: fixed-8 and converged agree exactly
    clique = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (6, 7)],
        "u long, v long",
    )
    a = sorted(map(tuple, k_core(clique, k=3, iters=8).collect()))
    b = sorted(map(tuple, k_core(clique, k=3, until_converged=True).collect()))
    assert a == b


def test_label_propagation_string_ids(spark):
    """The min-label tie-break is type-agnostic: string node ids elect
    the lexicographically smallest community label (the old
    negate-the-label trick required numeric ids)."""
    from admira_etl_project_prueba_spark.operators.graph import label_propagation

    def clique(nodes):
        return [(a, b) for a in nodes for b in nodes if a < b]

    rows = clique(["ant", "bee", "cat", "dog"]) + clique(["wolf", "yak", "zebu"])
    edges = spark.createDataFrame(rows, "u string, v string")
    got = {r["node"]: r["label"] for r in label_propagation(edges).collect()}
    assert {got[n] for n in ("ant", "bee", "cat", "dog")} == {"ant"}
    assert {got[n] for n in ("wolf", "yak", "zebu")} == {"wolf"}
