"""Connected components over candidate-pair graphs — the step that turns
near-duplicate PAIRS into dedup CLUSTERS.

Near-dup detection (MinHash-LSH, SimHash, embedding cosine) emits edges;
choosing one survivor per duplicate *group* requires the transitive
closure: if A~B and B~C, then {A,B,C} is one cluster even when A~C was
never emitted.  That closure is a connected-components computation.

Implementation: :func:`connected_components_star`, the alternating
large-star / small-star algorithm (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14), as plain DataFrame ops.  It needs
O(log² n) rounds regardless of graph diameter, so long chains (e.g. drift
chains of successive page revisions) close as fast as the tiny
star/clique clusters near-dup graphs mostly contain.  Each round is a few
shuffled aggregations and joins; results are localCheckpoint-ed to
truncate the growing lineage (iterative algorithms otherwise replay every
prior round on each action).  When the deduplicated edge set is small it
is collected once and closed with a driver union-find instead
(:func:`._driver.collect_if_small`).  GraphFrames offers this packaged;
this module keeps the engine dependency-free.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from admira_etl_project_prueba_spark.operators._driver import (
    collect_if_small,
    local_frame,
)


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """(node, component) via alternating large-star / small-star rounds
    (Kiveris et al., SoCC'14); component = the smallest node id reachable
    through the undirected edge set.  Convergence is O(log² n) rounds
    independent of graph DIAMETER, so a million-node chain closes in ~10
    rounds where min-label propagation would need a million.

    One round is two map-reduce steps over the current edge set:

    - large-star(u): every neighbor v > u re-attaches to
      m = min(Γ(u) ∪ {u}) — hooks large ids directly under local minima
      without breaking connectivity;
    - small-star(u): u and its smaller neighbors all attach to the
      smallest of them — flattens the remaining shallow trees.

    Each step is a groupBy-min plus an equi-join keyed on node id —
    exactly the aggregation shape AQE handles under skew (a massive
    component's hub node is just a hot key).  Fixed point: the edge set
    stabilizes as a star forest (u > center for every edge), read out
    directly as the labeling.

    Raises if the fixed point is not reached within ``max_iter`` rounds
    (an unconverged labeling silently merges nothing — fail loudly).
    """
    # canonicalize (u > v) and dedup ONCE: every round's symmetric view is
    # then canon ∪ swap(canon), disjoint by construction — no per-round
    # distinct shuffle to rebuild the neighbor lists.
    canon = (
        edges.selectExpr(
            f"greatest({src}, {dst}) AS u", f"least({src}, {dst}) AS v"
        )
        .distinct()
        # materialize ONCE: without the checkpoint every round would
        # recompute the whole upstream edge-producing subtree (for LSH
        # edges, the full shingle→minhash→band→verify pipeline).  Lazy —
        # the bound probe's count materializes it (one job fewer;
        # shared-RDD reuse is identical either way)
        .localCheckpoint(eager=False)
    )
    # Bounded driver fast path: the canonical DEDUPLICATED edge set is
    # pair-table-sized for near-dup graphs — when it fits under the bound,
    # ONE collect (off the checkpoint the count just materialized; the
    # expensive edge-producing pipeline above runs exactly once either
    # way) plus an exact min-label union-find replaces the whole
    # round loop (each round = 4+ jobs of pure latency at this size).
    # Output contract identical: component = smallest reachable id, every
    # node labeled (self-loop-only nodes label themselves); pinned
    # fast-vs-distributed by pytest and by the recursive-CTE oracle.
    rows = collect_if_small(canon)
    if rows is not None:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        seen = set()
        for row in rows:
            u, v = row[0], row[1]
            seen.add(u)
            seen.add(v)
            if u != v:
                ru, rv = find(u), find(v)
                if ru != rv:
                    # keep the SMALLER id as root ⇒ the root IS the
                    # component label (smallest reachable id)
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
        node_t = canon.schema["u"].dataType
        nodes = sorted(seen)
        return local_frame(
            edges.sparkSession,
            [nodes, [find(n) for n in nodes]],
            T.StructType(
                [T.StructField("node", node_t), T.StructField("component", node_t)]
            ),
        )
    # nodes BEFORE the self-loop filter: a node appearing only as (x, x)
    # must still be labeled (as its own center)
    nodes = (
        canon.selectExpr("u AS node")
        .unionByName(canon.selectExpr("v AS node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e = canon.filter("u <> v")
    n_edges = None  # count of e when known (checkpointed rounds)
    for _ in range(max_iter):
        # ---- large-star: (v, m) for every neighbor v > u ----------------
        # e is canonical-distinct, so e and swap(e) are disjoint: the
        # union IS the symmetric edge set, distinct-free.
        full = e.unionByName(e.selectExpr("v AS u", "u AS v"))
        mins = (
            full.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        large = (
            full.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter("u <> v")
            .distinct()
        )
        # ---- small-star: u and its smaller neighbors onto their min -----
        # large is already canonical (each row has u > v: u=old v > old u
        # ≥ m = v) and distinct — use it directly, no re-canonicalization
        mins_s = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins_s, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins_s.selectExpr("u", "m AS v"))
            .filter("u <> v")
            .selectExpr("greatest(u, v) AS u", "least(u, v) AS v")
            .distinct()
            # lazy: the fixed-point count below materializes it
            .localCheckpoint(eager=False)
        )
        # fixed point: the (canonicalized) edge set did not change.  Both
        # sides are distinct sets, so equality ⇔ equal cardinality AND
        # empty one-sided difference — one count (cheap on the checkpoint
        # we just cut) plus ONE exceptAll job instead of two.
        n_small = small.count()
        if n_edges is None:
            n_edges = e.count()
        if n_small == n_edges and small.exceptAll(e).isEmpty():
            e = small
            break
        e = small
        n_edges = n_small
    else:
        raise RuntimeError(
            f"connected_components_star: no fixed point in {max_iter} rounds"
        )
    # star forest: every edge is (member > center); centers and isolated-
    # in-result nodes label themselves
    members = e.selectExpr("u AS node", "v AS component")
    centers = nodes.join(
        members.select("node"), "node", "left_anti"
    ).selectExpr("node", "node AS component")
    return members.unionByName(centers)


def dedup_clusters(
    documents: DataFrame,
    pairs: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Cluster near-dup pairs (jaccard > threshold) into duplicate groups
    and elect the smallest doc_id as each group's survivor.

    Components come from :func:`connected_components_star`, whose round
    count is O(log² n) regardless of component SHAPE, so chain-like
    components an unbounded input can contain cannot stall it.

    Returns every document with its ``component`` (its own id when it has
    no near-dups) and a ``keep`` verdict — the corpus-shrinking decision,
    auditable per document like :func:`quality_filter`.
    """
    strong = pairs.filter(F.col("jaccard") > threshold)
    cc = connected_components_star(strong, "doc_a", "doc_b")
    out = documents.select("doc_id").join(
        cc, F.col("doc_id") == F.col("node"), "left"
    )
    component = F.coalesce(F.col("component"), F.col("doc_id"))
    return out.select(
        "doc_id",
        component.alias("component"),
        (component == F.col("doc_id")).alias("keep"),
    )


def dedup_best_survivors(
    documents: DataFrame,
    pairs: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Quality-aware survivor election: within each near-dup cluster keep
    the LONGEST document (ties → smallest doc_id) instead of the smallest
    id — the production heuristic, since near-dup groups usually contain
    truncated/boilerplate-stripped variants and the longest one preserves
    the most content.

    Plan shape: clusters from :func:`dedup_clusters` (component ids), one
    row-local token count, and a single window over ``component`` — one
    extra shuffle keyed by component, whose cardinality is the number of
    docs, not pairs.  Returns (doc_id, component, n_tokens, keep).
    """
    from pyspark.sql import Window

    clusters = dedup_clusters(documents, pairs, threshold)
    toks = documents.selectExpr(
        "doc_id",
        "CAST(size(split(lower(trim(text)), '\\\\s+')) AS BIGINT) AS n_tokens",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.select("doc_id", "component")
        .join(toks, "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "component", "n_tokens", "keep")
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank by power iteration — the canonical
    iterative link-analysis computation (Page et al. 1999), as pure
    DataFrame ops.

    Per round: every node sends ``damping · rank / out-degree`` along each
    out-edge; dangling nodes (no out-edges) spread their whole rank
    uniformly; each node's new rank is the teleport share plus what it
    received.  Rank mass is conserved at every round (Σrank = 1).

    Engine-portable determinism (the k-means recipe): per-edge
    contributions and the dangling mass are summed as exact
    DECIMAL(25,6) — order-independent across partitionings and engines —
    and converted to double only at the per-round rank update.

    Scale shape: when the deduplicated edge set fits under
    ``_driver.DRIVER_ROWS_MAX`` it is collected once and the rounds run
    on the driver (:func:`_pagerank_on_driver`, same arithmetic, same
    doubles); the result comes back as a local frame.  Above the bound
    each round is ONE shuffle of (dst, contribution) pairs plus a 1-row
    dangling aggregate and two broadcast scalars.  Edges and out-degrees
    are computed once and localCheckpoint-ed (iterative-loop invariant
    rule, docs/SCALE.md); the rank frame is ALSO checkpointed per round
    — it has three consumers (contributions, dangling mass, next
    update), so a lazy chain would replay round k-1 three times per
    round, ~3^k jobs total.  The checkpointed frame is node-sized
    (node, rank) — KBs per million nodes.  At sf0.1 (~600k edges) the
    wall clock is dominated by one-time graph construction (join +
    distinct + checkpoint), not the rounds.

    Returns (node, rank) over all nodes that appear in any edge.
    """
    # Loop invariants localCheckpoint'ed.  A persist() co-partitioned by
    # join key (InMemoryRelation keeps outputPartitioning where a
    # checkpointed RDD reports UnknownPartitioning) makes the per-round
    # contribution join exchange-free on the edge side — but measured
    # 35% SLOWER end-to-end at sf0.1 (interleaved A/B best-3 6.9 s vs
    # 5.1 s): the deserialized-cache scan + extra setup repartition cost
    # more than the three tiny exchanges they remove at this scale
    # (docs/SCALE.md rule 9).
    # LAZY checkpoints are not free to build under AQE: building one
    # plans its adaptive query and runs every shuffle and broadcast
    # stage in it at once, one job each; only the final stage waits for
    # the first consumer.  So the round loop starts nearly all its jobs
    # while the frame is built (trade_pagerank's loop forced at sf0.01:
    # 49 construction jobs, 2 of them the bound probe's count, then 1
    # for the caller's action).  eager=True would add a job per
    # checkpoint on top (lazy measured −6–9% end-to-end at sf0.1,
    # bit-identical).
    e = (
        edges.selectExpr(f"{src} AS src", f"{dst} AS dst")
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = e.select(F.col("src").alias("node")).unionByName(
        e.select(F.col("dst").alias("node"))
    )
    rows = collect_if_small(e)
    if rows is not None:
        return local_frame(
            e.sparkSession,
            _pagerank_on_driver(rows, iters, damping),
            T.StructType(
                [
                    T.StructField("node", nodes.schema["node"].dataType),
                    T.StructField("rank", T.DoubleType()),
                ]
            ),
        )
    nodes = nodes.distinct().localCheckpoint(eager=False)
    outdeg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=False)
    )
    n_frame = nodes.agg(F.count(F.lit(1)).alias("nn"))
    teleport = 1.0 - damping
    ranks = nodes.crossJoin(F.broadcast(n_frame)).selectExpr(
        "node", "CAST(1 AS DOUBLE) / nn AS rank"
    )
    for _ in range(iters):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .join(outdeg, "src")
            .selectExpr(
                "dst AS node",
                f"CAST(CAST({damping!r} AS DOUBLE) * rank / deg "
                "AS DECIMAL(25,6)) AS c",
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        dangling = (
            ranks.join(outdeg, ranks.node == outdeg.src, "left_anti")
            .agg(
                F.coalesce(
                    F.sum(F.expr("CAST(rank AS DECIMAL(25,6))")), F.lit(0)
                ).alias("dm")
            )
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_frame))
            .crossJoin(F.broadcast(dangling))
            .selectExpr(
                "node",
                f"CAST({teleport!r} AS DOUBLE) / nn"
                " + CAST(coalesce(s, CAST(0 AS DECIMAL(25,6))) AS DOUBLE)"
                f" + CAST({damping!r} AS DOUBLE) * CAST(dm AS DOUBLE) / nn"
                " AS rank",
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def _dec6(x: float) -> int:
    """Unscaled value of Spark's ``CAST(x AS DECIMAL(25,6))`` for a
    double: the JVM parses ``Double.toString(x)`` and rounds it half-up
    to 6 places.  ``repr`` stands in for ``Double.toString`` (pinned
    against Spark by tests/test_graph.py)."""
    return int(Decimal(repr(x)).scaleb(6).to_integral_value(ROUND_HALF_UP))


def _pagerank_on_driver(rows, iters: int, damping: float) -> list[list]:
    """:func:`pagerank`'s rounds over collected distinct (src, dst) rows,
    as [nodes, ranks] columns.  Every value is the double the Spark loop
    computes: the per-edge contribution is the same double cast the same
    way, the decimal sums are exact integers of micro-units, and the rank
    update is the same left-to-right double expression.  A null id joins
    nothing, as in the loop: it receives nothing, sends nothing and
    counts as dangling."""
    out: dict = {}  # src -> its dsts; the list length is the out-degree
    nodes: dict = {}  # insertion-ordered node set
    for s, d in rows:
        nodes[s] = nodes[d] = None
        if s is not None:
            out.setdefault(s, []).append(d)
    dangling = [n for n in nodes if n not in out]
    nn = len(nodes)
    tele = 1.0 - damping
    ranks = {n: 1.0 / nn for n in nodes}
    for _ in range(iters):
        sums: dict = {}
        for s, dsts in out.items():
            c = _dec6(damping * ranks[s] / len(dsts))
            for d in dsts:
                sums[d] = sums.get(d, 0) + c
        sums.pop(None, None)
        dm = sum(_dec6(ranks[n]) for n in dangling)
        ranks = {
            n: tele / nn + sums.get(n, 0) / 10**6 + damping * (dm / 10**6) / nn
            for n in nodes
        }
    return [list(ranks), list(ranks.values())]


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts + local clustering coefficient.

    Input is an undirected edge list (duplicates / self-loops / either
    orientation tolerated).  Classic degree-ordered orientation (Cohen,
    "Graph Twiddling in a MapReduce World", 2009): orient every edge from
    its (degree, id)-smaller endpoint to the larger, which bounds every
    out-neighborhood by O(sqrt(m)).  Wedge enumeration then joins the
    oriented list with itself on src — total wedge volume is
    sum(outdeg^2) = O(m^1.5) instead of sum(deg^2), which is what makes
    triangle counting survive power-law skew at 100 TB (a celebrity node
    with 10^7 neighbors contributes nothing to the self-join fan-out
    because its edges all point INTO it).  A final equi-join against the
    oriented list closes each wedge.  Three shuffles total (degree agg,
    wedge join, closing join); only 2-int edge tuples ever ship.

    Returns (node, degree, n_triangles, clustering_coeff) where
    clustering_coeff = 2T / (deg * (deg - 1)), NULL for degree < 2.
    """
    # The canonical edge set feeds THREE subtrees (both endpoints of the
    # degree count, and the degree-attach join), `deg` another three, and
    # `oriented` three more (both wedge sides + the closing semi-join).
    # Catalyst has no cross-branch CSE, so without materialization the
    # whole upstream EDGE-PRODUCING pipeline (for the co-supply graph: a
    # lineitem groupBy + pair fan-out + support filter) replays once per
    # branch.  Lazy localCheckpoints — 2-int edge tuples and a node-sized
    # degree table — compute each exactly once; deterministic, so the
    # counts are unchanged (oracle-gated).
    e = (
        edges.selectExpr(
            f"least({src}, {dst}) AS u", f"greatest({src}, {dst}) AS v"
        )
        .filter("u < v")
        .distinct()
        .localCheckpoint(eager=False)
    )
    both = e.selectExpr("u AS node").unionByName(e.selectExpr("v AS node"))
    deg = (
        both.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .localCheckpoint(eager=False)
    )
    with_deg = (
        e.join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    )
    lt = "(du < dv) OR (du = dv AND u < v)"
    oriented = with_deg.selectExpr(
        f"CASE WHEN {lt} THEN u ELSE v END AS src",
        f"CASE WHEN {lt} THEN v ELSE u END AS dst",
        f"CASE WHEN {lt} THEN du ELSE dv END AS sdeg",
        f"CASE WHEN {lt} THEN dv ELSE du END AS ddeg",
    ).localCheckpoint(eager=False)
    wedges = (
        oriented.selectExpr("src AS a", "dst AS b", "ddeg AS db")
        .join(oriented.selectExpr("src AS a", "dst AS c", "ddeg AS dc"), "a")
        .filter("(db < dc) OR (db = dc AND b < c)")
        .select("a", "b", "c")
    )
    tris = wedges.join(
        oriented.selectExpr("src AS b", "dst AS c"), ["b", "c"], "left_semi"
    )
    per_node = (
        tris.selectExpr("explode(array(a, b, c)) AS node")
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            F.col("deg").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.expr(
                "CASE WHEN deg >= 2 THEN 2.0 * CAST(coalesce(n_triangles, 0) AS DOUBLE)"
                " / (CAST(deg AS DOUBLE) * CAST(deg - 1 AS DOUBLE)) END"
            ).alias("clustering_coeff"),
        )
    )


def label_propagation(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    iters: int = 3,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan et
    al. 2007): every node starts as its own community and each round
    adopts the most frequent label among its neighbors, ties to the
    SMALLEST label — a fully deterministic LPA (the classic asynchronous
    variant is order-dependent; synchronous + fixed ``iters`` + min-label
    tie-break makes every round a pure function of the previous one, so
    results are reproducible across engines and partitionings — same
    spirit as the decimal-exact pagerank).  Fixed iteration count also
    bounds the known bipartite-oscillation mode.

    Scale shape: per round ONE shuffle — (node, neighbor_label) pairs
    reduce map-side to (node, label, count), then a struct-max picks the
    winner with no window sort.  The symmetrized edge list is a loop
    invariant and the label frame has two consumers per round, so both
    are localCheckpointed (docs/SCALE.md iterative-loop rule: a lazy
    chain would replay round k-1 per consumer, ~2^k jobs).  Labels are
    node-sized (KBs per million nodes).

    Returns (node, label): label = the elected community id (a node id).
    """
    # lazy checkpoints (shared-RDD reuse is identical; eager ones cost
    # one extra job each — see pagerank above)
    sym = (
        edges.selectExpr(f"{src} AS a", f"{dst} AS b")
        .unionByName(edges.selectExpr(f"{dst} AS a", f"{src} AS b"))
        .filter("a != b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .selectExpr("node", "node AS label")
        .localCheckpoint(eager=False)
    )
    for _ in range(iters):
        nb = sym.join(
            labels.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "label")
        cnt = nb.groupBy("node", "label").agg(F.count(F.lit(1)).alias("c"))
        # min over struct(-count, label): maximizes the count, then takes
        # the SMALLEST label — struct ordering is lexicographic on any
        # orderable label type (string community ids included), so the
        # tie-break never negates the label itself (which would restrict
        # the operator to numeric ids)
        labels = (
            cnt.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))
                ).alias("m")
            )
            .selectExpr("node", "m.l AS label")
            .localCheckpoint(eager=False)
        )
    # widen integral ids to BIGINT for a stable output schema; string or
    # other orderable id types pass through unchanged
    if dict(labels.dtypes)["label"] in ("tinyint", "smallint", "int", "bigint"):
        return labels.selectExpr("node", "CAST(label AS BIGINT) AS label")
    return labels.select("node", "label")


def k_core(
    edges: DataFrame,
    k: int = 3,
    iters: int = 8,
    src: str = "u",
    dst: str = "v",
    until_converged: bool = False,
) -> DataFrame:
    """k-core peeling: repeatedly delete nodes of degree < k; what
    survives is the k-core — the standard dense-substructure extractor
    (spam rings, tight supplier cliques, community cores) complementing
    triangles (local density) and label propagation (partition
    structure).  Returns every node of the input graph with its final
    in-subgraph ``degree`` (0 once peeled) and an ``in_kcore`` verdict,
    deterministic.

    Termination contract: with ``until_converged=False`` the peeling
    runs AT MOST ``iters`` rounds — this matches the unrolled DuckDB
    oracle round-for-round, but a cascade DEEPER than ``iters`` (e.g. a
    long path at k=2 peels two endpoints per round) is truncated: nodes
    the full peeling would remove are still reported ``in_kcore``.
    ``until_converged=True`` iterates to the fixpoint instead — the TRUE
    k-core — at the cost of no longer matching a fixed-round oracle.
    Both modes early-exit as soon as a round removes nothing (the edge
    frame is localCheckpointed, so the per-round convergence count reads
    materialized blocks — no recompute), which makes extra budgeted
    rounds free and the fixed mode's result identical to before.

    Scale shape: each round is ONE degree aggregation plus two
    semi-joins of the 2-int edge list on its endpoint — Θ(m) per round,
    the same per-round bound as PageRank; the edge frame is
    localCheckpointed every round so lineage stays flat and no round
    replays its predecessors.
    """
    e = edges.selectExpr(f"{src} AS u", f"{dst} AS v").filter("u <> v")
    cur = (
        e.union(e.selectExpr("v AS u", "u AS v"))
        .distinct()
        # lazy: the n_cur count right below materializes it
        .localCheckpoint(eager=False)
    )
    all_nodes = cur.select(F.col("u").alias("node")).distinct()
    n_cur = cur.count()
    rounds = 0
    while n_cur > 0 and (until_converged or rounds < int(iters)):
        rounds += 1
        deg = cur.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.filter(F.col("deg") >= int(k)).select("u")
        cur = (
            cur.join(alive, "u", "left_semi")
            .join(alive.withColumnRenamed("u", "v"), "v", "left_semi")
            # lazy: the per-round convergence count materializes it
            .localCheckpoint(eager=False)
        )
        n_next = cur.count()
        if n_next == n_cur:  # fixpoint: every further round is a no-op
            break
        n_cur = n_next
    final_deg = cur.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    return (
        all_nodes.join(final_deg, all_nodes.node == final_deg.u, "left")
        .selectExpr(
            "node",
            "coalesce(deg, CAST(0 AS BIGINT)) AS degree",
            f"coalesce(deg, CAST(0 AS BIGINT)) >= {int(k)} AS in_kcore",
        )
        .orderBy("node")
    )
