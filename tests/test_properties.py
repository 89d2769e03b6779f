"""Property-based tests (hypothesis): invariants of the consolidation
pipeline that must hold for ANY input, not just fixtures.

Strategy: generate small random ads/CRM row sets, run the real
``transform``, and check conservation laws + contracts.  One shared Spark
session; hypothesis drives the data.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from admira_etl_project_prueba_spark.operators.transform import transform
from admira_etl_project_prueba_spark.schemas import ADS_SCHEMA, CRM_PARSED_SCHEMA

DATES = st.sampled_from(["2024-01-01", "2024-01-02", "2024-01-03"])
UTM = st.sampled_from(["a", "b", ""])
STAGE = st.sampled_from(["lead", "opportunity", "closed_won", "junk"])
MONEY = st.floats(min_value=0, max_value=1e6, allow_nan=False, allow_infinity=False)

ads_rows = st.lists(
    st.tuples(
        DATES,
        st.sampled_from(["C-1", "C-2"]),
        st.sampled_from(["google_ads", "x_y"]),
        st.integers(0, 10_000),  # clicks
        st.integers(0, 100_000),  # impressions
        MONEY,  # cost
        UTM, UTM, UTM,
    ),
    max_size=12,
)
crm_rows = st.lists(
    st.tuples(
        st.sampled_from(["O-1", "O-2", "O-3"]),
        STAGE,
        MONEY,  # amount
        UTM, UTM, UTM,
        DATES,
    ),
    max_size=12,
)

INGESTED = dt.datetime(2024, 1, 5, 12, 0, 0)
# max_examples halved round 14 (12 → 6 here, and per-test counts below):
# the driver's pytest gate timed out at ~37 min and these latency-bound
# Spark property tests carried ~5 of them.  Every property (assertion) is
# unchanged — only the random-sampling depth drops; all have been stable
# since they landed, and Hypothesis still explores fresh examples each run.
PROP_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def build(spark, ads, crm):
    ads_df = spark.createDataFrame(
        [
            (d, c, ch, cl, im, co, uc, us, um, INGESTED)
            for (d, c, ch, cl, im, co, uc, us, um) in ads
        ],
        ADS_SCHEMA,
    )
    crm_df = spark.createDataFrame(
        [
            (o, f"{o}@x.com", s, a, uc, us, um, INGESTED,
             dt.datetime.fromisoformat(cd), False)
            for (o, s, a, uc, us, um, cd) in crm
        ],
        CRM_PARSED_SCHEMA,
    )
    return ads_df, crm_df


@given(ads=ads_rows, crm=crm_rows)
@PROP_SETTINGS
def test_additive_measures_are_conserved(spark, ads, crm):
    """SUM of every additive measure over the output == SUM over the input:
    consolidation must never lose or invent clicks/cost/revenue."""
    ads_df, crm_df = build(spark, ads, crm)
    out = transform(ads_df, crm_df)
    row = out.groupBy().sum("clicks", "impressions", "cost", "revenue").collect()[0]
    exp_clicks = sum(r[3] for r in ads)
    exp_impr = sum(r[4] for r in ads)
    exp_cost = sum(r[5] for r in ads)
    exp_rev = sum(a for (_, s, a, *_rest) in crm if s == "closed_won")
    assert (row[0] or 0) == exp_clicks
    assert (row[1] or 0) == exp_impr
    assert (row[2] or 0.0) == pytest.approx(exp_cost, rel=1e-9, abs=1e-6)
    assert (row[3] or 0.0) == pytest.approx(exp_rev, rel=1e-9, abs=1e-6)


@given(ads=ads_rows, crm=crm_rows)
@PROP_SETTINGS
def test_stage_counts_partition_crm_rows(spark, ads, crm):
    """leads+opportunities+closed_won ≤ |crm| and each equals its stage
    count; unknown stages contribute rows but no counts."""
    ads_df, crm_df = build(spark, ads, crm)
    out = transform(ads_df, crm_df)
    row = out.groupBy().sum("leads", "opportunities", "closed_won").collect()[0]
    stages = [s for (_, s, *_r) in crm]
    assert (row[0] or 0) == stages.count("lead")
    assert (row[1] or 0) == stages.count("opportunity")
    assert (row[2] or 0) == stages.count("closed_won")


@given(ads=ads_rows, crm=crm_rows)
@PROP_SETTINGS
def test_ratios_always_finite_and_guarded(spark, ads, crm):
    """No ratio is ever NULL/NaN/Inf, and zero denominators give 0.0."""
    ads_df, crm_df = build(spark, ads, crm)
    for r in transform(ads_df, crm_df).collect():
        for c in ("cpc", "cpa", "cvr_lead_to_opp", "cvr_opp_to_won", "roas"):
            v = r[c]
            assert v is not None and math.isfinite(v), (c, v)
        if r["clicks"] == 0:
            assert r["cpc"] == 0.0
        if r["cost"] == 0:
            assert r["roas"] == 0.0


@given(ads=ads_rows, crm=crm_rows)
@PROP_SETTINGS
def test_keys_are_unique(spark, ads, crm):
    """The 6-column key is a primary key of the output."""
    ads_df, crm_df = build(spark, ads, crm)
    out = transform(ads_df, crm_df)
    n = out.count()
    k = out.select("date", "channel", "campaign_id", "utm_campaign",
                   "utm_source", "utm_medium").distinct().count()
    assert n == k


@given(ads=ads_rows, crm=crm_rows, since=DATES)
@PROP_SETTINGS
def test_since_filter_monotone(spark, ads, crm, since):
    """filter(since) output is exactly the unfiltered rows with date ≥ since."""
    ads_df, crm_df = build(spark, ads, crm)
    full = {tuple(r) for r in transform(ads_df, crm_df).collect()}
    filt = {tuple(r) for r in transform(ads_df, crm_df, since=since).collect()}
    assert filt == {r for r in full if r[0] >= since}


# ---------------------------------------------------------------------------
# interval_bin_join ≡ naive non-equi join, for ANY timestamps/intervals/bin
# ---------------------------------------------------------------------------

_TS = st.integers(0, 3 * 86400)          # seconds within a 3-day window
_SPAN = st.integers(1, 2 * 86400)        # interval length: 1s .. 2 days

interval_rows = st.lists(st.tuples(_TS, _SPAN), min_size=1, max_size=5)
event_ts = st.lists(_TS, min_size=1, max_size=15)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(events=event_ts, intervals=interval_rows,
       bin_hours=st.sampled_from([1, 6, 24]))
def test_interval_bin_join_equals_naive(spark, events, intervals, bin_hours):
    from pyspark.sql import functions as F

    from admira_etl_project_prueba_spark.operators.asof import interval_bin_join

    base = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=s)) for i, s in enumerate(events)],
        "id long, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            (j, base + dt.timedelta(seconds=s), base + dt.timedelta(seconds=s + span))
            for j, (s, span) in enumerate(intervals)
        ],
        "iid long, s timestamp, e timestamp",
    )
    got = {
        (r["id"], r["iid"])
        for r in interval_bin_join(left, ivs, "ts", "s", "e", bin_hours=bin_hours).collect()
    }
    naive = {
        (r["id"], r["iid"])
        for r in left.join(
            ivs, (F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e"))
        ).collect()
    }
    assert got == naive


# ---------------------------------------------------------------------------
# asof_join ≡ naive "latest right at-or-before" for ANY keyed series
# ---------------------------------------------------------------------------

_KEY = st.sampled_from(["k1", "k2"])
_SEC = st.integers(0, 5000)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    left=st.lists(st.tuples(_KEY, _SEC), min_size=1, max_size=10),
    right=st.lists(st.tuples(_KEY, _SEC, st.floats(0, 100, allow_nan=False)),
                   min_size=1, max_size=10,
                   unique_by=lambda r: (r[0], r[1])),  # unique (key, ts)
)
def test_asof_join_equals_naive(spark, left, right):
    from admira_etl_project_prueba_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    ldf = spark.createDataFrame(
        [(i, k, base + dt.timedelta(seconds=s)) for i, (k, s) in enumerate(left)],
        "lid long, key string, lts timestamp",
    )
    rdf = spark.createDataFrame(
        [(k, base + dt.timedelta(seconds=s), v) for k, s, v in right],
        "key string, rts timestamp, payload double",
    )
    got = {
        r["lid"]: r["payload_asof"]
        for r in asof_join(ldf, rdf, on=["key"], left_ts="lts", right_ts="rts",
                           right_payload=["payload"]).collect()
    }
    # naive reference computed in python
    for i, (k, s) in enumerate(left):
        cands = [(rs, v) for rk, rs, v in right if rk == k and rs <= s]
        want = max(cands)[1] if cands else None
        assert got[i] == want, (i, k, s, got[i], want)


WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
doc_texts = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=10,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=doc_texts)
def test_incremental_lsh_equals_full_corpus_cross_pairs(spark, texts):
    """For ANY corpus: batch-vs-store incremental LSH finds exactly the
    cross-split subset of the full-corpus pairs, same jaccards — the
    invariant that makes the persisted-store architecture sound."""
    from admira_etl_project_prueba_spark.operators import textops

    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")
    inc = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in textops.lsh_incremental_pairs(
            new, textops.lsh_signature_store(old)
        ).collect()
    }
    cross = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"])): r["jaccard"]
        for r in textops.lsh_candidate_pairs(docs).collect()
        if (r["doc_a"] % 2) != (r["doc_b"] % 2)
    }
    assert {(min(a, b), max(a, b)): j for (a, b), j in inc.items()} == cross


def test_redact_pii_is_idempotent(spark):
    """redact(redact(x)) == redact(x): placeholders must not themselves
    match any PII pattern, or a second pass (or an attacker-crafted
    placeholder-adjacent string) would corrupt text."""
    from admira_etl_project_prueba_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (1, "a@b.co 10.0.0.1 +12345678 plain", "en"),
            (2, "<EMAIL> literal placeholder stays", "en"),
            (3, "edge a@b.co@c.de and 999.999.999.999", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    once = textops.redact_pii(docs).selectExpr(
        "doc_id", "text_redacted AS text", "'en' AS lang"
    )
    twice = textops.redact_pii(once)
    rows = {r["doc_id"]: r for r in twice.collect()}
    first = {r["doc_id"]: r for r in textops.redact_pii(docs).collect()}
    for i in rows:
        assert rows[i]["text_redacted"] == first[i]["text_redacted"], i
        assert rows[i]["n_pii"] == 0, (i, rows[i])


def test_pagination_partitions_the_result_exactly(spark, sf_dir):
    """Walking pages with the service's paginate() must reproduce the
    full canonically-sorted result with no loss, dup, or overlap."""
    from admira_etl_project_prueba_spark.operators.queries import (
        canonical_sort,
        paginate,
    )
    from admira_etl_project_prueba_spark.plans.catalog import CATALOG

    full_df = CATALOG["ingest_consolidate"].fn(spark, sf_dir)
    want = [tuple(r) for r in canonical_sort(full_df).collect()]
    got, off, page = [], 0, 37  # deliberately not a divisor of the total
    while True:
        chunk = paginate(full_df, limit=page, offset=off).collect()
        if not chunk:
            break
        got.extend(tuple(r) for r in chunk)
        off += page
    assert got == want


# ---------------------------------------------------------------------------
# prefix-filter similarity join: exactness vs brute force on random corpora
# ---------------------------------------------------------------------------

_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
doc_texts = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12).map(" ".join),
    min_size=2,
    max_size=12,
)


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(texts=doc_texts, threshold=st.sampled_from([0.3, 0.5, 0.8]))
def test_prefix_filter_join_equals_brute_force(spark, texts, threshold):
    """AllPairs/PPJoin prefix + length + positional filtering must return
    EXACTLY the brute-force pair set at any threshold — the filters are
    prunes, never approximations.  Small vocabulary forces heavy shingle
    collisions (the prefix filter's worst case)."""
    from admira_etl_project_prueba_spark.operators import textops

    d = spark.createDataFrame(
        [(i, t, "en") for i, t in enumerate(texts)],
        "doc_id long, text string, lang string",
    )
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in textops.prefix_filter_jaccard_pairs(d, threshold=threshold).collect()}
    brute = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in textops.ngram_jaccard_pairs(d, threshold=0.0, id_limit=10**9).collect()
             if r["jaccard"] >= threshold}
    assert got == brute


# ---------------------------------------------------------------------------
# pagerank: mass conservation + teleport floor on random digraphs
# ---------------------------------------------------------------------------

edge_lists = st.lists(
    st.tuples(st.integers(min_value=0, max_value=15),
              st.integers(min_value=0, max_value=15)),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(e=edge_lists)
def test_pagerank_mass_and_floor_on_random_graphs(spark, e):
    """On both arms: the driver rounds (default bound) and the
    distributed loop (bound 0)."""
    from admira_etl_project_prueba_spark.operators import _driver
    from admira_etl_project_prueba_spark.operators.graph import pagerank

    edges = spark.createDataFrame(e, "src long, dst long")
    n = len({x for pair in e for x in pair})
    for bound in (_driver.DRIVER_ROWS_MAX, 0):
        with pytest.MonkeyPatch.context() as m:
            m.setattr(_driver, "DRIVER_ROWS_MAX", bound)
            ranks = [r["rank"] for r in pagerank(edges, iters=2).collect()]
        assert len(ranks) == n
        # conservation up to decimal(25,6) quantization of per-edge
        # contributions
        assert abs(sum(ranks) - 1.0) < max(1e-3, 2e-6 * len(e))
        # every node keeps at least the teleport share
        assert all(r >= 0.15 / n - 1e-9 for r in ranks)


@given(
    uids=st.lists(st.integers(0, 10_000), min_size=1, max_size=60),
    cut=st.integers(0, 59),
)
@PROP_SETTINGS
def test_hll_split_merge_equals_whole(spark, uids, cut):
    """For ANY row split, merging the parts' registers equals sketching
    the whole — the exact algebra the streaming store relies on."""
    from admira_etl_project_prueba_spark.operators.sketches import (
        hll_merge,
        hll_registers,
    )

    cut = min(cut, len(uids))
    rows = [(u,) for u in uids]
    whole = spark.createDataFrame(rows, ["uid"])
    a = spark.createDataFrame(rows[:cut] or [(uids[0],)], ["uid"])
    b = spark.createDataFrame(rows[cut:] or [(uids[-1],)], ["uid"])
    # duplicated boundary rows are harmless: the sketch is idempotent
    direct = {
        r["bucket"]: r["register"]
        for r in hll_registers(whole, "uid").collect()
    }
    merged = {
        r["bucket"]: r["register"]
        for r in hll_merge(
            hll_registers(a, "uid").unionByName(hll_registers(b, "uid"))
        ).collect()
    }
    assert merged == direct


@given(
    updates=st.lists(
        st.tuples(
            st.integers(1, 3),                      # key
            st.sampled_from(["a", "b", "c"]),       # attr
            st.integers(0, 20),                     # ts_us
            st.integers(0, 100),                    # tiebreak seq
        ),
        min_size=1,
        max_size=25,
    )
)
@PROP_SETTINGS
def test_scd2_intervals_partition_the_timeline(spark, updates):
    """For ANY change log: per key, versions are dense 1..n, intervals
    chain exactly (valid_to == next valid_from), never overlap, exactly
    one open current version, and consecutive attrs always differ."""
    from admira_etl_project_prueba_spark.operators.scd import scd2_build

    df = spark.createDataFrame(updates, ["k", "attr", "us", "seq"])
    out = sorted(
        scd2_build(df, "k", ["attr"], "us", "seq").collect(),
        key=lambda r: (r["k"], r["version"]),
    )
    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    for k, vs in by_key.items():
        assert [r["version"] for r in vs] == list(range(1, len(vs) + 1))
        for prev, cur in zip(vs, vs[1:]):
            assert prev["valid_to_us"] == cur["valid_from_us"]  # chained
            assert prev["attr"] != cur["attr"]                  # compressed
            assert not prev["is_current"]
        assert vs[-1]["is_current"] and vs[-1]["valid_to_us"] is None


@given(
    e=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=30,
    )
)
@PROP_SETTINGS
def test_triangle_counts_match_brute_force(spark, e):
    """For ANY small graph (self-loops/dupes/reversed edges included):
    per-node triangle counts equal the brute-force enumeration."""
    from itertools import combinations

    from admira_etl_project_prueba_spark.operators.graph import triangle_counts

    edges = {(min(a, b), max(a, b)) for a, b in e if a != b}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {n: 0 for n in adj}
    for a, b, c in combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                want[n] += 1
    df = spark.createDataFrame(list(e), ["src", "dst"])
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    # contract: self-loop-only nodes carry no non-loop edge, hence no row
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["spark", "join", "flux", "alpha", "beta", "gamma"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(
    max_examples=4,  # each example writes an index to disk
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_bm25_index_equals_scan_on_random_corpora(spark, tmp_path_factory, docs):
    """For ANY corpus (empty docs, repeated terms, absent query terms):
    the index-backed BM25 returns byte-identical results to the scan."""
    from admira_etl_project_prueba_spark.operators.textops import (
        bm25_from_index,
        bm25_rank,
        write_text_index,
    )

    rows = [(i, " ".join(toks) if toks else "filler") for i, toks in enumerate(docs)]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    idx = str(tmp_path_factory.mktemp("bmidx"))
    write_text_index(corpus, idx, num_buckets=8)
    terms = ["spark", "flux", "nosuchterm"]
    want = [tuple(r) for r in bm25_rank(corpus, terms, top_n=10).collect()]
    got = [
        tuple(r)
        for r in bm25_from_index(spark, idx, terms, top_n=10, num_buckets=8).collect()
    ]
    assert got == want


TOKENS_TXT = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "δélta", "x1", ""]),
    max_size=6,
).map(" ".join)


@PROP_SETTINGS
@given(
    texts=st.lists(TOKENS_TXT, min_size=1, max_size=9),
    cut_a=st.integers(0, 9),
    cut_b=st.integers(0, 9),
)
def test_lm_count_store_merge_is_split_invariant(spark, tmp_path_factory, texts, cut_a, cut_b):
    """For ANY corpus (unicode tokens, empty/blank docs) and ANY 3-way
    split, building the count store from the first part and folding the
    other two in — in either order — equals the from-scratch model over
    the whole corpus: integer sufficient statistics make maintenance
    associative and order-free."""
    from admira_etl_project_prueba_spark.operators.textops import (
        lm_cross_entropy,
        lm_scores_from_counts,
        merge_lm_counts,
        write_lm_counts,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    lo, hi = sorted((min(cut_a, len(rows)), min(cut_b, len(rows))))
    parts = [rows[:lo], rows[lo:hi], rows[hi:]]
    frames = [
        spark.createDataFrame(p, "doc_id long, text string") if p else None
        for p in parts
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    path = str(tmp_path_factory.mktemp("lm_prop") / "counts")
    # build from the first non-empty part, fold the rest in
    non_empty = [f for f in frames if f is not None]
    write_lm_counts(non_empty[0], path)
    for f in non_empty[1:]:
        merge_lm_counts(spark, path, f)

    got = {tuple(r) for r in lm_scores_from_counts(spark, corpus, path).collect()}
    want = {tuple(r) for r in lm_cross_entropy(corpus, corpus).collect()}
    assert got == want


# -- attribution trio: reconciliation is an invariant, not a coincidence ----

_attr_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),              # user_id
        st.integers(min_value=0, max_value=10 * 86_400),    # offset seconds
        st.sampled_from(["click", "view", "purchase", "error"]),
        st.floats(min_value=0.0, max_value=500.0,
                  allow_nan=False, allow_infinity=False),
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_attr_events)
@PROP_SETTINGS
def test_attribution_models_reconcile_exactly(spark, rows):
    """For ANY event stream, each attribution model's summed credit equals
    the purchase count EXACTLY and summed revenue equals total purchase
    revenue to decimal precision — including the unattributed bucket.
    (The residual-to-first-touch seam makes this an identity, so plain
    == on the credit side, not approx.)"""
    from admira_etl_project_prueba_spark.operators.analytics import (
        events_decay_attribution,
        events_linear_attribution,
        events_position_attribution,
    )

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (i, base + dt.timedelta(seconds=off), uid, et, round(v, 2), "{}")
            for i, (uid, off, et, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    n_purch = sum(1 for (_, _, et, _) in rows if et == "purchase")
    rev = sum(round(v, 2) for (_, _, et, v) in rows if et == "purchase")
    for model in (
        events_linear_attribution,
        events_position_attribution,
        events_decay_attribution,
    ):
        out = model(ev).collect()
        got_conv = sum(r["attributed_conversions"] for r in out)
        got_rev = sum(r["attributed_revenue"] for r in out)
        assert got_conv == float(n_purch), model.__name__
        assert got_rev == pytest.approx(rev, abs=1e-6), model.__name__
