"""Join-shape analytics (TPC-H Q4/Q7/Q8/Q9/Q12/Q13/Q15/Q17/Q18/Q19/Q22).

Value-level correctness is covered by the DuckDB oracle gate
(plans/catalog.py); these tests pin the *physical plan shapes* that matter
at 100 TB — semi/anti joins that ship keys not payloads, broadcasts on
dim-sized sides — plus cheap semantic invariants at sf0.001.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from admira_etl_project_prueba_spark.operators import analytics
from admira_etl_project_prueba_spark.plans.catalog import CATALOG
from admira_etl_project_prueba_spark.sources.tables import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    names = ("customer", "orders", "lineitem", "supplier", "part", "nation", "region")
    return {n: load_table(spark, sf_dir, n) for n in names}


def test_q4_is_left_semi_join(spark, sf_dir, t):
    df = analytics.q4_order_priority(t["orders"], t["lineitem"])
    assert "LeftSemi" in _plan(df)
    rows = df.collect()
    assert all(r.order_count > 0 for r in rows)
    # semi join never multiplies: per-priority counts bounded by order counts
    total_orders = t["orders"].count()
    assert sum(r.order_count for r in rows) <= total_orders


def test_q22_is_left_anti_join(spark, sf_dir, t):
    df = analytics.q22_lapsed_customers(t["customer"], t["orders"])
    assert "LeftAnti" in _plan(df)
    # every reported customer group holds only above-average balances
    avg_bal = (
        t["customer"].filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal")).first()[0]
    )
    rows = df.collect()
    assert all(r.totacctbal / r.numcust > avg_bal for r in rows)


def test_q13_histogram_covers_all_customers(spark, sf_dir, t):
    df = analytics.q13_customer_distribution(t["customer"], t["orders"])
    assert "LeftOuter" in _plan(df)
    assert df.agg(F.sum("custdist")).first()[0] == t["customer"].count()


def test_q18_threshold_is_respected(spark, sf_dir, t):
    df = analytics.q18_large_volume_customers(t["customer"], t["orders"], t["lineitem"])
    assert df.filter(F.col("sum_qty") <= 300.0).count() == 0


def test_q15_returns_exactly_the_max(spark, sf_dir, t):
    df = analytics.q15_top_supplier(t["supplier"], t["lineitem"])
    rows = df.collect()
    assert len(rows) >= 1
    assert len({round(r.total_revenue, 6) for r in rows}) == 1  # ties share the max


def test_q7_nation_pairs_are_bilateral_only(spark, sf_dir, t):
    rows = analytics.q7_volume_shipping(t).collect()
    pairs = {(r.supp_nation, r.cust_nation) for r in rows}
    assert pairs <= {("NATION_1", "NATION_2"), ("NATION_2", "NATION_1")}


def test_q8_share_is_a_proper_fraction(spark, sf_dir, t):
    rows = analytics.q8_market_share(t).collect()
    assert rows and all(0.0 <= r.mkt_share <= 1.0 for r in rows)


def test_dim_sides_are_broadcast(spark, sf_dir, t):
    # q19's part side and q17's branded-part side must be broadcast, keeping
    # the single lineitem scan shuffle-free up to the final aggregate.
    for df in (
        analytics.q19_disjunctive_revenue(t["part"], t["lineitem"]),
        analytics.q17_small_quantity_revenue(t["part"], t["lineitem"]),
    ):
        assert "BroadcastHashJoin" in _plan(df)


def test_new_queries_are_registered_with_oracles():
    for name in (
        "q4_order_priority",
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_profit",
        "q12_priority_shipping",
        "q13_customer_distribution",
        "q15_top_supplier",
        "q17_small_quantity_revenue",
        "q18_large_volume_customers",
        "q19_disjunctive_revenue",
        "q22_lapsed_customers",
    ):
        assert name in CATALOG and CATALOG[name].oracle is not None


def test_json_props_parse_is_typed_and_complete(spark, sf_dir):
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    out = analytics.events_props_stats(ev)
    assert out.agg(F.sum("n_events")).first()[0] == ev.count()  # no dropped rows
    assert dict(out.dtypes)["sum_k"] == "bigint"


def test_approx_distinct_error_bound(spark, sf_dir):
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    for r in analytics.events_approx_distinct(ev).collect():
        rel = abs(r["approx_users"] - exact[r["event_type"]]) / exact[r["event_type"]]
        assert rel < 0.05, (r["event_type"], rel)


def test_approx_percentiles_rank_error_bound(spark, sf_dir):
    """GK-sketch quantiles: each approximation must sit within the n/acc
    rank-error window of the exact order statistics."""
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    acc = 10_000
    vals = {
        et: sorted(v["value"] for v in grp)
        for et, grp in __import__("itertools").groupby(
            sorted(ev.select("event_type", "value").collect(), key=lambda r: r["event_type"]),
            key=lambda r: r["event_type"],
        )
    }
    for r in analytics.events_approx_percentiles(ev, accuracy=acc).collect():
        xs, n = vals[r["event_type"]], len(vals[r["event_type"]])
        assert r["n_events"] == n
        for p, got in ((0.5, r["p50_approx"]), (0.9, r["p90_approx"]), (0.99, r["p99_approx"])):
            lo = xs[max(0, int(p * n) - max(1, n // acc) - 1)]
            hi = xs[min(n - 1, int(p * n) + max(1, n // acc))]
            assert lo <= got <= hi, (r["event_type"], p, got, lo, hi)


def test_type_trend_matches_closed_form_sql(spark, sf_dir):
    """The applyInPandas OLS must agree with the closed-form slope computed
    declaratively in Spark SQL on the same daily series."""
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    got = {r["event_type"]: r for r in analytics.events_type_trend(ev).collect()}

    daily = ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("y"))
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("day")
    xy = daily.withColumn("x", F.row_number().over(w) - 1)
    stats = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("xm"),
        F.avg("y").alias("ym"),
        F.sum(F.col("x") * F.col("y")).alias("sxy_raw"),
        F.sum(F.col("x") * F.col("x")).alias("sxx_raw"),
    )
    for r in stats.collect():
        sxx = r["sxx_raw"] - r["n"] * r["xm"] ** 2
        sxy = r["sxy_raw"] - r["n"] * r["xm"] * r["ym"]
        want_slope = sxy / sxx
        g = got[r["event_type"]]
        assert g["n_days"] == r["n"]
        assert g["slope"] == pytest.approx(want_slope, rel=1e-9)
        assert 0.0 <= g["r2"] <= 1.0
    # the Python hop must be Arrow-grouped, not row-at-a-time
    plan = analytics.events_type_trend(ev)._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan and "BatchEvalPython" not in plan


def test_sql_surface_matches_dataframe_api(spark, sf_dir, t):
    """register_tables exposes the same engine through spark.sql: a pure-SQL
    Q6 must produce the identical value (same Catalyst plan space)."""
    from admira_etl_project_prueba_spark.sources.tables import register_tables

    register_tables(spark, sf_dir)
    sql_rev = spark.sql("""
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6)))
                    AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP_NTZ '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """).first()["revenue"]
    df_rev = analytics.q6_revenue_forecast(t["lineitem"]).first()["revenue"]
    assert sql_rev == df_rev  # bit-identical: same decimal-sum plan


def test_retention_cohort_invariants(spark, sf_dir):
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    rows = analytics.events_retention_cohorts(ev).collect()
    day0 = {r["cohort"]: r["n_users"] for r in rows if r["day_n"] == 0}
    # every user appears in their own cohort's day 0
    assert sum(day0.values()) == ev.select("user_id").distinct().count()
    # retention never exceeds the cohort's size
    for r in rows:
        assert 0 < r["n_users"] <= day0[r["cohort"]]
        assert r["day_n"] >= 0


def test_funnel_stages_are_monotone(spark, sf_dir):
    from admira_etl_project_prueba_spark.sources.tables import load_events

    r = analytics.events_funnel_ordered(load_events(spark, sf_dir)).first()
    assert (
        r["n_users"]
        >= r["reached_click"]
        >= r["reached_signup_after_click"]
        >= r["reached_full_funnel"]
        >= 0
    )


def test_correlation_matches_numpy_and_is_single_agg(
    spark, sf_dir, plan_operators
):
    """The decimal cross-moment Pearson r must agree with numpy's corrcoef
    on the same pairs, and the plan must be one hash aggregate (no window,
    no second shuffle, no Python)."""
    import numpy as np

    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    df = analytics.events_value_correlation(ev)
    got = {r["event_type"]: r for r in df.collect()}

    pdf = (
        ev.select(
            "event_type",
            F.col("value").alias("x"),
            F.from_json("props", "k INT").getField("k").cast("double").alias("y"),
        )
        .toPandas()
    )
    for et, grp in pdf.groupby("event_type"):
        want = np.corrcoef(grp["x"], grp["y"])[0, 1]
        g = got[et]
        assert g["n"] == len(grp)
        assert -1.0 <= g["pearson_r"] <= 1.0
        assert g["pearson_r"] == pytest.approx(want, rel=1e-9)

    # collect() finalized AQE; count exchanges in the final plans only
    ops = plan_operators(df)
    # one shuffle: the groupBy
    assert ops["ShuffleExchangeExec"] + ops["BroadcastExchangeExec"] == 1
    assert "BatchEvalPythonExec" not in ops
    assert not any("Window" in op for op in ops)


def test_q6_scan_prunes_columns_and_pushes_filters(spark, sf_dir, t):
    """SCALE.md's pushdown claim, pinned: the Q6 parquet scan reads only
    the 4 referenced columns and pushes the range predicates to the
    reader."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        analytics.q6_revenue_forecast(t["lineitem"]).explain("formatted")
    plan = buf.getvalue()
    scan = plan[plan.index("ReadSchema") :]
    read_schema = scan.splitlines()[0]
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"):
        assert col in read_schema
    for col in ("l_orderkey", "l_partkey", "l_tax", "l_returnflag"):
        assert col not in read_schema  # pruned
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan  # range reached the reader


def test_profiler_single_scan_and_null_accounting(spark):
    """The profile runs as ONE aggregation over ONE scan, and null/distinct
    accounting is exact."""
    from admira_etl_project_prueba_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")], "k long, v string"
    )
    out = {r["column"]: r for r in profile_columns(df).collect()}
    assert out["k"]["n_rows"] == 4 and out["k"]["n_nonnull"] == 3
    assert out["k"]["n_distinct"] == 3 and out["k"]["min_str"] == "1"
    assert out["v"]["n_nonnull"] == 3 and out["v"]["n_distinct"] == 2
    plan = profile_columns(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan") == 1  # one pass for all columns


def test_anomaly_zscore_semantics(spark, sf_dir):
    """Z-scores have zero mean per type (population), flags fire only
    beyond the threshold, and a planted spike is flagged."""
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    rows = analytics.events_anomaly_zscore(ev).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    for et, grp in by_type.items():
        zs = [r["zscore"] for r in grp if r["zscore"] is not None]
        if zs:
            assert sum(zs) == pytest.approx(0.0, abs=1e-9)
        for r in grp:
            want = r["zscore"] is not None and abs(r["zscore"]) > 2.0
            assert r["is_anomaly"] == want

    # planted: a 100x spike day must be the anomaly
    base = [("2024-01-%02d 12:00:00" % d, "buy", 10.0) for d in range(1, 11)]
    spike = [("2024-01-11 12:00:00", "buy", 1000.0)]
    df = spark.createDataFrame(
        base + spike, "ts_s string, event_type string, value double"
    ).selectExpr("CAST(ts_s AS timestamp) AS ts", "event_type", "value")
    flagged = {
        r["day"]
        for r in analytics.events_anomaly_zscore(df).collect()
        if r["is_anomaly"]
    }
    assert flagged == {"2024-01-11"}


def test_dau_wau_invariants(spark, sf_dir):
    """WAU ≥ DAU every day; WAU never exceeds the 7-day union computed
    naively; a planted user active on day 1 counts in day 1-7 windows."""
    from admira_etl_project_prueba_spark.sources.tables import load_events

    rows = {r["day"]: r for r in analytics.events_dau_wau(load_events(spark, sf_dir)).collect()}
    assert rows and all(r["wau"] >= r["dau"] > 0 for r in rows.values())

    planted = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1), ("2024-01-07 10:00:00", 2), ("2024-01-09 10:00:00", 3)],
        "ts_s string, user_id long",
    ).selectExpr("CAST(ts_s AS timestamp) AS ts", "user_id")
    got = {r["day"]: (r["dau"], r["wau"]) for r in analytics.events_dau_wau(planted).collect()}
    # day 7: user 1 (active day 1) still in the trailing window with user 2
    assert got["2024-01-07"] == (1, 2)
    # day 9: user 1 aged out (window 3-9), users 2 and 3 remain
    assert got["2024-01-09"] == (1, 2)


def test_q21_sole_late_supplier_semantics(spark):
    """Literal fixture: only orders with >1 supplier and exactly one late
    supplier count, and the late supplier gets the blame."""
    import datetime as dt

    def ts(s):
        return dt.datetime.fromisoformat(s)

    lineitem = spark.createDataFrame(
        [
            # order 1: two suppliers, only supplier 10 late  -> counts
            (1, 10, ts("2024-06-01")),
            (1, 20, ts("2024-01-05")),
            # order 2: two suppliers, both late              -> excluded
            (2, 10, ts("2024-06-01")),
            (2, 20, ts("2024-06-01")),
            # order 3: single supplier, late                 -> excluded
            (3, 10, ts("2024-06-01")),
            # order 4: open order (status O), would count    -> excluded
            (4, 10, ts("2024-06-01")),
            (4, 20, ts("2024-01-05")),
        ],
        "l_orderkey long, l_suppkey long, l_shipdate timestamp_ntz",
    )
    orders = spark.createDataFrame(
        [
            (1, "F", ts("2024-01-01")),
            (2, "F", ts("2024-01-01")),
            (3, "F", ts("2024-01-01")),
            (4, "O", ts("2024-01-01")),
        ],
        "o_orderkey long, o_orderstatus string, o_orderdate timestamp_ntz",
    )
    supplier = spark.createDataFrame(
        [(10, "Supp#10", 1), (20, "Supp#20", 1)],
        "s_suppkey long, s_name string, s_nationkey int",
    )
    nation = spark.createDataFrame(
        [(1, "SPAIN", 0)], "n_nationkey int, n_name string, n_regionkey int"
    )
    rows = analytics.q21_late_sole_suppliers(
        supplier, lineitem, orders, nation
    ).collect()
    assert len(rows) == 1
    assert rows[0]["s_name"] == "Supp#10"
    assert rows[0]["nation"] == "SPAIN"
    assert rows[0]["numwait"] == 1


def test_q21_single_lineitem_shuffle(spark, sf_dir):
    """Decorrelated plan: lineitem is scanned ONCE (no self-join) and the
    dim joins are broadcast."""
    df = analytics.q21_late_sole_suppliers(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "nation"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 1
    assert "BroadcastHashJoin" in plan


def test_trailing_range_window_semantics(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    ev = spark.createDataFrame(
        [
            (1, base, 7, "click", 10.0, "{}"),
            (2, base + dt.timedelta(minutes=30), 7, "click", 5.0, "{}"),
            # exactly 60 min after event 1 — RANGE bound is inclusive
            (3, base + dt.timedelta(minutes=60), 7, "click", 1.0, "{}"),
            # 61 min after event 2's window start excludes event 1
            (4, base + dt.timedelta(minutes=91), 7, "click", 2.0, "{}"),
            (5, base, 8, "click", 100.0, "{}"),  # other user: isolated
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    out = {
        r["event_id"]: r
        for r in analytics.events_trailing_window_load(ev).collect()
    }
    assert out[1]["n_trailing"] == 1
    assert out[2]["n_trailing"] == 2 and out[2]["value_trailing"] == 15.0
    assert out[3]["n_trailing"] == 3 and out[3]["value_trailing"] == 16.0
    assert out[4]["n_trailing"] == 2 and out[4]["value_trailing"] == 3.0
    assert out[5]["n_trailing"] == 1 and out[5]["value_trailing"] == 100.0


def test_sketch_rollup_merge_equals_whole_and_bounds_error(spark, sf_dir):
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    out = analytics.events_distinct_rollup_sketched(ev)
    rows = {r["day"]: r for r in out.collect()}
    exact_all = ev.select("user_id").distinct().count()
    # merged estimate must EQUAL a direct sketch over the raw stream
    # (HLL union of same-precision sketches is lossless)
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(F.col("user_id"), F.lit(12)))
        .cast("long")
        .alias("e")
    ).collect()[0]["e"]
    assert rows["ALL"]["approx_users"] == direct
    # bounded error vs exact (HLL lg_k=12 ⇒ ~1.6% rse; allow 5σ)
    assert abs(rows["ALL"]["approx_users"] - exact_all) / exact_all < 0.08
    # n_events conservation: ALL row equals the sum of the day rows
    assert rows["ALL"]["n_events"] == sum(
        r["n_events"] for d, r in rows.items() if d != "ALL"
    )
    # per-day error bound on a few days
    days = [d for d in rows if d != "ALL"][:3]
    for d in days:
        exact_d = (
            ev.filter(F.date_format("ts", "yyyy-MM-dd") == d)
            .select("user_id")
            .distinct()
            .count()
        )
        assert abs(rows[d]["approx_users"] - exact_d) <= max(3, 0.08 * exact_d)


def test_latest_per_user_is_one_row_per_user(spark, sf_dir):
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    out = analytics.events_latest_per_user(ev)
    assert out.count() == ev.select("user_id").distinct().count()
    # the surviving ts is that user's max
    mx = ev.groupBy("user_id").agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("mts")
    )
    joined = out.join(mx, "user_id").filter("ts_str <> mts")
    assert joined.count() == 0


def test_q16_reduces_fact_before_join(spark, sf_dir, t=None):
    df = analytics.q16_supplier_part_counts(
        load_table(spark, sf_dir, "part"), load_table(spark, sf_dir, "lineitem")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the distinct-pair HashAggregate must sit BELOW the part join
    assert "BroadcastHashJoin" in plan
    below_join = plan.split("BroadcastHashJoin", 1)[1]
    assert "lineitem.parquet" in below_join
    assert "HashAggregate" in below_join.split("lineitem.parquet", 1)[0]


def test_grouping_sets_composition(spark, sf_dir):
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    rows = analytics.events_grouping_sets(ev).collect()
    gids = {r["gid"] for r in rows}
    assert gids == {0, 1, 2}  # (day,type), (day), (type) — no grand total
    # the (day) slice must equal the sum over types for a sample day
    by_day = [r for r in rows if r["gid"] == 1]
    d = by_day[0]["day"]
    fine = [r for r in rows if r["gid"] == 0 and r["day"] == d]
    assert sum(r["n_events"] for r in fine) == by_day[0]["n_events"]


def test_contiguous_ids_dense_ordered_and_parallel(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = analytics.assign_contiguous_ids(docs, ["doc_id"], n_ranges=8)
    rows = out.orderBy("doc_id").collect()
    # dense 1..N, and order follows doc_id exactly
    assert [r["row_id"] for r in rows] == list(range(1, len(rows) + 1))
    # the scalable plan property: the only single-partition exchange feeds
    # the per-range-partition COUNTS aggregate (n_ranges rows), never the
    # data — whereas naive row_number() OVER (ORDER BY …) funnels every
    # data row through one partition (its SinglePartition feeds a Sort)
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    feeds = [
        m.split("+-", 1)[1].strip()
        for m in re.findall(r"Exchange SinglePartition[^\n]*\n\s*\+-[^\n]*", plan)
    ]
    assert feeds and all(f.startswith("HashAggregate(keys=[_pid") for f in feeds)
    naive = docs.withColumn(
        "row_id", F.row_number().over(Window.orderBy("doc_id"))
    )
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    naive_feeds = re.findall(
        r"Exchange SinglePartition[^\n]*\n\s*\+-[^\n]*", naive_plan
    )
    assert any("Scan" in f or "Project" in f for f in naive_feeds)


def test_gapfill_inserts_missing_days_and_forward_fills(spark):
    import datetime as dt

    ev = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 10), 1, "click", 10.0, "{}"),
            # Jan 2-3 missing entirely
            (2, dt.datetime(2024, 1, 4, 10), 1, "click", 5.0, "{}"),
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    )
    rows = {r["day"]: r for r in analytics.events_daily_gapfill(ev).collect()}
    assert sorted(rows) == ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]
    gap = rows["2024-01-02"]
    assert gap["n_events"] == 0 and gap["day_value"] == 0.0
    assert gap["last_observed_value"] == 10.0      # forward-filled
    assert gap["running_value"] == 10.0
    assert rows["2024-01-04"]["running_value"] == 15.0


def test_histogram_conserves_rows_and_clamps(spark, sf_dir):
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    out = analytics.events_value_histogram(ev)
    assert out.agg(F.sum("n")).first()[0] == ev.count()   # nothing dropped
    assert out.filter("bin < -1 OR bin > 19").count() == 0


def test_type_transitions_probabilities_and_counts(spark):
    import datetime as _dt

    rows = [
        # user 1: a -> b -> a ; user 2: a -> a
        (1, _dt.datetime(2024, 1, 1, 0, 0, 0), 1, "a", 1.0, None),
        (2, _dt.datetime(2024, 1, 1, 0, 1, 0), 1, "b", 1.0, None),
        (3, _dt.datetime(2024, 1, 1, 0, 2, 0), 1, "a", 1.0, None),
        (4, _dt.datetime(2024, 1, 1, 0, 0, 0), 2, "a", 1.0, None),
        (5, _dt.datetime(2024, 1, 1, 0, 5, 0), 2, "a", 1.0, None),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    out = {
        (r["prev_type"], r["next_type"]): (r["n_transitions"], r["p_transition"])
        for r in analytics.events_type_transitions(ev).collect()
    }
    assert out[("a", "b")] == (1, 0.5)   # a -> b and a -> a split a's mass
    assert out[("a", "a")] == (1, 0.5)
    assert out[("b", "a")] == (1, 1.0)
    # no cross-user transition (user 2's first event has no predecessor)
    assert sum(n for n, _ in out.values()) == 3


def test_zorder_key_interleaves_bits_exactly(spark):
    from admira_etl_project_prueba_spark.operators.layout import zorder_keys

    df = spark.createDataFrame([(5, 3)], "x long, y long")  # 0b101, 0b011
    z = zorder_keys(df, ["x", "y"], bits=3).collect()[0]["zkey"]
    # x bits at even positions, y bits at odd: 1,1,0,1,1,0 -> 0b011011 = 27
    assert z == 27


def test_zorder_write_clusters_both_columns(spark, tmp_path):
    from admira_etl_project_prueba_spark.operators.layout import (
        write_zordered,
        zorder_keys,
    )

    # 32x32 grid; linear order would leave y unclustered everywhere
    grid = spark.range(1024).selectExpr("id % 32 AS x", "id div 32 AS y")
    path = str(tmp_path / "zordered")
    write_zordered(grid.repartition(8), path, ["x", "y"], bits=5, num_files=8)
    back = spark.read.parquet(path)
    assert back.count() == 1024
    assert set(back.columns) == {"x", "y"}
    # within each output file both x and y spans are tight vs the full 0..31
    spans = (
        back.selectExpr("x", "y", "input_file_name() AS f")
        .groupBy("f")
        .agg(
            F.max("x").alias("xmax"), F.min("x").alias("xmin"),
            F.max("y").alias("ymax"), F.min("y").alias("ymin"),
        )
        .collect()
    )
    assert len(spans) > 1
    mean_span = sum((r["xmax"] - r["xmin"]) + (r["ymax"] - r["ymin"]) for r in spans) / len(spans)
    assert mean_span < 2 * 31  # strictly better than unclustered on both axes


def test_session_funnel_enforces_order_within_session(spark):
    import datetime as _dt

    def ev(eid, minute, uid, typ):
        return (eid, _dt.datetime(2024, 1, 1, 10, minute), uid, typ, 1.0, None)

    rows = [
        # user 1 session: full ordered funnel
        ev(1, 0, 1, "view"), ev(2, 1, 1, "click"), ev(3, 2, 1, "purchase"),
        # user 2 session: purchase BEFORE view — must NOT count as step 3
        ev(4, 0, 2, "purchase"), ev(5, 1, 2, "view"), ev(6, 2, 2, "click"),
        # user 3 session: view only
        ev(7, 0, 3, "view"),
        # user 4 session: no funnel steps at all
        ev(8, 0, 4, "error"),
        # user 1 SECOND session (>30 min gap): view then click, no purchase
        ev(9, 50, 1, "view"), ev(10, 51, 1, "click"),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    got = {r["steps_completed"]: r["n_sessions"]
           for r in analytics.events_session_funnel(events).collect()}
    assert got == {3: 1, 2: 2, 1: 1, 0: 1}


def test_anomaly_mad_resists_single_spike(spark):
    import datetime as _dt

    # 9 quiet days + one 100x spike: MAD flags the spike; the spike's own
    # magnitude cannot inflate the yardstick (50% breakdown point)
    rows = []
    eid = 0
    for day in range(1, 11):
        v = 1000.0 if day == 7 else 10.0 + (day % 3)
        eid += 1
        rows.append((eid, _dt.datetime(2024, 1, day, 12), 1, "view", v, None))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    out = {r["day"]: r for r in analytics.events_anomaly_mad(ev).collect()}
    assert out["2024-01-07"]["is_anomaly"]
    assert sum(1 for r in out.values() if r["is_anomaly"]) == 1


def test_anomaly_mad_constant_series_yields_null_scores(spark):
    import datetime as _dt

    rows = [(d, _dt.datetime(2024, 1, d, 12), 1, "view", 5.0, None) for d in range(1, 6)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    out = analytics.events_anomaly_mad(ev).collect()
    assert all(r["mscore"] is None and not r["is_anomaly"] for r in out)


def test_fk_audit_counts_orphans_and_nulls(spark, sf_dir, t):
    names = {"lineitem": t["lineitem"], "orders": t["orders"], "part": t["part"],
             "supplier": t["supplier"], "customer": t["customer"],
             "nation": t["nation"], "region": t["region"]}
    clean = {r["relation"]: r for r in analytics.fk_integrity_audit(names).collect()}
    assert all(r["n_orphans"] == 0 and r["n_null_fk"] == 0 for r in clean.values())
    # plant one orphan and one NULL in orders.o_custkey
    from pyspark.sql import functions as F
    broken = names | {
        "orders": names["orders"]
        .withColumn(
            "o_custkey",
            F.when(F.col("o_orderkey") == names["orders"].first()["o_orderkey"],
                   F.lit(10**9)).otherwise(F.col("o_custkey")),
        )
        .unionByName(
            names["orders"].limit(1).withColumn("o_custkey", F.lit(None).cast("long"))
        )
    }
    got = {r["relation"]: r for r in analytics.fk_integrity_audit(broken).collect()}
    r = got["orders.o_custkey -> customer"]
    assert r["n_orphans"] == 1 and r["n_null_fk"] == 1
    # the audit ships keys only: every parent probe is a broadcast
    # left-outer join (single pass — no anti-join + nested-loop recombine)
    plan = analytics.fk_integrity_audit(names)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "NestedLoop" not in plan


def test_scd2_build_and_point_in_time(spark):
    """Planted change log: same-instant dedup keeps the tiebreak-greatest
    update, consecutive equal attrs compress away, intervals are
    half-open, and the as-of probe sees the new version at its start."""
    from admira_etl_project_prueba_spark.operators.scd import (
        scd2_build,
        scd2_point_in_time,
    )

    # (key, status, ts_us, seq)
    updates = [
        (1, "bronze", 100, 1),
        (1, "silver", 100, 2),   # same instant: seq 2 wins, bronze vanishes
        (1, "silver", 200, 3),   # no-op re-assert: compressed away
        (1, "gold", 300, 4),
        (2, "bronze", 150, 5),
    ]
    dim = scd2_build(
        spark.createDataFrame(updates, ["k", "status", "us", "seq"]),
        "k", ["status"], "us", "seq",
    )
    rows = {(r["k"], r["version"]): r for r in dim.collect()}
    assert len(rows) == 3
    assert rows[(1, 1)]["status"] == "silver"
    assert rows[(1, 1)]["valid_from_us"] == 100
    assert rows[(1, 1)]["valid_to_us"] == 300      # compressed: jumps to gold
    assert rows[(1, 2)]["status"] == "gold" and rows[(1, 2)]["is_current"]
    assert rows[(2, 1)]["valid_to_us"] is None

    facts = spark.createDataFrame(
        [(10, 1, 99), (11, 1, 100), (12, 1, 299), (13, 1, 300), (14, 2, 500)],
        ["fact_id", "k", "fts"],
    )
    got = {
        r["fact_id"]: (r["status_asof"], r["version_asof"])
        for r in scd2_point_in_time(
            facts, dim, "k", "fts", ["status", "version"]
        ).collect()
    }
    assert got[10] == (None, None)          # before first version
    assert got[11] == ("silver", 1)         # boundary: sees the NEW version
    assert got[12] == ("silver", 1)
    assert got[13] == ("gold", 2)
    assert got[14] == ("bronze", 1)


def test_cohort_retention_invariants(spark, sf_dir):
    """Offset-0 retention is exactly 1.0; rates are proper fractions;
    cohort sizes partition the user base."""
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    rows = analytics.events_cohort_retention(ev).collect()
    assert rows
    assert len({r["week_offset"] for r in rows}) > 1  # a matrix, not a point
    for r in rows:
        assert 0.0 < r["retention_rate"] <= 1.0
        assert r["week_offset"] >= 0
        if r["week_offset"] == 0:
            assert r["n_active_users"] == r["n_cohort_users"]
    sizes = {r["cohort_week"]: r["n_cohort_users"] for r in rows}
    assert sum(sizes.values()) == ev.select("user_id").distinct().count()


def test_debounce_suppresses_planted_retries(spark):
    """Planted retry burst: chained suppression drops every follower
    within the window; a different event_type never suppresses."""
    rows = [
        (1, 100, "click", 0),          # anchor (us)
        (2, 100, "click", 2_000_000),  # retry: suppressed
        (3, 100, "click", 4_000_000),  # chained retry: suppressed
        (4, 100, "view", 2_000_000),   # other type: kept
        (5, 100, "click", 20_000_000), # outside window: kept
        (6, 200, "click", 1_000_000),  # other user: kept
    ]
    ev = spark.createDataFrame(
        [(i, u, t, us) for i, u, t, us in rows],
        ["event_id", "user_id", "event_type", "us_in"],
    ).selectExpr(
        "event_id", "user_id", "event_type",
        "CAST(timestamp_micros(us_in) AS TIMESTAMP_NTZ) AS ts",
        "CAST(1.0 AS DOUBLE) AS value",
    )
    kept = {r["event_id"] for r in analytics.events_debounce(ev, 5).collect()}
    assert kept == {1, 4, 5, 6}


def test_linear_attribution_reconciles_and_splits(spark):
    """Credit splits equally across in-window touches; totals reconcile
    with the conversion count; out-of-window and no-touch paths work."""
    day = 86_400_000_000
    rows = [
        # user 1: two touches then a 10.0 purchase → 0.5 credit each
        (1, 1, "click", 1 * day, 0.0),
        (2, 1, "view", 2 * day, 0.0),
        (3, 1, "purchase", 3 * day, 10.0),
        # user 2: only touch is OUTSIDE the 7-day lookback → unattributed
        (4, 2, "click", 1 * day, 0.0),
        (5, 2, "purchase", 10 * day, 7.0),
        # user 3: touch AFTER the purchase → unattributed
        (6, 3, "view", 5 * day, 0.0),
        (7, 3, "purchase", 4 * day, 3.0),
    ]
    ev = spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "us_in", "value"]
    ).selectExpr(
        "event_id", "user_id", "event_type",
        "CAST(timestamp_micros(us_in) AS TIMESTAMP_NTZ) AS ts", "value",
    )
    got = {
        r["touch_type"]: r
        for r in analytics.events_linear_attribution(ev).collect()
    }
    assert got["click"]["attributed_conversions"] == 0.5
    assert got["view"]["attributed_conversions"] == 0.5
    assert got["click"]["attributed_revenue"] == 5.0
    assert got["unattributed"]["attributed_conversions"] == 2.0
    assert got["unattributed"]["attributed_revenue"] == 10.0
    total_credit = sum(r["attributed_conversions"] for r in got.values())
    assert total_credit == 3.0  # one unit per conversion, exactly


def test_pivot_unpivot_roundtrip_and_conservation(spark, sf_dir):
    """unpivot(pivot(x)) is total on the day x type grid, and pivoted
    cell sums conserve the raw decimal total per type."""
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    wide = analytics.events_daily_pivot(ev)
    long = analytics.events_unpivot_daily_values(wide)
    n_days = wide.count()
    assert long.count() == n_days * len(analytics.EVENT_TYPES)
    raw = {
        r["event_type"]: float(r["s"])
        for r in ev.groupBy("event_type")
        .agg(F.sum(F.col("value").cast("decimal(25,6)")).alias("s"))
        .collect()
    }
    got = {
        r["event_type"]: r["s"]
        for r in long.groupBy("event_type")
        .agg(F.sum(F.col("total_value").cast("decimal(25,6)")).cast("double").alias("s"))
        .collect()
    }
    for t, v in raw.items():
        assert got[t] == pytest.approx(v, abs=1e-6)
    # schema is data-independent: explicit columns, fixed order
    assert wide.columns == ["day"] + [f"{t}_value" for t in analytics.EVENT_TYPES]


def test_aqp_estimates_cover_exact_totals(spark, sf_dir):
    """The 95% CIs from the 10% deterministic sample cover the exact
    per-day totals at roughly the nominal rate (>= 80% of days), and
    estimates are unbiased enough to land within 3 CI half-widths."""
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    est = {r["day"]: r for r in analytics.events_aqp_daily_totals(ev).collect()}
    exact = {
        r["day"]: float(r["t"])
        for r in ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(25,6)")).alias("t"))
        .collect()
    }
    assert set(est) <= set(exact)
    covered = sum(
        1 for d, r in est.items() if r["ci_low"] <= exact[d] <= r["ci_high"]
    )
    assert covered >= 0.8 * len(est), (covered, len(est))
    # tightness only where the variance ESTIMATE has support (the
    # sf0.001 fixture has ~35 events/day -> 1-9 sampled; a 1-row day's
    # estimated variance says nothing about the mass it missed)
    for d, r in est.items():
        assert r["n_sampled"] > 0
        if r["n_sampled"] >= 10:
            half = (r["ci_high"] - r["ci_low"]) / 2
            assert abs(r["est_total"] - exact[d]) <= 3 * half
    # the aggregate estimator is tight even when single days are noisy
    tot_est = sum(r["est_total"] for r in est.values())
    tot = sum(exact[d] for d in est)
    assert abs(tot_est - tot) <= 0.15 * tot


def test_autocorr_detects_planted_period(spark):
    """A period-2 alternating series has strongly negative lag-1 ACF and
    strongly positive lag-2 ACF; a constant series yields NULL (0/0)."""
    import datetime as dt

    rows = []
    base = dt.datetime(2024, 1, 1)
    for d in range(28):
        # alternating series for type 'alt'; constant for type 'flat'
        rows.append(("alt", base + dt.timedelta(days=d), 100.0 if d % 2 == 0 else 10.0))
        rows.append(("flat", base + dt.timedelta(days=d), 50.0))
    ev = spark.createDataFrame(
        [(i, t, ts, v) for i, (t, ts, v) in enumerate(rows)],
        ["event_id", "event_type", "ts", "value"],
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    got = {
        (r["event_type"], r["lag"]): r["acf"]
        for r in analytics.events_daily_autocorr(ev).collect()
    }
    assert got[("alt", 1)] < -0.8
    assert got[("alt", 2)] > 0.8
    assert got[("flat", 1)] is None  # zero variance: 0/0 is honest NULL


def test_winsorize_clamps_only_the_tails(spark, sf_dir):
    """Clipped fraction ≈ 2% by construction; clamped values sit inside
    [p_lo, p_hi]; inliers pass through bit-identical."""
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    out = analytics.events_winsorize(ev).collect()
    n = len(out)
    clipped = [r for r in out if r["was_clipped"]]
    assert 0 < len(clipped) <= 0.05 * n
    for r in out:
        if not r["was_clipped"]:
            assert r["value_winsorized"] == r["value"]
    # winsorized range per type is a subset of the raw range
    for t in {r["event_type"] for r in out}:
        vals = [r["value_winsorized"] for r in out if r["event_type"] == t]
        raw = [r["value"] for r in out if r["event_type"] == t]
        assert min(vals) >= min(raw) and max(vals) <= max(raw)


def test_value_histogram_minmax_partitions_and_bounds(spark, sf_dir):
    """Bin counts partition the events; every bin's [lo, hi) nests in the
    type's [min, max]; max value folds into the last bin."""
    from admira_etl_project_prueba_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    rows = analytics.events_value_histogram_minmax(ev).collect()
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert 0 <= r["bin"] <= 19
        assert r["bin_lo"] <= r["bin_hi"]


def test_profile_drift_flags_planted_changes(spark):
    """Data-contract audit: injected nulls move null_rate past the
    tolerance, a collapsed id column moves distinct_ratio, a stable
    column stays un-flagged, and an all-NULL column's (NULL, NULL)
    range counts as unchanged (null-safe compare)."""
    from admira_etl_project_prueba_spark.operators.profile import profile_drift

    old = spark.createDataFrame(
        [(i, f"u{i}", "stable", None) for i in range(100)],
        "id long, uniq string, const string, empty string",
    )
    new = spark.createDataFrame(
        # 20% null ids (null-rate drift), uniq collapsed to 2 values
        # (distinct-ratio drift), const/empty unchanged
        [(None if i % 5 == 0 else i, f"u{i % 2}", "stable", None)
         for i in range(100)],
        "id long, uniq string, const string, empty string",
    )
    got = {r["column"]: r for r in profile_drift(old, new).collect()}
    assert got["id"]["drifted"] and got["id"]["null_rate_delta"] > 0.15
    assert got["uniq"]["drifted"] and got["uniq"]["distinct_ratio_delta"] < -0.9
    assert not got["const"]["drifted"] and not got["const"]["range_moved"]
    assert not got["empty"]["range_moved"]  # NULL range == NULL range


def test_events_anomaly_dow_catches_weekly_pattern_break(spark):
    """A type with a strong weekly pattern (high Mondays): a normal Monday
    is NOT anomalous under the dow-adjusted score, but a Monday-sized
    total landing on a Tuesday is — the case the plain z-score misses or
    inverts."""
    import datetime as dt

    from admira_etl_project_prueba_spark.operators.analytics import (
        events_anomaly_dow,
    )

    rows = []
    eid = 0
    base = dt.datetime(2024, 1, 1)  # a Monday
    for week in range(6):
        for d in range(7):
            ts = base + dt.timedelta(days=week * 7 + d)
            val = 100.0 if d == 0 else 10.0  # Mondays 10x the rest
            rows.append((eid, ts, 1, "t", val, "{}"))
            eid += 1
    # week 6: the Monday spike lands on TUESDAY instead
    ts = base + dt.timedelta(days=42)
    rows.append((eid, ts, 1, "t", 10.0, "{}"))        # quiet Monday
    rows.append((eid + 1, ts + dt.timedelta(days=1), 1, "t", 100.0, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r["day"]: r for r in events_anomaly_dow(ev).collect()}
    assert not out["2024-01-08"]["is_anomaly"]   # normal Monday: normal
    assert out["2024-02-13"]["is_anomaly"]       # Monday-sized Tuesday: flagged
    assert out["2024-02-12"]["is_anomaly"]       # quiet Monday: flagged too
    # dow is epoch-day mod 7: 2024-01-01 (Monday) -> 19723 % 7 == 4
    assert out["2024-01-01"]["dow"] == 4


def test_user_rfm_segments_planted(spark):
    import datetime as dt

    from admira_etl_project_prueba_spark.operators.analytics import (
        user_rfm_segments,
    )

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # user 1: recent, frequent, big spender; user 4: old, rare, cheap
    spec = {1: (30, 8, 100.0), 2: (20, 6, 50.0), 3: (10, 4, 20.0), 4: (0, 2, 5.0)}
    for uid, (day, n, val) in spec.items():
        for i in range(n):
            rows.append((eid, base + dt.timedelta(days=day, hours=i), uid,
                         "purchase", val, "{}"))
            eid += 1
        rows.append((eid, base + dt.timedelta(days=day), uid, "view", 1.0, "{}"))
        eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r["user_id"]: r for r in user_rfm_segments(ev, exact=True).collect()}
    assert set(out) == {1, 2, 3, 4}          # view-only rows don't create users
    assert out[1]["segment"] == "444" and out[4]["segment"] == "111"
    assert out[1]["recency_days"] == 0        # anchor is the max purchase ts
    assert out[4]["recency_days"] == 30
    assert out[2]["frequency"] == 6 and out[2]["monetary"] == 300.0


def test_position_attribution_u_shape_and_reconciliation(spark):
    """4 touches: 0.4/0.1/0.1/0.4 split; reconciliation invariants hold
    exactly (credit total == conversion count; revenue total == purchase
    revenue) including the no-touch 'unattributed' bucket."""
    import datetime as dt

    from admira_etl_project_prueba_spark.operators.analytics import (
        events_position_attribution,
    )

    base = dt.datetime(2024, 3, 1)
    rows = [
        # user 1: click, view, view, click then a 100.0 purchase
        (1, base + dt.timedelta(hours=0), 1, "click", 0.0, "{}"),
        (2, base + dt.timedelta(hours=1), 1, "view", 0.0, "{}"),
        (3, base + dt.timedelta(hours=2), 1, "view", 0.0, "{}"),
        (4, base + dt.timedelta(hours=3), 1, "click", 0.0, "{}"),
        (5, base + dt.timedelta(hours=4), 1, "purchase", 100.0, "{}"),
        # user 2: purchase with no touches -> unattributed
        (6, base, 2, "purchase", 30.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r["touch_type"]: r for r in events_position_attribution(ev).collect()}
    # first(click)=0.4 + last(click)=0.4, middles(view)=0.1 each
    assert abs(out["click"]["attributed_conversions"] - 0.8) < 1e-9
    assert abs(out["view"]["attributed_conversions"] - 0.2) < 1e-9
    assert abs(out["click"]["attributed_revenue"] - 80.0) < 1e-9
    assert abs(out["view"]["attributed_revenue"] - 20.0) < 1e-9
    assert out["unattributed"]["attributed_conversions"] == 1.0
    assert out["unattributed"]["attributed_revenue"] == 30.0
    # hard reconciliation: totals equal conversions / revenue EXACTLY
    assert sum(r["attributed_conversions"] for r in out.values()) == 2.0
    assert sum(r["attributed_revenue"] for r in out.values()) == 130.0


def test_basket_part_lift_planted(spark):
    """Parts 10 and 11 co-occur in 3 of 6 baskets while each appears in
    4 -> lift 1.125; part 99 never pairs above support and is absent."""
    from admira_etl_project_prueba_spark.operators.analytics import (
        basket_part_lift,
    )

    baskets = {
        1: [10, 11, 99], 2: [10, 11], 3: [10, 11],
        4: [10, 20], 5: [11, 20], 6: [20, 99],
    }
    rows = [(o, p) for o, parts in baskets.items() for p in parts]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = {(r["part_a"], r["part_b"]): r
           for r in basket_part_lift(li, min_support=3, top_n=10).collect()}
    assert set(out) == {(10, 11)}
    r = out[(10, 11)]
    assert (r["n_ab"], r["n_a"], r["n_b"]) == (3, 4, 4)
    assert r["confidence_a_to_b"] == 0.75
    assert r["lift"] == 3 * 6 / (4 * 4)  # 1.125


def test_decay_attribution_halves_per_day_and_reconciles(spark):
    """Two touches 0 and 1 day old: weights 1 and 0.5 -> shares 2/3 and
    1/3; totals reconcile exactly including the unattributed bucket."""
    import datetime as dt

    from admira_etl_project_prueba_spark.operators.analytics import (
        events_decay_attribution,
    )

    conv = dt.datetime(2024, 3, 10, 12)
    rows = [
        (1, conv - dt.timedelta(days=1, minutes=1), 1, "click", 0.0, "{}"),
        (2, conv - dt.timedelta(minutes=1), 1, "view", 0.0, "{}"),
        (3, conv, 1, "purchase", 90.0, "{}"),
        (4, conv, 2, "purchase", 10.0, "{}"),  # no touches
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r["touch_type"]: r for r in events_decay_attribution(ev).collect()}
    assert abs(out["view"]["attributed_conversions"] - 2 / 3) < 1e-6
    assert abs(out["click"]["attributed_conversions"] - 1 / 3) < 1e-6
    assert abs(out["view"]["attributed_revenue"] - 60.0) < 1e-4
    assert out["unattributed"]["attributed_conversions"] == 1.0
    # exact reconciliation despite decimal rounding of the 1/3 share
    assert sum(r["attributed_conversions"] for r in out.values()) == 2.0
    assert sum(r["attributed_revenue"] for r in out.values()) == 100.0


def test_events_session_paths_planted(spark):
    import datetime as dt

    from admira_etl_project_prueba_spark.operators.analytics import (
        events_session_paths,
    )

    base = dt.datetime(2024, 4, 1)
    rows = []
    eid = 0
    # 3 users walk view>click>purchase in one session; 1 user walks
    # view>view; a >30min gap splits user 9 into two single-event sessions
    for uid in (1, 2, 3):
        for i, et in enumerate(["view", "click", "purchase"]):
            rows.append((eid, base + dt.timedelta(minutes=i), uid, et, 1.0, "{}"))
            eid += 1
    rows.append((eid, base, 5, "view", 1.0, "{}")); eid += 1
    rows.append((eid, base + dt.timedelta(minutes=1), 5, "view", 1.0, "{}")); eid += 1
    rows.append((eid, base, 9, "view", 1.0, "{}")); eid += 1
    rows.append((eid, base + dt.timedelta(minutes=45), 9, "view", 1.0, "{}")); eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {r["path"]: r for r in events_session_paths(ev).collect()}
    # 6 sessions total: 3 converting, 1 view>view, 2 lone views
    assert out["view>click>purchase"]["n_sessions"] == 3
    assert out["view>click>purchase"]["converting"] is True
    assert out["view>click>purchase"]["share"] == 0.5
    assert out["view"]["n_sessions"] == 2 and out["view"]["converting"] is False
    assert out["view>view"]["n_sessions"] == 1


def test_cohort_ltv_cumulative_per_user(spark):
    import datetime as dt

    from admira_etl_project_prueba_spark.operators.analytics import cohort_ltv

    w0 = dt.datetime(2024, 1, 1)  # a Monday (week start both engines)
    rows = [
        # cohort w0: users 1,2 join; user 1 buys 10 in w0 and 30 in w1
        (1, w0, 1, "view", 0.0, "{}"),
        (2, w0 + dt.timedelta(days=1), 1, "purchase", 10.0, "{}"),
        (3, w0, 2, "view", 0.0, "{}"),
        (4, w0 + dt.timedelta(days=8), 1, "purchase", 30.0, "{}"),
        # cohort w1: user 3 joins and buys 5
        (5, w0 + dt.timedelta(days=7), 3, "purchase", 5.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = {(r["cohort_week"], r["week_offset"]): r for r in cohort_ltv(ev).collect()}
    a = out[("2024-01-01", 0)]
    assert (a["n_cohort_users"], a["revenue"], a["cum_revenue"]) == (2, 10.0, 10.0)
    assert a["cum_ltv_per_user"] == 5.0
    b = out[("2024-01-01", 1)]
    assert (b["revenue"], b["cum_revenue"], b["cum_ltv_per_user"]) == (30.0, 40.0, 20.0)
    c = out[("2024-01-08", 0)]
    assert (c["n_cohort_users"], c["cum_ltv_per_user"]) == (1, 5.0)


def test_supplier_lead_time_exact_percentiles(spark):
    import datetime as dt

    from admira_etl_project_prueba_spark.operators.analytics import (
        supplier_lead_time,
    )

    o = dt.datetime(2024, 1, 1)
    orders = spark.createDataFrame([(1, o)], "o_orderkey long, o_orderdate timestamp")
    # supplier 7 ships lines with lags 1..10 days on one order
    li = spark.createDataFrame(
        [(1, 7, i, o + dt.timedelta(days=i)) for i in range(1, 11)],
        "l_orderkey long, l_suppkey long, l_linenumber int, l_shipdate timestamp",
    )
    r = supplier_lead_time(li, orders).collect()[0]
    assert r["suppkey"] == 7 and r["n_lines"] == 10
    assert r["mean_days"] == 5.5
    assert r["p50_days"] == 5   # ceil(10*0.5) = rank 5 -> lag 5
    assert r["p90_days"] == 9   # ceil(10*0.9) = rank 9 -> lag 9


def test_checked_hll_frames_zero_guard_and_null_day(spark):
    """Gate-twin robustness (round-9 review): a group whose user_ids are
    all NULL has exact_users = 0 — the tolerance divide must not NULL
    the flag (contract degenerates to 'sketch also says 0'), and a NULL
    ts must survive the rollup's day join (null-safe), matching the
    oracle's GROUP BY semantics."""
    rows = [
        ("click", "u1", "2024-01-01 10:00:00"),
        ("click", "u2", "2024-01-01 11:00:00"),
        ("ghost", None, "2024-01-02 10:00:00"),  # all-NULL user group
        ("view", "u3", None),                     # NULL ts -> NULL day
    ]
    ev = spark.createDataFrame(
        rows, "event_type string, user_id string, ts_s string"
    ).selectExpr("event_type", "user_id", "CAST(ts_s AS TIMESTAMP) AS ts")

    got = {
        r["event_type"]: r
        for r in analytics.events_approx_distinct_checked(ev).collect()
    }
    assert got["ghost"]["exact_users"] == 0
    assert got["ghost"]["hll_within_tol"] == 1  # not NULL, not a crash
    assert got["click"]["hll_within_tol"] == 1

    roll = {r["day"]: r for r in analytics.events_distinct_rollup_checked(ev).collect()}
    assert None in roll            # NULL-day row kept (null-safe join)
    assert roll[None]["exact_users"] == 1
    assert roll["ALL"]["exact_users"] == 3
    assert all(r["hll_within_tol"] == 1 for r in roll.values())
