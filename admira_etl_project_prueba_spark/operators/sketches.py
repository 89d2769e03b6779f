"""Mergeable HyperLogLog registers as first-class DataFrame columns.

Beyond the reference (which has no sketches): at 100 TB you cannot afford
to rescan raw events for every COUNT(DISTINCT) — you materialize tiny
per-partition register frames once and MERGE them (elementwise MAX) for
any later rollup, exactly like production HLL columns in Druid/BigQuery.

Engine-portable by construction, so the whole sketch is DuckDB-oracleable
bit-for-bit (unlike ``approx_count_distinct``, whose HLL++ registers are
engine-internal):

* hash: HEX60 (first 15 md5 hex chars as a 60-bit int) — stable across
  engines, versions and cluster sizes, which is what makes stored
  register frames durable artifacts;
* bucket = hash % m (m = 512, p = 9), remainder value = hash div m
  (51 bits), all int64-exact;
* register rho = 52 - length(bin(value)) (position of the leftmost 1 bit
  in the 51-bit suffix, 52 when the suffix is all zeros) — ``bin()``
  exists in both engines and integer string length replaces float
  ``log2`` (whose float rounding misplaces ``floor(log2(2^k - 1))`` for
  large k);
* the indicator sum Z = sum_j 2^(-M_j) is kept EXACT by scaling to
  2^52: S = sum_j 2^(52 - M_j) fits int64 (512 * 2^52 < 2^62), so the
  raw estimate alpha * m^2 / Z = (alpha * m^2 * 2^52) / S is ONE double
  division of a Python-literal numerator by an exact integer — bit-equal
  in any IEEE engine, no float-summation order dependence.

The small-range (linear-counting) correction needs ``ln``, which is not
correctly-rounded-guaranteed across libms, so it is applied in
:func:`hll_estimate` only when ``correct_small=True`` (default True for
users; the oracle-gated catalog surface exposes the raw estimate plus the
empty-bucket count V so the correction is recomputable downstream).

Scale notes: registers for ANY group-by cardinality G cost G * m rows of
two small ints — a per-day, per-type frame at 100 TB is megabytes.  The
merge is an ordinary groupBy(bucket).max(register): associative,
partial-aggregatable map-side, shuffle ships only registers.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from admira_etl_project_prueba_spark.operators.textops import hex60

#: number of registers (2^9) — relative error ~ 1.04/sqrt(512) = 4.6%
M = 512
#: suffix width in bits (60-bit hash minus 9 bucket bits)
W = 51
#: alpha_m for m >= 128 (Flajolet et al. 2007), baked as a double literal
ALPHA = 0.7213 / (1.0 + 1.079 / M)
#: exact-integer numerator scale: Z is summed as S = Z * 2^52
SCALE = 1 << 52
#: the one float constant both engines divide by S
NUMERATOR = ALPHA * M * M * float(SCALE)


def hll_rho(df: DataFrame, value: str, keep: Sequence[str] = ()) -> DataFrame:
    """Row-local HLL projection: (keep..., bucket, rho) per input row —
    the shared front half of batch registers AND native streaming
    window aggregation (the groupBy-max back half differs)."""
    k = list(keep)
    h = hex60(f"CAST({value} AS STRING)")
    return (
        df.selectExpr(*k, f"{h} AS h")
        .selectExpr(*k, f"h % {M} AS bucket", f"h div {M} AS v")
        .selectExpr(
            *k,
            "bucket",
            f"CAST(CASE WHEN v = 0 THEN {W + 1} ELSE {W + 1} - length(bin(v)) END AS INT) AS rho",
        )
    )


def hll_registers(
    df: DataFrame, value: str, groups: Sequence[str] = ()
) -> DataFrame:
    """Dense per-group HLL registers: one row per (groups..., bucket).

    ``value`` is hashed as a string (HEX60) so any column type sketches
    identically.  Dense output (empty buckets present with register 0)
    makes downstream merges a plain groupBy-max with no outer-join
    gymnastics; the m-row-per-group cost is the point of the sketch.
    """
    g = list(groups)
    sparse = (
        hll_rho(df, value, g)
        .groupBy(*g, "bucket")
        .agg(F.max("rho").alias("register"))
    )
    # densify: groups × (0..m-1) scaffold, missing buckets → register 0.
    # The scaffold explodes a sequence literal per group row (row-local
    # generate — a crossJoin against range(M) would plan a nested loop).
    if g:
        scaffold = sparse.select(*g).distinct()
    else:
        scaffold = sparse.sparkSession.range(1).select()
    scaffold = scaffold.select(
        *g, F.explode(F.sequence(F.lit(0), F.lit(M - 1))).alias("bucket")
    ).withColumn("bucket", F.col("bucket").cast("int"))
    return (
        scaffold.join(sparse, g + ["bucket"], "left")
        .select(*g, "bucket", F.coalesce("register", F.lit(0)).alias("register"))
    )


def hll_merge(registers: DataFrame, groups: Sequence[str] = ()) -> DataFrame:
    """Union sketches: elementwise max over buckets, regrouped to ``groups``.

    Input is any register frame (finer-grained groups allowed); output is
    the merged register frame at the coarser grouping.  Associative and
    idempotent — safe to apply repeatedly, in any partitioning.
    """
    return (
        registers.groupBy(*list(groups), "bucket")
        .agg(F.max("register").alias("register"))
    )


def hll_estimate(
    registers: DataFrame,
    groups: Sequence[str] = (),
    correct_small: bool = True,
) -> DataFrame:
    """Cardinality estimate from a (dense or sparse) register frame.

    Missing buckets count as register 0 via the bucket count: with k rows
    present, (m - k) absent buckets each contribute 2^52 to S and one to V.
    Columns: groups..., est_distinct (double), n_empty_buckets V,
    indicator_scaled S (exact int).  With ``correct_small`` the standard
    linear-counting branch (E <= 2.5m and V > 0 → m * ln(m / V)) replaces
    the raw estimate — it uses ``ln``, hence excluded from the bit-exact
    oracle surface.
    """
    g = list(groups)
    agg = registers.groupBy(*g).agg(
        F.expr(
            f"CAST(SUM(shiftleft(CAST(1 AS BIGINT), 52 - register)) + "
            f"({M} - COUNT(*)) * CAST({SCALE} AS BIGINT) AS BIGINT)"
        ).alias("indicator_scaled"),
        F.expr(
            f"CAST(SUM(CASE WHEN register = 0 THEN 1 ELSE 0 END) + "
            f"({M} - COUNT(*)) AS BIGINT)"
        ).alias("n_empty_buckets"),
    )
    est = agg.withColumn(
        "est_distinct",
        F.expr(f"CAST({NUMERATOR!r} AS DOUBLE) / CAST(indicator_scaled AS DOUBLE)"),
    )
    if correct_small:
        est = est.withColumn(
            "est_distinct",
            F.expr(
                f"CASE WHEN est_distinct <= 2.5 * {M} AND n_empty_buckets > 0 "
                f"THEN {M} * ln({M} / CAST(n_empty_buckets AS DOUBLE)) "
                "ELSE est_distinct END"
            ),
        )
    return est.select(*g, "est_distinct", "n_empty_buckets", "indicator_scaled")


def hll_distinct(
    df: DataFrame,
    value: str,
    groups: Sequence[str] = (),
    correct_small: bool = True,
) -> DataFrame:
    """One-shot convenience: registers → estimate at the same grouping."""
    return hll_estimate(
        hll_registers(df, value, groups), groups, correct_small=correct_small
    )


# ---------------------------------------------------------------------------
# Bloom filter (membership) — completes the sketch triad: CMS counts,
# HLL distincts, Bloom membership.
# ---------------------------------------------------------------------------

#: Bloom geometry: 8192 positions x 4 affine hash rows (same
#: pairwise-independent family as the count-min sketch; arithmetic stays
#: under 2^47 so it is exact in any engine's int64)
BLOOM_M = 8192
BLOOM_K = 4
_M31 = 2_147_483_647


def _bloom_pos_exprs(h: str) -> list[str]:
    return [
        f"CAST((({2 * r + 1} * {h} + {1000 * r + 7}) % {_M31}) % {BLOOM_M} AS INT)"
        for r in range(BLOOM_K)
    ]


def bloom_positions(df: DataFrame, value: str) -> DataFrame:
    """Bloom filter as a SET-BIT POSITIONS frame: distinct ``pos`` over
    k affine hashes of each value — at most m rows total, regardless of
    input size.

    The set-of-positions representation keeps the sketch declarative and
    engine-portable (a packed bitmap would need binary-blob UDFs):
    UNION of two filters is ``unionByName().distinct()``, and the whole
    artifact broadcasts in kilobytes.  The intended role is the 100 TB
    dedup PREFILTER: ship the bloom instead of the full seen-key set,
    drop the (1 - fill)^k of a batch that provably was never seen
    map-side, and send only the survivors into the exact anti-join —
    false positives cost a redundant exact check, never correctness.
    """
    h = f"({hex60(f'CAST({value} AS STRING)')} % {_M31})"
    pos = ", ".join(_bloom_pos_exprs("h"))
    return (
        df.selectExpr(f"{h} AS h")
        .selectExpr(f"explode(array({pos})) AS pos")
        .distinct()
    )


def bloom_maybe_contains(
    items: DataFrame, bloom: DataFrame, value: str, flag: str = "maybe_seen"
) -> DataFrame:
    """Append ``flag``: true iff ALL k positions of ``value`` are set in
    ``bloom`` (no false negatives; false positives at the documented
    rate).  The bloom side is broadcast; the probe is row-local explode +
    broadcast semi-join + count — no shuffle of ``items``."""
    h = f"({hex60(f'CAST({value} AS STRING)')} % {_M31})"
    pos = ", ".join(_bloom_pos_exprs("_bh"))
    # _rid keys the post-explode regroup: grouping by the item columns alone
    # would collapse duplicate rows into one group whose per-position hits
    # no longer match a single row's k probes (sum == dups*k), producing
    # false NEGATIVES for seen values — exactly the at-least-once dedup
    # scenario the prefilter exists for.  The id is generated and consumed
    # inside this one plan, so its partition-dependence is harmless, and
    # min(_hit) is duplicate-safe however the group is keyed.
    probed = (
        items.withColumn("_rid", F.monotonically_increasing_id())
        .selectExpr("*", f"{h} AS _bh")
        .selectExpr("*", f"explode(array({pos})) AS _pos")
        .join(
            F.broadcast(bloom.selectExpr("pos AS _pos", "1 AS _hit")),
            "_pos",
            "left",
        )
        .groupBy("_rid", *items.columns)
        .agg(
            (F.min(F.coalesce("_hit", F.lit(0))) == F.lit(1)).alias(flag)
        )
        .drop("_rid")
    )
    return probed


# ---------------------------------------------------------------------------
# Mergeable fixed-grid histogram → quantile estimates.  The third leg of the
# sketch-store triad (HLL = distinct counts, CMS = frequencies, this =
# quantiles): a bounded-domain equi-width histogram is an EXACT, integer-
# additive sufficient statistic, so unlike t-digest/KLL it merges bit-
# identically on any engine and any split of the data — the property every
# other store in this repo is built around — while bounding quantile error
# by one bin width.
# ---------------------------------------------------------------------------

def value_histogram(
    events: DataFrame,
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 256,
) -> DataFrame:
    """Per-event-type fixed-grid histogram counts — the mergeable
    sufficient statistic behind :func:`histogram_quantiles`.  Values
    clamp into [lo, hi): bin = clamp(floor((v - lo)/width), 0, n_bins-1).

    Scale shape: bin id is row-local arithmetic, the groupBy is map-side
    combined, and the shuffled frame is at most |types| × n_bins rows of
    three ints — cardinality-independent, like the HLL register frame.
    """
    width = (hi - lo) / n_bins
    b = F.greatest(
        F.lit(0),
        F.least(
            F.floor((F.col("value") - F.lit(lo)) / F.lit(width)).cast("long"),
            F.lit(n_bins - 1),
        ),
    )
    return (
        events.select("event_type", b.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def histogram_quantiles(
    hist: DataFrame,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 256,
) -> DataFrame:
    """Quantile estimates from a fixed-grid histogram: for each event
    type and q, rank = ceil(q·total) and the estimate interpolates
    linearly inside the first bin whose cumulative count reaches the
    rank — deterministic to the bit (integer ranks, one IEEE divide and
    fused edge arithmetic), error bounded by one bin width on [lo, hi].

    Scale shape: everything after the histogram runs on the
    |types| × n_bins frame — the cumulative window partitions by type
    over ≤ n_bins rows, the q fan-out is a literal explode, and the
    rank pick is an equi-filter.  The corpus is never touched.
    """
    width = (hi - lo) / n_bins
    from pyspark.sql import Window as W

    cum = hist.withColumn(
        "cum",
        F.sum("n").over(
            W.partitionBy("event_type").orderBy("bin")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    totals = hist.groupBy("event_type").agg(F.sum("n").alias("total"))
    ranks = totals.select(
        "event_type",
        "total",
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
    ).withColumn(
        "rank",
        F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("total"))).cast("long"),
    )
    picked = ranks.join(cum, "event_type").filter(
        (F.col("cum") >= F.col("rank")) & (F.col("cum") - F.col("n") < F.col("rank"))
    )
    return picked.selectExpr(
        "event_type",
        "q",
        "total",
        "rank",
        "bin",
        f"{lo!r} + {width!r} * (bin + CAST(rank - (cum - n) AS DOUBLE) / n)"
        " AS estimate",
    ).orderBy("event_type", "q")


def write_histogram_store(
    events: DataFrame,
    path: str,
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 256,
) -> None:
    """Persist the histogram sufficient statistic (one small file — the
    frame is ≤ |types| × n_bins rows regardless of corpus size) as an
    immutable ``vNNNNNNNN`` snapshot (functions/fs.fold_whole_store) —
    every later merge then lands as the NEXT version, giving readers
    snapshot isolation; the payload is model-sized, so versioning costs
    nothing."""
    from admira_etl_project_prueba_spark.functions.fs import fold_whole_store

    fold_whole_store(
        events.sparkSession,
        path,
        lambda prev: value_histogram(events, lo, hi, n_bins),
    )


def merge_histogram_store(
    spark,
    path: str,
    new_batch: DataFrame,
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 256,
) -> None:
    """Fold a new event batch into the persisted histogram — incremental
    quantile maintenance without re-reading history: the batch reduces
    map-side to ≤ |types| × n_bins increments and merges by integer
    addition (bit-identical to a from-scratch rebuild over the union).
    The leased read-modify-write goes through
    ``functions/fs.fold_whole_store``, which commits the merge as the
    next immutable snapshot (the store is the fold's input AND output —
    an in-place overwrite would delete the only copy mid-job)."""
    from admira_etl_project_prueba_spark.functions.fs import fold_whole_store

    def build(old):
        delta = value_histogram(new_batch, lo, hi, n_bins)
        if old is None:
            return delta
        return (
            old.unionByName(delta)
            .groupBy("event_type", "bin")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    fold_whole_store(spark, path, build)


def quantiles_from_store(
    spark,
    path: str,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 256,
) -> DataFrame:
    """Quantile estimates straight off the persisted histogram — the
    read side never touches the event corpus (resolves the current
    version once at scan start)."""
    from admira_etl_project_prueba_spark.functions.fs import resolve_store_root

    return histogram_quantiles(
        spark.read.parquet(resolve_store_root(spark, path)), qs, lo, hi, n_bins
    )


def value_psi(
    ref_events: DataFrame,
    cur_events: DataFrame,
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 16,
) -> DataFrame:
    """Population stability index per event type between a reference and
    a current event window — the standard go/no-go drift gate for scoring
    and ingest monitors (rule of thumb: < 0.1 stable, > 0.25 investigate).

        psi = Σ_b (p̂_b − q̂_b) · ln(p̂_b / q̂_b)

    over the FULL n_bins fixed grid with add-one smoothing
    (p̂ = (c_ref+1)/(tot_ref+B)), so empty buckets are well-defined on
    both sides.  Exactness seam (the source_token_kl convention): the
    ln difference is computed once per (type, bin) on the
    post-aggregation frame and rounded to the decimal(25,6) grid; the
    weight (p̂−q̂) is cleared of its denominators so the sum is exact
    INTEGER×decimal — psi_num = Σ N_b·lr with
    N_b = (c_r+1)(tot_c+B) − (c_c+1)(tot_r+B), divided once by the
    constant (tot_r+B)(tot_c+B).  Hash-identical on any engine and any
    partitioning.

    Scale shape: two map-side-combined histograms reduce each corpus to
    ≤ |types| × n_bins rows; the full-grid enumeration, joins and the
    exact sum all run on that model-sized frame; totals broadcast.

    Returns (event_type, n_ref, n_cur, psi), present types from either
    side, ordered by type.
    """
    return psi_from_histograms(
        value_histogram(ref_events, lo, hi, n_bins),
        value_histogram(cur_events, lo, hi, n_bins),
        n_bins,
    )


def psi_from_histograms(
    ref_hist: DataFrame, cur_hist: DataFrame, n_bins: int = 16
) -> DataFrame:
    """PSI from two (event_type, bin, n) histogram frames — the seam
    :func:`value_psi` computes through, exposed so persisted/streaming
    histogram stores (``streaming.read_histogram_store``) can be diffed
    WITHOUT re-reading any event corpus: a reference snapshot store vs
    the live store is the standing drift monitor, and both inputs here
    are model-sized."""
    hr = ref_hist.withColumnRenamed("n", "c_r")
    hc = cur_hist.withColumnRenamed("n", "c_c")
    types = (
        hr.select("event_type").union(hc.select("event_type")).distinct()
    )
    grid = types.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
    )
    tot_r = hr.groupBy("event_type").agg(F.sum("c_r").alias("tot_r"))
    tot_c = hc.groupBy("event_type").agg(F.sum("c_c").alias("tot_c"))
    cells = (
        grid.join(hr, ["event_type", "bin"], "left")
        .join(hc, ["event_type", "bin"], "left")
        .join(F.broadcast(tot_r), "event_type", "left")
        .join(F.broadcast(tot_c), "event_type", "left")
        .selectExpr(
            "event_type",
            "coalesce(c_r, CAST(0 AS BIGINT)) AS c_r",
            "coalesce(c_c, CAST(0 AS BIGINT)) AS c_c",
            "coalesce(tot_r, CAST(0 AS BIGINT)) AS tot_r",
            "coalesce(tot_c, CAST(0 AS BIGINT)) AS tot_c",
        )
    )
    b = int(n_bins)
    terms = cells.selectExpr(
        "event_type",
        "tot_r",
        "tot_c",
        f"(c_r + 1) * (tot_c + {b}) - (c_c + 1) * (tot_r + {b}) AS n_b",
        f"CAST(round(ln((c_r + 1) / CAST(tot_r + {b} AS DOUBLE))"
        f" - ln((c_c + 1) / CAST(tot_c + {b} AS DOUBLE)), 6)"
        " AS DECIMAL(25,6)) AS lr",
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.sum(F.col("n_b") * F.col("lr")).alias("num"),
            F.max("tot_r").cast("long").alias("n_ref"),
            F.max("tot_c").cast("long").alias("n_cur"),
        )
        .selectExpr(
            "event_type",
            "n_ref",
            "n_cur",
            f"CAST(num AS DOUBLE) / (CAST(n_ref + {b} AS DOUBLE)"
            f" * CAST(n_cur + {b} AS DOUBLE)) AS psi",
        )
        .orderBy("event_type")
    )
