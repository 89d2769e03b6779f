"""Streaming ingest — the reference's batch pipeline as a continuous one.

The reference has no streaming at all ("real-time" in its README means
on-demand batch pull; its own design doc proposes Kafka+Spark only as
future work — /root/reference/SYSTEM_DESIGN.md:106-110).  This module is
the evolution that doc asks for, built on Structured Streaming:

* ``stream_envelopes``  — a file-source stream of envelope JSON (swap for
  ``readStream.format("kafka")`` in production: the value column contract
  is identical) decoded with the SAME ``from_json`` schemas as batch.
* ``stream_metrics_ingest`` — the batch ``transform()`` dataflow applied
  to each micro-batch via ``foreachBatch``, its increments landed in a
  ``batch_id``-partitioned log that ``MetricsStore.fold_stream_log``
  folds into the fact store exactly once, so the streaming path
  converges to exactly the batch result even under replay (tested).
* ``windowed_event_counts`` — watermarked tumbling-window aggregation for
  late data, the canonical streaming-rollup shape.

Scale posture: state is bounded by the watermark; `availableNow`
triggers give reproducible tests and backfill runs.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from admira_etl_project_prueba_spark.functions.dates import parse_flexible_timestamp
from admira_etl_project_prueba_spark.functions.fs import (
    clean_version_scratch,
    commit_version,
    dir_nonempty,
    fold_whole_store,
    is_file_not_found,
    maintenance_lease,
    path_exists,
    resolve_store_root,
    version_scratch,
)
from admira_etl_project_prueba_spark.operators.transform import transform
from admira_etl_project_prueba_spark.schemas import (
    ADS_ENVELOPE_SCHEMA,
    CRM_ENVELOPE_SCHEMA,
)


def stream_envelopes(
    spark: SparkSession, path: str, source: str = "ads"
) -> DataFrame:
    """File-source stream of envelope JSON lines → flat typed rows.

    One JSON envelope per line; the decode is the same declarative
    from_json + explode as the batch path, so batch and streaming cannot
    drift semantically.
    """
    schema = ADS_ENVELOPE_SCHEMA if source == "ads" else CRM_ENVELOPE_SCHEMA
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 8)
        .load(path)
    )
    env = raw.select(F.from_json("value", schema).alias("env"))
    if source == "ads":
        flat = env.select(F.explode(F.col("env.external.ads.performance")).alias("r")).select(
            "r.*"
        )
    else:
        flat = (
            env.select(F.explode(F.col("env.external.crm.opportunities")).alias("r"))
            .select("r.*")
            .withColumnRenamed("created_at", "created_at_raw")
            .withColumn("created_at", parse_flexible_timestamp("created_at_raw"))
            .withColumn("_date_fallback", F.col("created_at").isNull())
        )
    return flat.withColumn("ingested_at", F.current_timestamp())


def stream_metrics_ingest(
    source_stream: DataFrame,
    source: str,
    log_path: str,
    checkpoint_dir: str,
    ingested_at: dt.datetime | None = None,
    since: str | None = None,
    stream_id: str | None = None,
) -> StreamingQuery:
    """EXACTLY-ONCE streaming `/ingest/run`: the encode half of the
    log+fold pair that lands conformed increments in the fact store
    (S1→A1→F1→S5 with snapshot isolation end to end).

    Upserting each micro-batch directly would be correct under
    Structured Streaming's normal once-per-batch contract, but an
    at-least-once REPLAY (checkpoint loss, foreachBatch retry after a
    partial failure) would re-sum the same increments: additive
    measures cannot tell a replay from a genuine second batch.  This
    writer takes the CMS/PQ-encode-log recipe instead: each micro-batch
    is conformed and consolidated by the SAME batch operators
    (``transform`` — conform → union-agg → derive → since-filter) and
    its increments land in a ``batch_id``-partitioned log with dynamic
    partition overwrite, so a replayed batch overwrites its own
    partition instead of duplicating.  The leased maintenance fold —
    :meth:`store.MetricsStore.fold_stream_log` — drains the log into the
    fact store, recording folded batch_ids in a ledger that commits
    ATOMICALLY with each payload version; the pair is exactly-once under
    arbitrary crash/replay on either side (pytest-pinned: replayed batch
    no-ops, stream-end state hash-equals a one-shot batch ingest).

    Splitting encode (hot path, no lease) from fold (leased maintenance)
    keeps micro-batches from ever contending with compaction — the same
    shape as every other streaming store here.

    ``stream_id`` (default: the source name) namespaces this query's
    partitions and ledger keys — micro-batch ids are only unique per
    query, so two sources (or a replay from a fresh checkpoint) sharing
    one log would otherwise collide on ``batch_id=0``: one stream's
    overwrite would silently destroy the other's increments, and the
    ledger would skip genuinely new batches as already-folded.  Distinct
    queries writing one log MUST use distinct stream_ids."""
    sid = source if stream_id is None else str(stream_id)
    # strict charset, not a denylist: Spark percent-escapes many more
    # chars than ':/\' in partition directory names ('=', '%', '#',
    # '[', unicode, ...), while fold_stream_log's cleanup builds RAW
    # f"stream_id={sid}/batch_id={b}" paths — an escaped id would make
    # those deletes silently miss and already-folded log partitions
    # would accumulate and be re-scanned forever.  Within this charset
    # the raw path IS the written directory name.
    import re as _re

    if not sid or not _re.fullmatch(r"[A-Za-z0-9._-]+", sid):
        raise ValueError(
            f"invalid stream_id: {sid!r} (want [A-Za-z0-9._-]+ — other "
            "chars are percent-escaped in partition dir names, which "
            "would desync the fold's ledger-keyed cleanup paths)"
        )
    stream = source_stream
    if ingested_at is not None:
        stream = stream.withColumn(
            "ingested_at", F.lit(ingested_at).cast("timestamp")
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        from admira_etl_project_prueba_spark.schemas import (
            ADS_SCHEMA,
            CRM_PARSED_SCHEMA,
        )

        if source == "ads":
            ads, crm = batch_df, spark.createDataFrame([], CRM_PARSED_SCHEMA)
        else:
            ads, crm = spark.createDataFrame([], ADS_SCHEMA), batch_df
        inc = transform(ads, crm, since=since)
        (
            inc.withColumn("stream_id", F.lit(sid))
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .partitionBy("stream_id", "batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(log_path)
        )

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)
# open-session state: epoch-microsecond bounds + running aggregates
SESSION_STATE_SCHEMA = "start long, last long, n long, value double"


def streaming_sessionize(
    events_stream: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator: streaming session windows via
    ``applyInPandasWithState`` (the semantics of the batch ``sessionize``
    operator, applied to an unbounded stream).

    Per user, arriving events either extend the open session (gap ≤
    ``gap_minutes``) or close it and start a new one.  Closed sessions are
    emitted immediately; the open session lives in the state store with an
    event-time timeout at ``session_end + gap``, so when the watermark
    passes that point the session is finalized and emitted — identical
    closure rule to the batch operator, evaluated incrementally.

    Scale shape: state is one fixed-width row per ACTIVE user (four
    numbers), not per event; the watermark bounds how long inactive users
    linger.  Arrow batches move whole user-groups, so the Python hop is
    vectorized, not per-row.
    """
    import pandas as pd  # local: worker-side dependency of the UDF
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n, value = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.to_datetime(start, unit="us")],
                    "session_end": [pd.to_datetime(last, unit="us")],
                    "n_events": [n],
                    "total_value": [value],
                }
            )
            return

        batches = [p for p in pdfs if len(p)]
        if not batches:
            return
        df = pd.concat(batches).sort_values("ts")
        ts_us = df["ts"].values.astype("datetime64[us]").astype("int64")
        vals = df["value"].values

        if state.exists:
            start, last, n, value = state.get
        else:
            start, last, n, value = int(ts_us[0]), int(ts_us[0]), 0, 0.0

        closed = []
        for t, v in zip(ts_us, vals):
            if n and t - last > gap_us:
                closed.append((start, last, n, value))
                start, n, value = t, 0, 0.0
            start = min(start, t)  # late-but-in-watermark event may predate
            last = max(last, t)
            n += 1
            value += float(v)

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": pd.to_datetime([c[0] for c in closed], unit="us"),
                    "session_end": pd.to_datetime([c[1] for c in closed], unit="us"),
                    "n_events": [c[2] for c in closed],
                    "total_value": [c[3] for c in closed],
                }
            )

        state.update((int(start), int(last), int(n), float(value)))
        # finalize once the watermark passes session_end + gap
        state.setTimeoutTimestamp((int(last) + gap_us) // 1000)

    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to the same
    user's click within the preceding ``attribution_window``.

    The canonical two-sided stateful join: both sides buffer state, and the
    time-range condition + watermarks bound it — a click older than
    (watermark + window) can never match a future purchase, so Spark evicts
    it.  Without the range condition the state would grow forever; this
    shape is why stream-stream joins REQUIRE event-time bounds in
    production.
    """
    c = clicks.selectExpr(
        "user_id", "ts AS click_ts", "event_id AS click_id"
    ).withWatermark("click_ts", watermark)
    p = purchases.selectExpr(
        "user_id", "ts AS purchase_ts", "event_id AS purchase_id", "value"
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (c["user_id"] == p["user_id"])
        & (p["purchase_ts"] >= c["click_ts"])
        & (p["purchase_ts"] <= c["click_ts"] + F.expr(f"INTERVAL {attribution_window}"))
    )
    return c.join(p, cond, "inner").select(
        c["user_id"],
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "value",
    )


def stream_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same key arriving
    within the watermark (``dropDuplicatesWithinWatermark``).

    The at-least-once ingestion companion: upstream retries/replays emit
    the same record more than once; this keeps the first arrival per key
    and — unlike plain ``dropDuplicates`` on a stream — EVICTS each key's
    state once the watermark passes it, so state is bounded by the
    duplicate-arrival horizon instead of growing with stream lifetime.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window rollup per event_type.

    The watermark bounds state: windows older than max(event time) −
    watermark are finalized and evicted, so state size is O(active
    windows × types) forever — the property that lets this run for months
    on an unbounded stream.
    """
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


NEAR_DUP_OUT_SCHEMA = "doc_a long, doc_b long, hamming int, ts timestamp"
# per-bucket state: parallel arrays of seen fingerprints/ids + last event µs
NEAR_DUP_STATE_SCHEMA = "hashes array<long>, ids array<long>, last long"


def stream_near_dup_matches(
    doc_stream: DataFrame,
    watermark: str = "1 hour",
    bits: int = 60,
    n_bands: int = 4,
    max_hamming: int = 3,
    bucket_cap: int = 256,
) -> DataFrame:
    """Custom stateful operator: STREAMING SimHash near-duplicate detection
    — the incremental twin of the batch ``simhash_near_dup_pairs``.

    Input is a document stream (ts, doc_id, text).  Each document's SimHash
    is computed row-locally (the same portable expression as batch), split
    into ``n_bands`` pigeonhole bands, and each (band, value) bucket keeps
    the fingerprints seen within the watermark horizon in the state store
    (``applyInPandasWithState``).  A new document emits (doc_a=prior,
    doc_b=new, hamming, ts) for every in-horizon prior doc within
    ``max_hamming`` — identical pair semantics to the batch operator,
    restricted to arrival order.  A pair matching in several bands emits
    once: only the LOWEST matching band (recomputed from both fingerprints)
    reports it, so no cross-band dedup pass is needed downstream.

    Scale/state contract: state per active bucket is two int64 arrays
    capped at ``bucket_cap`` (FIFO eviction — a cap hit means that bucket
    is pathologically hot and exact-dup territory anyway) and is dropped
    wholesale when the watermark passes the bucket's last arrival (event-
    time timeout).  The Python hop is Arrow-batched per bucket group.
    Corpus-wide, horizon-unbounded dedup is the batch/incremental path
    (``lsh_incremental_pairs``); this catches re-posts within the horizon.
    """
    import pandas as pd  # local: worker-side dependency of the UDF
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from admira_etl_project_prueba_spark.operators.textops import hex60, TOKENS

    assert max_hamming < n_bands, "pigeonhole needs max_hamming < n_bands"
    width = bits // n_bands
    mask = (1 << width) - 1
    horizon_us = _interval_us(watermark)

    hashes = f"transform({TOKENS}, t -> {hex60('t')})"
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * size(filter(h, x -> (x >> {j}) & 1 = 1)) > size(h) "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    banded = (
        doc_stream.withWatermark("ts", watermark)
        .selectExpr("ts", "doc_id", f"{hashes} AS h")
        .selectExpr("ts", "doc_id", f"{bit_terms} AS simhash")
        # explode the band INDEX and derive the value as a row expression
        # (same reshape as the batch operator): a transform()-built struct
        # array would re-evaluate the interpreted fingerprint lambda per
        # banded row after projection collapse
        .selectExpr(
            "ts", "doc_id", "simhash", f"explode(sequence(0, {n_bands - 1})) AS band"
        )
        .selectExpr(
            "ts",
            "doc_id",
            "simhash",
            "band",
            f"(simhash >> (band * {width})) & {mask} AS val",
        )
    )

    def lowest_common_band(a: int, b: int) -> int:
        for band in range(n_bands):
            if (a >> (band * width)) & mask == (b >> (band * width)) & mask:
                return band
        return -1

    def fn(key, pdfs, state: GroupState):
        band = int(key[0])
        if state.hasTimedOut:
            state.remove()
            return

        batches = [p for p in pdfs if len(p)]
        if not batches:
            return
        df = pd.concat(batches).sort_values(["ts", "doc_id"])

        if state.exists:
            hs, ids, last = state.get
            hs, ids = list(hs), list(ids)
        else:
            hs, ids, last = [], [], 0

        out_a, out_b, out_h, out_ts = [], [], [], []
        ts_us = df["ts"].values.astype("datetime64[us]").astype("int64")
        for t, did, sh in zip(ts_us, df["doc_id"].values, df["simhash"].values):
            sh = int(sh)
            for prior_h, prior_id in zip(hs, ids):
                ham = bin(prior_h ^ sh).count("1")
                # claim the pair only in its lowest shared band — every
                # other matching band computes the same winner and stays
                # silent, so each pair is emitted exactly once stream-wide
                if ham <= max_hamming and lowest_common_band(prior_h, sh) == band:
                    out_a.append(int(prior_id))
                    out_b.append(int(did))
                    out_h.append(ham)
                    out_ts.append(t)
            hs.append(sh)
            ids.append(int(did))
            last = max(last, int(t))
        if len(hs) > bucket_cap:
            hs, ids = hs[-bucket_cap:], ids[-bucket_cap:]

        state.update((hs, ids, int(last)))
        state.setTimeoutTimestamp((last + horizon_us) // 1000)

        if out_a:
            yield pd.DataFrame(
                {
                    "doc_a": out_a,
                    "doc_b": out_b,
                    "hamming": out_h,
                    "ts": pd.to_datetime(out_ts, unit="us"),
                }
            )

    return banded.groupBy("band", "val").applyInPandasWithState(
        fn,
        outputStructType=NEAR_DUP_OUT_SCHEMA,
        stateStructType=NEAR_DUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _interval_us(interval: str) -> int:
    """'2 hours' → microseconds (the units Structured Streaming uses)."""
    n, unit = interval.split()
    per = {
        "second": 1_000_000, "seconds": 1_000_000,
        "minute": 60_000_000, "minutes": 60_000_000,
        "hour": 3_600_000_000, "hours": 3_600_000_000,
        "day": 86_400_000_000, "days": 86_400_000_000,
    }[unit]
    return int(n) * per


def stream_decontaminate(
    doc_stream: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
) -> DataFrame:
    """Stream-static decontamination: flag documents in an unbounded
    ingest stream that share any k-token shingle with a STATIC benchmark/
    eval set — the batch ``decontaminate`` operator's streaming twin.

    The canonical stream-static broadcast shape, kept STATELESS: a
    streaming groupBy would drag in watermark-delayed emission, so the
    benchmark's distinct hashes are collapsed into a single sorted array,
    cross-joined (broadcast, 1 row) onto the stream, and each document's
    overlap is a row-local ``array_intersect`` — no state store, no
    shuffle, verdicts emit in the arriving micro-batch.  Eval sets are
    thousands of documents (≈10^5 shingles ≈ 1 MB broadcast), so the
    per-row set probe is cheap; corpus-scale×corpus-scale overlap is the
    batch operator's job.

    Returns (ts, doc_id, n_overlap, contaminated) in append mode.
    """
    from admira_etl_project_prueba_spark.operators.textops import (
        MERSENNE31,
        TOKENS,
        _shingle_expr,
        hex60,
        shingle_hashes,
    )

    bench_set = (
        shingle_hashes(benchmark, k)
        .selectExpr("explode(sh) AS h")
        .distinct()
        .agg(F.sort_array(F.collect_list("h")).alias("bench"))
    )
    # shingle the stream inline (shingle_hashes drops ts, and joining the
    # stream back to itself would be a stream-stream join)
    sh_stream = (
        doc_stream.selectExpr("ts", "doc_id", f"{TOKENS} AS t")
        .selectExpr("ts", "doc_id", f"{_shingle_expr(k)} AS shingles")
        .selectExpr(
            "ts",
            "doc_id",
            f"array_distinct(transform(shingles, s -> {hex60('s')} % {MERSENNE31})) AS sh",
        )
    )
    return sh_stream.crossJoin(F.broadcast(bench_set)).selectExpr(
        "ts",
        "doc_id",
        "CAST(size(array_intersect(sh, bench)) AS BIGINT) AS n_overlap",
        "size(array_intersect(sh, bench)) > 0 AS contaminated",
    )


def stream_dsir_weights(
    doc_stream: DataFrame,
    dist_path: str,
    out_path: str,
    checkpoint_dir: str,
    n_buckets: int = 4096,
):
    """Streaming DSIR scoring: weight every arriving document against a
    PERSISTED model (``textops.write_dsir_dists``) and append the
    verdicts — the mixture-design scorer running at ingest time.

    foreachBatch, stateless across batches: per micro-batch the shared
    batch scoring core runs with the dense (n_buckets-row, KBs) log-ratio
    frame broadcast — features reduce map-side within the batch, the
    corpus-time distributions are never recomputed, and no streaming
    state store is involved (each doc's weight depends only on itself and
    the frozen model).  At-least-once replays rewrite the same verdict
    rows (weights are deterministic), so the appended log is
    re-aggregation-safe by doc_id.
    """
    from admira_etl_project_prueba_spark.operators.textops import (
        dsir_weights_from_dists,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        scored = dsir_weights_from_dists(spark, batch_df, dist_path, n_buckets)
        scored.write.mode("append").parquet(out_path)

    return (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_lm_scores(
    doc_stream: DataFrame,
    dist_path: str,
    out_path: str,
    checkpoint_dir: str,
    n_buckets: int = 8192,
):
    """Streaming LM quality scoring: cross-entropy every arriving
    document against a PERSISTED reference LM
    (``textops.write_lm_dists``) and append the verdicts — the CCNet
    perplexity-filter shape running at ingest time.

    Same contract as :func:`stream_dsir_weights`: foreachBatch,
    stateless across batches (each doc's score depends only on itself
    and the frozen model, which broadcasts at KB size), deterministic
    under at-least-once replay so the appended log is
    re-aggregation-safe by doc_id.
    """
    from admira_etl_project_prueba_spark.operators.textops import (
        lm_scores_from_dists,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        scored = lm_scores_from_dists(spark, batch_df, dist_path, n_buckets)
        scored.write.mode("append").parquet(out_path)

    return (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_latest_per_user(events_stream: DataFrame) -> DataFrame:
    """Streaming twin of the batch ``events_latest_per_user`` CDC
    compaction: the continuously-maintained current-state table (each
    user's latest event by (ts, event_id)).

    Entirely built-in — a streaming ``max(struct(ts, event_id, payload))``
    aggregation, no custom state UDF: struct ordering is lexicographic, so
    the max struct IS the (ts DESC, event_id DESC) winner, and Spark's
    streaming-agg state store maintains one struct per user across
    micro-batches.  Run in ``update`` mode for a changelog of the state
    table (upsert sink), or ``complete`` for the full snapshot.

    Scale note: state is one fixed-width row per key, forever — correct
    for a current-state table by definition.  If the key universe is
    unbounded-and-transient (sessions, request ids), bound it with a
    watermark + window grouping instead; for entity keys (users, devices)
    this is exactly the production shape.
    """
    return (
        events_stream.groupBy("user_id")
        .agg(
            F.max(
                F.struct("ts", "event_id", "event_type", "value")
            ).alias("latest")
        )
        .select(
            "user_id",
            F.col("latest.event_id").alias("event_id"),
            F.date_format("latest.ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
            F.col("latest.event_type").alias("event_type"),
            F.col("latest.value").alias("value"),
        )
    )


def stream_token_sketch(
    doc_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 1024,
):
    """Streaming count-min maintenance: each micro-batch's token sketch is
    MERGED (elementwise cnt addition) into a persisted sketch store —
    corpus-lifetime token statistics at fixed size, never reprocessing
    history.

    Correctness rests on sketch LINEARITY (sketch(A ∪ B) = sketch(A) +
    sketch(B), pinned by the batch test): the end state equals a one-shot
    batch sketch over all inputs regardless of micro-batch boundaries.
    Each fold commits the merged sketch as the store's next version
    (``functions/fs.fold_whole_store``): the store is both input and
    output of the merge, so the fold never writes the version it reads,
    and readers of the previous version keep their snapshot.  Read the
    store through ``fs.resolve_store_root``.  foreachBatch is
    at-least-once on failure/retry: a replayed batch double-counts; an
    exactly-once deployment keys writes by batch_id in a transactional
    sink (same caveat as every additive foreachBatch merge).
    """
    from admira_etl_project_prueba_spark.operators.textops import cms_sketch

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        delta = cms_sketch(batch_df, depth, width)

        def merge(prev):
            if prev is None:
                return delta  # confirmed first batch (checked UNDER the lease)
            # read errors propagate → micro-batch retries; falling back to
            # delta here would overwrite (lose) every earlier count
            return (
                prev.unionByName(delta)
                .groupBy("r", "bucket")
                .agg(F.sum("cnt").cast("long").alias("cnt"))
            )

        fold_whole_store(spark, store_path, merge)

    return (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_user_hll(
    event_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    groups: tuple[str, ...] = ("event_type",),
):
    """Streaming HLL maintenance: each micro-batch's register frame is
    max-merged into a persisted per-group register store — lifetime
    distinct-user counts at fixed size (m small ints per group), never
    reprocessing history.

    Correctness rests on the sketch's MAX-merge algebra (idempotent,
    commutative, associative — pinned by the batch merge test): the end
    state equals a one-shot batch sketch over all inputs regardless of
    micro-batch boundaries, and — unlike the additive count-min merge —
    a replayed at-least-once batch is HARMLESS (max is idempotent), so
    this needs no transactional sink for exactly-once counts.  Each fold
    commits the merged registers as the store's next version
    (``functions/fs.fold_whole_store``).  Estimates come from reading
    the store (``fs.resolve_store_root``) through sketches.hll_estimate.
    """
    from admira_etl_project_prueba_spark.operators.sketches import (
        hll_merge,
        hll_registers,
    )

    g = list(groups)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        delta = hll_registers(batch_df, "user_id", g)

        def merge(prev):
            if prev is None:
                return delta  # confirmed first batch (checked UNDER the lease)
            # read errors propagate → micro-batch retries; falling back to
            # delta here would overwrite (lose) all accumulated registers
            return hll_merge(prev.unionByName(delta), g)

        fold_whole_store(spark, store_path, merge)

    return (
        event_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_user_hll(
    event_stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window distinct-user HLL registers as a NATIVE streaming
    aggregation — no foreachBatch: the sketch's row-local (bucket, rho)
    projection composes directly with watermark + tumbling window +
    MAX, because max-merge is exactly what Spark's incremental
    aggregation state does.  Append mode emits each window's register
    frame once, when the watermark closes it — the sketch column lands
    in the sink as a finished, further-mergeable artifact (week/month
    rollups max-merge the stored rows; estimates via
    sketches.hll_estimate, which accepts sparse frames).

    State is bounded: at most m rows per open window, independent of
    how many users stream through it.
    """
    from pyspark.sql.functions import window as F_window

    from admira_etl_project_prueba_spark.operators.sketches import hll_rho

    rho = hll_rho(event_stream.withWatermark("ts", watermark), "user_id", ["ts"])
    return (
        rho.groupBy(F_window("ts", window), "bucket")
        .agg(F.max("rho").alias("register"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "bucket",
            "register",
        )
    )


def _write_batch_delta(
    spark: SparkSession, store_path: str, delta: DataFrame
) -> None:
    """Land one micro-batch's ``batch_id``-keyed delta in a delta store,
    under the store's lease (a delta must not interleave with a
    compaction's read-and-commit).  The current root is resolved under
    the lease: a store with no payload yet gets the delta as its next
    version (v1 when absent; written to scratch and committed by one
    rename); otherwise the delta dynamic-overwrites its own ``batch_id``
    partition inside the current version, so a replay replaces its
    earlier write — the way IVF merges append into their current
    version.  A flat root from the old layout
    raises ``fs.resolve_store_root``'s ``ValueError``."""
    with maintenance_lease(spark, store_path):
        root = resolve_store_root(spark, store_path)
        if not dir_nonempty(spark, root):
            clean_version_scratch(spark, store_path)
            tmp = version_scratch(store_path)
            delta.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
            commit_version(spark, store_path, tmp)
            return
        (
            delta.write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(root)
        )


def stream_token_sketch_idempotent(
    doc_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 1024,
):
    """Replay-safe variant of :func:`stream_token_sketch`: each
    micro-batch's DELTA sketch is written to its own ``batch_id=``
    partition (dynamic partition overwrite), so an at-least-once REPLAY
    overwrites its previous write instead of double-counting — the
    additive merge happens at READ time (sum over partitions), making
    the store exactly-once w.r.t. batch ids without a transactional
    sink.  Trade-off vs the in-place merge: reads aggregate
    #batches × depth × width cells until :func:`compact_sketch_store`
    folds history; writes never read the store (no read-modify-write
    race).  Read through :func:`read_sketch_store`.
    """
    from admira_etl_project_prueba_spark.operators.textops import cms_sketch

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = cms_sketch(batch_df, depth, width).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        _write_batch_delta(batch_df.sparkSession, store_path, delta)

    return (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_source_token_counts(
    doc_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    n_buckets: int = 4096,
):
    """Streaming feed-drift statistics: maintain the per-(source,
    bucket) token-count sufficient stats as batch-keyed delta
    partitions — the same exactly-once-w.r.t.-batch-ids contract as the
    idempotent CMS store (a replayed micro-batch overwrites its own
    partition instead of double-counting; counts merge additively at
    read time).  The KL drift report derives on demand via
    :func:`source_kl_from_store` — a |sources|·n_buckets-bounded
    projection, so the monitor never re-reads the corpus.
    """
    from admira_etl_project_prueba_spark.operators.textops import (
        source_bucket_counts,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = source_bucket_counts(batch_df, n_buckets).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        _write_batch_delta(batch_df.sparkSession, store_path, delta)

    return (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def source_kl_from_store(
    spark: SparkSession, store_path: str, n_buckets: int = 4096
) -> DataFrame:
    """The KL drift report over a :func:`stream_source_token_counts`
    store: additive fold of the batch deltas, then the shared
    smoothing + grid-rounded-ln projection — identical to running
    ``textops.source_token_kl`` over everything the stream has seen."""
    from admira_etl_project_prueba_spark.operators.textops import (
        kl_from_source_bucket_counts,
    )

    per = (
        spark.read.parquet(resolve_store_root(spark, store_path))
        .groupBy("source", "b")
        .agg(F.sum("c").alias("c"))
    )
    return kl_from_source_bucket_counts(per, n_buckets)


def read_sketch_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Materialize the current sketch from a batch-partitioned store:
    additive fold over all batch deltas (linearity)."""
    return (
        spark.read.parquet(resolve_store_root(spark, store_path))
        .groupBy("r", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def last_committed_batch_id(spark: SparkSession, checkpoint_dir: str) -> int | None:
    """Highest batch id with a COMMIT marker in a streaming checkpoint
    (``<checkpoint>/commits/<id>``), or None if nothing committed yet.
    Listing goes through the Hadoop FileSystem so it works wherever the
    checkpoint lives (local, HDFS, S3A)."""
    jvm = spark._jvm
    cpath = jvm.org.apache.hadoop.fs.Path(f"{checkpoint_dir}/commits")
    fs = cpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(cpath):
        return None
    ids = [
        int(name)
        for name in (
            st.getPath().getName() for st in fs.listStatus(cpath)
        )
        if name.isdigit()
    ]
    return max(ids) if ids else None


def compact_sketch_store(
    spark: SparkSession, store_path: str, checkpoint_dir: str | None = None
) -> None:
    """Fold batch deltas into a single batch_id=-1 partition so reads stop
    paying per-batch fan-in; idempotent (re-running re-folds).

    Exactly-once interaction with a LIVE stream: a delta partition may be
    on disk for a batch whose checkpoint commit then failed — the stream
    will REPLAY that batch and rewrite its partition.  If compaction had
    already folded the uncommitted delta into batch_id=-1, the replayed
    partition would double-count at read time.  Pass the stream's
    ``checkpoint_dir`` and compaction folds ONLY partitions with
    batch_id ≤ the last COMMITTED batch id (plus prior compactions),
    leaving in-doubt deltas as-is.  Without a checkpoint_dir, the caller
    must guarantee the stream is stopped with its last batch committed.

    The folded store is committed as the NEXT version (one rename), so
    a reader that resolved the previous version completes against it.
    A flat root from the old layout raises ``fs.resolve_store_root``'s
    ``ValueError``.
    """
    # single-writer lease: a concurrent delta writer or second compactor
    # must wait — a delta landing between the read and the commit would
    # be lost from the next version
    with maintenance_lease(spark, store_path):
        root = resolve_store_root(spark, store_path)
        store = spark.read.parquet(root)
        if checkpoint_dir is not None:
            last = last_committed_batch_id(spark, checkpoint_dir)
            committed = F.col("batch_id") <= F.lit(-1 if last is None else last)
            leftover = store.filter(~committed)
            store = store.filter(committed)
        else:
            leftover = None
        merged = (
            store.groupBy("r", "bucket")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
            .withColumn("batch_id", F.lit(-1).cast("long"))
        )
        if leftover is not None:
            merged = merged.unionByName(leftover.select(*merged.columns))
        clean_version_scratch(spark, store_path)
        tmp = version_scratch(store_path)
        merged.write.mode("overwrite").partitionBy("batch_id").parquet(tmp)
        commit_version(spark, store_path, tmp)


def stream_scd2(
    updates_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    key: str,
    attrs: list[str],
    ts_us: str,
    tiebreak: str,
    n_buckets: int = 64,
):
    """Streaming SCD2 maintenance: keep a type-2 dimension current as
    change events arrive, rewriting ONLY the key-buckets a micro-batch
    touches.

    The dimension store is partitioned by ``key_bucket = hex60(key) %
    n_buckets``.  Per batch: (1) prune-read just the touched buckets'
    current versions; (2) re-expand them to their original updates
    (every version row IS the update that opened it — valid_from/
    version are derived state, so the stored dimension doubles as the
    per-key change log); (3) union the batch and re-run the batch
    ``scd2_build`` on that slice; (4) dynamic-partition-overwrite the
    touched buckets.  Untouched buckets are never read or written — at
    100 TB a batch touching 0.1% of keys costs ~0.1% of the dimension,
    not a full rebuild.  Replays are idempotent: re-merging updates the
    dimension already incorporates dedups through the same-instant
    tiebreak and change compression.
    """
    from admira_etl_project_prueba_spark.operators.scd import scd2_build
    from admira_etl_project_prueba_spark.operators.textops import hex60

    bucket = f"{hex60(f'CAST({key} AS STRING)')} % {n_buckets}"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df.select(key, *attrs, ts_us, tiebreak).withColumn(
            "key_bucket", F.expr(bucket).cast("int")
        )
        buckets = [r["key_bucket"] for r in batch.select("key_bucket").distinct().collect()]
        # the whole read-modify-write — first-batch decision, prune-read,
        # localCheckpoint (which MATERIALIZES the read), dynamic-overwrite
        # — is one leased critical section: a second writer's concurrent
        # bucket rewrite would interleave partition replacements
        with maintenance_lease(spark, store_path):
            if path_exists(spark, store_path):
                # read errors propagate → micro-batch retries; falling back
                # to the bare batch would rewrite touched buckets WITHOUT
                # their history, silently truncating the dimension
                current = spark.read.parquet(store_path).filter(
                    F.col("key_bucket").isin(buckets)
                )
                # each stored version was opened by exactly one update:
                # replay it
                prior = current.select(
                    key,
                    *attrs,
                    F.col("valid_from_us").alias(ts_us),
                    F.col("tiebreak_max").alias(tiebreak),
                    "key_bucket",
                )
                merged = prior.unionByName(batch)
            else:
                merged = batch  # confirmed first batch
            # keep the winning tiebreak per (key, ts) so replays stay
            # idempotent
            rebuilt = scd2_build(merged, key, attrs, ts_us, tiebreak).join(
                merged.groupBy(key, F.col(ts_us).alias("valid_from_us")).agg(
                    F.max(tiebreak).alias("tiebreak_max")
                ),
                [key, "valid_from_us"],
            ).withColumn("key_bucket", F.expr(bucket).cast("int"))
            (
                rebuilt.localCheckpoint()  # store is input AND output
                .write.mode("overwrite")
                .partitionBy("key_bucket")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(store_path)
            )

    return (
        updates_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_click_join(
    impressions: DataFrame,
    clicks: DataFrame,
    max_delay_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-STREAM interval join: each click pairs with its impression
    (same user) at most ``max_delay_minutes`` earlier — the canonical
    two-stream attribution shape, as a NATIVE streaming join.

    Both sides carry watermarks and the join condition bounds
    click_ts - imp_ts to [0, delay], which is what lets Spark EVICT
    state: an impression older than watermark + delay can never match a
    future click and is dropped.  Without the time bound the state store
    grows forever — the interval predicate is a correctness AND a
    liveness requirement.  Inner join: unmatched impressions simply
    expire (the unattributed path is the batch linear-attribution op).
    """
    imp = impressions.withWatermark("imp_ts", watermark).select(
        F.col("user_id").alias("imp_user"), "imp_id", "imp_ts"
    )
    clk = clicks.withWatermark("click_ts", watermark).select(
        F.col("user_id").alias("click_user"), "click_id", "click_ts"
    )
    return imp.join(
        clk,
        F.expr(
            f"""imp_user = click_user
            AND click_ts >= imp_ts
            AND click_ts <= imp_ts + INTERVAL {max_delay_minutes} MINUTES"""
        ),
    ).select(
        F.col("imp_user").alias("user_id"),
        "imp_id",
        "click_id",
        "imp_ts",
        "click_ts",
    )


def stream_value_histogram(
    event_stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 256,
):
    """Streaming quantile maintenance: fold each micro-batch's fixed-grid
    value histogram into a batch-keyed delta partition — the same
    exactly-once-w.r.t.-batch-ids contract as the idempotent CMS store
    (a replayed micro-batch overwrites its OWN partition instead of
    double-counting; deltas merge by integer addition at read time).
    Quantiles derive on demand via :func:`read_histogram_store` +
    ``sketches.histogram_quantiles`` — the monitor never re-reads the
    event corpus, and the store is ≤ |types| × n_bins rows per batch.
    """
    from admira_etl_project_prueba_spark.operators.sketches import (
        value_histogram,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = value_histogram(batch_df, lo, hi, n_bins).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        _write_batch_delta(batch_df.sparkSession, store_path, delta)

    return (
        event_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_histogram_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Materialize the current histogram from a batch-partitioned store:
    additive fold over all batch deltas (linearity of counts)."""
    return (
        spark.read.parquet(resolve_store_root(spark, store_path))
        .groupBy("event_type", "bin")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def stream_pq_encode(
    embedding_stream: DataFrame,
    index_path: str,
    log_path: str,
    checkpoint_dir: str,
):
    """Streaming PQ encode at ingest time: every arriving vector batch is
    IVF-assigned and PQ-encoded against the persisted
    :func:`~operators.similarity.write_ivfpq_index` store's FROZEN models
    (codebooks + centroids, both model-sized broadcast reads; the store
    itself is never written here) and the code rows land in a
    batch-keyed encode LOG — ``partitionBy(batch_id)`` with dynamic
    partition overwrite, the CMS-store exactly-once contract: an
    at-least-once replay overwrites its own partition instead of
    duplicating codes.  :func:`fold_encoded_codes` is the leased
    maintenance job that drains the log into the store's code
    partitions.

    Splitting encode (streaming, hot path) from fold (maintenance) keeps
    the store's single-writer lease OFF the ingest path — micro-batches
    never contend with a compaction — and gives the index the same
    log+fold shape as the CMS/histogram stores.  Batches are validated
    against the manifest's seed ranges exactly like
    :func:`~operators.similarity.merge_ivfpq_index`."""
    from admira_etl_project_prueba_spark.operators import similarity as _sim

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        _, cb_path, cent_path, man_path = _sim.pq_resolved_paths(
            spark, index_path
        )
        man = spark.read.parquet(man_path).first()
        m, ksub = int(man["m"]), int(man["ksub"])
        if _sim.manifest_normalized(man):
            # normalized store: project the raw batch onto the unit
            # sphere before assignment/encode, like merge_ivfpq_index
            batch_df = _sim.normalize_embeddings(batch_df)
        seed_ceiling = max(int(man["n_centroids"]), ksub)
        min_vec = batch_df.agg(F.min("vec_id")).first()[0]
        if min_vec is not None and int(min_vec) < seed_ceiling:
            raise ValueError(
                f"stream_pq_encode: batch {batch_id} contains "
                f"vec_id={min_vec} inside the model seed range "
                f"[0, {seed_ceiling})"
            )
        cents = spark.read.parquet(cent_path).selectExpr(
            "centroid_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS q"
        )
        codebooks = spark.read.parquet(cb_path)
        # norms per row below the join (batch + k folds, not 2·batch·k)
        assign = (
            _sim.with_cosine(
                _sim.with_norm(_sim._as_double(batch_df, "v"), "v", "nv")
                .crossJoin(F.broadcast(_sim.with_norm(cents, "q", "nq"))),
                "q",
                "v",
                nq_col="nq",
                nv_col="nv",
            )
            .groupBy("vec_id")
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
        # stamp the batch with the CONTENT fingerprint of the models it
        # was encoded against: a retrain landing between this encode and
        # the fold changes the fingerprint, so the fold can tell these
        # codes no longer match the store's codebooks (version names
        # won't do — compaction flips the version with identical models).
        # Fingerprint the RESOLVED cb/cent paths, not the store root: a
        # retrain committing between this batch's resolve and the stamp
        # would otherwise stamp old-model codes with the new fingerprint.
        model_fp = _sim.pq_model_fingerprint_from_paths(
            spark, cb_path, cent_path
        )
        delta = (
            _sim.pq_codes(batch_df, m, ksub, codebooks=codebooks)
            .join(assign, "vec_id")
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .withColumn("model_fp", F.lit(model_fp))
        )
        (
            delta.write.mode("overwrite")
            .partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(log_path)
        )

    return (
        embedding_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


#: shared with :meth:`store.MetricsStore.fold_stream_log` — both folds
#: retry on vanished-pinned-partition, so the predicate lives in fs
_is_file_not_found = is_file_not_found


def fold_encoded_codes(
    spark: SparkSession,
    index_path: str,
    log_path: str,
    on_stale: str = "skip",
) -> int:
    """Drain a :func:`stream_pq_encode` log into the IVF-PQ store's code
    partitions — the leased maintenance fold.  Idempotent BY ANTI-JOIN,
    not by trust: log rows whose vec_id already exists in the store are
    dropped before the append (new-ids-only contract), so a fold that
    crashed between append and log cleanup simply no-ops on retry
    instead of duplicating codes.  The store-side probe is
    column-pruned to distinct vec_ids.

    MODEL-STAMP GUARD: each log batch carries the content fingerprint of
    the codebooks/centroids it was encoded against
    (:func:`~operators.similarity.pq_model_fingerprint`).  Batches whose
    stamp differs from the store's CURRENT fingerprint were encoded
    before a retrain and their codes no longer match the store's models
    — folding them would plant stale-model codes inside a fresh version.
    ``on_stale='skip'`` (default) leaves them in the log untouched — the
    conservative choice when streamed vectors might exist nowhere else;
    ``on_stale='discard'`` deletes them — correct in the standard
    deployment where a retrain re-encodes the FULL corpus (streamed rows
    included), making stale log batches redundant.  Unstamped legacy
    batches fold as before.

    Cleanup deletes ONLY the ``batch_id=`` partitions this fold READ —
    never the whole log: the stream writer holds no lease (by design,
    ingest must not contend with maintenance), so a micro-batch can land
    between the fold's read and its cleanup; a directory-level delete
    would silently destroy it, a batch-level delete leaves it for the
    next fold.  If a replayed micro-batch's dynamic partition overwrite
    deletes a pinned file mid-scan, the fold retries with a fresh pin
    (deterministic content + the anti-join make the retry safe) instead
    of failing.  Returns the number of VECTORS appended."""
    from admira_etl_project_prueba_spark.operators import similarity as _sim

    if on_stale not in ("skip", "discard"):
        raise ValueError(f"fold_encoded_codes: on_stale={on_stale!r}")
    if not path_exists(spark, log_path):
        return 0
    with maintenance_lease(spark, index_path):
        codes_path, _, _, _ = _sim.pq_resolved_paths(spark, index_path)
        last_exc: Exception | None = None
        for attempt in range(3):
            try:
                return _fold_codes_once(
                    spark, _sim, index_path, codes_path, log_path, on_stale
                )
            except Exception as exc:  # noqa: BLE001 — filtered below
                if _is_file_not_found(exc) and attempt < 2:
                    last_exc = exc
                    continue
                raise
        raise last_exc  # pragma: no cover — loop always returns/raises


def _fold_codes_once(
    spark, _sim, index_path: str, codes_path: str, log_path: str, on_stale: str
) -> int:
    # pin the batch set FIRST: only these partitions are read below and
    # only these are deleted after the append.  mergeSchema=true: a log
    # holding PRE-UPGRADE unstamped batches alongside stamped ones would
    # otherwise take one random file's schema — either model_fp vanishes
    # (stamped-but-stale batches fold unguarded) or legacy rows read as
    # null and get misclassified as stale (never folded, or DELETED
    # under on_stale='discard').  With the merged schema, legacy batches
    # read as model_fp=null and fold UNCONDITIONALLY — null is "predates
    # the guard", not "stale" — and are never in the discard set.
    pinned = spark.read.option("mergeSchema", "true").parquet(log_path)
    stale_ids: list[int] = []
    if "model_fp" in pinned.columns:
        cur_fp = _sim.pq_model_fingerprint(spark, index_path)
        pairs = (
            pinned.select("batch_id", "model_fp").distinct().collect()
        )
        batch_ids = sorted(
            {
                r["batch_id"]
                for r in pairs
                if r["model_fp"] is None or r["model_fp"] == cur_fp
            }
        )
        stale_ids = sorted(
            {
                r["batch_id"]
                for r in pairs
                if r["model_fp"] is not None and r["model_fp"] != cur_fp
            }
            - set(batch_ids)
        )
    else:
        batch_ids = [
            r["batch_id"]
            for r in pinned.select("batch_id").distinct().collect()
        ]
    n = 0
    if batch_ids:
        log = (
            spark.read.option("mergeSchema", "true")
            .parquet(log_path)
            .filter(F.col("batch_id").isin(batch_ids))
            .select("vec_id", "label", "subspace", "code", "centroid_id")
        )
        seen = spark.read.parquet(codes_path).select("vec_id").distinct()
        fresh = log.join(seen, "vec_id", "left_anti")
        n = fresh.select("vec_id").distinct().count()
        if n:
            fresh.write.mode("append").partitionBy("centroid_id").parquet(
                codes_path
            )
    # cleanup AFTER the append: a crash in between re-runs as a no-op
    from admira_etl_project_prueba_spark.functions import fs as _fs

    to_delete = list(batch_ids) + (stale_ids if on_stale == "discard" else [])
    jfs, _, jvm = _fs._fs_and_path(spark, log_path)
    for b in to_delete:
        jfs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{log_path.rstrip('/')}/batch_id={b}"
            ),
            True,
        )
    return n


def stream_bpe_encode(
    doc_stream: DataFrame,
    merges_path: str,
    out_path: str,
    checkpoint_dir: str,
):
    """Streaming token accounting under a FROZEN BPE vocabulary: every
    arriving document batch is encoded against the persisted merge list
    (``textops.write_bpe_merges``) and its per-doc cost appended — the
    ingest-time twin of ``bpe_encode_from_merges``, same contract as
    :func:`stream_lm_scores`: stateless across batches (each doc's cost
    depends only on itself and the frozen model, which broadcasts at KB
    size), deterministic under at-least-once replay so the appended log
    is re-aggregation-safe by doc_id."""
    from admira_etl_project_prueba_spark.operators.textops import (
        bpe_encode_from_merges,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        scored = bpe_encode_from_merges(spark, batch_df, merges_path)
        scored.write.mode("append").parquet(out_path)

    return (
        doc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
