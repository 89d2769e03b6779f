"""Structured Streaming tests: file-stream ingest convergence with batch,
watermarked windowed aggregation (availableNow triggers for determinism)."""

from __future__ import annotations

import datetime as dt
import json
import shutil

import pytest

from admira_etl_project_prueba_spark.operators.transform import transform
from admira_etl_project_prueba_spark.sources.json_source import (
    ads_from_payload,
    crm_from_payload,
)
from admira_etl_project_prueba_spark.store import MetricsStore
from admira_etl_project_prueba_spark.streaming.ingest import (
    stream_envelopes,
    windowed_event_counts,
)

ADS_ROWS = [
    {"date": "2024-01-01", "campaign_id": "C-1", "channel": "google_ads",
     "clicks": 10 * (i + 1), "impressions": 100, "cost": 5.0,
     "utm_campaign": "x", "utm_source": "google", "utm_medium": "cpc"}
    for i in range(4)
]
CRM_ROWS = [
    {"opportunity_id": f"O-{i}", "contact_email": "a@b.c",
     "stage": "closed_won" if i % 2 else "lead", "amount": 100.0 * i,
     "created_at": "2024-01-01T10:00:00Z",
     "utm_campaign": "x", "utm_source": "google", "utm_medium": "cpc"}
    for i in range(4)
]
STAMP = dt.datetime(2024, 1, 2, 0, 0, 0)


@pytest.fixture()
def dirs(tmp_path):
    return {
        "ads": str(tmp_path / "ads_in"),
        "crm": str(tmp_path / "crm_in"),
        "store": str(tmp_path / "store"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def write_envelopes(path, key_path, rows, per_file=2):
    import os

    os.makedirs(path, exist_ok=True)
    for i in range(0, len(rows), per_file):
        env = {"external": key_path(rows[i : i + per_file])}
        with open(f"{path}/part{i}.json", "w") as fh:
            fh.write(json.dumps(env) + "\n")


def test_stream_metrics_ingest_exactly_once(spark, dirs, tmp_path):
    """The exactly-once streaming `/ingest/run` twin: micro-batch
    envelope streams land conformed increments in a batch-id log;
    MetricsStore.fold_stream_log drains them into the store under the
    payload+ledger atomic commit.  Pinned: (a) stream-end
    state row-equals a one-shot batch ingest, (b) a replayed/refolded
    log no-ops (the ledger survives the next version), (c) an unrelated
    upsert between folds carries the ledger forward."""
    import os

    from admira_etl_project_prueba_spark.streaming.ingest import (
        stream_metrics_ingest,
    )

    write_envelopes(dirs["ads"], lambda r: {"ads": {"performance": r}}, ADS_ROWS)
    write_envelopes(dirs["crm"], lambda r: {"crm": {"opportunities": r}}, CRM_ROWS)
    log = str(tmp_path / "metrics_log")
    store = MetricsStore(spark, dirs["store"])

    q1 = stream_metrics_ingest(
        stream_envelopes(spark, dirs["ads"], "ads"), "ads", log,
        dirs["ckpt"] + "_ads", ingested_at=STAMP,
    )
    q1.awaitTermination(120)
    # fold the ads batches, then stream CRM into the SAME log and fold
    # again — the fold must be incremental across sources
    n1 = store.fold_stream_log(log)
    assert n1 >= 1
    q2 = stream_metrics_ingest(
        stream_envelopes(spark, dirs["crm"], "crm"), "crm", log,
        dirs["ckpt"] + "_crm", ingested_at=STAMP,
    )
    q2.awaitTermination(120)
    n2 = store.fold_stream_log(log)
    assert n2 >= 1

    ads_payload = json.dumps({"external": {"ads": {"performance": ADS_ROWS}}})
    crm_payload = json.dumps({"external": {"crm": {"opportunities": CRM_ROWS}}})
    expected = transform(
        ads_from_payload(spark, ads_payload, ingested_at=STAMP),
        crm_from_payload(spark, crm_payload, ingested_at=STAMP),
    )
    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(store.read()) == rows(expected)

    def live_batches():
        out = []
        for sid in os.listdir(log):
            if sid.startswith("stream_id="):
                out += [
                    f"{sid}/{b}"
                    for b in os.listdir(f"{log}/{sid}")
                    if b.startswith("batch_id=")
                ]
        return out

    assert not live_batches()

    # replay: re-run the CRM stream from a FRESH checkpoint (worst-case
    # at-least-once — same content, same batch ids) and refold: the
    # ledger makes it a no-op
    q3 = stream_metrics_ingest(
        stream_envelopes(spark, dirs["crm"], "crm"), "crm", log,
        dirs["ckpt"] + "_crm_replay", ingested_at=STAMP,
    )
    q3.awaitTermination(120)
    assert store.fold_stream_log(log) == 0
    assert rows(store.read()) == rows(expected)

    # an unrelated upsert between folds must not lose the ledger (the
    # commit carries it into the next version)
    extra = expected.filter("date = '9999-01-01'")  # empty increment set
    fresh_day = expected.limit(1).selectExpr(
        "'2030-01-01' AS date", *[c for c in expected.columns if c != "date"]
    )
    store.store(fresh_day, mode="upsert")
    q4 = stream_metrics_ingest(
        stream_envelopes(spark, dirs["crm"], "crm"), "crm", log,
        dirs["ckpt"] + "_crm_replay2", ingested_at=STAMP,
    )
    q4.awaitTermination(120)
    assert store.fold_stream_log(log) == 0  # still ledgered
    assert extra.count() == 0


def _write_log_batch(spark, log_path, stream_id, batch_id, clicks=1):
    """One synthetic already-conformed log partition, exactly the shape
    stream_metrics_ingest's foreachBatch writes."""
    from pyspark.sql import functions as F

    from admira_etl_project_prueba_spark.schemas import METRICS_SCHEMA

    row = spark.createDataFrame(
        [
            (
                "2024-01-01", "google_ads", "C-1", "x", "google", "cpc",
                clicks, 10, 1.0, 0, 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
            )
        ],
        METRICS_SCHEMA,
    )
    (
        row.withColumn("stream_id", F.lit(stream_id))
        .withColumn("batch_id", F.lit(batch_id).cast("long"))
        .write.mode("overwrite")
        .partitionBy("stream_id", "batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(log_path)
    )


def test_stream_fold_ledger_bounded(spark, tmp_path):
    """The fold ledger is BOUNDED: one (stream_id, hwm, tail) row per
    stream instead of one key per batch ever folded — contiguous ids
    collapse into the watermark, out-of-order ids wait in the tail and
    are absorbed when the gap closes, and a legacy one-key-per-batch
    ledger reads compatibly and compacts on its next commit."""
    log = str(tmp_path / "log")
    store = MetricsStore(spark, str(tmp_path / "store"))

    for b in (0, 1, 2):
        _write_log_batch(spark, log, "s1", b)
    assert store.fold_stream_log(log) == 3
    assert store.stream_fold_ledger() == {"s1": (2, frozenset())}
    ledger_rows = spark.read.parquet(
        f"{store._root()}/{store._LEDGER}"
    ).collect()
    assert len(ledger_rows) == 1  # bounded: 3 batches -> one row, no tail
    assert (ledger_rows[0]["hwm"], list(ledger_rows[0]["tail"])) == (2, [])

    # out-of-order fold: 5 arrives before 3/4 — it waits in the tail
    _write_log_batch(spark, log, "s1", 5)
    assert store.fold_stream_log(log) == 1
    assert store.stream_fold_ledger() == {"s1": (2, frozenset({5}))}

    # the gap closes: hwm sweeps through the tail and absorbs it
    for b in (3, 4):
        _write_log_batch(spark, log, "s1", b)
    assert store.fold_stream_log(log) == 2
    assert store.stream_fold_ledger() == {"s1": (5, frozenset())}

    # replay of a watermark-covered batch no-ops (hwm membership, not a
    # key lookup); state unchanged
    _write_log_batch(spark, log, "s1", 1)
    before = sorted(map(tuple, store.read().collect()))
    assert store.fold_stream_log(log) == 0
    assert sorted(map(tuple, store.read().collect())) == before
    # second stream gets its own row, ids independent of s1's
    _write_log_batch(spark, log, "s2", 0)
    assert store.fold_stream_log(log) == 1
    assert store.stream_fold_ledger()["s2"] == (0, frozenset())

    # legacy compat: a pre-round-13 one-key-per-batch ledger parses into
    # the same (hwm, tail) view and compacts on the next commit
    legacy = str(tmp_path / "legacy_store")
    lstore = MetricsStore(spark, legacy)
    _write_log_batch(spark, log, "s1", 0)
    lstore.fold_stream_log(log)
    spark.createDataFrame(
        [("s1:0",), ("s1:1",), ("s1:2",), ("s1:7",), ("other:0",)],
        "key string",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{lstore._root()}/{lstore._LEDGER}"
    )
    assert lstore.stream_fold_ledger() == {
        "s1": (2, frozenset({7})),
        "other": (0, frozenset()),
    }
    _write_log_batch(spark, log, "s1", 3)
    assert lstore.fold_stream_log(log) == 1  # 3 fills toward the gap
    assert lstore.stream_fold_ledger()["s1"] == (3, frozenset({7}))
    cols = spark.read.parquet(f"{lstore._root()}/{lstore._LEDGER}").columns
    assert "key" not in cols and set(cols) == {"stream_id", "hwm", "tail"}


def test_stream_fold_retries_on_vanished_partition(
    spark, tmp_path, monkeypatch
):
    """The unleased-stream-vs-leased-fold race on the METRICS log (a
    replayed micro-batch's dynamic overwrite deleting a file the fold
    pinned): fold_stream_log re-pins and retries on the FileNotFound
    signature — the ledger makes the retry exactly-once — while non-FNF
    errors still propagate.  Mirrors the PQ code fold's retry pin."""
    log = str(tmp_path / "log")
    store = MetricsStore(spark, str(tmp_path / "store"))
    _write_log_batch(spark, log, "s1", 0)

    real = MetricsStore._fold_stream_once
    calls = {"n": 0}

    def flaky(self, log_path):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError(
                "Job aborted: java.io.FileNotFoundException: File "
                "stream_id=s1/batch_id=0/part-00000.parquet does not exist"
            )
        return real(self, log_path)

    monkeypatch.setattr(MetricsStore, "_fold_stream_once", flaky)
    assert store.fold_stream_log(log) == 1
    assert calls["n"] == 2
    assert store.stream_fold_ledger() == {"s1": (0, frozenset())}

    def broken(self, log_path):
        raise RuntimeError("executor OOM")

    monkeypatch.setattr(MetricsStore, "_fold_stream_once", broken)
    _write_log_batch(spark, log, "s1", 1)
    with pytest.raises(RuntimeError, match="OOM"):
        store.fold_stream_log(log)


def test_stream_log_health_probe(spark, tmp_path):
    """The fold-scheduling probe (GET /store/health's stream_log block):
    pending batch depth, stream count, oldest-batch age — zeroed on an
    absent log, populated while batches wait, zeroed again after the
    fold drains them."""
    log = str(tmp_path / "log")
    store = MetricsStore(spark, str(tmp_path / "store"))
    h = store.stream_log_health(log)
    assert h == {
        "path": log, "pending_batches": 0, "streams": 0,
        "oldest_pending_ms": 0, "needs_fold": False,
    }
    _write_log_batch(spark, log, "s1", 0)
    _write_log_batch(spark, log, "s1", 1)
    _write_log_batch(spark, log, "s2", 0)
    h = store.stream_log_health(log)
    assert h["pending_batches"] == 3 and h["streams"] == 2
    assert h["needs_fold"] and h["oldest_pending_ms"] >= 0
    store.fold_stream_log(log)
    h = store.stream_log_health(log)
    assert h["pending_batches"] == 0 and not h["needs_fold"]


def test_stream_id_charset_rejected(tmp_path):
    """stream_id is a strict [A-Za-z0-9._-]+ charset: Spark
    percent-escapes '=', '%', '#', '[' (and more) in partition dir
    names, which would desync fold_stream_log's raw cleanup paths."""
    from admira_etl_project_prueba_spark.streaming.ingest import (
        stream_metrics_ingest,
    )

    for bad in ("a=b", "a%b", "a#b", "a[b", "a b", "a:b", "a/b", ""):
        with pytest.raises(ValueError, match="stream_id"):
            stream_metrics_ingest(
                None, "ads", str(tmp_path / "log"),
                str(tmp_path / "ckpt"), stream_id=bad,
            )


def test_windowed_counts_with_watermark(spark, tmp_path):
    src = tmp_path / "events_in"
    src.mkdir()
    rows = [
        ("2024-01-01T00:01:00", "click", 1.0),
        ("2024-01-01T00:05:00", "click", 2.0),
        ("2024-01-01T00:11:00", "view", 3.0),
        ("2024-01-01T00:59:00", "click", 4.0),
    ]
    with open(src / "a.csv", "w") as fh:
        for ts, et, v in rows:
            fh.write(f"{ts},{et},{v}\n")

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .csv(str(src))
    )
    out = windowed_event_counts(stream, window="10 minutes", watermark="30 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("select * from win_counts").collect()
    }
    # windows closed by the watermark (events ≤ 00:59 − 30min) are emitted
    assert got[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 00:10:00", "view")] == (1, 3.0)


def test_streaming_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState session windows: closed sessions emit on gap,
    open sessions emit when the watermark passes end+gap (timeout), and the
    result matches the batch sessionize operator on the same events."""
    from admira_etl_project_prueba_spark.operators.analytics import sessionize
    from admira_etl_project_prueba_spark.streaming.ingest import streaming_sessionize

    src = tmp_path / "sess_in"
    src.mkdir()
    # user 1: two sessions (>30min gap); user 2: one session
    batch1 = [
        ("2024-01-01T00:00:00", 1, 1, 1.0),
        ("2024-01-01T00:10:00", 1, 2, 2.0),
        ("2024-01-01T01:00:00", 1, 3, 4.0),   # 50min gap → new session
        ("2024-01-01T00:05:00", 2, 4, 8.0),
    ]
    with open(src / "a.csv", "w") as fh:
        for ts, uid, eid, v in batch1:
            fh.write(f"{ts},{uid},{eid},{v}\n")

    def run():
        stream = (
            spark.readStream.schema(
                "ts timestamp, user_id long, event_id long, value double"
            ).csv(str(src))
        )
        out = streaming_sessionize(stream, gap_minutes=30, watermark="10 minutes")
        q = (
            out.writeStream.format("parquet")
            .option("path", str(tmp_path / "sess_out"))
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["user_id"], str(r["session_start"])): (
                str(r["session_end"]), r["n_events"], r["total_value"]
            )
            for r in spark.read.parquet(str(tmp_path / "sess_out")).collect()
        }

    got = run()
    # u1 session 1 closed by the in-batch gap.  availableNow then advances
    # the watermark to max(ts)−10min = 00:50, so u2's session (timeout
    # 00:05+30min = 00:35) times out within the same run; u1's second
    # session (timeout 01:30) is still open in state.
    assert got == {
        (1, "2024-01-01 00:00:00"): ("2024-01-01 00:10:00", 2, 3.0),
        (2, "2024-01-01 00:05:00"): ("2024-01-01 00:05:00", 1, 8.0),
    }

    # a far-future event advances the watermark → timeout flushes the rest
    with open(src / "b.csv", "w") as fh:
        fh.write("2024-01-01T12:00:00,999,5,0.0\n")
    got = run()
    assert got[(1, "2024-01-01 01:00:00")] == ("2024-01-01 01:00:00", 1, 4.0)

    # parity with the batch operator on the same (flushed) events
    ev = spark.createDataFrame(
        [(r[0].replace("T", " "), r[1], r[2], r[3]) for r in batch1],
        "ts string, user_id long, event_id long, value double",
    ).selectExpr("CAST(ts AS timestamp) AS ts", "user_id", "event_id", "value")
    def _us(us):  # batch sessionize returns epoch-micros BIGINTs
        return dt.datetime.fromtimestamp(us / 1_000_000, tz=dt.timezone.utc).strftime(
            "%Y-%m-%d %H:%M:%S"
        )

    batch = {
        (r["user_id"], _us(r["session_start"])): (
            _us(r["session_end"]), r["n_events"], float(r["total_value"])
        )
        for r in sessionize(ev, gap_minutes=30).collect()
    }
    stream_flushed = {k: v for k, v in got.items() if k[0] != 999}
    assert batch == stream_flushed


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Re-delivered event ids within the watermark are dropped; distinct
    ids all survive, across micro-batch boundaries."""
    from admira_etl_project_prueba_spark.streaming.ingest import stream_dedup

    src = tmp_path / "dedup_in"
    src.mkdir()
    with open(src / "a.csv", "w") as fh:
        fh.write("2024-01-01T00:00:00,1,first\n")
        fh.write("2024-01-01T00:01:00,2,first\n")
        fh.write("2024-01-01T00:02:00,1,retry\n")     # dup in same batch
    with open(src / "b.csv", "w") as fh:
        fh.write("2024-01-01T00:03:00,2,retry\n")     # dup across batches
        fh.write("2024-01-01T00:04:00,3,first\n")

    stream = (
        spark.readStream.schema("ts timestamp, event_id long, tag string")
        .option("maxFilesPerTrigger", 1)
        .csv(str(src))
    )
    out = stream_dedup(stream, ["event_id"], watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dedup_out").collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2, 3]
    assert all(r["tag"] == "first" for r in rows)


def test_stream_stream_attribution_join(spark, tmp_path):
    """Two file streams join on user within a 1h attribution window; a
    purchase with no prior click (or one outside the window) never emits."""
    from admira_etl_project_prueba_spark.streaming.ingest import (
        stream_attribution_join,
    )

    cdir, pdir = tmp_path / "clicks", tmp_path / "purchases"
    cdir.mkdir(), pdir.mkdir()
    with open(cdir / "a.csv", "w") as fh:
        fh.write("2024-01-01T10:00:00,1,101\n")   # u1 clicks at 10:00
        fh.write("2024-01-01T10:00:00,2,102\n")   # u2 clicks at 10:00
    with open(pdir / "a.csv", "w") as fh:
        fh.write("2024-01-01T10:30:00,1,201,50.0\n")  # u1 buys in-window
        fh.write("2024-01-01T12:30:00,2,202,70.0\n")  # u2 buys too late
        fh.write("2024-01-01T10:40:00,3,203,90.0\n")  # u3 never clicked

    clicks = spark.readStream.schema(
        "ts timestamp, user_id long, event_id long"
    ).csv(str(cdir))
    purchases = spark.readStream.schema(
        "ts timestamp, user_id long, event_id long, value double"
    ).csv(str(pdir))
    out = stream_attribution_join(clicks, purchases)
    q = (
        out.writeStream.format("memory")
        .queryName("attr_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "attr_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from attr_out").collect()
    assert [(r["user_id"], r["click_id"], r["purchase_id"], r["value"]) for r in rows] == [
        (1, 101, 201, 50.0)
    ]


def test_stream_near_dup_matches_batch_pairs(spark, tmp_path):
    """Streaming SimHash near-dup: pairs match the batch operator exactly
    (same hammings, exactly once even when several bands collide), and
    bucket state is evicted once the watermark passes the horizon."""
    from admira_etl_project_prueba_spark.operators.textops import (
        simhash_near_dup_pairs,
    )
    from admira_etl_project_prueba_spark.streaming.ingest import (
        stream_near_dup_matches,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the spark engine "
        "aggregates partitions of shuffled data across the cluster nodes"
    )
    near = base.replace("lazy dog", "sleepy dog")
    far = "completely unrelated content talking about cooking pasta and sauce recipes all day long"

    src = tmp_path / "docs_in"
    src.mkdir()

    def run(name, rows):
        with open(src / name, "w") as fh:
            for ts, did, text in rows:
                fh.write(json.dumps({"ts": ts, "doc_id": did, "text": text}) + "\n")
        stream = spark.readStream.schema(
            "ts timestamp, doc_id long, text string"
        ).json(str(src))
        q = (
            stream_near_dup_matches(stream, watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "nd_out"))
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "nd_ckpt"))
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(str(tmp_path / "nd_out")).collect()

    rows1 = run(
        "a.json",
        [
            ("2024-01-01T00:00:00", 1, base),
            ("2024-01-01T00:10:00", 4, near),
            ("2024-01-01T00:15:00", 2, base),   # exact dup: same simhash as 1
            ("2024-01-01T00:20:00", 5, far),
        ],
    )
    got = {(min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"])): r["hamming"] for r in rows1}
    # arrival order is prior→new: doc 1 precedes 4 and 2, doc 4 precedes 2
    assert {(r["doc_a"], r["doc_b"]) for r in rows1} == {(1, 4), (1, 2), (4, 2)}
    assert len(rows1) == len(got)  # a multi-band collision still emits once

    docs = spark.createDataFrame(
        [(1, base, "en"), (2, base, "en"), (4, near, "en"), (5, far, "en")],
        "doc_id long, text string, lang string",
    )
    want = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(docs).collect()
    }
    assert got == want
    assert got[(1, 2)] == 0  # exact dup

    # a far doc 12h later advances the watermark past every horizon →
    # event-time timeout evicts the old buckets during this run
    other = "entirely different prose describing mountain hiking trails and weather patterns in spring"
    rows2 = run("b.json", [("2024-01-01T12:00:00", 7, other)])
    assert len(rows2) == len(rows1)  # unrelated doc matched nothing

    # a fresh copy of base arrives after eviction: its twins are gone from
    # state, so NO new pair may appear — horizon-bounded by design
    rows3 = run("c.json", [("2024-01-01T13:00:00", 8, base)])
    assert len(rows3) == len(rows1)


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Stream-static decontamination: per-doc verdicts equal the batch
    operator's on the same documents, emitted statelessly in the arriving
    micro-batch (no watermark, no state store)."""
    from admira_etl_project_prueba_spark.operators.textops import decontaminate
    from admira_etl_project_prueba_spark.streaming.ingest import stream_decontaminate

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        ("2024-01-01T00:00:00", 1, f"intro words {bench_text} outro trailing"),
        ("2024-01-01T00:01:00", 2, "nothing here overlaps the benchmark at all today ok"),
        ("2024-01-01T00:02:00", 3, "alpha beta gamma delta epsilon zeta eta other stuff"),
    ]
    bench = spark.createDataFrame(
        [(100, bench_text, "en")], "doc_id long, text string, lang string"
    )

    src = tmp_path / "dc_in"
    src.mkdir()
    with open(src / "a.json", "w") as fh:
        for ts, did, text in rows:
            fh.write(json.dumps({"ts": ts, "doc_id": did, "text": text}) + "\n")
    stream = spark.readStream.schema(
        "ts timestamp, doc_id long, text string"
    ).json(str(src))
    q = (
        stream_decontaminate(stream, bench)
        .writeStream.format("memory")
        .queryName("dc_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "dc_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in spark.sql("select * from dc_out").collect()
    }

    corpus = spark.createDataFrame(
        [(d, t, "en") for _, d, t in rows], "doc_id long, text string, lang string"
    )
    want = {
        r["doc_id"]: (r["n_overlap"], r["contaminated"])
        for r in decontaminate(corpus, bench, k=8).collect()
    }
    assert got == want
    assert got[1] == (1, True) and got[2] == (0, False) and got[3] == (0, False)


def test_stream_latest_per_user_matches_batch(spark, tmp_path):
    """The streaming current-state table must equal the batch CDC
    compaction over the same data — including the (ts, event_id) tiebreak
    — after an availableNow run in complete mode."""
    import datetime as dt

    from admira_etl_project_prueba_spark.operators.analytics import (
        events_latest_per_user,
    )
    from admira_etl_project_prueba_spark.streaming.ingest import (
        stream_latest_per_user,
    )

    base = dt.datetime(2024, 3, 1, 9, 0, 0)
    rows = [
        (1, base, 7, "click", 1.0, "{}"),
        (2, base + dt.timedelta(hours=2), 7, "purchase", 9.0, "{}"),
        # same-ts tie for user 8 → higher event_id must win
        (3, base, 8, "click", 2.0, "{}"),
        (4, base, 8, "view", 3.0, "{}"),
        (5, base + dt.timedelta(minutes=5), 9, "click", 4.0, "{}"),
    ]
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    )
    batch_df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "events_src")
    # two files → at least the possibility of multiple micro-batches
    batch_df.filter("event_id <= 2").write.parquet(src + "/a")
    batch_df.filter("event_id > 2").write.parquet(src + "/b")

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream_latest_per_user(stream)
        .writeStream.format("memory")
        .queryName("latest_state")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["user_id"]: r for r in spark.sql("SELECT * FROM latest_state").collect()
    }
    want = {r["user_id"]: r for r in events_latest_per_user(batch_df).collect()}
    assert set(got) == set(want)
    for uid in want:
        assert got[uid].asDict() == want[uid].asDict()
    assert got[8]["event_id"] == 4  # tie broken by event_id, like batch


def test_stream_token_sketch_equals_batch_sketch(spark, tmp_path):
    """Additive sketch maintenance: after streaming N micro-batches, the
    persisted store equals the one-shot batch sketch over all documents
    (sketch linearity), independent of batch boundaries."""
    from admira_etl_project_prueba_spark.operators.textops import cms_sketch
    from admira_etl_project_prueba_spark.streaming.ingest import stream_token_sketch

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "beta gamma delta epsilon"),
        (3, "gamma delta epsilon zeta"),
        (4, "alpha alpha beta unique"),
    ]
    src = tmp_path / "cms_in"
    src.mkdir()
    # two files -> maxFilesPerTrigger=1 forces (at least) two micro-batches
    for fname, chunk in (("a.json", rows[:2]), ("b.json", rows[2:])):
        with open(src / fname, "w") as fh:
            for did, text in chunk:
                fh.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    store = str(tmp_path / "cms_store")
    q = stream_token_sketch(
        stream, store, str(tmp_path / "cms_ckpt"), depth=2, width=64
    )
    q.awaitTermination(120)

    from admira_etl_project_prueba_spark.functions.fs import resolve_store_root

    got = {(r["r"], r["bucket"]): r["cnt"]
           for r in spark.read.parquet(resolve_store_root(spark, store)).collect()}
    corpus = spark.createDataFrame(
        [(d, t, "en") for d, t in rows], "doc_id long, text string, lang string"
    )
    want = {(r["r"], r["bucket"]): r["cnt"]
            for r in cms_sketch(corpus, depth=2, width=64).collect()}
    assert got == want and len(got) > 0


def test_stream_user_hll_equals_batch_registers(spark, tmp_path):
    """Max-merge sketch maintenance: after streaming micro-batches, the
    persisted register store equals the one-shot batch sketch — and
    REPLAYING a batch into the store changes nothing (max is idempotent,
    so at-least-once delivery is harmless, unlike additive sketches)."""
    from admira_etl_project_prueba_spark.operators.sketches import (
        hll_merge,
        hll_registers,
    )
    from admira_etl_project_prueba_spark.streaming.ingest import stream_user_hll

    rows = [(i, "click" if i % 2 else "view", i * 31 % 97) for i in range(200)]
    src = tmp_path / "hll_in"
    src.mkdir()
    for fname, chunk in (("a.json", rows[:90]), ("b.json", rows[90:])):
        with open(src / fname, "w") as fh:
            for eid, etype, uid in chunk:
                fh.write(
                    json.dumps({"event_id": eid, "event_type": etype, "user_id": uid})
                    + "\n"
                )
    stream = (
        spark.readStream.schema("event_id long, event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    store = str(tmp_path / "hll_store")
    q = stream_user_hll(stream, store, str(tmp_path / "hll_ckpt"))
    q.awaitTermination(120)

    from admira_etl_project_prueba_spark.functions.fs import resolve_store_root

    def regs(df):
        return {(r["event_type"], r["bucket"]): r["register"] for r in df.collect()}

    stored = spark.read.parquet(resolve_store_root(spark, store))
    got = regs(stored)
    corpus = spark.createDataFrame(
        rows, "event_id long, event_type string, user_id long"
    )
    want = regs(hll_registers(corpus, "user_id", ["event_type"]))
    assert got == want and len(got) == 2 * 512
    # replay: merging the full corpus sketch in again is a no-op
    replayed = regs(
        hll_merge(
            stored.unionByName(
                hll_registers(corpus, "user_id", ["event_type"])
            ),
            ["event_type"],
        )
    )
    assert replayed == got


def test_windowed_user_hll_native_agg_matches_batch(spark, tmp_path):
    """Closed-window register frames from the NATIVE streaming agg equal
    the batch per-window sketch; estimates from the streamed (sparse)
    frames match batch estimates exactly."""
    import datetime as dt

    from pyspark.sql import functions as F

    from admira_etl_project_prueba_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from admira_etl_project_prueba_spark.streaming.ingest import windowed_user_hll

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for hour in range(3):  # three 1h windows of events
        for i in range(120):
            rows.append(
                (eid, (base + dt.timedelta(hours=hour, minutes=i % 60)).isoformat(),
                 (hour * 7 + i * 13) % 150)
            )
            eid += 1
    # sentinel far in the future: pushes the watermark past all 3 windows
    rows.append((eid, (base + dt.timedelta(days=2)).isoformat(), 1))

    src = tmp_path / "whll_in"
    src.mkdir()
    with open(src / "a.json", "w") as fh:
        for r in rows[: len(rows) // 2]:
            fh.write(json.dumps({"event_id": r[0], "ts": r[1], "user_id": r[2]}) + "\n")
    with open(src / "b.json", "w") as fh:
        for r in rows[len(rows) // 2:]:
            fh.write(json.dumps({"event_id": r[0], "ts": r[1], "user_id": r[2]}) + "\n")

    stream = (
        spark.readStream.schema("event_id long, ts string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = str(tmp_path / "whll_out")
    q = (
        windowed_user_hll(stream, window="1 hour", watermark="30 minutes")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "whll_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out).filter(
        F.col("window_start") < F.lit(base + dt.timedelta(hours=3))
    )
    batch = spark.createDataFrame(
        [(r[0], dt.datetime.fromisoformat(r[1]), r[2]) for r in rows],
        "event_id long, ts timestamp, user_id long",
    )
    want = hll_registers(
        batch.withColumn("window_start", F.date_trunc("hour", "ts")),
        "user_id",
        ["window_start"],
    ).filter(F.col("window_start") < F.lit(base + dt.timedelta(hours=3)))
    g = {(r["window_start"], r["bucket"]): r["register"] for r in got.collect()}
    # batch frame is dense; compare on the sparse support + estimates
    w = {
        (r["window_start"], r["bucket"]): r["register"]
        for r in want.collect()
        if r["register"] > 0
    }
    assert g == w and len({k[0] for k in g}) == 3
    est_stream = {
        r["window_start"]: r["est_distinct"]
        for r in hll_estimate(
            got.withColumnRenamed("window_start", "ws").withColumnRenamed(
                "bucket", "bucket"
            ).selectExpr("ws AS window_start", "bucket", "register"),
            ["window_start"],
        ).collect()
    }
    est_batch = {
        r["window_start"]: r["est_distinct"]
        for r in hll_estimate(want, ["window_start"]).collect()
    }
    assert est_stream == est_batch


def test_idempotent_sketch_store_survives_replay_and_compaction(spark, tmp_path):
    """Batch-keyed CMS deltas: end state == one-shot batch sketch; a
    REPLAYED batch overwrites its own partition (no double count);
    compaction folds history without changing the read view."""
    from admira_etl_project_prueba_spark.operators.textops import cms_sketch
    from admira_etl_project_prueba_spark.streaming.ingest import (
        compact_sketch_store,
        read_sketch_store,
        stream_token_sketch_idempotent,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "beta gamma delta epsilon"),
        (3, "gamma delta epsilon zeta"),
        (4, "alpha alpha beta unique"),
    ]
    src = tmp_path / "icms_in"
    src.mkdir()
    for fname, chunk in (("a.json", rows[:2]), ("b.json", rows[2:])):
        with open(src / fname, "w") as fh:
            for did, text in chunk:
                fh.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    store = str(tmp_path / "icms_store")
    q = stream_token_sketch_idempotent(
        stream, store, str(tmp_path / "icms_ckpt"), depth=2, width=64
    )
    q.awaitTermination(120)

    def snap():
        return {(r["r"], r["bucket"]): r["cnt"]
                for r in read_sketch_store(spark, store).collect()}

    corpus = spark.createDataFrame(
        [(d, t, "en") for d, t in rows], "doc_id long, text string, lang string"
    )
    want = {(r["r"], r["bucket"]): r["cnt"]
            for r in cms_sketch(corpus, depth=2, width=64).collect()}
    got = snap()
    assert got == want and len(got) > 0

    # replay batch 0 (first file's docs) by hand into the current
    # version, as the delta writer does: same partition, no drift
    from pyspark.sql import functions as F

    from admira_etl_project_prueba_spark.functions.fs import resolve_store_root

    replay = cms_sketch(
        spark.createDataFrame(
            [(d, t, "en") for d, t in rows[:2]],
            "doc_id long, text string, lang string",
        ),
        depth=2, width=64,
    ).withColumn("batch_id", F.lit(0).cast("long"))
    (
        replay.write.mode("overwrite").partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(resolve_store_root(spark, store))
    )
    assert snap() == want

    compact_sketch_store(spark, store)
    assert snap() == want
    # compaction folded everything into the single batch_id=-1 partition
    import os
    parts = [
        d for d in os.listdir(resolve_store_root(spark, store))
        if d.startswith("batch_id=")
    ]
    assert parts == ["batch_id=-1"]


def test_checkpoint_aware_compaction_skips_uncommitted_delta(spark, tmp_path):
    """A delta partition written for a batch whose checkpoint commit never
    landed must NOT be folded into batch_id=-1: the stream will replay
    that batch and rewrite the partition, and a folded copy would then
    double-count.  compact_sketch_store(checkpoint_dir=...) folds only
    committed batches; the replay then leaves the read view exact."""
    from pyspark.sql import functions as F

    from admira_etl_project_prueba_spark.functions.fs import resolve_store_root
    from admira_etl_project_prueba_spark.operators.textops import cms_sketch
    from admira_etl_project_prueba_spark.streaming.ingest import (
        compact_sketch_store,
        read_sketch_store,
        stream_token_sketch_idempotent,
    )

    committed_rows = [(1, "alpha beta"), (2, "beta gamma")]
    doubt_rows = [(3, "gamma delta")]
    src = tmp_path / "ccms_in"
    src.mkdir()
    with open(src / "a.json", "w") as fh:
        for did, text in committed_rows:
            fh.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(str(src))
    )
    store = str(tmp_path / "ccms_store")
    ckpt = str(tmp_path / "ccms_ckpt")
    stream_token_sketch_idempotent(stream, store, ckpt, depth=2, width=64).awaitTermination(120)

    def mk(rows, batch_id):
        return cms_sketch(
            spark.createDataFrame(
                [(d, t, "en") for d, t in rows],
                "doc_id long, text string, lang string",
            ),
            depth=2, width=64,
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))

    def land(delta):
        """Write a delta the way the delta writer does: dynamic-overwrite
        of its batch_id partition inside the current version."""
        (
            delta.write.mode("overwrite").partitionBy("batch_id")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(resolve_store_root(spark, store))
        )

    # simulate: batch 1's delta hit the store but its commit marker didn't
    land(mk(doubt_rows, 1))

    def snap():
        return {(r["r"], r["bucket"]): r["cnt"]
                for r in read_sketch_store(spark, store).collect()}

    want = snap()  # written deltas: exact view before AND after replay
    compact_sketch_store(spark, store, checkpoint_dir=ckpt)
    import os
    parts = sorted(
        d for d in os.listdir(resolve_store_root(spark, store))
        if d.startswith("batch_id=")
    )
    assert parts == ["batch_id=-1", "batch_id=1"]  # in-doubt delta survives
    assert snap() == want

    # the stream replays batch 1: rewrite of its own partition, no drift
    land(mk(doubt_rows, 1))
    assert snap() == want


def test_stream_scd2_matches_batch_and_prunes_buckets(spark, tmp_path):
    """Streamed SCD2 store == batch scd2_build over the full change log;
    a later batch touching ONE key rewrites only that key's bucket
    partition; replaying incorporated updates changes nothing."""
    from pyspark.sql import functions as F

    from admira_etl_project_prueba_spark.operators.scd import scd2_build
    from admira_etl_project_prueba_spark.streaming.ingest import stream_scd2

    log = [
        (1, "bronze", 100, 1), (1, "silver", 200, 2), (1, "silver", 250, 3),
        (2, "bronze", 150, 4), (2, "gold", 400, 5),
        (3, "trial", 120, 6),
        (1, "gold", 300, 7), (3, "paid", 500, 8), (2, "gold", 600, 9),
    ]
    src = tmp_path / "scd_in"
    src.mkdir()
    for fname, chunk in (("a.json", log[:5]), ("b.json", log[5:])):
        with open(src / fname, "w") as fh:
            for k, a, us, seq in chunk:
                fh.write(json.dumps({"k": k, "attr": a, "us": us, "seq": seq}) + "\n")

    def mkstream(path):
        return (
            spark.readStream.schema("k long, attr string, us long, seq long")
            .option("maxFilesPerTrigger", 1)
            .json(str(path))
        )

    store = str(tmp_path / "scd_store")
    q = stream_scd2(
        mkstream(src), store, str(tmp_path / "scd_ckpt"),
        key="k", attrs=["attr"], ts_us="us", tiebreak="seq",
    )
    q.awaitTermination(120)

    def snap():
        return {
            (r["k"], r["version"]): (r["attr"], r["valid_from_us"],
                                     r["valid_to_us"], r["is_current"])
            for r in spark.read.parquet(store).collect()
        }

    batch_log = spark.createDataFrame(log, ["k", "attr", "us", "seq"])
    want = {
        (r["k"], r["version"]): (r["attr"], r["valid_from_us"],
                                 r["valid_to_us"], r["is_current"])
        for r in scd2_build(batch_log, "k", ["attr"], "us", "seq").collect()
    }
    assert snap() == want and len(want) >= 6

    # second stream: one update for key 3 only -> only 3's bucket rewritten
    import os

    def file_state(root):
        out = {}
        for r, _, fs in os.walk(root):
            for f in fs:
                if f.endswith(".parquet"):
                    p = os.path.join(r, f)
                    out[p] = os.stat(p).st_mtime_ns
        return out

    before = file_state(store)
    src2 = tmp_path / "scd_in2"
    src2.mkdir()
    with open(src2 / "c.json", "w") as fh:
        fh.write(json.dumps({"k": 3, "attr": "churned", "us": 700, "seq": 10}) + "\n")
    q2 = stream_scd2(
        mkstream(src2), store, str(tmp_path / "scd_ckpt2"),
        key="k", attrs=["attr"], ts_us="us", tiebreak="seq",
    )
    q2.awaitTermination(120)
    after = file_state(store)
    from admira_etl_project_prueba_spark.operators.textops import hex60  # noqa: F401
    import hashlib
    b3 = int(hashlib.md5(b"3").hexdigest()[:15], 16) % 64
    changed_buckets = set()
    for p in set(before) | set(after):
        if before.get(p) != after.get(p):
            part = [s for s in p.split(os.sep) if s.startswith("key_bucket=")]
            changed_buckets.add(part[0] if part else p)
    assert changed_buckets == {f"key_bucket={b3}"}
    got2 = snap()
    assert got2[(3, 3)][0] == "churned" and got2[(3, 3)][3] is True
    assert got2[(3, 2)] == ("paid", 500, 700, False)

    # replay: feeding an already-incorporated update is a no-op
    src3 = tmp_path / "scd_in3"
    src3.mkdir()
    with open(src3 / "d.json", "w") as fh:
        fh.write(json.dumps({"k": 3, "attr": "churned", "us": 700, "seq": 10}) + "\n")
    q3 = stream_scd2(
        mkstream(src3), store, str(tmp_path / "scd_ckpt3"),
        key="k", attrs=["attr"], ts_us="us", tiebreak="seq",
    )
    q3.awaitTermination(120)
    assert snap() == got2


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Native stream-stream join with watermarks: the streamed pairs
    equal the batch interval join; out-of-window and cross-user clicks
    never pair."""
    import datetime as dt

    from pyspark.sql import functions as F

    from admira_etl_project_prueba_spark.streaming.ingest import stream_click_join

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def t(minutes):
        return (base + dt.timedelta(minutes=minutes)).isoformat()

    imps = [
        {"user_id": 1, "imp_id": 10, "imp_ts": t(0)},
        {"user_id": 1, "imp_id": 11, "imp_ts": t(60)},
        {"user_id": 2, "imp_id": 20, "imp_ts": t(5)},
        # sentinel to push the watermark past everything
        {"user_id": 9, "imp_id": 99, "imp_ts": t(60 * 48)},
    ]
    clicks = [
        {"user_id": 1, "click_id": 100, "click_ts": t(10)},   # pairs with 10
        {"user_id": 1, "click_id": 101, "click_ts": t(75)},   # pairs with 11
        {"user_id": 1, "click_id": 102, "click_ts": t(45)},   # 45m after 10: too late
        {"user_id": 2, "click_id": 200, "click_ts": t(4)},    # BEFORE the imp: no pair
        {"user_id": 3, "click_id": 300, "click_ts": t(6)},    # no impression at all
        {"user_id": 9, "click_id": 999, "click_ts": t(60 * 48)},
    ]
    for name, rows in (("imps", imps), ("clicks", clicks)):
        d = tmp_path / name
        d.mkdir()
        with open(d / "a.json", "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")

    def rd(name, ts_col):
        return (
            spark.readStream.schema(
                f"user_id long, {name[:-1]}_id long, {ts_col} string"
            )
            .json(str(tmp_path / name))
            .withColumn(ts_col, F.to_timestamp(ts_col))
        )

    out = str(tmp_path / "ssj_out")
    q = (
        stream_click_join(rd("imps", "imp_ts"), rd("clicks", "click_ts"))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["imp_id"], r["click_id"]) for r in spark.read.parquet(out).collect()}
    assert got == {(10, 100), (11, 101), (99, 999)}


def test_quality_observation_surfaces_in_streaming_progress(spark, tmp_path):
    """The same observe() counters ride each micro-batch: per-batch
    observedMetrics sum to the direct full-input computation — streaming
    completeness dashboards without a second pass."""
    from pyspark.sql import functions as F

    from admira_etl_project_prueba_spark.operators.profile import (
        with_quality_observation,
    )

    src = tmp_path / "obs_in"
    src.mkdir()
    rows = [(i, None if i % 3 == 0 else f"s{i}") for i in range(30)]
    for fname, chunk in (("a.json", rows[:15]), ("b.json", rows[15:])):
        with open(src / fname, "w") as fh:
            for k, v in chunk:
                fh.write(json.dumps({"k": k, "s": v}) + "\n")
    stream = (
        spark.readStream.schema("k long, s string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    observed, _ = with_quality_observation(stream, ["s"])
    q = (
        observed.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "obs_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    metrics = [
        p["observedMetrics"]["quality"]
        for p in (pr.asDict(recursive=True) if hasattr(pr, "asDict") else pr
                  for pr in q.recentProgress)
        if p.get("observedMetrics") and "quality" in p["observedMetrics"]
    ]
    assert metrics  # at least one micro-batch reported
    assert sum(m["n_rows"] for m in metrics) == 30
    assert sum(m["n_null_s"] for m in metrics) == 10


def test_stream_dsir_weights_match_batch(spark, tmp_path):
    """Streamed DSIR verdicts from a persisted model == batch scoring:
    the model freezes the corpus-time distributions, so per-doc weights
    are identical however the docs are micro-batched."""
    from admira_etl_project_prueba_spark.operators.textops import (
        dsir_importance_weights,
        dsir_weights_from_dists,
        write_dsir_dists,
    )
    from admira_etl_project_prueba_spark.streaming.ingest import stream_dsir_weights

    rows = [(i, "alpha beta gamma delta epsilon") for i in range(5)] + [
        (i, "zeta eta theta iota kappa") for i in range(5, 10)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    target = corpus.filter("doc_id < 5")
    dists = str(tmp_path / "dsir_model")
    write_dsir_dists(corpus, target, dists)

    # from-artifact batch path == inline path (model built from same corpus)
    inline = {tuple(r) for r in dsir_importance_weights(corpus, target).collect()}
    frozen = {
        tuple(r)
        for r in dsir_weights_from_dists(spark, corpus, dists).collect()
    }
    assert frozen == inline

    src = tmp_path / "dsir_in"
    src.mkdir()
    for fname, chunk in (("a.json", rows[:6]), ("b.json", rows[6:])):
        with open(src / fname, "w") as fh:
            for did, text in chunk:
                fh.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = str(tmp_path / "dsir_out")
    stream_dsir_weights(
        stream, dists, out, str(tmp_path / "dsir_ckpt")
    ).awaitTermination(120)
    streamed = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert streamed == inline


def test_row_local_sampling_ops_compose_with_streams(spark, tmp_path):
    """mixture_sample and pps_sample are row-local + broadcast-join only,
    so the SAME operator code runs on a streaming frame unchanged — and,
    because membership is hash-deterministic (not RNG), the streamed
    sample equals the batch sample over the same rows regardless of
    micro-batching."""
    from admira_etl_project_prueba_spark.operators.textops import (
        mixture_sample,
        pps_sample,
    )

    rows = [(i, f"src{i % 3}", 1.0 + (i % 7)) for i in range(60)]
    batch = spark.createDataFrame(rows, "doc_id long, source string, weight double")
    src = tmp_path / "mix_in"
    src.mkdir()
    for fname, chunk in (("a.json", rows[:25]), ("b.json", rows[25:])):
        with open(src / fname, "w") as fh:
            for did, s, w in chunk:
                fh.write(json.dumps({"doc_id": did, "source": s, "weight": w}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, source string, weight double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )

    def run(op, name):
        out = str(tmp_path / f"{name}_out")
        q = (
            op(stream).writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["doc_id"] for r in spark.read.parquet(out).collect()}

    rates = {"src0": 0.4, "src1": 0.8}
    got = run(lambda df: mixture_sample(df, rates=rates), "mix")
    want = {r["doc_id"] for r in mixture_sample(batch, rates=rates).collect()}
    assert got == want and 0 < len(want) < 60

    got = run(lambda df: pps_sample(df, weight="weight", rate=0.05), "pps")
    want = {r["doc_id"] for r in pps_sample(batch, weight="weight", rate=0.05).collect()}
    assert got == want


def test_stream_source_counts_store_matches_batch_kl(spark, tmp_path):
    """The streamed per-source count store derives EXACTLY the batch KL
    report however the docs were micro-batched, and a replayed batch
    (same batch_id rewrite) cannot double-count."""
    from admira_etl_project_prueba_spark.operators.textops import (
        source_bucket_counts,
        source_token_kl,
    )
    from admira_etl_project_prueba_spark.streaming.ingest import (
        source_kl_from_store,
        stream_source_token_counts,
    )

    rows = (
        [(i, "alpha beta gamma delta", "feedA") for i in range(6)]
        + [(100 + i, "alpha beta gamma epsilon", "feedB") for i in range(6)]
        + [(200 + i, "zzz yyy xxx www", "feedC") for i in range(4)]
    )
    corpus = spark.createDataFrame(rows, "doc_id long, text string, source string")

    src = tmp_path / "drift_in"
    src.mkdir()
    for fname, chunk in (("a.json", rows[:7]), ("b.json", rows[7:])):
        with open(src / fname, "w") as fh:
            for did, text, source in chunk:
                fh.write(
                    json.dumps({"doc_id": did, "text": text, "source": source})
                    + "\n"
                )
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    store = str(tmp_path / "drift_store")
    stream_source_token_counts(
        stream, store, str(tmp_path / "drift_ckpt")
    ).awaitTermination(120)

    want = {tuple(r) for r in source_token_kl(corpus).collect()}
    got = {tuple(r) for r in source_kl_from_store(spark, store).collect()}
    assert got == want and len(got) == 3

    # replay simulation: rewriting batch 0's delta partition changes nothing
    first_batch = spark.createDataFrame(rows[:7], "doc_id long, text string, source string")
    from pyspark.sql import functions as F

    from admira_etl_project_prueba_spark.functions.fs import resolve_store_root

    delta = source_bucket_counts(first_batch).withColumn(
        "batch_id", F.lit(0).cast("long")
    )
    (
        delta.write.mode("overwrite")
        .partitionBy("batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(resolve_store_root(spark, store))
    )
    replayed = {tuple(r) for r in source_kl_from_store(spark, store).collect()}
    assert replayed == want
