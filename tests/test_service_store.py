"""Service-layer + store tests: endpoint orchestration, validation rules,
idempotent upsert semantics, export contract."""

from __future__ import annotations

import datetime as dt
import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest
from pyspark.sql import functions as F

from admira_etl_project_prueba_spark.config import Config
from admira_etl_project_prueba_spark.operators.export import EmptyExportError
from admira_etl_project_prueba_spark.service import MetricsService, ValidationError
from admira_etl_project_prueba_spark.store import MetricsStore

ADS = [
    {"date": "2024-02-01", "campaign_id": "C-1", "channel": "google_ads",
     "clicks": 100, "impressions": 1000, "cost": 50.0,
     "utm_campaign": "x", "utm_source": "google", "utm_medium": "cpc"},
    {"date": "2024-02-02", "campaign_id": "C-2", "channel": "facebook_ads",
     "clicks": 10, "impressions": 200, "cost": 5.0,
     "utm_campaign": "y", "utm_source": "facebook", "utm_medium": "social"},
]
CRM = [
    {"opportunity_id": "O-1", "contact_email": "a@b.c", "stage": "closed_won",
     "amount": 900.0, "created_at": "2024-02-01T09:00:00Z",
     "utm_campaign": "x", "utm_source": "google", "utm_medium": "cpc"},
]


@pytest.fixture()
def mock_api(tmp_path):
    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            if self.path == "/ads":
                body = json.dumps({"external": {"ads": {"performance": ADS}}})
            else:
                body = json.dumps({"external": {"crm": {"opportunities": CRM}}})
            data = body.encode()
            self.send_response(200)
            self.end_headers()
            self.wfile.write(data)

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


@pytest.fixture()
def service(spark, tmp_path, mock_api):
    cfg = Config(
        ads_api_url=f"{mock_api}/ads",
        crm_api_url=f"{mock_api}/crm",
        store_path=str(tmp_path / "facts"),
        backoff_ms=1,
    )
    return MetricsService(spark, cfg)


def test_ingest_then_query_roundtrip(service):
    res = service.ingest_run(since="2024-01-01")
    assert res["metrics_processed"] == 3  # 2 ads keys + 1 crm key
    out = service.metrics_channel("google_ads", "2024-02-01", "2024-02-28")
    assert out["pagination"]["total"] == 2  # ads row + fused crm row (campaign "")
    rows = {r["campaign_id"]: r for r in out["data"]}
    assert rows["C-1"]["clicks"] == 100
    assert rows[""]["revenue"] == 900.0


def test_reingest_upsert_is_idempotent_in_rowcount(service):
    service.ingest_run()
    t1 = service.metrics_channel("google_ads", "2024-02-01", "2024-02-28")["pagination"]["total"]
    service.ingest_run()  # same payloads again — upsert re-sums, no dup rows
    t2 = service.metrics_channel("google_ads", "2024-02-01", "2024-02-28")["pagination"]["total"]
    assert t1 == t2


def _persisted_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_ingest_run_releases_its_batch_cache(service, spark):
    """ingest_run materializes the consolidated batch once (cache, count,
    upsert) and leaves no persisted RDD behind.  On a fresh store the
    reported count is exactly the number of rows stored."""
    before = _persisted_rdd_ids(spark)
    res = service.ingest_run(since="2024-01-01")
    assert _persisted_rdd_ids(spark) == before
    assert res["metrics_processed"] == service.store.read().count() == 3


def test_ingest_run_releases_its_batch_cache_when_store_fails(
    service, spark, monkeypatch
):
    before = _persisted_rdd_ids(spark)
    seen = {}

    def failing_store(batch, mode="upsert"):
        # the batch is cached and already counted when the upsert starts
        seen["persisted"] = _persisted_rdd_ids(spark) - before
        raise IOError("store unavailable")

    monkeypatch.setattr(service.store, "store", failing_store)
    with pytest.raises(IOError, match="store unavailable"):
        service.ingest_run(since="2024-01-01")
    assert seen["persisted"]
    assert _persisted_rdd_ids(spark) == before


def test_reingest_replace_mode_keeps_values(service):
    service.ingest_run(store_mode="upsert")
    v1 = service.metrics_channel("google_ads", "2024-02-01", "2024-02-28")["data"]
    service.store.store_idempotent_replace(
        service.store.read()
    )  # replace with itself: values unchanged
    v2 = service.metrics_channel("google_ads", "2024-02-01", "2024-02-28")["data"]
    assert v1 == v2


def test_validation_rules(service):
    with pytest.raises(ValidationError, match="channel"):
        service.metrics_channel(None, "2024-01-01", "2024-01-02")
    with pytest.raises(ValidationError, match="from"):
        service.metrics_channel("google_ads", "01-01-2024", "2024-01-02")
    with pytest.raises(ValidationError, match="utm_campaign"):
        service.metrics_funnel(None, "2024-01-01", "2024-01-02")
    with pytest.raises(ValidationError, match="date"):
        service.export_run("2024-13-99")
    with pytest.raises(ValidationError, match="since"):
        service.ingest_run(since="garbage")


def test_limit_offset_silent_clamp(service):
    service.ingest_run()
    out = service.metrics_channel(
        "google_ads", "2024-02-01", "2024-02-28", limit=-1, offset=-5
    )
    assert out["pagination"]["limit"] == 100 and out["pagination"]["offset"] == 0
    assert len(out["data"]) == out["pagination"]["total"]


def test_export_prepared_when_no_sink(service):
    service.ingest_run()
    res = service.export_run("2024-02-01")
    assert res["status"] == "prepared"  # SINK_URL unset ⇒ skip path
    assert res["payload"]["date"] == "2024-02-01"
    assert len(res["signature"]) == 64
    # coarse key: the ads row and crm row stay separate (different campaign_id)
    assert len(res["payload"]["metrics"]) == 2


def test_export_empty_day_raises(service):
    service.ingest_run()
    with pytest.raises(EmptyExportError):
        service.export_run("1999-01-01")


def test_funnel_no_pagination(service):
    service.ingest_run()
    out = service.metrics_funnel("x", "2024-02-01", "2024-02-28")
    assert len(out["data"]) == 2
    assert "pagination" not in out


# ---------------------------------------------------------------------------
# Golden envelope contracts — one test per endpoint, pinning key sets and
# nesting against the reference's response literals so a service refactor
# cannot silently drift the API.  Reference: handlers.go:117-121 (ingest),
# :176-183 (channel+pagination), :206 (funnel), :236-258 (export),
# :415-419 / :451-455 / :494-500 (debug), :69-73 (health).
# Documented deltas from the reference (deliberate, stable):
# * request_id rides in-body (the reference emits it as an X-Request-ID
#   header via middleware.go:11-37; this tier is framework-free).
# * export returns {status, payload, signature, request_id} — the signed
#   body (payload = {date, metrics, exported_at}) plus the signature the
#   reference computes internally at handlers.go:331-383.
# ---------------------------------------------------------------------------

GOLDEN_METRIC_ROW = sorted([  # metrics.go:4-21 json tags, all 18
    "date", "channel", "campaign_id", "clicks", "impressions", "cost",
    "leads", "opportunities", "closed_won", "revenue", "cpc", "cpa",
    "cvr_lead_to_opp", "cvr_opp_to_won", "roas",
    "utm_campaign", "utm_source", "utm_medium",
])
GOLDEN_ADS_ROW = sorted([  # ads.go:6-15 json tags
    "date", "campaign_id", "channel", "clicks", "impressions", "cost",
    "utm_campaign", "utm_source", "utm_medium", "ingested_at",
])
GOLDEN_CRM_ROW = sorted([  # crm.go:11-19 json tags + this engine's audit cols
    "opportunity_id", "contact_email", "stage", "amount", "created_at",
    "utm_campaign", "utm_source", "utm_medium", "ingested_at",
    "created_at_raw", "_date_fallback",
])
_REQ_ID = r"^[0-9a-f]{16}$"


def _assert_request_id(res):
    import re

    assert re.match(_REQ_ID, res["request_id"]), res["request_id"]


def test_golden_ingest_run_envelope(service):
    res = service.ingest_run(since="2024-01-01")
    assert sorted(res) == ["message", "metrics_processed", "request_id", "since"]
    assert isinstance(res["metrics_processed"], int)
    assert res["since"] == "2024-01-01"
    _assert_request_id(res)


def test_golden_metrics_channel_envelope(service):
    service.ingest_run()
    res = service.metrics_channel("google_ads", "2024-02-01", "2024-02-28")
    assert sorted(res) == ["data", "pagination", "request_id"]
    # pagination fields exactly as handlers.go:178-183
    assert sorted(res["pagination"]) == ["has_more", "limit", "offset", "total"]
    p = res["pagination"]
    assert (p["total"], p["limit"], p["offset"], p["has_more"]) == (2, 100, 0, False)
    for row in res["data"]:
        assert sorted(row) == GOLDEN_METRIC_ROW
    _assert_request_id(res)


def test_golden_metrics_funnel_envelope(service):
    service.ingest_run()
    res = service.metrics_funnel("x", "2024-02-01", "2024-02-28")
    # reference emits the bare array (handlers.go:206); data carries it
    assert sorted(res) == ["data", "request_id"]
    for row in res["data"]:
        assert sorted(row) == GOLDEN_METRIC_ROW
    _assert_request_id(res)


def test_golden_export_run_envelope(service):
    service.ingest_run()
    res = service.export_run("2024-02-01")
    assert sorted(res) == ["payload", "request_id", "signature", "status"]
    assert res["status"] == "prepared"  # no SINK_URL ⇒ skip path, :236-244
    # the signed body: date + consolidated metrics + stamp, export.py:73-85
    assert sorted(res["payload"]) == ["date", "exported_at", "metrics"]
    assert res["payload"]["date"] == "2024-02-01"
    assert len(res["signature"]) == 64 and int(res["signature"], 16) >= 0
    _assert_request_id(res)


def test_golden_debug_ads_envelope(service):
    res = service.debug_ads("2024-02-01")
    assert sorted(res) == ["ads_data", "date", "request_id", "total_records"]
    assert res["total_records"] == len(res["ads_data"]) == 1
    for row in res["ads_data"]:
        assert sorted(row) == GOLDEN_ADS_ROW
    _assert_request_id(res)


def test_golden_debug_crm_envelope(service):
    res = service.debug_crm("2024-02-01")
    assert sorted(res) == ["crm_data", "date", "request_id", "total_records"]
    assert res["total_records"] == len(res["crm_data"]) == 1
    for row in res["crm_data"]:
        assert sorted(row) == GOLDEN_CRM_ROW
    _assert_request_id(res)


def test_golden_debug_matches_envelope(service):
    res = service.debug_matches("x")
    assert sorted(res) == [
        "ads_count", "ads_matches", "crm_count", "crm_matches",
        "request_id", "utm_campaign",
    ]
    assert res["ads_count"] == len(res["ads_matches"]) == 1
    assert res["crm_count"] == len(res["crm_matches"]) == 1
    for row in res["ads_matches"]:
        assert sorted(row) == GOLDEN_ADS_ROW
    for row in res["crm_matches"]:
        assert sorted(row) == GOLDEN_CRM_ROW
    _assert_request_id(res)


def test_golden_health_envelopes(service):
    assert service.healthz() == {"status": "healthy"}  # handlers.go:69 literal
    assert service.readyz() == {"status": "ready"}     # handlers.go:73 literal


def test_store_merges_increments_across_batches(spark, tmp_path):
    """upsert must SUM measures for existing keys and re-derive ratios."""
    from admira_etl_project_prueba_spark.functions.metrics import with_derived_metrics
    from admira_etl_project_prueba_spark.schemas import METRICS_SCHEMA

    def batch(clicks, cost):
        row = ("2024-03-01", "google_ads", "C-9", "c", "google", "cpc",
               clicks, 0, cost, 0, 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
        df = spark.createDataFrame([row], METRICS_SCHEMA)
        return with_derived_metrics(df.drop(*["cpc", "cpa", "cvr_lead_to_opp", "cvr_opp_to_won", "roas"]))

    store = MetricsStore(spark, str(tmp_path / "facts2"))
    store.store(batch(10, 5.0))
    store.store(batch(30, 15.0))
    rows = store.read().collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["clicks"] == 40 and r["cost"] == 20.0
    assert r["cpc"] == pytest.approx(0.5)  # re-derived after merge


def test_verbatim_store_of_a_cached_batch_writes_one_file_per_day(spark, tmp_path):
    """A cached batch keeps every shuffle partition (AQE does not coalesce
    a cached plan's output).  Landing it verbatim — upsert into an empty
    store, or append — must still write one file per day, not one per
    partition and day."""
    import os

    from admira_etl_project_prueba_spark.schemas import METRICS_SCHEMA

    rows = [
        (day, "google_ads", f"C-{i}", "c", "google", "cpc",
         i, 0, 1.0, 0, 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
        for day in ("2024-03-01", "2024-03-02")
        for i in range(8)
    ]
    batch = (
        spark.createDataFrame(rows, METRICS_SCHEMA)
        .repartition(4, "campaign_id")
        .cache()
    )
    try:
        assert batch.count() == 16
        for mode in ("upsert", "append"):
            store = MetricsStore(spark, str(tmp_path / f"facts_{mode}"))
            store.store(batch, mode=mode)
            root = store._root()
            files_per_day = {
                d: sum(
                    f.endswith(".parquet")
                    for f in os.listdir(os.path.join(root, d))
                )
                for d in os.listdir(root)
                if d.startswith("date=")
            }
            assert files_per_day == {"date=2024-03-01": 1, "date=2024-03-02": 1}
    finally:
        batch.unpersist()


def test_store_compaction_preserves_data_one_file_per_day(spark, tmp_path):
    """Repeated appends fragment partitions; compact() must collapse each
    day to one file without changing a single row."""
    from admira_etl_project_prueba_spark.functions.metrics import with_derived_metrics
    from admira_etl_project_prueba_spark.schemas import METRICS_SCHEMA

    def batch(day, campaign, clicks):
        row = (day, "google_ads", campaign, "c", "google", "cpc",
               clicks, 0, 1.0, 0, 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
        df = spark.createDataFrame([row], METRICS_SCHEMA)
        return with_derived_metrics(
            df.drop(*["cpc", "cpa", "cvr_lead_to_opp", "cvr_opp_to_won", "roas"])
        )

    store = MetricsStore(spark, str(tmp_path / "facts3"))
    for i in range(4):  # 4 appends × 2 days ⇒ ≥4 files per day
        store.store(batch("2024-03-01", f"C-{i}", 10), mode="append")
        store.store(batch("2024-03-02", f"C-{i}", 20), mode="append")
    want = sorted(tuple(r) for r in store.read().collect())

    before, after = store.compact()
    assert before > 2 and after == 2  # one file per day
    assert sorted(tuple(r) for r in store.read().collect()) == want


def test_request_id_middleware_semantics(spark, tmp_path):
    """F14: every response carries a 16-char id; inbound ids are echoed,
    generated ids are unique per request."""
    from admira_etl_project_prueba_spark.service import new_request_id

    a, b = new_request_id(), new_request_id()
    assert len(a) == 16 and a.isalnum() and a != b
    assert new_request_id("client-supplied-1") == "client-supplied-1"


# ---------------------------------------------------------------------------
# CorpusService — the pipeline ops behind the reference's endpoint contract
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def corpus_svc(spark, sf_dir):
    from admira_etl_project_prueba_spark.corpus_service import CorpusService
    from admira_etl_project_prueba_spark.sources.tables import load_table

    return CorpusService(
        spark,
        documents=load_table(spark, sf_dir, "documents"),
        embeddings=load_table(spark, sf_dir, "embeddings"),
    )


def test_corpus_dedup_pairs_envelope_and_clamps(corpus_svc):
    """Pagination envelope + the reference's silent limit/offset clamps,
    applied to the minhash pairs endpoint."""
    from admira_etl_project_prueba_spark.service import ValidationError as VE

    r = corpus_svc.near_dup_pairs(method="minhash", limit=5, offset=0)
    assert set(r) == {"data", "pagination", "method", "request_id"}
    assert len(r["data"]) <= 5 and len(r["request_id"]) == 16
    p = r["pagination"]
    assert p["limit"] == 5 and p["offset"] == 0
    assert p["has_more"] == (p["total"] > 5)

    # silent clamps: bad limit/offset fall back, results stay canonical
    clamped = corpus_svc.near_dup_pairs(method="minhash", limit=-3, offset=-1)
    assert clamped["pagination"]["limit"] == 100
    assert clamped["data"][:5] == r["data"]

    with pytest.raises(VE, match="invalid method"):
        corpus_svc.near_dup_pairs(method="bloom")


def test_corpus_dedup_summary_counts(corpus_svc):
    r = corpus_svc.dedup_summary()
    assert r["n_docs"] == r["n_distinct"] + r["n_removable"]
    assert r["n_docs"] == corpus_svc.documents.count()


def test_corpus_similar_docs_contract(corpus_svc):
    from admira_etl_project_prueba_spark.corpus_service import NotFoundError
    from admira_etl_project_prueba_spark.service import ValidationError as VE

    r = corpus_svc.similar_docs(vec_id=0, k=3)
    assert len(r["data"]) == 3 and r["query"] == 0
    cosines = [row["cosine"] for row in r["data"]]
    assert cosines == sorted(cosines, reverse=True)
    assert all(row["vec_id"] != 0 for row in r["data"])  # self excluded

    assert len(corpus_svc.similar_docs(vec_id=0, k=-1)["data"]) == 10  # clamp

    with pytest.raises(VE, match="vec_id"):
        corpus_svc.similar_docs(vec_id=None)
    with pytest.raises(NotFoundError):
        corpus_svc.similar_docs(vec_id=10**12)


def test_corpus_quality_and_language_reports(corpus_svc):
    q = corpus_svc.quality_report()
    assert q["n_docs"] == corpus_svc.documents.count()
    kept = [r for r in q["data"] if r["kept"]]
    assert len(kept) == 1 and kept[0]["reject_reason"] is None

    l = corpus_svc.language_breakdown()
    assert sum(r["n"] for r in l["data"]) == q["n_docs"]
    counts = [r["n"] for r in l["data"]]
    assert counts == sorted(counts, reverse=True)


def test_corpus_assemble_histogram(corpus_svc):
    from admira_etl_project_prueba_spark.service import ValidationError as VE

    r = corpus_svc.assemble()
    assert r["n_docs"] == corpus_svc.documents.count()
    assert set(r["counts"]) <= {"rejected_quality", "dup_removed", "train", "test"}
    assert r["counts"].get("train", 0) > r["counts"].get("test", 0)  # 80/20
    with pytest.raises(VE, match="train_pct"):
        corpus_svc.assemble(train_pct=0)


def test_corpus_pii_and_boilerplate_endpoints(spark):
    from admira_etl_project_prueba_spark.corpus_service import (
        CorpusService,
        ValidationError,
    )

    docs = spark.createDataFrame(
        [
            (1, "reach me at a@b.com or 10.0.0.1\nsome unique body\nshared footer line", "en"),
            (2, "nothing here\nshared footer line", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    svc = CorpusService(spark, documents=docs)
    pii = svc.pii_report()
    assert pii["n_docs"] == 2 and pii["docs_with_pii"] == 1
    assert pii["n_email"] == 1 and pii["n_ipv4"] == 1 and pii["n_phone"] == 0
    assert len(pii["request_id"]) == 16

    bp = svc.boilerplate_report(threshold=0.4, segment_tokens=None)
    assert bp["n_docs"] == 2
    assert bp["n_dup_lines"] == 2          # the shared footer, in both docs
    assert bp["docs_over_threshold"] == 1  # doc 2 (1/2 dup) only; doc 1 is 1/3
    assert 0 < bp["dup_line_rate"] < 1

    import pytest as _pytest

    with _pytest.raises(ValidationError):
        svc.boilerplate_report(threshold=1.5)


def test_debug_endpoints_mirror_reference_contract(service):
    # /debug/ads: exact-date filter over a fresh extract
    out = service.debug_ads("2024-02-01")
    assert out["total_records"] == 1
    assert out["ads_data"][0]["campaign_id"] == "C-1"
    # /debug/crm: day(created_at) filter
    out = service.debug_crm("2024-02-01")
    assert out["total_records"] == 1
    assert out["crm_data"][0]["opportunity_id"] == "O-1"
    assert service.debug_crm("2024-02-09")["total_records"] == 0
    # /debug/matches: two independent filters, not a join
    out = service.debug_matches("x")
    assert out["ads_count"] == 1 and out["crm_count"] == 1
    out = service.debug_matches("y")
    assert out["ads_count"] == 1 and out["crm_count"] == 0
    # validation contract
    import pytest as _pytest

    with _pytest.raises(ValidationError):
        service.debug_ads(None)
    with _pytest.raises(ValidationError):
        service.debug_matches("")

def test_debug_ads_survives_crm_outage(spark, tmp_path):
    """handlers.go:386-456: /debug/ads extracts only the ads API and
    /debug/crm only the CRM API — an outage of the *other* upstream must
    not fail the endpoint, and each debug call fetches exactly one URL."""
    hits = {"ads": 0, "crm": 0}

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            if self.path == "/ads":
                hits["ads"] += 1
                body = json.dumps({"external": {"ads": {"performance": ADS}}}).encode()
                self.send_response(200)
                self.end_headers()
                self.wfile.write(body)
            else:  # CRM API is down
                hits["crm"] += 1
                self.send_response(500)
                self.end_headers()

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        svc = MetricsService(
            spark,
            Config(
                ads_api_url=f"{base}/ads",
                crm_api_url=f"{base}/crm",
                store_path=str(tmp_path / "facts"),
                max_retries=2,
                backoff_ms=1,
            ),
        )
        out = svc.debug_ads("2024-02-01")  # must not touch the CRM API
        assert out["total_records"] == 1
        assert hits == {"ads": 1, "crm": 0}

        from admira_etl_project_prueba_spark.sources.http import FetchError

        with pytest.raises(FetchError):
            svc.debug_crm("2024-02-01")  # CRM outage fails ONLY the CRM endpoint
        assert hits["ads"] == 1  # debug_crm never fetched the ads API
        assert svc.debug_ads("2024-02-02")["total_records"] == 1
    finally:
        srv.shutdown()

def test_corpus_source_report_endpoint(spark):
    from admira_etl_project_prueba_spark.corpus_service import (
        CorpusService,
        ValidationError,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the spark engine "
        "aggregates partitions of shuffled data across the cluster nodes"
    )
    rows = [(i, base + f" tok{i}", "en", "good.example") for i in range(3)]
    rows += [(10 + i, "tiny", "en", "spam.example") for i in range(3)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    svc = CorpusService(spark, documents=docs)
    rep = svc.source_report()
    assert rep["n_sources"] == 2 and rep["n_flagged"] == 1
    # worst-first ordering: the flagged source leads
    assert rep["data"][0]["source"] == "spam.example"
    assert not rep["data"][0]["keep_source"]
    assert rep["data"][1]["keep_source"]
    with pytest.raises(ValidationError):
        svc.source_report(min_kept_fraction=2.0)


def test_corpus_search_endpoint_contract(corpus_svc):
    """GET /corpus/search: envelope, validation (missing q / bad mode),
    limit clamp, bm25 vs hybrid parity with the underlying operators."""
    from admira_etl_project_prueba_spark.service import ValidationError

    out = corpus_svc.search(q="spark join", limit=5)
    assert set(out) == {"query", "mode", "data", "request_id"}
    assert out["mode"] == "bm25" and out["query"] == ["spark", "join"]
    assert 0 < len(out["data"]) <= 5
    assert list(out["data"][0]) == ["doc_id", "bm25_score", "n_terms_matched"]
    scores = [d["bm25_score"] for d in out["data"]]
    assert scores == sorted(scores, reverse=True)

    hyb = corpus_svc.search(q="Spark JOIN", mode="hybrid", limit=5)
    assert len(hyb["data"]) == 5
    assert "rrf_score" in hyb["data"][0]

    import pytest as _pt

    with _pt.raises(ValidationError):
        corpus_svc.search(q=None)
    with _pt.raises(ValidationError):
        corpus_svc.search(q="   ")
    with _pt.raises(ValidationError):
        corpus_svc.search(q="x", mode="vector")
    clamped = corpus_svc.search(q="spark", limit=0)
    assert len(clamped["data"]) <= 20


def test_corpus_weights_endpoint_contract(corpus_svc):
    """GET /corpus/weights: envelope, descending order, validation
    (missing target_lang → 400, unknown → 404), limit clamp."""
    from admira_etl_project_prueba_spark.corpus_service import NotFoundError
    from admira_etl_project_prueba_spark.service import ValidationError
    import pytest as _pt

    out = corpus_svc.importance_weights(target_lang="en", limit=5)
    assert set(out) == {"target_lang", "data", "request_id"}
    assert 0 < len(out["data"]) <= 5
    assert list(out["data"][0]) == ["doc_id", "log_weight", "n_bigrams"]
    ws = [d["log_weight"] for d in out["data"]]
    assert ws == sorted(ws, reverse=True)
    with _pt.raises(ValidationError):
        corpus_svc.importance_weights(target_lang=None)
    with _pt.raises(ValidationError):
        corpus_svc.importance_weights(target_lang="  ")
    with _pt.raises(NotFoundError):
        corpus_svc.importance_weights(target_lang="tlh")
    clamped = corpus_svc.importance_weights(target_lang="en", limit=0)
    assert len(clamped["data"]) <= 20


def test_corpus_search_hostile_terms_are_data_not_sql(corpus_svc, spark, tmp_path):
    """Quote-bearing / expression-shaped query terms must flow through as
    literals, not SQL text: no AnalysisException 500, no expression
    evaluation (regression: terms were interpolated into selectExpr /
    filter strings, so q=\"o'brien\" crashed and crafted terms reached the
    Spark SQL parser).  Covers both the scan path and the index path."""
    from admira_etl_project_prueba_spark.operators.textops import (
        bm25_from_index,
        bm25_rank,
        write_text_index,
    )

    hostile = "o'brien ')) , x)) union reflect('java.lang.System','getenv')--"
    out = corpus_svc.search(q=hostile, limit=5)
    assert out["query"][0] == "o'brien"
    assert isinstance(out["data"], list)  # executed, didn't parse-crash

    # a doc actually containing the quoted token must still match it
    docs = spark.createDataFrame(
        [(1, "meet o'brien tomorrow"), (2, "plain text here")], ["doc_id", "text"]
    )
    got = bm25_rank(docs, ["o'brien"], top_n=5).collect()
    assert [r["doc_id"] for r in got] == [1]

    idx = str(tmp_path / "hostile_idx")
    write_text_index(docs, idx, num_buckets=4)
    via_idx = bm25_from_index(spark, idx, ["o'brien"], num_buckets=4).collect()
    assert [r["doc_id"] for r in via_idx] == [1]


def test_backfill_processes_only_missing_dates(spark, tmp_path):
    """The store's partition listing is the resume manifest: a partial
    store only builds the gap, a complete one builds nothing, and the
    builder is invoked once per date group."""
    from admira_etl_project_prueba_spark.operators.transform import transform
    from admira_etl_project_prueba_spark.schemas import ADS_SCHEMA, CRM_PARSED_SCHEMA
    from admira_etl_project_prueba_spark.store import MetricsStore, backfill_missing_dates
    import datetime as dt

    ing = dt.datetime(2024, 1, 20, 12, 0, 0)

    def mk_ads(dates):
        rows = [
            (d, "C-1", "google_ads", 10, 100, 5.0, "camp", "google", "cpc", ing)
            for d in dates
        ]
        return spark.createDataFrame(rows, ADS_SCHEMA)

    calls = []

    def build(dates):
        calls.append(list(dates))
        return transform(mk_ads(dates), spark.createDataFrame([], CRM_PARSED_SCHEMA))

    store = MetricsStore(spark, str(tmp_path / "bf_store"))
    all_dates = [f"2024-01-{d:02d}" for d in range(1, 11)]
    # seed the store with the first 4 dates
    store.store(build(all_dates[:4]))
    calls.clear()

    out = backfill_missing_dates(store, all_dates, build, batch_days=3)
    assert out == {"requested": 10, "already_present": 4, "processed": 6, "groups": 2}
    assert [len(c) for c in calls] == [3, 3]
    assert sorted(sum(calls, [])) == all_dates[4:]
    dates_in_store = {r["date"] for r in store.read().select("date").distinct().collect()}
    assert dates_in_store == set(all_dates)

    # idempotent: nothing left to do
    calls.clear()
    out2 = backfill_missing_dates(store, all_dates, build)
    assert out2["processed"] == 0 and calls == []


def test_corpus_perplexity_endpoint_contract(corpus_svc):
    """GET /corpus/perplexity: envelope, worst-first order, validation
    (missing reference_lang → 400, unknown → 404), limit clamp."""
    from admira_etl_project_prueba_spark.corpus_service import NotFoundError
    from admira_etl_project_prueba_spark.service import ValidationError
    import pytest as _pt

    out = corpus_svc.perplexity_outliers(reference_lang="en", limit=5)
    assert set(out) == {"reference_lang", "data", "request_id"}
    assert 0 < len(out["data"]) <= 5
    assert list(out["data"][0]) == ["doc_id", "cross_entropy", "n_tokens"]
    ces = [d["cross_entropy"] for d in out["data"]]
    assert ces == sorted(ces, reverse=True)
    with _pt.raises(ValidationError):
        corpus_svc.perplexity_outliers(reference_lang=None)
    with _pt.raises(ValidationError):
        corpus_svc.perplexity_outliers(reference_lang="  ")
    with _pt.raises(NotFoundError):
        corpus_svc.perplexity_outliers(reference_lang="tlh")
    clamped = corpus_svc.perplexity_outliers(reference_lang="en", limit=0)
    assert len(clamped["data"]) <= 20


def test_corpus_drift_endpoint_contract(corpus_svc):
    """GET /corpus/drift: worst-first KL rows with threshold flags,
    negative threshold → 400."""
    from admira_etl_project_prueba_spark.service import ValidationError
    import pytest as _pt

    out = corpus_svc.drift_report(kl_threshold=0.0)
    assert set(out) == {"mode", "data", "n_sources", "n_drifted", "request_id"}
    assert out["mode"] == "kl"
    assert out["n_sources"] == len(out["data"]) > 0
    kls = [d["kl_nats"] for d in out["data"]]
    assert kls == sorted(kls, reverse=True)
    # flag bookkeeping is consistent with the threshold (the smoothed
    # estimator can sit below 0 when B >> per-source tokens, so no
    # assumption about sign here)
    assert out["n_drifted"] == sum(1 for d in out["data"] if d["drifted"])
    assert all((d["kl_nats"] > 0.0) == d["drifted"] for d in out["data"])
    assert all(set(d) == {"source", "kl_nats", "n_tokens", "drifted"}
               for d in out["data"])
    assert corpus_svc.drift_report(kl_threshold=1e9)["n_drifted"] == 0
    with _pt.raises(ValidationError):
        corpus_svc.drift_report(kl_threshold=-0.1)


def test_corpus_recall_endpoint_contract(corpus_svc):
    """GET /corpus/recall: measured LSH recall envelope; out-of-range
    threshold → 400."""
    from admira_etl_project_prueba_spark.service import ValidationError
    import pytest as _pt

    out = corpus_svc.recall_report()
    assert set(out) == {
        "n_true_pairs", "n_candidates", "n_captured",
        "recall", "candidate_precision", "threshold", "request_id",
    }
    assert out["n_captured"] <= out["n_candidates"]
    if out["n_true_pairs"] > 0:
        assert 0.0 <= out["recall"] <= 1.0
    with _pt.raises(ValidationError):
        corpus_svc.recall_report(threshold=0.0)
    with _pt.raises(ValidationError):
        corpus_svc.recall_report(threshold=1.5)


def test_corpus_search_phrase_mode(corpus_svc):
    """GET /corpus/search?mode=phrase: exact consecutive matching ranked
    by occurrence count; quote-bearing input stays data (no SQL parse)."""
    out = corpus_svc.search(q="slow hash batch", mode="phrase", limit=5)
    assert out["mode"] == "phrase" and out["query"] == ["slow", "hash", "batch"]
    assert len(out["data"]) <= 5
    counts = [d["n_occurrences"] for d in out["data"]]
    assert counts == sorted(counts, reverse=True)
    hostile = corpus_svc.search(q="x') OR ('1'='1", mode="phrase")
    assert hostile["data"] == []


def test_corpus_dup_profile_envelope(corpus_svc):
    """GET /corpus/dup_profile: histogram rows + headline dup_share; the
    synthetic corpus has no exact dups, so every cluster is a singleton."""
    out = corpus_svc.dup_profile()
    assert out["n_docs"] == sum(r["n_docs"] for r in out["data"])
    assert out["dup_share"] == 0.0
    assert out["data"][0]["n_copies"] == 1
    assert out["normalized"] is False and out["request_id"]


def test_corpus_dup_profile_counts_planted_dups(spark):
    from admira_etl_project_prueba_spark.corpus_service import CorpusService

    docs = spark.createDataFrame(
        [(1, "same text", "en", "a"), (2, "same text", "en", "b"),
         (3, "other", "en", "a")],
        "doc_id long, text string, lang string, source string",
    )
    out = CorpusService(spark, documents=docs).dup_profile()
    assert out["n_docs"] == 3
    assert abs(out["dup_share"] - 1 / 3) < 1e-12  # one removable copy of three


def test_corpus_fertility_report(corpus_svc):
    out = corpus_svc.fertility_report()
    assert out["request_id"]
    by_lang = {r["lang"]: r for r in out["data"]}
    for r in by_lang.values():
        assert r["n_tokens"] > 0 and r["chars_per_token"] > 0


def test_corpus_lang_mismatch_clamps_and_ranks(spark):
    from admira_etl_project_prueba_spark.corpus_service import CorpusService

    docs = spark.createDataFrame(
        [(i, "x", "en" if i % 5 else "fr", "a") for i in range(1, 21)]
        + [(100, "x", "de", "b"), (101, "x", "de", "b")],
        "doc_id long, text string, lang string, source string",
    )
    svc = CorpusService(spark, documents=docs)
    out = svc.lang_mismatch_report()
    # source a: dominant en, the 4 fr docs mismatch; source b: uniform de
    assert out["n_mismatched_docs"] == 4
    assert out["data"][0]["source"] == "a"
    assert out["data"][0]["dominant_lang"] == "en"
    # limit <= 0 silently clamps to the default instead of erroring
    assert svc.lang_mismatch_report(limit=0)["data"] == out["data"]


def test_http_tier_routes_reference_contract(spark, tmp_path):
    """The runnable stdlib HTTP tier mounts the reference's route table
    1:1 (cmd/server/main.go -> handlers.go:41-59): 200 envelopes on the
    happy path, 400 on validation, 404 on empty export / unknown route,
    and the inbound X-Request-ID echoed — all over a real socket."""
    import urllib.error
    import urllib.request

    from admira_etl_project_prueba_spark.serve import serve

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            body = (
                {"external": {"ads": {"performance": ADS}}}
                if self.path == "/ads"
                else {"external": {"crm": {"opportunities": CRM}}}
            )
            payload = json.dumps(body).encode()
            self.send_response(200)
            self.end_headers()
            self.wfile.write(payload)

    upstream = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=upstream.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{upstream.server_address[1]}"
    svc = MetricsService(
        spark,
        Config(
            ads_api_url=f"{base}/ads",
            crm_api_url=f"{base}/crm",
            store_path=str(tmp_path / "facts"),
            max_retries=2,
            backoff_ms=1,
        ),
    )
    server = serve(svc, port=0)
    port = server.server_address[1]
    api = f"http://127.0.0.1:{port}"

    def call(method, path, rid=None):
        req = urllib.request.Request(api + path, method=method)
        if rid:
            req.add_header("X-Request-ID", rid)
        try:
            with urllib.request.urlopen(req, timeout=60) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as exc:
            return exc.code, json.loads(exc.read())

    try:
        assert call("GET", "/healthz") == (200, {"status": "healthy"})
        assert call("GET", "/readyz")[0] == 200
        code, body = call("POST", "/ingest/run?since=2024-01-01", rid="req-abc-123")
        assert code == 200 and body["metrics_processed"] == 3
        assert body["request_id"] == "req-abc-123"  # middleware echo
        code, body = call(
            "GET",
            "/metrics/channel?channel=google_ads&from=2024-01-01&to=2024-12-31",
        )
        # ads C-1 plus the CRM row (channel inferred google_ads from utm)
        assert code == 200 and len(body["data"]) == 2
        assert body["pagination"]["total"] == 2
        code, body = call("GET", "/metrics/funnel?utm_campaign=x&from=2024-01-01&to=2024-12-31")
        assert code == 200 and len(body["data"]) == 2
        # validation contract -> 400
        assert call("GET", "/metrics/channel?channel=&from=x&to=y")[0] == 400
        assert call("POST", "/ingest/run?since=not-a-date")[0] == 400
        # empty export day -> 404 (reference handlers.go:227-230)
        assert call("POST", "/export/run?date=1999-01-01")[0] == 404
        # unknown route -> 404
        assert call("GET", "/nope")[0] == 404
        # debug endpoints round-trip over the socket
        code, body = call("GET", "/debug/matches?utm_campaign=x")
        assert code == 200 and body["ads_count"] == 1 and body["crm_count"] == 1
    finally:
        server.shutdown()
        upstream.shutdown()


def test_http_tier_mounts_corpus_routes(spark, tmp_path, sf_dir):
    """serve(corpus=...) adds the beyond-reference GET /corpus/* routes:
    health/dup_profile/search round-trip over the socket, validation maps
    to 400, and without a corpus the same paths are 404."""
    import urllib.error
    import urllib.request

    from admira_etl_project_prueba_spark.corpus_service import CorpusService
    from admira_etl_project_prueba_spark.serve import serve
    from admira_etl_project_prueba_spark.sources.tables import load_table

    svc = MetricsService(
        spark, Config(store_path=str(tmp_path / "facts"), backoff_ms=1)
    )
    corpus = CorpusService(spark, documents=load_table(spark, sf_dir, "documents"))
    server = serve(svc, port=0, corpus=corpus)
    bare = serve(svc, port=0)  # no corpus mounted
    api = f"http://127.0.0.1:{server.server_address[1]}"
    bare_api = f"http://127.0.0.1:{bare.server_address[1]}"

    def call(base, path):
        try:
            with urllib.request.urlopen(base + path, timeout=120) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as exc:
            return exc.code, json.loads(exc.read())

    try:
        code, body = call(api, "/corpus/health")
        assert code == 200 and "size" in body["data"]
        code, body = call(api, "/corpus/dup_profile")
        assert code == 200 and body["dup_share"] == 0.0
        code, body = call(api, "/corpus/search?q=spark&limit=3")
        assert code == 200 and len(body["data"]) == 3
        assert call(api, "/corpus/search?q=")[0] == 400
        assert call(api, "/corpus/search?q=x&mode=bogus")[0] == 400
        assert call(bare_api, "/corpus/health")[0] == 404
    finally:
        server.shutdown()
        bare.shutdown()


def test_http_tier_mounts_full_corpus_surface(spark, tmp_path, sf_dir):
    """Every CorpusService endpoint is reachable over the socket with its
    query params plumbed — the route gaps ADVICE flagged: dedup/pairs,
    similar, weights, perplexity, recall, languages, sources, pii,
    boilerplate, POST assemble, dedup?normalized, dup_profile?normalized,
    drift?kl_threshold and the persisted-snapshot PSI drift mode."""
    import urllib.error
    import urllib.request

    from admira_etl_project_prueba_spark.corpus_service import CorpusService
    from admira_etl_project_prueba_spark.operators.sketches import (
        write_histogram_store,
    )
    from admira_etl_project_prueba_spark.serve import serve
    from admira_etl_project_prueba_spark.sources.tables import load_events, load_table

    svc = MetricsService(
        spark, Config(store_path=str(tmp_path / "facts"), backoff_ms=1)
    )
    docs = load_table(spark, sf_dir, "documents")
    corpus = CorpusService(
        spark,
        documents=docs,
        embeddings=load_table(spark, sf_dir, "embeddings"),
    )
    ev = load_events(spark, sf_dir)
    base_store = str(tmp_path / "hist_base")
    cur_store = str(tmp_path / "hist_cur")
    write_histogram_store(ev, base_store)
    write_histogram_store(ev.filter("event_type != 'error'"), cur_store)
    server = serve(svc, port=0, corpus=corpus)
    api = f"http://127.0.0.1:{server.server_address[1]}"

    def call(path, method="GET"):
        req = urllib.request.Request(api + path, method=method)
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as exc:
            return exc.code, json.loads(exc.read())

    try:
        code, body = call("/corpus/dedup/pairs?method=minhash&limit=3")
        assert code == 200 and body["method"] == "minhash"
        assert call("/corpus/dedup/pairs?method=bloom")[0] == 400
        code, body = call("/corpus/dedup?normalized=true")
        assert code == 200 and body["normalized"] is True
        code, body = call("/corpus/dup_profile?normalized=true")
        assert code == 200 and body["normalized"] is True
        code, body = call("/corpus/similar?vec_id=0&k=3")
        assert code == 200 and len(body["data"]) == 3
        assert call("/corpus/similar")[0] == 400
        assert call("/corpus/similar?vec_id=abc")[0] == 400
        assert call("/corpus/similar?vec_id=999999999")[0] == 404
        code, body = call("/corpus/weights?target_lang=en&limit=2")
        assert code == 200 and len(body["data"]) == 2
        assert call("/corpus/weights")[0] == 400
        assert call("/corpus/weights?target_lang=zz")[0] == 404
        code, body = call("/corpus/perplexity?reference_lang=en&limit=2")
        assert code == 200 and len(body["data"]) == 2
        assert call("/corpus/perplexity?reference_lang=zz")[0] == 404
        code, body = call("/corpus/recall?threshold=0.5")
        assert code == 200 and "recall" in body
        assert call("/corpus/recall?threshold=2.0")[0] == 400
        code, body = call("/corpus/languages")
        assert code == 200 and len(body["data"]) > 0
        code, body = call("/corpus/sources?min_kept_fraction=0.5")
        assert code == 200 and body["n_sources"] > 0
        assert call("/corpus/sources?min_kept_fraction=1.5")[0] == 400
        code, body = call("/corpus/pii")
        assert code == 200 and "docs_with_pii" in body
        code, body = call("/corpus/boilerplate?threshold=0.5&segment_tokens=3")
        assert code == 200 and "dup_line_rate" in body
        # KL drift with a plumbed threshold: everything drifts at 0.0...
        code, body = call("/corpus/drift?kl_threshold=-1")
        assert code == 400
        code, body = call("/corpus/drift?kl_threshold=1000000000")
        assert code == 200 and body["mode"] == "kl" and body["n_drifted"] == 0
        # ...and the persisted-snapshot PSI mode diffs two stores
        code, body = call(
            f"/corpus/drift?base={base_store}&current={cur_store}"
            "&psi_threshold=0.0001"
        )
        assert code == 200 and body["mode"] == "psi"
        types = {r["event_type"]: r for r in body["data"]}
        assert types["error"]["n_cur"] == 0 and types["error"]["drifted"]
        assert call(f"/corpus/drift?base={base_store}")[0] == 400
        assert call(
            f"/corpus/drift?base=/nope&current={cur_store}"
        )[0] == 404
        code, body = call("/corpus/assemble?train_pct=80", method="POST")
        assert code == 200 and body["n_docs"] == docs.count()
        assert call("/corpus/assemble?train_pct=0", method="POST")[0] == 400
    finally:
        server.shutdown()


def test_index_health_endpoint_and_similar_index_block(spark, sf_dir, tmp_path):
    """index_health reports the maintenance state (fan-out + occupancy
    skew + triggers) for the configured index stores, absent indexes are
    null, and /corpus/similar carries the IVF block when a store is
    configured (and not otherwise)."""
    from admira_etl_project_prueba_spark.corpus_service import CorpusService
    from admira_etl_project_prueba_spark.operators.similarity import (
        merge_ivf_index,
        write_ivf_index,
    )
    from admira_etl_project_prueba_spark.operators.textops import write_text_index
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    ivf = str(tmp_path / "ivf")
    txt = str(tmp_path / "txt")
    write_ivf_index(emb.filter("vec_id < 300"), ivf)
    merge_ivf_index(spark, ivf, emb.filter("vec_id >= 300"))
    write_text_index(docs, txt, num_buckets=8)

    svc = CorpusService(
        spark, documents=docs, embeddings=emb,
        ivf_index_path=ivf, text_index_path=txt,
    )
    r = svc.index_health()
    assert set(r) == {"data", "request_id"}
    h = r["data"]["ivf"]
    assert h["n_lists"] > 0 and h["max_files_per_list"] >= 2  # merge fan-out
    assert h["needs_compaction"] is False and h["needs_retrain"] is False
    assert h["max_occupancy_skew"] > 0
    # the provisioning rule surfaced: ceil(real vectors / target-per-list);
    # the sf0.001 corpus has 842 vectors, 16 of them centroid self-rows
    assert h["recommended_n_centroids"] == -(-(emb.count() - 16) // 64)
    t = r["data"]["text"]
    assert t["n_buckets"] > 0 and t["max_files_per_bucket"] >= 1
    assert t["needs_compaction"] is False
    # transient maintenance visibility (round 9): no maintenance running
    assert h["lease_held"] is False and t["lease_held"] is False
    # a writer mid-maintenance (possibly another PROCESS) shows up here —
    # the operator's explanation for probe-latency spikes / mid-swap errors
    from admira_etl_project_prueba_spark.functions.fs import (
        release_lease,
        try_acquire_lease,
    )

    tok = try_acquire_lease(spark, ivf)
    assert tok
    assert svc.index_health()["data"]["ivf"]["lease_held"] is True
    release_lease(spark, ivf, tok)
    assert svc.index_health()["data"]["ivf"]["lease_held"] is False

    sim = svc.similar_docs(vec_id=5, k=3)
    assert sim["index"]["n_lists"] == h["n_lists"]
    # with a configured index the endpoint probes IT (pruned read),
    # never re-scores the whole corpus; the method is declared
    assert sim["method"] == "ivf_index" and len(sim["data"]) == 3
    cos = [r["cosine"] for r in sim["data"]]
    assert cos == sorted(cos, reverse=True)
    assert all(r["vec_id"] != 5 for r in sim["data"])

    bare = CorpusService(spark, documents=docs, embeddings=emb)
    assert bare.index_health()["data"] == {
        "ivf": None, "text": None, "pq": None,
    }
    bare_sim = bare.similar_docs(vec_id=5, k=3)
    assert "index" not in bare_sim and bare_sim["method"] == "exact"


def test_index_retrain_and_compact_service_cycle(spark, sf_dir, tmp_path):
    """The ACT side of the maintenance loop: POST-backed retrain adopts
    the provisioning-rule count, refreshes the memoized centroid count
    the /corpus/similar probe uses (a stale value would probe the new
    layout with the old list universe), and compaction collapses merge
    fan-out back to one file per list/bucket.  Unconfigured stores 404
    (LookupError) instead of reporting empty success."""
    import pytest as _pytest

    from admira_etl_project_prueba_spark.corpus_service import CorpusService
    from admira_etl_project_prueba_spark.operators.similarity import (
        merge_ivf_index,
        write_ivf_index,
    )
    from admira_etl_project_prueba_spark.operators.textops import write_text_index
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    ivf, txt = str(tmp_path / "ivf"), str(tmp_path / "txt")
    write_ivf_index(emb.filter("vec_id < 300"), ivf)
    merge_ivf_index(spark, ivf, emb.filter("vec_id >= 300"))  # fan-out >= 2
    write_text_index(docs, txt, num_buckets=8)
    svc = CorpusService(
        spark, documents=docs, embeddings=emb,
        ivf_index_path=ivf, text_index_path=txt,
    )

    before = svc.similar_docs(vec_id=5, k=3)  # memoizes n_centroids=16
    assert before["method"] == "ivf_index"

    r = svc.index_retrain()  # provisioning-rule default
    want_k = -(-(emb.count() - 16) // 64)  # ceil(real vectors / target)
    assert r["data"] == {"path": ivf, "n_centroids": want_k}
    from admira_etl_project_prueba_spark.operators.similarity import (
        ivf_resolved_paths,
    )

    manifest = ivf_resolved_paths(spark, ivf)[1]
    assert spark.read.parquet(manifest).first()["n_centroids"] == want_k
    # the probe must use the NEW centroid count against the new layout
    after = svc.similar_docs(vec_id=5, k=3)
    assert after["method"] == "ivf_index" and len(after["data"]) == 3
    cos = [row["cosine"] for row in after["data"]]
    assert cos == sorted(cos, reverse=True)
    # populated lists ≤ the manifest universe (duplicate vectors can let
    # one centroid win another's self-row), and the health block is the
    # retrained store's, not the memoized pre-retrain one
    assert 0 < after["index"]["n_lists"] <= want_k
    assert after["index"]["recommended_n_centroids"] == want_k

    c = svc.index_compact()
    assert c["data"]["compacted"] == ["ivf", "text"]
    h = svc.index_health()["data"]
    assert h["ivf"]["max_files_per_list"] == 1
    assert h["text"]["max_files_per_bucket"] == 1
    assert h["ivf"]["n_lists"] == after["index"]["n_lists"]

    bare = CorpusService(spark, documents=docs, embeddings=emb)
    with _pytest.raises(LookupError):
        bare.index_retrain()
    with _pytest.raises(LookupError):
        bare.index_compact()


def test_similar_docs_sees_out_of_band_retrain(spark, sf_dir, tmp_path):
    """A retrain run OUTSIDE this service instance (batch job, second
    worker) must invalidate the memoized centroid count: the retrain
    commits a new version, so the resolved manifest directory's mtime
    changes — probing the new layout with the old count would silently
    read lists that no longer exist."""
    from admira_etl_project_prueba_spark.corpus_service import CorpusService
    from admira_etl_project_prueba_spark.operators.similarity import (
        retrain_ivf_index,
        write_ivf_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    ivf = str(tmp_path / "ivf")
    write_ivf_index(emb, ivf, n_centroids=16)
    svc = CorpusService(spark, documents=docs, embeddings=emb, ivf_index_path=ivf)
    before = svc.similar_docs(vec_id=5, k=3)
    assert before["method"] == "ivf_index"
    assert svc._ivf_n_centroids == 16
    # out-of-band: a DIFFERENT actor retrains the shared store
    retrain_ivf_index(spark, ivf, n_centroids=8)
    after = svc.similar_docs(vec_id=5, k=3)  # must probe with the NEW count
    assert svc._ivf_n_centroids == 8
    assert after["method"] == "ivf_index" and len(after["data"]) == 3
    assert after["index"]["n_lists"] <= 8


def test_index_routes_pollable_before_stores_exist(spark, sf_dir, tmp_path):
    """A service configured with index paths that have not been written
    yet (fresh deployment) must stay serviceable: health reports the
    store absent instead of 500ing, /corpus/similar falls back to the
    exact path, and compaction skips the missing stores."""
    from admira_etl_project_prueba_spark.corpus_service import CorpusService
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    svc = CorpusService(
        spark, documents=docs, embeddings=emb,
        ivf_index_path=str(tmp_path / "nonexistent_ivf"),
        text_index_path=str(tmp_path / "nonexistent_txt"),
    )
    h = svc.index_health()["data"]
    assert h["ivf"] == {
        "path": str(tmp_path / "nonexistent_ivf"),
        "absent": True,
        "lease_held": False,  # transient maintenance flag (round 9)
    }
    assert h["text"] == {
        "path": str(tmp_path / "nonexistent_txt"),
        "absent": True,
        "lease_held": False,
    }
    sim = svc.similar_docs(vec_id=5, k=3)
    assert sim["method"] == "exact" and len(sim["data"]) == 3
    assert sim["index"]["absent"] is True
    assert svc.index_compact()["data"]["compacted"] == []


def test_near_dup_pairs_semantic_method(spark, sf_dir, tmp_path):
    """method=semantic on /corpus/dedup/pairs: SemDeDup pairs served from
    the CONFIGURED persisted IVF index's assignments when ready (the
    response declares assignments_source=ivf_index; no inline n·k
    recompute), inline otherwise; requires an embeddings corpus and a
    threshold in (0, 1]."""
    from admira_etl_project_prueba_spark.corpus_service import CorpusService
    from admira_etl_project_prueba_spark.operators.similarity import (
        ivf_data_path,
        semantic_dedup_pairs,
        write_ivf_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    ivf = str(tmp_path / "ivf")
    write_ivf_index(emb, ivf, n_centroids=16)

    svc = CorpusService(spark, documents=docs, embeddings=emb, ivf_index_path=ivf)
    r = svc.near_dup_pairs(method="semantic", threshold=0.2, limit=5)
    assert r["method"] == "semantic"
    assert r["assignments_source"] == "ivf_index"
    # identical to the operator fed the persisted assignment directly
    want = semantic_dedup_pairs(
        emb, 16, 0.2, assignments=spark.read.parquet(ivf_data_path(spark, ivf))
    )
    # sf0.001 embeddings are near-orthogonal, so a production threshold
    # yields zero pairs; 0.2 exercises the full path with real output
    assert r["pagination"]["total"] == want.count() > 0
    cols = {"vec_id_a", "vec_id_b", "centroid_id", "cosine"}
    assert all(set(row) == cols for row in r["data"])

    # no index configured -> inline assignment, same envelope
    bare = CorpusService(spark, documents=docs, embeddings=emb)
    r2 = bare.near_dup_pairs(method="semantic", threshold=0.2, limit=5)
    assert r2["assignments_source"] == "inline"
    assert r2["pagination"]["total"] > 0
    # non-semantic methods don't carry the key
    assert "assignments_source" not in bare.near_dup_pairs(method="exact")

    from admira_etl_project_prueba_spark.service import ValidationError

    with pytest.raises(ValidationError, match="embeddings"):
        CorpusService(spark, documents=docs).near_dup_pairs(method="semantic")
    for bad in (0.0, -0.5, 1.5):
        with pytest.raises(ValidationError, match="threshold"):
            svc.near_dup_pairs(method="semantic", threshold=bad)


def test_near_dup_pairs_served_from_persisted_pairs_table(spark, sf_dir, tmp_path):
    """Table-scale semantic dedup (round 10): with a write_semantic_pairs
    store configured, /corpus/dedup/pairs?method=semantic is a PAGED READ
    of the materialized table (assignments_source=pairs_table) whenever
    the request threshold is answerable from the build's; a looser
    threshold falls back to compute instead of silently missing pairs."""
    from admira_etl_project_prueba_spark.corpus_service import CorpusService
    from admira_etl_project_prueba_spark.operators.similarity import (
        ivf_data_path,
        read_semantic_pairs,
        semantic_dedup_pairs,
        write_ivf_index,
        write_semantic_pairs,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    ivf = str(tmp_path / "ivf")
    write_ivf_index(emb, ivf, n_centroids=16)
    store = str(tmp_path / "sempairs")
    meta = write_semantic_pairs(
        spark, emb, store, threshold=0.2, ivf_index_path=ivf
    )
    assert meta == {
        "threshold": 0.2, "n_centroids": 16, "assignments_source": "ivf_index",
    }

    svc = CorpusService(
        spark, documents=docs, embeddings=emb,
        ivf_index_path=ivf, semantic_pairs_path=store,
    )
    # exact-threshold request: the whole table, paged
    r = svc.near_dup_pairs(method="semantic", threshold=0.2, limit=5)
    assert r["assignments_source"] == "pairs_table"
    want = semantic_dedup_pairs(
        emb, 16, 0.2, assignments=spark.read.parquet(ivf_data_path(spark, ivf))
    )
    n_want = want.count()
    assert r["pagination"]["total"] == n_want > 0
    assert len(r["data"]) == min(5, n_want)
    # pagination walks the table deterministically, no overlap, full cover
    # (pages are independent reads of an immutable store, so they are
    # fetched concurrently — same pages, same assertions, ~10x less wall)
    from concurrent.futures import ThreadPoolExecutor

    def fetch(off):
        page = svc.near_dup_pairs(
            method="semantic", threshold=0.2, limit=7, offset=off
        )
        assert page["assignments_source"] == "pairs_table"
        return [(row["vec_id_a"], row["vec_id_b"]) for row in page["data"]]

    with ThreadPoolExecutor(max_workers=8) as pool:
        pages = list(pool.map(fetch, range(0, n_want, 7)))
    seen = [p for page in pages for p in page]
    assert len(seen) == n_want and len(set(seen)) == n_want
    assert set(seen) == {
        (r_["vec_id_a"], r_["vec_id_b"]) for r_ in want.collect()
    }
    # tighter threshold: served from the table, filtered
    hi = svc.near_dup_pairs(method="semantic", threshold=0.5, limit=1000)
    assert hi["assignments_source"] == "pairs_table"
    assert hi["pagination"]["total"] == want.filter("cosine >= 0.5").count()
    # looser threshold than the build: table CANNOT answer -> computed
    lo = svc.near_dup_pairs(method="semantic", threshold=0.1, limit=5)
    assert lo["assignments_source"] == "ivf_index"
    # store configured but never built: falls through, no error
    fresh = CorpusService(
        spark, documents=docs, embeddings=emb,
        semantic_pairs_path=str(tmp_path / "never_built"),
    )
    assert fresh.near_dup_pairs(
        method="semantic", threshold=0.2, limit=5
    )["assignments_source"] == "inline"
    # rebuilds are atomic version commits: a rebuild at a new threshold
    # is served immediately after, and the read seam reflects it
    write_semantic_pairs(spark, emb, store, threshold=0.3, ivf_index_path=ivf)
    _, m2 = read_semantic_pairs(spark, store)
    assert m2["threshold"] == 0.3
    r3 = svc.near_dup_pairs(method="semantic", threshold=0.3, limit=5)
    assert r3["assignments_source"] == "pairs_table"
