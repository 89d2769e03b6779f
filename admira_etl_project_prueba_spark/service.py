"""Service layer — the reference's REST endpoint semantics over the engine.

Reference parity: /root/reference/internal/api/handlers.go.  This is the
orchestration tier (param validation, defaults, response envelopes); all
dataflow lives in operators/.  A web framework can mount these 1:1; they
are framework-free so the engine stays testable headless.

Validation contract preserved (SURVEY.md §2.7):
* missing required params → ValidationError (reference: 400)
* malformed dates → ValidationError (handlers.go:136-146,196-206,219-223)
* non-positive limit / negative offset silently fall back to defaults
  (handlers.go:148-160)
* export of empty day → EmptyExportError (reference: 404)
"""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import SparkSession

from admira_etl_project_prueba_spark.config import Config
from admira_etl_project_prueba_spark.functions import fs
from admira_etl_project_prueba_spark.operators.export import export_day
from admira_etl_project_prueba_spark.operators.queries import (
    metrics_by_campaign,
    metrics_by_channel,
    page_info,
    paginate,
)
from admira_etl_project_prueba_spark.operators.transform import transform
from admira_etl_project_prueba_spark.sources.http import fetch_many
from admira_etl_project_prueba_spark.sources.json_source import (
    ads_from_payload,
    crm_from_payload,
)
from admira_etl_project_prueba_spark.store import MetricsStore

_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
DEFAULT_SINCE = "2000-01-01"  # handlers.go:89


def new_request_id(provided: str | None = None) -> str:
    """F14 — request-ID middleware (middleware.go:11-18,30-37): every
    response carries a 16-char alphanumeric id; a caller-provided one
    (inbound X-Request-ID) is echoed, else one is generated."""
    if provided:
        return provided
    from uuid import uuid4

    return uuid4().hex[:16]


class ValidationError(ValueError):
    """Maps to HTTP 400 at a web tier."""


def _require_date(value: str | None, name: str) -> str:
    if not value:
        raise ValidationError(f"missing required parameter: {name}")
    if not _DATE_RE.match(value):
        raise ValidationError(f"invalid date for {name}: {value!r} (want YYYY-MM-DD)")
    try:
        dt.date.fromisoformat(value)
    except ValueError as exc:
        raise ValidationError(f"invalid date for {name}: {value!r}") from exc
    return value


class MetricsService:
    """POST /ingest/run · GET /metrics/channel · GET /metrics/funnel ·
    POST /export/run · GET /debug/{ads,crm,matches} · GET /healthz ·
    GET /readyz — engine-backed."""

    def __init__(self, spark: SparkSession, config: Config | None = None):
        self.spark = spark
        self.config = config or Config.from_env()
        self.store = MetricsStore(spark, self.config.store_path)

    # -- POST /ingest/run ----------------------------------------------------
    def ingest_run(
        self,
        since: str | None = None,
        store_mode: str = "upsert",
        request_id: str | None = None,
    ) -> dict:
        """Extract (concurrent) → decode → consolidate → filter → store.

        The consolidated batch is materialized once: it is cached, counted
        (``metrics_processed``), then stored from the cache, so the JSON
        decode and the consolidation shuffle run a single time and the
        reported count and the stored rows come from the same evaluation
        (one ``current_timestamp()`` fallback stamp).  The cache is
        released whether or not the store succeeds."""
        since = _require_date(since, "since") if since else DEFAULT_SINCE
        cfg = self.config
        ads_raw, crm_raw = fetch_many(
            [cfg.ads_api_url, cfg.crm_api_url],
            timeout_seconds=cfg.timeout_seconds,
            max_retries=cfg.max_retries,
            backoff_ms=cfg.backoff_ms,
        )
        metrics = transform(
            ads_from_payload(self.spark, ads_raw),
            crm_from_payload(self.spark, crm_raw),
            since=since,
        ).cache()
        try:
            processed = metrics.count()
            self.store.store(metrics, mode=store_mode)
        finally:
            metrics.unpersist()
        return {
            "message": "ingestion completed",
            "metrics_processed": processed,
            "since": since,
            "request_id": new_request_id(request_id),
        }

    # -- GET /metrics/channel ------------------------------------------------
    def metrics_channel(
        self,
        channel: str | None,
        date_from: str | None,
        date_to: str | None,
        limit: int = 100,
        offset: int = 0,
        request_id: str | None = None,
    ) -> dict:
        if not channel:
            raise ValidationError("missing required parameter: channel")
        _require_date(date_from, "from")
        _require_date(date_to, "to")
        q = metrics_by_channel(self.store.read(), channel, date_from, date_to)
        data = [r.asDict() for r in paginate(q, limit=limit, offset=offset).collect()]
        return {
            "data": data,
            "pagination": page_info(q, limit, offset),
            "request_id": new_request_id(request_id),
        }

    # -- GET /metrics/funnel -------------------------------------------------
    def metrics_funnel(
        self,
        utm_campaign: str | None,
        date_from: str | None,
        date_to: str | None,
        request_id: str | None = None,
    ) -> dict:
        if not utm_campaign:
            raise ValidationError("missing required parameter: utm_campaign")
        _require_date(date_from, "from")
        _require_date(date_to, "to")
        q = metrics_by_campaign(self.store.read(), utm_campaign, date_from, date_to)
        # no pagination — raw array response (handlers.go:186-210), but in
        # canonical order so responses are deterministic
        from admira_etl_project_prueba_spark.operators.queries import canonical_sort

        return {
            "data": [r.asDict() for r in canonical_sort(q).collect()],
            "request_id": new_request_id(request_id),
        }

    # -- POST /export/run ----------------------------------------------------
    def export_run(self, date: str | None, request_id: str | None = None) -> dict:
        _require_date(date, "date")
        out = export_day(
            self.store.read(),
            date,
            sink_url=self.config.sink_url or None,
            secret=self.config.sink_secret,
        )
        out["request_id"] = new_request_id(request_id)
        return out

    # -- GET /debug/ads · /debug/crm · /debug/matches ------------------------
    def _fetch_raw(self, urls: list[str]) -> list[str]:
        cfg = self.config
        return fetch_many(
            urls,
            timeout_seconds=cfg.timeout_seconds,
            max_retries=cfg.max_retries,
            backoff_ms=cfg.backoff_ms,
        )

    def _extract_ads(self):
        """Fetch ONLY the ads API (handlers.go:386-420 extracts just ads):
        a CRM-API outage must not fail /debug/ads, and a debug call must
        not double upstream traffic."""
        (ads_raw,) = self._fetch_raw([self.config.ads_api_url])
        return ads_from_payload(self.spark, ads_raw)

    def _extract_crm(self):
        """Fetch ONLY the CRM API (handlers.go:422-456)."""
        (crm_raw,) = self._fetch_raw([self.config.crm_api_url])
        return crm_from_payload(self.spark, crm_raw)

    def _extract_frames(self):
        ads_raw, crm_raw = self._fetch_raw(
            [self.config.ads_api_url, self.config.crm_api_url]
        )
        return (
            ads_from_payload(self.spark, ads_raw),
            crm_from_payload(self.spark, crm_raw),
        )

    def debug_ads(self, date: str | None, request_id: str | None = None) -> dict:
        """GET /debug/ads?date= (handlers.go:386-420): re-extract, filter
        ads rows by exact date, echo {date, ads_data, total_records}."""
        from admira_etl_project_prueba_spark.operators.queries import (
            debug_ads_by_date,
        )

        _require_date(date, "date")
        ads = self._extract_ads()
        data = [r.asDict() for r in debug_ads_by_date(ads, date).collect()]
        return {
            "date": date,
            "ads_data": data,
            "total_records": len(data),
            "request_id": new_request_id(request_id),
        }

    def debug_crm(self, date: str | None, request_id: str | None = None) -> dict:
        """GET /debug/crm?date= (handlers.go:422-456): filter CRM rows by
        day(created_at)."""
        from admira_etl_project_prueba_spark.operators.queries import (
            debug_crm_by_date,
        )

        _require_date(date, "date")
        crm = self._extract_crm()
        data = [r.asDict() for r in debug_crm_by_date(crm, date).collect()]
        return {
            "date": date,
            "crm_data": data,
            "total_records": len(data),
            "request_id": new_request_id(request_id),
        }

    def debug_matches(
        self, utm_campaign: str | None, request_id: str | None = None
    ) -> dict:
        """GET /debug/matches?utm_campaign= (handlers.go:458-501): two
        independent equality filters, NOT a join — reference semantics."""
        from admira_etl_project_prueba_spark.operators.queries import (
            debug_matches,
        )

        if not utm_campaign:
            raise ValidationError("missing required parameter: utm_campaign")
        ads, crm = self._extract_frames()
        a, c = debug_matches(ads, crm, utm_campaign)
        ads_rows = [r.asDict() for r in a.collect()]
        crm_rows = [r.asDict() for r in c.collect()]
        return {
            "utm_campaign": utm_campaign,
            "ads_matches": ads_rows,
            "crm_matches": crm_rows,
            "ads_count": len(ads_rows),
            "crm_count": len(crm_rows),
            "request_id": new_request_id(request_id),
        }

    # -- health --------------------------------------------------------------
    def healthz(self) -> dict:
        # literal parity with handlers.go:69
        return {"status": "healthy"}

    def readyz(self) -> dict:
        try:
            self.spark.range(1).count()
            return {"status": "ready"}
        except Exception as exc:  # pragma: no cover
            return {"status": "not ready", "error": str(exc)}

    # -- GET /store/health (beyond-reference) --------------------------------
    def store_health(self, request_id: str | None = None) -> dict:
        """Maintenance dashboard for the metrics fact store — the fact
        tier's twin of the corpus tier's ``index_health``: the layout in
        use, and (when ``STREAM_LOG_PATH`` is configured) the
        stream-fold scheduling probe — pending batch depth and oldest
        batch age, so an operator knows WHEN to run ``fold_stream_log``
        instead of discovering an ever-growing log.  Safe to poll:
        listing-only, and an unconfigured stream log reports null."""
        out: dict = {
            "store_path": self.config.store_path,
            "versioned": fs.latest_version(
                self.spark, self.config.store_path
            ) is not None,
            "stream_log": None,
            "request_id": new_request_id(request_id),
        }
        if self.config.stream_log_path:
            out["stream_log"] = self.store.stream_log_health(
                self.config.stream_log_path
            )
        return out
