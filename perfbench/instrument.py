"""Traced mode: wrap the engine's public layer entry points in spans.

Nothing here edits the engine.  :func:`install` swaps module attributes
and class methods for wrappers that open a span around the original call,
and returns a function that puts the originals back.  Service methods also
tag the Spark jobs they start with a job group named after the route and
the caller's request id, so the event log can attribute jobs to requests.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

from admira_etl_project_prueba_spark import corpus_service, service, store
from admira_etl_project_prueba_spark.functions import fs
from admira_etl_project_prueba_spark.operators import export, similarity
from admira_etl_project_prueba_spark.plans import catalog

#: (route, class, method) of every service method the workloads call
ROUTES = [
    ("metrics_channel", service.MetricsService, "metrics_channel"),
    ("metrics_funnel", service.MetricsService, "metrics_funnel"),
    ("ingest_run", service.MetricsService, "ingest_run"),
    ("export_run", service.MetricsService, "export_run"),
    ("similar_by_vector", corpus_service.CorpusService, "similar_by_vector"),
]

#: (owner, attribute, span name) of plain function entry points
FUNCTIONS = [
    (catalog, "load_table", "tables.load"),
    (catalog, "load_events", "tables.load"),
    (similarity, "write_ivfpq_index", "similarity.index_build"),
    (similarity, "ivfpq_topk_from_index", "similarity.probe_construct"),
    (store.MetricsStore, "read", "store.read"),
    (store.MetricsStore, "store", "store.store"),
    (service, "fetch_many", "http.fetch"),
    (service, "ads_from_payload", "ingest.decode"),
    (service, "crm_from_payload", "ingest.decode"),
    (service, "transform", "ingest.transform"),
    (service, "page_info", "queries.page_info"),
    (service, "export_day", "export.export_day"),
    (export, "build_export_payload", "export.payload"),
]


def job_group(spark, group: str, description: str = "") -> None:
    spark.sparkContext.setJobGroup(group, description or group)


def install(tracer) -> callable:
    saved = []

    def swap(owner, attr, new):
        saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    for owner, attr, name in FUNCTIONS:
        orig = owner.__dict__[attr]

        def wrapped(*args, _orig=orig, _name=name, **kwargs):
            with tracer.span(_name):
                return _orig(*args, **kwargs)

        swap(owner, attr, functools.wraps(orig)(wrapped))

    for route, cls, attr in ROUTES:
        orig = cls.__dict__[attr]

        def method(self, *args, _orig=orig, _route=route, **kwargs):
            rid = kwargs.get("request_id") or ""
            job_group(self.spark, f"{_route}|{rid}", _route)
            with tracer.span(f"service.{_route}", trace_id=rid):
                return _orig(self, *args, **kwargs)

        swap(cls, attr, functools.wraps(orig)(method))

    orig_lease = fs.maintenance_lease

    @contextmanager
    def lease(*args, **kwargs):
        t0 = time.time()
        with orig_lease(*args, **kwargs) as handle:
            tracer.record("fs.lease_wait", t0, time.time())
            yield handle

    swap(fs, "maintenance_lease", lease)

    def restore():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return restore
