"""The two workloads.  Each drives the engine only through its public
entry points — catalog ``fn(spark, sf_dir)`` with a noop sink, or real HTTP
requests to an in-process ``serve.serve(...)`` — in closed loops: every
client waits for its reply before it sends the next request.

Each workload's ``run`` sets up (fixtures, stores, one untimed warm pass
that also checks outputs), calls ``ctx.start_timing()`` right before its
first timed operation, measures for ``ctx.seconds`` and returns a
:class:`Result`.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
import urllib.error
import urllib.request
from contextlib import nullcontext
from dataclasses import dataclass, field
from urllib.parse import urlencode

from admira_etl_project_prueba_spark import serve as serve_mod
from admira_etl_project_prueba_spark.config import Config
from admira_etl_project_prueba_spark.corpus_service import CorpusService
from admira_etl_project_prueba_spark.operators import similarity
from admira_etl_project_prueba_spark.plans.catalog import CATALOG
from admira_etl_project_prueba_spark.schemas import METRICS_SCHEMA
from admira_etl_project_prueba_spark.service import MetricsService
from admira_etl_project_prueba_spark.sources.tables import TABLE_NAMES, load_table
from admira_etl_project_prueba_spark.store import MetricsStore

import mix
import stubs
from instrument import job_group
from stats import geomean, median, percentile

#: the catalog_mix list: construction-heavy short queries (the reference
#: consolidation path and TPC-H-style table loads) next to an action-heavy
#: one (PageRank).  The IVF-PQ store build is timed in api_ingest's set-up,
#: where the service pays for it: in a pass it took half the time, so one
#: pass was all a run could afford.
CATALOG_MIX = [
    "ingest_consolidate",
    "metrics_by_channel_page1",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q18_large_volume_customers",
    "trade_pagerank",
]
#: fixture scale of both workloads (api_ingest uses only its embeddings and
#: documents, for the PQ index behind POST /corpus/similar)
SF = 0.01
#: fixtures are the canonical testdata (TESTDATA.md: seed 42), so every run
#: does the same work; the workload seed drives what is asked of them
FIXTURE_SEED = 42
READERS_UNDER_WRITE = 2
INGEST_ROWS = 2000  # ads rows and CRM rows per upstream batch
SINK_SECRET = "perfbench-sink-secret"


@dataclass
class Op:
    """One timed operation."""
    kind: str          # catalog query name or route
    seconds: float
    ok: bool
    trace_id: str
    start: float       # epoch seconds
    client: str = ""   # the HTTP client thread that sent it


@dataclass
class Result:
    ops: list[Op]
    setup_failures: int      # failed output checks during set-up
    e2e: dict                # generic end-to-end metrics (name -> value)
    report: list[tuple]      # (workload metric name, value or None, unit, samples)
    info: dict = field(default_factory=dict)


def _timed(tracer, name, **kw):
    return tracer.span(name, **kw) if tracer else nullcontext()


# ---------------------------------------------------------------------------
# catalog_mix
# ---------------------------------------------------------------------------

def _oracle_fingerprints(sf_dir: str, names: list[str]) -> dict:
    import duckdb
    from oracle_check import frame_fingerprint

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for n in names:
            res = con.execute(CATALOG[n].oracle)
            rows = res.fetchall()
            cols = [d[0] for d in res.description]
            out[n] = (len(rows), sorted(cols), frame_fingerprint(cols, rows))
        return out
    finally:
        con.close()


def run_catalog_mix(ctx) -> Result:
    from gen_testdata import generate
    from oracle_check import frame_fingerprint

    sf_dir = os.path.join(ctx.tmp, "sf")
    with ctx.phase("fixtures"):
        generate(SF, sf_dir, seed=FIXTURE_SEED)
    spark = ctx.spark()
    # untimed warm pass: the cold run of every query, collected and hashed
    # against its DuckDB oracle (the output check, once per run)
    failures = 0
    got = {}
    for name in CATALOG_MIX:
        if ctx.tracer:
            job_group(spark, f"setup|{name}")
        try:
            with ctx.phase(f"warm.{name}"):
                df = CATALOG[name].fn(spark, sf_dir)
                rows = [tuple(r) for r in df.collect()]
            got[name] = (len(rows), sorted(df.columns),
                         frame_fingerprint(df.columns, rows))
        except Exception as exc:  # counted as a failed output check
            print(f"# catalog_mix: {name} failed in warm pass: {exc}")
            got[name] = None
    with ctx.phase("oracle"):
        want = _oracle_fingerprints(sf_dir, CATALOG_MIX)
    for name in CATALOG_MIX:
        if got[name] != want[name]:
            print(f"# catalog_mix: {name} does not match its oracle")
            failures += 1

    # the seed picks the entry the timed passes start at; the cycle itself
    # is fixed, so each query follows the same one in every run
    first = random.Random(ctx.seed).randrange(len(CATALOG_MIX))
    order = CATALOG_MIX[first:] + CATALOG_MIX[:first]
    ops: list[Op] = []
    tr = ctx.tracer
    deadline = ctx.start_timing()
    i = 0
    # whole passes until the deadline, and at least three, so that each
    # query's median drops a pass slowed by outside load however short the
    # window
    while i < 3 * len(order) or i % len(order) or time.perf_counter() < deadline:
        name = order[i % len(order)]
        tid = f"{name}|{i}"
        start = time.time()
        t0 = time.perf_counter()
        ok = True
        try:
            with _timed(tr, "catalog.query", trace_id=tid, query=name):
                if tr:
                    job_group(spark, f"catalog|{tid}|construct", name)
                with _timed(tr, "catalog.construct"):
                    df = CATALOG[name].fn(spark, sf_dir)
                if tr:
                    job_group(spark, f"catalog|{tid}|action", name)
                with _timed(tr, "catalog.action"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as exc:
            print(f"# catalog_mix: {name} failed: {exc}")
            ok = False
        ops.append(Op(name, time.perf_counter() - t0, ok, tid, start))
        i += 1

    # per-query medians over every timed execution (failed ones included:
    # they count in error_frac, and a pass that includes them is slower)
    per_query = {n: median([o.seconds for o in ops if o.kind == n]) for n in CATALOG_MIX}
    pass_s = sum(per_query.values())
    geo = geomean(list(per_query.values()))
    samples = min((sum(1 for o in ops if o.kind == n) for n in CATALOG_MIX), default=0)
    report = [
        ("catalog_pass_s", pass_s, "s", samples),
        ("catalog_query_geomean_s", geo, "s", samples),
    ] + [(f"catalog_query_s.{n}", v, "s", sum(1 for o in ops if o.kind == n))
         for n, v in per_query.items()]
    return Result(
        ops=ops, setup_failures=failures,
        e2e={"ops_per_s": len(CATALOG_MIX) / pass_s, "latency_s": geo},
        report=report,
    )


# ---------------------------------------------------------------------------
# HTTP clients
# ---------------------------------------------------------------------------

def http_call(base: str, req: dict, rid: str, timeout: float = 120.0):
    """(status, decoded JSON body or None) of one request."""
    url = base + req["path"]
    if req.get("params"):
        url += "?" + urlencode(req["params"])
    data = None
    if req["method"] == "POST":
        data = json.dumps(req["body"]).encode() if "body" in req else b""
    r = urllib.request.Request(url, data=data, method=req["method"],
                               headers={"X-Request-ID": rid,
                                        "Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(r, timeout=timeout) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as exc:
        try:
            return exc.code, json.loads(exc.read())
        except ValueError:
            return exc.code, None


def check_read(req: dict, status: int, body) -> bool:
    """200 and a well-formed reply: a channel page no longer than its
    limit, a funnel list, exactly k similarity hits."""
    if status != 200 or not isinstance(body, dict):
        return False
    data = body.get("data")
    if not isinstance(data, list):
        return False
    if req["route"] == "metrics_channel":
        page = body.get("pagination") or {}
        return len(data) <= req["params"]["limit"] and page.get("total", -1) >= len(data)
    if req["route"] == "similar_by_vector":
        return len(data) == req["body"]["k"]
    return True


def client_loop(base, requests, deadline, ops, tracer, prefix, lock):
    """Closed loop: send, wait for the reply, check it, repeat until the
    deadline (or, with no deadline, until ``requests`` runs out)."""
    for i, req in enumerate(requests):
        if deadline is not None and time.perf_counter() >= deadline:
            break
        rid = f"{prefix}-{i}"
        start = time.time()
        t0 = time.perf_counter()
        try:
            with _timed(tracer, "serve.request", trace_id=rid, route=req["route"]):
                status, body = http_call(base, req, rid)
        except OSError as exc:
            print(f"# {req['route']} {rid}: {exc}")
            status, body = 0, None
        dt = time.perf_counter() - t0
        ok = check_read(req, status, body)
        if not ok:
            print(f"# {req['route']} {rid}: status {status} {str(body)[:200]}")
        with lock:
            ops.append(Op(req["route"], dt, ok, rid, start, prefix))


def _run_clients(arg_lists) -> None:
    threads = [threading.Thread(target=client_loop, args=a) for a in arg_lists]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def _latency_report(prefix: str, times: list[float]) -> list[tuple]:
    return [
        (f"{prefix}_p50_s", median(times), "s", len(times)),
        (f"{prefix}_p95_s", percentile(times, 95), "s", len(times)),
    ]


# ---------------------------------------------------------------------------
# api_ingest
# ---------------------------------------------------------------------------

def _read_service(ctx, spark, cfg: Config):
    """Generate the sf fixtures, build the IVF-PQ store over their
    embeddings, and serve MetricsService + CorpusService on a free port."""
    from gen_testdata import generate

    sf_dir = os.path.join(ctx.tmp, "sf")
    with ctx.phase("fixtures"):
        generate(SF, sf_dir, seed=FIXTURE_SEED)
    emb = load_table(spark, sf_dir, "embeddings")
    pq_path = os.path.join(ctx.tmp, "pq_index")
    with ctx.phase("pq_index"):
        similarity.write_ivfpq_index(emb, pq_path, n_centroids=16)
    corpus = CorpusService(spark, load_table(spark, sf_dir, "documents"),
                           embeddings=emb, pq_index_path=pq_path)
    server = serve_mod.serve(MetricsService(spark, cfg), port=0, corpus=corpus)
    return server, f"http://127.0.0.1:{server.server_address[1]}"


def _warm_reads(ctx, base, clients: int, lock, days: list[str]) -> list[Op]:
    """Untimed warm pass: every client sends one request of each read
    route, concurrently, with every reply checked."""
    warm: list[Op] = []
    _run_clients([(base, mix.warm_requests(ctx.seed, c, days), None, warm, None,
                   f"warm{c}", lock) for c in range(clients)])
    return warm


def _read_report(prefix: str, ops: list[Op]) -> list[tuple]:
    done = [o for o in ops if o.ok]
    report = _latency_report(prefix, [o.seconds for o in done])
    for route in mix.READ_ROUTES:
        report += _latency_report(f"{prefix}.{route}",
                                  [o.seconds for o in done if o.kind == route])
    return report


def run_api_ingest(ctx) -> Result:
    """One writer loops POST /ingest/run then POST /export/run against a
    stub upstream and a signature-checking stub sink, while readers run the
    read mix (channel pages, funnels, PQ similarity) on the same store."""
    upstream = stubs.Upstream()
    sink = stubs.Sink(SINK_SECRET)
    spark = ctx.spark()
    store_path = os.path.join(ctx.tmp, "metrics_store")
    # the versioned (snapshot) layout: readers of the flat layout fail with
    # FileNotFound when an upsert overwrites the partitions they scan
    with ctx.phase("store"):
        MetricsStore(spark, store_path, versioned=True).store(
            spark.createDataFrame([], METRICS_SCHEMA))
    cfg = Config(ads_api_url=upstream.url + "/ads", crm_api_url=upstream.url + "/crm",
                 sink_url=sink.url + "/export", sink_secret=SINK_SECRET,
                 store_path=store_path, timeout_seconds=60, max_retries=3,
                 backoff_ms=50)
    server, base = _read_service(ctx, spark, cfg)
    lock = threading.Lock()
    writes: list[Op] = []
    cycles: list[float] = []
    ingests = {"count": 0, "source_rows": 0}

    def cycle(index: int, tracer, prefix: str) -> list[Op]:
        batch = mix.ingest_batch(ctx.seed, index, INGEST_ROWS)
        upstream.batch = batch
        out = []
        for route, req, check in (
            ("ingest_run", {"method": "POST", "path": "/ingest/run"},
             lambda b: b.get("metrics_processed") == batch["expected_rows"]),
            ("export_run", {"method": "POST", "path": "/export/run",
                            "params": {"date": batch["days"][index % mix.BATCH_DAYS]}},
             lambda b: b.get("status") == "exported"),
        ):
            rid = f"{prefix}{route[0]}{index}"
            start = time.time()
            t0 = time.perf_counter()
            with _timed(tracer, "serve.request", trace_id=rid, route=route):
                status, body = http_call(base, req, rid)
            dt = time.perf_counter() - t0
            ok = status == 200 and isinstance(body, dict) and check(body)
            if not ok:
                print(f"# api_ingest {route} batch {index}: status {status} {str(body)[:200]}")
            out.append(Op(route, dt, ok, rid, start))
        ingests["count"] += 1
        ingests["source_rows"] += batch["source_rows"]
        if all(o.ok for o in out):
            cycles.append(sum(o.seconds for o in out))
        return out

    # readers query the days of the two set-up batches: always stored, so
    # every read finds data, and the timed batch 2 rewrites some of them
    reader_days = sorted({d for i in range(2) for d in mix.batch_days(i)})
    try:
        # set-up: batch 0 lands the store; batch 1 merges into stored days
        # (the upsert's read-join-resum path) while every reader warms every
        # read route.  Timed cycles start at batch 2.
        with ctx.phase("warm_write"):
            warm = cycle(0, None, "warm-")
        with ctx.phase("warm_merge_and_reads"):
            merged: list[Op] = []
            merge = threading.Thread(target=lambda: merged.extend(cycle(1, None, "warm-")))
            merge.start()
            warm += _warm_reads(ctx, base, READERS_UNDER_WRITE, lock, reader_days)
            merge.join()
            warm += merged
        cycles.clear()
        reads: list[Op] = []
        deadline = ctx.start_timing()

        def writer():
            i = 2
            while time.perf_counter() < deadline:
                ops = cycle(i, ctx.tracer, "w-")
                with lock:
                    writes.extend(ops)
                i += 1

        w = threading.Thread(target=writer)
        w.start()
        _run_clients([(base, mix.request_stream(ctx.seed, c, reader_days),
                       deadline, reads, ctx.tracer, f"u{c}", lock)
                      for c in range(READERS_UNDER_WRITE)])
        w.join()
    finally:
        server.shutdown()
        server.server_close()
        upstream.close()
        sink.close()
    # every export the service reported as sent must have passed the
    # sink's signature check
    exported = sum(1 for o in warm + writes if o.kind == "export_run" and o.ok)
    ops = writes + reads
    rps = ctx.rate(reads)
    report = (_latency_report("ingest", [o.seconds for o in writes
                                         if o.kind == "ingest_run" and o.ok])
              + _latency_report("export", [o.seconds for o in writes
                                           if o.kind == "export_run" and o.ok])
              + [("write_cycle_p50_s", median(cycles), "s", len(cycles)),
                 ("read_under_write_rps", rps, "1/s", len(reads))]
              + _read_report("read_under_write", reads))
    return Result(
        ops=ops,
        setup_failures=sum(1 for o in warm if not o.ok) + abs(sink.verified - exported),
        e2e={"ops_per_s": rps, "latency_s": median(cycles)},
        report=report,
        info={"store_path": store_path, "upstream": upstream, "ingests": ingests},
    )


WORKLOADS = {
    "catalog_mix": run_catalog_mix,
    "api_ingest": run_api_ingest,
}
