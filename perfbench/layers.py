"""Per-layer metrics of a traced run, from its spans and Spark event log.

Conventions (see README.md for the layer -> end-to-end map):
* catalog_mix: every ``catalog.*`` and ``tables.*`` figure is per pass — the per-query median over the query's timed
  executions, summed over the list.
* api_ingest: a ``*_s`` figure and ``service.jobs_per_request.<route>``
  are medians over the timed calls; ``store.files`` and ``store.bytes``
  are the store's size at the end over the ingests it took in.
* ``spark.*`` figures are per timed operation (query execution or
  request), except ``spark.core_util`` (a ratio) and ``spark.failed_tasks``
  (a total).
* A layer the workload bypasses reports 0.
"""

from __future__ import annotations

import os
from collections import defaultdict

from stats import median
from tracing import group_stats

ROUTES = ["metrics_channel", "metrics_funnel", "similar_by_vector", "ingest_run",
          "export_run"]

#: every per-layer metric: (name, unit)
LAYER_METRICS = (
    [("catalog.construct_s", "s"), ("catalog.construct_jobs", "count"),
     ("catalog.action_s", "s"), ("catalog.action_jobs", "count"),
     ("catalog.exchanges", "count"),
     ("tables.load_calls", "count"), ("tables.load_s", "s"), ("tables.load_jobs", "count"),
     ("similarity.index_build_s", "s"), ("similarity.probe_construct_s", "s"),
     ("serve.requests", "count"), ("serve.overhead_s", "s")]
    + [(f"serve.requests.{r}", "count") for r in ROUTES]
    + [(f"service.call_s.{r}", "s") for r in ROUTES]
    + [(f"service.jobs_per_request.{r}", "count") for r in ROUTES]
    + [("store.read_calls", "count"), ("store.read_s", "s"), ("store.store_s", "s"),
       ("store.files", "count"), ("store.bytes", "bytes"), ("store.write_amp", "ratio"),
       ("fs.lease_acquires", "count"), ("fs.lease_wait_s", "s"),
       ("http.fetch_s", "s"), ("http.attempts_per_fetch", "count"),
       ("ingest.source_rows", "count"), ("ingest.payload_bytes", "bytes"),
       ("ingest.post_store_s", "s"), ("queries.page_info_s", "s"),
       ("export.payload_s", "s"), ("export.sign_post_s", "s"),
       ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.task_s", "s"), ("spark.core_util", "ratio"),
       ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
       ("spark.spill_bytes", "bytes"), ("spark.input_bytes", "bytes"),
       ("spark.failed_tasks", "count"),
       # filled in by run.py from the process, not from the spans
       ("memory.peak_rss_mb", "MB"), ("memory.heap_after_gc_mb", "MB")]
)

#: the per-layer metrics of the final JSON line: counts, bytes and ratios,
#: where a bypassed layer's 0 is a true count, plus the one time measured on
#: every workload.  A layer time would read 0 s on every run of a workload
#: that bypasses the layer, so layer times are printed on the report lines
#: (and kept in the trace file) instead.
PER_LAYER = [(n, u) for n, u in LAYER_METRICS if u != "s" or n == "spark.task_s"]


def _med(values) -> float:
    values = list(values)
    return median(values) if values else 0.0


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _catalog(timed, log, out, counts):
    by_trace = defaultdict(list)
    for s in timed:
        by_trace[s.trace_id].append(s)
    per_query = defaultdict(lambda: defaultdict(list))
    for tid, spans in by_trace.items():
        root = next((s for s in spans if s.name == "catalog.query"), None)
        if root is None:
            continue
        q = root.attrs["query"]
        dur = defaultdict(float)
        n = defaultdict(int)
        for s in spans:
            dur[s.name] += s.duration
            n[s.name] += 1
        cjobs = [j for j in log["jobs"].values() if j["group"] == f"catalog|{tid}|construct"]
        ajobs = [j for j in log["jobs"].values() if j["group"] == f"catalog|{tid}|action"]
        loads = [(s.start, s.end) for s in spans if s.name == "tables.load"]
        c, a = group_stats(log, jobs=cjobs), group_stats(log, jobs=ajobs)
        v = per_query[q]
        v["construct_s"].append(dur["catalog.construct"])
        v["action_s"].append(dur["catalog.action"])
        v["construct_jobs"].append(c["jobs"])
        v["action_jobs"].append(a["jobs"])
        v["exchanges"].append(a["exchanges"])
        v["stages"].append(c["stages"] + a["stages"])
        v["load_calls"].append(n["tables.load"])
        v["load_s"].append(dur["tables.load"])
        v["load_jobs"].append(sum(1 for j in cjobs
                                  if any(s0 <= j["submit"] <= s1 for s0, s1 in loads)))

    def per_pass(key):
        return sum(_med(v[key]) for v in per_query.values())

    out.update({
        "catalog.construct_s": per_pass("construct_s"),
        "catalog.construct_jobs": per_pass("construct_jobs"),
        "catalog.action_s": per_pass("action_s"),
        "catalog.action_jobs": per_pass("action_jobs"),
        "catalog.exchanges": per_pass("exchanges"),
        "tables.load_calls": per_pass("load_calls"),
        "tables.load_s": per_pass("load_s"),
        "tables.load_jobs": per_pass("load_jobs"),
    })
    for q, v in sorted(per_query.items()):
        for key in ("construct_jobs", "action_jobs", "exchanges", "stages", "load_calls"):
            counts[f"{q}.{key}"] = _med(v[key])


def _http(timed, spans, log, out, counts, result):
    ops = result.ops
    by_trace = defaultdict(list)
    for s in timed:
        by_trace[s.trace_id].append(s)
    overhead = []
    calls = defaultdict(list)
    jobs = defaultdict(list)
    stages = defaultdict(list)
    post_store = []
    sign_post = []
    for o in ops:
        mine = by_trace.get(o.trace_id, [])
        svc = next((s for s in mine if s.name.startswith("service.")), None)
        client = next((s for s in mine if s.name == "serve.request"), None)
        if svc is None or client is None:
            continue
        overhead.append(client.duration - svc.duration)
        calls[o.kind].append(svc.duration)
        g = group_stats(log, {f"{o.kind}|{o.trace_id}"})
        jobs[o.kind].append(g["jobs"])
        stages[o.kind].append(g["stages"])
        if o.kind == "ingest_run":
            stored = [s.end for s in mine if s.name == "store.store"]
            if stored:
                post_store.append(svc.end - max(stored))
        if o.kind == "export_run":
            exp = [s for s in mine if s.name == "export.export_day"]
            pay = [s for s in mine if s.name == "export.payload"]
            if exp and pay:
                sign_post.append(exp[0].duration - pay[0].duration)

    def spans_named(name):
        return [s for s in timed if s.name == name]

    out["serve.requests"] = len(ops)
    out["serve.overhead_s"] = _med(overhead)
    for r in ROUTES:
        n = sum(1 for o in ops if o.kind == r)
        out[f"serve.requests.{r}"] = n
        out[f"service.call_s.{r}"] = _med(calls[r])
        # medians: the mean moves with the seeded parameter mix
        out[f"service.jobs_per_request.{r}"] = _med(jobs[r])
        if jobs[r]:
            counts[f"{r}.jobs_per_request"] = _med(jobs[r])
            counts[f"{r}.stages_per_request"] = _med(stages[r])
    out["store.read_calls"] = len(spans_named("store.read")) / max(1, len(ops))
    out["store.read_s"] = _med(s.duration for s in spans_named("store.read"))
    out["store.store_s"] = _med(s.duration for s in spans_named("store.store"))
    writes = sum(1 for o in ops if o.kind == "ingest_run")
    out["fs.lease_acquires"] = len(spans_named("fs.lease_wait")) / max(1, writes)
    out["fs.lease_wait_s"] = _med(s.duration for s in spans_named("fs.lease_wait"))
    out["http.fetch_s"] = _med(s.duration for s in spans_named("http.fetch"))
    # the PQ index behind POST /corpus/similar is built once, in set-up
    out["similarity.index_build_s"] = _med(
        s.duration for s in spans if s.name == "similarity.index_build")
    out["similarity.probe_construct_s"] = _med(
        s.duration for s in spans_named("similarity.probe_construct"))
    out["queries.page_info_s"] = _med(s.duration for s in spans_named("queries.page_info"))
    out["export.payload_s"] = _med(s.duration for s in spans_named("export.payload"))
    out["export.sign_post_s"] = _med(sign_post)
    out["ingest.post_store_s"] = _med(post_store)
    info = result.info
    up = info.get("upstream")
    n_ingests = info["ingests"]["count"] if up is not None else 0
    if n_ingests:
        # per ingest: the totals grow with the ingests the window holds
        files, size = _dir_usage(info["store_path"])
        out["store.files"], out["store.bytes"] = files / n_ingests, size / n_ingests
        out["store.write_amp"] = size / max(1, up.payload_bytes)
        fetches = sum(1 for s in spans if s.name == "http.fetch")
        out["http.attempts_per_fetch"] = up.attempts / max(1, 2 * fetches)
        out["ingest.source_rows"] = info["ingests"]["source_rows"] / n_ingests
        out["ingest.payload_bytes"] = up.payload_bytes / n_ingests


def per_layer(workload: str, spans, log: dict, result, cores: int) -> tuple[dict, dict]:
    """(metrics, counts): every :data:`LAYER_METRICS` metric, and the
    count metrics per query or route that should repeat exactly between
    runs."""
    out = {name: 0.0 for name, _ in LAYER_METRICS if not name.startswith("memory.")}
    counts: dict[str, float] = {}
    timed = [s for s in spans if s.phase == "timed"]
    ops = result.ops
    if workload == "catalog_mix":
        _catalog(timed, log, out, counts)
        groups = {f"catalog|{o.trace_id}|{p}" for o in ops for p in ("construct", "action")}
    else:
        _http(timed, spans, log, out, counts, result)
        groups = {f"{o.kind}|{o.trace_id}" for o in ops}
    g = group_stats(log, groups)
    n = max(1, len(ops))
    for k in ("jobs", "stages", "tasks", "task_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        out[f"spark.{k}"] = g[k] / n
    out["spark.failed_tasks"] = g["failed_tasks"]
    out["spark.core_util"] = g["task_s"] / (g["job_wall_s"] * cores) if g["job_wall_s"] else 0.0
    return out, counts
