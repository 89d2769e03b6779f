"""Engine benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload catalog_mix|api_ingest \
        --seed N --seconds S --trace 0|1

Run from the repository root.  The untraced run (``--trace 0``) prints
every end-to-end metric; the traced run (``--trace 1``) wraps each layer's
public entry points in spans, logs Spark events, and prints every
per-layer metric.  Either way the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
list the workload's own metrics with units and sample counts.

Each run works in a fresh temp root under ``.perfbench_tmp/`` (``TMPDIR``
and ``SPARK_LOCAL_DIRS`` point into it) and removes it at exit.  ``.perfbench_out/`` keeps untraced results, spans
and count records, each keyed by the code version and the seed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
TMP_BASE = os.path.join(REPO, ".perfbench_tmp")
OUT_DIR = os.path.join(REPO, ".perfbench_out")
#: generic end-to-end metrics every workload reports (README.md maps them
#: to each workload's own metric)
END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("latency_s", "s")]
#: the source trees whose content is the code version of a run
CODE_DIRS = ("admira_etl_project_prueba_spark", "perfbench", "tools")


def process_age() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def code_version() -> str:
    """Content hash of the engine, the benchmark and the fixture tools, so
    saved results are compared only with runs of the same code."""
    h = hashlib.sha256()
    for top in CODE_DIRS:
        for root, dirs, names in os.walk(os.path.join(REPO, top)):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for n in sorted(names):
                if n.endswith(".py"):
                    path = os.path.join(root, n)
                    h.update(os.path.relpath(path, REPO).encode() + b"\0")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set of process ``pid`` since it started or since
    :func:`reset_hwm`."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


_GC_SIZES = re.compile(r"(\d+)([KMG])->(\d+)([KMG])\((\d+)([KMG])\)")
_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def max_heap_after_gc_mb(path: str) -> float:
    """Largest heap occupancy after a collection in a ``-Xlog:gc`` file
    (lines like ``GC(3) Pause Young (Normal) ... 120M->30M(256M) 5.1ms``)."""
    after = []
    with open(path) as fh:
        for line in fh:
            m = _GC_SIZES.search(line)
            if m:
                after.append(int(m.group(3)) * _MB[m.group(4)])
    if not after:
        raise RuntimeError(f"no collection recorded in {path}")
    return max(after)


def reset_hwm() -> None:
    """Restart this process's peak RSS from its current RSS."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


class Context:
    """What a workload needs: its seed, window, temp root, the session
    (started on first use) and, in traced runs, the tracer."""

    def __init__(self, seed, seconds, tmp, cores, tracer):
        self.seed = seed
        self.seconds = seconds
        self.tmp = tmp
        self.cores = cores
        self.tracer = tracer
        self.event_dir = os.path.join(tmp, "eventlog")
        self.gc_log = os.path.join(tmp, "gc.log")
        self.setup_s = None
        self.window_start = None
        self.setup_phases: list[tuple[str, float]] = []
        self.jvm_peak_rss_mb = self.jvm_heap_after_gc_mb = None
        self._spark = None

    @contextmanager
    def phase(self, name: str):
        """Time one step of set-up; reported as ``setup.<name>_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup_phases.append((name, time.perf_counter() - t0))

    def spark(self):
        if self._spark is None:
            with self.phase("session"):
                self._spark = self._start_spark()
        return self._spark

    def _start_spark(self):
        from admira_etl_project_prueba_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            # the driver keeps the engine's own heap size; its GC log gives
            # the heap left in use after each collection
            "spark.driver.extraJavaOptions": f"-Xlog:gc:file={self.gc_log}",
            "spark.local.dir": os.path.join(self.tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
        }
        if self.tracer:
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.event_dir,
                         "spark.eventLog.compress": "false"})
        spark = get_spark(app_name="perfbench", master=f"local[{self.cores}]",
                          shuffle_partitions=self.cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def start_timing(self) -> float:
        """Mark the end of set-up; returns the perf_counter deadline of the
        timed window.  This process's peak RSS restarts here, so the
        harness's own set-up work (fixture generation, DuckDB oracles)
        stays out of ``memory.peak_rss_mb``."""
        self.setup_s = process_age()
        reset_hwm()
        if self.tracer:
            self.tracer.phase = "timed"
        self.window_start = time.time()
        return time.perf_counter() + self.seconds

    def rate(self, ops) -> float:
        """Closed-loop throughput: for each client, the operations it
        completed inside the timed window over the time it took to complete
        them, summed over clients.  Unlike a count over the window, this
        does not step with the request a client has in flight at its end."""
        end = self.window_start + self.seconds
        done: dict[str, list[float]] = {}
        for o in ops:
            if o.ok and o.start + o.seconds <= end:
                done.setdefault(o.client, []).append(o.start + o.seconds)
        return sum(len(v) / (max(v) - self.window_start) for v in done.values())

    def memory(self) -> dict:
        """``memory.peak_rss_mb``: peak RSS of the driver JVM over its life
        plus that of this process (the HTTP tier and the service run here)
        over the timed window.  ``memory.heap_after_gc_mb``: the largest
        heap the driver kept in use after a collection."""
        return {"memory.peak_rss_mb": self.jvm_peak_rss_mb + vm_hwm_mb(),
                "memory.heap_after_gc_mb": self.jvm_heap_after_gc_mb}

    def read_jvm_peaks(self) -> None:
        """Record the driver JVM's VmHWM and the largest heap it kept in
        use after a collection."""
        sc = self._spark.sparkContext
        proc = getattr(sc._gateway, "proc", None)
        if proc is None:
            raise RuntimeError("the driver JVM was not started by this process")
        self.jvm_peak_rss_mb = vm_hwm_mb(proc.pid)
        self.jvm_heap_after_gc_mb = max_heap_after_gc_mb(self.gc_log)

    def stop(self):
        """Stop the session and wait for the driver JVM to exit (it exits
        when its stdin closes)."""
        if self._spark is None:
            return
        gateway = self._spark.sparkContext._gateway
        self._spark.stop()
        self._spark = None
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _fmt(value) -> str:
    return "unsupported" if value is None else f"{value:.6g}"


def _read_jsonl(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _append_jsonl(path: str, entry: dict) -> None:
    with open(path, "a") as fh:
        fh.write(json.dumps(entry) + "\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # engine, fixture generator and oracle hashing all come from the
    # checkout this file sits in
    sys.path[:0] = [REPO, os.path.join(REPO, "tools")]
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r} (want one of {sorted(WORKLOADS)})")

    os.makedirs(TMP_BASE, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=TMP_BASE)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    tempfile.tempdir = None  # re-read TMPDIR: the engine's index caches land in tmp
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer() if args.trace else None
    ctx = Context(args.seed, args.seconds, tmp, cores, tracer)
    restore = None
    try:
        if tracer:
            import instrument

            restore = instrument.install(tracer)
        result = WORKLOADS[args.workload](ctx)
        ctx.read_jvm_peaks()
        memory = ctx.memory()
        ctx.stop()  # flushes the event log
        e2e = {"setup_s": ctx.setup_s, **result.e2e}
        attempted = len(result.ops)
        failed = sum(1 for o in result.ops if not o.ok) + result.setup_failures
        correct = failed == 0
        lines = [(name, e2e[name], unit, None) for name, unit in END_TO_END]
        lines += [(name, mb, "MB", None) for name, mb in memory.items()]
        lines += [(f"setup.{name}_s", secs, "s", None) for name, secs in ctx.setup_phases]
        lines += list(result.report)
        lines.append(("error_frac", failed / max(1, attempted), "ratio", attempted))
        for name, value, unit, n in lines:
            count = "" if n is None else f" (n={n})"
            print(f"# {args.workload} {name} = {_fmt(value)} {unit}{count}")
        os.makedirs(OUT_DIR, exist_ok=True)
        key = {"code": code_version(), "seed": args.seed}
        if not tracer:
            _append_jsonl(os.path.join(OUT_DIR, f"e2e_{args.workload}.jsonl"), {**key, **e2e})
            metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
        else:
            metrics = traced_metrics(args, key, tracer, ctx, result, e2e, memory)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        ctx.stop()
        if restore:
            restore()
        shutil.rmtree(tmp, ignore_errors=True)


def same_run(records: list[dict], key: dict) -> list[dict]:
    """The saved records of runs with the same code version and seed."""
    return [r for r in records if r.get("code") == key["code"] and r.get("seed") == key["seed"]]


def count_drift(earlier: dict, counts: dict) -> list[str]:
    """The count keys whose value differs between two traced runs."""
    return sorted(k for k in set(earlier) | set(counts) if earlier.get(k) != counts.get(k))


def traced_metrics(args, key, tracer, ctx, result, e2e, memory) -> dict:
    from layers import LAYER_METRICS, PER_LAYER, per_layer
    from tracing import read_event_log, self_times

    w = args.workload
    log = read_event_log(ctx.event_dir)
    values, counts = per_layer(w, tracer.spans, log, result, ctx.cores)
    values.update(memory)
    for name, unit in LAYER_METRICS:
        print(f"# {w} layer {name} = {values[name]:.6g} {unit}")
    for k, v in sorted(counts.items()):
        print(f"# {w} count {k} = {v:g}")
    # counts should repeat exactly between traced runs of the same code and
    # seed; compare with the last such run, if any
    counts_path = os.path.join(OUT_DIR, f"counts_{w}.jsonl")
    earlier = same_run(_read_jsonl(counts_path), key)
    _append_jsonl(counts_path, {**key, "counts": counts})
    if earlier:
        drift = count_drift(earlier[-1]["counts"], counts)
        for k in drift:
            print(f"# {w} COUNT DRIFT {k}: {earlier[-1]['counts'].get(k)} -> {counts.get(k)}")
        print(f"# {w} count check: {len(drift)} of {len(counts)} counts differ from the "
              f"last traced run of this code and seed")
    else:
        print(f"# {w} count check: no earlier traced run of this code and seed")
    # tracing overhead: against the untraced runs of the same code and seed
    base = same_run(_read_jsonl(os.path.join(OUT_DIR, f"e2e_{w}.jsonl")), key)
    for name in ("ops_per_s", "latency_s"):
        if base:
            ref = statistics.median(b[name] for b in base)
            print(f"# {w} trace_overhead {name}: traced {e2e[name]:.6g} vs "
                  f"untraced median {ref:.6g} over {len(base)} runs "
                  f"({(e2e[name] / ref - 1) * 100:+.1f}%)")
        else:
            print(f"# {w} trace_overhead {name}: no untraced run of this code and seed "
                  f"recorded yet")
    # where the time goes: each layer's median self time (its span minus
    # the spans it called) over the timed window
    own = self_times(tracer.spans)
    by_name: dict[str, list[float]] = {}
    for s in tracer.spans:
        if s.phase == "timed":
            by_name.setdefault(s.name, []).append(own[s.span_id])
    self_s = {name: statistics.median(v) for name, v in sorted(by_name.items())}
    for name, v in self_s.items():
        print(f"# {w} self_s {name} = {v:.6g} s (n={len(by_name[name])})")
    tracer.write(os.path.join(OUT_DIR, f"trace_{w}_{key['code']}_{args.seed}.json"),
                 {"workload": w, **key, "counts": counts,
                  "per_layer": values, "end_to_end": e2e, "self_s": self_s})
    return {name: {"value": values[name], "unit": unit} for name, unit in PER_LAYER}


if __name__ == "__main__":
    sys.exit(main())
