"""Construction-job counter over every catalog entry.

Building a catalog frame — ``fn(spark, sf_dir)`` with no action — should
start no Spark job: the jobs belong to the caller's action.  Work that
runs while the frame is built (an undeclared-schema read's inference
job, an eager count or collect, a checkpoint, an index build) is paid
before the query's own action, on every call.  This sweep builds each
entry under its own job group and prints every entry whose construction
started at least one job, worst first, plus the total.

A hit is a PROMPT, not a verdict: iterative operators checkpoint by
design, and a driver fast path collects a small input on purpose.  The
question per hit is whether the job is needed to build the plan.
Index-backed entries build their temp-dir index cache on the first call
with a given ``sf_dir``; run the sweep twice for the steady-state count.

Usage: python tools/construct_audit.py [sf_dir]
(sf_dir defaults to $SPARK_GRAFT_SF_DIR, else testdata/sf0.001 in the repo)
Exit code is always 0 — this is a review sweep, not a gate.
"""

from __future__ import annotations

import os
import sys
import uuid

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from admira_etl_project_prueba_spark.session import get_spark
from admira_etl_project_prueba_spark.plans.catalog import CATALOG

SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR", os.path.join(REPO_ROOT, "testdata", "sf0.001")
)


def jobs_started(spark, fn):
    """(result of ``fn()``, ids of the Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"jobs-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, entry in CATALOG.items():
        try:
            _, jobs = jobs_started(spark, lambda: entry.fn(spark, sf_dir))
        except Exception as exc:  # surface, keep sweeping
            print(f"ERR   {name}: {str(exc)[:100]}")
            continue
        if jobs:
            rows.append((len(jobs), name))
    for n, name in sorted(rows, key=lambda r: (-r[0], r[1])):
        print(f"{n:5d}  {name}")
    print(
        f"\n{sum(n for n, _ in rows)} construction jobs in {len(rows)} of "
        f"{len(CATALOG)} entries at {sf_dir} (prompt for review, not a failure)"
    )


if __name__ == "__main__":
    main()
