"""Round-14 interleaved A/B harness.

Cross-process absolute seconds swing 1.3-1.5x on this sandbox (round-12
adjudication), so keep/revert decisions are made from an INTERLEAVED
within-session A/B: variant NEW (the working tree) and variant OLD (the
module as of the given git rev, default HEAD) alternate rep by rep on the
same SparkSession, and best-3 per variant is compared.

The OLD variant is materialized with `git show <rev>:<module path>` into a
temp module and swapped in by patching the live module's CATALOG-visible
attributes — catalog entry functions resolve `_sim.fn` / `_tx.fn` /
`_graph.fn` at call time, and an old top-level function executes entirely
against its own (old) module globals, so each variant is pure.

Usage:
    python tools/ab_r14.py <family> <query[,query...]> [reps] [rev]

Families map to (module, [attribute names to swap]).
"""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from admira_etl_project_prueba_spark.plans.catalog import CATALOG
from admira_etl_project_prueba_spark.session import get_spark

PKG = "admira_etl_project_prueba_spark"

FAMILIES = {
    # fused per-row argmax/argmin kernels (similarity.py)
    "sim": (
        f"{PKG}/operators/similarity.py",
        f"{PKG}.operators.similarity",
        [
            "ivf_assign", "_kmeans_assign", "kmeans_centroids",
            "pq_codes", "pq_codebooks_wide", "pq_topk", "ivfpq_topk",
            "ivfpq_topk_batch", "pq_recall_report", "knn_label_accuracy",
            "ivf_split_assign", "_ivf_split_parts", "semantic_dedup_pairs",
            "semantic_dedup_survivors", "ivf_topk",
        ],
    ),
    # row-local LSH banding (textops.py)
    "lsh": (
        f"{PKG}/operators/textops.py",
        f"{PKG}.operators.textops",
        [
            "lsh_candidate_pairs", "_lsh_bands_long", "lsh_incremental_pairs",
            "lsh_signature_store", "lsh_recall_report",
        ],
    ),
    # triangle_counts checkpoints (graph.py)
    "tri": (
        f"{PKG}/operators/graph.py",
        f"{PKG}.operators.graph",
        ["triangle_counts"],
    ),
    # corpus_health_report eager vs lazy checkpoint (profile.py)
    "chk": (
        f"{PKG}/operators/profile.py",
        f"{PKG}.operators.profile",
        ["corpus_health_report"],
    ),
    # iterative graph loops eager-vs-lazy re-adjudication (graph.py)
    "grf": (
        f"{PKG}/operators/graph.py",
        f"{PKG}.operators.graph",
        ["pagerank", "k_core", "label_propagation", "connected_components_star"],
    ),
}


def load_old(relpath: str, rev: str):
    src = subprocess.run(
        ["git", "-C", os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
         "show", f"{rev}:{relpath}"],
        check=True, capture_output=True, text=True,
    ).stdout
    # a private directory per call: concurrent A/Bs must not overwrite
    # each other's copy of the old module
    tmp = os.path.join(tempfile.mkdtemp(prefix="ab_old_"), os.path.basename(relpath))
    with open(tmp, "w") as f:
        f.write(src)
    name = "ab_old_" + os.path.basename(relpath).replace(".py", "")
    spec = importlib.util.spec_from_file_location(name, tmp)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main():
    fam = sys.argv[1]
    queries = sys.argv[2].split(",")
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 7
    rev = sys.argv[4] if len(sys.argv) > 4 else "HEAD"
    relpath, live_name, names = FAMILIES[fam]
    # AB_NAMES=a,b,c: swap only this subset (isolate one kernel's effect;
    # the rest of the tree stays the working-tree variant in BOTH arms)
    if os.environ.get("AB_NAMES"):
        names = [n.strip() for n in os.environ["AB_NAMES"].split(",")]

    import importlib
    live = importlib.import_module(live_name)
    old = load_old(relpath, rev)
    saved = {n: getattr(live, n) for n in names if hasattr(live, n)}
    olds = {n: getattr(old, n) for n in saved if hasattr(old, n)}

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="ab-r14", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    def set_variant(v: str):
        src = olds if v == "old" else saved
        for n, fn in src.items():
            setattr(live, n, fn)

    def run_once(fn):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for q in queries:
        fn = CATALOG[q].fn
        times = {"new": [], "old": []}
        # one untimed warm-up per variant (plan compile / codegen)
        for v in ("new", "old"):
            set_variant(v)
            run_once(fn)
        for r in range(reps):
            for v in ("new", "old") if r % 2 == 0 else ("old", "new"):
                set_variant(v)
                spark.sparkContext.setJobDescription(f"ab:{q}:{v}:{r}")
                times[v].append(run_once(fn))
        spark.sparkContext.setJobDescription(None)
        out = {}
        for v in ("new", "old"):
            b3 = sorted(times[v])[:3]
            out[v] = sum(b3) / len(b3)
        ratio = out["old"] / out["new"] if out["new"] else float("nan")
        print(
            f"AB {fam} {q}: new best3 {out['new']:.3f}s  old best3 "
            f"{out['old']:.3f}s  old/new {ratio:.3f}  "
            f"(new {sorted(times['new'])[:3]}, old {sorted(times['old'])[:3]})",
            flush=True,
        )
    set_variant("new")


if __name__ == "__main__":
    main()
