"""Deep-BPE measurement on an OPEN-vocabulary corpus.

The shipped test corpus draws words from a small closed list, so BPE
exhausts after ~89 merges — fine for correctness, useless for depth
measurement.  This tool synthesizes a corpus with realistic vocabulary
statistics (zipf-distributed word types built from weighted syllables —
Heaps-law type growth, heavy-tailed character-pair counts, tens of
thousands of distinct types) and trains the frontier-checkpointed
trainer to real depth, reporting wall time per depth bucket so
per-round flatness is measured where it matters.

Usage:
    python tools/bpe_deep_measure.py [--distributed] [n_docs] [n_merges]

Defaults: 50_000 docs, 512 merges.  Deterministic (numpy seed 7).
``--distributed`` sets the driver bound (``_driver.DRIVER_ROWS_MAX``) to
0, so every training runs the per-round distributed loop instead of the
in-process fast path; run it at two revisions to A/B that loop.  The
Spark master is ``local[$SPARK_GRAFT_CPUS]`` (default 32).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np


SYLLABLES = [
    "ka", "to", "ri", "na", "se", "mo", "lu", "ber", "tan", "ing",
    "er", "an", "con", "pre", "sta", "tion", "ver", "dis", "pro", "al",
    "en", "ter", "ment", "ist", "ous", "ity", "ble", "ward", "ship", "ness",
]


def synth_corpus(n_docs: int, seed: int = 7):
    """Zipf word ids → syllable-composed word types: open vocabulary
    with heavy-tailed frequencies, exactly the regime BPE exists for."""
    rng = np.random.default_rng(seed)
    syl = np.array(SYLLABLES)
    wsyl = rng.dirichlet(np.ones(len(syl)) * 0.4)  # skewed syllable use

    def word_for(wid: int) -> str:
        r = np.random.default_rng(wid + 1)
        n = 1 + int(r.integers(1, 4))
        return "".join(r.choice(syl, n, p=wsyl))

    cache: dict[int, str] = {}
    texts = []
    lens = rng.integers(20, 80, n_docs)
    # zipf over a large id space: ~unbounded type growth with corpus size
    ids = rng.zipf(1.3, size=int(lens.sum()))
    pos = 0
    for ln in lens:
        ws = []
        for wid in ids[pos : pos + ln]:
            w = cache.get(int(wid))
            if w is None:
                w = word_for(int(wid))
                cache[int(wid)] = w
            ws.append(w)
        pos += ln
        texts.append(" ".join(ws))
    return texts, len(cache)


def main() -> None:
    args = sys.argv[1:]
    if "--distributed" in args:
        args.remove("--distributed")
        from admira_etl_project_prueba_spark.operators import _driver

        _driver.DRIVER_ROWS_MAX = 0
    n_docs = int(args[0]) if len(args) > 0 else 50_000
    n_merges = int(args[1]) if len(args) > 1 else 512

    from admira_etl_project_prueba_spark.operators.textops import (
        bpe_learn_merges,
    )
    from admira_etl_project_prueba_spark.session import get_spark

    spark = get_spark(shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    texts, n_types = synth_corpus(n_docs)
    print(f"corpus: {n_docs} docs, {n_types} distinct word types")
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(32)
    path = os.path.join(tempfile.gettempdir(), f"bpe_deep_{n_docs}")
    docs.write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)

    # warm the JIT so bucket timings measure rounds, not codegen
    bpe_learn_merges(docs, 8, checkpoint_every=8).collect()

    prev_n, prev_t = 0, 0.0
    t0 = time.time()
    for depth in sorted({d for d in (64, 128, 256) if d < n_merges} | {n_merges}):
        t1 = time.time()
        rows = bpe_learn_merges(docs, depth, checkpoint_every=16).collect()
        dt = time.time() - t1
        marg = (dt - prev_t) / (depth - prev_n) if depth > prev_n else 0.0
        print(
            f"n_merges={depth}: {len(rows)} merges learned, {dt:.1f}s, "
            f"marginal {marg * 1000:.0f} ms/round "
            f"(rounds {prev_n + 1}-{depth})"
        )
        prev_n, prev_t = depth, dt
        if len(rows) < depth:
            print(f"EXHAUSTED at {len(rows)} merges")
            break
    print(f"total: {time.time() - t0:.1f}s")

    # tokenizer APPLICATION at depth: freeze the deepest artifact and
    # measure the serving encode (bpe_encode_from_merges) — tokens/s and
    # bytes/token over the corpus, plus the depth-independence claim
    # (encode at depth 8 vs full depth: same plan shape, one broadcast
    # merge array + one fold per vocabulary entry)
    from admira_etl_project_prueba_spark.operators.textops import (
        bpe_encode_from_merges,
        write_bpe_merges,
    )

    for depth in (8, prev_n):
        apath = os.path.join(
            tempfile.gettempdir(), f"bpe_artifact_{n_docs}_{depth}"
        )
        write_bpe_merges(docs, apath, n_merges=depth, checkpoint_every=16)
        t1 = time.time()
        enc = bpe_encode_from_merges(spark, docs, apath)
        agg = enc.agg(
            {"n_bpe_tokens": "sum", "n_chars": "sum", "doc_id": "count"}
        ).first()
        dt = time.time() - t1
        toks, chars = int(agg["sum(n_bpe_tokens)"]), int(agg["sum(n_chars)"])
        print(
            f"encode@depth={depth}: {agg['count(doc_id)']} docs, "
            f"{toks} tokens in {dt:.1f}s = {toks / dt / 1e6:.2f}M tokens/s, "
            f"{chars / toks:.3f} bytes/token"
        )


if __name__ == "__main__":
    main()
