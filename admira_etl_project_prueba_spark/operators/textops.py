"""Text-analysis operators for LLM training-data pipelines.

These go beyond the reference (which has no text processing) and implement
the document-pipeline primitives a 100 TB corpus needs: token statistics,
quality scoring, language ID, fingerprinting, SimHash and MinHash.

Design rules:
* Everything is built-in Catalyst expressions — higher-order array
  functions (``transform``/``filter``/``aggregate``) instead of explode
  where possible, so per-document work stays row-local with NO shuffle.
  A corpus-wide run is embarrassingly parallel: scan → project.
* Hashes are engine-portable: md5 (bit-identical everywhere) with the
  first 15 hex chars parsed as a 60-bit integer (``HEX60``).  This keeps
  every operator oracle-checkable in DuckDB, and — more importantly — makes
  fingerprints STABLE across engine versions and cluster sizes, which is
  what you want for incremental dedup over a growing corpus.
* MinHash arithmetic stays under 2^47 (hash reduced mod 2^31-1 before the
  affine permutation) so it is exact in any engine's int64 — no silent
  overflow wraparound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from admira_etl_project_prueba_spark.functions.fs import (
    clean_version_scratch,
    commit_version,
    copy_tree,
    maintenance_lease,
    path_exists,
    resolve_store_root,
    version_scratch,
)
from admira_etl_project_prueba_spark.operators._driver import collect_if_small

# ---------------------------------------------------------------------------
# portable primitives
# ---------------------------------------------------------------------------

#: SQL fragment: 60-bit integer from the first 15 hex chars of md5({x})
def hex60(x: str) -> str:
    return f"CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"


MERSENNE31 = 2_147_483_647  # 2^31 - 1, the minhash modulus

_DEC = "decimal(25,6)"  # exact, order-independent cross-row sums

#: whitespace tokenization, lowercased — portable to regexp_split_to_array
TOKENS = "split(lower(trim(text)), '\\\\s+')"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

#: sentinel bucket for NULL document sources in per-source rollups —
#: equality joins never match NULL, so without it NULL-source docs would
#: silently vanish from source curation (report AND rejection path)
UNKNOWN_SOURCE = "(unknown)"


def _stop_list_sql() -> str:
    return "array(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"


# ---------------------------------------------------------------------------
# token statistics & quality
# ---------------------------------------------------------------------------

def token_stats(documents: DataFrame) -> DataFrame:
    """Per-document token counts — the unit of corpus budgeting."""
    return documents.selectExpr("doc_id", "text", f"{TOKENS} AS t").selectExpr(
        "doc_id",
        "size(t) AS n_tokens",
        "length(text) AS n_chars",
        "size(array_distinct(t)) AS n_unique_tokens",
    )


def quality_scores(documents: DataFrame) -> DataFrame:
    """Heuristic quality signals: length, lexical diversity, stopword
    density, mean token length.  Pure projection — no shuffle, scales
    linearly with corpus size.

    Staged select: the token array is projected ONCE and every signal
    reads the materialized column — inlining ``split()`` into each
    expression would re-tokenize the document per signal (CollapseProject
    keeps the stage boundary because the alias is reused and non-cheap).
    """
    return documents.selectExpr("doc_id", "text", f"{TOKENS} AS t").selectExpr(
        "doc_id",
        "length(text) AS n_chars",
        "size(t) AS n_tokens",
        # mean token length, exact rational → double
        "CAST(aggregate(t, 0L, (acc, x) -> acc + length(x)) AS DOUBLE)"
        " / size(t) AS mean_token_len",
        # type-token ratio (lexical diversity)
        "CAST(size(array_distinct(t)) AS DOUBLE) / size(t) AS ttr",
        # stopword ratio — natural-language text sits in a known band
        f"CAST(size(filter(t, x -> array_contains({_stop_list_sql()}, x))) AS DOUBLE)"
        " / size(t) AS stopword_ratio",
    )


LANG_MARKERS: dict[str, tuple[str, ...]] = {
    # tiny marker lexica; a real deployment swaps in per-language n-gram
    # models — the *dataflow* (argmax of per-language evidence counts,
    # row-local, no shuffle) is the part that matters at scale.
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "des", "est"),
    "zh": ("的", "是", "了", "在", "我"),
}


def _lang_hits_expr() -> tuple[str, list[str]]:
    """(`array(...)` of per-language marker counts over a ``t`` token
    column, sorted language list) — shared by language_id/quality_filter."""
    langs = sorted(LANG_MARKERS)  # deterministic tie-break order
    hits = ", ".join(
        "size(filter(t, x -> array_contains(array("
        + ", ".join(f"'{w}'" for w in LANG_MARKERS[l])
        + "), x)))"
        for l in langs
    )
    return f"array({hits})", langs


def _lang_pick_expr(langs: list[str]) -> str:
    """argmax over a materialized ``hits`` array + ``best`` scalar —
    element_at over attributes, each marker filter evaluated exactly once."""
    pick = " ".join(
        f"WHEN element_at(hits, {i + 1}) = best THEN '{l}'"
        for i, l in enumerate(langs)
    )
    return f"CASE WHEN best = 0 THEN 'und' ELSE CASE {pick} END END"


def language_id(documents: DataFrame) -> DataFrame:
    """Marker-lexicon language ID with deterministic argmax tie-break
    (alphabetical language order, 'und' when no evidence).

    Staged select (tokens → hits array → argmax): a single-projection
    formulation would inline the tokenizer and every marker filter into
    each CASE arm — O(langs²) re-evaluations per row.
    """
    hits_expr, langs = _lang_hits_expr()
    return (
        documents.selectExpr("doc_id", "lang", f"{TOKENS} AS t")
        .selectExpr("doc_id", "lang", f"{hits_expr} AS hits")
        .selectExpr("doc_id", "lang", "hits", "array_max(hits) AS best")
        .selectExpr(
            "doc_id",
            "lang AS lang_declared",
            f"{_lang_pick_expr(langs)} AS lang_predicted",
            "best AS marker_hits",
        )
    )


# ---------------------------------------------------------------------------
# fingerprints
# ---------------------------------------------------------------------------

def fingerprints(documents: DataFrame) -> DataFrame:
    """Exact-dup fingerprints: raw md5 + whitespace/case-normalized md5."""
    norm = "regexp_replace(lower(trim(text)), '\\\\s+', ' ')"
    return documents.selectExpr(
        "doc_id",
        "md5(text) AS md5_raw",
        f"md5({norm}) AS md5_normalized",
        "length(text) AS n_chars",
    )


def simhash64(documents: DataFrame, bits: int = 60) -> DataFrame:
    """SimHash over token hashes: bit j of the fingerprint is the majority
    vote of bit j across all token hashes.  Near-dup docs differ in a few
    bits (compare with hamming distance / bit_count(xor)).

    Default width is 60 bits — the full entropy of the md5-derived token
    hashes (``hex60``; 60 bits is the widest that stays exact in a signed
    BIGINT in both engines, which is what keeps the DuckDB oracle parity).
    Wider fingerprints matter at scale: with 15-bit pigeonhole bands the
    banded self-join in ``simhash_near_dup_pairs`` has 32768 values per
    band instead of 256, so bucket populations — and the quadratic
    within-bucket candidate term — shrink by ~128× per band.

    Entirely row-local via higher-order functions — no explode, no shuffle.
    """
    hashes = f"transform({TOKENS}, t -> {hex60('t')})"
    bit_terms = " + ".join(
        # majority of bit j set → contribute 2^j
        f"(CASE WHEN 2 * size(filter(h, x -> (x >> {j}) & 1 = 1)) > size(h) "
        f"THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    return documents.selectExpr("doc_id", f"{hashes} AS h").selectExpr(
        "doc_id", f"{bit_terms} AS simhash"
    )


# ---------------------------------------------------------------------------
# shingles & MinHash
# ---------------------------------------------------------------------------

def _shingle_expr(k: int = 3) -> str:
    """k-token shingle strings (1-based element_at for DuckDB parity)."""
    parts = ", ".join(f"element_at(t, i + {d})" for d in range(k))
    # guard: sequence(1, 0) DESCENDS in Spark, so short docs need the CASE
    return (
        f"CASE WHEN size(t) < {k} THEN array() "
        f"ELSE transform(sequence(1, size(t) - {k - 1}), "
        f"i -> concat_ws(' ', {parts})) END"
    )


def shingle_hashes(documents: DataFrame, k: int = 3) -> DataFrame:
    """doc_id → array of distinct 60-bit shingle hashes (reduced mod 2^31-1
    so downstream affine permutations stay exact in int64)."""
    return (
        documents.selectExpr("doc_id", f"{TOKENS} AS t")
        .selectExpr("doc_id", f"{_shingle_expr(k)} AS shingles")
        .selectExpr(
            "doc_id",
            f"array_distinct(transform(shingles, s -> {hex60('s')} % {MERSENNE31})) AS sh",
        )
    )


def minhash_signatures(
    documents: DataFrame | None,
    num_perm: int = 16,
    k: int = 3,
    sh: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures as (doc_id, perm, minhash) rows.

    Permutation p is the affine map h → (a_p·h + b_p) mod (2^31-1) with
    a_p = 2p+1, b_p = 1000p+7.  Row-local (no shuffle): each signature
    value is a fold over the doc's own shingle set.  Empty docs get
    signature value 2^31-1 (the modulus — an impossible min, stable).
    Pass a precomputed ``sh`` (shingle_hashes output) to share its plan
    subtree with other consumers.
    """
    if sh is None:
        sh = shingle_hashes(documents, k)
    sig_cols = []
    for p in range(num_perm):
        a, b = 2 * p + 1, 1000 * p + 7
        sig_cols.append(
            f"coalesce(array_min(transform(sh, h -> ({a} * h + {b}) % {MERSENNE31})), "
            f"{MERSENNE31}) AS m{p}"
        )
    wide = sh.selectExpr("doc_id", *sig_cols)
    # long form: stack to (doc_id, perm, minhash)
    stack = ", ".join(f"{p}, m{p}" for p in range(num_perm))
    return wide.selectExpr(
        "doc_id", f"stack({num_perm}, {stack}) AS (perm, minhash)"
    )


def _band_bucket_rows(
    sh: DataFrame, num_perm: int = 16, band_size: int = 2
) -> DataFrame:
    """(doc_id, bucket): LSH band-bucket keys computed ROW-LOCALLY from
    the shingle sets — no stack-to-long-form and no groupBy(doc_id, band)
    exchange (banding is a per-document function of the signature, so the
    former corpus-wide aggregate was a pure shuffle tax).  Bucket strings
    are bit-identical to the long-form path: band index + the
    order-insensitive lo/hi/sum combo of the band's minhashes.

    The 16 signature folds are let-bound through a 1-element
    transform(array(struct(...))) so each fold evaluates ONCE even though
    every band's lo/hi/sum references its minhashes three times —
    Catalyst's projection collapse would otherwise re-inline each fold
    per reference (the giant-projection trap lsh_signature_store's
    docstring records)."""
    sig = [
        f"coalesce(array_min(transform(sh, h -> "
        f"({2 * p + 1} * h + {1000 * p + 7}) % {MERSENNE31})), {MERSENNE31})"
        f" AS m{p}"
        for p in range(num_perm)
    ]
    n_bands = -(-num_perm // band_size)  # ceil
    buckets = []
    for b in range(n_bands):
        ms = [f"x.m{p}" for p in range(b * band_size, min((b + 1) * band_size, num_perm))]
        lo = ms[0] if len(ms) == 1 else f"least({', '.join(ms)})"
        hi = ms[0] if len(ms) == 1 else f"greatest({', '.join(ms)})"
        s = " + ".join(ms)
        buckets.append(
            f"concat_ws('_', CAST({b} AS BIGINT), {lo}, {hi}, {s})"
        )
    expr = (
        f"explode(flatten(transform(array(struct({', '.join(sig)})), "
        f"x -> array({', '.join(buckets)})))) AS bucket"
    )
    return sh.selectExpr("doc_id", expr)


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

def dedup_exact(documents: DataFrame, normalized: bool = False) -> DataFrame:
    """Exact dedup by content hash: one surviving doc_id per distinct text
    (the smallest), plus the duplicate count.

    ONE shuffle on the 128-bit hash — never on the text itself, so shuffle
    volume is O(rows · 32 bytes) regardless of document size.  This is the
    100 TB-safe shape of `dropDuplicates(["text"])`.
    """
    key = (
        "md5(regexp_replace(lower(trim(text)), '\\\\s+', ' '))"
        if normalized
        else "md5(text)"
    )
    return (
        documents.selectExpr(f"{key} AS content_hash", "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
        )
    )


def tfidf_top_terms(documents: DataFrame, top_k: int = 5) -> DataFrame:
    """Per-document top-k characteristic terms by tf × (N/df) relevance.

    A linear-idf TF-IDF variant: ``N/df`` instead of ``log(N/df)`` because
    ``ln`` is libm-implementation-defined (bit-differs between engines on
    ~2% of inputs — measured), while the rational form is exact IEEE and
    oracle-checkable; the per-document RANKING it induces is the same
    (both are monotone in 1/df).  Dataflow: explode → (doc, token) tf agg →
    token df agg → broadcast df+N back — shuffles carry token keys, and
    the final top-k window runs per-document on tf-reduced rows.
    """
    toks = documents.selectExpr(
        "doc_id", f"explode_outer({TOKENS}) AS token"
    ).filter("token IS NOT NULL")
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.distinct().groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.select(F.countDistinct("doc_id").alias("n"))
    from pyspark.sql import Window

    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score", F.col("tf") * (F.col("n").cast("double") / F.col("df"))
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("doc_id", "token", "tf", "df", "score", "rnk")
    )


def chunk_documents(
    documents: DataFrame, chunk_size: int = 64, overlap: int = 16
) -> DataFrame:
    """Split each document into overlapping token windows — the
    RAG/pretraining chunking primitive.

    Chunk starts advance by ``chunk_size - overlap``; each chunk carries
    its doc, ordinal, start offset, and token count.  Entirely row-local
    until the explode (fan-out = tokens/stride per doc); no Python, no
    shuffle — a corpus-wide chunking pass is scan → project at any scale.
    """
    assert 0 <= overlap < chunk_size
    step = chunk_size - overlap
    starts = (
        f"CASE WHEN size(t) = 0 THEN array(1) "
        f"ELSE sequence(1, size(t), {step}) END"
    )
    return (
        documents.selectExpr("doc_id", f"{TOKENS} AS t")
        # posexplode_OUTER: dodge the inferred generator filter that would
        # re-tokenize twice per doc (see prefix_filter_jaccard_pairs);
        # starts is never empty so no rows are actually null-filtered
        .selectExpr(
            "doc_id", "t", f"posexplode_outer({starts}) AS (chunk_id, start)"
        )
        .filter("start IS NOT NULL")
        .selectExpr(
            "doc_id",
            "chunk_id",
            "start",
            f"size(slice(t, start, {chunk_size})) AS n_tokens",
            f"concat_ws(' ', slice(t, start, {chunk_size})) AS chunk_text",
        )
    )


def sequence_pack(
    documents: DataFrame,
    token_budget: int = 512,
    docs_per_shard: int | None = 1_000_000,
) -> DataFrame:
    """Streaming-concatenation sequence packing: documents are laid out in
    deterministic doc_id order into token streams; each doc's pack is the
    ``token_budget`` bin containing its starting offset — the layout an
    LLM pretraining loader uses to cut fixed-length sequences.

    Sharded by default: ``shard = floor(doc_id / docs_per_shard)`` keys
    the window, so each shard is an independent, contiguous doc_id range
    packed in parallel — the cumsum window partitions across the cluster
    instead of collapsing onto one task.  (pack_id, start_offset) are
    per-shard; (shard, pack_id) is the global pack key, exactly how a
    multi-file pretraining loader shards its input anyway.

    ``docs_per_shard=None`` gives the single global stream — one totally
    ordered cumsum, which plans a SinglePartition window.  That form is
    only for small corpora and engine-parity checks; at scale it is the
    bottleneck, never the default.

    Integer window arithmetic throughout (exact, oracle-checkable).
    """
    from pyspark.sql import Window

    toks = documents.selectExpr("doc_id", f"size({TOKENS}) AS n_tokens")
    if docs_per_shard is None:
        toks = toks.withColumn("shard", F.lit(0).cast("long"))
    else:
        toks = toks.withColumn(
            "shard", F.floor(F.col("doc_id") / docs_per_shard).cast("long")
        )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return toks.select(
        "doc_id",
        "shard",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset"),
    ).withColumn(
        "pack_id", F.floor(F.col("start_offset") / token_budget).cast("long")
    )


def train_test_split(
    documents: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    salt: str = "v1",
) -> DataFrame:
    """Deterministic hash-based train/test split: assignment depends only
    on (id, salt) — stable across runs, engines, cluster sizes, and corpus
    growth (a doc never migrates between splits when new data lands, which
    leakage-free training requires; random `randomSplit` can't promise
    that).  Change ``salt`` to draw a fresh split.  Row-local, no shuffle.
    """
    keyed = f"concat({id_col}, '_', '{salt}')"
    bucket = f"{hex60(keyed)} % 100"
    return documents.selectExpr(
        "*",
        f"CASE WHEN {bucket} < {train_pct} THEN 'train' ELSE 'test' END AS split",
    )


def source_reputation(
    documents: DataFrame,
    langs: tuple[str, ...] = ("en", "es", "de", "fr"),
    min_kept_fraction: float = 0.5,
    quality: DataFrame | None = None,
) -> DataFrame:
    """Source-level curation (C4/RefinedWeb-style domain reputation):
    aggregate per-document quality verdicts to the ``source`` grain and
    flag sources whose corpus contribution is mostly rejects — the lever
    that removes a bad domain WHOLESALE instead of fighting it one
    document at a time.

    Per source: doc/kept counts, kept fraction, total tokens, exact
    decimal-quantized mean ttr / stopword ratio, the dominant predicted
    language (deterministic tie-break: highest count, then lexicographic),
    and ``keep_source`` = kept_fraction ≥ ``min_kept_fraction``.

    Scale shape: quality scoring stays the row-local single pass of
    :func:`quality_filter`; only narrow (doc_id, verdict) rows join the
    (doc_id, source) projection and shuffle on ``source`` — document text
    never moves.  Source cardinality is domain-count-sized, so the final
    aggregate is small; the dominant-language argmax is a ROW_NUMBER
    window over (source × language) counts — at most |sources|·|langs|+1
    rows.

    ``quality`` (optional): a precomputed :func:`quality_filter` frame —
    pass it when the caller also consumes per-document verdicts (as
    ``build_training_corpus`` does) so the full-text quality scan runs
    ONCE, not once per consumer.

    NULL sources bucket under ``UNKNOWN_SOURCE`` rather than silently
    vanishing: the equality joins (dominant-language, and any downstream
    per-source semi-join) never match NULL, so without the sentinel a
    NULL-source document could neither appear in the report nor be
    curated away.
    """
    from pyspark.sql import Window

    # the verdict frame feeds TWO consumers below (the per-source rollup
    # and the dominant-language count) and Spark has no cross-branch CSE
    # — when we scored it ourselves, materialize the narrow frame so the
    # full-text quality scan runs once, not once per consumer (hygiene
    # rule 6; callers passing a precomputed frame already did this)
    q = (quality if quality is not None else quality_filter(documents, langs=langs)).select(
        "doc_id", "n_tokens", "ttr", "stopword_ratio", "lang_predicted", "kept"
    )
    if quality is None:
        q = q.localCheckpoint(eager=False)
    d = documents.select(
        "doc_id", F.coalesce("source", F.lit(UNKNOWN_SOURCE)).alias("source")
    ).join(q, "doc_id")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        (
            F.sum(F.col("ttr").cast(_DEC)).cast("double") / F.count(F.lit(1))
        ).alias("mean_ttr"),
        (
            F.sum(F.col("stopword_ratio").cast(_DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_stopword_ratio"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_lang").desc(), F.col("lang_predicted").asc()
    )
    dominant = (
        d.groupBy("source", "lang_predicted")
        .agg(F.count(F.lit(1)).alias("n_lang"))
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("source", F.col("lang_predicted").alias("dominant_lang"))
    )
    kept_fraction = F.col("n_kept").cast("double") / F.col("n_docs")
    return (
        per.join(dominant, "source")
        .select(
            "source",
            "n_docs",
            "n_kept",
            kept_fraction.alias("kept_fraction"),
            "total_tokens",
            "mean_ttr",
            "mean_stopword_ratio",
            "dominant_lang",
            (kept_fraction >= min_kept_fraction).alias("keep_source"),
        )
    )


def stratified_sample(
    documents: DataFrame,
    strata_col: str = "lang",
    fractions: dict[str, float] | None = None,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum sampling — corpus rebalancing: downsample
    over-represented languages/sources without shuffling the corpus.

    Membership is a pure function of (id, seed): keep a row iff
    ``hex60(id ⊕ 'strat' ⊕ seed) % 10000`` falls under its stratum's
    fraction (in basis points).  Same contract as ``sampleBy`` (unlisted
    strata, including NULL, are dropped; per-stratum Bernoulli marginals)
    but engine-portable and hash-exact-verifiable: the identical sample
    reproduces on any engine/run/cluster size, a doc never flips in/out
    when the corpus grows, and a new ``seed`` draws a fresh sample —
    the :func:`train_test_split` recipe applied per stratum.

    Scale shape: the fraction map is a broadcast inner join
    (domain-count-sized); the bucket test is a row-local md5 in codegen.
    No shuffle of the corpus.  At 100 TB this is the first stage of
    data-mixture tuning — the fractions dict IS the mixture spec.
    """
    spark = documents.sparkSession
    if fractions is None:
        strata = [r[0] for r in documents.select(strata_col).distinct().collect()]
        fractions = {s: 0.5 for s in strata}
    frac_rows = [(s, int(round(f * 10000))) for s, f in sorted(fractions.items())]
    frac_df = spark.createDataFrame(frac_rows, f"{strata_col} string, _keep_bp int")
    keyed = f"concat({id_col}, '_strat', '{int(seed)}')"
    bucket = f"{hex60(keyed)} % 10000"
    return (
        documents.join(F.broadcast(frac_df), strata_col, "inner")
        .filter(F.expr(bucket) < F.col("_keep_bp"))
        .drop("_keep_bp")
    )


def mixture_sample(
    documents: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix1",
) -> DataFrame:
    """Deterministic data-mixture sampling: keep a document iff its
    engine-portable hash bucket ``hex60(id ⊕ salt) % 10000`` falls under
    its stratum's rate (in basis points).

    The mixture spec (``rates``, per ``strata_col`` value) is the knob a
    training-data pipeline tunes: "25% of web, all of wiki".  Unlike
    ``sampleBy`` (engine-specific RNG — rows-only verifiable), membership
    depends only on (id, salt): the same sample is reproducible on any
    engine, any cluster size, any run — so a mixture is AUDITABLE, a doc
    never flips in/out when the corpus grows, and changing ``salt`` draws
    a fresh sample.  Strata missing from ``rates`` (including NULL
    ``strata_col``, which no equality join matches) fall back to
    ``default_rate``.

    Scale shape: the rate map is a broadcast left-join (domain-count-sized
    at 100 TB — thousands of rows, never corpus-sized); the bucket test is
    a row-local md5 in codegen.  No shuffle of the corpus.
    """
    spark = documents.sparkSession
    rate_rows = [(s, int(round(r * 10000))) for s, r in sorted(rates.items())]
    rate_df = spark.createDataFrame(rate_rows, f"{strata_col} string, _keep_bp int")
    default_bp = int(round(default_rate * 10000))
    keyed = f"concat({id_col}, '_', '{salt}')"
    bucket = f"{hex60(keyed)} % 10000"
    return (
        documents.join(F.broadcast(rate_df), strata_col, "left")
        .filter(F.expr(bucket) < F.coalesce("_keep_bp", F.lit(default_bp)))
        .drop("_keep_bp")
    )


def token_budget_sample(
    documents: DataFrame,
    budgets: dict[str, int],
    default_budget: int | None = None,
    salt: str = "budget1",
) -> DataFrame:
    """Deterministic per-source TOKEN-budget sampling: each source
    contributes a pseudo-random prefix of its documents whose cumulative
    token count stays within the source's budget (docs are never split;
    the first doc that would overflow is excluded, as is everything after
    it in rank order).

    This is the mixture knob expressed the way training actually meters
    data — tokens, not documents or rates: "20M tokens of web, all of
    wiki".  Like :func:`mixture_sample`, membership is a pure function of
    (doc_id, salt): the md5 rank gives a stable shuffle of each source,
    so the sample is reproducible on any engine/run/cluster and only
    GROWS a source's prefix when its budget grows.  ``default_budget``
    None means unlisted (and NULL-source) strata pass through whole.

    Scale shape: the budget map is a broadcast left-join; the greedy
    prefix is ONE running-sum window per source — a single shuffle keyed
    by source.  Exact greedy prefix semantics are inherently sequential
    per source (each doc's verdict depends on every lower-ranked doc),
    so the per-source ordering is the honest minimum work; sources
    parallelize across the cluster, and a pathologically hot source is
    one window partition — the same bound the per-source rollup family
    already documents.

    Returns kept documents: (doc_id, source, n_tokens, cum_tokens) with
    the NULL-source sentinel applied, cum_tokens being the running total
    the verdict was made on.
    """
    from pyspark.sql import Window

    spark = documents.sparkSession
    rows = [(s, int(b)) for s, b in sorted(budgets.items())]
    budget_df = spark.createDataFrame(rows, "source string, _budget long")
    w = (
        Window.partitionBy("source")
        .orderBy("rank", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    keyed = f"concat(doc_id, '_', '{salt}')"
    base = documents.selectExpr(
        f"coalesce(source, '{UNKNOWN_SOURCE}') AS source",
        "doc_id",
        f"CAST(size({TOKENS}) AS BIGINT) AS n_tokens",
        f"{hex60(keyed)} AS rank",
    )
    out = (
        base.join(F.broadcast(budget_df), "source", "left")
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn(
            "_budget",
            F.coalesce(
                "_budget",
                F.lit(None if default_budget is None else int(default_budget)).cast(
                    "long"
                ),
            ),
        )
        .filter(F.col("_budget").isNull() | (F.col("cum_tokens") <= F.col("_budget")))
    )
    return out.select("doc_id", "source", "n_tokens", "cum_tokens")


def _hashed_bigram_counts(df: DataFrame, n_buckets: int) -> DataFrame:
    """(doc_id, b, c): per-document hashed-bigram bucket counts — the
    DSIR feature projection.  Explodes the bigram INDEX and builds the
    bigram per exploded row (the interpreted-HOF trap documented at
    line_dedup_stats makes exploding a transform()-built array re-run
    the lambda per output row); explode_outer dodges the inferred
    size()>0 scan filter."""
    bg = "concat_ws(' ', element_at(t, i), element_at(t, i + 1))"
    return (
        df.selectExpr("doc_id", f"{TOKENS} AS t")
        .selectExpr(
            "doc_id",
            "t",
            "explode_outer(CASE WHEN size(t) < 2 THEN array() "
            "ELSE sequence(1, size(t) - 1) END) AS i",
        )
        .filter("i IS NOT NULL")
        .selectExpr("doc_id", f"{hex60(bg)} % {n_buckets} AS b")
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_importance_weights(
    documents: DataFrame,
    target: DataFrame,
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every source-pool document by how
    much more likely its hashed-bigram profile is under the TARGET
    domain's bag-of-bigrams model than under the source pool's own.

    log w(doc) = Σ_b c_b · (ln p̂_target(b) − ln p̂_source(b)) over the
    doc's hashed-bigram buckets, with add-one smoothing over
    ``n_buckets``.  Positive ⇒ looks like the target domain; the weight
    is the resampling key for target-matched pretraining mixtures.

    Scale shape: features reduce map-side to (doc_id, bucket, count) —
    the corpus text never shuffles; both bucket distributions aggregate
    to ≤ n_buckets rows and the per-bucket log-ratio frame BROADCASTS
    into the scoring join, so the only data-sized shuffles are the two
    feature aggregations.  Cross-engine exactness: the log-ratio is
    computed ONCE PER BUCKET and rounded to the decimal(25,6) grid
    before the per-document Σ c_b · ratio — integer × decimal products
    summed as decimal are order-independent and engine-exact, so the
    whole surface stays hash-oracle-able despite the ln (ulp differences
    are absorbed by the per-bucket rounding, not amplified per
    document).  Documents with <2 tokens surface with NULL log_weight
    and n_bigrams=0; ``target`` must be non-empty.
    """
    dist = dsir_dists(documents, target, n_buckets)
    return _dsir_score(documents, dist, n_buckets)


def dsir_dists(
    documents: DataFrame, target: DataFrame, n_buckets: int = 4096
) -> DataFrame:
    """The DSIR 'model': a DENSE (b, log_ratio) frame over all
    ``n_buckets`` hashed-bigram buckets — buckets unseen in either corpus
    carry the smoothed-unseen ratio, so scoring is total (a future doc
    can hash anywhere).  Always exactly n_buckets rows (KBs) — persist
    it with :func:`write_dsir_dists` and score ingest batches against
    the frozen model without re-aggregating the training-time corpora.
    """
    spark = documents.sparkSession
    src_feats = _hashed_bigram_counts(documents, n_buckets)
    scnt = src_feats.groupBy("b").agg(F.sum("c").alias("s_cnt"))
    tcnt = (
        _hashed_bigram_counts(target, n_buckets)
        .groupBy("b")
        .agg(F.sum("c").alias("t_cnt"))
    )
    s_tot = src_feats.agg(F.sum("c").alias("s_tot"))
    t_tot = tcnt.agg(F.sum("t_cnt").alias("t_tot"))
    all_buckets = spark.range(n_buckets).selectExpr("CAST(id AS BIGINT) AS b")
    return (
        all_buckets.join(F.broadcast(scnt), "b", "left")
        .join(F.broadcast(tcnt), "b", "left")
        .crossJoin(F.broadcast(s_tot))
        .crossJoin(F.broadcast(t_tot))
        .selectExpr(
            "b",
            f"CAST(round(ln((coalesce(t_cnt, 0) + 1) / CAST(t_tot + {n_buckets} AS DOUBLE))"
            f" - ln((coalesce(s_cnt, 0) + 1) / CAST(s_tot + {n_buckets} AS DOUBLE)), 6) AS {_DEC})"
            " AS log_ratio",
        )
    )


def write_dsir_dists(
    documents: DataFrame, target: DataFrame, path: str, n_buckets: int = 4096
) -> None:
    """Persist the DSIR model (once-per-ingest batch job; see
    :func:`dsir_dists`).  Reads broadcast into every later scoring join —
    batch (:func:`dsir_weights_from_dists`) or streaming
    (``streaming.stream_dsir_weights``)."""
    dsir_dists(documents, target, n_buckets).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def _dsir_score(documents: DataFrame, dist: DataFrame, n_buckets: int) -> DataFrame:
    """Score docs against a (dense or corpus-derived) log-ratio frame —
    the shared core of the inline and from-artifact DSIR paths."""
    weights = (
        _hashed_bigram_counts(documents, n_buckets)
        .join(F.broadcast(dist), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("log_ratio")).alias("w"),
            F.sum("c").cast("long").alias("n_bigrams"),
        )
    )
    return (
        documents.select("doc_id")
        .join(weights, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(w AS DOUBLE) AS log_weight",
            "coalesce(n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams",
        )
    )


def dsir_weights_from_dists(
    spark, documents: DataFrame, dist_path: str, n_buckets: int = 4096
) -> DataFrame:
    """Score documents against a PERSISTED DSIR model — the production
    shape: the model is frozen at mixture-design time, new data is scored
    as it arrives without touching the original corpora."""
    return _dsir_score(documents, spark.read.parquet(dist_path), n_buckets)


def dsir_resample(
    documents: DataFrame,
    target: DataFrame,
    k: int,
    n_buckets: int = 4096,
    salt: str = "dsir1",
) -> DataFrame:
    """Gumbel-top-k importance resampling over the DSIR weights: draw k
    documents WITHOUT replacement with probability ∝ exp(log_weight),
    deterministically — the Gumbel noise comes from the engine-portable
    md5 hash of (doc_id, salt), so the sample is reproducible across
    runs, partitionings and cluster sizes (pinned in pytest).

    key = log_weight + Gumbel(u),  u = (hex60(doc_id⊕salt) % 1e6 + 0.5) / 1e6
    and the k largest keys are the sample (ties broken by doc_id) — the
    standard Gumbel-max reduction of weighted sampling to a top-k, which
    Spark executes as TakeOrdered (per-partition heaps + driver merge of
    k rows), never a global sort.  Documents with no bigram features
    carry zero weight mass and are excluded.
    """
    w = dsir_importance_weights(documents, target, n_buckets).filter(
        F.col("log_weight").isNotNull()
    )
    keyed = hex60(f"concat(doc_id, '_', '{salt}')")
    u = f"(({keyed} % 1000000) + 0.5) / 1000000.0"
    return (
        w.selectExpr(
            "doc_id",
            "log_weight",
            "n_bigrams",
            f"log_weight + (-ln(-ln({u}))) AS gumbel_key",
        )
        .orderBy(F.col("gumbel_key").desc(), "doc_id")
        .limit(int(k))
    )


def token_frequencies(documents: DataFrame, top_k: int = 100) -> DataFrame:
    """Corpus token frequencies (vocabulary building): global count and
    document frequency per token, deterministic top-k.

    The word-count-at-scale shape: per-document token multisets reduce
    LOCALLY first (map-side partial agg over the exploded tokens), so the
    shuffle carries one row per distinct token per partition — vocabulary
    cardinality, not corpus token count.  top-k via TakeOrdered.
    """
    toks = documents.selectExpr(
        "doc_id", f"explode_outer({TOKENS}) AS token"
    ).filter("token IS NOT NULL")
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("doc_frequency"),
    )
    return counts.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(top_k)


def dedup_incremental(
    new_documents: DataFrame,
    seen_hashes: DataFrame,
    normalized: bool = True,
) -> DataFrame:
    """Incremental dedup: keep only new documents whose content hash is
    neither already in the corpus (anti-join vs ``seen_hashes``, a 1-column
    ``content_hash`` frame) nor duplicated within the batch itself
    (first-by-doc_id survives).

    This is the growing-corpus shape: the seen set is a hash column —
    32 bytes/doc regardless of document size — so the anti-join shuffles
    KBs per million docs and the text column never moves.  Stability of the
    md5 fingerprint across engine versions (see module docstring) is what
    makes the seen-store durable.
    """
    key = (
        "md5(regexp_replace(lower(trim(text)), '\\\\s+', ' '))"
        if normalized
        else "md5(text)"
    )
    hashed = new_documents.selectExpr("*", f"{key} AS content_hash")
    survivors = (
        hashed.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    )
    return (
        hashed.join(survivors, ["content_hash", "doc_id"], "left_semi")
        .join(seen_hashes.select("content_hash"), "content_hash", "left_anti")
    )


def quality_filter(
    documents: DataFrame,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_mean_token_len: float = 2.0,
    max_mean_token_len: float = 12.0,
    min_stopword_ratio: float = 0.0,
    langs: tuple[str, ...] | None = None,
) -> DataFrame:
    """Composed corpus filter: quality heuristics + optional language
    allow-list, returning every document with its signals, a ``kept``
    verdict, and the first ``reject_reason`` (deterministic precedence).

    One pass, row-local — the shape of a 100 TB cleaning stage: score and
    verdict travel with the row so downstream stages can audit *why* a
    document was dropped without recomputing anything.  Quality signals
    and language prediction are computed in ONE projection over each row —
    not quality_scores ⋈ language_id, which would scan (and tokenize) the
    full corpus twice and shuffle-join the results on doc_id for no
    semantic gain.
    """
    hits_expr, lgs = _lang_hits_expr()
    scored = (
        documents.selectExpr("doc_id", f"{TOKENS} AS t")
        .selectExpr(
            "doc_id",
            "size(t) AS n_tokens",
            "CAST(aggregate(t, 0L, (acc, x) -> acc + length(x)) AS DOUBLE)"
            " / size(t) AS mean_token_len",
            "CAST(size(array_distinct(t)) AS DOUBLE) / size(t) AS ttr",
            f"CAST(size(filter(t, x -> array_contains({_stop_list_sql()}, x))) AS DOUBLE)"
            " / size(t) AS stopword_ratio",
            f"{hits_expr} AS hits",
        )
        .withColumn("best", F.expr("array_max(hits)"))
        .withColumn("lang_predicted", F.expr(_lang_pick_expr(lgs)))
    )
    reasons = [
        (F.col("n_tokens") < min_tokens, "too_short"),
        (F.col("n_tokens") > max_tokens, "too_long"),
        (F.col("mean_token_len") < min_mean_token_len, "tokens_too_short"),
        (F.col("mean_token_len") > max_mean_token_len, "tokens_too_long"),
        (F.col("stopword_ratio") < min_stopword_ratio, "unnatural_text"),
    ]
    if langs is not None:
        reasons.append((~F.col("lang_predicted").isin(*langs), "lang_not_allowed"))
    reason = F.lit(None).cast("string")
    for cond, label in reversed(reasons):
        reason = F.when(cond, F.lit(label)).otherwise(reason)
    return scored.select(
        "doc_id",
        "n_tokens",
        "mean_token_len",
        "ttr",
        "stopword_ratio",
        "lang_predicted",
        reason.isNull().alias("kept"),
        reason.alias("reject_reason"),
    )


def simhash_near_dup_pairs(
    documents: DataFrame,
    bits: int = 60,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole banding.

    The ``bits``-bit fingerprint splits into ``n_bands`` equal bands; two
    fingerprints within hamming distance ``max_hamming`` < n_bands must
    agree on at least one whole band (pigeonhole), so the candidate join is
    an equi-join on (band index, band value) — never all-pairs.  Candidates
    are then verified with an exact popcount on the XOR.

    Scale shape: shuffle carries (doc_id, band, value) triples — 24 bytes a
    row; fan-out is governed by band-value collision rates.  The default
    60-bit/4-band split gives 15-bit band values (32768 per band): on a
    large corpus, bucket population — and the quadratic within-bucket
    self-join — is ~128× smaller per band than the 8-bit bands a 32-bit
    fingerprint would force.  Precision also rises: random unrelated
    fingerprints at 60 bits sit ~30 bits apart, so hamming ≤ 3 false
    positives (the birthday-collision pairs a 32-bit fingerprint admits)
    vanish.  Returns (doc_a, doc_b, hamming) with doc_a < doc_b.
    """
    # materialize fingerprints behind a NARROW exchange (16-byte
    # (doc_id, simhash) rows) before banding: the per-bit-majority
    # expression is built from higher-order lambdas, which evaluate
    # interpreted (outside codegen), and projection collapse would inline
    # it into the band explode — re-evaluating it per banded row.  The
    # early exchange makes it run exactly once per document; measured
    # 9.6× faster at sf0.1 for identical pairs.  At scale the extra
    # shuffle is 16 bytes/doc — noise next to the (band, val) exchange.
    sh = simhash64(documents, bits).repartition("doc_id")
    return banded_hamming_pairs(sh, bits=bits, n_bands=n_bands, max_hamming=max_hamming)


def banded_hamming_pairs(
    fingerprints: DataFrame,
    bits: int = 60,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Pigeonhole banding core over a ``(doc_id, simhash)`` frame — the
    candidate-join + exact-popcount verification of
    :func:`simhash_near_dup_pairs`, factored out so the pigeonhole
    guarantee (recall = 1.0 below ``n_bands``) is property-testable on
    PLANTED fingerprints, independent of the text→fingerprint step.
    """
    assert max_hamming < n_bands, "pigeonhole needs max_hamming < n_bands"
    assert bits % n_bands == 0, "bands must divide the fingerprint evenly"
    width = bits // n_bands
    sh = fingerprints
    bands = (
        sh.selectExpr(
            "doc_id", "simhash", f"explode(sequence(0, {n_bands - 1})) AS band"
        )
        .selectExpr(
            "doc_id",
            "simhash",
            "band",
            f"(simhash >> (band * {width})) & {(1 << width) - 1} AS val",
        )
        # materialize ONE shuffle on the join key: both self-join sides hang
        # off the same exchange (ReusedExchange)
        .repartition("band", "val")
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "band", "val"
    )
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.expr("bit_count(sh_a ^ sh_b)").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.2,
    id_limit: int = 500,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs — the brute-force baseline the
    LSH path approximates.  Quadratic by construction, so callers bound the
    candidate universe (``doc_id < id_limit``); at scale this runs on LSH
    survivors, not the corpus.  Returns (doc_a, doc_b, jaccard) above
    ``threshold`` with doc_a < doc_b.
    """
    sh = shingle_hashes(documents.filter(F.col("doc_id") < id_limit), k)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter("size(sh_a) + size(sh_b) > 0")  # see lsh_candidate_pairs
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / "
            "(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b))) AS jaccard",
        )
        .filter(F.col("jaccard") > threshold)
    )


def lsh_candidate_pairs(
    documents: DataFrame,
    num_perm: int = 16,
    band_size: int = 2,
    k: int = 3,
    sh: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup candidates with exact Jaccard verification.

    1. signatures → bands of ``band_size`` rows hashed together;
    2. docs sharing any band bucket become candidate pairs (the ONLY
       all-to-all step — and it joins on band hash, never on content);
    3. exact Jaccard on the candidates' distinct-shingle sets.

    Scale shape: the band join's fan-out is controlled by band collision
    probability, not corpus size²; the verify join touches only candidate
    shingle sets.  Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    # ONE shingle computation feeds signatures AND verification: the
    # repartition materializes an exchange every downstream consumer —
    # signature derivation, both verify-join sides — reuses instead of
    # recomputing the (expensive) tokenize→shingle→hash projection.
    # Callers orchestrating multiple shingle consumers pass `sh` in.
    if sh is None:
        sh = shingle_hashes(documents, k).repartition("doc_id")
    # band buckets computed row-locally from the shingle sets (bit-identical
    # bucket strings, no stack + groupBy(doc_id, band) exchange)
    bands = (
        _band_bucket_rows(sh, num_perm, band_size)
        # shared exchange: both self-join sides reuse one banding pass
        .repartition("bucket")
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "bucket")
    b = bands.select(F.col("doc_id").alias("doc_b"), "bucket")
    cands = (
        a.join(b, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(sha, "doc_a")
        .join(shb, "doc_b")
        # empty∪empty pairs (shingle-less docs) have no defined Jaccard and
        # would divide by zero under ANSI; they are exact-dedup territory
        .filter("size(sh_a) + size(sh_b) > 0")
        .selectExpr(
            "doc_a",
            "doc_b",
            # arrays are distinct ⇒ |A∪B| = |A| + |B| - |A∩B| (portable count)
            "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / "
            "(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b))) AS jaccard",
        )
    )


def lsh_signature_store(
    documents: DataFrame,
    num_perm: int = 16,
    band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """The persisted side of incremental near-dup: one row per document
    with its distinct shingle hashes and LSH band-bucket keys.

    This is what you write to parquet once per corpus snapshot —
    signatures are computed exactly once, and every future batch joins
    against this table instead of re-shingling 100 TB of text.
    Schema: (doc_id, sh, buckets).

    Plan shape: the SAME long-form signature → band aggregation dataflow
    as ``lsh_candidate_pairs`` (known-good at scale), finished with a
    per-doc collect of the 8 bucket keys and a join back to the shingle
    sets over a shared repartition exchange.  An earlier one-projection
    variant (every bucket key re-inlining its band's minhash lambdas)
    collapsed into a single giant projection that fell out of whole-stage
    codegen and ran >100× slower — deliberately avoided; keep the
    signature computation in the narrow per-permutation form.

    Bucket keys match ``lsh_candidate_pairs`` exactly (band index + the
    order-insensitive lo/hi/sum combo of the band's minhashes), so a store
    built today keeps matching batches hashed tomorrow — portability of
    the md5/HEX60 pipeline (module docstring) is what makes it durable.
    """
    sh, bands = _lsh_bands_long(documents, num_perm, band_size, k)
    buckets = bands.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("bucket")).alias("buckets")
    )
    # both sides hang off the same repartition exchange → zero-exchange join
    return sh.join(buckets, "doc_id")


def _lsh_bands_long(
    documents: DataFrame, num_perm: int, band_size: int, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared signature dataflow: (shingle sets, long-form band buckets),
    both downstream of ONE repartition exchange so every consumer reuses
    a single shingle computation."""
    sh = shingle_hashes(documents, k).repartition("doc_id")
    # band buckets computed row-locally from the shingle sets (bit-identical
    # bucket strings, no stack + groupBy(doc_id, band) exchange)
    bands = _band_bucket_rows(sh, num_perm, band_size)
    return sh, bands


def lsh_incremental_pairs(
    new_documents: DataFrame,
    store: DataFrame,
    num_perm: int = 16,
    band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an existing corpus whose
    signatures live in a ``lsh_signature_store`` table — the incremental
    shape of ``lsh_candidate_pairs``.

    Scale contract: the store is NEVER shuffled.  The new batch (small by
    assumption — a day's ingest vs a 100 TB corpus) is signature-hashed
    row-locally and BROADCAST twice: exploded bucket keys into the store's
    bucket scan, then verified candidates into the store's shingle fetch.
    Both store passes are plain scans; with a parquet-backed store the
    bucket pass prunes to (doc_id, buckets) by column projection.

    Returns (doc_a, doc_b, jaccard): doc_a from the corpus, doc_b from the
    batch.  Within-batch duplicates are ``lsh_candidate_pairs`` on the
    batch alone; exact re-ingests are ``dedup_incremental`` territory.
    """
    new_sh, new_bands = _lsh_bands_long(new_documents, num_perm, band_size, k)
    new_buckets = new_bands.selectExpr("doc_id AS doc_b", "bucket")
    store_buckets = store.selectExpr(
        "doc_id AS doc_a", "explode(buckets) AS bucket"
    )
    cands = (
        store_buckets.join(F.broadcast(new_buckets), "bucket")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verify: fetch corpus shingles by broadcasting the (small) candidate
    # set into a second store scan; batch shingles broadcast as well
    sha = store.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = new_sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        sha.join(F.broadcast(cands), "doc_a")
        .join(F.broadcast(shb), "doc_b")
        .filter("size(sh_a) + size(sh_b) > 0")
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / "
            "(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b))) AS jaccard",
        )
    )


def repetition_scores(documents: DataFrame, k: int = 3) -> DataFrame:
    """Intra-document repetition signals (the Gopher/C4 quality family):
    fraction of duplicated k-token shingles and of duplicated tokens.

    A doc whose text loops ("buy now buy now buy now…") has few distinct
    shingles relative to total — high ``dup_shingle_frac``.  Row-local
    higher-order expressions, no shuffle; NULL fractions for docs shorter
    than one shingle/token (0/0 is undefined, not clean).
    """
    toks = TOKENS
    return documents.selectExpr("doc_id", f"{toks} AS t").selectExpr(
        "doc_id", "t", f"{_shingle_expr(k)} AS sg"
    ).selectExpr(
        "doc_id",
        "CAST(size(t) AS BIGINT) AS n_tokens",
        "CAST(size(sg) AS BIGINT) AS n_shingles",
        "CASE WHEN size(t) > 0 THEN "
        "1.0 - CAST(size(array_distinct(t)) AS DOUBLE) / size(t) END AS dup_token_frac",
        "CASE WHEN size(sg) > 0 THEN "
        "1.0 - CAST(size(array_distinct(sg)) AS DOUBLE) / size(sg) END AS dup_shingle_frac",
    )


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    k-token shingle with an evaluation/benchmark set.

    The standard LLM-training hygiene pass (an eval question leaking into
    the corpus inflates scores).  Scale shape: the benchmark side is tiny
    (thousands of eval docs vs a 100 TB corpus) — its distinct shingle
    hashes are BROADCAST, the corpus side explodes shingles row-locally
    and probes the broadcast set, and the only shuffle is the per-doc
    match count.  The corpus text never moves.

    Returns every document with ``n_overlap`` (distinct contaminated
    shingles) and a ``contaminated`` verdict; filter ``NOT contaminated``
    for the clean corpus.
    """
    # Explode the raw shingle STRINGS, then hash per exploded row.  The
    # array-of-hashes form (shingle_hashes → explode(sh)) re-evaluates the
    # whole nested tokenize→shingle→md5 HOF expression per OUTPUT row —
    # higher-order lambdas don't participate in codegen subexpression
    # elimination, measured 66× slower on the sf0.1 corpus.  Hashing after
    # the explode is a plain row expression, evaluated exactly once per
    # shingle.  countDistinct keeps the per-doc distinct-hash semantics of
    # the array_distinct it replaces.
    def _shingle_rows(df: DataFrame) -> DataFrame:
        # explode_OUTER + null filter: plain explode gets an inferred
        # size()>0 filter that inlines the shingle HOF two extra times per
        # document (see prefix_filter_jaccard_pairs)
        return (
            df.selectExpr("doc_id", f"{TOKENS} AS t")
            .selectExpr(
                "doc_id", f"explode_outer(array_distinct({_shingle_expr(k)})) AS s"
            )
            .filter("s IS NOT NULL")
            .selectExpr("doc_id", f"{hex60('s')} % {MERSENNE31} AS h")
        )

    bench_hashes = _shingle_rows(benchmark).select("h").distinct()
    doc_hits = (
        _shingle_rows(documents)
        .join(F.broadcast(bench_hashes), "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.countDistinct("h").cast("long").alias("n_overlap"))
    )
    return (
        documents.select("doc_id")
        .join(doc_hits, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "coalesce(n_overlap, 0) AS n_overlap",
            "coalesce(n_overlap, 0) > 0 AS contaminated",
        )
    )


def vocab_growth_curve(documents: DataFrame, n_bins: int = 10) -> DataFrame:
    """Heaps-law diagnostic: cumulative token count vs cumulative
    DISTINCT-type count over an id-ordered prefix sweep of the corpus —
    the curve that answers 'is this corpus still contributing new
    vocabulary, or are further shards redundant?' (types ≈ K·tokens^β;
    a flattening curve says the marginal shard adds occurrences, not
    words — a data-collection stopping signal).

    Prefixes are ``n_bins`` uniform doc_id-RANGE bins (deterministic and
    shuffle-free — no global ordering window over the corpus; the curve
    semantics only need a fixed, reproducible sweep order).  Each
    distinct word contributes its FIRST bin (min over its docs), so both
    shuffles move (word|bin) rows; the cumulative fold runs over the
    n_bins-row summary frame, never the corpus.

    Returns (bin, n_tokens_cum, n_types_cum, type_token_ratio),
    bin 1-based."""
    from pyspark.sql import Window

    ids = documents.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    binned = documents.crossJoin(F.broadcast(ids)).selectExpr(
        "doc_id",
        f"least(CAST({int(n_bins)} AS BIGINT), "
        f"floor((doc_id - lo) * {int(n_bins)} / (hi - lo + 1)) + 1) AS bin",
        f"{TOKENS} AS toks",
    )
    words = binned.selectExpr(
        "bin", "explode_outer(toks) AS word"
    ).filter("word IS NOT NULL AND word != ''")
    tok_per_bin = words.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    new_types = (
        words.groupBy("word")
        .agg(F.min("bin").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_types"))
    )
    per_bin = tok_per_bin.join(new_types, "bin", "left").selectExpr(
        "bin",
        "n_tokens",
        "coalesce(n_new_types, CAST(0 AS BIGINT)) AS n_new_types",
    )
    # cumulative fold over the n_bins-row summary — bounded frame
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    return per_bin.select(
        F.col("bin").cast("int").alias("bin"),
        F.sum("n_tokens").over(w).cast("long").alias("n_tokens_cum"),
        F.sum("n_new_types").over(w).cast("long").alias("n_types_cum"),
    ).selectExpr(
        "bin",
        "n_tokens_cum",
        "n_types_cum",
        "CAST(n_types_cum AS DOUBLE) / n_tokens_cum AS type_token_ratio",
    )


def bigram_frequencies(documents: DataFrame, top_k: int = 100) -> DataFrame:
    """Corpus bigram counts (n-gram LM statistics): global occurrence and
    document frequency per token pair, deterministic top-k.

    Same scale shape as :func:`token_frequencies` — the 2-gram projection
    is row-local (zip of the token array with its own tail, no
    self-join), the exploded pairs partial-aggregate map-side, and the
    shuffle carries bigram-vocabulary cardinality, not corpus size.
    """
    bigram = (
        "CASE WHEN size(t) < 2 THEN array() "
        "ELSE transform(sequence(1, size(t) - 1), "
        "i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1))) END"
    )
    pairs = documents.selectExpr("doc_id", f"{TOKENS} AS t").selectExpr(
        "doc_id", f"explode({bigram}) AS bigram"
    )
    counts = pairs.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("doc_frequency"),
    )
    return counts.orderBy(
        F.col("n_occurrences").desc(), F.col("bigram").asc()
    ).limit(top_k)


def lsh_store_merge(
    store: DataFrame,
    new_documents: DataFrame,
    num_perm: int = 16,
    band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """Fold a processed batch into the signature store: existing rows pass
    through untouched (their signatures are never recomputed — the whole
    point of persisting them), new docs are signature-hashed once and
    appended; on doc_id collision the NEW row wins (re-ingest semantics).

    The anti-join ships only doc_ids against the batch's (small) id set —
    broadcast — so merging a daily batch into a 100 TB store is a scan +
    append, not a rebuild.  Write the result back with
    ``store.write_bucketed`` on doc_id to keep future merges and
    incremental joins exchange-free.
    """
    batch = lsh_signature_store(new_documents, num_perm, band_size, k)
    new_ids = new_documents.select("doc_id")
    survivors = store.join(F.broadcast(new_ids), "doc_id", "left_anti")
    return survivors.unionByName(batch)


def write_lsh_store(
    documents: DataFrame,
    path: str,
    num_perm: int = 16,
    band_size: int = 2,
    k: int = 3,
) -> None:
    """Persist the :func:`lsh_signature_store` table — the path-managed
    form of the signature store, with the same lifecycle discipline as
    every other store (single-writer lease; each write commits an
    immutable ``vNNNNNNNN`` snapshot, so a reader mid-scan is isolated
    from a concurrent merge's rewrite)."""
    from admira_etl_project_prueba_spark.functions.fs import fold_whole_store

    fold_whole_store(
        documents.sparkSession,
        path,
        lambda prev: lsh_signature_store(documents, num_perm, band_size, k),
        coalesce1=False,
    )


def merge_lsh_store(
    spark,
    path: str,
    new_documents: DataFrame,
    num_perm: int = 16,
    band_size: int = 2,
    k: int = 3,
) -> None:
    """Fold a new batch into the PERSISTED signature store
    (:func:`lsh_store_merge` semantics: existing signatures never
    recomputed, new-wins on doc_id collision).  The merged table commits
    as the next snapshot — the batch-vs-store anti-join is broadcast, so
    the only store-sized cost is the rewrite itself."""
    from admira_etl_project_prueba_spark.functions.fs import fold_whole_store

    def build(old):
        if old is None:
            return lsh_signature_store(new_documents, num_perm, band_size, k)
        return lsh_store_merge(old, new_documents, num_perm, band_size, k)

    fold_whole_store(spark, path, build, coalesce1=False)


def read_lsh_store(spark, path: str) -> DataFrame:
    """The current signature-store snapshot (version resolved once at
    scan start) — feed to
    :func:`lsh_incremental_pairs`."""
    return spark.read.parquet(resolve_store_root(spark, path))


def lsh_incremental_pairs_from_store(
    spark,
    new_documents: DataFrame,
    path: str,
    num_perm: int = 16,
    band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """:func:`lsh_incremental_pairs` against the persisted store — the
    serving wrapper that pins snapshot resolution to scan start."""
    return lsh_incremental_pairs(
        new_documents, read_lsh_store(spark, path), num_perm, band_size, k
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: redaction patterns — deliberately simple constructs (char classes,
#: bounded repetition, non-capturing groups) that behave identically under
#: Java regex (Spark) and RE2 (DuckDB), so the operator stays oracle-checkable.
#: Phone recall contract: +-prefixed international numbers with 7–15 digits
#: and up to two separator chars ``-. ()`` between digits (covers
#: "+34 600 12 34 56", "+1 (415) 555-0100").  NOT compliance-grade
#: detection: national formats without a country prefix ("555-0100",
#: "06 12 34 56 78") are indistinguishable from ordinary numbers by regex
#: and are deliberately out of scope — treat this as corpus hygiene, not a
#: DLP guarantee.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ("ipv4", "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"),
    ("phone", "\\+\\d(?:[-. ()]{0,2}\\d){6,14}"),
)


def redact_pii(documents: DataFrame) -> DataFrame:
    """Scrub personally identifiable information from a training corpus.

    Standard pre-training hygiene (the reference has no text layer; this is
    a beyond-reference data-pipeline op): emails, IPv4 addresses and
    international phone numbers are replaced with typed placeholder tokens
    (``<EMAIL>`` …) and counted per document.  Counting runs on the
    ORIGINAL text (before any rewrite can destroy or create matches) and
    patterns are applied in a fixed order — email first, since an address
    contains dot-separated digit runs an IP pattern could otherwise eat.

    Pure row-local projection: regexp over each row, no shuffle, no UDF —
    scales linearly and stays inside whole-stage codegen.
    """
    # Column API (not selectExpr) so the regexes need no SQL-literal
    # backslash re-escaping — the Python string IS the pattern.
    counts = [
        F.regexp_count(F.col("text"), F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat in PII_PATTERNS
    ]
    total = None
    for name, pat in PII_PATTERNS:
        c = F.regexp_count(F.col("text"), F.lit(pat)).cast("long")
        total = c if total is None else total + c
    redacted = F.col("text")
    for name, pat in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return documents.select(
        "doc_id",
        *counts,
        total.alias("n_pii"),
        redacted.alias("text_redacted"),
    )


# ---------------------------------------------------------------------------
# line-level dedup (CCNet-style)
# ---------------------------------------------------------------------------

def line_dedup_stats(
    documents: DataFrame,
    segment_tokens: int | None = None,
) -> DataFrame:
    """CCNet-style line-level duplication profile: for every document, how
    many of its lines also appear (verbatim, after lower/trim token
    normalization when segmenting) in OTHER documents.

    Boilerplate — nav bars, cookie banners, footers — repeats across pages
    of a site; per-line corpus-frequency is the classic signal for
    stripping it.  ``segment_tokens=None`` splits on newlines (real
    multi-line corpora); an integer segments each document into fixed
    k-token pseudo-lines (used for single-line test corpora, and the same
    shape as fixed-stride span dedup).

    Scale shape: lines explode row-locally and are immediately reduced to
    60-bit hashes, so every shuffle moves (hash, doc_id[, count]) tuples —
    never text — and the projection is consumed ONCE.  Three map-side-
    combinable aggregations: (h, doc_id) line counts; distinct-doc count
    per h over that already-unique frame; per-doc totals.  The only join
    (flagging each (h, doc_id) row with its line's corpus-wide dup bit)
    is h-keyed and AQE-skew-splittable — unlike a count-over-h window,
    which would pin a viral boilerplate line's every (h, doc_id) row to
    one unsplittable task.  Measured at sf0.1: 0.77 s vs 1.06 s for the
    previous repartition+semi-join shape (identical output).  Returns
    ``doc_id, n_lines, n_dup_lines, dup_line_fraction``.
    """
    if segment_tokens is None:
        # explode_OUTER: dodge the inferred size()>0 filter that would
        # re-split the text twice per doc (see prefix_filter_jaccard_pairs)
        exploded = documents.selectExpr(
            "doc_id", "explode_outer(split(text, '\\n')) AS line"
        ).filter("line IS NOT NULL")
    else:
        k = int(segment_tokens)
        # guard: sequence(0, -1) is a DESCENDING range in Spark, so an
        # empty token array must short-circuit to array() explicitly.
        # Explode the segment INDEX and slice per exploded row — exploding
        # a transform()-built array of segment strings re-evaluates the
        # whole higher-order segmentation expression per output row
        # (lambdas sit outside codegen subexpression elimination);
        # measured 10× slower at sf0.1 for identical output.
        exploded = (
            documents.selectExpr("doc_id", f"{TOKENS} AS t")
            .selectExpr(
                "doc_id",
                "t",
                "explode_outer(CASE WHEN size(t) = 0 THEN array() "
                f"ELSE sequence(0, CAST(ceil(size(t) / {k}.0) AS INT) - 1) END) AS i",
            )
            .filter("i IS NOT NULL")
            .selectExpr("doc_id", f"array_join(slice(t, i * {k} + 1, {k}), ' ') AS line")
        )
    lines = exploded.selectExpr("doc_id", f"{hex60('line')} AS h")
    # (h, doc_id) keys spread a viral line across partitions (doc_id
    # varies), so the first reduction is skew-immune; `per` is then
    # UNIQUE on (h, doc_id), which makes n_docs a plain combinable count
    per = lines.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("c"))
    nd = per.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    flagged = per.join(
        nd.filter("n_docs > 1").select("h", F.lit(1).alias("dup")), "h", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_lines"),
            F.sum(F.when(F.col("dup").isNotNull(), F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_dup_lines"),
        )
        .selectExpr(
            "doc_id",
            "n_lines",
            "n_dup_lines",
            "CAST(n_dup_lines AS DOUBLE) / n_lines AS dup_line_fraction",
        )
    )


def _dup_span_hits(documents: DataFrame, n: int, min_docs: int) -> DataFrame:
    """(doc_id, pos) of every n-token span occurring in ≥min_docs distinct
    documents — the shared core of the span-dedup profile/removal pair.

    Start POSITIONS are exploded and the shingle is built per exploded row
    (a plain row expression) — exploding a transform()-built shingle array
    would re-run the higher-order lambda per output row, the measured
    10-66× interpreted-HOF trap documented at line_dedup_stats /
    decontaminate.  Both shuffles (distinct-doc count per hash; hit
    semi-join) move 60-bit hashes and int positions, never text.
    """
    parts = ", ".join(f"element_at(t, pos + {d})" for d in range(n))
    # explode_OUTER: plain explode makes the optimizer infer a size()>0
    # filter that inlines the tokenizer two extra times per document below
    # the exchange (see prefix_filter_jaccard_pairs); outer generates are
    # exempt, and the null rows are dropped by a cheap post-filter.
    pos_hashes = (
        documents.selectExpr("doc_id", f"{TOKENS} AS t")
        .selectExpr(
            "doc_id",
            "t",
            f"explode_outer(CASE WHEN size(t) < {n} THEN array() "
            f"ELSE sequence(1, size(t) - {n - 1}) END) AS pos",
        )
        .filter("pos IS NOT NULL")
        .selectExpr("doc_id", "pos", f"{hex60(f'''concat_ws(' ', {parts})''')} AS h")
    )
    if int(min_docs) == 2:
        # ≥2 distinct docs ⇔ min(doc_id) ≠ max(doc_id) within the hash —
        # ONE exchange on h and ONE tokenize pass, where the aggregate +
        # semi-join shape scans and re-tokenizes the corpus twice
        # (Catalyst has no cross-branch CSE).  Measured 3.3× faster at
        # sf0.1, bit-identical hit set (oracle-gated).  min_docs=2 is the
        # span-dedup default; the general path below stays for the rest.
        from pyspark.sql import Window as _W

        w = _W.partitionBy("h")
        return (
            pos_hashes.withColumn("_mn", F.min("doc_id").over(w))
            .withColumn("_mx", F.max("doc_id").over(w))
            .filter(F.col("_mn") != F.col("_mx"))
            .select("doc_id", "pos")
        )
    # general min_docs: two consumers of pos_hashes — materialize once
    # (lazy checkpoint, narrow rows) instead of re-tokenizing per branch
    # (measured 1.8× at sf0.1)
    pos_hashes = pos_hashes.localCheckpoint(eager=False)
    dup_hashes = (
        pos_hashes.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h")
    )
    return pos_hashes.join(dup_hashes, "h", "left_semi").select("doc_id", "pos")


def repeated_ngram_spans(
    documents: DataFrame,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring (repeated-span) duplication profile: for every
    document, how much of it is covered by n-token spans that also occur
    verbatim in at least ``min_docs - 1`` OTHER documents.

    This is the substring-level dedup family (suffix-array dedup à la
    "Deduplicating Training Data Makes Language Models Better"): document-
    level MinHash/SimHash misses a boilerplate paragraph pasted into
    thousands of otherwise-distinct pages, while span-level coverage
    catches exactly that.  A suffix array is a sequential construction;
    the Spark-first equivalent is positional n-gram hashing — same
    duplicated-span signal, embarrassingly parallel.

    Scale shape: positional shingles explode row-locally and are reduced
    to 60-bit hashes immediately, so BOTH shuffles move only narrow rows —
    (hash) for the corpus-wide distinct-doc count, (hash, doc_id, pos) for
    the hit join; document text never leaves the scan.  Per-doc coverage
    is an interval union done with one LEAD window over (doc_id, pos) —
    the window repartitions by doc_id, no global ordering anywhere.

    Returns ``doc_id, n_tokens, n_dup_ngrams, covered_tokens,
    dup_coverage_frac`` for every input document (zero-covered docs
    included; docs shorter than n tokens have coverage 0).
    """
    from pyspark.sql import Window

    hits = _dup_span_hits(documents, n, min_docs)
    # interval union of [pos, pos+n-1] spans: sorted by pos, each span
    # contributes min(n, next_pos - pos) fresh tokens (n for the last).
    w = Window.partitionBy("doc_id").orderBy("pos")
    cov = (
        hits.withColumn("nxt", F.lead("pos").over(w))
        .withColumn(
            "fresh",
            F.least(F.lit(n), F.coalesce(F.col("nxt") - F.col("pos"), F.lit(n))),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_ngrams"),
            F.sum("fresh").cast("long").alias("covered_tokens"),
        )
    )
    base = documents.selectExpr("doc_id", f"CAST(size({TOKENS}) AS BIGINT) AS n_tokens")
    return base.join(cov, "doc_id", "left").selectExpr(
        "doc_id",
        "n_tokens",
        "coalesce(n_dup_ngrams, CAST(0 AS BIGINT)) AS n_dup_ngrams",
        "coalesce(covered_tokens, CAST(0 AS BIGINT)) AS covered_tokens",
        "CASE WHEN n_tokens > 0 THEN "
        "CAST(coalesce(covered_tokens, 0) AS DOUBLE) / n_tokens END AS dup_coverage_frac",
    )


def remove_repeated_spans(
    documents: DataFrame,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The span-dedup ACTION: rewrite each document with every token that
    sits inside a cross-document duplicated n-gram removed (the profile
    twin is :func:`repeated_ngram_spans`).

    Scale shape: the duplicated-span hit set is computed hash-side
    (see ``_dup_span_hits``), reduced to ONE sorted start-position array
    per affected document, and joined back — so the rewrite itself is
    row-local: a two-arg ``transform`` tags each token with its 1-based
    position, ``exists`` probes the doc's own start array, ``concat_ws``
    rebuilds the text.  Per-doc cost is O(tokens × dup_starts); dup_starts
    is bounded by doc length, and for boilerplate-style duplication it is
    a handful of intervals.  Documents with no duplicated spans pass
    through byte-identical.

    Returns ``doc_id, n_tokens, n_removed_tokens, text_clean`` for every
    input document.
    """
    starts = (
        _dup_span_hits(documents, n, min_docs)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("starts"))
    )
    return (
        documents.selectExpr("doc_id", f"{TOKENS} AS t")
        .join(starts, "doc_id", "left")
        .selectExpr("doc_id", "t", "coalesce(starts, array()) AS s")
        .selectExpr(
            "doc_id",
            "CAST(size(t) AS BIGINT) AS n_tokens",
            "filter(transform(t, (tok, i) -> struct(tok AS tok, i + 1 AS p)), "
            f"x -> NOT exists(s, st -> x.p >= st AND x.p <= st + {n - 1})) AS kept",
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "n_tokens - CAST(size(kept) AS BIGINT) AS n_removed_tokens",
            "concat_ws(' ', transform(kept, x -> x.tok)) AS text_clean",
        )
    )


# ---------------------------------------------------------------------------
# fuzzy vocabulary matching
# ---------------------------------------------------------------------------

def token_typo_pairs(documents: DataFrame, max_distance: int = 1) -> DataFrame:
    """Near-identical vocabulary pairs (typo candidates): distinct corpus
    tokens within ``max_distance`` Levenshtein edits of each other.

    The naive formulation is an O(V²) cross join over the vocabulary.
    This one BLOCKS first: a candidate pair must share its first
    character OR its last character (a single edit can destroy one of
    them, never both for distance 1), and token lengths may differ by at
    most ``max_distance`` — so the join is equi-keyed on the block key
    and the quadratic blowup is per-block, not global.  Vocabulary is a
    distinct-aggregate of the corpus (tiny vs the corpus itself), and
    each side ships only (token, n_occurrences).

    Only ``max_distance=1`` is supported: the first-OR-last-char blocking
    is complete for a single edit (one edit can destroy one end, never
    both) but NOT for two or more — two edits can change both ends, so a
    distance-2 pair may share neither block key and would be silently
    dropped.  Supporting larger distances needs a different blocking
    (length-prefix partitions or deletion-neighborhood keys); until then
    asking for it is an error, not a recall leak.

    Returns (token_a, token_b, distance, n_a, n_b) with token_a <
    token_b; downstream spell-normalization maps the rarer to the
    commoner spelling.
    """
    if max_distance != 1:
        raise ValueError(
            "token_typo_pairs: first/last-char blocking is only complete "
            f"for max_distance=1 (got {max_distance}); a distance-"
            f"{max_distance} pair can differ at both ends and would be "
            "silently missed"
        )
    vocab = (
        documents.selectExpr(
            "doc_id", f"explode_outer(array_distinct({TOKENS})) AS token"
        )
        .filter("token IS NOT NULL")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .localCheckpoint(eager=False)  # tiny; probed twice below
    )
    # block keys: ('F', first char) and ('L', last char); distance-1 pairs
    # share at least one, so the union of both blockings is complete
    blocked = vocab.selectExpr(
        "token", "n_docs",
        "explode(array(concat('F', left(token, 1)), "
        "concat('L', right(token, 1)))) AS blk",
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (
        a.join(b, "blk")
        .filter(F.col("a.token") < F.col("b.token"))
        .filter(
            F.abs(F.length("a.token") - F.length("b.token")) <= max_distance
        )
        .filter(F.levenshtein(F.col("a.token"), F.col("b.token")) <= max_distance)
        .select(
            F.col("a.token").alias("token_a"),
            F.col("b.token").alias("token_b"),
            F.levenshtein(F.col("a.token"), F.col("b.token")).alias("distance"),
            F.col("a.n_docs").alias("n_a"),
            F.col("b.n_docs").alias("n_b"),
        )
        .distinct()  # a pair can match under both F- and L-blocks
    )
    return pairs

def contamination_scores(
    documents: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
) -> DataFrame:
    """Fractional benchmark-contamination scores: for each training document,
    the FRACTION of its distinct k-token shingles that also appear in the
    evaluation/benchmark set — the graded companion to the boolean
    ``decontaminate`` verdict (thresholding policy belongs to the caller:
    drop at >0.8, down-weight at >0.2, etc.).

    Scale shape is identical to ``decontaminate``: the benchmark side's
    distinct shingle hashes are BROADCAST; the corpus side explodes its
    shingles row-locally, probes the broadcast set as a left join, and ONE
    aggregation computes both the per-doc shingle count and the overlap
    count — the corpus is scanned exactly once and its text never shuffles.

    Returns (doc_id, n_shingles, n_overlap, contamination_frac); docs too
    short to have a k-shingle score 0.0.
    """
    def _shingle_rows(df: DataFrame) -> DataFrame:
        # row-level hashing after the explode — HOF lambdas skip codegen
        # subexpression elimination (see decontaminate); explode_OUTER to
        # dodge the inferred-filter HOF duplication (see
        # prefix_filter_jaccard_pairs)
        return (
            df.selectExpr("doc_id", f"{TOKENS} AS t")
            .selectExpr(
                "doc_id", f"explode_outer(array_distinct({_shingle_expr(k)})) AS s"
            )
            .filter("s IS NOT NULL")
            .selectExpr("doc_id", f"{hex60('s')} % {MERSENNE31} AS h")
        )

    bench_hashes = (
        _shingle_rows(benchmark).select("h").distinct().withColumn("hit", F.lit(1))
    )
    per_doc = (
        _shingle_rows(documents)
        .join(F.broadcast(bench_hashes), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_overlap"),
        )
    )
    return (
        documents.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "coalesce(n_shingles, 0) AS n_shingles",
            "coalesce(n_overlap, 0) AS n_overlap",
            "CASE WHEN coalesce(n_shingles, 0) = 0 THEN 0.0 "
            "ELSE CAST(n_overlap AS DOUBLE) / n_shingles END AS contamination_frac",
        )
    )


def sorted_neighborhood_pairs(
    documents: DataFrame,
    window: int = 2,
    k: int = 3,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs (Hernández & Stolfo's classic
    entity-resolution blocking): records sorted by a normalized key are
    compared only against their next ``window`` neighbors in sort order.

    Distributed shape: the sort key's FIRST CHARACTER is the block; rows
    hash-partition by block and the neighbor window runs per block — no
    global sort, no SinglePartition exchange, blocks proceed in parallel.
    (Pairs that straddle a block boundary are not generated; that is the
    standard recall trade-off of blocked SNM and is documented here rather
    than hidden.)  Each candidate pair is then verified with an exact
    Jaccard over k-shingle sets, so precision is exact; only recall
    depends on the blocking.

    Returns (doc_a, doc_b, block, jaccard) with doc_a < doc_b.
    """
    from pyspark.sql import Window as W

    keyed = documents.selectExpr(
        "doc_id",
        "regexp_replace(lower(trim(text)), '\\\\s+', ' ') AS sortkey",
    ).selectExpr("doc_id", "sortkey", "substring(sortkey, 1, 1) AS block")
    w = W.partitionBy("block").orderBy("sortkey", "doc_id")
    # one window pass computes all `window` leads (generators can't host
    # window expressions, so the explode is a separate projection)
    leads = (
        keyed.select(
            "block",
            F.col("doc_id").alias("doc_l"),
            F.array(
                *[F.lead("doc_id", d).over(w) for d in range(1, window + 1)]
            ).alias("nbrs"),
        )
        .select("block", "doc_l", F.explode("nbrs").alias("doc_r"))
        .filter(F.col("doc_r").isNotNull())
    )
    cands = leads.selectExpr(
        "block",
        "least(doc_l, doc_r) AS doc_a",
        "greatest(doc_l, doc_r) AS doc_b",
    ).distinct()
    sh = shingle_hashes(documents, k)
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(sha, "doc_a")
        .join(shb, "doc_b")
        .filter("size(sh_a) + size(sh_b) > 0")
        .selectExpr(
            "doc_a",
            "doc_b",
            "block",
            "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / "
            "(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b))) AS jaccard",
        )
    )


def prefix_filter_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    sh: DataFrame | None = None,
) -> DataFrame:
    """EXACT Jaccard similarity self-join via prefix filtering (AllPairs /
    PPJoin family, Bayardo et al. 2007) — every pair with shingle-Jaccard
    ≥ ``threshold``, with NO all-pairs comparison and NO LSH approximation.

    Prefix-filtering principle: order each doc's shingle set by ascending
    global document frequency (rarest first, ties by hash); if
    J(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, so B must hit A's first
    |A| − ⌈t·|A|⌉ + 1 shingles (pigeonhole).  Candidates are therefore an
    equi-join on PREFIX shingles only — the rarest tokens, so the join
    fan-out is bounded by the frequency skew, not corpus².  Exact Jaccard
    verification then makes the output identical to brute force.

    Scale shape: one groupBy for global shingle frequencies, one window
    rank per doc (partitioned by doc_id), an equi-join on prefix hashes,
    and a verify join over candidates only.  The candidate join applies
    PPJoin's two extra prunes BEFORE the distinct/verify (measured 5.7×
    end-to-end at sf0.1, 409k → 28k candidates):
    * length filter: J ≥ t ⇒ t·|A| ≤ |B| ≤ |A|/t — joined pairs outside
      the size band can't qualify;
    * positional filter: a pair whose FIRST shared prefix token sits at
      ranks (rk_a, rk_b) has overlap ≤ 1 + min(|A|−rk_a, |B|−rk_b); if
      that upper bound misses ⌈t/(1+t)·(|A|+|B|)⌉ the row is pruned.  A
      qualifying pair always survives via its first-shared-token row, so
      the prune never loses recall.
    Compare ``lsh_candidate_pairs`` (probabilistic recall, cheaper) —
    this is the exact-recall path.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ t.
    """
    from pyspark.sql import Window as W

    t = float(threshold)
    # `sh` lets callers that run several shingle consumers (e.g.
    # lsh_recall_report: exact truth + LSH candidates over the SAME sets)
    # materialize the tokenize→shingle→hash projection once and share it.
    if sh is None:
        sh = shingle_hashes(documents, k).repartition("doc_id")
    # sz is row-local (array size) — no COUNT() window pass needed.
    # explode_OUTER, not explode: for plain explode the optimizer infers a
    # size(..)>0 && isnotnull(..) filter on the generator input and pushes
    # it below the exchange, inlining the interpreted tokenize→shingle→md5
    # HOF two extra times per document in the scan stage (measured 10.6 s
    # → 0.16 s for this step at sf0.1).  InferFiltersFromGenerate skips
    # outer generates; the explicit null filter on the generated column is
    # a cheap row predicate above the exchange.
    rows = sh.select(
        "doc_id", F.size("sh").alias("sz"), F.explode_outer("sh").alias("h")
    ).filter(F.col("h").isNotNull())
    freq = rows.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    ranked = rows.join(freq, "h").withColumn(
        "rk",
        F.row_number().over(W.partitionBy("doc_id").orderBy("df", "h")),
    )
    # prefix length |A| - ceil(t*|A|) + 1
    prefix = ranked.filter(
        F.col("rk") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
    ).select("doc_id", "h", "rk", "sz")
    a = prefix.select(
        F.col("doc_id").alias("doc_a"), "h",
        F.col("rk").alias("rk_a"), F.col("sz").alias("sz_a"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"), "h",
        F.col("rk").alias("rk_b"), F.col("sz").alias("sz_b"),
    )
    required = F.ceil(F.lit(t / (1.0 + t)) * (F.col("sz_a") + F.col("sz_b")))
    cands = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter
        .filter(
            (F.col("sz_b") >= F.lit(t) * F.col("sz_a"))
            & (F.col("sz_a") >= F.lit(t) * F.col("sz_b"))
        )
        # positional filter (valid upper bound on the first-shared row)
        .filter(
            F.lit(1)
            + F.least(F.col("sz_a") - F.col("rk_a"), F.col("sz_b") - F.col("rk_b"))
            >= required
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(sha, "doc_a")
        .join(shb, "doc_b")
        .filter("size(sh_a) + size(sh_b) > 0")
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / "
            "(size(sh_a) + size(sh_b) - size(array_intersect(sh_a, sh_b))) AS jaccard",
        )
        .filter(F.col("jaccard") >= threshold)
    )


def cms_sketch(documents: DataFrame, depth: int = 4, width: int = 1024) -> DataFrame:
    """Count-min sketch of corpus token occurrences (Cormode & Muthukrishnan
    2005): ``depth`` independent hash rows × ``width`` buckets, each cell
    counting the tokens that hash into it.

    Why at 100 TB: an exact token-frequency aggregate shuffles and holds
    the FULL vocabulary (web-corpus vocabularies are billions of keys);
    the sketch is a fixed depth×width grid regardless of vocabulary size,
    it partial-aggregates map-side like any groupBy count, and sketches
    are LINEAR — per-day/per-shard sketches merge by elementwise addition,
    so incremental corpus growth never reprocesses history.

    Hash rows: ONE md5 per token reduced mod 2^31-1, then row r applies
    the affine map h → ((2r+1)·h + 1000r+7) mod (2^31-1) — a
    pairwise-independent family over the prime field (the same
    construction as the MinHash permutations), exact in int64, and 1 md5
    instead of ``depth``.  Deterministic, engine-portable,
    oracle-checkable; no RNG.  Returns (r, bucket, cnt) — depth·width
    rows at most.
    """
    toks = (
        documents.selectExpr(f"explode_outer({TOKENS}) AS token")
        .filter("token IS NOT NULL")
        .selectExpr(f"{hex60('token')} % {MERSENNE31} AS h")
    )
    stack = ", ".join(
        f"{r}, (({2 * r + 1} * h + {1000 * r + 7}) % {MERSENNE31}) % {width}"
        for r in range(depth)
    )
    return (
        toks.selectExpr(f"stack({depth}, {stack}) AS (r, bucket)")
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def cms_estimate(
    documents: DataFrame,
    probe_tokens: list[str],
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the count-min sketch for ``probe_tokens`` alongside the
    exact count — the estimate is one-sided (cms_count ≥ exact_count) with
    overcount ≤ 2·N/width at probability 1 − 2^-depth per query.

    The probe side is a literal-values frame (model-sized, broadcast);
    the sketch side is the fixed grid.  The exact counts here are for
    validation/demonstration — a production point query touches ONLY the
    depth·width sketch, no vocabulary aggregate.
    """
    sketch = cms_sketch(documents, depth, width)
    probes_sql = ", ".join(f"('{t.lower()}')" for t in probe_tokens)
    probe = documents.sparkSession.sql(
        f"SELECT token FROM (VALUES {probes_sql}) AS p(token)"
    )
    stack = ", ".join(
        f"{r}, (({2 * r + 1} * h + {1000 * r + 7}) % {MERSENNE31}) % {width}"
        for r in range(depth)
    )
    probe_cells = probe.selectExpr(
        "token", f"{hex60('token')} % {MERSENNE31} AS h"
    ).selectExpr("token", f"stack({depth}, {stack}) AS (r, bucket)")
    est = (
        probe_cells.join(F.broadcast(sketch), ["r", "bucket"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_count"))
    )
    exact = (
        documents.selectExpr(f"explode_outer({TOKENS}) AS token")
        .filter("token IS NOT NULL")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
    )
    return (
        est.join(exact, "token", "left")
        .selectExpr("token", "cms_count", "coalesce(exact_count, 0) AS exact_count")
    )


def corpus_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff between two corpus versions: per doc_id, whether it
    was ``added``, ``removed``, ``changed`` (same id, different content
    hash) or ``unchanged``.

    The incremental-ingest primitive: a re-crawl / re-delivery lands as a
    full snapshot, and everything downstream (dedup stores, signature
    stores, embedding caches) only wants the delta.  Each side reduces to
    (doc_id, 128-bit md5) BEFORE the full-outer join, so the comparison
    ships ids and 32-byte hashes — never document text — and the join is
    a single co-partitioned shuffle on doc_id at any corpus size.

    Returns (doc_id, status) for every doc_id in either snapshot.
    """
    def _hashed(df: DataFrame, col: str) -> DataFrame:
        return df.selectExpr("doc_id", f"md5(text) AS {col}")

    o = _hashed(old, "h_old")
    n = _hashed(new, "h_new")
    return o.join(n, "doc_id", "full_outer").selectExpr(
        "doc_id",
        "CASE WHEN h_old IS NULL THEN 'added' "
        "WHEN h_new IS NULL THEN 'removed' "
        "WHEN h_old <> h_new THEN 'changed' "
        "ELSE 'unchanged' END AS status",
    )


def bm25_rank(
    documents: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 20,
) -> DataFrame:
    """Ranked retrieval: rational-idf BM25 over the whitespace tokenizer.

    Classic BM25 wraps the RSJ weight in ``ln``; libm ``ln`` is not
    guaranteed correctly-rounded across engines, so this uses the raw
    rational weight idf = (N - df + 0.5) / (df + 0.5) directly — per-term
    rankings are identical (ln is monotone) and every arithmetic step is
    IEEE-exact-reproducible, which keeps the operator oracle-checkable and
    its scores stable across engine versions.

    Scale shape: ONE corpus scan.  Per-doc term frequencies come from a
    row-local ``filter`` of the token array against the (tiny, literal)
    query-term list before the explode, so the shuffled frame is
    (doc_id, term, tf) for MATCHING docs only — never the corpus
    vocabulary.  Document frequencies reduce from that same frame; corpus
    stats (N, avgdl) are a 1-row broadcast.  Per-term contributions are
    summed as DECIMAL(25,6) (order-independent), cast to double at the
    edge.  Output: top_n docs by (score DESC, doc_id) — deterministic.
    """
    # Terms enter the plan as F.lit() literals, never interpolated into SQL
    # text: a term containing a quote (or any Spark SQL expression) is then
    # just data, not parser input — user-facing callers (corpus_service
    # /corpus/search) feed raw query strings here.
    terms_arr = F.array(*[F.lit(t) for t in query_terms])
    dl = documents.selectExpr(
        "doc_id", f"{TOKENS} AS toks"
    ).selectExpr("doc_id", "toks", "CAST(size(toks) AS BIGINT) AS dl")
    stats = dl.agg(
        (F.sum(F.col("dl").cast(_DEC)).cast("double") / F.count(F.lit(1))).alias(
            "avgdl"
        ),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    tf = (
        dl.select(
            "doc_id",
            "dl",
            F.filter("toks", lambda x: F.array_contains(terms_arr, x)).alias("qt"),
        )
        .filter("size(qt) > 0")
        .selectExpr("doc_id", "dl", "explode(qt) AS term")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    contrib = (
        "CAST((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        " / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        f" * (CAST(tf AS DOUBLE) * CAST({k1 + 1.0!r} AS DOUBLE))"
        f" / (CAST(tf AS DOUBLE) + CAST({k1!r} AS DOUBLE)"
        f"    * (CAST({1.0 - b!r} AS DOUBLE)"
        f"       + CAST({b!r} AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))"
        f" AS {_DEC})"
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.expr(f"SUM({contrib})").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
    )
    return (
        scored.orderBy(F.col("s").desc(), "doc_id")
        .limit(top_n)
        .select(
            "doc_id",
            F.col("s").cast("double").alias("bm25_score"),
            "n_terms_matched",
        )
    )


def pps_sample(
    df: DataFrame,
    weight: str,
    rate: float,
    key: str = "doc_id",
    salt: str = "pps",
) -> DataFrame:
    """Deterministic Poisson PPS sample: include each row independently
    with probability p = min(1, rate * weight).

    The inclusion test is INTEGER: hex60(key ⊕ salt) % 10^6 <
    floor(p * 10^6) — one double multiply + floor, no transcendental, so
    the sample is bit-reproducible across engines, runs, partitionings
    and cluster sizes (the property that makes sampled-pipeline reruns
    diffable).  Weighted-reservoir alternatives order by u^(1/w), whose
    pow() is not correctly-rounded-guaranteed — the Poisson design is
    what survives an engine swap.  Row-local scan→filter: no shuffle, no
    state; union of per-shard samples IS the sample of the union.

    Emits inclusion_prob and the Horvitz-Thompson weight 1/p so any
    downstream sum/count stays unbiased: E[Σ 1/p over sample] = N.
    """
    p = f"least(CAST(1.0 AS DOUBLE), CAST({rate!r} AS DOUBLE) * CAST({weight} AS DOUBLE))"
    h = hex60(f"concat(CAST({key} AS STRING), '|{salt}')")
    return df.selectExpr(
        "*",
        f"{p} AS inclusion_prob",
        f"CAST(1.0 AS DOUBLE) / {p} AS ht_weight",
        f"{h} % 1000000 AS _u",
    ).filter(f"_u < CAST(floor(inclusion_prob * 1000000) AS BIGINT)").drop("_u")


def text_index_root(spark, path: str) -> str:
    """The index's CURRENT version directory ``path/vNNNNNNNN`` holding
    its ``postings`` (and, for the BM25 index, ``stats``) children,
    resolved ONCE at scan start so a reader is snapshot-isolated from
    every later merge or compaction.  All read and maintenance entry
    points resolve through here.  An absent store resolves to ``path``
    (its ``postings`` child is then absent too); a flat store from the
    old layout raises ``ValueError`` (see
    :func:`functions.fs.resolve_store_root`): delete it and rebuild."""
    root = path.rstrip("/")
    return resolve_store_root(
        spark,
        path,
        f"write_text_index(documents, {root!r}, ...) or "
        f"write_positional_index(documents, {root!r}, ...)",
    )


def _commit_index(spark, path: str, write) -> None:
    """Commit the next version of the index store at ``path``: under the
    store's lease, ``write(scratch)`` fills a ``__building.*`` dir and
    one rename publishes it, so readers see the postings (and stats)
    flip together and a failed write leaves only invisible scratch."""
    with maintenance_lease(spark, path):
        clean_version_scratch(spark, path)
        tmp = version_scratch(path)
        write(tmp)
        commit_version(spark, path, tmp)


def _write_postings(postings: DataFrame, dst: str, mode: str) -> None:
    """Bucket-aligned shuffle before the partitioned write: each bucket
    lands in exactly one task => ONE file per bucket directory.  The
    default layout (every write task touching every bucket) explodes
    into tasks x buckets small files, and query-time file listing then
    swamps the pruning win."""
    (
        postings.repartition("term_bucket")
        .write.mode(mode)
        .partitionBy("term_bucket")
        .parquet(dst)
    )


def _text_postings(documents: DataFrame, num_buckets: int):
    """(dl, postings) of a BM25 build or merge batch: per-doc lengths
    and the (doc_id, dl, term, tf, term_bucket) postings."""
    dl = documents.selectExpr("doc_id", f"{TOKENS} AS toks").selectExpr(
        "doc_id", "toks", "CAST(size(toks) AS BIGINT) AS dl"
    )
    postings = (
        dl.selectExpr("doc_id", "dl", "explode(toks) AS term")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn(
            "term_bucket", F.expr(f"{hex60('term')} % {num_buckets}").cast("int")
        )
    )
    return dl, postings


def write_text_index(
    documents: DataFrame,
    path: str,
    num_buckets: int = 64,
) -> None:
    """Persist an inverted text index for BM25 retrieval: postings
    (term, doc_id, tf, dl) written ``partitionBy(term_bucket)`` with
    term_bucket = hex60(term) % num_buckets, plus a 1-row corpus-stats
    table (n_docs, avgdl) under ``<path>/stats``.

    The 100 TB retrieval shape: indexing is a once-per-ingest batch job
    (one corpus scan); a query then reads ONLY the partition directories
    its terms hash into — ~|query terms|/num_buckets of the index bytes,
    never the corpus.  Document frequencies are NOT precomputed: df for
    a term is derivable from that term's own (pruned) postings at query
    time, which keeps the index append-mergeable (posting frames from
    new shards union in; stats re-aggregate) without a global rebuild.

    Every build commits the next version: postings AND stats live
    together inside an immutable ``path/vNNNNNNNN/`` committed by one
    atomic rename, so a later merge or compaction never unlinks posting
    files under an in-flight scan and the postings+stats pair always
    flips together.  Readers resolve it via :func:`text_index_root`."""
    dl, postings = _text_postings(documents, num_buckets)
    # dl_sum (exact decimal) rides along so merge_text_index can fold new
    # batches into avgdl EXACTLY instead of reconstructing it from the
    # rounded double mean
    stats = dl.agg(
        (F.sum(F.col("dl").cast(_DEC)).cast("double") / F.count(F.lit(1))).alias(
            "avgdl"
        ),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("dl").cast(_DEC)).alias("dl_sum"),
    )

    def write(tmp):
        _write_postings(postings, f"{tmp}/postings", "overwrite")
        stats.write.mode("overwrite").parquet(f"{tmp}/stats")

    _commit_index(documents.sparkSession, path, write)


def bm25_from_index(
    spark,
    index_path: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 20,
    num_buckets: int = 64,
) -> DataFrame:
    """Index-backed BM25: same scores and output as :func:`bm25_rank`
    (shares its oracle), but the corpus is never touched — the
    ``term_bucket IN (...)`` + ``term IN (...)`` literal predicates prune
    the postings scan to the query terms' partition directories, so
    query-time I/O stays ~|terms|/num_buckets of the index regardless of
    corpus size.  Shares bm25_rank's arithmetic exactly (rational idf,
    decimal term sum)."""
    buckets = sorted(
        {
            int(h, 16) % num_buckets
            for h in (
                __import__("hashlib").md5(t.encode()).hexdigest()[:15]
                for t in query_terms
            )
        }
    )
    # resolve the layout ONCE so postings and stats come from the SAME
    # version (snapshot consistency under a concurrent compaction)
    root = text_index_root(spark, index_path)
    tf = (
        spark.read.parquet(f"{root}/postings")
        # isin() builds In(literal...) predicates — same partition pruning
        # and parquet pushdown as interpolated SQL, but terms stay data
        # (no parser exposure for quote-bearing user input).
        .filter(F.col("term_bucket").isin(buckets) & F.col("term").isin(query_terms))
        .select("doc_id", "dl", "term", "tf")
    )
    stats = spark.read.parquet(f"{root}/stats")
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    contrib = (
        "CAST((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        " / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        f" * (CAST(tf AS DOUBLE) * CAST({k1 + 1.0!r} AS DOUBLE))"
        f" / (CAST(tf AS DOUBLE) + CAST({k1!r} AS DOUBLE)"
        f"    * (CAST({1.0 - b!r} AS DOUBLE)"
        f"       + CAST({b!r} AS DOUBLE) * CAST(dl AS DOUBLE) / avgdl))"
        f" AS {_DEC})"
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.expr(f"SUM({contrib})").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
        )
    )
    return (
        scored.orderBy(F.col("s").desc(), "doc_id")
        .limit(top_n)
        .select(
            "doc_id",
            F.col("s").cast("double").alias("bm25_score"),
            "n_terms_matched",
        )
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    top_n: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion: score(d) = Σ_i 1/(k + rank_i(d)) over the
    input rankings (each a frame with ``id_col`` + ``rank``; absent docs
    contribute nothing).

    Rank fusion beats score fusion when the component scores live on
    incomparable scales (BM25 vs cosine vs a quality prior) — only the
    ORDER survives, which also makes the fusion engine-exact: every term
    is the reciprocal of a small integer, summed in a fixed left-to-right
    expression (outer-join columns, not an aggregate), so the result is
    bit-reproducible.  Each component list is top-N bounded upstream;
    the fusion joins tiny frames — cost lives in the retrievers.
    """
    fused = None
    for i, r in enumerate(rankings):
        ri = r.select(F.col(id_col), F.col("rank").alias(f"_r{i}"))
        fused = ri if fused is None else fused.join(ri, id_col, "full_outer")
    terms = " + ".join(
        f"coalesce(CAST(1.0 AS DOUBLE) / ({k} + _r{i}), CAST(0.0 AS DOUBLE))"
        for i in range(len(rankings))
    )
    return (
        fused.selectExpr(
            id_col,
            f"{terms} AS rrf_score",
            *[f"_r{i} AS rank_{i}" for i in range(len(rankings))],
        )
        .orderBy(F.col("rrf_score").desc(), id_col)
        .limit(top_n)
    )


def containment_pairs(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 100,
) -> DataFrame:
    """ASYMMETRIC near-dup: directed pairs where containment(src → dst) =
    |sh(src) ∩ sh(dst)| / |sh(src)| ≥ threshold — catches quotes,
    excerpts and partial copies that symmetric Jaccard misses (a tweet
    embedded in an article has tiny Jaccard but containment ≈ 1).

    Scale shape: inverted-index join — explode shingles to postings,
    DROP shingles whose document frequency exceeds ``max_shingle_df``
    (boilerplate shingles would otherwise fan the self-join out
    quadratically in df; real systems cap posting lengths the same
    way), self-join the pruned postings on the shingle hash, and count
    per ordered pair.  The measure is therefore defined on the
    df-FILTERED shingle sets — both the intersection AND the |sh(src)|
    denominator exclude capped shingles, so containment stays ≤ 1 and
    the oracle mirrors exactly.  Pair fan-out is bounded by
    sum(df²) ≤ max_df · postings.
    """
    # Postings built the codegen way (expression-plan hygiene rule 5):
    # explode the shingle STRINGS first, hash the exploded rows — an
    # md5 inside the transform() lambda evaluates interpreted and
    # measured ~3× slower here (same hazard class as the decontaminate
    # 29× fix); per-doc array_distinct becomes distinct over (doc_id, h),
    # the identical set.  Then MATERIALIZE once: the postings feed FIVE
    # consumers (df count, semi-join probe, size count, both self-join
    # sides) and Spark has no cross-branch CSE, so the lazy form re-ran
    # the whole tokenize→shingle→explode→hash pipeline per consumer — 6
    # corpus scans.  Measured at sf0.1: 36.2 s lazy → 3.5 s with this
    # one-scan + checkpoint shape; the checkpointed frame is narrow
    # (doc_id, h — two longs) at any corpus size.
    postings = (
        documents.selectExpr("doc_id", f"{TOKENS} AS t")
        .selectExpr("doc_id", f"explode_outer({_shingle_expr(k)}) AS s")
        .filter("s IS NOT NULL")
        .selectExpr("doc_id", f"{hex60('s')} % {MERSENNE31} AS h")
        .distinct()
        .localCheckpoint(eager=False)
    )
    rare = postings.groupBy("h").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= max_shingle_df
    )
    # pruned feeds THREE consumers (the size count and both self-join
    # sides) — without materialization the df aggregate + semi-join
    # replay once per consumer.  Lazy checkpoint: one action computes
    # the pruning once; the frame is the same narrow (doc_id, h) shape
    # as the postings checkpoint above.  Deterministic — oracle-gated.
    pruned = postings.join(rare.select("h"), "h", "left_semi").localCheckpoint(
        eager=False
    )
    sizes = pruned.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_src")
    )
    pairs = (
        pruned.selectExpr("doc_id AS src_doc", "h")
        .join(pruned.selectExpr("doc_id AS dst_doc", "h"), "h")
        .filter("src_doc != dst_doc")
        .groupBy("src_doc", "dst_doc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "src_doc"), "src_doc")
        .selectExpr(
            "src_doc",
            "dst_doc",
            "n_common",
            "n_src",
            "CAST(n_common AS DOUBLE) / CAST(n_src AS DOUBLE) AS containment",
        )
        .filter(F.col("containment") >= threshold)
    )


# ---------------------------------------------------------------------------
# n-gram LM scoring & corpus distribution drift
# ---------------------------------------------------------------------------

def _hashed_token_counts(df: DataFrame, n_buckets: int) -> DataFrame:
    """(doc_id, b, c): per-document hashed-UNIGRAM bucket counts — the
    feature projection shared by the LM scorer and the KL drift monitor.
    Explode reduces map-side to bucket counts before any shuffle, so
    shuffle volume is O(rows · distinct-buckets-per-doc), never corpus
    tokens; NULL/empty tokens (split of blank text) are dropped on both
    engines identically."""
    return (
        df.selectExpr("doc_id", f"explode_outer({TOKENS}) AS token")
        .filter("token IS NOT NULL AND token != ''")
        .selectExpr("doc_id", f"{hex60('token')} % {n_buckets} AS b")
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def lm_dists(reference: DataFrame, n_buckets: int = 8192) -> DataFrame:
    """The LM 'model': a DENSE (b, logp) frame — add-one-smoothed hashed
    unigram log-probabilities of a REFERENCE corpus (the CCNet-style
    quality-LM analog: a real KenLM is file-bound; the hashed-unigram
    bag model is its mergeable, engine-portable stand-in).  Dense over
    all n_buckets so scoring is total: a future doc can hash anywhere
    and unseen buckets carry the smoothed-floor probability.  Always
    exactly n_buckets rows (KBs) — persist with :func:`write_lm_dists`
    and score ingest batches against the frozen model.

    Cross-engine exactness: ln runs ONCE PER BUCKET and is rounded to
    the decimal(25,6) grid there (the DSIR convention) — per-document
    scores are then integer×decimal sums, order-independent and exact.
    """
    return lm_dists_from_counts(lm_counts(reference, n_buckets), n_buckets)


def lm_counts(reference: DataFrame, n_buckets: int = 8192) -> DataFrame:
    """The LM SUFFICIENT STATISTICS: dense (b, cnt) bucket counts.
    Counts are MERGEABLE (log-probs are not) — persist these with
    :func:`write_lm_counts` when the reference corpus grows over time,
    fold each ingest batch in with :func:`merge_lm_counts`, and the
    up-to-date model is a pure projection away
    (:func:`lm_dists_from_counts`)."""
    spark = reference.sparkSession
    cnt = (
        _hashed_token_counts(reference, n_buckets)
        .groupBy("b")
        .agg(F.sum("c").alias("cnt"))
    )
    dense = spark.range(n_buckets).selectExpr("CAST(id AS BIGINT) AS b")
    return dense.join(F.broadcast(cnt), "b", "left").selectExpr(
        "b", "coalesce(cnt, CAST(0 AS BIGINT)) AS cnt"
    )


def lm_dists_from_counts(counts: DataFrame, n_buckets: int) -> DataFrame:
    """Derive the (b, logp) model from dense bucket counts — the
    smoothing + grid-rounded-ln projection shared by the one-shot and
    incremental model paths."""
    tot = counts.agg(F.sum("cnt").alias("r_tot"))
    return counts.crossJoin(F.broadcast(tot)).selectExpr(
        "b",
        f"CAST(round(ln((cnt + 1) / "
        f"CAST(r_tot + {n_buckets} AS DOUBLE)), 6) AS {_DEC}) AS logp",
    )


def write_lm_counts(
    reference: DataFrame, path: str, n_buckets: int = 8192
) -> None:
    """Persist the mergeable LM statistics (see :func:`lm_counts`) as
    an immutable snapshot; later merges land as the next version
    (reader snapshot isolation — free for this model-sized payload)."""
    from admira_etl_project_prueba_spark.functions.fs import fold_whole_store

    fold_whole_store(
        reference.sparkSession,
        path,
        lambda prev: lm_counts(reference, n_buckets),
    )


def merge_lm_counts(
    spark, path: str, new_batch: DataFrame, n_buckets: int = 8192
) -> None:
    """Fold a new reference batch into the persisted LM statistics —
    incremental model maintenance without re-reading the corpus: the
    store stays dense at exactly n_buckets rows, the batch reduces
    map-side to bucket increments and BROADCASTS into the fold.  The
    leased read-modify-write goes through
    ``functions/fs.fold_whole_store``, which commits the merge as the
    next immutable snapshot.
    ``lm_dists_from_counts`` of the merged store equals a
    from-scratch model over the concatenated corpus exactly (integer
    count merge, smoothing applied after)."""
    from admira_etl_project_prueba_spark.functions.fs import fold_whole_store

    def build(old):
        inc = (
            _hashed_token_counts(new_batch, n_buckets)
            .groupBy("b")
            .agg(F.sum("c").alias("inc"))
        )
        if old is None:
            raise ValueError(
                f"merge_lm_counts: no LM count store at {path} — "
                "write_lm_counts first"
            )
        return old.join(F.broadcast(inc), "b", "left").selectExpr(
            "b", "CAST(cnt + coalesce(inc, 0) AS BIGINT) AS cnt"
        )

    fold_whole_store(spark, path, build)


def lm_scores_from_counts(
    spark, documents: DataFrame, counts_path: str, n_buckets: int = 8192
) -> DataFrame:
    """Score documents against the INCREMENTAL count store — the
    always-current sibling of the frozen :func:`lm_scores_from_dists`
    path.  Resolves the current version once."""
    return lm_scores_from_frame(
        documents,
        lm_dists_from_counts(
            spark.read.parquet(resolve_store_root(spark, counts_path)),
            n_buckets,
        ),
        n_buckets,
    )


def write_lm_dists(
    reference: DataFrame, path: str, n_buckets: int = 8192
) -> None:
    """Persist the LM model (once-per-corpus batch job; see
    :func:`lm_dists`) — broadcast-read by every later scoring join,
    batch (:func:`lm_scores_from_dists`) or streaming
    (``streaming.stream_lm_scores``)."""
    lm_dists(reference, n_buckets).coalesce(1).write.mode("overwrite").parquet(
        path
    )


def lm_cross_entropy(
    documents: DataFrame, reference: DataFrame, n_buckets: int = 8192
) -> DataFrame:
    """CCNet-style LM quality scoring: per-document cross-entropy (nats
    per token) of the doc's hashed-unigram profile under the reference
    corpus LM — the classic 'perplexity filter' signal (low = fluent /
    reference-like, high = gibberish or off-domain), computed without a
    file-bound LM so it runs as a pure DataFrame plan.

    ce(doc) = −Σ_b c_b · logp̂_ref(b) / Σ_b c_b

    Scale shape: features reduce map-side to (doc_id, bucket, count) —
    text never shuffles; the dense n_buckets-row model BROADCASTS into
    the scoring join, so the only data-sized shuffle is the feature
    aggregation.  Docs with no tokens surface with NULL cross_entropy
    and n_tokens=0 (never silently dropped).
    """
    return lm_scores_from_frame(documents, lm_dists(reference, n_buckets), n_buckets)


def lm_scores_from_frame(
    documents: DataFrame, dist: DataFrame, n_buckets: int
) -> DataFrame:
    """Score docs against a (dense) logp frame — shared by the inline,
    from-artifact and streaming LM paths."""
    scored = (
        _hashed_token_counts(documents, n_buckets)
        .join(F.broadcast(dist), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("logp")).alias("w"),
            F.sum("c").cast("long").alias("n_tokens"),
        )
    )
    return (
        documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(-w AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS cross_entropy",
            "coalesce(n_tokens, CAST(0 AS BIGINT)) AS n_tokens",
        )
    )


def lm_scores_from_dists(
    spark, documents: DataFrame, dist_path: str, n_buckets: int = 8192
) -> DataFrame:
    """Score documents against a PERSISTED LM model — the production
    shape: the model is frozen at curation time, new data is scored as
    it arrives without touching the reference corpus."""
    return lm_scores_from_frame(
        documents, spark.read.parquet(dist_path), n_buckets
    )


def source_token_kl(documents: DataFrame, n_buckets: int = 4096) -> DataFrame:
    """Per-source distribution drift: KL(p̂_source ‖ q̂_corpus) over
    hashed-unigram buckets, add-one smoothed — the standing curation
    monitor for 'which ingest feed no longer looks like the corpus'
    (a spiking KL flags scraper rot, language drift, or template spam
    before any downstream filter sees it).

    kl(s) = Σ_b c_sb · (ln p̂_s(b) − ln q̂(b)) / Σ_b c_sb

    with p̂_s = (c_sb+1)/(tot_s+B) and q̂ = (c_b+1)/(tot+B).  Because
    the empirical weights pair with SMOOTHED distributions, the
    estimator can sit slightly below 0 when B ≫ per-source tokens —
    rankings (drifted feeds first) are what it is for; compare feeds
    against each other, not against an absolute 0.  The
    count-weighted form keeps the surface exact: both ln terms are
    computed on the POST-AGGREGATION (source × bucket) frame — at most
    |sources|·n_buckets rows regardless of corpus size — and their
    difference is rounded to the decimal(25,6) grid before the exact
    integer×decimal sum.  One corpus-sized shuffle (map-side-reduced
    bucket counts); the global bucket frame derives from the per-source
    one, and both totals broadcast.  NULL sources bucket under
    ``UNKNOWN_SOURCE``.
    """
    return kl_from_source_bucket_counts(
        source_bucket_counts(documents, n_buckets), n_buckets
    )


def source_bucket_counts(
    documents: DataFrame, n_buckets: int = 4096
) -> DataFrame:
    """(source, b, c): per-source hashed-unigram bucket counts — the
    mergeable sufficient statistics behind the KL drift monitor (counts
    add across batches; the KL projection is applied at read time).
    Bounded at |sources|·n_buckets rows however large the corpus."""
    return (
        documents.selectExpr(
            f"coalesce(source, '{UNKNOWN_SOURCE}') AS source",
            "doc_id",
            f"explode_outer({TOKENS}) AS token",
        )
        .filter("token IS NOT NULL AND token != ''")
        .selectExpr("source", f"{hex60('token')} % {n_buckets} AS b")
        .groupBy("source", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def kl_from_source_bucket_counts(
    per: DataFrame, n_buckets: int
) -> DataFrame:
    """Derive the per-source KL report from (source, b, c) counts — the
    smoothing + grid-rounded-ln projection shared by the one-shot
    (:func:`source_token_kl`) and streaming-store
    (``streaming.source_kl_from_store``) paths."""
    stot = per.groupBy("source").agg(F.sum("c").alias("s_tot"))
    glob = per.groupBy("b").agg(F.sum("c").alias("g_cnt"))
    gtot = glob.agg(F.sum("g_cnt").alias("g_tot"))
    terms = (
        per.join(F.broadcast(stot), "source")
        .join(F.broadcast(glob), "b")
        .crossJoin(F.broadcast(gtot))
        .selectExpr(
            "source",
            "c",
            "s_tot",
            f"CAST(round(ln((c + 1) / CAST(s_tot + {n_buckets} AS DOUBLE))"
            f" - ln((g_cnt + 1) / CAST(g_tot + {n_buckets} AS DOUBLE)), 6)"
            f" AS {_DEC}) AS lr",
        )
    )
    return (
        terms.groupBy("source")
        .agg(
            F.sum(F.col("c") * F.col("lr")).alias("w"),
            F.max("s_tot").cast("long").alias("n_tokens"),
        )
        .selectExpr(
            "source",
            "CAST(w AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS kl_nats",
            "n_tokens",
        )
    )


def source_overlap_matrix(
    documents: DataFrame, normalized: bool = True, key_sql: str | None = None
) -> DataFrame:
    """Cross-source exact-duplicate contamination matrix: for every
    source pair (a ≤ b), the number of duplicate DOC PAIRS sharing a
    content hash — the curation diagnostic for 'feed X is re-crawling
    feed Y' (off-diagonal) vs 'feed X re-serves itself' (diagonal,
    counted as C(n,2) within each hash).

    Grouped pair expansion, not a self-join: per content hash the
    (source, count) list is collected once and pairs expand row-locally
    — ONE shuffle of 128-bit hashes (text never shuffles), pair fan-out
    bounded by |sources|² per hash.  Exact integer arithmetic
    throughout; zero-pair combinations are omitted (sparse matrix).
    NULL sources bucket under ``UNKNOWN_SOURCE``.

    ``key_sql`` swaps the duplicate key for a coarser fingerprint (e.g.
    a normalized-prefix hash for shared-boilerplate detection) without
    changing the pairing math — any SQL expression over ``text``.
    """
    key = key_sql or (
        "md5(regexp_replace(lower(trim(text)), '\\\\s+', ' '))"
        if normalized
        else "md5(text)"
    )
    per = (
        documents.selectExpr(
            f"{key} AS content_hash",
            f"coalesce(source, '{UNKNOWN_SOURCE}') AS source",
        )
        .groupBy("content_hash", "source")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per.groupBy("content_hash")
        .agg(F.sort_array(F.collect_list(F.struct("source", "c"))).alias("s"))
        .selectExpr(
            "explode(flatten(transform(s, (x, i) -> "
            "transform(slice(s, i + 1, size(s)), y -> struct("
            "x.source AS source_a, y.source AS source_b, "
            "CASE WHEN x.source = y.source THEN (x.c * (x.c - 1)) DIV 2 "
            "ELSE x.c * y.c END AS np))))) AS p"
        )
        .selectExpr("p.source_a", "p.source_b", "p.np")
        .groupBy("source_a", "source_b")
        .agg(F.sum("np").cast("long").alias("dup_pairs"))
        .filter(F.col("dup_pairs") > 0)
    )


def lsh_recall_report(
    documents: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 16,
    band_size: int = 2,
    k: int = 3,
) -> DataFrame:
    """Self-evaluation of the LSH approximation against EXACT ground
    truth: recall of the banded MinHash pipeline
    (:func:`lsh_candidate_pairs`) measured against the prefix-filtered
    exact Jaccard join (:func:`prefix_filter_jaccard_pairs`) on the SAME
    shingle sets — the number an operator owner quotes when asked 'what
    does the fast path miss?'.

    One row: n_true_pairs (exact pairs ≥ threshold), n_candidates (all
    LSH candidates, any similarity), n_captured (candidates verifying
    ≥ threshold — a subset of the truth by construction, so
    n_captured/n_true_pairs IS recall), recall, and
    candidate_precision (verification pass-rate — how much verify work
    the bands waste).  Both sub-pipelines are the production operators
    themselves, so the report measures what actually runs; each is
    scale-safe on its own (prefix-pruned / banded), and the final
    combine is a 1-row × 1-row scalar join.  Tune num_perm/band_size
    until recall at the operating threshold is acceptable; re-run per
    corpus — S-curve math says where bands SHOULD land, this measures
    where they DO.
    """
    # Both sub-pipelines consume the SAME shingle sets — materialize the
    # tokenize→shingle→hash projection ONCE.  localCheckpoint (not a bare
    # repartition) because the exact path and the LSH path are separate
    # actions' subtrees joined only at the final scalar combine: without
    # it the shingle HOF runs 2× (measured ~20% of this report's wall at
    # sf0.1: best-of-3 2.94 s → 2.27 s, identical output).
    sh = (
        shingle_hashes(documents, k).repartition("doc_id")
        .localCheckpoint(eager=False)
    )
    truth = prefix_filter_jaccard_pairs(documents, threshold, k, sh=sh)
    cand = lsh_candidate_pairs(documents, num_perm, band_size, k, sh=sh)
    t = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    c = cand.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum((F.col("jaccard") >= threshold).cast("long")).alias("_cap"),
    )
    return c.crossJoin(F.broadcast(t)).selectExpr(
        "n_true_pairs",
        "n_candidates",
        "coalesce(_cap, CAST(0 AS BIGINT)) AS n_captured",
        "CASE WHEN n_true_pairs > 0 THEN "
        "CAST(coalesce(_cap, 0) AS DOUBLE) / n_true_pairs END AS recall",
        "CASE WHEN n_candidates > 0 THEN "
        "CAST(coalesce(_cap, 0) AS DOUBLE) / n_candidates END AS candidate_precision",
    )


# ---------------------------------------------------------------------------
# phrase search (positional retrieval)
# ---------------------------------------------------------------------------

def _phrase_occurrences(postings: DataFrame, phrase: list[str]) -> DataFrame:
    """Anchor-trick phrase matching over (doc_id, pos, token) postings:
    a posting matching phrase term i votes for anchor = pos − i, and an
    anchor collecting ALL k distinct i's is one exact consecutive
    occurrence — one groupBy, no k-way self-join, overlapping matches
    counted correctly ('a a a' contains 'a a' twice).  Terms enter the
    plan as Column literals (isin / array(lit…)) — user phrases are
    data, never SQL text (the BM25-injection lesson)."""
    if not phrase:
        raise ValueError("phrase must have at least one term")
    terms = [t.lower() for t in phrase]
    k = len(terms)
    term_arr = F.array(*[F.lit(t) for t in terms])
    m = postings.filter(F.col("token").isin(terms)).select(
        "doc_id",
        "pos",
        F.explode(
            F.filter(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: F.element_at(term_arr, i + F.lit(1)) == F.col("token"),
            )
        ).alias("idx"),
    )
    hits = (
        m.select("doc_id", (F.col("pos") - F.col("idx")).alias("anchor"), "idx")
        .groupBy("doc_id", "anchor")
        .agg(F.countDistinct("idx").alias("_n"))
        .filter(F.col("_n") == k)
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )


def phrase_search(documents: DataFrame, phrase: list[str]) -> DataFrame:
    """Exact consecutive-phrase search over the corpus: (doc_id,
    n_occurrences) for every document containing the phrase.

    Scale shape: the positional explode is FILTERED to the phrase's own
    terms before anything shuffles, so shuffle volume is the phrase
    terms' document frequency, not corpus tokens; the anchor aggregate
    keys on (doc_id, anchor) within that df-bounded set.  The corpus
    scan itself is the linear cost — the indexed variant
    (:func:`phrase_search_from_index`) removes it.
    """
    toks = documents.selectExpr(
        "doc_id", f"posexplode_outer({TOKENS}) AS (pos, token)"
    )
    return _phrase_occurrences(toks, phrase)


def _positional_postings(documents: DataFrame, num_buckets: int) -> DataFrame:
    """(doc_id, term, positions, term_bucket) postings of a positional
    build or merge batch."""
    toks = documents.selectExpr(
        "doc_id", f"posexplode_outer({TOKENS}) AS (pos, token)"
    ).filter("token IS NOT NULL AND token != ''")
    return (
        toks.groupBy("doc_id", F.col("token").alias("term"))
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .withColumn(
            "term_bucket", F.expr(f"{hex60('term')} % {num_buckets}").cast("int")
        )
    )


def write_positional_index(
    documents: DataFrame,
    path: str,
    num_buckets: int = 64,
) -> None:
    """Persist a POSITIONAL inverted index: postings (term, doc_id,
    positions sorted-array) written ``partitionBy(term_bucket)`` with the
    same one-file-per-bucket discipline as :func:`write_text_index` —
    phrase queries then read only their terms' bucket directories
    (~|terms|/num_buckets of the index), never the corpus.  Positions
    make the index strictly stronger than the BM25 one: tf = size
    (positions), so ranked retrieval could share it; kept separate so
    each artifact stays append-mergeable on its own.  Every build
    commits the next version (see :func:`write_text_index`)."""
    postings = _positional_postings(documents, num_buckets)
    _commit_index(
        documents.sparkSession,
        path,
        lambda tmp: _write_postings(postings, f"{tmp}/postings", "overwrite"),
    )


def phrase_search_from_index(
    spark,
    index_path: str,
    phrase: list[str],
    num_buckets: int = 64,
) -> DataFrame:
    """Index-backed phrase search: same output as :func:`phrase_search`
    (parity-pinned in pytest) with the corpus never touched — bucket +
    term literal predicates prune the positional postings to the
    phrase's partition directories, then the shared anchor math runs on
    the re-exploded positions."""
    terms = [t.lower() for t in phrase]
    buckets = sorted(
        {
            int(h, 16) % num_buckets
            for h in (
                __import__("hashlib").md5(t.encode()).hexdigest()[:15]
                for t in terms
            )
        }
    )
    posting = (
        spark.read.parquet(f"{text_index_root(spark, index_path)}/postings")
        .filter(F.col("term_bucket").isin(buckets) & F.col("term").isin(terms))
        .select(
            "doc_id",
            F.col("term").alias("token"),
            F.explode("positions").alias("pos"),
        )
    )
    return _phrase_occurrences(posting, terms)


# ---------------------------------------------------------------------------
# round-5 curation additions: duplication profile, calibrated quality,
# n-gram novelty, deletion propagation, BPE merge statistics
# ---------------------------------------------------------------------------

def dup_cluster_profile(
    documents: DataFrame, normalized: bool = False
) -> DataFrame:
    """Duplication histogram of the corpus: for every exact-duplicate
    cluster size c, how many clusters have that size, how many documents
    they hold, and what fraction of the corpus that is — the one-page
    answer to 'how duplicated is this crawl?' that decides whether dedup
    is worth a full pass (reference has no analogue; this serves the
    dedup_exact family the way profile_documents serves ingestion).

    Scale shape: groupBy on 128-bit content hashes (text never
    shuffles), then a second groupBy on cluster SIZE — at most
    max-cluster-size distinct keys, so the histogram frame is tiny and
    the corpus-total join is a 1-row broadcast scalar.  Exact integer
    counts; pct is the exact rational cast to double.
    """
    key = (
        "md5(regexp_replace(lower(trim(text)), '\\\\s+', ' '))"
        if normalized
        else "md5(text)"
    )
    clusters = (
        documents.selectExpr(f"{key} AS content_hash")
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )
    hist = clusters.groupBy("n_copies").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    total = documents.agg(F.count(F.lit(1)).cast("long").alias("_total"))
    return (
        hist.crossJoin(F.broadcast(total))
        .selectExpr(
            "n_copies",
            "n_clusters",
            "n_copies * n_clusters AS n_docs",
            "CAST(n_copies * n_clusters AS DOUBLE) / _total AS pct_docs",
        )
        .orderBy("n_copies")
    )


def quality_calibrated(documents: DataFrame, exact: bool = False) -> DataFrame:
    """Source-relative quality calibration: each document's lexical
    diversity (type-token ratio) re-expressed as a percentile WITHIN its
    source, plus the global percentile — so a single threshold like
    'keep the top 60%' means the same thing for a high-quality feed and
    a boilerplate-heavy one.  Mixing raw scores across sources
    over-prunes the weaker feed and under-prunes the stronger; per-source
    percent_rank is the standard fix (curation-pipeline practice).

    Scale shape: one row-local scoring projection, then two window
    passes — the per-source window shuffles on source (salting applies
    if one source dominates; see events_salted_daily_stats for the
    pattern), the global one is a single-partition sort over (score,
    doc_id) pairs ONLY (two columns shuffle, not text).  Deterministic:
    doc_id tie-break makes both ranks reproducible.

    The DEFAULT is the 100 TB mode: the GLOBAL percent_rank (the
    single-partition sort) is replaced by a 99-edge approx_percentile
    grid — ``q_pct_global`` becomes the fraction of grid edges below the
    score (cdf estimate, ±1 centile + sketch error; tolerance pinned in
    tests/test_sampled_quantiles.py).  The per-source window stays in
    both modes: it is partitioned, so no task ever holds more than one
    source's (score, doc_id) pairs.  ``exact=True`` opts into the global
    percent_rank form, kept only as the DuckDB-oracle twin.
    """
    from pyspark.sql import Window as W

    scored = documents.selectExpr(
        "doc_id",
        f"coalesce(source, '{UNKNOWN_SOURCE}') AS source",
        f"{TOKENS} AS t",
    ).selectExpr(
        "doc_id",
        "source",
        "CAST(size(array_distinct(t)) AS DOUBLE) / size(t) AS quality_raw",
    )
    by_src = W.partitionBy("source").orderBy("quality_raw", "doc_id")
    if not exact:
        from admira_etl_project_prueba_spark.functions.quantiles import (
            bucket_expr,
            quantile_edges,
        )

        edges = quantile_edges(scored, {"_e_g": "quality_raw"}, 100)
        return (
            scored.crossJoin(F.broadcast(edges))
            .select(
                "doc_id",
                "source",
                "quality_raw",
                "_e_g",
                F.percent_rank().over(by_src).alias("q_pct_source"),
            )
            .selectExpr(
                "doc_id",
                "source",
                "quality_raw",
                "q_pct_source",
                # bucket 1..100 → cdf estimate on the percent_rank [0,1] scale
                f"CAST(({bucket_expr('quality_raw', '_e_g')}) - 1 AS DOUBLE)"
                " / 99.0 AS q_pct_global",
            )
        )
    overall = W.partitionBy().orderBy("quality_raw", "doc_id")
    return scored.select(
        "doc_id",
        "source",
        "quality_raw",
        F.percent_rank().over(by_src).alias("q_pct_source"),
        F.percent_rank().over(overall).alias("q_pct_global"),
    )


def ngram_novelty_scores(documents: DataFrame, k: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct k-token shingles that appear in NO other document — the
    memorization-risk / boilerplate diagnostic (a doc whose shingles are
    all shared is template text; one whose shingles are all unique is
    fresh content).  Complements containment_pairs (pairwise) with a
    corpus-global per-doc score.

    Scale shape: reuses the shingle_hashes projection; the document
    frequency pass shuffles (hash, doc) pairs once, the per-doc
    re-aggregate shuffles (doc, flag) pairs once — never text, never
    pairs of documents.  Shingle-less docs (< k tokens) report NULL
    novelty rather than a fake 1.0.
    """
    sh = shingle_hashes(documents, k)
    rows = sh.select(
        "doc_id", F.explode_outer("sh").alias("h")
    )
    df = (
        rows.filter(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        rows.join(df, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.sum((F.col("h").isNotNull()).cast("long")).alias("n_shingles"),
            F.sum((F.col("df") > 1).cast("long")).alias("n_shared"),
        )
        .selectExpr(
            "doc_id",
            "n_shingles",
            "coalesce(n_shared, CAST(0 AS BIGINT)) AS n_shared",
            "CASE WHEN n_shingles > 0 THEN "
            "1.0 - CAST(coalesce(n_shared, 0) AS DOUBLE) / n_shingles END AS novelty",
        )
    )


def forget_propagation(
    documents: DataFrame,
    forget_ids: list[int],
    normalized: bool = True,
) -> DataFrame:
    """Right-to-be-forgotten propagation: given a blocklist of document
    ids, emit every document that must be purged — the listed docs AND
    every exact duplicate of them elsewhere in the corpus (same
    normalized content under a different id/source survives a naive
    id-only delete; compliance requires the content to go).

    Returns (doc_id, reason) with reason ∈ {'listed',
    'duplicate_of_listed'}, deterministic.

    Scale shape: the blocklist is driver-side and small by nature (a
    legal request, not a corpus); its hashes broadcast to a semi-join
    against the corpus hash projection — ONE scan of the corpus, hash
    columns only, no shuffle of text and no corpus-side groupBy.  At
    100 TB this is a broadcast-filtered scan, the cheapest possible
    full-corpus operation.
    """
    if not forget_ids:
        raise ValueError("forget_ids must be non-empty")
    key = (
        "md5(regexp_replace(lower(trim(text)), '\\\\s+', ' '))"
        if normalized
        else "md5(text)"
    )
    hashed = documents.selectExpr("doc_id", f"{key} AS content_hash")
    ids = [int(i) for i in forget_ids]
    listed_hashes = (
        hashed.filter(F.col("doc_id").isin(ids))
        .select("content_hash")
        .distinct()
    )
    return (
        hashed.join(F.broadcast(listed_hashes), "content_hash", "left_semi")
        .selectExpr(
            "doc_id",
            "CASE WHEN doc_id IN ({}) THEN 'listed' "
            "ELSE 'duplicate_of_listed' END AS reason".format(
                ", ".join(str(i) for i in ids)
            ),
        )
    )


def bpe_merge_candidates(documents: DataFrame, top_n: int = 50) -> DataFrame:
    """First-round BPE merge statistics: the corpus-weighted frequency of
    every adjacent character pair inside tokens, ranked — exactly the
    quantity a byte-pair-encoding tokenizer trainer maximizes when
    picking its next merge (Sennrich et al. 2016).  Running this per
    candidate corpus answers 'how well will a tokenizer trained
    elsewhere fit this data?' before any training run.

    Scale shape: the corpus pass is a token groupBy-count (the same
    shuffle token_frequencies already does); the character-pair
    explosion then runs over the VOCABULARY (distinct tokens), not the
    corpus — web-scale corpora have vocabularies orders of magnitude
    smaller than their token streams, so the expensive fan-out is
    bounded by vocab size and the final pair aggregate shuffles
    (2-char, count) rows only.
    """
    vocab = (
        documents.selectExpr(f"explode_outer({TOKENS}) AS token")
        .filter("token IS NOT NULL AND token != ''")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = vocab.filter("length(token) >= 2").selectExpr(
        "explode(transform(sequence(1, length(token) - 1), "
        "i -> substring(token, i, 2))) AS pair",
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), "pair")
        .limit(int(top_n))
    )


def _bpe_vocab_seqs(documents: DataFrame) -> DataFrame:
    """(word, cnt, seq): the corpus VOCABULARY with occurrence counts and
    each word's initial symbol sequence (space-joined characters) — the
    working state of the BPE trainer.  One corpus-sized shuffle (the
    word count); everything after runs at vocabulary scale, orders of
    magnitude smaller than the token stream on web corpora."""
    return (
        documents.selectExpr(f"explode_outer({TOKENS}) AS word")
        .filter("word IS NOT NULL AND word != ''")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .selectExpr("word", "cnt", "array_join(split(word, ''), ' ') AS seq")
    )


def _bpe_best_pair(seqs: DataFrame) -> DataFrame:
    """1-row (l, r, pair_count): the corpus-weighted most frequent
    adjacent symbol pair, ties → lexicographically smallest (l, r) —
    Sennrich's get_stats + argmax as a TakeOrdered over the pair
    aggregate (vocabulary-bounded, never corpus-bounded)."""
    pairs = (
        seqs.selectExpr("cnt", "split(seq, ' ') AS syms")
        .filter("size(syms) >= 2")
        .selectExpr(
            "cnt",
            "explode(transform(sequence(1, size(syms) - 1), "
            "i -> struct(syms[i - 1] AS l, syms[i] AS r))) AS p",
        )
    )
    return (
        pairs.groupBy("p.l", "p.r")
        .agg(F.sum("cnt").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "l", "r")
        .limit(1)
    )


def _bpe_apply(seqs: DataFrame, best: DataFrame) -> DataFrame:
    """Apply one merge to every vocabulary sequence — row-local string
    rewriting, no shuffle: separators are doubled so adjacent
    occurrences keep their boundary space (`replace` consumes one space
    each side; with single separators ' a b a b ' loses its second
    match to the shared boundary), the padded pattern replaces
    left-to-right exactly like the reference BPE's leftmost-first scan,
    then separators collapse back (doubling bounds runs at 2 spaces, so
    one collapse pass is exact).  An EMPTY best frame (nothing left to
    merge) passes sequences through unchanged via the left join."""
    b = best.selectExpr("l AS _l", "r AS _r").withColumn("_k", F.lit(1))
    return (
        seqs.withColumn("_k", F.lit(1))
        .join(F.broadcast(b), "_k", "left")
        .selectExpr(
            "word",
            "cnt",
            "CASE WHEN _l IS NULL THEN seq ELSE trim(replace(replace("
            "concat(' ', replace(seq, ' ', '  '), ' '), "
            "concat(' ', _l, '  ', _r, ' '), "
            "concat(' ', _l, _r, ' ')), '  ', ' ')) END AS seq",
        )
    )


def _bpe_apply_literal(seqs: DataFrame, l: str, r: str) -> DataFrame:
    """:func:`_bpe_apply` with the merge decision ALREADY COLLECTED —
    frontier mode's fast path: the (l, r) pair is inlined as string
    literals, so applying a merge is a pure projection (no 1-row
    broadcast join, no per-round materialization of the argmax frame).
    Same doubled-separator rewrite, byte-identical output."""
    doubled = F.concat(
        F.lit(" "), F.replace(F.col("seq"), F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    merged = F.replace(
        doubled,
        F.concat(F.lit(" "), F.lit(l), F.lit("  "), F.lit(r), F.lit(" ")),
        F.concat(F.lit(" "), F.lit(l + r), F.lit(" ")),
    )
    return seqs.select(
        "word", "cnt", F.trim(F.replace(merged, F.lit("  "), F.lit(" "))).alias("seq")
    )


def bpe_learn_merges(
    documents: DataFrame,
    n_merges: int = 4,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """The full BPE tokenizer TRAINER (Sennrich et al. 2016), not just
    the first-round statistics (:func:`bpe_merge_candidates`): learn the
    top ``n_merges`` merges by iterating count-adjacent-pairs → take the
    corpus-weighted argmax → rewrite every vocabulary sequence.

    Two execution modes, identical output (pytest-pinned):

    * ``checkpoint_every=None`` (default) — ONE lazy DataFrame plan, no
      driver-side action at all.  Every round unrolls into the plan, so
      depth grows linearly with ``n_merges``: right for shallow training
      and for oracle comparison, a plan-depth/analysis ceiling at real
      vocabulary sizes (10³–10⁵ merges).
    * ``checkpoint_every=N`` — FRONTIER mode, the real-tokenizer path:
      each round materializes its 1-row argmax (``localCheckpoint`` —
      the merge decision is trainer state, and both its consumers reuse
      the materialized row instead of replaying the aggregate), and
      every ``N`` rounds the vocabulary ``seqs`` frame itself is
      localCheckpoint'ed, truncating lineage so plan depth — and
      per-round cost — stays FLAT with round index.  The checkpointed
      frame is vocabulary-sized (words × ~chars), orders of magnitude
      smaller than the corpus.  Training stops early when no pair with
      count ≥ 1 remains (same rows the unrolled plan would yield).

    Scale shape: ONE corpus-sized shuffle total (the initial word
    count); each round then costs a vocabulary-sized pair aggregate +
    TakeOrdered(1) + a broadcast 1-row join with row-local string
    rewriting.  That is the right decomposition at 100 TB — trainer
    state is the vocabulary, which web-scale corpora keep orders of
    magnitude smaller than the token stream.

    Returns (rank, left_sym, right_sym, merged, pair_count), rank
    1-based in learning order — the artifact a tokenizer ships."""
    seqs = _bpe_vocab_seqs(documents)
    if checkpoint_every is None:
        out = None
        for r in range(1, int(n_merges) + 1):
            best = _bpe_best_pair(seqs)
            row = best.selectExpr(
                f"CAST({r} AS INT) AS rank",
                "l AS left_sym",
                "r AS right_sym",
                "concat(l, r) AS merged",
                "pair_count",
            )
            out = row if out is None else out.unionByName(row)
            seqs = _bpe_apply(seqs, best)
        return out
    every = max(1, int(checkpoint_every))
    spark = documents.sparkSession
    schema = (
        "rank int, left_sym string, right_sym string, merged string, "
        "pair_count long"
    )
    learned, _ = _bpe_train_frontier(documents, n_merges, every)
    return spark.createDataFrame(learned, schema)


def _bpe_train_frontier(
    documents: DataFrame, n_merges: int, every: int
) -> tuple[list[tuple], DataFrame]:
    """Frontier-mode trainer core: (learned merge tuples, final vocabulary
    seqs frame).  Shared by :func:`bpe_learn_merges` (ships the merge
    list) and :func:`bpe_encode_stats` (the final sequences ARE the
    encoder).

    Bounded single-process fast path: the trainer's working state is
    the VOCABULARY (materialized below — one corpus-sized shuffle), and
    greedy BPE is inherently sequential, so the distributed loop pays
    n_merges round-trips of pure job latency (~0.15 s/round on
    local[32]) to aggregate a frame that is usually tiny.  When the
    materialized vocabulary fits the driver bound
    (``_driver.DRIVER_ROWS_MAX``), pull (word, cnt, seq) once and run
    the rounds in-process — the same decision real tokenizer trainers
    make (HF/sentencepiece train single-node over the word-count
    table).  Above the bound the distributed loop below is
    unchanged, so the 100 TB posture (vocab too big for one process →
    per-round distributed aggregate) is intact.  Each step is an exact
    integer/string twin of the SQL (UTF-8 binary string order == Python
    code-point order; replace / trim scan semantics identical), pinned
    by pytest equality against the distributed mode and by the DuckDB
    oracle."""
    spark = documents.sparkSession
    # lazy: the vocabulary-size probe right below materializes it
    seqs = _bpe_vocab_seqs(documents).localCheckpoint(eager=False)
    learned: list[tuple] = []
    rows = collect_if_small(seqs)
    if rows is not None:
        vocab = [(row["word"], int(row["cnt"]), row["seq"]) for row in rows]
        for r in range(1, int(n_merges) + 1):
            counts: dict[tuple[str, str], int] = {}
            for _w, cnt, seq in vocab:
                syms = seq.split(" ")
                for i in range(len(syms) - 1):
                    p = (syms[i], syms[i + 1])
                    counts[p] = counts.get(p, 0) + cnt
            if not counts:
                break
            (l, rr), pc = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            learned.append((r, l, rr, l + rr, pc))
            pat, rep = f" {l}  {rr} ", f" {l}{rr} "
            vocab = [
                (
                    w,
                    cnt,
                    (" " + seq.replace(" ", "  ") + " ")
                    .replace(pat, rep)
                    .replace("  ", " ")
                    .strip(" "),
                )
                for w, cnt, seq in vocab
            ]
        out_seqs = spark.createDataFrame(
            vocab, "word string, cnt bigint, seq string"
        )
        return learned, out_seqs
    # The round loop runs with the session's AQE setting.  Turning AQE off
    # for the loop does not pay: on an open-vocabulary corpus
    # (tools/bpe_deep_measure.py: 20,000 docs, 56,135 word types, 64
    # merges, checkpoint_every=16, local[4] on 4 cores, bound 0), 10
    # interleaved pairs ran the loop with AQE ON faster in 8, median
    # 35.9 s vs 37.9 s, identical merge lists in every pair.  AQE is
    # session-wide, so toggling it here would also change the plans of
    # every query running beside the trainer.
    for r in range(1, int(n_merges) + 1):
        # ONE job per round: collect the TakeOrdered(1) argmax
        # directly — the collected row IS the trainer state, so
        # materializing it as a checkpointed frame first (a second
        # job per round) bought nothing, and inlining (l, r) as
        # literals turns the merge application into a pure projection
        # instead of a 1-row broadcast join (output pytest-pinned
        # identical to the unrolled mode).
        got = _bpe_best_pair(seqs).collect()
        if not got:
            break
        b = got[0]
        learned.append((r, b["l"], b["r"], b["l"] + b["r"], b["pair_count"]))
        seqs = _bpe_apply_literal(seqs, b["l"], b["r"])
        if r % every == 0:
            # lazy: the next round's argmax collect materializes it
            seqs = seqs.localCheckpoint(eager=False)
    return learned, seqs


def _bpe_doc_stats(documents: DataFrame, vocab_seqs: DataFrame) -> DataFrame:
    """Per-document encoding cost given trained vocabulary sequences —
    the shared back half of the inline and from-artifact encoders."""
    vocab = vocab_seqs.selectExpr(
        "word",
        "CAST(size(split(seq, ' ')) AS BIGINT) AS w_tokens",
        "CAST(length(word) AS BIGINT) AS w_chars",
    )
    words = documents.selectExpr(
        "doc_id", f"explode_outer({TOKENS}) AS word"
    ).filter("word IS NOT NULL AND word != ''")
    return (
        words.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("w_chars").cast("long").alias("n_chars"),
            F.sum("w_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .selectExpr(
            "doc_id",
            "n_words",
            "n_chars",
            "n_bpe_tokens",
            "CAST(n_chars AS DOUBLE) / n_bpe_tokens AS chars_per_token",
        )
    )


def write_bpe_merges(
    documents: DataFrame,
    path: str,
    n_merges: int = 4,
    checkpoint_every: int | None = None,
) -> None:
    """Persist the learned BPE merge list (once-per-tokenizer-design
    batch job) — the artifact a tokenizer SHIPS: new data is then
    encoded against the frozen list (:func:`bpe_encode_from_merges`,
    ``streaming.stream_bpe_encode``) so token accounting stays
    comparable across ingest batches, exactly like the frozen DSIR/LM
    models.  Real-vocabulary training passes ``checkpoint_every`` (the
    frontier-checkpoint mode) — the encode side's PLAN is
    depth-independent (one ``aggregate`` fold over the merge array,
    however long); its COST is linear in depth per VOCABULARY entry,
    independent of corpus rows (measured: docs/SCALE.md round 12)."""
    bpe_learn_merges(documents, n_merges, checkpoint_every).coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def bpe_encode_from_merges(
    spark, documents: DataFrame, merges_path: str
) -> DataFrame:
    """Encode documents against a PERSISTED merge list — the production
    shape: the merges are frozen at tokenizer-design time and applied in
    rank order WITHOUT retraining.  Pure plan, no driver collect: the
    merge list aggregates into one ordered array (model-sized,
    broadcast) and each word's sequence is rewritten by an
    ``aggregate`` fold over it — n_merges row-local replaces per
    VOCABULARY entry, never per corpus row.  Same output columns as
    :func:`bpe_encode_stats`, and equal to it when the store was trained
    on the same corpus (pytest-pinned)."""
    marr = spark.read.parquet(merges_path).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(rank, left_sym, "
            "right_sym, merged))), x -> struct(x.left_sym AS l, "
            "x.right_sym AS r, x.merged AS m))"
        ).alias("marr")
    )
    rewrite = (
        "aggregate(marr, seq, (acc, mg) -> trim(replace(replace("
        "concat(' ', replace(acc, ' ', '  '), ' '), "
        "concat(' ', mg.l, '  ', mg.r, ' '), "
        "concat(' ', mg.m, ' ')), '  ', ' ')))"
    )
    seqs = (
        _bpe_vocab_seqs(documents)
        .crossJoin(F.broadcast(marr))
        .selectExpr("word", "cnt", f"{rewrite} AS seq")
    )
    return _bpe_doc_stats(documents, seqs)


def bpe_encode_stats(documents: DataFrame, n_merges: int = 4) -> DataFrame:
    """Encode every document with the merges :func:`bpe_learn_merges`
    learns (same lazy plan — the trained vocabulary sequences ARE the
    encoder: a word's token count is the symbol count of its final
    sequence) and report per-document compression: (doc_id, n_words,
    n_chars, n_bpe_tokens, chars_per_token).  The number a tokenizer
    rollout reads — how many tokens this corpus costs under the learned
    vocabulary, against the character baseline.

    The per-word encode join is vocabulary-vs-corpus (hash join on the
    word), never quadratic; chars_per_token divides two exact integer
    sums, so the report is engine-exact.

    Trains through the frontier core (:func:`_bpe_train_frontier`) — the
    unrolled lazy chain nested every round's argmax subtree inside the
    next round's plan (quadratic plan growth), while the frontier path
    materializes the vocabulary once and (when it fits the bound) runs
    the rounds in-process.  The final sequences are identical
    (pytest-pinned frontier == unrolled; DuckDB-oracle-exact)."""
    _, seqs = _bpe_train_frontier(documents, n_merges, every=8)
    return _bpe_doc_stats(documents, seqs)


def curriculum_stages(
    documents: DataFrame, n_stages: int = 4, exact: bool = False
) -> DataFrame:
    """Length-based curriculum assignment: every document gets a training
    stage 1..n_stages by global token-count order (short/easy first —
    the standard curriculum-learning schedule for LM pretraining data).
    Returns (doc_id, source, n_tokens, stage), deterministic via the
    (n_tokens, doc_id) tie-break.

    Scale shape: one row-local scoring projection, then stage
    assignment.  The DEFAULT is the 100 TB mode: approx_percentile
    edges + a 1-row broadcast + row-local stage assignment
    (functions/quantiles.py) — no ``Exchange SinglePartition`` sort
    anywhere in the plan, rank error bounded by the sketch accuracy
    (parity pinned in tests/test_sampled_quantiles.py).  ``exact=True``
    opts into the global ntile window (shuffles (n_tokens, doc_id)
    pairs — two ints per document, never text — but sorts them on ONE
    task); it survives only as the DuckDB-oracle twin.
    """
    from pyspark.sql import Window as W

    scored = documents.selectExpr(
        "doc_id",
        f"coalesce(source, '{UNKNOWN_SOURCE}') AS source",
        f"size({TOKENS}) AS n_tokens",
    )
    if not exact:
        from admira_etl_project_prueba_spark.functions.quantiles import (
            with_sampled_buckets,
        )

        return with_sampled_buckets(
            scored, [("stage", "n_tokens", False)], int(n_stages)
        ).select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "stage",
        )
    w = W.partitionBy().orderBy("n_tokens", "doc_id")
    return scored.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.ntile(int(n_stages)).over(w).alias("stage"),
    )


def tokenizer_fertility(documents: DataFrame) -> DataFrame:
    """Per-language tokenizer fertility profile: how many characters one
    whitespace token spans in each language, plus corpus volume — the
    pre-training question "will a tokenizer trained elsewhere fit this
    language mix?" answered from counts alone (CJK-like scripts show low
    chars-per-token under whitespace splitting; that skew is exactly
    what this surfaces).  Returns one row per language: n_docs,
    n_tokens, n_chars, chars_per_token, tokens_per_doc.

    Scale shape: a row-local (lang, n_tokens, n_chars) projection then
    ONE map-side-combined groupBy on language — the shuffle carries at
    most |languages| × partitions rows of four ints.  Exact integer
    sums; the two ratios are single IEEE divisions (bit-stable across
    engines).
    """
    per_doc = documents.selectExpr(
        "coalesce(lang, '(unknown)') AS lang",
        f"size({TOKENS}) AS t",
        "length(text) AS c",
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("t").cast("long").alias("n_tokens"),
            F.sum("c").cast("long").alias("n_chars"),
        )
        .selectExpr(
            "lang",
            "n_docs",
            "n_tokens",
            "n_chars",
            "CAST(n_chars AS DOUBLE) / n_tokens AS chars_per_token",
            "CAST(n_tokens AS DOUBLE) / n_docs AS tokens_per_doc",
        )
        .orderBy("lang")
    )


def lang_source_mismatch(documents: DataFrame) -> DataFrame:
    """Language/source contamination: documents whose declared language
    differs from their source's dominant language — the crawl-hygiene
    check that catches feed mislabeling and injected foreign content
    before language-filtered training mixes are drawn.  Returns
    (doc_id, source, lang, dominant_lang, dominant_share) for mismatched
    docs only; ties on the dominant language break to the smaller lang.

    Scale shape: per-(source, lang) counts are map-side combined into a
    frame bounded by |sources| × |languages| (model-sized); the dominant
    pick is one hash-agg argmax over that tiny frame; the verdict joins
    back by broadcast — ONE corpus scan, no text shuffle, no window over
    the corpus.
    """
    tagged = documents.selectExpr(
        "doc_id",
        f"coalesce(source, '{UNKNOWN_SOURCE}') AS source",
        "coalesce(lang, '(unknown)') AS lang",
    )
    counts = tagged.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # argmax with a smallest-STRING tie-break can't ride one max-struct
    # (struct max would need a descending string field); two hash aggs
    # over the tiny counts frame stay exact and add no corpus work.
    top_n = counts.groupBy("source").agg(F.max("n").alias("n"))
    dominant = (
        counts.join(top_n, ["source", "n"])
        .groupBy("source")
        .agg(
            F.min("lang").alias("dominant_lang"),
            F.max("n").alias("n_dom"),
        )
    )
    totals = counts.groupBy("source").agg(F.sum("n").alias("n_total"))
    dom = dominant.join(totals, "source").selectExpr(
        "source",
        "dominant_lang",
        "CAST(n_dom AS DOUBLE) / n_total AS dominant_share",
    )
    return (
        tagged.join(F.broadcast(dom), "source")
        .filter(F.col("lang") != F.col("dominant_lang"))
        .select("doc_id", "source", "lang", "dominant_lang", "dominant_share")
    )


def leakage_safe_split(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    train_pct: int = 80,
    salt: str = "v1",
) -> DataFrame:
    """Near-dup-aware train/test split: assignment hashes the duplicate
    CLUSTER id (connected component over near-dup pairs), not the doc id,
    so a document and its near-duplicates always land in the SAME split —
    the contamination mode a plain per-doc split cannot prevent (train/
    test leakage through paraphrase-level copies is the classic eval
    inflation bug).  Returns (doc_id, component, split), deterministic
    and stable as the corpus grows, like :func:`train_test_split`.

    Scale shape: the component pass is the O(log² n) star clustering
    over banded LSH pairs (hash-only shuffles); the split itself is
    row-local hash arithmetic on the component id — no extra shuffle
    beyond the clustering the dedup pipeline already runs.
    """
    from admira_etl_project_prueba_spark.operators.graph import dedup_clusters

    if pairs is None:
        pairs = lsh_candidate_pairs(documents)
    cc = dedup_clusters(documents, pairs)
    keyed = f"concat(component, '_', '{salt}')"
    bucket = f"{hex60(keyed)} % 100"
    return cc.selectExpr(
        "doc_id",
        "component",
        f"CASE WHEN {bucket} < {train_pct} THEN 'train' ELSE 'test' END AS split",
    )


def oov_rate(documents: DataFrame, reference: DataFrame) -> DataFrame:
    """Per-source out-of-vocabulary rate against a reference corpus: the
    share of token OCCURRENCES whose token never appears in the
    reference — the cheap 'will a tokenizer/model trained on A choke on
    B?' audit, and the vocabulary-side complement of the distributional
    KL monitor.  Returns (source, n_tokens, n_oov, oov_rate).

    Scale shape: the corpus reduces map-side to (source, token, count)
    and the reference to its distinct-token vocabulary; the flag join is
    hash-partitioned on token (broadcastable when the vocab is
    model-sized); the final per-source fold shuffles |sources| rows.
    Token text shuffles once on each side — no document text moves.
    """
    corpus = (
        documents.selectExpr(
            f"coalesce(source, '{UNKNOWN_SOURCE}') AS source",
            f"explode_outer({TOKENS}) AS token",
        )
        .filter("token IS NOT NULL AND token != ''")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = (
        reference.selectExpr(f"explode_outer({TOKENS}) AS token")
        .filter("token IS NOT NULL AND token != ''")
        .select("token")
        .distinct()
        .withColumn("_known", F.lit(1))
    )
    return (
        corpus.join(vocab, "token", "left")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_known").isNull(), F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_oov"),
        )
        .selectExpr(
            "source",
            "n_tokens",
            "n_oov",
            "CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate",
        )
        .orderBy("source")
    )


def mixture_plan(
    documents: DataFrame,
    weights: dict[str, float],
    budget_tokens: int,
) -> DataFrame:
    """Data-mixture sampling plan: given target mixture weights per
    source and a total token budget, compute each source's sampling
    rate, expected token yield, and saturation verdict — the planning
    step BEFORE :func:`mixture_sample` draws documents.  Also reports
    ``max_exact_budget`` (the largest budget at which NO source
    saturates = min over sources of n_tokens/weight): above it the
    realized mixture deviates from the target and the planner should
    re-weight or accept the under-served source.

    Exact arithmetic end to end: token counts are integer sums, targets
    and rates single IEEE operations.  Sources present in the corpus but
    absent from ``weights`` get weight 0 (rate 0) rather than being
    dropped, so the plan is a complete audit of the corpus.

    Scale shape: ONE map-side-combined groupBy over (source) — the plan
    frame is |sources| rows; the weight table enters as a broadcast
    literal frame and the global min is a 1-row broadcast scalar.
    """
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    toks = (
        documents.selectExpr(
            f"coalesce(source, '{UNKNOWN_SOURCE}') AS source",
            f"size({TOKENS}) AS t",
        )
        .groupBy("source")
        .agg(F.sum("t").cast("long").alias("n_tokens"))
    )
    spark = documents.sparkSession
    w = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(weights.items())],
        "source string, weight double",
    )
    base = toks.join(F.broadcast(w), "source", "left").selectExpr(
        "source",
        "n_tokens",
        "coalesce(weight, 0.0) AS weight",
        f"coalesce(weight, 0.0) * {int(budget_tokens)} AS target_tokens",
    )
    feasible = base.filter("weight > 0").agg(
        F.min(F.col("n_tokens") / F.col("weight")).alias("max_exact_budget")
    )
    return (
        base.crossJoin(F.broadcast(feasible))
        .selectExpr(
            "source",
            "n_tokens",
            "weight",
            "target_tokens",
            "least(1.0, target_tokens / n_tokens) AS rate",
            "least(1.0, target_tokens / n_tokens) * n_tokens AS expected_tokens",
            "target_tokens > n_tokens AS saturated",
            "max_exact_budget",
        )
        .orderBy("source")
    )


def packing_stats(
    documents: DataFrame,
    token_budget: int = 512,
    docs_per_shard: int | None = 1_000_000,
) -> DataFrame:
    """Packing-efficiency report for :func:`sequence_pack`: one row per
    shard with the sequence count the packed stream cuts into
    (ceil(total/budget) — offset packing is padding-free except the
    tail), the tail waste in tokens, and how many documents straddle a
    pack boundary (each straddle is a training sequence cut
    mid-document — the quality cost of offset packing).  The go/no-go
    check before materializing a packed layout.

    Scale shape: rides sequence_pack's per-shard window (already
    partition-parallel), then folds to ONE row per shard — the report
    frame is |shards|-sized.  Exact integer arithmetic (ceil via
    integer DIV, no float rounding); the utilization is one IEEE
    divide.
    """
    packed = sequence_pack(documents, token_budget, docs_per_shard)
    b = int(token_budget)
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(
                (
                    F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / b)
                    > F.col("pack_id")
                ).cast("long")
            ).alias("n_straddling"),
        )
        .selectExpr(
            "shard",
            "n_docs",
            "total_tokens",
            f"(total_tokens + {b} - 1) DIV {b} AS n_sequences",
            f"((total_tokens + {b} - 1) DIV {b}) * {b} - total_tokens AS tail_waste_tokens",
            f"CAST(total_tokens AS DOUBLE) / (((total_tokens + {b} - 1) DIV {b}) * {b})"
            " AS utilization",
            "n_straddling",
        )
        .orderBy("shard")
    )


def kwic(documents: DataFrame, term: str, width: int = 3) -> DataFrame:
    """Keyword-in-context concordance: every occurrence of ``term`` with
    up to ``width`` tokens of left/right context — the corpus-
    exploration view behind every 'show me how this word is used'
    request (and the manual-review surface for contamination/PII hits).
    Returns (doc_id, pos, left_ctx, right_ctx), deterministic.

    Scale shape: the positional explode filters to the term BEFORE
    anything shuffles, so downstream volume is the term's document
    frequency; context slicing is row-local array arithmetic on the
    token array riding the matched rows only.  The corpus scan is the
    linear cost — :func:`kwic_from_index` removes it.
    """
    w = int(width)
    t = term.lower()
    toks = documents.selectExpr("doc_id", f"{TOKENS} AS t")
    return (
        toks.selectExpr("doc_id", "t", "posexplode_outer(t) AS (pos, token)")
        .filter(F.col("token") == F.lit(t))
        .selectExpr(
            "doc_id",
            "pos",
            f"array_join(slice(t, greatest(1, pos + 1 - {w}), least({w}, pos)), ' ')"
            " AS left_ctx",
            f"array_join(slice(t, pos + 2, {w}), ' ') AS right_ctx",
        )
        .orderBy("doc_id", "pos")
    )


def kwic_from_index(
    spark,
    index_path: str,
    documents: DataFrame,
    term: str,
    width: int = 3,
    num_buckets: int = 64,
) -> DataFrame:
    """Index-backed KWIC: the positional index (bucket + term literal
    predicates → one partition directory) finds the matching (doc_id,
    positions) WITHOUT scanning the corpus; only the matching documents
    are then read back for context — a semi-join-pruned corpus read
    bounded by the term's document frequency.  Output is parity-pinned
    against :func:`kwic`.
    """
    t = term.lower()
    bucket = (
        int(__import__("hashlib").md5(t.encode()).hexdigest()[:15], 16)
        % num_buckets
    )
    posting = spark.read.parquet(
        f"{text_index_root(spark, index_path)}/postings"
    ).filter((F.col("term_bucket") == bucket) & (F.col("term") == F.lit(t)))
    hits = posting.select("doc_id", F.explode("positions").alias("pos"))
    ctx = documents.join(
        hits.select("doc_id").distinct(), "doc_id", "left_semi"
    ).selectExpr("doc_id", f"{TOKENS} AS t")
    w = int(width)
    return (
        hits.join(ctx, "doc_id")
        .selectExpr(
            "doc_id",
            "pos",
            f"array_join(slice(t, greatest(1, pos + 1 - {w}), least({w}, pos)), ' ')"
            " AS left_ctx",
            f"array_join(slice(t, pos + 2, {w}), ' ') AS right_ctx",
        )
        .orderBy("doc_id", "pos")
    )


def write_training_shards(
    documents: DataFrame,
    path: str,
    token_budget: int = 512,
    docs_per_shard: int | None = 1_000_000,
) -> None:
    """Materialize the packed training layout: parquet partitioned by
    ``shard``, each row carrying (doc_id, pack_id, start_offset,
    n_tokens, text) in stream order — exactly what a pretraining loader
    consumes shard-by-shard, with every offset precomputed so the loader
    never re-tokenizes.  The write applies the one-file-per-partition
    discipline (repartition("shard") BEFORE partitionBy — the measured
    19× build fix from the text index): without it every task touches
    every shard directory and the layout degenerates into
    tasks × shards small files.
    """
    packed = sequence_pack(documents, token_budget, docs_per_shard)
    out = documents.select("doc_id", "text").join(packed, "doc_id").select(
        "shard", "pack_id", "start_offset", "n_tokens", "doc_id", "text"
    )
    (
        out.repartition("shard")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def read_training_shard(spark, path: str, shard: int) -> DataFrame:
    """Partition-pruned read of ONE training shard, in stream order —
    the loader-side contract of :func:`write_training_shards` (the
    filter prunes to the shard directory; no other shard's bytes are
    touched)."""
    return (
        spark.read.parquet(path)
        .filter(F.col("shard") == int(shard))
        .orderBy("doc_id")
    )


def merge_text_index(
    spark, path: str, new_documents: DataFrame, num_buckets: int = 64
) -> None:
    """Append-merge a NEW document batch into the persisted BM25 index —
    the incremental maintenance the index layout was designed for, now
    as an operation: the batch's postings APPEND to the existing bucket
    directories' files (no old posting is decoded or rewritten — one
    extra file per touched bucket per batch, compacted by
    :func:`compact_index_store` when file counts warrant), and the
    corpus stats fold EXACTLY via the stored decimal dl_sum, so the
    merged index is bit-identical to a from-scratch rebuild over the
    union (pytest-pinned).  Contract: new doc_ids must be new —
    re-ingesting an id duplicates its postings (use the rebuild path for
    corrections, like the LSH store's new-wins merge).

    Committed versions are immutable, so the merge lands as the NEXT
    version: the current postings are byte-copied into the scratch dir
    (:func:`functions.fs.copy_tree` — no decode, file layout and fan-out
    preserved), the batch postings append there, the folded stats are
    written beside them, and one rename commits the whole payload.
    Readers of the old version keep a consistent postings+stats
    snapshot.

    Scale shape: indexing cost is one scan of the NEW batch only; the
    repartition-before-partitionBy discipline keeps the append at one
    file per bucket; stats are a 1-row read + 1-row write.  The copy
    forward is index-sized I/O, so a merge costs O(index) bytes moved.
    """
    dl, postings = _text_postings(new_documents, num_buckets)
    batch = dl.agg(
        F.count(F.lit(1)).cast("long").alias("b_docs"),
        F.sum(F.col("dl").cast(_DEC)).alias("b_sum"),
    )

    def write(tmp):
        # resolved under the lease: the copy and the stats fold read
        # the same version
        root = text_index_root(spark, path)
        copy_tree(spark, f"{root}/postings", f"{tmp}/postings")
        _write_postings(postings, f"{tmp}/postings", "append")
        (
            spark.read.parquet(f"{root}/stats")
            .crossJoin(F.broadcast(batch))
            .selectExpr(
                "CAST(dl_sum + b_sum AS DOUBLE) / (n_docs + b_docs) AS avgdl",
                "n_docs + b_docs AS n_docs",
                f"CAST(dl_sum + b_sum AS {_DEC}) AS dl_sum",
            )
            .write.mode("overwrite")
            .parquet(f"{tmp}/stats")
        )

    _commit_index(spark, path, write)


def merge_positional_index(
    documents: DataFrame, path: str, num_buckets: int = 64
) -> None:
    """Append-merge a NEW document batch into the positional index —
    simpler than :func:`merge_text_index` because positions are
    strictly per-document state: the batch's postings append to the
    copied-forward bucket directories and there is no global statistic
    to fold.  Same contract: new doc_ids only (rebuild for corrections);
    one extra file per touched bucket per batch; indexing cost is one
    scan of the new batch; the merge commits the NEXT version.
    """
    spark = documents.sparkSession
    postings = _positional_postings(documents, num_buckets)

    def write(tmp):
        root = text_index_root(spark, path)
        copy_tree(spark, f"{root}/postings", f"{tmp}/postings")
        _write_postings(postings, f"{tmp}/postings", "append")

    _commit_index(spark, path, write)


def index_files_per_bucket(spark, path: str) -> DataFrame:
    """Posting-file fan-out of an incremental index store: (term_bucket,
    n_files), engine-portable via ``input_file_name`` (works on any
    filesystem Spark reads, not just local).  Each :func:`merge_text_index`
    / :func:`merge_positional_index` batch appends ONE file per touched
    bucket, so n_files ≈ 1 + merges-since-compaction — the number an
    index owner watches to schedule :func:`compact_index_store`."""
    return (
        spark.read.parquet(f"{text_index_root(spark, path)}/postings")
        .select("term_bucket", F.input_file_name().alias("f"))
        .distinct()
        .groupBy("term_bucket")
        .agg(F.count(F.lit(1)).cast("int").alias("n_files"))
    )


#: shared compaction-trigger default — corpus_service._text_index_health
#: reads this so the API verdict tracks the operator-level trigger
MAX_FILES_PER_BUCKET = 8


def needs_compaction(
    spark, path: str, max_files_per_bucket: int = MAX_FILES_PER_BUCKET
) -> bool:
    """The compaction trigger: True when any bucket's posting-file count
    exceeds the threshold (small-file reads start dominating probe
    latency long before correctness is affected — results are identical
    at any fan-out)."""
    return (
        index_files_per_bucket(spark, path)
        .filter(F.col("n_files") > int(max_files_per_bucket))
        .limit(1)
        .count()
        > 0
    )


def compact_index_store(spark, path: str) -> None:
    """Compact an incremental text/positional index back to ONE posting
    file per bucket — the third leg of the index lifecycle (build →
    append-merge × N → compact), so reclaiming the merge fan-out needs
    no corpus-scan rebuild.

    The postings are repartitioned BY the bucket column (each bucket
    lands in exactly one task ⇒ exactly one file per directory) and
    written, with a byte copy of the 1-row stats table (text index),
    as the NEXT version, committed by one rename: an in-flight scan of
    the current version never loses a file, and a failure before the
    commit leaves only invisible scratch.  Query results are
    bit-identical before and after (pytest-pinned): compaction moves
    bytes, never values.  Cost is INDEX-sized, not corpus-sized — the
    postings frame is read and written once, with no tokenization and
    no touch of the documents table.
    """

    def write(tmp):
        root = text_index_root(spark, path)
        _write_postings(
            spark.read.parquet(f"{root}/postings"), f"{tmp}/postings", "overwrite"
        )
        if path_exists(spark, f"{root}/stats"):
            copy_tree(spark, f"{root}/stats", f"{tmp}/stats")

    _commit_index(spark, path, write)
