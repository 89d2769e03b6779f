"""Dedup + text-analysis operator tests with PLANTED fixtures — the
self-consistency coverage behind the rows-only/oracle checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from admira_etl_project_prueba_spark.operators import textops

BASE = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "aggregates partitions of shuffled data across the cluster nodes"
)


def docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.fixture(scope="module")
def planted(spark):
    near = BASE.replace("lazy dog", "sleepy dog")  # 1-word change ⇒ high jaccard
    far = "completely unrelated content talking about cooking pasta and sauce recipes all day long"
    return docs(
        spark,
        [
            (1, BASE, "en"),
            (2, BASE, "en"),                      # exact dup of 1
            (3, "  " + BASE.upper() + "  ", "en"),  # normalized dup of 1
            (4, near, "en"),                      # near dup of 1
            (5, far, "en"),
        ],
    )


def test_dedup_exact(planted):
    out = {r["keep_doc_id"]: r["n_copies"] for r in textops.dedup_exact(planted).collect()}
    assert out[1] == 2          # docs 1+2 collapse
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_dedup_exact_normalized(planted):
    out = {
        r["keep_doc_id"]: r["n_copies"]
        for r in textops.dedup_exact(planted, normalized=True).collect()
    }
    assert out[1] == 3          # case/whitespace-folded: 1+2+3 collapse


def test_lsh_finds_planted_near_dup(planted):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in textops.lsh_candidate_pairs(planted).collect()
    }
    assert pairs[(1, 2)] == 1.0                   # exact dup: jaccard 1
    assert (1, 4) in pairs and pairs[(1, 4)] > 0.7  # planted near dup
    assert all(not (a == 5 or b == 5) or j < 0.1 for (a, b), j in pairs.items())


def test_simhash_hamming_tracks_similarity(planted):
    sh = {r["doc_id"]: r["simhash"] for r in textops.simhash64(planted).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert sh[1] == sh[2]                         # identical text ⇒ identical hash
    assert ham(sh[1], sh[4]) < ham(sh[1], sh[5])  # near dup closer than far doc


def test_minhash_signature_shape_and_determinism(planted):
    sigs = textops.minhash_signatures(planted).collect()
    assert len(sigs) == 5 * 16
    by_doc = {}
    for r in sigs:
        by_doc.setdefault(r["doc_id"], {})[r["perm"]] = r["minhash"]
    assert by_doc[1] == by_doc[2]                 # same text ⇒ same signature
    assert all(0 <= v < 2**31 for v in by_doc[1].values())


def test_minhash_empty_doc_sentinel(spark):
    d = docs(spark, [(1, "one two", "en")])       # < 3 tokens ⇒ no shingles
    sigs = textops.minhash_signatures(d).collect()
    assert all(r["minhash"] == textops.MERSENNE31 for r in sigs)


def test_band_bucket_rows_match_longform_banding(planted, spark):
    """The row-local band-bucket projection (round 14: no stack +
    groupBy(doc_id, band) exchange) emits EXACTLY the long-form
    aggregate's bucket strings — including the empty-doc sentinel and an
    uneven final band when band_size does not divide num_perm."""
    empty = docs(spark, [(99, "one two", "en")])  # < 3 tokens ⇒ no shingles
    d = planted.unionByName(empty)
    for num_perm, band_size in ((16, 2), (16, 3)):
        sh = textops.shingle_hashes(d, 3)
        got = sorted(
            map(tuple, textops._band_bucket_rows(sh, num_perm, band_size).collect())
        )
        sigs = textops.minhash_signatures(None, num_perm, 3, sh=sh)
        want = sorted(
            map(
                tuple,
                sigs.withColumn("band", (F.col("perm") / band_size).cast("long"))
                .groupBy("doc_id", "band")
                .agg(
                    F.min("minhash").alias("lo"),
                    F.max("minhash").alias("hi"),
                    F.sum("minhash").alias("s"),
                )
                .selectExpr("doc_id", "concat_ws('_', band, lo, hi, s) AS bucket")
                .collect(),
            )
        )
        assert got == want, (num_perm, band_size)


def test_token_stats_and_quality(spark):
    d = docs(spark, [(1, "The the THE cat", "en")])
    s = textops.token_stats(d).collect()[0]
    assert s["n_tokens"] == 4 and s["n_unique_tokens"] == 2  # lowercased
    q = textops.quality_scores(d).collect()[0]
    assert q["stopword_ratio"] == pytest.approx(0.75)
    assert q["ttr"] == pytest.approx(0.5)


def test_language_id_markers(spark):
    d = docs(
        spark,
        [
            (1, "the cat is one of the best and friendly", "en"),
            (2, "el gato de la casa es de los mejores", "es"),
            (3, "zzz qqq xxx", "xx"),
        ],
    )
    out = {r["doc_id"]: r["lang_predicted"] for r in textops.language_id(d).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "und"


def test_fingerprint_normalization(spark):
    d = docs(spark, [(1, "A  B\tC", "en"), (2, "a b c", "en")])
    fp = {r["doc_id"]: r for r in textops.fingerprints(d).collect()}
    assert fp[1]["md5_raw"] != fp[2]["md5_raw"]
    assert fp[1]["md5_normalized"] == fp[2]["md5_normalized"]


def test_dedup_plan_shuffles_hashes_not_text(planted):
    """The exchange key must be the 32-byte hash — shuffle volume is
    independent of document size (the 100 TB-safe property)."""
    plan = textops.dedup_exact(planted)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "text" not in plan.split("Exchange", 1)[1].split("HashAggregate", 1)[0]

def test_simhash_pairs_find_planted_near_dup(planted):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in textops.simhash_near_dup_pairs(planted).collect()
    }
    assert pairs.get((1, 2)) == 0          # exact dup: identical fingerprint
    assert (1, 4) in pairs                 # 1-word change: within 3 bits
    assert not any(5 in p for p in pairs)  # unrelated doc never pairs


def test_simhash_pigeonhole_guard(planted):
    with pytest.raises(AssertionError):
        textops.simhash_near_dup_pairs(planted, n_bands=4, max_hamming=4)


def test_ngram_jaccard_exact_pairs(planted):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in textops.ngram_jaccard_pairs(planted, threshold=0.2).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 4)] > 0.7 and pairs[(2, 4)] > 0.7
    assert not any(5 in p for p in pairs)


def test_ngram_jaccard_agrees_with_lsh_verify(planted):
    """The exact baseline and the LSH path must agree on shared pairs."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in textops.ngram_jaccard_pairs(planted, threshold=0.0).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in textops.lsh_candidate_pairs(planted).collect()
    }
    for pair, j in lsh.items():
        assert exact[pair] == pytest.approx(j)


def test_dedup_incremental_rejects_seen_and_batch_dups(spark, planted):
    # seen store holds BASE's normalized hash (doc 1's content)
    seen = textops.fingerprints(planted.filter(F.col("doc_id") == 1)).select(
        F.col("md5_normalized").alias("content_hash")
    )
    # new batch: 2 (dup of seen), 3 (normalized dup of seen), 4+5 (new),
    # plus an in-batch duplicate pair 6≡7
    extra = docs(
        spark,
        [(6, "brand new content here", "en"), (7, "brand new content here", "en")],
    )
    new_batch = planted.filter(F.col("doc_id") >= 2).unionByName(extra)
    kept = sorted(
        r["doc_id"] for r in textops.dedup_incremental(new_batch, seen).collect()
    )
    assert kept == [4, 5, 6]  # 2,3 seen; 7 loses in-batch to 6


def test_quality_filter_reasons_and_precedence(spark):
    d = docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog today", "en"),
            (2, "hi", "en"),                                  # too_short wins
            (3, "el gato de la casa es de los mejores hoy", "es"),
            (4, "zz qq xx ww vv kk pp", "xx"),                # und → lang_not_allowed
            (5, "aaaaaaaaaaaaaaaaaaaaaa " * 6, "en"),         # tokens_too_long
        ],
    )
    out = {
        r["doc_id"]: (r["kept"], r["reject_reason"])
        for r in textops.quality_filter(d, langs=("en", "es")).collect()
    }
    assert out[1] == (True, None)
    assert out[2] == (False, "too_short")
    assert out[3] == (True, None)
    assert out[4] == (False, "lang_not_allowed")
    assert out[5] == (False, "tokens_too_long")


def test_train_test_split_deterministic_and_stable(spark, sf_dir):
    """Same (id, salt) ⇒ same split on every call; different salt redraws;
    proportions near the requested 80/20."""
    docs_t = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s1 = {r["doc_id"]: r["split"] for r in textops.train_test_split(docs_t).collect()}
    s2 = {r["doc_id"]: r["split"] for r in textops.train_test_split(docs_t).collect()}
    assert s1 == s2
    frac = sum(1 for v in s1.values() if v == "train") / len(s1)
    assert 0.7 < frac < 0.9
    s3 = {r["doc_id"]: r["split"] for r in textops.train_test_split(docs_t, salt="v2").collect()}
    assert s3 != s1  # a new salt draws a different split


def test_stratified_sample_respects_mixture(spark, sf_dir):
    docs_t = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = textops.stratified_sample(docs_t, fractions={"en": 0.3, "es": 0.6}, seed=7)
    a = {r["doc_id"] for r in out.collect()}
    b = {r["doc_id"] for r in textops.stratified_sample(
        docs_t, fractions={"en": 0.3, "es": 0.6}, seed=7).collect()}
    assert a == b  # seed-deterministic
    got = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert got <= {"en", "es"}  # unlisted strata dropped
    n_en_all = docs_t.filter("lang = 'en'").count()
    n_en = out.filter("lang = 'en'").count()
    assert 0.1 < n_en / n_en_all < 0.5  # ~0.3 requested


def test_sequence_pack_invariants(spark, sf_dir):
    """Per shard, offsets tile the stream exactly (no gaps/overlap) and
    pack_id is the budget bin of each start offset, monotone in doc order;
    the global (docs_per_shard=None) form is the single-shard special case."""
    docs_t = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for dps in (64, None):
        rows = sorted(
            textops.sequence_pack(docs_t, token_budget=512, docs_per_shard=dps).collect(),
            key=lambda r: (r["shard"], r["doc_id"]),
        )
        n_shards = len({r["shard"] for r in rows})
        assert n_shards == 1 if dps is None else n_shards > 1
        expect, last_pack = {}, {}
        for r in rows:
            s = r["shard"]
            if dps is not None:
                assert s == r["doc_id"] // dps
            assert r["start_offset"] == expect.get(s, 0)
            assert r["pack_id"] == r["start_offset"] // 512
            assert r["pack_id"] >= last_pack.get(s, 0)
            expect[s] = r["start_offset"] + r["n_tokens"]
            last_pack[s] = r["pack_id"]


def test_sequence_pack_sharded_plan_parallelizes(spark, sf_dir):
    """The default (sharded) window must hash-partition on the shard key —
    no SinglePartition exchange anywhere in the plan.  The global form is
    exactly one, by construction."""
    docs_t = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sharded = textops.sequence_pack(docs_t, docs_per_shard=128)
    plan = sharded._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    global_form = textops.sequence_pack(docs_t, docs_per_shard=None)
    gplan = global_form._jdf.queryExecution().executedPlan().toString()
    assert gplan.count("SinglePartition") == 1


def test_text_ops_handle_unicode(spark):
    """CJK, accents, and emoji flow through the whole text pipeline: token
    stats, fingerprints, dedup, language ID, split — no crashes, sensible
    values, and md5 fingerprints stable over unicode content."""
    d = docs(
        spark,
        [
            (1, "的 是 了 在 我 的 是 了", "zh"),
            (2, "café naïve résumé über garçon", "fr"),
            (3, "mixed ascii and 🎉 emoji tokens here", "en"),
            (4, "mixed ascii and 🎉 emoji tokens here", "en"),  # exact dup of 3
        ],
    )
    stats = {r["doc_id"]: r for r in textops.token_stats(d).collect()}
    assert stats[1]["n_tokens"] == 8 and stats[1]["n_unique_tokens"] == 5
    assert stats[2]["n_tokens"] == 5

    lang = {r["doc_id"]: r["lang_predicted"] for r in textops.language_id(d).collect()}
    assert lang[1] == "zh"

    dd = {r["keep_doc_id"]: r["n_copies"] for r in textops.dedup_exact(d).collect()}
    assert dd[3] == 2  # unicode-equal texts hash identically

    fp = {r["doc_id"]: r["md5_raw"] for r in textops.fingerprints(d).collect()}
    assert len(set(fp.values())) == 3  # 3 distinct texts

    splits = {r["doc_id"]: r["split"] for r in textops.train_test_split(d).collect()}
    assert set(splits.values()) <= {"train", "test"} and len(splits) == 4


def test_text_ops_handle_empty_and_whitespace_docs(spark):
    """Empty/whitespace-only docs flow through scoring, shingling, and LSH
    without division errors; they normalize-dedup together; minhash gives
    the stable empty-set sentinel."""
    d = docs(spark, [(1, "", "en"), (2, "   ", "en"), (3, "real content here", "en")])
    q = {r["doc_id"]: r for r in textops.quality_scores(d).collect()}
    assert q[1]["n_tokens"] is not None  # no crash; defined behavior
    dd = {
        r["keep_doc_id"]: r["n_copies"]
        for r in textops.dedup_exact(d, normalized=True).collect()
    }
    assert dd[1] == 2  # "" and "   " normalize to the same hash
    sigs = textops.minhash_signatures(d.filter(F.col("doc_id") == 1))
    assert {r["minhash"] for r in sigs.collect()} == {2_147_483_647}  # sentinel
    pairs = textops.lsh_candidate_pairs(d).collect()
    assert all({p["doc_a"], p["doc_b"]} != {1, 3} for p in pairs)


def test_tfidf_prefers_rare_terms(spark):
    """A term unique to one doc must outrank corpus-wide terms there."""
    d = docs(
        spark,
        [
            (1, "common common common zebra", "en"),
            (2, "common words appear here", "en"),
            (3, "common words appear here too", "en"),
        ],
    )
    top = {
        (r["doc_id"], r["rnk"]): r["token"]
        for r in textops.tfidf_top_terms(d, top_k=2).collect()
    }
    # doc 1: tf(common)=3 × idf 3/3=1 → 3.0;  tf(zebra)=1 × idf 3/1=3 → 3.0
    # tie broken alphabetically: 'common' then 'zebra'
    assert {top[(1, 1)], top[(1, 2)]} == {"common", "zebra"}
    # docs 2/3: 'common' (df 3) must rank below doc-specific rarer terms
    assert top[(2, 1)] != "common"


def test_chunking_covers_and_overlaps(spark):
    """Chunks tile each document with the configured stride and overlap;
    reassembling stride-aligned prefixes reconstructs the token stream."""
    text = " ".join(f"w{i}" for i in range(10))
    d = docs(spark, [(1, text, "en")])
    rows = sorted(
        textops.chunk_documents(d, chunk_size=4, overlap=2).collect(),
        key=lambda r: r["chunk_id"],
    )
    assert [r["start"] for r in rows] == [1, 3, 5, 7, 9]
    assert rows[0]["chunk_text"] == "w0 w1 w2 w3"
    assert rows[1]["chunk_text"] == "w2 w3 w4 w5"      # 2-token overlap
    assert rows[-1]["chunk_text"] == "w8 w9"           # trailing partial
    # stride-aligned first halves reassemble the original stream
    rebuilt = " ".join(" ".join(r["chunk_text"].split()[:2]) for r in rows)
    assert rebuilt == text


def test_lsh_incremental_matches_full_corpus_cross_pairs(spark, planted, tmp_path):
    """A batch joined against a parquet-persisted signature store must find
    exactly the corpus↔batch pairs the full-corpus LSH finds, with the same
    jaccards — and must do it without shuffling the store."""
    old = planted.filter("doc_id <= 3")
    new = planted.filter("doc_id >= 4")
    store_path = str(tmp_path / "sig_store")
    textops.lsh_signature_store(old).write.parquet(store_path)
    store = spark.read.parquet(store_path)

    inc = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in textops.lsh_incremental_pairs(new, store).collect()
    }
    full = textops.lsh_candidate_pairs(planted)
    cross = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"])): r["jaccard"]
        for r in full.collect()
        if (r["doc_a"] <= 3) != (r["doc_b"] <= 3)
    }
    assert {(min(a, b), max(a, b)): j for (a, b), j in inc.items()} == cross
    assert (1, 4) in cross and cross[(1, 4)] > 0.7  # planted near dup crossed the split

    # scale contract: every join broadcasts the batch/candidate side, and
    # the only shuffle is the candidate-pair distinct — (doc_a, doc_b) key
    # pairs, never the store's shingle sets or text
    plan = (
        textops.lsh_incremental_pairs(new, store)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "sh#" not in line and "text#" not in line and "buckets#" not in line


def test_repetition_scores_planted(spark):
    """A looping doc scores high duplication; an all-distinct doc scores 0;
    sub-shingle docs get NULL fractions, never 0/0."""
    d = docs(
        spark,
        [
            (1, "buy now buy now buy now buy now", "en"),
            (2, "every word here is completely distinct today", "en"),
            (3, "hi", "en"),
        ],
    )
    out = {r["doc_id"]: r for r in textops.repetition_scores(d).collect()}
    assert out[1]["dup_token_frac"] == pytest.approx(1 - 2 / 8)
    # 6 shingles, only 2 distinct ("buy now buy" / "now buy now")
    assert out[1]["dup_shingle_frac"] == pytest.approx(1 - 2 / 6)
    assert out[2]["dup_token_frac"] == 0.0 and out[2]["dup_shingle_frac"] == 0.0
    assert out[3]["n_shingles"] == 0 and out[3]["dup_shingle_frac"] is None
    plan = textops.repetition_scores(d)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # row-local


def test_decontaminate_flags_planted_overlap(spark):
    """A doc embedding a benchmark 8-gram is flagged with the right overlap
    count; clean docs pass; the benchmark side is broadcast."""
    bench = docs(spark, [(100, "alpha beta gamma delta epsilon zeta eta theta", "en")])
    corpus = docs(
        spark,
        [
            # contains the full 8-token eval sentence → 1 shared 8-shingle
            (1, "intro words alpha beta gamma delta epsilon zeta eta theta outro", "en"),
            (2, "totally unrelated sentence with eight distinct words inside it", "en"),
            # shares only 7 consecutive tokens → NOT contaminated at k=8
            (3, "alpha beta gamma delta epsilon zeta eta something else", "en"),
        ],
    )
    out = {r["doc_id"]: r for r in textops.decontaminate(corpus, bench, k=8).collect()}
    assert out[1]["contaminated"] and out[1]["n_overlap"] == 1
    assert not out[2]["contaminated"] and out[2]["n_overlap"] == 0
    assert not out[3]["contaminated"]
    plan = (
        textops.decontaminate(corpus, bench, k=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan  # eval hashes broadcast, semi-join


def test_build_training_corpus_statuses(spark):
    """Every pipeline outcome appears and is consistent: quality rejects
    never reach dedup, dup losers point at a surviving component, and
    survivors land in train/test deterministically."""
    from admira_etl_project_prueba_spark.operators.pipeline import (
        build_training_corpus,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the spark engine "
        "aggregates partitions of shuffled data across the cluster nodes"
    )
    d = docs(
        spark,
        [
            (1, base, "en"),
            (2, base + " with extra trailing context preserved here", "en"),
            (3, "hi", "en"),                                   # too_short
            (4, "zz qq xx ww vv kk pp mm nn oo", "xx"),        # lang_not_allowed
            (5, "a perfectly fine unrelated document about the weather and the sea today", "en"),
        ],
    )
    out = {r["doc_id"]: r for r in build_training_corpus(d).collect()}
    assert len(out) == 5

    # quality rejects: no component, no survivor flag
    assert out[3]["status"] == "rejected_quality" and out[3]["reject_reason"] == "too_short"
    assert out[4]["status"] == "rejected_quality"
    assert out[3]["component"] is None and out[3]["survivor"] is None

    # near-dup pair 1/2: longer doc 2 survives, 1 removed into 2's component
    assert out[1]["status"] == "dup_removed" and not out[1]["survivor"]
    assert out[2]["survivor"] and out[2]["status"] in ("train", "test")
    assert out[1]["component"] == out[2]["component"]

    # singleton survivor gets a split; assignment is the deterministic hash
    assert out[5]["status"] in ("train", "test")
    want_split = {
        r["doc_id"]: r["split"]
        for r in textops.train_test_split(d).select("doc_id", "split").collect()
    }
    assert out[2]["status"] == want_split[2] and out[5]["status"] == want_split[5]


def test_bigram_frequencies_planted(spark):
    """Bigram counts tile adjacent token pairs; sub-2-token docs contribute
    nothing; doc frequency counts distinct docs."""
    d = docs(
        spark,
        [
            (1, "to be or not to be", "en"),
            (2, "to be honest", "en"),
            (3, "single", "en"),
        ],
    )
    out = {
        r["bigram"]: (r["n_occurrences"], r["doc_frequency"])
        for r in textops.bigram_frequencies(d, top_k=50).collect()
    }
    assert out["to be"] == (3, 2)      # twice in doc 1, once in doc 2
    assert out["be or"] == (1, 1) and out["not to"] == (1, 1)
    assert "single" not in out and sum(n for n, _ in out.values()) == 5 + 2


def test_lsh_store_merge_roundtrip(spark, planted, tmp_path):
    """Store merge: old rows pass through byte-identical, new docs append,
    colliding doc_ids take the new signature; the merged store behaves
    exactly like one built from scratch on the union corpus."""
    old = planted.filter("doc_id <= 3")
    p1 = str(tmp_path / "store_v1")
    textops.lsh_signature_store(old).write.parquet(p1)
    store_v1 = spark.read.parquet(p1)

    batch = planted.filter("doc_id >= 3")  # doc 3 re-ingested + 4, 5 new
    merged = textops.lsh_store_merge(store_v1, batch)
    scratch = textops.lsh_signature_store(planted)

    def norm(df):
        return {
            r["doc_id"]: (tuple(sorted(r["sh"])), tuple(sorted(r["buckets"])))
            for r in df.collect()
        }

    assert norm(merged) == norm(scratch)
    # the old side's signatures come from the parquet store (one scan,
    # broadcast anti-join on the batch ids) — never a rebuild of old text
    plan = textops.lsh_store_merge(store_v1, batch)._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

def test_redact_pii_all_categories(spark):
    rows = [
        (1, "write to alice.smith+x@example.co.uk or call +34600123456", "en"),
        (2, "server at 192.168.1.10 responded; backup 10.0.0.1 did not", "en"),
        (3, "nothing sensitive here at all", "en"),
    ]
    out = {
        r["doc_id"]: r
        for r in textops.redact_pii(docs(spark, rows)).collect()
    }
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1 and out[1]["n_ipv4"] == 0
    assert out[1]["text_redacted"] == "write to <EMAIL> or call <PHONE>"
    assert out[2]["n_ipv4"] == 2 and out[2]["n_pii"] == 2
    assert out[2]["text_redacted"] == "server at <IPV4> responded; backup <IPV4> did not"
    assert out[3]["n_pii"] == 0 and out[3]["text_redacted"] == rows[2][1]


def test_redact_pii_phone_separator_formats(spark):
    """The phone contract: +-prefixed international numbers, with or
    without -. () separators, are caught; national formats without a
    country prefix are documented out of scope and must NOT match (they
    are indistinguishable from ordinary numbers)."""
    rows = [
        (1, "call +34 600 12 34 56 today", "en"),
        (2, "or +1 (415) 555-0100 ext 9", "en"),
        (3, "reach me on 555-0100 after lunch", "en"),     # national: out of scope
        (4, "the +5 (from a vote) is unrelated", "en"),    # too few digits
    ]
    out = {r["doc_id"]: r for r in textops.redact_pii(docs(spark, rows)).collect()}
    assert out[1]["n_phone"] == 1
    assert out[1]["text_redacted"] == "call <PHONE> today"
    assert out[2]["n_phone"] == 1
    assert out[2]["text_redacted"] == "or <PHONE> ext 9"
    assert out[3]["n_phone"] == 0
    assert out[4]["n_phone"] == 0 and out[4]["n_pii"] == 0


def test_redact_pii_email_wins_over_ip_and_phone(spark):
    # digits+dots inside an address must be redacted AS the email, not
    # partially eaten by the IP/phone patterns applied later
    rows = [(1, "ping 1.2.3.4@mail.com now", "en")]
    row = textops.redact_pii(docs(spark, rows)).collect()[0]
    assert row["n_email"] == 1
    assert row["text_redacted"] == "ping <EMAIL> now"


# ---------------------------------------------------------------------------
# line-level dedup
# ---------------------------------------------------------------------------

def test_line_dedup_newline_mode(spark):
    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"unique article one\n{boiler}\nmore body text", "en"),
        (2, f"different article two\n{boiler}", "en"),
        (3, "totally standalone document", "en"),
    ]
    out = {
        r["doc_id"]: r
        for r in textops.line_dedup_stats(docs(spark, rows)).collect()
    }
    assert out[1]["n_lines"] == 3 and out[1]["n_dup_lines"] == 1
    assert out[2]["n_lines"] == 2 and out[2]["n_dup_lines"] == 1
    assert out[2]["dup_line_fraction"] == 0.5
    assert out[3]["n_dup_lines"] == 0 and out[3]["dup_line_fraction"] == 0.0


def test_line_dedup_segment_mode_counts_cross_doc_only(spark):
    # intra-doc repetition alone is NOT a corpus duplicate (distinct-doc>1)
    rows = [
        (1, "a b c a b c", "en"),   # repeats its own 3-token line twice
        (2, "x y z q r s", "en"),
    ]
    out = {
        r["doc_id"]: r
        for r in textops.line_dedup_stats(
            docs(spark, rows), segment_tokens=3
        ).collect()
    }
    assert out[1]["n_lines"] == 2 and out[1]["n_dup_lines"] == 0
    # ...but sharing with another doc IS
    rows.append((3, "a b c totally fresh", "en"))
    out = {
        r["doc_id"]: r
        for r in textops.line_dedup_stats(
            docs(spark, rows), segment_tokens=3
        ).collect()
    }
    assert out[1]["n_dup_lines"] == 2       # both its 'a b c' lines flagged
    assert out[3]["n_dup_lines"] == 1


def test_token_typo_pairs_blocking_is_complete(spark):
    # edits at the FIRST char still share the last char, and vice versa —
    # the F/L double-blocking must find both; unrelated tokens never pair
    rows = [
        (1, "spark sparc hello jello zzz", "en"),
        (2, "spark unrelatedword", "en"),
    ]
    pairs = {
        (r["token_a"], r["token_b"]): r
        for r in textops.token_typo_pairs(docs(spark, rows)).collect()
    }
    assert ("sparc", "spark") in pairs       # last-char edit (F-block)
    assert ("hello", "jello") in pairs       # first-char edit (L-block)
    assert all(r["distance"] == 1 for r in pairs.values())
    # doc frequency travels with the pair
    assert pairs[("sparc", "spark")]["n_b"] == 2
    assert not any("zzz" in p or "unrelatedword" in p for p in pairs)


def test_token_typo_pairs_no_duplicate_rows(spark):
    # a pair differing at neither end ("spark"/"spurk") matches BOTH block
    # keys — the distinct() must collapse it to one row
    rows = [(1, "spark spurk", "en")]
    out = textops.token_typo_pairs(docs(spark, rows)).collect()
    assert len(out) == 1


def test_line_dedup_plan_never_shuffles_text(planted):
    """Every exchange in the line-dedup plan carries (hash, doc_id) pairs
    — document payloads stay in their scan partitions."""
    plan = (
        textops.line_dedup_stats(planted, segment_tokens=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" in plan
    for chunk in plan.split("Exchange")[1:]:
        head = chunk.split("\n", 1)[0]
        assert "text" not in head


def test_redact_pii_is_shuffle_free(planted):
    plan = (
        textops.redact_pii(planted)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan

def test_simhash_band_width_controls_bucket_collisions(spark):
    """Pin the scale property the 60-bit default buys: on a corpus of
    unrelated docs, 15-bit pigeonhole bands keep bucket populations ~1
    (the within-bucket self-join stays linear), where 8-bit bands from a
    32-bit fingerprint collapse into few, heavily-populated buckets."""
    n = 400
    rows = [
        (i, " ".join(f"tok{i}x{j}" for j in range(40)), "en") for i in range(n)
    ]
    d = docs(spark, rows)

    def bucket_stats(bits, n_bands):
        width = bits // n_bands
        mask = (1 << width) - 1
        sh = textops.simhash64(d, bits=bits)
        bands = sh.selectExpr(
            "doc_id",
            f"explode(transform(sequence(0, {n_bands - 1}), "
            f"b -> named_struct('band', b, 'val', (simhash >> (b * {width})) & {mask}))) AS bv",
        ).select("bv.band", "bv.val")
        agg = bands.groupBy("band", "val").count().agg(
            F.count("*").alias("n_buckets"), F.max("count").alias("max_pop")
        ).collect()[0]
        return agg["n_buckets"], agg["max_pop"]

    wide_buckets, wide_max = bucket_stats(60, 4)
    narrow_buckets, narrow_max = bucket_stats(32, 4)
    # 15-bit bands: nearly every (band, val) is singleton ⇒ candidate join linear
    assert wide_buckets >= int(0.95 * 4 * n)
    assert wide_max <= 3
    # 8-bit bands: ≤ 4*256 possible buckets ⇒ populations grow with corpus size
    assert narrow_buckets <= 4 * 256
    assert narrow_max >= n // 256  # pigeonhole lower bound on the hottest bucket

def test_simhash_pigeonhole_recall_is_exact(spark):
    """The pigeonhole guarantee, property-tested on planted fingerprints:
    EVERY pair within hamming ≤ 3 (< n_bands = 4) shares at least one
    whole band, so banding recall is exactly 1.0 — and at 60 bits random
    unrelated fingerprints sit ~30 bits apart, so the seeded random
    population must contribute zero ≤3-hamming pairs (false-positive
    ceiling).  Every reported hamming is re-verified with an independent
    Python popcount."""
    import random

    rng = random.Random(20260814)
    fps = {}  # doc_id -> fingerprint
    planted = {}  # (doc_a, doc_b) -> exact hamming
    for i in range(150):
        base = rng.getrandbits(60)
        d = rng.randint(1, 3)
        flipped = base
        for pos in rng.sample(range(60), d):
            flipped ^= 1 << pos
        fps[2 * i] = base
        fps[2 * i + 1] = flipped
        planted[(2 * i, 2 * i + 1)] = d
    for j in range(150):  # independent random population, ids >= 10000
        fps[10_000 + j] = rng.getrandbits(60)

    sh = spark.createDataFrame(
        [(k, v) for k, v in fps.items()], "doc_id long, simhash long"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in textops.banded_hamming_pairs(sh).collect()
    }
    # recall = 1.0: every planted pair surfaced with its exact distance
    for pair, d in planted.items():
        assert got.get(pair) == d, f"planted pair {pair} (hamming {d}) missed"
    # soundness: every reported pair independently popcount-verified ≤ 3
    for (a, b), d in got.items():
        assert bin(fps[a] ^ fps[b]).count("1") == d <= 3
    # FP ceiling at 60 bits: the random population contributes no pairs
    random_only = [p for p in got if p[0] >= 10_000 and p[1] >= 10_000]
    assert random_only == []


def test_token_typo_pairs_rejects_unsupported_distance(spark):
    # first/last-char blocking is complete ONLY for distance 1 — a
    # distance-2 pair can differ at both ends and would silently vanish,
    # so larger distances must be an error, not a recall leak
    d = docs(spark, [(1, "spark spurk", "en")])
    with pytest.raises(ValueError, match="max_distance=1"):
        textops.token_typo_pairs(d, max_distance=2)

def test_source_reputation_flags_bad_sources(spark):
    """A source contributing mostly rejects is flagged wholesale; the
    dominant language breaks count ties lexicographically."""
    rows = []
    # good source: 4 healthy english docs
    for i in range(4):
        rows.append((i, BASE + f" extra token{i}", "en", "good.example"))
    # bad source: 3 too-short docs, 1 healthy
    for i in range(3):
        rows.append((10 + i, "tiny doc", "en", "spam.example"))
    rows.append((13, BASE, "en", "spam.example"))
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {r["source"]: r for r in textops.source_reputation(d).collect()}
    good, bad = out["good.example"], out["spam.example"]
    assert good["n_docs"] == 4 and good["n_kept"] == 4 and good["keep_source"]
    assert bad["n_docs"] == 4 and bad["n_kept"] == 1
    assert bad["kept_fraction"] == pytest.approx(0.25)
    assert not bad["keep_source"]
    assert good["dominant_lang"] == "en"
    assert good["total_tokens"] > bad["total_tokens"]

def test_source_reputation_null_source_buckets_as_unknown(spark):
    """NULL-source docs land in the '(unknown)' bucket instead of silently
    vanishing (equality joins never match NULL), and the curation stage can
    reject them wholesale like any other source."""
    from admira_etl_project_prueba_spark.operators.pipeline import (
        build_training_corpus,
    )

    rows = [(i, BASE + f" extra token{i}", "en", "good.example") for i in range(3)]
    rows += [(10 + i, "tiny", "en", None) for i in range(3)]  # junk, no source
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {r["source"]: r for r in textops.source_reputation(d).collect()}
    assert set(out) == {"good.example", textops.UNKNOWN_SOURCE}
    unk = out[textops.UNKNOWN_SOURCE]
    assert unk["n_docs"] == 3 and unk["n_kept"] == 0 and not unk["keep_source"]
    # end-to-end: the curation stage rejects the NULL-source docs wholesale
    verdicts = {
        r["doc_id"]: r["status"]
        for r in build_training_corpus(d, min_source_kept_fraction=0.5).collect()
    }
    assert all(verdicts[10 + i] == "rejected_source" for i in range(3))


def test_build_training_corpus_source_curation_stage(spark):
    """With min_source_kept_fraction set, docs from a mostly-rejected
    source are cut wholesale with status/reason 'rejected_source' —
    including its healthy docs — while other sources are untouched."""
    from admira_etl_project_prueba_spark.operators.pipeline import (
        build_training_corpus,
    )

    distinct_texts = [
        BASE,
        "a perfectly fine unrelated document about the weather and the sea today",
        "another entirely different passage describing the harvest season in the valley",
    ]
    rows = [(i, t, "en", "good.example") for i, t in enumerate(distinct_texts)]
    rows += [(10 + i, "tiny", "en", "spam.example") for i in range(3)]
    rows.append((13, BASE + " healthy doc on the flagged source", "en", "spam.example"))
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = {
        r["doc_id"]: r
        for r in build_training_corpus(d, min_source_kept_fraction=0.5).collect()
    }
    # the whole spam source is out, healthy doc 13 included, reason distinct
    for i in (10, 11, 12, 13):
        assert out[i]["status"] == "rejected_source"
        assert out[i]["reject_reason"] == "rejected_source"
    assert all(out[i]["status"] in ("train", "test") for i in range(3))
    # default path unchanged: no source stage, doc 13 survives on quality
    base_out = {r["doc_id"]: r for r in build_training_corpus(d).collect()}
    assert base_out[13]["status"] in ("train", "test")


def test_mixture_sample_rates_determinism_and_null_default(spark):
    """mixture_sample: a 0-rate source vanishes, a 1.0-rate source stays
    whole, membership is identical across invocations (hash, not RNG),
    NULL/unlisted sources follow default_rate, and changing the salt
    redraws the sample."""
    rows = [(i, f"text {i}", "en", ["keep", "drop", "half", None][i % 4])
            for i in range(400)]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    rates = {"keep": 1.0, "drop": 0.0, "half": 0.5}
    out = textops.mixture_sample(d, rates, default_rate=1.0).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert len(by_src.get("keep", [])) == 100
    assert "drop" not in by_src
    assert 20 < len(by_src.get("half", [])) < 80
    assert len(by_src.get(None, [])) == 100  # default covers NULL source
    # deterministic: same ids on a re-run
    again = sorted(r["doc_id"] for r in textops.mixture_sample(d, rates).collect())
    assert again == sorted(r["doc_id"] for r in out)
    # a different salt draws a different 'half' subset
    other = textops.mixture_sample(d, rates, salt="mix2").collect()
    other_half = sorted(r["doc_id"] for r in other if r["source"] == "half")
    assert other_half != sorted(by_src["half"])
    # default_rate=0 inverts the unlisted behaviour
    none_kept = textops.mixture_sample(d, rates, default_rate=0.0).collect()
    assert all(r["source"] != "drop" and r["source"] is not None for r in none_kept)


def test_repeated_ngram_spans_planted(spark):
    # doc 1 and doc 2 share one verbatim 10-token paragraph; doc 3 is
    # disjoint.  With n=4 the shared span yields 7 duplicated 4-gram
    # starts covering all 10 tokens of the span in each doc.
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, f"one two three {shared} four five", "en"),
        (2, f"{shared} totally different tail here", "en"),
        (3, "nothing in common with anything else at all whatsoever", "en"),
    ]
    out = {
        r["doc_id"]: r
        for r in textops.repeated_ngram_spans(docs(spark, rows), n=4).collect()
    }
    assert out[1]["n_dup_ngrams"] == 7 and out[1]["covered_tokens"] == 10
    assert out[2]["n_dup_ngrams"] == 7 and out[2]["covered_tokens"] == 10
    assert out[2]["dup_coverage_frac"] == 10 / out[2]["n_tokens"]
    assert out[3]["n_dup_ngrams"] == 0 and out[3]["covered_tokens"] == 0


def test_repeated_ngram_spans_interval_union_and_short_docs(spark):
    # overlapping + disjoint duplicated spans in one doc: the interval
    # union must not double-count, and sub-n docs get zero coverage.
    rows = [
        (1, "a b c d x x x a b c d", "en"),   # dup 4-gram at pos 1 and 8
        (2, "a b c d", "en"),                  # the shared 4-gram, exactly
        (3, "too short", "en"),                # < n tokens
    ]
    out = {
        r["doc_id"]: r
        for r in textops.repeated_ngram_spans(docs(spark, rows), n=4).collect()
    }
    assert out[1]["covered_tokens"] == 8       # two disjoint 4-token spans
    assert out[2]["covered_tokens"] == 4 and out[2]["dup_coverage_frac"] == 1.0
    assert out[3]["n_tokens"] == 2 and out[3]["covered_tokens"] == 0
    # intra-doc repetition alone never flags (distinct-doc count < 2)
    solo = textops.repeated_ngram_spans(
        docs(spark, [(9, "p q r s p q r s p q r s", "en")]), n=4
    ).collect()[0]
    assert solo["n_dup_ngrams"] == 0


def test_remove_repeated_spans_rewrites_only_covered_tokens(spark):
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"intro words {shared} closing remark", "en"),
        (2, f"{shared} other material", "en"),
        (3, "untouched document stays byte identical here", "en"),
    ]
    out = {
        r["doc_id"]: r
        for r in textops.remove_repeated_spans(docs(spark, rows), n=4).collect()
    }
    assert out[1]["text_clean"] == "intro words closing remark"
    assert out[1]["n_removed_tokens"] == 6
    assert out[2]["text_clean"] == "other material"
    assert out[3]["text_clean"] == rows[2][1]
    assert out[3]["n_removed_tokens"] == 0
    # profile and action agree on what was covered
    prof = {
        r["doc_id"]: r["covered_tokens"]
        for r in textops.repeated_ngram_spans(docs(spark, rows), n=4).collect()
    }
    assert all(prof[d] == out[d]["n_removed_tokens"] for d in prof)


def test_token_budget_sample_greedy_prefix_semantics(spark):
    # source 'a': 3 docs of 4 tokens each, budget 9 → exactly the two
    # lowest-ranked docs fit (8 ≤ 9 < 12); 'b' unlisted passes through
    # under default; NULL source lands in the sentinel bucket.
    rows = [
        (1, "w x y z", "a"),
        (2, "w x y z", "a"),
        (3, "w x y z", "a"),
        (4, "p q", "b"),
        (5, "long enough text here", None),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = textops.token_budget_sample(d, {"a": 9}, default_budget=100)
    got = {r["doc_id"]: r for r in out.collect()}
    a_kept = [i for i in (1, 2, 3) if i in got]
    assert len(a_kept) == 2
    assert max(got[i]["cum_tokens"] for i in a_kept) == 8
    assert got[4]["source"] == "b" and got[5]["source"] == textops.UNKNOWN_SOURCE
    # determinism + monotonicity: a bigger budget keeps a SUPERSET
    bigger = {
        r["doc_id"]
        for r in textops.token_budget_sample(d, {"a": 12}, default_budget=100).collect()
    }
    assert set(a_kept) <= bigger and len([i for i in (1, 2, 3) if i in bigger]) == 3
    # default_budget=None: unlisted strata pass through whole
    nocap = textops.token_budget_sample(d, {"a": 0}, default_budget=None)
    ids = {r["doc_id"] for r in nocap.collect()}
    assert ids == {4, 5}


def test_contamination_scores_fraction_exact(spark):
    # train doc 1 shares exactly its first 8-gram window with the bench doc;
    # doc 2 is fully contained in the bench doc; doc 3 is disjoint; doc 4 is
    # too short to shingle
    bench_text = "a b c d e f g h i j k l"
    d = docs(
        spark,
        [
            (1, "a b c d e f g h zz yy xx ww", "en"),  # 1 of 5 shingles hit
            (2, "b c d e f g h i j", "en"),            # all 2 shingles hit
            (3, "p q r s t u v w x y z", "en"),        # 0 of 4 hit
            (4, "too short", "en"),                    # no shingles
        ],
    )
    bench = docs(spark, [(99, bench_text, "en")])
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_overlap"], r["contamination_frac"])
        for r in textops.contamination_scores(d, bench, k=8).collect()
    }
    assert out[1] == (5, 1, 1 / 5)
    assert out[2] == (2, 2, 1.0)
    assert out[3] == (4, 0, 0.0)
    assert out[4] == (0, 0, 0.0)


def test_contamination_scores_subsumes_decontaminate(planted):
    train = planted.filter("doc_id <> 5")
    bench = planted.filter("doc_id = 5")
    frac = {
        r["doc_id"]: r["contamination_frac"]
        for r in textops.contamination_scores(train, bench, k=3).collect()
    }
    flag = {
        r["doc_id"]: r["contaminated"]
        for r in textops.decontaminate(train, bench, k=3).collect()
    }
    assert set(frac) == set(flag)
    for doc_id, c in flag.items():
        assert (frac[doc_id] > 0) == c


def test_sorted_neighborhood_finds_adjacent_near_dups(planted):
    # docs 1, 2, 4 share the same normalized prefix ("the quick brown ...")
    # so they sort adjacent within one block and pair up within window=2
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in textops.sorted_neighborhood_pairs(planted, window=2).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs or (2, 4) in pairs  # near dup is within 2 neighbors
    # every emitted pair is oriented and self-free
    assert all(a < b for a, b in pairs)


def test_prefix_filter_jaccard_equals_brute_force(spark):
    # exactness property: prefix filtering must return EXACTLY the pairs the
    # quadratic baseline returns (same pairs, same jaccard values)
    rows = [
        (i, BASE.replace("lazy dog", f"dog{i % 3}"), "en") for i in range(12)
    ] + [
        (100 + i, f"unrelated text number {i} about cooking pasta sauce", "en")
        for i in range(5)
    ]
    d = docs(spark, rows)
    t = 0.5
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in textops.prefix_filter_jaccard_pairs(d, threshold=t).collect()
    }
    brute = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in textops.ngram_jaccard_pairs(d, threshold=0.0, id_limit=10**9).collect()
        if r["jaccard"] >= t
    }
    assert got == brute
    assert got, "fixture must actually produce qualifying pairs"


def test_cms_estimate_one_sided_and_bounded(spark):
    d = docs(spark, [(i, BASE + f" extra{i}", "en") for i in range(20)])
    out = {r["token"]: (r["cms_count"], r["exact_count"])
           for r in textops.cms_estimate(d, ["the", "fox", "nosuchtoken"],
                                         depth=4, width=256).collect()}
    n_total = sum(len((BASE + f" extra{i}").split()) for i in range(20))
    for token, (cms, exact) in out.items():
        assert cms >= exact              # one-sided error, always
        assert cms - exact <= 4 * n_total / 256 + 1  # loose epsilon bound
    assert out["the"][1] == 20 * BASE.split().count("the")
    assert out["nosuchtoken"][1] == 0    # absent token: exact 0, cms >= 0


def test_cms_sketch_is_linear(spark):
    # sketch(A ∪ B) == sketch(A) + sketch(B) elementwise — the merge law
    # that makes per-shard sketches combinable without reprocessing
    a = docs(spark, [(1, "alpha beta gamma", "en")])
    b = docs(spark, [(2, "beta gamma delta", "en")])
    both = a.unionByName(b)
    def grid(df):
        return {(r["r"], r["bucket"]): r["cnt"]
                for r in textops.cms_sketch(df, depth=2, width=64).collect()}
    ga, gb, gu = grid(a), grid(b), grid(both)
    merged = {}
    for g in (ga, gb):
        for k, v in g.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == gu


def test_corpus_diff_statuses(spark):
    old = docs(spark, [(1, "same", "en"), (2, "will change", "en"), (3, "gone", "en")])
    new = docs(spark, [(1, "same", "en"), (2, "did change", "en"), (4, "fresh", "en")])
    got = {r["doc_id"]: r["status"] for r in textops.corpus_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    # text never crosses the join: the join inputs are (doc_id, md5) only
    plan = textops.corpus_diff(old, new)._jdf.queryExecution().executedPlan().toString()
    assert "h_old" in plan and "h_new" in plan
    assert "FullOuter" in plan


def test_bm25_ranks_planted_relevant_doc_first(spark):
    """A doc rich in rare query terms must outrank term-free and
    common-term docs; docs with no query term don't appear at all."""
    from admira_etl_project_prueba_spark.operators.textops import bm25_rank

    filler = "alpha beta gamma delta epsilon"
    rows = [
        (1, "quantum flux quantum flux quantum"),      # rare terms, high tf
        (2, f"quantum {filler}"),                      # one rare term once
        (3, f"{filler} {filler}"),                     # no query terms
        (4, f"flux {filler} {filler} {filler}"),       # one term, long doc
    ] + [(i, filler) for i in range(5, 30)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bm25_rank(docs, ["quantum", "flux"], top_n=10).collect()
    ids = [r["doc_id"] for r in got]
    assert ids[0] == 1                       # both terms, highest tf
    assert set(ids) == {1, 2, 4}             # term-free docs excluded
    assert got[0]["n_terms_matched"] == 2
    # doc 2 (short) must outrank doc 4 (same tf, longer): length norm
    assert ids.index(2) < ids.index(4)
    scores = [r["bm25_score"] for r in got]
    assert scores == sorted(scores, reverse=True)


def test_pps_sample_ht_estimator_and_determinism(spark, sf_dir):
    """HT-weighted count estimates N within 3 sigma; sample is stable
    across partitionings; p=1 rows are always kept."""
    import math

    from pyspark.sql import functions as F

    from admira_etl_project_prueba_spark.operators.textops import pps_sample
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    s = pps_sample(docs, "n_chars", 0.001)
    rows = s.collect()
    n = docs.count()
    ht = sum(r["ht_weight"] for r in rows)
    # Poisson sampling: Var(HT) = sum (1-p)/p; use the realized bound
    var = sum((1 - r["inclusion_prob"]) / r["inclusion_prob"] ** 2 * r["inclusion_prob"]
              for r in rows)  # plug-in estimate
    assert abs(ht - n) <= 3 * math.sqrt(max(var, 1.0)) + 0.05 * n
    # determinism: identical ids regardless of partitioning
    ids = {r["doc_id"] for r in rows}
    ids2 = {r["doc_id"] for r in pps_sample(docs.repartition(13), "n_chars", 0.001).collect()}
    assert ids == ids2
    # rows with p = 1 (rate*weight >= 1) are always included
    certain = pps_sample(docs.withColumn("n_chars", F.lit(5000)), "n_chars", 0.001)
    assert certain.count() == n


def test_bm25_index_matches_scan_and_prunes_partitions(spark, sf_dir, tmp_path):
    """Index-backed BM25 returns byte-identical results to the corpus
    scan, and its postings read is partition-pruned to the query terms'
    buckets (the corpus is never touched at query time)."""
    from admira_etl_project_prueba_spark.operators.textops import (
        bm25_from_index,
        bm25_rank,
        text_index_root,
        write_text_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "tix")
    write_text_index(docs, idx)
    postings = f"{text_index_root(spark, idx)}/postings"
    terms = ["spark", "join"]
    want = [tuple(r) for r in bm25_rank(docs, terms).collect()]
    got_df = bm25_from_index(spark, idx, terms)
    got = [tuple(r) for r in got_df.collect()]
    assert got == want and len(got) > 0
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "term_bucket" in plan  # partition filter reached the scan
    # pruned read: only the buckets the two terms hash into
    import hashlib
    import os

    buckets = {int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % 64 for t in terms}
    read_dirs = {
        d for d in os.listdir(postings) if d.startswith("term_bucket=")
    }
    assert {f"term_bucket={b}" for b in buckets} <= read_dirs
    scanned = (
        spark.read.parquet(postings)
        .filter(
            f"term_bucket IN ({', '.join(map(str, buckets))})"
        )
        .count()
    )
    total = spark.read.parquet(postings).count()
    assert scanned < total  # the pruned slice is a strict subset


def test_rrf_fusion_prefers_doubly_ranked_docs(spark):
    """A doc present in BOTH lists outranks docs topping only one list
    (the defining RRF property); absent docs contribute nothing."""
    from admira_etl_project_prueba_spark.operators.textops import rrf_fuse

    a = spark.createDataFrame([(1, 2), (2, 1), (3, 3)], ["doc_id", "rank"])
    b = spark.createDataFrame([(1, 3), (4, 1), (5, 2)], ["doc_id", "rank"])
    got = rrf_fuse([a, b], k=60, top_n=10).collect()
    assert got[0]["doc_id"] == 1  # 1/(60+2) + 1/(60+3) beats any single list
    assert got[0]["rank_0"] == 2 and got[0]["rank_1"] == 3
    scores = {r["doc_id"]: r["rrf_score"] for r in got}
    assert scores[1] == 1 / 62 + 1 / 63
    assert scores[2] == 1 / 61  # single-list doc: one term only
    assert set(scores) == {1, 2, 3, 4, 5}


def test_containment_detects_quotes_directionally(spark):
    """A short quote embedded in a long article: containment quote→article
    ≈ 1 (detected), article→quote small (not flagged) — the asymmetry
    symmetric Jaccard misses."""
    from admira_etl_project_prueba_spark.operators.textops import containment_pairs

    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"word{i}" for i in range(120))
    rows = [
        (1, quote),                         # the quote
        (2, f"{filler} {quote} {filler}"),  # article embedding the quote
        (3, " ".join(f"other{i}" for i in range(60))),  # unrelated
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r["src_doc"], r["dst_doc"]): r["containment"]
           for r in containment_pairs(docs, threshold=0.5).collect()}
    assert got[(1, 2)] == 1.0          # every quote shingle is in the article
    assert (2, 1) not in got           # article is NOT contained in the quote
    assert all(3 not in pair for pair in got)


def test_dsir_weights_favor_target_domain_docs(spark):
    """DSIR: docs sharing the target domain's bigrams score higher than
    off-domain docs; featureless (<2-token) docs surface with NULL
    weight and n_bigrams=0."""
    from admira_etl_project_prueba_spark.operators.textops import (
        dsir_importance_weights,
    )

    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta epsilon alpha beta") for i in range(4)],
        ["doc_id", "text"],
    )
    pool = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),   # target-like
            (2, "beta gamma delta epsilon alpha"),   # target-like
            (3, "zeta eta theta iota kappa"),        # off-domain
            (4, "lambda mu nu xi omicron"),          # off-domain
            (5, "single"),                           # no bigrams
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in dsir_importance_weights(pool, target).collect()}
    assert len(got) == 5
    assert got[5]["log_weight"] is None and got[5]["n_bigrams"] == 0
    for tgt_like in (1, 2):
        for off in (3, 4):
            assert got[tgt_like]["log_weight"] > got[off]["log_weight"], (tgt_like, off)
    assert got[1]["n_bigrams"] == 4


def test_dsir_resample_is_deterministic_and_weight_biased(spark):
    """Gumbel-top-k resample: reproducible across partitionings (hash
    noise, not RNG) and biased toward high-weight docs — with a strong
    weight gap the target-like docs dominate the sample."""
    from admira_etl_project_prueba_spark.operators.textops import dsir_resample

    target = spark.createDataFrame(
        [(1000 + i, "alpha beta gamma delta epsilon alpha beta gamma") for i in range(4)],
        ["doc_id", "text"],
    )
    rows = [(i, "alpha beta gamma delta epsilon alpha beta") for i in range(10)] + [
        (i, "zeta eta theta iota kappa lambda mu") for i in range(10, 40)
    ]
    pool = spark.createDataFrame(rows, ["doc_id", "text"])
    picked = [r["doc_id"] for r in dsir_resample(pool, target, k=8).collect()]
    again = [
        r["doc_id"]
        for r in dsir_resample(pool.repartition(7), target, k=8).collect()
    ]
    assert picked == again  # partitioning-invariant
    n_target_like = sum(1 for d in picked if d < 10)
    assert n_target_like >= 6  # weight mass concentrates the sample


def test_build_retrieval_index_artifacts_and_query_parity(spark, sf_dir, tmp_path):
    """The indexing flagship materializes every query-time artifact and
    queries through them match direct computation: indexed BM25 == scan
    BM25 over the same curated corpus; frozen DSIR == inline; IVF probe
    == inline assignment; the manifest reconciles with the corpus."""
    from admira_etl_project_prueba_spark.operators import similarity
    from admira_etl_project_prueba_spark.operators.pipeline import (
        build_retrieval_index,
    )
    from admira_etl_project_prueba_spark.operators.textops import (
        bm25_from_index,
        bm25_rank,
        dedup_exact,
        dsir_importance_weights,
        dsir_weights_from_dists,
        quality_filter,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    embs = load_table(spark, sf_dir, "embeddings")
    root = str(tmp_path / "retrieval")
    manifest = build_retrieval_index(docs, root, embeddings=embs)
    assert 0 < manifest["n_curated"] <= manifest["n_docs"]
    assert manifest["n_embeddings"] == embs.count()

    # text index: parity with a scan over the SAME curated corpus (the
    # build's lang allow-list drops e.g. zh — mirror it exactly)
    curated = docs.join(
        quality_filter(docs, langs=("en", "es", "de", "fr"))
        .filter("kept")
        .select("doc_id"),
        "doc_id",
        "left_semi",
    ).join(
        dedup_exact(docs).select(F.col("keep_doc_id").alias("doc_id")),
        "doc_id",
        "left_semi",
    )
    terms = ["spark", "join", "table"]
    want = [tuple(r) for r in bm25_rank(curated, terms).collect()]
    got = [tuple(r) for r in bm25_from_index(spark, f"{root}/text_index", terms).collect()]
    assert got == want and len(got) > 0

    # DSIR model: frozen scoring == inline
    target = docs.filter("lang = 'en'")
    inline = {tuple(r) for r in dsir_importance_weights(docs, target).collect()}
    frozen = {
        tuple(r)
        for r in dsir_weights_from_dists(spark, docs, f"{root}/dsir_model").collect()
    }
    assert frozen == inline

    # LM model: frozen perplexity scoring == inline over the same slice
    from admira_etl_project_prueba_spark.operators.textops import (
        lm_cross_entropy,
        lm_scores_from_dists,
    )

    lm_inline = {tuple(r) for r in lm_cross_entropy(docs, target).collect()}
    lm_frozen = {
        tuple(r)
        for r in lm_scores_from_dists(spark, docs, f"{root}/lm_model").collect()
    }
    assert lm_frozen == lm_inline

    # IVF index: probe parity with inline assignment
    a = similarity.ivf_topk(embs, query_vec_id=7, k=5).collect()
    b = similarity.ivf_topk_from_index(
        spark, embs, f"{root}/ivf_index", query_vec_id=7, k=5
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in a] == [
        (r["vec_id"], r["cosine"]) for r in b
    ]

    # manifest readable as the 1-row freshness record
    m = spark.read.parquet(f"{root}/manifest").collect()
    assert len(m) == 1 and m[0]["n_docs"] == manifest["n_docs"]


def test_lm_cross_entropy_orders_fluent_before_gibberish(spark):
    """LM scoring: docs drawn from the reference distribution score a
    LOWER cross-entropy than all-OOV gibberish (every unseen bucket
    carries the smoothed floor probability); tokenless docs surface
    with NULL score and n_tokens=0, never dropped."""
    from admira_etl_project_prueba_spark.operators.textops import (
        lm_cross_entropy,
    )

    ref = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta epsilon alpha beta") for i in range(4)],
        ["doc_id", "text"],
    )
    pool = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),       # reference-like
            (2, "qzx wvu tsr qpo nml kji"),      # all-OOV gibberish
            (3, "   "),                          # tokenless
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in lm_cross_entropy(pool, ref).collect()}
    assert len(got) == 3
    assert got[3]["cross_entropy"] is None and got[3]["n_tokens"] == 0
    assert got[1]["n_tokens"] == 4 and got[2]["n_tokens"] == 6
    assert 0 < got[1]["cross_entropy"] < got[2]["cross_entropy"]


def test_lm_frozen_scoring_matches_inline_and_streams(spark, tmp_path):
    """The persisted LM model reproduces inline scoring exactly, batch
    and streaming (the model freezes the reference distribution, so
    micro-batching cannot change a verdict)."""
    import json as _json

    from admira_etl_project_prueba_spark.operators.textops import (
        lm_cross_entropy,
        lm_scores_from_dists,
        write_lm_dists,
    )
    from admira_etl_project_prueba_spark.streaming.ingest import stream_lm_scores

    rows = [(i, "alpha beta gamma delta epsilon") for i in range(5)] + [
        (i, "zeta eta theta iota kappa") for i in range(5, 10)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    ref = corpus.filter("doc_id < 5")
    path = str(tmp_path / "lm_model")
    write_lm_dists(ref, path)

    inline = {tuple(r) for r in lm_cross_entropy(corpus, ref).collect()}
    frozen = {
        tuple(r) for r in lm_scores_from_dists(spark, corpus, path).collect()
    }
    assert frozen == inline and len(inline) == 10

    src = tmp_path / "lm_in"
    src.mkdir()
    for fname, chunk in (("a.json", rows[:6]), ("b.json", rows[6:])):
        with open(src / fname, "w") as fh:
            for did, text in chunk:
                fh.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = str(tmp_path / "lm_out")
    stream_lm_scores(
        stream, path, out, str(tmp_path / "lm_ckpt")
    ).awaitTermination(120)
    streamed = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert streamed == inline


def test_source_token_kl_flags_drifted_source(spark):
    """KL drift monitor: a feed whose token distribution diverges from
    the corpus scores a higher KL than feeds that match it; NULL
    sources bucket under UNKNOWN_SOURCE; n_tokens are per-source
    totals."""
    from admira_etl_project_prueba_spark.operators.textops import (
        UNKNOWN_SOURCE,
        source_token_kl,
    )

    common = "alpha beta gamma delta epsilon"
    rows = (
        [(i, common, "feedA") for i in range(10)]
        + [(100 + i, common, "feedB") for i in range(10)]
        + [(200 + i, "zzz yyy xxx www vvv", "feedC") for i in range(10)]
        + [(300, common, None)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in source_token_kl(docs).collect()}
    assert set(got) == {"feedA", "feedB", "feedC", UNKNOWN_SOURCE}
    assert got["feedA"]["n_tokens"] == 50 and got[UNKNOWN_SOURCE]["n_tokens"] == 5
    assert got["feedC"]["kl_nats"] > got["feedA"]["kl_nats"]
    assert got["feedC"]["kl_nats"] > got["feedB"]["kl_nats"]
    # matching feeds sit near each other; the drifted one is far out
    assert abs(got["feedA"]["kl_nats"] - got["feedB"]["kl_nats"]) < 0.05


def test_source_overlap_matrix_counts_planted_duplicates(spark):
    """Exact-dup contamination matrix on planted duplicates: diagonal
    counts C(n,2) within a feed, off-diagonal counts cross products,
    whitespace-normalized matching, NULL source bucketed, zero pairs
    omitted."""
    from admira_etl_project_prueba_spark.operators.textops import (
        UNKNOWN_SOURCE,
        source_overlap_matrix,
    )

    rows = [
        (1, "shared doc", "x"),
        (2, "shared  doc", "x"),       # normalized-equal to 1 (double space)
        (3, "shared doc", "y"),
        (4, "only in y", "y"),
        (5, "unique one", "x"),
        (6, "shared doc", None),       # NULL source joins the party
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r["source_a"], r["source_b"]): r["dup_pairs"]
        for r in source_overlap_matrix(docs).collect()
    }
    assert got[("x", "x")] == 1            # C(2,2) within x
    assert got[("x", "y")] == 2            # 2 x-copies x 1 y-copy
    assert got[(UNKNOWN_SOURCE, "x")] == 2
    assert got[(UNKNOWN_SOURCE, "y")] == 1
    assert ("y", "y") not in got           # no within-y duplicates
    assert all(a <= b for a, b in got)     # canonical pair order
    # non-normalized mode treats the double-space copy as distinct
    raw = {
        (r["source_a"], r["source_b"]): r["dup_pairs"]
        for r in source_overlap_matrix(docs, normalized=False).collect()
    }
    assert ("x", "x") not in raw and raw[("x", "y")] == 1


def test_lm_count_store_merge_equals_rebuild(spark, tmp_path):
    """Incremental LM maintenance: folding a new batch into the
    persisted count store yields EXACTLY the model a from-scratch build
    over the concatenated corpus produces (integer merge, smoothing
    after) — so scores from the merged store match the full rebuild
    bit-for-bit."""
    from admira_etl_project_prueba_spark.operators.textops import (
        lm_cross_entropy,
        lm_scores_from_counts,
        merge_lm_counts,
        write_lm_counts,
    )

    first = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(5)],
        "doc_id long, text string",
    )
    second = spark.createDataFrame(
        [(100 + i, "zeta eta theta alpha beta") for i in range(3)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "lm_counts")
    write_lm_counts(first, path)
    merge_lm_counts(spark, path, second)

    pool = spark.createDataFrame(
        [(1, "alpha beta zeta"), (2, "qqq www eee"), (3, "")],
        "doc_id long, text string",
    )
    incremental = {
        tuple(r) for r in lm_scores_from_counts(spark, pool, path).collect()
    }
    rebuilt = {
        tuple(r)
        for r in lm_cross_entropy(pool, first.unionByName(second)).collect()
    }
    assert incremental == rebuilt and len(incremental) == 3

    # the store stays dense and integer-exact across merges
    from admira_etl_project_prueba_spark.functions.fs import resolve_store_root

    store = spark.read.parquet(resolve_store_root(spark, path))
    assert store.count() == 8192
    total = store.agg({"cnt": "sum"}).collect()[0][0]
    assert total == 5 * 5 + 3 * 5


def test_lsh_recall_report_invariants_and_exact_copies(spark):
    """Recall report invariants: captured ⊆ candidates and ⊆ truth; on
    exact-copy pairs (Jaccard 1.0, identical signatures in every band)
    recall is exactly 1.0 and the report is deterministic."""
    from admira_etl_project_prueba_spark.operators.textops import (
        lsh_recall_report,
    )

    rows = (
        # 3 exact-copy pairs, each group's vocabulary fully disjoint
        [(i, " ".join(f"g{i // 2}w{j}" for j in range(8))) for i in range(6)]
        + [(100 + i, f"unique doc number {i} with tokens t{i} u{i} v{i} w{i}")
           for i in range(5)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    r = lsh_recall_report(docs).collect()[0]
    assert r["n_true_pairs"] == 3 and r["n_captured"] == 3
    assert r["recall"] == 1.0
    assert r["n_captured"] <= r["n_candidates"]
    assert 0.0 < r["candidate_precision"] <= 1.0
    again = lsh_recall_report(docs.repartition(5)).collect()[0]
    assert tuple(again) == tuple(r)  # hash-deterministic, partition-invariant


def test_phrase_search_overlaps_repeats_and_index_parity(spark, sf_dir, tmp_path):
    """Phrase anchor math: overlapping matches count ('a a a' contains
    'a a' twice), repeated-term phrases work, scattered terms without
    adjacency do NOT match, single-term phrases degenerate to term
    counts — and the positional-index path returns EXACTLY the scan
    path's answer on the real corpus."""
    from admira_etl_project_prueba_spark.operators.textops import (
        phrase_search,
        phrase_search_from_index,
        write_positional_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    rows = [
        (1, "a a a"),                       # 'a a' twice (overlap)
        (2, "slow hash batch end"),         # one occurrence
        (3, "slow x hash y batch"),         # terms present, never adjacent
        (4, "slow hash batch slow hash batch"),  # two occurrences
        (5, "nothing relevant here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n_occurrences"]
           for r in phrase_search(docs, ["slow", "hash", "batch"]).collect()}
    assert got == {2: 1, 4: 2}
    aa = {r["doc_id"]: r["n_occurrences"]
          for r in phrase_search(docs, ["a", "a"]).collect()}
    assert aa == {1: 2}
    single = {r["doc_id"]: r["n_occurrences"]
              for r in phrase_search(docs, ["slow"]).collect()}
    assert single == {2: 1, 3: 1, 4: 2}

    # index == scan parity; planted docs guarantee non-vacuous matches
    # (sf0.001 happens not to contain this phrase — sf0.01 does, and the
    # catalog oracle covers that), real corpus unioned in so the bucket
    # pruning runs against full-vocabulary partition directories
    corpus = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    both = corpus.unionByName(docs.selectExpr("doc_id + 100000 AS doc_id", "text"))
    idx = str(tmp_path / "pos_index")
    write_positional_index(both, idx)
    want = {tuple(r) for r in phrase_search(both, ["slow", "hash", "batch"]).collect()}
    via_idx = {
        tuple(r)
        for r in phrase_search_from_index(spark, idx, ["slow", "hash", "batch"]).collect()
    }
    assert via_idx == want and len(want) >= 2


def test_kwic_contexts_and_index_parity(spark, sf_dir, tmp_path):
    """KWIC: exact contexts at doc edges and mid-doc; the index-backed
    variant (postings prune + semi-join-pruned corpus read) returns the
    identical concordance."""
    from admira_etl_project_prueba_spark.operators.textops import (
        kwic,
        kwic_from_index,
        write_positional_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark runs fast queries", "en", "s"),       # pos 0: empty left
            (2, "we love spark", "en", "s"),                 # pos 2: empty right
            (3, "a b c spark d e f spark", "en", "s"),       # mid + tail hits
            (4, "no match here", "en", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = [tuple(r) for r in kwic(docs, "SPARK", width=3).collect()]
    assert got == [
        (1, 0, "", "runs fast queries"),
        (2, 2, "we love", ""),
        (3, 3, "a b c", "d e f"),
        (3, 7, "d e f", ""),
    ]
    idx = str(tmp_path / "posidx")
    write_positional_index(docs, idx)
    from_index = [
        tuple(r) for r in kwic_from_index(spark, idx, docs, "spark", width=3).collect()
    ]
    assert from_index == got


def test_text_index_merge_equals_rebuild(spark, sf_dir, tmp_path):
    """Appending a batch into the BM25 index == rebuilding over the
    union, bit-for-bit: postings multiset identical, stats (incl. the
    exact decimal dl_sum fold) identical, and an indexed BM25 query
    returns the same ranked rows from either index."""
    from admira_etl_project_prueba_spark.operators.textops import (
        bm25_from_index,
        merge_text_index,
        text_index_root,
        write_text_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    write_text_index(a, inc)
    merge_text_index(spark, inc, b)
    write_text_index(docs, full)

    def postings(p):
        return sorted(
            map(
                tuple,
                spark.read.parquet(f"{text_index_root(spark, p)}/postings").collect(),
            )
        )

    def stats(p):
        return spark.read.parquet(f"{text_index_root(spark, p)}/stats").collect()[0]

    assert postings(inc) == postings(full)
    s_inc, s_full = stats(inc), stats(full)
    assert (s_inc["n_docs"], s_inc["avgdl"], s_inc["dl_sum"]) == (
        s_full["n_docs"], s_full["avgdl"], s_full["dl_sum"]
    )
    q = ["spark", "query"]
    got = [tuple(r) for r in bm25_from_index(spark, inc, q).collect()]
    want = [tuple(r) for r in bm25_from_index(spark, full, q).collect()]
    assert got == want and len(got) > 0


def test_positional_index_merge_equals_rebuild(spark, tmp_path):
    """Appending a batch into the positional index == rebuilding over
    the union: identical postings and identical phrase results."""
    from admira_etl_project_prueba_spark.operators.textops import (
        merge_positional_index,
        phrase_search,
        phrase_search_from_index,
        write_positional_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} alpha beta", "en", "s") for i in range(40)],
        "doc_id long, text string, lang string, source string",
    )
    a = docs.filter("doc_id < 25")
    b = docs.filter("doc_id >= 25")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    write_positional_index(a, inc)
    merge_positional_index(b, inc)
    write_positional_index(docs, full)
    phrase = ["alpha", "beta"]
    got = sorted(
        map(tuple, phrase_search_from_index(spark, inc, phrase).collect())
    )
    want = sorted(
        map(tuple, phrase_search_from_index(spark, full, phrase).collect())
    )
    direct = sorted(map(tuple, phrase_search(docs, phrase).collect()))
    assert got == want == direct and len(got) == 40


def test_index_compaction_restores_one_file_per_bucket(spark, sf_dir, tmp_path):
    """build → merge × 2 → compact: the merge fan-out (one extra posting
    file per touched bucket per batch) trips the threshold trigger,
    compaction brings every bucket back to ONE file, and both indexed
    BM25 and indexed phrase results are bit-identical across the cycle."""
    from admira_etl_project_prueba_spark.operators.textops import (
        bm25_from_index,
        compact_index_store,
        index_files_per_bucket,
        merge_positional_index,
        merge_text_index,
        needs_compaction,
        phrase_search_from_index,
        write_positional_index,
        write_text_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "bm25")
    write_text_index(docs.filter("doc_id % 3 = 0"), idx)
    merge_text_index(spark, idx, docs.filter("doc_id % 3 = 1"))
    merge_text_index(spark, idx, docs.filter("doc_id % 3 = 2"))
    fan = {r["term_bucket"]: r["n_files"] for r in
           index_files_per_bucket(spark, idx).collect()}
    assert max(fan.values()) >= 3  # base + 2 merges touched hot buckets
    assert needs_compaction(spark, idx, max_files_per_bucket=2)
    q = ["spark", "query"]
    before = [tuple(r) for r in bm25_from_index(spark, idx, q).collect()]
    compact_index_store(spark, idx)
    after_fan = {r["term_bucket"]: r["n_files"] for r in
                 index_files_per_bucket(spark, idx).collect()}
    assert set(after_fan.values()) == {1}
    assert not needs_compaction(spark, idx, max_files_per_bucket=2)
    after = [tuple(r) for r in bm25_from_index(spark, idx, q).collect()]
    assert after == before and len(after) > 0

    pidx = str(tmp_path / "pos")
    pdocs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} alpha beta", "en", "s") for i in range(40)],
        "doc_id long, text string, lang string, source string",
    )
    write_positional_index(pdocs.filter("doc_id < 20"), pidx)
    merge_positional_index(pdocs.filter("doc_id >= 20"), pidx)
    phrase = ["alpha", "beta"]
    pb = sorted(map(tuple, phrase_search_from_index(spark, pidx, phrase).collect()))
    compact_index_store(spark, pidx)
    pf = {r["term_bucket"]: r["n_files"] for r in
          index_files_per_bucket(spark, pidx).collect()}
    assert set(pf.values()) == {1}
    pa = sorted(map(tuple, phrase_search_from_index(spark, pidx, phrase).collect()))
    assert pa == pb and len(pa) == 40


def test_versioned_text_index_lifecycle(spark, sf_dir, tmp_path):
    """Every text-index lifecycle step — build, append-merge, fan-out
    monitor, compaction — commits the NEXT version and answers BM25
    queries exactly as a scan over the documents indexed so far; a
    reader that resolved the previous version before a commit still
    completes against its snapshot."""
    from admira_etl_project_prueba_spark.functions import fs as _fs
    from admira_etl_project_prueba_spark.operators.textops import (
        bm25_from_index,
        bm25_rank,
        compact_index_store,
        index_files_per_bucket,
        merge_text_index,
        needs_compaction,
        text_index_root,
        write_text_index,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    ver = str(tmp_path / "ver")
    write_text_index(a, ver)
    assert _fs.latest_version(spark, ver) == "v00000001"
    assert text_index_root(spark, ver).endswith("v00000001")

    q = ["spark", "query"]
    assert [tuple(r) for r in bm25_from_index(spark, ver, q).collect()] == [
        tuple(r) for r in bm25_rank(a, q).collect()
    ]

    # append-merge commits the NEXT version (committed versions are
    # immutable); a reader that resolved v1 before the merge keeps a
    # consistent postings+stats snapshot
    v1_root = text_index_root(spark, ver)
    n_v1_postings = spark.read.parquet(f"{v1_root}/postings").count()
    v1_stats = spark.read.parquet(f"{v1_root}/stats").collect()
    merge_text_index(spark, ver, b)
    assert _fs.latest_version(spark, ver) == "v00000002"
    assert spark.read.parquet(f"{v1_root}/postings").count() == n_v1_postings
    assert spark.read.parquet(f"{v1_root}/stats").collect() == v1_stats
    want = [tuple(r) for r in bm25_rank(docs, q).collect()]
    assert [tuple(r) for r in bm25_from_index(spark, ver, q).collect()] == want
    assert len(want) > 0
    assert isinstance(needs_compaction(spark, ver), bool)

    # compaction commits the NEXT version; a reader that resolved v2
    # before the commit still completes against its snapshot
    v2_postings = f"{text_index_root(spark, ver)}/postings"
    n_v2 = spark.read.parquet(v2_postings).count()
    compact_index_store(spark, ver)
    assert _fs.latest_version(spark, ver) == "v00000003"
    assert spark.read.parquet(v2_postings).count() == n_v2  # old snapshot intact
    assert [tuple(r) for r in bm25_from_index(spark, ver, q).collect()] == want
    # compacted: one file per bucket again
    assert (
        index_files_per_bucket(spark, ver)
        .filter("n_files > 1")
        .count()
        == 0
    )


def test_versioned_positional_index_lifecycle(spark, tmp_path):
    """Positional index: build, merge and compaction each commit the
    next version and keep phrase results identical to a direct phrase
    scan over the documents."""
    from admira_etl_project_prueba_spark.functions import fs as _fs
    from admira_etl_project_prueba_spark.operators.textops import (
        compact_index_store,
        merge_positional_index,
        phrase_search,
        phrase_search_from_index,
        write_positional_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} alpha beta", "en", "s") for i in range(40)],
        "doc_id long, text string, lang string, source string",
    )
    a = docs.filter("doc_id < 25")
    b = docs.filter("doc_id >= 25")
    ver = str(tmp_path / "pver")
    write_positional_index(a, ver)
    assert _fs.latest_version(spark, ver) == "v00000001"
    merge_positional_index(b, ver)
    assert _fs.latest_version(spark, ver) == "v00000002"  # merge = new version
    compact_index_store(spark, ver)
    assert _fs.latest_version(spark, ver) == "v00000003"
    phrase = ["alpha", "beta"]
    got = sorted(
        map(tuple, phrase_search_from_index(spark, ver, phrase).collect())
    )
    want = sorted(map(tuple, phrase_search(docs, phrase).collect()))
    assert got == want and len(got) == 40


def test_bpe_trainer_known_answer(spark):
    """The trainer reproduces hand-computed Sennrich BPE on a tiny
    corpus, including the deterministic tie-break and the encoder's
    token accounting."""
    from admira_etl_project_prueba_spark.operators.textops import (
        bpe_encode_stats,
        bpe_learn_merges,
    )

    docs = spark.createDataFrame(
        [(1, "low low lower lowest"), (2, "new newer newest low")],
        "doc_id long, text string",
    )
    merges = [
        (r["rank"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in bpe_learn_merges(docs, n_merges=3).orderBy("rank").collect()
    ]
    # corpus words: low x3, lower, lowest, new, newer, newest
    # round 1: l-o in low(3) + lower + lowest = 5 -> 'lo'
    # round 2: lo-w same 5 occurrences -> 'low'
    # round 3: e-w in new, newer, newest = 3 -> 'ew'
    assert merges == [
        (1, "l", "o", "lo", 5),
        (2, "lo", "w", "low", 5),
        (3, "e", "w", "ew", 3),
    ]
    stats = {
        r["doc_id"]: (r["n_words"], r["n_chars"], r["n_bpe_tokens"])
        for r in bpe_encode_stats(docs, n_merges=3).collect()
    }
    # doc1: low(1 sym 'low') x2, lower -> low+e+r =3, lowest -> low+e+s+t=4
    #   words=4 chars=3+3+5+6=17 tokens=1+1+3+4=9
    # doc2: new -> n+ew=2, newer -> n+ew+e+r=4, newest -> n+ew+e+s+t=5,
    #   low -> 1; words=4 chars=3+5+6+3=17 tokens=2+4+5+1=12
    assert stats == {1: (4, 17, 9), 2: (4, 17, 12)}


def test_bpe_frontier_checkpoint_equals_unrolled(spark, sf_dir):
    """The frontier-checkpoint trainer (materialized per-round argmax +
    periodic vocabulary localCheckpoint — the real-vocabulary-depth
    mode) learns EXACTLY the merge list of the unrolled single-plan
    mode, at every checkpoint cadence; and when the corpus runs out of
    mergeable pairs both modes stop yielding rows at the same rank."""
    from admira_etl_project_prueba_spark.operators.textops import (
        bpe_learn_merges,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    # depth 8: deep enough to cross several checkpoint boundaries, and
    # the UNROLLED reference side stays cheap (its plan depth grows with
    # n_merges — the very ceiling frontier mode removes; depth 12 cost
    # minutes of plan compilation for no extra coverage)
    docs = load_table(spark, sf_dir, "documents")
    want = sorted(
        map(tuple, bpe_learn_merges(docs, n_merges=8).collect())
    )

    # the three cadence trainings are independent — overlap their
    # (sequential-round, latency-bound) jobs; same equality assertions
    from concurrent.futures import ThreadPoolExecutor

    def train(every):
        got = sorted(
            map(
                tuple,
                bpe_learn_merges(
                    docs, n_merges=8, checkpoint_every=every
                ).collect(),
            )
        )
        assert got == want, f"checkpoint_every={every}"

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(train, (1, 3, 100)))

    # exhaustion: a corpus whose vocabulary supports only 2 merges stops
    # early in both modes with identical rows
    tiny = spark.createDataFrame(
        [(1, "ab ab ab")], "doc_id long, text string"
    )
    unrolled = sorted(map(tuple, bpe_learn_merges(tiny, 5).collect()))
    frontier = sorted(
        map(tuple, bpe_learn_merges(tiny, 5, checkpoint_every=2).collect())
    )
    assert unrolled == frontier and len(unrolled) == 1  # 'a b' -> 'ab'


def test_bpe_frontier_driver_fast_path_equals_distributed(
    spark, sf_dir, monkeypatch
):
    """The bounded in-process merge loop (vocabulary ≤
    DRIVER_ROWS_MAX collected once, rounds run in Python) learns
    EXACTLY the merge list of the distributed per-round aggregate loop —
    same argmax tie-breaks (UTF-8 binary vs code-point order), same
    doubled-separator rewrite scan semantics, same early stop."""
    from admira_etl_project_prueba_spark.operators import _driver
    from admira_etl_project_prueba_spark.operators import textops as T

    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    fast = [
        tuple(r)
        for r in T.bpe_learn_merges(
            docs, n_merges=16, checkpoint_every=4
        ).collect()
    ]
    monkeypatch.setattr(_driver, "DRIVER_ROWS_MAX", 0)
    slow = [
        tuple(r)
        for r in T.bpe_learn_merges(
            docs, n_merges=16, checkpoint_every=4
        ).collect()
    ]
    assert fast == slow and len(fast) == 16

    # exhaustion parity on the fast path too
    tiny = spark.createDataFrame([(1, "ab ab ab")], "doc_id long, text string")
    monkeypatch.setattr(_driver, "DRIVER_ROWS_MAX", 10**9)
    got = [
        tuple(r)
        for r in T.bpe_learn_merges(tiny, 5, checkpoint_every=2).collect()
    ]
    assert len(got) == 1 and got[0][1:4] == ("a", "b", "ab")


def test_bpe_adjacent_occurrences_merge_in_one_pass(spark):
    """The doubled-separator rewrite merges back-to-back occurrences of
    the winning pair ('ababab' -> ab ab ab in ONE round), the boundary
    case a naive single-space replace silently drops."""
    from admira_etl_project_prueba_spark.operators.textops import (
        bpe_encode_stats,
        bpe_learn_merges,
    )

    docs = spark.createDataFrame(
        [(1, "ababab ababab")], "doc_id long, text string"
    )
    m = bpe_learn_merges(docs, n_merges=1).first()
    assert (m["left_sym"], m["right_sym"], m["pair_count"]) == ("a", "b", 6)
    s = bpe_encode_stats(docs, n_merges=1).first()
    assert s["n_bpe_tokens"] == 6  # 3 'ab' symbols per word, both words


def test_bpe_frozen_encoder_and_stream_parity(spark, sf_dir, tmp_path):
    """Persisted merges + frozen encode == inline trainer output on the
    training corpus; the streaming twin appends identical per-doc rows
    however the docs are micro-batched."""
    import json

    from admira_etl_project_prueba_spark.operators.textops import (
        bpe_encode_from_merges,
        bpe_encode_stats,
        write_bpe_merges,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table
    from admira_etl_project_prueba_spark.streaming.ingest import stream_bpe_encode

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    model = str(tmp_path / "bpe_model")
    write_bpe_merges(docs, model, n_merges=4)

    inline = {tuple(r) for r in bpe_encode_stats(docs, n_merges=4).collect()}
    frozen = {
        tuple(r) for r in bpe_encode_from_merges(spark, docs, model).collect()
    }
    assert frozen == inline and len(frozen) > 0

    rows = [(r["doc_id"], r["text"]) for r in docs.limit(12).collect()]
    src = tmp_path / "bpe_in"
    src.mkdir()
    for fname, chunk in (("a.json", rows[:6]), ("b.json", rows[6:])):
        with open(src / fname, "w") as fh:
            for did, text in chunk:
                fh.write(json.dumps({"doc_id": did, "text": text}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = str(tmp_path / "bpe_out")
    q = stream_bpe_encode(stream, model, out, str(tmp_path / "bpe_ckpt"))
    q.awaitTermination(120)
    streamed = {tuple(r) for r in spark.read.parquet(out).collect()}
    want_ids = {r[0] for r in rows}
    assert streamed == {t for t in frozen if t[0] in want_ids}


def test_vocab_growth_curve_invariants(spark, sf_dir):
    """Cumulative counts are monotone, the final row covers the whole
    corpus exactly, and the type/token ratio can only fall or hold as
    prefixes grow (types are counted at first appearance)."""
    from admira_etl_project_prueba_spark.operators.textops import (
        vocab_growth_curve,
    )
    from admira_etl_project_prueba_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = vocab_growth_curve(docs).orderBy("bin").collect()
    assert [r["bin"] for r in rows] == list(range(1, len(rows) + 1))
    toks = [r["n_tokens_cum"] for r in rows]
    types = [r["n_types_cum"] for r in rows]
    assert toks == sorted(toks) and types == sorted(types)
    from pyspark.sql import functions as F

    words = docs.selectExpr(
        "explode_outer(split(lower(trim(text)), '\\\\s+')) AS w"
    ).filter("w IS NOT NULL AND w != ''")
    assert toks[-1] == words.count()
    assert types[-1] == words.distinct().count()
