"""Training-data pipeline operators: dedup, similarity search, text analysis,
multimodal plumbing — tested on deterministic synthetic documents/vectors."""

import math

import pytest
from pyspark.sql import functions as F

from graftlouvain.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from graftlouvain.operators.multimodal import decode_features, media_from_docs
from graftlouvain.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_topk,
)
from graftlouvain.operators.textstats import (
    fingerprints,
    lang_id,
    quality_scores,
    token_counts,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and that is the end of the story "
    "which we repeat to make the document long enough for shingles"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),  # near dup of 0
        (3, "der hund und die katze sind nicht das problem ist es"),
        (4, "completely different content about spark dataframes and shuffles xyz"),
        (5, ""),  # empty doc
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r for r in exact_dedup(docs).collect()}
    assert out[0]["canonical_id"] == 0 and not out[0]["is_duplicate"]
    assert out[1]["canonical_id"] == 0 and out[1]["is_duplicate"]
    assert not out[2]["is_duplicate"]
    assert len({r["content_sha"] for r in out.values()}) == 5


def test_ngram_jaccard(spark, docs):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert all(a < b for a, b in pairs)
    assert (0, 4) not in pairs and (3, 4) not in pairs


def test_minhash_lsh_finds_near_dups(spark, docs):
    got = {(r["a"], r["b"]) for r in
           minhash_lsh_pairs(docs, threshold=0.5).select("a", "b").collect()}
    assert (0, 1) in got
    assert (0, 2) in got  # J≈0.9 near-dup caught by 16 bands of 4
    assert (0, 4) not in got


def test_minhash_signature_properties(spark, docs):
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs, num_hashes=16).collect()}
    assert sigs[0] == sigs[1]  # identical docs → identical signatures
    agree_02 = sum(a == b for a, b in zip(sigs[0], sigs[2])) / 16
    agree_04 = sum(a == b for a, b in zip(sigs[0], sigs[4])) / 16
    assert agree_02 > agree_04  # signature agreement tracks Jaccard


def test_simhash_near_dups(spark, docs):
    got = {(r["a"], r["b"]): r["hamming"] for r in
           simhash_near_dup_pairs(docs, max_hamming=10).collect()}
    assert got.get((0, 1)) == 0
    assert (0, 2) in got and got[(0, 2)] <= 10
    assert (0, 4) not in got


@pytest.fixture(scope="module")
def vectors(spark):
    """3 clusters of near-identical vectors + noise, deterministic."""
    import random
    rng = random.Random(7)
    rows = []
    dim = 16
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(3)]
    vid = 0
    for c in centers:
        for _ in range(5):
            rows.append((vid, [x + rng.gauss(0, 0.01) for x in c]))
            vid += 1
    for _ in range(10):
        rows.append((vid, [rng.gauss(0, 1) for _ in range(dim)]))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()


def test_cosine_topk_exact(spark, vectors):
    out = cosine_topk(vectors.where("vec_id < 3"), vectors, k=4)
    rows = out.where("query_id = 0").orderBy("rank").collect()
    assert {r["vec_id"] for r in rows} == {1, 2, 3, 4}  # own cluster first
    assert all(r["cosine"] > 0.99 for r in rows)
    # oracle: exact python cosine for query 0's top-1
    vecs = {r["vec_id"]: r["embedding"] for r in vectors.collect()}
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))
    best = max((cos(vecs[0], vecs[j]) for j in vecs if j != 0))
    assert rows[0]["cosine"] == pytest.approx(best, abs=1e-6)


def test_lsh_topk_recall(spark, vectors):
    exact = cosine_topk(vectors.where("vec_id < 3"), vectors, k=4)
    approx = lsh_topk(vectors.where("vec_id < 3"), vectors, dim=16, k=4,
                      n_bits=8, n_tables=8)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.75  # clustered data, 8 tables → high recall


def test_embedding_near_dup_pairs(spark, vectors):
    pairs = {(r["a"], r["b"]) for r in embedding_near_dup_pairs(vectors, 0.99).collect()}
    # all intra-cluster pairs of cluster 0 (ids 0-4) present
    want = {(a, b) for a in range(5) for b in range(a + 1, 5)}
    assert want <= pairs
    assert all(not (a < 5 <= b < 10) for a, b in pairs)  # no cross-cluster


def test_embedding_near_dup_lsh_matches_exact(spark, vectors):
    """The LSH-bucketed scale path must find the SAME pairs as the exact
    all-pairs baseline on planted near-dup clusters, without a cross join."""
    from graftlouvain.operators.similarity import embedding_near_dup_pairs_lsh

    exact = {
        (r["a"], r["b"], r["cosine"])
        for r in embedding_near_dup_pairs(vectors, 0.99).collect()
    }
    lsh_df = embedding_near_dup_pairs_lsh(vectors, dim=16, threshold=0.99)
    lsh = {(r["a"], r["b"], r["cosine"]) for r in lsh_df.collect()}
    assert lsh == exact
    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # vector×vector candidacy must be an equi join keyed on the LSH bucket;
    # the only nested-loop join allowed is the planes dimension attach, whose
    # broadcast side is the tiny createDataFrame LocalTableScan
    assert "bucket" in plan and ("SortMergeJoin" in plan or "HashJoin" in plan)
    # createDataFrame surfaces as either LocalTableScan or Scan ExistingRDD
    assert plan.count("BroadcastNestedLoopJoin") <= (
        plan.count("LocalTableScan") + plan.count("Scan ExistingRDD")
    )


def test_lsh_plan_size_independent(spark, vectors):
    """The hyperplanes travel as broadcast DATA, not plan literals: plan size
    must not grow with n_tables/n_bits (round-2 verdict: the unrolled-literal
    form spent ~9.5 s of pure plan/codegen overhead on 100 rows)."""
    from graftlouvain.operators.similarity import lsh_bucketed

    import re

    def plan_shape(df):
        # expression ids (#123) and lambda-variable counters (x_7) vary with
        # session allocation order — strip both
        s = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"_\d+", "_", re.sub(r"#\d+", "#", s))

    p_small = plan_shape(lsh_bucketed(vectors, 16, n_bits=4, n_tables=2))
    p_big = plan_shape(lsh_bucketed(vectors, 16, n_bits=16, n_tables=24))
    assert p_big == p_small


def test_lang_id(spark, docs):
    out = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    assert out[0] == "en"
    assert out[3] == "de"
    assert out[5] == "de"  # zero hits → alphabetically first (deterministic)


def test_token_counts(spark, docs):
    out = {r["doc_id"]: r for r in token_counts(docs).collect()}
    assert out[5]["ws_tokens"] == 0 and out[5]["n_chars"] == 0
    assert out[0]["ws_tokens"] == len(BASE.split())
    assert out[0]["bpe_ish_tokens"] >= out[0]["ws_tokens"]


def test_quality_scores(spark, docs):
    out = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    assert out[0]["quality"] == 1.0
    assert out[5]["quality"] <= 0.5  # empty doc: fails length+stopword gates
    assert 0.0 <= out[3]["quality"] <= 1.0


def test_fingerprints(spark, docs):
    import hashlib
    out = {r["doc_id"]: r["fingerprint"] for r in fingerprints(docs).collect()}
    assert out[0] == out[1] == hashlib.sha256(BASE.lower().encode()).hexdigest()
    spaced = docs.select("doc_id", F.concat(F.lit("  "), F.upper("text"), F.lit("\n\n")).alias("text"))
    out2 = {r["doc_id"]: r["fingerprint"] for r in fingerprints(spaced).collect()}
    assert out2[0] == out[0]  # formatting-invariant


def test_multimodal_plumbing(spark, docs):
    media = media_from_docs(docs)
    feats = decode_features(media, fake=True)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert rows[0]["n_bytes"] == len(BASE.encode())
    assert len(rows[0]["features"]) == 8
    assert all(0.0 <= x <= 1.0 for x in rows[0]["features"])
    assert rows[0]["sha"] == rows[1]["sha"]  # same bytes → same sha
    import hashlib
    assert rows[0]["sha"] == hashlib.sha256(BASE.encode()).hexdigest()


def _ppm_media(spark):
    import numpy as np
    from graftlouvain.operators.multimodal import ppm_encode

    blobs = []
    for i, (w, h) in enumerate([(4, 3), (2, 2), (6, 1)]):
        px = (np.arange(w * h * 3, dtype=np.int64).reshape(h, w, 3) * (i + 7)) % 256
        blobs.append((i, "image", bytearray(ppm_encode(w, h, px)), {"codec": "image/ppm"}))
    return spark.createDataFrame(
        blobs, "media_id long, kind string, blob binary, meta map<string,string>"
    )


def test_ppm_decode_real_path(spark):
    """fake=False is a REAL decoder now: P6 header parse + per-channel
    mean/std in pure numpy, through the same Arrow mapInPandas plumbing."""
    import numpy as np
    from graftlouvain.operators.multimodal import _decode_ppm, ppm_encode

    media = _ppm_media(spark)
    rows = {r["media_id"]: r for r in decode_features(media, fake=False).collect()}
    assert rows[0]["features"][0] == 4.0 and rows[0]["features"][1] == 3.0
    px = (np.arange(4 * 3 * 3, dtype=np.int64).reshape(3, 4, 3) * 7) % 256
    expect_mean = (px / 255.0).mean(axis=(0, 1))
    assert abs(rows[0]["features"][2] - expect_mean[0]) < 1e-12
    assert abs(rows[0]["features"][3] - expect_mean[1]) < 1e-12
    # header comments and maxval parsing
    blob = b"P6\n# a comment\n2 1\n255\n" + bytes(6)
    assert _decode_ppm(blob).shape == (1, 2, 3)
    # corrupt blobs fail loud, not silent
    import pytest as _pytest
    with _pytest.raises(ValueError):
        _decode_ppm(b"JFIFnot a ppm")
    with _pytest.raises(ValueError):
        _decode_ppm(ppm_encode(4, 4, np.zeros((4, 4, 3)))[:-5])


def test_hash_sample_deterministic(spark):
    """md5-bucket sampling must be identical across evaluations and
    partition layouts (unlike F.rand)."""
    import sys, os
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as em
    a = {r["doc_id"] for r in em.q_hash_sample(spark, "/root/testdata/sf0.001").collect()}
    b = {
        r["doc_id"]
        for r in em.q_hash_sample(spark, "/root/testdata/sf0.001")
        .repartition(7)
        .collect()
    }
    assert a == b and len(a) > 0


def test_whitespace_class_cross_engine(spark):
    """Java's \\s includes \\x0B (vertical tab); RE2's (DuckDB) does not. The
    operators and their oracles pin an explicit character class so a
    vertical-tab document tokenizes identically in both engines."""
    import duckdb

    from graftlouvain.operators.textstats import token_counts

    docs = spark.createDataFrame([(0, "a\x0bb c")], "doc_id long, text string")
    got = token_counts(docs).first()["ws_tokens"]
    con = duckdb.connect()
    want = con.sql(
        r"SELECT LENGTH(regexp_extract_all('a' || chr(11) || 'b c',"
        r" '[^ \t\n\x0B\f\r]+'))"
    ).fetchone()[0]
    assert got == want == 3  # \x0B splits in BOTH engines (bare \S+ gives 2 in RE2)


def test_approx_quantiles_tolerance(spark):
    """The 100 TB quantile path (approx_percentile / Greenwald-Khanna): when
    a group EXCEEDS the accuracy parameter the sketch really approximates, and
    the returned value must sit within the documented rank bound
    (±N/accuracy) of the exact order statistic — on a skewed (Zipf-ish)
    distribution where equal-width bins would fail."""
    from pyspark.sql import functions as F

    n, acc = 50_000, 100
    df = spark.range(n).select(
        (F.lit(10.0) / (F.col("id") / n + F.lit(0.01))).cast("long").alias("v")
    )
    got = df.agg(
        F.expr(f"approx_percentile(v, array(0.5, 0.9, 0.99), {acc})").alias("q")
    ).first()["q"]
    vals = sorted(r["v"] for r in df.collect())
    for p, g in zip((0.5, 0.9, 0.99), got):
        rank_err = n // acc + 1
        lo = vals[max(0, int(p * n) - rank_err)]
        hi = vals[min(n - 1, int(p * n) + rank_err)]
        assert lo <= g <= hi, (p, g, lo, hi)


def test_ivf_topk_recall(spark, vectors):
    """IVF probe path: with enough probes (8 of 16 cells) recall vs brute
    force is high on clustered data; schema identical to cosine_topk."""
    from graftlouvain.operators.similarity import ivf_topk

    exact = cosine_topk(vectors.where("vec_id < 3"), vectors, k=4)
    approx = ivf_topk(vectors.where("vec_id < 3"), vectors, k=4,
                      n_centroids=16, n_probe=8)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert approx.columns == exact.columns
    assert len(e & a) / len(e) >= 0.75


def test_approx_count_distinct_error_bound(spark):
    """The 100 TB cardinality path (approx_count_distinct, HLL++): per-type
    estimates within 3x the default 5% relative error of the exact counts
    (the exact twin is the oracled user_cardinality query)."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact) and len(exact) > 0
    for t, n in exact.items():
        assert abs(approx[t] - n) <= max(3, 0.15 * n), (t, n, approx[t])


def test_substring_dup_spans(spark, docs):
    """Lee-et-al-style substring dedup: BASE is 28 tokens; docs 0/1 are
    identical (one maximal 28-token span), doc 2 differs at token index 7
    (lazy→sleepy), so only 8-token windows starting ≥ 8 match (one 20-token
    span starting at 8)."""
    from graftlouvain.operators.dedup import substring_dup_spans

    out = {(r["doc_a"], r["doc_b"]): r for r in substring_dup_spans(docs, n=8).collect()}
    assert set(out) == {(0, 1), (0, 2), (1, 2)}
    full = out[(0, 1)]
    assert (full["a_start"], full["b_start"]) == (0, 0)
    assert full["n_grams"] == 21 and full["span_tokens"] == 28
    part = out[(0, 2)]
    assert (part["a_start"], part["b_start"]) == (8, 8)
    assert part["span_tokens"] == 20

    # df cap drops shingles shared by >max_doc_freq docs BEFORE the join:
    # with cap 2 the windows present in all three docs (starts ≥ 8) vanish,
    # leaving only the 0↔1 windows that straddle token 7 (starts 0..7).
    capped = {(r["doc_a"], r["doc_b"]): r
              for r in substring_dup_spans(docs, n=8, max_doc_freq=2).collect()}
    assert set(capped) == {(0, 1)}
    assert capped[(0, 1)]["span_tokens"] == 15  # starts 0..7 → tokens 0..14


def test_contamination_flags(spark, docs):
    """13-gram decontamination against doc 0 as the benchmark: doc 1 (exact
    dup) hits all 16 windows, doc 2 only the 8 windows that avoid the edited
    token, clean docs never appear."""
    from graftlouvain.operators.dedup import contamination_flags

    bench = docs.where("doc_id = 0")
    corpus = docs.where("doc_id != 0")
    out = {r["doc_id"]: r
           for r in contamination_flags(corpus, bench, n=13, min_hits=16).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_hits"] == 16 and out[1]["contaminated"]
    assert out[2]["n_hits"] == 8 and not out[2]["contaminated"]


def test_mask_duplicate_spans(spark, docs):
    """The Lee et al. INTERVENTION on the span detector's output: doc 0
    (lowest holder) keeps every span; doc 1 (exact dup of 0) is emptied; doc
    2's two pair-spans (vs 0 and vs 1, both [8,28)) merge into ONE removal
    interval leaving its first 8 tokens; unrelated and empty docs pass
    through; the transform is idempotent (re-masking the masked corpus
    changes nothing)."""
    from graftlouvain.operators.dedup import mask_duplicate_spans

    base_toks = BASE.split()
    doc2_toks = BASE.replace("lazy", "sleepy").split()
    out = {r["doc_id"]: r for r in mask_duplicate_spans(docs, n=8).collect()}
    assert set(out) == {0, 1, 2, 3, 4, 5}
    assert out[0]["text"] == " ".join(base_toks)
    assert out[0]["n_spans_removed"] == 0 and out[0]["n_tokens_removed"] == 0
    assert out[1]["text"] == "" and out[1]["n_tokens_removed"] == len(base_toks)
    assert out[1]["n_spans_removed"] == 1
    assert out[2]["text"] == " ".join(doc2_toks[:8])
    assert out[2]["n_spans_removed"] == 1  # two pair-spans, one merged interval
    assert out[2]["n_tokens_removed"] == len(doc2_toks) - 8
    assert out[3]["n_tokens_removed"] == 0 and out[4]["n_tokens_removed"] == 0
    assert out[5]["text"] == "" and out[5]["n_tokens_removed"] == 0

    # idempotence: masking the masked corpus is a no-op (nothing duplicated
    # survives the first pass among the kept-first copies... doc 0 retains
    # the only copy)
    masked = mask_duplicate_spans(docs, n=8).select("doc_id", "text")
    again = {r["doc_id"]: r for r in mask_duplicate_spans(masked, n=8).collect()}
    for i in range(6):
        assert again[i]["text"] == out[i]["text"], i
        assert again[i]["n_tokens_removed"] == 0, i

    # min_span_tokens filter: nothing shorter than 29 tokens exists, so a
    # 29-token floor masks nothing
    untouched = mask_duplicate_spans(docs, n=8, min_span_tokens=29)
    assert untouched.agg(F.sum("n_tokens_removed")).first()[0] == 0
