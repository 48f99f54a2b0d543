"""Document deduplication operators for training-data pipelines, over a
documents table [doc_id: long, text: string]:

- :func:`exact_dedup` — sha256 grouping, keep the smallest doc_id per hash.
- :func:`ngram_jaccard_pairs` — EXACT character-n-gram Jaccard similarity via
  distinct-gram self-join (quadratic in near-dup cluster size; the exact
  baseline the approximate methods are validated against).
- :func:`minhash_lsh_pairs` — MinHash signatures (one md5 per gram, k affine
  double-hash permutations, no Python in the hot path) banded into LSH
  buckets; candidate pairs post-verified with exact Jaccard restricted to the
  candidate set. The 100 TB-scale path: cost ≈ O(docs × grams) + bucket joins
  + O(candidates) verification.
- :func:`simhash64` / :func:`simhash_near_dup_pairs` — 64-bit SimHash
  (Charikar 2002) over md5 token hashes, computed entirely with JVM bit
  expressions; near-dups = signatures at small Hamming distance, bucketed by
  4 × 16-bit bands (Manku et al. 2007).
- :func:`substring_dup_spans` / :func:`mask_duplicate_spans` — substring-level
  exact dedup (Lee et al. 2021): maximal cross-document duplicated token
  spans via positional shingle match + island merge, and the intervention
  that rewrites the corpus with those spans removed keep-first.
- :func:`contamination_flags` — benchmark decontamination by shared
  n-token shingles.

Near-duplicate detection on an embedding column lives in
:mod:`graftlouvain.operators.similarity`.

Common scale guards: n-grams deduplicated per document before hashing; gram
join filtered by document-frequency cap (drops stop-grams that would create
quadratic hot buckets — deterministic, applied identically in oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graftlouvain.operators.textstats import WS_RE as _WS_RE
from graftlouvain.functions.iterate import materialize as _materialize


def exact_dedup(docs: DataFrame) -> DataFrame:
    """[doc_id, content_sha, canonical_id, is_duplicate] — canonical = min id
    per exact content hash."""
    hashed = docs.select("doc_id", F.sha2(F.col("text"), 256).alias("content_sha"))
    canon = hashed.groupBy("content_sha").agg(F.min("doc_id").alias("canonical_id"))
    return (
        hashed.join(canon, "content_sha")
        .select(
            "doc_id",
            "content_sha",
            "canonical_id",
            (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
        )
    )


_SPREAD_MAX_BYTES = 32 * 1024 * 1024


def _spread(df: DataFrame) -> DataFrame:
    """Small-input parallelism guard: a small parquet scan arrives as 1-2
    partitions (tiny files can't split below row-group granularity), which
    serializes the gram/token EXPLODE — the dominant map work of every
    text-dedup operator — onto one core (measured at sf0.1: the gram stage
    alone 4.5-6.5 s single-partition vs 0.6-0.9 s spread, the whole-input
    scan being ~1.5 MB). Round-robin repartition to the session's default
    parallelism whenever the optimizer's size estimate for the input is
    under 32 MB; at real scale the estimate is huge and this is a NO-OP
    (no shuffle added — the guard is what makes it scale-safe). The size
    comes from the LOGICAL PLAN's statistics (sum of scan file sizes), not
    from partition counting: reading ``df.rdd`` would force a plan-to-RDD
    conversion per call. Inputs between 32 MB and cores×maxPartitionBytes
    need no guard either way — Spark's own ``minPartitionNum`` split sizing
    already spreads splittable scans to ~defaultParallelism partitions.
    Output is row-identical: everything downstream is an aggregation."""
    target = df.sparkSession.sparkContext.defaultParallelism
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    if size < _SPREAD_MAX_BYTES:
        return df.repartition(target)
    return df


def _char_ngrams(n: int) -> "F.Column":
    """Distinct character n-grams of lower-cased text, as an array column —
    built with sequence+transform (whole-stage codegen, no UDF)."""
    t = F.lower(F.col("text"))
    # docs shorter than n contribute their whole text as one (short) gram —
    # deterministic, replicated verbatim by the SQL oracles
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - F.lit(n - 1), F.lit(1))),
            lambda i: t.substr(i, F.lit(n)),
        )
    )


def doc_ngrams(docs: DataFrame, n: int = 8) -> DataFrame:
    """Exploded distinct (doc_id, gram) pairs."""
    return _spread(docs).select("doc_id", F.explode(_char_ngrams(n)).alias("gram"))


def _jaccard_from_inter(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """[a, b, jaccard ≥ threshold] from per-pair rare-gram intersection counts
    plus exact per-doc set sizes."""
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n_grams").alias("nb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


def _pairs_of_sorted(ids_col: "F.Column") -> "F.Column":
    """All a<b pairs of an ASCENDING-sorted id array as array<struct<a,b>> —
    pure JVM higher-order functions (no UDF, no join): element i pairs with
    every later element (slice is 1-based, so the tail after index i starts
    at position i+2; a length of size(ids) safely clamps to the end)."""
    return F.flatten(
        F.transform(
            ids_col,
            lambda x, i: F.transform(
                F.slice(ids_col, i + F.lit(2), F.size(ids_col)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 8,
    threshold: float = 0.8,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Exact Jaccard over distinct char n-grams: pairs with J ≥ threshold.
    Grams appearing in more than ``max_doc_freq`` documents are excluded from
    pair GENERATION (hot-bucket guard) but kept in the per-doc set sizes, so
    J is computed on the intersection restricted to rare grams over true union
    size — a conservative (recall-lowering, precision-keeping) approximation
    applied identically in the SQL oracle.

    Pair generation is a df-count pre-filter followed by ONE
    groupBy(gram).collect_list + a JVM pair explosion
    (:func:`_pairs_of_sorted`): the count aggregate is map-side combinable
    (tiny partial state even for a gram present in every doc), and the
    left_semi join removes hot grams BEFORE any doc-id array is collected —
    so the df cap genuinely bounds every collected group's array and its
    quadratic expansion. Collecting first and filtering by ``size(ids)``
    after would be one shuffle cheaper but materializes the full doc-id
    array of every hot gram (e.g. a whitespace 5-gram present in nearly the
    whole corpus) inside a single reducer task before discarding it —
    a collect_list skew OOM at scale (the size filter cannot be pushed
    below the aggregation). The semi join re-shuffles the gram table on
    the same key the collect_list groups by, so the second shuffle's
    partitioning is reused. Output is row-identical to the unfiltered
    formulation (same per-gram pair contributions, no floats involved),
    so the SQL oracle is unchanged.

    The result is computed AT CALL TIME: the exploded gram table is CACHED
    for the evaluation and the result localCheckpoint-pinned before the
    cache is released — the plan references grams four times (per-doc
    sizes twice via the join in :func:`_jaccard_from_inter`, the df-count
    aggregate, and the collect_list input), and only the aggregate
    exchanges that canonicalize equal are deduplicated by ReuseExchange:
    without the cache the corpus scan + gram EXPLODE — the dominant map
    work — re-executes per remaining reference (measured ~3×)."""
    grams = doc_ngrams(docs, n).cache()
    # referenced twice (a-side and b-side of the jaccard join) — pin the
    # tiny V-row table so the gram-cache pass behind it runs once
    sizes = _materialize(grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams")))
    rare = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= max_doc_freq))
        .select("gram")
    )
    groups = (
        grams.join(rare, "gram", "left_semi")
        .groupBy("gram")
        .agg(F.collect_list("doc_id").alias("ids"))
    )
    pairs = (
        groups.select(F.explode(_pairs_of_sorted(F.array_sort("ids"))).alias("p"))
        .select("p.a", "p.b")
    )
    inter = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("inter"))
    out = _materialize(_jaccard_from_inter(inter, sizes, threshold))
    grams.unpersist()
    return out


def _md5_pair(col: "F.Column") -> tuple["F.Column", "F.Column"]:
    """Two independent integers from one md5: h1 = first 15 hex chars
    (60 bits), h2 = 14 hex chars from position 17 (56 bits). Hex parse via
    conv() — DuckDB replicates with CAST('0x'||SUBSTR(...) AS BIGINT),
    verified identical bit-for-bit."""
    m = F.md5(col)
    h1 = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(m, 17, 14), 16, 10).cast("long")
    return h1, h2


MINHASH_P = 2_147_483_647  # Mersenne prime 2^31 − 1


def minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic per-hash coefficients (a_j, c_j) ∈ [1, p−1]² for the
    Carter-Wegman family g_j = (a_j·h1 + c_j·h2) mod p. Shared by the Spark
    operator and the generated DuckDB oracle SQL so they cannot drift."""
    import random

    rng = random.Random(f"minhash:{seed}")
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(1, MINHASH_P))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    docs: DataFrame,
    n: int = 8,
    num_hashes: int = 64,
    grams: DataFrame | None = None,
    seed: int = 42,
) -> DataFrame:
    """[doc_id, sig: array<long>] — sig[j] = min over grams of
    (a_j·(h1 mod p) mod p + c_j·(h2 mod p) mod p) mod p, with (h1, h2)
    derived from md5(gram) (:func:`_md5_pair`) and per-hash random
    coefficients (:func:`minhash_coeffs`).

    ONE variable-length hash per gram; the k permutations are independent
    Carter-Wegman combinations mod a Mersenne prime — ~k× cheaper than k
    independent string hashes, exactly replicable in the DuckDB oracle, and
    (critically) INDEPENDENT across j: a structured family like h1 + j·h2 is
    linear in j, so the same gram minimizes many consecutive hashes, band
    rows correlate, and P(band collision) degrades from J^r toward J —
    measured 422k LSH candidates for 7k true pairs on a 20k-doc corpus.
    With independent coefficients the argmin gram varies per j. No overflow:
    operands are reduced mod p < 2^31 first, so each product < 2^62 and the
    final sum of two mod-p terms < 2^32.

    Grams are exploded ONCE and all k minima run in a single hash-aggregate
    pass (map-side partial min per hash); an array-expression formulation
    (transform+array_min per seed) re-evaluates the substring extraction per
    seed — measured 568 s vs seconds at sf0.1.
    """
    if grams is None:
        grams = doc_ngrams(docs, n)
    h1, h2 = _md5_pair(F.col("gram"))
    p = F.lit(MINHASH_P)
    hashed = grams.select("doc_id", (h1 % p).alias("h1"), (h2 % p).alias("h2"))
    aggs = [
        F.min(
            (F.lit(a) * F.col("h1") % p + F.lit(c) * F.col("h2") % p) % p
        ).alias(f"_h{j}")
        for j, (a, c) in enumerate(minhash_coeffs(num_hashes, seed))
    ]
    per_doc = hashed.groupBy("doc_id").agg(*aggs)
    return per_doc.select(
        "doc_id",
        F.array(*[F.col(f"_h{j}") for j in range(num_hashes)]).alias("sig"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 8,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    max_doc_freq: int = 100,
) -> DataFrame:
    """LSH candidate pairs: split the signature into ``bands`` bands of
    num_hashes/bands rows; docs colliding in ANY band are candidates, and
    the candidates are post-filtered by exact n-gram Jaccard ≥ threshold
    (same computation as :func:`ngram_jaccard_pairs`) restricted to the
    candidate set.

    The exploded gram table is CACHED once and shared between the
    signature pass and the verification pass — otherwise each pass
    re-scans and re-explodes the corpus (the gram explode is the dominant
    scan cost) — and the result is computed AT CALL TIME (the output is
    localCheckpoint-pinned so the gram cache can be released immediately —
    the checkpoint blocks themselves are freed by GC when the returned
    DataFrame is dropped)."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    grams = doc_ngrams(docs, n).cache()
    sigs = minhash_signatures(docs, n, num_hashes, grams=grams)
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    left = banded.select("band", "bucket", F.col("doc_id").alias("a"))
    right = banded.select("band", "bucket", F.col("doc_id").alias("b"))
    cands = (
        left.join(right, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # Exact-Jaccard verification restricted to CANDIDATE pairs — cost
    # O(candidates × grams/doc), never the all-pairs gram self-join (which
    # would defeat LSH at scale): attach a's rare grams to each candidate
    # pair, then count how many also belong to b.
    # ``rare`` is referenced on BOTH sides of the intersection join and
    # ``sizes`` on both sides of the jaccard join; only their
    # canonically-equal exchanges are deduplicated by ReuseExchange, so
    # without a pin the df-count aggregate behind ``rare`` (a full pass over
    # the gram cache) executes twice (r6 measured). Pin the per-GRAM keep
    # list (one row per surviving gram) rather than the doc-gram-scale
    # ``rare`` table itself: the keep list is orders of magnitude smaller
    # than the exploded corpus, so no second gram-scale copy is held in
    # storage (r6 review) — the two remaining semi probes run against the
    # shared gram cache.
    sizes = _materialize(grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams")))
    keep = _materialize(
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_doc_freq)
        .select("gram")
    )
    rare = grams.join(keep, "gram", "left_semi")
    ga = cands.join(rare.select(F.col("doc_id").alias("a"), "gram"), "a")
    inter = (
        ga.join(rare.select(F.col("doc_id").alias("b"), "gram"), ["b", "gram"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = _materialize(_jaccard_from_inter(inter, sizes, threshold))
    grams.unpersist()  # real release — the cache, not a checkpoint
    return out


def simhash64(docs: DataFrame) -> DataFrame:
    """[doc_id, simhash: long, band0..band3: int] — 64-bit SimHash over
    whitespace tokens; bands are the four 16-bit slices used for Hamming-
    distance bucketing (Manku et al. 2007 uses permuted tables; fixed slices
    are the standard simple variant)."""
    # bit i of simhash = 1 iff sum over tokens of sign(bit i of token hash) > 0.
    # Tokens are exploded once and all 64 bit-votes run in a single
    # hash-aggregate pass (same explode-not-array-expr rationale as
    # minhash_signatures; the array formulation re-evaluates tokenization per
    # bit). Token multiplicity is kept (frequency-weighted votes, Charikar
    # 2002). Empty documents get simhash 0 via the left join. The 64 token-hash
    # bits come from md5 (bits 0-59 from h1, 60-63 from h2 — :func:`_md5_pair`)
    # so the DuckDB oracle reproduces them exactly. Tokenization uses the
    # explicit whitespace class _WS_RE in BOTH engines: Java's \s includes
    # \x0B (vertical tab) while RE2's does not, so a bare \s+ would tokenize
    # a \x0B-carrying document differently and break bit-exact parity.
    h1, h2 = _md5_pair(F.col("token"))
    tok = _spread(docs).select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), _WS_RE), lambda t: t != "")
        ).alias("token"),
    ).select("doc_id", h1.alias("h1"), h2.alias("h2"))

    def _bit(i: int) -> "F.Column":
        if i < 60:
            return F.shiftright(F.col("h1"), i).bitwiseAND(F.lit(1))
        return F.shiftright(F.col("h2"), i - 60).bitwiseAND(F.lit(1))

    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(F.when(_bit(i) == 1, 1).otherwise(-1)).alias(f"_v{i}")
            for i in range(64)
        ]
    )
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"_v{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)  # disjoint bits: XOR == OR
    sims = votes.select("doc_id", sim.alias("simhash"))
    out = (
        docs.select("doc_id")
        .join(sims, "doc_id", "left")
        .select("doc_id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"))
    )
    for b in range(4):
        out = out.withColumn(
            f"band{b}",
            F.shiftright(F.col("simhash"), b * 16).bitwiseAND(F.lit(0xFFFF)).cast("int"),
        )
    return out


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs sharing any 16-bit band, verified by exact Hamming
    distance ≤ max_hamming (bit_count of XOR — JVM-side).

    Single-pass plan: signatures are EXPLODED into (doc_id, band, bucket,
    simhash) rows — one self-join on (band, bucket) instead of four joins
    against a cached signature table (no lingering cache, signatures computed
    once feeding the explode)."""
    sigs = simhash64(docs)
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket"))
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bucket")
    left = banded.select(
        "band", "bucket", F.col("doc_id").alias("a"), F.col("simhash").alias("sa")
    )
    right = banded.select(
        "band", "bucket", F.col("doc_id").alias("b"), F.col("simhash").alias("sb")
    )
    return (
        left.join(right, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "sa", "sb")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


# -- substring-level exact dedup + benchmark decontamination -----------------
#
# Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
# Better") deduplicate EXACT SUBSTRINGS shared across documents, not whole
# documents — the one training-data dedup family the whole-doc paths above
# cannot express. The suffix-array formulation is inherently sequential; the
# Spark shape is positional token shingles: every length-n token window gets
# an md5 key + its 0-based start position, matched windows are joined by key
# (bucketed — never all-pairs), and runs of adjacent matches are merged into
# maximal spans with one window over the matched rows only.


def token_shingles(docs: DataFrame, n: int) -> DataFrame:
    """[doc_id, pos, h] — md5 of each n-token window (whitespace tokens,
    ``textstats.WS_RE`` char class so Spark and SQL oracles split
    identically), pos = 0-based token index of the window start. Documents
    shorter than n tokens yield no rows. JVM-only (regexp_replace + split +
    transform/slice) — no Python in the hot path."""
    toks = F.split(F.trim(F.regexp_replace(F.col("text"), _WS_RE, " ")), " ")
    t = _spread(docs.select("doc_id", toks.alias("t")))
    return (
        t.where(F.size("t") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {n}), "
                    f"i -> struct(CAST(i AS BIGINT) AS pos, "
                    f"md5(array_join(slice(t, i + 1, {n}), ' ')) AS h))"
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    )


def substring_dup_spans(
    docs: DataFrame,
    n: int = 8,
    max_doc_freq: int = 16,
) -> DataFrame:
    """Maximal cross-document duplicated token spans (Lee et al. 2021 family):
    [doc_a, doc_b, a_start, b_start, n_grams, span_tokens] with doc_a < doc_b.

    Plan (all bucketed, scale-safe): (1) positional shingles; (2) hot-shingle
    df cap computed BEFORE any join (map-side-combinable count distinct, then
    a broadcast-able semi join — same memory-bound discipline as
    ngram_jaccard_pairs); (3) matched windows = one equi-join on the shingle
    hash (pair fan-out ≤ max_doc_freq² per shingle by construction); (4) runs
    of adjacent matches merged per (doc_a, doc_b, diagonal) with the
    pos − row_number island trick — the window runs over MATCHED rows only
    (a vanishing fraction of the corpus), never over the shingle table.
    span_tokens = n_grams + n − 1 (n_grams adjacent windows overlap n−1)."""
    from pyspark.sql import Window

    sh = token_shingles(docs, n)
    keep = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") <= max_doc_freq)
        .select("h")
    )
    sh = sh.join(keep, "h", "left_semi")
    a = sh.select(F.col("h"), F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"))
    b = sh.select(F.col("h"), F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b"))
    m = (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pos_a", "pos_b", (F.col("pos_a") - F.col("pos_b")).alias("diag"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    return (
        m.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_a").alias("a_start"),
            F.max("pos_a").alias("a_last"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            "doc_a",
            "doc_b",
            "a_start",
            (F.col("a_start") - F.col("diag")).alias("b_start"),
            "n_grams",
            (F.col("a_last") - F.col("a_start") + F.lit(n)).alias("span_tokens"),
        )
    )


def contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    min_hits: int = 10,
) -> DataFrame:
    """Benchmark decontamination (the standard 13-gram pre-training hygiene
    step, e.g. GPT-3 appendix C / PaLM): [doc_id, n_hits, contaminated] for
    every corpus document sharing ≥1 distinct n-token shingle with the
    benchmark suite; contaminated = n_hits ≥ min_hits.

    The benchmark gram set is tiny relative to a 100 TB corpus, so it is
    BROADCAST — the corpus shingle stream is probed map-side, no shuffle of
    corpus rows at all; the per-doc count-distinct aggregate runs only on
    the matched residue."""
    sh = token_shingles(docs, n)
    bench = token_shingles(benchmark, n).select("h").distinct()
    return (
        sh.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count_distinct("h").alias("n_hits"))
        .select(
            "doc_id",
            "n_hits",
            (F.col("n_hits") >= F.lit(min_hits)).alias("contaminated"),
        )
    )


def mask_duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    max_doc_freq: int = 16,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """The Lee et al. 2021 INTERVENTION (not just detection): rewrite every
    document with cross-document duplicated token spans REMOVED from all but
    the lowest-id holder — [doc_id, text, n_spans_removed, n_tokens_removed]
    over the FULL corpus (untouched docs pass through).

    Keep-first rule: :func:`substring_dup_spans` emits spans with
    doc_a < doc_b; the span is cut from doc_b only, so the smallest doc id
    holding a span keeps its copy (the same keep-smallest convention as
    :func:`exact_dedup`). Removal intervals [b_start, b_start + span_tokens)
    from ALL of a doc's pairings are UNION-merged (gaps-and-islands via a
    running max(end) window over ≤ a few intervals per doc — never over the
    shingle table), then the text is rebuilt token-wise with one JVM
    higher-order ``filter`` over the token array against the doc's merged
    interval array (collected per doc — bounded by the doc's own span count).
    ``min_span_tokens`` (default n) drops short spans before masking — Lee
    et al. used 50-token spans; the default masks everything the detector
    certifies.

    Output text is WHITESPACE-NORMALIZED (single spaces), the same
    normalization the shingle detector applies — the transform is therefore
    idempotent and exactly replayable in ANSI SQL. Scale shape: spans are a
    vanishing fraction of corpus rows, the interval merge and the rebuild
    join are keyed on doc_id (co-partitioned with the docs scan), and no
    stage ever joins corpus rows against corpus rows."""
    from pyspark.sql import Window

    min_span = n if min_span_tokens is None else min_span_tokens
    spans = substring_dup_spans(docs, n=n, max_doc_freq=max_doc_freq).where(F.col("span_tokens") >= min_span)
    iv = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("b_start").alias("s"),
        (F.col("b_start") + F.col("span_tokens")).alias("e"),
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    island = F.sum(
        F.when(
            F.max("e").over(w_prev).isNull()
            | (F.col("s") > F.max("e").over(w_prev)),
            1,
        ).otherwise(0)
    ).over(w_run)
    merged = (
        iv.withColumn("isl", island)
        .groupBy("doc_id", "isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    ivs = merged.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ivs")
    )
    toks = F.split(F.trim(F.regexp_replace(F.col("text"), _WS_RE, " ")), " ")
    base = docs.select("doc_id", toks.alias("t"))
    kept = F.expr(
        "CASE WHEN ivs IS NULL THEN t "
        "ELSE filter(t, (x, i) -> NOT exists(ivs, iv -> i >= iv.s AND i < iv.e)) END"
    )
    return (
        base.join(ivs, "doc_id", "left")
        .select(
            "doc_id",
            F.array_join(kept, " ").alias("text"),
            F.coalesce(F.size("ivs"), F.lit(0)).alias("n_spans_removed"),
            (F.size("t") - F.size(kept)).alias("n_tokens_removed"),
        )
    )
