"""Similarity search over an embedding column [vec_id: long, embedding:
array<float>].

- :func:`cosine_topk` — exact brute-force top-k: query×corpus join with the
  dot product as a JVM ``aggregate(zip_with(...))`` expression (no UDF), window
  top-k. The correctness baseline; O(Q × N) — fine when the query set is small
  or both sides are bucketed.
- :func:`lsh_topk` — the scale path: random-hyperplane LSH (sign bits of dot
  products with R seeded Gaussian-ish planes → one bucket key); candidates
  share a bucket (multi-probe over ``n_tables`` independent tables), exact
  cosine re-rank within buckets. Recall < 1 by construction; tested against
  brute force on clustered data.

At 100 TB: brute force is a broadcast of the (small) query set against a
partitioned corpus — embarrassingly parallel, no shuffle until the final
top-k agg; LSH turns the corpus side into bucket-local joins.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: "F.Column", b: "F.Column") -> "F.Column":
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: "F.Column") -> "F.Column":
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _cosine6(a: "F.Column", b: "F.Column") -> "F.Column":
    """Cosine similarity rounded to 6dp — THE rounding policy every ranking
    decision in this module shares (and the DuckDB oracles replicate), so
    cross-engine float-summation differences cannot flip argmax/rank ties."""
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)


def with_cosine(joined: DataFrame) -> DataFrame:
    return joined.withColumn("cosine", _cosine6(F.col("qv"), F.col("cv")))


def _embedding() -> "F.Column":
    return F.transform(F.col("embedding"), lambda x: x.cast("double"))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
) -> DataFrame:
    """[query_id, vec_id, cosine, rank] — exact top-k neighbors per query
    (self-matches by id excluded). Ties broken by ascending vec_id."""
    q = queries.select(F.col("vec_id").alias("query_id"), _embedding().alias("qv"))
    c = corpus.select("vec_id", _embedding().alias("cv"))
    scored = (
        with_cosine(F.broadcast(q).crossJoin(c))
        .where(F.col("query_id") != F.col("vec_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _planes(dim: int, n_bits: int, n_tables: int, seed: int) -> list[list[list[float]]]:
    """Deterministic pseudo-Gaussian hyperplanes (Box-Muller on seeded PRNG)."""
    rng = random.Random(seed)
    return [
        [
            [
                math.sqrt(-2.0 * math.log(max(rng.random(), 1e-12)))
                * math.cos(2.0 * math.pi * rng.random())
                for _ in range(dim)
            ]
            for _ in range(n_bits)
        ]
        for _ in range(n_tables)
    ]


def lsh_bucketed(
    vectors: DataFrame,
    dim: int,
    n_bits: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """[vec_id, table, bucket, v] — one row per (vector, table): bucket =
    packed sign bits of the vector against that table's hyperplanes
    (bucket = Σ_i [v·plane_i > 0] · 2^i, plane 0 in the LSB).

    The hyperplanes travel as DATA, not as plan nodes: a tiny
    [table, planes: array<array<double>>] DataFrame broadcast-joined onto the
    vectors, with the bucket computed by nested higher-order functions
    (``transform`` over planes → sign bit, ``aggregate`` to pack). An earlier
    revision unrolled each plane as an ``F.array`` of ``dim`` literal doubles,
    making the expression tree O(dim·n_bits·n_tables) — at 12 tables × 8 bits
    × 64 dims the plan/codegen overhead alone was ~9.5 s on a 100-row input
    (round-2 verdict). This form keeps the plan O(1) in all three knobs."""
    planes = _planes(dim, n_bits, n_tables, seed)
    # the ONLY nested-loop join in this module: vectors × an n_tables-row
    # broadcast local relation (a dimension attach, constant work per row);
    # the near-dup parity test pins that every BroadcastNestedLoopJoin in the
    # plan broadcasts a LocalTableScan, never a second vector relation
    ptab = vectors.sparkSession.createDataFrame(
        list(enumerate(planes)), "table int, planes array<array<double>>"
    )
    base = vectors.select("vec_id", _embedding().alias("v"))
    bits = F.transform(
        F.col("planes"),
        lambda plane: F.when(_dot(F.col("v"), plane) > 0, F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long")),
    )
    # reverse + (acc·2 + bit) ≡ Σ bit_i·2^i — byte-identical buckets to the
    # unrolled-literal revision (pinned by test_lsh_plan_size_independent)
    bucket = F.aggregate(
        F.reverse(bits),
        F.lit(0).cast("long"),
        lambda acc, b: acc * F.lit(2).cast("long") + b,
    )
    return base.crossJoin(F.broadcast(ptab)).select(
        "vec_id", "table", bucket.alias("bucket"), "v"
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 10,
    n_tables: int = 6,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: bucket-join across ``n_tables`` LSH tables, exact
    cosine re-rank of candidates. Same output schema as :func:`cosine_topk`."""
    qb = lsh_bucketed(queries, dim, n_bits, n_tables, seed)
    cb = lsh_bucketed(corpus, dim, n_bits, n_tables, seed)
    cands = (
        qb.select("table", "bucket", F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .join(
            cb.select("table", "bucket", "vec_id", F.col("v").alias("cv")),
            ["table", "bucket"],
        )
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", "qv", "cv")
        # a pair colliding in several tables appears once per table; rows are
        # identical in every column (qv/cv travel with the ids), so keeping an
        # arbitrary one is deterministic TODAY — if a per-table column (e.g. a
        # table-local score) is ever added, dedup must key on it explicitly
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = with_cosine(cands)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ivf_cells(
    vectors: DataFrame,
    n_centroids: int = 64,
    refine_iters: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assigned) — IVF coarse quantizer with deterministic
    centroid init: the ``n_centroids`` corpus vectors with the smallest
    md5(vec_id) (a seeded uniform sample — the standard random-subset init).
    ``centroids`` = [cell, cv]; ``assigned`` = [vec_id, v, cell] with
    cell = argmax cosine against the (broadcast) centroid table. Assignment
    cost is N × C rows — the standard IVF build; C is small, so the join is
    a broadcast with no corpus shuffle.

    ``refine_iters`` runs that many spherical-k-means Lloyd passes after
    init (assign → per-cell element-wise mean → L2-normalize; Dhillon &
    Modha 2001): tighter cells cut the probes needed for a given recall.
    Each pass is one posexplode + two aggregations over N·dim rows — linear,
    no pairwise work. Refined centroid means depend on float summation
    order, so the refined build is pytest-recall-verified rather than
    SQL-hash-oracled (the ``ivf_topk`` driver query stays on the
    deterministic md5 init)."""
    base = vectors.select("vec_id", _embedding().alias("v"))
    pick = base.select(
        "vec_id", "v", F.md5(F.col("vec_id").cast("string")).alias("_h")
    ).orderBy("_h").limit(n_centroids)
    centroids = pick.select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )

    def assign(cent: DataFrame) -> DataFrame:
        scored = base.crossJoin(F.broadcast(cent)).withColumn(
            "sim", _cosine6(F.col("v"), F.col("cv"))
        )
        return scored.groupBy("vec_id").agg(
            F.max_by(
                "cell", F.struct(F.col("sim"), (-F.col("cell")).alias("neg"))
            ).alias("cell"),
            F.first("v").alias("v"),
        )

    assigned = assign(centroids)
    for _ in range(refine_iters):
        means = (
            assigned.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
            )
            .select("cell", F.transform("pm", lambda s: s["m"]).alias("cv"))
        )
        # spherical k-means: normalize so the cosine argmax is the mean's
        # direction; empty cells simply drop out (standard Lloyd behavior).
        # Each pass MATERIALIZES its centroids (localCheckpoint + truthful
        # stats — the iterative-chain hygiene of BENCH/BASELINE.md §8):
        # without it the Lloyd chain's lineage and planner statistics grow
        # per pass and deep refinements melt the optimizer.
        from graftlouvain.functions.iterate import materialize

        centroids = materialize(
            means.select(
                "cell", F.transform("cv", lambda x: x / _norm(F.col("cv"))).alias("cv")
            )
        )
        assigned = assign(centroids)
    return centroids, assigned


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    n_centroids: int = 64,
    n_probe: int = 8,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into Voronoi cells of
    deterministic centroids; each query probes its ``n_probe`` nearest cells
    and exact-cosine re-ranks only those cells' members. Same output schema
    as :func:`cosine_topk`. Complements :func:`lsh_topk` — IVF gives tunable
    probe/recall and cell-local data locality (cells are the natural
    partitioning key for a 100 TB corpus)."""
    centroids, assigned = ivf_cells(corpus, n_centroids, refine_iters=refine_iters)
    qv = queries.select(F.col("vec_id").alias("query_id"), _embedding().alias("qv"))
    qcells = (
        qv.crossJoin(F.broadcast(centroids))
        .withColumn("sim", _cosine6(F.col("qv"), F.col("cv")))
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cell"))
    probed = (
        qcells.withColumn("pr", F.row_number().over(w_probe))
        .where(F.col("pr") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    cands = (
        probed.join(assigned.select("cell", "vec_id", F.col("v").alias("cv")), "cell")
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "vec_id", "qv", "cv")
    )
    scored = with_cosine(cands)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def embedding_near_dup_pairs_lsh(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs via LSH bucketing + exact cosine re-check — the
    scale path (no cross join: candidates are bucket-local self-joins across
    ``n_tables`` independent random-hyperplane tables, then the exact
    predicate). Recall < 1 in principle; at high thresholds the miss
    probability is (1 − (1 − θ/π)^n_bits)^n_tables — ≈ 8e-5 for cosine ≥ 0.99
    with the defaults — and a recall test pins parity with the exact baseline
    on planted near-dups."""
    b = lsh_bucketed(vectors, dim, n_bits, n_tables, seed)
    cands = (
        b.select("table", "bucket", F.col("vec_id").alias("a"), F.col("v").alias("qv"))
        .join(
            b.select("table", "bucket", F.col("vec_id").alias("b"), F.col("v").alias("cv")),
            ["table", "bucket"],
        )
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "qv", "cv")
        .dropDuplicates(["a", "b"])
    )
    return (
        with_cosine(cands)
        .where(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def embedding_near_dup_pairs(vectors: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Exact near-duplicate pairs (cosine ≥ threshold) over the full cross
    product — the small-N / oracle baseline;
    :func:`embedding_near_dup_pairs_lsh` is the scale path the public query
    surface routes through."""
    a = vectors.select(F.col("vec_id").alias("a"), _embedding().alias("qv"))
    b = vectors.select(F.col("vec_id").alias("b"), _embedding().alias("cv"))
    return (
        with_cosine(a.crossJoin(b))
        .where((F.col("a") < F.col("b")) & (F.col("cosine") >= threshold))
        .select("a", "b", "cosine")
    )
