"""Deterministic random walks over a LinkGraph — the graph→sequence
training-data operator (DeepWalk, Perozzi et al. 2014 / node2vec, Grover &
Leskovec 2016: walk corpora are THE standard input for graph-embedding
training, which makes this a first-class pipeline op alongside dedup/ANN).

Spark-first shape: one equi join per step. The walk frontier
[walk_id, step, cur, cur_deg] joins an INDEXED neighbor table
[src, idx, dst, dst_deg] on (cur = src, idx = choice), where

    choice = md5-hash(seed, walk_id, step, cur)  mod  cur_deg

— a seeded hash in place of an RNG, so walks are a pure function of
(graph, seed): reproducible across runs, partitionings, AND engines (the
DuckDB oracle replays the identical md5 arithmetic — the same
``conv(substr(md5(...)))`` trick every hashing operator here uses). The
neighbor index is ``row_number() − 1`` per src ordered by dst — uniform
choice over DISTINCT neighbors (multi-edges were pair-aggregated at graph
build); :func:`weighted_random_walks` provides the weight-proportional
variant via exact quantized cumulative-weight ranges.

Scale: the indexed edge table is built once (one window over the
src-partitioned cached edges) and each step is a co-partitioned equi join of
the O(V·walks) frontier against it — no shuffle of the edge table beyond its
resident partitioning, no UDF, frontier size constant in walk length. The
walk length unrolls into the plan (length is small and fixed in practice:
DeepWalk uses 40, driver-gate tests use 4), with the output accumulated as
one union of per-step frames. All three walks run the one hop loop
:func:`_walk`, which pins the neighbor index and every hop's frontier until
that union is pinned, then releases them: a call leaves only its output
pinned.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graftlouvain.functions.iterate import (
    _release, materialize, state_partitions, superstep_planning, swap,
)
from graftlouvain.operators.graph import LinkGraph


def _start_walks(walks_per_vertex: int) -> "F.Column":
    """walk_id = vertex_id · walks_per_vertex + w, exploded over w."""
    return F.explode(F.array(*[
        (F.col("id") * F.lit(walks_per_vertex) + F.lit(w)).alias(f"w{w}")
        for w in range(walks_per_vertex)
    ])).alias("walk_id")


def _choice_hash(tag: "F.Column") -> "F.Column":
    """60-bit nonnegative integer from md5(tag) — first 15 hex chars, the
    cross-engine-exact parse (dedup._md5_pair convention)."""
    return F.conv(F.substring(F.md5(tag), 1, 15), 16, 10).cast("long")


def _hop_tag(kind: str, seed: int, t: int, col: str) -> "F.Column":
    """``kind:seed:walk_id:t:<col>`` — the md5 input of hop ``t``'s choice."""
    return F.concat_ws(
        ":", F.lit(f"{kind}:{seed}"), F.col("walk_id").cast("string"),
        F.lit(str(t)), F.col(col).cast("string"),
    )


def _walk(
    graph: LinkGraph,
    walks_per_vertex: int,
    length: int,
    index: DataFrame,
    start: Callable[[DataFrame, DataFrame], DataFrame],
    hop: Callable[[DataFrame, DataFrame, int], DataFrame],
) -> DataFrame:
    """[walk_id, step, vertex]: the hop loop of every walk operator. It pins
    the neighbor ``index``; ``start(walks, nbrs)`` turns the [walk_id, cur]
    start rows into the step-0 frontier, and ``hop(state, nbrs, t)`` maps
    step t−1's frontier to step t's. Each hop's frontier is pinned, the
    per-step [walk_id, step, vertex] frames are unioned into the one
    materialized output, and then the index and every frontier are released
    (also when a step or the zero-weight guard raises).

    Not :func:`fixpoint`: it releases each superseded state, but the union
    reads every frontier, and a fixed-length walk has no stop rule."""
    spark = graph.edges.sparkSession
    rows = graph.stats.num_vertices * walks_per_vertex

    def visits(state: DataFrame, t: int) -> DataFrame:
        return state.select("walk_id", F.lit(t).alias("step"), F.col("cur").alias("vertex"))

    pinned: list[DataFrame] = []
    with superstep_planning(spark, state_partitions(spark, rows)):
        try:
            nbrs = swap(None, index)
            pinned.append(nbrs)
            walks = graph.vertices.select(_start_walks(walks_per_vertex), F.col("id").alias("cur"))
            state = start(walks, nbrs)
            out = visits(state, 0)
            for t in range(1, length + 1):
                state = swap(None, hop(state, nbrs, t))
                pinned.append(state)
                out = out.unionByName(visits(state, t))
            return materialize(out)
        finally:
            for df in pinned:
                _release(df)


def indexed_neighbors(graph: LinkGraph) -> DataFrame:
    """[src, idx, dst, dst_deg]: neighbors of each vertex indexed 0..deg−1 in
    ascending dst order, each carrying the DESTINATION's neighbor count so
    the walk join never needs a separate degree lookup per step."""
    w = Window.partitionBy("src").orderBy("dst")
    idx = graph.edges.select(
        "src", "dst", (F.row_number().over(w) - F.lit(1)).alias("idx")
    )
    deg = graph.degrees.select(
        F.col("id").alias("dst"), F.col("out_degree").alias("dst_deg")
    )
    return idx.join(deg, "dst").select("src", "idx", "dst", "dst_deg")


def random_walks(
    graph: LinkGraph,
    length: int = 4,
    walks_per_vertex: int = 1,
    seed: int = 42,
) -> DataFrame:
    """[walk_id, step, vertex] — ``walks_per_vertex`` seeded walks of
    ``length`` steps from every vertex (step 0 = the start vertex itself;
    walk_id = vertex_id · walks_per_vertex + w). Every vertex in a LinkGraph
    has ≥ 1 neighbor (possibly its self-loop), so walks never strand.

    Each step's frontier is MATERIALIZED (localCheckpoint + truthful planner
    statistics — the superstep loop's state hygiene) and the final union is
    pinned. Two pathologies force this, both rediscovered the hard way on
    this operator (BENCH/BASELINE.md §8): a lazy chain's per-step output
    frames share lineage and Spark inlines deterministic multi-referenced
    subplans, so step k re-executes (length − k + 1) times — quadratic in
    walk length; and a mere per-step ``cache()`` fixes the recompute but NOT
    the lineage/statistics growth, which melts the driver in plan
    optimization by L≈16 (the iterate.py statistics-snowball landmine). The
    neighbor index is checkpointed once and shared by every hop. The index
    and every frontier are released once the output is pinned. The loop runs
    in one :func:`superstep_planning` scope sized for its
    V·``walks_per_vertex``-row frontier (AQE off, row-proportional shuffle
    partitions), as every fixpoint operator's does."""
    deg = graph.degrees.select(
        F.col("id").alias("cur"), F.col("out_degree").alias("cur_deg")
    )

    def hop(state: DataFrame, nbrs: DataFrame, t: int) -> DataFrame:
        choice = _choice_hash(_hop_tag("walk", seed, t, "cur")) % F.col("cur_deg")
        return state.select("walk_id", F.col("cur").alias("src"), choice.alias("idx")).join(
            nbrs, ["src", "idx"]
        ).select("walk_id", F.col("dst").alias("cur"), F.col("dst_deg").alias("cur_deg"))

    return _walk(
        graph, walks_per_vertex, length, indexed_neighbors(graph),
        lambda walks, _nbrs: walks.join(deg, "cur"), hop,
    )


def _require_positive_totw(totals: DataFrame, totw_col: str, op: str) -> None:
    """Fail loudly when quantization zeroed out a vertex: if EVERY edge of
    some vertex rounds to weight 0, its range total is 0, the hop modulus is
    NULL, and the range filter would silently drop the walk mid-corpus —
    missing rows with no error. One tiny aggregate over the (materialized)
    neighbor index; callers with sub-unit float weights must raise ``scale``."""
    bad = totals.where(F.col(totw_col) <= 0).limit(1).collect()
    if bad:
        raise ValueError(
            f"{op}: vertex {bad[0][0]} has total quantized weight 0 — every "
            "incident edge weight rounds to 0 at the current `scale`; raise "
            "`scale` so sub-unit float weights survive round(weight*scale)"
        )


def indexed_neighbors_weighted(graph: LinkGraph, scale: int = 1) -> DataFrame:
    """[src, lo, hi, dst, dst_totw]: per-src cumulative QUANTIZED-weight
    ranges in ascending dst order (lo inclusive, hi exclusive), plus the
    destination's own range total — the lookup table for weight-proportional
    hop choice. Weights are quantized to integers (``round(weight·scale)``)
    so the cumulative sums — and hence the sampled hop — are EXACT in both
    engines (float cumsums would round differently and flip boundary picks);
    for integer-valued weights (co-change counts) scale=1 loses nothing.
    Individual edges that quantize to 0 get an empty range (lo == hi) and
    are deterministically unreachable — same in both engines; a vertex whose
    EVERY edge quantizes to 0 is an error the walk callers raise on
    (:func:`_require_positive_totw`)."""
    w = Window.partitionBy("src").orderBy("dst").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wq = F.round(F.col("weight") * F.lit(scale)).cast("long")
    e = graph.edges.select("src", "dst", wq.alias("wq")).select(
        "src", "dst", "wq", F.sum("wq").over(w).alias("hi")
    ).select("src", "dst", (F.col("hi") - F.col("wq")).alias("lo"), "hi")
    tot = e.groupBy("src").agg(F.max("hi").alias("totw"))
    dst_tot = tot.select(F.col("src").alias("dst"), F.col("totw").alias("dst_totw"))
    return e.join(dst_tot, "dst").select("src", "lo", "hi", "dst", "dst_totw")


def weighted_random_walks(
    graph: LinkGraph,
    length: int = 4,
    walks_per_vertex: int = 1,
    seed: int = 42,
    scale: int = 1,
) -> DataFrame:
    """[walk_id, step, vertex] — like :func:`random_walks` but the next hop
    is chosen proportionally to EDGE WEIGHT: x = md5-hash mod Σwq lands in
    exactly one neighbor's cumulative range (node2vec's weighted transition
    with p=q=1; Grover & Leskovec 2016 §3.2). The hop join is an equi join
    on the current vertex with the range predicate as a post-filter — per
    step it materializes frontier-adjacent edge rows (O(Σ deg(frontier))),
    the standard cost of weighted sampling without per-vertex alias tables.
    Callers with sub-unit FLOAT weights must raise ``scale`` so weights
    survive quantization — a vertex whose every edge rounds to 0 raises
    (:func:`_require_positive_totw`). Same per-step materialization and
    planning scope as :func:`random_walks` (see its docstring for why a lazy
    chain is quadratic and a cache-only chain melts the planner)."""
    def start(walks: DataFrame, nbrs: DataFrame) -> DataFrame:
        tot = nbrs.groupBy("src").agg(F.max("hi").alias("totw")).select(
            F.col("src").alias("cur"), F.col("totw").alias("cur_totw")
        )
        _require_positive_totw(tot, "cur_totw", "weighted_random_walks")
        return walks.join(tot, "cur")

    def hop(state: DataFrame, nbrs: DataFrame, t: int) -> DataFrame:
        x = _choice_hash(_hop_tag("wwalk", seed, t, "cur")) % F.col("cur_totw")
        return (
            state.select("walk_id", F.col("cur").alias("src"), x.alias("x"))
            .join(nbrs, "src")
            .where((F.col("x") >= F.col("lo")) & (F.col("x") < F.col("hi")))
            .select("walk_id", F.col("dst").alias("cur"), F.col("dst_totw").alias("cur_totw"))
        )

    return _walk(
        graph, walks_per_vertex, length, indexed_neighbors_weighted(graph, scale), start, hop
    )


def node2vec_walks(
    graph: LinkGraph,
    length: int = 4,
    walks_per_vertex: int = 1,
    seed: int = 42,
    bias_return: int = 1,
    bias_near: int = 4,
    bias_far: int = 8,
    scale: int = 1,
) -> DataFrame:
    """[walk_id, step, vertex] — SECOND-ORDER biased walks (node2vec, Grover
    & Leskovec 2016 §3.2): candidate (cur → dst) weights are multiplied by
    an INTEGER bias depending on the previous vertex —

        dst == prev              → bias_return   (α = 1/p)
        edge (prev, dst) exists  → bias_near     (α = 1)
        otherwise                → bias_far      (α = 1/q)

    (scale the rational node2vec α's by any common multiple to get the
    integer triple; the defaults (1, 4, 8) model p=4, q=1/2 — an
    exploration-biased DFS-ish walk, visibly different from the first-order
    :func:`weighted_random_walks`). The hop lands x = md5-hash mod Σ(w·bias)
    in one candidate's cumulative range — all integer arithmetic, so the
    walk is a pure function of (graph, seed) and the DuckDB twin replays it
    exactly.

    Start state sets prev = start vertex, which degrades the first hop to
    the first-order weighted choice (every candidate is a neighbor of prev
    by construction; the self-loop, if any, takes bias_return) —
    documented, deterministic, replicated by the twin.

    Per-step cost: the frontier joins its adjacency (Σ deg(frontier) rows),
    a LEFT probe against the edge set for the (prev, dst) existence flag,
    and a per-walk window cumsum — the standard price of second-order
    sampling without per-(prev, cur) alias tables. Same per-step
    materialization and planning scope as :func:`random_walks`. Callers with
    sub-unit FLOAT weights must raise ``scale`` — a vertex whose every edge
    quantizes to 0 raises up front (:func:`_require_positive_totw`)."""
    eset = graph.edges.select(
        F.col("src").alias("_ep"), F.col("dst").alias("_ed"), F.lit(1).alias("_near")
    )
    w_cum = Window.partitionBy("walk_id").orderBy("dst").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy("walk_id")

    def start(walks: DataFrame, nbrs: DataFrame) -> DataFrame:
        # biases are >= 1, so the per-step modulus Σ(wq·bias) is 0 iff the
        # vertex's raw quantized total is 0 — one up-front check covers all
        # steps
        _require_positive_totw(
            nbrs.groupBy("src").agg(F.sum("wq").alias("totw")),
            "totw",
            "node2vec_walks",
        )
        return walks.select("walk_id", F.col("cur").alias("prev"), "cur")

    def hop(state: DataFrame, nbrs: DataFrame, t: int) -> DataFrame:
        cands = (
            state.select("walk_id", "prev", F.col("cur").alias("src"))
            .join(nbrs, "src")
            .join(
                eset,
                (F.col("prev") == F.col("_ep")) & (F.col("dst") == F.col("_ed")),
                "left",
            )
        )
        m = (
            F.when(F.col("dst") == F.col("prev"), F.lit(bias_return))
            .when(F.col("_near").isNotNull(), F.lit(bias_near))
            .otherwise(F.lit(bias_far))
        )
        scored = cands.select(
            "walk_id", "prev", "src", "dst", (F.col("wq") * m).alias("ew")
        )
        ranged = scored.select(
            "walk_id", "src", "dst", "ew",
            F.sum("ew").over(w_cum).alias("chi"),
            F.sum("ew").over(w_all).alias("tot"),
        ).withColumn("x", _choice_hash(_hop_tag("n2v", seed, t, "src")) % F.col("tot"))
        return ranged.where(
            (F.col("x") >= F.col("chi") - F.col("ew")) & (F.col("x") < F.col("chi"))
        ).select("walk_id", F.col("src").alias("prev"), F.col("dst").alias("cur"))

    index = indexed_neighbors_weighted(graph, scale).select(
        "src", "dst", (F.col("hi") - F.col("lo")).alias("wq")
    )
    return _walk(graph, walks_per_vertex, length, index, start, hop)


def walk_skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """[center, context, weight] — skip-gram co-occurrence pairs within
    ±``window`` steps of the same walk, weight = occurrence count: the
    direct input of a word2vec-style embedding trainer (DeepWalk §4.2).
    One equi self-join on walk_id (each walk contributes ≤ (L+1)·2w pairs —
    bounded fan-out, no quadratic blowup) + one aggregation."""
    a = walks.select(
        "walk_id", F.col("step").alias("s1"), F.col("vertex").alias("center")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("s2"), F.col("vertex").alias("context")
    )
    return (
        a.join(b, "walk_id")
        .where(
            (F.col("s1") != F.col("s2"))
            & (F.abs(F.col("s1") - F.col("s2")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
