"""Multi-source BFS distances and sampled harmonic closeness centrality.

Exact all-pairs betweenness/closeness is O(V·E) — out of reach at link-graph
scale — so the standard estimator is CLOSENESS FROM SAMPLED SOURCES (Eppstein
& Wang 2004; harmonic variant per Boldi & Vigna 2014, which handles
disconnected graphs gracefully: unreachable pairs contribute 0 instead of
breaking the mean). Sources are picked deterministically (smallest md5 of the
vertex id — the same seeded-sample device as IVF centroid init), so results
are a pure function of (graph, n_sources) and the DuckDB twin replays them.

Spark shape: synchronous frontier relaxation — each round joins the current
distance table with the edge table and keeps the per-(source, vertex) MIN.
Rounds materialize (localCheckpoint + truthful stats, functions/iterate.py),
so the loop is linear work, not an inlined recompute chain; each round's
shuffle moves O(sources · V) rows. A fixed ``max_depth`` bounds the unroll —
BFS distance relaxation is monotone, so extra rounds past the diameter are
no-ops (the k-core fixed-round twin uses the same argument).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graftlouvain.functions.iterate import fixpoint, swap
from graftlouvain.operators.graph import LinkGraph


def sample_sources(graph: LinkGraph, n_sources: int = 4) -> DataFrame:
    """[seed] — the ``n_sources`` vertices with smallest md5(id): a seeded
    uniform sample, identical in the SQL twin."""
    return (
        graph.vertices.select(
            F.col("id").alias("seed"), F.md5(F.col("id").cast("string")).alias("_h")
        )
        .orderBy("_h")
        .limit(n_sources)
        .select("seed")
    )


def _relax(
    graph: LinkGraph, sources: DataFrame, rounds: int, length: Column, zero: Column
) -> DataFrame:
    """[seed, id, dist] after ``rounds`` synchronous min-plus relaxations from
    every source (distance ``zero``), each edge adding ``length``: one
    distance⋈edges hop + a per-(seed, vertex) MIN per round."""
    edges = graph.edges.where(F.col("src") != F.col("dst")).select(
        "src", "dst", length.alias("len")
    )

    def relax(dist: DataFrame, _i: int) -> tuple[DataFrame, None]:
        hop = dist.join(edges, dist["id"] == edges["src"]).select(
            "seed", F.col("dst").alias("id"), (F.col("dist") + F.col("len")).alias("dist")
        )
        new_dist = (
            dist.unionByName(hop).groupBy("seed", "id").agg(F.min("dist").alias("dist"))
        )
        return swap(dist, new_dist), None

    # frontier rows are (#sources x V), not V (r6 review) - sources are tiny
    # by contract (sampled seeds), so counting them is one trivial job
    n_src = max(sources.count(), 1)
    dist, _ = fixpoint(
        graph.edges.sparkSession, n_src * graph.stats.num_vertices,
        lambda: sources.select("seed", F.col("seed").alias("id"), zero.alias("dist")),
        relax, rounds,
    )
    return dist


def bfs_distances(
    graph: LinkGraph, sources: DataFrame, max_depth: int = 6
) -> DataFrame:
    """[seed, id, dist] — unweighted shortest-path distance from every source
    to every vertex within ``max_depth`` hops (unreached pairs absent)."""
    return _relax(graph, sources, max_depth, F.lit(1), F.lit(0))


def sssp_distances(
    graph: LinkGraph, sources: DataFrame, max_rounds: int = 6
) -> DataFrame:
    """[seed, id, dist] — WEIGHTED shortest-path distance (Bellman-Ford-style
    synchronous relaxation, ``max_rounds`` rounds) from every source, edge
    weight as length. Every candidate distance is the same left-fold of the
    same path's weights in both engines, so the per-(seed, vertex) MIN picks
    identical doubles — and with integer-valued weights (co-change counts)
    the sums are exact outright. Rounds bound the hop count, not the length:
    a ``max_rounds``-round run is exact for all shortest paths of ≤ that
    many edges (the fixed-unroll contract shared with BFS/k-core twins)."""
    return _relax(graph, sources, max_rounds, F.col("weight"), F.lit(0.0))


def harmonic_closeness(
    graph: LinkGraph, n_sources: int = 4, max_depth: int = 6
) -> DataFrame:
    """[id, closeness] — sampled harmonic closeness: Σ over reached sources
    of 1/dist (dist > 0), rounded to 6dp (the repo-wide cross-engine float
    policy). Unreached (source, vertex) pairs contribute nothing — the
    harmonic estimator's built-in disconnection handling."""
    d = bfs_distances(graph, sample_sources(graph, n_sources), max_depth)
    scores = (
        d.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(F.round(F.sum(F.lit(1.0) / F.col("dist")), 6).alias("closeness"))
    )
    return (
        graph.vertices.join(scores, "id", "left")
        .select("id", F.coalesce("closeness", F.lit(0.0)).alias("closeness"))
    )
