"""Triangle counting (SURVEY.md §2h — [north-star]; standard degree-ordered
edge-orientation algorithm, cf. Suri & Vassilvitskii 2011 "Counting Triangles
and the Curse of the Last Reducer").

Edges are oriented from the lower (degree, id) endpoint to the higher one —
the key trick that bounds wedge fan-out by O(sqrt(E)) per vertex and defuses
hub skew: a hub's wedges are only built over its FEW higher-degree neighbors.
Triangles = oriented wedges (a→b, b→c) closed by oriented edge (a→c).

LOCAL TIER: a graph with at most ``graph.LOCAL_MAX_EDGES`` directed edges is
collected once by :meth:`LinkGraph.local_edges` (the helper and threshold
Louvain and PageRank share) and counted on the driver by
:func:`_local_triangles`, the same oriented-wedge work as one vectorized
task. It orients by (unweighted degree, id), a strict integer order, so
weights (NaN included) never decide an orientation; counts do not depend on
the orientation, so both tiers give identical integers. Wedges are expanded
in chunks of at most ``LOCAL_MAX_EDGES``, so driver memory is O(E + chunk)
whatever the wedge count. Measured on local[4] (4-vCPU box):
``triangles_per_vertex`` on the ~35k-edge ``graph_suite`` graphs 0.19-0.28 s
vs 1.39-2.04 s in SQL, and on K₁₀₂₄ (1,047,552 edges, 178M oriented wedges)
9.2 s vs 24.2 s, digest included.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graftlouvain.operators.graph import LOCAL_MAX_EDGES, LinkGraph


def _oriented(graph: LinkGraph) -> DataFrame:
    """Unique undirected pairs oriented by (degree, id) ordering."""
    deg = graph.degrees
    pairs = graph.edges.where(F.col("src") < F.col("dst")).select("src", "dst")
    d_src = deg.select(F.col("id").alias("src"), F.col("degree").alias("deg_src"))
    d_dst = deg.select(F.col("id").alias("dst"), F.col("degree").alias("deg_dst"))
    keyed = pairs.join(d_src, "src").join(d_dst, "dst")
    fwd = F.struct("deg_src", "src") < F.struct("deg_dst", "dst")
    return keyed.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("hi"),
    )


def _oriented_with_adjacency(graph: LinkGraph):
    """(edges_lo, hi_n): oriented edge rows with the LO endpoint's adjacency
    array already attached, plus the adjacency table keyed on HI for the one
    remaining join.

    ONE materialized relation: the per-vertex oriented-adjacency table
    ``adj`` (lineage cut + truthful size stats — it is referenced twice, and
    the stamped real byte size lets the planner broadcast it when it fits).
    The oriented EDGE rows are recovered by exploding ``adj`` itself — each
    (lo, hi) exactly once, the same multiset ``_oriented`` produced — so the
    edge side needs neither its own materialization nor a join to attach
    N⁺(lo): the array rides out of the explode. Adjacency arrays are bounded
    O(√E) per vertex by the degree orientation, so total adjacency bytes =
    O(E) — the same order as the edge table itself, never a skew bomb."""
    from graftlouvain.functions.iterate import materialize

    adj = materialize(
        _oriented(graph)
        .groupBy("lo")
        .agg(F.array_sort(F.collect_list("hi")).alias("nbrs"))
    )
    edges_lo = adj.select(
        "lo", F.col("nbrs").alias("_n_lo"), F.explode("nbrs").alias("hi")
    )
    hi_n = adj.select(F.col("lo").alias("hi"), F.col("nbrs").alias("_n_hi"))
    return edges_lo, hi_n


def _local_triangles(ids, s, d, w, chunk: int = LOCAL_MAX_EDGES) -> np.ndarray:
    """Per-vertex triangle counts (``int64``, aligned with ``ids``) of the
    compacted edge arrays of :meth:`LinkGraph.local_edges`. ``w`` is
    ignored: weights never change a count. Each undirected pair is taken
    once (``s < d``, which drops self-loops) and oriented from the lower
    (unweighted degree, index) endpoint to the higher; every oriented wedge
    x→y→z is tested for its closing edge x→z, ``chunk`` wedges at a time."""
    n = len(ids)
    a, b = s[s < d], d[s < d]
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    key = deg * n + np.arange(n)
    fwd = key[a] < key[b]
    # oriented edges sorted by x·n + y: the CSR rows and the closing-edge keys
    edge_key = np.sort(np.where(fwd, a, b) * n + np.where(fwd, b, a))
    x, y = edge_key // n, edge_key % n
    out_deg = np.bincount(x, minlength=n)
    row = np.cumsum(out_deg) - out_deg  # first out-edge of each vertex
    # wedges of edge e are its target's out-edges, at global wedge indices
    # [begins[e], ends[e]); wedge k closes at z = y[shift[e] + k]
    wedges = out_deg[y]
    ends = np.cumsum(wedges)
    begins = ends - wedges
    shift = row[y] - begins
    xn = x * n
    # x and y are credited per edge at the end, z per closed wedge
    per_edge = np.zeros(len(y), dtype=np.int64)
    counts = np.zeros(n, dtype=np.int64)
    total = int(wedges.sum())
    for lo in range(0, total, chunk):
        hi = min(lo + chunk, total)
        first, last = np.searchsorted(ends, [lo, hi - 1], side="right")
        es = np.arange(first, last + 1)
        e = np.repeat(es, np.minimum(ends[es], hi) - np.maximum(begins[es], lo))
        z = y[shift[e] + np.arange(lo, hi)]
        q = xn[e] + z
        pos = np.minimum(np.searchsorted(edge_key, q), len(edge_key) - 1)
        closed = edge_key[pos] == q
        per_edge[first:last + 1] += np.bincount(e[closed] - first, minlength=len(es))
        counts += np.bincount(z[closed], minlength=n)
    np.add.at(counts, x, per_edge)
    np.add.at(counts, y, per_edge)
    return counts


def triangles_per_vertex(graph: LinkGraph) -> DataFrame:
    """Returns [id, triangles] — every vertex of every triangle credited once
    per triangle; vertices in no triangle get 0.

    Triangles are found by ADJACENCY-ARRAY INTERSECTION, never as wedge
    rows: on the ~91 %-dense sf0.1 supplier graph a wedge join streams
    ~1.6e9 rows through two joins and a semi-join probe, and that per-row
    overhead measured as its entire 17-24 s cost. Each oriented edge (a, b)
    carries the sorted oriented-adjacency arrays of its endpoints, and
    ``array_intersect`` yields exactly the closing vertices
    C = N⁺(a) ∩ N⁺(b): per edge one O(deg⁺(a) + deg⁺(b)) hash-set
    intersection, the same total work as the wedge count, with no wedge
    ever a row. A triangle with orientation order v₁→v₂→v₃ is found exactly
    once, at edge (v₁, v₂) with c = v₃. A vertex with no outgoing oriented
    edge has no adjacency row, and the inner join drops its (·, hi) edges
    without loss: a triangle at base (a, b) needs c ∈ N⁺(b).

    Fused credit pass: for each oriented edge (a, b) with closing set C, the
    endpoints a and b are credited |C| with ONE row each and only the top
    corners c ∈ C are exploded — 2·E + T credit rows instead of the 3·T rows
    of exploding whole triples (T = 124.5M at sf0.1, so the explode volume
    drops ~3×); partial aggregation collapses them map-side before the V-row
    shuffle. Each triangle credits each of its three corners exactly once.
    While the adjacency table's stamped size fits the broadcast threshold
    both attaches are broadcasts and the edge list never shuffles; past it
    they become shuffle joins moving O(E) rows.

    A graph with at most ``graph.LOCAL_MAX_EDGES`` directed edges is counted
    by :func:`_local_triangles` instead (module docstring)."""
    local = graph.local_edges()
    if local is not None:
        counts = _local_triangles(*local)
        return graph.edges.sparkSession.createDataFrame(
            pd.DataFrame({"id": local[0], "triangles": counts}),
            "id long, triangles long",
        )
    edges_lo, hi_n = _oriented_with_adjacency(graph)
    inter = (
        edges_lo.join(hi_n, "hi")
        .select("lo", "hi", F.array_intersect("_n_lo", "_n_hi").alias("cs"))
        .where(F.size("cs") > 0)
    )
    n = F.size("cs").cast("long")
    credits = inter.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(F.col("lo").alias("id"), n.alias("n")),
                    F.struct(F.col("hi").alias("id"), n.alias("n")),
                ),
                F.transform(
                    "cs",
                    lambda c: F.struct(
                        c.alias("id"), F.lit(1).cast("long").alias("n")
                    ),
                ),
            )
        ).alias("t")
    )
    counts = credits.groupBy(F.col("t.id").alias("id")).agg(
        F.sum("t.n").alias("triangles")
    )
    return (
        graph.vertices.join(counts, "id", "left")
        .select("id", F.coalesce("triangles", F.lit(0)).alias("triangles"))
    )


def clustering_coefficients(graph: LinkGraph) -> DataFrame:
    """[id, nbrs, triangles, coeff] — local clustering coefficient
    C(v) = 2·T(v) / (n(v)·(n(v)−1)) with n(v) = #distinct neighbors
    (self-loops excluded); vertices with fewer than two neighbors get 0.
    Watts & Strogatz 1998; rounded to 6 dp (the module-wide cross-engine
    float policy). Cost on top of :func:`triangles_per_vertex`: one
    edge-table aggregation + a V-row join — the triangle stage's
    degree-oriented wedge bound (module docstring) still dominates."""
    tri = triangles_per_vertex(graph)
    # edges are pair-aggregated (one row per (src, dst)), so COUNT(*) is the
    # distinct-neighbor count
    nbrs = (
        graph.edges.where(F.col("src") != F.col("dst"))
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("nbrs"))
    )
    n = F.col("nbrs")
    return (
        tri.join(nbrs, "id", "left")
        .select(
            "id",
            F.coalesce("nbrs", F.lit(0)).alias("nbrs"),
            "triangles",
            F.round(
                F.when(
                    F.coalesce(n, F.lit(0)) >= 2,
                    2.0 * F.col("triangles") / (n * (n - F.lit(1))),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("coeff"),
        )
    )
