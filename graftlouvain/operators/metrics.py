"""Link-graph structural metrics beyond the core algorithm set (SURVEY.md
§2h spirit — [north-star] additions; published semantics, no reference code):

- :func:`neighbor_jaccard` — per-edge neighbor-set Jaccard similarity, the
  classic link-prediction / edge-strength feature (Liben-Nowell & Kleinberg
  2003). Pure joins + aggregations over the pair-aggregated edge table.
- :func:`degree_assortativity` — Pearson correlation of endpoint degrees
  over directed edges (Newman 2002). One join + one `corr` aggregate.
- :func:`kcore` — k-core membership by synchronous peeling (Seidman 1983):
  repeatedly drop vertices with fewer than k neighbors inside the surviving
  subgraph. Data-dependent iteration in the public API (observed removal
  count, same zero-extra-job Observation pattern as the other fixpoints);
  ``rounds`` pins a fixed unrolled depth for the SQL-oracle twin — peeling
  is monotone (the survivor set only shrinks), so once stable every extra
  round is a no-op and the fixed-depth result equals the true k-core
  whenever it converges within ``rounds`` (asserted against a sequential
  oracle in pytest).

Scale shape: every step is an edge⋈survivor semi-join + a groupBy(src)
count — co-partitioned on the edge cache's src layout, no driver-side data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graftlouvain.functions.iterate import fixpoint, swap_observed
from graftlouvain.operators.graph import LinkGraph


def neighbor_jaccard(graph: LinkGraph) -> DataFrame:
    """[src, dst, common, jaccard] for every undirected edge (src < dst):
    jaccard = |N(src) ∩ N(dst)| / |N(src) ∪ N(dst)| over distinct-neighbor
    sets (self-loops excluded; the endpoints themselves are members of each
    other's sets, the standard convention). Rounded to 6 dp."""
    sym = graph.edges.where(F.col("src") != F.col("dst")).select("src", "dst")
    pairs = sym.where(F.col("src") < F.col("dst"))
    nbr_counts = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # common neighbors: c adjacent to both endpoints
    a_adj = sym.select("src", F.col("dst").alias("c"))
    b_adj = sym.select(F.col("src").alias("dst"), F.col("dst").alias("c"))
    common = (
        pairs.join(a_adj, "src")
        .join(b_adj, ["dst", "c"], "left_semi")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = nbr_counts.select(F.col("id").alias("src"), F.col("n").alias("na"))
    nb = nbr_counts.select(F.col("id").alias("dst"), F.col("n").alias("nb"))
    return (
        pairs.join(common, ["src", "dst"], "left")
        .join(na, "src")
        .join(nb, "dst")
        .select(
            "src",
            "dst",
            F.coalesce("common", F.lit(0)).alias("common"),
            F.round(
                F.coalesce("common", F.lit(0))
                / (F.col("na") + F.col("nb") - F.coalesce("common", F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )


def degree_assortativity(graph: LinkGraph) -> DataFrame:
    """One-row [assortativity]: Pearson correlation of (weighted) endpoint
    degrees over the directed symmetric edge table — the standard undirected
    degree-assortativity estimator (each undirected edge contributes both
    orientations, which symmetrizes the correlation). Rounded to 6 dp."""
    deg = graph.degrees
    d_src = deg.select(F.col("id").alias("src"), F.col("degree").alias("d_src"))
    d_dst = deg.select(F.col("id").alias("dst"), F.col("degree").alias("d_dst"))
    return (
        graph.edges.where(F.col("src") != F.col("dst"))
        .join(d_src, "src")
        .join(d_dst, "dst")
        .agg(F.round(F.corr("d_src", "d_dst"), 6).alias("assortativity"))
    )


def kcore(graph: LinkGraph, k: int, rounds: int | None = None) -> DataFrame:
    """[id] — vertices of the k-core (maximal induced subgraph of minimum
    degree ≥ k, distinct-neighbor degrees, self-loops excluded).

    ``rounds=None`` peels until a round removes nothing (removal count read
    via Observation during the survivor materialization — no extra job);
    an explicit ``rounds`` runs exactly that many synchronous peels (the
    SQL-oracle twin's fixed unrolling — a no-op once stable)."""
    if k < 1:
        raise ValueError("kcore requires k >= 1 (k=0 is the full vertex set)")
    sym = graph.edges.where(F.col("src") != F.col("dst")).select("src", "dst")
    n_alive = graph.stats.num_vertices

    def peel(alive: DataFrame, _i: int) -> tuple[DataFrame, tuple[int, int]]:
        nonlocal n_alive
        # induced-subgraph degrees: only edges whose BOTH endpoints
        # survive; a vertex with no surviving adjacency row has degree 0
        # and drops out of the aggregation (= removed), which is exactly
        # the peel for any k >= 1
        adj = sym.join(
            alive.select(F.col("id").alias("src")), "src", "left_semi"
        ).join(alive.select(F.col("id").alias("dst")), "dst", "left_semi")
        survivors = (
            adj.groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") >= k)
            .select("id", F.lit(1).alias("_c"))
        )
        alive, kept = swap_observed(alive, survivors, "_c")
        removed, n_alive = n_alive - kept, kept
        return alive.select("id"), (removed, kept)

    alive, _ = fixpoint(
        graph.edges.sparkSession, n_alive, lambda: graph.vertices.select("id"), peel,
        rounds if rounds is not None else max(n_alive, 1),
        # stable once a peel removes nothing, or leaves nothing to peel
        quiet=None if rounds is not None else (lambda m: 0 in m),
    )
    return alive
