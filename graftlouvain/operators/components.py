"""Connected components (SURVEY.md §2h — [north-star]).

Primary: synchronous min-label propagation to fixpoint — exact min-id labels,
one join + one groupBy(min) shuffle per superstep, O(diameter) supersteps.
Link graphs (power-law) have effective diameter ~10-20, so this is the right
default even at 10^12 edges; the alternating large-star/small-star algorithm
(Kiveris et al. 2014, "Connected Components in MapReduce and Beyond") is
provided as ``components_star`` for adversarially high-diameter graphs —
O(log² V) rounds, same exact output (min id per component).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graftlouvain.functions.iterate import (
    fixpoint,
    materialize,
    swap_observed,
)
from graftlouvain.operators.graph import LinkGraph


def components(graph: LinkGraph, max_iter: int = 200) -> DataFrame:
    """Returns [id, component] with component = min vertex id reachable.

    Convergence: min-label only decreases, so ``changed`` =
    Σ[new < old], computed as an observed metric during the state
    materialization itself — no old⋈new comparison join per superstep."""

    def superstep(labels: DataFrame, _i: int) -> tuple[DataFrame, int]:
        nbr_min = (
            graph.edges.join(
                labels.select(F.col("id").alias("dst"), F.col("component").alias("c")),
                "dst",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("c").alias("nbr_min"))
        )
        new_c = F.least("component", F.coalesce("nbr_min", "component"))
        flagged = labels.join(nbr_min, "id", "left").select(
            "id",
            new_c.alias("component"),
            (new_c < F.col("component")).cast("int").alias("_changed"),
        )
        labels, changed = swap_observed(labels, flagged, "_changed")
        return labels.select("id", "component"), changed

    labels, _ = fixpoint(
        graph.edges.sparkSession, graph.stats.num_vertices,
        lambda: graph.vertices.select("id", F.col("id").alias("component")),
        superstep, max_iter, quiet=lambda changed: changed == 0,
    )
    return labels


def components_star(graph: LinkGraph, max_iter: int = 64) -> DataFrame:
    """Alternating large-star / small-star (Kiveris et al. 2014). Works on the
    undirected pair set; converges when the edge set is a star forest, i.e.
    every node points to its component minimum. Exact same output contract as
    :func:`components`."""
    # undirected unique pairs with u != v
    edges = materialize(
        graph.edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .distinct()
    )
    stable = False
    for _i in range(max_iter):
        # large-star: for each node n over BOTH directions, m = min(nbrs ∪ n);
        # emit (v, m) for strictly-larger neighbors v > n.
        both = edges.select(F.col("u").alias("n"), F.col("v").alias("x")).unionByName(
            edges.select(F.col("v").alias("n"), F.col("u").alias("x"))
        )
        mins = both.groupBy("n").agg(F.min("x").alias("mn"))
        mins = mins.select("n", F.least("n", "mn").alias("m"))
        large = (
            both.join(mins, "n")
            .where(F.col("x") > F.col("n"))
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
        )
        # small-star: neighbors ≤ n (and n itself) all point to the minimum.
        small_nbrs = both.where(F.col("x") < F.col("n"))
        smins = small_nbrs.groupBy("n").agg(F.min("x").alias("m"))
        small = (
            small_nbrs.join(smins, "n")
            .where(F.col("x") != F.col("m"))
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
            .unionByName(smins.select(F.col("n").alias("u"), F.col("m").alias("v")))
        )
        new_edges = materialize(
            large.unionByName(small)
            .where(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .select(F.col("v").alias("u"), F.col("u").alias("v"))  # u = min end
            .distinct()
        )
        # converged when the round was a no-op: same row count AND no row of
        # the new set missing from the old (one exceptAll job, not two —
        # equal-cardinality set containment implies equality)
        stable = (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).limit(1).count() == 0
        )
        edges.unpersist()
        edges = new_edges
        if stable:
            break
    # edges now (min_end=u? ensure orientation): rows are (u=small, v=large)
    if not stable:
        # max_iter exhausted before the star-forest fixpoint: a node may still
        # appear with several parents — collapse to the minimum so the output
        # honors the one-row-per-vertex [id, component] contract (labels may
        # then be a refinement of the true components; warn loudly).
        import warnings

        warnings.warn(
            f"components_star: not converged after {max_iter} rounds; "
            "emitting min-parent labels (possibly refined components)",
            RuntimeWarning,
            stacklevel=2,
        )
    parents = (
        edges.groupBy(F.col("v").alias("id"))
        .agg(F.min("u").alias("component"))
    )
    return (
        graph.vertices.join(parents, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )
