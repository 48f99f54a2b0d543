"""Connected components (SURVEY.md §2h — [north-star]).

Synchronous min-label propagation to fixpoint — exact min-id labels, one
join + one groupBy(min) shuffle per superstep, O(diameter) supersteps. Link
graphs (power-law) have effective diameter ~10-20, so this is the right
algorithm even at 10^12 edges. Adversarially high-diameter graphs would want
the alternating large-star/small-star algorithm (Kiveris et al. 2014,
"Connected Components in MapReduce and Beyond", O(log² V) rounds); it is
not implemented, since nothing here needs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graftlouvain.functions.iterate import (
    fixpoint,
    materialize,  # noqa: F401 (wrapped here by perfbench/trace.py)
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
