"""Synchronous label propagation (SURVEY.md §2h — [north-star]; semantics from
Raghavan et al. 2007, synchronous variant with deterministic tie-breaking).

Per superstep every vertex adopts the label with the largest summed incident
edge weight among its neighbors' current labels; ties broken by the SMALLEST
label id; vertices keep their label when they have no neighbors. Synchronous
LPA can oscillate on bipartite-ish structures, so the loop runs a fixed
``max_iter`` with early stop on a stable labeling — deterministic by
construction (pure function of the input graph), matched exactly by the
sequential oracle.
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


def label_propagation(graph: LinkGraph, max_iter: int = 5) -> DataFrame:
    """Returns [id, label].

    Per superstep: one edge⋈labels join + (id, label) weight aggregation, a
    hash-aggregate argmax (max_by over (w, −l) — no sort; ties → smallest
    label), and one observed-metric materialization (changed-count read during
    the same pass, no comparison join)."""

    def superstep(labels: DataFrame, _i: int) -> tuple[DataFrame, int]:
        weighted = (
            graph.edges.where(F.col("src") != F.col("dst"))
            .join(
                labels.select(F.col("id").alias("dst"), F.col("label").alias("l")), "dst"
            )
            .groupBy(F.col("src").alias("id"), F.col("l"))
            .agg(F.sum("weight").alias("w"))
        )
        winners = weighted.groupBy("id").agg(
            F.max_by("l", F.struct(F.col("w"), (-F.col("l")).alias("neg"))).alias(
                "new_label"
            )
        )
        new_l = F.coalesce("new_label", "label")
        flagged = labels.join(winners, "id", "left").select(
            "id",
            new_l.alias("label"),
            (new_l != F.col("label")).cast("int").alias("_changed"),
        )
        labels, changed = swap_observed(labels, flagged, "_changed")
        return labels.select("id", "label"), changed

    labels, _ = fixpoint(
        graph.edges.sparkSession, graph.stats.num_vertices,
        lambda: graph.vertices.select("id", F.col("id").alias("label")),
        superstep, max_iter, quiet=lambda changed: changed == 0,
    )
    return labels
