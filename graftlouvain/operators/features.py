"""Graph feature propagation (GNN-style neighbor smoothing) in EXACT
fixed-point arithmetic.

``feature_smooth`` computes R rounds of degree-normalized neighbor averaging
— h^{t+1}(v) = Σ_u w_uv·h^t(u) / Σ_u w_uv over v's neighbors — the
propagation step of SGC (Wu et al. 2019) / LightGCN (He et al. 2020):
simplified graph convolution without learned weights, the standard way to
turn per-node features + graph structure into training features at scale.

The twist that makes it ORACLE-EXACT: features and weights are integers
(quantize upstream if needed), the weighted sum is exact below 2^53, and the
normalization is INTEGER division (``div``) — so every round's state is a
pure integer function of the inputs, bit-identical across engines and
summation orders. Float averaging would differ in the last ulp per
(vertex, dim) and flip rounded values at boundaries; fixed-point sidesteps
the whole class (same device as the weighted-walk cumulative ranges).

Spark shape per round: one edges⋈features join (features broadcast-or-
co-partitioned on dst), posexplode over the feature array (E·d rows — the
standard GNN propagation cost), one (src, pos) aggregation with map-side
partial sums. Each round's state is MATERIALIZED (localCheckpoint +
truthful planner statistics — the superstep/walk-chain hygiene): a lazy
chain re-executes under subplan inlining and a cache-only chain leaves
lineage/statistics growing until the planner melts at depth (measured on
the walk operators, BENCH/BASELINE.md §8). Each round swaps its state
(``functions.iterate.swap``), releasing the previous round's checkpoint,
so a call leaves one checkpoint: the one the result reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graftlouvain.functions.iterate import swap
from graftlouvain.operators.graph import LinkGraph


def feature_smooth(
    graph: LinkGraph,
    features: DataFrame,
    rounds: int = 2,
) -> DataFrame:
    """[id, pos, val] — ``rounds`` of exact fixed-point neighbor smoothing of
    integer feature vectors (``features``: [id, array<long>]). Vertices keep
    a row per dimension; a vertex's new value is the weighted-mean (integer
    div) of its NEIGHBORS' values — self excluded unless a self-loop edge
    exists, matching the plain D⁻¹A propagation.

    State-domain contract: the output id set EQUALS the input feature id
    set at every round. A vertex none of whose neighbors carry features
    this round (including isolated / off-graph ids) KEEPS its previous
    value — a per-round left join against the prior state, not an inner
    join that would silently shrink the vertex set round over round.

    Integer-division note: ``num div den`` truncates toward zero in Spark,
    and DuckDB's integer ``//`` does the SAME (−7 // 2 = −3 in both) — so
    the bit-identical cross-engine claim holds for NEGATIVE features too
    (pinned by tests/test_features.py's negative-feature case)."""
    edges = graph.edges.select(
        "src", "dst", F.col("weight").cast("long").alias("w")
    )
    feat = features.select(
        F.col("id").alias("dst"),
        F.posexplode(F.col("q")).alias("pos", "x"),
    )
    for _ in range(rounds):
        joined = edges.join(feat, "dst")
        agg = joined.groupBy("src", "pos").agg(
            F.sum(F.col("w") * F.col("x")).alias("num"),
            F.sum("w").alias("den"),
        )
        smoothed = agg.select(
            F.col("src").alias("dst"),
            "pos",
            F.expr("num div den").alias("x2"),
        )
        feat = swap(feat, feat.join(smoothed, ["dst", "pos"], "left").select(
            "dst", "pos", F.coalesce("x2", "x").alias("x")
        ))
    return feat.select(F.col("dst").alias("id"), "pos", F.col("x").alias("val"))
