"""Weighted PageRank over a LinkGraph (SURVEY.md §2h — [north-star], no
reference code; semantics from Brin & Page 1998 / the standard power
iteration).

r_{t+1}(v) = (1−α)/V + α · Σ_{u→v} r_t(u)·w(u,v)/outw(u)

A vertex with out-weight 0 (every edge of weight 0) gives each edge share 0:
its rank mass is not redistributed, so the ranks then sum to less than 1.
On a symmetrized graph with positive weights every vertex has out-weight
> 0 and the ranks sum to 1.

Scale: per iteration one join (ranks ⋈ edges, co-partitioned on src because
LinkGraph.edges is hash-partitioned on src and ranks are repartitioned
likewise once) + one groupBy(dst) shuffle. Convergence tested by an L1-delta
aggregation; lineage cut via localCheckpoint per iteration.

LOCAL TIER: a graph with at most ``graph.LOCAL_MAX_EDGES`` directed edges is
collected once by :meth:`LinkGraph.local_edges` (the helper and threshold
Louvain's local tier shares) and iterated on the driver by
:func:`_local_pagerank`, a port of the SQL loop: the same ``base``/``alpha``
arithmetic, reset vector and ``tol`` rule. Its ranks come back through one
``swap``, so either tier returns one loop-owned checkpoint. The tiers sum
each vertex's incoming mass in different orders, so ranks can differ in the
last ulps.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graftlouvain.functions.iterate import (
    broadcast_regime,
    fixpoint,
    materialize,  # noqa: F401 (wrapped here by perfbench/trace.py)
    swap,
    swap_observed,
)
from graftlouvain.operators.graph import LinkGraph


def pagerank(
    graph: LinkGraph,
    alpha: float = 0.85,
    tol: float = 1e-9,
    max_iter: int = 100,
    n_iter: int | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Returns [id, rank]. ``n_iter`` forces exactly that many iterations
    (no convergence test) — used by the fixed-iteration SQL oracle. A graph
    with at most ``graph.LOCAL_MAX_EDGES`` directed edges runs in the local
    tier (module docstring). On the SQL tier every iteration is one
    materialization; on the convergence path the L1 delta rides it as an
    Observation over a carried |new − old| column instead of a separate
    old⋈new join + aggregate job per iteration.

    ``seeds`` ([id]) switches to PERSONALIZED PageRank (Haveliwala 2002 /
    the random-walk-with-restart form): the teleport mass (1−α) is split
    uniformly over the seed set instead of all vertices, and the walk starts
    there — rank(v) measures proximity to the seeds. Same plan per
    iteration plus one broadcast-sized seed join in the reset term."""
    V = graph.stats.num_vertices
    if V == 0:
        return graph.vertices.select("id", F.lit(0.0).alias("rank"))
    spark = graph.edges.sparkSession
    local = graph.local_edges()
    if local is not None:
        ids, s, d, w = local
        if seeds is None:
            reset, start = np.full(V, (1.0 - alpha) / V), np.full(V, 1.0 / V)
        else:
            on = np.isin(ids, seeds.select(seeds.columns[0]).toPandas().iloc[:, 0])
            n_seeds = int(on.sum())
            if n_seeds == 0:
                raise ValueError("personalized pagerank requires a non-empty seed set")
            reset = np.where(on, (1.0 - alpha) / n_seeds, 0.0)
            start = np.where(reset > 0, 1.0 / n_seeds, 0.0)
        ranks, _ = _local_pagerank(s, d, w, reset, start, alpha, tol, max_iter, n_iter)
        return swap(None, spark.createDataFrame(
            pd.DataFrame({"id": ids, "rank": ranks}), "id long, rank double"
        ))
    out_w = graph.degrees.select(F.col("id").alias("src"), F.col("degree").alias("out_w"))
    if seeds is not None:
        # seeds outside the graph carry no walk mass — intersect first so the
        # teleport normalizer matches the effective seed set
        seed_set = F.broadcast(
            seeds.select(F.col(seeds.columns[0]).alias("id"))
            .distinct()
            .join(graph.vertices, "id", "left_semi")
        )
        n_seeds = seed_set.count()
        if n_seeds == 0:
            raise ValueError("personalized pagerank requires a non-empty seed set")
        # reset vector: (1−α)/|S| on seeds, 0 elsewhere; initial distribution
        # likewise uniform on seeds
        reset = graph.vertices.join(
            seed_set.withColumn("_s", F.lit(1)), "id", "left"
        ).select(
            "id",
            F.when(F.col("_s").isNotNull(), F.lit((1.0 - alpha) / n_seeds))
            .otherwise(F.lit(0.0))
            .alias("reset"),
        )
        init_rank = F.when(F.col("reset") > 0, F.lit(1.0 / n_seeds)).otherwise(
            F.lit(0.0)
        )
        start = reset.select("id", init_rank.alias("rank"))
    else:
        reset = None
        start = graph.vertices.select("id", F.lit(1.0 / V).alias("rank"))
    base = (1.0 - alpha) / V

    def one_iter(ranks_df: DataFrame) -> DataFrame:
        contrib = (
            shares.join(ranks_df.select(F.col("id").alias("src"), "rank"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") * F.col("share")).alias("mass"))
        )
        if reset is not None:
            return reset.join(contrib, "id", "left").select(
                "id",
                (
                    F.col("reset") + F.lit(alpha) * F.coalesce("mass", F.lit(0.0))
                ).alias("rank"),
            )
        return graph.vertices.join(contrib, "id", "left").select(
            "id",
            (F.lit(base) + F.lit(alpha) * F.coalesce("mass", F.lit(0.0))).alias("rank"),
        )

    # the shares table is E-row, so its partition count is captured from the
    # session BEFORE the loop's state-proportional scope-down (r6 review: a
    # lazy repartition("dst") resolved inside the scope would build the
    # E-row cache at the V-proportional count, collapsing edge parallelism)
    p_session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    shares = None

    def init() -> DataFrame:
        # Cached INSIDE the loop's planning scope: cached outside it, the
        # plan is adaptive with unknown partitioning and the dst layout is lost.
        # LAYOUT IS SIZE-ADAPTIVE (r6, guide §2.4): while the V-row rank
        # table broadcasts into the shares join (the same broadcast_regime
        # decision that scoped the loop's partitions), laying shares
        # out by DST makes the per-iteration groupBy(dst) aggregation
        # exchange-free — the per-iteration shuffles disappear entirely
        # (executed-plan walk: 2 ShuffleExchange nodes → 0; measured
        # 6.3 s → 2.8 s for 10 iterations at sf0.1/local[32], rounded
        # digest identical — the 6-dp output rounding absorbs the
        # partial-sum reordering exactly as it absorbs the DuckDB twin's
        # different summation order).
        # Past the broadcast regime the src layout is kept: there the
        # ranks join must co-partition on src, and a dst layout would
        # re-shuffle the E-row shares EVERY iteration instead of once at
        # build — the regime that actually matters at 100 TB.
        nonlocal shares
        shares = graph.edges.join(out_w, "src").select(
            "src", "dst",
            F.when(F.col("out_w") > 0, F.col("weight") / F.col("out_w"))
            .otherwise(F.lit(0.0)).alias("share"),
        )
        if broadcast_regime(spark, V):
            shares = shares.repartition(p_session, "dst")
        shares = shares.cache()
        return start

    def fixed_step(ranks: DataFrame, _i: int) -> tuple[DataFrame, None]:
        return swap(ranks, one_iter(ranks)), None

    def converging_step(ranks: DataFrame, _i: int) -> tuple[DataFrame, float]:
        stepped = one_iter(ranks).join(
            ranks.withColumnRenamed("rank", "old"), "id"
        ).select("id", "rank", F.abs(F.col("rank") - F.col("old")).alias("_d"))
        ranks, delta = swap_observed(ranks, stepped, "_d")
        return ranks.select("id", "rank"), delta

    if n_iter is not None:
        ranks, _ = fixpoint(spark, V, init, fixed_step, n_iter)
    else:
        ranks, _ = fixpoint(spark, V, init, converging_step, max_iter, lambda d: d < tol)
    shares.unpersist()
    return ranks


def _local_pagerank(s, d, w, reset, rank, alpha, tol, max_iter, n_iter):
    """numpy twin of :func:`pagerank`'s SQL loop over compacted vertex
    indices: ``rank ← reset + α·mass`` with the same shares, for ``n_iter``
    steps, or until ``Σ|new − old| < tol`` after a step (``fixpoint``'s
    rule), at most ``max_iter``. Returns the ranks and the steps run."""
    n = len(rank)
    out_w = np.bincount(s, weights=w, minlength=n)[s]
    share = np.divide(w, out_w, out=np.zeros_like(w), where=out_w > 0)
    steps = n_iter if n_iter is not None else max_iter
    i = 0
    while i < steps:
        new = reset + alpha * np.bincount(d, weights=rank[s] * share, minlength=n)
        delta = float(np.abs(new - rank).sum())
        rank, i = new, i + 1
        if n_iter is None and delta < tol:
            break
    return rank, i
