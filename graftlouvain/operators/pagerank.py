"""Weighted PageRank over a LinkGraph (SURVEY.md §2h — [north-star], no
reference code; semantics from Brin & Page 1998 / the standard power
iteration).

r_{t+1}(v) = (1−α)/V + α · ( Σ_{u→v} r_t(u)·w(u,v)/outw(u) + dangling_t/V )

On a symmetrized LinkGraph every vertex with an edge has out-weight > 0, so
dangling mass is zero; the term is kept for generality (directed callers).

Scale: per iteration one join (ranks ⋈ edges, co-partitioned on src because
LinkGraph.edges is hash-partitioned on src and ranks are repartitioned
likewise once) + one groupBy(dst) shuffle. Convergence tested by an L1-delta
aggregation; lineage cut via localCheckpoint per iteration.
"""

from __future__ import annotations

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
    (no convergence test) — used by the fixed-iteration SQL oracle. Every
    iteration is one materialization; on the convergence path the L1 delta
    rides it as an Observation over a carried |new − old| column instead of
    a separate old⋈new join + aggregate job per iteration.

    ``seeds`` ([id]) switches to PERSONALIZED PageRank (Haveliwala 2002 /
    the random-walk-with-restart form): the teleport mass (1−α) is split
    uniformly over the seed set instead of all vertices, and the walk starts
    there — rank(v) measures proximity to the seeds. Same plan per
    iteration plus one broadcast-sized seed join in the reset term."""
    V = graph.stats.num_vertices
    if V == 0:
        return graph.vertices.select("id", F.lit(0.0).alias("rank"))
    out_w = graph.degrees.select(F.col("id").alias("src"), F.col("degree").alias("out_w"))
    spark = graph.edges.sparkSession
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
            "src", "dst", (F.col("weight") / F.col("out_w")).alias("share")
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
