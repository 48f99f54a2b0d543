"""Iteration state hygiene for Spark DataFrame fixpoint loops.

Two separate pathologies must be handled every superstep:

1. **Lineage growth** — each superstep's plan references the previous state
   several times, so unchecked plans grow exponentially in node count.
   ``localCheckpoint`` truncates the plan to a LogicalRDD leaf.
2. **Statistics snowball** — ``localCheckpoint`` COPIES the truncated plan's
   size estimate onto the LogicalRDD. Size estimates of joins are products of
   their inputs, so the carried estimate roughly CUBES every superstep; by
   superstep ~15 the driver burns minutes per plan in BigInteger
   multiplication inside every rule that asks for ``stats.sizeInBytes``
   (JoinSelection.canBroadcastBySize, InjectRuntimeFilter, ...). Layering an
   eagerly-materialized ``cache()`` on top replaces the estimate with the REAL
   in-memory byte size, so downstream planning sees truthful (tiny) numbers
   and broadcast decisions stay correct.

``materialize`` applies both; callers unpersist the previous state once the
new one is materialized.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage AND reset the planner's size statistics to reality.

    Order matters: cache → eager checkpoint → unpersist. ``localCheckpoint``
    copies the statistics of the plan it truncates onto its LogicalRDD leaf
    (LogicalRDD.fromDataset), so checkpointing an UNCACHED plan stamps the
    leaf with the inherited join-product estimate and downstream plans
    snowball (measured: moves-plan estimate digits doubling per superstep —
    34→82→180→…→3105 by superstep 6). Checkpointing the *cached* Dataset
    instead runs ONE job that populates the cache and writes the checkpoint
    blocks in the same pass; the LogicalRDD is built after that eager job, so
    it is stamped with the real in-memory byte size (verified: stamped stats
    stay constant across 50+ supersteps instead of snowballing). The cache is
    then dropped — the checkpointed RDD blocks are independent storage. An
    earlier revision ran an explicit ``count()`` between cache and checkpoint
    (two jobs); the single-job form measured ~0.1 s/superstep faster at the
    same stamped stats (same-session interleaved A/B, BENCH notes r3).
    """
    cached = df.cache()
    ck = cached.localCheckpoint(eager=True)
    cached.unpersist()
    return ck


STATE_SHUFFLE_TARGET_ROWS = 32_768
# conservative in-memory bytes per skinny state row (UnsafeRow with 2-3
# numeric columns + null bitset + overhead) for the broadcast-regime guard
STATE_ROW_BYTES_EST = 48


def broadcast_regime(spark: SparkSession, n_rows: int) -> bool:
    """True while an ``n_rows``-row state is expected to BROADCAST into the
    edge-side joins: its conservative size estimate (``STATE_ROW_BYTES_EST``
    bytes per row) stays under the session's broadcast threshold. The one
    regime decision every fixpoint loop's layout choices share (partition
    scoping here, PageRank's shares layout), so they can never disagree.
    Estimating high errs toward the shuffle regime — the safe side for
    both decisions."""
    try:
        limit = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    except Exception:
        limit = 10 * 1024 * 1024
    return limit > 0 and n_rows * STATE_ROW_BYTES_EST < limit


def state_partitions(spark: SparkSession, n_rows: int) -> int:
    """Row-proportional shuffle-partition count for the V-row STATE side of
    an iterative operator: ~``STATE_SHUFFLE_TARGET_ROWS`` rows per partition,
    floored at 4, capped at the session's current setting (so a real cluster
    keeps its configured parallelism and only tiny states shrink). The same
    policy the Louvain coarse-level shrink has applied since r3, extended to
    every fixpoint loop (r6): with AQE off inside the loops (below), nothing
    else coalesces the near-empty state shuffles, and the per-superstep task
    floor — p tasks for the state exchange plus p per broadcast-subplan
    stage — dominates small-state levels. Edge-side parallelism is untouched
    (the edge cache keeps its build-time partitioning).

    BROADCAST-REGIME GUARD (r6 review): the "only state-sized shuffles
    happen inside the loop" premise holds only while the materialized state
    BROADCASTS into the edge-side joins; past the session's broadcast
    threshold those joins plan as shuffle joins moving E rows, which must
    keep the cluster's full parallelism — so outside
    :func:`broadcast_regime` the session setting is returned unchanged."""
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if not broadcast_regime(spark, n_rows):
        return p
    return max(4, min(p, -(-max(n_rows, 1) // STATE_SHUFFLE_TARGET_ROWS)))


@contextmanager
def superstep_planning(spark: SparkSession, shuffle_partitions: int | None = None):
    """Disable AQE inside tight superstep loops (restoring it afterwards).

    AQE re-optimizes after every shuffle stage — several driver round-trips
    per superstep that cost a near-constant ~5-7 s regardless of data size or
    core count (measured: 15.4 s vs 8.4 s per superstep at 18M edges on
    local[32]). Because every iterative operator here keeps truthful input
    statistics (``materialize``), the static planner already makes the right
    broadcast/shuffle choices, so AQE buys nothing inside the loop. Ad-hoc
    relational queries keep AQE (skew-join splitting, coalescing) — this
    scope only covers the superstep bodies.

    ``shuffle_partitions`` (r6) additionally scopes the session
    shuffle-partition count for the loop body — pass
    :func:`state_partitions`'s row-proportional value so V-row state
    shuffles stop scheduling one near-empty task per session partition
    (results are partition-invariant; pinned by the cross-parallelism
    determinism suite and per-operator digest checks)."""
    conf = spark.conf
    prev = conf.get("spark.sql.adaptive.enabled", "true")
    prev_p = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.enabled", "false")
    if shuffle_partitions is not None and shuffle_partitions < int(prev_p):
        conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
    try:
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", prev)
        conf.set("spark.sql.shuffle.partitions", prev_p)


def swap(old: DataFrame | None, new: DataFrame) -> DataFrame:
    """Materialize ``new`` then release ``old`` (safe order: the new state is
    fully computed before its input is evicted)."""
    out = materialize(new)
    if old is not None:
        try:
            old.unpersist()
        except Exception:
            pass
    return out


def swap_observed(
    old: DataFrame | None, new: DataFrame, metric_col: str
) -> tuple[DataFrame, int]:
    """:func:`swap` + read ``sum(metric_col)`` observed DURING the
    materialization pass (Spark ``Observation`` / CollectMetrics): convergence
    counters cost zero extra jobs and zero extra passes over the state —
    previously every fixpoint loop here paid either a second scalar-aggregate
    job (Louvain moves) or a full old⋈new join + count (CC/LPA changed-count)
    per superstep."""
    out, vals = swap_observed_multi(old, new, [metric_col])
    return out, vals[0]


def swap_observed_sum(
    old: DataFrame | None, new: DataFrame, metric_col: str
) -> tuple[DataFrame, float]:
    """:func:`swap` observing a FLOAT ``sum(metric_col)`` during the one
    materialization pass — PageRank reads its L1 convergence delta this way
    (previously a separate old⋈new join + aggregate job per iteration)."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = new.observe(obs, F.sum(F.col(metric_col)).alias("m"))
    out = swap(old, observed)
    return out, float(obs.get["m"] or 0.0)


def swap_observed_multi(
    old: DataFrame | None, new: DataFrame, metric_cols: list[str]
) -> tuple[DataFrame, list[int]]:
    """:func:`swap` observing ``sum(c)`` for SEVERAL columns in the one
    materialization pass (the Louvain level loop reads its move count this
    way)."""
    from pyspark.sql import Observation

    obs = Observation()
    observed = new.observe(
        obs, *[F.sum(F.col(c)).alias(f"m{i}") for i, c in enumerate(metric_cols)]
    )
    out = swap(old, observed)
    got = obs.get
    return out, [int(got[f"m{i}"] or 0) for i in range(len(metric_cols))]
