"""The one superstep loop, :func:`converge`, that every iterative operator
runs on, in both tiers: an operator supplies only its superstep body. Spark
operators run it through :func:`fixpoint` and swap their state through
:func:`swap` or :func:`swap_observed` / :func:`swap_observed_multi`; the
local numpy kernels (Louvain levels, PageRank) run it through :func:`settle`.

Every swap handles two pathologies of iterated DataFrame plans:

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

``materialize`` applies both; ``swap`` then releases the superseded state's
checkpoint blocks.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator, NamedTuple, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
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
    then dropped — the checkpointed RDD blocks are independent storage. (An
    explicit ``count()`` before the checkpoint, two jobs, measured ~0.1 s
    per superstep slower at the same stamped stats, BENCH notes r3.)"""
    cached = df.cache()
    ck = cached.localCheckpoint(eager=True)
    cached.unpersist()
    return ck


# rows per partition of the state shuffles and of coarse Louvain edge caches
ROWS_PER_PARTITION = 32_768
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


def row_partitions(n_rows: int, cap: int) -> int:
    """~``ROWS_PER_PARTITION`` rows per partition, floored at 4, capped at ``cap``."""
    return max(4, min(cap, -(-max(n_rows, 1) // ROWS_PER_PARTITION)))


def state_partitions(spark: SparkSession, n_rows: int) -> int:
    """Shuffle-partition count for the V-row STATE side of an iterative
    operator: :func:`row_partitions` capped at the session's setting (so a
    real cluster keeps its configured parallelism and only small states
    shrink). With AQE off inside the loops (below), nothing else coalesces
    the near-empty state shuffles, and the per-superstep task floor — p
    tasks for the state exchange plus p per broadcast-subplan stage —
    dominates small-state levels. The edge cache keeps its build-time
    partitioning (``louvain.coarsen`` sizes a coarse one by the same rule).

    BROADCAST-REGIME GUARD (r6 review): the "only state-sized shuffles
    happen inside the loop" premise holds only while the materialized state
    BROADCASTS into the edge-side joins; past the session's broadcast
    threshold those joins plan as shuffle joins moving E rows, which must
    keep the cluster's full parallelism — so outside
    :func:`broadcast_regime` the session setting is returned unchanged."""
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if not broadcast_regime(spark, n_rows):
        return p
    return row_partitions(n_rows, p)


# held through every superstep_planning scope; re-entrant for nested scopes
_PLANNING = threading.RLock()


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
    scope only covers the superstep bodies (and the forced repartition of a
    coarse edge cache, ``louvain.coarsen``).

    ``shuffle_partitions`` (:func:`state_partitions`'s value) also scopes
    the session shuffle-partition count down, so V-row state shuffles stop
    scheduling one near-empty task per session partition (results are
    partition-invariant, pinned by the cross-parallelism determinism suite).
    The engine's one session-config writer: a scope on another thread waits
    for this one to restore the session, so every scope restores exactly
    what it found."""
    conf = spark.conf
    with _PLANNING:
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


# name swap stamps on the checkpoint RDD of every state it creates: _release
# drops only these, never a checkpoint the caller made
_STATE_RDD = "graftlouvain.state"


def _release(state: DataFrame | None) -> None:
    """Drop the checkpoint blocks of a loop-owned state (a projection of a
    :func:`swap` output); leave any other DataFrame alone. ``unpersist()``
    cannot do this: it only drops CacheManager entries, and a checkpointed
    state has none."""
    if state is None:
        return
    plan = state._jdf.queryExecution().analyzed()
    while plan.getClass().getSimpleName() == "Project":
        plan = plan.child()
    if plan.getClass().getSimpleName() == "LogicalRDD" and plan.rdd().name() == _STATE_RDD:
        plan.rdd().unpersist(False)


def swap(old: DataFrame | None, new: DataFrame) -> DataFrame:
    """Materialize ``new`` as a loop-owned state, then release ``old`` (safe
    order: the new state is fully computed before its input is evicted)."""
    out = materialize(new)
    out._jdf.queryExecution().analyzed().rdd().setName(_STATE_RDD)
    _release(old)
    return out


def swap_observed(
    old: DataFrame | None, new: DataFrame, metric_col: str
) -> tuple[DataFrame, int | float]:
    """:func:`swap` + read ``sum(metric_col)`` observed DURING the
    materialization pass (Spark ``Observation`` / CollectMetrics): a
    convergence counter costs no extra job and no extra pass over the state
    (no second scalar aggregate, no old⋈new join + count)."""
    out, vals = swap_observed_multi(old, new, [metric_col])
    return out, vals[0]


def swap_observed_multi(
    old: DataFrame | None, new: DataFrame, metric_cols: list[str]
) -> tuple[DataFrame, list[int | float]]:
    """:func:`swap` observing ``sum(c)`` for SEVERAL columns in the one
    materialization pass: ``int`` for integer columns, ``float`` for
    floating ones, 0 over an empty state."""
    obs = Observation()
    observed = new.observe(
        obs, *[F.sum(F.col(c)).alias(f"m{i}") for i, c in enumerate(metric_cols)]
    )
    out = swap(old, observed)
    got = obs.get
    return out, [got[f"m{i}"] or 0 for i in range(len(metric_cols))]


class Superstep(NamedTuple):
    step: int
    metric: Any  # what the step returned beside its state
    wall_ms: int  # the step alone


def converge(
    state: Any,
    step: Callable[[Any, int], tuple[Any, Any]],
    max_iter: int,
    quiet: Callable[[Any], bool] | None = None,
    patience: int = 1,
    done: Sequence[Any] = (),
) -> Iterator[tuple[Any, Superstep]]:
    """THE superstep loop, over any state: run ``state, metric = step(state,
    i)`` for ``i`` from ``len(done)`` while ``i < max_iter``, and yield each
    new state with its :class:`Superstep` record, timed around the step
    alone. With ``quiet``, stop once ``quiet(metric)`` has held for
    ``patience`` consecutive supersteps. ``done`` holds the metrics of the
    supersteps committed before a resume, and the quiet run that ends it
    counts toward ``patience`` (so nothing runs when it is that long)."""
    i, streak = len(done), 0
    if quiet is not None:
        streak = sum(1 for _ in itertools.takewhile(quiet, reversed(done)))
    while i < max_iter and streak < patience:
        t0 = time.monotonic()
        state, metric = step(state, i)
        yield state, Superstep(i, metric, int((time.monotonic() - t0) * 1000))
        if quiet is not None:
            streak = streak + 1 if quiet(metric) else 0
        i += 1


def settle(state: Any, step, max_iter: int, **loop) -> tuple[Any, list[Superstep]]:
    """Run :func:`converge` to its end: the last state and every record."""
    records = []
    for state, rec in converge(state, step, max_iter, **loop):
        records.append(rec)
    return state, records


def fixpoint(
    spark: SparkSession,
    n_rows: int,
    init: Callable[[], DataFrame],
    step: Callable[[DataFrame, int], tuple[DataFrame, Any]],
    max_iter: int,
    after: Callable[[DataFrame, Superstep], None] | None = None,
    **loop,
) -> tuple[DataFrame, list[Superstep]]:
    """:func:`converge` (``loop`` holds its stop and resume arguments) over
    a DataFrame state, from the materialized ``init()``, inside one
    :func:`superstep_planning` scope sized for an ``n_rows``-row state (so
    whatever ``init`` caches is planned under it too). Return the final
    state and one :class:`Superstep` record per superstep.

    ``step`` swaps the state itself, through its own module's ``swap``
    binding. ``after(state, record)`` runs after each superstep, outside its
    timing. A superstep or an ``after`` that raises releases the live state
    (for ``after``, the state that superstep produced)."""
    records: list[Superstep] = []
    with superstep_planning(spark, state_partitions(spark, n_rows)):
        state = swap(None, init())
        try:
            for state, rec in converge(state, step, max_iter, **loop):
                records.append(rec)
                if after is not None:
                    after(state, rec)
        except BaseException:
            _release(state)
            raise
    return state, records
