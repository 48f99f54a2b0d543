"""Multi-level Louvain as bulk-synchronous SQL supersteps (SURVEY.md §2d/§2e).

The reference's per-vertex move phase is a literal ``todo!()``
(/root/reference/src/louvain/communities.rs:74); its semantics are
reconstructed from the implemented state machine (communitystate.rs:96-132)
plus Blondel et al. 2008. The reference synchronizes after EVERY vertex
(communities.rs:68-120, MPI tag exchanges); we deliberately switch to
whole-graph synchronous supersteps — all vertices propose moves against
superstep-start state, gated moves applied at once — the documented
replacement (BASELINE.json north_star: "bulk-synchronous supersteps"). The
in-repo sequential oracle (graftlouvain.oracle.louvain_seq) implements the
SAME synchronous variant, so labels match exactly.

Move rule (derivation in docstring of :func:`move_scores`): for vertex i with
degree k_i in community A, candidate community C (including A), with
tot'_C = tot_C − k_i·[C==A]:

    score(C) = k_{i→C} − tot'_C · k_i / S          (S = Σ degrees = 2m)

argmax over C ties broken by smallest community id; i moves iff
score(best) > score(A) + gain_eps AND the oscillation gate passes. Two gates
(both deterministic swap-cycle breakers from the "minimum labeling" family of
parallel-Louvain heuristics, cf. Lu, Halappanavar & Kalyanaraman 2015):

- ``gate_mode="conflict"`` (DEFAULT, r5): every improving move applies
  UNLESS its target community is one some improving vertex is itself leaving
  AND the move would raise the label (``target > cur``) — i.e. moves into
  stable communities always apply; moves into communities that are losing a
  member only apply in the descending-id direction. This breaks every swap
  cycle (around a cycle of mutually-conflicting moves the labels would have
  to strictly increase forever) while provably applying ≥ 1 improving move
  per superstep whenever one exists (follow the blocked chain: each blocked
  move's target is a mover's current community with a strictly larger label
  — finite set, contradiction). Measured, supersteps-to-convergence drop
  ~35-40 % against the parity gate, which blocks half the improving moves.
- ``gate_mode="parity"`` (r2-r4 semantics, kept fully supported): on even
  supersteps only moves to a SMALLER community id apply, on odd supersteps
  only to a LARGER one.

ΔQ of an applied move is 2·(score(C) − score(A))/S > 0, so every superstep
strictly increases Q of each moved vertex against frozen state under either
gate.

ONE superstep definition: :func:`_superstep_cte` writes the whole gated
superstep — both gates, salted or not — as one ``spark.sql`` statement over
two temp views, the edge cache and the materialized state, which
:func:`_superstep_views` registers and releases. A temp view resolves to the
underlying logical plan WITH its stamped size statistics, so the static
planner broadcasts every V-row side exactly as it would for the equivalent
DataFrame composition, while one ``spark.sql`` call replaces the ~100 py4j
round trips of building that composition Column by Column (plan build plus
planning: median 0.32 s per superstep against 0.54 s, 2k-vertex planted
graph, local[4] on a 4-vCPU box).

Shuffle budget per superstep (the whole MPI message layer of the reference,
messagemanager.rs, dissolves into these): one edge⋈state join, one
groupBy(src, nbr_comm), one join on nbr_comm (community totals — computed
straight off the state, which carries k_i), one hash-aggregate argmax on src
(max_by — no sort). All small sides broadcast, so under parity the
superstep is exchange-free on the src-partitioned edge cache; the conflict
gate adds ONE skinny shuffle (the ≤2V-row data/marker window keyed on
community id) and nothing edge-proportional (both pinned by
``test_fused_conflict_superstep_plan_shape``). Either way there is exactly
ONE materialization per superstep and the move count is an Observation over
it.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graftlouvain.functions.iterate import (
    materialize,
    state_partitions,
    superstep_planning,
    swap,
    swap_observed_multi,
)
from graftlouvain.operators.graph import LinkGraph, community_stats, singleton_assignments


def modularity(
    graph: LinkGraph, assignments: DataFrame, reference_convention: bool = False
) -> float:
    """L5/L6 modularity (communities.rs:43-59 + all_reduce at graph.rs:504-512).

    Textbook: Q = Σ_C [ in_C/S − (tot_C/S)² ] with S = 2m = Σ degrees.
    ``reference_convention=True`` reproduces the reference's normalizer
    m2 = 2·global_ecount (communities.rs:45) — for unit-weight graphs that is
    2S, giving Q₀ = −1/56 on the 28-edge fixture instead of textbook −1/14.
    The argmax of Louvain is scale-invariant to this constant (SURVEY.md
    preamble), so labels are unaffected either way.
    """
    stats = community_stats(graph, assignments)
    s = 2.0 * graph.two_m if reference_convention else graph.two_m
    if s == 0:
        return 0.0
    row = (
        stats.where(F.col("total_weight") > 0)
        .agg(
            F.sum(
                F.col("internal_weight") / F.lit(s)
                - F.pow(F.col("total_weight") / F.lit(s), F.lit(2.0))
            ).alias("q")
        )
        .first()
    )
    return float(row["q"] or 0.0)


def singleton_modularity(graph: LinkGraph, reference_convention: bool = False) -> float:
    """Modularity of the all-singletons partition, closed form:
    Q₀ = Σ_selfloops w / S − Σ_v (k_v/S)². Zero jobs (both sums ride the
    from_edges stats pass) instead of
    the two edge⋈assignment joins of the general :func:`modularity` — and
    because coarsening preserves Q exactly (tested to 1e-12),
    ``singleton_modularity(coarsen(g, asg)) == modularity(g, asg)``, which is
    how the level loop evaluates per-level Q without touching the fine graph
    twice."""
    s = 2.0 * graph.two_m if reference_convention else graph.two_m
    if s == 0:
        return 0.0
    # r6: both scalars ride the from_edges stats pass (GraphStats
    # sum_degree_sq / self_loop_weight) — this call is now pure driver
    # arithmetic; the level loop previously paid two scalar-aggregate JOBS
    # per level (plus two at louvain() start) for exactly these numbers.
    return float(graph.stats.self_loop_weight) / s - float(
        graph.stats.sum_degree_sq
    ) / (s * s)


# A vertex whose adjacency row count exceeds BOTH bounds triggers salting of
# the superstep's edge⋈assignment join (AQE — and hence its skew-join
# splitting — is deliberately off inside superstep loops, see
# functions.iterate.superstep_planning, so hub mitigation must be static).
# Coarse levels rebuild their edge cache at ~this many rows per partition
# (and scope spark.sql.shuffle.partitions down to match); see louvain().
COARSE_SHRINK_TARGET_ROWS = 32_768

SKEW_SALT_MIN_DEGREE = 100_000
SKEW_SALT_RATIO = 32.0
SKEW_SALT_BUCKETS = 16


def _auto_salt(graph: LinkGraph) -> int:
    st = graph.stats
    if (
        st.max_out_degree > SKEW_SALT_MIN_DEGREE
        and st.max_out_degree > SKEW_SALT_RATIO * st.avg_out_degree
    ):
        return SKEW_SALT_BUCKETS
    return 1


def _nbr_candidate_rows(
    graph: LinkGraph, asg_dst: DataFrame, salt_buckets: int
) -> DataFrame:
    """(src, nbr_comm, k_ic) rows from the edge⋈assignment join over the
    non-self-loop edges, optionally salted."""
    e = graph.edges.where(F.col("src") != F.col("dst"))
    if salt_buckets > 1:
        salted_e = e.withColumn("_salt", F.pmod(F.xxhash64("src"), F.lit(salt_buckets)))
        salted_a = asg_dst.withColumn(
            "_salt",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(salt_buckets - 1).cast("long"))
            ),
        )
        joined = salted_e.join(salted_a, ["dst", "_salt"])
    else:
        joined = e.join(asg_dst, "dst")
    return joined.select("src", "nbr_comm", F.col("weight").alias("k_ic"))


def move_scores(
    graph: LinkGraph, assignments: DataFrame, salt_buckets: int | None = None
) -> DataFrame:
    """Candidate-move scoring table [src, nbr_comm, cur_comm, k_ic, k_i, score]
    for one superstep (L2/L3 — the reference's unimplemented move phase,
    communities.rs:68-83, reconstructed).

    Derivation of the score: moving i (already removed from its community)
    into C changes Q by [2·k_{i→C} + self_i]/S − (2·tot'_C·k_i + k_i²)/S².
    The terms self_i/S and k_i²/S² are constant across C, so
    argmax ΔQ == argmax [k_{i→C} − tot'_C·k_i/S]. Self-loop edges are
    excluded from k_{i→C} (constant too); the reference's
    ``neighboring_communities`` likewise never adds the self-loop target with
    special weight (communitystate.rs:147-163).

    ``salt_buckets`` (default: auto from the graph's degree-skew stats) salts
    the edge⋈assignment shuffle join: edge rows carry a deterministic salt
    derived from ``src`` and the (small) assignment side is replicated per
    salt, so a power-law hub's adjacency fans out over ``salt_buckets``
    reducers instead of one straggler. Pure re-bucketing of a sum — results
    are bit-identical (addition order within a group is already unordered in
    a shuffle agg).

    ``assignments`` may carry the vertex degree as a ``k_i`` column (the
    level loop's state table does); community totals and per-vertex degrees
    are then read straight off the state — two fewer O(V) shuffle joins per
    superstep than joining ``graph.degrees`` each time.
    """
    S = graph.two_m
    if salt_buckets is None:
        salt_buckets = _auto_salt(graph)
    if "k_i" not in assignments.columns:
        assignments = assignments.join(
            graph.degrees.select("id", F.col("degree").alias("k_i")), "id"
        )
    # C4 — THE central superstep join (communitystate.rs:147-163): weights
    # from each vertex to each neighboring community. The vertex's own
    # community is unioned in as a zero-weight candidate BEFORE the single
    # aggregation (guaranteeing "stay" a defined score without a second
    # groupBy shuffle; adding 0.0 is exact in IEEE so sums are unchanged).
    asg_dst = assignments.select(
        F.col("id").alias("dst"), F.col("community").alias("nbr_comm")
    )
    nbr_rows = _nbr_candidate_rows(graph, asg_dst, salt_buckets)
    own = assignments.select(
        F.col("id").alias("src"),
        F.col("community").alias("nbr_comm"),
        F.lit(0.0).alias("k_ic"),
    )
    cand = (
        nbr_rows.unionByName(own)
        .groupBy("src", "nbr_comm")
        .agg(F.sum("k_ic").alias("k_ic"))
    )

    # Community totals (tot_C = Σ member degrees), recomputed per superstep —
    # replaces the reference's delta maintenance (communitystate.rs:96-132).
    # No degrees join: k_i rides on the state table.
    tot = (
        assignments.groupBy(F.col("community").alias("nbr_comm"))
        .agg(F.sum("k_i").alias("tot"))
    )

    cur = assignments.select(
        F.col("id").alias("src"), F.col("community").alias("cur_comm"), "k_i"
    )

    return (
        cand.join(tot, "nbr_comm")
        .join(cur, "src")
        .withColumn(
            "score",
            F.col("k_ic")
            - (
                F.col("tot")
                - F.when(F.col("nbr_comm") == F.col("cur_comm"), F.col("k_i")).otherwise(
                    F.lit(0.0)
                )
            )
            * F.col("k_i")
            / F.lit(S),
        )
    )


def _superstep_cte(
    e: str,
    st: str,
    step: int,
    S: str,
    EPS: str,
    gate: str = "parity",
    salt_buckets: int = 1,
) -> str:
    """THE Louvain superstep: one SQL statement reading the edge relation
    ``e`` ([src, dst, weight], src-partitioned cache) and the state relation
    ``st`` ([id, community, k_i]) and returning the next state
    [id, community, k_i, _moved]. Every caller runs it through
    :func:`_superstep_views`.

    - Self-loop rows carry k_ic = 0 instead of a unioned own-candidate
      table (a Union erases partitioning info and would force two E-row
      shuffles). Every vertex has ≥ 1 edge row, so every vertex keeps a
      row — including coarse vertices whose only edge is their self-loop.
    - The stay score is computed ANALYTICALLY: stay = k_{i→cur} −
      (tot_cur − k_i)·k_i/S with k_{i→cur} = 0 when the vertex has no
      intra-community neighbor — the identical expression a scored own-row
      would produce (sum + 0.0 is exact in IEEE). When the best candidate
      is the own community the gate blocks the move, and on exact score
      ties the strict ``score > stay + eps`` test blocks it too, so the
      explicit own candidate is never needed in the argmax set.
    - ``salt_buckets > 1`` salts the edge⋈state join: edge rows hash their
      ``src`` into a bucket and the (small) state side is replicated per
      bucket, so a power-law hub's adjacency fans out over that many
      reducers. Pure re-bucketing of a sum — labels are identical.
    - ``gate="conflict"`` emits the conflict gate single-reference: each
      best row explodes into a DATA record keyed by its target ``nbr_comm``
      and — only when it is itself a preliminary mover — a MARKER record
      keyed by its current ``cur_comm``; one ``max(m)`` window over the key
      recovers "target community loses a member" in the same pass (≤ 2V
      skinny rows, shrinking to ~V as the level converges). ``best`` is
      referenced once, so one materialization covers the whole superstep.
      Skew caveat: a single community targeted by a large fraction of all
      vertices puts its data rows in ONE window group.
      ``gate="parity"`` applies the even/odd direction gate keyed on
      ``step`` instead.

    ACCEPTED DOUBLE EXECUTION (diagnosed negative result, r4): ``tot`` is
    referenced twice (candidate scoring + stay-score lookup) and the V-row
    state groupBy runs once per reference. Both dedup mechanisms are
    structurally defeated by Spark's canonicalization of checkpointed state:
    RDDScanExec keeps its stamped ``hashpartitioning(...)`` with
    UN-normalized expression ids, and DeduplicateRelations clones every
    repeated state reference with fresh ids — so the two tot broadcast
    exchanges never canonicalize equal (ReuseExchange never fires) and a
    lazy ``tot.cache()`` is never substituted into the composed plan.
    Eager per-superstep materialization of tot would cost one extra
    scheduled job per superstep — a measured net loss — so the double
    execution is accepted (BENCH/BASELINE.md §7; pinned by
    ``test_superstep_tot_double_exec_diagnosis``)."""
    if salt_buckets > 1:
        b = salt_buckets
        st_dst = (
            f"(SELECT id, community, explode(sequence(0L, {b - 1}L)) AS _salt"
            f" FROM {st})"
        )
        on = f"e.dst = s.id AND pmod(xxhash64(e.src), {b}) = s._salt"
    else:
        st_dst, on = st, "e.dst = s.id"
    if gate == "conflict":
        tail = f"""two AS (
  SELECT src, nbr_comm, cur_comm, k_i, _prelim, r.key AS key, r.m AS m, r.is_data AS is_data
  FROM (SELECT *, (nbr_comm != cur_comm AND score > stay_score + {EPS}) AS _prelim
        FROM gated)
  LATERAL VIEW explode(CASE WHEN _prelim
      THEN array(named_struct('key', cur_comm, 'm', 1, 'is_data', 0),
                 named_struct('key', nbr_comm, 'm', 0, 'is_data', 1))
      ELSE array(named_struct('key', nbr_comm, 'm', 0, 'is_data', 1)) END) t AS r
),
out AS (
  SELECT src AS id,
         CAST(CASE WHEN gate THEN nbr_comm ELSE cur_comm END AS LONG) AS community,
         k_i, CAST(gate AS INT) AS _moved
  FROM (SELECT *, (_prelim AND (nbr_comm < cur_comm OR _tmoved = 0)) AS gate
        FROM (SELECT *, max(m) OVER (PARTITION BY key) AS _tmoved FROM two))
  WHERE is_data = 1
)"""
    else:
        d = "nbr_comm < cur_comm" if step % 2 == 0 else "nbr_comm > cur_comm"
        tail = f"""out AS (
  SELECT src AS id,
         CAST(CASE WHEN gate THEN nbr_comm ELSE cur_comm END AS LONG) AS community,
         k_i, CAST(gate AS INT) AS _moved
  FROM (SELECT *, (nbr_comm != cur_comm AND score > stay_score + {EPS} AND {d}) AS gate
        FROM gated)
)"""
    return f"""WITH nbr AS (
  SELECT e.src AS src, s.community AS nbr_comm,
         CASE WHEN e.src != e.dst THEN e.weight ELSE CAST(0.0 AS DOUBLE) END AS k_ic
  FROM {e} e JOIN {st_dst} s ON {on}
),
cand AS (SELECT src, nbr_comm, SUM(k_ic) AS k_ic FROM nbr GROUP BY src, nbr_comm),
tot AS (SELECT community AS nbr_comm, SUM(k_i) AS tot FROM {st} GROUP BY community),
cur AS (SELECT id AS src, community AS cur_comm, k_i FROM {st}),
scored AS (
  SELECT c.src, c.nbr_comm, c.k_ic, t.tot, cu.cur_comm, cu.k_i,
         c.k_ic - (t.tot - CASE WHEN c.nbr_comm = cu.cur_comm THEN cu.k_i
                           ELSE CAST(0.0 AS DOUBLE) END) * cu.k_i / {S} AS score
  FROM cand c JOIN tot t ON c.nbr_comm = t.nbr_comm
  JOIN cur cu ON c.src = cu.src
),
best AS (
  SELECT src,
         max_by(nbr_comm, struct(score, -nbr_comm)) AS nbr_comm,
         max_by(score, struct(score, -nbr_comm)) AS score,
         max(cur_comm) AS cur_comm,
         max(k_i) AS k_i,
         coalesce(max(CASE WHEN nbr_comm = cur_comm THEN k_ic END),
                  CAST(0.0 AS DOUBLE)) AS stay_kic
  FROM scored GROUP BY src
),
gated AS (
  SELECT b.src, b.nbr_comm, b.score, b.cur_comm, b.k_i,
         b.stay_kic - (t2.tot - b.k_i) * b.k_i / {S} AS stay_score
  FROM best b JOIN tot t2 ON b.cur_comm = t2.nbr_comm
),
{tail}
SELECT * FROM out"""


def _sql_consts(graph: LinkGraph, gain_eps: float) -> tuple[str, str]:
    """``repr`` of a Python float is its shortest round-trip decimal, so the
    CAST(… AS DOUBLE) literals recover bit-identical doubles JVM-side."""
    return f"CAST({graph.two_m!r} AS DOUBLE)", f"CAST({gain_eps!r} AS DOUBLE)"


# per-run suffix for the superstep views: two runs on one SparkSession must
# never resolve each other's state
_VIEW_IDS = itertools.count()


@contextmanager
def _superstep_views(graph: LinkGraph, gain_eps: float, gate_mode: str):
    """Register ``graph.edges`` as a run-unique temp view and yield
    ``run(state, step)``, which points the run's state view at ``state`` and
    returns the :func:`_superstep_cte` statement as a DataFrame.

    Register costs ~15-17 ms and release ~28 ms per view, so the edge view is
    registered once per scope (one level) and each ``run`` pays only the
    state-view replacement. The statement is analyzed when ``run`` returns,
    so its DataFrame stays valid after the views are released.

    Release in ``finally`` is REPLACE-then-drop: ``dropTempView`` on a view
    of the edge cache runs a cascading uncache that evicts the EDGE CACHE
    itself (every later superstep would re-run the edge-build pipeline),
    while replacing the view with ``range(0)`` first unpins the state
    checkpoint and the edge plan cache-neutrally and leaves nothing for the
    drop to evict."""
    spark = graph.edges.sparkSession
    n = next(_VIEW_IDS)
    e_view, st_view = f"_glouvain_edges_{n}", f"_glouvain_state_{n}"
    S, EPS = _sql_consts(graph, gain_eps)
    salt = _auto_salt(graph)

    def run(state: DataFrame, step: int) -> DataFrame:
        state.createOrReplaceTempView(st_view)
        return spark.sql(_superstep_cte(e_view, st_view, step, S, EPS, gate_mode, salt))

    try:
        graph.edges.createOrReplaceTempView(e_view)
        yield run
    finally:
        for v in (e_view, st_view):
            spark.range(0).createOrReplaceTempView(v)
            spark.catalog.dropTempView(v)


def _superstep(
    graph: LinkGraph,
    assignments: DataFrame,
    step: int,
    gain_eps: float,
    gate_mode: str = "parity",
) -> DataFrame:
    """One synchronous local-move superstep from state ``assignments``
    ([id, community, k_i]): score candidates against frozen state, argmax
    per vertex (ties → smallest community id), apply strictly-improving
    moves that pass the oscillation gate (``gate_mode``: "parity" = the
    even/odd direction gate keyed on ``step``; "conflict" = the
    moved-community conflict gate, step-independent — see module
    docstring). Default stays "parity" so the fixed-step driver queries keep
    their pinned semantics; the production loop passes its own mode."""
    with _superstep_views(graph, gain_eps, gate_mode) as run:
        return run(assignments, step)


@dataclass
class LevelStats:
    level: int
    supersteps: int = 0
    start_step: int = 0  # first superstep index this (possibly resumed) run executed
    moves: list = field(default_factory=list)
    wall_ms: list = field(default_factory=list)
    modularity: float = float("nan")


def louvain_level(
    graph: LinkGraph,
    assignments: DataFrame | None = None,
    max_supersteps: int = 64,
    gain_eps: float = 1e-12,
    level: int = 0,
    checkpointer=None,
    min_moves_frac: float = 0.0,
    start_step: int = 0,
    start_streak: int = 0,
    gate_mode: str = "conflict",
) -> tuple[DataFrame, LevelStats]:
    """L1 one_level (communities.rs:36-41): supersteps until quiescence or
    ``max_supersteps``.

    Each superstep is ONE ``spark.sql`` statement (:func:`_superstep_cte`)
    over this level's temp views of the edge cache and the materialized
    state, followed by ONE materialization that also observes the move
    count, under either gate and for salted graphs. The edge view is
    registered once per level; each superstep only re-points the state view
    (:func:`_superstep_views`), and both views are released when the level
    ends or raises.

    ``gate_mode="conflict"`` (default, r5 — see module docstring) applies
    every improving move whose target community is not itself losing a
    member (descending-id moves always apply). Quiescence = ONE zero-move
    superstep: the gate is step-independent, so an unchanged state
    reproduces itself and a single quiet superstep is already the fixpoint.
    ``gate_mode="parity"`` (r2-r4 semantics) alternates the even/odd
    direction gate and needs a full quiet even+odd PAIR (two consecutive
    zero-move supersteps) to terminate. With ``min_moves_frac > 0`` both
    modes require two consecutive below-slack supersteps (a slack-quiet
    superstep does not imply a fixpoint).

    ``min_moves_frac`` is the standard parallel-Louvain convergence slack
    (cf. Lu, Halappanavar & Kalyanaraman 2015): the level also ends once two
    consecutive supersteps each move fewer than ``min_moves_frac·V`` vertices
    — dense quasi-random graphs otherwise churn to the superstep cap for
    near-zero Q payoff. Default 0.0 keeps exact fixpoint semantics (the
    oracle-pinned configuration). ``start_step``/``start_streak`` resume
    mid-level from a checkpoint, preserving the even/odd gate parity AND the
    convergence streak (without the streak, a resume into a slack-converged
    level would run extra real supersteps and diverge from the uninterrupted
    run when ``min_moves_frac > 0``).
    """
    asg = assignments if assignments is not None else singleton_assignments(graph)
    # caller-supplied ids that are not graph vertices never enter the scoring
    # dataflow (no edge rows) — carry them through unchanged so the output
    # covers exactly the input's id set
    extra = (
        assignments.select("id", "community").join(
            graph.degrees.select("id"), "id", "left_anti"
        )
        if assignments is not None
        else None
    )
    stats = LevelStats(level=level, start_step=start_step)
    move_slack = int(min_moves_frac * max(graph.stats.num_vertices, 1))
    zero_streak = start_streak
    # conflict gate: step-independent, so one exact-zero superstep is a
    # fixpoint; slack-quiet (> 0 moves) still needs a confirming second
    quiet_target = 1 if (gate_mode == "conflict" and move_slack == 0) else 2
    spark = graph.edges.sparkSession
    # r6: scope the loop's shuffle partitions to the STATE size (the only
    # per-superstep exchange is the ≤2V-row gate window, and every broadcast
    # subplan stage runs at the state checkpoint's partition count) — the
    # coarse-shrink row-proportional policy extended to every level. Edge
    # parallelism is untouched (the cache keeps its build-time layout).
    # Labels are partition-invariant (cross-parallelism suite + digest).
    with superstep_planning(
        spark, state_partitions(spark, 2 * graph.stats.num_vertices)
    ), _superstep_views(graph, gain_eps, gate_mode) as run:
        # level-loop state = [id, community, k_i]: the degree is joined in
        # ONCE here and then rides through every superstep projection, so the
        # loop never shuffles graph.degrees again.
        if "k_i" not in asg.columns:
            asg = asg.join(
                graph.degrees.select("id", F.col("degree").alias("k_i")), "id"
            )
        state = materialize(asg)
        step = start_step
        while step < max_supersteps and zero_streak < quiet_target:
            t0 = time.monotonic()
            state_m, (n_moves,) = swap_observed_multi(state, run(state, step), ["_moved"])
            state = state_m.select("id", "community", "k_i")
            wall = int((time.monotonic() - t0) * 1000)
            stats.supersteps += 1
            stats.moves.append(n_moves)
            stats.wall_ms.append(wall)
            if checkpointer is not None:
                checkpointer.save_superstep(
                    algorithm="louvain", level=level, superstep=step,
                    assignments=state.select("id", "community"),
                    moves=n_moves, wall_ms=wall,
                )
            zero_streak = zero_streak + 1 if n_moves <= move_slack else 0
            step += 1
    result = state.select("id", "community")
    if extra is not None:
        result = result.unionByName(extra)
    return result, stats


def coarsen(graph: LinkGraph, assignments: DataFrame) -> LinkGraph:
    """L7 graph coarsening by community aggregation (north-star; no reference
    code). Communities become vertices (keeping their community ids — density
    is not required by any downstream operator); edge weights sum between
    communities; intra-community weight lands on the (C,C) self-loop, which the
    symmetric fine table already counts twice, preserving Q exactly:
    Q(coarse, singleton) == Q(fine, assignments)."""
    asg_src = assignments.select(F.col("id").alias("src"), F.col("community").alias("c_src"))
    asg_dst = assignments.select(F.col("id").alias("dst"), F.col("community").alias("c_dst"))
    coarse_edges = (
        graph.edges.join(asg_src, "src")
        .join(asg_dst, "dst")
        .groupBy(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .agg(F.sum("weight").alias("weight"))
    )
    return LinkGraph.from_edges(coarse_edges, pre_symmetrized=True)


@dataclass
class LouvainResult:
    assignments: DataFrame  # [id, community] over ORIGINAL vertex ids
    modularity: float
    levels: list  # list[LevelStats]
    # r6: the distinct-community count is computed LAZILY on first access —
    # louvain() previously always paid a distinct+count job for a number most
    # callers (the bench, the driver queries) never read. Same public
    # ``num_communities`` attribute, same value.
    _num_communities: int | None = None

    @property
    def num_communities(self) -> int:
        if self._num_communities is None:
            self._num_communities = (
                self.assignments.select("community").distinct().count()
            )
        return self._num_communities

    def metrics(self, spark=None) -> DataFrame:
        """Per-superstep metrics table [level, superstep, moves, wall_ms,
        level_modularity] — the engine's replacement for the reference's
        per-rank logger (S2, /root/reference/src/logger.rs:11-29); append it
        to a ``_metrics`` table for run observability."""
        spark = spark or self.assignments.sparkSession
        rows = [
            (s.level, s.start_step + i, int(m), int(w), float(s.modularity))
            for s in self.levels
            for i, (m, w) in enumerate(zip(s.moves, s.wall_ms))
        ]
        return spark.createDataFrame(
            rows,
            "level int, superstep int, moves long, wall_ms long, level_modularity double",
        )


def louvain(
    graph: LinkGraph,
    max_levels: int = 20,
    max_supersteps: int = 64,
    gain_eps: float = 1e-12,
    min_q_gain: float = 1e-7,
    checkpointer=None,
    min_moves_frac: float = 0.0,
    resume: bool = False,
    gate_mode: str = "conflict",
) -> LouvainResult:
    """Full multi-level Louvain: local-move level → coarsen → repeat until the
    level's modularity gain < ``min_q_gain``. Final labels are unwound to
    original vertex ids by joining through each level's assignment map.
    ``gate_mode`` selects the oscillation gate ("conflict" default, "parity"
    = the r2-r4 semantics; see module docstring) — a resume MUST pass the
    same mode as the original run (with "parity" the gate depends on the
    superstep index; with "conflict" it does not, but the labels differ
    between modes).

    ``resume=True`` (requires ``checkpointer``) restarts from the latest
    committed superstep in the checkpoint manifest — the public crash-recovery
    path (S4; the reference round-trips state the same way in its tests,
    communitystate.rs:890-971): the level-local assignments are loaded from
    the superstep snapshot, the coarse graph and global assignments from the
    preceding level records, and the level continues at the next superstep
    with the even/odd gate parity AND the convergence streak (recomputed from
    the committed move counts) preserved. Supersteps are deterministic given
    assignments, so a resumed run produces byte-identical labels — provided
    the resume passes the same ``min_moves_frac`` as the original run (the
    streak depends on the slack). ``LevelStats`` for levels completed before
    the crash are not replayed.

    Concurrency hazard: the coarse-level shrink scopes the SESSION-GLOBAL
    ``spark.sql.shuffle.partitions`` down while coarse levels run (restored in
    a ``finally``), because the loop's shuffles inherit it implicitly — so a
    CONCURRENT query on the same SparkSession silently runs at the shrunk
    parallelism until the run ends. Run louvain() on a dedicated session (the
    normal deployment shape: one driver, one job) or accept the interleaving.
    """
    global_asg = singleton_assignments(graph)
    cur = graph
    level_stats: list[LevelStats] = []
    q_prev = singleton_modularity(cur)
    start_level = 0
    resume_asg = None
    resume_step = 0
    resume_streak = 0
    if resume and checkpointer is not None:
        rec = checkpointer.latest_superstep("louvain")
        if rec is not None:
            spark = graph.edges.sparkSession
            manifest = checkpointer.manifest()
            start_level = int(rec["level"])
            resume_step = int(rec["superstep"]) + 1
            resume_asg = checkpointer.load_assignments(spark, rec)
            if start_level > 0:
                coarse = [
                    r for r in manifest
                    if r["kind"] == "level" and r["algorithm"] == "louvain_coarse"
                    and r["level"] == start_level
                ][-1]
                cur = LinkGraph.from_edges(
                    spark.read.parquet(coarse["coarse_edges_path"]),
                    pre_symmetrized=True,
                )
                lvl = [
                    r for r in manifest
                    if r["kind"] == "level" and r["algorithm"] == "louvain"
                    and r["level"] == start_level - 1
                ][-1]
                global_asg = spark.read.parquet(lvl["assignments_path"])
                q_prev = float(lvl["modularity"])
            # Restore the convergence streak from the committed move counts,
            # else a resume into a slack-converged (min_moves_frac > 0) level
            # would run extra real supersteps and diverge from the
            # uninterrupted run.
            slack = int(min_moves_frac * max(cur.stats.num_vertices, 1))
            lvl_recs = sorted(
                (
                    r for r in manifest
                    if r["kind"] == "superstep" and r["algorithm"] == "louvain"
                    and r["level"] == start_level and r["superstep"] < resume_step
                ),
                key=lambda r: r["superstep"],
            )
            for r in reversed(lvl_recs):
                if int(r["moves"]) <= slack:
                    resume_streak += 1
                else:
                    break
    q = q_prev
    spark = graph.edges.sparkSession
    p_orig = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        for level in range(start_level, max_levels):
            asg, stats = louvain_level(
                cur,
                assignments=resume_asg if level == start_level else None,
                max_supersteps=max_supersteps, gain_eps=gain_eps, level=level,
                checkpointer=checkpointer,
                min_moves_frac=min_moves_frac,
                start_step=resume_step if level == start_level else 0,
                start_streak=resume_streak if level == start_level else 0,
                gate_mode=gate_mode,
            )
            # Coarsen first, then read the level's Q off the coarse graph's
            # singleton partition (exactly equal, two scalar aggs instead of two
            # full edge⋈assignment joins on the fine graph — see
            # singleton_modularity).
            nxt = coarsen(cur, asg)
            q = singleton_modularity(nxt)
            stats.modularity = q
            level_stats.append(stats)
            # Unwind: global community ids are the current level's vertex ids.
            global_asg = swap(
                global_asg,
                global_asg.join(
                    asg.select(
                        F.col("id").alias("community"), F.col("community").alias("_new")
                    ),
                    "community",
                ).select("id", F.col("_new").alias("community")),
            )
            if checkpointer is not None:
                checkpointer.save_level(
                    algorithm="louvain", level=level, assignments=global_asg,
                    degrees=cur.degrees, coarse_edges=None, modularity=q,
                )
            asg.unpersist()
            if q - q_prev < min_q_gain:
                nxt.unpersist()
                break
            q_prev = q
            if cur is not graph:
                cur.unpersist()
            cur = nxt
            # Coarse graphs shrink by orders of magnitude per level; keeping the
            # fine graph's partition count schedules p_orig near-empty tasks per
            # exchange per superstep (pure scheduling floor — at 100 TB the fine
            # level runs thousands of partitions that a 400-supernode coarse
            # level must not inherit). Rebuild the edge cache at a row-
            # proportional partition count and scope the session shuffle
            # partitions down with it; labels are partition-invariant (pinned by
            # the cross-parallelism determinism suite), and the conf is restored
            # after the loop.
            p_want = max(
                4,
                min(
                    p_orig,
                    -(-cur.stats.num_directed_edges // COARSE_SHRINK_TARGET_ROWS),
                ),
            )
            if p_want < int(spark.conf.get("spark.sql.shuffle.partitions")):
                old = cur
                # r6: the coarse edge table is ALREADY pair-aggregated with
                # correct degrees/stats — the shrink only needs the edge
                # cache re-laid-out at p_want partitions, so clone the graph
                # around a repartitioned cache instead of re-running the full
                # from_edges aggregate+degrees+stats pipeline (one count job
                # to force the new cache, vs the old agg+stats job chain).
                # Degrees/vertices/stats are SHARED with the old graph, so
                # only the old edge cache is released.
                new_edges = old.edges.repartition(p_want, "src").cache()
                new_edges.count()  # force before dropping the old cache
                cur = LinkGraph(
                    edges=new_edges,
                    degrees=old.degrees,
                    vertices=old.vertices,
                    stats=old.stats,
                )
                old.edges.unpersist()
                spark.conf.set("spark.sql.shuffle.partitions", p_want)
            if checkpointer is not None:
                checkpointer.save_level(
                    algorithm="louvain_coarse", level=level + 1, assignments=None,
                    degrees=cur.degrees, coarse_edges=cur.edges, modularity=q,
                )
            if cur.stats.num_vertices <= 1:
                break
    finally:
        # the coarse-level shrink scopes this down; always restore
        spark.conf.set("spark.sql.shuffle.partitions", p_orig)
        # r6: release the LAST coarse graph's edge+degree caches — every run
        # previously leaked one cache pair per exit path until JVM GC (the
        # returned assignments are checkpoint-backed, never cur-backed)
        if cur is not graph:
            cur.unpersist()
    return LouvainResult(
        assignments=global_asg, modularity=q, levels=level_stats
    )
