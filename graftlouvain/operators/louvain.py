"""Multi-level Louvain as bulk-synchronous supersteps (SURVEY.md §2d/§2e): one
SQL superstep, plus its numpy twin for levels below ``graph.LOCAL_MAX_EDGES``.

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

Move rule (derivation in docstring of :func:`_scoring_cte`): for vertex i with
degree k_i in community A, candidate community C (including A), with
tot'_C = tot_C − k_i·[C==A]:

    score(C) = k_{i→C} − tot'_C · k_i / S          (S = Σ degrees = 2m)

argmax over C ties broken by smallest community id; i moves iff
score(best) > score(A) + GAIN_EPS AND the oscillation gate passes. Two gates
(both deterministic swap breakers from the "minimum labeling" family of
parallel-Louvain heuristics, cf. Lu, Halappanavar & Kalyanaraman 2015):

- ``gate_mode="conflict"`` (DEFAULT, r5): every improving move applies
  UNLESS its target community is one some improving vertex is itself leaving
  AND the move would raise the label (``target > cur``) — i.e. moves into
  stable communities always apply; moves into communities that are losing a
  member only apply in the descending-id direction. Within one superstep no
  two vertices swap communities (one of the two moves raises the label into
  a community being left), and ≥ 1 improving move applies whenever one
  exists (follow the blocked chain: each blocked move's target is a mover's
  current community with a strictly larger label — finite set,
  contradiction). Across supersteps the gate does NOT rule out cycles: on
  the symmetrized ``perfbench.inputs.planted_edges(25, 2000, 10, 20, 0.2)``
  at slack 0 the state after 10 supersteps equals the state after 8, and
  level 0 runs to the 64-superstep cap with 2 moves in each (the
  sequential oracle too; the parity gate ends it in 15); no stop rule here
  detects such a cycle yet. Measured, supersteps-to-convergence drop
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

LOCAL TIER: at the top of each level of :func:`louvain`, a level graph with
at most ``graph.LOCAL_MAX_EDGES`` directed edges is collected ONCE to the
driver by :meth:`LinkGraph.local_edges` (shared with PageRank's local
tier), and that level and every later one run in :func:`_local_levels`:
supersteps, coarsening and per-level Q as numpy array operations, the
supersteps on the SQL levels' loop (``functions.iterate.converge``) and
stop rule (:func:`_level_stop`). Coarse graphs only shrink, so once a level
is local every later level is too; large graphs keep SQL level 0 and their
coarse levels go local. One ``createDataFrame`` join unwinds the labels.
The kernel is a port of :func:`_superstep_cte`, not a redesign: ids arrive
compacted in sorted order (so the smallest-id tie-break holds), candidates
come from non-self-loop edges, the stay score is analytic, and the score is
evaluated in the statement's operation order. It runs on the driver rather
than in an ``applyInPandas`` task: below the threshold all edges land in
one task either way, and ``applyInPandas`` would add a one-partition
shuffle and a Python worker and would have to pass per-level stats back
through its output schema. On a graph with no weight (S = 0) both tiers
keep every vertex where it is.

Both tiers give identical labels, Q and per-level superstep and move counts
whenever the weights are integer-valued below 2^53 (every sum is then exact
in any order). For other weights the two tiers sum in different orders, as
Spark's own ``SUM`` already does across partitionings, so an exact
ulp-level near-tie can resolve differently; ``GAIN_EPS`` is not there to
hide that. Graph size alone picks the tier, with a ``checkpointer`` too.
The kernel saves no superstep states: under a checkpointer it writes one
level record, for the last level it commits, so in both tiers the last
``louvain`` level record holds the returned assignments. A resume continues
after the manifest's last committed record (``sources.checkpoint``): a SQL
level goes on from its last committed superstep, the level after a
committed SQL level starts from singletons on that level's coarse graph,
and a finished run, local from the start or not, returns its last level
record's labels and Q without running a level.
"""

from __future__ import annotations

import itertools
from collections.abc import Sequence
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graftlouvain.functions.iterate import (
    Superstep,
    _release,
    fixpoint,
    materialize,  # noqa: F401 (wrapped here by perfbench/trace.py)
    row_partitions,
    settle,
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


def singleton_modularity(graph: LinkGraph) -> float:
    """Modularity of the all-singletons partition, closed form:
    Q₀ = Σ_selfloops w / S − Σ_v (k_v/S)². Zero jobs (both sums ride the
    from_edges stats pass) instead of
    the two edge⋈assignment joins of the general :func:`modularity` — and
    because coarsening preserves Q exactly (tested to 1e-12),
    ``singleton_modularity(coarsen(g, asg)) == modularity(g, asg)``, which is
    how the level loop evaluates per-level Q without touching the fine graph
    twice."""
    s = graph.two_m
    if s == 0:
        return 0.0
    return float(graph.stats.self_loop_weight) / s - float(
        graph.stats.sum_degree_sq
    ) / (s * s)


# A vertex whose adjacency row count exceeds BOTH bounds triggers salting of
# the superstep's edge⋈assignment join (AQE — and hence its skew-join
# splitting — is deliberately off inside superstep loops, see
# functions.iterate.superstep_planning, so hub mitigation must be static).
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


# a move applies only if it beats staying by more than this (both tiers, the
# sequential oracle and the DuckDB twins)
GAIN_EPS = 1e-12


def _scoring_cte(e: str, st: str, S: str, salt_buckets: int = 1) -> str:
    """THE Louvain scoring definition (L2/L3 — the reference's unimplemented
    move phase, communities.rs:68-83, reconstructed): the ``WITH`` prefix,
    CTEs ``nbr`` … ``gated``, that every Spark-side statement scoring moves
    continues. It reads the edge relation ``e`` ([src, dst, weight],
    src-partitioned cache) and the state relation ``st`` ([id, community,
    k_i]); ``gated`` holds one row per vertex [src, nbr_comm, score,
    cur_comm, k_i, stay_score]: its best candidate community (argmax score,
    ties → smallest community id) and the score of staying put.

    Derivation of the score: moving i (already removed from its community)
    into C changes Q by [2·k_{i→C} + self_i]/S − (2·tot'_C·k_i + k_i²)/S².
    The terms self_i/S and k_i²/S² are constant across C, so
    argmax ΔQ == argmax [k_{i→C} − tot'_C·k_i/S]. Self-loop edges are
    excluded from k_{i→C} (constant too); the reference's
    ``neighboring_communities`` likewise never adds the self-loop target with
    special weight (communitystate.rs:147-163). Community totals tot_C are
    recomputed per superstep straight off the state, which carries k_i —
    replacing the reference's delta maintenance (communitystate.rs:96-132).

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
)"""


def _superstep_cte(
    e: str,
    st: str,
    step: int,
    S: str,
    EPS: str,
    gate: str = "parity",
    salt_buckets: int = 1,
) -> str:
    """THE Louvain superstep: the :func:`_scoring_cte` prefix over ``e`` and
    ``st`` continued by a gate tail, one SQL statement returning the next
    state [id, community, k_i, _moved]. Every caller runs it through
    :func:`_superstep_views`.

    - ``gate="conflict"`` emits the conflict gate single-reference: each
      best row explodes into a DATA record keyed by its target ``nbr_comm``
      and — only when it is itself a preliminary mover — a MARKER record
      keyed by its current ``cur_comm``; one ``max(m)`` window over the key
      recovers "target community loses a member" in the same pass (≤ 2V
      skinny rows, shrinking to ~V as the level converges). ``best`` is
      referenced once, so one materialization covers the whole superstep.
      Skew caveat: a single community targeted by a large fraction of all
      vertices puts its data rows in ONE window group.
    - ``gate="parity"`` applies the even/odd direction gate keyed on
      ``step`` instead."""
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
    return f"""{_scoring_cte(e, st, S, salt_buckets)},
{tail}
SELECT * FROM out"""


def _gain_argmax_cte(e: str, st: str, S: str, salt_buckets: int = 1) -> str:
    """[id, best_comm, score]: each vertex's best community, own one
    included. ``best`` ranks only the communities an edge reaches;
    ``stay_score`` is what an own-community row scores, by the same
    expression in the same order, so the own community wins on a higher
    stay score or on an equal one with the smaller id."""
    return f"""{_scoring_cte(e, st, S, salt_buckets)}
SELECT src AS id,
       CASE WHEN stay THEN cur_comm ELSE nbr_comm END AS best_comm,
       CASE WHEN stay THEN stay_score ELSE score END AS score
FROM (SELECT *, (stay_score > score OR (stay_score = score AND cur_comm < nbr_comm)) AS stay
      FROM gated)"""


def _sql_double(x: float) -> str:
    """``repr`` of a Python float is its shortest round-trip decimal, so the
    CAST(… AS DOUBLE) literal recovers the bit-identical double JVM-side."""
    return f"CAST({x!r} AS DOUBLE)"


# per-run suffix for the superstep views: two runs on one SparkSession must
# never resolve each other's state
_VIEW_IDS = itertools.count()


@contextmanager
def _superstep_views(graph: LinkGraph):
    """Register ``graph.edges`` as a run-unique temp view and yield
    ``run(state, statement)``, which points the run's state view at
    ``state`` and returns ``statement(e, st, S=…, salt_buckets=…)`` over the
    two views — a :func:`_superstep_cte` or :func:`_gain_argmax_cte`
    statement — as a DataFrame.

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
    S, salt = _sql_double(graph.two_m), _auto_salt(graph)

    def run(state: DataFrame, statement) -> DataFrame:
        state.createOrReplaceTempView(st_view)
        return spark.sql(statement(e_view, st_view, S=S, salt_buckets=salt))

    try:
        graph.edges.createOrReplaceTempView(e_view)
        yield run
    finally:
        for v in (e_view, st_view):
            spark.range(0).createOrReplaceTempView(v)
            spark.catalog.dropTempView(v)


def _gain_argmax(graph: LinkGraph, assignments: DataFrame) -> DataFrame:
    """One superstep's best move per vertex against ``assignments`` ([id,
    community]): [id, best_comm, score], scored by the prefix every
    superstep runs (:func:`_gain_argmax_cte`)."""
    state = assignments.join(graph.degrees.select("id", F.col("degree").alias("k_i")), "id")
    with _superstep_views(graph) as run:
        return run(state, _gain_argmax_cte)


def _superstep(
    graph: LinkGraph,
    assignments: DataFrame,
    step: int,
    gate_mode: str = "parity",
) -> DataFrame:
    """One synchronous local-move superstep (:func:`_superstep_cte`) from
    state ``assignments`` ([id, community, k_i]) of a graph with weight.
    ``gate_mode`` defaults to "parity" so the fixed-step driver queries keep
    their pinned semantics; the production loop passes its own mode."""
    with _superstep_views(graph) as run:
        return run(assignments, partial(
            _superstep_cte, step=step, EPS=_sql_double(GAIN_EPS), gate=gate_mode
        ))


def _level_stop(num_vertices: int, min_moves_frac: float, gate_mode: str):
    """THE level stop rule, ``(quiet, patience)``, of both tiers' loop
    (``functions.iterate.converge``) and of a resume's streak: a superstep
    is quiet when it moves at most ``min_moves_frac·V`` vertices; the level
    ends after ``patience`` quiet ones in a row. Under the conflict gate at
    slack 0 one zero-move superstep is the fixpoint (the gate is
    step-independent); the parity gate needs a quiet even+odd PAIR, and a
    slack-quiet superstep (> 0 moves) a confirming second."""
    slack = int(min_moves_frac * max(num_vertices, 1))
    return (lambda moves: moves <= slack), (
        1 if gate_mode == "conflict" and slack == 0 else 2
    )


@dataclass
class LevelStats:
    level: int
    supersteps: int = 0
    start_step: int = 0  # first superstep index this (possibly resumed) run executed
    moves: list = field(default_factory=list)
    wall_ms: list = field(default_factory=list)
    modularity: float = float("nan")
    path: str = "spark"  # "spark" (SQL supersteps) or "local" (numpy kernel)

    @classmethod
    def from_records(cls, level: int, records: list[Superstep], **kw) -> "LevelStats":
        """A level's stats from its loop's :class:`Superstep` records."""
        moves, wall_ms = [r.metric for r in records], [r.wall_ms for r in records]
        return cls(level=level, supersteps=len(records), moves=moves, wall_ms=wall_ms, **kw)


def louvain_level(
    graph: LinkGraph,
    assignments: DataFrame | None = None,
    max_supersteps: int = 64,
    level: int = 0,
    checkpointer=None,
    min_moves_frac: float = 0.0,
    done: Sequence[int] = (),
    gate_mode: str = "conflict",
) -> tuple[DataFrame, LevelStats]:
    """L1 one_level (communities.rs:36-41): supersteps until the level's
    stop rule (:func:`_level_stop`) holds or ``max_supersteps``.

    Each superstep is ONE ``spark.sql`` statement (:func:`_superstep_cte`)
    over this level's temp views (:func:`_superstep_views`), followed by ONE
    materialization that also observes the move count.

    ``gate_mode`` selects the oscillation gate (module docstring).
    ``min_moves_frac`` is the standard parallel-Louvain convergence slack
    (cf. Lu, Halappanavar & Kalyanaraman 2015): dense quasi-random graphs
    otherwise churn to the superstep cap for near-zero Q payoff. Default 0.0
    keeps exact fixpoint semantics (the oracle-pinned configuration).
    ``assignments`` ([id, community], default singletons) is a checkpointed
    state of this level over the graph's own vertices; ``done`` resumes
    mid-level from it: the move counts of the
    supersteps committed before ``assignments``. Supersteps continue from
    index ``len(done)`` (the parity gate's even/odd step) and the quiet ones
    that end ``done`` count toward the stop rule, so a resume into a
    slack-converged level runs no extra superstep.
    """
    # level-loop state = [id, community, k_i]: the degree is joined in ONCE
    # here and then rides through every superstep projection, so the loop
    # never shuffles graph.degrees again. Singletons come straight off the
    # degrees: joining them to themselves would plan one side as a clone
    # that misses the degrees cache and recomputes a coarse graph from the
    # previous level's (released) state.
    if assignments is None:
        asg = graph.degrees.select(
            "id", F.col("id").alias("community"), F.col("degree").alias("k_i")
        )
    else:
        asg = assignments.join(graph.degrees.select("id", F.col("degree").alias("k_i")), "id")
    quiet, patience = _level_stop(graph.stats.num_vertices, min_moves_frac, gate_mode)

    def save(state: DataFrame, rec: Superstep) -> None:
        checkpointer.save_superstep(
            level=level, superstep=rec.step,
            assignments=state.select("id", "community"),
            moves=rec.metric, wall_ms=rec.wall_ms,
        )

    EPS = _sql_double(GAIN_EPS)
    with _superstep_views(graph) as run:

        def superstep(state: DataFrame, step: int) -> tuple[DataFrame, int]:
            if graph.two_m == 0:  # no weight, no gain: stay put, as the kernel does
                return state, 0
            statement = partial(_superstep_cte, step=step, EPS=EPS, gate=gate_mode)
            state, (n_moves,) = swap_observed_multi(state, run(state, statement), ["_moved"])
            return state.select("id", "community", "k_i"), n_moves

        state, records = fixpoint(
            graph.edges.sparkSession,
            2 * graph.stats.num_vertices,  # the ≤2V-row gate window is the state shuffle
            lambda: asg, superstep, max_supersteps,
            quiet=quiet, patience=patience, done=done,
            after=save if checkpointer is not None else None,
        )
    stats = LevelStats.from_records(level, records, start_step=len(done))
    return state.select("id", "community"), stats


def coarsen(graph: LinkGraph, assignments: DataFrame) -> LinkGraph:
    """L7 graph coarsening by community aggregation (north-star; no reference
    code). Communities become vertices (keeping their community ids — density
    is not required by any downstream operator); edge weights sum between
    communities; intra-community weight lands on the (C,C) self-loop, which the
    symmetric fine table already counts twice, preserving Q exactly:
    Q(coarse, singleton) == Q(fine, assignments).

    Coarse graphs shrink by orders of magnitude per level, so the coarse
    graph lowers its edge cache's partition count to :func:`row_partitions`
    of its edges: a 400-supernode level must not schedule the fine level's
    thousands of near-empty tasks per exchange per superstep. Labels are
    partition-invariant (pinned by the cross-parallelism determinism suite)."""
    asg_src = assignments.select(F.col("id").alias("src"), F.col("community").alias("c_src"))
    asg_dst = assignments.select(F.col("id").alias("dst"), F.col("community").alias("c_dst"))
    coarse_edges = (
        graph.edges.join(asg_src, "src")
        .join(asg_dst, "dst")
        .groupBy(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .agg(F.sum("weight").alias("weight"))
    )
    return _coarse_graph(coarse_edges)


def _coarse_graph(coarse_edges: DataFrame) -> LinkGraph:
    """The graph of a coarse level's symmetric edge table (:func:`coarsen`'s,
    or a checkpoint's copy of it), its edge cache cut to
    :func:`row_partitions` of its edges."""
    built = LinkGraph.from_edges(coarse_edges, pre_symmetrized=True)
    p = built.edges.rdd.getNumPartitions()  # the built cache's layout: no job
    want = row_partitions(built.stats.num_directed_edges, p)
    if want >= p:
        return built
    # clone the graph around a repartitioned cache, sharing degrees and stats;
    # AQE has nothing to coalesce in an explicit repartition, and without it
    # forcing the cache is 1 job instead of 4
    with superstep_planning(built.edges.sparkSession):
        edges = built.edges.repartition(want, "src").cache()
        edges.count()  # force before dropping the build's cache
    built.edges.unpersist()
    return LinkGraph(
        edges=edges, degrees=built.degrees, vertices=built.vertices, stats=built.stats
    )


def _local_superstep(es, ed, ew, k, S, comm, step, gate_mode):
    """numpy twin of :func:`_superstep_cte` over compact vertex indices
    (index order = id order, so smallest index = smallest id): ``es``,
    ``ed``, ``ew`` are the non-self-loop edges, ``k`` the degrees, ``comm``
    the state. Returns the next state and its move count."""
    n = len(comm)
    if S == 0 or len(es) == 0:
        return comm, 0
    # cand: k_ic per (src, nbr_comm), keys sorted by (src, nbr_comm)
    keys, inv = np.unique(es * n + comm[ed], return_inverse=True)
    k_ic = np.bincount(inv, weights=ew)
    src, nbr = keys // n, keys % n
    own = nbr == comm[src]
    k_i = k[src]
    tot = np.bincount(comm, weights=k, minlength=n)
    score = k_ic - (tot[nbr] - np.where(own, k_i, 0.0)) * k_i / S
    # best: the first row holding its src's max score is the smallest nbr_comm
    starts = np.flatnonzero(np.r_[True, src[1:] != src[:-1]])
    top = np.repeat(np.maximum.reduceat(score, starts), np.diff(np.r_[starts, len(src)]))
    hit = np.flatnonzero(score == top)
    first = hit[np.r_[True, src[hit][1:] != src[hit][:-1]]]
    v, best, best_score = src[first], nbr[first], score[first]
    cur = comm[v]
    stay_kic = np.zeros(n)
    stay_kic[src[own]] = k_ic[own]
    stay = stay_kic[v] - (tot[cur] - k[v]) * k[v] / S
    prelim = (best != cur) & (best_score > stay + GAIN_EPS)
    if gate_mode == "conflict":
        leaving = np.zeros(n, dtype=bool)
        leaving[cur[prelim]] = True
        gate = prelim & ((best < cur) | ~leaving[best])
    else:
        gate = prelim & ((best < cur) if step % 2 == 0 else (best > cur))
    out = comm.copy()
    out[v[gate]] = best[gate]
    return out, int(gate.sum())


def _local_level(s, d, w, n, level, max_supersteps, min_moves_frac, gate_mode):
    """numpy twin of :func:`louvain_level` from singletons on the ``n``-vertex
    graph ``(s, d, w)``: the same loop, stop rule and superstep cap."""
    k = np.bincount(s, weights=w, minlength=n)
    S = float(k.sum())
    nl = s != d
    es, ed, ew = s[nl], d[nl], w[nl]
    quiet, patience = _level_stop(n, min_moves_frac, gate_mode)
    comm, records = settle(
        np.arange(n),
        lambda comm, step: _local_superstep(es, ed, ew, k, S, comm, step, gate_mode),
        max_supersteps, quiet=quiet, patience=patience,
    )
    return comm, LevelStats.from_records(level, records, path="local")


def _local_levels(
    ids: np.ndarray, s: np.ndarray, d: np.ndarray, w: np.ndarray,
    first_level: int, max_levels: int, q_prev: float,
    max_supersteps: int, min_q_gain: float, min_moves_frac: float, gate_mode: str,
) -> tuple[np.ndarray, float, list]:
    """Run levels ``first_level``.. of :func:`louvain` on the level graph
    collected by :meth:`LinkGraph.local_edges`: supersteps, coarsening,
    per-level Q and the same stop rules. Returns the community id each of
    ``ids`` ends in, Q and the levels' :class:`LevelStats`."""
    label = np.arange(len(ids))  # first-level vertex -> committed level vertex
    vid = np.arange(len(ids))  # committed level vertex -> first-level vertex
    levels: list[LevelStats] = []
    q = q_prev
    for level in range(first_level, max_levels):
        comm, stats = _local_level(
            s, d, w, len(vid), level, max_supersteps, min_moves_frac, gate_mode,
        )
        levels.append(stats)
        # coarsen: communities become vertices, renumbered in id order; the
        # level's Q is the coarse graph's singleton Q (singleton_modularity)
        keep, c = np.unique(comm, return_inverse=True)
        m = len(keep)
        pairs, inv = np.unique(c[s] * m + c[d], return_inverse=True)
        s, d, w = pairs // m, pairs % m, np.bincount(inv, weights=w)
        k = np.bincount(s, weights=w, minlength=m)
        S = float(k.sum())
        q = float(w[s == d].sum()) / S - float((k * k).sum()) / (S * S) if S else 0.0
        stats.modularity = q
        if q < q_prev:  # never commit a level that lowers Q
            q = q_prev
            break
        label, vid = c[label], vid[keep]
        if q - q_prev < min_q_gain or m <= 1:
            break
        q_prev = q
    return ids[vid[label]], q, levels


@dataclass
class LouvainResult:
    assignments: DataFrame  # [id, community] over ORIGINAL vertex ids
    modularity: float
    levels: list  # list[LevelStats]
    num_communities: int  # distinct communities in assignments

    def metrics(self, spark=None) -> DataFrame:
        """Per-superstep metrics table [level, superstep, moves, wall_ms,
        level_modularity, path] — the engine's replacement for the reference's
        per-rank logger (S2, /root/reference/src/logger.rs:11-29); append it
        to a ``_metrics`` table for run observability."""
        spark = spark or self.assignments.sparkSession
        rows = [
            (s.level, s.start_step + i, int(m), int(w), float(s.modularity), s.path)
            for s in self.levels
            for i, (m, w) in enumerate(zip(s.moves, s.wall_ms))
        ]
        return spark.createDataFrame(
            rows,
            "level int, superstep int, moves long, wall_ms long, level_modularity double,"
            " path string",
        )


def _unwind(global_asg: DataFrame, level_map: DataFrame) -> DataFrame:
    """Relabel ``global_asg`` [id, community] through ``level_map``
    [community, _new]: global community ids are the level graph's vertex
    ids."""
    return swap(
        global_asg,
        global_asg.join(level_map, "community").select("id", F.col("_new").alias("community")),
    )


def louvain(
    graph: LinkGraph,
    max_levels: int = 20,
    max_supersteps: int = 64,
    min_q_gain: float = 1e-7,
    checkpointer=None,
    min_moves_frac: float = 0.0,
    resume: bool = False,
    gate_mode: str = "conflict",
) -> LouvainResult:
    """Full multi-level Louvain: local-move level → coarsen → repeat until the
    level's modularity gain < ``min_q_gain``. Final labels are unwound to
    original vertex ids by joining through each level's assignment map. A
    level whose Q is below the previous level's is never committed: the run
    returns the previous assignment and Q, and the rejected level's
    :class:`LevelStats` stays in ``levels``.

    The first level with at most ``graph.LOCAL_MAX_EDGES`` directed edges
    and every level after it run in the driver-side numpy kernel (module
    docstring, LOCAL TIER), checkpointed or not; ``LevelStats.path``
    records which tier ran each level.
    ``gate_mode`` selects the oscillation gate ("conflict" default, "parity"
    = the r2-r4 semantics; see module docstring).

    ``resume=True`` (requires ``checkpointer``) continues after the last
    committed record, as :meth:`CheckpointManager.resume_point` reads it —
    the public crash-recovery path (S4; the reference round-trips state the
    same way, communitystate.rs:890-971): mid-level from a superstep record,
    at the next level from a level record, and not at all once the run had
    finished, returning the last level record's labels and Q with empty
    ``levels``. Gate parity and the convergence streak are preserved, so the
    labels are byte-identical to an uninterrupted run's. A resume with other
    ``gate_mode``, ``min_moves_frac``, ``max_supersteps``, ``min_q_gain``,
    ``max_levels`` or input graph raises ``ValueError``. ``LevelStats`` of
    levels completed before the crash are not replayed. The run writes no
    session config: coarse graphs size their own edge cache
    (:func:`coarsen`).
    """
    global_asg, q_prev = singleton_assignments(graph), singleton_modularity(graph)
    cur, first, state, done = graph, 0, None, []
    spark = graph.edges.sparkSession
    if checkpointer is not None:
        checkpointer = checkpointer.for_run(
            graph, gate_mode=gate_mode, min_moves_frac=min_moves_frac,
            max_supersteps=max_supersteps, min_q_gain=min_q_gain, max_levels=max_levels,
        )
        start = checkpointer.resume_point(spark) if resume else None
        if start is not None:
            first, state, done = start.level, start.state, start.moves
        if start is not None and start.level > 0:
            global_asg, q_prev = start.global_assignments, start.modularity
            if start.coarse_edges is None:  # the run had finished
                n = global_asg.select("community").distinct().count()
                return LouvainResult(global_asg, q_prev, [], n)
            cur = _coarse_graph(start.coarse_edges)
    # the last committed level graph's vertices are the run's communities
    num_communities = cur.stats.num_vertices
    level_stats: list[LevelStats] = []
    q = q_prev
    try:
        for level in range(first, max_levels):
            edges = cur.local_edges()
            if edges is not None:
                # coarse graphs only shrink: this level and every later one
                # run in the kernel, then one join unwinds them all
                labels, q, local = _local_levels(
                    *edges, level, max_levels, q_prev,
                    max_supersteps, min_q_gain, min_moves_frac, gate_mode,
                )
                level_stats += local
                num_communities = len(np.unique(labels))
                global_asg = _unwind(global_asg, spark.createDataFrame(
                    pd.DataFrame({"community": edges[0], "_new": labels}),
                    "community long, _new long",
                ))
                # a rejected last level is the one whose Q is not the run's
                last = local[-1].level - (local[-1].modularity != q)
                if checkpointer is not None and last >= level:
                    checkpointer.save_level(
                        level=last, assignments=global_asg, coarse_edges=None,
                        modularity=q,
                    )
                break
            asg, stats = louvain_level(
                cur, assignments=state, max_supersteps=max_supersteps, level=level,
                checkpointer=checkpointer, min_moves_frac=min_moves_frac, done=done,
                gate_mode=gate_mode,
            )
            state, done = None, []  # only the first level resumes
            # the level's Q is the coarse graph's singleton Q: exactly equal,
            # and no join over the fine graph (see singleton_modularity)
            nxt = coarsen(cur, asg)
            q = singleton_modularity(nxt)
            stats.modularity = q
            level_stats.append(stats)
            if q < q_prev:  # never commit a level that lowers Q
                q = q_prev
                _release(asg)
                nxt.unpersist()
                break
            global_asg = _unwind(global_asg, asg.select(
                F.col("id").alias("community"), F.col("community").alias("_new")
            ))
            num_communities = nxt.stats.num_vertices
            more = (
                q - q_prev >= min_q_gain and nxt.stats.num_vertices > 1
                and level + 1 < max_levels
            )
            if checkpointer is not None:  # the next level's graph, if one runs
                checkpointer.save_level(
                    level=level, assignments=global_asg,
                    coarse_edges=nxt.edges if more else None, modularity=q,
                )
            _release(asg)
            if not more:
                nxt.unpersist()
                break
            q_prev = q
            if cur is not graph:
                cur.unpersist()
            cur = nxt
    finally:
        # release the last coarse graph's caches (the returned assignments
        # are checkpoint-backed, never cur-backed)
        if cur is not graph:
            cur.unpersist()
    return LouvainResult(
        assignments=global_asg, modularity=q, levels=level_stats,
        num_communities=num_communities,
    )
