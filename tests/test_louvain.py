"""Louvain correctness: reference-derivable invariants (Q₀), oracle label
equality (exact), modularity preservation under coarsening."""

import pytest

import graftlouvain.operators.graph as graph_mod
from graftlouvain.operators.graph import LinkGraph, singleton_assignments
from graftlouvain.operators.louvain import coarsen, louvain, louvain_level, modularity
from graftlouvain.oracle.louvain_seq import (
    seq_louvain,
    seq_louvain_level,
    seq_modularity,
)

from tests.fixtures import (
    FIXTURE_28_W,
    FIXTURE_KARATE_W,
    FIXTURE_W5,
    fixture_hub,
    tiers,
    to_df,
)


def _labels(df):
    return {r["id"]: r["community"] for r in df.collect()}


def _canon(labels):
    """Canonical partition: map each community to the smallest member id, so
    two labelings are compared as partitions."""
    rep = {}
    for v, c in labels.items():
        rep.setdefault(c, v)
        rep[c] = min(rep[c], v)
    return {v: rep[c] for v, c in labels.items()}


def _random_edges(seed, n_max=24):
    """Seeded Erdős–Rényi-ish weighted graph: 12..``n_max`` vertices,
    integer weights 1-5, self-loops allowed."""
    import random as _random

    rng = _random.Random(seed)
    n = rng.randint(12, n_max)
    edges = []
    for u in range(n):
        for v in range(u, n):
            p = 0.18 if u != v else 0.05
            if rng.random() < p:
                edges.append((u, v, float(rng.randint(1, 5))))
    return edges


def test_initial_modularity_fixture28(spark):
    """Q₀ = −1/56 (reference m2 = 2·ecount convention, communities.rs:45) and
    −1/14 textbook (BASELINE.md invariants)."""
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_28_W))
    asg = singleton_assignments(g)
    q_ref = modularity(g, asg, reference_convention=True)
    q_txt = modularity(g, asg)
    assert q_ref == pytest.approx(-1.0 / 56.0, abs=1e-12)
    assert q_txt == pytest.approx(-1.0 / 14.0, abs=1e-12)
    # oracle agrees
    assert seq_modularity(FIXTURE_28_W, {v: v for v in range(16)}, True) == pytest.approx(
        q_ref, abs=1e-12
    )


@pytest.mark.parametrize(
    "edges", [FIXTURE_W5, FIXTURE_28_W, FIXTURE_KARATE_W, fixture_hub()],
    ids=["w5", "fixture28", "karate", "hub"],
)
def test_level_labels_match_oracle(spark, edges):
    """One Louvain level: engine labels == sequential oracle labels EXACTLY."""
    g = LinkGraph.from_edges(to_df(spark, edges))
    asg, stats = louvain_level(g)
    got = _labels(asg)
    want, steps = seq_louvain_level(edges)
    assert got == want
    assert stats.supersteps == steps


@pytest.mark.parametrize(
    "edges", [FIXTURE_W5, FIXTURE_28_W, FIXTURE_KARATE_W, fixture_hub()],
    ids=["w5", "fixture28", "karate", "hub"],
)
def test_full_louvain_matches_oracle(spark, edges, monkeypatch):
    g = LinkGraph.from_edges(to_df(spark, edges))
    want, q_want = seq_louvain(edges)
    for tier in tiers(monkeypatch):
        result = louvain(g)
        assert {s.path for s in result.levels} == {tier}
        assert _labels(result.assignments) == want, tier
        assert result.modularity == pytest.approx(q_want, abs=1e-9), tier


def test_karate_modularity_quality(spark):
    """Sanity: multi-level Louvain on karate reaches the published Q range
    (≈0.40-0.42 for greedy variants, Blondel et al. 2008 report 0.42)."""
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    result = louvain(g)
    assert 0.35 <= result.modularity <= 0.43
    assert 2 <= result.num_communities <= 8


def test_num_communities_is_a_field(spark, monkeypatch):
    """``LouvainResult.num_communities`` is the distinct community count of
    the assignments on both tiers, filled by ``louvain()`` from counts the
    driver holds: reading it launches no Spark job, and the result
    constructs with it."""
    from graftlouvain.operators.louvain import LouvainResult
    from perfbench.trace import group_counts

    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    sc = spark.sparkContext
    for tier in tiers(monkeypatch):
        r = louvain(g)
        sc.setJobGroup(f"num-communities-{tier}", tier)
        try:
            n = r.num_communities
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert group_counts(sc, f"num-communities-{tier}")[0] == 0, tier
        assert n == r.assignments.select("community").distinct().count(), tier
    kept = LouvainResult(r.assignments, r.modularity, r.levels, num_communities=3)
    assert kept.num_communities == 3


def test_modularity_preserved_under_coarsening(spark):
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    asg, _ = louvain_level(g)
    q_fine = modularity(g, asg)
    cg = coarsen(g, asg)
    q_coarse = modularity(cg, singleton_assignments(cg))
    assert q_coarse == pytest.approx(q_fine, abs=1e-12)
    # total weight (2m) is preserved exactly
    assert cg.two_m == pytest.approx(g.two_m, abs=1e-9)


def test_hub_partition_recovers_blocks(spark):
    """On the star-plus-blocks skew fixture the blocks should dominate the
    partition structure (hub joins one block or its own)."""
    edges = fixture_hub(n_blocks=4, block_size=8)
    g = LinkGraph.from_edges(to_df(spark, edges))
    result = louvain(g)
    labels = _canon(_labels(result.assignments))
    # every dense block ends up in a single community
    v = 1
    for _b in range(4):
        block = list(range(v, v + 8))
        v += 8
        assert len({labels[u] for u in block}) == 1


@pytest.mark.parametrize(
    "edges", [FIXTURE_28_W, FIXTURE_KARATE_W],
    ids=["fixture28", "karate"],
)
def test_parity_gate_mode_matches_oracle(spark, edges):
    """gate_mode="parity" (the r2-r4 semantics) stays exactly oracle-pinned
    after the r5 conflict gate became the default."""
    g = LinkGraph.from_edges(to_df(spark, edges))
    asg, stats = louvain_level(g, gate_mode="parity")
    want, steps = seq_louvain_level(edges, gate_mode="parity")
    assert _labels(asg) == want
    assert stats.supersteps == steps


def test_conflict_gate_progress_and_fewer_supersteps():
    """The r5 gate's contract, on the oracle (pure Python, no Spark):
    (a) converges in strictly fewer level supersteps than parity on every
    fixture (the gate stops blocking half the improving moves);
    (b) the progress guarantee — a zero-move superstep only ever occurs AT
    the fixpoint (no vertex has any strictly-improving move), never because
    the gate blocked all of them;
    (c) the final Q is a DIFFERENT greedy local optimum, not a dominated
    one: better than parity on karate/hub, worse on fixture28 (3 communities
    at Q=0.375 vs parity's 2 at ~0.392 — pinned exactly; neither gate
    dominates, both land at true local-move fixpoints; the at-scale
    comparison lives in BENCH/BASELINE.md where conflict at exact fixpoint
    meets-or-beats parity's Q)."""
    from graftlouvain.oracle.louvain_seq import (
        _graph_tables, _superstep_seq, seq_louvain)

    fixtures = {
        "f28": FIXTURE_28_W, "karate": FIXTURE_KARATE_W, "hub": fixture_hub()
    }
    for name, edges in fixtures.items():
        # (a) strictly fewer supersteps
        _, s_conf = seq_louvain_level(edges)
        _, s_par = seq_louvain_level(edges, gate_mode="parity")
        assert s_conf < s_par, (name, s_conf, s_par)
        # (b) zero-move superstep ⇒ zero PRELIMINARY (improving) moves too:
        # replay the level move-by-move; at the first quiet superstep no
        # vertex may hold any strictly-improving move
        adj, deg, S = _graph_tables(edges)
        asg = {v: v for v in adj}
        for step in range(64):
            new_asg, n = _superstep_seq(adj, deg, S, asg, step, 1e-12)
            if n == 0:
                # prelim must be EMPTY (not merely all-blocked): any
                # improving move is either descending or ascending, so the
                # parity gate at even+odd parities would apply it — both
                # quiet ⇒ no vertex has a strictly-improving move at all
                _, n_even = _superstep_seq(adj, deg, S, asg, 0, 1e-12, "parity")
                _, n_odd = _superstep_seq(adj, deg, S, asg, 1, 1e-12, "parity")
                assert n_even == 0 and n_odd == 0, name  # true fixpoint
                break
            asg = new_asg
    # (c) trajectory difference, pinned per fixture
    q = {
        name: (seq_louvain(edges)[1], seq_louvain(edges, gate_mode="parity")[1])
        for name, edges in fixtures.items()
    }
    assert q["karate"][0] >= q["karate"][1] - 1e-12
    assert q["hub"][0] >= q["hub"][1] - 1e-12
    assert q["f28"][0] == pytest.approx(0.375, abs=1e-9)
    assert q["f28"][1] == pytest.approx(0.392219387755102, abs=1e-9)


def test_superstep_tot_double_exec_diagnosis(spark):
    """SENTINEL for the accepted double execution of the superstep's
    community-totals aggregate (BENCH/BASELINE.md §7): ReuseExchange cannot
    dedupe the two ``tot`` broadcasts because the checkpointed state's
    RDDScanExec canonicalizes with UN-normalized partitioning expression ids
    (DeduplicateRelations clones every repeated state reference with fresh
    ids). This test pins that diagnosis: the two tot broadcast exchanges in
    one superstep plan must currently canonicalize UNEQUAL while printing
    textually identical trees. If a Spark upgrade makes this assertion fail,
    canonicalization has been fixed and the broadcast CAN now be reused —
    revisit _superstep_cte and drop the accepted-double-execution note."""
    from graftlouvain.functions.iterate import materialize, superstep_planning
    from graftlouvain.operators.graph import LinkGraph
    from graftlouvain.operators.louvain import _superstep
    from pyspark.sql import functions as F

    g = LinkGraph.from_edges(to_df(spark, FIXTURE_28_W))
    asg = singleton_assignments(g).join(
        g.degrees.select("id", F.col("degree").alias("k_i")), "id"
    )
    with superstep_planning(spark):
        st = materialize(asg)
        out = _superstep(g, st, 0)
        sp = out._jdf.queryExecution().executedPlan()
    tot_bx = []

    def walk(node):
        if "BroadcastExchange" in node.getClass().getSimpleName():
            if "sum(k_i" in node.toString():
                tot_bx.append(node)
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(sp)
    assert len(tot_bx) == 2  # both references compile to their own broadcast
    a, b = tot_bx
    assert not a.sameResult(b)  # the documented canonicalization gap


def test_metrics_table(spark, monkeypatch):
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_W5))
    for tier in tiers(monkeypatch):
        res = louvain(g)
        rows = res.metrics().collect()
        assert len(rows) == sum(s.supersteps for s in res.levels)
        assert sum(r["moves"] for r in rows) > 0
        assert all(r["wall_ms"] >= 0 for r in rows)
        assert {r["path"] for r in rows} == {tier}


def test_salted_move_scores_identical(spark, monkeypatch):
    """Skew salting of the superstep edge⋈state join is a pure re-bucketing:
    forcing auto-salting on (threshold 0) leaves every vertex's gain-argmax
    row, best community and score, identical on the hub fixture."""
    import graftlouvain.operators.louvain as lv

    g = LinkGraph.from_edges(to_df(spark, fixture_hub(n_blocks=4, block_size=8)))
    asg = singleton_assignments(g)
    assert lv._auto_salt(g) == 1
    plain = sorted(lv._gain_argmax(g, asg).collect())
    monkeypatch.setattr(lv, "SKEW_SALT_MIN_DEGREE", 0)
    monkeypatch.setattr(lv, "SKEW_SALT_RATIO", 0.0)
    assert lv._auto_salt(g) == lv.SKEW_SALT_BUCKETS
    salted = sorted(lv._gain_argmax(g, asg).collect())
    assert len(plain) == g.stats.num_vertices
    assert salted == plain


def _brute_gain_argmax(edges, comm):
    """Plain-Python best move per vertex: score k_{i→C} − tot'_C·k_i/S over
    every neighbour community C plus the vertex's own, in the engine's
    operation order; ties go to the smallest community id. Returns
    {id: (best_comm, score)} and {id: (own score, best neighbour score, has
    a neighbour in its own community)}."""
    from collections import defaultdict

    from graftlouvain.oracle.louvain_seq import symmetrize

    w = symmetrize(edges)
    k = defaultdict(float)
    for (s, _d), x in w.items():
        k[s] += x
    S = sum(k.values())
    tot = defaultdict(float)
    for v, c in comm.items():
        tot[c] += k[v]
    best, facts = {}, {}
    for i in k:
        k_ic = defaultdict(float)
        for (s, d), x in w.items():
            if s == i and d != i:
                k_ic[comm[d]] += x
        own = comm[i]

        def score(c):
            return k_ic[c] - (tot[c] - (k[i] if c == own else 0.0)) * k[i] / S

        nbrs = {c: score(c) for c in list(k_ic) if c != own}
        cands = {**nbrs, own: score(own)}
        top = max(cands.values())
        c = min(c for c, x in cands.items() if x == top)
        best[i] = (c, top)
        intra = any(s == i and d != i and comm[d] == own for (s, d) in w)
        facts[i] = (cands[own], max(nbrs.values(), default=None), intra)
    return best, facts


def test_gain_argmax_matches_brute_force(spark):
    """The gain argmax served from the superstep's scoring CTEs equals a
    plain-Python argmax over every neighbour community plus the own one
    (ties → smallest id), exactly: integer weights make every score one
    rounding from exact. Vertices with no neighbour in their own community:
    0 (heavy self-loop, one light edge out) and 11 (one edge of weight −1)
    stay on a strictly higher stay score; 8 and 9 (one zero-weight edge
    each) tie stay against a neighbour community, so 8 stays (larger-id
    neighbour) and 9 moves (smaller-id neighbour). For 8, 9 and 11 the own
    community is not among the communities an edge reaches; with
    non-negative weights such a vertex can win only on a tie."""
    from graftlouvain.operators.louvain import _gain_argmax

    edges = [
        (1, 2, 2.0), (1, 3, 2.0), (2, 3, 2.0),  # community 100
        (4, 5, 2.0), (4, 6, 2.0), (5, 6, 2.0),  # community 200
        (7, 1, 1.0), (7, 4, 1.0),  # singleton bridge
        (0, 0, 30.0), (0, 2, 1.0),
        (8, 5, 0.0), (9, 1, 0.0), (11, 6, -1.0),
        (3, 10, 3.0),  # 10 shares community 200 with no neighbour there
    ]
    comm = {0: 0, 1: 100, 2: 100, 3: 100, 4: 200, 5: 200, 6: 200, 7: 7,
            8: 8, 9: 300, 10: 200, 11: 11}
    want, facts = _brute_gain_argmax(edges, comm)
    for v, stays, tie in ((0, True, False), (11, True, False), (8, True, True),
                          (9, False, True)):
        own, nbr, intra = facts[v]
        assert not intra and (own == nbr if tie else own > nbr), v
        assert (want[v][0] == comm[v]) is stays, v

    g = LinkGraph.from_edges(to_df(spark, edges))
    asg = spark.createDataFrame(list(comm.items()), "id long, community long")
    got = {r["id"]: (r["best_comm"], r["score"]) for r in _gain_argmax(g, asg).collect()}
    assert got == want


def test_salted_level_labels_identical(spark, monkeypatch):
    """Force auto-salting on (threshold 0): the salted superstep statement
    reproduces the sequential oracle's labels and superstep count exactly,
    under both gates."""
    import graftlouvain.operators.louvain as lv

    edges = fixture_hub(n_blocks=4, block_size=8)
    g = LinkGraph.from_edges(to_df(spark, edges))
    monkeypatch.setattr(lv, "SKEW_SALT_MIN_DEGREE", 0)
    monkeypatch.setattr(lv, "SKEW_SALT_RATIO", 0.0)
    assert lv._auto_salt(g) == lv.SKEW_SALT_BUCKETS
    for gate_mode in ("conflict", "parity"):
        asg, stats = louvain_level(g, gate_mode=gate_mode)
        want, steps = seq_louvain_level(edges, gate_mode=gate_mode)
        assert _labels(asg) == want, gate_mode
        assert stats.supersteps == steps, gate_mode


def test_random_graphs_match_oracle(spark, monkeypatch):
    """Property sweep: 6 seeded random weighted graphs (Erdős–Rényi-ish,
    12-24 vertices, integer weights 1-5, self-loops allowed) — FULL
    multi-level engine labels must equal the sequential oracle EXACTLY on
    every one. The four fixed fixtures pin known shapes; this sweep covers
    arbitrary sparse topologies (isolated-ish vertices, multi-components,
    ties) where gate/tie-break bugs would actually hide. Seeded stdlib
    randomness, not hypothesis: each case costs ~2-4 s of Spark jobs, so a
    shrinking search would time out while a fixed sweep stays deterministic
    and CI-sized. Every graph runs on both tiers."""
    cases = [(seed, _random_edges(1000 + seed)) for seed in range(6)]
    graphs = [
        (seed, edges, LinkGraph.from_edges(to_df(spark, edges)), seq_louvain(edges))
        for seed, edges in cases if edges
    ]
    for tier in tiers(monkeypatch):
        for seed, edges, g, (want, q_want) in graphs:
            result = louvain(g)
            assert {s.path for s in result.levels} == {tier}
            assert _labels(result.assignments) == want, f"seed {seed} {tier}"
            assert result.modularity == pytest.approx(q_want, abs=1e-9), (
                f"seed {seed} {tier}")


@pytest.mark.parametrize(
    "seed,n_max,gate_mode", [(1003, 24, "parity"), (1000, 40, "conflict")],
    ids=["parity-1003", "conflict-1000"],
)
def test_q_lowering_level_not_committed(spark, monkeypatch, seed, n_max, gate_mode):
    """A level whose Q is below the previous level's is never committed, on
    either tier or in the oracle: the run returns the previous assignment
    and its Q, and keeps the rejected level's stats. On these graphs the
    last level lowers Q (0.3404 → 0.3282 and 0.3237 → 0.239), and before
    the rule both the engine and the oracle returned that lower Q."""
    edges = _random_edges(seed, n_max)
    g = LinkGraph.from_edges(to_df(spark, edges))
    want, q_want = seq_louvain(edges, gate_mode=gate_mode)
    assert seq_modularity(edges, want) == pytest.approx(q_want, abs=1e-12)
    for tier in tiers(monkeypatch):
        r = louvain(g, gate_mode=gate_mode)
        level_q = [s.modularity for s in r.levels]
        assert level_q[-1] < level_q[-2], tier  # the rejected level ran
        assert r.modularity >= max(level_q), tier
        assert r.modularity == pytest.approx(modularity(g, r.assignments), abs=1e-12), tier
        assert _labels(r.assignments) == want, tier
        assert r.modularity == pytest.approx(q_want, abs=1e-9), tier
        assert r.num_communities == len(set(want.values())), tier


def test_zero_weight_graph_keeps_singletons(spark, monkeypatch):
    """On a graph whose weights are all 0 (S = 0) no move can gain: both
    tiers return singletons at Q 0 with the same supersteps and moves, under
    both gates. The SQL statement used to divide by S and raise
    DIVIDE_BY_ZERO."""
    edges = [(0, 1, 0.0), (1, 2, 0.0), (0, 2, 0.0), (2, 3, 0.0)]
    g = LinkGraph.from_edges(to_df(spark, edges))
    runs = []
    for tier in tiers(monkeypatch):
        for gate_mode in ("conflict", "parity"):
            r = louvain(g, gate_mode=gate_mode)
            assert _labels(r.assignments) == {v: v for v in range(4)}, tier
            assert r.modularity == 0.0, tier
            assert [s.path for s in r.levels] == [tier]
            runs.append((gate_mode, [(s.supersteps, s.moves) for s in r.levels]))
    assert runs == [("conflict", [(1, [0])]), ("parity", [(2, [0, 0])])] * 2


def test_local_tier_handoff_identical(spark, monkeypatch):
    """The SQL-to-local hand-off is invisible: on the benchmark's planted
    seed-3 graph (levels of 14, 2 and 1 supersteps, ``min_moves_frac`` 0.02)
    all-local, SQL level 0 then local, and all-SQL runs give identical
    labels, Q, and per-level superstep and move counts."""
    from perfbench.inputs import planted_edges

    t = planted_edges(3, n_edges=20_000, n_blocks=20, block_size=100, p_out=0.05)
    g = LinkGraph.from_edges(spark.createDataFrame(t.to_pandas()))
    runs = {}
    for threshold in (graph_mod.LOCAL_MAX_EDGES, 10_000, -1):
        monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", threshold)
        r = louvain(g, min_moves_frac=0.02)
        runs[threshold] = (
            _labels(r.assignments), r.modularity,
            [(s.supersteps, s.moves) for s in r.levels], [s.path for s in r.levels],
        )
    local, handoff, sql = runs.values()
    assert g.stats.num_directed_edges > 10_000
    assert [n for n, _ in local[2]] == [14, 2, 1]
    assert local[3] == ["local"] * 3
    assert handoff[3] == ["spark", "local", "local"]
    assert sql[3] == ["spark"] * 3
    assert local[:3] == handoff[:3] == sql[:3]


def test_fused_conflict_superstep_plan_shape(spark):
    """Plan pin for the r5b fused conflict gate: the parity superstep plan
    stays exchange-FREE on the src-partitioned edge cache (the r2-r4 pinned
    property), and the fused conflict superstep adds EXACTLY ONE shuffle —
    the ≤2V-row data/marker window keyed on the community id — never an
    E-row exchange (the argmax aggregate rides the edge cache's src
    partitioning in both modes). If this count grows, the gate has started
    reshuffling edge-proportional data and the 100 TB story breaks."""
    from pyspark.sql import functions as F

    from graftlouvain.functions.iterate import materialize, superstep_planning
    from graftlouvain.operators.louvain import _superstep

    g = LinkGraph.from_edges(to_df(spark, FIXTURE_28_W))
    asg = singleton_assignments(g).join(
        g.degrees.select("id", F.col("degree").alias("k_i")), "id"
    )
    with superstep_planning(spark):
        st = materialize(asg)
        counts = {}
        for mode in ("parity", "conflict"):
            out = _superstep(g, st, 0, gate_mode=mode)
            sp = out._jdf.queryExecution().executedPlan()
            found = []

            def walk(node):
                if "ShuffleExchange" in node.getClass().getSimpleName():
                    found.append(node.toString().splitlines()[0])
                for i in range(node.children().size()):
                    walk(node.children().apply(i))

            walk(sp)
            counts[mode] = found
    assert counts["parity"] == []
    assert len(counts["conflict"]) == 1
    assert "key#" in counts["conflict"][0]  # the window's community-id key


def _glouvain_views(spark):
    return [t.name for t in spark.catalog.listTables() if t.name.startswith("_glouvain")]


def _edges_cached(spark, g):
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(g.edges._jdf).isDefined()


def test_level_releases_superstep_views(spark, monkeypatch):
    """A level leaves no superstep temp view behind — neither when it returns
    nor when it raises mid-loop, in a superstep or in the checkpointer's
    save after one — and releasing the views never evicts the edge cache. A
    level that raises also leaves no state checkpoint."""
    import graftlouvain.operators.louvain as lv

    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    louvain_level(g)
    assert _glouvain_views(spark) == []
    assert _edges_cached(spark, g)

    real = lv.swap_observed_multi
    calls = []

    def fail_second(old, new, cols):
        calls.append(cols)
        if len(calls) == 2:
            raise RuntimeError("injected superstep failure")
        return real(old, new, cols)

    monkeypatch.setattr(lv, "swap_observed_multi", fail_second)
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keys())
    with pytest.raises(RuntimeError, match="injected"):
        louvain_level(g)
    assert len(calls) == 2
    # the live state's checkpoint is released with the failure
    assert set(rdds().keys()) - before == set()
    assert _glouvain_views(spark) == []
    assert _edges_cached(spark, g)

    # the save after superstep 1 raises: the live state is that superstep's
    # output, and it is released too
    monkeypatch.setattr(lv, "swap_observed_multi", real)

    class FailingCheckpointer:
        def __init__(self):
            self.saved = []

        def save_superstep(self, superstep, **_kw):
            if superstep == 1:
                raise RuntimeError("injected save failure")
            self.saved.append(superstep)

    ck = FailingCheckpointer()
    before = set(rdds().keys())
    with pytest.raises(RuntimeError, match="injected save"):
        louvain_level(g, checkpointer=ck)
    assert ck.saved == [0]
    assert set(rdds().keys()) - before == set()
    assert _glouvain_views(spark) == []
    assert _edges_cached(spark, g)


def test_sql_louvain_releases_level_states(spark, monkeypatch):
    """Each SQL level's final state is released once the run has unwound it:
    a run adds exactly one persistent RDD, the checkpoint of the assignments
    it returns."""
    monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", -1)
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keys())
    res = louvain(g)
    assert len(res.levels) >= 2
    checkpoint = res.assignments._jdf.queryExecution().analyzed()
    assert set(rdds().keys()) - before == {checkpoint.rdd().id()}


def test_concurrent_levels_share_session(spark):
    """Two levels running at once on one SparkSession each return the labels
    of their serial run: superstep view names are unique per run."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    graphs = [
        LinkGraph.from_edges(to_df(spark, e)) for e in (FIXTURE_KARATE_W, fixture_hub())
    ]
    serial = [_labels(louvain_level(g)[0]) for g in graphs]
    start = threading.Barrier(len(graphs))

    def level(g):
        start.wait()
        return _labels(louvain_level(g)[0])

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    conf = {k: spark.conf.get(k) for k in keys}
    with ThreadPoolExecutor(len(graphs)) as ex:
        got = list(ex.map(level, graphs))
    assert got == serial
    assert {k: spark.conf.get(k) for k in keys} == conf


def test_superstep_planning_scopes_never_overlap(spark):
    """Thread A enters a planning scope, thread B tries to enter one while A
    is inside, A exits, then B exits: B gets in only once A has restored the
    session, so the session is left exactly as found."""
    import threading

    from graftlouvain.functions.iterate import superstep_planning

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    found = {k: spark.conf.get(k) for k in keys}
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    overlapped = []

    def a():
        with superstep_planning(spark, 1):
            a_in.set()
            overlapped.append(b_in.wait(2))
        a_out.set()

    def b():
        a_in.wait(30)
        with superstep_planning(spark, 2):
            b_in.set()
            a_out.wait(30)

    threads = [threading.Thread(target=f) for f in (a, b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    left = {k: spark.conf.get(k) for k in keys}
    for k, v in found.items():  # keep a failure from leaking into later tests
        spark.conf.set(k, v)
    assert not any(t.is_alive() for t in threads)
    assert overlapped == [False] and b_in.is_set()
    assert left == found


def test_sql_checkpointed_run_writes_no_session_config(spark, tmp_path, monkeypatch):
    """A checkpointed run on the SQL tier never writes the session config:
    every coarsen sees the session's shuffle partitions, each coarse edge
    cache is sized by its own row count, and the labels equal the local
    tier's."""
    import graftlouvain.operators.louvain as lv
    from graftlouvain.sources.checkpoint import CheckpointManager

    key = "spark.sql.shuffle.partitions"
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    want = _labels(louvain(g).assignments)
    monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", -1)
    real, seen, caches = lv.coarsen, [], []

    def spy(graph, assignments):
        seen.append(spark.conf.get(key))
        out = real(graph, assignments)
        caches.append((out.edges.rdd.getNumPartitions(), out.stats.num_directed_edges))
        return out

    monkeypatch.setattr(lv, "coarsen", spy)
    found = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        res = louvain(g, checkpointer=CheckpointManager(str(tmp_path / "ck")))
        after = spark.conf.get(key)
    finally:
        spark.conf.set(key, found)
    assert after == "16"
    assert len(seen) >= 2 and seen == ["16"] * len(seen)
    for parts, edges in caches:
        assert parts <= max(4, -(-edges // 32_768))
    assert [s.path for s in res.levels] == ["spark"] * len(res.levels)
    assert _labels(res.assignments) == want


def test_weak_planted_level_not_committed(spark):
    """The weak-structure planted graph (20k vertices, 372,842 directed
    edges, ``min_moves_frac`` 0.02): level 1 churns to the superstep cap and
    ends at Q 0.058, far below level 0's 0.780. The result keeps level 0's
    partition and Q instead of that collapse (local tier; about 3 s)."""
    from perfbench.inputs import planted_edges

    t = planted_edges(1, 200_000, 200, 100, 0.2)
    g = LinkGraph.from_edges(spark.createDataFrame(t.to_pandas()))
    r = louvain(g, min_moves_frac=0.02)
    assert [s.path for s in r.levels] == ["local", "local"]
    level_q = [s.modularity for s in r.levels]
    assert level_q[1] < 0.1 < 0.7 < level_q[0]
    assert r.modularity == level_q[0]
    assert r.modularity == pytest.approx(modularity(g, r.assignments), abs=1e-12)
