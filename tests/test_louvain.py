"""Louvain correctness: reference-derivable invariants (Q₀), oracle label
equality (exact), modularity preservation under coarsening."""

import pytest

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
def test_full_louvain_matches_oracle(spark, edges):
    g = LinkGraph.from_edges(to_df(spark, edges))
    result = louvain(g)
    want, q_want = seq_louvain(edges)
    assert _labels(result.assignments) == want
    assert result.modularity == pytest.approx(q_want, abs=1e-9)


def test_karate_modularity_quality(spark):
    """Sanity: multi-level Louvain on karate reaches the published Q range
    (≈0.40-0.42 for greedy variants, Blondel et al. 2008 report 0.42)."""
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    result = louvain(g)
    assert 0.35 <= result.modularity <= 0.43
    assert 2 <= result.num_communities <= 8


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
        out = _superstep(g, st, 0, 1e-12)
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


def test_metrics_table(spark):
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_W5))
    res = louvain(g)
    rows = res.metrics().collect()
    assert len(rows) == sum(s.supersteps for s in res.levels)
    assert sum(r["moves"] for r in rows) > 0
    assert all(r["wall_ms"] >= 0 for r in rows)


def test_salted_move_scores_identical(spark):
    """Skew salting of the superstep edge⋈assignment join is a pure
    re-bucketing: scores and full-level labels are identical with and
    without salting on the hub fixture."""
    from pyspark.sql import functions as F

    from graftlouvain.operators.louvain import move_scores

    g = LinkGraph.from_edges(to_df(spark, fixture_hub(n_blocks=4, block_size=8)))
    asg = singleton_assignments(g)
    plain = {
        (r["src"], r["nbr_comm"]): (r["k_ic"], round(r["score"], 9))
        for r in move_scores(g, asg, salt_buckets=1).collect()
    }
    salted = {
        (r["src"], r["nbr_comm"]): (r["k_ic"], round(r["score"], 9))
        for r in move_scores(g, asg, salt_buckets=8).collect()
    }
    assert salted == plain


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


def test_level_preserves_non_graph_ids(spark):
    """Caller-supplied assignment rows whose id has no edge in the graph pass
    through a level unchanged (they can never be scored)."""
    from pyspark.sql import functions as F

    g = LinkGraph.from_edges(to_df(spark, FIXTURE_W5))
    asg = singleton_assignments(g).unionByName(
        spark.createDataFrame([(999, 7)], "id long, community long")
    )
    out, _ = louvain_level(g, assignments=asg)
    labels = _labels(out)
    assert labels[999] == 7
    assert set(labels) == set(_labels(asg))


def test_random_graphs_match_oracle(spark):
    """Property sweep: 6 seeded random weighted graphs (Erdős–Rényi-ish,
    12-24 vertices, integer weights 1-5, self-loops allowed) — FULL
    multi-level engine labels must equal the sequential oracle EXACTLY on
    every one. The four fixed fixtures pin known shapes; this sweep covers
    arbitrary sparse topologies (isolated-ish vertices, multi-components,
    ties) where gate/tie-break bugs would actually hide. Seeded stdlib
    randomness, not hypothesis: each case costs ~2-4 s of Spark jobs, so a
    shrinking search would time out while a fixed sweep stays deterministic
    and CI-sized."""
    import random as _random

    for seed in range(6):
        rng = _random.Random(1000 + seed)
        n = rng.randint(12, 24)
        edges = []
        for u in range(n):
            for v in range(u, n):
                p = 0.18 if u != v else 0.05
                if rng.random() < p:
                    edges.append((u, v, float(rng.randint(1, 5))))
        if not edges:
            continue
        g = LinkGraph.from_edges(to_df(spark, edges))
        result = louvain(g)
        want, q_want = seq_louvain(edges)
        assert _labels(result.assignments) == want, f"seed {seed}"
        assert result.modularity == pytest.approx(q_want, abs=1e-9), f"seed {seed}"


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
            out = _superstep(g, st, 0, 1e-12, gate_mode=mode)
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
    nor when it raises mid-loop — and releasing the views never evicts the
    edge cache."""
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
    with pytest.raises(RuntimeError, match="injected"):
        louvain_level(g)
    assert len(calls) == 2
    assert _glouvain_views(spark) == []
    assert _edges_cached(spark, g)


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

    # superstep_planning scopes session-global conf, and overlapping scopes
    # restore it out of order — put it back for the rest of the suite
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    conf = {k: spark.conf.get(k) for k in keys}
    try:
        with ThreadPoolExecutor(len(graphs)) as ex:
            got = list(ex.map(level, graphs))
    finally:
        for k, v in conf.items():
            spark.conf.set(k, v)
    assert got == serial
