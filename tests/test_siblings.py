"""PageRank / CC / LPA / triangle tests vs sequential oracles (SURVEY.md §2h):
labels/components exact, scores allclose 1e-6 (BASELINE.json:6)."""

import numpy as np
import pytest

from graftlouvain.operators.components import components
from graftlouvain.operators.graph import LinkGraph
from graftlouvain.operators.labelprop import label_propagation
from graftlouvain.operators.pagerank import pagerank
from graftlouvain.operators.triangles import (
    _local_triangles,
    triangle_count,
    triangles_per_vertex,
)
from graftlouvain.oracle.graphs import (
    seq_components,
    seq_label_propagation,
    seq_pagerank,
    seq_triangles,
)

from tests.fixtures import (
    FIXTURE_28_W,
    FIXTURE_KARATE_W,
    FIXTURE_W5,
    fixture_hub,
    tiers,
    to_df,
)

ALL = [FIXTURE_W5, FIXTURE_28_W, FIXTURE_KARATE_W, fixture_hub()]
IDS = ["w5", "fixture28", "karate", "hub"]

# two disconnected components: a triangle and a path
TWO_COMP = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0), (10, 11, 1.0), (11, 12, 1.0)]


def _pagerank_tiers(monkeypatch, g, **kwargs):
    """Run ``pagerank(g, **kwargs)`` on each tier: {tier: (ranks, steps)},
    where ``steps`` counts the iterations the tier ran."""
    import graftlouvain.operators.pagerank as pr

    steps = []
    real_fixpoint, real_local = pr.fixpoint, pr._local_pagerank

    def fixpoint(*args, **kw):
        state, records = real_fixpoint(*args, **kw)
        steps.append(len(records))
        return state, records

    def local(*args):
        ranks, n = real_local(*args)
        steps.append(n)
        return ranks, n

    monkeypatch.setattr(pr, "fixpoint", fixpoint)
    monkeypatch.setattr(pr, "_local_pagerank", local)
    runs = {}
    for tier in tiers(monkeypatch):
        ranks = {r["id"]: r["rank"] for r in pagerank(g, **kwargs).collect()}
        runs[tier] = (ranks, steps.pop())
    return runs


def _assert_tiers_agree(runs):
    (local, n_local), (sql, n_sql) = runs["local"], runs["spark"]
    assert n_local == n_sql
    assert set(local) == set(sql)
    assert max(abs(local[v] - sql[v]) for v in sql) <= 1e-12


@pytest.mark.parametrize("edges", ALL + [TWO_COMP], ids=IDS + ["twocomp"])
def test_pagerank_matches_oracle(spark, edges, monkeypatch):
    """Both tiers match the oracle, agree to 1e-12 and stop the tol path
    after the same number of iterations."""
    g = LinkGraph.from_edges(to_df(spark, edges))
    want = seq_pagerank(edges, tol=1e-12)
    runs = _pagerank_tiers(monkeypatch, g, tol=1e-12)
    for tier, (got, _) in runs.items():
        assert set(got) == set(want), tier
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-6), tier
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-6), tier
    _assert_tiers_agree(runs)


@pytest.mark.parametrize("alpha", [0.85, 1.0])
def test_personalized_pagerank_matches_python(spark, monkeypatch, alpha):
    """PPR (random walk with restart, seed-restricted teleport) vs a direct
    Python power iteration on karate, on both tiers; seeds outside the graph
    are ignored in the normalizer. At α = 1 there is no teleport, and the
    walk still starts uniform on the seeds."""
    edges = FIXTURE_KARATE_W
    g = LinkGraph.from_edges(to_df(spark, edges))
    seeds = [0, 33, 999]  # 999 is not a vertex — must not affect mass
    seed_df = spark.createDataFrame([(s,) for s in seeds], "id long")
    runs = _pagerank_tiers(monkeypatch, g, alpha=alpha, n_iter=10, seeds=seed_df)
    # python twin
    nbrs, w = {}, {}
    for a, b, wt in edges:
        w[(a, b)] = w.get((a, b), 0.0) + wt
        if a != b:
            w[(b, a)] = w.get((b, a), 0.0) + wt
    out_w = {}
    for (a, _b), wt in w.items():
        out_w[a] = out_w.get(a, 0.0) + wt
    vs = set(out_w)
    s_eff = [s for s in seeds if s in vs]
    rank = {v: (1.0 / len(s_eff) if v in s_eff else 0.0) for v in vs}
    for _ in range(10):
        mass = {v: 0.0 for v in vs}
        for (a, b), wt in w.items():
            mass[b] += rank[a] * wt / out_w[a]
        rank = {
            v: ((1.0 - alpha) / len(s_eff) if v in s_eff else 0.0) + alpha * mass[v]
            for v in vs
        }
    for tier, (got, n) in runs.items():
        assert set(got) == vs, tier
        for v in vs:
            assert got[v] == pytest.approx(rank[v], abs=1e-6), tier
        assert sum(got.values()) == pytest.approx(1.0, abs=1e-6), tier
        assert n == 10, tier
    _assert_tiers_agree(runs)


def test_personalized_pagerank_empty_seeds(spark, monkeypatch):
    """A seed set with no graph vertex raises the same error on both tiers."""
    g = LinkGraph.from_edges(to_df(spark, TWO_COMP))
    seed_df = spark.createDataFrame([(999,)], "id long")
    for tier in tiers(monkeypatch):
        with pytest.raises(ValueError, match="non-empty seed set"):
            pagerank(g, n_iter=10, seeds=seed_df)


def test_pagerank_zero_out_weight_vertex(spark, monkeypatch):
    """A vertex whose edges all weigh 0 gives share 0 instead of dividing by
    its zero out-weight (the SQL tier used to raise DIVIDE_BY_ZERO). On both
    paths both tiers give equal finite ranks; that vertex keeps only the
    teleport term, and its mass is not redistributed. An all-zero triangle
    keeps only teleport mass everywhere."""
    import math

    edges = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0), (2, 3, 0.0),
             (10, 11, 0.0), (11, 12, 0.0), (10, 12, 0.0)]
    g = LinkGraph.from_edges(to_df(spark, edges))
    for kwargs in ({"n_iter": 10, "alpha": 0.85}, {"tol": 1e-6, "alpha": 0.5}):
        base = (1.0 - kwargs["alpha"]) / 7
        runs = _pagerank_tiers(monkeypatch, g, **kwargs)
        for tier, (got, _) in runs.items():
            assert all(math.isfinite(r) for r in got.values()), tier
            assert [got[v] for v in (3, 10, 11, 12)] == [base] * 4, tier
            assert sum(got.values()) < 1.0, tier
        _assert_tiers_agree(runs)


def test_pagerank_local_tier_is_one_checkpoint(spark, monkeypatch):
    """On karate a default ``pagerank(n_iter=10)`` runs locally and returns
    one loop-owned checkpoint: one ``swap`` through pagerank's own binding,
    one materialization in all. With the threshold at −1 the SQL tier swaps
    once per iteration there, and materializes 11 states: the start state
    (through ``fixpoint``'s swap) and one per iteration."""
    import graftlouvain.functions.iterate as it
    import graftlouvain.operators.pagerank as pr

    swaps, mats = [], []
    real_swap, real_mat = pr.swap, it.materialize

    def swap(old, new):
        swaps.append(1)
        return real_swap(old, new)

    def materialize(df):
        mats.append(1)
        return real_mat(df)

    monkeypatch.setattr(pr, "swap", swap)
    monkeypatch.setattr(it, "materialize", materialize)
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    counts = {}
    for tier in tiers(monkeypatch):
        swaps.clear()
        mats.clear()
        assert pagerank(g, n_iter=10).count() == g.stats.num_vertices
        counts[tier] = (len(swaps), len(mats))
    assert counts == {"local": (1, 1), "spark": (10, 11)}


def test_local_edges_collected_once(spark, monkeypatch):
    """PageRank then triangle counting on one small graph collect its edges
    once: the arrays are kept read-only on the graph, the threshold still
    decides every call, and ``unpersist`` drops them."""
    import graftlouvain.operators.graph as graph_mod

    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    collects = []
    real = type(g.edges).toPandas

    def to_pandas(df):
        collects.append(1)
        return real(df)

    monkeypatch.setattr(type(g.edges), "toPandas", to_pandas)
    pagerank(g, n_iter=10).collect()
    triangles_per_vertex(g).collect()
    assert len(collects) == 1
    local = g.local_edges()
    assert local is g.local_edges() and len(collects) == 1
    assert not any(a.flags.writeable for a in local)
    with pytest.raises(ValueError):
        local[3][0] = 0.0
    monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", -1)
    assert g.local_edges() is None
    monkeypatch.undo()
    g.unpersist()
    assert g._local is None


def test_pagerank_regime_decides_partitions_and_layout(spark, monkeypatch):
    """One broadcast-regime decision drives both of PageRank's layout
    choices. Inside the regime the loop scopes its shuffle partitions down
    and lays the shares table out by dst; once the broadcast threshold drops
    below 48 B per vertex it keeps the session's partition count AND the src
    layout. Ranks match the oracle either way."""
    import graftlouvain.operators.graph as graph_mod
    import graftlouvain.operators.pagerank as pr

    monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", -1)  # the SQL tier's layout
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    V = g.stats.num_vertices
    want = seq_pagerank(FIXTURE_KARATE_W, n_iter=10)
    real_swap = pr.swap
    scoped, plans = [], []

    def shares_partitioning(df):
        """outputPartitioning of the cached shares scan in df's executed plan."""
        found = []

        def walk(node):
            if "InMemoryTableScan" in node.getClass().getSimpleName() and (
                "share" in node.output().toString()
            ):
                found.append(node.outputPartitioning().toString())
            for i in range(node.children().size()):
                walk(node.children().apply(i))

        walk(df._jdf.queryExecution().executedPlan())
        return found

    def swap(old, new):
        scoped.append(int(spark.conf.get("spark.sql.shuffle.partitions")))
        plans.extend(shares_partitioning(new))
        return real_swap(old, new)

    monkeypatch.setattr(pr, "swap", swap)
    keys = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.shuffle.partitions")
    prev = {k: spark.conf.get(k) for k in keys}
    layouts = {}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", 8)
        for regime, threshold in (("broadcast", prev[keys[0]]), ("shuffle", 48 * V - 1)):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
            scoped.clear()
            plans.clear()
            got = {r["id"]: r["rank"] for r in pagerank(g, n_iter=10).collect()}
            assert set(got) == set(want)
            for v in want:
                assert got[v] == pytest.approx(want[v], abs=1e-6)
            dst = [p.startswith("hashpartitioning(dst") for p in plans]
            assert len(plans) == 10 and len(set(dst)) == 1
            layouts[regime] = (scoped[0], dst[0])
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert layouts == {"broadcast": (4, True), "shuffle": (8, False)}


@pytest.mark.parametrize("edges", ALL + [TWO_COMP], ids=IDS + ["twocomp"])
def test_components_matches_oracle(spark, edges):
    g = LinkGraph.from_edges(to_df(spark, edges))
    got = {r["id"]: r["component"] for r in components(g).collect()}
    assert got == seq_components(edges)


PATH5 = [(i, i + 1, 1.0) for i in range(4)]


def persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_components_releases_superseded_states(spark):
    """Each superstep releases the state it replaced: a components run adds
    exactly one persistent RDD, the checkpoint of the state it returns."""
    g = LinkGraph.from_edges(to_df(spark, PATH5))
    before = persistent_rdds(spark)
    labels = components(g)
    checkpoint = labels._jdf.queryExecution().analyzed().child()  # under the select
    assert persistent_rdds(spark) - before == {checkpoint.rdd().id()}
    assert {r["id"]: r["component"] for r in labels.collect()} == seq_components(PATH5)


def test_bench_contract(spark, monkeypatch):
    """What perfbench reads off the engine: every traced binding resolves,
    and components calls its module's ``swap_observed`` once per superstep
    (the graph_suite ``supersteps`` count)."""
    import importlib

    import graftlouvain.operators.components as cc
    from perfbench.trace import TRACED

    for mod, path, _ in TRACED:
        obj = importlib.import_module(mod)
        for attr in path.split("."):
            obj = getattr(obj, attr)
        assert callable(obj), (mod, path)

    real, calls = cc.swap_observed, []

    def counted(*args):
        calls.append(args)
        return real(*args)

    monkeypatch.setattr(cc, "swap_observed", counted)
    g = LinkGraph.from_edges(to_df(spark, PATH5))
    assert {r["component"] for r in components(g).collect()} == {0}
    # 0-1-2-3-4: four rounds lower vertex 4's label, then one quiet round
    assert len(calls) == 5


@pytest.mark.parametrize("edges", ALL, ids=IDS)
def test_lpa_matches_oracle(spark, edges):
    g = LinkGraph.from_edges(to_df(spark, edges))
    got = {r["id"]: r["label"] for r in label_propagation(g, max_iter=5).collect()}
    assert got == seq_label_propagation(edges, max_iter=5)


@pytest.mark.parametrize("edges", ALL + [TWO_COMP], ids=IDS + ["twocomp"])
def test_triangles_match_oracle(spark, edges, monkeypatch):
    g = LinkGraph.from_edges(to_df(spark, edges))
    want_total, want_per_v = seq_triangles(edges)
    for tier in tiers(monkeypatch):
        assert triangle_count(g) == want_total, tier
        got = {r["id"]: r["triangles"] for r in triangles_per_vertex(g).collect()}
        assert got == want_per_v, tier


def test_karate_triangle_total(spark, monkeypatch):
    """Known value: Zachary karate club has 45 triangles."""
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    for tier in tiers(monkeypatch):
        assert triangle_count(g) == 45, tier


@pytest.mark.parametrize(
    "edges", [FIXTURE_KARATE_W, fixture_hub()], ids=["karate", "hub"]
)
def test_triangles_wedge_chunking(spark, edges):
    """Every wedge chunk size, down to one wedge per chunk, gives the
    oracle's per-vertex counts."""
    ids, s, d, w = LinkGraph.from_edges(to_df(spark, edges)).local_edges()
    _, want = seq_triangles(edges)
    for chunk in (1, 7, None):
        kw = {} if chunk is None else {"chunk": chunk}
        got = _local_triangles(ids, s, d, w, **kw)
        assert got.dtype == np.int64
        assert dict(zip(ids.tolist(), got.tolist())) == want, chunk


@pytest.mark.parametrize(
    "edges",
    [[], [(5, 5, 1.0), (0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0), (2, 2, 3.0)], TWO_COMP],
    ids=["empty", "selfloop", "twocomp"],
)
def test_triangles_edge_cases(spark, edges, monkeypatch):
    """Both tiers give equal rows under the same column names and types; a
    vertex with only a self-loop is listed with 0."""
    g = LinkGraph.from_edges(to_df(spark, edges))
    runs = {}
    for tier in tiers(monkeypatch):
        df = triangles_per_vertex(g)
        runs[tier] = (
            [(f.name, f.dataType.simpleString()) for f in df.schema],
            sorted(tuple(r) for r in df.collect()),
        )
    assert runs["local"] == runs["spark"]
    assert runs["local"][0] == [("id", "bigint"), ("triangles", "bigint")]
    _, want = seq_triangles(edges)
    assert dict(runs["local"][1]) == want


def test_triangle_counts_ignore_weights(spark, monkeypatch):
    """Weights never change a count: karate with weights 1, 0, −2.5 and one
    NaN gives the unit-weight copy's per-vertex counts on both tiers and in
    the sequential oracle. The local tier and the oracle orient by unweighted
    degree; comparing weighted degrees instead is no total order once the
    NaN on edge (1, 2) reaches them, and loses 10 of the 45 triangles."""
    mixed = [
        (a, b, float("nan") if (a, b) == (1, 2) else (1.0, 0.0, -2.5)[i % 3])
        for i, (a, b, _w) in enumerate(FIXTURE_KARATE_W)
    ]
    unit = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    g = LinkGraph.from_edges(to_df(spark, mixed))
    _, oracle = seq_triangles(mixed)
    for tier in tiers(monkeypatch):
        want = {r["id"]: r["triangles"] for r in triangles_per_vertex(unit).collect()}
        got = {r["id"]: r["triangles"] for r in triangles_per_vertex(g).collect()}
        assert got == want, tier
        assert got == oracle, tier
        assert sum(got.values()) == 3 * 45, tier
