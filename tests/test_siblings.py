"""PageRank / CC / LPA / triangle tests vs sequential oracles (SURVEY.md §2h):
labels/components exact, scores allclose 1e-6 (BASELINE.json:6)."""

import pytest

from graftlouvain.operators.components import components, components_star
from graftlouvain.operators.graph import LinkGraph
from graftlouvain.operators.labelprop import label_propagation
from graftlouvain.operators.pagerank import pagerank
from graftlouvain.operators.triangles import triangle_count, triangles_per_vertex
from graftlouvain.oracle.graphs import (
    seq_components,
    seq_label_propagation,
    seq_pagerank,
    seq_triangles,
)

from tests.fixtures import FIXTURE_28_W, FIXTURE_KARATE_W, FIXTURE_W5, fixture_hub, to_df

ALL = [FIXTURE_W5, FIXTURE_28_W, FIXTURE_KARATE_W, fixture_hub()]
IDS = ["w5", "fixture28", "karate", "hub"]

# two disconnected components: a triangle and a path
TWO_COMP = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0), (10, 11, 1.0), (11, 12, 1.0)]


@pytest.mark.parametrize("edges", ALL + [TWO_COMP], ids=IDS + ["twocomp"])
def test_pagerank_matches_oracle(spark, edges):
    g = LinkGraph.from_edges(to_df(spark, edges))
    got = {r["id"]: r["rank"] for r in pagerank(g, tol=1e-12).collect()}
    want = seq_pagerank(edges, tol=1e-12)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


def test_personalized_pagerank_matches_python(spark):
    """PPR (random walk with restart, seed-restricted teleport) vs a direct
    Python power iteration on karate; seeds outside the graph are ignored in
    the normalizer."""
    edges = FIXTURE_KARATE_W
    g = LinkGraph.from_edges(to_df(spark, edges))
    seeds = [0, 33, 999]  # 999 is not a vertex — must not affect mass
    seed_df = spark.createDataFrame([(s,) for s in seeds], "id long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(g, alpha=0.85, n_iter=10, seeds=seed_df).collect()
    }
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
            v: (0.15 / len(s_eff) if v in s_eff else 0.0) + 0.85 * mass[v]
            for v in vs
        }
    assert set(got) == vs
    for v in vs:
        assert got[v] == pytest.approx(rank[v], abs=1e-6)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)


def test_pagerank_regime_decides_partitions_and_layout(spark, monkeypatch):
    """One broadcast-regime decision drives both of PageRank's layout
    choices. Inside the regime the loop scopes its shuffle partitions down
    and lays the shares table out by dst; once the broadcast threshold drops
    below 48 B per vertex it keeps the session's partition count AND the src
    layout. Ranks match the oracle either way."""
    import graftlouvain.operators.pagerank as pr

    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    V = g.stats.num_vertices
    want = seq_pagerank(FIXTURE_KARATE_W, n_iter=10)
    real_planning, real_swap = pr.superstep_planning, pr.swap
    scoped, plans = [], []

    def planning(sess, shuffle_partitions=None):
        scoped.append(shuffle_partitions)
        return real_planning(sess, shuffle_partitions)

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
        plans.extend(shares_partitioning(new))
        return real_swap(old, new)

    monkeypatch.setattr(pr, "superstep_planning", planning)
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


@pytest.mark.parametrize("edges", [FIXTURE_28_W, TWO_COMP], ids=["fixture28", "twocomp"])
def test_components_star_matches(spark, edges):
    g = LinkGraph.from_edges(to_df(spark, edges))
    got = {r["id"]: r["component"] for r in components_star(g).collect()}
    assert got == seq_components(edges)


@pytest.mark.parametrize("edges", ALL, ids=IDS)
def test_lpa_matches_oracle(spark, edges):
    g = LinkGraph.from_edges(to_df(spark, edges))
    got = {r["id"]: r["label"] for r in label_propagation(g, max_iter=5).collect()}
    assert got == seq_label_propagation(edges, max_iter=5)


@pytest.mark.parametrize("edges", ALL + [TWO_COMP], ids=IDS + ["twocomp"])
def test_triangles_match_oracle(spark, edges):
    g = LinkGraph.from_edges(to_df(spark, edges))
    want_total, want_per_v = seq_triangles(edges)
    assert triangle_count(g) == want_total
    got = {r["id"]: r["triangles"] for r in triangles_per_vertex(g).collect()}
    assert got == want_per_v


def test_karate_triangle_total(spark):
    """Known value: Zachary karate club has 45 triangles."""
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    assert triangle_count(g) == 45


def test_components_star_random_graph(spark):
    """Property test: large/small-star output equals min-label CC on a seeded
    random graph with several components."""
    import random
    rng = random.Random(123)
    edges = []
    for comp_base in (0, 100, 200, 300):
        ids = list(range(comp_base, comp_base + rng.randint(3, 25)))
        for v in ids[1:]:
            edges.append((rng.choice(ids[: ids.index(v)]), v, 1.0))
    g = LinkGraph.from_edges(to_df(spark, edges))
    got = {r["id"]: r["component"] for r in components_star(g).collect()}
    assert got == seq_components(edges)


def test_components_star_path_graph(spark):
    """Worst case for min-label propagation (diameter = V); large/small-star
    must still produce exact min-id components in O(log V) rounds."""
    edges = [(i, i + 1, 1.0) for i in range(63)] + [(100, 101, 1.0)]
    g = LinkGraph.from_edges(to_df(spark, edges))
    got = {r["id"]: r["component"] for r in components_star(g, max_iter=16).collect()}
    assert got == seq_components(edges)
