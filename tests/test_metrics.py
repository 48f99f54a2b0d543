"""Structural-metric operators vs independent pure-Python oracles on the
shared fixtures (clustering coefficients, neighbor Jaccard, assortativity,
k-core)."""

import math

import pytest

from graftlouvain.operators.graph import LinkGraph
from graftlouvain.operators.metrics import degree_assortativity, kcore, neighbor_jaccard
from graftlouvain.operators.triangles import clustering_coefficients

from tests.fixtures import (
    FIXTURE_28_W,
    FIXTURE_KARATE_W,
    FIXTURE_W5,
    fixture_hub,
    tiers,
    to_df,
)


def _adj(edges):
    """Undirected distinct-neighbor adjacency (self-loops dropped)."""
    nbrs = {}
    for a, b, _w in edges:
        if a == b:
            continue
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    return nbrs


@pytest.mark.parametrize(
    "edges", [FIXTURE_W5, FIXTURE_28_W, FIXTURE_KARATE_W, fixture_hub()],
    ids=["w5", "fixture28", "karate", "hub"],
)
def test_clustering_coefficients_match_python(spark, edges, monkeypatch):
    g = LinkGraph.from_edges(to_df(spark, edges))
    nbrs = _adj(edges)
    for tier in tiers(monkeypatch):
        got = {
            r["id"]: (r["nbrs"], r["triangles"], r["coeff"])
            for r in clustering_coefficients(g).collect()
        }
        assert set(got) == set(nbrs), tier
        for v in got:
            ns = nbrs.get(v, set())
            tri = sum(1 for a in ns for b in ns if a < b and b in nbrs[a])
            n = len(ns)
            coeff = round(2.0 * tri / (n * (n - 1)), 6) if n >= 2 else 0.0
            assert got[v] == (n, tri, pytest.approx(coeff, abs=1e-9)), (tier, v)


@pytest.mark.parametrize(
    "edges", [FIXTURE_28_W, FIXTURE_KARATE_W], ids=["fixture28", "karate"]
)
def test_neighbor_jaccard_matches_python(spark, edges):
    g = LinkGraph.from_edges(to_df(spark, edges))
    got = {
        (r["src"], r["dst"]): (r["common"], r["jaccard"])
        for r in neighbor_jaccard(g).collect()
    }
    nbrs = _adj(edges)
    want_pairs = {(min(a, b), max(a, b)) for a, b, _ in edges if a != b}
    assert set(got) == want_pairs
    for (a, b), (common, jac) in got.items():
        inter = len(nbrs[a] & nbrs[b])
        union = len(nbrs[a] | nbrs[b])
        assert common == inter
        assert jac == pytest.approx(round(inter / union, 6), abs=1e-9)


def test_degree_assortativity_matches_python(spark):
    edges = FIXTURE_KARATE_W
    g = LinkGraph.from_edges(to_df(spark, edges))
    got = degree_assortativity(g).first()["assortativity"]
    # weighted degrees (self-loop weight once) over both edge orientations
    deg = {}
    for a, b, w in edges:
        deg[a] = deg.get(a, 0.0) + w
        if a != b:
            deg[b] = deg.get(b, 0.0) + w
    xs, ys = [], []
    for a, b, _w in edges:
        if a == b:
            continue
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    sx = math.sqrt(sum((x - mx) ** 2 for x in xs))
    sy = math.sqrt(sum((y - my) ** 2 for y in ys))
    assert got == pytest.approx(round(cov / (sx * sy), 6), abs=1e-6)


def _kcore_python(edges, k):
    nbrs = _adj(edges)
    alive = set(nbrs)
    while True:
        drop = {v for v in alive if sum(1 for u in nbrs[v] if u in alive) < k}
        if not drop:
            return alive
        alive -= drop


@pytest.mark.parametrize("k", [2, 3, 4])
@pytest.mark.parametrize(
    "edges", [FIXTURE_KARATE_W, fixture_hub()], ids=["karate", "hub"]
)
def test_kcore_matches_python(spark, edges, k):
    g = LinkGraph.from_edges(to_df(spark, edges))
    got = {r["id"] for r in kcore(g, k).collect()}
    assert got == _kcore_python(edges, k)
    # fixed-round unrolling (the SQL-oracle twin) reaches the same fixpoint
    got_fixed = {r["id"] for r in kcore(g, k, rounds=12).collect()}
    assert got_fixed == got


def test_random_walks_valid_and_deterministic(spark):
    """Walk properties on the karate graph: (1) every consecutive
    (vertex, next) pair is a real edge, (2) step-0 covers every vertex
    walks_per_vertex times, (3) two evaluations are row-identical (the walk
    is a pure function of (graph, seed)), (4) a different seed changes at
    least one hop (the seed actually participates)."""
    from graftlouvain.operators.walks import random_walks

    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    w = random_walks(g, length=5, walks_per_vertex=2, seed=42)
    rows = {(r["walk_id"], r["step"]): r["vertex"] for r in w.collect()}
    edges = {(r["src"], r["dst"]) for r in g.edges.collect()}
    n_v = g.stats.num_vertices
    assert len(rows) == n_v * 2 * 6
    starts = [v for (wid, s), v in rows.items() if s == 0]
    assert sorted(starts) == sorted(
        v for v in {r[0] for r in edges} for _ in range(2)
    )
    for (wid, s), v in rows.items():
        if s > 0:
            assert (rows[(wid, s - 1)], v) in edges
    again = {(r["walk_id"], r["step"]): r["vertex"] for r in random_walks(
        g, length=5, walks_per_vertex=2, seed=42).collect()}
    assert again == rows
    other = {(r["walk_id"], r["step"]): r["vertex"] for r in random_walks(
        g, length=5, walks_per_vertex=2, seed=7).collect()}
    assert other != rows


def test_walk_skipgram_pairs_match_python(spark):
    """Pair extraction equals a pure-Python recompute over the collected
    walks (window ±2, ordered pairs, per-(center,context) counts)."""
    from collections import Counter

    from graftlouvain.operators.walks import random_walks, walk_skipgram_pairs

    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    walks = random_walks(g, length=5, walks_per_vertex=2, seed=42)
    rows = walks.collect()
    seq = {}
    for r in rows:
        seq.setdefault(r["walk_id"], {})[r["step"]] = r["vertex"]
    want = Counter()
    for steps in seq.values():
        for s1, c in steps.items():
            for s2, x in steps.items():
                if s1 != s2 and abs(s1 - s2) <= 2:
                    want[(c, x)] += 1
    got = {
        (r["center"], r["context"]): r["weight"]
        for r in walk_skipgram_pairs(walks, window=2).collect()
    }
    assert got == dict(want) and len(got) > 0


def test_weighted_walks_valid_and_biased(spark):
    """Weighted walks: (1) every hop follows a real edge, (2) deterministic
    across evaluations, (3) hop choice is actually weight-proportional — on
    a hub whose two spokes carry weights 99 vs 1, ~99 % of first hops from
    the hub take the heavy spoke (binomial bound: >= 90 of 100 walks)."""
    from graftlouvain.operators.walks import weighted_random_walks

    edges = [(0, 1, 99.0), (0, 2, 1.0), (1, 2, 1.0)]
    g = LinkGraph.from_edges(to_df(spark, edges))
    w = weighted_random_walks(g, length=1, walks_per_vertex=100, seed=42)
    rows = {(r["walk_id"], r["step"]): r["vertex"] for r in w.collect()}
    edge_set = {(r["src"], r["dst"]) for r in g.edges.collect()}
    for (wid, s), v in rows.items():
        if s > 0:
            assert (rows[(wid, s - 1)], v) in edge_set
    hub_walks = [wid for (wid, s), v in rows.items() if s == 0 and v == 0]
    heavy = sum(1 for wid in hub_walks if rows[(wid, 1)] == 1)
    assert len(hub_walks) == 100 and heavy >= 90
    again = {(r["walk_id"], r["step"]): r["vertex"] for r in weighted_random_walks(
        g, length=1, walks_per_vertex=100, seed=42).collect()}
    assert again == rows


def test_bfs_distances_match_python(spark):
    """BFS distances from sampled sources on karate equal a pure-Python BFS,
    and the 6-hop cap covers the graph (diameter 5)."""
    from collections import deque

    from graftlouvain.operators.paths import bfs_distances, sample_sources

    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    srcs = [r["seed"] for r in sample_sources(g, 3).collect()]
    got = {
        (r["seed"], r["id"]): r["dist"]
        for r in bfs_distances(
            g, spark.createDataFrame([(s,) for s in srcs], "seed long"), 6
        ).collect()
    }
    adj = {}
    for r in g.edges.collect():
        if r["src"] != r["dst"]:
            adj.setdefault(r["src"], set()).add(r["dst"])
    want = {}
    for s in srcs:
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        for v, d in dist.items():
            want[(s, v)] = d
    assert got == want and len(got) > 0


def test_bfs_counts_no_sources_outside_broadcast_regime(spark, monkeypatch):
    """Past the broadcast regime the loop keeps the session's partitions
    whatever the frontier's size, so BFS runs no job to count its sources —
    and its distances on the 5-vertex path 0-1-2-3-4 are still |i − j|."""
    from graftlouvain.operators.paths import bfs_distances

    g = LinkGraph.from_edges(to_df(spark, [(i, i + 1, 1.0) for i in range(4)]))
    sources = spark.createDataFrame([(0,), (2,)], "seed long")
    frame = type(sources)  # the session's concrete DataFrame class
    real_count, counted = frame.count, []

    def count(df):
        counted.append(df)
        return real_count(df)

    monkeypatch.setattr(frame, "count", count)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "16")  # a 5-row state (48 B a row) no longer broadcasts
        got = {(r["seed"], r["id"]): r["dist"] for r in bfs_distances(g, sources).collect()}
    finally:
        spark.conf.set(key, prev)
    assert counted == []
    assert got == {(s, v): abs(s - v) for s in (0, 2) for v in range(5)}


def test_feature_smooth_matches_hand_computation(spark):
    """One fixed-point smoothing round on a 3-vertex path equals the hand
    result (weighted integer mean of neighbor features), and a second round
    propagates two hops."""
    from graftlouvain.operators.features import feature_smooth

    # path 0 -2- 1 -1- 2 (weights 2, 1)
    g = LinkGraph.from_edges(to_df(spark, [(0, 1, 2.0), (1, 2, 1.0)]))
    feats = spark.createDataFrame(
        [(0, [10, 100]), (1, [20, 200]), (2, [30, 300])],
        "id long, q array<long>",
    )
    got = {
        (r["id"], r["pos"]): r["val"]
        for r in feature_smooth(g, feats, rounds=1).collect()
    }
    # v0: only neighbor 1 (w=2) -> 20, 200; v2: only neighbor 1 -> 20, 200
    # v1: (2*10 + 1*30) div 3 = 16; (2*100 + 1*300) div 3 = 166
    assert got == {
        (0, 0): 20, (0, 1): 200,
        (1, 0): 16, (1, 1): 166,
        (2, 0): 20, (2, 1): 200,
    }
    got2 = {
        (r["id"], r["pos"]): r["val"]
        for r in feature_smooth(g, feats, rounds=2).collect()
    }
    # round 2 from round-1 state: v0 <- v1 = 16; v1 <- (2*20+1*20)/3 = 20
    assert got2[(0, 0)] == 16 and got2[(1, 0)] == 20 and got2[(2, 0)] == 16


def test_feature_smooth_carry_and_negative_cross_engine(spark):
    """(a) A vertex with no feature-bearing neighbors (here: off-graph id 99)
    KEEPS its prior value every round — the state domain never shrinks.
    (b) NEGATIVE features divide identically in Spark (`div`, truncate
    toward zero) and DuckDB (integer `//`, also truncate: −14 // 3 = −4) —
    the cross-engine-exact claim holds below zero, pinned here against a
    live DuckDB twin of the same left-join-carry round."""
    import duckdb

    from graftlouvain.operators.features import feature_smooth

    g = LinkGraph.from_edges(to_df(spark, [(0, 1, 2.0), (1, 2, 1.0)]))
    feats = spark.createDataFrame(
        [(0, [-9]), (1, [-7]), (2, [4]), (99, [42])], "id long, q array<long>"
    )
    got = {
        (r["id"], r["pos"]): r["val"]
        for r in feature_smooth(g, feats, rounds=1).collect()
    }
    # v1: (2·−9 + 1·4) div 3 = −14 div 3 = −4 (truncation; floor would be −5)
    assert got == {(0, 0): -7, (1, 0): -4, (2, 0): -7, (99, 0): 42}
    twin = duckdb.sql("""
        WITH e(src, dst, w) AS (VALUES (0,1,2),(1,0,2),(1,2,1),(2,1,1)),
        f0(dst, pos, x) AS (VALUES (0,0,-9),(1,0,-7),(2,0,4),(99,0,42)),
        a1 AS (
          SELECT e.src AS dst, f.pos,
                 CAST(CAST(SUM(e.w * f.x) AS BIGINT)
                      // CAST(SUM(e.w) AS BIGINT) AS BIGINT) AS x2
          FROM e JOIN f0 f ON f.dst = e.dst GROUP BY 1, 2
        )
        SELECT f.dst, f.pos, COALESCE(a.x2, f.x) AS x
        FROM f0 f LEFT JOIN a1 a ON a.dst = f.dst AND a.pos = f.pos
    """).fetchall()
    assert {(d, p): x for d, p, x in twin} == got


def test_weighted_walk_zero_weight_guard(spark):
    """A vertex whose every edge quantizes to weight 0 raises up front with
    the raise-`scale` guidance (instead of silently dropping walks), and
    raising `scale` as instructed makes the same input walk fine."""
    import pytest as _pytest

    from graftlouvain.operators.walks import (
        node2vec_walks, weighted_random_walks)

    g = LinkGraph.from_edges(to_df(spark, [(0, 1, 0.2), (1, 2, 1.0)]))
    with _pytest.raises(ValueError, match="scale"):
        weighted_random_walks(g, length=2, scale=1)
    with _pytest.raises(ValueError, match="scale"):
        node2vec_walks(g, length=2, scale=1)
    walks = weighted_random_walks(g, length=2, scale=10)
    assert walks.where("step = 2").count() == 3  # no walk lost


def test_sssp_weighted_shortcut(spark):
    """Weighted relaxation takes the cheaper two-hop path: with edges
    (0-1 w10, 0-2 w1, 2-1 w2), dist(0,1) = 3 via vertex 2 — not the direct
    10 — and unit-weight SSSP equals BFS hop counts on karate."""
    from graftlouvain.operators.paths import (
        bfs_distances, sample_sources, sssp_distances)

    g = LinkGraph.from_edges(to_df(spark, [(0, 1, 10.0), (0, 2, 1.0), (2, 1, 2.0)]))
    srcs = spark.createDataFrame([(0,)], "seed long")
    d = {(r["seed"], r["id"]): r["dist"] for r in sssp_distances(g, srcs, 4).collect()}
    assert d[(0, 1)] == 3.0 and d[(0, 2)] == 1.0 and d[(0, 0)] == 0.0

    k = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    s = sample_sources(k, 2)
    bfs = {(r["seed"], r["id"]): r["dist"] for r in bfs_distances(k, s, 6).collect()}
    sssp = {(r["seed"], r["id"]): r["dist"] for r in sssp_distances(k, s, 6).collect()}
    assert {kk: float(v) for kk, v in bfs.items()} == sssp


def test_node2vec_bias_drives_exploration(spark):
    """Second-order bias works: on the path 0-1-2 the step after 0->1 picks
    between returning to 0 (bias_return) and advancing to 2 (bias_far —
    vertex 2 is not a neighbor of prev=0). With bias_far=200 vs
    bias_return=1, >= 90 of 100 walks starting at 0 advance; with the
    biases swapped, >= 90 return. Hops always follow real edges and runs
    are deterministic."""
    from graftlouvain.operators.walks import node2vec_walks

    g = LinkGraph.from_edges(to_df(spark, [(0, 1, 1.0), (1, 2, 1.0)]))

    def second_hops(bret, bfar):
        w = node2vec_walks(
            g, length=2, walks_per_vertex=100, seed=42,
            bias_return=bret, bias_near=1, bias_far=bfar,
        )
        rows = {(r["walk_id"], r["step"]): r["vertex"] for r in w.collect()}
        edge_set = {(r["src"], r["dst"]) for r in g.edges.collect()}
        for (wid, s), v in rows.items():
            if s > 0:
                assert (rows[(wid, s - 1)], v) in edge_set
        return [
            rows[(wid, 2)]
            for (wid, s), v in rows.items()
            if s == 0 and v == 0 and rows[(wid, 1)] == 1
        ]

    advance = second_hops(1, 200)
    assert len(advance) == 100 and advance.count(2) >= 90
    retreat = second_hops(200, 1)
    assert retreat.count(0) >= 90
