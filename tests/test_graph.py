"""Graph-core tests porting the reference's semantic assertions
(tests/distributed_graph.rs:80-90, graph.rs unit tests) to LinkGraph."""

import math

from pyspark.sql import functions as F

from graftlouvain.operators.graph import (
    LinkGraph,
    community_stats,
    dense_ids,
    singleton_assignments,
)

from tests.fixtures import (
    FIXTURE_28_DEGREES,
    FIXTURE_28_W,
    FIXTURE_W5,
    FIXTURE_W5_DEGREES,
    to_df,
)


def test_fixture28_invariants(spark):
    """global_ecount == 56, global_vcount == 16
    (/root/reference/tests/distributed_graph.rs:80-81)."""
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_28_W))
    assert g.ref_global_ecount == 56
    assert g.ref_global_vcount == 16
    assert g.stats.num_vertices == 16
    assert g.two_m == 56.0


def test_fixture28_degrees(spark):
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_28_W))
    got = {r["id"]: r["degree"] for r in g.degrees.collect()}
    assert got == {k: float(v) for k, v in FIXTURE_28_DEGREES.items()}
    assert sum(got.values()) == 56.0
    assert sum(v * v for v in got.values()) == 224.0


def test_fixture28_neighbor_sets(spark):
    """Neighbor sets equal the single-node undirected graph
    (tests/distributed_graph.rs:83-90)."""
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_28_W))
    expected = {}
    for s, d, _w in FIXTURE_28_W:
        expected.setdefault(s, set()).add(d)
        expected.setdefault(d, set()).add(s)
    rows = g.edges.groupBy("src").agg(F.collect_set("dst").alias("nbrs")).collect()
    got = {r["src"]: set(r["nbrs"]) for r in rows}
    assert got == expected


def test_w5_degrees_and_neighbor_communities(spark):
    """Weighted degrees + neighboring-community sums from singleton init
    (/root/reference/src/louvain/communitystate.rs:668, 693-717)."""
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_W5))
    got = {r["id"]: r["degree"] for r in g.degrees.collect()}
    assert got == FIXTURE_W5_DEGREES

    asg = singleton_assignments(g)
    nbr = (
        g.edges.where(F.col("src") != F.col("dst"))
        .join(asg.select(F.col("id").alias("dst"), F.col("community").alias("c")), "dst")
        .groupBy("src", "c")
        .agg(F.sum("weight").alias("w"))
    )
    v0 = {(r["c"], r["w"]) for r in nbr.where("src = 0").collect()}
    assert v0 == {(1, 1.0), (2, 2.0)}
    v3 = {(r["c"], r["w"]) for r in nbr.where("src = 3").collect()}
    assert v3 == {(1, 4.0), (2, 5.0), (4, 6.0)}


def test_w5_insert_remove_equivalence(spark):
    """C2/C3 insert/remove math via full recompute: moving v0 into c1 gives
    c1 {in=2.0, tot=11.0}; restoring gives {in=0.0, tot=8.0}
    (communitystate.rs:756-803)."""
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_W5))
    moved = spark.createDataFrame(
        [(0, 1), (1, 1), (2, 2), (3, 3), (4, 4)], "id long, community long"
    )
    stats = {r["community"]: r for r in community_stats(g, moved).collect()}
    assert stats[1]["internal_weight"] == 2.0  # 2 × w(0,1)=1.0
    assert stats[1]["total_weight"] == 11.0  # k0 + k1 = 3 + 8

    restored = singleton_assignments(g)
    stats = {r["community"]: r for r in community_stats(g, restored).collect()}
    assert stats[1]["internal_weight"] == 0.0
    assert stats[1]["total_weight"] == 8.0


def test_self_loop_kept_once(spark):
    df = to_df(spark, [(0, 0, 2.0), (0, 1, 1.0)])
    g = LinkGraph.from_edges(df)
    rows = {(r["src"], r["dst"]): r["weight"] for r in g.edges.collect()}
    assert rows == {(0, 0): 2.0, (0, 1): 1.0, (1, 0): 1.0}
    deg = {r["id"]: r["degree"] for r in g.degrees.collect()}
    assert deg == {0: 3.0, 1: 1.0}


def test_duplicate_pairs_aggregate(spark):
    df = to_df(spark, [(0, 1, 1.0), (0, 1, 2.0), (1, 0, 4.0)])
    g = LinkGraph.from_edges(df)
    rows = {(r["src"], r["dst"]): r["weight"] for r in g.edges.collect()}
    assert rows == {(0, 1): 7.0, (1, 0): 7.0}


def test_dense_ids_deterministic(spark):
    df = spark.createDataFrame(
        [("b", "y"), ("a", "x"), ("c", "z"), ("a", "x")], "repo string, path string"
    )
    ids1 = {(r["repo"], r["path"]): r["id"] for r in dense_ids(df, ["repo", "path"]).collect()}
    ids2 = {(r["repo"], r["path"]): r["id"] for r in dense_ids(df, ["repo", "path"]).collect()}
    assert ids1 == ids2 == {("a", "x"): 0, ("b", "y"): 1, ("c", "z"): 2}


def test_empty_graph(spark):
    df = spark.createDataFrame([], "src long, dst long, weight double")
    g = LinkGraph.from_edges(df)
    assert g.stats.num_vertices == 0
    assert g.ref_global_vcount == 0
    assert g.two_m == 0.0
    assert math.isnan(g.two_m) is False
