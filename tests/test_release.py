"""Every operator call leaves only its output pinned: the persistent RDDs a
call adds are at most one, and each is a ``LogicalRDD`` leaf of the
result's analyzed plan (the checkpoint the result reads). Operators with a
local numpy tier (PageRank, triangles, clustering, Louvain) run on both."""

import pytest

import graftlouvain.operators.graph as graph_mod
from graftlouvain.operators.components import components
from graftlouvain.operators.features import feature_smooth
from graftlouvain.operators.graph import LinkGraph
from graftlouvain.operators.labelprop import label_propagation
from graftlouvain.operators.louvain import louvain
from graftlouvain.operators.metrics import kcore
from graftlouvain.operators.pagerank import pagerank
from graftlouvain.operators.paths import (
    bfs_distances,
    harmonic_closeness,
    sample_sources,
    sssp_distances,
)
from graftlouvain.operators.triangles import clustering_coefficients, triangles_per_vertex
from graftlouvain.operators.walks import node2vec_walks, random_walks, weighted_random_walks
from graftlouvain.oracle.graphs import seq_components

from tests.fixtures import FIXTURE_KARATE_W, to_df

PATH5 = [(i, i + 1, 1.0) for i in range(4)]
# vertex 0's only edge quantizes to weight 0 at scale 1
ZERO_WEIGHT = [(0, 1, 0.2), (1, 2, 1.0)]


def _components(g):
    labels = components(g)
    assert {r["id"]: r["component"] for r in labels.collect()} == seq_components(PATH5)
    return labels


def _feature_smooth(g):
    feats = g.edges.sparkSession.createDataFrame(
        [(v, [v, 2 * v, 3 * v]) for v in range(34)], "id long, q array<long>"
    )
    return feature_smooth(g, feats, rounds=3)


def _zero_weight_walk(walk):
    """A walk whose zero-weight guard raises after the neighbor index is
    pinned: it returns nothing, and must leave nothing pinned."""

    def call(g):
        with pytest.raises(ValueError, match="scale"):
            walk(g, length=2, scale=1)

    return call


def _louvain(g):
    res = louvain(g)
    assert len(res.levels) >= 2  # every level's state must be unwound
    return res.assignments


KARATE = FIXTURE_KARATE_W

# name → (edges, call(graph) → the result, or None for a call that raises)
CASES = {
    "pagerank": (KARATE, lambda g: pagerank(g)),
    "components": (PATH5, _components),
    "label_propagation": (KARATE, lambda g: label_propagation(g)),
    "triangles_per_vertex": (KARATE, lambda g: triangles_per_vertex(g)),
    "clustering_coefficients": (KARATE, lambda g: clustering_coefficients(g)),
    "kcore": (KARATE, lambda g: kcore(g, 3)),
    "bfs": (KARATE, lambda g: bfs_distances(g, sample_sources(g))),
    "sssp": (KARATE, lambda g: sssp_distances(g, sample_sources(g))),
    "harmonic_closeness": (KARATE, lambda g: harmonic_closeness(g)),
    "louvain": (KARATE, _louvain),
    "random_walks": (KARATE, lambda g: random_walks(g, length=6, walks_per_vertex=2)),
    "weighted_random_walks": (
        KARATE, lambda g: weighted_random_walks(g, length=6, walks_per_vertex=2)
    ),
    "node2vec_walks": (KARATE, lambda g: node2vec_walks(g, length=6, walks_per_vertex=2)),
    "feature_smooth": (KARATE, _feature_smooth),
    "weighted_random_walks_raises": (ZERO_WEIGHT, _zero_weight_walk(weighted_random_walks)),
    "node2vec_walks_raises": (ZERO_WEIGHT, _zero_weight_walk(node2vec_walks)),
}
# operators with a local numpy tier, run on both
TWO_TIERS = {"pagerank", "triangles_per_vertex", "clustering_coefficients", "louvain"}
# (name, tier) whose result reads exactly one checkpoint, the one the call made
ONE_PIN = {
    ("components", "spark"),
    ("louvain", "spark"),
    ("random_walks", "spark"),
    ("weighted_random_walks", "spark"),
    ("node2vec_walks", "spark"),
    ("feature_smooth", "spark"),
}

PARAMS = [
    pytest.param(name, tier, id=f"{name}-{tier}" if name in TWO_TIERS else name)
    for name in CASES
    for tier in (("local", "spark") if name in TWO_TIERS else ("spark",))
]


def _persistent(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _rdd_leaves(df) -> set:
    """Ids of the RDDs under the ``LogicalRDD`` leaves of ``df``'s plan."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return {
        leaf.rdd().id()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.getClass().getSimpleName() == "LogicalRDD"
    }


@pytest.mark.parametrize("name, tier", PARAMS)
def test_call_pins_only_its_output(spark, monkeypatch, name, tier):
    edges, call = CASES[name]
    if tier == "spark":
        monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", -1)
    g = LinkGraph.from_edges(to_df(spark, edges))
    before = _persistent(spark)
    out = call(g)
    added = _persistent(spark) - before
    assert len(added) <= 1, added
    assert added <= (set() if out is None else _rdd_leaves(out)), added
    if (name, tier) in ONE_PIN:
        assert len(added) == 1 and added == _rdd_leaves(out)

