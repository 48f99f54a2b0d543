"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: multi-level Louvain over the supplier
co-occurrence graph derived from sf0.001 lineitem.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 (+ the training-data pipeline operators). Graph tables are
derived deterministically from the testdata star schema: suppliers appearing
in the same order are linked (weight = co-occurrence count) — the same
co-change construction the engine applies to the source-code corpus
(graftlouvain/sources/edges.py). Every query has a DuckDB oracle except full
multi-level Louvain, whose data-dependent iteration count is genuinely not
expressible in ANSI SQL (rows-only, exact-label-verified against the in-repo
sequential oracle in pytest instead). Fixed-iteration algorithms (PageRank,
LPA) are unrolled as chained CTEs; MinHash/SimHash/hash_sample key on md5 so
DuckDB reproduces the exact hashes.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graftlouvain.operators.dedup import (  # noqa: E402
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from graftlouvain.operators.components import components  # noqa: E402
from graftlouvain.operators.graph import LinkGraph, community_stats  # noqa: E402
from graftlouvain.operators.labelprop import label_propagation  # noqa: E402
from graftlouvain.operators.louvain import louvain, modularity  # noqa: E402
from graftlouvain.operators.multimodal import decode_features, media_from_docs  # noqa: E402
from graftlouvain.operators.pagerank import pagerank  # noqa: E402
from graftlouvain.operators.similarity import (  # noqa: E402
    cosine_topk,
    embedding_near_dup_pairs_lsh,
)
from graftlouvain.operators.textstats import (  # noqa: E402
    fingerprints,
    lang_id,
    quality_scores,
    token_counts,
)
from graftlouvain.operators.triangles import triangles_per_vertex  # noqa: E402

# ---------------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------------


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence edges: suppliers sharing an order (src < dst,
    weight = number of sharing lineitem pairs). Mirrors the corpus co-change
    extractor on star-schema data.

    r6: pair generation is ONE groupBy(order).collect_list + a JVM pair
    explosion (dedup._pairs_of_sorted) instead of the equi self-join — one
    scan and one narrow shuffle of the lineitem rows replace two scans plus
    an E-row hash-relation build (broadcast at toy scale, a second full
    shuffle at real scale). Safe without a group cap here because TPC-H
    orders carry ≤ 7 lineitems (the corpus-side pairs_by_key keeps its
    max_group discipline); position pairs of the SORTED multiset filtered to
    a < b reproduce the self-join's strict-pair multiset exactly —
    digest-verified identical at sf0.1."""
    from graftlouvain.operators.dedup import _pairs_of_sorted

    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    groups = li.groupBy("l_orderkey").agg(F.collect_list("l_suppkey").alias("ids"))
    pairs = (
        groups.select(F.explode(_pairs_of_sorted(F.array_sort("ids"))).alias("p"))
        .select("p.a", "p.b")
        .where(F.col("a") < F.col("b"))
    )
    return pairs.groupBy(F.col("a").alias("src"), F.col("b").alias("dst")).agg(
        F.count(F.lit(1)).cast("double").alias("weight")
    )


def _graph(spark: SparkSession, sf_dir: str) -> LinkGraph:
    return LinkGraph.from_edges(_supplier_edges(spark, sf_dir))


def _nation_assignments(spark: SparkSession, sf_dir: str, graph: LinkGraph) -> DataFrame:
    """Initial communities = supplier nation — a realistic non-singleton
    partition used by the SQL-checkable community operators."""
    sup = _read(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id"),
        F.col("s_nationkey").cast("long").alias("community"),
    )
    return graph.vertices.join(sup, "id")


_EDGES_CTE = """
edges AS (
  SELECT a.l_suppkey AS src, b.l_suppkey AS dst, CAST(COUNT(*) AS DOUBLE) AS weight
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
),
sym AS (
  SELECT src, dst, weight FROM edges
  UNION ALL
  SELECT dst AS src, src AS dst, weight FROM edges
),
deg AS (SELECT src AS id, SUM(weight) AS degree FROM sym GROUP BY 1),
s2m AS (SELECT SUM(degree) AS s FROM deg),
nation AS (
  SELECT d.id, CAST(s.s_nationkey AS BIGINT) AS community
  FROM deg d JOIN supplier s ON s.s_suppkey = d.id
)
"""


# ---------------------------------------------------------------------------
# entry — flagship query (driver smoke check, sf0.001)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Multi-level Louvain communities of the supplier co-occurrence graph."""
    g = _graph(spark, "/root/testdata/sf0.001")
    result = louvain(g)
    return result.assignments.orderBy("id")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_edges_build(spark, sf):
    """S3/G4/G5: symmetrized, pair-aggregated canonical edge table."""
    return _graph(spark, sf).edges.select("src", "dst", "weight")


def q_ingest_file_sha(spark, sf):
    """Corpus ingest on the oracle surface (S3, BASELINE.json input_hint):
    shape ``documents`` into the input-hint corpus schema
    (repo,path,commit,lang,content) and run the REAL ``file_table`` operator
    — groupBy-latest content, dense lexicographic ids, per-row
    ``sha256(content)``. The hash gate certifies the sha256 invariant the
    north rule requires end-to-end (the hashlib cross-check lives in
    tests/test_corpus.py; reference analogue: the edge-construction
    invariants of tests/distributed_graph.rs:80-90)."""
    from graftlouvain.sources.edges import file_table

    docs = _read(spark, sf, "documents")
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("c0").alias("commit"),
        "lang",
        F.col("text").alias("content"),
    )
    return file_table(corpus).select("repo", "path", "id", "lang", "content_sha")


def q_ingest_cochange(spark, sf):
    """Co-change pair expansion on the oracle surface (S3): the REAL
    ``pairs_by_key`` operator (distinct (key,id), group-size skew cap, equi
    self-join, src<dst, weight = #shared keys) over a commit-shaped key —
    parts sharing an order. ``l_orderkey % 10 = 0`` keeps the oracle compact;
    ``max_group=5`` exercises the cap for real (TPC-H orders carry 1-7
    lineitems, so some groups are dropped)."""
    from graftlouvain.sources.edges import pairs_by_key

    li = _read(spark, sf, "lineitem").where(F.col("l_orderkey") % 10 == 0)
    keyed = li.select(
        F.col("l_orderkey").alias("commit"), F.col("l_partkey").alias("id")
    )
    return pairs_by_key(keyed, "commit", max_group=5)


def _part_graph(spark, sf) -> LinkGraph:
    """Sparse part-co-occurrence graph (the q_ingest_cochange edge table) —
    the supplier graph is complete at every SF (every supplier pair shares an
    order), which makes structural metrics trivial (all clustering coeffs 1,
    all jaccards 1, empty peeling); the capped part graph has real structure."""
    from graftlouvain.sources.edges import pairs_by_key

    li = _read(spark, sf, "lineitem").where(F.col("l_orderkey") % 10 == 0)
    keyed = li.select(
        F.col("l_orderkey").alias("commit"), F.col("l_partkey").alias("id")
    )
    return LinkGraph.from_edges(pairs_by_key(keyed, "commit", max_group=5))


_PART_EDGES_CTE = """
pk AS (
  SELECT DISTINCT l_orderkey AS k, l_partkey AS id
  FROM lineitem WHERE l_orderkey % 10 = 0
),
pkeep AS (SELECT k FROM pk GROUP BY k HAVING COUNT(*) BETWEEN 2 AND 5),
pkk AS (SELECT pk.k, pk.id FROM pk JOIN pkeep USING (k)),
pedges AS (
  SELECT a.id AS src, b.id AS dst, CAST(COUNT(*) AS DOUBLE) AS weight
  FROM pkk a JOIN pkk b ON a.k = b.k AND a.id < b.id GROUP BY 1, 2
),
psym AS (
  SELECT src, dst, weight FROM pedges
  UNION ALL SELECT dst, src, weight FROM pedges
),
pdeg AS (
  SELECT src AS id, SUM(weight) AS degree, COUNT(*) AS nbrs
  FROM psym GROUP BY 1
)
"""


def q_clustering_coeff(spark, sf):
    """Local clustering coefficients over the part graph (triangle stage =
    the degree-oriented wedge join of triangles_per_vertex)."""
    from graftlouvain.operators.triangles import clustering_coefficients

    return clustering_coefficients(_part_graph(spark, sf)).select(
        "id", "nbrs", "triangles", "coeff"
    )


def q_neighbor_jaccard(spark, sf):
    """Per-edge neighbor-set Jaccard (link-prediction feature) over the part
    graph."""
    from graftlouvain.operators.metrics import neighbor_jaccard

    return neighbor_jaccard(_part_graph(spark, sf)).select(
        "src", "dst", "common", "jaccard"
    )


def q_degree_assortativity(spark, sf):
    """Weighted-degree assortativity (Pearson over directed edges) of the
    part graph — one scalar row."""
    from graftlouvain.operators.metrics import degree_assortativity

    return degree_assortativity(_part_graph(spark, sf))


KCORE_K = 3
KCORE_ROUNDS = 12


def q_kcore(spark, sf):
    """3-core of the part graph by synchronous peeling, fixed 12 rounds (the
    SQL twin unrolls the same 12 — peeling is monotone, so extra rounds are
    no-ops once stable; true-fixpoint equality is pinned against a sequential
    oracle in pytest)."""
    from graftlouvain.operators.metrics import kcore

    return kcore(_part_graph(spark, sf), KCORE_K, rounds=KCORE_ROUNDS)


def q_ingest_imports(spark, sf):
    r"""The pandas-UDF ingest path on the oracle surface: ``import_edges``
    (Arrow-vectorized regex extraction over content, stem resolution against
    the file table, S3). Corpus synthesized deterministically from
    ``documents``: each file ``doc_<i>`` starts with ``import doc_<(i*7)%N>;``
    so extraction, stem matching, and the dense-id join all do real work.
    The UDF runs Python ``re`` while the oracle runs RE2 — equivalent on
    this content by construction (ASCII words, explicit [ \t] spacing);
    the engines' \s-class divergence is pinned separately (textstats)."""
    from graftlouvain.sources.edges import file_table, import_edges

    docs = _read(spark, sf, "documents")
    n = docs.count()
    corpus = docs.select(
        F.col("source").alias("repo"),
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("c0").alias("commit"),
        "lang",
        F.concat(
            F.lit("import doc_"),
            ((F.col("doc_id") * 7) % F.lit(n)).cast("string"),
            F.lit(";\n"),
            F.col("text"),
        ).alias("content"),
    )
    return import_edges(file_table(corpus)).select("src", "dst", "weight")


WALK_LEN = 4
WALKS_PER_VERTEX = 2


def q_random_walks(spark, sf):
    """Deterministic DeepWalk-style walk corpus over the part graph: 2 walks
    of length 4 per vertex, next hop = seeded-md5 hash mod degree over the
    dst-ordered neighbor index — a pure function of (graph, seed), replayed
    move-for-move by the DuckDB twin (same md5 arithmetic, same index). The
    graph→sequence operator that feeds embedding training (DeepWalk/node2vec);
    operator: graftlouvain/operators/walks.py."""
    from graftlouvain.operators.walks import random_walks

    return random_walks(
        _part_graph(spark, sf), length=WALK_LEN,
        walks_per_vertex=WALKS_PER_VERTEX, seed=42,
    ).select("walk_id", "step", "vertex")


WALK_WINDOW = 2
BFS_SOURCES = 4
BFS_DEPTH = 6


N2V_BIASES = (1, 4, 8)  # (return, near, far) ≙ p=4, q=1/2 — exploration bias


def q_node2vec_walks(spark, sf):
    """SECOND-ORDER biased walk corpus (full node2vec): transition weight =
    edge weight × integer bias chosen by the previous vertex (return /
    neighbor-of-prev / far — (1,4,8) ≙ p=4, q=1/2). All-integer cumulative
    ranges + seeded-md5 choice, so the DuckDB twin replays every hop
    (operator: graftlouvain/operators/walks.py::node2vec_walks)."""
    from graftlouvain.operators.walks import node2vec_walks

    br, bn, bf = N2V_BIASES
    return node2vec_walks(
        _part_graph(spark, sf), length=WALK_LEN,
        walks_per_vertex=WALKS_PER_VERTEX, seed=42,
        bias_return=br, bias_near=bn, bias_far=bf, scale=1,
    ).select("walk_id", "step", "vertex")


def q_bfs_distances(spark, sf):
    """Multi-source BFS over the part graph: shortest hop-distance from 4
    deterministically-sampled sources (smallest md5(id)) to every vertex
    within 6 hops — synchronous frontier min-relaxation, one materialized
    round per hop; the SQL twin unrolls the same 6 monotone rounds
    (operator: graftlouvain/operators/paths.py)."""
    from graftlouvain.operators.paths import bfs_distances, sample_sources

    g = _part_graph(spark, sf)
    return bfs_distances(
        g, sample_sources(g, BFS_SOURCES), max_depth=BFS_DEPTH
    ).select("seed", "id", "dist")


TOPK_EDGES_K = 3


def q_topk_edges(spark, sf):
    """Graph sparsification: each vertex's 3 heaviest co-change edges (ties
    → smallest dst) — the hub-degree cap applied before ANN-graph builds /
    supernode-bounded analytics; exchange-free window over the
    src-partitioned edge cache (operator: operators/graph.py::topk_edges)."""
    from graftlouvain.operators.graph import topk_edges

    return topk_edges(_part_graph(spark, sf), TOPK_EDGES_K).select(
        "src", "dst", "weight", "rank"
    )


def q_sssp_distances(spark, sf):
    """Weighted shortest paths (synchronous Bellman-Ford relaxation, 6
    rounds) from the same 4 sampled sources, co-change count as edge length
    — integer-valued weights keep every path sum exact, so the unrolled
    DuckDB twin hash-matches without rounding concessions."""
    from graftlouvain.operators.paths import sample_sources, sssp_distances

    g = _part_graph(spark, sf)
    return sssp_distances(
        g, sample_sources(g, BFS_SOURCES), max_rounds=BFS_DEPTH
    ).select("seed", "id", "dist")


def q_weighted_walks(spark, sf):
    """Weight-proportional walk corpus over the part graph (co-change counts
    as transition weights — node2vec's weighted transition, p=q=1): hop =
    seeded-md5 hash mod Σweight landing in one neighbor's exact integer
    cumulative range. Quantized weights make the ranges — and the sampled
    hop — bit-identical cross-engine; operator:
    graftlouvain/operators/walks.py::weighted_random_walks."""
    from graftlouvain.operators.walks import weighted_random_walks

    return weighted_random_walks(
        _part_graph(spark, sf), length=WALK_LEN,
        walks_per_vertex=WALKS_PER_VERTEX, seed=42, scale=1,
    ).select("walk_id", "step", "vertex")


def q_walk_pairs(spark, sf):
    """Skip-gram (center, context, count) pairs within ±2 steps over the
    deterministic walk corpus — the word2vec-ready training-pair extraction
    (DeepWalk §4.2) composed on ``random_walks``; the oracle re-derives the
    identical walks and pairs them in SQL."""
    from graftlouvain.operators.walks import random_walks, walk_skipgram_pairs

    walks = random_walks(
        _part_graph(spark, sf), length=WALK_LEN,
        walks_per_vertex=WALKS_PER_VERTEX, seed=42,
    )
    return walk_skipgram_pairs(walks, window=WALK_WINDOW).select(
        "center", "context", "weight"
    )


def q_walk_corpus(spark, sf):
    """All three walk families — uniform (DeepWalk), weight-proportional, and
    full second-order node2vec — as ONE relation discriminated by ``kind``,
    so a single driver row certifies the whole graph→sequence stage (each
    family stays individually hash-checked: the union preserves every row of
    every constituent). Consolidation keeps the driver's 50-entry
    CORRECTNESS gate covering the full operator surface."""
    u = q_random_walks(spark, sf).select(
        F.lit("uniform").alias("kind"), "walk_id", "step", "vertex"
    )
    w = q_weighted_walks(spark, sf).select(
        F.lit("weighted").alias("kind"), "walk_id", "step", "vertex"
    )
    n = q_node2vec_walks(spark, sf).select(
        F.lit("node2vec").alias("kind"), "walk_id", "step", "vertex"
    )
    return u.unionAll(w).unionAll(n)


def q_graph_distances(spark, sf):
    """Multi-source BFS hop distances and weighted SSSP distances from the
    same 4 md5-sampled sources, one relation discriminated by ``kind``
    (distances are exact integers in both families, so the union stays
    hash-exact cross-engine)."""
    b = q_bfs_distances(spark, sf).select(
        F.lit("bfs").alias("kind"), "seed", "id", F.col("dist").cast("double").alias("dist")
    )
    s = q_sssp_distances(spark, sf).select(
        F.lit("sssp").alias("kind"), "seed", "id", F.col("dist").cast("double").alias("dist")
    )
    return b.unionAll(s)


def q_path_centrality(spark, sf):
    """Sampled path-centrality metrics in long format (kind, key, val):
    per-seed eccentricity + reach count within the 6-hop horizon (sampled
    diameter lower bound) and per-vertex harmonic closeness (Eppstein-Wang /
    Boldi-Vigna) — the compositions on ``bfs_distances`` consolidated into
    one driver row."""
    from graftlouvain.operators.paths import (
        bfs_distances, harmonic_closeness, sample_sources)

    g = _part_graph(spark, sf)
    d = bfs_distances(g, sample_sources(g, BFS_SOURCES), max_depth=BFS_DEPTH)
    ecc = d.groupBy("seed").agg(
        F.max("dist").alias("ecc"), F.count(F.lit(1)).alias("n_reached")
    )
    e1 = ecc.select(
        F.lit("ecc").alias("kind"),
        F.col("seed").alias("key"),
        F.col("ecc").cast("double").alias("val"),
    )
    e2 = ecc.select(
        F.lit("reached").alias("kind"),
        F.col("seed").alias("key"),
        F.col("n_reached").cast("double").alias("val"),
    )
    c = harmonic_closeness(g, n_sources=BFS_SOURCES, max_depth=BFS_DEPTH).select(
        F.lit("closeness").alias("kind"),
        F.col("id").alias("key"),
        F.col("closeness").alias("val"),
    )
    return e1.unionAll(e2).unionAll(c)


SMOOTH_ROUNDS = 2


def q_feature_smooth(spark, sf):
    """GNN-style feature propagation (SGC/LightGCN smoothing) over the part
    graph in EXACT fixed-point arithmetic: per-part integer features
    [Σ quantity, lineitem count, Σ price-cents] averaged over neighbors
    (weighted by co-change count, integer division) for 2 rounds. Per-row
    cent quantization before the sum keeps every intermediate an integer,
    so the result is bit-identical across engines and summation orders
    (operator: graftlouvain/operators/features.py)."""
    from graftlouvain.operators.features import feature_smooth

    li = _read(spark, sf, "lineitem")
    feats = li.groupBy(F.col("l_partkey").alias("id")).agg(
        F.array(
            F.sum("l_quantity").cast("long"),
            F.count(F.lit(1)),
            F.sum(
                F.round(F.col("l_extendedprice") * F.lit(100)).cast("long")
            ),
        ).alias("q")
    )
    return feature_smooth(
        _part_graph(spark, sf), feats, rounds=SMOOTH_ROUNDS
    ).select("id", "pos", "val")


def q_graph_counts(spark, sf):
    """G1/G7/A6: global vertex count, directed edge count, total weight (2m)."""
    g = _graph(spark, sf)
    return spark.createDataFrame(
        [(g.stats.num_vertices, g.stats.num_directed_edges, float(g.two_m))],
        "vcount long, ecount long, total_weight double",
    )


def q_degrees(spark, sf):
    """A1: weighted degrees."""
    return _graph(spark, sf).degrees.select("id", "degree")


def q_neighbor_communities(spark, sf):
    """C4: per-vertex neighboring-community weight sums (nation communities)."""
    g = _graph(spark, sf)
    asg = _nation_assignments(spark, sf, g)
    return (
        g.edges.where(F.col("src") != F.col("dst"))
        .join(
            asg.select(F.col("id").alias("dst"), F.col("community").alias("nbr_comm")),
            "dst",
        )
        .groupBy("src", "nbr_comm")
        .agg(F.sum("weight").alias("w_to_comm"))
    )


def q_community_stats(spark, sf):
    """C8: full recompute of community internal/total weights (nation init)."""
    g = _graph(spark, sf)
    asg = _nation_assignments(spark, sf, g)
    return community_stats(g, asg).select(
        "community", "internal_weight", "total_weight"
    )


def q_modularity_nation(spark, sf):
    """L5/L6: textbook modularity of the nation partition (scalar)."""
    g = _graph(spark, sf)
    asg = _nation_assignments(spark, sf, g)
    q = modularity(g, asg)
    return spark.createDataFrame([(round(q, 6),)], "q double")


def q_louvain_gain_argmax(spark, sf):
    """L2/L3: one superstep's best-move argmax per vertex from nation init —
    the reconstructed move phase, scored by the superstep statement's own
    scoring CTEs (ties → smallest community, own community included)."""
    from graftlouvain.operators.louvain import _gain_argmax

    g = _graph(spark, sf)
    best = _gain_argmax(g, _nation_assignments(spark, sf, g))
    return best.select("id", "best_comm", F.round("score", 6).alias("score"))


def q_coarsen_nation(spark, sf):
    """L7: community-aggregated (coarsened) edge table under nation communities."""
    g = _graph(spark, sf)
    asg = _nation_assignments(spark, sf, g)
    return (
        g.edges.join(asg.select(F.col("id").alias("src"), F.col("community").alias("c_src")), "src")
        .join(asg.select(F.col("id").alias("dst"), F.col("community").alias("c_dst")), "dst")
        .groupBy("c_src", "c_dst")
        .agg(F.sum("weight").alias("weight"))
    )


def q_louvain_communities(spark, sf):
    """Full multi-level Louvain labels (iterative — rows-only check; the
    gated-superstep dataflow itself is hash-oracled by
    ``louvain_supersteps_fixed`` below, and full-run labels are exact-pinned
    against the in-repo sequential oracle in pytest)."""
    return louvain(_graph(spark, sf)).assignments.select("id", "community")


LOUVAIN_FIXED_STEPS = 2


def q_louvain_supersteps_fixed(spark, sf):
    """The flagship move/gate/tie-break dataflow on the DuckDB oracle surface:
    a fixed 2-superstep unroll of the REAL engine superstep (``_superstep`` —
    the same ``_superstep_cte`` statement the ``louvain()`` loop runs,
    including the analytic stay-score, the max_by (score, −community)
    tie-break, and the even/odd oscillation gate) from nation init on the
    supplier graph.
    Cross-engine hash equality is exact because every score is one IEEE
    division away from integer arithmetic: weights and degrees are
    integer-valued doubles, so k_ic / tot sums are exact, (tot − δ·k_i)·k_i
    is exact below 2^53, and the single ``/S`` rounds identically in both
    engines (reference anchor: reconstructed move semantics of
    communities.rs:68-83 + communitystate.rs:96-132)."""
    from graftlouvain.functions.iterate import materialize, superstep_planning
    from graftlouvain.operators.louvain import _superstep

    g = _graph(spark, sf)
    asg = _nation_assignments(spark, sf, g).join(
        g.degrees.select("id", F.col("degree").alias("k_i")), "id"
    )
    with superstep_planning(spark):
        st = materialize(asg)
        for step in range(LOUVAIN_FIXED_STEPS):
            st = materialize(
                _superstep(g, st, step).select("id", "community", "k_i")
            )
    return st.select("id", "community")


def q_louvain_supersteps_part(spark, sf):
    """Second fixed-superstep certification on a NON-trivial topology AND the
    PRODUCTION gate: the sparse part co-occurrence graph from SINGLETON init
    (the supplier graph of ``louvain_supersteps_fixed`` is complete, which
    limits how much of the move/gate space it exercises; singleton init
    drives the merge cascade the real level-0 run starts with), run through
    the r5 ``gate_mode="conflict"`` superstep — the exact gate ``louvain()``
    applies, so the moved-community conflict rule itself is hash-certified
    cross-engine (the parity gate stays certified by
    ``louvain_supersteps_fixed`` and ``louvain_level2_fixed``). Same engine
    path, same DuckDB CTE twin parameterized over the part-graph relations
    with the conflict-gate CTEs."""
    from graftlouvain.functions.iterate import materialize, superstep_planning
    from graftlouvain.operators.graph import singleton_assignments
    from graftlouvain.operators.louvain import _superstep

    g = _part_graph(spark, sf)
    asg = singleton_assignments(g).join(
        g.degrees.select("id", F.col("degree").alias("k_i")), "id"
    )
    with superstep_planning(spark):
        st = materialize(asg)
        for step in range(LOUVAIN_FIXED_STEPS):
            st = materialize(
                _superstep(g, st, step, gate_mode="conflict").select(
                    "id", "community", "k_i"
                )
            )
    return st.select("id", "community")


def q_louvain_level2_fixed(spark, sf):
    """The LEVEL BOUNDARY on the DuckDB oracle surface — the one Louvain
    composition no prior query certified cross-engine: 2 real engine
    supersteps (nation init, supplier graph) → ``coarsen`` (the production
    L7 operator: communities become vertices, intra-community weight lands
    doubled on the self-loop — Q-preserving, pinned to 1e-12 in pytest) →
    2 real supersteps on the COARSE graph from singleton init (each level
    restarts the even/odd gate at parity 0, exactly as ``louvain_level``
    does) → unwind (fine label joins through the coarse label). Hash
    equality is exact for the same reason as the single-level twins: all
    weights/degrees stay integer-valued doubles through coarsening (sums of
    counts), so every score is one IEEE division away from exact integer
    arithmetic on BOTH levels, and coarse 2m ≡ fine 2m exactly."""
    from graftlouvain.functions.iterate import materialize, superstep_planning
    from graftlouvain.operators.louvain import _superstep, coarsen

    g = _graph(spark, sf)
    asg = _nation_assignments(spark, sf, g).join(
        g.degrees.select("id", F.col("degree").alias("k_i")), "id"
    )
    with superstep_planning(spark):
        st = materialize(asg)
        for step in range(LOUVAIN_FIXED_STEPS):
            st = materialize(
                _superstep(g, st, step).select("id", "community", "k_i")
            )
        fine = st.select("id", "community")
        cg = coarsen(g, fine)
        cst = materialize(
            cg.degrees.select(
                "id", F.col("id").alias("community"), F.col("degree").alias("k_i")
            )
        )
        for step in range(LOUVAIN_FIXED_STEPS):
            cst = materialize(
                _superstep(cg, cst, step).select("id", "community", "k_i")
            )
    return fine.join(
        cst.select(F.col("id").alias("community"), F.col("community").alias("c2")),
        "community",
    ).select("id", F.col("c2").alias("community"))


def q_pagerank(spark, sf):
    """PageRank, fixed 10 iterations (matches the chained-CTE SQL oracle)."""
    pr = pagerank(_graph(spark, sf), alpha=0.85, n_iter=10)
    return pr.select("id", F.round("rank", 6).alias("rank"))


def q_personalized_pagerank(spark, sf):
    """Personalized PageRank (random walk with restart) from the nation-0
    supplier seed set, fixed 10 iterations (chained-CTE SQL twin)."""
    g = _graph(spark, sf)
    seeds = _read(spark, sf, "supplier").where("s_nationkey = 0").select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    pr = pagerank(g, alpha=0.85, n_iter=10, seeds=seeds)
    return pr.select("id", F.round("rank", 6).alias("rank"))


def q_connected_components(spark, sf):
    """Min-label connected components (oracle: recursive reachability closure)."""
    return components(_graph(spark, sf)).select("id", "component")


def q_label_propagation(spark, sf):
    """Synchronous LPA, 5 supersteps (iterative — rows-only check)."""
    return label_propagation(_graph(spark, sf), max_iter=5).select("id", "label")


def q_triangles_per_vertex(spark, sf):
    """Per-vertex triangle counts (degree-ordered orientation; counts are
    orientation-invariant, so the SQL oracle uses id-ordering), plus the
    global triangle total as the sentinel row id = −1 (the former
    ``triangle_total`` query, consolidated).

    The Spark side derives the sentinel as sum(per-vertex)/3 over the
    MATERIALIZED per-vertex relation — ONE wedge enumeration for the whole
    query (the r5 version ran ``triangle_list().count()`` as a second
    independent enumeration; on the ~91 %-dense sf0.1 supplier graph that
    is 124.5M triangles re-enumerated for a number the cross-check does not
    need, because the independence that certifies the total is
    CROSS-ENGINE: the DuckDB twin computes ITS total from its own triangle
    join, so the hash gate still compares two independent implementations)."""
    from graftlouvain.functions.iterate import materialize

    g = _graph(spark, sf)
    per = materialize(triangles_per_vertex(g).select("id", "triangles"))
    total = per.agg(
        F.expr("sum(triangles) div 3").cast("long").alias("triangles")
    ).select(F.lit(-1).cast("long").alias("id"), "triangles")
    return per.unionAll(total)


# -- training-data pipeline ops ---------------------------------------------


def q_dedup_exact(spark, sf):
    """Exact sha256 dedup plus the keep-list flag plus the NEAR-dup cluster
    label, one row per document. ``kept`` is computed by the REAL left_anti
    join (the relational primitive from SURVEY.md §2g — documents minus
    duplicates), then re-attached, so one driver row certifies the dedup
    labeling AND the anti-join keep-list that the former ``dedup_keep``
    query carried. ``cluster`` is the former ``dedup_clusters`` query
    absorbed as a column (r5 consolidation, 50-entry driver cap): MinHash-LSH
    near-dup pairs → connected components → min-doc_id cluster label,
    composed on the LSH SCALE path (banded candidates, exact Jaccard verify
    restricted to candidates) while the oracle stays the exact n-gram SQL —
    the hash gate doubles as an end-to-end LSH-recall check (recall 1.0
    measured in BENCH/dedup_scale.py; any missed pair would split a cluster
    and fail the hash)."""
    docs = _read(spark, sf, "documents")
    dd = exact_dedup(docs)
    dups = dd.where(F.col("is_duplicate")).select("doc_id")
    keep = docs.select("doc_id").join(dups, "doc_id", "left_anti").withColumn(
        "kept", F.lit(True)
    )
    pairs = minhash_lsh_pairs(docs, n=8, num_hashes=64, bands=16, threshold=0.5)
    cc_edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), F.lit(1.0).alias("weight")
    )
    cc = (
        components(LinkGraph.from_edges(cc_edges))
        .withColumnRenamed("id", "doc_id")
        .withColumnRenamed("component", "cluster")
    )
    return (
        dd.join(keep, "doc_id", "left")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            "content_sha",
            "canonical_id",
            "is_duplicate",
            F.coalesce("kept", F.lit(False)).alias("kept"),
            F.coalesce("cluster", "doc_id").alias("cluster"),
        )
    )


SUBSTR_N = 8
SUBSTR_MAX_DF = 16
CONTAM_N = 13
CONTAM_MOD = 7
CONTAM_MIN_HITS = 10


def q_substring_dup_spans(spark, sf):
    """Substring-level exact dedup (Lee et al. 2021): maximal cross-document
    duplicated token spans of ≥ SUBSTR_N tokens — positional 8-token-shingle
    md5 match (df-capped BEFORE the join) + adjacent-match island merge per
    (pair, diagonal). Bucketed by shingle hash end to end, never all-pairs."""
    from graftlouvain.operators.dedup import substring_dup_spans

    return substring_dup_spans(
        _read(spark, sf, "documents"), n=SUBSTR_N, max_doc_freq=SUBSTR_MAX_DF
    )


def q_substring_mask(spark, sf):
    """The Lee et al. 2021 INTERVENTION composed on the certified span
    detector: every document rewritten with duplicated spans REMOVED from
    all but the lowest-id holder (keep-first), overlapping removal intervals
    union-merged per doc, text rebuilt token-wise (whitespace-normalized).
    The masked TEXT itself is hash-gated cross-engine, so the interval merge
    and the rebuild — not just the span detection — are certified."""
    from graftlouvain.operators.dedup import mask_duplicate_spans

    return mask_duplicate_spans(
        _read(spark, sf, "documents"), n=SUBSTR_N, max_doc_freq=SUBSTR_MAX_DF
    )


def q_contamination_flags(spark, sf):
    """Benchmark decontamination: corpus docs sharing ≥1 distinct 13-token
    shingle with the (broadcast) benchmark suite, flagged at ≥ CONTAM_MIN_HITS
    hits. The benchmark split is the deterministic doc_id % 7 == 0 subset —
    the sandbox stand-in for an external eval-suite table."""
    from graftlouvain.operators.dedup import contamination_flags

    docs = _read(spark, sf, "documents")
    corpus = docs.where(F.col("doc_id") % CONTAM_MOD != 0)
    bench = docs.where(F.col("doc_id") % CONTAM_MOD == 0)
    return contamination_flags(
        corpus, bench, n=CONTAM_N, min_hits=CONTAM_MIN_HITS
    )


def q_ngram_jaccard_dups(spark, sf):
    return ngram_jaccard_pairs(
        _read(spark, sf, "documents"), n=8, threshold=0.5, max_doc_freq=100
    ).select("a", "b", "jaccard")


def q_minhash_lsh_dups(spark, sf):
    """MinHash(64, md5 affine family)+LSH(16 bands) candidates verified by
    exact Jaccard ≥ 0.5 restricted to the candidate set (SQL-checkable)."""
    return minhash_lsh_pairs(
        _read(spark, sf, "documents"), n=8, num_hashes=64, bands=16, threshold=0.5
    ).select("a", "b", "jaccard")


def q_simhash_dups(spark, sf):
    """SimHash-64 (md5 bit votes) near-dup pairs at Hamming ≤ 8 (SQL-checkable)."""
    return simhash_near_dup_pairs(
        _read(spark, sf, "documents"), max_hamming=8
    ).select("a", "b", "hamming")


def q_embedding_topk(spark, sf):
    """Brute-force cosine top-5 for query vectors vec_id < 10."""
    emb = _read(spark, sf, "embeddings")
    return cosine_topk(emb.where("vec_id < 10"), emb, k=5).select(
        "query_id", "vec_id", "cosine", "rank"
    )


def q_ivf_topk(spark, sf):
    """IVF ANN top-5 for query vectors vec_id < 10: deterministic md5-sampled
    centroids, argmax cell assignment, 8-cell probing, exact re-rank — the
    cell-partitioned similarity-search scale path, fully SQL-oracled."""
    from graftlouvain.operators.similarity import ivf_topk

    emb = _read(spark, sf, "embeddings")
    return ivf_topk(
        emb.where("vec_id < 10"), emb, k=5, n_centroids=32, n_probe=8
    ).select("query_id", "vec_id", "cosine", "rank")


LSH_TOPK_BITS = 6
LSH_TOPK_TABLES = 4


def q_lsh_topk(spark, sf):
    """RH-LSH ANN top-5 for query vectors vec_id < 10: random-hyperplane
    bucketing across 4 independent tables (64 buckets each), exact cosine
    re-rank of bucket-colliding candidates. The hyperplanes are deterministic
    data (similarity._planes, seeded Box-Muller), so the DuckDB twin embeds
    the identical planes as a VALUES relation and reproduces bucket
    assignment bit for bit (sign-of-dot agrees across engines because both
    fold the product array in index order; a flip would need |dot| within
    double rounding of 0). Candidate sets — and hence the approximate result,
    recall < 1 by construction — are therefore identical both sides; recall
    vs brute force is pinned separately in pytest."""
    from graftlouvain.operators.similarity import lsh_topk

    emb = _read(spark, sf, "embeddings")
    return lsh_topk(
        emb.where("vec_id < 10"), emb, dim=64, k=5,
        n_bits=LSH_TOPK_BITS, n_tables=LSH_TOPK_TABLES, seed=42,
    ).select("query_id", "vec_id", "cosine", "rank")


def q_ann_topk(spark, sf):
    """All three similarity-search paths over the embeddings table as ONE
    relation discriminated by ``method``: 'brute' = broadcast-query cosine
    top-5 (the O(Q·N) exactness baseline), 'ivf' = cell-partitioned IVF with
    8-probe + exact re-rank, 'lsh' = random-hyperplane bucketing across 4
    tables + exact re-rank. Each stays individually hash-checked through the
    union; recall of the approximate paths vs brute force is pinned in
    pytest."""
    b = q_embedding_topk(spark, sf).select(
        F.lit("brute").alias("method"), "query_id", "vec_id", "cosine", "rank"
    )
    i = q_ivf_topk(spark, sf).select(
        F.lit("ivf").alias("method"), "query_id", "vec_id", "cosine", "rank"
    )
    l = q_lsh_topk(spark, sf).select(
        F.lit("lsh").alias("method"), "query_id", "vec_id", "cosine", "rank"
    )
    return b.unionAll(i).unionAll(l)


def q_embedding_near_dups(spark, sf):
    """Cosine near-duplicate pairs (≥ 0.99) among vec_id < 100 — routed
    through the LSH-bucketed scale path (no CartesianProduct in the plan);
    the all-pairs SQL oracle is the exactness check. LSH recall < 1 in
    principle, but at θ(0.99) ≈ 8.1° with 12 tables the per-pair miss
    probability is ~8e-7, and the testdata's max pairwise cosine is 0.48
    (verified at sf0.01/sf0.1) — no qualifying pair exists to miss; parity
    with the exact baseline on planted near-dups is pinned in pytest."""
    emb = _read(spark, sf, "embeddings").where("vec_id < 100")
    return embedding_near_dup_pairs_lsh(
        emb, dim=64, threshold=0.99, n_tables=12
    ).select("a", "b", "cosine")


def q_corpus_select(spark, sf):
    """End-to-end training-corpus selection — the composite a real pipeline
    materializes as its final output: keep documents that (1) pass the
    quality gate (score ≥ 0.75), (2) are classified English, (3) are not
    exact duplicates, and (4) are not the greater side of any near-dup pair
    (greedy keep-first at MinHash-LSH J ≥ 0.5 — the scale path; the oracle
    uses the exact pair SQL, so the hash gate again doubles as an LSH recall
    check)."""
    docs = _read(spark, sf, "documents")
    q = quality_scores(docs).where(F.col("quality") >= 0.75).select("doc_id")
    lg = lang_id(docs).where(F.col("pred_lang") == "en").select("doc_id")
    exdup = exact_dedup(docs).where(F.col("is_duplicate")).select("doc_id")
    pairs = minhash_lsh_pairs(docs, n=8, num_hashes=64, bands=16, threshold=0.5)
    near_losers = pairs.select(F.greatest("a", "b").alias("doc_id")).distinct()
    return (
        docs.select("doc_id", "n_chars")
        .join(q, "doc_id", "left_semi")
        .join(lg, "doc_id", "left_semi")
        .join(exdup, "doc_id", "left_anti")
        .join(near_losers, "doc_id", "left_anti")
    )


def q_text_stats(spark, sf):
    """The full per-document text-analysis panel in ONE relation: language ID
    (n-gram marker heuristic), whitespace + BPE-ish token counts, quality
    features/score (length, word-length, punctuation, stopword ratios), and
    the whitespace-normalized sha256 fingerprint — four operators
    (operators/textstats.py) joined on doc_id so one driver row certifies
    each column family (the join is lossless: every operator emits exactly
    one row per document)."""
    docs = _read(spark, sf, "documents")
    a = lang_id(docs).select("doc_id", "pred_lang", "hits")
    b = token_counts(docs).select("doc_id", "ws_tokens", "bpe_ish_tokens")
    c = quality_scores(docs).select(
        "doc_id", "n_chars", "n_words", "mean_word_len", "punct_ratio",
        "stopword_ratio", "quality",
    )
    d = fingerprints(docs).select("doc_id", "fingerprint")
    return a.join(b, "doc_id").join(c, "doc_id").join(d, "doc_id")


def q_multimodal_meta(spark, sf):
    """Binary-column plumbing: utf-8 blobs through Arrow mapInPandas feature
    extraction (deterministic fake decoder); metadata columns are SQL-checked."""
    media = media_from_docs(_read(spark, sf, "documents"))
    return decode_features(media, fake=True).select("media_id", "n_bytes", "sha")


def q_corpus_stats_rollup(spark, sf):
    """Rollup aggregation over the documents table: per (lang, source) doc and
    char totals with subtotal and grand-total rows (GROUPING SETS exercise)."""
    docs = _read(spark, sf, "documents")
    return (
        docs.rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .select(
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            F.coalesce("source", F.lit("<all>")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )


def q_hash_sample(spark, sf):
    """Deterministic 10% sample: md5 bucket of doc_id — the reproducible-
    sampling primitive for training-data pipelines (seeded, partition-layout-
    independent, unlike F.rand). md5-keyed so the DuckDB oracle reproduces the
    exact same sample; determinism across evaluations is also pinned in
    pytest."""
    from graftlouvain.operators.dedup import _md5_pair

    docs = _read(spark, sf, "documents")
    h, _ = _md5_pair(F.col("doc_id").cast("string"))
    return docs.where(F.pmod(h, F.lit(10)) == 0).select("doc_id", "n_chars")


def q_char_quantiles(spark, sf):
    """Per-language document-length quantiles, BOTH paths in one relation
    discriminated by ``method``: 'exact' = interpolated ``percentile``
    (Spark == DuckDB ``quantile_cont``; full per-group sort — the small-data
    baseline) and 'approx_gk' = ``approx_percentile`` (Greenwald-Khanna
    sketch, mergeable across partitions — the no-sort 100 TB path; oracle-
    exact here because the sketch returns true order statistics while groups
    are smaller than the accuracy parameter, and Spark's rank convention
    coincides with DuckDB ``quantile_disc``; the error bound at adversarial
    sizes is pinned in pytest)."""
    docs = _read(spark, sf, "documents")
    exact = docs.groupBy("lang").agg(
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 6).alias("p99"),
    ).select(F.lit("exact").alias("method"), "lang", "p50", "p90", "p99")
    q = F.expr("approx_percentile(n_chars, array(0.5, 0.9, 0.99), 10000)")
    approx = docs.groupBy("lang").agg(q.alias("q")).select(
        F.lit("approx_gk").alias("method"),
        "lang",
        F.col("q")[0].cast("double").alias("p50"),
        F.col("q")[1].cast("double").alias("p90"),
        F.col("q")[2].cast("double").alias("p99"),
    )
    return exact.unionAll(approx)


def q_stream_dedup_first(spark, sf):
    """Batch twin of the streaming exact dedup (graftlouvain/streaming/
    dedup.py): first arrival per content hash over a TIMESTAMPED feed —
    documents joined to events on id for an arrival time, deterministic
    (ts, doc_id) tiebreak mirroring the stream's in-order delivery contract.
    This puts the watermark-path semantics on the driver's oracle surface;
    the live-stream parity (kept-hash set, dropDuplicatesWithinWatermark) is
    pinned in tests/test_streaming.py."""
    docs = _read(spark, sf, "documents")
    ev = _read(spark, sf, "events").select(F.col("event_id").alias("doc_id"), "ts")
    feed = docs.join(ev, "doc_id").withColumn(
        "content_sha", F.sha2(F.col("text"), 256)
    )
    first = feed.groupBy("content_sha").agg(
        F.min(F.struct("ts", "doc_id")).alias("f")
    )
    return first.select(
        "content_sha",
        F.col("f.doc_id").alias("first_doc_id"),
        F.unix_timestamp(F.col("f.ts")).alias("first_epoch"),
    )


def q_user_cardinality(spark, sf):
    """Cardinality rollup: EXACT distinct users per event type — the
    deduplicated-reach primitive of event pipelines. This exact twin is the
    oracle anchor; the 100 TB path is ``approx_count_distinct`` (HLL++,
    mergeable, no distinct shuffle), whose sketch differs from DuckDB's HLL
    so it is pinned by a pytest error-bound instead (the same exact-oracle +
    approx-pytest split as the quantile pair)."""
    ev = _read(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_events_hourly(spark, sf):
    """Streaming-equivalent batch rollup: hourly windowed counts/sums per
    event type (the Structured-Streaming pipeline in
    graftlouvain/streaming/events.py computes the same frame)."""
    ev = _read(spark, sf, "events")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def q_events_topk(spark, sf):
    """Per-hour top-3 event types by count (ties → alphabetically first) —
    batch twin of the streaming leaderboard (streaming/events.py::
    hourly_topk_stream + topk_of; stream parity in tests)."""
    from graftlouvain.streaming.events import topk_of

    ev = _read(spark, sf, "events")
    rollup = ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return topk_of(rollup, k=3)


def q_events_sessionize(spark, sf):
    """Gap-based sessionization (30-min): per-user session and event counts."""
    from pyspark.sql import Window

    ev = _read(spark, sf, "events").select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = ev.withColumn("new_sess", new_sess)
    return sess.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """EXACTLY 50 entries — the driver's CORRECTNESS harness checks the
    first 50, so every family here gets a hard driver-green row every round
    (the round-4 verdict's top item: 9 queries were silently falling off the
    cap). Related single-operator queries were consolidated into one
    relation with a discriminator column (walk_corpus, graph_distances,
    path_centrality, ann_topk, text_stats, char_quantiles) or an absorbed
    flag/sentinel (dedup_exact.kept, triangles_per_vertex id = −1) — every
    constituent row survives the union/join, so nothing lost its hash gate.
    Newest / least-proven entries lead; long-stable trivia trail."""
    return {
        # new / least-proven first
        "louvain_level2_fixed": q_louvain_level2_fixed,
        "substring_dup_spans": q_substring_dup_spans,
        "substring_mask": q_substring_mask,
        "contamination_flags": q_contamination_flags,
        "user_cardinality": q_user_cardinality,
        "walk_corpus": q_walk_corpus,
        "graph_distances": q_graph_distances,
        "path_centrality": q_path_centrality,
        "ann_topk": q_ann_topk,
        "text_stats": q_text_stats,
        "char_quantiles": q_char_quantiles,
        # flagship louvain surface
        "louvain_supersteps_fixed": q_louvain_supersteps_fixed,
        "louvain_supersteps_part": q_louvain_supersteps_part,
        "louvain_communities": q_louvain_communities,
        "louvain_gain_argmax": q_louvain_gain_argmax,
        "coarsen_nation": q_coarsen_nation,
        "modularity_nation": q_modularity_nation,
        "neighbor_communities": q_neighbor_communities,
        "community_stats": q_community_stats,
        # graph core + siblings
        "edges_build": q_edges_build,
        "graph_counts": q_graph_counts,
        "degrees": q_degrees,
        "topk_edges": q_topk_edges,
        "pagerank": q_pagerank,
        "personalized_pagerank": q_personalized_pagerank,
        "connected_components": q_connected_components,
        "label_propagation": q_label_propagation,
        "triangles_per_vertex": q_triangles_per_vertex,
        "clustering_coeff": q_clustering_coeff,
        "neighbor_jaccard": q_neighbor_jaccard,
        "degree_assortativity": q_degree_assortativity,
        "kcore": q_kcore,
        "walk_pairs": q_walk_pairs,
        "feature_smooth": q_feature_smooth,
        # corpus ingest
        "ingest_file_sha": q_ingest_file_sha,
        "ingest_cochange": q_ingest_cochange,
        "ingest_imports": q_ingest_imports,
        # training-data pipeline
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard_dups": q_ngram_jaccard_dups,
        "minhash_lsh_dups": q_minhash_lsh_dups,
        "simhash_dups": q_simhash_dups,
        "embedding_near_dups": q_embedding_near_dups,
        "corpus_select": q_corpus_select,
        "multimodal_meta": q_multimodal_meta,
        "corpus_stats_rollup": q_corpus_stats_rollup,
        "hash_sample": q_hash_sample,
        # events / streaming twins
        "stream_dedup_first": q_stream_dedup_first,
        "events_hourly": q_events_hourly,
        "events_topk": q_events_topk,
        "events_sessionize": q_events_sessionize,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect, ANSI where possible)
# ---------------------------------------------------------------------------


def _pagerank_sql(iters: int = 10, alpha: float = 0.85) -> str:
    """Fixed-iteration PageRank as chained CTEs (DuckDB forbids aggregation
    over the recursive reference, so the loop is unrolled)."""
    ctes = [
        "pr0 AS (SELECT id, 1.0 / (SELECT COUNT(*) FROM deg) AS rank FROM deg)"
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""pr{i} AS (
  SELECT d.id,
         (1.0 - {alpha}) / (SELECT COUNT(*) FROM deg)
         + {alpha} * COALESCE(m.mass, 0.0) AS rank
  FROM deg d LEFT JOIN (
    SELECT s.dst AS id, SUM(p.rank * s.weight / dg.degree) AS mass
    FROM pr{i - 1} p JOIN sym s ON p.id = s.src JOIN deg dg ON dg.id = s.src
    GROUP BY 1
  ) m ON m.id = d.id
)"""
        )
    return (
        "WITH " + _EDGES_CTE.strip().rstrip() + ",\n" + ",\n".join(ctes)
        + f"\nSELECT id, ROUND(rank, 6) AS rank FROM pr{iters}"
    )


def _ppr_sql(iters: int = 10, alpha: float = 0.85) -> str:
    """Fixed-iteration PERSONALIZED PageRank (nation-0 supplier seeds) as
    chained CTEs — teleport mass (1−α)/|S| on seeds only (mirrors
    pagerank(seeds=...)); walk starts uniform on the seed set."""
    ctes = [
        """seeds AS (
  SELECT d.id FROM deg d JOIN supplier s ON s.s_suppkey = d.id
  WHERE s.s_nationkey = 0
)""",
        """pr0 AS (
  SELECT d.id,
         CASE WHEN sd.id IS NOT NULL
              THEN 1.0 / (SELECT COUNT(*) FROM seeds) ELSE 0.0 END AS rank
  FROM deg d LEFT JOIN seeds sd ON sd.id = d.id
)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""pr{i} AS (
  SELECT d.id,
         CASE WHEN sd.id IS NOT NULL
              THEN (1.0 - {alpha}) / (SELECT COUNT(*) FROM seeds)
              ELSE 0.0 END
         + {alpha} * COALESCE(m.mass, 0.0) AS rank
  FROM deg d LEFT JOIN seeds sd ON sd.id = d.id LEFT JOIN (
    SELECT s.dst AS id, SUM(p.rank * s.weight / dg.degree) AS mass
    FROM pr{i - 1} p JOIN sym s ON p.id = s.src JOIN deg dg ON dg.id = s.src
    GROUP BY 1
  ) m ON m.id = d.id
)"""
        )
    return (
        "WITH " + _EDGES_CTE.strip().rstrip() + ",\n" + ",\n".join(ctes)
        + f"\nSELECT id, ROUND(rank, 6) AS rank FROM pr{iters}"
    )


_NGRAM_DOCS_CTE = """
norm AS (SELECT doc_id, LOWER(text) AS t FROM documents),
grams AS (
  SELECT DISTINCT n.doc_id, SUBSTR(n.t, g.i, 8) AS gram
  FROM norm n
  JOIN LATERAL (
    SELECT UNNEST(GENERATE_SERIES(1, GREATEST(LENGTH(n.t) - 7, 1))) AS i
  ) g ON TRUE
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY 1),
rare AS (
  SELECT doc_id, gram FROM grams
  WHERE gram IN (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) <= 100)
)
"""


def _lpa_sql(iters: int = 5) -> str:
    """Fixed-iteration synchronous LPA as chained CTEs (mirrors _pagerank_sql;
    a converged labeling is a fixpoint, so unconditional unrolling matches the
    engine's early-stop)."""
    ctes = ["lp0 AS (SELECT id, id AS label FROM deg)"]
    for i in range(1, iters + 1):
        ctes.append(
            f"""lp{i} AS (
  SELECT p.id, COALESCE(w.new_label, p.label) AS label
  FROM lp{i - 1} p LEFT JOIN (
    SELECT id, l AS new_label FROM (
      SELECT e.src AS id, n.label AS l,
             ROW_NUMBER() OVER (PARTITION BY e.src
                                ORDER BY SUM(e.weight) DESC, n.label ASC) AS rn
      FROM sym e JOIN lp{i - 1} n ON e.dst = n.id
      WHERE e.src != e.dst
      GROUP BY e.src, n.label
    ) ranked WHERE rn = 1
  ) w ON w.id = p.id
)"""
        )
    return (
        "WITH " + _EDGES_CTE.strip() + ",\n" + ",\n".join(ctes)
        + f"\nSELECT id, label FROM lp{iters}"
    )


def _walks_ctes(length: int = 4, wpv: int = 2, seed: int = 42) -> str:
    """The walk unroll as a CTE chain ending in relation
    ``walks(walk_id, step, vertex)`` — identical neighbor index
    (row_number − 1 per src ordered by dst over the symmetrized part-graph
    edges) and identical seeded-md5 choice arithmetic to
    operators/walks.py::random_walks. Shared by the ``random_walks`` and
    ``walk_pairs`` oracles."""
    ws = ", ".join(str(w) for w in range(wpv))
    ctes = [f"""nidx AS (
  SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
  FROM psym
),
nn AS (
  SELECT n.src, n.idx, n.dst, d.nbrs AS dst_deg
  FROM nidx n JOIN pdeg d ON d.id = n.dst
),
s0 AS (
  SELECT d.id * {wpv} + w.w AS walk_id, d.id AS cur, d.nbrs AS cur_deg
  FROM pdeg d CROSS JOIN (SELECT UNNEST([{ws}]) AS w) w
)"""]
    for t in range(1, length + 1):
        ctes.append(f"""s{t} AS (
  SELECT s.walk_id, n.dst AS cur, n.dst_deg AS cur_deg
  FROM s{t - 1} s JOIN nn n
    ON n.src = s.cur
   AND n.idx = CAST('0x' || SUBSTR(md5(
         'walk:{seed}:' || CAST(s.walk_id AS VARCHAR) || ':{t}:'
         || CAST(s.cur AS VARCHAR)), 1, 15) AS BIGINT) % s.cur_deg
)""")
    selects = "\n  UNION ALL ".join(
        f"SELECT walk_id, {t} AS step, cur AS vertex FROM s{t}"
        for t in range(length + 1)
    )
    ctes.append(f"walks AS (\n  {selects}\n)")
    return ",\n".join(ctes)


def _walks_sql(length: int = 4, wpv: int = 2, seed: int = 42) -> str:
    return (
        "WITH " + _PART_EDGES_CTE.strip() + ",\n" + _walks_ctes(length, wpv, seed)
        + "\nSELECT walk_id, step, vertex FROM walks"
    )


def _walk_pairs_sql(length: int, wpv: int, seed: int, window: int) -> str:
    """DuckDB twin of ``q_walk_pairs``: skip-gram (center, context) pair
    counts within ±window steps over the identical walk relation."""
    return (
        "WITH " + _PART_EDGES_CTE.strip() + ",\n" + _walks_ctes(length, wpv, seed)
        + f"""
SELECT a.vertex AS center, b.vertex AS context, COUNT(*) AS weight
FROM walks a JOIN walks b
  ON a.walk_id = b.walk_id
 AND a.step != b.step
 AND ABS(a.step - b.step) <= {window}
GROUP BY 1, 2"""
    )


_NATION_INIT = """
  SELECT n.id, n.community, d.degree AS k_i
  FROM nation n JOIN deg d ON d.id = n.id"""


def _node2vec_sql(
    length: int, wpv: int, seed: int, br: int, bn: int, bf: int
) -> str:
    """DuckDB twin of ``q_node2vec_walks``: identical quantized edge
    weights, identical (return/near/far) integer bias via a LEFT probe of
    the (prev, dst) edge, identical per-walk cumulative ranges (ascending
    dst) and seeded-md5 choice, unrolled ``length`` steps."""
    ws = ", ".join(str(w) for w in range(wpv))
    ctes = [f"""nw AS (
  SELECT src, dst, CAST(ROUND(weight) AS BIGINT) AS wq FROM psym
),
n2s0 AS MATERIALIZED (
  SELECT d.id * {wpv} + w.w AS walk_id, d.id AS prev, d.id AS cur
  FROM pdeg d CROSS JOIN (SELECT UNNEST([{ws}]) AS w) w
)"""]
    for t in range(1, length + 1):
        h = (
            f"CAST('0x' || SUBSTR(md5('n2v:{seed}:' || CAST(walk_id AS VARCHAR)"
            f" || ':{t}:' || CAST(src AS VARCHAR)), 1, 15) AS BIGINT)"
        )
        ctes.append(f"""c{t} AS (
  SELECT s.walk_id, s.prev, s.cur AS src, n.dst,
         n.wq * CASE WHEN n.dst = s.prev THEN {br}
                     WHEN e2.src IS NOT NULL THEN {bn}
                     ELSE {bf} END AS ew
  FROM n2s{t - 1} s
  JOIN nw n ON n.src = s.cur
  LEFT JOIN psym e2 ON e2.src = s.prev AND e2.dst = n.dst
),
r{t} AS (
  SELECT walk_id, src, dst, ew,
         SUM(ew) OVER (PARTITION BY walk_id ORDER BY dst
                       ROWS UNBOUNDED PRECEDING) AS chi,
         SUM(ew) OVER (PARTITION BY walk_id) AS tot
  FROM c{t}
),
n2s{t} AS MATERIALIZED (
  SELECT walk_id, src AS prev, dst AS cur
  FROM r{t}
  WHERE ({h} % tot) >= chi - ew AND ({h} % tot) < chi
)""")
    selects = "\nUNION ALL ".join(
        f"SELECT walk_id, {t} AS step, cur AS vertex FROM n2s{t}"
        for t in range(length + 1)
    )
    return (
        "WITH " + _PART_EDGES_CTE.strip() + ",\n" + ",\n".join(ctes)
        + "\n" + selects
    )


def _bfs_ctes(n_sources: int, depth: int) -> str:
    """Unrolled multi-source BFS min-relaxation over the part graph, ending
    in relation ``d{depth}(seed, id, dist)`` — monotone, so rounds past the
    diameter are no-ops (the k-core fixed-round argument)."""
    ctes = [f"""bseeds AS (
  SELECT id AS seed FROM pdeg ORDER BY md5(CAST(id AS VARCHAR)) LIMIT {n_sources}
),
d0 AS MATERIALIZED (SELECT seed, seed AS id, 0 AS dist FROM bseeds)"""]
    for t in range(1, depth + 1):
        ctes.append(f"""d{t} AS MATERIALIZED (
  SELECT seed, id, MIN(dist) AS dist FROM (
    SELECT seed, id, dist FROM d{t - 1}
    UNION ALL
    SELECT d.seed, e.dst AS id, d.dist + 1 AS dist
    FROM d{t - 1} d JOIN psym e ON e.src = d.id AND e.src != e.dst
  ) u GROUP BY 1, 2
)""")
    return ",\n".join(ctes)


def _bfs_sql(n_sources: int, depth: int) -> str:
    return (
        "WITH " + _PART_EDGES_CTE.strip() + ",\n" + _bfs_ctes(n_sources, depth)
        + f"\nSELECT seed, id, dist FROM d{depth}"
    )


def _sssp_sql(n_sources: int, rounds: int) -> str:
    """DuckDB twin of ``q_sssp_distances``: weighted min-relaxation unroll."""
    ctes = [f"""bseeds AS (
  SELECT id AS seed FROM pdeg ORDER BY md5(CAST(id AS VARCHAR)) LIMIT {n_sources}
),
w0 AS MATERIALIZED (SELECT seed, seed AS id, CAST(0.0 AS DOUBLE) AS dist FROM bseeds)"""]
    for t in range(1, rounds + 1):
        ctes.append(f"""w{t} AS MATERIALIZED (
  SELECT seed, id, MIN(dist) AS dist FROM (
    SELECT seed, id, dist FROM w{t - 1}
    UNION ALL
    SELECT d.seed, e.dst AS id, d.dist + e.weight AS dist
    FROM w{t - 1} d JOIN psym e ON e.src = d.id AND e.src != e.dst
  ) u GROUP BY 1, 2
)""")
    return (
        "WITH " + _PART_EDGES_CTE.strip() + ",\n" + ",\n".join(ctes)
        + f"\nSELECT seed, id, dist FROM w{rounds}"
    )


def _closeness_sql(n_sources: int, depth: int) -> str:
    return (
        "WITH " + _PART_EDGES_CTE.strip() + ",\n" + _bfs_ctes(n_sources, depth)
        + f"""
SELECT p.id,
       COALESCE(ROUND(s.c, 6), 0.0) AS closeness
FROM pdeg p LEFT JOIN (
  SELECT id, SUM(1.0 / dist) AS c FROM d{depth} WHERE dist > 0 GROUP BY id
) s ON s.id = p.id"""
    )


def _feature_smooth_sql(rounds: int = 2, dim: int = 3) -> str:
    """DuckDB twin of ``q_feature_smooth``: identical integer features and
    fixed-point (integer-division) neighbor averaging, unrolled ``rounds``."""
    poss = ", ".join(str(p) for p in range(dim))
    ctes = [f"""pf AS (
  SELECT l_partkey AS id,
         [CAST(SUM(l_quantity) AS BIGINT),
          COUNT(*),
          CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)] AS q
  FROM lineitem GROUP BY 1
),
f0 AS (
  SELECT id AS dst, p.pos, q[p.pos + 1] AS x
  FROM pf CROSS JOIN (SELECT UNNEST([{poss}]) AS pos) p
)"""]
    for t in range(1, rounds + 1):
        # carry semantics: vertices with no feature-bearing neighbor this
        # round keep their previous value (left join + COALESCE), mirroring
        # feature_smooth's constant state domain
        ctes.append(f"""a{t} AS (
  SELECT e.src AS dst, f.pos,
         CAST(CAST(SUM(CAST(e.weight AS BIGINT) * f.x) AS BIGINT)
              // CAST(SUM(CAST(e.weight AS BIGINT)) AS BIGINT) AS BIGINT) AS x2
  FROM psym e JOIN f{t - 1} f ON f.dst = e.dst
  GROUP BY 1, 2
),
f{t} AS MATERIALIZED (
  SELECT f.dst, f.pos, COALESCE(a.x2, f.x) AS x
  FROM f{t - 1} f LEFT JOIN a{t} a ON a.dst = f.dst AND a.pos = f.pos
)""")
    return (
        "WITH " + _PART_EDGES_CTE.strip() + ",\n" + ",\n".join(ctes)
        + f"\nSELECT dst AS id, pos, x AS val FROM f{rounds}"
    )


def _weighted_walks_sql(length: int = 4, wpv: int = 2, seed: int = 42) -> str:
    """DuckDB twin of ``q_weighted_walks``: identical quantized cumulative
    weight ranges (lo inclusive, hi exclusive, ascending dst) and identical
    seeded-md5 choice arithmetic, unrolled ``length`` steps."""
    ws = ", ".join(str(w) for w in range(wpv))
    h = (
        f"CAST('0x' || SUBSTR(md5('wwalk:{seed}:' || CAST(s.walk_id AS VARCHAR)"
        " || ':{t}:' || CAST(s.cur AS VARCHAR)), 1, 15) AS BIGINT) % s.cur_totw"
    )
    ctes = [f"""ncum AS (
  SELECT src, dst, CAST(ROUND(weight) AS BIGINT) AS wq,
         CAST(SUM(CAST(ROUND(weight) AS BIGINT)) OVER (
              PARTITION BY src ORDER BY dst
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
  FROM psym
),
nrng AS (SELECT src, dst, hi - wq AS lo, hi FROM ncum),
wtot AS (SELECT src, CAST(MAX(hi) AS BIGINT) AS totw FROM ncum GROUP BY src),
nn AS (
  SELECT n.src, n.lo, n.hi, n.dst, t.totw AS dst_totw
  FROM nrng n JOIN wtot t ON t.src = n.dst
),
ws0 AS (
  SELECT d.id * {wpv} + w.w AS walk_id, d.id AS cur, t.totw AS cur_totw
  FROM pdeg d JOIN wtot t ON t.src = d.id
  CROSS JOIN (SELECT UNNEST([{ws}]) AS w) w
)"""]
    for t in range(1, length + 1):
        ht = h.replace("{t}", str(t))
        ctes.append(f"""ws{t} AS (
  SELECT s.walk_id, n.dst AS cur, n.dst_totw AS cur_totw
  FROM ws{t - 1} s JOIN nn n
    ON n.src = s.cur
   AND {ht} >= n.lo
   AND {ht} < n.hi
)""")
    selects = "\nUNION ALL ".join(
        f"SELECT walk_id, {t} AS step, cur AS vertex FROM ws{t}"
        for t in range(length + 1)
    )
    return (
        "WITH " + _PART_EDGES_CTE.strip() + ",\n" + ",\n".join(ctes)
        + "\n" + selects
    )


def _louvain_chain_ctes(
    n_steps: int,
    sym: str,
    init: str,
    S: str,
    tag: str = "",
    gate: str = "parity",
) -> list[str]:
    """The gated-superstep CTE chain (see _louvain_fixed_sql), with every CTE
    name prefixed by ``tag`` so two chains (fine level + coarse level) can
    coexist in ONE statement for the level-boundary twin. ``gate``: "parity"
    = the even/odd direction gate; "conflict" = the r5 production gate
    (improving moves apply unless the target community is itself losing a
    preliminary mover AND target > cur — the same gate function as the
    conflict tail of operators.louvain._superstep_cte, expressed as a
    DISTINCT moved-set CTE + LEFT JOIN instead of its marker window)."""
    ctes = [f"{tag}st0 AS MATERIALIZED ({init}\n)"]
    for i in range(n_steps):
        d = "b.nbr_comm < b.cur_comm" if i % 2 == 0 else "b.nbr_comm > b.cur_comm"
        o = i + 1
        ctes.append(f"""{tag}nbr{i} AS (
  SELECT e.src AS src, s.community AS nbr_comm,
         CASE WHEN e.src != e.dst THEN e.weight
              ELSE CAST(0.0 AS DOUBLE) END AS k_ic
  FROM {sym} e JOIN {tag}st{i} s ON e.dst = s.id
),
{tag}cand{i} AS (SELECT src, nbr_comm, SUM(k_ic) AS k_ic FROM {tag}nbr{i} GROUP BY 1, 2),
{tag}tot{i} AS (SELECT community AS nbr_comm, SUM(k_i) AS tot FROM {tag}st{i} GROUP BY 1),
{tag}scored{i} AS (
  SELECT c.src, c.nbr_comm, c.k_ic, cu.community AS cur_comm, cu.k_i,
         c.k_ic - (t.tot - CASE WHEN c.nbr_comm = cu.community THEN cu.k_i
                                ELSE CAST(0.0 AS DOUBLE) END)
                  * cu.k_i / {S} AS score
  FROM {tag}cand{i} c
  JOIN {tag}tot{i} t ON c.nbr_comm = t.nbr_comm
  JOIN {tag}st{i} cu ON c.src = cu.id
),
{tag}best{i} AS (
  SELECT src, nbr_comm, score, cur_comm, k_i, stay_kic FROM (
    SELECT src, nbr_comm, score, cur_comm, k_i,
           COALESCE(MAX(CASE WHEN nbr_comm = cur_comm THEN k_ic END)
                    OVER (PARTITION BY src), CAST(0.0 AS DOUBLE)) AS stay_kic,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY score DESC, nbr_comm ASC) AS rn
    FROM {tag}scored{i}
  ) r WHERE rn = 1
),""" + (f"""
{tag}st{o} AS MATERIALIZED (
  SELECT b.src AS id,
         CAST(CASE WHEN b.nbr_comm != b.cur_comm
                    AND b.score >
                        b.stay_kic - (t2.tot - b.k_i) * b.k_i / {S} + 1e-12
                    AND {d}
              THEN b.nbr_comm ELSE b.cur_comm END AS BIGINT) AS community,
         b.k_i
  FROM {tag}best{i} b JOIN {tag}tot{i} t2 ON b.cur_comm = t2.nbr_comm
)""" if gate == "parity" else f"""
{tag}pre{i} AS (
  SELECT b.src, b.nbr_comm, b.cur_comm, b.k_i,
         (b.nbr_comm != b.cur_comm AND b.score >
             b.stay_kic - (t2.tot - b.k_i) * b.k_i / {S} + 1e-12) AS prelim
  FROM {tag}best{i} b JOIN {tag}tot{i} t2 ON b.cur_comm = t2.nbr_comm
),
{tag}mv{i} AS (SELECT DISTINCT cur_comm AS mc FROM {tag}pre{i} WHERE prelim),
{tag}st{o} AS MATERIALIZED (
  SELECT p.src AS id,
         CAST(CASE WHEN p.prelim AND (p.nbr_comm < p.cur_comm OR m.mc IS NULL)
              THEN p.nbr_comm ELSE p.cur_comm END AS BIGINT) AS community,
         p.k_i
  FROM {tag}pre{i} p LEFT JOIN {tag}mv{i} m ON p.nbr_comm = m.mc
)"""))
    return ctes


def _louvain_fixed_sql(
    n_steps: int = 2,
    prefix: str | None = None,
    sym: str = "sym",
    init: str = _NATION_INIT,
    S: str = "(SELECT s FROM s2m)",
    gate: str = "parity",
) -> str:
    """DuckDB twin of the fixed-superstep Louvain queries: the engine's gated
    superstep CTE chain (a dialect port of operators/louvain._superstep_cte —
    max_by over a (score, −community) struct becomes a ROW_NUMBER rank with
    the identical tie order), unrolled ``n_steps`` times from the ``init``
    state over the ``sym`` edge relation of ``prefix``. The stay score is the
    analytic form the engine statement computes (stay_kic −
    (tot_cur − k_i)·k_i/S with stay_kic = the own-community candidate's k_ic, 0 when absent); the
    move gate is strict-improvement + the ``gate`` oscillation breaker
    (even/odd direction, or the r5 moved-community conflict rule)."""
    if prefix is None:
        prefix = _EDGES_CTE
    ctes = _louvain_chain_ctes(n_steps, sym, init, S, gate=gate)
    return (
        "WITH " + prefix.strip() + ",\n" + ",\n".join(ctes)
        + f"\nSELECT id, community FROM st{n_steps}"
    )


def _louvain_level2_sql(n_steps: int = 2) -> str:
    """DuckDB twin of ``q_louvain_level2_fixed`` — the LEVEL BOUNDARY:
    fine chain (nation init, ``n_steps`` gated supersteps) → coarsen (the
    ``coarsen_nation`` aggregation parameterized on the fine final state;
    intra-community weight is counted twice by the symmetric fine table, so
    the (C,C) self-loop arrives pre-doubled exactly like the engine's
    ``coarsen``) → coarse chain (singleton init with coarse degrees = summed
    incident weights incl. the self-loop once, each level restarting the
    even/odd gate at parity 0) → unwind join. S is shared between levels —
    coarsening preserves 2m exactly (integer-valued sums)."""
    fine = _louvain_chain_ctes(
        n_steps, "sym", _NATION_INIT, "(SELECT s FROM s2m)", tag="f"
    )
    coarse_prefix = f"""cedges AS MATERIALIZED (
  SELECT sa.community AS src, sb.community AS dst, SUM(e.weight) AS weight
  FROM sym e
  JOIN fst{n_steps} sa ON e.src = sa.id
  JOIN fst{n_steps} sb ON e.dst = sb.id
  GROUP BY 1, 2
),
cdeg AS (SELECT src AS id, SUM(weight) AS k_i FROM cedges GROUP BY 1)"""
    coarse = _louvain_chain_ctes(
        n_steps,
        "cedges",
        "\n  SELECT id, id AS community, k_i FROM cdeg",
        "(SELECT s FROM s2m)",
        tag="c",
    )
    return (
        "WITH " + _EDGES_CTE.strip() + ",\n"
        + ",\n".join(fine) + ",\n"
        + coarse_prefix + ",\n"
        + ",\n".join(coarse)
        + f"\nSELECT f.id, c.community FROM fst{n_steps} f"
        + f" JOIN cst{n_steps} c ON f.community = c.id"
    )


def _lsh_topk_sql(
    k: int = 5, n_bits: int = 6, n_tables: int = 4, seed: int = 42, dim: int = 64
) -> str:
    """DuckDB twin of ``q_lsh_topk``: the deterministic hyperplanes embedded
    as a VALUES relation (repr() doubles round-trip bit-exactly), bucket =
    Σ [v·plane_i > 0]·2^i per (vector, table), candidates = bucket collisions,
    exact cosine re-rank rounded 6dp — the same rounding policy as the Spark
    operator, so rank ties cannot flip cross-engine."""
    from graftlouvain.operators.similarity import _planes

    planes = _planes(dim, n_bits, n_tables, seed)
    rows = ",\n  ".join(
        f"({t}, {b}, [{', '.join(repr(x) for x in plane)}])"
        for t, table in enumerate(planes)
        for b, plane in enumerate(table)
    )
    return f"""
WITH qd AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
planes(tbl, bit, plane) AS (VALUES
  {rows}
),
buck AS (
  SELECT d.vec_id, p.tbl,
         CAST(SUM(CASE WHEN list_sum(list_transform(list_zip(d.v, p.plane),
                                                    z -> z[1] * z[2])) > 0
                       THEN 1 << p.bit ELSE 0 END) AS BIGINT) AS bucket
  FROM qd d CROSS JOIN planes p
  GROUP BY 1, 2
),
cands AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id
  FROM buck qb JOIN buck cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
  WHERE qb.vec_id < 10 AND qb.vec_id != cb.vec_id
),
scored AS (
  SELECT c.query_id, c.vec_id,
         ROUND(list_sum(list_transform(list_zip(q.v, d.v), z -> z[1] * z[2]))
               / (SQRT(list_sum(list_transform(q.v, x -> x * x)))
                  * SQRT(list_sum(list_transform(d.v, x -> x * x)))), 6) AS cosine
  FROM cands c
  JOIN qd q ON q.vec_id = c.query_id
  JOIN qd d ON d.vec_id = c.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}"""


_MD5_PAIR = """
  SELECT doc_id,
         CAST('0x' || SUBSTR(md5({col}), 1, 15) AS BIGINT) AS h1,
         CAST('0x' || SUBSTR(md5({col}), 17, 14) AS BIGINT) AS h2
  FROM {src}"""


def _minhash_sql(num_hashes: int = 64, bands: int = 16, threshold: float = 0.5) -> str:
    """MinHash (md5 + Carter-Wegman mod-p family, coefficients shared with
    the Spark operator via dedup.minhash_coeffs) + banded LSH + candidate-
    restricted exact Jaccard — the DuckDB twin of
    graftlouvain.operators.dedup.minhash_lsh_pairs."""
    from graftlouvain.operators.dedup import MINHASH_P as P
    from graftlouvain.operators.dedup import minhash_coeffs

    r = num_hashes // bands
    sig_cols = ",\n         ".join(
        f"MIN((({a} * h1) % {P} + ({c} * h2) % {P}) % {P}) AS s{j}"
        for j, (a, c) in enumerate(minhash_coeffs(num_hashes))
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, CONCAT_WS(',', "
        + ", ".join(f"s{b * r + i}" for i in range(r))
        + ") AS bucket FROM sig"
        for b in range(bands)
    )
    gh = _MD5_PAIR.format(col="gram", src="grams")
    return f"""WITH {_NGRAM_DOCS_CTE.strip()},
gh0 AS ({gh}
),
gh AS (SELECT doc_id, h1 % {P} AS h1, h2 % {P} AS h2 FROM gh0),
sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM gh GROUP BY 1
),
sbands AS (
{band_rows}
),
cands AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM sbands l JOIN sbands r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
),
inter AS (
  SELECT c.a, c.b, COUNT(*) AS i
  FROM cands c
  JOIN rare ra ON ra.doc_id = c.a
  JOIN rare rb ON rb.doc_id = c.b AND rb.gram = ra.gram
  GROUP BY 1, 2
)
SELECT i.a, i.b,
       ROUND(CAST(i.i AS DOUBLE) / (sa.n_grams + sb.n_grams - i.i), 6) AS jaccard
FROM inter i JOIN sizes sa ON i.a = sa.doc_id JOIN sizes sb ON i.b = sb.doc_id
WHERE CAST(i.i AS DOUBLE) / (sa.n_grams + sb.n_grams - i.i) >= {threshold}"""


def _simhash_sql(max_hamming: int = 8) -> str:
    """SimHash-64 (md5 bit votes, 4 × 16-bit band bucketing) — the DuckDB twin
    of graftlouvain.operators.dedup.simhash_near_dup_pairs."""
    vote_cols = ",\n         ".join(
        (
            f"SUM(CASE WHEN (h1 >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
            if i < 60
            else f"SUM(CASE WHEN (h2 >> {i - 60}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        )
        for i in range(64)
    )
    band_exprs = ",\n         ".join(
        "("
        + " + ".join(
            f"(CASE WHEN v{b * 16 + i} > 0 THEN 1 ELSE 0 END << {i})"
            for i in range(16)
        )
        + f") AS band{b}"
        for b in range(4)
    )
    band_joins = "\n  UNION\n".join(
        f"  SELECT l.doc_id AS a, r.doc_id AS b FROM allb l JOIN allb r"
        f" ON l.band{b} = r.band{b} AND l.doc_id < r.doc_id"
        for b in range(4)
    )
    hamming = " + ".join(
        f"bit_count(xor(CAST(la.band{b} AS BIGINT), CAST(lb.band{b} AS BIGINT)))"
        for b in range(4)
    )
    th = _MD5_PAIR.format(col="token", src="toks")
    return rf"""WITH toks AS (
  SELECT d.doc_id, t.token
  FROM documents d,
       LATERAL (SELECT UNNEST(string_split_regex(LOWER(d.text), '[ \t\n\x0B\f\r]+')) AS token) t
  WHERE t.token <> ''
),
th AS ({th}
),
votes AS (
  SELECT doc_id,
         {vote_cols}
  FROM th GROUP BY 1
),
sb AS (
  SELECT doc_id,
         {band_exprs}
  FROM votes
),
allb AS (
  SELECT d.doc_id,
         COALESCE(s.band0, 0) AS band0, COALESCE(s.band1, 0) AS band1,
         COALESCE(s.band2, 0) AS band2, COALESCE(s.band3, 0) AS band3
  FROM documents d LEFT JOIN sb s ON d.doc_id = s.doc_id
),
cands AS (
{band_joins}
)
SELECT c.a, c.b, CAST({hamming} AS INTEGER) AS hamming
FROM cands c
JOIN allb la ON la.doc_id = c.a
JOIN allb lb ON lb.doc_id = c.b
WHERE {hamming} <= {max_hamming}"""


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["edges_build"] = f"WITH {_EDGES_CTE.strip()} SELECT src, dst, weight FROM sym"

    sql["ingest_file_sha"] = """
WITH corpus AS (
  SELECT source AS repo, 'doc_' || CAST(doc_id AS VARCHAR) AS path,
         lang, text AS content
  FROM documents
),
per_file AS (
  SELECT repo, path, MAX(lang) AS lang, MAX(content) AS content
  FROM corpus GROUP BY repo, path
)
SELECT repo, path,
       CAST(ROW_NUMBER() OVER (ORDER BY repo, path) - 1 AS BIGINT) AS id,
       lang, SHA256(content) AS content_sha
FROM per_file"""

    sql["clustering_coeff"] = f"""WITH {_PART_EDGES_CTE.strip()},
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM pedges e1
  JOIN pedges e2 ON e1.dst = e2.src
  JOIN pedges e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
credit AS (
  SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
),
tcount AS (SELECT id, COUNT(*) AS n FROM credit GROUP BY 1)
SELECT d.id, d.nbrs, COALESCE(t.n, 0) AS triangles,
       ROUND(CASE WHEN d.nbrs >= 2
                  THEN 2.0 * COALESCE(t.n, 0) / (d.nbrs * (d.nbrs - 1))
                  ELSE 0.0 END, 6) AS coeff
FROM pdeg d LEFT JOIN tcount t ON d.id = t.id"""

    sql["neighbor_jaccard"] = f"""WITH {_PART_EDGES_CTE.strip()},
common AS (
  SELECT p.src, p.dst, COUNT(*) AS common
  FROM pedges p
  JOIN psym a ON a.src = p.src
  JOIN psym b ON b.src = p.dst AND b.dst = a.dst
  GROUP BY 1, 2
)
SELECT p.src, p.dst, COALESCE(c.common, 0) AS common,
       ROUND(COALESCE(c.common, 0)
             / (na.nbrs + nb.nbrs - COALESCE(c.common, 0)), 6) AS jaccard
FROM pedges p
LEFT JOIN common c ON c.src = p.src AND c.dst = p.dst
JOIN pdeg na ON na.id = p.src
JOIN pdeg nb ON nb.id = p.dst"""

    sql["degree_assortativity"] = f"""WITH {_PART_EDGES_CTE.strip()},
j AS (
  SELECT ds.degree AS d_src, dd.degree AS d_dst
  FROM psym e JOIN pdeg ds ON ds.id = e.src JOIN pdeg dd ON dd.id = e.dst
)
SELECT ROUND(CORR(d_src, d_dst), 6) AS assortativity FROM j"""

    sql["kcore"] = f"""WITH {_PART_EDGES_CTE.strip()},
alive0 AS MATERIALIZED (SELECT id FROM pdeg),
alive1 AS MATERIALIZED (
  SELECT e.src AS id FROM psym e
  JOIN alive0 a ON e.src = a.id JOIN alive0 b ON e.dst = b.id
  GROUP BY e.src HAVING COUNT(*) >= 3
),
alive2 AS MATERIALIZED (
  SELECT e.src AS id FROM psym e
  JOIN alive1 a ON e.src = a.id JOIN alive1 b ON e.dst = b.id
  GROUP BY e.src HAVING COUNT(*) >= 3
),
alive3 AS MATERIALIZED (
  SELECT e.src AS id FROM psym e
  JOIN alive2 a ON e.src = a.id JOIN alive2 b ON e.dst = b.id
  GROUP BY e.src HAVING COUNT(*) >= 3
),
alive4 AS MATERIALIZED (
  SELECT e.src AS id FROM psym e
  JOIN alive3 a ON e.src = a.id JOIN alive3 b ON e.dst = b.id
  GROUP BY e.src HAVING COUNT(*) >= 3
),
alive5 AS MATERIALIZED (
  SELECT e.src AS id FROM psym e
  JOIN alive4 a ON e.src = a.id JOIN alive4 b ON e.dst = b.id
  GROUP BY e.src HAVING COUNT(*) >= 3
),
alive6 AS MATERIALIZED (
  SELECT e.src AS id FROM psym e
  JOIN alive5 a ON e.src = a.id JOIN alive5 b ON e.dst = b.id
  GROUP BY e.src HAVING COUNT(*) >= 3
),
alive7 AS MATERIALIZED (
  SELECT e.src AS id FROM psym e
  JOIN alive6 a ON e.src = a.id JOIN alive6 b ON e.dst = b.id
  GROUP BY e.src HAVING COUNT(*) >= 3
),
alive8 AS MATERIALIZED (
  SELECT e.src AS id FROM psym e
  JOIN alive7 a ON e.src = a.id JOIN alive7 b ON e.dst = b.id
  GROUP BY e.src HAVING COUNT(*) >= 3
),
alive9 AS MATERIALIZED (
  SELECT e.src AS id FROM psym e
  JOIN alive8 a ON e.src = a.id JOIN alive8 b ON e.dst = b.id
  GROUP BY e.src HAVING COUNT(*) >= 3
),
alive10 AS MATERIALIZED (
  SELECT e.src AS id FROM psym e
  JOIN alive9 a ON e.src = a.id JOIN alive9 b ON e.dst = b.id
  GROUP BY e.src HAVING COUNT(*) >= 3
),
alive11 AS MATERIALIZED (
  SELECT e.src AS id FROM psym e
  JOIN alive10 a ON e.src = a.id JOIN alive10 b ON e.dst = b.id
  GROUP BY e.src HAVING COUNT(*) >= 3
),
alive12 AS MATERIALIZED (
  SELECT e.src AS id FROM psym e
  JOIN alive11 a ON e.src = a.id JOIN alive11 b ON e.dst = b.id
  GROUP BY e.src HAVING COUNT(*) >= 3
)
SELECT id FROM alive12"""

    sql["ingest_imports"] = r"""
WITH corpus AS (
  SELECT source AS repo, 'doc_' || CAST(doc_id AS VARCHAR) AS path,
         'import doc_' || CAST((doc_id * 7) % (SELECT COUNT(*) FROM documents)
                               AS VARCHAR) || ';' || CHR(10) || text AS content
  FROM documents
),
ids AS (
  SELECT repo, path,
         CAST(ROW_NUMBER() OVER (ORDER BY repo, path) - 1 AS BIGINT) AS id
  FROM (SELECT DISTINCT repo, path FROM corpus)
),
stems AS (
  SELECT regexp_replace(path, '\.\w+$', '') AS stem, id AS dst FROM ids
),
imports AS (
  SELECT i.id AS src, u.m AS raw
  FROM corpus c
  JOIN ids i ON i.repo = c.repo AND i.path = c.path,
  LATERAL (
    SELECT UNNEST(regexp_extract_all(c.content,
      '(?m)^(?:import|use)[ \t]+"?([\w./:-]+)"?;?[ \t]*$', 1)) AS m
  ) u
),
resolved AS (
  SELECT src,
         list_extract(string_split(
           list_extract(string_split(
             list_extract(string_split(rtrim(raw, ';'), '/'), -1), '.'), -1),
           '::'), -1) AS stem
  FROM imports
)
SELECT r.src, s.dst, CAST(COUNT(*) AS DOUBLE) AS weight
FROM resolved r JOIN stems s ON s.stem = r.stem
WHERE r.src != s.dst
GROUP BY 1, 2"""

    sql["ingest_cochange"] = """
WITH k AS (
  SELECT DISTINCT l_orderkey AS k, l_partkey AS id
  FROM lineitem WHERE l_orderkey % 10 = 0
),
keep AS (SELECT k FROM k GROUP BY k HAVING COUNT(*) BETWEEN 2 AND 5),
kk AS (SELECT k.k, k.id FROM k JOIN keep USING (k)),
pairs AS (
  SELECT a.id AS src, b.id AS dst
  FROM kk a JOIN kk b ON a.k = b.k AND a.id < b.id
)
SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS weight FROM pairs GROUP BY 1, 2"""

    sql["graph_counts"] = f"""WITH {_EDGES_CTE.strip()}
SELECT (SELECT COUNT(*) FROM deg) AS vcount,
       (SELECT COUNT(*) FROM sym) AS ecount,
       (SELECT SUM(weight) FROM sym) AS total_weight"""

    sql["degrees"] = f"WITH {_EDGES_CTE.strip()} SELECT id, degree FROM deg"

    sql["neighbor_communities"] = f"""WITH {_EDGES_CTE.strip()}
SELECT e.src, n.community AS nbr_comm, SUM(e.weight) AS w_to_comm
FROM sym e JOIN nation n ON e.dst = n.id
WHERE e.src != e.dst
GROUP BY 1, 2"""

    sql["community_stats"] = f"""WITH {_EDGES_CTE.strip()},
totals AS (
  SELECT n.community, SUM(d.degree) AS total_weight
  FROM nation n JOIN deg d ON n.id = d.id GROUP BY 1
),
internal AS (
  SELECT ns.community, SUM(e.weight) AS internal_weight
  FROM sym e JOIN nation ns ON e.src = ns.id JOIN nation nd ON e.dst = nd.id
  WHERE ns.community = nd.community
  GROUP BY 1
)
SELECT t.community, COALESCE(i.internal_weight, 0.0) AS internal_weight,
       t.total_weight
FROM totals t LEFT JOIN internal i ON t.community = i.community"""

    sql["modularity_nation"] = f"""WITH {_EDGES_CTE.strip()},
totals AS (
  SELECT n.community, SUM(d.degree) AS total_weight
  FROM nation n JOIN deg d ON n.id = d.id GROUP BY 1
),
internal AS (
  SELECT ns.community, SUM(e.weight) AS internal_weight
  FROM sym e JOIN nation ns ON e.src = ns.id JOIN nation nd ON e.dst = nd.id
  WHERE ns.community = nd.community GROUP BY 1
)
SELECT ROUND(SUM(
  COALESCE(i.internal_weight, 0.0) / (SELECT s FROM s2m)
  - POW(t.total_weight / (SELECT s FROM s2m), 2)
), 6) AS q
FROM totals t LEFT JOIN internal i ON t.community = i.community
WHERE t.total_weight > 0"""

    sql["louvain_gain_argmax"] = f"""WITH {_EDGES_CTE.strip()},
cand0 AS (
  SELECT e.src, n.community AS nbr_comm, SUM(e.weight) AS k_ic
  FROM sym e JOIN nation n ON e.dst = n.id
  WHERE e.src != e.dst GROUP BY 1, 2
  UNION ALL
  SELECT id AS src, community AS nbr_comm, 0.0 AS k_ic FROM nation
),
cand AS (SELECT src, nbr_comm, SUM(k_ic) AS k_ic FROM cand0 GROUP BY 1, 2),
tot AS (
  SELECT n.community AS nbr_comm, SUM(d.degree) AS tot
  FROM nation n JOIN deg d ON n.id = d.id GROUP BY 1
),
scored AS (
  SELECT c.src, c.nbr_comm,
         c.k_ic - (t.tot - CASE WHEN c.nbr_comm = n.community THEN d.degree
                                ELSE 0.0 END) * d.degree / (SELECT s FROM s2m)
           AS score
  FROM cand c
  JOIN nation n ON c.src = n.id
  JOIN deg d ON c.src = d.id
  JOIN tot t ON c.nbr_comm = t.nbr_comm
),
ranked AS (
  SELECT src, nbr_comm, score,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY score DESC, nbr_comm ASC) AS rn
  FROM scored
)
SELECT src AS id, nbr_comm AS best_comm, ROUND(score, 6) AS score
FROM ranked WHERE rn = 1"""

    sql["coarsen_nation"] = f"""WITH {_EDGES_CTE.strip()}
SELECT ns.community AS c_src, nd.community AS c_dst, SUM(e.weight) AS weight
FROM sym e JOIN nation ns ON e.src = ns.id JOIN nation nd ON e.dst = nd.id
GROUP BY 1, 2"""

    # consolidated walk corpus: each family's full unrolled twin as a
    # subquery, discriminated by kind (WITH-in-subquery scopes the CTE names)
    sql["walk_corpus"] = (
        "SELECT 'uniform' AS kind, walk_id, step, vertex FROM ("
        + _walks_sql(WALK_LEN, WALKS_PER_VERTEX, 42)
        + ") tu\nUNION ALL\nSELECT 'weighted', walk_id, step, vertex FROM ("
        + _weighted_walks_sql(WALK_LEN, WALKS_PER_VERTEX, 42)
        + ") tw\nUNION ALL\nSELECT 'node2vec', walk_id, step, vertex FROM ("
        + _node2vec_sql(WALK_LEN, WALKS_PER_VERTEX, 42, *N2V_BIASES)
        + ") tn"
    )

    sql["walk_pairs"] = _walk_pairs_sql(WALK_LEN, WALKS_PER_VERTEX, 42, WALK_WINDOW)

    sql["graph_distances"] = (
        "SELECT 'bfs' AS kind, seed, id, CAST(dist AS DOUBLE) AS dist FROM ("
        + _bfs_sql(BFS_SOURCES, BFS_DEPTH)
        + ") tb\nUNION ALL\nSELECT 'sssp', seed, id, CAST(dist AS DOUBLE) FROM ("
        + _sssp_sql(BFS_SOURCES, BFS_DEPTH)
        + ") ts"
    )

    sql["topk_edges"] = f"""WITH {_PART_EDGES_CTE.strip()},
ranked AS (
  SELECT src, dst, weight,
         ROW_NUMBER() OVER (PARTITION BY src
                            ORDER BY weight DESC, dst ASC) AS rank
  FROM psym
)
SELECT src, dst, weight, rank FROM ranked WHERE rank <= {TOPK_EDGES_K}"""

    _ecc_sql = (
        "WITH " + _PART_EDGES_CTE.strip() + ",\n"
        + _bfs_ctes(BFS_SOURCES, BFS_DEPTH)
        + f"""
SELECT seed, MAX(dist) AS ecc, COUNT(*) AS n_reached
FROM d{BFS_DEPTH} GROUP BY seed"""
    )
    sql["path_centrality"] = (
        "SELECT 'ecc' AS kind, seed AS key, CAST(ecc AS DOUBLE) AS val FROM ("
        + _ecc_sql
        + ") te\nUNION ALL\nSELECT 'reached', seed, CAST(n_reached AS DOUBLE) FROM ("
        + _ecc_sql
        + ") tr\nUNION ALL\nSELECT 'closeness', id, closeness FROM ("
        + _closeness_sql(BFS_SOURCES, BFS_DEPTH)
        + ") tc"
    )

    sql["feature_smooth"] = _feature_smooth_sql(SMOOTH_ROUNDS, 3)

    sql["louvain_supersteps_fixed"] = _louvain_fixed_sql(LOUVAIN_FIXED_STEPS)

    sql["louvain_level2_fixed"] = _louvain_level2_sql(LOUVAIN_FIXED_STEPS)

    _TOKSH_CTE = """toks AS (
  SELECT doc_id,
         string_split(TRIM(regexp_replace(text, '[ \t\n\x0B\f\r]+', ' ', 'g')), ' ') AS t
  FROM documents
)"""

    def _shingle_cte(n: int) -> str:
        return f"""sh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         md5(array_to_string(t[i + 1:i + {n}], ' ')) AS h
  FROM toks, UNNEST(range(0, len(t) - {n} + 1)) AS r(i)
)"""

    sql["substring_dup_spans"] = f"""WITH {_TOKSH_CTE},
{_shingle_cte(SUBSTR_N)},
keep AS (SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) <= {SUBSTR_MAX_DF}),
shk AS (SELECT sh.doc_id, sh.pos, sh.h FROM sh JOIN keep USING (h)),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
         a.pos - b.pos AS diag
  FROM shk a JOIN shk b ON a.h = b.h AND a.doc_id < b.doc_id
),
g AS (
  SELECT doc_a, doc_b, diag, pos_a,
         pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                    ORDER BY pos_a) AS grp
  FROM m
)
SELECT doc_a, doc_b, MIN(pos_a) AS a_start,
       MIN(pos_a) - diag AS b_start,
       COUNT(*) AS n_grams,
       MAX(pos_a) - MIN(pos_a) + {SUBSTR_N} AS span_tokens
FROM g GROUP BY doc_a, doc_b, diag, grp"""

    sql["substring_mask"] = f"""WITH {_TOKSH_CTE},
{_shingle_cte(SUBSTR_N)},
keep AS (SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) <= {SUBSTR_MAX_DF}),
shk AS (SELECT sh.doc_id, sh.pos, sh.h FROM sh JOIN keep USING (h)),
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a,
         a.pos - b.pos AS diag
  FROM shk a JOIN shk b ON a.h = b.h AND a.doc_id < b.doc_id
),
g AS (
  SELECT doc_a, doc_b, diag, pos_a,
         pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag
                                    ORDER BY pos_a) AS grp
  FROM m
),
spans AS (
  SELECT doc_b AS doc_id, MIN(pos_a) - diag AS s,
         MIN(pos_a) - diag + MAX(pos_a) - MIN(pos_a) + {SUBSTR_N} AS e
  FROM g GROUP BY doc_a, doc_b, diag, grp
),
ivp AS (
  SELECT doc_id, s, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM spans
),
isl AS (
  SELECT doc_id, s, e,
         SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
  FROM ivp
),
merged AS (SELECT doc_id, isl, MIN(s) AS s, MAX(e) AS e FROM isl GROUP BY doc_id, isl),
niv AS (SELECT doc_id, COUNT(*) AS n_iv FROM merged GROUP BY doc_id),
tok_rows AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i + 1] AS tok
  FROM toks, UNNEST(range(0, len(t))) AS r(i)
),
covered AS (
  SELECT DISTINCT tr.doc_id, tr.pos
  FROM tok_rows tr JOIN merged mg
    ON tr.doc_id = mg.doc_id AND tr.pos >= mg.s AND tr.pos < mg.e
),
keptt AS (
  SELECT tr.doc_id, tr.pos, tr.tok
  FROM tok_rows tr LEFT JOIN covered c
    ON tr.doc_id = c.doc_id AND tr.pos = c.pos
  WHERE c.doc_id IS NULL
),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text,
         COUNT(*) AS n_kept
  FROM keptt GROUP BY doc_id
)
SELECT tk.doc_id,
       COALESCE(a.text, '') AS text,
       COALESCE(n.n_iv, 0) AS n_spans_removed,
       len(tk.t) - COALESCE(a.n_kept, 0) AS n_tokens_removed
FROM toks tk
LEFT JOIN agg a ON tk.doc_id = a.doc_id
LEFT JOIN niv n ON tk.doc_id = n.doc_id"""

    sql["contamination_flags"] = f"""WITH {_TOKSH_CTE},
{_shingle_cte(CONTAM_N)},
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % {CONTAM_MOD} = 0)
SELECT s.doc_id, COUNT(DISTINCT s.h) AS n_hits,
       COUNT(DISTINCT s.h) >= {CONTAM_MIN_HITS} AS contaminated
FROM sh s JOIN bench USING (h)
WHERE s.doc_id % {CONTAM_MOD} != 0
GROUP BY s.doc_id"""

    sql["louvain_supersteps_part"] = _louvain_fixed_sql(
        LOUVAIN_FIXED_STEPS,
        prefix=_PART_EDGES_CTE,
        sym="psym",
        init="\n  SELECT id, id AS community, degree AS k_i FROM pdeg",
        S="(SELECT SUM(degree) FROM pdeg)",
        gate="conflict",
    )

    # (lsh twin composed into ann_topk below)

    sql["pagerank"] = _pagerank_sql(10, 0.85)

    sql["personalized_pagerank"] = _ppr_sql(10, 0.85)

    sql["label_propagation"] = _lpa_sql(5)

    sql["minhash_lsh_dups"] = _minhash_sql(64, 16, 0.5)

    sql["simhash_dups"] = _simhash_sql(8)

    sql["hash_sample"] = """
SELECT doc_id, n_chars FROM documents
WHERE CAST('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 = 0"""

    sql["connected_components"] = f"""WITH RECURSIVE {_EDGES_CTE.strip()},
reach(id, r) AS (
  SELECT id, id FROM deg
  UNION
  SELECT s.src, reach.r FROM sym s JOIN reach ON s.dst = reach.id
)
SELECT id, MIN(r) AS component FROM reach GROUP BY id"""

    # each oriented triangle (a < b < c) credits its three corners in one
    # streaming pass: never materialize the triangles as rows (sf0.1 has
    # 124.5M); the sentinel total is the credit sum / 3
    sql["triangles_per_vertex"] = f"""WITH {_EDGES_CTE.strip()},
t AS MATERIALIZED (
  SELECT id, COUNT(*) AS n
  FROM (SELECT unnest([e1.src, e1.dst, e2.dst]) AS id
        FROM edges e1
        JOIN edges e2 ON e1.dst = e2.src
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst)
  GROUP BY id
)
SELECT d.id, COALESCE(t.n, 0) AS triangles
FROM deg d LEFT JOIN t ON d.id = t.id
UNION ALL
SELECT -1 AS id, CAST(COALESCE(SUM(n), 0) // 3 AS BIGINT) AS triangles FROM t"""

    sql["dedup_exact"] = f"""WITH RECURSIVE {_NGRAM_DOCS_CTE.strip()},
hashed AS (SELECT doc_id, SHA256(text) AS content_sha FROM documents),
canon AS (SELECT content_sha, MIN(doc_id) AS canonical_id FROM hashed GROUP BY 1),
inter AS (
  SELECT ra.doc_id AS a, rb.doc_id AS b, COUNT(*) AS i
  FROM rare ra JOIN rare rb ON ra.gram = rb.gram AND ra.doc_id < rb.doc_id
  GROUP BY 1, 2
),
dup_pairs AS (
  SELECT i.a, i.b
  FROM inter i JOIN sizes sa ON i.a = sa.doc_id JOIN sizes sb ON i.b = sb.doc_id
  WHERE CAST(i.i AS DOUBLE) / (sa.n_grams + sb.n_grams - i.i) >= 0.5
),
sym AS (
  SELECT a AS src, b AS dst FROM dup_pairs
  UNION ALL SELECT b, a FROM dup_pairs
),
reach(id, r) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.src, reach.r FROM sym s JOIN reach ON s.dst = reach.id
),
cc AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
SELECT h.doc_id, h.content_sha, c.canonical_id,
       h.doc_id != c.canonical_id AS is_duplicate,
       h.doc_id = c.canonical_id AS kept,
       COALESCE(cc.cluster, h.doc_id) AS cluster
FROM hashed h JOIN canon c ON h.content_sha = c.content_sha
LEFT JOIN cc ON h.doc_id = cc.id"""

    sql["ngram_jaccard_dups"] = f"""WITH {_NGRAM_DOCS_CTE.strip()},
inter AS (
  SELECT ra.doc_id AS a, rb.doc_id AS b, COUNT(*) AS i
  FROM rare ra JOIN rare rb ON ra.gram = rb.gram AND ra.doc_id < rb.doc_id
  GROUP BY 1, 2
)
SELECT i.a, i.b,
       ROUND(CAST(i.i AS DOUBLE) / (sa.n_grams + sb.n_grams - i.i), 6) AS jaccard
FROM inter i JOIN sizes sa ON i.a = sa.doc_id JOIN sizes sb ON i.b = sb.doc_id
WHERE CAST(i.i AS DOUBLE) / (sa.n_grams + sb.n_grams - i.i) >= 0.5"""

    _cos = """
qd AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       FROM embeddings),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         list_sum(list_transform(list_zip(q.v, c.v),
                  p -> p[1] * p[2])) AS dot,
         SQRT(list_sum(list_transform(q.v, x -> x * x))) AS nq,
         SQRT(list_sum(list_transform(c.v, x -> x * x))) AS nc
  FROM qd q, qd c
  WHERE {pred}
)"""

    _brute_topk_sql = (
        "WITH "
        + _cos.strip().format(pred="q.vec_id < 10 AND q.vec_id != c.vec_id")
        + """,
scored AS (
  SELECT query_id, vec_id, ROUND(dot / (nq * nc), 6) AS cosine
  FROM pairs
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5"""
    )

    _SIM = ("ROUND(list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
            " / (SQRT(list_sum(list_transform({a}, x -> x * x)))"
            " * SQRT(list_sum(list_transform({b}, x -> x * x)))), 6)")
    _ivf_topk_sql = f"""
WITH qd AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
cent AS (
  SELECT vec_id AS cell, v AS cv FROM qd
  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 32
),
asg AS (
  SELECT vec_id, v, cell FROM (
    SELECT q.vec_id, q.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_SIM.format(a='q.v', b='c.cv')} DESC,
                                       c.cell ASC) AS rn
    FROM qd q CROSS JOIN cent c
  ) t WHERE rn = 1
),
probed AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, c.cell,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {_SIM.format(a='q.v', b='c.cv')} DESC,
                                       c.cell ASC) AS pr
    FROM qd q CROSS JOIN cent c WHERE q.vec_id < 10
  ) t WHERE pr <= 8
),
scored AS (
  SELECT p.query_id, a.vec_id,
         {_SIM.format(a='p.qv', b='a.v')} AS cosine
  FROM probed p JOIN asg a ON a.cell = p.cell
  WHERE p.query_id != a.vec_id
),
ranked AS (
  SELECT query_id, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5"""

    sql["ann_topk"] = (
        "SELECT 'brute' AS method, query_id, vec_id, cosine, rank FROM ("
        + _brute_topk_sql
        + ") tb\nUNION ALL\nSELECT 'ivf', query_id, vec_id, cosine, rank FROM ("
        + _ivf_topk_sql
        + ") ti\nUNION ALL\nSELECT 'lsh', query_id, vec_id, cosine, rank FROM ("
        + _lsh_topk_sql(
            k=5, n_bits=LSH_TOPK_BITS, n_tables=LSH_TOPK_TABLES, seed=42, dim=64
        )
        + ") tl"
    )

    sql["embedding_near_dups"] = (
        "WITH "
        + _cos.strip().format(
            pred="q.vec_id < 100 AND c.vec_id < 100 AND q.vec_id < c.vec_id"
        )
        + """
SELECT query_id AS a, vec_id AS b, ROUND(dot / (nq * nc), 6) AS cosine
FROM pairs WHERE ROUND(dot / (nq * nc), 6) >= 0.99"""
    )

    _markers = {
        "en": "the|and|of|to|is|that",
        "de": "der|die|und|das|nicht|ist",
        "es": "el|los|que|es|una|por",
        "fr": "le|la|les|et|est|une",
    }
    hits = ",\n       ".join(
        f"LENGTH(regexp_extract_all(text, '(?i)\\b({pat})\\b')) AS h_{lang}"
        for lang, pat in _markers.items()
    )
    langs = sorted(_markers)
    best = "GREATEST(" + ", ".join(f"h_{l}" for l in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN h_{l} = {best} THEN '{l}'" for l in langs
    ) + " END"
    _lang_sql = f"""
WITH scored AS (
  SELECT doc_id,
       {hits}
  FROM documents
)
SELECT doc_id, {pred} AS pred_lang, {best} AS hits FROM scored"""

    _token_sql = r"""
SELECT doc_id,
       LENGTH(regexp_extract_all(text, '[^ \t\n\x0B\f\r]+')) AS ws_tokens,
       LENGTH(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^ \t\n\x0B\f\rA-Za-z0-9]'))
         AS bpe_ish_tokens
FROM documents"""

    _quality_sql = r"""
WITH feat AS (
  SELECT doc_id,
         LENGTH(text) AS n_chars,
         LENGTH(regexp_extract_all(text, '[^ \t\n\x0B\f\r]+')) AS n_words,
         LENGTH(regexp_extract_all(text, '[A-Za-z]')) AS n_letters,
         LENGTH(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
         LENGTH(regexp_extract_all(text, '(?i)\b(the|and|of|to|is|that)\b'))
           AS n_stop
  FROM documents
),
ratios AS (
  SELECT doc_id, n_chars, n_words,
         CASE WHEN n_words > 0 THEN CAST(n_letters AS DOUBLE) / n_words
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars
              ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) / n_words
              ELSE 0.0 END AS stopword_ratio
  FROM feat
)
SELECT doc_id, n_chars, n_words,
       ROUND(mean_word_len, 6) AS mean_word_len,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(stopword_ratio, 6) AS stopword_ratio,
       (CASE WHEN n_chars >= 50 THEN 0.25 ELSE 0.0 END
        + CASE WHEN mean_word_len >= 3 AND mean_word_len <= 12 THEN 0.25 ELSE 0.0 END
        + CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END
        + CASE WHEN stopword_ratio >= 0.01 THEN 0.25 ELSE 0.0 END)::DOUBLE AS quality
FROM ratios"""

    _fp_sql = r"""
SELECT doc_id,
       SHA256(TRIM(regexp_replace(LOWER(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fingerprint
FROM documents"""

    sql["text_stats"] = f"""
SELECT a.doc_id, a.pred_lang, a.hits, b.ws_tokens, b.bpe_ish_tokens,
       c.n_chars, c.n_words, c.mean_word_len, c.punct_ratio, c.stopword_ratio,
       c.quality, d.fingerprint
FROM ({_lang_sql}) a
JOIN ({_token_sql}) b ON a.doc_id = b.doc_id
JOIN ({_quality_sql}) c ON a.doc_id = c.doc_id
JOIN ({_fp_sql}) d ON a.doc_id = d.doc_id"""

    sql["corpus_select"] = f"""WITH {_NGRAM_DOCS_CTE.strip()},
inter AS (
  SELECT ra.doc_id AS a, rb.doc_id AS b, COUNT(*) AS i
  FROM rare ra JOIN rare rb ON ra.gram = rb.gram AND ra.doc_id < rb.doc_id
  GROUP BY 1, 2
),
near_losers AS (
  SELECT DISTINCT i.b AS doc_id
  FROM inter i JOIN sizes sa ON i.a = sa.doc_id JOIN sizes sb ON i.b = sb.doc_id
  WHERE CAST(i.i AS DOUBLE) / (sa.n_grams + sb.n_grams - i.i) >= 0.5
),
feat AS (
  SELECT doc_id,
         LENGTH(text) AS n_chars,
         LENGTH(regexp_extract_all(text, '[^ \\t\\n\\x0B\\f\\r]+')) AS n_words,
         LENGTH(regexp_extract_all(text, '[A-Za-z]')) AS n_letters,
         LENGTH(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
         LENGTH(regexp_extract_all(text, '(?i)\\b(the|and|of|to|is|that)\\b'))
           AS n_stop
  FROM documents
),
ratios AS (
  SELECT doc_id, n_chars, n_words,
         CASE WHEN n_words > 0 THEN CAST(n_letters AS DOUBLE) / n_words
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars
              ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) / n_words
              ELSE 0.0 END AS stopword_ratio
  FROM feat
),
qual AS (
  SELECT doc_id FROM ratios
  WHERE (CASE WHEN n_chars >= 50 THEN 0.25 ELSE 0.0 END
         + CASE WHEN mean_word_len >= 3 AND mean_word_len <= 12 THEN 0.25 ELSE 0.0 END
         + CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END
         + CASE WHEN stopword_ratio >= 0.01 THEN 0.25 ELSE 0.0 END) >= 0.75
),
lhits AS (
  SELECT doc_id,
         LENGTH(regexp_extract_all(text, '(?i)\\b(the|and|of|to|is|that)\\b')) AS h_en,
         LENGTH(regexp_extract_all(text, '(?i)\\b(der|die|und|das|nicht|ist)\\b')) AS h_de,
         LENGTH(regexp_extract_all(text, '(?i)\\b(el|los|que|es|una|por)\\b')) AS h_es,
         LENGTH(regexp_extract_all(text, '(?i)\\b(le|la|les|et|est|une)\\b')) AS h_fr
  FROM documents
),
engl AS (
  SELECT doc_id FROM lhits
  WHERE CASE WHEN h_de = GREATEST(h_de, h_en, h_es, h_fr) THEN 'de'
             WHEN h_en = GREATEST(h_de, h_en, h_es, h_fr) THEN 'en'
             WHEN h_es = GREATEST(h_de, h_en, h_es, h_fr) THEN 'es'
             WHEN h_fr = GREATEST(h_de, h_en, h_es, h_fr) THEN 'fr' END = 'en'
),
hashed AS (SELECT doc_id, SHA256(text) AS content_sha FROM documents),
canon AS (SELECT content_sha, MIN(doc_id) AS canonical_id FROM hashed GROUP BY 1),
exdups AS (
  SELECT h.doc_id FROM hashed h JOIN canon c ON h.content_sha = c.content_sha
  WHERE h.doc_id != c.canonical_id
)
SELECT d.doc_id, d.n_chars FROM documents d
JOIN qual USING (doc_id)
JOIN engl USING (doc_id)
WHERE NOT EXISTS (SELECT 1 FROM exdups x WHERE x.doc_id = d.doc_id)
  AND NOT EXISTS (SELECT 1 FROM near_losers n WHERE n.doc_id = d.doc_id)"""

    sql["multimodal_meta"] = """
SELECT doc_id AS media_id,
       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
       SHA256(text) AS sha
FROM documents"""

    # SUM over integers is HUGEINT in DuckDB but LONG in Spark — cast so the
    # driver's type-sensitive value hash sees identical int64 cells.
    sql["corpus_stats_rollup"] = """
SELECT COALESCE(lang, '<all>') AS lang,
       COALESCE(source, '<all>') AS source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY ROLLUP (lang, source)"""

    sql["char_quantiles"] = """
SELECT 'exact' AS method, lang,
       ROUND(quantile_cont(n_chars, 0.5), 6) AS p50,
       ROUND(quantile_cont(n_chars, 0.9), 6) AS p90,
       ROUND(quantile_cont(n_chars, 0.99), 6) AS p99
FROM documents GROUP BY lang
UNION ALL
SELECT 'approx_gk', lang,
       CAST(quantile_disc(n_chars, 0.5) AS DOUBLE) AS p50,
       CAST(quantile_disc(n_chars, 0.9) AS DOUBLE) AS p90,
       CAST(quantile_disc(n_chars, 0.99) AS DOUBLE) AS p99
FROM documents GROUP BY lang"""

    sql["stream_dedup_first"] = """
WITH feed AS (
  SELECT d.doc_id, e.ts, SHA256(d.text) AS content_sha
  FROM documents d JOIN events e ON e.event_id = d.doc_id
),
ranked AS (
  SELECT content_sha, doc_id, ts,
         ROW_NUMBER() OVER (PARTITION BY content_sha ORDER BY ts, doc_id) AS rn
  FROM feed
)
SELECT content_sha, doc_id AS first_doc_id,
       CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS first_epoch
FROM ranked WHERE rn = 1"""

    sql["events_topk"] = """
WITH rollup AS (
  SELECT CAST(EPOCH(DATE_TRUNC('hour', ts)) AS BIGINT) AS hour_epoch,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT hour_epoch, event_type, n_events,
         ROW_NUMBER() OVER (PARTITION BY hour_epoch
                            ORDER BY n_events DESC, event_type ASC) AS rank
  FROM rollup
)
SELECT hour_epoch, event_type, n_events, rank FROM ranked WHERE rank <= 3"""

    sql["user_cardinality"] = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events GROUP BY 1"""

    sql["events_hourly"] = """
SELECT CAST(EPOCH(DATE_TRUNC('hour', ts)) AS BIGINT) AS hour_epoch,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM events
GROUP BY 1, 2"""

    sql["events_sessionize"] = """
WITH lagged AS (
  SELECT user_id, event_id,
         EPOCH(ts) - EPOCH(LAG(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)) AS gap
  FROM events
),
flags AS (
  SELECT user_id,
         CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM lagged
)
SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM flags GROUP BY 1"""

    return sql
