"""Deterministic graph fixtures (FIXTURES.md §2). Edge lists are literal values
of the reference's test data, cited per fixture."""

# fixture_28 — canonical 16-vertex / 28-edge unit-weight graph
# (/root/reference/tests/distributed_graph.rs:29-58; also main.rs:7-40)
FIXTURE_28 = [
    (1, 2), (1, 4), (1, 7), (2, 0), (2, 4), (2, 5), (2, 6), (3, 0), (3, 7),
    (4, 0), (4, 10), (5, 0), (5, 7), (5, 11), (6, 7), (6, 11), (8, 9), (8, 10),
    (8, 11), (8, 14), (8, 15), (9, 12), (9, 14), (10, 11), (10, 12), (10, 13),
    (10, 14), (11, 13),
]
FIXTURE_28_W = [(s, d, 1.0) for s, d in FIXTURE_28]

# Golden degrees (FIXTURES.md §2a; Σ=56, Σk²=224)
FIXTURE_28_DEGREES = {
    0: 4, 1: 3, 2: 5, 3: 2, 4: 4, 5: 4, 6: 3, 7: 4,
    8: 5, 9: 3, 10: 6, 11: 5, 12: 2, 13: 2, 14: 3, 15: 1,
}

# fixture_w5 — 5-vertex weighted graph
# (/root/reference/src/louvain/communitystate.rs:622-638, undirected form)
FIXTURE_W5 = [
    (0, 1, 1.0), (0, 2, 2.0), (1, 2, 3.0), (1, 3, 4.0), (2, 3, 5.0), (3, 4, 6.0),
]
FIXTURE_W5_DEGREES = {0: 3.0, 1: 8.0, 2: 10.0, 3: 15.0, 4: 6.0}


def fixture_k100():
    """100-vertex complete weighted graph, w=(i+j)/100
    (/root/reference/src/louvain/communitystate.rs:640-648)."""
    return [
        (i, j, (i + j) / 100.0) for i in range(100) for j in range(i + 1, 100)
    ]


# fixture_karate — Zachary karate club, 34 vertices / 78 edges, 0-indexed
# (public dataset, Zachary 1977; standard edge list)
FIXTURE_KARATE = [
    (0, 1), (0, 2), (0, 3), (0, 4), (0, 5), (0, 6), (0, 7), (0, 8), (0, 10),
    (0, 11), (0, 12), (0, 13), (0, 17), (0, 19), (0, 21), (0, 31), (1, 2),
    (1, 3), (1, 7), (1, 13), (1, 17), (1, 19), (1, 21), (1, 30), (2, 3),
    (2, 7), (2, 8), (2, 9), (2, 13), (2, 27), (2, 28), (2, 32), (3, 7),
    (3, 12), (3, 13), (4, 6), (4, 10), (5, 6), (5, 10), (5, 16), (6, 16),
    (8, 30), (8, 32), (8, 33), (9, 33), (13, 33), (14, 32), (14, 33),
    (15, 32), (15, 33), (18, 32), (18, 33), (19, 33), (20, 32), (20, 33),
    (22, 32), (22, 33), (23, 25), (23, 27), (23, 29), (23, 32), (23, 33),
    (24, 25), (24, 27), (24, 31), (25, 31), (26, 29), (26, 33), (27, 33),
    (28, 31), (28, 33), (29, 32), (29, 33), (30, 32), (30, 33), (31, 32),
    (31, 33), (32, 33),
]
FIXTURE_KARATE_W = [(s, d, 1.0) for s, d in FIXTURE_KARATE]


def fixture_hub(n_blocks: int = 4, block_size: int = 8, seed: int = 42):
    """Star-plus-communities skew fixture (FIXTURES.md §2e): vertex 0 is a hub
    connected to all others over dense blocks. Pure function of parameters."""
    edges = []
    v = 1
    blocks = []
    for _b in range(n_blocks):
        block = list(range(v, v + block_size))
        blocks.append(block)
        v += block_size
        for i, a in enumerate(block):
            for b in block[i + 1:]:
                edges.append((a, b, 1.0))
    for u in range(1, v):
        edges.append((0, u, 1.0))
    return edges


def to_df(spark, edges):
    """Edge list → DataFrame[src long, dst long, weight double]."""
    rows = [(int(s), int(d), float(w)) for s, d, w in edges]
    return spark.createDataFrame(rows, "src long, dst long, weight double")


def tiers(monkeypatch):
    """Yield each tier of the operators with a local numpy kernel (Louvain,
    PageRank, triangles) in turn, as ``LevelStats.path`` names it: first the
    default, under which every graph here is small enough for the local
    kernels, then the SQL plans throughout (``LOCAL_MAX_EDGES`` = −1). A
    loop that runs to its end restores the default."""
    import graftlouvain.operators.graph as graph_mod

    default = graph_mod.LOCAL_MAX_EDGES
    yield "local"
    monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", -1)
    yield "spark"
    monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", default)
