"""Correctness oracles for the benchmark's outputs: numpy, pandas, hashlib and
DuckDB recomputations that share no code with the engine. Each check
returns a list of failure messages (empty = pass)."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def symmetric_pairs(src, dst, w) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Pair-aggregated symmetric edge arrays (each non-self-loop edge in both
    directions, self-loops once, duplicate pairs summed) — the LinkGraph
    edge-table semantics, rebuilt in numpy."""
    src, dst, w = (np.asarray(a) for a in (src, dst, w))
    loop = src == dst
    s = np.concatenate([src, dst[~loop]])
    d = np.concatenate([dst, src[~loop]])
    ww = np.concatenate([w, w[~loop]]).astype("float64")
    df = pd.DataFrame({"s": s, "d": d, "w": ww}).groupby(["s", "d"], sort=True)["w"].sum()
    idx = df.index
    return (idx.get_level_values(0).to_numpy(), idx.get_level_values(1).to_numpy(),
            df.to_numpy())


def modularity(src, dst, w, ids, labels) -> float:
    """Textbook Q = Σ_C [in_C/S − (tot_C/S)²] over a SYMMETRIC edge table."""
    lab = pd.Series(np.asarray(labels), index=np.asarray(ids))
    cs, cd = lab.loc[src].to_numpy(), lab.loc[dst].to_numpy()
    s_total = float(np.sum(w))
    internal = float(np.sum(np.where(cs == cd, w, 0.0)))
    tot = pd.Series(w).groupby(cs).sum().to_numpy()
    return internal / s_total - float(np.sum((tot / s_total) ** 2))


def check_modularity(name: str, reported: float, expected: float) -> list[str]:
    if abs(reported - expected) > 1e-9:
        return [f"{name}: engine Q {reported!r} != recomputed {expected!r}"]
    return []


def pagerank(src, dst, w, ids, n_iter: int, alpha: float = 0.85) -> np.ndarray:
    """Power iteration r' = (1−α)/V + α Σ_{u→v} r(u)·w/outw(u) on a symmetric
    table (no dangling vertices), returned in ``ids`` order."""
    pos = pd.Series(np.arange(len(ids)), index=np.asarray(ids))
    si, di = pos.loc[src].to_numpy(), pos.loc[dst].to_numpy()
    n = len(ids)
    outw = np.bincount(si, weights=w, minlength=n)
    share = w / outw[si]
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        r = (1.0 - alpha) / n + alpha * np.bincount(di, weights=r[si] * share, minlength=n)
    return r


def check_pagerank(ids, ranks, expected_ids, expected) -> list[str]:
    got = pd.Series(np.asarray(ranks), index=np.asarray(ids)).loc[expected_ids].to_numpy()
    errs = []
    if abs(float(np.sum(ranks)) - 1.0) > 1e-9:
        errs.append(f"pagerank: ranks sum to {float(np.sum(ranks))!r}, not 1")
    diff = float(np.max(np.abs(got - expected)))
    if diff > 1e-6:
        errs.append(f"pagerank: max |engine - numpy| = {diff:.3g} > 1e-6")
    return errs


def components(src, dst, ids) -> np.ndarray:
    """Union-find (hooking on the smaller root + full path compression by
    pointer jumping, vectorized): the minimum vertex id of each vertex's
    component, in ``ids`` order."""
    ids = np.asarray(ids)
    pos = pd.Series(np.arange(len(ids)), index=ids)
    si, di = pos.loc[src].to_numpy(), pos.loc[dst].to_numpy()
    order = np.argsort(ids)  # positions sorted by id: parent = smallest-id root
    rank = np.empty_like(order)
    rank[order] = np.arange(len(ids))
    parent = rank.copy()  # work in id-rank space so min() picks the min id
    while True:
        ru, rv = parent[rank[si]], parent[rank[di]]
        lo, hi = np.minimum(ru, rv), np.maximum(ru, rv)
        prev = parent.copy()
        np.minimum.at(parent, hi, lo)
        while True:  # pointer jumping until every node points at a root
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
        if np.array_equal(parent, prev):
            return ids[order[parent[rank]]]


def check_components(ids, comp, expected_ids, expected) -> list[str]:
    got = pd.Series(np.asarray(comp), index=np.asarray(ids)).loc[expected_ids].to_numpy()
    bad = int(np.sum(got != expected))
    return [f"components: {bad} vertices differ from union-find"] if bad else []


def duckdb_triangles(src, dst) -> int:
    """Triangle count of the undirected simple graph over (src, dst)."""
    import duckdb

    e = pd.DataFrame({"a": np.minimum(src, dst), "b": np.maximum(src, dst)})
    e = e[e.a != e.b].drop_duplicates()
    con = duckdb.connect()
    try:
        con.register("e", e)
        return int(con.execute(
            "SELECT count(*) FROM e x JOIN e y ON x.b = y.a "
            "JOIN e z ON z.a = x.a AND z.b = y.b"
        ).fetchone()[0])
    finally:
        con.close()


def check_triangles(per_vertex_total: int, expected: int) -> list[str]:
    if per_vertex_total != 3 * expected:
        return [f"triangles: per-vertex credits {per_vertex_total} != 3 x DuckDB {expected}"]
    return []


def check_file_shas(files: pd.DataFrame, corpus: pd.DataFrame) -> list[str]:
    """``file_table`` carries sha256 of each file's canonical (lexicographic
    max) content."""
    canon = corpus.groupby(["repo", "path"])["content"].max()
    got = files.set_index(["repo", "path"])
    errs = []
    if len(got) != len(canon):
        errs.append(f"file_table: {len(got)} files, corpus has {len(canon)}")
    content = got["content"].reindex(canon.index)
    if not content.equals(canon):
        errs.append("file_table: content is not the canonical max content")
    bad = sum(
        hashlib.sha256(c.encode()).hexdigest() != h
        for c, h in zip(got["content"], got["content_sha"])
    )
    if bad:
        errs.append(f"file_table: {bad} content_sha values != sha256(content)")
    return errs


def check_digests(name: str, digests: list) -> list[str]:
    """Every timed iteration must produce the same output digest."""
    first = digests[0] if digests else None
    bad = [i for i, d in enumerate(digests) if d != first]
    return [f"{name}: digest of iterations {bad} differs from iteration 0"] if bad else []
