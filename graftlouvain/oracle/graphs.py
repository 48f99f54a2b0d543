"""Sequential oracles for PageRank / connected components / label propagation /
triangle counting — dict-based, same semantics as the Spark operators (see the
operator module docstrings for the published sources)."""

from __future__ import annotations

from collections import defaultdict

from graftlouvain.oracle.louvain_seq import symmetrize


def _adj(edges):
    sym = symmetrize(edges)
    adj = defaultdict(dict)
    for (s, d), w in sorted(sym.items()):
        adj[s][d] = w
    return adj


def seq_pagerank(edges, alpha=0.85, tol=1e-9, max_iter=100, n_iter=None):
    adj = _adj(edges)
    V = len(adj)
    if V == 0:
        return {}
    out_w = {v: sum(adj[v].values()) for v in adj}
    ranks = {v: 1.0 / V for v in adj}
    base = (1.0 - alpha) / V
    iters = n_iter if n_iter is not None else max_iter
    for _ in range(iters):
        mass = defaultdict(float)
        for u in adj:
            ru = ranks[u]
            ow = out_w[u]
            for v, w in adj[u].items():
                mass[v] += ru * (w / ow)
        new_ranks = {v: base + alpha * mass.get(v, 0.0) for v in adj}
        if n_iter is None:
            delta = sum(abs(new_ranks[v] - ranks[v]) for v in adj)
            ranks = new_ranks
            if delta < tol:
                break
        else:
            ranks = new_ranks
    return ranks


def seq_components(edges):
    adj = _adj(edges)
    labels = {v: v for v in adj}
    changed = True
    while changed:
        changed = False
        new = dict(labels)
        for v in adj:
            m = min([labels[v]] + [labels[u] for u in adj[v]])
            if m < new[v]:
                new[v] = m
                changed = True
        labels = new
    return labels


def seq_label_propagation(edges, max_iter=5):
    adj = _adj(edges)
    labels = {v: v for v in adj}
    for _ in range(max_iter):
        new = {}
        for v in adj:
            weights = defaultdict(float)
            for u, w in adj[v].items():
                if u != v:
                    weights[labels[u]] += w
            if not weights:
                new[v] = labels[v]
            else:
                best_w = max(weights.values())
                new[v] = min(l for l, w in weights.items() if w == best_w)
        if new == labels:
            labels = new
            break
        labels = new
    return labels


def seq_triangles(edges):
    """Returns (total, per_vertex dict), each pair oriented from the lower
    (distinct-neighbour count, id) endpoint, as ``_local_triangles`` does: a
    total order whatever the weights (a weighted degree holding a NaN is
    none, and loses triangles). Counts never depend on the orientation."""
    adj = _adj(edges)
    deg = {v: sum(1 for u in adj[v] if u != v) for v in adj}
    pairs = {(min(s, d), max(s, d)) for s in adj for d in adj[s] if s != d}

    def key(v):
        return (deg[v], v)

    out = defaultdict(set)
    for u, v in pairs:
        lo, hi = (u, v) if key(u) < key(v) else (v, u)
        out[lo].add(hi)
    total = 0
    per_v = defaultdict(int)
    for a in out:
        for b in out[a]:
            for c in out.get(b, ()):
                if c in out[a]:
                    total += 1
                    per_v[a] += 1
                    per_v[b] += 1
                    per_v[c] += 1
    return total, {v: per_v.get(v, 0) for v in adj}
