"""Sequential (single-process, dict-based) oracle for the engine's synchronous
Louvain variant — the correctness anchor demanded by SURVEY.md §5 because the
reference's own move phase is ``todo!()`` (communities.rs:74) and ships no
golden labels.

This implements EXACTLY the same semantics as
graftlouvain.operators.louvain._superstep: same score formula, same
smallest-community tie-break, same oscillation gate (``gate_mode="conflict"``
default — improving moves apply unless the target community is itself losing
a preliminary mover AND target > cur; ``"parity"`` = the r2-r4 even/odd
direction gate), same strict-gain rule, same level termination (one quiet
superstep for the step-independent conflict gate, a quiet even+odd pair for
parity), same coarsening and min-q-gain level loop, and the same rule that a
level whose Q is below the previous level's is never committed. Arithmetic
uses the same f64 formula ``k_ic - tot' * k_i / S`` so that with
integer-valued weights the comparisons are bit-identical to Spark's.
"""

from __future__ import annotations

from collections import defaultdict


def symmetrize(edges):
    """Mirror non-self-loop edges and aggregate duplicate pairs — the oracle
    twin of LinkGraph.from_edges (graph.rs:263-325 semantics)."""
    agg = defaultdict(float)
    for s, d, w in edges:
        agg[(s, d)] += w
        if s != d:
            agg[(d, s)] += w
    return agg


def _graph_tables(edges):
    sym = symmetrize(edges)
    adj = defaultdict(dict)  # src -> {dst: w}
    deg = defaultdict(float)
    for (s, d), w in sorted(sym.items()):
        adj[s][d] = w
        deg[s] += w
    S = sum(deg.values())
    return adj, dict(deg), S


def seq_modularity(edges, assignments, reference_convention=False):
    adj, deg, S = _graph_tables(edges)
    if S == 0:
        return 0.0
    m2 = 2.0 * S if reference_convention else S
    internal = defaultdict(float)
    tot = defaultdict(float)
    for v, k in deg.items():
        tot[assignments[v]] += k
    for s, nbrs in adj.items():
        for d, w in nbrs.items():
            if assignments[s] == assignments[d]:
                internal[assignments[s]] += w
    return sum(
        internal[c] / m2 - (tot[c] / m2) ** 2 for c in tot if tot[c] > 0
    )


def _superstep_seq(adj, deg, S, asg, step, gain_eps, gate_mode="conflict"):
    tot = defaultdict(float)
    for v, k in deg.items():
        tot[asg[v]] += k
    prelim = {}  # v -> best_c over strictly-improving argmax winners
    for v in adj:
        cur = asg[v]
        k_i = deg[v]
        k_ic = defaultdict(float)
        k_ic[cur] = 0.0  # own community always a candidate
        for d, w in adj[v].items():
            if d != v:
                k_ic[asg[d]] += w
        best_c, best_score, stay_score = None, None, None
        for c in sorted(k_ic):
            t = tot[c] - (k_i if c == cur else 0.0)
            score = k_ic[c] - t * k_i / S
            if c == cur:
                stay_score = score
            if best_score is None or score > best_score:
                best_c, best_score = c, score
            # ties: sorted(c) ascending + strict > keeps the smallest id
        if best_c != cur and best_score > stay_score + gain_eps:
            prelim[v] = best_c
    if gate_mode == "conflict":
        # moves into communities that are themselves losing a preliminary
        # mover only apply in the descending-id direction
        moved_comms = {asg[v] for v in prelim}
        moves = {
            v: c for v, c in prelim.items()
            if c < asg[v] or c not in moved_comms
        }
    else:  # "parity": even steps move down-id only, odd steps up-id only
        moves = {
            v: c for v, c in prelim.items()
            if (c < asg[v]) == (step % 2 == 0)
        }
    new_asg = dict(asg)
    new_asg.update(moves)
    return new_asg, len(moves)


def _quiet_target(gate_mode):
    return 1 if gate_mode == "conflict" else 2


def seq_louvain_level(edges, assignments=None, max_supersteps=64, gain_eps=1e-12,
                      gate_mode="conflict"):
    adj, deg, S = _graph_tables(edges)
    asg = dict(assignments) if assignments else {v: v for v in adj}
    zero_streak, steps = 0, 0
    for step in range(max_supersteps):
        asg, n = _superstep_seq(adj, deg, S, asg, step, gain_eps, gate_mode)
        steps += 1
        zero_streak = zero_streak + 1 if n == 0 else 0
        if zero_streak >= _quiet_target(gate_mode):
            break
    return asg, steps


def _graph_tables_pre(sym):
    adj = defaultdict(dict)
    deg = defaultdict(float)
    for (s, d), w in sorted(sym.items()):
        adj[s][d] = w
        deg[s] += w
    return adj, dict(deg), sum(deg.values())


def seq_louvain(edges, max_levels=20, max_supersteps=64, gain_eps=1e-12, min_q_gain=1e-7,
                gate_mode="conflict"):
    """Full multi-level oracle. Returns (assignments over original ids, Q)."""
    sym = symmetrize(edges)
    adj, deg, S = _graph_tables_pre(sym)
    global_asg = {v: v for v in adj}
    cur_sym = sym
    q_prev = _q_of(cur_sym, {v: v for v in adj})
    q = q_prev
    for _level in range(max_levels):
        adj, deg, S = _graph_tables_pre(cur_sym)
        asg = {v: v for v in adj}
        zero_streak = 0
        for step in range(max_supersteps):
            asg, n = _superstep_seq(adj, deg, S, asg, step, gain_eps, gate_mode)
            zero_streak = zero_streak + 1 if n == 0 else 0
            if zero_streak >= _quiet_target(gate_mode):
                break
        q = _q_of(cur_sym, asg)
        if q < q_prev:  # never commit a level that lowers Q
            q = q_prev
            break
        global_asg = {v: asg[c] for v, c in global_asg.items()}
        if q - q_prev < min_q_gain:
            break
        q_prev = q
        nxt = defaultdict(float)
        for (s, d), w in cur_sym.items():
            nxt[(asg[s], asg[d])] += w
        cur_sym = nxt
        if len({s for s, _ in cur_sym}) <= 1:
            break
    return global_asg, q


def _q_of(sym, asg):
    deg = defaultdict(float)
    for (s, _d), w in sym.items():
        deg[s] += w
    S = sum(deg.values())
    if S == 0:
        return 0.0
    internal = defaultdict(float)
    tot = defaultdict(float)
    for v, k in deg.items():
        tot[asg[v]] += k
    for (s, d), w in sym.items():
        if asg[s] == asg[d]:
            internal[asg[s]] += w
    return sum(internal[c] / S - (tot[c] / S) ** 2 for c in tot if tot[c] > 0)
