"""Per-layer metrics of a traced run, derived from the spans of trace.py.

Every metric is printed for every workload; a layer the workload does not
exercise reads 0 (e.g. the analytics operators on ``planted_louvain``).
Times of traced iterations are medians over those iterations.
"""

from __future__ import annotations

import statistics

from perfbench.workloads import MIN_MOVES_FRAC

LOUVAIN_MAX_SUPERSTEPS = 64  # louvain()'s default cap, which the workloads keep
OPS = [
    ("operators.pagerank.pagerank", "pagerank"),
    ("operators.components.components", "components"),
    ("operators.labelprop.label_propagation", "label propagation"),
    ("operators.triangles.triangles_per_vertex", "triangles"),
]


def _louvain(tracer, spans, untraced_louvain_s) -> dict:
    top = [s for s in spans if s.name == "operators.louvain.louvain"]
    if not top:
        return {}
    lv = top[0]
    res = lv.result
    levels = res.levels
    # graph of each level: the input graph, then each coarsen() output
    root = tracer.spans[lv.parent]
    inputs = [s.result for s in tracer.children(root) if s.name == "operators.graph.from_edges"]
    graphs = inputs[:1] + [s.result for s in spans if s.name == "operators.louvain.coarsen"]
    supersteps = sum(x.supersteps for x in levels)
    superstep_s = sum(sum(x.wall_ms) for x in levels) / 1000.0
    edge_work = sum(g.stats.num_directed_edges * x.supersteps for g, x in zip(graphs, levels))
    useful = sum(
        sum(1 for m in x.moves if m > int(MIN_MOVES_FRAC * max(g.stats.num_vertices, 1)))
        for g, x in zip(graphs, levels)
    )
    steps = [s for s in spans if s.name == "operators.louvain.swap_observed_multi"]
    step_jobs = sum(tracer.totals(s)[0] for s in steps)
    step_tasks = sum(tracer.totals(s)[2] for s in steps)
    return {
        "operators.louvain.louvain_s": (lv.dur, "s"),
        "operators.louvain.superstep_s": (superstep_s, "s"),
        "operators.louvain.superstep_edge_rate": (edge_work / max(superstep_s, 1e-9), "1/s"),
        "operators.louvain.level_s": (
            sum(s.dur for s in spans if s.name == "operators.louvain.louvain_level"), "s"),
        "operators.louvain.coarsen_s": (
            sum(s.dur for s in spans if s.name == "operators.louvain.coarsen"), "s"),
        # no checkpointer in these workloads: checkpoint time is 0
        "operators.louvain.level_overhead_s": (lv.dur - superstep_s, "s"),
        "operators.louvain.jobs_per_superstep": (step_jobs / max(supersteps, 1), "count"),
        "operators.louvain.tasks_per_superstep": (step_tasks / max(supersteps, 1), "count"),
        "operators.louvain.levels": (len(levels), "count"),
        "operators.louvain.moves": (sum(sum(x.moves) for x in levels), "count"),
        "operators.louvain.capped_levels": (
            sum(x.supersteps >= LOUVAIN_MAX_SUPERSTEPS for x in levels), "count"),
        "operators.louvain.useful_superstep_frac": (useful / max(supersteps, 1), "ratio"),
        "operators.louvain.trace_coverage": (
            lv.dur / untraced_louvain_s if untraced_louvain_s else 0.0, "ratio"),
    }


def _one_iteration(tracer, it: str, untraced_louvain_s: float) -> dict:
    spans = [s for s in tracer.spans if s.iteration == it]
    root = next(s for s in spans if s.parent is None)
    m = _louvain(tracer, spans, untraced_louvain_s)
    builds = [s for s in tracer.children(root) if s.name == "operators.graph.from_edges"]
    if builds:
        m["operators.graph.from_edges_s"] = (sum(s.dur for s in builds), "s")
    mats = [s for s in spans if s.name == "functions.iterate.materialize"]
    m["functions.iterate.materialize_s"] = (sum(s.dur for s in mats), "s")
    m["functions.iterate.materialize_calls"] = (len(mats), "count")
    for name, label in OPS:
        # an operator's cost = its call + the digest that forces its output
        sub = [s for s in spans if s.name in (name, f"force.{label}")]
        m[f"{name}_s"] = (sum(s.dur for s in sub), "s")
        m[f"{name}.jobs"] = (sum(tracer.totals(s)[0] for s in sub), "count")
        m[f"{name}.tasks"] = (sum(tracer.totals(s)[2] for s in sub), "count")
    m["trace.spans"] = (len(spans), "count")
    return m


def per_layer(wl, tracer, untraced, traced) -> dict:
    """``untraced``: [(group counts, wall, outputs)]; ``traced``:
    [(iteration id, wall, outputs)]."""
    louv_untraced = [o["louvain_s"] for _, _, o in untraced if "louvain_s" in o]
    louv_s = statistics.median(louv_untraced) if louv_untraced else 0.0
    per_it = [_one_iteration(tracer, it, louv_s) for it, _, _ in traced]
    m = {}
    for key in per_it[0]:
        vals = [p[key][0] for p in per_it if key in p]
        m[key] = (statistics.median(vals), per_it[0][key][1])
    # set-up spans: the corpus ingest and graph build of graph_suite
    setup = [s for s in tracer.spans if s.iteration == "setup"]
    ft = [s for s in setup if s.name == "sources.edges.file_table"]
    m["sources.edges.file_table_s"] = (sum(s.dur for s in ft), "s")
    m["sources.edges.files"] = (wl.num_files(), "count")
    if "operators.graph.from_edges_s" not in m:
        builds = [s for s in setup if s.name == "operators.graph.from_edges"
                  and tracer.spans[s.parent].name == "setup"]
        m["operators.graph.from_edges_s"] = (sum(s.dur for s in builds), "s")
    graph = wl.input_graph(traced[-1][2])
    m["operators.graph.directed_edges"] = (graph.stats.num_directed_edges, "count")
    m["operators.graph.vertices"] = (graph.stats.num_vertices, "count")
    for key in [k for k in ALL if k not in m]:
        m[key] = (0, ALL[key])
    counts = [c for c, _, _ in untraced]
    for i, name in enumerate(("spark.jobs", "spark.stages", "spark.tasks")):
        m[name] = (statistics.median(c[i] for c in counts), "count")
    m["trace.overhead_s"] = (
        statistics.median(w for _, w, _ in traced) - statistics.median(w for _, w, _ in untraced),
        "s",
    )
    return m


def self_times(tracer) -> dict:
    """Total self time per span name over the traced iterations."""
    out: dict[str, float] = {}
    for s in tracer.spans:
        if s.iteration != "setup":
            out[s.name] = out.get(s.name, 0.0) + tracer.self_time(s)
    return out


# every per-layer metric with its unit (BENCHMARK.json lists the same set)
ALL = {
    "session.get_spark_s": "s",
    "sources.edges.file_table_s": "s",
    "sources.edges.files": "count",
    "operators.graph.from_edges_s": "s",
    "operators.graph.directed_edges": "count",
    "operators.graph.vertices": "count",
    "operators.louvain.louvain_s": "s",
    "operators.louvain.superstep_s": "s",
    "operators.louvain.superstep_edge_rate": "1/s",
    "operators.louvain.level_s": "s",
    "operators.louvain.coarsen_s": "s",
    "operators.louvain.level_overhead_s": "s",
    "operators.louvain.jobs_per_superstep": "count",
    "operators.louvain.tasks_per_superstep": "count",
    "operators.louvain.levels": "count",
    "operators.louvain.moves": "count",
    "operators.louvain.capped_levels": "count",
    "operators.louvain.useful_superstep_frac": "ratio",
    "operators.louvain.trace_coverage": "ratio",
    "functions.iterate.materialize_s": "s",
    "functions.iterate.materialize_calls": "count",
    **{f"{name}{sfx}": unit for name, _ in OPS
       for sfx, unit in (("_s", "s"), (".jobs", "count"), (".tasks", "count"))},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}
