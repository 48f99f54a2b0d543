"""The benchmark's workloads. Each drives the engine through its public API
only, calling functions through their modules so the tracer's wrappers
(see trace.py) see every call.

- ``planted_louvain``: stored planted-partition edges → ``LinkGraph.from_edges``
  → ``louvain(min_moves_frac=0.02)`` per iteration, no checkpointer.
- ``graph_suite``: the north-star corpus ingest (``read_corpus`` →
  ``file_table`` → ``combined_edges`` → ``from_edges``) once in set-up, then
  PageRank (10 iterations), connected components, label propagation and
  per-vertex triangles per iteration.
"""

from __future__ import annotations

import time
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import graftlouvain.operators.components as components_mod
import graftlouvain.operators.graph as graph_mod
import graftlouvain.operators.labelprop as labelprop_mod
import graftlouvain.operators.louvain as louvain_mod
import graftlouvain.operators.pagerank as pagerank_mod
import graftlouvain.operators.triangles as triangles_mod
import graftlouvain.sources.corpus as corpus_mod
import graftlouvain.sources.edges as edges_mod

from perfbench import gate, inputs

# Louvain's convergence slack: a level ends after two consecutive
# supersteps that each move < 2 % of its vertices. With the exact fixpoint
# (slack 0) a 1.5M-edge planted graph hit max_supersteps=64 at level 0 and
# ran 100-120 s instead of converging.
MIN_MOVES_FRAC = 0.02
PAGERANK_ITERS = 10


def digest(df, cols) -> int:
    """Order-independent content digest ``bit_xor(xxhash64(*cols))``; as a
    single aggregate over every row it also forces ``df``."""
    row = df.select(F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])).alias("d")).first()
    return int(row["d"] or 0)


class RoundCounter:
    """Counts calls of a function as bound in given modules — used to read
    how many supersteps the fixpoint operators ran (each calls
    ``swap_observed`` once per superstep). One integer increment per
    superstep; installed for timed and traced iterations alike."""

    def __init__(self, modules, attr):
        self.count = 0
        self._saved = []
        for mod in modules:
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._counting(fn))

    def _counting(self, fn):
        def counted(*args, **kwargs):
            self.count += 1
            return fn(*args, **kwargs)

        return counted

    def close(self):
        for mod, attr, fn in self._saved:
            setattr(mod, attr, fn)


class Workload:
    """Shared defaults. ``force_span(name)`` wraps each digest that forces
    an output; the traced run points it at the tracer."""

    force_span = staticmethod(lambda name: nullcontext())

    def num_files(self) -> int:
        return 0

    def close(self):
        pass


class PlantedLouvain(Workload):
    name = "planted_louvain"
    # Supersteps cost a near-constant ~0.6 s of Spark overhead each on a
    # 4-core box whatever the size, so the graph is small. Of the shapes
    # tried, 20 blocks of 100 gave the steadiest superstep count across
    # seeds (14-17, IQR/median 0.08 over ten seeds).
    SIZES = {
        "full": dict(n_edges=20_000, n_blocks=20, block_size=100, p_out=0.05),
        "smoke": dict(n_edges=600, n_blocks=4, block_size=25, p_out=0.05),
    }

    def __init__(self, size: str):
        self.size = self.SIZES[size]

    def prepare(self, cache_root, seed):
        self.path, gen_s = inputs.cached_input(
            cache_root, self.name, seed, self.size,
            lambda: inputs.planted_edges(seed, **self.size),
        )
        return gen_s

    def setup(self, spark):
        self.spark = spark

    def iteration(self):
        g = graph_mod.LinkGraph.from_edges(self.spark.read.parquet(str(self.path)))
        t = time.monotonic()
        res = louvain_mod.louvain(g, min_moves_frac=MIN_MOVES_FRAC)
        louvain_s = time.monotonic() - t
        with self.force_span("force.louvain"):
            d = digest(res.assignments, ["id", "community"])
        return {"graph": g, "res": res, "louvain_s": louvain_s, "digest": d}

    def release(self, out):
        out["graph"].unpersist()
        out["res"].assignments.unpersist()

    def input_graph(self, out):
        return out["graph"]

    def quality(self, out) -> tuple[float, int]:
        res = out["res"]
        return res.modularity, sum(lv.supersteps for lv in res.levels)

    def check(self, out, digests) -> list[str]:
        t = pq.read_table(self.path).to_pandas()
        s, d, w = gate.symmetric_pairs(t["src"], t["dst"], t["weight"])
        asg = out["res"].assignments.toPandas()
        errs = []
        if len(asg) != out["graph"].stats.num_vertices or asg["id"].duplicated().any():
            errs.append("louvain: labels do not cover each vertex exactly once")
        else:
            q = gate.modularity(s, d, w, asg["id"], asg["community"])
            errs += gate.check_modularity("louvain", out["res"].modularity, q)
        return errs + gate.check_digests("louvain labels", [x["labels"] for x in digests])

    def digests(self, out) -> dict:
        return {"labels": out["digest"]}


class GraphSuite(Workload):
    name = "graph_suite"
    # 400 files, ~35k directed edges: the ingest runs every extractor
    # (co-change, co-path, imports) in a few seconds once warm.
    SIZES = {
        "full": dict(n_repos=8, files_per_repo=50, commits_per_repo=100,
                     files_per_commit=8, p_cross=0.05),
        "smoke": dict(n_repos=3, files_per_repo=8, commits_per_repo=10,
                      files_per_commit=3, p_cross=0.05),
    }

    def __init__(self, size: str):
        self.size = self.SIZES[size]

    def prepare(self, cache_root, seed):
        self.path, gen_s = inputs.cached_input(
            cache_root, self.name, seed, self.size,
            lambda: inputs.corpus_table(seed, **self.size),
        )
        return gen_s

    def setup(self, spark):
        corpus = corpus_mod.read_corpus(spark, str(self.path), fmt="parquet")
        self.files = edges_mod.file_table(corpus).cache()
        # cached so the gate can rebuild the graph from the same edge rows
        # without re-running the extractors
        self.raw = edges_mod.combined_edges(corpus, self.files).cache()
        self.graph = graph_mod.LinkGraph.from_edges(self.raw)
        self.n_files = self.files.count()
        self.rounds = RoundCounter([components_mod, labelprop_mod], "swap_observed")

    def iteration(self):
        g = self.graph
        before = self.rounds.count
        ranks = pagerank_mod.pagerank(g, n_iter=PAGERANK_ITERS)
        with self.force_span("force.pagerank"):
            # ranks are doubles summed in shuffle order: hash them at 1e-12
            d_ranks = digest(ranks.select("id", F.round("rank", 12).alias("r")), ["id", "r"])
        cc = components_mod.components(g)
        with self.force_span("force.components"):
            d_cc = digest(cc, ["id", "component"])
        lpa = labelprop_mod.label_propagation(g)
        with self.force_span("force.label propagation"):
            d_lpa = digest(lpa, ["id", "label"])
        tri = triangles_mod.triangles_per_vertex(g)
        with self.force_span("force.triangles"):
            d_tri = digest(tri, ["id", "triangles"])
        return {
            "ranks": ranks, "cc": cc, "lpa": lpa, "tri": tri,
            "supersteps": PAGERANK_ITERS + self.rounds.count - before,
            "digest": (d_ranks, d_cc, d_lpa, d_tri),
        }

    def release(self, out):
        for k in ("ranks", "cc", "lpa"):
            out[k].unpersist()

    def input_graph(self, out):
        return self.graph

    def num_files(self) -> int:
        return self.n_files

    def quality(self, out) -> tuple[float, int]:
        if "q" not in out:
            out["q"] = louvain_mod.modularity(self.graph, out["lpa"].select(
                "id", F.col("label").alias("community")))
        return out["q"], out["supersteps"]

    def check(self, out, digests) -> list[str]:
        e = self.graph.edges.toPandas().sort_values(["src", "dst"])
        s, d, w = e["src"].to_numpy(), e["dst"].to_numpy(), e["weight"].to_numpy()
        raw = self.raw.toPandas()
        rs, rd, rw = gate.symmetric_pairs(raw["src"], raw["dst"], raw["weight"])
        errs = []
        if not (np.array_equal(rs, s) and np.array_equal(rd, d) and np.allclose(rw, w, 0, 1e-9)):
            errs.append("from_edges: symmetric edge table differs from numpy rebuild")
        corpus = pq.read_table(self.path).to_pandas()
        files = self.files.select("repo", "path", "content", "content_sha").toPandas()
        errs += gate.check_file_shas(files, corpus)

        ids = np.unique(s)
        ranks = out["ranks"].toPandas()
        errs += gate.check_pagerank(ranks["id"], ranks["rank"], ids,
                                    gate.pagerank(s, d, w, ids, PAGERANK_ITERS))
        cc = out["cc"].toPandas()
        errs += gate.check_components(cc["id"], cc["component"], ids,
                                      gate.components(s, d, ids))
        tri = out["tri"].toPandas()
        errs += gate.check_triangles(int(tri["triangles"].sum()), gate.duckdb_triangles(s, d))
        lpa = out["lpa"].toPandas()
        q, _ = self.quality(out)
        errs += gate.check_modularity("label propagation", q,
                                      gate.modularity(s, d, w, lpa["id"], lpa["label"]))
        names = ("pagerank", "components", "label propagation", "triangles")
        for i, name in enumerate(names):
            errs += gate.check_digests(name, [x["outputs"][i] for x in digests])
        return errs

    def digests(self, out) -> dict:
        return {"outputs": out["digest"]}

    def close(self):
        self.rounds.close()
        self.graph.unpersist()
        self.raw.unpersist()
        self.files.unpersist()


WORKLOADS = {w.name: w for w in (PlantedLouvain, GraphSuite)}
