"""LinkGraph — the engine's graph core (SURVEY.md §2b/§2c, operators G1-G8 + A1-A6).

Reference semantics re-expressed Spark-first:

- G4 symmetrization + self-loop rule (/root/reference/src/louvain/graph.rs:263-325):
  every src!=dst edge is mirrored; self-loops are kept single-direction
  (graph.rs:282-286). Here: ``union`` of the reversed non-self-loop rows.
- duplicate (src,dst) pairs are pre-aggregated with ``groupBy.sum`` — the
  reference keeps duplicates in CSR and sums implicitly wherever weights are
  consumed (graph.rs:396-400), so downstream semantics are identical.
- G5 edge shuffle to block owners (graph.rs:343-374) is one hash
  ``repartition(P, "src")``; G2/G3 block ownership (graph.rs:76-134) dissolves
  into Spark's hash partitioner.
- G1/G7 global counts (graph.rs:226-261, 188-196) are plain aggregations.
- A1 weighted_degree (graph.rs:396-400) is one materialized ``degrees`` table,
  never a per-vertex call.

Scale notes (100 TB / 1000 executors): the symmetrize+aggregate pipeline is a
single shuffle on (src,dst) with map-side partial aggregation; the follow-up
``repartition(P, "src")`` co-locates adjacency for every later superstep join
so Louvain/PageRank/CC/LPA supersteps shuffle only their *small* state tables.
Hub skew in the degree aggregation is handled by map-side combine (hash
aggregate); the join side of skew is covered by AQE skew-join (enabled in
session.py) and, inside the Louvain superstep, by its salted edge⋈state join.

Small graphs leave Spark: :meth:`LinkGraph.local_edges` collects a graph with
at most ``LOCAL_MAX_EDGES`` directed edges once, as compacted numpy arrays,
for the driver-side kernels of Louvain, PageRank and triangle counting.
The graph keeps those arrays (read-only) until :meth:`LinkGraph.unpersist`,
so PageRank and triangle counting on one graph share a single collect.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graftlouvain.schemas import conform_edges

# A graph with at most this many directed edges runs Louvain (from that level
# on), PageRank and triangle counting in driver-side numpy kernels instead of
# as SQL plans. Measured on local[4] (4-vCPU box), same graphs on both paths:
#   372,842 edges:   108 ms per Louvain kernel superstep vs 1,471 ms per SQL
#                    superstep (median), toPandas 0.54 s;
#   1,813,492 edges: 324 ms vs 4,516 ms, toPandas 0.95 s;
#   35,236 edges:    pagerank(n_iter=10) 0.24 s vs 4.15 s, collect included;
#                    triangles_per_vertex 0.19-0.28 s and 3 jobs vs
#                    1.39-2.04 s and 10 jobs (512,472 oriented wedges);
#   1,047,552 edges: triangles_per_vertex on K_1024 (178M oriented wedges,
#                    the densest graph at the threshold) 9.2 s vs 24.2 s,
#                    digest included; driver peak RSS 273 MB.
# At 2^20 edges the driver holds ~25 MB of edge columns; triangle wedges are
# expanded in chunks of this many, so their memory stays O(E) too.
LOCAL_MAX_EDGES = 1 << 20


@dataclass
class GraphStats:
    """Cached scalar stats (reference A6 accessors, graph.rs:218-221, 377-394)."""

    num_vertices: int  # countDistinct of vertex ids (non-isolated)
    max_id: int  # reference global_vcount = max_id + 1 (graph.rs:226-261)
    num_directed_edges: int  # rows of the symmetrized, pair-aggregated table (ref global_ecount)
    total_weight: float  # S = Σ sym weights = Σ degrees = textbook 2m
    max_out_degree: int = 0  # max adjacency ROW count per vertex (skew signal)
    # r6: ride the same one-pass stats aggregation so that the singleton
    # modularity Q₀ = selfw/S − Σk²/S² is pure driver arithmetic — the level
    # loop previously paid two scalar-aggregate JOBS per level for it
    sum_degree_sq: float = 0.0  # Σ_v degree(v)² (for singleton modularity)
    self_loop_weight: float = 0.0  # Σ self-loop weights (counted once)

    @property
    def avg_out_degree(self) -> float:
        return self.num_directed_edges / max(self.num_vertices, 1)


@dataclass
class LinkGraph:
    """A weighted undirected graph materialized as a symmetrized edge DataFrame.

    ``edges``   — [src, dst, weight], symmetrized, (src,dst)-aggregated,
                  hash-partitioned on ``src``, cached.
    ``degrees`` — [id, degree], degree = Σ outgoing weight on the symmetrized
                  table (self-loop weight counted once, matching
                  graph.rs:396-400 over the reference CSR).
    ``vertices``— [id], every vertex incident to at least one edge.
    """

    edges: DataFrame
    degrees: DataFrame
    vertices: DataFrame
    stats: GraphStats
    _local: tuple | None = field(default=None, init=False, repr=False, compare=False)

    # -- construction -----------------------------------------------------

    @classmethod
    def from_edges(
        cls,
        raw_edges: DataFrame,
        num_partitions: int | None = None,
        pre_symmetrized: bool = False,
    ) -> "LinkGraph":
        """Build the canonical graph from any (src, dst[, weight]) DataFrame.

        Equivalent of ``DistributedGraph::from_distributed`` (graph.rs:174-215):
        one shuffle replaces partition_edges_by_rank + all_to_all_varcount +
        local sort. ``pre_symmetrized=True`` skips the mirror union (used for
        coarsened graphs, whose edge tables are symmetric by construction) —
        the input MUST actually be symmetric: every scalar stat (max_id,
        ecount, 2m, degrees) is derived from the src side of the table, so an
        asymmetric input silently yields wrong stats AND wrong degrees.
        """
        e = conform_edges(raw_edges)
        if pre_symmetrized:
            sym = e
        else:
            # ONE pass over the input: each row explodes into itself plus
            # (for non-self-loops) its mirror. The previous
            # e.unionByName(mirror-projection) referenced the input subplan
            # twice, and Spark re-executes deterministic subplan references —
            # so the entire upstream edge-extraction pipeline (for corpus
            # graphs: the co-change self-join over commits) ran twice per
            # build. Same landmine as the triangle corner-credit union;
            # explode generates both directions map-side in the single scan.
            fwd = F.struct(
                F.col("src").alias("src"),
                F.col("dst").alias("dst"),
                F.col("weight").alias("weight"),
            )
            rev = F.struct(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                F.col("weight").alias("weight"),
            )
            sym = e.select(
                F.explode(
                    F.when(F.col("src") == F.col("dst"), F.array(fwd)).otherwise(
                        F.array(fwd, rev)
                    )
                ).alias("_e")
            ).select("_e.src", "_e.dst", "_e.weight")
        # Repartition on src FIRST: HashPartitioning(src) satisfies the
        # (src, dst) clustering the aggregation needs, so the groupBy runs
        # shuffle-free on top of it — ONE exchange for partition+aggregate
        # instead of two (verified: 1 Exchange node vs 2 in the plan).
        if num_partitions:
            parted = sym.repartition(num_partitions, "src")
        else:
            parted = sym.repartition("src")
        agg = parted.groupBy("src", "dst").agg(F.sum("weight").alias("weight")).cache()

        degrees = agg.groupBy(F.col("src").alias("id")).agg(
            F.sum("weight").alias("degree"),
            F.count(F.lit(1)).alias("out_degree"),
            # per-vertex self-loop weight (0.0 for most vertices — adding
            # exact 0.0 terms leaves the sum unchanged in IEEE); feeds the
            # job-free singleton-modularity stats below
            F.sum(
                F.when(F.col("src") == F.col("dst"), F.col("weight")).otherwise(
                    F.lit(0.0)
                )
            ).alias("self_weight"),
        ).cache()
        vertices = degrees.select("id")

        # ALL scalar stats come from one pass over the (tiny) degrees table —
        # on the symmetrized table every dst also appears as src, so
        # max_id = max(id), ecount = Σ out_degree, 2m = Σ degree. One job
        # over V rows instead of the previous two jobs (one over E rows).
        # Σdegree² and Σ self-loop weight ride the same pass, making
        # ``singleton_modularity`` pure arithmetic (r6 — the Louvain level
        # loop read it twice per level as scalar jobs).
        row = degrees.agg(
            F.count(F.lit(1)).alias("vcount"),
            F.sum("degree").alias("total_weight"),
            F.max("id").alias("max_id"),
            F.sum("out_degree").alias("ecount"),
            F.max("out_degree").alias("max_out"),
            F.sum(F.col("degree") * F.col("degree")).alias("deg2"),
            F.sum("self_weight").alias("self_w"),
        ).first()
        stats = GraphStats(
            num_vertices=int(row["vcount"] or 0),
            max_id=int(row["max_id"]) if row["max_id"] is not None else -1,
            num_directed_edges=int(row["ecount"] or 0),
            total_weight=float(row["total_weight"] or 0.0),
            max_out_degree=int(row["max_out"] or 0),
            sum_degree_sq=float(row["deg2"] or 0.0),
            self_loop_weight=float(row["self_w"] or 0.0),
        )
        return cls(edges=agg, degrees=degrees, vertices=vertices, stats=stats)

    # -- accessors (SURVEY §2c) -------------------------------------------

    @property
    def ref_global_vcount(self) -> int:
        """Reference convention: max id + 1 (dense ids assumed, graph.rs:226-261)."""
        return self.stats.max_id + 1

    @property
    def ref_global_ecount(self) -> int:
        """Rows of the symmetrized table — equals the reference's all-reduced
        post-symmetrization local counts (graph.rs:188-196) when the input has
        no duplicate pairs (true for every reference fixture)."""
        return self.stats.num_directed_edges

    @property
    def two_m(self) -> float:
        """Textbook 2m = Σ degrees = Σ symmetrized weights."""
        return self.stats.total_weight

    def local_edges(self) -> tuple[np.ndarray, ...] | None:
        """``(ids, s, d, w)``: the edge table collected once through Arrow,
        with vertex ids compacted to indices into the sorted ``ids`` (so the
        smallest index is the smallest id); ``None`` above
        ``LOCAL_MAX_EDGES`` directed edges. The first collect is kept until
        :meth:`unpersist`, read-only so that no kernel can change another
        kernel's input; the threshold is checked on every call."""
        if self.stats.num_directed_edges > LOCAL_MAX_EDGES:
            return None
        if self._local is None:
            e = self.edges.toPandas()
            ids, s = np.unique(e["src"].to_numpy(), return_inverse=True)
            d = np.searchsorted(ids, e["dst"].to_numpy())
            self._local = (ids, s, d, e["weight"].to_numpy(dtype=np.float64))
            for a in self._local:
                a.setflags(write=False)
        return self._local

    def unpersist(self) -> None:
        self.edges.unpersist()
        self.degrees.unpersist()
        self._local = None


def singleton_assignments(graph: LinkGraph) -> DataFrame:
    """C1 state init (communitystate.rs:72-92): one community per vertex,
    community id = vertex id."""
    return graph.vertices.select(F.col("id"), F.col("id").alias("community"))


def community_stats(graph: LinkGraph, assignments: DataFrame) -> DataFrame:
    """C8 full recompute of community {internal_weight, total_weight}
    (replaces the reference's ±delta maintenance, communitystate.rs:96-132).

    internal_weight = Σ weight of symmetrized edges with both endpoints in the
    community (each undirected intra-edge counted twice, self-loops once) —
    exactly the reference's ``in += 2·w`` bookkeeping (communitystate.rs:104).
    total_weight = Σ member degrees.
    """
    asg_src = assignments.select(F.col("id").alias("src"), F.col("community").alias("c_src"))
    asg_dst = assignments.select(F.col("id").alias("dst"), F.col("community").alias("c_dst"))
    internal = (
        graph.edges.join(asg_src, "src")
        .join(asg_dst, "dst")
        .where(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("community"))
        .agg(F.sum("weight").alias("internal_weight"))
    )
    totals = (
        assignments.join(graph.degrees, "id")
        .groupBy("community")
        .agg(F.sum("degree").alias("total_weight"))
    )
    return totals.join(internal, "community", "left").select(
        "community",
        F.coalesce("internal_weight", F.lit(0.0)).alias("internal_weight"),
        "total_weight",
    )


def topk_edges(graph: LinkGraph, k: int) -> DataFrame:
    """[src, dst, weight, rank ≤ k] — keep each vertex's ``k`` heaviest
    out-edges (ties → smallest dst): the standard hub-degree cap for graph
    sparsification before ANN-graph construction or supernode-bounded
    analytics at scale. The window partitions by ``src``, which the cached
    edge table is already hash-partitioned on, so the plan sorts within
    resident partitions with NO exchange. NOTE: the result is a DIRECTED
    pruning — vertex u may keep (u,v) while v drops (v,u); re-symmetrize
    (union + max) if a downstream operator requires an undirected graph."""
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(F.desc("weight"), F.asc("dst"))
    return (
        graph.edges.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("src", "dst", "weight", "rank")
    )


def dense_ids(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Assign deterministic dense long ids 0..N-1 to the distinct keys of
    ``df[key_cols]``, ordered lexicographically by the key columns.

    The reference requires dense ids for its block partitioner
    (graph.rs:76-90); our algorithms accept arbitrary longs, but dense ids
    keep corpus-derived graphs compact and labels reproducible.

    JVM-only two-pass dense rank (terasort-style, no Python row transfer —
    this sits on the corpus ingest path, the ~10^12-row table at the north
    star): range-partition by the keys, per-partition ``row_number`` window,
    plus cumulative partition-count offsets (one tiny collect, one broadcast
    join). Deterministic: RangePartitioner guarantees inter-partition key
    ordering regardless of its boundary sampling, so id = global sort rank is
    a pure function of the key set. The partitioned table is pinned with
    ``materialize`` so the count pass and the rank pass see identical
    partitions.
    """
    from pyspark.sql import Window

    from graftlouvain.functions.iterate import materialize

    distinct = df.select(*key_cols).distinct()
    parted = distinct.repartitionByRange(*key_cols).sortWithinPartitions(*key_cols)
    with_pid = materialize(parted.withColumn("_pid", F.spark_partition_id()))
    counts = sorted(
        (int(r["_pid"]), int(r["n"]))
        for r in with_pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets or [], "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in key_cols])
    return (
        with_pid.join(F.broadcast(off_df), "_pid")
        .withColumn("id", (F.row_number().over(w) - F.lit(1) + F.col("_off")).cast("long"))
        .select(*key_cols, "id")
    )
