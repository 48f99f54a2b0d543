"""spark-submit entrypoint for the full corpus → Louvain pipeline.

The north rule's execution contract: the engine runs on a real cluster via

    spark-submit --master <cluster> --py-files dist/graftlouvain.zip \
        tools/submit_job.py --corpus <path-or-iceberg-table> --output <dir> \
        [--checkpoint-dir <dir>] [--resume] [--min-moves-frac 0.02]

``SparkSession.builder.getOrCreate()`` takes the master/executors from
spark-submit; nothing in the package assumes local mode. Build the zip with
``python tools/package.py`` (stdlib zipfile, deterministic).

Pipeline: corpus table (repo, path, commit, lang, content) → dense file ids →
co-change + import + co-path edges → LinkGraph → multi-level Louvain
(checkpointed per SQL superstep and committed level when --checkpoint-dir
is given, resumable with --resume) → labels + per-superstep metrics written as parquet under --output.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--corpus", required=True,
                    help="corpus path: parquet dir, or Iceberg table with --format iceberg")
    ap.add_argument("--output", required=True, help="output dir (labels/, metrics/)")
    ap.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg"])
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--resume", action="store_true",
                    help="continue after the last committed record in --checkpoint-dir")
    ap.add_argument("--min-moves-frac", type=float, default=0.0)
    ap.add_argument("--max-supersteps", type=int, default=64)
    ap.add_argument("--max-levels", type=int, default=20)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from graftlouvain.operators.graph import LinkGraph
    from graftlouvain.operators.louvain import louvain
    from graftlouvain.sources.checkpoint import CheckpointManager
    from graftlouvain.sources.corpus import read_corpus
    from graftlouvain.sources.edges import combined_edges, file_table

    spark = SparkSession.builder.appName("graftlouvain-submit").getOrCreate()

    t0 = time.monotonic()
    corpus = read_corpus(spark, args.corpus, fmt=args.format)
    files = file_table(corpus).cache()
    graph = LinkGraph.from_edges(combined_edges(corpus, files))
    build_s = time.monotonic() - t0

    ck = CheckpointManager(args.checkpoint_dir) if args.checkpoint_dir else None
    t0 = time.monotonic()
    res = louvain(
        graph,
        max_levels=args.max_levels,
        max_supersteps=args.max_supersteps,
        min_moves_frac=args.min_moves_frac,
        checkpointer=ck,
        resume=args.resume,
    )
    louvain_s = time.monotonic() - t0

    res.assignments.write.mode("overwrite").parquet(f"{args.output}/labels")
    res.metrics(spark).write.mode("overwrite").parquet(f"{args.output}/metrics")

    print(json.dumps({
        "vertices": graph.stats.num_vertices,
        "directed_edges": graph.stats.num_directed_edges,
        "levels": len(res.levels),
        "supersteps": sum(l.supersteps for l in res.levels),
        "modularity": round(res.modularity, 6),
        "num_communities": res.num_communities,
        "graph_build_sec": round(build_s, 3),
        "louvain_sec": round(louvain_s, 3),
        "resumed": bool(args.resume),
        "output": args.output,
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
