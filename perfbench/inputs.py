"""Seeded benchmark inputs, written once to parquet and cached on disk.

Inputs are a pure function of (workload, seed, size). They are generated
without Spark (numpy / the corpus row generator + pyarrow) so generation
never warms the JVM, and the engine only ever sees the stored parquet. The
cache lives under ``.bench_cache/inputs`` in the checkout; a directory is
valid once its ``_SUCCESS`` marker exists.
"""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def planted_edges(seed: int, n_edges: int, n_blocks: int, block_size: int,
                  p_out: float) -> pa.Table:
    """Planted-partition edge table: ``n_edges`` unit-weight draws, a
    ``1 - p_out`` share inside a random block and the rest between uniform
    random vertices; self-loops dropped (the BENCH/scaling.py
    ``generate_direct`` recipe, seeded by ``seed``)."""
    rng = np.random.default_rng(seed)
    n_vertices = n_blocks * block_size
    n_in = int(n_edges * (1 - p_out))
    n_out = n_edges - n_in
    blk = rng.integers(0, n_blocks, size=n_in)
    u = blk * block_size + rng.integers(0, block_size, size=n_in)
    v = blk * block_size + rng.integers(0, block_size, size=n_in)
    uo = rng.integers(0, n_vertices, size=n_out)
    vo = rng.integers(0, n_vertices, size=n_out)
    src = np.concatenate([u, uo]).astype("int64")
    dst = np.concatenate([v, vo]).astype("int64")
    keep = src != dst
    return pa.table({
        "src": src[keep],
        "dst": dst[keep],
        "weight": np.ones(int(keep.sum()), dtype="float64"),
    })


def corpus_table(seed: int, **sizes) -> pa.Table:
    """The engine's synthetic source-code corpus (``generate_corpus_rows``)
    as an Arrow table with the corpus schema's column order."""
    from graftlouvain.sources.corpus import generate_corpus_rows

    cols = list(zip(*generate_corpus_rows(seed=seed, **sizes)))
    names = ["repo", "path", "commit", "lang", "content"]
    return pa.table({n: pa.array(c, pa.string()) for n, c in zip(names, cols)})


def cached_input(cache_root: Path, workload: str, seed: int, size: dict,
                 make) -> tuple[Path, float]:
    """Return ``(parquet_dir, generation_seconds)`` for the input keyed by
    workload, seed and size, generating it with ``make()`` on a cache miss
    (generation seconds are 0.0 on a hit)."""
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    out = cache_root / "inputs" / f"{workload}-s{seed}-{key}"
    if (out / "_SUCCESS").exists():
        return out, 0.0
    t0 = time.monotonic()
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    pq.write_table(make(), tmp / "part-00000.parquet")
    (tmp / "_SUCCESS").touch()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out, time.monotonic() - t0
