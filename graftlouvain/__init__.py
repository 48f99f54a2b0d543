"""graftlouvain — a from-scratch PySpark-native distributed link-graph analytics engine.

Capabilities (see SURVEY.md §2 for the full inventory mapped to the reference
``nmandrus1/louvain-rs`` at /root/reference):

- multi-level Louvain community detection (synchronous supersteps + coarsening)
- PageRank, connected components, label propagation, triangle counting,
  k-core, clustering coefficients, neighbor Jaccard, assortativity
- multi-source BFS / weighted SSSP / sampled harmonic closeness (operators.paths)
- deterministic walk corpora: uniform, weighted, and full second-order
  node2vec walks + skip-gram training pairs (operators.walks)
- GNN-style feature propagation in exact fixed point (operators.features)
- edge extraction from a source-code corpus table ``(repo, path, commit, lang, content)``
- checkpoint/resume of Louvain runs: parquet tables, one Spark job each, with
  per-partition lineage read from the parquet footers + metrics
- training-data pipeline operators: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding cosine), similarity search (brute-force /
  RH-LSH / IVF), text analysis, multimodal column plumbing, top-k edge
  sparsification

Everything is DataFrame-first: joins/aggregations instead of MPI message
exchanges, hash partitioning instead of block vertex ownership, and
Arrow-vectorized pandas UDFs only where built-in operators can't express
the semantics; no RDD-level code anywhere (dense-id assignment is a
range-partitioned window, not zipWithIndex).
"""

from graftlouvain.operators.graph import LinkGraph
from graftlouvain.operators.louvain import louvain, louvain_level, modularity
from graftlouvain.session import get_spark

__all__ = ["LinkGraph", "louvain", "louvain_level", "modularity", "get_spark"]

__version__ = "0.1.0"
