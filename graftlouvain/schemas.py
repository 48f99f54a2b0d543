"""Fixed schemas (the reference has compile-time Rust structs and no schema
system, src/louvain/graph.rs:21-44).

The north-star ingest reads the corpus as :data:`CORPUS_SCHEMA`
(BASELINE.json input_hint); every edge table enters the engine through
:func:`conform_edges`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# North-star corpus input (BASELINE.json input_hint)
CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)


def conform_edges(df: DataFrame) -> DataFrame:
    """Project/cast an arbitrary DataFrame with src/dst/weight-ish columns onto
    ``[src long, dst long, weight double]`` (the reference's
    ``Edge(VertexID, VertexID, f64)``, graph.rs:30-31). Weight defaults to 1.0
    when absent (unit-weight graphs, as in the reference's 28-edge fixture,
    tests/distributed_graph.rs:29-58)."""
    cols = set(df.columns)
    weight = F.col("weight").cast("double") if "weight" in cols else F.lit(1.0)
    return df.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        weight.alias("weight"),
    )
