"""Streaming exact deduplication: first-occurrence-per-content-hash over a
document stream (the streaming twin of ``operators.dedup.exact_dedup``).

``dropDuplicates`` on the sha256 keeps O(distinct hashes) of state and emits
each content exactly once in append mode — the shape of a continuous
training-data ingestion dedup stage. The documents table carries no event
time, so state is unbounded here (documented honestly); feeds that DO carry
an ingestion timestamp should use ``dedup_stream(..., watermark_col="ts",
watermark="1 hour")``, which switches to ``dropDuplicatesWithinWatermark``
and bounds state to the watermark horizon.

Batch/stream parity is tested on the SET of distinct content hashes kept
(identical by construction) rather than on representative doc_ids: the batch
operator keeps min(doc_id) per hash while a stream keeps the first ARRIVAL,
which coincide only for id-ordered feeds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def dedup_stream(
    spark: SparkSession,
    docs_dir: str,
    glob: str | None = None,
    watermark_col: str | None = None,
    watermark: str = "1 hour",
    schema: T.StructType | None = None,
) -> DataFrame:
    """readStream over a documents directory → every non-``text`` input column
    plus ``content_sha``, one row per distinct content hash (first
    occurrence). ``content_sha`` follows the first non-``text`` column, the
    id column in every schema this operator is fed. Feeds with an ingestion
    timestamp pass their own ``schema`` (which must include that column)
    and ``watermark_col`` — the operator then uses
    ``dropDuplicatesWithinWatermark`` and state is bounded by the watermark
    horizon instead of growing with distinct hashes."""
    schema = schema or DOCUMENTS_SCHEMA
    if "text" not in schema.fieldNames():
        raise ValueError(
            f"schema must contain the 'text' column to hash; got {schema.fieldNames()}"
        )
    if watermark_col and watermark_col not in schema.fieldNames():
        raise ValueError(
            f"watermark_col {watermark_col!r} not in schema fields "
            f"{schema.fieldNames()} — pass schema= for timestamped feeds"
        )
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    # content_sha is anchored right AFTER the id column, the schema's first
    # non-text field (the documented positional contract for sinks)
    names = [f.name for f in schema.fields if f.name != "text"]
    keep = names[:1] + ["content_sha"] + names[1:]
    stream = reader.parquet(docs_dir).withColumn(
        "content_sha", F.sha2(F.col("text"), 256)
    ).select(*keep)
    if watermark_col:
        return stream.withWatermark(watermark_col, watermark).dropDuplicatesWithinWatermark(
            ["content_sha"]
        )
    return stream.dropDuplicates(["content_sha"])
