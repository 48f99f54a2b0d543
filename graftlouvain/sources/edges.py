"""Edge extraction from the corpus table (S3 — SURVEY.md §2a, [north-star]).

Three extractors, each producing ``(src, dst, weight)`` over dense file ids
plus the id-map table, with the per-row ``sha256(content)`` invariant
(BASELINE.json input_hint) carried through on the file table:

- co-change: files touched by the same commit (weight = #shared commits)
- co-path:  files sharing a path basename across repos (weight = 1 per pair-key)
- imports:  regex import extraction from ``content`` (vectorized pandas UDF),
            matched to files by module stem (weight = #import occurrences)

Scale notes: pair expansion within a key (commit / basename) is quadratic in
the key's group size — giant commits (vendored-tree imports, renames) are the
classic skew bomb, so groups larger than ``max_group`` are DROPPED (standard
practice in co-change mining; documented, deterministic). Expansion runs as an
equi self-join so Catalyst keeps everything JVM-side with AQE skew splitting.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graftlouvain.operators.graph import dense_ids


def file_table(corpus: DataFrame) -> DataFrame:
    """Distinct files with dense ids and the hash of one CANONICAL content
    version per file: the lexicographically-max content string (``F.max``) —
    a deterministic, order-independent pick, NOT commit-recency (the corpus
    schema's ``commit`` column is an opaque id with no ordering to key on;
    corpus rows repeat (repo,path) once per touching commit).

    Output: [repo, path, id, lang, content_sha, content] with
    content_sha = sha256(canonical content) — the per-row invariant of
    BASELINE.json input_hint, hash-gated every round by ``ingest_file_sha``."""
    ids = dense_ids(corpus, ["repo", "path"])
    per_file = corpus.groupBy("repo", "path").agg(
        F.max("lang").alias("lang"), F.max("content").alias("content")
    )
    return (
        per_file.join(ids, ["repo", "path"])
        .select(
            "repo", "path", "id", "lang",
            F.sha2(F.col("content"), 256).alias("content_sha"), "content",
        )
    )


def pairs_by_key(
    keyed: DataFrame,
    key_col: str,
    id_col: str = "id",
    max_group: int = 1000,
) -> DataFrame:
    """Generic co-occurrence pair expansion: rows (key, id) → undirected edges
    (src < dst, weight = #distinct shared keys).

    The reference's closest analogue is its edge routing (graph.rs:263-325);
    this operator is the [north-star] "files sharing commits/paths" builder.
    """
    k = keyed.select(F.col(key_col).alias("k"), F.col(id_col).alias("id")).distinct()
    sizes = k.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    keep = sizes.where((F.col("n") >= 2) & (F.col("n") <= max_group)).select("k")
    k = k.join(keep, "k", "left_semi")
    a = k.select("k", F.col("id").alias("src"))
    b = k.select("k", F.col("id").alias("dst"))
    pairs = a.join(b, "k").where(F.col("src") < F.col("dst")).select("src", "dst")
    return pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("double").alias("weight")
    )


def cochange_edges(corpus: DataFrame, files: DataFrame, max_group: int = 1000) -> DataFrame:
    keyed = corpus.select("repo", "path", "commit").join(
        files.select("repo", "path", "id"), ["repo", "path"]
    )
    return pairs_by_key(keyed, "commit", max_group=max_group)


def copath_edges(files: DataFrame, max_group: int = 1000) -> DataFrame:
    """Files sharing a basename across different repos."""
    keyed = files.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("basename"), "id"
    )
    return pairs_by_key(keyed, "basename", max_group=max_group)


_IMPORT_RE = (
    r"(?:^|\n)\s*(?:import\s+\"?([\w./-]+)\"?|use\s+([\w:]+);|import\s+([\w.]+);)"
)


def import_edges(files: DataFrame) -> DataFrame:
    """Import edges: regex-extract imported module stems from ``content`` with
    a vectorized pandas UDF (Arrow batches — no per-row Python), then resolve
    stems to file ids via the stem lookup built from paths. Weight = number of
    (importer → imported) occurrences."""
    import pyspark.sql.types as T

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def extract_imports(content: pd.Series) -> pd.Series:
        return content.str.findall(r"(?m)^(?:import|use)\s+\"?([\w./:-]+)\"?;?\s*$").map(
            lambda ms: [m.rstrip(";").rsplit("/", 1)[-1].rsplit(".", 1)[-1].split("::")[-1]
                        for m in ms]
        )

    stems = files.select(
        F.regexp_replace(
            F.element_at(F.split(F.col("path"), "/"), -1), r"\.\w+$", ""
        ).alias("stem"),
        F.col("id").alias("dst"),
    )
    importer = files.select(
        F.col("id").alias("src"), F.explode(extract_imports(F.col("content"))).alias("stem")
    )
    return (
        importer.join(stems, "stem")
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


def combined_edges(corpus: DataFrame, files: DataFrame,
                   w_cochange: float = 1.0, w_copath: float = 0.5,
                   w_import: float = 1.0, max_group: int = 1000) -> DataFrame:
    """Weighted union of the three extractors — the engine's default link graph."""
    parts = [
        cochange_edges(corpus, files, max_group).select(
            "src", "dst", (F.col("weight") * w_cochange).alias("weight")
        ),
        copath_edges(files, max_group).select(
            "src", "dst", (F.col("weight") * w_copath).alias("weight")
        ),
        import_edges(files).select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            (F.col("weight") * w_import).alias("weight"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
