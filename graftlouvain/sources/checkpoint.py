"""Checkpoint sink + resume (S4 — SURVEY.md §2a, [north-star]).

A Louvain run's manifest holds two kinds of record (layout v4):

- ``superstep``: one per SQL-tier superstep — the state's labels, with
  per-partition lineage (row counts per Spark partition), moves and wall
  time — so a run can resume mid-level (BASELINE.json north_star);
- ``level``: one per committed level — the labels unwound to the input's
  ids and the level's Q; a SQL level also writes, when another level
  follows, the next level's graph (its edges). The local tier writes one
  such record, without it, for the last level it commits, so the last level
  record always holds the run's labels.

The layout is **Parquet + a JSON-lines manifest we write ourselves**
(snapshot id = the (level, superstep) pair; a manifest line is appended only
after the parquet write completes, which is the commit point — readers ignore
directories with no manifest line, giving atomic-enough snapshot semantics on
a real object store too). Each table is one Spark job, the write itself; its
lineage is read back from the written files' parquet footers.
"""

from __future__ import annotations

import copy
import json
import os
import time
from collections import Counter
from typing import NamedTuple

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from graftlouvain.operators.graph import LinkGraph

# Manifest record format. v2 renamed write_wall_ms -> persist_wall_ms (the
# timer spanned materialization + lineage + file write; it now spans the
# write plus the footer read);
# records carry manifest_version so cross-round consumers aggregating timing
# fields can dispatch on it instead of seeing silent gaps. v1 records (no
# version field) predate the rename. v3 records written for a Louvain run
# carry ``run``: its parameters and its input graph's fingerprint. v4 folds
# the separate record of each coarse graph into the level record before it
# (``coarse_edges_path``) and drops the superstep records' never-set
# ``modularity``. An older v4 SQL level record also carries ``degrees_path``;
# no reader ever read it, so records with or without it resume the same way
# and the version stays 4.
MANIFEST_VERSION = 4

# the one algorithm a checkpointer records: its path prefix and the records'
# ``algorithm`` field
ALGORITHM = "louvain"

# the GraphStats fields that fingerprint a run's input graph (no job: from_edges
# computes them in its one stats pass)
FINGERPRINT = ("num_vertices", "num_directed_edges", "total_weight", "sum_degree_sq", "max_id")


class ResumePoint(NamedTuple):
    """A Louvain level to continue; the last two fields are None at level 0."""

    level: int
    step: int
    moves: list[int]  # the level's committed move counts, in superstep order
    graph: LinkGraph
    assignments: DataFrame
    global_assignments: DataFrame | None
    modularity: float | None


class CheckpointManager:
    def __init__(self, base_dir: str):
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.manifest_path = os.path.join(base_dir, "manifest.jsonl")
        self.run: dict = {}  # stamped on every record; see for_run

    def for_run(self, graph: LinkGraph, **params) -> CheckpointManager:
        """A copy of this manager that stamps every record with the Louvain
        run's ``params`` and ``graph``'s fingerprint (see :meth:`resume_point`)."""
        run = copy.copy(self)
        run.run = {**params, **{f: getattr(graph.stats, f) for f in FINGERPRINT}}
        return run

    # -- write ------------------------------------------------------------

    def _write(self, df: DataFrame, rel: str) -> tuple[str, list[dict], int]:
        """Write ``df`` under ``rel`` in one Spark job and return its path, its
        lineage and the wall time of write plus footer read (the manifest's
        ``persist_wall_ms``). The lineage is the rows per Spark partition as
        the files hold them: a part file's index is the id of the partition
        that wrote it, and a zero-row file (Spark writes one for an empty
        DataFrame) holds no partition's rows."""
        path = os.path.join(self.base_dir, rel)
        t0 = time.monotonic()
        df.write.mode("overwrite").parquet(path)
        rows = Counter()
        for name in os.listdir(path):
            if name.startswith("part-"):
                footer = pq.ParquetFile(os.path.join(path, name)).metadata
                rows[int(name[5:10])] += footer.num_rows
        lineage = [{"partition_id": p, "rows": n} for p, n in sorted(rows.items()) if n]
        wall_ms = int((time.monotonic() - t0) * 1000)
        return path, lineage, wall_ms

    def _append_manifest(self, record: dict) -> None:
        if self.run:
            record["run"] = self.run
        line = (json.dumps(record, sort_keys=True) + "\n").encode()
        with open(self.manifest_path, "ab+") as f:
            end = f.seek(0, os.SEEK_END)
            f.seek(max(end - 1, 0))
            if end and f.read(1) != b"\n":
                # a crash mid-append left the last line unterminated: end it
                # if it is a whole record (manifest() reads it as committed),
                # else cut the torn record, which never committed
                f.seek(0)
                data = f.read()
                cut = data.rfind(b"\n") + 1
                try:
                    json.loads(data[cut:])
                    line = b"\n" + line
                except json.JSONDecodeError:
                    f.truncate(cut)
            f.write(line)

    def save_superstep(
        self,
        level: int,
        superstep: int,
        assignments: DataFrame,
        moves: int,
        wall_ms: int,
    ) -> None:
        rel = f"{ALGORITHM}/level={level}/superstep={superstep}/assignments"
        path, lineage, write_ms = self._write(assignments, rel)
        self._append_manifest(
            {
                "manifest_version": MANIFEST_VERSION,
                "kind": "superstep",
                "algorithm": ALGORITHM,
                "level": level,
                "superstep": superstep,
                "path": path,
                "lineage": lineage,
                "moves": moves,
                "superstep_wall_ms": wall_ms,
                "persist_wall_ms": write_ms,
            }
        )

    def save_level(
        self,
        level: int,
        assignments: DataFrame | None,
        coarse_edges: DataFrame | None,
        modularity: float | None,
    ) -> None:
        record = {
            "manifest_version": MANIFEST_VERSION,
            "kind": "level",
            "algorithm": ALGORITHM,
            "level": level,
            "modularity": modularity,
        }
        if assignments is not None:
            path, lineage, _ = self._write(
                assignments, f"{ALGORITHM}/level={level}/final_assignments"
            )
            record["assignments_path"] = path
            record["assignments_lineage"] = lineage
        if coarse_edges is not None:
            path, lineage, _ = self._write(
                coarse_edges, f"{ALGORITHM}/level={level}/coarse_edges"
            )
            record["coarse_edges_path"] = path
        self._append_manifest(record)

    # -- read / resume ----------------------------------------------------

    def manifest(self) -> list[dict]:
        """Every committed record. A final line that does not parse is a
        record torn by a crash mid-append (never committed) and is skipped;
        a corrupt line anywhere else raises."""
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path) as f:
            lines = [line for line in f if line.strip()]
        records = [json.loads(line) for line in lines[:-1]]
        try:
            records.extend(json.loads(line) for line in lines[-1:])
        except json.JSONDecodeError:
            pass
        return records

    def latest_superstep(self) -> dict | None:
        """The most recent completed superstep record (commit point = manifest
        line), i.e. where resume restarts."""
        records = [
            r for r in self.manifest()
            if r["kind"] == "superstep" and r["algorithm"] == ALGORITHM
        ]
        return max(records, key=lambda r: (r["level"], r["superstep"]), default=None)

    def load_assignments(self, spark: SparkSession, record: dict) -> DataFrame:
        return spark.read.parquet(record["path"])

    def resume_point(self, graph: LinkGraph) -> ResumePoint | None:
        """Where this manager's Louvain run (:meth:`for_run`) on ``graph``
        resumes: after the latest committed superstep, or None. It carries the
        level's committed move counts in superstep order: the caller's stop
        rule reads them, else a resume into a slack-converged level would run
        extra supersteps and diverge. ``ValueError`` names the fields that
        differ if that record is of another run. Only the fields the
        record's fingerprint holds are compared: a record with none
        (manifest version < 3) resumes unchecked, and one written before
        ``min_q_gain`` and ``max_levels`` were stamped resumes unchecked on
        those two. A level ≥ 1 resumes on the coarse graph and labels of
        level ``level − 1``'s record; a record from before version 4 has no
        coarse graph and raises ``ValueError``."""
        rec = self.latest_superstep()
        if rec is None:
            return None
        theirs = rec.get("run", {})
        diff = [k for k in self.run if k in theirs and theirs[k] != self.run[k]]
        if diff:
            raise ValueError(
                f"checkpoint {self.base_dir} is of another run; differing: "
                + ", ".join(f"{k} ({theirs[k]!r} != {self.run[k]!r})" for k in diff)
            )
        manifest = self.manifest()
        levels = {(r["algorithm"], r["level"]): r for r in manifest if r["kind"] == "level"}
        spark = graph.edges.sparkSession
        level, step = int(rec["level"]), int(rec["superstep"]) + 1
        global_asg = q = None
        if level > 0:
            prev = levels[ALGORITHM, level - 1]
            if "coarse_edges_path" not in prev:
                raise ValueError(
                    f"checkpoint {self.base_dir}: the level {level - 1} record (manifest"
                    f" version {prev.get('manifest_version', 1)}) holds no coarse graph;"
                    f" a level {level} resume needs version {MANIFEST_VERSION}"
                )
            coarse = spark.read.parquet(prev["coarse_edges_path"])
            graph = LinkGraph.from_edges(coarse, pre_symmetrized=True)
            global_asg = spark.read.parquet(prev["assignments_path"])
            q = float(prev["modularity"])
        moves = {
            r["superstep"]: int(r["moves"]) for r in manifest
            if r["kind"] == "superstep" and r["algorithm"] == ALGORITHM and r["level"] == level
        }
        return ResumePoint(
            level, step, [m for _, m in sorted(moves.items())], graph,
            self.load_assignments(spark, rec), global_asg, q,
        )
