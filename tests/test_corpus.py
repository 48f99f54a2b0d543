"""Corpus generation + edge extraction tests, incl. the per-row sha256
invariant (BASELINE.json input_hint) and checkpoint/resume."""

import hashlib

import pytest
from pyspark.sql import functions as F

import graftlouvain.operators.graph as graph_mod
from graftlouvain.operators.graph import LinkGraph
from graftlouvain.operators.louvain import louvain, louvain_level
from graftlouvain.sources.checkpoint import CheckpointManager
from graftlouvain.sources.corpus import generate_corpus
from graftlouvain.sources.edges import (
    cochange_edges,
    combined_edges,
    copath_edges,
    file_table,
    import_edges,
    pairs_by_key,
)

from tests.fixtures import FIXTURE_28_W, FIXTURE_KARATE_W, to_df


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_corpus(
        spark, n_repos=4, files_per_repo=8, commits_per_repo=12, seed=42
    ).cache()


@pytest.fixture(scope="module")
def files(spark, corpus):
    return file_table(corpus).cache()


def test_corpus_deterministic(spark, corpus):
    again = generate_corpus(spark, n_repos=4, files_per_repo=8, commits_per_repo=12, seed=42)
    assert sorted(map(tuple, corpus.collect())) == sorted(map(tuple, again.collect()))


def test_sha256_invariant(spark, corpus, files):
    """F.sha2(content,256) must equal hashlib.sha256 per row and survive the
    id-mapping join (BASELINE.json:15)."""
    rows = files.select("repo", "path", "content", "content_sha").collect()
    assert len(rows) > 0
    for r in rows:
        assert r["content_sha"] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_dense_file_ids(spark, files):
    ids = sorted(r["id"] for r in files.collect())
    assert ids == list(range(len(ids)))


def test_cochange_edges(spark, corpus, files):
    edges = cochange_edges(corpus, files).collect()
    assert len(edges) > 0
    # oracle: recompute co-change counts in pure Python
    fid = {(r["repo"], r["path"]): r["id"] for r in files.collect()}
    from collections import defaultdict
    by_commit = defaultdict(set)
    for r in corpus.collect():
        by_commit[r["commit"]].add(fid[(r["repo"], r["path"])])
    want = defaultdict(float)
    for members in by_commit.values():
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1:]:
                want[(a, b)] += 1.0
    got = {(r["src"], r["dst"]): r["weight"] for r in edges}
    assert got == dict(want)


def test_max_group_drops_giant_keys(spark):
    keyed = spark.createDataFrame(
        [("k1", i) for i in range(10)] + [("k2", 1), ("k2", 2)], "k string, id long"
    )
    out = pairs_by_key(keyed, "k", max_group=5)
    got = {(r["src"], r["dst"]) for r in out.collect()}
    assert got == {(1, 2)}  # k1 (size 10) dropped


def test_import_and_copath_edges(spark, corpus, files):
    imp = import_edges(files)
    assert imp.count() > 0
    assert imp.where("src = dst").count() == 0
    cp = copath_edges(files)
    # all basenames are unique per repo index in the generator, shared across repos
    assert cp.count() >= 0  # smoke: runs and conforms
    for df in (imp, cp):
        assert df.columns == ["src", "dst", "weight"]


def test_combined_edges_louvain_recovers_repos(spark, corpus, files):
    g = LinkGraph.from_edges(combined_edges(corpus, files))
    res = louvain(g)
    labels = {r["id"]: r["community"] for r in res.assignments.collect()}
    repo_of = {r["id"]: r["repo"] for r in files.select("id", "repo").collect()}
    # purity: dominant repo per community
    from collections import Counter, defaultdict
    members = defaultdict(list)
    for v, c in labels.items():
        members[c].append(repo_of[v])
    purity = sum(Counter(ms).most_common(1)[0][1] for ms in members.values()) / len(labels)
    assert purity >= 0.9


def test_checkpoint_resume_one_level(spark, tmp_path):
    """Kill after superstep k of level 0, resume through the PUBLIC louvain_level
    API (the committed moves + loaded assignments), final labels identical."""
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    full_asg, full_stats = louvain_level(g)
    want = {r["id"]: r["community"] for r in full_asg.collect()}

    written = []  # each saved state's rows per Spark partition

    class Spy(CheckpointManager):
        def save_superstep(self, **kw):
            rows = kw["assignments"].groupBy(F.spark_partition_id().alias("p")).count()
            written.append(sorted(tuple(r) for r in rows.collect()))
            super().save_superstep(**kw)

    ck = Spy(str(tmp_path / "ck"))
    # run only the first 2 supersteps, checkpointing each ("crash" after)
    partial_asg, _ = louvain_level(g, max_supersteps=2, checkpointer=ck)
    rec = ck.manifest()[-1]
    assert rec["kind"] == "superstep" and rec["superstep"] == 1
    assert rec["lineage"] and sum(p["rows"] for p in rec["lineage"]) == 34
    # the lineage read from the files is the written state's partitioning
    assert [
        [(p["partition_id"], p["rows"]) for p in r["lineage"]] for r in ck.manifest()
    ] == written

    resumed, _ = louvain_level(
        g,
        assignments=spark.read.parquet(rec["path"]),
        done=[r["moves"] for r in ck.manifest()],
    )
    got = {r["id"]: r["community"] for r in resumed.collect()}
    assert got == want


def test_checkpoint_resume_full_louvain(spark, tmp_path, monkeypatch):
    """Crash mid-run (manifest truncated to a committed superstep inside the
    LAST level, then a torn half of the next record), resume through the
    public ``louvain(..., resume=True)`` API — final labels byte-identical to
    the uninterrupted run (checkpointed run on the SQL tier)."""
    import json

    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    want_res = louvain(g)
    want = {r["id"]: r["community"] for r in want_res.assignments.collect()}
    monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", -1)

    ckdir = str(tmp_path / "ck")
    ck = CheckpointManager(ckdir)
    louvain(g, checkpointer=ck)
    records = ck.manifest()
    sup_levels = [r["level"] for r in records if r["kind"] == "superstep"]
    assert sup_levels, "expected superstep records"
    last_level = max(sup_levels)
    assert last_level >= 1, "fixture should coarsen through >= 2 levels"
    # simulate the crash: keep the manifest only up to the FIRST committed
    # superstep of the last level (all later lines never committed)
    cut = next(
        i for i, r in enumerate(records)
        if r["kind"] == "superstep" and r["level"] == last_level
    )
    with open(ck.manifest_path) as f:
        lines = [ln for ln in f if ln.strip()]
    # ... and the crash tore the append of the next record: half a line,
    # no newline
    torn = lines[cut + 1][: len(lines[cut + 1]) // 2]
    with open(ck.manifest_path, "w") as f:
        f.writelines(lines[: cut + 1])
        f.write(torn)

    ck = CheckpointManager(ckdir)
    assert ck.manifest() == records[: cut + 1]
    res = louvain(g, checkpointer=ck, resume=True)
    got = {r["id"]: r["community"] for r in res.assignments.collect()}
    assert got == want
    assert abs(res.modularity - want_res.modularity) < 1e-12
    # the resumed run must have skipped the completed earlier levels
    assert res.levels[0].level == last_level
    # its records replace the torn one instead of being appended onto it
    resumed = ck.manifest()
    assert resumed[: cut + 1] == records[: cut + 1] and len(resumed) > cut + 1


def test_checkpoint_resume_with_slack(spark, tmp_path, monkeypatch):
    """Resume must also be byte-identical when the convergence slack is on:
    the streak is restored from the committed move counts, so a crash right
    after a slack-converged level cannot trigger extra real supersteps
    (checkpointed run on the SQL tier)."""
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    frac = 0.1
    want_res = louvain(g, min_moves_frac=frac)
    want = {r["id"]: r["community"] for r in want_res.assignments.collect()}
    monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", -1)

    ckdir = str(tmp_path / "ck")
    louvain(g, min_moves_frac=frac, checkpointer=CheckpointManager(ckdir))
    ck = CheckpointManager(ckdir)
    records = ck.manifest()
    # truncate right after the LAST superstep record of level 0 — the worst
    # case: the level just (slack-)converged, nothing of level 1 committed
    cut = max(
        i for i, r in enumerate(records)
        if r["kind"] == "superstep" and r["level"] == 0
    )
    with open(ck.manifest_path) as f:
        lines = [ln for ln in f if ln.strip()]
    with open(ck.manifest_path, "w") as f:
        f.writelines(lines[: cut + 1])

    res = louvain(
        g, min_moves_frac=frac, checkpointer=CheckpointManager(ckdir), resume=True
    )
    got = {r["id"]: r["community"] for r in res.assignments.collect()}
    assert got == want


def test_resume_refuses_another_run(spark, tmp_path, monkeypatch):
    """A resume whose parameters or input graph differ from the checkpointed
    run's raises, naming what differs, instead of diverging silently; a
    manifest written before records carried a fingerprint resumes as
    before (SQL tier)."""
    import json

    monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", -1)
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    run = dict(max_levels=1, max_supersteps=2)
    ckdir = str(tmp_path / "ck")
    first = louvain(g, checkpointer=CheckpointManager(ckdir), **run)
    with pytest.raises(ValueError, match=r"differing: min_moves_frac \(0\.0 != 0\.1\)$"):
        louvain(g, min_moves_frac=0.1, checkpointer=CheckpointManager(ckdir),
                resume=True, **run)
    with pytest.raises(ValueError, match=r"differing: min_q_gain \(1e-07 != 1\.0\)$"):
        louvain(g, min_q_gain=1.0, checkpointer=CheckpointManager(ckdir),
                resume=True, **run)
    with pytest.raises(ValueError, match=r"differing: max_levels \(1 != 2\)$"):
        louvain(g, checkpointer=CheckpointManager(ckdir), resume=True,
                **{**run, "max_levels": 2})
    other = LinkGraph.from_edges(to_df(spark, FIXTURE_28_W))
    with pytest.raises(ValueError, match="num_vertices") as err:
        louvain(other, checkpointer=CheckpointManager(ckdir), resume=True, **run)
    assert "min_moves_frac" not in str(err.value)

    ck = CheckpointManager(ckdir)
    with open(ck.manifest_path) as f:
        records = [json.loads(line) for line in f]
    assert all(r["manifest_version"] == 4 and "run" in r for r in records)

    def rewrite(strip):
        with open(ck.manifest_path, "w") as f:
            for r in records:
                strip(r)
                f.write(json.dumps(r) + "\n")

    # a record stamped before min_q_gain and max_levels were: only the
    # fields it holds are compared
    rewrite(lambda r: [r["run"].pop(k) for k in ("min_q_gain", "max_levels")])
    with pytest.raises(ValueError, match=r"differing: min_moves_frac \(0\.0 != 0\.1\)$"):
        louvain(g, min_moves_frac=0.1, checkpointer=ck, resume=True, **run)
    # the run had finished (max_levels=1): a resume returns its result
    res = louvain(g, min_q_gain=1.0, checkpointer=ck, resume=True, **run)
    assert res.levels == [] and _labels(res) == _labels(first)
    rewrite(lambda r: r.pop("run"))
    res = louvain(g, min_moves_frac=0.1, checkpointer=ck, resume=True, **run)
    assert res.levels == [] and _labels(res) == _labels(first)


def _labels(res):
    return {r["id"]: r["community"] for r in res.assignments.collect()}


def _cut_after(ck, keep):
    """Cut ``ck``'s manifest after the last record ``keep`` accepts, as a
    crash right after that record's commit would leave it."""
    with open(ck.manifest_path) as f:
        lines = [ln for ln in f if ln.strip()]
    cut = max(i for i, r in enumerate(ck.manifest()) if keep(r))
    with open(ck.manifest_path, "w") as f:
        f.writelines(lines[: cut + 1])


def test_checkpointed_run_stays_local(spark, tmp_path):
    """Graph size alone picks the tier: a checkpointed karate run is local
    throughout, with the labels and Q of a run without a checkpointer, in a
    handful of Spark jobs; its manifest is one ``louvain`` level record
    holding the result, and a resume on it returns that result."""
    from perfbench.trace import group_counts

    want_res = louvain(LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W)))
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    ck = CheckpointManager(str(tmp_path / "ck"))
    sc = spark.sparkContext
    sc.setJobGroup("checkpointed-local", "checkpointed karate")
    try:
        res = louvain(g, checkpointer=ck)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs, _, _ = group_counts(sc, "checkpointed-local")
    assert [s.path for s in res.levels] == ["local"] * len(res.levels)
    assert _labels(res) == _labels(want_res) and res.modularity == want_res.modularity
    assert jobs <= 12
    (rec,) = ck.manifest()
    assert (rec["kind"], rec["algorithm"]) == ("level", "louvain")
    assert "coarse_edges_path" not in rec and "degrees_path" not in rec
    saved = spark.read.parquet(rec["assignments_path"]).collect()
    assert {r["id"]: r["community"] for r in saved} == _labels(res)
    assert rec["modularity"] == res.modularity
    again = louvain(g, checkpointer=CheckpointManager(ck.base_dir), resume=True)
    assert _labels(again) == _labels(res)


@pytest.mark.parametrize("frac", [0.0, 0.1])
def test_resume_across_tier_handoff(spark, tmp_path, monkeypatch, frac):
    """Level 0 of karate (156 directed edges) runs on SQL and the coarse
    levels local; a crash right after level 0's last superstep resumes to
    the uninterrupted run's labels and Q."""
    monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", 100)
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    ckdir = str(tmp_path / "ck")
    want_res = louvain(g, min_moves_frac=frac, checkpointer=CheckpointManager(ckdir))
    paths = [s.path for s in want_res.levels]
    assert g.stats.num_directed_edges == 156
    assert len(paths) >= 2 and paths == ["spark"] + ["local"] * (len(paths) - 1)
    ck = CheckpointManager(ckdir)
    levels = [r for r in ck.manifest() if r["kind"] == "level"]
    assert "coarse_edges_path" in levels[0] and levels[-1]["level"] >= 1
    _cut_after(ck, lambda r: r["kind"] == "superstep" and r["level"] == 0)
    res = louvain(g, min_moves_frac=frac, checkpointer=ck, resume=True)
    assert [s.level for s in res.levels][:1] == [0] and res.levels[0].start_step > 0
    assert _labels(res) == _labels(want_res)
    assert res.modularity == want_res.modularity


def test_sql_levels_write_one_record_each(spark, tmp_path, monkeypatch):
    """Each committed SQL level is one ``louvain`` level record, carrying the
    next level's graph exactly when another level follows; superstep records
    carry no Q."""
    monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", -1)
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    ck = CheckpointManager(str(tmp_path / "ck"))
    res = louvain(g, checkpointer=ck)
    records = ck.manifest()
    assert {r["algorithm"] for r in records} == {"louvain"}
    assert not any("modularity" in r for r in records if r["kind"] == "superstep")
    levels = [r for r in records if r["kind"] == "level"]
    assert [r["level"] for r in levels] == list(range(len(levels)))
    assert len(res.levels) - 1 <= len(levels) <= len(res.levels)
    for r in levels:
        assert ("coarse_edges_path" in r) == (r["level"] + 1 < len(res.levels))
    assert levels[-1]["modularity"] == res.modularity


def test_resume_refuses_v3_level_record(spark, tmp_path, monkeypatch):
    """A level ≥ 1 resume whose previous level record predates version 4
    (no coarse graph in it) raises ``ValueError`` naming the version."""
    import json

    monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", -1)
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    ck = CheckpointManager(str(tmp_path / "ck"))
    louvain(g, max_levels=2, checkpointer=ck)
    _cut_after(ck, lambda r: r["kind"] == "superstep" and r["level"] == 1)
    records = ck.manifest()
    with open(ck.manifest_path, "w") as f:
        for r in records:
            if r["kind"] == "level":
                del r["coarse_edges_path"]
                r["manifest_version"] = 3
            f.write(json.dumps(r) + "\n")
    with pytest.raises(ValueError, match="version 3"):
        louvain(g, max_levels=2, checkpointer=ck, resume=True)


def test_checkpoint_write_is_one_job(spark, tmp_path):
    """Every checkpoint table write is one Spark job, the write itself: the
    lineage comes from the written files' parquet footers, and an empty
    state's lineage is empty."""
    from graftlouvain.functions.iterate import materialize
    from perfbench.trace import group_counts

    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    state = materialize(louvain_level(g, max_supersteps=2)[0])
    ck = CheckpointManager(str(tmp_path / "ck"))
    sc = spark.sparkContext

    def jobs(group, save, **kw):
        sc.setJobGroup(group, group)
        try:
            save(**kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return group_counts(sc, group)[0]

    assert jobs("save-superstep", ck.save_superstep, level=0, superstep=0,
                assignments=state, moves=0, wall_ms=0) == 1
    assert jobs("save-level", ck.save_level, level=0, assignments=state,
                coarse_edges=g.edges, modularity=0.0) == 2
    assert jobs("save-empty", ck.save_superstep, level=0, superstep=1,
                assignments=state.limit(0), moves=0, wall_ms=0) == 1
    sup, level, empty = ck.manifest()
    rows = state.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert [(p["partition_id"], p["rows"]) for p in sup["lineage"]] == sorted(map(tuple, rows))
    assert sup["lineage"] == level["assignments_lineage"]
    assert empty["lineage"] == []
    assert "degrees_path" not in level and "coarse_edges_path" in level


def test_resume_after_level_record_skips_committed_level(
    spark, tmp_path, monkeypatch, sql_karate
):
    """A crash right after level 0's level record resumes at level 1 on the
    record's coarse graph: level 0 runs no superstep and is recorded once,
    and the labels and Q are the uninterrupted run's (SQL tier)."""
    monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", -1)
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    ck = CheckpointManager(str(tmp_path / "ck"))
    louvain(g, checkpointer=ck)
    _cut_after(ck, lambda r: r["kind"] == "level" and r["level"] == 0)
    res = louvain(g, checkpointer=ck, resume=True)
    assert res.levels[0].level == 1
    assert [r["level"] for r in ck.manifest() if r["kind"] == "level"].count(0) == 1
    want, q = sql_karate
    assert _labels(res) == want and res.modularity == q


@pytest.mark.parametrize("tier", ["spark", "local"])
def test_resume_of_finished_run_runs_no_level(spark, tmp_path, monkeypatch, tier):
    """Resuming a run that had finished runs no level and appends no record:
    it returns the last level record's labels and Q, on either tier."""
    if tier == "spark":
        monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", -1)
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    ck = CheckpointManager(str(tmp_path / "ck"))
    want = louvain(g, checkpointer=ck)
    assert {s.path for s in want.levels} == {tier}
    with open(ck.manifest_path, "rb") as f:
        manifest = f.read()
    res = louvain(g, checkpointer=ck, resume=True)
    assert res.levels == []
    with open(ck.manifest_path, "rb") as f:
        assert f.read() == manifest
    assert _labels(res) == _labels(want) and res.modularity == want.modularity
    assert res.num_communities == want.num_communities


@pytest.fixture(scope="module")
def sql_karate(spark):
    """The uninterrupted karate run on the SQL tier: (labels, Q)."""
    default = graph_mod.LOCAL_MAX_EDGES
    graph_mod.LOCAL_MAX_EDGES = -1
    try:
        res = louvain(LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W)))
        assert {s.path for s in res.levels} == {"spark"}
        return _labels(res), res.modularity
    finally:
        graph_mod.LOCAL_MAX_EDGES = default


# A checkpointed karate run on the SQL tier that dies inside the manifest
# append of level 1's first superstep record, after that record's parquet
# files are written: before its line (argv[2] "before") or after flushing
# half of it ("torn").
_KILLED_RUN = """
import os, sys
import graftlouvain.operators.graph as graph_mod
import graftlouvain.sources.checkpoint as ck
from graftlouvain import LinkGraph, get_spark, louvain
from tests.fixtures import FIXTURE_KARATE_W, to_df

base_dir, point = sys.argv[1:]
graph_mod.LOCAL_MAX_EDGES = -1
append = ck.CheckpointManager._append_manifest


class Dying:
    def __init__(self, f):
        self.f = f

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return self.f.__exit__(*exc)

    def __getattr__(self, name):
        return getattr(self.f, name)

    def write(self, line):
        if point == "torn":
            self.f.write(line[: len(line) // 2])
            self.f.flush()
        os._exit(17)


def dying_append(self, record):
    if record["kind"] == "superstep" and (record["level"], record["superstep"]) == (1, 0):
        ck.open = lambda *a, **kw: Dying(open(*a, **kw))
    append(self, record)


ck.CheckpointManager._append_manifest = dying_append
spark = get_spark(master="local[4]", shuffle_partitions=4)
louvain(LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W)),
        checkpointer=ck.CheckpointManager(base_dir))
sys.exit(3)
"""


@pytest.mark.parametrize("point", ["before", "torn"])
def test_resume_after_kill(spark, tmp_path, monkeypatch, sql_karate, point):
    """A process killed inside the manifest append of level 1's first
    superstep record, before its line or after half of it, leaves a
    checkpoint that resumes to the uninterrupted run's labels and Q."""
    import os
    import signal
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        filter(None, [root, os.environ.get("PYTHONPATH")])
    ))
    ckdir = str(tmp_path / "ck")
    proc = subprocess.Popen(
        [sys.executable, "-c", _KILLED_RUN, ckdir, point], cwd=root, env=env,
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, start_new_session=True,
    )
    try:
        _, err = proc.communicate(timeout=600)
    finally:
        try:  # the child's JVM, if it outlived the child
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    assert proc.returncode == 17, err.decode(errors="replace")[-3000:]

    ck = CheckpointManager(ckdir)
    records = ck.manifest()
    assert records[-1]["kind"] == "level" and records[-1]["level"] == 0
    assert os.listdir(os.path.join(ckdir, "louvain", "level=1", "superstep=0", "assignments"))
    with open(ck.manifest_path, "rb") as f:
        assert f.read().endswith(b"\n") == (point == "before")

    monkeypatch.setattr(graph_mod, "LOCAL_MAX_EDGES", -1)
    g = LinkGraph.from_edges(to_df(spark, FIXTURE_KARATE_W))
    res = louvain(g, checkpointer=ck, resume=True)
    want, q = sql_karate
    assert _labels(res) == want and res.modularity == q
    assert res.num_communities == len(set(want.values()))
