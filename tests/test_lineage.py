"""Pipeline lineage at zero extra Spark jobs: a recorded run's stage counts
come from the jobs that write the stages (observed aggregates + parquet
footers), connected components runs one job per round (two jobs in all
on the driver path), and the overlapped pool jobs of an unrecorded run
keep the caller's job group."""

from __future__ import annotations

import contextlib
import itertools
import os

import pytest
from pyspark.sql import functions as F

from genome_deduplication_spark.config import DedupConfig
from genome_deduplication_spark.fixtures.pages import (
    fx_ambiguous,
    fx_exact,
    fx_near,
    fx_substring,
    fx_unique,
    pages_df,
)
from genome_deduplication_spark.operators.connected_components import (
    connected_components,
)
from genome_deduplication_spark.plans.pipeline import dedup_pipeline
from genome_deduplication_spark.sources.checkpoint import RunContext

CFG = DedupConfig()

# A run of _small_corpus() (32 docs, shuffle_partitions=8) measured
# 32-33 jobs recorded and 36-37 unrecorded, at local[4] and local[8].
# With the LSH truncation counts collected by a job of their own (an
# aggregate over the bucket counts: two jobs) instead of observed on the
# counts checkpoint, a recorded run took 34-35; with CC's star loop on
# small graphs too it took 42-43 recorded and 46-47 unrecorded; with url
# strings through the near-dup core (a hash128 map and join-backs in LSH,
# anchor pairs and CC) and a schema-inference job on every stage re-read,
# 60-61 recorded and 61-62 unrecorded; with count jobs and per-stage
# checkpoint histograms a recorded run took 105-106.
JOB_CEILING = 34
UNRECORDED_JOB_CEILING = 39

_groups = itertools.count()


@contextlib.contextmanager
def _job_group(spark):
    """Run the block under a fresh job group; yields a list that is filled
    with (job id, description, stage names, stage call sites) of the
    group's jobs."""
    sc = spark.sparkContext
    group = f"lineage-{next(_groups)}"
    jobs: list[tuple[int, str, list[str]]] = []
    sc.setJobGroup(group, group)
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        desc = store.job(jid).description()
        info = sc.statusTracker().getJobInfo(jid)
        names = [sc.statusTracker().getStageInfo(s) for s in info.stageIds]
        jobs.append(
            (
                jid,
                desc.get() if desc.isDefined() else "",
                [s.name for s in names if s is not None],
                [store.lastStageAttempt(s).details() for s in info.stageIds],
            )
        )


def _count_or_checkpoint_collect(jobs):
    """Jobs run by a DataFrame count() or by a collect in the checkpoint
    module (the per-partition histogram this design replaced)."""
    return [
        (jid, names)
        for jid, _, names, _ in jobs
        if any(
            n.startswith("count at")
            or (n.startswith("collect at") and "checkpoint.py" in n)
            for n in names
        )
    ]


def _schema_inference(jobs):
    """Jobs started by a parquet read without a given schema: Spark runs
    one to infer the schema from the part files' footers."""
    return [
        jid
        for jid, _, _, sites in jobs
        if any("DataFrameReader.parquet" in site for site in sites)
    ]


def _small_corpus():
    c = fx_exact(seed=5, groups=4, copies=2)
    c.extend(fx_near(seed=5, groups=4, copies=1))
    c.extend(fx_substring(seed=5, pairs=3))
    c.extend(fx_ambiguous(seed=5, docs=4))
    c.extend(fx_unique(seed=5, docs=6))
    return c


def _count_based_metrics(pages, tables):
    """The metrics.jsonl values as the count-job design computed them."""
    norm = tables["normalized"]
    verified = tables["verified"]
    substr = tables["substring"]
    clusters = tables["clusters"]
    return {
        "normalize": {
            "docs_in": pages.count(),
            "docs_ok": norm.where(~F.col("is_ambiguous")).count(),
            "docs_ambiguous": tables["ambiguous"].count(),
        },
        "signatures": {"signatures_out": tables["signatures"].count()},
        "candidates": {
            "exact_edges": tables["exact_edges"].count(),
            "lsh_candidate_pairs": tables["lsh_pairs"].count(),
        },
        "verify": {
            "pairs_in": verified.count(),
            "pairs_dup": verified.where("is_dup").count(),
        },
        "substring": {
            "pairs_checked": substr.count(),
            "pairs_substring_dup": substr.where("is_substring_dup").count(),
        },
        "clusters": {
            "docs_clustered": clusters.count(),
            "n_clusters": clusters.select("cluster_id").distinct().count(),
        },
    }


def _recorded_metrics(run_dir, spark):
    rows = RunContext(spark, run_dir, CFG.to_json()).read_metrics()
    return {r["stage"]: r for r in rows}


def test_recorded_pipeline_job_budget(spark, tmp_path):
    """A recorded run runs no count job, no checkpoint collect and no
    schema inference on its stage reads, and its job total stays under the
    pinned ceiling. The schema each manifest records is the one a plain
    parquet read of the stage infers."""
    pages = pages_df(spark, _small_corpus()).localCheckpoint(eager=True)
    run_dir = str(tmp_path / "run")
    with _job_group(spark) as jobs:
        dedup_pipeline(pages, CFG, run_dir=run_dir)
    assert jobs, "no jobs recorded for the run's job group"
    assert not _count_or_checkpoint_collect(jobs), _count_or_checkpoint_collect(jobs)
    assert not _schema_inference(jobs), _schema_inference(jobs)
    assert len(jobs) <= JOB_CEILING, len(jobs)
    ctx = RunContext(spark, run_dir, CFG.to_json())
    for name in ("normalize", "signatures", "verified", "components", "clusters"):
        m = ctx.manifest(name)
        assert m["schema"] == spark.read.parquet(m["path"]).schema.json(), name
    # CC's labels are written as one part file (the driver path's
    # coalesce(1); AQE's coalescing on the loop side), as the loop did
    assert ctx.manifest("components")["n_partitions"] == 1


def test_core_stages_run_on_doc_key(spark, tmp_path, monkeypatch):
    """The url is hashed once, at normalize: the plans of the lsh_pairs,
    substring and components stages compute no md5 — they key on the
    doc_key column, with no string-id translation layer of their own."""
    plans = {}
    write_stage = RunContext.write_stage

    def spy(self, stage, df, observe=None):
        plans[stage] = df._jdf.queryExecution().executedPlan().toString()
        return write_stage(self, stage, df, observe)

    monkeypatch.setattr(RunContext, "write_stage", spy)
    dedup_pipeline(pages_df(spark, _small_corpus()), CFG, run_dir=str(tmp_path))
    for name in ("lsh_pairs", "substring", "components"):
        assert "md5(" not in plans[name], name
    assert "md5(" in plans["normalize"]  # the guard sees a url hash


def test_unrecorded_pipeline_pool_jobs_keep_caller_group(spark):
    """run_dir=None overlaps independent stages on a thread pool; those
    jobs must carry the caller's job group and their stage:<name> label,
    and the path runs no count job either."""
    sc = spark.sparkContext
    pages = pages_df(spark, _small_corpus()).localCheckpoint(eager=True)
    ungrouped_before = set(sc.statusTracker().getJobIdsForGroup(None))
    with _job_group(spark) as jobs:
        dedup_pipeline(pages, CFG, run_dir=None)
    ungrouped_new = set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped_before
    assert not ungrouped_new, f"jobs outside the caller's group: {ungrouped_new}"
    labels = {desc for _, desc, _, _ in jobs}
    for name in ("exact_edges", "lsh_pairs", "verified", "substr_cand"):
        assert f"stage:{name}" in labels, (name, labels)
    assert not _count_or_checkpoint_collect(jobs)
    assert len(jobs) <= UNRECORDED_JOB_CEILING, len(jobs)


@pytest.mark.parametrize(
    "corpus",
    [
        pytest.param(_small_corpus, id="mixed"),
        pytest.param(lambda: fx_unique(seed=3, docs=12), id="unique_only"),
        pytest.param(lambda: fx_ambiguous(seed=3, docs=8), id="ambiguous_only"),
    ],
)
def test_recorded_metrics_equal_count_based(spark, tmp_path, corpus):
    """metrics.jsonl values equal count()-based ones, also when a stage is
    empty (no edges at all; no unambiguous docs at all) — the observed
    aggregates must arrive, never block, on an empty write."""
    pages = pages_df(spark, corpus())
    run_dir = str(tmp_path / "run")
    tables = dedup_pipeline(pages, CFG, run_dir=run_dir)
    got = _recorded_metrics(run_dir, spark)
    for stage, want in _count_based_metrics(pages, tables).items():
        assert {k: got[stage][k] for k in want} == want, stage


def test_resumed_stages_keep_metrics_and_counters(spark, tmp_path):
    """Redo every stage after signatures: the recorded metrics and the
    per-stage counter sums equal those of the uninterrupted run."""
    pages = pages_df(spark, _small_corpus())
    run_dir = str(tmp_path / "run")
    dedup_pipeline(pages, CFG, run_dir=run_dir)
    ctx = RunContext(spark, run_dir, CFG.to_json())

    def snapshot():
        sums: dict[str, int] = {}
        for c in ctx.read_counters():
            sums[c["stage"]] = sums.get(c["stage"], 0) + c["rows"]
        return _recorded_metrics(run_dir, spark), sums

    first = snapshot()
    for name in os.listdir(run_dir):
        if name.startswith("_STAGE_") and name not in (
            "_STAGE_normalize.json",
            "_STAGE_signatures.json",
        ):
            os.remove(os.path.join(run_dir, name))
    dedup_pipeline(pages, CFG, run_dir=run_dir)
    assert snapshot() == first


# -- connected components -------------------------------------------------


def _py_rounds(edges):
    """Rounds connected_components runs on ``edges``: a set-level twin of
    its large-star/small-star loop and fixed-point test."""

    def large_star(es):
        und = es | {(d, s) for s, d in es}
        m = {}
        for s, d in und:
            m[s] = min(m.get(s, s), d)
        return {(d, m[s]) for s, d in und if d > s}

    def small_star(es):
        oriented = {(max(s, d), min(s, d)) for s, d in es}
        m = {}
        for s, d in oriented:
            m[s] = min(m.get(s, d), d)
        out = {(d, m[s]) for s, d in oriented} | set(m.items())
        return {(s, d) for s, d in out if s != d}

    cur = {(max(s, d), min(s, d)) for s, d in edges if s != d}
    for rounds in range(1, 21):
        nxt = small_star(large_star(cur))
        if nxt == cur:
            return rounds
        cur = nxt
    return 20


@contextlib.contextmanager
def _one_job_per_action(spark):
    """AQE splits a job per shuffle stage and broadcasts add jobs; without
    both, every action is exactly one job."""
    keys = ("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize(
    "edges",
    [
        pytest.param([], id="no_edges"),
        pytest.param([(1, 2), (3, 4), (5, 6)], id="pairs"),
        pytest.param([(i, i + 1) for i in range(1, 12)], id="chain"),
        pytest.param([(9, 1), (7, 3), (3, 9), (12, 4), (4, 7), (20, 21)], id="mixed"),
    ],
)
def test_cc_one_job_per_round(spark, cc_sides, edges):
    """Loop side: the initial cut plus one checkpoint job per round — the
    convergence fingerprint is observed on that job, not collected by
    another; empty input finishes instead of blocking on the observation.
    Driver side: the cut and the one Arrow collect, nothing else (building
    the result from an Arrow table runs no job)."""
    df = spark.createDataFrame(edges, "src long, dst long")
    want: dict[int, int] = {}
    for a, b in edges:  # union-find reference
        ra, rb = want.get(a, a), want.get(b, b)
        lo = min(ra, rb)
        for k, v in list(want.items()):
            if v in (ra, rb):
                want[k] = lo
        want[a] = want[b] = lo
    for side in cc_sides():
        with _one_job_per_action(spark), _job_group(spark) as jobs:
            comp = connected_components(df)
        kinds = [{n.split(" at ")[0] for n in names} for _, _, names, _ in jobs]
        if side == "loop":
            assert kinds == [{"localCheckpoint"}] * (_py_rounds(edges) + 1), jobs
        else:  # the cut's checkpoint, then the Arrow collect
            assert kinds == [{"localCheckpoint"}, {"toArrow"}], jobs
        got = {r["node"]: r["component"] for r in comp.collect()}
        assert got == want, side
