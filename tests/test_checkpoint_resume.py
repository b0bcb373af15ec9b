"""Resume semantics (reference save_every/-p, code/dedup2.py:546,553):
kill after stage N, resume from checkpoint, identical final table."""

from __future__ import annotations

import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from genome_deduplication_spark.config import DedupConfig
from genome_deduplication_spark.fixtures.pages import fx_exact, fx_near, pages_df
from genome_deduplication_spark.plans.pipeline import dedup_pipeline
from genome_deduplication_spark.sources.checkpoint import RunContext

CFG = DedupConfig()


def _corpus():
    c = fx_exact(seed=42, groups=6, copies=2)
    c.extend(fx_near(seed=42, groups=6, copies=1))
    return c


def _clusters_set(tables):
    return {
        (r["url"], r["cluster_id"])
        for r in tables["clusters"].collect()
    }


def test_resume_equals_uninterrupted(spark, tmp_path):
    corpus = _corpus()
    df = pages_df(spark, corpus)

    full_dir = str(tmp_path / "full")
    want = _clusters_set(dedup_pipeline(df, CFG, run_dir=full_dir))

    # simulate a crash: run fully, then delete completion markers for every
    # stage after `signatures` and resume — early stages must be reused,
    # later ones recomputed, final table identical
    resume_dir = str(tmp_path / "resume")
    dedup_pipeline(df, CFG, run_dir=resume_dir)
    for name in os.listdir(resume_dir):
        if name.startswith("_STAGE_") and not (
            "_normalize" in name or "_signatures" in name
        ):
            os.remove(os.path.join(resume_dir, name))
    sig_mtime = os.path.getmtime(os.path.join(resume_dir, "stage_signatures"))
    got = _clusters_set(dedup_pipeline(df, CFG, run_dir=resume_dir))
    assert got == want
    # signatures stage data untouched by the resume
    assert os.path.getmtime(os.path.join(resume_dir, "stage_signatures")) == sig_mtime


def test_config_mismatch_refuses_resume(spark, tmp_path):
    run_dir = str(tmp_path / "guard")
    RunContext(spark, run_dir, CFG.to_json())
    other = DedupConfig(jaccard_threshold=0.5)
    with pytest.raises(ValueError, match="different config"):
        RunContext(spark, run_dir, other.to_json())


def test_manifest_source(spark, tmp_path):
    from genome_deduplication_spark.sources.pages_source import read_pages

    corpus = _corpus()
    df = pages_df(spark, corpus)
    p1 = str(tmp_path / "part1.parquet")
    df.limit(5).write.parquet(p1)
    manifest = tmp_path / "inputs.list"
    manifest.write_text(f"{p1}\n{tmp_path}/missing.parquet\n")
    out, lineage = read_pages(spark, str(manifest))
    assert out.count() == 5
    assert lineage["missing_paths"] == [f"{tmp_path}/missing.parquet"]


def test_iceberg_branch_reaches_dsv2_resolution(spark):
    """The table_format='iceberg' branch routes through the standard DSv2
    hook; without the iceberg-spark-runtime jar (this sandbox), Spark's
    data-source resolution must raise — proving the branch is executed, not
    dead code. With the jar + catalog conf the same call returns the table."""
    from genome_deduplication_spark.sources.pages_source import read_pages

    with pytest.raises(Exception, match="(?i)iceberg|data source|classnotfound"):
        read_pages(spark, "db.pages", table_format="iceberg")


def test_metrics_exactly_once_on_resume(spark, tmp_path):
    """A fully-resumed run must not re-run metric jobs or append duplicate
    metric rows (ADVICE r3): one row per metrics stage after two runs."""
    run_dir = str(tmp_path / "run")
    df = pages_df(spark, _corpus())
    dedup_pipeline(df, CFG, run_dir=run_dir, enable_substring_pass=False)
    ctx = RunContext(spark, run_dir, CFG.to_json())
    rows_first = ctx.read_metrics()
    dedup_pipeline(df, CFG, run_dir=run_dir, enable_substring_pass=False)
    rows_second = ctx.read_metrics()
    assert rows_second == rows_first
    names = [m["stage"] for m in rows_second]
    assert len(names) == len(set(names)), f"duplicate metric rows: {names}"


_TRUNCATION = (
    "lsh_buckets_total",
    "lsh_buckets_dropped",
    "lsh_buckets_capped",
    "lsh_docs_in_dropped",
)


@pytest.fixture(scope="module")
def uninterrupted_metrics(spark, tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("uninterrupted"))
    dedup_pipeline(pages_df(spark, _corpus()), CFG, run_dir=run_dir)
    return RunContext(spark, run_dir, CFG.to_json()).read_metrics()


class _Killed(Exception):
    pass


@pytest.mark.parametrize(
    "killed_after, row",
    [("verified", "verify"), ("lsh_pairs", "candidates")],
    ids=["verified", "lsh_pairs"],
)
def test_killed_after_manifest_keeps_metrics(
    spark, tmp_path, monkeypatch, uninterrupted_metrics, killed_after, row
):
    """A run killed right after a stage's manifest rename reuses that stage
    on resume; the stage's metrics row (for lsh_pairs: the candidates row
    with its truncation counts) must still be reported, equal to an
    uninterrupted run's, and so must the whole of metrics.jsonl."""
    run_dir = str(tmp_path / "run")
    df = pages_df(spark, _corpus())
    write_stage = RunContext.write_stage

    def killed(self, stage, data, observe=None):
        out = write_stage(self, stage, data, observe)
        if stage == killed_after:
            raise _Killed(stage)
        return out

    with monkeypatch.context() as m:
        m.setattr(RunContext, "write_stage", killed)
        with pytest.raises(_Killed):
            dedup_pipeline(df, CFG, run_dir=run_dir)
    dedup_pipeline(df, CFG, run_dir=run_dir)
    ctx = RunContext(spark, run_dir, CFG.to_json())
    got = {r["stage"]: r for r in ctx.read_metrics()}
    want = {r["stage"]: r for r in uninterrupted_metrics}
    assert row in got, sorted(got)
    assert got[row] == want[row]
    for key in _TRUNCATION:
        assert key in got["candidates"], key
    assert got == want


def test_per_partition_lineage_counters(spark, tmp_path):
    """Every checkpointed stage records (partition_id, rows) lineage whose
    sum equals the stage manifest's row count, written exactly once even
    after a resume (reference per-file accounting, code/dedup2.py:534-539)."""
    import json

    run_dir = str(tmp_path / "run")
    df = pages_df(spark, _corpus())
    dedup_pipeline(df, CFG, run_dir=run_dir, enable_substring_pass=False)
    ctx = RunContext(spark, run_dir, CFG.to_json())
    counters = ctx.read_counters()
    assert counters, "no lineage counters written"
    stages = {c["stage"] for c in counters}
    assert {"normalize", "signatures", "exact_edges", "clusters"} <= stages
    for stage in stages:
        manifest = json.load(open(os.path.join(run_dir, f"_STAGE_{stage}.json")))
        rows = ctx.read_counters(stage)
        assert sum(r["rows"] for r in rows) == manifest["rows"], stage
        assert len({r["partition_id"] for r in rows}) == len(rows)
    # resume: completed stages are reused, counters not duplicated
    n_before = len(counters)
    dedup_pipeline(df, CFG, run_dir=run_dir, enable_substring_pass=False)
    assert len(ctx.read_counters()) == n_before
    # a stage whose manifest is gone is redone on resume: its counters are
    # the redone manifest's, not added to the old ones (exactly-once)
    os.remove(os.path.join(run_dir, "_STAGE_exact_edges.json"))
    dedup_pipeline(df, CFG, run_dir=run_dir, enable_substring_pass=False)
    redone = ctx.read_counters("exact_edges")
    manifest = json.load(open(os.path.join(run_dir, "_STAGE_exact_edges.json")))
    assert sum(r["rows"] for r in redone) == manifest["rows"]
    assert len({r["partition_id"] for r in redone}) == len(redone)
    assert len(ctx.read_counters()) == n_before
    # LSH truncation lineage: the candidates metrics row accounts for
    # dropped/capped buckets (lsh.py's no-silent-truncation promise)
    cand = [m for m in ctx.read_metrics() if m["stage"] == "candidates"]
    assert cand, "no candidates metrics recorded"
    for key in _TRUNCATION:
        assert key in cand[-1], key


def test_concurrent_stage_writes_keep_own_manifests(spark, tmp_path):
    """Two stages written from two threads at once: each manifest
    completes with its own partition list summing to its rows, and the
    run dir holds nothing but the config, the manifests and the tables."""
    run_dir = str(tmp_path / "run")
    ctx = RunContext(spark, run_dir, CFG.to_json())
    want = {"a": (100, 3), "b": (57, 2)}
    start = threading.Barrier(len(want))

    def write(name):
        n, parts = want[name]
        df = spark.range(n).repartition(parts)
        start.wait(timeout=60)
        return ctx.write_stage(name, df).count()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=len(want)) as pool:
            futures = {name: pool.submit(write, name) for name in want}
            got = {name: f.result(timeout=300) for name, f in futures.items()}
    finally:
        sys.setswitchinterval(interval)
    assert got == {name: n for name, (n, _) in want.items()}
    for name, (n, parts) in want.items():
        m = ctx.manifest(name)
        assert m["rows"] == n, name
        assert sum(p["rows"] for p in m["partitions"]) == n, name
        assert m["n_partitions"] == len(m["partitions"]) == parts, name
        assert sum(c["rows"] for c in ctx.read_counters(name)) == n, name
    assert sorted(os.listdir(run_dir)) == [
        "_STAGE_a.json",
        "_STAGE_b.json",
        "config.json",
        "stage_a",
        "stage_b",
    ]
