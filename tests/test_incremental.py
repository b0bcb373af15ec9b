"""Incremental dedup (operators/incremental.py).

The contract: cluster PARTITIONS after incremental batches A then B equal
a one-shot run over A ∪ B (ids may label clusters differently only if the
min-member rule differed — it cannot, so we compare full partitions);
state versioning advances and a config change refuses to resume.
"""

import pytest
from pyspark.sql import functions as F

from genome_deduplication_spark.config import DedupConfig
from genome_deduplication_spark.fixtures.pages import fx_mixed, pages_df
from genome_deduplication_spark.operators.incremental import dedup_increment


def _partitions(clusters):
    out = {}
    for r in clusters.collect():
        out.setdefault(r["cluster_key"], set()).add(r["url"])
    return {frozenset(v) for v in out.values()}


@pytest.fixture(scope="module")
def corpus(spark):
    return (
        pages_df(spark, fx_mixed(seed=42))
        .where(F.col("text").isNotNull())
        .select("url", "text")
        .localCheckpoint(eager=True)
    )


def test_two_batches_equal_one_shot(spark, corpus, tmp_path):
    cfg = DedupConfig()
    # deterministic split that separates planted dup partners across
    # batches (crc32 of url), so cross-batch linking is really exercised
    a = corpus.where(F.crc32("url") % 2 == 0)
    b = corpus.where(F.crc32("url") % 2 == 1)
    assert a.count() > 0 and b.count() > 0

    inc_dir = str(tmp_path / "inc")
    r1 = dedup_increment(a, cfg, inc_dir)
    assert r1["version"] == 0
    r2 = dedup_increment(b, cfg, inc_dir)
    assert r2["version"] == 1

    one_dir = str(tmp_path / "oneshot")
    r_full = dedup_increment(corpus, cfg, one_dir)

    p_inc, p_full = _partitions(r2["clusters"]), _partitions(r_full["clusters"])
    assert p_inc == p_full
    # sanity: the fixture plants real multi-member exact clusters
    assert any(len(s) > 1 for s in p_full)
    assert r2["n_docs"] == corpus.count()


def test_increment_runs_no_count_job(spark, corpus, tmp_path, monkeypatch):
    """Each batch's row count is observed on the eager cut of its
    signatures, so a two-batch run never calls DataFrame.count, and the
    manifest's n_docs still adds up."""
    a = corpus.where(F.crc32("url") % 2 == 0)
    b = corpus.where(F.crc32("url") % 2 == 1)
    n_a, n = a.count(), corpus.count()

    def count(self):
        raise AssertionError("dedup_increment ran a count job")

    d = str(tmp_path / "state")
    with monkeypatch.context() as m:
        # the session's concrete DataFrame class (pyspark.sql.DataFrame
        # is its base, whose count the subclass overrides)
        m.setattr(type(corpus), "count", count)
        r1 = dedup_increment(a, DedupConfig(), d)
        r2 = dedup_increment(b, DedupConfig(), d)
    assert (r1["n_docs"], r2["n_docs"]) == (n_a, n)


def test_config_mismatch_refuses(spark, corpus, tmp_path):
    d = str(tmp_path / "state")
    dedup_increment(corpus.limit(20), DedupConfig(), d)
    changed = DedupConfig(jaccard_threshold=0.5)
    with pytest.raises(ValueError, match="config mismatch"):
        dedup_increment(corpus.limit(20), changed, d)


def test_signs_normalized_text_like_pipeline(spark, tmp_path):
    """Regression: _batch_signatures must sign NORMALIZED text.

    Raw-text signing made the near tier diverge from the one-shot pipeline
    (and the driver oracle) on any corpus with case/whitespace variance:
    the content hash is of the normalized text, so within one
    dedup_increment call the exact and near tiers would disagree about
    what the document is. Plant a
    pair that is a near-dup ONLY after normalization (one doc is the other
    uppercased with a word swapped, so raw-case shingle sets are disjoint)
    and assert it clusters.
    """
    base = " ".join(f"word{i} token{i}" for i in range(120))
    near_raw = (base.upper() + " EXTRA TAIL WORDS HERE").replace("  ", " ")
    rows = [("u://a", base), ("u://b", near_raw)] + [
        (f"u://filler{i}", f"unique filler document {i} " * 30)
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, "url string, text string")
    r = dedup_increment(docs, DedupConfig(), str(tmp_path / "norm_state"))
    parts = _partitions(r["clusters"])
    assert any({"u://a", "u://b"} <= p for p in parts)


def test_state_versions_are_deltas(spark, corpus, tmp_path):
    """Per-batch writes must be O(batch + touched), not O(total):
    v1/signatures holds only batch B's rows, never a rewrite of the
    whole accumulated state (the Iceberg-append analogue)."""
    cfg = DedupConfig()
    a = corpus.where(F.crc32("url") % 2 == 0)
    b = corpus.where(F.crc32("url") % 2 == 1)
    d = str(tmp_path / "delta_state")
    dedup_increment(a, cfg, d)
    r2 = dedup_increment(b, cfg, d)

    v0 = spark.read.parquet(d + "/v0/signatures")
    v1 = spark.read.parquet(d + "/v1/signatures")
    assert v0.count() == a.count()
    assert v1.count() == b.count()          # delta, not full rewrite
    urls_b = {r["url"] for r in b.select("url").collect()}
    assert {r["url"] for r in v1.select("url").collect()} == urls_b
    assert r2["n_docs"] == corpus.count()   # manifest-accumulated count


@pytest.mark.parametrize(
    "master, kept", [("local[4]", False), ("spark://cluster:7077", True)]
)
def test_incremental_query_deletes_state_dir_only_on_local_master(
    spark, sf_dir, monkeypatch, tmp_path, master, kept
):
    """q_incremental_near_dup's result is an eager localCheckpoint, which
    is not reliable storage: on a cluster a lost executor recomputes its
    blocks from the state parquet. So the query deletes its state dir
    when the executors run in this process, and keeps it otherwise."""
    import os
    import tempfile

    import __spark_entry__ as entrymod

    if not os.path.exists(f"{sf_dir}/documents.parquet"):
        pytest.skip("driver testdata not present")
    made = []

    def mkdtemp(prefix=None):
        made.append(str(tmp_path / f"{prefix}{len(made)}"))
        os.makedirs(made[-1])
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    monkeypatch.setattr(spark.sparkContext, "master", master)
    out = entrymod.q_incremental_near_dup(spark, sf_dir)
    assert len(made) == 1
    assert os.path.isdir(made[0]) == kept
    assert out.count() > 0
