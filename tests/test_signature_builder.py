"""One normalize -> signature builder (functions/signatures.py).

Every caller of the signature kernel — incremental's batch signatures
and the tier report's near tier — must give the rows the pipeline's ``signatures`` stage gives for the same docs, and that
stage must run the kernel once per doc over text normalized once, in
stage 1."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from genome_deduplication_spark.config import DedupConfig
from genome_deduplication_spark.fixtures.pages import PAGES_SCHEMA, fx_mixed
from genome_deduplication_spark.functions.hashing import hash128
from genome_deduplication_spark.functions.text import normalize_text
from genome_deduplication_spark.operators import tiers
from genome_deduplication_spark.operators.incremental import dedup_increment
from genome_deduplication_spark.plans.pipeline import dedup_pipeline

CFG = DedupConfig()
HTML_URL = "https://html.example/0"  # text only in its html
SHORT_URL = "https://short.example/0"  # shorter than one shingle


def _rows():
    ts = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
    body = " ".join(f"Word{i}  token{i % 7}" for i in range(60))
    return fx_mixed(seed=42).rows + [
        {
            "url": HTML_URL,
            "warc_ts": ts,
            "html": f"<html><body><p>{body}</p></body></html>".encode(),
            "text": None,
            "lang": "en",
        },
        {"url": SHORT_URL, "warc_ts": ts, "html": None, "text": "Tiny", "lang": "en"},
    ]


@pytest.fixture(scope="module")
def pipeline_run(spark):
    """(pages, the unrecorded pipeline's signature rows by url, the
    signatures stage's executed plan)."""
    pages = spark.createDataFrame(_rows(), PAGES_SCHEMA).localCheckpoint(eager=True)
    sc = spark.sparkContext
    frame = type(pages)
    checkpoint = frame.localCheckpoint
    plans = {}

    def spy(self, *args, **kwargs):
        out = checkpoint(self, *args, **kwargs)
        if sc.getLocalProperty("spark.job.description") == "stage:signatures":
            plans["signatures"] = self._jdf.queryExecution().executedPlan().toString()
        return out

    with pytest.MonkeyPatch.context() as m:
        m.setattr(frame, "localCheckpoint", spy)
        tables = dedup_pipeline(pages, CFG, enable_substring_pass=False)
    sigs = {r["url"]: r.asDict() for r in tables["signatures"].collect()}
    return pages, sigs, plans["signatures"]


def _pick(rows, urls, cols):
    return {u: tuple(rows[u][c] for c in cols) if u in rows else None for u in urls}


@pytest.mark.parametrize("caller", ["incremental", "tier_report"])
def test_signature_callers_equal_pipeline(spark, tmp_path, monkeypatch,
                                          pipeline_run, caller):
    pages, want, _ = pipeline_run
    assert HTML_URL in want and SHORT_URL not in want
    # content_hash is the hash of the raw text, normalized once
    raw = {
        r["url"]: r["h"]
        for r in pages.select(
            "url", hash128(normalize_text(F.col("text"))).alias("h")
        ).collect()
    }
    with_text = sorted(u for u in want if u != HTML_URL)
    assert all(want[u]["content_hash"] == raw[u] for u in with_text)

    if caller == "incremental":
        state = str(tmp_path / "state")
        dedup_increment(
            pages.where(F.col("text").isNotNull()).select("url", "text"), CFG, state
        )
        got = {
            r["url"]: r.asDict()
            for r in spark.read.parquet(state + "/v0/signatures").collect()
        }
        cols = ("doc_key", "url", "content_hash", "minhash", "simhash")
        assert _pick(got, with_text, cols) == _pick(want, with_text, cols)
    else:
        signed = []
        pairs = tiers.candidate_pairs

        def spy(sigs, *args, **kwargs):
            signed.append(sigs)
            return pairs(sigs, *args, **kwargs)

        monkeypatch.setattr(tiers, "candidate_pairs", spy)
        docs = pages.select("url", "text").collect()
        tiers.tier_dedup_report(
            spark.createDataFrame(
                [(i, r["url"], r["text"]) for i, r in enumerate(docs)],
                "doc_id bigint, url string, text string",
            ),
            CFG,
        ).collect()
        got = {
            docs[r["doc_id"]]["url"]: r.asDict()
            for r in signed[0].select("doc_id", "minhash", "simhash").collect()
        }
        # one signature per distinct text: each exact group's representative
        assert len(got) == len({want[u]["content_hash"] for u in with_text})
        cols = ("minhash", "simhash")
        assert _pick(got, got, cols) == _pick(want, got, cols)


def test_signatures_stage_signs_once_over_normalized_text(pipeline_run):
    """The kernel runs once per doc (one ArrowEvalPython), and the stage
    hashes the text stage 1 normalized without normalizing it again."""
    plan = pipeline_run[2]
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "regexp_replace" not in plan, plan
