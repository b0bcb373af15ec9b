from __future__ import annotations

from pyspark.sql import functions as F

from genome_deduplication_spark.config import DedupConfig
from genome_deduplication_spark.fixtures.pages import (
    fx_internal_repeat,
    pages_df,
)
from genome_deduplication_spark.operators.spans import (
    coverage_gaps,
    self_repeat_spans,
    self_repeat_spans_py,
)
from genome_deduplication_spark.plans.pipeline import dedup_pipeline


def test_self_repeat_spans_py_finds_planted_block():
    block = "the quick brown fox jumps over the lazy dog again and again ok"
    text = block + " filler words here " + block
    spans = self_repeat_spans_py(text, min_len=30)
    assert spans, "planted repeat not found"
    # both occurrences covered
    assert any(s <= 0 < e for s, e in spans)
    assert any(s <= text.rindex(block) < e for s, e in spans)
    assert self_repeat_spans_py("all unique words here", 10) == []


def test_self_repeat_spans_operator(spark):
    corpus = fx_internal_repeat(seed=42, docs=10)
    df = pages_df(spark, corpus)
    # fixture blocks are 20-60 words (>=100 chars); filler 50-150 words
    out = self_repeat_spans(df, min_len=100)
    urls_with_repeats = {r["url"] for r in out.select("url").distinct().collect()}
    assert len(urls_with_repeats) >= 8  # most planted docs detected
    assert urls_with_repeats <= {r["url"] for r in corpus.truth_clusters}


def test_coverage_gaps(spark):
    docs = spark.createDataFrame(
        [("a", "x" * 100), ("b", "y" * 50)], "url string, text string"
    )
    spans = spark.createDataFrame(
        [("a", 0, 40), ("a", 40, 100), ("b", 10, 20)],
        "url string, start bigint, end bigint",
    )
    gaps = {(r["url"], r["start"], r["end"]) for r in coverage_gaps(spans, docs).collect()}
    assert gaps == {("b", 0, 10), ("b", 20, 50)}  # 'a' fully tiled


def test_span_byte_contract_non_ascii(spark):
    """Span offsets are UTF-8 byte offsets end-to-end: spans found on
    multi-byte text slice back to the exact repeated block, and
    coverage_gaps accounts in octets."""
    block = "héllo wörld ünïcode çontent " * 3  # multi-byte chars
    text = block + "середина filler " + block
    spans = self_repeat_spans_py(text, min_len=30)
    assert spans
    df = spark.createDataFrame([("a", text)], "url string, text string")
    sdf = spark.createDataFrame(
        [("a", s, e) for s, e in spans], "url string, start bigint, end bigint"
    )
    raw = text.encode("utf-8")
    for s, e in spans:
        # strict decode: the offsets land on character boundaries
        assert block.strip() in raw[s:e].decode("utf-8")
    # gaps + spans must tile [0, octet_length)
    gaps = coverage_gaps(sdf, df).collect()
    covered = sum(e - s for s, e in spans) + sum(
        r["end"] - r["start"] for r in gaps
    )
    assert covered == len(raw)


def test_four_way_spans_tile_corpus(spark):
    """Reference 4-way output parity (code/dedup2.py:17-31): sample/masked/
    ignored/ambiguous spans tile every document's [0, octet_length) exactly
    once on the mixed fixture."""
    from genome_deduplication_spark.fixtures.pages import fx_mixed
    from genome_deduplication_spark.operators.spans import (
        build_spans_table,
        coverage_gaps,
    )

    corpus = fx_mixed(seed=42)
    df = pages_df(spark, corpus)
    tables = dedup_pipeline(df, DedupConfig(), run_dir=None,
                            enable_substring_pass=False)
    spans = build_spans_table(
        tables["normalized"].where("NOT is_ambiguous"),
        tables["clusters"],
        tables["ambiguous"],
        min_repeat_len=120,
    ).localCheckpoint(eager=True)
    docs = tables["normalized"].select("url", "text")
    # no gaps...
    assert coverage_gaps(spans, docs).count() == 0
    # ...and no overlaps: per-doc span lengths sum to octet_length
    covered = {
        r["url"]: r["c"]
        for r in spans.groupBy("url")
        .agg(F.sum(F.col("end") - F.col("start")).alias("c"))
        .collect()
    }
    lens = {
        r["url"]: r["l"]
        for r in docs.select(
            "url", F.coalesce(F.octet_length("text"), F.lit(0)).alias("l")
        ).collect()
    }
    for url, ln in lens.items():
        assert covered.get(url, 0) == ln, url
    # every kind present on this fixture
    kinds = {r["kind"] for r in spans.select("kind").distinct().collect()}
    assert kinds == {"sample", "masked", "ignored", "ambiguous"}
