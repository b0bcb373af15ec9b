"""Tiered dedup attribution (operators/tiers.py).

Planted-fixture semantics, tier precedence, and the exactly-one-row-per-
doc partition invariant; the sf-scale differential against DuckDB runs
via the driver oracle row (dedup_tier_report)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from genome_deduplication_spark.config import DedupConfig
from genome_deduplication_spark.operators.tiers import tier_dedup_report

CFG = DedupConfig()


def _long_text(rng: random.Random, words: int = 120) -> str:
    vocab = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
             "golf", "hotel", "india", "juliet", "kilo", "lima"]
    return " ".join(rng.choice(vocab) for _ in range(words))


@pytest.fixture(scope="module")
def tier_fixture(spark):
    rng = random.Random(7)
    base = _long_text(rng)                      # doc 0's text
    near = base[:-30] + " zulu yankee xray"     # ~0.95 shingle jaccard vs base
    other = _long_text(random.Random(99), 120).replace("alpha", "mike")
    rows = [
        # (doc_id, raw url, text)
        (0, "https://site.example.com/a", base),
        # url-dup of 0 (tracker variant) whose text ALSO near-dups 0:
        # precedence must attribute it to the url tier, not near
        (1, "https://site.example.com/a?utm_source=rss", near),
        # unique url, byte-identical text -> exact tier, kept_by 0
        (2, "https://site.example.com/b", base),
        # unique url, near-dup text -> near tier, kept_by 0
        (3, "https://site.example.com/c", near),
        # unrelated long doc -> kept
        (4, "https://site.example.com/d", other),
        # NULL text and whitespace-only text never fold -> kept
        (5, "https://site.example.com/e", None),
        (6, "https://site.example.com/f", "   "),
        (7, "https://site.example.com/g", " \t "),
        # shorter than one shingle -> ineligible for near, kept
        (8, "https://site.example.com/h", "tiny"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = tier_dedup_report(docs, CFG)
    got = {r["doc_id"]: (r["tier"], r["kept_by"]) for r in out.collect()}
    return rows, got


def test_tier_attribution_planted(tier_fixture):
    _, got = tier_fixture
    assert got[1] == ("url", 0)      # precedence: url beats near
    assert got[2] == ("exact", 0)
    assert got[3] == ("near", 0)
    for kept_id in (0, 4, 5, 6, 7, 8):
        assert got[kept_id] == ("kept", None), kept_id


def test_tier_report_partitions_docs_exactly_once(tier_fixture):
    rows, got = tier_fixture
    assert set(got) == {r[0] for r in rows}  # dict build would mask dups
    # re-assert row count (a doc attributed twice collapses in the dict)
    assert len(got) == len(rows)


def test_tier_report_whitespace_docs_do_not_fold(tier_fixture):
    """Docs 6 and 7 both normalize to '' — unknown/empty content must not
    be treated as duplicate evidence."""
    _, got = tier_fixture
    assert got[6] == ("kept", None)
    assert got[7] == ("kept", None)


def test_tier_report_no_eligible_docs(spark):
    """All-short/empty/NULL corpus: the near tier's signature frame is
    empty — LSH/verify/CC on zero rows must not fail, and every doc with
    a unique URL is kept."""
    rows = [
        (0, "https://x.example.com/a", "tiny"),
        (1, "https://x.example.com/b", ""),
        (2, "https://x.example.com/c", None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    got = {r["doc_id"]: (r["tier"], r["kept_by"])
           for r in tier_dedup_report(docs, CFG).collect()}
    assert got == {0: ("kept", None), 1: ("kept", None), 2: ("kept", None)}


def test_tier_report_null_and_empty_urls(spark):
    """NULL/empty-url docs must (a) still produce exactly one output row —
    the tier-1 equi-join used to silently delete them (null-rejecting
    join), so they were neither removed nor kept — and (b) never fold with
    each other at the url tier (unknown resource identity is not evidence
    of duplication), while (c) still folding at the CONTENT tiers."""
    rng = random.Random(11)
    a = _long_text(rng)
    b = _long_text(rng)
    rows = [
        (0, "https://n.example.com/a", a),
        (1, None, a),        # exact-dup content, unknown url -> exact tier
        (2, None, b),        # distinct content, NULL url -> kept
        (3, "", b),          # distinct content... but exact-dup of 2
        (4, None, _long_text(rng)),
        (5, "", _long_text(rng)),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    got = {r["doc_id"]: (r["tier"], r["kept_by"])
           for r in tier_dedup_report(docs, CFG).collect()}
    assert set(got) == set(range(6))            # no silent row loss
    assert got[1] == ("exact", 0)               # content tier still fires
    assert got[2] == ("kept", None)
    assert got[3] == ("exact", 2)               # '' url does not fold w/ NULL
    assert got[4] == ("kept", None)
    assert got[5] == ("kept", None)


def test_entry_planted_url_fold_sf0001(spark, sf_dir):
    """The driver-query URL planting: every doc with doc_id%11==3 (whose
    predecessor exists) folds onto its predecessor's page through four
    different canonicalization-noise variants — the url tier must remove
    exactly that set, with kept_by == doc_id - 1."""
    import __spark_entry__ as entry

    out = entry.q_dedup_tier_report(spark, sf_dir).collect()
    ids = {r["doc_id"] for r in out}
    expected_url = {d for d in ids if d % 11 == 3 and (d - 1) in ids}
    url_rows = {r["doc_id"]: r["kept_by"] for r in out if r["tier"] == "url"}
    assert set(url_rows) == expected_url
    assert all(url_rows[d] == d - 1 for d in url_rows)
    # partition invariant at sf scale: one row per doc, all tiers legal
    assert len(out) == len(ids)
    assert {r["tier"] for r in out} <= {"url", "exact", "near", "kept"}


def test_tier_plan_compiles_under_wholestage_codegen(spark):
    """Regression guard for the PLANS.md round-5 codegen hazard: the
    identity-tier expression tree (canonicalize_url + sentinel wrapper +
    the join's inferred isnotnull pushdown) once grew past janino's
    method limit, silently dropping the hottest stage to interpreted
    mode. With fallback disabled, a compile failure becomes a hard error
    and this test goes red instead."""
    old = spark.conf.get("spark.sql.codegen.fallback", None)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rng = random.Random(3)
        rows = [
            (i, f"https://g.example.com/{i}?next=//x/{i}", _long_text(rng))
            for i in range(8)
        ] + [(8, None, _long_text(rng)), (9, "", _long_text(rng))]
        docs = spark.createDataFrame(
            rows, "doc_id long, url string, text string"
        )
        out = tier_dedup_report(docs, CFG).collect()
        assert len(out) == 10
    finally:
        if old is None:
            spark.conf.unset("spark.sql.codegen.fallback")
        else:
            spark.conf.set("spark.sql.codegen.fallback", old)


def test_tier_report_plans_each_fold_once(spark, cc_sides):
    """Plan guard for the single-pass shape: both identity folds (the
    canonical-url aggregate keyed on ``cu`` and the exact-text aggregate
    keyed on ``s``) sit behind the one eager checkpoint of the per-doc
    representatives, so the returned frame's executed plan holds neither
    aggregate — a per-tier branch that replayed a fold would bring its
    HashAggregate back into the plan. Checked on both sides of CC's
    driver gate; only the star loop leaves aggregates (its labels) in
    the plan, which shows the guard can see one."""
    import re

    rng = random.Random(5)
    text = _long_text(rng)
    rows = [
        (0, "https://p.example.com/a", text),
        (1, "https://p.example.com/a?utm_source=x", _long_text(rng)),
        (2, "https://p.example.com/b", text),
        (3, "https://p.example.com/c", _long_text(rng)),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    for side in cc_sides():
        out = tier_dedup_report(docs, CFG)
        got = {r["doc_id"]: (r["tier"], r["kept_by"]) for r in out.collect()}
        assert got == {0: ("kept", None), 1: ("url", 0), 2: ("exact", 0),
                       3: ("kept", None)}, side
        plan = out._jdf.queryExecution().executedPlan().toString()
        if side == "loop":
            assert "HashAggregate" in plan, plan  # CC's label aggregates
        assert not re.search(r"HashAggregate\(keys=\[(cu|s)#", plan), (side, plan)
