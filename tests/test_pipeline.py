"""End-to-end pipeline tests: recall vs. oracle + invariants (checks 1-5
analogues, reference tests/checks.txt:1-9)."""

from __future__ import annotations

import datetime
import random

import pytest
from pyspark.sql import functions as F

from genome_deduplication_spark.config import DedupConfig
from genome_deduplication_spark.fixtures.pages import (
    _WORDS,
    Corpus,
    fx_mixed,
    fx_near,
    pages_df,
)
from genome_deduplication_spark.oracle import (
    exact_jaccard_pairs,
    minhash_lsh_pairs,
    normalize_py,
    pair_recall,
)
from genome_deduplication_spark.plans.pipeline import dedup_pipeline

CFG = DedupConfig()


@pytest.fixture(scope="module")
def mixed_result(spark):
    corpus = fx_mixed(seed=42)
    df = pages_df(spark, corpus)
    tables = dedup_pipeline(df, CFG, run_dir=None)
    return corpus, tables


def test_every_doc_clustered_exactly_once(spark, mixed_result):
    corpus, tables = mixed_result
    clusters = tables["clusters"]
    # check-5 analogue: clusters tile the (non-ambiguous) corpus exactly
    per_url = clusters.groupBy("url").count().where("count > 1")
    assert per_url.count() == 0
    n_ambig = tables["ambiguous"].count()
    assert clusters.count() + n_ambig == len(corpus.rows)


def test_truth_pair_recall(spark, mixed_result):
    corpus, tables = mixed_result
    got = {
        (r["id_a"], r["id_b"]) if r["id_a"] < r["id_b"] else (r["id_b"], r["id_a"])
        for r in tables["dup_edges"].collect()
    }
    truth_whole_doc = {
        (p["url_a"], p["url_b"])
        for p in corpus.truth_pairs
        if p["kind"] in ("exact", "near")
    }
    recall = pair_recall(got, truth_whole_doc)
    assert recall >= 0.99, recall
    truth_substr = {
        (p["url_a"], p["url_b"]) for p in corpus.truth_pairs if p["kind"] == "substring"
    }
    recall_sub = pair_recall(got, truth_substr)
    assert recall_sub >= 0.95, recall_sub


def test_no_false_merges_of_controls(spark, mixed_result):
    corpus, tables = mixed_result
    clusters = {r["url"]: r["cluster_id"] for r in tables["clusters"].collect()}
    # boilerplate + unique docs must remain singletons (check-1 analogue:
    # canonical docs pairwise non-duplicate)
    for row in corpus.truth_clusters:
        u = row["url"]
        if u.startswith("https://boiler.") or u.startswith("https://unique."):
            assert clusters[u] == u, u


def _assert_matches_oracle(spark, corpus):
    df = pages_df(spark, corpus)
    tables = dedup_pipeline(df, CFG, run_dir=None, enable_substring_pass=False)
    # verified pairs are doc_key pairs: map them to sorted url pairs
    url = {
        bytes(r["doc_key"]): r["url"]
        for r in tables["normalized"].select("doc_key", "url").collect()
    }
    got = {
        tuple(sorted((url[bytes(r["id_a"])], url[bytes(r["id_b"])])))
        for r in tables["verified"].where("is_dup").collect()
    }
    docs = {r["url"]: r["text"] for r in corpus.rows}
    warc_ts = {r["url"]: r["warc_ts"] for r in corpus.rows}
    assert got == minhash_lsh_pairs(docs, CFG, warc_ts)


def _group_corpus(texts: list[str]) -> Corpus:
    corpus = Corpus()
    for i, text in enumerate(texts):
        corpus.rows.append(
            {
                "url": f"https://star.example/{i}",
                "warc_ts": datetime.datetime(2024, 1, 1, 0, 0, i),
                "html": None,
                "text": text,
                "lang": "en",
            }
        )
    return corpus


def _one_edit_group(seed: int = 0, members: int = 60, n_words: int = 300):
    """One near-dup group: a base doc plus copies that each replace one
    word, every copy at its own position — no two texts are equal, so the
    exact-group election leaves every member in the LSH buckets."""
    rng = random.Random(seed)
    base = [f"w{rng.randrange(10**6)}" for _ in range(n_words)]
    edits = [None] + rng.sample(range(n_words), members - 1)
    texts = []
    for pos in edits:
        words = list(base)
        if pos is not None:
            words[pos] = "edited"
        texts.append(" ".join(words))
    return _group_corpus(texts)


def _repeating_edit_group(seed: int = 0, members: int = 60, n_words: int = 300):
    """One near-dup group over the fixture vocabulary whose one-word edits
    can repeat (or restore the base word): with seed 0, 60 members hold 57
    distinct texts, so the exact-group election drops 3 copies."""
    rng = random.Random(seed)
    base = [rng.choice(_WORDS) for _ in range(n_words)]
    texts = [" ".join(base)]
    for _ in range(members - 1):
        words = list(base)
        word = rng.choice(_WORDS)
        words[rng.randrange(n_words)] = word
        texts.append(" ".join(words))
    return _group_corpus(texts)


def test_spark_matches_sequential_minhash_oracle(spark):
    """Differential test (py<->cpp diff analogue): the Spark LSH/verify pair
    set must equal the sequential oracle running identical math."""
    _assert_matches_oracle(spark, fx_near(seed=42, groups=10))


def test_spark_matches_sequential_minhash_oracle_star_buckets(spark):
    """The same differential on one 60-member near-dup group: most of its
    band buckets exceed the clique budget, so both sides must pick each
    star centre in doc_key (md5 of the url) order, not url order."""
    _assert_matches_oracle(spark, _one_edit_group())


def test_spark_matches_sequential_minhash_oracle_repeated_texts(spark):
    """The same differential on a group that holds exact copies: the
    pipeline sends one representative per normalized text into LSH, so
    the twin must collapse each exact group the same way — dropping the
    copies can shrink a band bucket under the clique budget, turning its
    star into a clique on both sides."""
    corpus = _repeating_edit_group()
    assert len({r["text"] for r in corpus.rows}) == 57
    _assert_matches_oracle(spark, corpus)


def test_recall_vs_exact_jaccard_oracle(spark, mixed_result):
    corpus, tables = mixed_result
    docs = {r["url"]: r["text"] for r in corpus.rows}
    truth = exact_jaccard_pairs(docs, CFG)
    got = {
        tuple(sorted((r["id_a"], r["id_b"]))) for r in tables["dup_edges"].collect()
    }
    assert pair_recall(got, truth) >= 0.99


def test_canonical_is_min_warc_ts_url(spark, mixed_result):
    corpus, tables = mixed_result
    clusters = tables["clusters"]
    docs = pages_df(spark, corpus).select("url", "warc_ts")
    joined = clusters.join(docs, "url")
    canon = joined.groupBy("cluster_id").agg(
        F.min(F.struct("warc_ts", "url")).alias("m")
    )
    bad = canon.where(F.col("m.url") != F.col("cluster_id"))
    assert bad.count() == 0


def test_html_extraction_drives_pipeline(spark):
    """Stage-1 html->text path (reference parse+clean entry,
    code/dedup2.py:461-468): with the text column nulled, the deterministic
    extractor recovers the corpus and the pipeline finds the same clusters."""
    from genome_deduplication_spark.fixtures.pages import fx_exact

    corpus = fx_exact(seed=42, groups=8, copies=3)
    df = pages_df(spark, corpus).withColumn("text", F.lit(None).cast("string"))
    tables = dedup_pipeline(df, CFG, run_dir=None, enable_substring_pass=False)
    got = {r["url"]: r["cluster_id"] for r in tables["clusters"].collect()}
    want = {r["url"]: r["cluster_id"] for r in corpus.truth_clusters}
    assert got == want
    # no doc fell into ambiguous: extraction produced usable text for all
    assert tables["ambiguous"].count() == 0


def test_html_extraction_byte_identical_per_url(spark):
    """input_hint invariant: same html bytes => byte-identical extracted
    text per url, independent of partitioning; plus a pinned extraction."""
    from genome_deduplication_spark.functions.text import extract_text_from_html

    corpus = fx_mixed(seed=7)
    df = pages_df(spark, corpus).select("url", "html")
    a = {
        r["url"]: r["t"]
        for r in df.select(
            "url", extract_text_from_html(F.col("html")).alias("t")
        ).collect()
    }
    b = {
        r["url"]: r["t"]
        for r in df.repartition(17)
        .select("url", extract_text_from_html(F.col("html")).alias("t"))
        .collect()
    }
    assert a == b
    pinned = spark.createDataFrame(
        [("u", b"<html><head><script>x=1</script></head>"
               b"<body><h1>A&amp;B</h1><p>hello   world</p></body></html>")],
        "url string, html binary",
    )
    out = pinned.select(extract_text_from_html(F.col("html")).alias("t")).collect()
    assert out[0]["t"] == "a&b hello world"


def test_stochastic_retain(spark):
    """D3 stochastic retain (reference: with prob `retain` a duplicate is
    let through anyway, code/dedup2.py:150-151): retain_rate=0.5 drops
    ~half the planted dup edges, deterministically from the pair key —
    the SAME edges under any partitioning (never F.rand())."""
    from genome_deduplication_spark.operators.verify import verify_pairs

    corpus = fx_near(seed=7, groups=60, copies=1)
    df = pages_df(spark, corpus)

    def norm_edges(tables):
        return {
            (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]))
            for r in tables["dup_edges"].collect()
        }

    base = dedup_pipeline(
        df, DedupConfig(), run_dir=None, enable_substring_pass=False
    )
    base_edges = norm_edges(base)
    assert len(base_edges) >= 50  # planted pairs are found without retain

    cfg = DedupConfig(retain_rate=0.5)
    retained = dedup_pipeline(
        df, cfg, run_dir=None, enable_substring_pass=False
    )
    kept_edges = norm_edges(retained)
    # retain only ever removes edges, never adds
    assert kept_edges <= base_edges
    frac_dropped = 1 - len(kept_edges) / len(base_edges)
    # binomial(n>=50, p=0.5): [0.3, 0.7] is a >4-sigma acceptance band
    assert 0.3 <= frac_dropped <= 0.7, frac_dropped

    # partitioning invariance: identical verdicts per pair at 1 vs 16
    # partitions (key-derived uniform, not per-row randomness)
    sigs = retained["signatures"]
    pairs = spark.createDataFrame(
        sorted(base_edges), "id_a string, id_b string"
    )
    v1 = {
        (r["id_a"], r["id_b"], r["is_dup"])
        for r in verify_pairs(pairs.repartition(1), sigs, cfg).collect()
    }
    v16 = {
        (r["id_a"], r["id_b"], r["is_dup"])
        for r in verify_pairs(pairs.repartition(16), sigs, cfg).collect()
    }
    assert v1 == v16


def test_substring_planted_pairs_only_via_substring_pass(spark):
    """The planted substring corpus (q_substring_dup_clusters) links its
    twins ONLY through the suffix-array pass: with the pass disabled the
    pipeline finds no multi-member clusters at all; with it enabled every
    eligible base doc yields exactly one 2-member cluster."""
    import sys

    sys.path.insert(0, "/root/repo")
    from __spark_entry__ import _sub_planted_pages

    sf_dir = "/root/testdata/sf0.001"
    pages = _sub_planted_pages(spark, sf_dir)
    n_pairs = pages.count() // 2

    off = dedup_pipeline(
        pages, CFG, run_dir=None, enable_substring_pass=False
    )
    assert off["clusters"].where("cluster_size > 1").count() == 0

    on = dedup_pipeline(pages, CFG, run_dir=None, enable_substring_pass=True)
    multi = on["clusters"].where("cluster_size > 1")
    assert multi.count() == 2 * n_pairs
    assert multi.where("cluster_size != 2").count() == 0
