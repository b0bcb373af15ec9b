"""Repetition metrics (functions/text.top_gram_run_chars) + PII redaction
(operators/pii.py).

Semantics under test: top_gram_run_chars = count x chars of the most
frequent word k-gram (ties -> lexicographically smallest gram), 0 for
docs shorter than k; redact_pii counts non-overlapping matches on the
original text and substitutes typed placeholders in the fixed order
email -> ipv4 -> phone. Both operators are row-local: their driver-query
plans must contain NO Exchange at all.
"""

import random
import re
from collections import Counter

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from genome_deduplication_spark.functions.text import (
    normalize_text,
    top_gram_run_chars,
)
from genome_deduplication_spark.operators.pii import redact_pii


def _brute_top(text, k):
    toks = " ".join(text.split()).lower().split(" ")
    if len(toks) < k:
        return 0
    c = Counter(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))
    m = max(c.values())
    bg = min(g for g, n in c.items() if n == m)
    return m * len(bg)


def test_top_gram_differential_vs_counter(spark):
    rng = random.Random(5)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    texts = [
        "a b a b a b c",
        "w w w w",
        "x",
        "",
        "cat dog cat dog bird cat dog",
    ] + [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
        for _ in range(40)
    ]
    df = spark.createDataFrame([Row(i=i, text=t) for i, t in enumerate(texts)])
    base = df.select(
        "i", F.split(normalize_text(F.col("text")), " ").alias("toks")
    )
    out = {
        r["i"]: (r["t2"], r["t3"], r["t4"])
        for r in base.select(
            "i",
            *[top_gram_run_chars("toks", k).alias(f"t{k}") for k in (2, 3, 4)],
        ).collect()
    }
    for i, t in enumerate(texts):
        assert out[i] == tuple(_brute_top(t, k) for k in (2, 3, 4)), (i, t)


def test_redact_pii_counts_order_and_placeholders(spark):
    rows = [
        (1, "mail me at jo.doe+x@sub.example.org or ops@example.io thanks"),
        (2, "server 192.168.0.1 and 10.2.3.4 answered"),
        (3, "call +44 123 4567 today"),
        (4, "clean text with no personal data at all"),
        (5, "agent7@example.com from 8.8.8.8 dial +1 555 0123"),
    ]
    out = {
        r["doc_id"]: r
        for r in redact_pii(
            spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])
        ).collect()
    }
    assert out[1]["n_emails"] == 2 and "<EMAIL>" in out[1]["redacted_text"]
    assert "@" not in out[1]["redacted_text"]
    assert out[2]["n_ipv4s"] == 2
    assert out[2]["redacted_text"] == "server <IP> and <IP> answered"
    assert out[3]["n_phones"] == 1
    assert out[3]["redacted_text"] == "call <PHONE> today"
    assert out[4]["n_emails"] == out[4]["n_ipv4s"] == out[4]["n_phones"] == 0
    assert out[4]["redacted_text"] == rows[3][1]
    assert (out[5]["n_emails"], out[5]["n_ipv4s"], out[5]["n_phones"]) == (1, 1, 1)
    assert out[5]["redacted_text"] == "<EMAIL> from <IP> dial <PHONE>"


def test_masked_word_spans_single_exchange(spark, sf_dir):
    """Plan guard: q_masked_word_spans' three windows and its island
    groupBy all key on doc_id first, so _read's explicit
    hashpartitioning(doc_id) satisfies every one of them — the plan has
    exactly that one shuffle Exchange, below all three windows."""
    import os

    import pytest

    if not os.path.exists(f"{sf_dir}/documents.parquet"):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as entrymod

    plan = entrymod.q_masked_word_spans(spark, sf_dir)._jdf.queryExecution()
    plan = plan.executedPlan().toString()
    lines = [line.lstrip(" :|+-") for line in plan.splitlines()]
    exchanges = [line for line in lines if "Exchange" in line]
    assert len(exchanges) == 1, plan
    assert exchanges[0].startswith("Exchange hashpartitioning(doc_id#"), plan
    assert "REPARTITION_BY" in exchanges[0], plan
    windows = [i for i, line in enumerate(lines) if line.startswith("Window ")]
    assert len(windows) == 3, plan
    below = lines.index(exchanges[0])
    assert below > max(windows), plan
    aggs = [i for i, line in enumerate(lines) if "HashAggregate" in line]
    assert aggs and max(aggs) < below, plan


def test_quality_queries_are_shuffle_free(spark, sf_dir):
    """Scale guard: per-doc quality metrics are row-local — the plans
    must contain no Exchange of any kind (a shuffle here would move the
    whole corpus for a per-row computation, and a scan spread under a
    row-local plan is pure cost)."""
    import os

    if not os.path.exists(f"{sf_dir}/documents.parquet"):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as entrymod

    for q in (entrymod.q_repetition_metrics, entrymod.q_pii_redaction):
        plan = q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (q.__name__, plan)


# _read spreads a scan only when its caller passes a key: the cheap
# queries read plainly, the heavy-kernel ones keep exactly one spread,
# hashed on their table's key (BENCH.md, "Scan spread per query").
_SPREAD = {
    "value_percentiles": None,
    "event_props_rollup": None,
    "click_attribution": None,
    "decontamination": None,
    "token_quality": None,
    "exact_dup_clusters": "doc_id",
    "char_jaccard_pairs": "doc_id",
    "embedding_cosine_topk": "vec_id",
    "merged_ship_intervals": "l_suppkey",
    "minhash_signatures": "doc_id",
    "user_sessions": "user_id",  # the one events query that keeps it
}


@pytest.mark.parametrize("name", sorted(_SPREAD))
def test_read_spreads_only_keyed_scans(spark, sf_dir, name, monkeypatch):
    import os

    if not os.path.exists(f"{sf_dir}/documents.parquet"):
        pytest.skip("driver testdata not present")
    import __spark_entry__ as entrymod

    # a spread below an eager localCheckpoint (char_jaccard_pairs) is in
    # the checkpointed plan, not in the one the query returns
    plans = []
    frame = type(spark.range(1))
    checkpoint = frame.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", spy)
    df = entrymod.queries()[name](spark, sf_dir)
    plans.append(df._jdf.queryExecution().executedPlan().toString())
    plan = "\n".join(plans)
    # a self-joined scan shows its one spread under both join sides;
    # expression and plan ids aside they are the same Exchange
    spreads = {
        re.sub(r"#\d+L?|\[plan_id=\d+\]", "", line.lstrip(" :|+-"))
        for line in plan.splitlines()
        if "Exchange " in line and "REPARTITION_BY" in line
    }
    key = _SPREAD[name]
    if key is None:
        assert not spreads, plan
    else:
        assert len(spreads) == 1, plan
        (spread,) = spreads
        assert spread.startswith(f"Exchange hashpartitioning({key}, "), plan
