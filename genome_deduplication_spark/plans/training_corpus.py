"""End-to-end training-corpus assembly: the composition a web-scale
training-data pipeline ships as one job.

Stages (each an already-tested operator, composed first-match-wins):

  1. tiered dedup (operators/tiers.tier_dedup_report): url-canonical ->
     exact -> near attribution; only ``kept`` docs continue. Reference
     analogue: the fixed pass order with first-occurrence-wins commit,
     code/dedup2.py:13-15,420-421.
  2. quality gates, row-local: minimum whitespace-token count and a
     Gopher-style distinct-token ratio, both as exact integer
     cross-multiplications (no float compares anywhere in the filter).
  3. benchmark decontamination (operators/decontaminate): drop docs
     sharing any word n-gram (GPT-3's n=13 convention) with the
     benchmark collection, and drop the benchmark docs themselves.
  4. deterministic shard assignment: key-derived uniform bucketed into
     ceil(n / rows_per_shard) shards, carried as a column so the export
     is pure partitionBy.

Scale shape (100 TB): stage 1 carries the whole dedup stack's caps and
star joins; stage 2 is zero-shuffle codegen; stage 3 broadcasts the
benchmark n-gram set (test collections are tiny vs the corpus); stage 4
is row-local given one bounded count. The only driver action is that
1-row count, taken on the eagerly-materialized clean set so the shard
column does not recompute the dedup lineage (lazy localCheckpoint marks
are not persisted under AQE — round-4 finding, plans/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.text import normalize_text
from ..operators.decontaminate import flag_contaminated
from ..operators.split import keyed_uniform
from ..operators.tiers import tier_dedup_report

__all__ = ["build_training_corpus"]


def build_training_corpus(
    pages: DataFrame,
    cfg: DedupConfig,
    *,
    benchmark: DataFrame,
    min_tokens: int = 30,
    min_distinct_pct: int = 40,
    contamination_n: int = 13,
    rows_per_shard: int = 64,
    shard_uniform: Column | None = None,
    seed: int = 0,
) -> DataFrame:
    """(doc_id, url, text) pages + (doc_id, text) benchmark ->
    (doc_id, n_tokens, n_distinct_tokens, shard_id): one row per
    training-ready doc.

    A doc survives iff it is the ``kept`` row of the tier report AND
    ``n_tokens >= min_tokens`` AND
    ``n_distinct_tokens * 100 >= n_tokens * min_distinct_pct`` AND it is
    neither a benchmark doc nor contaminated by one. ``shard_uniform``
    (a [0,1) Column over doc_id; default the house keyed_uniform) is
    bucketed into ``ceil(n_clean / rows_per_shard)`` shards.
    """
    kept_ids = (
        tier_dedup_report(pages, cfg)
        .where(F.col("tier") == "kept")
        .select("doc_id")
    )

    toks = F.split(normalize_text(F.col("text")), " ")
    n_tok = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    quality = (
        pages.join(kept_ids, "doc_id")
        .select("doc_id", "text", n_tok.alias("n_tokens"),
                n_dis.alias("n_distinct_tokens"))
        .where(
            (F.col("n_tokens") >= F.lit(min_tokens))
            & (F.col("n_distinct_tokens") * 100
               >= F.col("n_tokens") * F.lit(min_distinct_pct))
        )
    )

    # multi-consumer stage: flag_contaminated consumes `quality` twice
    # internally (n-gram explode + join-back) and the `clean` join below is
    # a third consumer — without an eager cut the pages scan, the tier
    # report's labelling join (representatives x CC labels) and the token
    # counts replay up to 3x in the one output action. Eager, not
    # lazy: lazy localCheckpoint marks are silently not persisted under
    # AQE (the round-4 recompute bug).
    quality = quality.localCheckpoint(eager=True)

    flags = flag_contaminated(
        quality.select("doc_id", "text"), benchmark, n=contamination_n
    )
    clean = (
        quality.join(flags, "doc_id")
        .where(~F.col("contaminated") & ~F.col("is_benchmark"))
        .select("doc_id", "n_tokens", "n_distinct_tokens")
        # multi-consumer stage: the count below AND the returned frame —
        # eager, or the whole dedup lineage runs twice
        .localCheckpoint(eager=True)
    )

    n = clean.count()
    n_shards = max(1, -(-n // rows_per_shard))
    u = (
        shard_uniform
        if shard_uniform is not None
        else keyed_uniform(seed, F.col("doc_id"))
    )
    return clean.withColumn(
        "shard_id", F.floor(u * F.lit(n_shards)).cast("int")
    )
