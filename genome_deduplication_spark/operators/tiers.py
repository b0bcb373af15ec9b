"""Tiered webtext dedup attribution: url-canonical -> exact -> near.

A production crawl dedup stack applies cheap identity tiers before
expensive similarity tiers: (1) canonical-URL fold (recrawls of the same
resource under fragment/port/tracker/case variants), (2) exact content
dedup over normalized text, (3) MinHash/LSH near-dup closed under
connected components. Each tier sees only the previous tier's survivors
(first-match-wins), and every document is attributed to exactly one
removal tier — or ``kept`` — together with the id of the representative
that shadows it. Reference analogue: the reference's fixed pass order
with first-occurrence-wins deferred commit (code/dedup2.py:13-15,420-421),
re-expressed as one declarative report instead of sequential file scans.

Scale shape (100 TB):
  - tiers 1-2 are hash-aggregates on uniform keys (canonical url /
    normalized-text value) with a co-partitioned join-back — AQE reuses
    the grouping exchange for the join, and a 10^8-recrawl URL collapses
    to one group row (star join-back, never a collect_list);
  - tier 3 inherits lsh.py's count-guarded bucket caps and the O(log n)
    star CC — no all-pairs stage anywhere;
  - the output is one fixed-width row per input doc; normalized text is
    shuffled once per identity tier and never after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.signatures import make_doc_signature_udf
from ..functions.text import normalize_text
from ..functions.urls import canonicalize_url
from .connected_components import connected_components
from .lsh import candidate_pairs
from .verify import dup_edges, verify_pairs

__all__ = ["tier_dedup_report"]


def tier_dedup_report(
    docs: DataFrame,
    cfg: DedupConfig,
    *,
    id_col: str = "doc_id",
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """(numeric id, raw url, text) -> (doc_id, tier, kept_by).

    ``tier`` is one of ``url`` / ``exact`` / ``near`` / ``kept``;
    ``kept_by`` is the numeric-min id of the fold group that shadows the
    doc (NULL for kept docs). Exactly one output row per input doc.

    Tier semantics (first match wins):
      url    same canonical URL as a lower-id doc (content irrelevant —
             a recrawl of the same resource). NULL/empty urls never fold
             at this tier: unknown resource identity is not evidence of
             duplication (and a null-rejecting equi-join must not drop
             the row — every doc still gets exactly one output row);
             such docs fall through to the content tiers
      exact  same normalized text as a lower-id url-survivor (empty/NULL
             text never folds: unknown content is not evidence of
             duplication)
      near   in the same LSH/verify/CC near-dup component as a lower-id
             exact-survivor (docs shorter than one shingle are ineligible
             and pass through, mirroring the pipeline's ambiguous split)
      kept   survived every tier
    """
    # NULL/empty url -> a per-doc sentinel key ('\x00null:<id>'): it keeps
    # the row alive through the tier-1 equi-join (NULL keys are rejected by
    # equi-joins, which silently deleted such docs from the report) while
    # guaranteeing it folds with nothing (real canonical urls never start
    # with \x00, and the id makes each sentinel unique). Two projections on
    # purpose, and nullif (2 refs) rather than when/otherwise (3 refs):
    # CollapseProject inlines cheap/single-use aliases, and the tier-1
    # join's inferred isnotnull() pushes below the projection inlining the
    # whole tree again — keeping the reference count minimal is what keeps
    # the generated code inside janino's method limit (observed
    # codegen-compile fallback when it isn't).
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        canonicalize_url(F.col(url_col)).alias("cu_raw"),
        normalize_text(F.col(text_col)).alias("s"),
    ).select(
        "doc_id",
        F.coalesce(
            F.nullif(F.col("cu_raw"), F.lit("")),
            F.concat(F.lit("\x00null:"), F.col("doc_id").cast("string")),
        ).alias("cu"),
        "s",
    )

    # -- tier 1: canonical-url identity fold --------------------------------
    u_rep = base.groupBy("cu").agg(F.min("doc_id").alias("rep"))
    t1 = base.join(u_rep, "cu").select("doc_id", "s", "rep")
    url_removed = t1.where(F.col("doc_id") != F.col("rep")).select(
        "doc_id", F.lit("url").alias("tier"), F.col("rep").alias("kept_by")
    )
    surv1 = t1.where(F.col("doc_id") == F.col("rep")).select("doc_id", "s")

    # -- tier 2: exact normalized-content fold among url-survivors ----------
    valid = surv1.where(F.col("s").isNotNull() & (F.col("s") != ""))
    e_rep = valid.groupBy("s").agg(F.min("doc_id").alias("rep"))
    t2 = valid.join(e_rep, "s").select("doc_id", "s", "rep")
    exact_removed = t2.where(F.col("doc_id") != F.col("rep")).select(
        "doc_id", F.lit("exact").alias("tier"), F.col("rep").alias("kept_by")
    )
    surv2 = t2.where(F.col("doc_id") == F.col("rep")).select(
        "doc_id", "s"
    ).unionByName(
        surv1.where(F.col("s").isNull() | (F.col("s") == "")).select("doc_id", "s")
    )
    # multi-consumer cut: surv2 feeds the signature path AND the
    # ineligible-kept branch; without materialization each consumer
    # re-runs normalize + both identity-tier aggregates. Eager, not lazy —
    # lazy localCheckpoint marks are silently not persisted under AQE
    # (the round-4 recompute bug, plans/pipeline.py stage()).
    surv2 = surv2.localCheckpoint(eager=True)

    # -- tier 3: near-dup among exact-survivors ------------------------------
    # same machinery as the flagship pipeline (signatures -> capped LSH
    # buckets -> verify -> CC); survivors have pairwise-distinct text, so
    # no exact short-circuit stage is needed here
    eligible = F.length("s") >= F.lit(cfg.shingle_k)  # NULL-safe: NULL -> filtered
    sig_udf = make_doc_signature_udf(cfg)
    # NUMERIC ids end to end (r6): the tier report's ids are int64, so
    # the near stack runs on them directly — a bigint id IS a fixed-width
    # shuffle key, with zero collision risk at any scale — and
    # connected_components runs on int64 nodes, where the component label
    # it returns (min node id) IS the numeric-min representative, so no
    # separate rep election (groupBy + join) is needed.
    sigs = (
        surv2.where(eligible)
        .select(
            F.col("doc_id").alias("url"),
            sig_udf(F.col("s")).alias("sig"),
        )
        .select(
            "url",
            F.col("sig.minhash").alias("minhash"),
            F.col("sig.simhash").alias("simhash"),
        )
        # the Arrow signature kernel has ~5 downstream consumers (bucket
        # counts, pairs, verify a/b, CC universe) — run it exactly once
        .localCheckpoint(eager=True)
    )
    pairs = candidate_pairs(sigs, cfg)
    edges = dup_edges(verify_pairs(pairs, sigs, cfg))
    comp = connected_components(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    universe = sigs.select(F.col("url").alias("doc_id"))
    t3 = universe.join(
        comp, universe["doc_id"] == comp["node"], "left"
    ).select(
        "doc_id", F.coalesce("component", "doc_id").alias("rep")
    )
    near_removed = t3.where(F.col("doc_id") != F.col("rep")).select(
        "doc_id", F.lit("near").alias("tier"), F.col("rep").alias("kept_by")
    )
    kept_ids = t3.where(F.col("doc_id") == F.col("rep")).select("doc_id").unionByName(
        surv2.where(~F.coalesce(eligible, F.lit(False))).select("doc_id")
    )
    kept = kept_ids.select(
        "doc_id",
        F.lit("kept").alias("tier"),
        F.lit(None).cast("long").alias("kept_by"),
    )

    return (
        url_removed.unionByName(exact_removed)
        .unionByName(near_removed)
        .unionByName(kept)
    )
