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
re-expressed as one pass: each doc's identity-fold representatives are
elected once, and one projection reads ``tier`` and ``kept_by`` off them
and the near-dup component labels — no per-tier branches, no union.

Scale shape (100 TB):
  - tiers 1-2 are hash-aggregates on uniform keys (canonical url /
    normalized-text value) with a join-back — AQE reuses the grouping
    exchange for the join, and a 10^8-recrawl URL or boilerplate text
    collapses to one group row (star join-back, never a collect_list)
    whose join-back AQE skew handling can split (a window election could
    not split one key's partition);
  - tier 3 inherits lsh.py's count-guarded bucket caps and the O(log n)
    star CC — no all-pairs stage anywhere;
  - the output is one fixed-width row per input doc; normalized text is
    shuffled once per identity tier and never after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.signatures import sign_normalized
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

    Each doc's representative per tier — ``url_rep``, ``exact_rep``
    (NULL for empty/NULL text) and CC's ``component`` (NULL off every
    near edge) — is the min id of its group; the first tier whose
    representative is another doc names the tier.
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

    # -- identity folds: each doc's url and exact representatives ------------
    u_rep = base.groupBy("cu").agg(F.min("doc_id").alias("url_rep"))
    t1 = base.join(u_rep, "cu").select("doc_id", "s", "url_rep")
    url_survivor = F.col("doc_id") == F.col("url_rep")
    e_rep = (
        t1.where(url_survivor & (F.length("s") > 0))  # NULL text -> filtered
        .groupBy("s")
        .agg(F.min("doc_id").alias("exact_rep"))
    )
    # multi-consumer cut: reps feeds the signature path AND the labelling
    # projection, which would each re-run normalize + both folds. Eager,
    # not lazy — lazy localCheckpoint marks are silently not persisted
    # under AQE (the round-4 recompute bug, plans/pipeline.py stage()).
    reps = (
        t1.join(e_rep, "s", "left")
        .select("doc_id", "s", "url_rep", "exact_rep")
        .localCheckpoint(eager=True)
    )

    # -- tier 3: near-dup among exact-survivors ------------------------------
    # same machinery as the flagship pipeline (signatures -> capped LSH
    # buckets -> verify -> CC); survivors have pairwise-distinct text, so
    # no exact short-circuit stage is needed here
    eligible = F.length("s") >= F.lit(cfg.shingle_k)  # NULL-safe: NULL -> filtered
    # NUMERIC ids end to end (r6): the tier report's ids are int64, so
    # the near stack runs on them directly — a bigint id IS a fixed-width
    # shuffle key, with zero collision risk at any scale — and
    # connected_components runs on int64 nodes, where the component label
    # it returns (min node id) IS the numeric-min representative, so no
    # separate rep election (groupBy + join) is needed.
    survivors = reps.where(
        url_survivor
        & (F.coalesce("exact_rep", "doc_id") == F.col("doc_id"))
        & eligible
    ).select("doc_id", F.col("s").alias("text"))
    sigs = (
        sign_normalized(survivors, cfg, ("doc_id",))
        .select("doc_id", "minhash", "simhash")
        # the Arrow signature kernel has ~4 downstream consumers (bucket
        # counts, pairs, verify a/b) — run it exactly once
        .localCheckpoint(eager=True)
    )
    pairs = candidate_pairs(sigs, cfg, id_col="doc_id")
    edges = dup_edges(verify_pairs(pairs, sigs, cfg, id_col="doc_id"))
    comp = connected_components(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )

    # -- attribution: the first representative that is another doc wins ----
    # (a NULL representative compares NULL, which `when` skips)
    url, exact, near = (
        F.col("doc_id") != F.col(c) for c in ("url_rep", "exact_rep", "component")
    )
    tier = F.when(url, "url").when(exact, "exact").when(near, "near")
    kept_by = (
        F.when(url, F.col("url_rep"))
        .when(exact, F.col("exact_rep"))
        .when(near, F.col("component"))
    )
    return reps.join(comp, F.col("doc_id") == F.col("node"), "left").select(
        "doc_id", tier.otherwise("kept").alias("tier"), kept_by.alias("kept_by")
    )
