"""Candidate-pair verification: MinHash Jaccard estimate + SimHash Hamming.

The analogue of the reference's per-window re-check before commit
(check_sample's confirm-then-commit, code/dedup2.py:100-231,420-421): a
candidate is only believed after an independent cheaper-than-text test.

Physical shape: two broadcast-or-shuffle hash joins of the (small) pair edge
list against the signature table — signatures are fixed-width (128*8B + 8B),
so this join never touches document text. Only pairs that *fail* the cheap
tests but are flagged for the exact-substring pass re-read text.

Stochastic retain (reference: with prob `retain` a duplicate is let through
anyway, code/dedup2.py:150-151) is reproduced partitioning-invariantly:
drop an edge iff hash(seed, id_a, id_b) maps below retain_rate — derived
from the pair key, never from F.rand(). The pair key is whatever ids the
caller passes: in the pipeline that is the (doc_key, doc_key) pair, so
which edges a retain_rate drops follows the keys, not the urls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genome_deduplication_spark.config import DedupConfig
from genome_deduplication_spark.functions.minhash import (
    minhash_jaccard_estimate_vec,
)
from genome_deduplication_spark.functions.simhash import hamming64


def verify_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: DedupConfig,
    id_col: str = "url",
) -> DataFrame:
    """Attach jaccard_est + hamming to each candidate pair and verdict them.

    Output: id_a, id_b, jaccard_est, hamming, is_dup.
    """
    sig_a = signatures.select(
        F.col(id_col).alias("id_a"),
        F.col("minhash").alias("mh_a"),
        F.col("simhash").alias("sh_a"),
    )
    sig_b = signatures.select(
        F.col(id_col).alias("id_b"),
        F.col("minhash").alias("mh_b"),
        F.col("simhash").alias("sh_b"),
    )
    # shuffled-hash, not broadcast and not sort-merge (guide §3.1): the
    # planner's size estimate picks BROADCAST for mid-size signature
    # tables, which collects and builds the same table twice (once per
    # pair side) on the driver — measured 4-5 s of the 40k-doc pipeline.
    # The hinted build side is fixed-width signature rows, so with
    # shuffle partitions sized per the config guidance (100 MB-1 GB of
    # data per partition) the per-partition hash build is bounded at any
    # corpus size, and SHJ skips sort-merge's two full sorts.
    joined = (
        pairs.join(sig_a.hint("shuffle_hash"), "id_a")
        .join(sig_b.hint("shuffle_hash"), "id_b")
    )
    scored = joined.select(
        "id_a",
        "id_b",
        # Arrow-vectorized: the zip_with/aggregate expression form is
        # interpreted (CodegenFallback) and cost ~520 CPU-s for ~1.3M
        # pairs at 640k docs (PLANS.md round 5)
        minhash_jaccard_estimate_vec(F.col("mh_a"), F.col("mh_b")).alias(
            "jaccard_est"
        ),
        hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"),
    )
    verdict = scored.withColumn(
        "is_dup",
        (F.col("jaccard_est") >= F.lit(cfg.jaccard_threshold))
        & (F.col("hamming") <= F.lit(cfg.simhash_max_hamming)),
    )
    if cfg.retain_rate > 0:
        # key-derived uniform in [0,1): partitioning-invariant randomness
        u = (
            F.pmod(F.xxhash64(F.lit(cfg.seed), F.col("id_a"), F.col("id_b")),
                   F.lit(1_000_000)) / F.lit(1_000_000.0)
        )
        verdict = verdict.withColumn(
            "is_dup", F.col("is_dup") & (u >= F.lit(cfg.retain_rate))
        )
    return verdict


def dup_edges(verified: DataFrame) -> DataFrame:
    """The (id_a, id_b) edges of the pairs verify_pairs judged duplicates."""
    return verified.where("is_dup").select("id_a", "id_b")
