"""LSH banding -> salted band buckets -> candidate pairs.

The scale-critical stage. Replaces the reference's O(1) in-memory hash-set
probe (code/dedup2.py:142) with a shuffle: documents sharing any identical
signature band land in the same bucket, and each bucket emits its pairs.

Scale design (north_star requirements):

* **Band key** is (band_id, hash(band slice)) — a 64-bit xxhash of the band
  values, so the shuffle key is uniformly distributed *except* for true hot
  buckets (boilerplate pages that really do share a band).
* **Hot buckets are bounded, not exploded.** A bucket of size m emits
  m*(m-1)/2 pairs; a boilerplate bucket with 10^6 members would emit 5*10^11
  pairs and kill the stage. Buckets above ``max_bucket_size`` are capped: we
  keep only pairs that involve one of the ``max_bucket_size`` smallest doc
  keys per bucket (rank via window), and report the truncation in the
  lineage metrics (the *candidate* loss is recovered because near-dup groups
  share many bands — and a star around the bucket minimum keeps every member
  one hop from a common anchor, so connected components still unifies the
  group transitively).
* **Salting.** The pair self-join shuffles on the bucket key; AQE skew-join
  splitting (enabled in session.py) plus the cap keeps partitions bounded.
  For the groupBy-rank step the key already includes band_id (32 values)
  which spreads one document's bands over 32 reducers.
* **Dedup of pairs across bands** is a distinct() — one extra shuffle, but
  it shrinks the edge set before the expensive verification join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from genome_deduplication_spark.config import DedupConfig
from genome_deduplication_spark.sources.checkpoint import observed_checkpoint


def band_buckets(signatures: DataFrame, cfg: DedupConfig,
                 id_col: str = "url", sig_col: str = "minhash") -> DataFrame:
    """Explode each signature into (id, band_id, band_hash) bucket rows."""
    # xxhash64 hashes array columns natively — no per-value string
    # conversion (the old concat_ws path did 128 int->string casts per doc).
    # One higher-order expression over the band ids builds and plans in
    # about a fifth of the time of one hash tree per band. It runs outside
    # whole-stage codegen (transform is a CodegenFallback), which measured
    # no slower (ROADMAP D9 step 2).
    r = cfg.rows_per_band
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(cfg.bands - 1)),
        lambda b: F.xxhash64(b, F.slice(F.col(sig_col), b * r + 1, r)),
    )
    return (
        signatures.where(F.col(sig_col).isNotNull())
        .select(F.col(id_col), F.posexplode(bands).alias("band_id", "band_hash"))
    )


CLIQUE_BUDGET = 50  # full clique for buckets with <= this many members
DROP_CAP = 100_000  # buckets beyond this are degenerate mega-templates


def candidate_pairs(signatures: DataFrame, cfg: DedupConfig,
                    id_col: str = "url", sig_col: str = "minhash",
                    with_stats: bool = False,
                    restrict_to: DataFrame | None = None):
    """Distinct candidate (id_a < id_b) pairs from shared band buckets.

    Ids are used as given: they order the bucket members, so they pick
    each bucket's star centre and the members that survive the cap, and
    every row of the band explode, the member sort and the cross-band
    distinct carries one. Pass a fixed-width key — the pipeline's
    ``doc_key`` (hash128 of the url, BINARY(16)) or an int64 id — not a
    url string. Precondition: one signature row per id (a repeated id
    repeats a bucket member and emits a self-pair).

    Emits a *star* within each (capped) bucket: every member pairs with the
    bucket's minimum member, plus the full clique for buckets up to a small
    clique budget. The star keeps edge count linear in bucket size (vs.
    quadratic), which is what makes mega-buckets survivable at 10^12 docs;
    connected components recovers the full group transitively, and the
    verification stage sees only O(m) pairs per bucket.

    Physical shape: a guarded two-phase aggregate — (1) bucket counts
    (map-side combinable; buckets above DROP_CAP are dropped before any
    member list exists, so no reducer ever materializes a mega-bucket),
    (2) sorted capped member arrays, pairs generated JVM-side by array
    transforms. One wide shuffle + one co-partitioned join, vs. the naive
    window-sort + self-join + distinct (4 shuffles, one of them a full sort).

    ``with_stats=True`` returns ``(pairs, stats)``: the counts aggregate
    is eagerly localCheckpointed at candidate_pairs() call time (a Spark
    job runs here — lazy marks are silently not persisted under AQE, see
    PLANS.md round 4), and ``stats`` is the truncation accounting observed
    on that same job (a dict, no further job): buckets_total,
    buckets_dropped (size > DROP_CAP: no pairs at all), buckets_capped
    (max_bucket_size < size <= DROP_CAP: the star keeps the smallest
    max_bucket_size members) and docs_in_dropped. The reference never
    silently drops data (every region lands in an accounting file,
    code/dedup2.py:480-493); a recorded pipeline run keeps these counts in
    its lsh_pairs manifest (metrics.jsonl's candidates row: lsh_<name>).
    """
    buckets = band_buckets(signatures, cfg, id_col, sig_col)
    if restrict_to is not None:
        # incremental mode (operators/incremental.py): only buckets touched
        # by the new batch regenerate pairs — a leftsemi keeps each touched
        # bucket's FULL membership, so caps/ranks match a one-shot run
        buckets = buckets.join(
            restrict_to.select("band_id", "band_hash").distinct(),
            ["band_id", "band_hash"],
            "leftsemi",
        )

    counts = buckets.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("_n")
    )
    if with_stats:
        # the stats arrive with the counts checkpoint the pairs plan reads
        counts, stats = observed_checkpoint(counts, _truncation_aggs(cfg))
    # _n >= 2: singleton buckets (97% of all buckets on web-scale corpora —
    # measured at bench sf0.1) cannot emit a pair; pruning them HERE means
    # the member join + window rank + collect_list see ~3% of the explode
    # instead of all of it, and the ok side becomes small enough that AQE
    # can broadcast it below the members exchange.
    ok = counts.where(
        (F.col("_n") >= 2) & (F.col("_n") <= DROP_CAP)
    ).select("band_id", "band_hash")
    # same join key as the groupBy -> exchange reuse, no extra shuffle.
    # Members are rank-filtered to max_bucket_size BEFORE collect_list (a
    # window over the already-bucket-keyed rows), so no reducer row ever
    # holds more than max_bucket_size ids — the old slice-after-collect
    # materialized up to DROP_CAP ids (500x the cap) per hot bucket first.
    w = W.partitionBy("band_id", "band_hash").orderBy(id_col)
    members = (
        buckets.join(ok, ["band_id", "band_hash"])
        .withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= cfg.max_bucket_size)
        .groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list(id_col)).alias("m"))
        .where(F.size("m") >= 2)
    )
    sz = F.size("m")
    star = F.transform(
        F.slice(F.col("m"), 2, cfg.max_bucket_size),
        lambda x: F.struct(
            F.element_at(F.col("m"), 1).alias("id_a"), x.alias("id_b")
        ),
    )
    clique = F.flatten(
        F.transform(
            F.col("m"),
            lambda x, i: F.transform(
                # i is 0-based; successors of x start at 1-based pos i+2
                F.slice(F.col("m"), i + 2, cfg.max_bucket_size),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    pair_arr = F.when(sz <= CLIQUE_BUDGET, clique).otherwise(star)
    pairs = (
        members.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()  # cross-band dedup
    )
    return (pairs, stats) if with_stats else pairs


def _truncation_aggs(cfg: DedupConfig) -> dict:
    """The truncation accounting over a (band_id, band_hash, _n) counts
    table, as named aggregate columns (see candidate_pairs' ``with_stats``)."""
    dropped = F.col("_n") > DROP_CAP
    capped = (F.col("_n") > cfg.max_bucket_size) & ~dropped
    return {
        "buckets_total": F.count(F.lit(1)),
        "buckets_dropped": F.count(F.when(dropped, 1)),
        "buckets_capped": F.count(F.when(capped, 1)),
        "docs_in_dropped": F.coalesce(
            F.sum(F.when(dropped, F.col("_n"))), F.lit(0)
        ),
    }


def bucket_stats(signatures: DataFrame, cfg: DedupConfig,
                 id_col: str = "url", sig_col: str = "minhash") -> DataFrame:
    """Lineage metric: bucket-size histogram (docs per (band, hash) bucket)."""
    return (
        band_buckets(signatures, cfg, id_col, sig_col)
        .groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .groupBy("bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
    )
