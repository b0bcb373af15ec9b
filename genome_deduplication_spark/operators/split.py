"""Dataset-build tail: seeded shuffle, train/dev split, size-matched sampling.

Reference semantics (SURVEY.md §2.5):
  R1 seeded permutation shuffle        (code/shuffle.py:18-25)
  R2 train/dev split, dev = pct capped (code/partition_samples.sh:16-35)
  R3 control-line sampling w/o replacement
                                       (code/get_samples_based_on_dedup.py:27-41)

All randomness is *key-derived* (hash of seed + stable id), never F.rand():
the reference seeds its RNG explicitly for reproducibility
(code/dedup2.py:585); in Spark the analogous guarantee must also hold across
repartitioning, which plain rand() does not provide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_U_DENOM = 1_000_000_007


def keyed_uniform(seed: int, *cols) -> F.Column:
    """Deterministic uniform [0,1) derived from (seed, key columns)."""
    return (
        F.pmod(F.xxhash64(F.lit(seed), *cols), F.lit(_U_DENOM)) / F.lit(float(_U_DENOM))
    )


_SPLIT_BUCKETS = 8192


def train_dev_split(
    df: DataFrame,
    dev_pct: float,
    max_dev: int,
    seed: int,
    key_col: str = "url",
) -> DataFrame:
    """Tag each row 'dev' or 'train'; dev = the n_dev smallest rows by
    (keyed_uniform, key) with n_dev = min(n * dev_pct, max_dev) — i.e. the
    reference's seeded-shuffle head (R2: head -n dev / tail train).

    Scale shape: NO global window. The selection is exact via a bucket
    histogram of the uniform key: one aggregation counts rows per bucket
    (<= _SPLIT_BUCKETS rows to the driver), the driver locates the bucket
    containing the n_dev-th row, and only that single bounded bucket
    (~n / _SPLIT_BUCKETS rows) is ranked — with a *partitioned* window.
    Everything else is a stateless per-row comparison."""
    u = keyed_uniform(seed, F.col(key_col))
    dfu = df.withColumn("_u", u).withColumn(
        "_b", F.floor(F.col("_u") * _SPLIT_BUCKETS).cast("int")
    )
    hist = {
        r["_b"]: r["cnt"]
        for r in dfu.groupBy("_b").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n = sum(hist.values())
    n_dev = min(int(n * dev_pct), max_dev)
    if n_dev <= 0:
        return df.withColumn("split", F.lit("train"))

    cum = 0
    t, r_in_t = _SPLIT_BUCKETS, 0  # boundary bucket + rows needed inside it
    for b in sorted(hist):
        if cum + hist[b] >= n_dev:
            t, r_in_t = b, n_dev - cum
            break
        cum += hist[b]

    below = dfu.where(F.col("_b") != t).withColumn(
        "split",
        F.when(F.col("_b") < t, F.lit("dev")).otherwise(F.lit("train")),
    )
    w = Window.partitionBy("_b").orderBy("_u", key_col)
    border = (
        dfu.where(F.col("_b") == t)
        .withColumn("_rk", F.row_number().over(w))
        .withColumn(
            "split",
            F.when(F.col("_rk") <= r_in_t, F.lit("dev")).otherwise(F.lit("train")),
        )
        .drop("_rk")
    )
    return below.unionByName(border).drop("_u", "_b")


def sample_exact_n(df: DataFrame, n: int, seed: int, key_col: str = "url") -> DataFrame:
    """Sample-without-replacement of exactly n rows (R3): seeded shuffle +
    limit. (Global window ordering is acceptable because n is small in the
    control-corpus use case; for huge n use df.sample + exact top-up.)"""
    return (
        df.orderBy(keyed_uniform(seed, F.col(key_col)), F.col(key_col)).limit(n)
    )


def stratified_sample_exact(
    df: DataFrame,
    n_per: int,
    seed: int,
    strata_cols: list[str],
    key_col: str = "url",
    order_col: F.Column | None = None,
) -> DataFrame:
    """Exactly min(n_per, |stratum|) rows from EVERY stratum — the grouped
    generalization of R2/R3 (reference: per-partition head after seeded
    shuffle, code/partition_samples.sh:16-35). Selection key is
    ``order_col``, which MUST be uniform-like in [0, 1) (default:
    keyed_uniform(seed, key_col); pass e.g. hash60/2^60 for an
    oracle-portable key); ties break on ``key_col``, so the result is
    deterministic and partitioning-invariant.

    Scale shape: NO stratum-wide window over the corpus. One bounded
    aggregate collects per-stratum counts (strata cardinality rows — lang
    x source, not data-sized); each stratum gets a selection-key threshold
    admitting ~factor * n_per expected rows; only the pruned survivors
    are ranked with a partitioned window. Exactness is verified
    (per-stratum selected counts, one bounded collect) and the threshold
    escalates x4 on deficiency — astronomically rare with uniform keys,
    and bounded: once min(1.0, ...) admits every [0, 1) key of every
    stratum, a still-deficient pass raises instead of escalating. Rows
    with NULL in any stratum column are excluded (documented; an
    equality join drops them).
    """
    u = (order_col if order_col is not None else keyed_uniform(seed, F.col(key_col)))
    dfu = df.withColumn("_u", u)
    counts = {
        tuple(r[c] for c in strata_cols): r["cnt"]
        for r in df.groupBy(*strata_cols).agg(F.count(F.lit(1)).alias("cnt")).collect()
        if all(r[c] is not None for c in strata_cols)
    }
    spark = df.sparkSession
    if not counts:  # empty input / all-NULL strata: empty result, same schema
        return dfu.withColumn("_rk", F.lit(1)).where(F.lit(False)).drop("_u")
    types = {f.name: f.dataType for f in df.schema.fields}
    factor = 8.0
    while True:
        thresholds = {
            s: min(1.0, factor * n_per / cnt) for s, cnt in counts.items()
        }
        # Threshold lookup. For bounded strata counts the thresholds are
        # embedded as a literal MAP expression — zero extra jobs, no
        # createDataFrame round-trip, no join (the driver-side
        # createDataFrame + broadcast-join pair cost two plan subtrees and
        # a broadcast exchange per attempt; the map lookup is a row-local
        # projection). Map keys are structs of literals cast back to the
        # strata columns' own types and probed with the same struct of
        # columns, so bool/float/date strata match exactly (a Python
        # str(v) key differs from Spark's cast-to-string: "True" vs
        # "true"). Very-high-cardinality strata fall back to the
        # broadcast join (a giant literal map would bloat the plan).
        if len(counts) <= 4096:
            entries = []
            for s, t in thresholds.items():
                lits = [
                    F.lit(v).cast(types[c]).alias(c) for c, v in zip(strata_cols, s)
                ]
                entries += [F.struct(*lits), F.lit(t)]
            thr_map = F.create_map(*entries)
            key = F.struct(*[F.col(c) for c in strata_cols])
            nn = F.lit(True)
            for c in strata_cols:  # join semantics: NULL strata excluded
                nn = nn & F.col(c).isNotNull()
            sel = dfu.where(nn & (F.col("_u") <= thr_map[key]))
        else:
            thr = spark.createDataFrame(
                [(*s, t) for s, t in thresholds.items()],
                [*strata_cols, "_thr"],
            )
            sel = dfu.join(F.broadcast(thr), strata_cols).where(
                F.col("_u") <= F.col("_thr")
            ).drop("_thr")
        w = Window.partitionBy(*strata_cols).orderBy("_u", key_col)
        picked = sel.withColumn("_rk", F.row_number().over(w)).where(
            F.col("_rk") <= n_per
        )
        got = {
            tuple(r[c] for c in strata_cols): r["cnt"]
            for r in picked.groupBy(*strata_cols)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        if all(got.get(s, 0) >= min(n_per, c) for s, c in counts.items()):
            return picked.drop("_u", "_thr")
        if all(t >= 1.0 for t in thresholds.values()):
            # every stratum was fully admitted and still came up short:
            # escalating further cannot help, so stop instead of looping
            raise RuntimeError(
                "stratified_sample_exact: a full-admission pass missed "
                "strata rows; order_col must lie in [0, 1)"
            )
        factor *= 4
