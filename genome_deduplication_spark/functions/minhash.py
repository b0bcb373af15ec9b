"""MinHash signatures.

Replaces the reference's single global ``seen_kmers`` set
(code/dedup2.py:142,542-546): set membership at 10^12-document scale becomes
a fixed-width signature whose per-position equality rate estimates Jaccard.

Universal-hash family sig_j(S) = min over s in S of (a_j*s + b_j) mod p,
p = 2**31-1, with (a_j, b_j) derived deterministically from the config seed
(config.DedupConfig.minhash_coefficients). Every intermediate fits in int64,
so the identical arithmetic runs in four places: the cache-blocked numpy
kernel (functions/signatures.minhash_simhash_blocked) inside the one-pass
document UDF, the min-aggregate expressions of the ``minhash_signatures``
entry query, the DuckDB oracle SQL, and :func:`minhash_py` here, the
pure-Python twin every other form is tested against. The kernel reduces
mod p with one shift/add fold and one wrap-around minimum instead of a
division: a, b and every shingle s are at most p-1, so a*s+b <= p*(p-1)
and the fold leaves a value below 2p.

The coefficient arrays ride into executors via closure capture — the
pandas-UDF equivalent of broadcasting the permutation matrix
(BASELINE.json:north_star); at 128 perms it is ~2 KB, far under any
broadcast threshold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from genome_deduplication_spark.config import MERSENNE31, DedupConfig


# DataType instance, not a DDL string: the decorator runs at import time,
# and parsing "double" would require an active SparkSession
@F.pandas_udf(T.DoubleType())
def minhash_jaccard_estimate_vec(sig_a: pd.Series, sig_b: pd.Series) -> pd.Series:
    """Fraction of equal signature positions — the Jaccard estimator, one
    (batch, num_perm) numpy equality per Arrow batch. k equal positions /
    num_perm is an exact power-of-two division, so the value equals the
    twins' ``sum(x == y) / num_perm``."""
    if len(sig_a) == 0:
        return pd.Series([], dtype="float64")
    a_np = sig_a.to_numpy()
    b_np = sig_b.to_numpy()
    # null signatures (possible through the public verify_pairs contract,
    # ADVICE r5 #3): emit null for those rows instead of crashing the
    # whole batch in np.vstack; the pipeline path never produces them
    # (band_buckets filters null sigs), so the common case stays one
    # vectorized equality over the full batch
    valid = np.array(
        [x is not None for x in a_np], dtype=bool
    ) & np.array([x is not None for x in b_np], dtype=bool)
    if valid.all():
        ma = np.vstack(a_np)
        mb = np.vstack(b_np)
        return pd.Series((ma == mb).mean(axis=1))
    out = np.full(len(a_np), np.nan)
    if valid.any():
        ma = np.vstack(a_np[valid])
        mb = np.vstack(b_np[valid])
        out[valid] = (ma == mb).mean(axis=1)
    # true SQL NULL (not NaN) for the masked rows
    return pd.Series(
        [None if not v else float(x) for v, x in zip(valid, out)],
        dtype="object",
    )


def minhash_py(shingles: list[int], cfg: DedupConfig) -> list[int]:
    """Pure-Python twin (local oracle)."""
    a, b = cfg.minhash_coefficients()
    return [
        min((a[j] * s + b[j]) % MERSENNE31 for s in shingles)
        for j in range(cfg.num_perm)
    ]
