"""SimHash signatures + Hamming verification.

The verification tier of the pipeline (north_star: "SimHash Hamming
verification"): a 64-bit locality-sensitive fingerprint whose Hamming
distance upper-bounds cosine-ish dissimilarity of the shingle multiset. Used
to cheaply confirm LSH candidate pairs before any text is re-read.

The engine computes it in the cache-blocked numpy kernel
(functions/signatures.minhash_simhash_blocked: one ``add.reduceat`` pass
per bit pair over the batch-flattened shingle array, bits ``i`` and
``i+32`` counted in the two 32-bit lanes of one uint64);
:func:`simhash_py` is its pure-Python twin.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance of two 64-bit signatures — JVM-side bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_py(shingles: list[int], bits: int = 64) -> int:
    """Pure-Python twin (local oracle)."""
    m = (1 << 64) - 1

    def splitmix64(x: int) -> int:
        x = (x + 0x9E3779B97F4A7C15) & m
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & m
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & m
        return (x ^ (x >> 31)) & m

    hs = [splitmix64(s) for s in shingles]
    n = len(hs)
    sig = 0
    for bit in range(bits):
        ones = sum((h >> bit) & 1 for h in hs)
        if ones * 2 > n:
            sig |= 1 << bit
    # map to signed int64 like the numpy kernel
    return sig - (1 << 64) if sig >= (1 << 63) else sig
