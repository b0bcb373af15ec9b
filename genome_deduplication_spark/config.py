"""Pipeline configuration.

The reference serializes its argparse namespace to ``config.json`` for
reproducibility (reference: code/dedup2.py:513-515); ``DedupConfig`` plays
that role here, and every stage derives its randomness from ``seed`` +
stable keys so results are partitioning-invariant (plain ``F.rand`` is not).
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass


# Prime modulus for the universal-hash MinHash family. 2**31 - 1 keeps every
# intermediate product (a * h + b, h < p, a < p) inside int64 so the exact
# same arithmetic runs JVM-side in Spark SQL, in DuckDB oracle SQL, and in
# the pure-Python oracle. (The reference packs 32-mers into uint64,
# code/dedup2.py:58-63 — here the hash IS the representation.)
MERSENNE31 = (1 << 31) - 1


@dataclass(frozen=True)
class DedupConfig:
    """Shingle/signature config — the analogue of the reference's
    (k, sample_len, retain, seed) argument set (code/dedup2.py:576-591)."""

    # character shingle width (reference k-mer k=32, code/dedup2.py:576)
    shingle_k: int = 9
    # MinHash permutations (north_star: 128)
    num_perm: int = 128
    # LSH banding: bands * rows_per_band == num_perm
    bands: int = 32
    rows_per_band: int = 4
    # Jaccard threshold for a verified duplicate pair
    jaccard_threshold: float = 0.8
    # SimHash: signature bits and max Hamming distance for verification
    simhash_bits: int = 64
    simhash_max_hamming: int = 8
    # suffix-array exact-substring pass: minimum shared-substring length in
    # UTF-8 BYTES (the span unit contract — lcs_len and all span offsets are
    # byte-based). Must exceed common boilerplate header/footer length or
    # every templated site becomes one giant substring-dup cluster.
    min_common_substring: int = 120
    # substring candidates must share at least this many anchor shingles
    min_shared_anchors: int = 2
    # anchors present in more docs than this are boilerplate — dropped from
    # the substring candidate index entirely
    anchor_df_cap: int = 50
    # stochastic retain: probability a duplicate pair is *dropped* from the
    # edge set anyway (reference: code/dedup2.py:150-151). 0.0 = off.
    retain_rate: float = 0.0
    # LSH bucket-size cap before salting/pruning kicks in
    max_bucket_size: int = 200
    # master seed (reference default 123, code/dedup2.py:585)
    seed: int = 123

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands({self.bands}) * rows_per_band({self.rows_per_band})"
                f" != num_perm({self.num_perm})"
            )

    def anchor_width(self) -> int:
        """Width (bytes) of exact-substring anchor windows — wide enough to
        be discriminative on low-entropy text (see
        suffix_array.pairs_from_anchor_rows)."""
        return max(self.shingle_k, min(48, self.min_common_substring // 2))

    def anchor_modulus(self) -> int:
        """Anchor sampling modulus: ~4 expected anchors per true
        min_common_substring overlap."""
        window = max(self.min_common_substring - self.anchor_width() + 1, 1)
        return max(window // 4, 1)

    def minhash_coefficients(self) -> tuple[list[int], list[int]]:
        """Deterministic (a, b) pairs for sig_j = min((a_j*h + b_j) mod p).

        Derived from ``seed`` with a splitmix-style integer walk so the same
        constants are reproducible in any runtime without numpy.
        """
        a: list[int] = []
        b: list[int] = []
        state = (self.seed * 0x9E3779B97F4A7C15 + 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
        for _ in range(self.num_perm):
            state = (state * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
            a.append((state >> 16) % (MERSENNE31 - 1) + 1)  # a in [1, p-1]
            state = (state * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
            b.append((state >> 16) % MERSENNE31)  # b in [0, p-1]
        return a, b

    def to_json(self) -> str:
        return json.dumps(dataclasses.asdict(self), indent=2, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "DedupConfig":
        return DedupConfig(**json.loads(s))


def lsh_threshold_curve(cfg: DedupConfig, jaccard: float) -> float:
    """P(candidate | jaccard) = 1 - (1 - j^r)^b — used by tests to check the
    banding math (b x r = num_perm)."""
    return 1.0 - (1.0 - jaccard**cfg.rows_per_band) ** cfg.bands
