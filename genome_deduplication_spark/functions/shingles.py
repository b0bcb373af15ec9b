"""Shingle extraction — the reimplementation of the reference k-mer inner
loop (all overlapping k-substrings, code/dedup2.py:135-139).

Two interchangeable kernels:

* :func:`char_shingles31` — JVM-side Column expression (portable md5-derived
  hashes mod 2**31-1). O(n*k) but fully inside whole-stage codegen and
  reproducible by the DuckDB oracle + pure-Python oracle. Default.
* :func:`char_shingles31_pandas` — Arrow-batched numpy rolling polynomial
  hash, O(n) per document: the kernel for very long documents where O(n*k)
  substring hashing dominates. Uses its own deterministic polynomial family
  (mirrored by the Python oracle) — do not mix families within one run.

All kernels emit the *distinct* shingle set (set semantics, matching the
reference's set membership model, code/dedup2.py:142).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from genome_deduplication_spark.config import MERSENNE31

_M61 = (1 << 61) - 1
_POLY_BASE = 1315423911  # deterministic polynomial base for the numpy kernel


def _positions(col: Column, k: int) -> Column:
    # 1-based start positions of every k-window; empty when len(text) < k.
    # NB: F.sequence(1, 0) yields a DESCENDING [1, 0] in Spark, so the
    # short-text case must be handled explicitly, not via greatest().
    return F.when(
        F.length(col) >= k, F.sequence(F.lit(1), F.length(col) - F.lit(k - 1))
    ).otherwise(F.array().cast("array<int>"))


def char_shingles31(col: Column, k: int) -> Column:
    """array<long> of distinct md5-derived shingle hashes mod 2**31-1."""
    sh = F.transform(
        _positions(col, k),
        lambda i: F.conv(F.substring(F.md5(F.substring(col, i, k)), 1, 15), 16, 10)
        .cast("long")
        % F.lit(MERSENNE31),
    )
    return F.array_distinct(sh)


def make_char_shingles31_pandas(k: int):
    """Arrow-batched O(n) rolling-hash shingle kernel.

    Polynomial rolling hash over UTF-8 bytes in the 2**61-1 Mersenne field,
    reduced to 2**31-1 at the end. Matches
    :func:`genome_deduplication_spark.oracle.poly_shingles_py`.
    """

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def shingles_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for series in it:
            # chunked batch prefix kernel (poly_window_hashes_batched):
            # identical values to the per-doc path, ~5x fewer vector
            # passes, L2-resident operands
            enc = [(s or "").encode("utf-8") for s in series]
            rows = poly_window_hashes_batched(enc, (k,))[k]
            yield pd.Series([np.unique(r) for r in rows])

    return shingles_udf


def poly_window_hashes_np(data: np.ndarray, k: int) -> np.ndarray:
    """All k-byte window hashes of a uint8 array, polynomial family mod
    2**31-1. Vectorized: k passes of O(n) numpy ops.

    The modulus is 2**31-1 (not 2**61-1) so every intermediate
    byte*power product stays below 2**39 — far inside uint64, no silent
    wraparound. The final hash space is 31-bit regardless (MinHash domain).

    NOTE: windows are over UTF-8 BYTES (not characters) — consistent
    between this kernel and :func:`poly_shingles31_py`; fine for hashing
    (byte windows are as discriminative as char windows)."""
    n = len(data)
    if n < k:
        return np.empty(0, dtype=np.int64)
    vals = data.astype(np.uint64)
    acc = np.zeros(n - k + 1, dtype=np.uint64)
    m31 = np.uint64(MERSENNE31)
    power = np.uint64(1)
    base = _POLY_BASE % MERSENNE31
    for i in range(k - 1, -1, -1):
        acc = (acc + vals[i : i + n - k + 1] * power) % m31
        power = np.uint64((int(power) * base) % MERSENNE31)
    return acc.astype(np.int64)


_M31_U = np.uint64(MERSENNE31)


def _fold31(x: np.ndarray) -> np.ndarray:
    """x mod (2**31-1) for x < 2**62, in-place-ish vectorized shift-add
    (two Mersenne folds + conditional subtract — no integer division)."""
    x = (x & _M31_U) + (x >> np.uint64(31))
    x = (x & _M31_U) + (x >> np.uint64(31))
    x[x >= _M31_U] -= _M31_U
    return x


def _pow_table(base: int, n: int) -> np.ndarray:
    """[base^0, ..., base^(n-1)] mod 2**31-1 as uint64: two small
    geometric tables (64-step inner, base^64 outer) combined with one
    vectorized multiply — O(n/64) python iterations, O(n) vector work."""
    if n <= 0:
        return np.empty(0, dtype=np.uint64)
    inner = np.empty(min(n, 64), dtype=np.uint64)
    v = 1
    for i in range(len(inner)):
        inner[i] = v
        v = (v * base) % MERSENNE31
    nblocks = (n + 63) // 64
    outer = np.empty(nblocks, dtype=np.uint64)
    step = pow(base, 64, MERSENNE31)
    v = 1
    for j in range(nblocks):
        outer[j] = v
        v = (v * step) % MERSENNE31
    out = np.repeat(outer, 64)[:n]
    out *= np.resize(inner, n)
    return _fold31(out)


def poly_window_hashes_multi(
    data: np.ndarray, widths: tuple[int, ...]
) -> dict[int, np.ndarray]:
    """All k-byte window hashes for SEVERAL widths from one shared modular
    prefix sum — bit-identical to :func:`poly_window_hashes_np` per width
    (property-tested), but O(n) vector passes total instead of O(sum k).

    Math: with ib = base^-1 mod M (M = 2**31-1 prime, Fermat inverse),
    C[j] = sum_{t<=j} data[t]*ib^t (kept UNREDUCED in uint64 — safe while
    n * 2**31 < 2**62, i.e. n < 2**31 bytes per call), the width-k window
    hash at i is ((C[i+k-1]-C[i-1]) mod M) * base^(i+k-1) mod M =
    sum_o data[i+o] * base^(k-1-o) — exactly the per-doc family.

    This is the batch-flat kernel path: callers concatenate a whole Arrow
    batch's documents and slice per-document windows out (windows starting
    inside doc d read only doc d's bytes iff the slice stops k-1 short of
    the boundary, which per-doc window counts guarantee)."""
    widths = tuple(dict.fromkeys(widths))  # dedupe: out is keyed by width
    n = len(data)
    out: dict[int, np.ndarray] = {}
    live = [k for k in widths if n >= k]
    for k in widths:
        if n < k:
            out[k] = np.empty(0, dtype=np.int64)
    if not live:
        return out
    base = _POLY_BASE % MERSENNE31
    ib = pow(base, MERSENNE31 - 2, MERSENNE31)
    ipow = _pow_table(ib, n)
    pw = _pow_table(base, n)
    ipow *= data.astype(np.uint64)
    A = _fold31(ipow)
    C = np.cumsum(A)  # < n * 2**31: exact in uint64 for n < 2**31
    for k in live:
        D = C[k - 1 :].copy()
        D[1:] -= C[: n - k]
        H = _fold31(D)
        H *= pw[k - 1 :]
        out[k] = _fold31(H).astype(np.int64)
    return out


# group size for the chunked batch kernel: a group's working set
# (~6 uint64 temporaries over group_bytes elements ~ 1.5 MB) stays
# L2-resident, which makes the kernel immune to DRAM-bandwidth contention
# (measured on this host: the unchunked whole-batch variant swung 0.5s-13s
# for the IDENTICAL pass under host weather while cache-resident code held
# steady — PLANS.md round 4)
_GROUP_BYTES = 32_768


def poly_window_hashes_batched(
    enc: list[bytes], widths: tuple[int, ...], group_bytes: int = _GROUP_BYTES
) -> dict[int, list[np.ndarray]]:
    """Per-document window hashes for several widths over a batch of
    encoded documents: documents are concatenated into ~group_bytes flat
    chunks, each chunk runs the shared-prefix kernel once per group
    (:func:`poly_window_hashes_multi`), and per-doc window slices are cut
    out. Values are bit-identical to calling
    :func:`poly_window_hashes_np` per document (the position-dependent
    factors of the prefix formulation cancel exactly; property-tested).

    Cuts the per-doc numpy-call count ~40x while keeping every vector
    operand L2-resident — the noise-immunity of the per-doc path with the
    pass count of the flat path."""
    # Dedupe widths: `out` is keyed by width, so iterating a duplicated
    # tuple (legal when anchor_width == shingle_k) would append each doc's
    # rows twice per group and silently misalign every downstream slice.
    widths = tuple(dict.fromkeys(widths))
    out: dict[int, list[np.ndarray]] = {k: [] for k in widths}
    _empty = np.empty(0, dtype=np.int64)
    n_docs = len(enc)
    i = 0
    while i < n_docs:
        j = i
        size = 0
        while j < n_docs and (size == 0 or size + len(enc[j]) <= group_bytes):
            size += len(enc[j])
            j += 1
        flat = np.frombuffer(b"".join(enc[i:j]), dtype=np.uint8)
        lens = np.fromiter((len(e) for e in enc[i:j]), dtype=np.int64,
                           count=j - i)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        multi = poly_window_hashes_multi(flat, widths)
        for k in widths:
            fk = multi[k]
            rows = out[k]
            for d in range(j - i):
                w = lens[d] - k + 1
                rows.append(
                    fk[starts[d] : starts[d] + w] if w > 0 else _empty
                )
        i = j
    return out


def poly_shingles31_py(text: str, k: int) -> set[int]:
    """Pure-Python twin of :func:`poly_window_hashes_np` (distinct set) —
    the oracle-side shingle family for the pipeline's differential tests."""
    data = text.encode("utf-8")
    n = len(data)
    if n < k:
        return set()
    base = _POLY_BASE % MERSENNE31
    out = set()
    # Horner per window (O(n*k) python — oracle-scale only)
    for i in range(n - k + 1):
        h = 0
        for b in data[i : i + k]:
            h = (h * base + b) % MERSENNE31
        out.add(h)
    return out


__all__ = [
    "char_shingles31",
    "make_char_shingles31_pandas",
    "poly_window_hashes_np",
    "poly_shingles31_py",
]
