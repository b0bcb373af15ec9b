"""Single-process pure-Python oracle.

Plays the role the C++ port plays for the reference's Python engine: an
independent implementation of the same shingle/signature config, diffed
against the Spark pipeline's outputs
(reference: run_memory_comparison.sh:78-89 diffs all BED outputs py<->cpp).

Two oracles:

* :func:`oracle_clusters_exact_jaccard` — ground truth: exact shingle-set
  Jaccard >= threshold pairs + union-find clusters. The Spark pipeline's
  dup-pair recall is measured against THIS (BASELINE.json: recall >= 0.99).
* :func:`minhash_lsh_pairs` — same MinHash/LSH/verify math as the
  Spark pipeline but sequential; used to localize any recall loss to either
  the probabilistic scheme (minhash twin vs exact oracle) or the Spark
  implementation (spark vs minhash twin, which must match EXACTLY).
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

from genome_deduplication_spark.config import DedupConfig
from genome_deduplication_spark.functions.minhash import minhash_py
from genome_deduplication_spark.functions.simhash import simhash_py


def normalize_py(text: str) -> str:
    """Twin of functions.text.normalize_text."""
    import re

    return re.sub(r"\s+", " ", text).strip().lower()


def pipeline_shingles_py(text: str, k: int) -> set[int]:
    """Twin of the pipeline's hot-path shingle family (polynomial rolling
    hash over UTF-8 bytes — functions.signatures.make_doc_signature_udf)."""
    from genome_deduplication_spark.functions.shingles import poly_shingles31_py

    return poly_shingles31_py(text, k)


class UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        p = self.parent.setdefault(x, x)
        while p != x:
            self.parent[x] = p = self.parent.setdefault(p, p)
            x = p
            p = self.parent[x]
        return x

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # min root wins -> deterministic canonical member
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


def _clusters_from_edges(ids: list[str], edges: set[tuple[str, str]]) -> dict[str, str]:
    uf = UnionFind()
    for i in ids:
        uf.find(i)
    for a, b in edges:
        uf.union(a, b)
    return {i: uf.find(i) for i in ids}


def exact_jaccard_pairs(
    docs: dict[str, str], cfg: DedupConfig
) -> set[tuple[str, str]]:
    """All (id_a < id_b) pairs with exact shingle Jaccard >= threshold.

    Inverted-index pruned (pairs must share >= 1 shingle) — still exact.
    """
    sh = {u: pipeline_shingles_py(normalize_py(t), cfg.shingle_k)
          for u, t in docs.items()}
    index: dict[int, list[str]] = defaultdict(list)
    for u, s in sh.items():
        for v in s:
            index[v].append(u)
    cand: set[tuple[str, str]] = set()
    for members in index.values():
        if len(members) < 2:
            continue
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                cand.add((ms[i], ms[j]))
    out = set()
    for a, b in cand:
        sa, sb = sh[a], sh[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        jac = inter / (len(sa) + len(sb) - inter)
        if jac >= cfg.jaccard_threshold:
            out.add((a, b))
    return out


def oracle_clusters_exact_jaccard(
    docs: dict[str, str], cfg: DedupConfig
) -> dict[str, str]:
    """url -> cluster id (min member url), exact Jaccard ground truth."""
    edges = exact_jaccard_pairs(docs, cfg)
    return _clusters_from_edges(sorted(docs), edges)


def minhash_lsh_pairs(docs: dict[str, str], cfg: DedupConfig,
                      warc_ts: dict) -> set[tuple[str, str]]:
    """Sequential twin of the Spark MinHash/LSH/verify pair generation;
    url pairs, each (lesser, greater). Like the pipeline's ``_reps``, it
    sends one doc per normalized text into LSH: the first-occurrence-wins
    min(warc_ts, url) member, a NULL ``warc_ts`` first (Spark's order)."""
    groups: dict[str, list[str]] = defaultdict(list)
    for u, t in docs.items():
        groups[normalize_py(t)].append(u)
    sigs: dict[str, list[int]] = {}
    simh: dict[str, int] = {}
    for text, members in groups.items():
        s = sorted(pipeline_shingles_py(text, cfg.shingle_k))
        if not s:
            continue
        u = min(members, key=lambda m: (warc_ts[m] is not None, warc_ts[m], m))
        sigs[u] = minhash_py(s, cfg)
        simh[u] = simhash_py(s, cfg.simhash_bits)
    buckets: dict[tuple[int, tuple[int, ...]], list[str]] = defaultdict(list)
    for u, sig in sigs.items():
        for b in range(cfg.bands):
            band = tuple(sig[b * cfg.rows_per_band : (b + 1) * cfg.rows_per_band])
            buckets[(b, band)].append(u)
    # mirror operators/lsh.candidate_pairs exactly: members sorted by the
    # pipeline's doc_key (md5 digest of the url) and capped at
    # max_bucket_size; full clique for small buckets, star around the
    # minimum member for larger ones (CC restores transitivity)
    from genome_deduplication_spark.operators.lsh import CLIQUE_BUDGET

    def doc_key(u: str) -> bytes:
        return hashlib.md5(u.encode("utf-8")).digest()

    cand: set[tuple[str, str]] = set()
    for members in buckets.values():
        if len(members) < 2:
            continue
        ms = sorted(members, key=doc_key)[: cfg.max_bucket_size]
        if len(ms) <= CLIQUE_BUDGET:
            for i in range(len(ms)):
                for j in range(i + 1, len(ms)):
                    cand.add((min(ms[i], ms[j]), max(ms[i], ms[j])))
        else:
            for j in range(1, len(ms)):
                cand.add((min(ms[0], ms[j]), max(ms[0], ms[j])))
    out = set()
    for a, b in cand:
        sa, sb = sigs[a], sigs[b]
        est = sum(x == y for x, y in zip(sa, sb)) / cfg.num_perm
        ham = bin((simh[a] ^ simh[b]) & ((1 << 64) - 1)).count("1")
        if est >= cfg.jaccard_threshold and ham <= cfg.simhash_max_hamming:
            out.add((a, b))
    return out


def pair_recall(got: set[tuple[str, str]], truth: set[tuple[str, str]]) -> float:
    """Dup-pair recall — the headline fidelity metric (north_rule >= 0.99).

    Transitive credit: a truth pair counts as recovered if both ends landed
    in the same *cluster* (matching the reference's notion that dedup is
    transitive, code/dedup2.py:549-554)."""
    if not truth:
        return 1.0
    ids = sorted({u for p in truth for u in p} | {u for p in got for u in p})
    comp = _clusters_from_edges(ids, got)
    hit = sum(1 for a, b in truth if comp[a] == comp[b])
    return hit / len(truth)
