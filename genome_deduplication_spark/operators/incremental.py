"""Incremental dedup: process crawl batches against persisted state.

Production crawls arrive daily; re-running the whole pipeline over the
accumulated corpus per batch is O(total) forever. This operator keeps a
versioned state (signatures + verified duplicate edges) and, per batch,
does only O(batch + touched) work: signatures for the NEW docs, candidate
pairs only in band buckets the new batch TOUCHES (with their full old+new
membership, so caps and ranks match a one-shot run —
lsh.candidate_pairs(restrict_to=...)), verification of those pairs, and a
connected-components pass over the unioned edge set. Reference analogue:
the cross-file carry-over of the seen-k-mer state plus per-file
checkpoint cadence (D7/D8, code/dedup2.py:546-588) — here the carried
state is signatures + edges instead of a k-mer set.

Equivalence contract (tested): clusters after incremental batches
A then B == clusters of a one-shot run over A ∪ B. Why it holds:
  - touched buckets regenerate pairs over full membership (identical to
    one-shot treatment of those buckets);
  - untouched buckets have all-old membership, so their pairs were
    emitted verbatim by the batch that last touched them and live in the
    persisted edge set;
  - exact-duplicate star edges over subsets union to the same connected
    components as the full-group star (every star connects all members
    to a group minimum).

Documents are keyed by ``doc_key`` = hash128(url), the same BINARY(16)
key the one-shot pipeline uses (plans/pipeline.py): LSH, verify and CC run
on it, and each cluster is labeled with its min(url) at the end.

State layout (``state_dir``): APPEND-ONLY version deltas —
``v{i}/signatures`` + ``v{i}/edges`` hold only what batch *i* added (its
signatures; the near/exact edges it discovered), and the live state is
the union of ``v0..vn``. A ``manifest.json`` names the current version
and running doc count and is replaced atomically (os.replace), so a
crash mid-batch leaves the previous version intact and a partial
``v{n}`` is simply overwritten on retry (the parquet+manifest pattern
of sources/checkpoint.py; Iceberg *append* snapshots in production).

Why deltas and not full rewrites: rewriting the whole signature/edge
state per batch is O(total) WRITE amplification on every ingest — at
10^12 accumulated docs each daily batch would rewrite the entire corpus
state. Per-batch writes here are O(batch + touched); the O(total) that
remains is the read side (bucket membership + CC over the union), which
the clusters-cover-every-doc contract genuinely requires. Edge deltas
may repeat a prior batch's pair (a touched bucket re-emits pairs over
its full membership); the union is ``distinct``-ed before CC, so the
components are identical to the one-shot run.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..functions.hashing import hash128
from ..functions.signatures import sign_normalized
from ..functions.text import normalize_text
from .connected_components import connected_components
from .lsh import band_buckets, candidate_pairs
from .verify import dup_edges, verify_pairs

__all__ = ["dedup_increment"]


def _manifest_path(state_dir: str) -> str:
    return os.path.join(state_dir, "manifest.json")


def _load_manifest(state_dir: str) -> dict | None:
    try:
        with open(_manifest_path(state_dir)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _delta_paths(state_dir: str, version: int, kind: str) -> list[str]:
    """Paths of every version's ``kind`` delta, v0..version inclusive."""
    return [
        os.path.join(state_dir, f"v{i}", kind) for i in range(version + 1)
    ]


def _batch_signatures(docs: DataFrame, cfg: DedupConfig) -> DataFrame:
    # Sign NORMALIZED text, exactly like pipeline stage 2 (whose stage-1
    # normalize rewrites `text` before the signature UDF runs). Signing raw
    # text here would make incremental near-dup clusters diverge from the
    # one-shot pipeline on any corpus with case/whitespace variance, while
    # the content hash (of the same normalized text) would still agree —
    # the exact and near tiers would disagree about what the document is.
    norm = docs.select(
        hash128(F.col("url")).alias("doc_key"),
        "url",
        normalize_text(F.col("text")).alias("text"),
    )
    return sign_normalized(norm, cfg, ("doc_key", "url")).select(
        "doc_key", "url", "content_hash", "minhash", "simhash"
    )


def dedup_increment(docs: DataFrame, cfg: DedupConfig, state_dir: str) -> dict:
    """Ingest one batch of ``docs(url, text)``; returns
    ``{"clusters": DataFrame, "version": int, "n_docs": int}`` where
    clusters covers EVERY doc seen so far.

    Refuses to resume over a state written with a different config
    (same guard as sources/checkpoint.py).
    """
    spark = docs.sparkSession
    man = _load_manifest(state_dir)
    if man is not None and man["config"] != cfg.to_json():
        raise ValueError(
            "state config mismatch — refusing to mix dedup configs in one state"
        )
    version = 0 if man is None else man["version"] + 1

    new_sigs = _batch_signatures(docs, cfg).localCheckpoint(eager=True)
    n_new = new_sigs.count()
    if man is None:
        all_sigs = new_sigs
        prior_edges = None
        n_prior = 0
    else:
        prior_sigs = spark.read.parquet(
            *_delta_paths(state_dir, man["version"], "signatures")
        )
        all_sigs = prior_sigs.unionByName(new_sigs)
        prior_edges = spark.read.parquet(
            *_delta_paths(state_dir, man["version"], "edges")
        )
        n_prior = man["n_docs"]

    # near-dup edges: only buckets the new batch touches
    touched = band_buckets(new_sigs, cfg, id_col="doc_key").select(
        "band_id", "band_hash"
    )
    cand = candidate_pairs(all_sigs, cfg, id_col="doc_key", restrict_to=touched)
    near = dup_edges(verify_pairs(cand, all_sigs, cfg, id_col="doc_key"))

    # exact edges: hash groups containing >= 1 new doc, star around the
    # group's min key
    new_hashes = new_sigs.select("content_hash").distinct()
    grp = all_sigs.join(new_hashes, "content_hash", "leftsemi")
    mins = grp.groupBy("content_hash").agg(F.min("doc_key").alias("id_a"))
    exact = (
        grp.join(mins, "content_hash")
        .where(F.col("doc_key") != F.col("id_a"))
        .select("id_a", F.col("doc_key").alias("id_b"))
    )

    # this batch's edge DELTA is what gets persisted; CC runs on the
    # distinct union of all deltas (touched buckets re-emit old-old
    # pairs, so the union may repeat rows — distinct collapses them)
    new_edges = near.unionByName(exact).localCheckpoint(eager=True)
    edges = new_edges
    if prior_edges is not None:
        edges = edges.unionByName(prior_edges)
    edges = edges.distinct().localCheckpoint(eager=True)

    comp = connected_components(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    labeled = all_sigs.join(
        comp, all_sigs["doc_key"] == comp["node"], "left"
    ).select("url", F.coalesce("component", "doc_key").alias("_k"))
    canon = labeled.groupBy("_k").agg(F.min("url").alias("cluster_key"))
    clusters = labeled.join(canon, "_k").select("url", "cluster_key")

    vdir = os.path.join(state_dir, f"v{version}")
    new_sigs.write.mode("overwrite").parquet(os.path.join(vdir, "signatures"))
    new_edges.write.mode("overwrite").parquet(os.path.join(vdir, "edges"))
    n_docs = n_prior + n_new
    tmp = _manifest_path(state_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {"version": version, "config": cfg.to_json(), "n_docs": n_docs}, f
        )
    os.replace(tmp, _manifest_path(state_dir))

    return {"clusters": clusters, "version": version, "n_docs": n_docs}
