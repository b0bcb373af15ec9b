"""The flagship plan: near-duplicate detection + clustering over pages.

Stage graph (each boundary = checkpoint + lineage metrics, the Spark
re-expression of the reference's sequential engine — see SURVEY.md §3.1):

  1 normalize   extract/normalize text; split off ambiguous docs
                (reference: sequence cleaning + N handling,
                 code/dedup2.py:467-468,114-131)
  2 signatures  distinct shingle set -> MinHash(128) + SimHash(64)
                (reference: k-mer loop + global set, code/dedup2.py:135-142)
  3 candidates  exact-hash clusters short-circuit + LSH band buckets -> pairs
  4 verify      Jaccard estimate + SimHash Hamming -> verified edges
  5 substring   suffix-array exact long-substring pass on near-miss pairs
                (reference masks, code/dedup2.py:18,235-246)
  6 components  connected components -> cluster ids
                (reference transitive cross-file state, code/dedup2.py:549-554)
  7 clusters    canonical election min(warc_ts, url) per component
                (first-occurrence-wins, code/dedup2.py:420-421)

Column-pruning note for 100 TB: `html` is only touched in stage 1 and
`text` only in stages 1-2 and the (small) stage-5 pair join — every other
stage moves fixed-width signatures/edges. The stage-boundary parquet
checkpoints make that pruning physical, not just logical.

Document key: stage 1 hashes each url once into ``doc_key`` =
hash128(url), a BINARY(16) key (functions/hashing.py). Stages 2-6 key
every row, bucket member and edge on it, so url bytes stay out of the
banded explode, the bucket sorts and the CC rounds. Edges are oriented
(id_a < id_b) in key order everywhere. Only the clusters stage (and the
returned ``dup_edges``) goes back to urls.
"""

from __future__ import annotations

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genome_deduplication_spark.config import DedupConfig
from genome_deduplication_spark.functions.signatures import (
    normalize_pages,
    sign_normalized,
)
from genome_deduplication_spark.operators.connected_components import (
    connected_components,
)
from genome_deduplication_spark.operators.lsh import candidate_pairs
from genome_deduplication_spark.operators.suffix_array import (
    exact_substring_pairs,
    pairs_from_anchor_rows,
)
from genome_deduplication_spark.operators.verify import dup_edges, verify_pairs
from genome_deduplication_spark.sources.checkpoint import (
    RunContext,
    observed_checkpoint,
)


def _concurrently(spark, *thunks):
    """Run independent materializations on a thread pool. Each thunk
    carries the caller's Spark local properties (job group, description)
    and job tags into its thread, so its jobs stay attributed to the
    caller; a plain pool thread would start with none."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(t)) for t in thunks
        ]
        return [f.result() for f in futures]


def _canonical_keys(signatures: DataFrame) -> DataFrame:
    """(content_hash, doc_key) of each exact group's canonical member, the
    first-occurrence-wins min(warc_ts, url)."""
    return signatures.groupBy("content_hash").agg(
        F.min(F.struct("warc_ts", "url", "doc_key")).alias("_c")
    ).select("content_hash", F.col("_c.doc_key").alias("doc_key"))


# stage -> (its metrics row, the row's names for the stage's record); other
# record values keep their names (the lsh_<name> truncation counts)
_METRICS = {
    "normalize": ("normalize", {"rows": "docs_in", "ambiguous": "docs_ambiguous"}),
    "signatures": ("signatures", {"rows": "signatures_out"}),
    "exact_edges": ("candidates", {"rows": "exact_edges"}),
    "lsh_pairs": ("candidates", {"rows": "lsh_candidate_pairs"}),
    "verified": ("verify", {"rows": "pairs_in", "dup": "pairs_dup"}),
    "substring": ("substring", {"rows": "pairs_checked", "dup": "pairs_substring_dup"}),
    "clusters": ("clusters", {"rows": "docs_clustered", "canonical": "n_clusters"}),
}


def _report(lineage: dict[str, dict], fused: dict[str, str]) -> list[dict]:
    """The metrics rows of ``_METRICS`` from the stages' lineage records. A
    value whose stage an unrecorded run fused into its consumer is absent;
    the row's ``fused`` names that consumer instead."""
    report: dict[str, dict] = {}
    for stage, (name, names) in _METRICS.items():
        row = report.setdefault(name, {"stage": name})
        if stage in lineage:
            row.update({names.get(k, k): v for k, v in lineage[stage].items()})
        elif stage in fused:
            row.setdefault("fused", {})[stage] = fused[stage]
    # normalize is a 1:1 projection of pages: its rows are docs_in
    norm = report["normalize"]
    norm["docs_ok"] = norm["docs_in"] - norm["docs_ambiguous"]
    # a stage the run skipped (the substring pass, when off) has no row
    return [row for row in report.values() if len(row) > 1]


def dedup_pipeline(
    pages: DataFrame,
    cfg: DedupConfig,
    run_dir: str | None = None,
    enable_substring_pass: bool = True,
) -> dict:
    """Run the full plan; returns the stage tables and, under ``report``,
    the run report (``_report``).

    ``run_dir=None`` runs without checkpointing (tests/small inputs);
    otherwise every stage is materialized + resumable, and the report is
    also written to ``metrics.jsonl``.
    """
    spark = pages.sparkSession
    ctx = (
        RunContext(spark, run_dir, cfg.to_json()) if run_dir is not None else None
    )

    sc = spark.sparkContext
    # stage -> {rows, **observed}, taken from the job that materialized the
    # stage; fused: stage -> the consumer whose jobs compute it (unrecorded)
    lineage: dict[str, dict] = {}
    fused: dict[str, str] = {}

    def described(name: str, thunk):
        # tag the jobs this stage materializes ("stage:<name>" in the Spark
        # UI / event log) and restore the caller's description after —
        # profilers aggregating SparkListenerJobStart get per-stage
        # attribution instead of anonymous lambda callsites
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"stage:{name}")
        try:
            return thunk()
        finally:
            sc.setJobDescription(prev)

    def stage(name: str, build, observe=None, fused_into: str | None = None):
        # observe: named aggregate columns attached to the job that
        # materializes the stage (its write or its eager cut), beside its
        # rows. fused_into: the consumer an unrecorded run fuses it into.
        if ctx is not None:  # the record of a fresh or a resumed stage
            df, lineage[name] = described(name, lambda: ctx.stage(name, build, observe))
            return df
        if fused_into is not None:
            # a single-consumer stage stays lazy so Catalyst fuses it into
            # its consumer: no number of its own. Never observe a lazy
            # subtree: on one AQE prunes (an empty join side) the
            # Observation completes with an empty row.
            fused[name] = fused_into
            return described(name, build)
        # No durable checkpoint requested: multi-consumer stages are EAGERLY
        # localCheckpointed. Lazy marking looked cheaper (no barrier job)
        # but does not persist under AQE — the adaptive plan computes a
        # different RDD than the marked one, so every downstream consumer
        # silently recomputed the stage (for the signatures stage that means
        # re-running the pandas-UDF kernel per consumer). Interleaved A/B
        # comparison at 160k docs: eager 79/105/43 s vs lazy 146/229/61 s —
        # eager wins every adjacent pair (BENCH.md round 4). The record is
        # observed on that same job, as in CC's rounds.
        cols = {"rows": F.count(F.lit(1)), **(observe or {})}
        df, lineage[name] = described(name, lambda: observed_checkpoint(build(), cols))
        return df

    # -- 1 normalize ----------------------------------------------------------
    # doc_key, html extraction and the ambiguous flag (functions/signatures.py)
    normalized = stage(
        "normalize",
        lambda: normalize_pages(pages, cfg),
        observe={"ambiguous": F.count_if(F.col("is_ambiguous"))},
    )
    docs = normalized.where(~F.col("is_ambiguous")).drop("is_ambiguous")
    ambiguous = normalized.where(F.col("is_ambiguous"))

    # -- 2 signatures ----------------------------------------------------------
    # one Arrow pass per document computes shingles (O(n) rolling hash),
    # MinHash, SimHash AND the exact-substring anchor index
    # (functions/signatures.py, the one builder every caller shares)
    signatures = stage(
        "signatures",
        lambda: sign_normalized(docs, cfg, ("doc_key", "url", "warc_ts")),
    )

    # -- 3 candidates ----------------------------------------------------------
    # exact-duplicate short-circuit: identical content hash is a sure edge —
    # no LSH needed; also collapse exact groups to one LSH representative so
    # a 10^6-copy mega-duplicate costs one signature in every band bucket.
    def _exact_edges():
        # star edges canonical->member via a join-back, NOT collect_list:
        # a 10^8-copy boilerplate page must not materialize its whole member
        # list in one reducer row (multi-GB single row -> OOM). The hash
        # aggregation and the join both shuffle on content_hash, so AQE
        # reuses the partitioning; skewed hashes split via AQE skew handling.
        canon = _canonical_keys(signatures).withColumnRenamed("doc_key", "_c")
        return (
            signatures.select("content_hash", "doc_key")
            .join(canon, "content_hash")
            .where(F.col("doc_key") != F.col("_c"))
            .select(
                F.least("doc_key", "_c").alias("id_a"),
                F.greatest("doc_key", "_c").alias("id_b"),
            )
        )

    def _reps():
        # exact-group representatives: one signature per content hash, so a
        # 10^6-copy mega-duplicate costs one signature in every band bucket.
        # The election aggregates NARROW rows only: any string/struct/array
        # aggregate plans a SortAggregate (no mutable buffer), and sorting
        # rows that carry the 1KB minhash array was the single biggest CPU
        # burner of the 640k profile (PLANS.md round 5). Elect ids first,
        # then fetch minhash by semi-join — the rep-id side broadcasts at
        # bench scale and co-partitions at cluster scale.
        rep_ids = _canonical_keys(signatures).select("doc_key")
        return signatures.join(rep_ids, "doc_key", "leftsemi").select(
            "doc_key", "minhash"
        )

    def _lsh_pairs():
        # reps feed the counts and members sides of the bucket machinery —
        # materialize once, eagerly (lazy marks are not persisted under
        # AQE, PLANS.md round 4). Before this, the reps election and the
        # band explode each ran twice (640k profile: two ~360-CPU-s
        # SortAggregate stages over the full signature table).
        # pairs already known exact dups need no subtraction: reps are
        # one-per-content-hash, so same-hash pairs cannot appear
        reps = _reps().localCheckpoint(eager=True)
        if ctx is None:
            # no truncation counts: taking the counts checkpoint here
            # measured 39 jobs on tests/test_lineage.py's _small_corpus()
            # against 37, exactly UNRECORDED_JOB_CEILING
            return candidate_pairs(reps, cfg, id_col="doc_key")
        # truncation accounting (lsh.py's no-silent-truncation promise,
        # reference analogue code/dedup2.py:480-493), observed on the
        # bucket-counts checkpoint candidate_pairs() runs anyway, lands in
        # this stage's manifest beside its rows
        pairs, stats = candidate_pairs(
            reps, cfg, id_col="doc_key", with_stats=True
        )
        return pairs, {f"lsh_{k}": v for k, v in stats.items()}

    # exact_edges and the reps/LSH chain are independent given the
    # signatures checkpoint: an unrecorded run materializes them
    # concurrently (guide §2.6: the second job's tasks back-fill executors
    # freed by the first job's tail, and its planning overlaps the first
    # job's execution). A recorded run writes them in turn: overlapped, its
    # CPU depends on how the two stages' jobs interleave (perfbench
    # mirror_crawl's op CPU then spread from run to run past the bound).
    # exact_edges is multi-consumer only when the substring pass (known-
    # pairs anti-join) reads it besides the final edge union; otherwise an
    # unrecorded run's eager cut is a pure barrier + job with no reuse to
    # pay for it (r6 event-log profile). A recorded stage is always written.
    exact_fused = None if enable_substring_pass else "components"
    calls = (
        lambda: stage("exact_edges", _exact_edges, fused_into=exact_fused),
        lambda: stage("lsh_pairs", _lsh_pairs, fused_into="verified"),
    )
    if ctx is None:
        exact_edges, lsh_pairs = _concurrently(spark, *calls)
    else:
        exact_edges, lsh_pairs = (call() for call in calls)

    # -- 4 verify ----------------------------------------------------------------
    def _verified():
        return verify_pairs(lsh_pairs, signatures, cfg, id_col="doc_key")

    def _substr_cand():
        # candidates = anchor-shingle collisions (winnowing index — how a
        # shared-substring pair is *found* without whole-doc similarity).
        # Anchors were computed in the same Arrow pass as the signatures —
        # no text re-hash here. Depends ONLY on the signatures checkpoint,
        # so it can materialize concurrently with the verify stage.
        anchor_rows = signatures.select(
            "doc_key", F.explode("anchors").alias("anchor")
        )
        return pairs_from_anchor_rows(
            anchor_rows,
            max_bucket_size=cfg.anchor_df_cap,
            min_shared_anchors=cfg.min_shared_anchors,
            id_col="doc_key",
        )

    verified_dup = {"dup": F.count_if(F.col("is_dup"))}
    substr_cand = None
    if ctx is None and enable_substring_pass:
        # overlap the two independent subtrees (guide §2.6, same pattern
        # as the exact_edges/lsh pair above): the anchor-bucket candidate
        # machinery back-fills executors while the verify stage's jobs
        # run, and the substring stage below consumes the materialized
        # candidate set instead of re-deriving it inside its lazy plan.
        verified, substr_cand = _concurrently(
            spark,
            lambda: stage("verified", _verified, verified_dup),
            lambda: described(
                "substr_cand",
                lambda: _substr_cand().localCheckpoint(eager=True),
            ),
        )
    else:
        verified = stage("verified", _verified, verified_dup)
    near_edges = dup_edges(verified)

    # -- 5 substring pass ---------------------------------------------------------
    if enable_substring_pass:
        def _substr():
            # candidate pairs minus pairs already confirmed dups, run
            # through the suffix-array LCS kernel; every edge set is
            # key-oriented (id_a < id_b), so the anti-join is exact
            cand = substr_cand if substr_cand is not None else _substr_cand()
            known = exact_edges.union(near_edges)
            todo = cand.join(known, ["id_a", "id_b"], "left_anti")
            return exact_substring_pairs(
                todo, docs, cfg.min_common_substring, id_col="doc_key"
            )

        substr = stage(
            "substring",
            _substr,
            {"dup": F.count_if(F.col("is_substring_dup"))},
            fused_into="components",
        )
        substr_edges = substr.where("is_substring_dup").select("id_a", "id_b")
    else:
        substr = None
        substr_edges = spark.createDataFrame([], "id_a binary, id_b binary")

    # -- 6 components ----------------------------------------------------------
    all_edges = exact_edges.union(near_edges).union(substr_edges)

    def _components():
        # (node, component) for every key on an edge; docs on no edge are
        # singletons, labeled by the clusters stage
        return connected_components(
            all_edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        )

    components = stage("components", _components, fused_into="clusters")

    # -- 7 clusters: canonical = min(warc_ts, url) within each component ---------
    def _clusters():
        labeled = docs.join(
            components, docs["doc_key"] == components["node"], "left"
        ).select(
            "url",
            "warc_ts",
            F.coalesce("component", "doc_key").alias("cluster_key"),
        )
        canon = labeled.groupBy("cluster_key").agg(
            F.min(F.struct("warc_ts", "url")).alias("_c"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
        return labeled.join(canon, "cluster_key").select(
            "url",
            F.col("_c.url").alias("cluster_id"),
            "cluster_size",
        )

    # every canonical is a member of its own cluster, so the rows with
    # url == cluster_id count the distinct clusters
    clusters = stage(
        "clusters",
        _clusters,
        {"canonical": F.count_if(F.col("url") == F.col("cluster_id"))},
    )
    report = _report(lineage, fused)
    if ctx is not None:
        ctx.write_metrics(report)

    # the edges in url space, for callers that read them (lazy: only a
    # caller that reads dup_edges pays for the two key->url joins)
    url_of = docs.select("doc_key", "url")
    url_edges = (
        all_edges.join(url_of.toDF("id_a", "url_a"), "id_a")
        .join(url_of.toDF("id_b", "url_b"), "id_b")
        .select(F.col("url_a").alias("id_a"), F.col("url_b").alias("id_b"))
    )

    return {
        "normalized": normalized,
        "signatures": signatures,
        "exact_edges": exact_edges,
        "lsh_pairs": lsh_pairs,
        "verified": verified,
        "substring": substr,
        "dup_edges": url_edges,
        "components": components,
        "clusters": clusters,
        "ambiguous": ambiguous,
        "report": report,
    }
