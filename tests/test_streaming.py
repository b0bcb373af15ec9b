from __future__ import annotations

import os

from pyspark.sql import functions as F

from genome_deduplication_spark.config import DedupConfig
from genome_deduplication_spark.fixtures.pages import (
    PAGES_SCHEMA,
    fx_exact,
    pages_df,
)
from genome_deduplication_spark.streaming.ingest import (
    run_ingest,
    streaming_signatures,
)

CFG = DedupConfig()


def test_streaming_ingest_dedups_exact(spark, tmp_path):
    corpus = fx_exact(seed=42, groups=5, copies=3)
    src = str(tmp_path / "incoming")
    pages_df(spark, corpus).drop("html").write.parquet(src)

    stream = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, text string, lang string"
        ).parquet(src)
    )
    out = str(tmp_path / "signatures")
    ckpt = str(tmp_path / "ckpt")
    q = run_ingest(stream, CFG, out, ckpt, watermark="10 minutes")
    q.awaitTermination(120)

    sigs = spark.read.parquet(out)
    # 15 docs in 5 exact groups -> watermark-window exact dedup keeps 5
    assert sigs.count() == 5
    assert sigs.select("content_hash").distinct().count() == 5
    cols = set(sigs.columns)
    assert {"url", "warc_ts", "content_hash", "minhash", "simhash"} <= cols

    # resume: a second drop with one new group + one repeat group lands in
    # the same sink via the same checkpoint
    more = fx_exact(seed=99, groups=1, copies=2)
    pages_df(spark, more).drop("html").write.mode("append").parquet(src)
    stream2 = (
        spark.readStream.schema(
            "url string, warc_ts timestamp, text string, lang string"
        ).parquet(src)
    )
    q2 = run_ingest(stream2, CFG, out, ckpt, watermark="10 minutes")
    q2.awaitTermination(120)
    sigs2 = spark.read.parquet(out)
    assert sigs2.select("content_hash").distinct().count() == 6


def test_streaming_batch_equivalence_sf001(spark, tmp_path):
    """Differential pipeline-vs-availableNow check over real testdata
    (sf0.01 documents): the streamed signature table must equal the batch
    stage-2 table (the pipeline's ``signatures`` stage over the same
    pages) row for row, and the exact-dup cluster table derived from each
    must be identical (streaming's interchangeability contract — the
    pair/cluster stages run batch over either snapshot; reference resume
    semantics, code/dedup2.py:546,553)."""
    from genome_deduplication_spark.plans.pipeline import dedup_pipeline

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf_dir}/documents.parquet"):  # driver testdata
        import pytest

        pytest.skip("sf0.01 testdata not present")
    pages = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.col("doc_id").cast("string").alias("url"),
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(secs=F.col("doc_id").cast("double"))
            ).alias("warc_ts"),
            "text",
            "lang",
        )
    )
    src = str(tmp_path / "incoming")
    pages.write.parquet(src)

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, text string, lang string"
    ).parquet(src)
    out = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")
    # dedup_exact=False: the equivalence under test is the signature tables;
    # exact-dup election happens identically in batch over either snapshot
    q = run_ingest(stream, CFG, out, ckpt, dedup_exact=False)
    q.awaitTermination(300)

    streamed = spark.read.parquet(out)
    batch = dedup_pipeline(
        spark.read.parquet(src), CFG, enable_substring_pass=False
    )["signatures"]

    def rows(df):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*batch.columns).collect()
        )

    assert rows(streamed) == rows(batch)

    def exact_clusters(sigs):
        canon = sigs.groupBy("content_hash").agg(
            F.min(F.struct("warc_ts", "url")).alias("_c"),
            F.count(F.lit(1)).alias("cluster_size"),
        ).select("content_hash", F.col("_c.url").alias("cluster_id"), "cluster_size")
        return sorted(
            (r["url"], r["cluster_id"], r["cluster_size"])
            for r in sigs.select("url", "content_hash")
            .join(canon, "content_hash")
            .collect()
        )

    assert exact_clusters(streamed) == exact_clusters(batch)


def test_streaming_candidate_pairs_microbatch_sf001(spark, tmp_path):
    """Micro-batch near-dup demo (VERDICT r4 #5): run lsh.candidate_pairs
    over each availableNow signature snapshot as drops land. At every
    snapshot the pair set must equal the batch pair set over the same docs
    — completing the streaming interchangeability contract beyond stage 2:
    per-doc work streamed, pair/CC stages batch over snapshots (reference
    checkpoint-then-continue cadence, code/dedup2.py:546,553). Note pair
    sets need not grow monotonically across drops: star edges re-anchor
    when a new doc becomes a bucket's minimum member — which is exactly
    why the contract is snapshot-equals-batch, not incremental patching."""
    sf_dir = "/root/testdata/sf0.01"
    if not os.path.exists(f"{sf_dir}/documents.parquet"):  # driver testdata
        import pytest

        pytest.skip("sf0.01 testdata not present")
    from genome_deduplication_spark.operators.lsh import candidate_pairs

    pages = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.col("doc_id").cast("string").alias("url"),
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(secs=F.col("doc_id").cast("double"))
            ).alias("warc_ts"),
            "text",
            "lang",
        )
    )
    drop1 = pages.where(F.col("url").cast("long") % 2 == 0)
    drop2 = pages.where(F.col("url").cast("long") % 2 == 1)
    src = str(tmp_path / "incoming")
    out = str(tmp_path / "sigs")
    ckpt = str(tmp_path / "ckpt")

    def pair_set(sigs_df):
        return {
            (r["id_a"], r["id_b"])
            for r in candidate_pairs(sigs_df, CFG).collect()
        }

    snapshots = []
    for drop in (drop1, drop2):
        drop.write.mode("append").parquet(src)
        stream = spark.readStream.schema(
            "url string, warc_ts timestamp, text string, lang string"
        ).parquet(src)
        q = run_ingest(stream, CFG, out, ckpt, dedup_exact=False)
        q.awaitTermination(300)
        snapshots.append(pair_set(spark.read.parquet(out)))

    # each snapshot's pairs == batch pairs over the same ingested docs
    batch1 = pair_set(streaming_signatures(drop1, CFG))
    batch_all = pair_set(streaming_signatures(pages, CFG))
    assert snapshots[0] == batch1
    assert snapshots[1] == batch_all
    assert len(snapshots[1]) > 0  # the corpus plants near-dup structure


def test_streaming_sessionize_equals_batch(spark, tmp_path):
    """Stateful streaming sessionization (applyInPandasWithState) over an
    availableNow run of the sf0.001 events table must assign the exact
    (user_id, event_id) -> session_idx map of the batch operator."""
    import pytest

    from genome_deduplication_spark.operators.sessions import sessionize
    from genome_deduplication_spark.streaming.ingest import streaming_sessionize

    src0 = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(src0):
        pytest.skip("driver testdata not present")
    # streaming file sources need a DIRECTORY; testdata is a single file
    src = str(tmp_path / "incoming")
    spark.read.parquet(src0).write.parquet(src)

    stream = spark.readStream.schema(
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    ).parquet(src)
    out = str(tmp_path / "sessions")
    q = (
        streaming_sessionize(stream, gap_seconds=21600)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["user_id"], r["event_id"]): r["session_idx"]
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["user_id"], r["event_id"]): r["session_idx"]
        for r in sessionize(
            spark.read.parquet(src0), gap_seconds=21600
        ).select("user_id", "event_id", "session_idx").collect()
    }
    assert got == want and len(got) == 1000


def test_streaming_sessionize_honors_column_params(spark, tmp_path):
    """user_col/ts_col/id_col must flow through to the OUTPUT schema, and
    non-long id types must survive (the old hardcoded schema emitted
    user_id/event_id LongType regardless, crashing on string ids)."""
    from genome_deduplication_spark.streaming.ingest import streaming_sessionize

    rows = [
        ("e1", "2026-01-01 00:00:00", "alice"),
        ("e2", "2026-01-01 00:10:00", "alice"),
        ("e3", "2026-01-01 09:00:00", "alice"),  # new session (gap 30m)
        ("e4", "2026-01-01 00:05:00", "bob"),
    ]
    src = str(tmp_path / "renamed_src")
    spark.createDataFrame(rows, "msg_id string, at string, uid string").select(
        "msg_id", F.col("at").cast("timestamp_ntz").alias("at"), "uid"
    ).write.parquet(src)

    stream = spark.readStream.schema(
        "msg_id string, at timestamp_ntz, uid string"
    ).parquet(src)
    out = str(tmp_path / "renamed_out")
    q = (
        streaming_sessionize(
            stream, gap_seconds=1800, user_col="uid", ts_col="at", id_col="msg_id"
        )
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "renamed_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    res = spark.read.parquet(out)
    assert set(res.columns) == {"uid", "msg_id", "at", "session_idx"}
    assert dict(res.dtypes)["msg_id"] == "string"
    got = {(r["uid"], r["msg_id"]): r["session_idx"] for r in res.collect()}
    assert got == {
        ("alice", "e1"): 1,
        ("alice", "e2"): 1,
        ("alice", "e3"): 2,
        ("bob", "e4"): 1,
    }
