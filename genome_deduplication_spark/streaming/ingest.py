"""Incremental pages ingest via Structured Streaming.

The reference is batch-only (SURVEY.md §2.9) and the north_rule does not
require streaming; this module exists because a production crawl is
*incremental*: new WARC drops land continuously, and recomputing signatures
for the whole corpus per drop is absurd at 10^12 docs. The streaming job
maintains the *signature* table incrementally (the expensive per-doc work:
normalize, shingle, MinHash, SimHash); the pair/cluster stages stay batch
jobs over the signature table's snapshots (exactly the reference's
checkpoint-then-continue cadence, code/dedup2.py:553, at stream granularity).

Within-stream exact dedup uses dropDuplicatesWithinWatermark on the content
hash — the streaming analogue of the global seen-set probe for the
exact-duplicate case. Cross-batch near-dup unification is the batch CC
stage's job, by design: LSH bucket state is unbounded, so it belongs in the
snapshot table, not in stream state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genome_deduplication_spark.config import DedupConfig
from genome_deduplication_spark.functions.signatures import (
    normalize_pages,
    sign_normalized,
)


def streaming_signatures(pages_stream: DataFrame, cfg: DedupConfig) -> DataFrame:
    """pages stream -> signature stream: the pipeline's own stage-1
    normalize and stage-2 builder, so a streamed row equals the pipeline's
    ``signatures`` row for the same page (doc_key and html extraction
    included). Ambiguous pages are dropped where the pipeline splits them
    off."""
    docs = normalize_pages(pages_stream, cfg).where(~F.col("is_ambiguous"))
    return sign_normalized(docs, cfg, ("doc_key", "url", "warc_ts"))


def run_ingest(
    pages_stream: DataFrame,
    cfg: DedupConfig,
    output_path: str,
    checkpoint_path: str,
    watermark: str = "1 hour",
    dedup_exact: bool = True,
    trigger_available_now: bool = True,
):
    """Start the ingest query: signature stream -> parquet sink (Iceberg
    table in production), exact dups within the watermark dropped at the
    stream edge. Returns the StreamingQuery."""
    sigs = streaming_signatures(pages_stream, cfg)
    if dedup_exact:
        sigs = sigs.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
            ["content_hash"]
        )
    writer = (
        sigs.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_sessionize(
    events_stream: DataFrame,
    *,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
):
    """Stateful streaming twin of operators/sessions.sessionize:
    ``applyInPandasWithState`` keeps (last_ts_us, next_session_idx) per
    user and numbers sessions across micro-batches.

    Contract: equals the batch operator when each user's events arrive in
    nondecreasing event-time order ACROSS micro-batches (in-order ingest;
    within a batch any order is fine — rows are sorted per invocation).
    An availableNow run over a static source is a single batch and is
    therefore exactly batch-equivalent (tested). State is two longs per
    user — bounded by the user universe, not the event count; production
    would add an event-time timeout to evict idle users.
    """
    import pandas as pd  # noqa: F401 (worker-side)

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    # honor the caller's column names AND types: the output carries the
    # input's user/id/ts fields through unchanged (hardcoding
    # user_id/event_id + LongType silently misnamed columns under renames
    # and crashed worker-side on string event ids)
    in_schema = events_stream.schema
    out_schema = StructType(
        [
            StructField(user_col, in_schema[user_col].dataType),
            StructField(id_col, in_schema[id_col].dataType),
            StructField(ts_col, in_schema[ts_col].dataType),
            StructField("session_idx", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("last_ts_us", LongType()), StructField("next_idx", LongType())]
    )
    gap_us = gap_seconds * 1_000_000

    def assign(key, pdfs, state: GroupState):
        (user,) = key
        if state.exists:
            last_us, cur_idx = state.get
        else:
            last_us, cur_idx = None, 0
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, id_col])
            # normalize to MICROsecond ticks whatever unit pandas delivered
            # (arrow conversion may hand datetime64[ns]; raw int64 of that
            # would be 1000x off the gap threshold)
            us = pdf[ts_col].astype("datetime64[us]").astype("int64")
            idxs = []
            for t in us:
                if last_us is None or t - last_us > gap_us:
                    cur_idx += 1
                last_us = int(t)
                idxs.append(cur_idx)
            yield pd.DataFrame(
                {
                    user_col: pdf[user_col],
                    id_col: pdf[id_col],
                    ts_col: pdf[ts_col],
                    "session_idx": idxs,
                }
            )
        if last_us is not None:
            state.update((last_us, cur_idx))

    return (
        events_stream.groupBy(user_col)
        .applyInPandasWithState(
            assign,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
