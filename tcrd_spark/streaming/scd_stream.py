"""Streaming SCD2 dimension maintenance — a change stream keeps a
Type-2 history table in the versioned lake current, exactly once.

Completes the SCD story (`operators/scd.py`: batch rebuild +
incremental apply) with the deployment shape a warehouse actually
runs: attribute observations arrive as a STREAM (CDC feed, app
events), and each micro-batch folds into the standing history —
closing changed keys' current rows, inserting new versions — without
ever rescanning closed history.

Composition, nothing new invented (the engine's whole design bet):

- delta computation is `operators/scd.scd2_batch_delta` — the touched
  keys' re-versioned rows only, cost ∝ batch;
- persistence is `snapshots.merge_version` on (key, version) — COW,
  untouched files carry forward by reference;
- exactly-once is `streaming/sink.py`'s one rule, the Delta
  txnAppId/txnVersion pattern: txn = (checkpoint, batch_id), committed
  as ``"<app>:<epoch>"`` where the app is the checkpoint's absolute
  path. The app scopes the epoch counter, so a rebuilt checkpoint
  (epochs restart at 0 under a NEW app) or a DIFFERENT stream writing
  the same table can never collide with this stream's ids and
  silently no-op real batches. A replayed batch re-offers the same
  scoped id and the MERGE skips (`tests/test_scd_stream.py` pins
  replay == batch rebuild with a restart in the middle).

100 TB shape: per trigger, work ∝ batch (semi-join pulls only the
touched keys' CURRENT rows; the windowed replay partitions by key
over seed+batch rows only). COW write amplification is governed by
the table's PARTITION LAYOUT: lay the history out by a stable KEY
BUCKET (`with_history_bucket` at create time + `bucket_col` here) and
a narrow batch rewrites only the buckets containing its keys —
partitioning by anything batch-spanning (version, is_current) would
rewrite partitions holding every key. The history never rescans.

Reference parity: none (streaming extension; with operators/scd.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.streaming.sink import launch


def with_history_bucket(
    df: DataFrame, key_col: str, n_buckets: int = 64,
    bucket_col: str = "kb",
) -> DataFrame:
    """Stable key-bucket column for the history table's hive layout:
    pmod(xxhash64(key), n) — deterministic across batches and engines
    running the same Spark build, key-type agnostic. Use it ON THE
    SAME ARGUMENTS when creating the table and when folding batches
    (`scd2_apply_to_lake(bucket_col=..., n_buckets=...)`), so a
    delta's rows land in exactly their keys' buckets and the COW
    merge rewrites only those."""
    return df.withColumn(
        bucket_col, F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    )


def scd2_apply_to_lake(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    key_col: str,
    ts_col: str,
    attr_col: str,
    txn_id: int | str | None = None,
    tiebreak_col: str | None = None,
    bucket_col: str | None = None,
    n_buckets: int = 64,
) -> int | None:
    """Fold one batch of observations into a lake-persisted SCD2
    history: delta via `scd2_batch_delta` against the CURRENT
    snapshot, persisted via `merge_version` on (key, version) with
    txn-idempotence. Returns the committed version (None = replayed
    txn, no-op). Usable directly for batch upkeep or from
    foreachBatch (`scd2_stream_writer`).

    `bucket_col`: the history table's key-bucket partition column
    (created via `with_history_bucket`); the delta gains the same
    derived column so the COW merge touches only the batch's keys'
    buckets."""
    from tcrd_spark.operators.scd import scd2_batch_delta
    from tcrd_spark.sources.snapshots import (
        merge_version, read_version, txn_seen,
    )

    if txn_id is not None and txn_seen(table_dir, txn_id):
        # replay of an already-applied epoch: must short-circuit HERE —
        # the batch would no longer pass the strictly-later validation
        # against the post-apply history it itself produced
        return None
    if batch.isEmpty():
        return None
    history = read_version(spark, table_dir)
    delta = scd2_batch_delta(
        history, batch, key_col, ts_col, attr_col,
        tiebreak_col=tiebreak_col,
    )
    if bucket_col is not None:
        if bucket_col not in history.columns:
            raise ValueError(
                f"history table has no {bucket_col!r} column — create "
                "it with with_history_bucket(...) using the SAME "
                "bucket spec"
            )
        # validate the spec against the STORED layout before writing:
        # a mismatched n_buckets (or a key column read back at a
        # different width — xxhash64 is type-sensitive) would drop the
        # seed's closing update into the wrong partition, leaving two
        # is_current rows for the key with no error. Cost ∝ batch: the
        # check joins only the touched keys' current rows.
        drift = (
            with_history_bucket(
                history.join(
                    batch.select(key_col).distinct(), key_col, "semi"
                ).select(key_col, F.col(bucket_col).alias("_stored")),
                key_col, n_buckets, bucket_col,
            )
            .filter(F.col(bucket_col) != F.col("_stored"))
        )
        sample = drift.select(key_col, "_stored", bucket_col).take(3)
        if sample:
            raise ValueError(
                "bucket spec mismatch: recomputed bucket differs from "
                "the stored layout for existing keys (wrong n_buckets "
                "or key dtype vs create time) — examples "
                f"(key, stored, recomputed): {[tuple(r) for r in sample]}"
            )
        delta = with_history_bucket(
            delta, key_col, n_buckets, bucket_col
        )
    return merge_version(
        spark, table_dir, delta, [key_col, "version"], txn_id=txn_id,
    )


def scd2_stream_writer(
    stream: DataFrame,
    table_dir: str,
    key_col: str,
    ts_col: str,
    attr_col: str,
    checkpoint: str,
    tiebreak_col: str | None = None,
    app_id: str | None = None,
    bucket_col: str | None = None,
    n_buckets: int = 64,
):
    """writeStream handle maintaining `table_dir` from an observation
    stream; caller starts/stops it. At-least-once delivery from the
    checkpoint + txn-idempotent MERGE = exactly-once history.

    ``app_id`` scopes the txn ids (Delta's txnAppId): it defaults to
    the CHECKPOINT's absolute path, which shares the epoch counter's
    lifetime exactly — delete/relocate the checkpoint and the new
    stream is a new app whose epoch-0 cannot collide with the old
    app's commits. Pass it explicitly to survive a checkpoint MOVE
    that should keep its history."""
    return launch(
        stream, checkpoint,
        lambda batch, _epoch, txn: scd2_apply_to_lake(
            batch.sparkSession, table_dir, batch,
            key_col, ts_col, attr_col,
            txn_id=txn, tiebreak_col=tiebreak_col,
            bucket_col=bucket_col, n_buckets=n_buckets,
        ),
        app=app_id,
    )
