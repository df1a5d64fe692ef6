"""The one exactly-once rule for micro-batch sinks.

foreachBatch is at-least-once: a crash after a sink's write but before
the checkpoint commit replays the micro-batch under the same batch id.
Every sink that writes micro-batches (the jobs in this package and
`sources/snapshots.streaming_snapshot_append`) earns exactly-once the
same way, by making its write idempotent per transaction:

    txn = (checkpoint, batch_id)

- `launch` is the one foreachBatch launcher. It hands each batch the
  txn id ``"<app>:<batch_id>"``, where ``app`` is the checkpoint's
  absolute path unless the caller names the app. The batch counter
  lives in the checkpoint, so the app scopes it: a second stream, or
  a restart under a fresh checkpoint, counts from 0 again under a new
  app and can never be mistaken for a batch already committed. Lake
  sinks commit under this id and skip a txn id already committed.
- `write_batch` is the one directory write: a batch overwrites its
  own ``<out_path>/batch_id=<id>`` directory, so a replay rewrites
  identical rows instead of appending a second copy. Readers see the
  directory as one parquet tree partitioned by ``batch_id``. The
  batch id alone keys the directory, so an ``out_path`` belongs to
  one checkpoint.
- `claim` enforces that: it publishes ``<out_path>/_checkpoint.json``
  naming the checkpoint's absolute path, exclusively, and raises
  ``ValueError`` for any other checkpoint, before a batch is written.
  Spark's readers skip ``_``-prefixed files, so the directory still
  reads as the batches alone.
- `to_directory` is a directory sink: it claims ``out_path``, then
  writes each batch's twin plan (the batch function the sink
  streams) with `write_batch`.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from tcrd_spark.sources.metastore import get_store


def launch(
    stream: DataFrame,
    checkpoint: str,
    write: Callable[[DataFrame, int, str], None],
    app: str | None = None,
) -> DataStreamWriter:
    """The unstarted writer that calls ``write(batch_df, batch_id,
    txn)`` on each micro-batch; the caller starts it."""
    app = os.path.abspath(checkpoint) if app is None else app

    def _one(batch_df: DataFrame, batch_id: int) -> None:
        write(batch_df, batch_id, f"{app}:{batch_id}")

    return (
        stream.writeStream.foreachBatch(_one)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )


def write_batch(df: DataFrame, out_path: str, batch_id: int) -> None:
    """Overwrite batch ``batch_id``'s directory under ``out_path``."""
    df.write.mode("overwrite").parquet(
        os.path.join(out_path, f"batch_id={batch_id}")
    )


def claim(out_path: str, checkpoint: str) -> None:
    """Make ``out_path`` the directory of ``checkpoint``'s stream: the
    first claim wins (an exclusive publish), a restart from the same
    checkpoint passes, any other checkpoint raises ``ValueError``."""
    owner = os.path.abspath(checkpoint)
    mark = os.path.join(out_path, "_checkpoint.json")
    store = get_store()
    store.makedirs(out_path)
    try:
        store.publish_exclusive(mark, {"checkpoint": owner}, mark)
    except FileExistsError:
        pass
    held = store.read_json(mark)["checkpoint"]
    if held != owner:
        raise ValueError(
            f"{out_path} belongs to checkpoint {held}, not {owner}"
        )


def to_directory(
    stream: DataFrame,
    checkpoint: str,
    out_path: str,
    twin: Callable[[DataFrame], DataFrame],
) -> StreamingQuery:
    """Start a stream whose batches land as ``twin(batch_df)`` under
    ``out_path``, which ``checkpoint`` claims first (`claim`)."""
    claim(out_path, checkpoint)
    return launch(
        stream,
        checkpoint,
        lambda batch_df, batch_id, _txn: write_batch(
            twin(batch_df), out_path, batch_id
        ),
    ).start()
