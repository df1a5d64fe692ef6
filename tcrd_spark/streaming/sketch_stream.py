"""Streaming sketch maintenance: Count-Min grids and KMV sketches kept
current over an append stream.

Mergeability is the entire reason these sketch shapes exist at 100 TB
(SCALE.md, pipeline/sketches.py): a CMS grid merges by cell-wise
addition, a KMV sketch by re-taking the k smallest of a union. That
makes streaming maintenance embarrassingly incremental — each
micro-batch writes its OWN tiny sketch partition, and the "current"
sketch is a fold over partitions at read time:

    batch side:  per-batch sketch (bounded: d·w cells / k hashes),
                 `cms_build` / `kmv_sketch` of the batch, written by
                 `streaming/sink.py`'s one exactly-once rule:
                 txn = (checkpoint, batch_id), and a batch overwrites
                 its own batch_id=N directory, so a replay rewrites
                 identical cells (an out_path belongs to one
                 checkpoint)
    read side:   CMS:  groupBy(d, col).sum(cnt)   — cell-wise merge
                 KMV:  k smallest over the unioned batch sketches
                 (min-k(A ∪ B) == min-k(min-k(A) ∪ min-k(B)))

Equality with the batch-built sketch over the same data is exact and
replay-tested — not "approximately the same estimate", the identical
grid/hash-set, because the sketches are deterministic (hash60).

State: ZERO in the streaming engine (no mapGroupsWithState) — the
sketch state lives in the lake as data, so restarts need no state
store and the sketch is queryable mid-stream by any other session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.pipeline.sketches import KMV_K, cms_build, kmv_sketch
from tcrd_spark.streaming.sink import to_directory


def streaming_cms(stream: DataFrame, grid_dir: str, item_col: str,
                  checkpoint_dir: str):
    """Maintain a CMS grid over an append stream (foreachBatch)."""
    return to_directory(
        stream, checkpoint_dir, grid_dir,
        lambda batch_df: cms_build(
            batch_df, F.col(item_col).cast("string")
        ).coalesce(1),
    )


def streaming_kmv(stream: DataFrame, sketch_dir: str, item_col: str,
                  checkpoint_dir: str):
    """Maintain a KMV sketch over an append stream (foreachBatch)."""
    return to_directory(
        stream, checkpoint_dir, sketch_dir,
        lambda batch_df: kmv_sketch(
            batch_df, [], F.col(item_col).cast("string"), KMV_K
        ).coalesce(1),
    )


def cms_current(spark: SparkSession, grid_dir: str) -> DataFrame:
    """The merged grid: cell-wise sum across batch partitions."""
    return (
        spark.read.parquet(grid_dir)
        .groupBy("d", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )


def kmv_current(spark: SparkSession, sketch_dir: str, k: int = KMV_K) -> DataFrame:
    """The merged sketch: k smallest distinct hashes over all batch
    sketches (TakeOrdered — never a global window)."""
    return (
        spark.read.parquet(sketch_dir)
        .select("h")
        .distinct()
        .orderBy(F.asc("h"))
        .limit(k)
    )
