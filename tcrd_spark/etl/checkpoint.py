"""Resumable pipeline stages: materialize-or-reuse to parquet.

The reference's long jobs are restartable via shelve checkpoints and
keyset resume (`loaders/load-PubMed.py:83` shelve + `:162-205` retry
pass; `past_id` keyset scans `loaders/TCRD.py:2139-2165`). The Spark
equivalent (SURVEY §4) is stage-level checkpointing: each pipeline
phase lands atomically in parquet; a rerun reads finished stages
instead of recomputing them, so a 30-hour build that dies at hour 29
restarts at the failed stage, not at zero.

Atomicity: write to ``<dir>.__stage_tmp__`` then rename — the final
directory either exists complete (Spark's _SUCCESS marker inside) or
not at all; a killed write leaves only the tmp dir, which the next
attempt clobbers.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def stage_path(root: str, name: str) -> str:
    return os.path.join(root, name)


def is_complete(root: str, name: str) -> bool:
    d = stage_path(root, name)
    return os.path.isdir(d) and os.path.exists(os.path.join(d, "_SUCCESS"))


def stage(
    spark: SparkSession,
    root: str,
    name: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the stage's DataFrame, computing it at most once per
    ``root``: reuse ``<root>/<name>`` when a completed write exists,
    else run ``build()``, land it atomically, and read it back (so
    downstream lineage starts at the parquet scan — also the
    lineage-cut that keeps iterative pipelines analyzable)."""
    final = stage_path(root, name)
    if not is_complete(root, name):
        tmp = final + ".__stage_tmp__"
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        build().write.mode("overwrite").parquet(tmp)
        if os.path.isdir(final):  # incomplete (no _SUCCESS): clear it
            shutil.rmtree(final)
        os.rename(tmp, final)
    return spark.read.parquet(final)


def run_stages(
    spark: SparkSession,
    root: str,
    stages: list[tuple[str, Callable[[DataFrame | None], DataFrame]]],
) -> DataFrame:
    """Chain named stages, each receiving the previous stage's (read
    back) DataFrame; completed stages are skipped on rerun."""
    os.makedirs(root, exist_ok=True)
    prev: DataFrame | None = None
    for i, (name, fn) in enumerate(stages):
        prev_df = prev
        prev = stage(
            spark,
            root,
            f"{i:02d}_{name}",
            lambda p=prev_df, f=fn: f(p),
        )
    assert prev is not None, "run_stages: empty stage list"
    return prev
