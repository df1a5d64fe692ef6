"""Parquet lake registry.

The reference's storage layer is a MySQL schema of ~75 InnoDB tables
(`SQL/create-TCRDv7.sql`); ours is a directory of parquet tables read
straight into DataFrames so Catalyst gets column pruning + predicate
pushdown at the scan (check `.explain`: PushedFilters/ReadSchema).

The driver testdata is a TPC-H-ish star schema (TESTDATA.md); the same
registry pattern serves the TCRD domain tables in tests/fixtures.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough that joins against them must be broadcast
# hash joins, never shuffles. At reference scale this is the type-dictionary
# pattern (`loaders/TCRD.py:3373-3443` caches info_type/xref_type maps per
# connection; Spark's equivalent is an auto-broadcast dim join).
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # events.ts is written as parquet TIMESTAMP(NANOS); a session without
    # legacy.parquet.nanosAsLong throws PARQUET_TYPE_ILLEGAL at the scan.
    # The conf is runtime-settable, so set it here rather than relying on
    # our own session factory — callers (the driver harness) bring their
    # own SparkSession. Set-if-unset: per-call session mutation in the
    # hot path is avoidable noise.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts is parquet TIMESTAMP(NANOS) which Spark reads as long
    # (nanosAsLong, session.py); truncate to micros — same thing DuckDB's
    # micro-resolution timestamps do, so both engines see identical values.
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        # integer division — `/` would go through double and lose the
        # low microsecond digits at 1.7e18-nanosecond magnitudes
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def split_for_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """The input-split guard, the one copy of this rule: when the scan
    has fewer files than the session's default parallelism, one
    round-robin exchange spreads its rows over that many tasks. The
    test-scale lake stores each table as one parquet file with one row
    group, which pins every row-local stage (md5 gram hashing,
    tokenizing, regex) to a single task. At 100 TB inputs come
    pre-split and the guard is a no-op; inputFiles() is metadata-only.

    A query calls it only where an interleaved A/B at sf0.1 on
    local[4] showed the guard winning (rows identical); where it tied
    or lost, the query loads plainly. CHANGES.md has the per-site
    table."""
    want = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < want:
        return df.repartition(want)
    return df


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> None:
    """Register the lake tables ``names`` (default: every table) that
    exist under ``sf_dir`` as temp views for the SQL surface."""
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_col: str,
    n_buckets: int = 64,
    sort: bool = True,
) -> None:
    """Persist a fact table bucketed (and sorted) by its join key.

    The 100 TB co-location story: two tables bucketed on the same key
    with the same bucket count join WITHOUT an exchange on either side
    — the shuffle is paid once at write time, then every protein_id /
    target_id join (ppi, lincs, gene_attribute, tinx_articlerank: the
    reference's 10M-80M-row tables, `doc/README_v6.txt:1510,1985`)
    reads co-located buckets. sortBy additionally enables sort-merge
    without a per-task sort. Plan-asserted in
    tests/test_plans.py::test_bucketed_join_has_no_exchange.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.format("parquet").saveAsTable(name)


def load_lake(spark: SparkSession, lake_dir: str) -> dict[str, DataFrame]:
    """Read every `<table>.parquet` in a TCRD lake directory into the
    dict[str, DataFrame] shape the api/etl layers take — the Spark
    counterpart of DBAdaptor.__init__'s connection (`loaders/TCRD.py:
    32-95`); the reference's cached type dictionaries need no
    equivalent because dim tables broadcast per-plan."""
    out: dict[str, DataFrame] = {}
    for fn in sorted(os.listdir(lake_dir)):
        if fn.endswith(".parquet"):
            out[fn[: -len(".parquet")]] = spark.read.parquet(
                os.path.join(lake_dir, fn)
            )
    return out


def compact_table(
    spark: SparkSession,
    path: str,
    partition_col: str | None = None,
    target_bytes_per_file: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Small-file compaction for a parquet table (optionally
    hive-partitioned by `partition_col`): rewrite to
    ⌈bytes/target⌉ files (per partition when partitioned), preserving
    data, schema, and partition layout.

    Streaming sinks are the canonical producer of the problem —
    `stream_ivf_append` lands one file per micro-batch per cell, and
    at 100 TB a scan's task count (and the namenode/listing load) is
    file-count-bound, so periodic compaction is part of the index's
    maintenance loop, not an afterthought. The rewrite stages into a
    sibling `<path>.__compact__` directory and swaps via two renames —
    the table is never half-written in place (readers racing the swap
    on an object store should read through a catalog/manifest; the
    swap is atomic on HDFS/POSIX renames).

    Returns {"files_before": n, "files_after": m}.
    """
    import glob
    import shutil

    def _count_files(p: str) -> int:
        return sum(
            1
            for f in glob.glob(os.path.join(p, "**", "*.parquet"),
                               recursive=True)
            if not os.path.basename(f).startswith("_")
        )

    def _bytes(p: str) -> int:
        return sum(
            os.path.getsize(f)
            for f in glob.glob(os.path.join(p, "**", "*.parquet"),
                               recursive=True)
        )

    before = _count_files(path)
    total = max(1, _bytes(path))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".__compact__"
    old = path.rstrip("/") + ".__old__"
    if partition_col is None:
        n_files = max(1, -(-total // target_bytes_per_file))
        df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    else:
        # one write, partition-local file counts: repartition by the
        # partition column so each partition directory compacts to few
        # files without a global shuffle per partition
        n_files = max(1, -(-total // target_bytes_per_file))
        (
            df.repartition(n_files, partition_col)
            .write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(tmp)
        )
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return {"files_before": before, "files_after": _count_files(path)}
