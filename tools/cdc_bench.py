"""Measure the incremental-maintenance win: maintain a grouped
aggregate via the CDC feed vs recompute it from the full snapshot.

Builds a key-clustered versioned orders lake, commits a
copy-on-write merge (zone-map file planner) over a narrow key band (~0.5% of rows — the
realistic shape: a batch of late corrections over recent keys), then
times

  (a) incremental: agg(v1) is standing state (pre-computed, as it
      would be in production); measure delta_group_agg over
      read_changes(1, 2) + apply_delta — work ∝ touched files;
  (b) full refresh: group_agg(read_version(2)) — work ∝ table.

Usage: python tools/cdc_bench.py [sf_dir] [reps]
Writes nothing; prints a table for SCALE.md.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pyspark.sql import functions as F

    from tcrd_spark.session import get_spark
    from tcrd_spark.sources import incremental as inc
    from tcrd_spark.sources import snapshots as snap
    from tcrd_spark.sources.lake import load_table

    spark = get_spark()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    n = orders.count()
    table = os.path.join(tempfile.mkdtemp(prefix="cdc_bench_"), "t")
    snap.create_table(
        orders.repartitionByRange(16, "o_orderkey"), table,
        "o_orderstatus",
    )
    lo = n // 2
    src = orders.where(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < lo + n // 200)
    ).withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    n_src = src.count()
    snap.merge_version(spark, table, src, ["o_orderkey"])
    d = snap.manifest_diff(table, 1, 2)
    m2 = snap._read_manifest(table, 2)
    touched = len(d["added"]) + len(d["removed"])

    # standing state, as production would already hold it
    state = inc.group_agg(
        snap.read_version(spark, table, 1),
        "o_orderpriority", "o_totalprice",
    ).cache()
    state.count()

    def timed(fn):
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return best

    def incremental():
        delta = inc.delta_group_agg(
            snap.read_changes(spark, table, 1, 2, ["o_orderkey"]),
            "o_orderpriority", "o_totalprice",
        )
        inc.apply_delta(state, delta, "o_orderpriority").collect()

    def full():
        inc.group_agg(
            snap.read_version(spark, table, 2),
            "o_orderpriority", "o_totalprice",
        ).collect()

    t_full = timed(full)
    t_inc = timed(incremental)

    # data-proportional cost (what dominates at 100 TB, where the
    # scan term dwarfs the fixed per-job overhead that floors local
    # wall times): rows/bytes the CDC feed opens vs the full snapshot
    import pyarrow.parquet as pq

    def _cost(files):
        rows = bs = 0
        for f in files:
            p = os.path.join(table, "data", f)
            rows += pq.ParquetFile(p).metadata.num_rows
            bs += os.path.getsize(p)
        return rows, bs

    inc_rows, inc_bytes = _cost(d["added"] + d["removed"])
    full_rows, full_bytes = _cost(m2["files"])
    print(
        f"rows={n} changed_rows={n_src} "
        f"files_total={len(m2['files'])} files_touched={touched} "
        f"scan_rows: incremental={inc_rows} full={full_rows} "
        f"({100 * inc_rows / full_rows:.1f}%) "
        f"scan_bytes: incremental={inc_bytes} full={full_bytes} "
        f"({100 * inc_bytes / full_bytes:.1f}%) "
        f"wall: incremental={t_inc:.2f}s full_refresh={t_full:.2f}s"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
