"""Dataset publishing: sharded JSONL export with a checksummed
manifest, release gates, and distributed verification of a published
set.

The delivery step at the end of every training-data pipeline: the
curated corpus leaves the lake as N JSONL shards plus a _MANIFEST
recording, per shard, the byte length, row count, and sha256 — what a
training run (or a downstream team) uses to verify it received
exactly what was published, and what makes a re-export comparable
shard-by-shard. The reference's CSV exporters (`python/tcrd2csv.py`)
write bare files; the manifest and the gates are the parity+ part.

Release gates (refuse-before-staging, the commit-gate shape of
`snapshots._enforce_expectations`): `expectations` runs the one-pass
Deequ-style verdict suite (quality/expectations.py — including
`drift.psi_max`, so a drifted frame refuses to ship), and `k_anon`
runs the k-anonymity audit (quality/anonymity.py) and refuses when
any quasi-identifier class is below k. A refused export writes
NOTHING — no partial shard set ever exists for a consumer to find.

Spark-first mechanics, no driver-side data paths:

- rows are assigned to shards by a DETERMINISTIC key hash (pmod of
  xxhash64); the write `partitionBy("_shard")` gives an exact
  1:1 shard→directory mapping (hash-repartitioning N distinct shard
  ids into N partitions can collide, merging shards into one file and
  leaving others empty), and the preceding repartition on `_shard`
  puts each shard id in ONE task so each directory holds exactly one
  file; rows are sorted within the shard by the key — same input ⇒
  same shard MEMBERSHIP and same row ORDER, independent of cluster
  layout;
- checksums are computed DISTRIBUTEDLY by re-reading the written
  shards as `binaryFile` rows and hashing in executors (`sha2`) —
  the driver only assembles the (N-row) manifest JSON;
- `verify_export` re-hashes the same way and compares against the
  manifest: any corrupted, truncated, missing, or extra shard shows
  up as a named mismatch. An EMPTY export (zero rows) is a valid
  published set: an empty shard map that verifies clean.

100 TB shape: the export is one hash-repartition exchange + a
per-shard sort; the gates are one aggregation pass each; verification
reads each shard once, embarrassingly parallel. Shard count is the
parallelism knob — size shards to the consumer (a few hundred MB
each), not to the writer.

Reference parity: `python/tcrd2csv.py` (bare CSV export);
manifest/gates/verification are extensions.
"""

from __future__ import annotations

import glob as _glob
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_MANIFEST.json"
_SHARD_GLOB = "/_shard=*/part-*"


def _shard_label():
    """'.../_shard=3/part-...' → 'shard-00003' (stable across runs;
    part filenames carry a per-run uuid, the shard id does not)."""
    return F.format_string(
        "shard-%05d",
        F.regexp_extract(F.col("path"), r"_shard=(\d+)", 1).cast("int"),
    ).alias("shard")


def _enforce_gates(df: DataFrame, expectations, k_anon) -> None:
    """Refuse-before-staging: every verdict is NAMED in the error so
    the publisher knows exactly which gate blocked the release."""
    if expectations:
        from tcrd_spark.quality.expectations import audit_expectations

        _, detail = audit_expectations(df, expectations)
        if detail:
            raise ValueError(
                f"export refused — failed expectations: {detail}"
            )
    if k_anon:
        from tcrd_spark.quality.anonymity import k_anonymity_audit

        quasi_cols, k = k_anon
        risky = (
            k_anonymity_audit(df, quasi_cols, k)
            .where(F.col("at_risk") == 1)
            .agg(
                F.count(F.lit(1)).alias("classes"),
                F.coalesce(F.sum("class_size"), F.lit(0)).alias("rows"),
            )
            .head()
        )
        if risky.classes:
            raise ValueError(
                f"export refused — k-anonymity: {risky.classes} "
                f"quasi-identifier classes ({risky.rows} rows) below k={k}"
            )


def export_jsonl(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    key_col: str,
    n_shards: int = 8,
    expectations: list[dict] | None = None,
    k_anon: tuple[list, int] | None = None,
) -> dict:
    """Publish `df` as `n_shards` JSONL shards + manifest; returns the
    manifest dict. `expectations` (quality/expectations.py specs, incl.
    `drift.psi_max`) and `k_anon=(quasi_cols, k)` are release gates:
    any failure refuses the export before a byte is staged."""
    _enforce_gates(df, expectations, k_anon)
    shard = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards))
    (
        df.withColumn("_shard", shard)
        .repartition(n_shards, "_shard")  # each shard id in ONE task
        .sortWithinPartitions("_shard", key_col)
        .write.mode("overwrite")
        .partitionBy("_shard")  # exact 1:1 shard id → directory
        .json(out_dir)
    )
    shards: dict[str, dict] = {}
    if _glob.glob(out_dir + _SHARD_GLOB):  # empty frame ⇒ no part files
        # distributed shard accounting: bytes+sha in one binaryFile
        # pass, rows in one line-count pass — both executor-side
        files = (
            spark.read.format("binaryFile")
            .load(out_dir + _SHARD_GLOB)
            .select(
                _shard_label(),
                F.length("content").alias("bytes"),
                F.sha2("content", 256).alias("sha256"),
            )
        )
        rows = (
            spark.read.text(out_dir + _SHARD_GLOB)
            .select(
                F.col("value"),
                F.input_file_name().alias("path"),
            )
            .select(_shard_label())
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("rows"))
        )
        shards = {
            r.shard: {"bytes": r.bytes, "sha256": r.sha256, "rows": 0}
            for r in files.collect()
        }
        for r in rows.collect():
            shards[r.shard]["rows"] = r.rows
    manifest = {
        "format": "jsonl",
        "key_col": key_col,
        "n_shards_requested": n_shards,
        "total_rows": sum(s["rows"] for s in shards.values()),
        "shards": dict(sorted(shards.items())),
    }
    with open(os.path.join(out_dir, MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def verify_export(spark: SparkSession, out_dir: str) -> dict:
    """Re-hash every shard and compare with the manifest. Returns
    {ok, mismatched, missing, extra, rows_ok} — all named, nothing
    silently summarized away."""
    with open(os.path.join(out_dir, MANIFEST)) as f:
        manifest = json.load(f)
    # drop cached file statuses: a shard mutated since the last read
    # would otherwise surface as a length-mismatch read error (or a
    # stale clean verdict), not a named checksum mismatch
    spark.catalog.refreshByPath(out_dir)
    got: dict[str, tuple] = {}
    if _glob.glob(out_dir + _SHARD_GLOB):  # empty set ⇒ nothing to hash
        got = {
            r.shard: (r.bytes, r.sha256)
            for r in (
                spark.read.format("binaryFile")
                .load(out_dir + _SHARD_GLOB)
                .select(
                    _shard_label(),
                    F.length("content").alias("bytes"),
                    F.sha2("content", 256).alias("sha256"),
                )
                .collect()
            )
        }
    want = manifest["shards"]
    mismatched = sorted(
        s
        for s in set(got) & set(want)
        if (got[s][0], got[s][1]) != (want[s]["bytes"], want[s]["sha256"])
    )
    missing = sorted(set(want) - set(got))
    extra = sorted(set(got) - set(want))
    n_rows = spark.read.text(out_dir + _SHARD_GLOB).count() if got else 0
    rows_ok = n_rows == manifest["total_rows"]
    return {
        "ok": not (mismatched or missing or extra) and rows_ok,
        "mismatched": mismatched,
        "missing": missing,
        "extra": extra,
        "rows_ok": rows_ok,
    }
