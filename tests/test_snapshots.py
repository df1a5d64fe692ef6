"""Versioned-manifest time travel (sources/snapshots.py): the
write-v1 → merge → read-v1-byte-identical contract, copy-on-write
file sharing, provenance accounting, and retention GC."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tcrd_spark.sources import metastore
from tcrd_spark.sources import snapshots as snap


def _orders(spark, sf_dir):
    from tcrd_spark.sources.lake import load_table

    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_read_v1_is_byte_identical_after_merge(spark, sf_dir, tmp_path):
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    v1_rows = _rows(orders)
    assert snap.create_table(orders, table, "o_orderstatus") == 1

    updates = orders.where("o_orderkey % 17 = 0").select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") + 100.0, 2).alias("o_totalprice"),
    )
    assert snap.merge_version(spark, table, updates, ["o_orderkey"]) == 2

    # v1 re-reads exactly the pre-merge state; latest shows the merge
    assert _rows(snap.read_version(spark, table, 1)) == v1_rows
    from tcrd_spark.sources.merge import merge_frames

    want = _rows(merge_frames(orders, updates, ["o_orderkey"]))
    assert _rows(snap.read_version(spark, table)) == want
    assert snap.versions(table) == [1, 2]


def test_copy_on_write_shares_untouched_partition_files(
    spark, sf_dir, tmp_path
):
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    # source touches only one partition ('F') — every other
    # partition's files must carry forward BY REFERENCE, untouched
    src = orders.where("o_orderstatus = 'F' and o_orderkey % 5 = 0")
    before = {
        f: os.path.getmtime(os.path.join(table, "data", f))
        for f in snap._read_manifest(table, 1)["files"]
    }
    snap.merge_version(spark, table, src, ["o_orderkey"])
    d = snap.manifest_diff(table, 1, 2)
    assert d["carried"], "untouched partitions must be shared"
    assert all("o_orderstatus=F" not in f for f in d["carried"])
    assert all("o_orderstatus=F" in f for f in d["removed"])
    for f, mt in before.items():
        assert os.path.getmtime(os.path.join(table, "data", f)) == mt
    # provenance accounts every file of v2
    m2 = set(snap._read_manifest(table, 2)["files"])
    assert m2 == set(d["carried"]) | set(d["added"])


def test_merge_into_new_partition_inserts(spark, sf_dir, tmp_path):
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    novel = spark.createDataFrame(
        [(999_999_001, "Z", 1.0), (999_999_002, "Z", 2.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    snap.merge_version(spark, table, novel, ["o_orderkey"])
    latest = snap.read_version(spark, table)
    assert latest.where("o_orderstatus = 'Z'").count() == 2
    assert latest.count() == orders.count() + 2


def test_vacuum_never_touches_retained_versions(spark, sf_dir, tmp_path):
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    for i in (17, 19, 23):
        src = orders.where(f"o_orderkey % {i} = 0").select(
            "o_orderkey", "o_orderstatus",
            F.round(F.col("o_totalprice") + float(i), 2).alias(
                "o_totalprice"
            ),
        )
        snap.merge_version(spark, table, src, ["o_orderkey"])
    keep_last2 = _rows(snap.read_version(spark, table, 3))
    latest = _rows(snap.read_version(spark, table, 4))
    removed = snap.vacuum(table, keep_versions=2)
    assert snap.versions(table) == [3, 4]
    # retained versions still read exactly as before the GC
    assert _rows(snap.read_version(spark, table, 3)) == keep_last2
    assert _rows(snap.read_version(spark, table, 4)) == latest
    # GC'd files are really gone and were never referenced by 3 or 4
    live = set(snap._read_manifest(table, 3)["files"]) | set(
        snap._read_manifest(table, 4)["files"]
    )
    assert not set(removed) & live


def test_concurrent_commit_of_same_version_fails_loudly(
    spark, sf_dir, tmp_path
):
    import pytest

    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    with pytest.raises(FileExistsError, match="already committed"):
        snap._commit(
            table,
            {"version": 1, "parent": None, "op": "create",
             "part_col": "o_orderstatus", "files": []},
        )


def test_append_version_carries_files_and_respects_txn_id(
    spark, sf_dir, tmp_path
):
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    extra = spark.createDataFrame(
        [(900_000_001, "O", 5.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    v = snap.append_version(table, extra, txn_id=42)
    assert v == 2
    assert snap.read_version(spark, table).count() == orders.count() + 1
    # every v1 file carried forward by reference
    d = snap.manifest_diff(table, 1, 2)
    assert not d["removed"] and d["added"]
    # replaying the same txn is a committed no-op
    assert snap.append_version(table, extra, txn_id=42) is None
    assert snap.versions(table) == [1, 2]
    assert snap.read_version(spark, table).count() == orders.count() + 1


def test_streaming_snapshot_append_is_exactly_once(
    spark, sf_dir, tmp_path
):
    """Chunked stream -> one snapshot per micro-batch; a restart that
    replays from the checkpoint never duplicates rows, and every
    micro-batch boundary stays time-travelable."""
    import json as _json
    import os as _os

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    table = str(tmp_path / "t")
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    seed = spark.createDataFrame(
        [(0, "O", 0.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    snap.create_table(seed, table, "o_orderstatus")

    rows = [
        {"o_orderkey": 100 + i, "o_orderstatus": "NF"[i % 2],
         "o_totalprice": float(i)}
        for i in range(12)
    ]

    def write_chunk(name, chunk):
        p = _os.path.join(str(src), f"{name}.json")
        with open(p + ".tmp", "w") as f:
            for r in chunk:
                f.write(_json.dumps(r) + "\n")
        _os.rename(p + ".tmp", p)

    schema = StructType([
        StructField("o_orderkey", LongType()),
        StructField("o_orderstatus", StringType()),
        StructField("o_totalprice", DoubleType()),
    ])

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        return snap.streaming_snapshot_append(stream, table, ckpt)

    write_chunk("chunk_a", rows[:4])
    write_chunk("chunk_b", rows[4:8])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    mid_versions = snap.versions(table)

    # restart from the checkpoint with one more chunk: already-
    # committed batches must not replay into duplicates
    write_chunk("chunk_c", rows[8:])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    latest = snap.read_version(spark, table)
    assert latest.count() == 1 + len(rows)  # seed + every row ONCE
    got = sorted(
        r.o_orderkey for r in latest.collect() if r.o_orderkey >= 100
    )
    assert got == sorted(r["o_orderkey"] for r in rows)
    # each earlier version is still a readable point-in-time snapshot
    for v in mid_versions:
        assert snap.read_version(spark, table, v).count() <= 1 + len(rows)
    counts = [
        snap.read_version(spark, table, v).count()
        for v in snap.versions(table)
    ]
    assert counts == sorted(counts)


def test_two_streams_into_one_table_keep_both(spark, tmp_path):
    """Two streams with their own checkpoints append into one table:
    each stream's batch 0 commits under its own txn id, so neither
    stream's batches are mistaken for the other's replays."""
    import json as _json

    table = str(tmp_path / "t")
    snap.create_table(
        spark.createDataFrame([(0, "a")], "k long, g string"), table, "g"
    )

    def run(name, keys):
        src = tmp_path / f"src_{name}"
        src.mkdir()
        with open(src / "chunk.json", "w") as f:
            for k in keys:
                f.write(_json.dumps({"k": k, "g": "a"}) + "\n")
        stream = spark.readStream.schema("k long, g string").json(str(src))
        q = snap.streaming_snapshot_append(
            stream, table, str(tmp_path / f"ckpt_{name}")
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run("a", [1, 2, 3])
    run("b", [4, 5, 6])
    got = sorted(r.k for r in snap.read_version(spark, table).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6]
    assert snap.versions(table) == [1, 2, 3]


def test_optimize_compacts_without_breaking_time_travel(
    spark, sf_dir, tmp_path
):
    """OPTIMIZE as a commit: many small appended files compact into
    few, rows bit-identical, prior versions untouched, and vacuum
    then reclaims the small files."""
    table = str(tmp_path / "t")
    seed = spark.createDataFrame(
        [(0, "O", 0.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    snap.create_table(seed, table, "o_orderstatus")
    for b in range(5):  # streaming-shaped small appends
        snap.append_version(
            table,
            spark.createDataFrame(
                [(100 + b * 2 + j, "NO"[j], float(b)) for j in (0, 1)],
                "o_orderkey long, o_orderstatus string, o_totalprice double",
            ),
            txn_id=b,
        )
    pre_v = snap.versions(table)[-1]
    pre_rows = _rows(snap.read_version(spark, table, pre_v))
    pre_files = len(snap._read_manifest(table, pre_v)["files"])

    v = snap.optimize_version(spark, table)
    m = snap._read_manifest(table, v)
    assert m["op"] == "optimize"
    assert len(m["files"]) < pre_files
    assert _rows(snap.read_version(spark, table, v)) == pre_rows
    # the pre-optimize version still reads its original files
    assert _rows(snap.read_version(spark, table, pre_v)) == pre_rows
    # retention GC now reclaims the superseded small files
    removed = snap.vacuum(table, keep_versions=1)
    assert removed, "small files should be reclaimable after optimize"
    assert _rows(snap.read_version(spark, table, v)) == pre_rows


# ---------------------------------------------------------- CDC feed


def test_read_changes_classifies_insert_update_delete(
    spark, sf_dir, tmp_path
):
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(
        orders.where("o_orderkey % 7 != 0"), table, "o_orderstatus"
    )
    src = orders.where("o_orderkey % 3 = 0").select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") + 100.0, 2).alias("o_totalprice"),
    )
    snap.merge_version(
        spark, table, src, ["o_orderkey"],
        delete_condition="s.o_orderstatus = 'F'",
    )
    feed = snap.read_changes(spark, table, 1, 2, ["o_orderkey"])
    got = {
        t: {r["o_orderkey"] for r in rows}
        for t, rows in __import__("itertools").groupby(
            sorted(feed.collect(), key=lambda r: r["change_type"]),
            key=lambda r: r["change_type"],
        )
    }
    base = {r["o_orderkey"]: r for r in orders.collect()}
    in_v1 = {k for k in base if k % 7 != 0}
    in_src = {k for k in base if k % 3 == 0}
    want_ins = in_src - in_v1
    want_del = {k for k in in_src & in_v1
                if base[k]["o_orderstatus"] == "F"}
    want_upd = (in_src & in_v1) - want_del
    assert got["insert"] == want_ins
    assert got["delete"] == want_del
    assert got["update_pre"] == want_upd
    assert got["update_post"] == want_upd
    # pre carries v1 values, post carries source values
    pre = {r["o_orderkey"]: r["o_totalprice"]
           for r in feed.where("change_type = 'update_pre'").collect()}
    post = {r["o_orderkey"]: r["o_totalprice"]
            for r in feed.where("change_type = 'update_post'").collect()}
    for k in list(want_upd)[:20]:
        assert abs(post[k] - pre[k] - 100.0) < 1e-6


def test_read_changes_empty_for_optimize_and_spans_commits(
    spark, sf_dir, tmp_path
):
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    # optimize rewrites EVERY file but changes no row: empty feed
    snap.optimize_version(spark, table)
    assert snap.read_changes(spark, table, 1, 2, ["o_orderkey"]).count() == 0
    # an append after the optimize: the 1→3 span reports exactly the
    # appended rows as inserts (carried files never scanned, but the
    # optimize's rewrites cancel row-wise)
    extra = orders.limit(5).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    )
    snap.append_version(table, extra)
    feed = snap.read_changes(spark, table, 1, 3, ["o_orderkey"])
    rows = feed.collect()
    assert {r["change_type"] for r in rows} == {"insert"}
    assert {r["o_orderkey"] for r in rows} == {
        r["o_orderkey"] for r in extra.collect()
    }


def test_read_changes_scans_only_touched_files(spark, sf_dir, tmp_path):
    """CDC cost ∝ change: the diff between consecutive merge commits
    never references files of untouched partitions."""
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    src = orders.where(
        "o_orderstatus = 'F' and o_orderkey % 11 = 0"
    ).select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") + 1.0, 2).alias("o_totalprice"),
    )
    snap.merge_version(spark, table, src, ["o_orderkey"])
    d = snap.manifest_diff(table, 1, 2)
    touched = {snap._partition_of(f) for f in d["added"] + d["removed"]}
    assert touched == {"o_orderstatus=F"}
    feed = snap.read_changes(spark, table, 1, 2, ["o_orderkey"])
    ks = {r["o_orderkey"] for r in feed.collect()}
    assert ks == {r["o_orderkey"] for r in src.collect()}


# --------------------------------------------------- data skipping


def test_zone_map_pruning_skips_files_and_matches_full_scan(
    spark, sf_dir, tmp_path
):
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    # range-cluster by key before the write: each task's files cover a
    # disjoint key range, so the footer zone maps are tight — the
    # layout sources/zorder.py produces for real tables
    snap.create_table(
        orders.repartitionByRange(8, "o_orderkey"), table, "o_orderstatus"
    )
    n = orders.count()
    lo, hi = n // 4, n // 4 + n // 10
    kept, total = snap.plan_files(table, 1, "o_orderkey", lo, hi)
    assert total > 8
    assert 0 < len(kept) < total / 2  # most files skipped
    got = _rows(snap.read_version_pruned(spark, table, "o_orderkey", lo, hi))
    want = _rows(
        snap.read_version(spark, table, 1).where(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi)
        )
    )
    assert got == want and got


def test_zone_maps_carry_through_commits(spark, sf_dir, tmp_path):
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(
        orders.repartitionByRange(8, "o_orderkey"), table, "o_orderstatus"
    )
    src = orders.where("o_orderstatus = 'F' and o_orderkey % 9 = 0").select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") + 5.0, 2).alias("o_totalprice"),
    )
    snap.merge_version(spark, table, src, ["o_orderkey"])
    m = snap._read_manifest(table, 2)
    # every live file (carried AND rewritten) still has zone maps
    assert set(m["stats"]) == set(m["files"])
    assert all("o_orderkey" in s for s in m["stats"].values())
    lo, hi = 1, 50
    got = _rows(snap.read_version_pruned(spark, table, "o_orderkey", lo, hi, 2))
    want = _rows(
        snap.read_version(spark, table, 2).where(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi)
        )
    )
    assert got == want


def test_pruned_read_empty_range_returns_no_rows(spark, sf_dir, tmp_path):
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    df = snap.read_version_pruned(
        spark, table, "o_orderkey", 10**12, 10**12 + 5
    )
    assert df.count() == 0


def test_decimal_column_commits_without_zone_map(spark, tmp_path):
    """Spark stores decimal(<=18) as INT64, whose footer min/max pyarrow
    cannot extract: the column is left out of the zone maps (must
    scan) instead of failing the commit, and a filtered read returns
    exactly the filtered rows."""
    from decimal import Decimal

    table = str(tmp_path / "t")
    rows = [(i, i % 3, Decimal(i * 7919 % 10007) / 16) for i in range(60)]
    df = spark.createDataFrame(
        rows, "id long, part int, amount decimal(12,4)"
    )
    assert snap.create_table(df, table, "part") == 1
    m = snap._read_manifest(table, 1)
    assert all("amount" not in s and "id" in s for s in m["stats"].values())
    cut = Decimal(300)
    got = _rows(snap.read_version(spark, table, 1).where(F.col("amount") > cut))
    assert got == sorted((i, p, a) for i, p, a in rows if a > cut)
    assert got


# ----------------------------------------------- schema evolution


def test_additive_schema_evolution(spark, sf_dir, tmp_path):
    import pytest

    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    evolved = orders.limit(3).select(
        (F.col("o_orderkey") + 10**9).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
        F.lit("round8").alias("batch_tag"),
    )
    # unflagged evolution is refused loudly
    with pytest.raises(ValueError, match="merge_schema"):
        snap.append_version(table, evolved)
    v = snap.append_version(table, evolved, merge_schema=True)
    latest = snap.read_version(spark, table, v)
    assert latest.columns[-1] == "batch_tag"
    tags = {
        r["batch_tag"]
        for r in latest.where("o_orderkey >= 1000000000").collect()
    }
    assert tags == {"round8"}
    # pre-evolution rows surface NULL in the new column
    assert (
        latest.where("o_orderkey < 1000000000")
        .where(F.col("batch_tag").isNotNull()).count() == 0
    )
    # the pre-evolution snapshot is untouched: still three columns
    assert snap.read_version(spark, table, 1).columns == [
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ]
    # CDC across an evolution boundary refuses (stable-schema contract)
    with pytest.raises(ValueError, match="stable schema"):
        snap.read_changes(spark, table, 1, v, ["o_orderkey"])


def test_evolved_column_in_pruned_read_and_merge(spark, sf_dir, tmp_path):
    """After additive evolution, a pruned read whose range only
    pre-evolution files hold still types the new column (NULL), and a
    MERGE whose batch carries the column commits and reads back."""
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    evolved = orders.limit(3).select(
        (F.col("o_orderkey") + 10**9).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
        F.lit("round8").alias("batch_tag"),
    )
    v = snap.append_version(table, evolved, merge_schema=True)
    got = snap.read_version_pruned(spark, table, "o_orderkey", 1, 200, v)
    want = snap.read_version(spark, table, v).where(
        "o_orderkey BETWEEN 1 AND 200"
    )
    assert got.columns == want.columns
    assert _rows(got) == _rows(want) and _rows(got)
    assert got.where(F.col("batch_tag").isNotNull()).count() == 0
    batch = orders.where("o_orderkey % 17 = 0").select(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        F.lit("fix").alias("batch_tag"),
    )
    v2 = snap.merge_version(spark, table, batch, ["o_orderkey"])
    latest = snap.read_version(spark, table, v2)
    assert latest.count() == orders.count() + 3
    assert _rows(latest.where("batch_tag = 'fix'")) == _rows(batch)


def test_append_missing_column_is_refused(spark, sf_dir, tmp_path):
    import pytest

    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    with pytest.raises(ValueError, match="missing table columns"):
        snap.append_version(
            table, orders.limit(1).drop("o_totalprice")
        )


def test_optimize_zorder_makes_zone_maps_selective(
    spark, sf_dir, tmp_path
):
    """OPTIMIZE ZORDER: after a clustered compaction commit, the
    zone maps prune a narrow key-range predicate that the unclustered
    layout could not — same rows, new layout, prior version intact."""
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    # deliberately scatter keys across files
    snap.create_table(
        orders.repartition(12, "o_totalprice"), table, "o_orderstatus"
    )
    n = orders.count()
    lo, hi = n // 3, n // 3 + n // 20
    kept_before, total_before = snap.plan_files(
        table, 1, "o_orderkey", lo, hi
    )
    assert len(kept_before) > total_before * 0.8  # no pruning possible

    v = snap.optimize_version(
        spark, table, cluster_by=["o_orderkey", "o_totalprice"]
    )
    kept_after, total_after = snap.plan_files(
        table, v, "o_orderkey", lo, hi
    )
    assert len(kept_after) < total_after / 2, (
        len(kept_after), total_after
    )
    # data unchanged; pruned read equals unpruned filter; v1 intact
    got = _rows(
        snap.read_version_pruned(spark, table, "o_orderkey", lo, hi, v)
    )
    want = _rows(
        snap.read_version(spark, table, 1).where(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi)
        )
    )
    assert got == want
    assert _rows(snap.read_version(spark, table, v)) == _rows(orders)


# ------------------------------- time travel by time + commit gates


def test_read_as_of_timestamp(spark, sf_dir, tmp_path):
    import pytest

    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    t1 = snap._read_manifest(table, 1)["ts"]
    src = orders.limit(5).select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") + 9.0, 2).alias("o_totalprice"),
    )
    snap.merge_version(spark, table, src, ["o_orderkey"])
    # pin deterministic, strictly-ordered commit times
    import json as _json

    m2p = snap._manifest_path(table, 2)
    m2 = snap._read_manifest(table, 2)
    m2["ts"] = t1 + 100.0
    with open(m2p, "w") as f:
        _json.dump(m2, f)

    assert snap.version_as_of(table, t1) == 1
    assert snap.version_as_of(table, t1 + 50) == 1
    assert snap.version_as_of(table, t1 + 100) == 2
    assert snap.version_as_of(table, t1 + 1e6) == 2
    with pytest.raises(ValueError, match="no version"):
        snap.version_as_of(table, t1 - 1)
    assert _rows(snap.read_as_of(spark, table, t1 + 50)) == _rows(
        snap.read_version(spark, table, 1)
    )


def test_commit_time_expectations_gate(spark, sf_dir, tmp_path):
    import pytest

    from tcrd_spark.quality import expectations as dq

    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    suite = [
        dq.completeness("o_totalprice"),
        dq.min_value("o_totalprice", 0.0),
    ]
    bad = orders.limit(4).withColumn(
        "o_totalprice", F.lit(-1.0)
    ).withColumn("o_orderkey", F.col("o_orderkey") + 10**9)
    before = snap.versions(table)
    with pytest.raises(ValueError, match="failed expectations: min_"):
        snap.append_version(table, bad, expectations=suite)
    with pytest.raises(ValueError, match="failed expectations"):
        snap.merge_version(
            spark, table, bad, ["o_orderkey"], expectations=suite
        )
    # a refused commit never stages a byte: version list unchanged
    assert snap.versions(table) == before
    good = orders.limit(4).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10**9
    )
    assert snap.append_version(table, good, expectations=suite) == 2


def test_merge_rewrites_only_intersecting_files(spark, sf_dir, tmp_path):
    """Delta-shape MERGE: with a key-clustered layout, a narrow-key
    source rewrites a handful of files — and the result equals the
    full merge_frames answer exactly."""
    from tcrd_spark.sources.merge import merge_frames

    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(
        orders.repartitionByRange(12, "o_orderkey"), table,
        "o_orderstatus",
    )
    n = orders.count()
    lo = n // 2
    src = orders.where(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < lo + n // 20)
    ).select(
        "o_orderkey", "o_orderstatus",
        F.round(F.col("o_totalprice") + 3.0, 2).alias("o_totalprice"),
    )
    v = snap.merge_version(spark, table, src, ["o_orderkey"])
    d = snap.manifest_diff(table, 1, v)
    total = len(snap._read_manifest(table, 1)["files"])
    assert 0 < len(d["removed"]) <= total // 3, (len(d["removed"]), total)
    got = _rows(snap.read_version(spark, table, v))
    want = _rows(merge_frames(orders, src, ["o_orderkey"]))
    assert got == want
    # CDC over the commit reports exactly the source keys
    feed = snap.read_changes(spark, table, 1, v, ["o_orderkey"])
    ks = {r["o_orderkey"] for r in feed.collect()}
    assert ks == {r["o_orderkey"] for r in src.collect()}


def test_merge_inserts_new_keys(spark, sf_dir, tmp_path):
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(
        orders.repartitionByRange(6, "o_orderkey"), table, "o_orderstatus"
    )
    novel = spark.createDataFrame(
        [(10**10 + 1, "O", 1.0), (10**10 + 2, "Z", 2.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    v = snap.merge_version(spark, table, novel, ["o_orderkey"])
    latest = snap.read_version(spark, table, v)
    assert latest.count() == orders.count() + 2
    assert latest.where("o_orderstatus = 'Z'").count() == 1


def test_merge_insert_only_batch_rewrites_no_file(spark, sf_dir, tmp_path):
    """An insert-only batch whose keys lie above every file's zone map
    carries every file forward, in every partition it spans."""
    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    top = orders.agg(F.max("o_orderkey")).head()[0]
    batch = orders.where("o_orderkey % 50 = 1").select(
        (F.col("o_orderkey") + top).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    )
    assert batch.select("o_orderstatus").distinct().count() > 1
    v = snap.merge_version(spark, table, batch, ["o_orderkey"])
    assert snap.manifest_diff(table, 1, v)["removed"] == []
    assert _rows(snap.read_version(spark, table, v)) == _rows(
        orders.unionByName(batch)
    )


def test_merge_granularity_is_partition_or_dv(spark, sf_dir, tmp_path):
    import pytest

    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    with pytest.raises(ValueError, match="granularity"):
        snap.merge_version(
            spark, table, orders.limit(1), ["o_orderkey"], granularity="file"
        )
    assert snap.versions(table) == [1]


def test_concurrent_appends_both_land(spark, sf_dir, tmp_path):
    """Optimistic concurrency: two appends racing for the same
    version both commit (the loser rebases its manifest CAS on the
    winner); every row lands exactly once across two new versions."""
    import threading

    table = str(tmp_path / "t")
    orders = _orders(spark, sf_dir)
    snap.create_table(orders, table, "o_orderstatus")
    a = orders.limit(4).select(
        (F.col("o_orderkey") + 10**9).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    ).collect()
    b = orders.limit(4).select(
        (F.col("o_orderkey") + 2 * 10**9).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    ).collect()
    dfa = spark.createDataFrame(a, orders.schema)
    dfb = spark.createDataFrame(b, orders.schema)

    # force the race: stage both, then commit through a barrier
    results, errs = [], []
    barrier = threading.Barrier(2)

    def appender(df):
        try:
            barrier.wait(timeout=60)
            results.append(snap.append_version(table, df))
        except Exception as e:  # noqa: BLE001 — surface in the assert
            errs.append(e)

    t1 = threading.Thread(target=appender, args=(dfa,))
    t2 = threading.Thread(target=appender, args=(dfb,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    assert sorted(results) == [2, 3]
    latest = snap.read_version(spark, table)
    assert latest.count() == orders.count() + 8
    ks = {r["o_orderkey"] for r in latest.collect()}
    for r in a + b:
        assert r["o_orderkey"] in ks


def test_append_refuses_a_concurrent_repartition(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A blind append conflicts with a concurrent change to the
    table's metadata: an append whose files were staged under one
    partition spec, racing a `repartition_table` that lands before
    its commit, raises instead of publishing files of the old layout
    under the new spec — and the head still reads."""
    import pytest

    table = str(tmp_path / "t")
    seed = _orders(spark, sf_dir).limit(20).withColumn(
        "bucket", F.col("o_orderkey") % 3
    )
    snap.create_table(seed, table, "o_orderstatus")
    batch = seed.limit(3).withColumn(
        "o_orderkey", F.col("o_orderkey") + 10**9
    )

    real = snap._stage_files
    raced = []

    def stage_then_repartition(*args, **kwargs):
        out = real(*args, **kwargs)
        if not raced:  # the repartition stages through here too
            raced.append("staged")
            raced.append(snap.repartition_table(spark, table, "bucket"))
        return out

    monkeypatch.setattr(snap, "_stage_files", stage_then_repartition)
    with pytest.raises(ValueError, match="partition spec changed"):
        snap.append_version(table, batch)
    monkeypatch.undo()
    assert raced == ["staged", 2] and snap.versions(table) == [1, 2]
    assert _rows(snap.read_version(spark, table)) == _rows(seed)


def test_torn_fallback_manifest_is_repaired(spark, sf_dir, tmp_path):
    """ADVICE r9: a writer that died mid-write on the link(2)-less
    fallback path leaves a torn manifest + stale .wip marker. The
    slot must self-repair — the next reader reports the version
    absent (not JSONDecodeError forever) and the next writer CAS
    succeeds — instead of the version being poisoned permanently."""
    import json
    import os

    import pytest

    from tcrd_spark.sources.lake import load_table

    table = str(tmp_path / "t")
    seed = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).limit(20)
    snap.create_table(seed, table, "o_orderstatus")

    # simulate the dead fallback writer: torn JSON + stale marker
    final = snap._manifest_path(table, 2)
    with open(final, "w") as f:
        f.write('{"version": 2, "files": ["trunc')  # torn
    wip = final + ".wip"
    with open(wip, "w") as f:
        pass
    old = os.path.getmtime(wip) - metastore._WIP_TIMEOUT - 5
    os.utime(wip, (old, old))

    with pytest.raises(FileNotFoundError, match="aborted commit"):
        snap._read_manifest(table, 2)
    assert not os.path.exists(final) and not os.path.exists(wip)
    # the slot is free again: a normal append takes version 2
    snap.append_version(table, seed.limit(3).select(
        (F.col("o_orderkey") + 10**9).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    ))
    assert snap.versions(table) == [1, 2]
    assert snap._read_manifest(table, 2)["op"] == "append"

    # a FRESH marker (writer possibly alive) is left alone
    with open(snap._manifest_path(table, 3), "w") as f:
        f.write('{"torn')
    with open(snap._manifest_path(table, 3) + ".wip", "w"):
        pass
    with pytest.raises(json.JSONDecodeError):
        snap._read_manifest(table, 3)
    assert os.path.exists(snap._manifest_path(table, 3))


def test_stale_marker_with_complete_manifest_stands(
    spark, sf_dir, tmp_path
):
    """A writer that died AFTER finishing the write but before
    dropping its marker: the commit stands; a competing writer gets
    the normal CAS conflict and the marker is swept."""
    import os

    import pytest

    from tcrd_spark.sources.lake import load_table

    table = str(tmp_path / "t")
    seed = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).limit(20)
    snap.create_table(seed, table, "o_orderstatus")
    final = snap._manifest_path(table, 1)
    wip = final + ".wip"
    with open(wip, "w"):
        pass
    old = os.path.getmtime(wip) - metastore._WIP_TIMEOUT - 5
    os.utime(wip, (old, old))
    with pytest.raises(FileExistsError):
        metastore._fallback_publish(final, {"version": 1}, "taken")
    assert not os.path.exists(wip)  # orphan marker swept
    assert snap._read_manifest(table, 1)["op"] == "create"


def test_restore_rolls_back_history_preserving(spark, sf_dir, tmp_path):
    """Delta RESTORE parity: a bad delete rolls back by COMMITTING the
    old snapshot as the new head — prior versions stay readable, no
    bytes move, CDC across the restore shows exactly the re-inserted
    rows, and a vacuumed target refuses with the missing files."""
    import pytest

    from tcrd_spark.sources.lake import load_table

    table = str(tmp_path / "t")
    seed = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).orderBy("o_orderkey").limit(30)
    snap.create_table(seed, table, "o_orderstatus")          # v1
    _, n_del = snap.delete_version(spark, table, "o_orderkey % 2 = 0")
    assert n_del > 0                                          # v2
    v = snap.restore_version(table, 1)                        # v3
    assert v == 3 and snap.versions(table) == [1, 2, 3]
    assert snap.read_version(spark, table).count() == seed.count()
    # audit trail intact: the bad version still reads
    assert snap.read_version(spark, table, 2).count() == (
        seed.count() - n_del
    )
    # CDC across the restore = the deleted rows coming back
    feed = snap.read_changes(spark, table, 2, 3, ["o_orderkey"])
    assert feed.count() == n_del
    assert {r.change_type for r in feed.collect()} == {"insert"}
    m = snap._read_manifest(table, 3)
    assert m["op"] == "restore" and m["restored_from"] == 1
    # a target whose files are gone (externally GC'd) refuses loudly
    v2_only = set(snap._read_manifest(table, 2)["files"]) - set(
        snap._read_manifest(table, 3)["files"]
    )
    if v2_only:
        os.remove(os.path.join(snap._data_dir(table), sorted(v2_only)[0]))
        with pytest.raises(FileNotFoundError, match="vacuumed"):
            snap.restore_version(table, 2)
    # a fully vacuumed version is simply absent
    snap.vacuum(table, keep_versions=1)
    with pytest.raises(FileNotFoundError, match="no version"):
        snap.restore_version(table, 2)


def test_metadata_tables(spark, sf_dir, tmp_path):
    """history_df / files_df: the DESCRIBE HISTORY and .files
    metadata views — one row per commit / per live file, queryable
    like any DataFrame."""
    from tcrd_spark.sources.lake import load_table

    table = str(tmp_path / "t")
    seed = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).orderBy("o_orderkey").limit(30)
    snap.create_table(seed, table, "o_orderstatus")
    batch = seed.limit(3).select(
        (F.col("o_orderkey") + 10**9).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    )
    snap.append_version(table, batch, txn_id=9)
    h = {r.version: r for r in snap.history_df(spark, table).collect()}
    assert h[1].op == "create" and h[1].parent is None
    assert h[2].op == "append" and h[2].parent == 1
    assert h[2].txn_id == "9" and h[2].n_files > 0
    f = snap.files_df(spark, table).collect()
    m = snap._read_manifest(table, 2)
    assert sorted(r.file for r in f) == sorted(m["files"])
    assert all(r.bytes and r.bytes > 0 for r in f)
    assert all(r.partition for r in f)
    # zone maps surface where stats exist
    assert any(r.zone_maps for r in f)


def test_remove_orphans(spark, sf_dir, tmp_path):
    """Iceberg remove_orphan_files parity: a dead writer's staged
    files (referenced by NO manifest) are reclaimed once past the
    grace window; live files, fresh staging, and files staged by a
    BRANCH or a registered CLONE survive."""
    from tcrd_spark.sources import branches as br
    from tcrd_spark.sources.lake import load_table

    table = str(tmp_path / "t")
    seed = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).orderBy("o_orderkey").limit(30)
    snap.create_table(seed, table, "o_orderstatus")
    # branch- and clone-staged files share the data dir
    bdir = br.create_branch(table, "wip")
    snap.append_version(bdir, seed.limit(2).select(
        (F.col("o_orderkey") + 10**9).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    ))
    cdir = str(tmp_path / "cl")
    br.clone_table(table, cdir)
    snap.append_version(cdir, seed.limit(2).select(
        (F.col("o_orderkey") + 2 * 10**9).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    ))
    base = snap._data_dir(table)
    # a dead writer's orphan: stale mtime, no manifest references it
    part = os.listdir(base)[0]
    orphan = os.path.join(base, part, "v99999-dead.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not really parquet")
    os.utime(orphan, (1, 1))
    # a fresh staging file: inside the grace window
    fresh = os.path.join(base, part, "v99999-fresh.parquet")
    with open(fresh, "wb") as f:
        f.write(b"in-flight")

    removed = snap.remove_orphans(table, grace_seconds=3600)
    assert removed == [os.path.relpath(orphan, base)]
    assert os.path.exists(fresh)
    # every reader still intact
    assert snap.read_version(spark, table).count() == seed.count()
    assert snap.read_version(spark, bdir).count() == seed.count() + 2
    assert snap.read_version(spark, cdir).count() == seed.count() + 2
    os.remove(fresh)
    # refused on shared-data paths
    import pytest

    with pytest.raises(ValueError, match="refused"):
        snap.remove_orphans(bdir)


def test_txn_cache_survives_drop_and_recreate(spark, sf_dir, tmp_path):
    """ADVICE r10 (medium): the txn_id cache was keyed (table_dir,
    version) and never invalidated — a table dropped and recreated at
    the SAME path inside one driver process returned the OLD table's
    txn_id, so txn_seen wrongly reported a fresh batch as applied and
    the write verbs silently no-opped it (data loss). The cache now
    keys on manifest file identity."""
    import shutil

    table = str(tmp_path / "t")
    seed = _orders(spark, sf_dir).limit(20)
    snap.create_table(seed, table, "o_orderstatus")
    batch = seed.limit(3).select(
        (F.col("o_orderkey") + 10**9).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    )
    snap.append_version(table, batch, txn_id="batch-7")
    assert snap.txn_seen(table, "batch-7")  # caches the lookup

    shutil.rmtree(table)  # drop …
    snap.create_table(seed, table, "o_orderstatus")  # … recreate

    assert not snap.txn_seen(table, "batch-7"), (
        "recreated table must not inherit the old table's txn ids"
    )
    # and the idempotence guard must let the batch actually land
    v = snap.append_version(table, batch, txn_id="batch-7")
    assert v == 2
    assert snap.read_version(spark, table).count() == seed.count() + 3


def test_stalled_fallback_writer_loses_loudly(spark, sf_dir, tmp_path):
    """ADVICE r10 (medium): a LIVE fallback-path writer stalled past
    _WIP_TIMEOUT can be repaired away by a competitor; it then
    finishes writing into an unlinked inode. It must report the lost
    commit (lost-CAS error), never silent success — and must not
    destroy the competitor's manifest or marker on the way out."""
    import json as _json
    import os

    import pytest

    table = str(tmp_path / "t")
    seed = _orders(spark, sf_dir).limit(5)
    snap.create_table(seed, table, "o_orderstatus")
    final = snap._manifest_path(table, 2)
    wip = final + ".wip"

    real_fsync = os.fsync

    def stall_then_repair(fd):
        real_fsync(fd)
        # competitor's view meanwhile: our marker went stale, repair
        # fired (unlink marker + torn final), they claimed the slot
        os.unlink(final)
        os.unlink(wip)
        with open(final, "w") as f:
            _json.dump({"version": 2, "op": "competitor",
                        "files": [], "ts": 1.0}, f)

    orig = metastore.os.fsync
    metastore.os.fsync = stall_then_repair
    try:
        with pytest.raises(FileExistsError):
            metastore._fallback_publish(
                final, {"version": 2, "op": "mine", "files": []}, "lost"
            )
    finally:
        metastore.os.fsync = orig

    # the competitor's commit stands untouched
    assert snap._read_manifest(table, 2)["op"] == "competitor"
    assert not os.path.exists(wip)


def test_version_walks_skip_repaired_manifests(spark, sf_dir, tmp_path):
    """ADVICE r10 (low): txn_seen / history_df / files_df /
    remove_orphans / version_as_of iterate versions(); a torn
    manifest that _read_manifest repairs away mid-walk must read as
    ABSENT, not abort the whole walk with FileNotFoundError."""
    import os
    import time

    table = str(tmp_path / "t")
    seed = _orders(spark, sf_dir).limit(20)
    snap.create_table(seed, table, "o_orderstatus")
    snap.append_version(table, seed.limit(3).select(
        (F.col("o_orderkey") + 10**9).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    ), txn_id="b1")

    # version 3: torn manifest + stale marker (dead fallback writer)
    final = snap._manifest_path(table, 3)
    with open(final, "w") as f:
        f.write('{"version": 3, "files": ["trunc')
    with open(final + ".wip", "w"):
        pass
    old = os.path.getmtime(final + ".wip") - metastore._WIP_TIMEOUT - 5
    os.utime(final + ".wip", (old, old))

    assert snap.txn_seen(table, "b1")
    assert not snap.txn_seen(table, "nope")
    hist = snap.history_df(spark, table)
    assert sorted(r.version for r in hist.collect()) == [1, 2]
    assert snap.files_df(spark, table).count() > 0
    assert snap.version_as_of(table, time.time() + 1) == 2
    snap.remove_orphans(table, grace_seconds=10**9)  # must not raise
