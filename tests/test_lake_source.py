"""Versioned lake as a streaming SOURCE (streaming/lake_source.py):
backfill-then-tail exactly-once over append commits, checkpoint
restart, and the rewrite-commit refusal/skip contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from tcrd_spark.sources import snapshots as snap
from tcrd_spark.streaming.lake_source import LakeCommitsDataSource


def _orders(spark, sf_dir, n=40):
    from tcrd_spark.sources.lake import load_table

    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(n)
    )


def _mk(spark, table, seed):
    snap.create_table(seed, table, "o_orderstatus")
    spark.dataSource.register(LakeCommitsDataSource)


def _collector():
    got = []

    def sink(df, _bid):
        got.extend(
            (r["o_orderkey"], r["o_orderstatus"], r["o_totalprice"])
            for r in df.collect()
        )

    return got, sink


def _start(spark, table, ckpt, sink, **opts):
    reader = spark.readStream.format("tcrd_lake_commits").option(
        "path", table
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    return (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .start()
    )


def _shift(df, offset):
    return df.select(
        (F.col("o_orderkey") + offset).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    )


def test_backfill_then_tail_exactly_once(spark, sf_dir, tmp_path):
    table, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    seed = _orders(spark, sf_dir)
    _mk(spark, table, seed)
    got, sink = _collector()

    q = _start(spark, table, ckpt, sink)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    want = {tuple(r) for r in seed.collect()}
    assert set(got) == want and len(got) == len(want)

    # two more append commits while the stream is DOWN, then restart
    # from the checkpoint: each arrives exactly once, no backfill replay
    snap.append_version(table, _shift(seed.limit(5), 10**9))
    snap.append_version(table, _shift(seed.limit(3), 2 * 10**9))
    q = _start(spark, table, ckpt, sink)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    latest = {
        tuple(r) for r in snap.read_version(spark, table).collect()
    }
    assert set(got) == latest
    assert len(got) == len(latest), "a commit replayed into duplicates"


def test_rewrite_commits_refused_then_skipped(spark, sf_dir, tmp_path):
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    table = str(tmp_path / "t")
    seed = _orders(spark, sf_dir)
    _mk(spark, table, seed)
    src = seed.limit(4).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1.0
    )
    snap.merge_version(spark, table, src, ["o_orderkey"])  # v2: rewrite
    snap.append_version(table, _shift(seed.limit(2), 10**9))  # v3

    got, sink = _collector()
    with pytest.raises(StreamingQueryException, match="skipChangeCommits"):
        q = _start(spark, table, str(tmp_path / "c1"), sink)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    got2, sink2 = _collector()
    q = _start(
        spark, table, str(tmp_path / "c2"), sink2,
        skipChangeCommits="true",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # v1 backfill + v3 append arrive; the v2 rewrite is passed over
    want = {tuple(r) for r in seed.collect()} | {
        tuple(r)
        for r in _shift(seed.limit(2), 10**9).collect()
    }
    assert set(got2) == want and len(got2) == len(want)


def test_schema_evolution_boundary_stops_the_stream(
    spark, sf_dir, tmp_path
):
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    table = str(tmp_path / "t")
    seed = _orders(spark, sf_dir, n=10)
    _mk(spark, table, seed)
    evolved = _shift(seed.limit(2), 10**9).withColumn(
        "batch_tag", F.lit("x")
    )
    snap.append_version(table, evolved, merge_schema=True)
    _got, sink = _collector()
    with pytest.raises(StreamingQueryException, match="schema-evolution"):
        q = _start(spark, table, str(tmp_path / "c"), sink)
        try:
            q.processAllAvailable()
        finally:
            q.stop()


def test_bounded_backfill_many_small_batches(spark, sf_dir, tmp_path):
    """maxVersionsPerTrigger: a from-zero backfill over a long commit
    history arrives as one micro-batch PER VERSION (Delta's admission
    control), equal in total to the unbounded read."""
    table, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    seed = _orders(spark, sf_dir, n=40)
    _mk(spark, table, seed)  # v1
    for i in range(1, 4):  # v2..v4
        snap.append_version(table, _shift(seed.limit(5), i * 10**9))

    rows, batch_sizes = [], []

    def sink(df, _bid):
        got = [
            (r["o_orderkey"], r["o_orderstatus"], r["o_totalprice"])
            for r in df.collect()
        ]
        if got:
            batch_sizes.append(len(got))
        rows.extend(got)

    q = _start(
        spark, table, ckpt, sink, maxVersionsPerTrigger="1"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    want = {tuple(r) for r in snap.read_version(spark, table).collect()}
    assert set(rows) == want and len(rows) == len(want)
    assert len(batch_sizes) == 4, batch_sizes  # one batch per version


def test_reader_bounds_and_restart_protocol(spark, sf_dir, tmp_path):
    """Unit-level pin of the admission-control protocol: bounded
    advances, ≥1 version per batch under a tiny file budget, a
    mid-backfill WAL replay teaching a fresh reader its position
    (bounded thereafter), and the documented unbounded-first-batch
    after a restart-at-a-completed-batch (never an offset regression).
    """
    from tcrd_spark.streaming.lake_source import LakeCommitsStreamReader

    table = str(tmp_path / "t")
    seed = _orders(spark, sf_dir, n=30)
    _mk(spark, table, seed)  # v1
    for i in range(1, 6):  # v2..v6
        snap.append_version(table, _shift(seed.limit(4), i * 10**9))

    r = LakeCommitsStreamReader(
        {"path": table, "maxVersionsPerTrigger": "2"}
    )
    assert r.initialOffset() == {"version": 0}
    o1 = r.latestOffset()
    assert o1 == {"version": 2}
    assert r.partitions({"version": 0}, o1)
    assert r.latestOffset() == {"version": 4}
    r.commit({"version": 4})
    assert r.latestOffset() == {"version": 6}

    # file budget of 1: every batch still advances exactly 1 version
    # (each append adds >= 1 file; "always admit >= 1 version").
    # latestOffset is called BEFORE initialOffset on a fresh query
    # (traced protocol) — the admit-at-least-one guard must compare
    # against the derived base, not the not-yet-set cursor (review
    # catch: `end > self._cursor` raised TypeError on None here)
    rf = LakeCommitsStreamReader(
        {"path": table, "maxFilesPerTrigger": "1"}
    )
    assert rf.latestOffset() == {"version": 1}  # pre-initialOffset
    rf.initialOffset()
    assert rf.latestOffset() == {"version": 1}

    # mid-backfill restart: Spark replays the in-flight WAL batch via
    # partitions(start, end) BEFORE asking for a new offset — the new
    # reader learns its position and stays bounded
    r2 = LakeCommitsStreamReader(
        {"path": table, "maxVersionsPerTrigger": "2"}
    )
    r2.partitions({"version": 2}, {"version": 3})  # WAL replay
    assert r2.latestOffset() == {"version": 5}  # 3 + 2, bounded

    # restart where the last batch completed: Spark re-commits the
    # checkpointed offset to the fresh reader BEFORE planning (traced
    # protocol) — position known, still bounded
    r3 = LakeCommitsStreamReader(
        {"path": table, "maxVersionsPerTrigger": "2"}
    )
    r3.commit({"version": 2})  # what Spark does on restart
    assert r3.latestOffset() == {"version": 4}

    # before any position signal, a fresh reader bounds from
    # startingVersion (latestOffset precedes initialOffset — traced)
    r4 = LakeCommitsStreamReader(
        {"path": table, "maxVersionsPerTrigger": "2",
         "startingVersion": "3"}
    )
    assert r4.latestOffset() == {"version": 5}

    # a regressing batch refuses loudly instead of re-delivering
    import pytest

    with pytest.raises(ValueError, match="regression"):
        r4.partitions({"version": 5}, {"version": 3})


def test_restart_mid_backfill_stays_bounded_end_to_end(
    spark, sf_dir, tmp_path
):
    """Stop the query partway through a bounded backfill; the restart
    resumes from the checkpoint, re-delivers nothing, and finishes —
    total equals the unbounded read."""
    table, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    seed = _orders(spark, sf_dir, n=40)
    _mk(spark, table, seed)
    for i in range(1, 5):  # v2..v5
        snap.append_version(table, _shift(seed.limit(3), i * 10**9))

    rows = []

    def sink(df, _bid):
        rows.extend(
            (r["o_orderkey"], r["o_orderstatus"], r["o_totalprice"])
            for r in df.collect()
        )

    # first run: let it finish (bounded, 5 batches), then append two
    # more versions and restart — the checkpoint carries the position
    q = _start(spark, table, ckpt, sink, maxVersionsPerTrigger="1")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_after_first = len(rows)
    snap.append_version(table, _shift(seed.limit(2), 7 * 10**9))
    snap.append_version(table, _shift(seed.limit(2), 8 * 10**9))
    q = _start(spark, table, ckpt, sink, maxVersionsPerTrigger="1")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    want = {tuple(r) for r in snap.read_version(spark, table).collect()}
    assert set(rows) == want and len(rows) == len(want)
    assert len(rows) == n_after_first + 4  # only the new commits


def test_admission_control_manifest_read_cost(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r9: admission control must not be O(backlog²) in
    driver-side manifest reads. Pins: (1) a version-only bound reads
    ZERO manifests in latestOffset; (2) with a file bound, per-version
    added counts are computed ONCE across triggers (memoized —
    manifests are immutable)."""
    import tcrd_spark.streaming.lake_source as ls

    table = str(tmp_path / "t")
    seed = _orders(spark, sf_dir, n=30)
    _mk(spark, table, seed)  # v1
    for i in range(1, 6):  # v2..v6
        snap.append_version(table, _shift(seed.limit(4), i * 10**9))

    calls = []
    real = ls._manifest
    monkeypatch.setattr(
        ls, "_manifest", lambda t, v: calls.append(v) or real(t, v)
    )

    r = ls.LakeCommitsStreamReader(
        {"path": table, "maxVersionsPerTrigger": "2"}
    )
    r.initialOffset()
    calls.clear()
    assert r.latestOffset() == {"version": 2}
    assert calls == []  # version bound alone: no manifest reads

    rf = ls.LakeCommitsStreamReader(
        {"path": table, "maxFilesPerTrigger": "100"}
    )
    rf.initialOffset()
    calls.clear()
    rf.latestOffset()  # counts v1..v6 once
    first = len(calls)
    assert first > 0
    calls.clear()
    rf.latestOffset()  # same cursor: everything served from the cache
    assert calls == []


def test_stream_schema_comes_from_the_manifest(spark, tmp_path):
    """DATE and DECIMAL columns stream with their own types (a schema
    sampled from a footer by a hand-written type map made them
    strings, and the stream died reading them), and a manifest
    written before schemas were recorded streams with the same types
    from the footer."""
    import json

    from pyspark.sql.types import DateType, DecimalType, StringType

    table, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")
    seed = spark.sql(
        "SELECT id AS k, date_add(DATE'2024-01-01', CAST(id AS INT)) AS d,"
        " CAST(id * 1.25 AS DECIMAL(10,2)) AS amt,"
        " CAST(id % 2 AS STRING) AS p FROM range(6)"
    )
    snap.create_table(seed, table, "p")
    spark.dataSource.register(LakeCommitsDataSource)
    got = []
    q = (
        spark.readStream.format("tcrd_lake_commits").option("path", table)
        .load().writeStream
        .foreachBatch(lambda df, _b: got.extend(tuple(r) for r in df.collect()))
        .option("checkpointLocation", ckpt).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(got) == sorted(tuple(r) for r in seed.collect())

    want = [DecimalType(10, 2), DateType(), StringType()]
    schema = LakeCommitsDataSource({"path": table}).schema()
    assert [schema[c].dataType for c in ("amt", "d", "p")] == want
    path = snap._manifest_path(table, 1)
    with open(path) as f:
        m = json.load(f)
    del m["schema"]
    with open(path, "w") as f:
        json.dump(m, f)
    legacy = LakeCommitsDataSource({"path": table}).schema()
    assert [legacy[c].dataType for c in ("amt", "d", "p")] == want
    assert legacy.names == seed.columns
