"""Streaming sketch maintenance: the replayed (incrementally merged)
CMS grid and KMV sketch must equal the batch-built ones EXACTLY —
mergeability is the sketches' design claim — and batch replays must be
idempotent."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from tcrd_spark.pipeline.sketches import cms_build, kmv_sketch
from tcrd_spark.streaming import sketch_stream as ss
from tcrd_spark.streaming.sink import write_batch


@pytest.fixture(scope="module")
def replay(spark, sf_dir, tmp_path_factory):
    from tcrd_spark.sources.lake import load_table
    from tcrd_spark.streaming.jobs import stage_replay_chunks

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    src = str(tmp_path_factory.mktemp("sketch_src"))
    stage_replay_chunks(ev, src, n_chunks=4)
    return ev, src


def _run(spark, replay, start_fn, out_dir, ckpt):
    from tcrd_spark.streaming.jobs import read_event_replay

    ev, src = replay
    stream = read_event_replay(spark, src, ev.schema, max_files_per_trigger=1)
    q = start_fn(stream, out_dir, "user_id", ckpt)
    try:
        q.processAllAvailable()
        batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    finally:
        q.stop()
    assert batches >= 4  # genuinely incremental, not one big batch
    return batches


def test_streamed_cms_equals_batch(spark, replay, tmp_path):
    ev, _ = replay
    out = str(tmp_path / f"grid_{uuid.uuid4().hex[:8]}")
    _run(spark, replay, ss.streaming_cms, out, str(tmp_path / "ck1"))
    merged = {
        (r.d, r.col): r.cnt for r in ss.cms_current(spark, out).collect()
    }
    batch = {
        (r.d, r.col): r.cnt
        for r in cms_build(ev, F.col("user_id").cast("string")).collect()
    }
    assert merged == batch  # identical grid, not merely similar


def test_streamed_kmv_equals_batch(spark, replay, tmp_path):
    ev, _ = replay
    out = str(tmp_path / f"kmv_{uuid.uuid4().hex[:8]}")
    _run(spark, replay, ss.streaming_kmv, out, str(tmp_path / "ck2"))
    merged = sorted(r.h for r in ss.kmv_current(spark, out).collect())
    batch = sorted(
        r.h
        for r in kmv_sketch(ev, [], F.col("user_id").cast("string")).collect()
    )
    assert merged == batch


def test_batch_replay_is_idempotent(spark, replay, tmp_path):
    """The shared batch write of streaming_cms's batch twin: replaying
    batch 0 leaves the merged grid unchanged."""
    ev, _ = replay
    out = str(tmp_path / f"idem_{uuid.uuid4().hex[:8]}")

    def writer(batch_df, batch_id):
        grid = cms_build(batch_df, F.col("user_id").cast("string"))
        write_batch(grid.coalesce(1), out, batch_id)

    half = ev.filter(F.col("event_id") % 2 == 0)
    writer(half, 0)
    writer(ev.filter(F.col("event_id") % 2 == 1), 1)
    before = {(r.d, r.col): r.cnt for r in ss.cms_current(spark, out).collect()}
    writer(half, 0)  # at-least-once delivery replays batch 0
    after = {(r.d, r.col): r.cnt for r in ss.cms_current(spark, out).collect()}
    assert before == after


def test_out_path_belongs_to_one_checkpoint(spark, replay, tmp_path):
    """A grid directory belongs to the checkpoint that first streamed
    into it: a second checkpoint raises before it writes a batch, a
    restart from the first runs, and the grid still reads as the
    batches alone (the claim file is `_`-prefixed)."""
    from tcrd_spark.streaming.jobs import read_event_replay

    ev, src = replay
    out = str(tmp_path / "grid")
    _run(spark, replay, ss.streaming_cms, out, str(tmp_path / "ck_a"))
    batches = sorted(os.listdir(out))
    with pytest.raises(ValueError, match="belongs to checkpoint"):
        ss.streaming_cms(
            read_event_replay(spark, src, ev.schema, max_files_per_trigger=1),
            out, "user_id", str(tmp_path / "ck_b"),
        )
    assert sorted(os.listdir(out)) == batches
    q = ss.streaming_cms(
        read_event_replay(spark, src, ev.schema, max_files_per_trigger=1),
        out, "user_id", str(tmp_path / "ck_a"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    merged = {
        (r.d, r.col): r.cnt for r in ss.cms_current(spark, out).collect()
    }
    batch = {
        (r.d, r.col): r.cnt
        for r in cms_build(ev, F.col("user_id").cast("string")).collect()
    }
    assert merged == batch
