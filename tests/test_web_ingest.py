"""Streaming web ingestion (streaming/web_ingest.py): replay==batch,
exactly-once on replayed batches, and the gate actually gates."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from tcrd_spark.pipeline.html import synth_page
from tcrd_spark.sources.lake import load_table
from tcrd_spark.streaming.sink import write_batch
from tcrd_spark.streaming.web_ingest import (
    batch_web_ingest,
    streaming_web_ingest,
)

SCHEMA = StructType(
    [StructField("doc_id", LongType()), StructField("page", StringType())]
)


@pytest.fixture()
def stream_dirs(tmp_path):
    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    return str(src), str(ckpt)


def _write_batch(src_dir: str, rows: list[dict], name: str) -> None:
    path = os.path.join(src_dir, f"{name}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(tmp, path)


def _pages_and_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pages = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        synth_page(
            F.col("doc_id"), F.col("text"), F.col("lang")
        ).alias("page"),
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", "text"
    )
    return pages, corpus


def test_streaming_web_ingest_matches_batch(spark, stream_dirs, tmp_path, sf_dir):
    """Chunked ingestion lands exactly the one-shot pipeline's rows:
    per-doc extraction, gating, and corpus verdicts are all
    batch-size-independent."""
    src, ckpt = stream_dirs
    pages, corpus = _pages_and_corpus(spark, sf_dir)
    rows = [r.asDict() for r in pages.collect()]
    third = max(1, len(rows) // 3)
    for i in range(0, len(rows), third):
        _write_batch(src, rows[i : i + third], f"chunk_{i:04d}")

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    out = str(tmp_path / "landed")
    q = streaming_web_ingest(stream, corpus, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.doc_id: (r.text, r.exact_src, r.near_src, r.verdict)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.doc_id: (r.text, r.exact_src, r.near_src, r.verdict)
        for r in batch_web_ingest(pages, corpus).collect()
    }
    assert got == want
    assert got, "gate dropped everything — fixture broken"
    # provenance is meaningful: the synthetic corpus has near-dup
    # rotations, so at least one ingested doc must match the corpus
    assert any(v[3] != "new" for v in got.values())
    assert any(v[3] == "new" for v in got.values())


def test_web_ingest_batch_is_idempotent(spark, tmp_path, sf_dir):
    """Replaying a micro-batch (at-least-once foreachBatch) overwrites
    its own partition with identical content: the shared batch write
    of the sink's batch twin, run twice."""
    pages, corpus = _pages_and_corpus(spark, sf_dir)
    out = str(tmp_path / "landed")
    write_batch(batch_web_ingest(pages, corpus), out, 7)
    first = sorted(
        tuple(r) for r in spark.read.parquet(out).collect()
    )
    write_batch(batch_web_ingest(pages, corpus), out, 7)  # replay
    second = sorted(
        tuple(r) for r in spark.read.parquet(out).collect()
    )
    assert first == second
    assert os.path.isdir(os.path.join(out, "batch_id=7"))


def test_quality_gate_drops_empty_and_junk_pages(spark, sf_dir):
    """A page whose body is all boilerplate extracts to '' and never
    lands; a too-short body fails the quality score."""
    corpus = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    junk = spark.createDataFrame(
        [
            (1, '<body><div><a href="/">Home page link</a></div></body>'),
            (2, "<body><p>tiny body here</p></body>"),
        ],
        "doc_id long, page string",
    )
    assert batch_web_ingest(junk, corpus).count() == 0
