"""Streaming web ingestion — stage 0 in the streaming runtime.

The batch story (pipeline/html.py → gates → dedup) assumed the corpus
arrives as a table; a production crawl arrives as an unbounded PAGE
stream. This job composes the existing, individually-verified pieces
into the ingest path a deployment actually runs:

    raw page micro-batch
      → html_extract            (row-local, pipeline/html.py)
      → quality gate            (pipeline/text.quality_score)
      → dedup probe vs the STANDING corpus
                                (pipeline/corpus.incremental_near_dups
                                 — inverted-index probe, cost ∝ batch)
      → idempotent batch_id-partitioned parquet sink
        (every gated doc lands with its extracted text AND its
         provenance verdict: exact / near / new — acceptance is a
         reader-side filter, the audit trail is never thrown away)

foreachBatch for the same reason as streaming_incremental_dedup: the
probe is a multi-step plan Structured Streaming cannot express as one
continuous query, and the static side is the persisted corpus index.
Exactly-once is `streaming/sink.py`'s one rule: txn = (checkpoint,
batch_id), and each micro-batch overwrites its own ``batch_id=<id>``
directory with `batch_web_ingest` of the batch, so an at-least-once
replay rewrites identical rows; an ``out_path`` belongs to one
checkpoint (replay==batch and restart tests in
tests/test_web_ingest.py).

100 TB shape: extraction and gating are shuffle-free map work over
the batch; the probe shuffles the BATCH's shingles against the
bucketed corpus index (cost ∝ batch size × avg postings, never
corpus²); the sink appends one partition per micro-batch and rides
`lake.compact_table` for file-count upkeep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcrd_spark.streaming.sink import to_directory

# one quality_score credit (e.g. "no punctuation", 0.25) must not be
# enough on its own — junk three-word pages earn exactly 0.25
MIN_QUALITY = 0.3


def streaming_web_ingest(
    page_stream: DataFrame,
    corpus: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    page_col: str = "page",
    min_quality: float = MIN_QUALITY,
    n: int = 3,
    threshold: float = 0.3,
):
    """Run the ingest pipeline over an unbounded page stream."""
    return to_directory(
        page_stream, checkpoint_dir, out_path,
        lambda batch_df: batch_web_ingest(
            batch_df, corpus, id_col=id_col, page_col=page_col,
            min_quality=min_quality, n=n, threshold=threshold,
        ),
    )


def batch_web_ingest(
    pages: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    page_col: str = "page",
    min_quality: float = MIN_QUALITY,
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Extract → gate → probe over a set of pages: each micro-batch of
    `streaming_web_ingest`, and the one-shot twin the replay test pins
    the stream against."""
    from tcrd_spark.pipeline.corpus import incremental_near_dups
    from tcrd_spark.pipeline.html import html_extract
    from tcrd_spark.pipeline.text import quality_score

    gated = (
        pages.select(id_col, html_extract(page_col).alias("text"))
        .filter(
            (F.length("text") > 0)
            & (quality_score(F.col("text")) >= min_quality)
        )
    )
    return gated.join(
        incremental_near_dups(
            gated, corpus, id_col, "text", n=n, threshold=threshold
        ).select(id_col, "exact_src", "near_src", "verdict"),
        id_col,
    )
