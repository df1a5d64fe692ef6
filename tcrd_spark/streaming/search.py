"""Streaming similarity search: running top-k over a GROWING corpus.

The batch ANN operators (pipeline/similarity.py) answer "given this
corpus, who are each query's neighbors". The streaming shape inverts
it: embeddings arrive continuously (new documents being ingested) and
a fixed panel of standing queries must always know its current top-k
— continuous retrieval over an append-only corpus.

Plan: the query panel is the SMALL side by contract (same contract as
the IVF probe side) — it broadcasts to every task. Each corpus
micro-batch computes scores against the panel with one BLAS matmul
per Arrow batch and emits only per-batch per-query top-k candidates
(map-side pre-aggregation: ≤ k·|queries| rows leave a batch no matter
how many vectors arrived). applyInPandasWithState keyed by q_id then
merges candidates into the running top-k; state is EXACTLY k rows per
query — bounded forever, however large the corpus grows. The merged
result after replaying a corpus equals the batch brute-force top-k
over the same rows (tests/test_streaming.py).
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

CAND_SCHEMA = "q_id long, c_id long, score double"
TOPK_STATE_SCHEMA = "c_ids array<long>, scores array<double>"
TOPK_OUT_SCHEMA = "q_id long, c_id long, score double, rank int"


def _topk_merge(k: int):
    def merge(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        (q_id,) = key
        if state.exists:
            c_ids, scores = state.get
            rows = {c: s for c, s in zip(c_ids, scores)}
        else:
            rows = {}
        for pdf in pdfs:
            for c, s in zip(pdf["c_id"], pdf["score"]):
                rows[int(c)] = float(s)
        # (-score, c_id): descending score, ascending id on ties —
        # the batch searches' one top-k order (operators/topk.top_k)
        best = sorted(rows.items(), key=lambda cs: (-cs[1], cs[0]))[:k]
        state.update(([c for c, _ in best], [s for _, s in best]))
        yield pd.DataFrame(
            {
                "q_id": q_id,
                "c_id": [c for c, _ in best],
                "score": [s for _, s in best],
                "rank": range(1, len(best) + 1),
            }
        )

    return merge


def streaming_running_topk(
    corpus_stream: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
) -> DataFrame:
    """corpus_stream: streaming (c_id, c_vec array<double>); queries:
    static (q_id, q_vec). Returns an update-mode stream of the current
    per-query top-k after each micro-batch."""
    import numpy as np

    spark = queries.sparkSession
    qrows = queries.select("q_id", "q_vec").collect()  # broadcast panel
    q_ids = np.array([r.q_id for r in qrows])
    q_mat = np.stack([np.asarray(r.q_vec, dtype=float) for r in qrows])
    q_nrm = np.sqrt((q_mat * q_mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((q_ids, q_mat.T.copy(), q_nrm))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, mat_t, nrm_q = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["c_id"].to_numpy()
            c_mat = np.stack(pdf["c_vec"].to_numpy())
            c_nrm = np.sqrt((c_mat * c_mat).sum(axis=1))
            sims = np.round((c_mat @ mat_t) / np.outer(c_nrm, nrm_q), 6)
            out = []
            for j, qid in enumerate(ids_q):
                col = sims[:, j]
                # (-score, c_id) lexsort so per-batch pruning uses the
                # SAME tie order as _topk_merge / operators/topk.top_k —
                # score-only argsort could drop the smallest-c_id row of
                # a tie straddling the k cutoff (duplicate vectors)
                top = np.lexsort((c_ids, -col))[:k]
                out.append(
                    pd.DataFrame(
                        {"q_id": qid, "c_id": c_ids[top], "score": col[top]}
                    )
                )
            yield pd.concat(out, ignore_index=True)

    cands = corpus_stream.mapInPandas(score, CAND_SCHEMA)
    return cands.groupBy("q_id").applyInPandasWithState(
        _topk_merge(k),
        outputStructType=TOPK_OUT_SCHEMA,
        stateStructType=TOPK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_ivf_append(
    corpus_stream: DataFrame,
    centroids: DataFrame,
    dim: int,
    index_path: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
):
    """Streaming IVF index maintenance: vectors arriving on a stream
    are assigned to their nearest cell (the same row-local broadcast
    argmax as the batch build — assign_cells works unchanged on a
    streaming frame because it has no shuffle) and APPENDED into the
    cell_id-partitioned parquet index that ivf_topk_indexed searches.

    This closes the loop a real retrieval system needs: the index is
    not a one-shot artifact but an append-only table the ingest
    pipeline keeps current; searches stay partition-pruned regardless
    of how many micro-batches have landed. Parquet sink + checkpoint
    give exactly-once appends across restarts. Returns the started
    StreamingQuery.
    """
    from tcrd_spark.pipeline.similarity import assign_cells

    assigned = assign_cells(corpus_stream, centroids, dim)
    writer = (
        assigned.select("c_id", "c_vec", "c_vec_nrm", "cell_id")
        .writeStream.format("parquet")
        .option("path", index_path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("cell_id")
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
