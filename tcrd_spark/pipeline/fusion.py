"""Hybrid retrieval: reciprocal-rank fusion (RRF) of the lexical
(BM25) and vector (cosine ANN) rankings.

RRF (Cormack, Clarke & Büttcher, SIGIR'09) is the standard way hybrid
search engines combine heterogeneous scorers without calibrating their
score scales:

    rrf(d) = Σ_systems 1 / (k + rank_system(d)),  k = 60

computed over each system's top-K list; a document missing from one
list simply contributes nothing from it. The fusion needs only RANKS,
so BM25 log-scores and cosine similarities never have to be made
commensurable.

100 TB shape: each system produces a per-QUERY top-K via its own
scale path (BM25: one corpus-stats broadcast + row-local scoring;
ANN: the IVF/SQ/PQ stack). Both system ranks and the fused rank are
the one per-query top-k (`operators/topk.top_k`), whose windows
partition by query id, so a query batch parallelizes across queries
and the per-query state is K rows. Fusion is a full-outer join of two
(query, doc, rank) lists — 2K rows per query, trivially broadcastable.

Reference parity: none (the reference has no retrieval scoring);
completes the hybrid pair BM25 (`pipeline/bm25.py`) + ANN
(`pipeline/similarity.py`) the way production RAG stacks deploy them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.operators.topk import top_k

RRF_K = 60
TOP_PER_SYSTEM = 100
TOP_OUT = 20


def rrf_fuse(
    ranked_lists: list[DataFrame], k: int = RRF_K, top_out: int = TOP_OUT
) -> DataFrame:
    """Fuse (q_id, doc_id, rank) lists → (q_id, doc_id, rrf, ranks...).

    Each input carries its rank in a distinct column name (rank_0,
    rank_1, ...) after fusion; missing membership contributes 0.
    """
    fused = None
    for i, r in enumerate(ranked_lists):
        cur = r.select(
            "q_id", "doc_id", F.col("rank").alias(f"rank_{i}")
        )
        fused = cur if fused is None else fused.join(
            cur, ["q_id", "doc_id"], "full_outer"
        )
    score = None
    for i in range(len(ranked_lists)):
        term = F.coalesce(
            1.0 / (F.lit(k) + F.col(f"rank_{i}")), F.lit(0.0)
        )
        score = term if score is None else score + term
    return top_k(
        fused.withColumn("rrf", F.round(score, 6)),
        top_out,
        id_col="doc_id",
        score="rrf",
        carry=tuple(f"rank_{i}" for i in range(len(ranked_lists))),
        rank="fused_rank",
    )


# ------------------------------------------------- registered queries


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF of the fixed-term BM25 ranking and the cosine ranking
    against query vector 0 (vec_id aligns with doc_id in the lake)."""
    from tcrd_spark.pipeline.bm25 import bm25_scores
    from tcrd_spark.pipeline.similarity import brute_force_topk
    from tcrd_spark.pipeline.dedup import EMB_DIM
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    # q_id rides a real 1-row query table (how a query BATCH runs) —
    # a lit(0) column would constant-fold out of the window partition
    # spec, leaving a partition-less window the scale gate rejects
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id")
    )
    lex = top_k(
        bm25_scores(docs, "doc_id", "text")
        .select("doc_id", "score")
        .crossJoin(F.broadcast(queries)),
        TOP_PER_SYSTEM,
        id_col="doc_id",
    )
    qs = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    vec = brute_force_topk(qs, corpus, EMB_DIM, k=TOP_PER_SYSTEM).select(
        "q_id", F.col("c_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex.select("q_id", "doc_id", "rank"), vec])


QUERIES = {"rrf_fusion": q_rrf_fusion}


def _oracle() -> str:
    from tcrd_spark.pipeline.bm25 import _oracle as bm25_oracle
    from tcrd_spark.pipeline.testdata_queries import (
        _EMB_NORMED,
        _sql_pair_score,
    )

    return f"""
        WITH lex0 AS (
            SELECT doc_id, score,
                   row_number() OVER (ORDER BY score DESC, doc_id ASC)
                       AS rank_0
            FROM ({bm25_oracle()})
        ),
        lex AS (SELECT 0 AS q_id, doc_id, rank_0 FROM lex0
                WHERE rank_0 <= {TOP_PER_SYSTEM}),
        e AS ({_EMB_NORMED}),
        q AS (SELECT vec_id AS q_id, v, nrm FROM e WHERE vec_id = 0),
        c AS (SELECT vec_id AS c_id, v, nrm FROM e),
        vec0 AS (
            SELECT q.q_id, c.c_id AS doc_id,
                   row_number() OVER (
                       ORDER BY {_sql_pair_score('q', 'c')} DESC,
                                c.c_id ASC) AS rank_1
            FROM c CROSS JOIN q
        ),
        vec AS (SELECT q_id, doc_id, rank_1 FROM vec0
                WHERE rank_1 <= {TOP_PER_SYSTEM}),
        fused AS (
            SELECT coalesce(lex.q_id, vec.q_id) AS q_id,
                   coalesce(lex.doc_id, vec.doc_id) AS doc_id,
                   lex.rank_0, vec.rank_1,
                   round(coalesce(1.0 / ({RRF_K} + lex.rank_0), 0.0)
                         + coalesce(1.0 / ({RRF_K} + vec.rank_1), 0.0), 6)
                       AS rrf
            FROM lex FULL OUTER JOIN vec
              ON lex.q_id = vec.q_id AND lex.doc_id = vec.doc_id
        )
        SELECT q_id, doc_id, rrf, rank_0, rank_1,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY rrf DESC, doc_id ASC)
                   AS fused_rank
        FROM fused
        QUALIFY fused_rank <= {TOP_OUT}
    """


ORACLE = {"rrf_fusion": _oracle()}
