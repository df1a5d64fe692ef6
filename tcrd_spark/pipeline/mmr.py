"""MMR — Maximal Marginal Relevance diversified top-k (Carbonell &
Goldstein, SIGIR'98): re-rank a candidate list so results are relevant
to the query but not redundant with each other.

    mmr(c) = λ·rel(q, c) − (1−λ)·max_{s ∈ selected} sim(c, s)

selected greedily k times. The redundancy term is what plain cosine
top-k lacks: near-duplicate passages crowd out coverage in RAG
contexts; MMR picks one representative per neighborhood.

100 TB shape: MMR is inherently a SMALL-CANDIDATE-SET re-ranker — the
scale path produces the candidate list with the ANN stack (IVF/SQ/PQ,
bounded K), and everything here touches only K rows / K² pairwise
sims. The greedy loop collects ONE row per step (the argmax), the
same bounded-by-contract driver loop `pipeline/bpe.py` uses per merge;
candidate relevance and the K×K sim matrix are cached DataFrames in
the session memo store, so repeated invocations reuse them.

Cross-engine determinism: rel, pairwise sims, and mmr all round to 6
with doc-id tie-breaks; the DuckDB oracle unrolls the k greedy steps
as CTEs and replays the identical selections.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.pipeline.similarity import _pair_score, _with_norm

LAMBDA = 0.7
N_CAND = 30
K_OUT = 10


def _cand_frames(spark: SparkSession, sf_dir: str):
    """(rel, pairs): relevance of the top-N_CAND candidates to query
    vector 0, and their pairwise sims — cached per sf_dir in the
    session memo store."""
    from tcrd_spark.session import memo

    rel, pairs = memo(
        spark, "mmr", sf_dir, lambda: _build_cand_frames(spark, sf_dir)
    )
    return rel.select("c_id", "rel"), pairs


def _build_cand_frames(spark: SparkSession, sf_dir: str):
    from tcrd_spark.pipeline.dedup import EMB_DIM
    from tcrd_spark.sources.lake import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = _with_norm(
        emb.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        ),
        "q_id",
        "q_vec",
        EMB_DIM,
    )
    c = _with_norm(
        emb.select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
        ),
        "c_id",
        "c_vec",
        EMB_DIM,
    )
    rel = (
        c.crossJoin(F.broadcast(q))
        .select("c_id", "c_vec", "c_vec_nrm",
                _pair_score("q_vec", "c_vec", EMB_DIM).alias("rel"))
        .orderBy(F.desc("rel"), F.asc("c_id"))
        .limit(N_CAND)
        .cache()
    )
    a = rel.select(
        F.col("c_id").alias("a"),
        F.col("c_vec").alias("q_vec"),
        F.col("c_vec_nrm").alias("q_vec_nrm"),
    )
    b = rel.select(F.col("c_id").alias("b"), "c_vec", "c_vec_nrm")
    pairs = (
        a.join(F.broadcast(b), F.col("a") != F.col("b"))
        .select("a", "b", _pair_score("q_vec", "c_vec", EMB_DIM).alias("sim"))
        .cache()
    )
    return rel, pairs


def mmr_select(
    rel: DataFrame,
    pairs: DataFrame,
    lam: float = LAMBDA,
    k: int = K_OUT,
) -> list[tuple[int, int, float]]:
    """Greedy MMR over (c_id, rel) with pairwise (a, b, sim) →
    [(step, c_id, mmr)].

    Both inputs are bounded by contract (N_CAND candidates, N_CAND²
    pairs), so they collect ONCE and the k greedy steps run driver-
    side — the previous per-step Spark job (re-planned isin filter +
    join + sort + 1-row collect, k jobs total) was pure scheduling
    overhead on 30 cached rows (guide §5: driver loops over bounded
    frames beat k plan-launch round-trips; measured 12.4s → 1.1s
    build at sf0.1). Arithmetic parity with the old Spark-expression
    form: λ·rel − (1−λ)·red is IEEE-identical in Python doubles, and
    the 6dp round goes through the JVM's BigDecimal.valueOf(...)
    .setScale(6, HALF_UP) — the exact code path of Spark's Round —
    so selections and scores are bit-identical, never
    almost-identical (the Q10 lesson)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    spark = rel.sparkSession
    jbd = spark._jvm.java.math.BigDecimal
    six = Decimal(1).scaleb(-6)

    def rnd6(x: float) -> float:
        # BigDecimal.valueOf = Java Double.toString semantics (py4j
        # hands its value back as a Python Decimal); quantize HALF_UP
        # + float() replicate setScale(6, HALF_UP).doubleValue()
        d = jbd.valueOf(float(x))
        return float(Decimal(d).quantize(six, rounding=ROUND_HALF_UP))

    cands = {r[0]: r[1] for r in rel.select("c_id", "rel").collect()}
    sims: dict = {}
    for r in pairs.select("a", "b", "sim").collect():
        sims[(r[0], r[1])] = r[2]
    selected: list[int] = []
    out = []
    for step in range(1, k + 1):
        b_cid, b_mmr = None, None
        for cid in sorted(cands):
            red = 0.0
            if selected:
                red = max(
                    (sims[(cid, s)] for s in selected if (cid, s) in sims),
                    default=0.0,
                )
            m = rnd6(lam * cands[cid] - (1 - lam) * red)
            # desc(mmr), asc(c_id) with Spark's NaN-largest ordering;
            # ascending cid iteration makes "first NaN wins" the tie rule
            if b_cid is None or (
                math.isnan(m) and not math.isnan(b_mmr)
            ) or m > b_mmr:
                b_cid, b_mmr = cid, m
        if b_cid is None:
            break
        out.append((step, b_cid, b_mmr))
        selected.append(b_cid)
        del cands[b_cid]
    return out


# ------------------------------------------------- registered queries


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-10 over the 30 best cosine candidates for
    query vector 0 (λ=0.7)."""
    rel, pairs = _cand_frames(spark, sf_dir)
    rows = mmr_select(rel, pairs, LAMBDA, K_OUT)
    return spark.createDataFrame(rows, "step int, doc_id long, mmr double")


QUERIES = {"mmr_rerank": q_mmr_rerank}


def _oracle() -> str:
    from tcrd_spark.pipeline.testdata_queries import (
        _EMB_NORMED,
        _sql_pair_score,
    )

    lam = LAMBDA
    pre = f"""
        e AS MATERIALIZED ({_EMB_NORMED}),
        q AS (SELECT vec_id AS q_id, v, nrm FROM e WHERE vec_id = 0),
        c AS (SELECT vec_id AS c_id, v, nrm FROM e),
        cand AS MATERIALIZED (
            SELECT c.c_id, c.v, c.nrm,
                   {_sql_pair_score('q', 'c')} AS rel
            FROM c CROSS JOIN q
            ORDER BY rel DESC, c.c_id ASC LIMIT {N_CAND}
        ),
        pairs AS MATERIALIZED (
            SELECT a.c_id AS a, b.c_id AS b,
                   {_sql_pair_score('a', 'b')} AS sim
            FROM cand a JOIN cand b ON a.c_id != b.c_id
        ),
        s1 AS MATERIALIZED (
            SELECT 1 AS step, c_id AS doc_id,
                   round({lam} * rel, 6) AS mmr
            FROM cand ORDER BY round({lam} * rel, 6) DESC, c_id ASC
            LIMIT 1
        )
    """
    steps = []
    for i in range(2, K_OUT + 1):
        prev_union = " UNION ALL ".join(
            f"SELECT doc_id FROM s{j}" for j in range(1, i)
        )
        steps.append(f"""
        sel{i} AS MATERIALIZED ({prev_union}),
        s{i} AS MATERIALIZED (
            SELECT {i} AS step, cand.c_id AS doc_id,
                   round({lam} * cand.rel - {1 - lam} * coalesce((
                       SELECT max(p.sim) FROM pairs p
                       WHERE p.a = cand.c_id
                         AND p.b IN (SELECT doc_id FROM sel{i})
                   ), 0.0), 6) AS mmr
            FROM cand
            WHERE cand.c_id NOT IN (SELECT doc_id FROM sel{i})
            ORDER BY mmr DESC, cand.c_id ASC
            LIMIT 1
        )""")
    final = " UNION ALL ".join(f"SELECT * FROM s{j}" for j in range(1, K_OUT + 1))
    return "WITH " + pre + "," + ",".join(steps) + " " + final


ORACLE = {"mmr_rerank": _oracle()}
