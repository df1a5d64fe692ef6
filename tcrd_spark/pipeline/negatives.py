"""Hard-negative mining for contrastive training — per anchor vector,
the most-similar corpus vectors that are NOT near-duplicates: similar
enough to be informative negatives, below the duplicate threshold so
they are not false negatives. The standard dataset-construction step
for embedding/retrieval training (in-batch negatives are easy; mined
hard negatives are what move the model).

Per anchor: rank corpus by cosine DESC, drop self and anything with
score >= dup_threshold (those are positives/duplicates, not
negatives), keep the top k. Scores rounded to 6 for the oracle.

Both paths are the retrieval core's composition (similarity.py):
candidates × the exact scorer × `operators/topk.top_k`, with the
negative filter between scorer and top-k. `hard_negatives` scores
every corpus row against the broadcast anchor panel (one pass,
WindowGroupLimit heap per anchor). For corpus-scale anchor sets,
`hard_negatives_shortlist` takes its candidates from the persisted-IVF
probe instead (`ivf_topk_indexed`, partition-pruned to the probed
cells) and applies the SAME sub-threshold filter + top-k over that
shortlist — the composition is tested (overlap bound vs the exact
path, tests/test_round7_ext.py) and adjudicated
(`hard_negatives_shortlist`).

Reference parity: none (extension, SURVEY §2 corpus-construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.operators.topk import top_k
from tcrd_spark.pipeline.dedup import EMB_DIM
from tcrd_spark.pipeline.similarity import (
    _all_pairs,
    _exact,
    ivf_topk_indexed,
    panel,
    panel_ivf_index,
)

K = 5
DUP_THRESHOLD = 0.95


def _negatives(scored: DataFrame, dup_threshold: float) -> DataFrame:
    """Drop self and the near-duplicates (score >= dup_threshold)."""
    return scored.filter(
        (F.col("c_id") != F.col("q_id")) & (F.col("score") < dup_threshold)
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = K,
    dup_threshold: float = DUP_THRESHOLD,
) -> DataFrame:
    """(q_id, c_id, score, rank): the k best sub-threshold negatives
    per anchor. queries: (q_id, q_vec); corpus: (c_id, c_vec)."""
    scored = _exact(_all_pairs(queries, corpus, dim), dim)
    return top_k(_negatives(scored, dup_threshold), k)


SHORTLIST = 50
N_PROBE = 2


def hard_negatives_shortlist(
    queries: DataFrame,
    index_path: str,
    centroids: DataFrame,
    dim: int,
    k: int = K,
    dup_threshold: float = DUP_THRESHOLD,
    shortlist: int = SHORTLIST,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """The corpus-scale path: an IVF shortlist (partition-pruned probe
    of a persisted index) replaces the exact corpus scan; the identical
    sub-threshold filter + re-rank runs over the candidate list. The
    shortlist must be deep enough to survive the duplicate filter
    (shortlist >> k); recall vs the exact path is the IVF probe's
    recall, pytest-bounded."""
    cand = ivf_topk_indexed(
        queries, index_path, centroids, dim, k=shortlist, n_probe=n_probe
    ).drop("rank")
    return top_k(_negatives(cand, dup_threshold), k)


# ------------------------------------------------- registered query


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hard negatives (cosine < 0.95, excluding self) for the
    standard 5-anchor panel over the embeddings corpus."""
    corpus, qs, _ = panel(spark, sf_dir)
    return hard_negatives(
        qs, corpus, EMB_DIM, k=K, dup_threshold=DUP_THRESHOLD
    )


def q_hard_negatives_shortlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 5-anchor panel mined through the persisted-IVF
    shortlist (first-8 centroids, probe 2, shortlist 50): the scan is
    partition-pruned to the probed cells, and the identical
    sub-threshold filter + rank runs over the candidates. The oracle
    replicates the probe algorithm, so results hash-match exactly.
    The index is the one `ann_ivf_indexed` searches."""
    _, qs, centroids = panel(spark, sf_dir)
    return hard_negatives_shortlist(
        qs, panel_ivf_index(spark, sf_dir), centroids, EMB_DIM, k=K,
        dup_threshold=DUP_THRESHOLD, shortlist=SHORTLIST, n_probe=N_PROBE,
    )


QUERIES = {
    "hard_negatives": q_hard_negatives,
    "hard_negatives_shortlist": q_hard_negatives_shortlist,
}


def _oracle() -> str:
    from tcrd_spark.pipeline.dedup import oracle_dot

    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        c AS (SELECT vec_id AS c_id, v,
                     sqrt({oracle_dot("v", "v")}) AS nrm FROM e),
        q AS (SELECT vec_id AS q_id, v,
                     sqrt({oracle_dot("v", "v")}) AS nrm
              FROM e WHERE vec_id < 5),
        scored AS (
          SELECT q.q_id, c.c_id,
                 round({oracle_dot("q.v", "c.v")} / (q.nrm * c.nrm), 6)
                   AS score
          FROM c CROSS JOIN q
        )
        SELECT q_id, c_id, score, rank FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY score DESC, c_id ASC) AS rank
          FROM scored
          WHERE c_id != q_id AND score < {DUP_THRESHOLD}
        ) WHERE rank <= {K}
    """


def _oracle_shortlist() -> str:
    """Replicates the probe algorithm (argmax cell assignment, top-2
    probed cells, exact cosine within probed lists, shortlist-50) and
    then the same negative filter + re-rank — identical arithmetic to
    the Spark path, so the adjudication is an exact hash match."""
    from tcrd_spark.pipeline.dedup import oracle_dot

    def score(a: str, b: str) -> str:
        return (
            f"round({oracle_dot(f'{a}.v', f'{b}.v')} / ({a}.nrm * {b}.nrm), 6)"
        )

    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                   FROM embeddings),
        n AS (SELECT vec_id, v, sqrt({oracle_dot("v", "v")}) AS nrm FROM e),
        q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE vec_id < 5),
        c AS (SELECT vec_id AS c_id, v, nrm FROM n),
        cent AS (SELECT vec_id AS cell_id, v, nrm FROM n WHERE vec_id < 8),
        assigned AS (
          SELECT c_id, v, nrm, cell_id FROM (
            SELECT c.c_id, c.v, c.nrm, cent.cell_id,
                   row_number() OVER (
                     PARTITION BY c.c_id
                     ORDER BY {score('c', 'cent')} DESC,
                              cent.cell_id ASC) AS rn
            FROM c CROSS JOIN cent
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT q_id, v, nrm, cell_id FROM (
            SELECT q.q_id, q.v, q.nrm, cent.cell_id,
                   row_number() OVER (
                     PARTITION BY q.q_id
                     ORDER BY {score('q', 'cent')} DESC,
                              cent.cell_id ASC) AS rn
            FROM q CROSS JOIN cent
          ) WHERE rn <= {N_PROBE}
        ),
        short AS (
          SELECT q_id, c_id, score FROM (
            SELECT p.q_id, a.c_id, {score('p', 'a')} AS score,
                   row_number() OVER (
                     PARTITION BY p.q_id
                     ORDER BY {score('p', 'a')} DESC, a.c_id ASC) AS rn
            FROM probes p JOIN assigned a ON p.cell_id = a.cell_id
          ) WHERE rn <= {SHORTLIST}
        )
        SELECT q_id, c_id, score, rank FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY score DESC, c_id ASC) AS rank
          FROM short
          WHERE c_id != q_id AND score < {DUP_THRESHOLD}
        ) WHERE rank <= {K}
    """


ORACLE = {
    "hard_negatives": _oracle(),
    "hard_negatives_shortlist": _oracle_shortlist(),
}
