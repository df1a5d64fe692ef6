"""SemDeDup — embedding-cluster (semantic) deduplication.

Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
through semantic deduplication", arXiv:2303.09540): k-means clusters
the embedding space; cosine near-dup pairs are computed ONLY within a
cluster; transitive groups collapse to one kept example — the paper
keeps the member with the LOWEST cosine to its cluster centroid
(retain the "hardest" / least prototypical example for diversity).

The whole point of the method is the pair-generation bound: candidate
pairs are cluster-scoped, O(Σᵢ nᵢ²) instead of the all-pairs O(n²) —
with k balanced clusters that is a k× flop cut, and on Spark it makes
the self-join an EQUI-join on cell_id (shuffle co-partitions each
cluster; tests/test_plans.py asserts no cartesian/BNLJ node exists in
the pair plan). Composition is entirely existing machinery:

    similarity.assign_cells      row-local broadcast-argmax assignment
    equi-self-join on cell_id    the cluster-scoped pair generator
    corpus.dedup_groups          CC groups + rep_by election
                                 (rep_by = distance to own centroid)

The adjudicated queries use the deterministic first-8-by-id centroid
contract (`ann_ivf`'s); the trained-k-means path is exercised in
tests/test_semdedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.pipeline.dedup import (
    EMB_DIM,
    dot,
    embedding_near_dups_blocked,
    oracle_dot,
)
from tcrd_spark.pipeline.similarity import _with_norm, assign_cells, panel
from tcrd_spark.session import memo

def semantic_pairs(
    corpus: DataFrame, centroids: DataFrame, dim: int,
    threshold: float = 0.4,
    _assigned: DataFrame | None = None,
) -> DataFrame:
    """(cell_id, id_a, id_b, score): cosine ≥ threshold pairs WITHIN a
    cluster (id_a < id_b). corpus: (c_id, c_vec); centroids:
    (cell_id, cell_vec). Cross-cluster pairs are never generated —
    the join key is cell_id. ``_assigned`` lets semantic_dedup reuse
    one cached assignment across its three consumers."""
    a = (
        _assigned
        if _assigned is not None
        else assign_cells(corpus, centroids, dim)
    )
    left = a.select(
        "cell_id",
        F.col("c_id").alias("id_a"),
        F.col("c_vec").alias("va"),
        F.col("c_vec_nrm").alias("na"),
    )
    right = a.select(
        "cell_id",
        F.col("c_id").alias("id_b"),
        F.col("c_vec").alias("vb"),
        F.col("c_vec_nrm").alias("nb"),
    )
    score = F.round(
        dot("va", "vb", dim) / (F.col("na") * F.col("nb")), 6
    )
    return (
        left.join(right, "cell_id")
        .where(F.col("id_a") < F.col("id_b"))
        .select("cell_id", "id_a", "id_b", score.alias("score"))
        .where(F.col("score") >= threshold)
    )


def semantic_pairs_blocked(
    corpus: DataFrame, centroids: DataFrame, dim: int,
    threshold: float = 0.4,
    _assigned: DataFrame | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """The SCALE form of semantic_pairs — identical output, BLAS
    execution. The plain equi-join scores each candidate with an
    interpreted 128-term expression and, worse, lands every pair of a
    hot cluster on ONE shuffle partition (a cell is a single join
    key): measured ×93 for ×10 data at sf1. This form is
    `dedup.embedding_near_dups_blocked` grouped by cell_id: one
    applyInPandas task per (cell, block-pair) runs a numpy matmul, so
    task memory is bounded REGARDLESS of cluster skew, every pair meets
    in exactly one task, and cross-cluster pairs cannot exist. Rounded
    cosines are bit-identical to the join scorer and the DuckDB oracle.

    ``n_rows``: the corpus row count when the caller knows it; the
    scorer then sizes its block count from it (dedup._adaptive_blocks),
    so a small corpus does not pay the full grid of Python-task
    launches per cell for tiny matmuls. Output is identical for every
    block count."""
    a = (
        _assigned
        if _assigned is not None
        else assign_cells(corpus, centroids, dim)
    )
    return embedding_near_dups_blocked(
        a, "c_id", "c_vec", dim, threshold, group_col="cell_id",
        n_rows=n_rows,
    ).withColumnRenamed("cos_sim", "score")


def centroid_distance(
    corpus: DataFrame, centroids: DataFrame, dim: int,
    _assigned: DataFrame | None = None,
) -> DataFrame:
    """(c_id, cell_id, dist): 1 − cosine to the vector's OWN centroid
    — the paper's keep-the-farthest representative score. One
    broadcast join after the row-local assignment."""
    a = (
        _assigned
        if _assigned is not None
        else assign_cells(corpus, centroids, dim)
    )
    cent = _with_norm(centroids, "cell_id", "cell_vec", dim)
    return a.join(F.broadcast(cent), "cell_id").select(
        "c_id",
        "cell_id",
        F.round(
            F.lit(1.0)
            - dot("c_vec", "cell_vec", dim)
            / (F.col("c_vec_nrm") * F.col("cell_vec_nrm")),
            6,
        ).alias("dist"),
    )


def _assign(corpus: DataFrame, centroids: DataFrame, dim: int) -> DataFrame:
    from tcrd_spark.operators.lineage import cache

    return cache(assign_cells(corpus, centroids, dim), "semdedup-assign")


def semantic_dedup(
    corpus: DataFrame, centroids: DataFrame, dim: int,
    threshold: float = 0.4,
    _assigned: DataFrame | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """(c_id, group_id, group_sz, rep_id): cluster-scoped near-dup
    pairs → CC groups → representative = the member FARTHEST from its
    centroid (max dist, ties to smallest id). Keep `c_id == rep_id`
    to apply the dedup.

    The assignment is computed ONCE and cached (rotating store slot)
    — three consumers read it (both pair sides + the rep score);
    without the barrier the 64-dim argmax re-executes per consumer and
    per CC truncation."""
    from tcrd_spark.pipeline.corpus import dedup_groups

    a = _assigned if _assigned is not None else _assign(corpus, centroids, dim)
    pairs = semantic_pairs_blocked(
        corpus, centroids, dim, threshold, _assigned=a, n_rows=n_rows
    )
    scored = centroid_distance(corpus, centroids, dim, _assigned=a).select(
        "c_id", "dist"
    )
    return dedup_groups(scored, pairs, "c_id", rep_by="dist")


def semantic_dedup_reps(
    corpus: DataFrame, centroids: DataFrame, dim: int,
    threshold: float = 0.4,
    _assigned: DataFrame | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """The kept c_ids only — the set ``semantic_dedup(...)
    .filter(c_id == rep_id)`` selects, via the reps-only election
    (corpus.dedup_group_reps): keep-one consumers (corpus_pipeline_v2
    stage 5) don't need group ids/sizes per member, so the size
    aggregate and both join-backs drop out of the composed plan."""
    from tcrd_spark.pipeline.corpus import dedup_group_reps

    a = _assigned if _assigned is not None else _assign(corpus, centroids, dim)
    pairs = semantic_pairs_blocked(
        corpus, centroids, dim, threshold, _assigned=a, n_rows=n_rows
    )
    scored = centroid_distance(corpus, centroids, dim, _assigned=a).select(
        "c_id", "dist"
    )
    return dedup_group_reps(scored, pairs, "c_id", rep_by="dist")


# ------------------------------------------------- registered queries


def _assigned_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cell assignment both registered queries read — memoized per
    sf_dir like the SQ/PQ code tables (one cached copy, shared by the
    pair sides, the rep score, and repeated bench/sweep invocations)."""
    from tcrd_spark.operators.lineage import cut

    # lineage-cut the memoized assignment: .cache() does not bound
    # Catalyst analysis, so the argmax-over-centroids tree (64-dim dot
    # products × 8 cells) was re-analyzed by every reader (pair sides,
    # rep score, both registered queries) — the cut makes each reader's
    # plan start from an opaque scan of the cached rows
    def build():
        corpus, _, cents = panel(spark, sf_dir)
        return assign_cells(corpus, cents, EMB_DIM)

    return cut(build, "semassign", sf_dir)


def _assigned_count_cached(spark: SparkSession, sf_dir: str) -> int:
    """Row count of the memoized assignment — one cheap job over the
    cached cut, memoized alongside it; sizes the adaptive pair blocks."""
    return memo(
        spark, "semassign-n", sf_dir,
        lambda: _assigned_cached(spark, sf_dir).count(),
    )


def q_semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-scoped cosine ≥ 0.4 pairs over the embeddings table
    (first-8 centroid contract), via the blocked BLAS scorer."""
    corpus, _, cents = panel(spark, sf_dir)
    return semantic_pairs_blocked(
        corpus, cents, EMB_DIM, threshold=0.4,
        _assigned=_assigned_cached(spark, sf_dir),
        n_rows=_assigned_count_cached(spark, sf_dir),
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SemDeDup: groups + farthest-from-centroid representatives."""
    corpus, _, cents = panel(spark, sf_dir)
    return semantic_dedup(
        corpus, cents, EMB_DIM, threshold=0.4,
        _assigned=_assigned_cached(spark, sf_dir),
        n_rows=_assigned_count_cached(spark, sf_dir),
    )


QUERIES = {
    "semantic_dedup_pairs": q_semantic_dedup_pairs,
    "semantic_dedup": q_semantic_dedup,
}


# ------------------------------------------------------ DuckDB oracle


_ASSIGN_CTES = f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS c_id, v, sqrt({oracle_dot("v", "v")}) AS nrm FROM e),
cent AS (
  SELECT vec_id AS cell_id, v, sqrt({oracle_dot("v", "v")}) AS nrm
  FROM e WHERE vec_id < 8
),
an AS MATERIALIZED (
  SELECT c_id, cell_id, v, nrm, cdist FROM (
    SELECT c.c_id, cent.cell_id, c.v, c.nrm,
           round(1.0 - {oracle_dot("c.v", "cent.v")} / (c.nrm * cent.nrm), 6)
             AS cdist,
           row_number() OVER (
             PARTITION BY c.c_id
             ORDER BY round({oracle_dot("c.v", "cent.v")}
                            / (c.nrm * cent.nrm), 6) DESC,
                      cent.cell_id ASC) AS rn
    FROM c CROSS JOIN cent
  ) WHERE rn = 1
),
p AS (
  SELECT a.cell_id, a.c_id AS id_a, b.c_id AS id_b,
         round({oracle_dot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS score
  FROM an a JOIN an b ON a.cell_id = b.cell_id AND a.c_id < b.c_id
),
pairs AS MATERIALIZED (SELECT * FROM p WHERE score >= 0.4)
"""

ORACLE = {
    "semantic_dedup_pairs": f"""
        WITH {_ASSIGN_CTES}
        SELECT cell_id, id_a, id_b, score FROM pairs
    """,
    "semantic_dedup": f"""
        WITH RECURSIVE {_ASSIGN_CTES},
        edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION ALL
          SELECT id_b AS u, id_a AS v FROM pairs
        ),
        walk(node, lbl) AS (
          SELECT vec_id, vec_id FROM e
          UNION
          SELECT ed.v, w.lbl FROM walk w JOIN edges ed ON ed.u = w.node
        ),
        labels AS (
          SELECT node AS c_id, min(lbl) AS group_id FROM walk GROUP BY 1
        ),
        reps AS (
          SELECT group_id, c_id AS rep_id FROM (
            SELECT l.group_id, l.c_id,
                   row_number() OVER (PARTITION BY l.group_id
                                      ORDER BY a.cdist DESC,
                                               l.c_id ASC) AS rn
            FROM labels l JOIN an a USING (c_id)
          ) WHERE rn = 1
        )
        SELECT l.c_id, l.group_id, s.group_sz, r.rep_id
        FROM labels l
        JOIN (SELECT group_id, count(*) AS group_sz
              FROM labels GROUP BY 1) s USING (group_id)
        JOIN reps r USING (group_id)
    """,
}
