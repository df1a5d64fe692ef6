"""Distributed embedding moments — covariance, whitening, PCA prep.

The linear-algebra step every embedding pipeline eventually needs:
estimate the corpus covariance (for whitening/PCA/OPQ-style rotation
training), derive the d×d transform on the driver (d is small; the
CORPUS is what's big), and project every vector through it.

Scale shape: the only corpus-sized work is ONE pass of per-partition
moment accumulation (mapInPandas: each Arrow batch contributes
n, Σx, ΣxxT via a single BLAS `X.T @ X`) reduced to
|partitions| rows of d(d+1)/2 + d + 1 doubles — kilobytes at any
corpus size. The eigendecomposition runs on the driver over a d×d
matrix (bounded by DIMENSION, not data), and the projection is a
broadcast-matrix Arrow-batched matmul back over the corpus. Nothing
quadratic in rows ever exists.

The adjudicated query (`embedding_covariance`) uses the explode/
self-join SPECIFICATION of the same quantity — DuckDB-expressible,
hash-matched — and the moment path is pytest-pinned equal to it
(the semdedup naive-spec / fast-path discipline).

Reference parity: none (extension; SURVEY §2 corpus-construction,
with pipeline/similarity.py and pq.py which consume the rotation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.pipeline.dedup import EMB_DIM


def covariance_pairs(
    emb: DataFrame, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    """Population covariance entries (i, j, cov) for i <= j — the
    explode/self-join specification: E[xy] per pair minus the outer
    product of means. Quadratic in DIMENSION (d²·rows intermediate),
    linear in rows; the moment path below is the deployment shape."""
    x = emb.select(
        F.col(id_col).alias("_vid"),
        F.posexplode(F.col(vec_col)).alias("i", "xi"),
    ).select("_vid", F.col("i").cast("long").alias("i"),
             F.col("xi").cast("double").alias("xi"))
    a, b = x.alias("a"), x.alias("b")
    exy = (
        a.join(b, (F.col("a._vid") == F.col("b._vid"))
               & (F.col("a.i") <= F.col("b.i")))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.avg(F.col("a.xi") * F.col("b.xi")).alias("exy"))
    )
    mu = x.groupBy("i").agg(F.avg("xi").alias("mu"))
    ma = mu.select(F.col("i").alias("i"), F.col("mu").alias("mu_i"))
    mb = mu.select(F.col("i").alias("j"), F.col("mu").alias("mu_j"))
    return (
        exy.join(F.broadcast(ma), "i").join(F.broadcast(mb), "j")
        .select(
            "i", "j",
            # + 0.0 collapses IEEE -0.0 to 0.0 (a tiny negative
            # covariance rounds to signed zero differently per engine)
            (F.round(
                F.col("exy") - F.col("mu_i") * F.col("mu_j"), 6
            ) + F.lit(0.0)).alias("cov"),
        )
    )


def covariance_matrix(emb: DataFrame, vec_col: str, dim: int):
    """The same covariance as a driver-side numpy (d, d) array, via
    one corpus pass of Arrow-batched partial moments (n, Σx, ΣxxT
    per partition — BLAS, no per-row Python) reduced on the driver.
    Collect size is |partitions| × O(d²) doubles — bounded by config,
    never by corpus size."""
    import numpy as np
    import pandas as pd

    d = dim

    def moments(batches):
        n = 0
        s = np.zeros(d)
        p = np.zeros((d, d))
        for pdf in batches:
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(X) == 0:
                continue
            n += X.shape[0]
            s += X.sum(axis=0)
            p += X.T @ X
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "p": [p.ravel().tolist()]}
            )

    parts = emb.select(vec_col).mapInPandas(
        moments, schema="n long, s array<double>, p array<double>"
    ).collect()
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    p = np.sum(
        [np.asarray(r["p"]).reshape(d, d) for r in parts], axis=0
    )
    mu = s / n
    return p / n - np.outer(mu, mu)


def whitening_matrix(cov, eps: float = 1e-6):
    """ZCA whitening transform W = V diag(1/sqrt(λ+eps)) Vᵀ from a
    d×d covariance — driver-side, bounded by dimension."""
    import numpy as np

    lam, V = np.linalg.eigh(cov)
    return (V * (1.0 / np.sqrt(np.clip(lam, 0.0, None) + eps))) @ V.T


def project(
    emb: DataFrame, id_col: str, vec_col: str, W, dim: int
) -> DataFrame:
    """(id, vec · Wᵀ) over the corpus: W broadcasts (d² doubles), the
    matmul is one BLAS call per Arrow batch."""
    import numpy as np
    import pandas as pd

    Wb = [list(map(float, row)) for row in W]

    def apply(batches):
        Wm = np.asarray(Wb)
        for pdf in batches:
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            out = X @ Wm.T if len(X) else np.zeros((0, dim))
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: [r.tolist() for r in out]}
            )

    return emb.select(id_col, vec_col).mapInPandas(
        apply, schema=f"{id_col} long, {vec_col} array<double>"
    )


# ------------------------------------------------- registered query


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance of the embeddings corpus (2080 rows
    at d=64) — the statistic the whitening/rotation trainers consume."""
    from tcrd_spark.sources.lake import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return covariance_pairs(emb, "vec_id", "embedding", EMB_DIM)


QUERIES = {"embedding_covariance": q_embedding_covariance}

ORACLE = {
    "embedding_covariance": f"""
        WITH x AS (
          SELECT e.vec_id, t.i,
                 CAST(e.embedding[t.i + 1] AS DOUBLE) AS xi
          FROM embeddings e CROSS JOIN (
            SELECT range AS i FROM range({EMB_DIM})
          ) t
        ),
        m AS (SELECT i, avg(xi) AS mu FROM x GROUP BY i),
        p AS (
          SELECT a.i AS i, b.i AS j, avg(a.xi * b.xi) AS exy
          FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
          GROUP BY a.i, b.i
        )
        SELECT p.i, p.j,
               round(p.exy - ma.mu * mb.mu, 6) + 0.0 AS cov
        FROM p
        JOIN m ma ON ma.i = p.i
        JOIN m mb ON mb.i = p.j
    """,
}
