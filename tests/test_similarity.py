"""Similarity-search tests: distributed Lloyd k-means training and its
drop-in use as the IVF cell build (`pipeline/similarity.py`)."""

from __future__ import annotations

import math

import pytest


def _cluster(center, n, spread=0.05):
    # deterministic pseudo-noise around a center vector
    out = []
    for i in range(n):
        out.append(
            [
                c + spread * math.sin(7.3 * i + 1.7 * j)
                for j, c in enumerate(center)
            ]
        )
    return out


CENTERS = [
    [5.0, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1],
    [0.1, 5.0, 0.1, 0.1, 0.1, 0.1, 0.1, 0.1],
    [0.1, 0.1, 5.0, 0.1, 0.1, 0.1, 0.1, 0.1],
]


@pytest.fixture(scope="module")
def clustered(spark):
    rows = []
    vid = 0
    for c in CENTERS:
        for v in _cluster(c, 20):
            rows.append((vid, v))
            vid += 1
    return spark.createDataFrame(rows, "c_id long, c_vec array<double>")


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb)


def test_kmeans_guards(clustered):
    """k larger than the corpus and empty corpora fail fast with clear
    errors instead of duplicate centroids / a NoneType crash."""
    from tcrd_spark.pipeline.similarity import kmeans_centroids

    with pytest.raises(ValueError, match="exceeds corpus size"):
        kmeans_centroids(clustered.limit(2), dim=8, k=3, n_iters=1)
    with pytest.raises(ValueError, match="empty corpus"):
        kmeans_centroids(clustered.limit(0), dim=8, k=2, n_iters=1)


def test_kmeans_recovers_separated_clusters(clustered):
    from tcrd_spark.pipeline.similarity import kmeans_centroids

    cents = kmeans_centroids(clustered, dim=8, k=3, n_iters=4)
    got = [r.cell_vec for r in cents.collect()]
    assert len(got) == 3
    # every true center is matched by some trained centroid in cosine
    for c in CENTERS:
        assert max(_cos(c, g) for g in got) > 0.99


def test_kmeans_deterministic(clustered):
    from tcrd_spark.pipeline.similarity import kmeans_centroids

    a = {
        r.cell_id: r.cell_vec
        for r in kmeans_centroids(clustered, dim=8, k=3, n_iters=3).collect()
    }
    b = {
        r.cell_id: r.cell_vec
        for r in kmeans_centroids(clustered, dim=8, k=3, n_iters=3).collect()
    }
    assert a == b


def test_ivf_with_trained_centroids_matches_bruteforce(spark, clustered):
    """With well-separated cells and n_probe=1, IVF over trained
    centroids returns the same neighbors as exact brute force for
    in-cluster queries (the nearest cell IS the right cell)."""
    from pyspark.sql import functions as F

    from tcrd_spark.pipeline.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )

    cents = kmeans_centroids(clustered, dim=8, k=3, n_iters=4)
    queries = clustered.filter(F.col("c_id").isin(0, 25, 45)).select(
        F.col("c_id").alias("q_id"), F.col("c_vec").alias("q_vec")
    )
    corpus = clustered
    exact = {
        (r.q_id, r.rank): r.c_id
        for r in brute_force_topk(queries, corpus, dim=8, k=5).collect()
    }
    ivf = {
        (r.q_id, r.rank): r.c_id
        for r in ivf_topk(
            queries, corpus, cents, dim=8, k=5, n_probe=1
        ).collect()
    }
    assert ivf == exact


def test_recall_at_k(spark, clustered):
    from pyspark.sql import functions as F

    from tcrd_spark.pipeline.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
        recall_at_k,
    )

    cents = kmeans_centroids(clustered, dim=8, k=3, n_iters=4)
    queries = clustered.filter(F.col("c_id").isin(0, 25)).select(
        F.col("c_id").alias("q_id"), F.col("c_vec").alias("q_vec")
    )
    exact = brute_force_topk(queries, clustered, dim=8, k=5)
    approx = ivf_topk(queries, clustered, cents, dim=8, k=5, n_probe=1)
    rec = {r.q_id: r.recall for r in recall_at_k(approx, exact).collect()}
    assert rec == {0: 1.0, 25: 1.0}  # separated clusters: perfect recall
    # a degenerate approx result scores zero, not null
    empty = exact.filter("q_id = -1")
    rec0 = {r.q_id: r.recall for r in recall_at_k(empty, exact).collect()}
    assert rec0 == {0: 0.0, 25: 0.0}


def test_trained_ivf_beats_first_k_on_skewed_corpus(spark):
    """The recall gate VERDICT r3 #3 asks for: on a corpus whose first
    k ids all land in ONE cluster (skewed init), first-k-by-id
    centroids collapse the cell structure, while trained k-means
    recovers it — mean trained recall must be >= mean first-k recall."""
    from pyspark.sql import functions as F

    from tcrd_spark.pipeline.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
        recall_at_k,
    )

    # all of ids 0..19 in cluster 0; clusters 1/2 only at high ids
    rows = []
    vid = 0
    for ci, c in enumerate(CENTERS):
        for v in _cluster(c, 20):
            rows.append((vid, v))
            vid += 1
    skewed = spark.createDataFrame(rows, "c_id long, c_vec array<double>")
    queries = skewed.filter(F.col("c_id").isin(5, 25, 45)).select(
        F.col("c_id").alias("q_id"), F.col("c_vec").alias("q_vec")
    )
    exact = brute_force_topk(queries, skewed, dim=8, k=5)

    firstk = skewed.filter(F.col("c_id") < 3).select(
        F.col("c_id").alias("cell_id"), F.col("c_vec").alias("cell_vec")
    )
    trained = kmeans_centroids(skewed, dim=8, k=3, n_iters=4)

    def mean_recall(cents):
        approx = ivf_topk(queries, skewed, cents, dim=8, k=5, n_probe=1)
        recs = [r.recall for r in recall_at_k(approx, exact).collect()]
        return sum(recs) / len(recs)

    r_first = mean_recall(firstk)
    r_trained = mean_recall(trained)
    assert r_trained >= r_first
    assert r_trained == 1.0  # separated clusters: trained is perfect
