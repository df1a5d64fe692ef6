"""SemDeDup (pipeline/semdedup.py): cluster-scoped pair generation
(the plan proves it — no cartesian/BNLJ node, the self-join is keyed
by cell_id), farthest-from-centroid representatives, and the trained
k-means centroid path."""

from __future__ import annotations

from pyspark.sql import functions as F

from tcrd_spark.pipeline.dedup import EMB_DIM
from tcrd_spark.pipeline.semdedup import (
    centroid_distance,
    semantic_dedup,
    semantic_pairs,
)
from tcrd_spark.sources.lake import load_table


def _panel(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"),
        F.col("embedding").alias("cell_vec"),
    )
    return corpus, cents


def test_pair_generation_is_cluster_bounded_in_the_plan(
    spark, sf_dir, tmp_path
):
    """The method's point: candidate pairs are generated per cluster,
    never corpus×corpus. Isolating the pair stage on a MATERIALIZED
    assignment (a parquet round-trip — the persisted-index shape; the
    registered query's memoized cache is the in-session equivalent),
    its plan must be an EQUI-join keyed by cell_id with no cartesian /
    nested-loop node — the (id_a < id_b) inequality rides the
    equi-join as a post condition, it never degrades the strategy."""
    from tests.test_plans import plan_of
    from tcrd_spark.pipeline.similarity import assign_cells

    corpus, cents = _panel(spark, sf_dir)
    path = str(tmp_path / "assigned")
    assign_cells(corpus, cents, EMB_DIM).write.parquet(path)
    assigned = spark.read.parquet(path)
    plan = plan_of(
        semantic_pairs(corpus, cents, EMB_DIM, 0.4, _assigned=assigned)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    join_lines = [
        l for l in plan.splitlines()
        if "SortMergeJoin" in l or "ShuffledHashJoin" in l
        or "BroadcastHashJoin" in l
    ]
    assert join_lines, plan
    keys = "\n".join(
        l for l in plan.splitlines() if "keys" in l or "Join" in l
    )
    assert "cell_id" in keys, plan


def test_blocked_scorer_matches_join_scorer(spark, sf_dir):
    """The BLAS-blocked pair scorer (what the registered queries run —
    a hot cluster is split over B(B+1)/2 bounded tasks instead of one
    shuffle partition; measured 574s → 14s at sf1) must emit exactly
    the join scorer's pairs with bit-identical rounded scores, and its
    grouping key must include cell_id (cross-cluster pairs cannot
    exist by construction)."""
    from tests.dual_path import assert_paths_agree
    from tests.test_plans import plan_of
    from tcrd_spark.pipeline.semdedup import semantic_pairs_blocked

    # the case is the harness's semdedup/panel fixture: the sf0.001
    # panel with the first-8 centroid contract at the default 16
    # blocks; the shared fixtures cover every block count
    # (tests/test_dual_path.py)
    assert assert_paths_agree(
        spark, sf_dir, "semdedup", ("panel",), paths=("join", "blocks-16")
    )["panel"]
    corpus, cents = _panel(spark, sf_dir)
    blocked = semantic_pairs_blocked(corpus, cents, EMB_DIM, 0.4)
    plan = plan_of(blocked)
    assert "FlatMapGroupsInPandas" in plan, plan
    # the grouping keys surface in the node's Arguments line
    args = [
        l for l in plan.splitlines()
        if "Arguments" in l and "cell_id" in l and "bi" in l and "bj" in l
    ]
    assert args, plan


def test_pairs_are_co_clustered_and_thresholded(spark, sf_dir):
    corpus, cents = _panel(spark, sf_dir)
    from tcrd_spark.pipeline.similarity import assign_cells

    cells = {
        r["c_id"]: r["cell_id"]
        for r in assign_cells(corpus, cents, EMB_DIM).collect()
    }
    rows = semantic_pairs(corpus, cents, EMB_DIM, 0.4).collect()
    assert rows, "no pairs at threshold 0.4 — fixture regression"
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert cells[r["id_a"]] == cells[r["id_b"]] == r["cell_id"]
        assert r["score"] >= 0.4


def test_representative_is_farthest_from_centroid(spark, sf_dir):
    corpus, cents = _panel(spark, sf_dir)
    dist = {
        r["c_id"]: r["dist"]
        for r in centroid_distance(corpus, cents, EMB_DIM).collect()
    }
    rows = semantic_dedup(corpus, cents, EMB_DIM, 0.4).collect()
    by_group: dict[int, list] = {}
    for r in rows:
        by_group.setdefault(r["group_id"], []).append(r)
    assert len(rows) == len(dist)  # every vector labeled exactly once
    for members in by_group.values():
        rep = members[0]["rep_id"]
        assert all(m["rep_id"] == rep for m in members)
        best = max(
            (m["c_id"] for m in members),
            key=lambda i: (dist[i], -i),
        )
        assert rep == best, (rep, best, members)


def test_trained_centroids_path(spark, sf_dir):
    """SemDeDup over kmeans-trained cells: same invariants, clusters
    learned instead of the first-8 contract."""
    from tcrd_spark.pipeline.similarity import kmeans_centroids

    corpus, _ = _panel(spark, sf_dir)
    cents = kmeans_centroids(corpus, EMB_DIM, k=8, n_iters=2)
    rows = semantic_dedup(corpus, cents, EMB_DIM, 0.4).collect()
    assert len(rows) == corpus.count()
    dup_groups = [r for r in rows if r["group_sz"] > 1]
    assert dup_groups, "trained clusters found no near-dups at 0.4"
