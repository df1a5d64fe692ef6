"""Triangle-counting axioms: known graphs, exactly-once counting under
orientation, hub robustness (values vs DuckDB ride the registry
sweep)."""

from __future__ import annotations

from itertools import combinations

from tcrd_spark.operators.triangles import oriented_edges, triangle_counts


def _tc(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return {r.node: r.n_triangles for r in triangle_counts(df, "src", "dst").collect()}


def test_single_triangle(spark):
    got = _tc(spark, [(1, 2), (2, 3), (3, 1)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_k4_has_four_triangles(spark):
    pairs = list(combinations([1, 2, 3, 4], 2))
    got = _tc(spark, pairs)
    # K4: 4 triangles, each node in exactly 3
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_duplicate_and_reversed_edges_collapse(spark):
    got = _tc(spark, [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3), (1, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_star_has_no_triangles(spark):
    got = _tc(spark, [(1, h) for h in range(2, 10)])
    assert got == {}


def test_orientation_is_acyclic_by_degree(spark):
    # hub 1 (deg 4) must be the 'hi' end of every oriented edge
    pairs = [(1, 2), (1, 3), (1, 4), (1, 5), (2, 3)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    o = oriented_edges(df, "src", "dst").collect()
    assert all(r.hi == 1 for r in o if 1 in (r.lo, r.hi))


def test_tri_edge_memo_evicts_other_keys(spark, sf_dir):
    """r7 ADVICE: the oriented-edge memo slot keeps at most the current
    (applicationId, sf_dir) entry — a dead app's or another sf_dir's
    frame is unpersisted, not pinned for the session lifetime."""
    from tcrd_spark.operators import triangles as tri
    from tcrd_spark.session import _SESSION_MEMO

    tri.q_triangle_counts(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    assert _SESSION_MEMO["triangle-edges"][0] == key
    # plant a foreign entry (dead app), then an alternate sf_dir entry
    for planted in (("dead-app", sf_dir), (key[0], "/elsewhere")):
        ghost = spark.createDataFrame([(1,)], "x long").cache()
        _SESSION_MEMO["triangle-edges"] = (planted, ghost)
        tri.q_triangle_counts(spark, sf_dir)
        assert _SESSION_MEMO["triangle-edges"][0] == key
        assert not ghost.is_cached
