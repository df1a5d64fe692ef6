"""Graph operator tests: hand-computed BFS cases + equivalence of the
two APSP implementations (per-graph applyInPandas BFS vs DataFrame
BFS-to-fixpoint)."""

from __future__ import annotations


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_apsp_hand_computed(spark):
    from tcrd_spark.operators.graph import apsp_iterative, apsp_local

    # graph 1: chain 1->2->3->4 ; graph 2: cycle 10->11->10 plus 11->12
    edges = spark.createDataFrame(
        [
            (1, 1, 2), (1, 2, 3), (1, 3, 4),
            (2, 10, 11), (2, 11, 10), (2, 11, 12),
        ],
        "g long, src long, dst long",
    )
    expected = sorted(
        [
            (1, 1, 2, 1), (1, 1, 3, 2), (1, 1, 4, 3),
            (1, 2, 3, 1), (1, 2, 4, 2), (1, 3, 4, 1),
            (2, 10, 11, 1), (2, 10, 12, 2),
            (2, 11, 10, 1), (2, 11, 12, 1),
        ]
    )
    for impl in (apsp_local, apsp_iterative):
        got = _sorted_rows(impl(edges, "g", "src", "dst", max_hops=8))
        assert got == expected, f"{impl.__name__}: {got}"


def test_apsp_implementations_agree_on_testdata(spark, sf_dir):
    from tcrd_spark.operators.graph import (
        _order_chain_edges,
        apsp_iterative,
        apsp_local,
    )
    from pyspark.sql import functions as F

    edges = _order_chain_edges(spark, sf_dir).filter(F.col("g") % 100 == 0)
    a = _sorted_rows(apsp_local(edges, "g", "src", "dst", max_hops=8))
    b = _sorted_rows(apsp_iterative(edges, "g", "src", "dst", max_hops=8))
    assert a == b and len(a) > 0


def test_ancestor_paths_chain(spark):
    from pyspark.sql import functions as F

    from tcrd_spark.operators.graph import ancestor_paths

    nodes = spark.createDataFrame([(12,)], "node long")

    def parent(c):
        return F.when(c > 1, F.floor(c / 2)).otherwise(F.lit(None))

    got = _sorted_rows(ancestor_paths(nodes, "node", parent))
    # 12 -> 6 -> 3 -> 1
    assert got == [(12, 1, 3), (12, 3, 2), (12, 6, 1)]


def test_nearest_flagged_keeps_ties(spark):
    from tcrd_spark.operators.graph import nearest_flagged

    dist = spark.createDataFrame(
        [(1, 100, 2), (1, 200, 2), (1, 300, 5), (2, 100, 1)],
        "src long, dst long, distance int",
    )
    flagged = spark.createDataFrame([(100,), (200,), (300,)], "k long")
    got = _sorted_rows(nearest_flagged(dist, flagged, "src", "dst", "k"))
    assert got == [(1, 100, 2), (1, 200, 2), (2, 100, 1)]


def test_iterative_loops_release_hop_cuts(spark, monkeypatch):
    """ADVICE r6: loops release superseded hop cuts and hand the final
    one to a rotating store slot, so repeated apsp/CC calls pin a
    constant number of RDDs and the store's clear leaves none."""
    from tcrd_spark.operators.graph import apsp_iterative
    from tcrd_spark.pipeline import corpus
    from tcrd_spark.session import clear

    monkeypatch.setattr(corpus, "_CC_DRIVER_MAX", 0)  # the star loop

    def pinned() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    edges = spark.createDataFrame(
        [(1, a, b) for a, b in [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]],
        "g long, src long, dst long",
    )
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 13)], "u long, v long"
    )
    counts = []
    for _ in range(3):
        apsp_iterative(edges, "g", "src", "dst", max_hops=8).collect()
        corpus.connected_components(e, "u", "v").collect()
        counts.append(pinned())
    assert counts[0] == counts[1] == counts[2], counts
    clear(spark)
    assert pinned() == 0
