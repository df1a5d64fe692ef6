"""PageRank properties: mass bounds, known-graph values, and the
production plain-sum path agreeing with the adjudicated sorted-fold
path (value correctness vs DuckDB rides the registry sweep)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tcrd_spark.operators.graph import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_star_graph_center_dominates(spark):
    # 1..4 all point at 5: the sink concentrates mass
    e = _edges(spark, [(1, 5), (2, 5), (3, 5), (4, 5)])
    got = {r.node: r.pagerank for r in pagerank(e, "src", "dst").collect()}
    assert got[5] == max(got.values())
    assert all(abs(got[i] - got[1]) < 1e-9 for i in (2, 3, 4))


def test_cycle_is_uniform(spark):
    # a directed cycle is symmetric: every node gets exactly 1/n
    e = _edges(spark, [(1, 2), (2, 3), (3, 1)])
    vals = [r.pagerank for r in pagerank(e, "src", "dst").collect()]
    assert all(abs(v - 1 / 3) < 1e-6 for v in vals)


def test_mass_is_bounded(spark, sf_dir):
    from tcrd_spark.operators.graph import q_pagerank

    df = q_pagerank(spark, sf_dir)
    agg = df.agg(
        F.sum("pagerank").alias("total"), F.min("pagerank").alias("lo")
    ).collect()[0]
    # dangling nodes leak mass in the simplified variant: total <= 1
    assert 0.5 < agg.total <= 1.0 + 1e-6
    assert agg.lo > 0


def test_plain_sum_matches_sorted_fold(spark):
    e = _edges(
        spark,
        [(a, b) for a in range(1, 8) for b in range(1, 8) if (a * 3 + b) % 4 == 0],
    )
    exact = {r.node: r.pagerank
             for r in pagerank(e, "src", "dst", exact_fold=True).collect()}
    plain = {r.node: r.pagerank
             for r in pagerank(e, "src", "dst", exact_fold=False).collect()}
    assert exact.keys() == plain.keys()
    assert all(abs(exact[k] - plain[k]) < 1e-6 for k in exact)


def test_empty_edges_returns_empty_frame(spark):
    # ADVICE r11: the literal-1/N rewrite raised ZeroDivisionError at
    # plan-build time on an empty edge set; the pre-r11 form returned
    # an empty frame
    e = _edges(spark, [])
    out = pagerank(e, "src", "dst")
    assert out.columns == ["node", "pagerank"]
    assert out.count() == 0


def test_driver_fast_path_matches_distributed(spark, sf_dir):
    """The size-adaptive driver fast path is bit-identical (values and
    schema) to the distributed cut loop — same IEEE divisions, same
    ascending-order left fold, same HALF_UP roundings. The case (150
    random draws over 59 nodes) is the harness's ``pagerank/random``
    fixture."""
    from tests.dual_path import assert_paths_agree

    assert assert_paths_agree(spark, sf_dir, "pagerank", ("random",))["random"]
