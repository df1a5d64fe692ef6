"""The one candidate-pair join (tcrd_spark/operators/blocking.py) on
small in-memory frames: empty sides, NULL ids and keys, a hot block,
the batch-vs-other probe, and the shared-block count."""

from __future__ import annotations

import pytest

from tcrd_spark.operators.blocking import candidate_pairs, drop_hot_blocks

KEYS = "id long, k string"


def _pairs(df, cols=("id_a", "id_b", "shared")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_empty_input_on_either_side(spark):
    empty = spark.createDataFrame([], KEYS)
    some = spark.createDataFrame([(1, "x"), (2, "x")], KEYS)
    assert _pairs(candidate_pairs(empty, "id", "k")) == []
    assert _pairs(candidate_pairs(empty, "id", "k", other=some)) == []
    assert _pairs(candidate_pairs(some, "id", "k", other=empty)) == []
    assert drop_hot_blocks(empty, "k", 1).count() == 0


def test_null_ids_and_null_keys_never_pair(spark):
    keys = spark.createDataFrame(
        [(1, "k"), (None, "k"), (4, "k"), (2, None), (3, None)], KEYS
    )
    assert _pairs(candidate_pairs(keys, "id", "k")) == [(1, 4, 1)]
    other = spark.createDataFrame([(7, "k"), (None, "k"), (8, None)], KEYS)
    assert _pairs(candidate_pairs(keys, "id", "k", other=other)) == [
        (1, 7, 1),
        (4, 7, 1),
    ]


def test_hot_block_is_dropped_and_cold_pair_survives(spark):
    # five ids share "hot"; ids 1 and 2 also share "cold"
    rows = [(i, "hot") for i in range(1, 6)] + [(1, "cold"), (2, "cold")]
    keys = spark.createDataFrame(rows, KEYS)
    capped = drop_hot_blocks(keys, "k", 3)
    assert sorted(r["k"] for r in capped.collect()) == ["cold", "cold"]
    assert _pairs(candidate_pairs(capped, "id", "k")) == [(1, 2, 1)]
    # at the cap the block stays: a block of exactly max_block rows
    assert drop_hot_blocks(keys, "k", 5).count() == 7
    assert drop_hot_blocks(keys, "k", None) is keys


def test_other_mode_emits_both_id_orders(spark):
    keys = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], KEYS)
    other = spark.createDataFrame([(2, "x"), (1, "y"), (3, "z")], KEYS)
    # no id_a < id_b filter: (2, 1) and the id-equal (3, 3) stay
    assert _pairs(candidate_pairs(keys, "id", "k", other=other)) == [
        (1, 2, 1),
        (2, 1, 1),
        (3, 3, 1),
    ]


def test_shared_counts_the_blocks_a_pair_shares(spark):
    rows = [
        (1, "p"), (1, "q"), (1, "r"),
        (2, "p"), (2, "q"), (2, "r"),
        (3, "r"),
    ]
    keys = spark.createDataFrame(rows, KEYS)
    assert _pairs(candidate_pairs(keys, "id", "k")) == [
        (1, 2, 3),
        (1, 3, 1),
        (2, 3, 1),
    ]


def test_carry_columns_come_back_per_side(spark):
    keys = spark.createDataFrame(
        [(1, "x", 10), (2, "x", 20), (2, "y", 20), (3, "y", 30)],
        "id long, k string, sig long",
    )
    got = _pairs(
        candidate_pairs(keys, "id", "k", carry=("sig",)),
        ("id_a", "id_b", "sig_a", "sig_b", "shared"),
    )
    assert got == [(1, 2, 10, 20, 1), (2, 3, 20, 30, 1)]


@pytest.mark.parametrize("other", [False, True])
def test_unread_shared_is_pruned_to_a_distinct(spark, other):
    """A caller that never selects ``shared`` pays no count: the
    optimized plan's aggregate has grouping keys only."""
    keys = spark.createDataFrame([(1, "x"), (2, "x")], KEYS)
    pairs = candidate_pairs(keys, "id", "k", other=keys if other else None)
    plan = pairs.select("id_a", "id_b")._jdf.queryExecution().optimizedPlan()
    assert "count(" not in plan.toString(), plan.toString()
