"""MERGE frame semantics (sources/merge.py): update / insert / delete /
keep."""

from __future__ import annotations

import pytest

from tcrd_spark.sources.merge import merge_frames


def test_merge_frames_four_arm_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["id", "name", "score"],
    )
    source = spark.createDataFrame(
        [(2, "B", 25.0), (3, "DEL", 0.0), (4, "d", 40.0)],
        ["id", "name", "score"],
    )
    got = {
        r["id"]: (r["name"], r["score"])
        for r in merge_frames(
            target, source, ["id"],
            delete_condition="s.name = 'DEL'",
        ).collect()
    }
    assert got == {
        1: ("a", 10.0),   # target-only: kept
        2: ("B", 25.0),   # matched: updated to source
        4: ("d", 40.0),   # source-only: inserted
    }                      # 3: matched + delete arm → gone


def test_merge_preserves_null_keyed_target_rows(spark):
    """ADVICE r5 #2 regression: a target row whose merge-key value is
    NULL never equi-matches; classifying sides by key null-ness used
    to misread it as source-only and null out every column. Presence
    markers must keep it verbatim (and never match it to a NULL-keyed
    source row)."""
    target = spark.createDataFrame(
        [(None, "keepme", 7.0), (1, "a", 10.0)],
        "id long, name string, score double",
    )
    source = spark.createDataFrame(
        [(None, "ghost", 0.0), (1, "A", 11.0), (2, "b", 20.0)],
        "id long, name string, score double",
    )
    rows = merge_frames(target, source, ["id"]).collect()
    got = {(r["id"], r["name"], r["score"]) for r in rows}
    # NULL-keyed rows never match each other: target's kept verbatim,
    # source's inserted as a new row.
    assert got == {
        (None, "ghost", 0.0),
        (None, "keepme", 7.0),
        (1, "A", 11.0),
        (2, "b", 20.0),
    }
    assert len(rows) == 4


def test_merge_composite_key_partial_overlap(spark):
    """Composite keys must match on EVERY key column, not keys[0]."""
    target = spark.createDataFrame(
        [(1, 1, "t11"), (1, 2, "t12")], "k1 long, k2 long, v string"
    )
    source = spark.createDataFrame(
        [(1, 2, "S12"), (1, 3, "S13")], "k1 long, k2 long, v string"
    )
    got = sorted(
        (r["k1"], r["k2"], r["v"])
        for r in merge_frames(target, source, ["k1", "k2"]).collect()
    )
    assert got == [(1, 1, "t11"), (1, 2, "S12"), (1, 3, "S13")]


def test_merge_frames_rejects_schema_drift(spark):
    t = spark.createDataFrame([(1, "a")], ["id", "name"])
    s = spark.createDataFrame([(1,)], ["id"])
    with pytest.raises(ValueError, match="schemas differ"):
        merge_frames(t, s, ["id"])
