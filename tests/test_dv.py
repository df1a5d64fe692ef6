"""Deletion vectors — merge-on-read DELETE (sources/snapshots.py
`delete_version(mode="dv")`): row-identical to the copy-on-write
rewrite, file list untouched, sidecars compose and stay disjoint,
every reader (read_version, pruned reads, MERGE, OPTIMIZE, CDC,
restore, branches) sees the DV-applied state, and GC reclaims
sidecars exactly when no surviving snapshot references them."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tcrd_spark.sources import branches as br
from tcrd_spark.sources import snapshots as snap


def _orders(spark, sf_dir):
    from tcrd_spark.sources.lake import load_table

    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, sf_dir, tmp_path, name="t"):
    table = str(tmp_path / name)
    seed = _orders(spark, sf_dir)
    snap.create_table(seed, table, "o_orderstatus")
    return table, seed


def test_dv_delete_equals_rewrite_delete(spark, sf_dir, tmp_path):
    """The two modes are row-identical for the same predicate — and
    the dv commit's file list is UNCHANGED (that is the point)."""
    ta, seed = _mk(spark, sf_dir, tmp_path, "a")
    tb, _ = _mk(spark, sf_dir, tmp_path, "b")
    pred = "o_orderkey % 10 = 0"
    va, na = snap.delete_version(spark, ta, pred, mode="dv")
    vb, nb = snap.delete_version(spark, tb, pred)  # rewrite
    assert (va, na) == (2, nb)
    assert _rows(snap.read_version(spark, ta)) == _rows(
        snap.read_version(spark, tb)
    )
    ma1 = snap._read_manifest(ta, 1)
    ma2 = snap._read_manifest(ta, 2)
    assert ma2["files"] == ma1["files"]
    assert ma2["mode"] == "dv" and len(ma2["dv"]) == 1
    assert snap._read_manifest(tb, 2)["files"] != ma1["files"]


@pytest.mark.parametrize("verb", ["delete", "update", "merge"])
def test_mark_verbs_reclaim_sidecar_on_lost_cas(
    spark, sf_dir, tmp_path, monkeypatch, verb
):
    """Every deletion-vector commit that loses the manifest CAS raises
    and leaves no sidecar behind under `_dv/`."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    pred = "o_orderkey % 10 = 0"
    run = {
        "delete": lambda: snap.delete_version(spark, table, pred, mode="dv"),
        "update": lambda: snap.update_version(
            spark, table, pred, {"o_totalprice": "o_totalprice + 1.0"}
        ),
        "merge": lambda: snap.merge_version(
            spark, table, seed.where(pred), ["o_orderkey"],
            granularity="dv",
        ),
    }[verb]

    def lost(table_dir, manifest):
        raise FileExistsError("lost the CAS")

    dv_dir = snap._dv_dir(table)
    monkeypatch.setattr(snap, "_commit", lost)
    with pytest.raises(FileExistsError):
        run()
    assert not os.path.isdir(dv_dir) or os.listdir(dv_dir) == []
    assert snap.versions(table) == [1]


def test_escaped_partition_values_match_manifest_names(spark, tmp_path):
    """Partition values Spark escapes in file URIs ('a b', 'x%y') or
    that URL decoding would mangle ('p+q'): dv marks, the rewrite
    delete's touched files and the bloom index all name files exactly
    as the manifest does."""
    from tcrd_spark.sources import bloomidx

    table = str(tmp_path / "t")
    parts = ["a b", "x%y", "p+q"]
    df = spark.createDataFrame(
        [(i, parts[i % 3], float(i)) for i in range(60)],
        "id int, part string, val double",
    )
    snap.create_table(df.repartition(4), table, "part")
    _v, n = snap.delete_version(spark, table, "id % 5 = 0", mode="dv")
    assert n == 12
    _v, n = snap.delete_version(spark, table, "id % 7 = 0")
    assert n == 7
    want = _rows(df.where("id % 5 != 0 AND id % 7 != 0"))
    assert _rows(snap.read_version(spark, table)) == want
    bloomidx.build_bloom_index(spark, table, "id")
    kept, total = bloomidx.bloom_candidate_files(spark, table, "id", 1)
    assert len(kept) < total


def test_dv_composition_time_travel_and_no_match(spark, sf_dir, tmp_path):
    """Sidecars compose (disjoint by construction), every prior
    version re-reads exactly, and a no-match dv delete commits
    nothing."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    n0 = seed.count()
    snap.delete_version(spark, table, "o_orderkey % 10 = 0", mode="dv")
    snap.delete_version(spark, table, "o_orderstatus = 'F'", mode="dv")
    got = snap.read_version(spark, table)
    exp = seed.where(
        "NOT (o_orderkey % 10 = 0) AND NOT (o_orderstatus = 'F')"
    )
    assert _rows(got) == _rows(exp)
    assert snap.read_version(spark, table, 1).count() == n0
    assert snap.read_version(spark, table, 2).count() == seed.where(
        "NOT (o_orderkey % 10 = 0)"
    ).count()
    # disjointness: the second sidecar re-marks none of the first's
    import glob as _g

    dv2, dv3 = snap._read_manifest(table, 3)["dv"]
    a = set(map(tuple, spark.read.parquet(
        os.path.join(snap._dv_dir(table), dv2)).collect()))
    b = set(map(tuple, spark.read.parquet(
        os.path.join(snap._dv_dir(table), dv3)).collect()))
    assert not (a & b)
    v, nd = snap.delete_version(
        spark, table, "o_orderkey < 0", mode="dv"
    )
    assert (v, nd) == (3, 0) and snap.versions(table) == [1, 2, 3]


def test_dv_cdc_matches_rewrite_cdc(spark, sf_dir, tmp_path):
    """read_changes across a dv delete equals the feed across the
    SAME delete done as a rewrite — CDC is mode-independent."""
    ta, seed = _mk(spark, sf_dir, tmp_path, "a")
    tb, _ = _mk(spark, sf_dir, tmp_path, "b")
    pred = "o_orderkey % 7 = 0 AND o_orderstatus = 'O'"
    snap.delete_version(spark, ta, pred, mode="dv")
    snap.delete_version(spark, tb, pred)
    fa = snap.read_changes(spark, ta, 1, 2, ["o_orderkey"])
    fb = snap.read_changes(spark, tb, 1, 2, ["o_orderkey"])
    assert _rows(fa) == _rows(fb)
    assert {r.change_type for r in fa.collect()} == {"delete"}


def test_dv_then_merge_and_optimize(spark, sf_dir, tmp_path):
    """A MERGE after a dv delete rewrites from the DV-APPLIED state
    and carries live entries for carried files; OPTIMIZE materializes
    everything and clears the dv list."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    snap.delete_version(spark, table, "o_orderkey % 10 = 0", mode="dv")
    # single-partition source: the other partitions CARRY, so their
    # dv entries must stay live (a whole-table source would rewrite
    # everything and correctly clear the list)
    src = seed.where(
        "o_orderkey % 13 = 0 AND o_orderstatus = 'F'"
    ).withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") + 100.0, 2)
    )
    snap.merge_version(spark, table, src, ["o_orderkey"])
    kept = seed.where("NOT (o_orderkey % 10 = 0)").alias("k")
    exp = (
        kept.join(src.alias("s"), "o_orderkey", "left_anti")
        .unionByName(src)
    )
    assert _rows(snap.read_version(spark, table)) == _rows(exp)
    assert snap._read_manifest(table, 3)["dv"], "carried files keep dv"

    v = snap.optimize_version(spark, table)
    m = snap._read_manifest(table, v)
    assert m["dv"] == []
    assert _rows(snap.read_version(spark, table, v)) == _rows(exp)
    # optimize changed no rows → empty CDC (the classic pin, now
    # across a dv-materializing compaction)
    assert snap.read_changes(
        spark, table, v - 1, v, ["o_orderkey"]
    ).count() == 0


def test_dv_pruned_read_applies_vector(spark, sf_dir, tmp_path):
    table, seed = _mk(spark, sf_dir, tmp_path)
    snap.delete_version(spark, table, "o_orderkey % 10 = 0", mode="dv")
    lo, hi = 100.0, 50000.0
    got = snap.read_version_pruned(
        spark, table, "o_totalprice", lo, hi
    )
    exp = seed.where(
        f"NOT (o_orderkey % 10 = 0) AND o_totalprice >= {lo} "
        f"AND o_totalprice <= {hi}"
    )
    assert _rows(got) == _rows(exp)


def test_dv_restore_and_resurrection_cdc(spark, sf_dir, tmp_path):
    """RESTORE re-applies the target's dv state; CDC across the
    restore surfaces the resurrected rows as inserts. A restore whose
    target dv sidecar is gone refuses (silent resurrection would be
    data corruption)."""
    import shutil
    import time

    table, seed = _mk(spark, sf_dir, tmp_path)
    snap.delete_version(spark, table, "o_orderkey % 10 = 0", mode="dv")
    snap.delete_version(spark, table, "o_orderstatus = 'F'", mode="dv")
    rv = snap.restore_version(table, 2)  # undo the second delete
    assert _rows(snap.read_version(spark, table, rv)) == _rows(
        snap.read_version(spark, table, 2)
    )
    feed = snap.read_changes(spark, table, 3, rv, ["o_orderkey"])
    kinds = {r.change_type for r in feed.collect()}
    assert kinds == {"insert"}
    n_resurrected = feed.count()
    assert n_resurrected == (
        snap.read_version(spark, table, 2).count()
        - snap.read_version(spark, table, 3).count()
    )

    gone = snap._read_manifest(table, 3)["dv"][-1]
    shutil.rmtree(os.path.join(snap._dv_dir(table), gone))
    with pytest.raises(FileNotFoundError, match="deletion-vector"):
        snap.restore_version(table, 3)


def test_dv_vacuum_gc_and_physical_erasure_story(spark, sf_dir, tmp_path):
    """vacuum reclaims a sidecar exactly when no retained manifest
    references it — and keeps it while any retained version (here the
    head chain) still does."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    snap.delete_version(spark, table, "o_orderkey % 10 = 0", mode="dv")
    name = snap._read_manifest(table, 2)["dv"][0]
    side = os.path.join(snap._dv_dir(table), name)
    # appends keep carrying the dv → still referenced after vacuum
    snap.append_version(table, seed.limit(3).select(
        (F.col("o_orderkey") + 10**9).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    ))
    snap.vacuum(table, keep_versions=2)
    assert os.path.isdir(side)
    # optimize clears the reference; vacuuming past the dv era drops it
    snap.optimize_version(spark, table)
    snap.vacuum(table, keep_versions=1)
    assert not os.path.isdir(side)
    assert snap.read_version(spark, table).count() == seed.where(
        "NOT (o_orderkey % 10 = 0)"
    ).count() + 3


def test_dv_on_branch_squash_merges_and_cleans_up(
    spark, sf_dir, tmp_path
):
    """A dv delete on a branch is invisible to the source, squash-
    merges (rewrite-class commit) with its sidecar resolving through
    the SHARED _dv namespace, and delete_branch removes sidecars only
    the branch ever referenced."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    n0 = seed.count()
    bdir = br.create_branch(table, "wip")
    v, nd = snap.delete_version(
        spark, bdir, "o_orderkey % 10 = 0", mode="dv"
    )
    assert nd > 0
    assert snap.read_version(spark, table).count() == n0  # isolated
    assert snap.read_version(spark, bdir).count() == n0 - nd
    head = br.merge_branch(spark, table, "wip")
    assert snap._read_manifest(table, head)["dv"]
    assert snap.read_version(spark, table).count() == n0 - nd
    assert not br.delete_branch(table, "wip")
    # merged sidecar survives the branch deletion (source references it)
    assert snap.read_version(spark, table).count() == n0 - nd

    # an UNMERGED branch's sidecar is cleaned with the branch
    bdir2 = br.create_branch(table, "scrap")
    snap.delete_version(spark, bdir2, "o_orderstatus = 'F'", mode="dv")
    scrap_dv = set(snap._read_manifest(bdir2, head + 1)["dv"]) - set(
        snap._read_manifest(table, head)["dv"]
    )
    assert len(scrap_dv) == 1
    side = os.path.join(snap._dv_dir(table), next(iter(scrap_dv)))
    assert os.path.isdir(side)
    br.delete_branch(table, "scrap")
    assert not os.path.isdir(side)
    assert snap.read_version(spark, table).count() == n0 - nd


def test_mor_update_equals_case_rewrite(spark, sf_dir, tmp_path):
    """update_version == the CASE-expression rewrite of the same
    logical update; one commit, file list grows (patch files), dv
    grows (old positions), prior version re-reads exactly."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    n0 = seed.count()
    v, nu = snap.update_version(
        spark, table, "o_orderkey % 9 = 0",
        {"o_totalprice": "round(o_totalprice + 100.0, 2)"},
    )
    assert v == 2 and nu == seed.where("o_orderkey % 9 = 0").count()
    exp = seed.select(
        "o_orderkey", "o_orderstatus",
        F.when(
            F.expr("o_orderkey % 9 = 0"),
            F.round(F.col("o_totalprice") + 100.0, 2),
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    assert _rows(snap.read_version(spark, table)) == _rows(exp)
    assert snap.read_version(spark, table).count() == n0
    assert _rows(snap.read_version(spark, table, 1)) == _rows(seed)
    m = snap._read_manifest(table, 2)
    assert m["op"] == "update" and m["mode"] == "dv" and len(m["dv"]) == 1
    assert len(m["files"]) > len(snap._read_manifest(table, 1)["files"])

    # no-match update commits nothing
    v2, nu2 = snap.update_version(
        spark, table, "o_orderkey < 0", {"o_orderstatus": "'X'"}
    )
    assert (v2, nu2) == (2, 0) and snap.versions(table) == [1, 2]


def test_mor_update_moves_partitions(spark, sf_dir, tmp_path):
    """A partition-moving update — the case COW MERGE documents as a
    contract violation — is exact under MOR: the old copy is
    position-marked, never stranded in a carried file."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    v, nu = snap.update_version(
        spark, table, "o_orderstatus = 'F' AND o_orderkey % 4 = 0",
        {"o_orderstatus": "'O'"},
    )
    assert nu > 0
    got = snap.read_version(spark, table)
    exp = seed.select(
        "o_orderkey",
        F.when(
            F.expr("o_orderstatus = 'F' AND o_orderkey % 4 = 0"),
            F.lit("O"),
        ).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        "o_totalprice",
    )
    assert _rows(got) == _rows(exp)
    assert got.where(
        "o_orderstatus = 'F' AND o_orderkey % 4 = 0"
    ).count() == 0


def test_mor_update_cdc_and_optimize(spark, sf_dir, tmp_path):
    """CDC across a MOR update emits delete(old) + insert(new) — the
    signed-multiset equivalent of an update pair — and a later
    OPTIMIZE materializes the patch with an empty feed."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    pred = "o_orderkey % 9 = 0"
    snap.update_version(
        spark, table, pred,
        {"o_totalprice": "round(o_totalprice + 100.0, 2)"},
    )
    feed = snap.read_changes(spark, table, 1, 2, ["o_orderkey"])
    rows = feed.collect()
    from collections import Counter

    n = seed.where(pred).count()
    assert Counter(r.change_type for r in rows) == {
        "delete": n, "insert": n
    }
    old = {r.o_orderkey: r.o_totalprice for r in rows
           if r.change_type == "delete"}
    new = {r.o_orderkey: r.o_totalprice for r in rows
           if r.change_type == "insert"}
    assert set(old) == set(new)
    assert all(new[k] == round(old[k] + 100.0, 2) for k in old)

    v = snap.optimize_version(spark, table)
    assert snap._read_manifest(table, v)["dv"] == []
    assert snap.read_changes(
        spark, table, v - 1, v, ["o_orderkey"]
    ).count() == 0
    assert _rows(snap.read_version(spark, table, v)) == _rows(
        snap.read_version(spark, table, 2)
    )


def test_mor_merge_equals_rewrite_merge(spark, sf_dir, tmp_path):
    """merge_version(granularity='dv') is row-identical to the
    partition-rewrite merge for the same source — updates, inserts,
    and delete_condition all included — without rewriting any target
    file; a replayed txn_id no-ops; a second dv merge composes; and
    duplicate target or source keys, NULL keys and a NULL
    delete_condition give both merges the same head."""
    ta, seed = _mk(spark, sf_dir, tmp_path, "a")
    tb, _ = _mk(spark, sf_dir, tmp_path, "b")
    src = seed.where("o_orderkey % 6 = 0").withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") + 100.0, 2)
    ).unionByName(
        seed.limit(7).select(
            (F.col("o_orderkey") + 10**9).alias("o_orderkey"),
            "o_orderstatus", "o_totalprice",
        )
    )
    va = snap.merge_version(
        spark, ta, src, ["o_orderkey"],
        delete_condition="s.o_orderstatus = 'F'",
        granularity="dv", txn_id="m1",
    )
    vb = snap.merge_version(
        spark, tb, src, ["o_orderkey"],
        delete_condition="s.o_orderstatus = 'F'",
    )
    assert va == vb == 2
    assert _rows(snap.read_version(spark, ta)) == _rows(
        snap.read_version(spark, tb)
    )
    ma = snap._read_manifest(ta, 2)
    assert ma["mode"] == "dv"
    # every v1 file carried — nothing rewritten
    assert set(snap._read_manifest(ta, 1)["files"]) <= set(ma["files"])

    # replay no-ops
    assert snap.merge_version(
        spark, ta, src, ["o_orderkey"], granularity="dv", txn_id="m1"
    ) is None

    # a second dv merge composes on the dv-applied state (partition-
    # preserving source: the rewrite merge's comparison baseline
    # requires its partition-stability contract)
    src2 = seed.where("o_orderkey % 15 = 0").withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") + 7.0, 2)
    )
    snap.merge_version(spark, ta, src2, ["o_orderkey"], granularity="dv")
    snap.merge_version(spark, tb, src2, ["o_orderkey"])
    assert _rows(snap.read_version(spark, ta)) == _rows(
        snap.read_version(spark, tb)
    )
    assert _rows(snap.read_version(spark, ta, 2)) == _rows(
        snap.read_version(spark, tb, 2)
    )

    # duplicate keys and NULLs: two target rows sharing a key each
    # take the matching source row, as the rewrite merge's join emits
    # it; a NULL key on either side matches nothing; two source rows
    # sharing a key both land; a NULL delete_condition deletes
    schema = "id long, p string, val long"
    target = spark.createDataFrame([
        (1, "a", 10), (1, "a", 11), (None, "a", 5), (2, "b", 20),
        (3, "b", 30), (5, "b", 50), (6, "a", 60),
    ], schema)
    source = spark.createDataFrame([
        (1, "a", 99), (4, "b", 40), (None, "a", 7), (2, "b", 21),
        (2, "b", 22), (3, "b", None), (5, "b", 500),
    ], schema)
    heads = []
    for name, granularity in (("dup_dv", "dv"), ("dup_rw", "partition")):
        t = str(tmp_path / name)
        snap.create_table(target, t, "p")
        snap.merge_version(
            spark, t, source, ["id"], delete_condition="s.val > 100",
            granularity=granularity,
        )
        heads.append(sorted(
            (tuple(r) for r in snap.read_version(spark, t).collect()),
            key=repr,
        ))
    assert heads[0] == heads[1] == sorted([
        (1, "a", 99), (1, "a", 99), (None, "a", 5), (None, "a", 7),
        (2, "b", 21), (2, "b", 22), (4, "b", 40), (6, "a", 60),
    ], key=repr)


def test_mor_merge_applies_partition_moving_source(
    spark, sf_dir, tmp_path
):
    """The dv merge's contract RELAXATION: a source row carrying a
    NEW partition value (the CDC-tombstone / moved-row case that
    strands old copies under the partition-scoped COW merge) finds
    its target by key and position-marks the old copy — no
    double-presence, no strand."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    src = seed.where("o_orderkey % 15 = 0").withColumn(
        "o_orderstatus", F.lit("P")
    )
    snap.merge_version(spark, table, src, ["o_orderkey"], granularity="dv")
    got = snap.read_version(spark, table)
    exp = seed.select(
        "o_orderkey",
        F.when(F.expr("o_orderkey % 15 = 0"), F.lit("P"))
        .otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        "o_totalprice",
    )
    assert _rows(got) == _rows(exp)
    # exactly one copy per moved key — the old-partition copy is dead
    dups = (
        got.groupBy("o_orderkey").count().where("count > 1").count()
    )
    assert dups == 0


def test_mor_merge_cdc_folds_like_rewrite(spark, sf_dir, tmp_path):
    """The dv merge's delete+insert CDC representation folds into a
    maintained aggregate exactly like the rewrite merge's update
    pairs — the signed-multiset equivalence, end to end."""
    from tcrd_spark.sources.incremental import (
        apply_delta, delta_group_agg, group_agg,
    )

    ta, seed = _mk(spark, sf_dir, tmp_path, "a")
    src = seed.where("o_orderkey % 6 = 0").withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") + 100.0, 2)
    )
    snap.merge_version(spark, ta, src, ["o_orderkey"], granularity="dv")
    state = group_agg(
        snap.read_version(spark, ta, 1), "o_orderstatus", "o_totalprice"
    )
    feed = snap.read_changes(spark, ta, 1, 2, ["o_orderkey"])
    folded = apply_delta(
        state,
        delta_group_agg(feed, "o_orderstatus", "o_totalprice"),
        "o_orderstatus",
    )
    full = group_agg(
        snap.read_version(spark, ta, 2), "o_orderstatus", "o_totalprice"
    )
    got = {r.o_orderstatus: (r.n, round(r.s, 2))
           for r in folded.collect()}
    exp = {r.o_orderstatus: (r.n, round(r.s, 2))
           for r in full.collect()}
    assert got == exp


def test_rewrite_delete_after_dv_materializes(spark, sf_dir, tmp_path):
    """A copy-on-write delete AFTER a dv delete rewrites from the
    DV-APPLIED state: n_deleted counts only visible rows, the
    dv-deleted rows never resurrect in the rewritten files, and the
    carried partitions keep their dv entries live."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    snap.delete_version(spark, table, "o_orderkey % 10 = 0", mode="dv")
    # rewrite-delete scoped to one partition; the others carry
    v, nd = snap.delete_version(
        spark, table, "o_orderstatus = 'F' AND o_orderkey % 4 = 1"
    )
    exp_deleted = seed.where(
        "NOT (o_orderkey % 10 = 0) "
        "AND o_orderstatus = 'F' AND o_orderkey % 4 = 1"
    ).count()
    assert (v, nd) == (3, exp_deleted)
    got = snap.read_version(spark, table)
    exp = seed.where(
        "NOT (o_orderkey % 10 = 0) "
        "AND NOT (o_orderstatus = 'F' AND o_orderkey % 4 = 1)"
    )
    assert _rows(got) == _rows(exp)
    assert snap._read_manifest(table, 3)["dv"], "carried partitions keep dv"


def test_mor_update_with_zone_map_prune(spark, sf_dir, tmp_path):
    """`prune=(col, lo, hi)` conjoins the range into the update's
    predicate (the delete_version discipline): rows outside the range
    are out of the update's declared scope, candidates are zone-map
    scoped, and the result matches the equivalent full-predicate
    CASE."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    keys = sorted(r.o_orderkey for r in seed.select(
        "o_orderkey").collect())
    lo, hi = keys[10], keys[min(len(keys) - 1, 200)]
    v, nu = snap.update_version(
        spark, table, "o_orderkey % 2 = 0",
        {"o_totalprice": "round(o_totalprice + 9.0, 2)"},
        prune=("o_orderkey", int(lo), int(hi)),
    )
    full_pred = (
        f"o_orderkey % 2 = 0 AND o_orderkey >= {lo} "
        f"AND o_orderkey <= {hi}"
    )
    assert nu == seed.where(full_pred).count() > 0
    exp = seed.select(
        "o_orderkey", "o_orderstatus",
        F.when(
            F.expr(full_pred),
            F.round(F.col("o_totalprice") + 9.0, 2),
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    assert _rows(snap.read_version(spark, table)) == _rows(exp)
    assert full_pred.replace("  ", " ") in snap._read_manifest(
        table, v
    )["predicate"].replace("(", "").replace(")", "").replace("  ", " ")
