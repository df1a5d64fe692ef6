"""Branch pins (sources/branches.py): fork is O(1) and isolated
(source readers never see branch commits), every existing verb works
on a branch path, append-only branches merge onto a MOVED source
head, rewrite branches fast-forward or raise a conflict, source
vacuum keeps what a branch reads, vacuum on a branch refuses, and
delete_branch reclaims exactly the branch-only files. The three GC
verbs share one reachability walk: every root the source reaches
stays readable at every live version after each of them."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tcrd_spark.sources import branches as br, snapshots as snap


def _orders(spark, sf_dir, n=40):
    from tcrd_spark.sources.lake import load_table

    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(n)
    )


def _shift(df, offset):
    return df.select(
        (F.col("o_orderkey") + offset).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    )


def _mk(spark, sf_dir, tmp_path):
    table = str(tmp_path / "t")
    seed = _orders(spark, sf_dir)
    snap.create_table(seed, table, "o_orderstatus")
    return table, seed


def test_fork_isolation_and_fast_forward_merge(spark, sf_dir, tmp_path):
    table, seed = _mk(spark, sf_dir, tmp_path)
    bdir = br.create_branch(table, "wip")
    assert br.list_branches(table) == {
        "wip": {"fork_version": 1, "head": 1}
    }
    # branch == source at the fork
    assert (
        snap.read_version(spark, bdir).count()
        == snap.read_version(spark, table).count()
    )
    # commits on the branch are INVISIBLE to the source
    batch = _shift(seed.limit(5), 10**9)
    snap.append_version(bdir, batch)
    assert snap.versions(table) == [1]
    assert snap.read_version(spark, table).count() == seed.count()
    assert snap.read_version(spark, bdir).count() == seed.count() + 5
    # fast-forward merge publishes atomically, numbering continues
    head = br.merge_branch(spark, table, "wip")
    assert head == 2 and snap.versions(table) == [1, 2]
    assert snap.read_version(spark, table).count() == seed.count() + 5
    # CDC across the merged boundary shows exactly the branch batch
    feed = snap.read_changes(spark, table, 1, 2, ["o_orderkey"])
    assert feed.count() == 5
    assert {r.change_type for r in feed.collect()} == {"insert"}


def test_wap_on_a_branch(spark, sf_dir, tmp_path):
    """Write-audit-publish, generalized: the gate fires on the BRANCH
    commit; the source never stages a byte of the bad batch."""
    from tcrd_spark.quality.expectations import min_value

    table, seed = _mk(spark, sf_dir, tmp_path)
    bdir = br.create_branch(table, "audit")
    bad = _shift(seed.limit(3), 10**9).withColumn(
        "o_totalprice", F.lit(-1.0)
    )
    with pytest.raises(ValueError, match="failed expectations"):
        snap.append_version(
            bdir, bad, expectations=[min_value("o_totalprice", 0.0)]
        )
    assert snap.versions(bdir) == [1] and snap.versions(table) == [1]
    good = _shift(seed.limit(3), 10**9)
    snap.append_version(
        bdir, good, expectations=[min_value("o_totalprice", 0.0)]
    )
    br.merge_branch(spark, table, "audit")
    assert snap.read_version(spark, table).count() == seed.count() + 3


def test_append_branch_merges_onto_advanced_source(
    spark, sf_dir, tmp_path
):
    table, seed = _mk(spark, sf_dir, tmp_path)
    bdir = br.create_branch(table, "backfill")
    snap.append_version(bdir, _shift(seed.limit(4), 10**9))
    snap.append_version(bdir, _shift(seed.limit(2), 2 * 10**9))
    # the source moves on while the branch is being written
    snap.append_version(table, _shift(seed.limit(3), 3 * 10**9))
    head = br.merge_branch(spark, table, "backfill")
    got = {
        r.o_orderkey
        for r in snap.read_version(spark, table, head).collect()
    }
    want = {r.o_orderkey for r in seed.collect()}
    want |= {r.o_orderkey + 10**9 for r in seed.limit(4).collect()}
    want |= {r.o_orderkey + 2 * 10**9 for r in seed.limit(2).collect()}
    want |= {r.o_orderkey + 3 * 10**9 for r in seed.limit(3).collect()}
    assert got == want
    m = snap._read_manifest(table, head)
    assert m["merged_from"] == "backfill"  # audit trail


def test_rewrite_branch_conflicts_when_source_advanced(
    spark, sf_dir, tmp_path
):
    table, seed = _mk(spark, sf_dir, tmp_path)
    bdir = br.create_branch(table, "risky")
    v, n = snap.delete_version(spark, bdir, "o_orderkey % 2 = 0")
    assert n >= 1 and snap.versions(bdir)[-1] == 2
    snap.append_version(table, _shift(seed.limit(2), 10**9))
    with pytest.raises(ValueError, match="merge conflict"):
        br.merge_branch(spark, table, "risky")


def test_rewrite_branch_fast_forwards_when_source_still(
    spark, sf_dir, tmp_path
):
    table, seed = _mk(spark, sf_dir, tmp_path)
    bdir = br.create_branch(table, "erase")
    key = seed.head().o_orderkey
    v, n = snap.delete_version(spark, bdir, f"o_orderkey = {key}")
    assert n >= 1
    head = br.merge_branch(spark, table, "erase")
    assert head == v
    assert (
        snap.read_version(spark, table)
        .where(F.col("o_orderkey") == key)
        .count()
        == 0
    )


def test_vacuum_safety_and_branch_gc(spark, sf_dir, tmp_path):
    table, seed = _mk(spark, sf_dir, tmp_path)
    bdir = br.create_branch(table, "wip")
    snap.append_version(bdir, _shift(seed.limit(3), 10**9))
    # source advances twice, then vacuums hard — the GC walk keeps
    # the branch's inherited files alive
    snap.append_version(table, _shift(seed.limit(2), 2 * 10**9))
    snap.append_version(table, _shift(seed.limit(2), 3 * 10**9))
    snap.vacuum(table, keep_versions=1)
    assert snap.read_version(spark, bdir).count() == seed.count() + 3
    # vacuum on the branch itself is refused
    with pytest.raises(ValueError, match="vacuum on a branch"):
        snap.vacuum(bdir)
    # delete_branch reclaims ONLY the branch-staged files
    branch_only = set(
        snap._read_manifest(bdir, 2)["files"]
    ) - set(snap._read_manifest(table, snap.versions(table)[-1])["files"])
    removed = br.delete_branch(table, "wip")
    assert set(removed) == branch_only and removed
    base = snap._data_dir(table)
    assert all(not os.path.exists(os.path.join(base, f)) for f in removed)
    assert "branch-wip" not in snap.list_tags(table)
    # source still reads clean after the branch is gone
    assert snap.read_version(spark, table).count() == seed.count() + 4


def test_streaming_source_tails_a_branch(spark, sf_dir, tmp_path):
    """The composition claim made literal: the lake streaming source
    accepts a branch path unchanged — a consumer can tail an audit
    branch before anything is published to the source."""
    from tcrd_spark.streaming.lake_source import LakeCommitsDataSource

    table, seed = _mk(spark, sf_dir, tmp_path)
    bdir = br.create_branch(table, "tail")
    snap.append_version(bdir, _shift(seed.limit(3), 10**9))
    spark.dataSource.register(LakeCommitsDataSource)
    got = []
    q = (
        spark.readStream.format("tcrd_lake_commits")
        .option("path", bdir)
        .load()
        .writeStream.foreachBatch(
            lambda df, _b: got.extend(r.o_orderkey for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    want = {r.o_orderkey for r in snap.read_version(spark, bdir).collect()}
    assert set(got) == want and len(got) == len(want)


def test_partition_evolution_on_source_conflicts_append_merge(
    spark, sf_dir, tmp_path
):
    """Review catch: an append branch merging onto a source whose
    partition spec evolved since the fork would commit a manifest
    mixing two hive layouts — it must refuse instead."""
    table = str(tmp_path / "t")
    from tcrd_spark.sources.lake import load_table

    seed = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority",
                "o_totalprice")
        .orderBy("o_orderkey")
        .limit(40)
    )
    snap.create_table(seed, table, "o_orderstatus")
    bdir = br.create_branch(table, "wip")
    snap.append_version(
        bdir,
        seed.limit(3).select(
            (F.col("o_orderkey") + 10**9).alias("o_orderkey"),
            "o_orderstatus", "o_orderpriority", "o_totalprice",
        ),
    )
    snap.repartition_table(spark, table, "o_orderpriority")
    with pytest.raises(ValueError, match="partition spec changed"):
        br.merge_branch(spark, table, "wip")


def test_branch_lifecycle_without_symlinks(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r9 #4, the object-store story as code: with os.symlink
    UNAVAILABLE (raising OSError, as on object-store mounts), the
    whole branch lifecycle — fork, isolated commits, streaming tail,
    rewrite fast-forward, vacuum safety, delete — runs through the
    _branch.json prefix mapping; nothing calls os.symlink."""
    from tcrd_spark.streaming.lake_source import LakeCommitsDataSource

    table, seed = _mk(spark, sf_dir, tmp_path)

    def no_symlink(*a, **k):
        raise OSError("symlinks not supported on this filesystem")

    monkeypatch.setattr(os, "symlink", no_symlink)
    bdir = br.create_branch(table, "wip")
    # no link exists; the mapping is recorded
    assert not os.path.lexists(os.path.join(bdir, "data"))
    assert br._branch_meta(bdir)["data_dir"] == os.path.abspath(
        snap._data_dir(table)
    )
    # reads resolve through the prefix map; commits stay isolated
    assert (
        snap.read_version(spark, bdir).count()
        == snap.read_version(spark, table).count()
    )
    snap.append_version(bdir, _shift(seed.limit(5), 10**9))
    assert snap.versions(table) == [1]
    assert snap.read_version(spark, bdir).count() == seed.count() + 5
    # the streaming source tails the mapped branch unchanged
    spark.dataSource.register(LakeCommitsDataSource)
    got = []
    q = (
        spark.readStream.format("tcrd_lake_commits")
        .option("path", bdir)
        .load()
        .writeStream.foreachBatch(
            lambda df, _b: got.extend(r.o_orderkey for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(got) == seed.count() + 5
    # a rewrite commit on the branch, then fast-forward squash merge
    key = seed.head().o_orderkey
    snap.delete_version(spark, bdir, f"o_orderkey = {key}")
    head = br.merge_branch(spark, table, "wip")
    assert snap.read_version(spark, table, head).count() == (
        seed.count() + 5 - 1
    )
    removed = br.delete_branch(table, "wip")
    assert not removed  # everything staged on the branch was merged
    assert snap.read_version(spark, table).count() == seed.count() + 4


def test_forks_record_the_root_data_dir(spark, sf_dir, tmp_path):
    """One fork rule: a branch makes no `data` link, and a branch of a
    branch and a clone of a branch both record the ROOT's data dir,
    so neither reads through the branch's directory."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    root_data = os.path.abspath(snap._data_dir(table))
    bdir = br.create_branch(table, "wip")
    assert not os.path.lexists(os.path.join(bdir, "data"))
    assert br._branch_meta(bdir)["data_dir"] == root_data
    inner = br.create_branch(bdir, "inner")
    assert br._branch_meta(inner)["data_dir"] == root_data
    snap.append_version(bdir, _shift(seed.limit(2), 10**9))
    dest = str(tmp_path / "cl")
    br.clone_table(bdir, dest)
    assert br._branch_meta(dest)["data_dir"] == root_data
    assert snap.read_version(spark, dest).count() == seed.count() + 2


def test_fast_forward_merge_is_one_squash_manifest(
    spark, sf_dir, tmp_path
):
    """ADVICE r9: fast-forward publishes ONE squash manifest (single
    CAS) — a multi-commit rewrite branch lands as exactly one new
    source version, op='merge_branch', never a half-applied prefix."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    bdir = br.create_branch(table, "risky")
    key = seed.head().o_orderkey
    snap.delete_version(spark, bdir, f"o_orderkey = {key}")
    snap.append_version(bdir, _shift(seed.limit(3), 10**9))
    assert snap.versions(bdir) == [1, 2, 3]
    head = br.merge_branch(spark, table, "risky")
    assert head == 2 and snap.versions(table) == [1, 2]
    m = snap._read_manifest(table, 2)
    assert m["op"] == "merge_branch" and m["merged_from"] == "risky"
    # merged state == branch head state
    want = {
        r.o_orderkey for r in snap.read_version(spark, bdir).collect()
    }
    got = {
        r.o_orderkey for r in snap.read_version(spark, table).collect()
    }
    assert got == want


def test_shallow_clone_is_zero_copy_and_independent(
    spark, sf_dir, tmp_path
):
    """clone_table: dest reads identically at the fork with ZERO data
    copied (prefix mapping, no symlink), commits on either side stay
    invisible to the other, the automatic clone tag keeps source
    vacuum from reclaiming shared files, and vacuum on the clone
    refuses (shared data)."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    dest = str(tmp_path / "cl")
    br.clone_table(table, dest)
    assert not os.path.lexists(os.path.join(dest, "data"))
    assert snap.read_version(spark, dest).count() == seed.count()
    # independent histories
    snap.append_version(dest, _shift(seed.limit(3), 10**9))
    snap.append_version(table, _shift(seed.limit(2), 2 * 10**9))
    assert snap.read_version(spark, dest).count() == seed.count() + 3
    assert snap.read_version(spark, table).count() == seed.count() + 2
    # clone's GC root: source vacuum keeps the fork files
    snap.append_version(table, _shift(seed.limit(2), 3 * 10**9))
    snap.vacuum(table, keep_versions=1)
    assert snap.read_version(spark, dest, 1).count() == seed.count()
    tag = br.clone_tag(dest)
    assert tag in snap.list_tags(table)
    # shared-data safety: vacuum on the clone refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="vacuum on a branch"):
        snap.vacuum(dest)
    # dropping the tag un-pins the fork version; the clone stays a GC
    # root until its directory is gone
    snap.delete_tag(table, tag)
    assert tag not in snap.list_tags(table)


def test_clones_with_same_basename_do_not_collide(
    spark, sf_dir, tmp_path
):
    """Review catch: the GC tag keys on the absolute path, not the
    leaf name — two clones named 'nightly' under different parents
    each pin their own fork version."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    a = str(tmp_path / "east" / "nightly")
    b = str(tmp_path / "west" / "nightly")
    br.clone_table(table, a)
    br.clone_table(table, b)  # must not raise
    tags = snap.list_tags(table)
    assert br.clone_tag(a) in tags and br.clone_tag(b) in tags
    assert br.clone_tag(a) != br.clone_tag(b)
    assert snap.read_version(spark, a).count() == seed.count()
    assert snap.read_version(spark, b).count() == seed.count()


def test_squash_merge_carries_commit_ts(spark, sf_dir, tmp_path):
    """ADVICE r10 (high): the fast-forward squash used to publish its
    manifest around _commit, skipping the wall-clock `ts` stamp —
    version_as_of treats a missing ts as +inf, so TIMESTAMP AS OF
    silently skipped the merge forever and history_df reported 0.0."""
    import time

    table, seed = _mk(spark, sf_dir, tmp_path)
    bdir = br.create_branch(table, "wip")
    snap.append_version(bdir, _shift(seed.limit(5), 10**9))
    # a REWRITE commit forces the one-CAS squash path (append-only
    # branches replay through _commit, which always stamped ts)
    key = seed.head().o_orderkey
    snap.delete_version(spark, bdir, f"o_orderkey = {key}")
    head = br.merge_branch(spark, table, "wip")

    m = snap._read_manifest(table, head)
    assert m["op"] == "merge_branch"
    assert m.get("ts", 0) > 0
    # time travel to "now" resolves THROUGH the merge, not around it
    assert snap.version_as_of(table, time.time() + 1) == head
    hist = {r.version: r.ts for r in snap.history_df(spark, table).collect()}
    assert hist[head] > 0.0


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _gc_lake(spark, sf_dir, tmp_path) -> list[str]:
    """[source, branch, clone of the source, clone of the branch]: the
    branch's staged file is merged into the source and then rewritten
    out of the source head, and each clone commits on its own."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    bdir = br.create_branch(table, "exp")
    staged = _shift(seed.limit(3), 10**9)
    snap.append_version(bdir, staged)
    br.merge_branch(spark, table, "exp")
    snap.merge_version(
        spark, table,
        staged.withColumn("o_totalprice", F.col("o_totalprice") + 1),
        ["o_orderkey"],
    )
    head = snap._read_manifest(table, 3)["files"]
    assert not set(snap._read_manifest(bdir, 2)["files"]) <= set(head)
    dest_s, dest_b = str(tmp_path / "cs"), str(tmp_path / "cb")
    br.clone_table(table, dest_s)
    snap.append_version(dest_s, _shift(seed.limit(2), 2 * 10**9))
    br.clone_table(bdir, dest_b)
    snap.append_version(dest_b, _shift(seed.limit(2), 3 * 10**9))
    return [table, bdir, dest_s, dest_b]


@pytest.mark.parametrize("verb", ["vacuum", "remove_orphans", "delete_branch"])
def test_gc_verbs_keep_every_live_root_readable(
    spark, sf_dir, tmp_path, verb
):
    """After each GC verb every surviving root reads its pre-GC rows at
    every live version. vacuum must keep the branch's merged file that
    only the branch (and its clone) still references; delete_branch
    refuses while a clone is registered under the branch, and once
    that clone is gone it leaves the source and its clone intact."""
    import shutil

    roots = _gc_lake(spark, sf_dir, tmp_path)
    table, bdir, _dest_s, dest_b = roots
    before = {
        r: {v: _rows(snap.read_version(spark, r, v))
            for v in snap.versions(r)}
        for r in roots
    }

    def check(live_roots):
        for r in live_roots:
            assert snap.versions(r), r
            for v in snap.versions(r):
                got = _rows(snap.read_version(spark, r, v))
                assert got == before[r][v], (r, v)

    if verb == "vacuum":
        snap.vacuum(table, keep_versions=1)
        assert 2 not in snap.versions(table)  # the merge commit dropped
    elif verb == "remove_orphans":
        snap.remove_orphans(table, grace_seconds=0)
    else:
        with pytest.raises(ValueError, match="delete_branch refused"):
            br.delete_branch(table, "exp")
        check(roots)
        shutil.rmtree(dest_b)  # the clone of the branch is abandoned
        br.delete_branch(table, "exp")
        assert not os.path.exists(bdir)
        roots = [r for r in roots if r not in (bdir, dest_b)]
    check(roots)


def test_delete_branch_reclaims_nested_branches(spark, sf_dir, tmp_path):
    """A branch of a branch stages into the same shared data dir:
    deleting the outer branch reclaims the nested branch's files."""
    table, seed = _mk(spark, sf_dir, tmp_path)
    bdir = br.create_branch(table, "wip")
    inner = br.create_branch(bdir, "inner")
    snap.append_version(inner, _shift(seed.limit(2), 10**9))
    staged = set(snap._read_manifest(inner, 2)["files"]) - set(
        snap._read_manifest(table, 1)["files"]
    )
    assert staged
    assert set(br.delete_branch(table, "wip")) == staged
    base = snap._data_dir(table)
    assert not any(os.path.exists(os.path.join(base, f)) for f in staged)
    assert _rows(snap.read_version(spark, table)) == _rows(seed)
