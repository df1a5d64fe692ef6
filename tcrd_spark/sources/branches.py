"""Branches for the versioned lake — git-like writable refs (the
Iceberg branch / Nessie model): fork a table at a version, commit to
the fork in isolation with EVERY existing verb, then merge back
atomically or throw the branch away.

This is the general form of write-audit-publish: the WAP sink
(`streaming/jobs.py`) quarantines one micro-batch; a branch isolates
an arbitrary SEQUENCE of commits (a backfill, a risky MERGE, a
reprocessing run) that readers of the source table never see until
the merge.

Mechanics — a branch is a real table directory that shares the
source's DATA:

- `create_branch` makes `<table>/_branches/<name>/` with its own
  `_manifests` chain seeded by a COPY of the fork version's manifest
  (same version number, so numbering continues from the fork) and a
  `_branch.json` that records the source's data directory as
  `data_dir`. Branches and clones fork by this one rule (`_fork`):
  `snapshots._data_dir` resolves every data path of the fork through
  that recorded prefix, on a POSIX filesystem and an object store
  alike. Because manifests list files relative to the data dir,
  every existing verb — read_version, append_version, merge_version,
  delete_version, optimize_version, read_changes, expectations, the
  streaming source — works on the branch path UNCHANGED; new files
  staged on the branch land in the shared data dir under uuid-tagged
  names no source manifest ever references.
- garbage collection has one rule (`snapshots._sweep`): a data file
  or DV sidecar lives while a live manifest of any root the source
  reaches references it — the source, its branches (`_branches/*`),
  its registered clones (`_clones/*.json`), recursively. So `vacuum`
  on the source never reclaims a file a branch or a clone still
  reads, including files a branch merged that the source later
  rewrote away. The automatic `branch-<name>` tag pins the fork
  version for retention and reading (`read_tag`); it is not what
  keeps the branch's files alive.
- `vacuum` on a branch directory is REFUSED (snapshots.vacuum checks
  `_branch.json`): a branch's dropped manifests reference shared
  source files, so per-branch retention GC could delete data live in
  the source. Merge or delete the branch, then vacuum the source.
- `merge_branch`: pure-APPEND branches replay onto the CURRENT
  source head even if the source advanced since the fork, by the
  one append-rebase rule `append_version` commits through
  (`snapshots._append_commit`): a blind append conflicts only with a
  concurrent change to the table's schema or partition spec.
  Branches containing REWRITE commits (merge/delete/optimize) merge
  only fast-forward (source still at the fork version) — their file
  lists encode the fork-time table state, so replaying them onto a
  moved head would silently drop the source's newer rows; otherwise
  the merge raises a conflict and the caller re-forks.
- `delete_branch` removes the branch's directory and fork tag, then
  sweeps the files and sidecars its subtree (nested branches
  included) referenced that no other root still references. It
  refuses while a registered clone of the branch exists: the clone
  reads the root's data dir, but its registry entry lives under the
  branch's `_clones/`, so the source's GC walk reaches the clone only
  through the branch.

100 TB shape: fork is O(1) (one manifest copy, one `_branch.json`
and one tag) — no data moves, ever; merge moves manifests, not bytes;
the branch's isolation is the manifest namespace, not a data copy.

Reference parity: none (lakehouse extension; with sources/snapshots.py).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from tcrd_spark.sources.metastore import get_store
from tcrd_spark.sources.snapshots import (
    _append_commit,
    _commit,
    _data_dir,
    _head,
    _layout,
    _manifest_dir,
    _manifest_path,
    _publish_exclusive,
    _read_manifest,
    _referenced,
    _roots,
    _sweep,
    delete_tag,
    tag_version,
    versions,
)

_APPEND_OPS = ("create", "append")


def _branch_dir(table_dir: str, name: str) -> str:
    return os.path.join(table_dir, "_branches", name)


def _branch_meta(branch_dir: str) -> dict:
    return get_store().read_json(
        os.path.join(branch_dir, "_branch.json")
    )


def _fork_tag(name: str) -> str:
    return f"branch-{name}"


def list_branches(table_dir: str) -> dict[str, dict]:
    """{name: {fork_version, head}} for every live branch."""
    root = os.path.join(os.path.abspath(table_dir), "_branches")
    out = {}
    for bdir in _roots(table_dir):
        if os.path.dirname(bdir) == root and get_store().exists(
            os.path.join(bdir, "_branch.json")
        ):
            meta = _branch_meta(bdir)
            out[os.path.basename(bdir)] = {
                "fork_version": meta["fork_version"],
                "head": versions(bdir)[-1],
            }
    return out


def _fork(
    table_dir: str, dest: str, tag: str, version: int | None,
    then=None, **meta,
) -> None:
    """The one fork rule `create_branch` and `clone_table` seed
    through: tag `version` (default: head) of `table_dir` as `tag`,
    claim `dest`'s `_manifests`, publish a copy of that version's
    manifest as `dest`'s seed (same version number, so numbering
    continues from the fork), then publish `dest/_branch.json` with
    `meta` and `data_dir`, the source's data dir, through which
    `snapshots._data_dir` resolves every data path of `dest`. `then`
    (the fork version) runs last. If any step fails, everything
    published is rolled back."""
    m = _head(table_dir, version)
    v = m["version"]
    store = get_store()
    if os.path.exists(dest) or store.exists(dest):
        raise FileExistsError(f"fork destination exists: {dest}")
    tag_version(table_dir, tag, v)
    try:
        store.claim_dir(_manifest_dir(dest))
        _publish_exclusive(
            _manifest_path(dest, v), m, f"fork seed v{v} already exists"
        )
        _publish_exclusive(
            os.path.join(dest, "_branch.json"),
            {**meta, "source": os.path.abspath(table_dir),
             "fork_version": v,
             "data_dir": os.path.abspath(_data_dir(table_dir))},
            f"fork meta for {dest!r} already exists",
        )
        if then is not None:
            then(v)
    except Exception:
        shutil.rmtree(dest, ignore_errors=True)
        store.remove_tree(dest)
        delete_tag(table_dir, tag)
        raise


def create_branch(
    table_dir: str, name: str, version: int | None = None
) -> str:
    """Fork `table_dir` at `version` (default: head) into a writable
    branch; returns the branch directory — a full table path every
    existing verb accepts. O(1): no data is copied or moved. The
    branch reaches the source's data through the `data_dir` its
    `_branch.json` records (`_fork`); a branch of a branch records
    the root's data dir. The fork tag keeps the fork version readable
    on the source (retention); the branch's files live by the GC
    walk, not the tag."""
    bdir = _branch_dir(table_dir, name)
    _fork(table_dir, bdir, _fork_tag(name), version, name=name)
    return bdir


def _branch_new_versions(bdir: str) -> list[int]:
    fork_v = _branch_meta(bdir)["fork_version"]
    return [v for v in versions(bdir) if v > fork_v]


def merge_branch(
    spark: SparkSession, table_dir: str, name: str
) -> int:
    """Publish the branch's commits onto the source; returns the new
    source head. Append-only branches merge onto a MOVED head: each
    branch append's added files replay as one source commit by the
    append-rebase rule every append follows (`snapshots._append_commit`:
    a lost CAS rebases, a source whose schema or partition spec
    changed since the fork raises ValueError, and the commit records
    the source's schema when the branch staged under the same one,
    else the one inference over its files). Branches with rewrite
    commits fast-forward only (else raises). The branch itself is
    left intact — `delete_branch` retires it."""
    bdir = _branch_dir(table_dir, name)
    if not get_store().exists(os.path.join(bdir, "_branch.json")):
        raise FileNotFoundError(f"no branch {name!r} at {table_dir}")
    fork_v = _branch_meta(bdir)["fork_version"]
    new_vs = _branch_new_versions(bdir)
    src_head = versions(table_dir)[-1]
    if not new_vs:
        return src_head
    ops = {v: _read_manifest(bdir, v)["op"] for v in new_vs}
    if all(op in _APPEND_OPS for op in ops.values()):
        # replay each append's ADDED files onto the live head by the
        # one append-rebase rule — safe under concurrent writers
        for v in new_vs:
            bm = _read_manifest(bdir, v)
            prev = set(_read_manifest(bdir, bm["parent"])["files"])
            added = [f for f in bm["files"] if f not in prev]
            stats = bm.get("stats", {})
            _append_commit(
                spark, table_dir, bm, added,
                {f: stats[f] for f in added if f in stats},
                {"merged_from": name},
                # the files were staged under the branch's schema
                lambda schema, want=bm.get("schema"): schema == want,
            )
        return versions(table_dir)[-1]
    if src_head != fork_v:
        raise ValueError(
            f"merge conflict: branch {name!r} contains rewrite commits "
            f"({sorted(set(ops.values()) - set(_APPEND_OPS))}) and the "
            f"source advanced v{fork_v} → v{src_head} since the fork — "
            "its file lists encode the fork-time state; re-fork and "
            "replay"
        )
    # fast-forward is ONE CAS: a single squash manifest at src_head+1
    # carrying the branch head's file list (which encodes the full
    # fork-time + branch state, since the source is still at the
    # fork). Publishing branch versions one at a time would leave a
    # half-applied merge if the process died — or a concurrent writer
    # landed — mid-loop; with one manifest the merge is either fully
    # live or not at all, the same atomicity every other writer gets.
    head_m = _read_manifest(bdir, new_vs[-1])
    try:
        # through _commit, not _publish_exclusive directly: _commit
        # stamps the wall-clock `ts` every TIMESTAMP AS OF lookup
        # keys on — a ts-less manifest reads as +inf and version_as_of
        # would silently skip the merge forever (ADVICE r10)
        _commit(table_dir, {
            "version": src_head + 1, "parent": src_head,
            "op": "merge_branch", "merged_from": name,
            **_layout(head_m),
            "files": head_m["files"],
            "stats": head_m.get("stats", {}),
            # the branch head's dv state (fork-inherited + its own dv
            # deletes; sidecars live in the SHARED _dv namespace, so
            # every name keeps resolving on the source)
            "dv": head_m.get("dv", []),
        })
    except FileExistsError:
        raise FileExistsError(
            f"merge conflict: version {src_head + 1} committed on the "
            "source during the fast-forward — re-fork and replay"
        ) from None
    return versions(table_dir)[-1]


def clone_table(
    table_dir: str, dest_dir: str, version: int | None = None
) -> str:
    """Zero-copy SHALLOW clone (Delta `SHALLOW CLONE` / an Iceberg
    ref made into a table): `dest_dir` becomes an INDEPENDENT
    versioned table whose manifest chain seeds from `version`
    (default: head) and whose data paths resolve through the
    `_branch.json` `data_dir` to the source's data dir, by the same
    fork rule as a branch (`_fork`) — no bytes move, ever. A clone of
    a branch records the root's data dir, not a path through the
    branch. Differences from a branch: the clone lives at an
    arbitrary path, never merges back, and has its own history
    forever; it shares the branch rules that matter (every verb works
    on it; files it stages land in the SHARED data dir under names no
    source manifest references; vacuum on the clone refuses — its
    dropped manifests reference shared files).

    GC: the clone is registered on the source (`_clones/`), so the
    source's GC walk (`snapshots._roots`) reaches its manifests and
    no GC verb reclaims a file the clone still reads. The clone is
    abandoned once its directory is gone; the source's walk then
    skips it. The automatic `clone-<basename>` tag pins the fork
    version on the source for retention; dropping it does not
    abandon the clone."""
    tag = clone_tag(dest_dir)
    entry = os.path.join(table_dir, "_clones", f"{tag}.json")

    def register(v: int) -> None:
        # register the clone on the SOURCE so the GC walk sees the
        # clone's manifests (clone-staged files live in the shared
        # data dir and would otherwise look orphaned)
        get_store().makedirs(os.path.dirname(entry))
        _publish_exclusive(
            entry, {"dest": os.path.abspath(dest_dir), "fork_version": v},
            f"clone registry entry {tag} already exists",
        )

    _fork(
        table_dir, dest_dir, tag, version, then=register,
        name=os.path.basename(os.path.normpath(dest_dir)),
        clone=True, gc_tag=tag,
    )
    return dest_dir


def clone_tag(dest_dir: str) -> str:
    """The GC tag a clone at `dest_dir` pins on its source. Keyed on
    the ABSOLUTE destination path (hashed), not the basename — two
    clones whose paths share a leaf name must not collide (dropping
    one basename-keyed tag would un-pin the OTHER clone's fork
    version). Also recorded in the clone's _branch.json as `gc_tag`
    and in the source's clone registry entry name."""
    import hashlib

    p = os.path.abspath(dest_dir)
    h = hashlib.md5(p.encode()).hexdigest()[:8]
    return f"clone-{os.path.basename(os.path.normpath(p))}-{h}"


def delete_branch(table_dir: str, name: str) -> list[str]:
    """Retire a branch: remove its directory (nested branches
    included) and the fork tag, then sweep the data files and DV
    sidecars its subtree referenced that no other root of the table
    still references. Refuses while a registered clone of the branch,
    or of a branch nested under it, still exists: the clone's registry
    entry lives under the branch's `_clones/`, so once the branch is
    gone the source's GC walk (`snapshots._roots`) no longer reaches
    the clone and would reclaim files it reads. Returns the removed
    data files."""
    bdir = os.path.abspath(_branch_dir(table_dir, name))
    if not get_store().exists(os.path.join(bdir, "_branch.json")):
        raise FileNotFoundError(f"no branch {name!r} at {table_dir}")
    clones = [
        r for r in _roots(bdir) if os.path.commonpath([r, bdir]) != bdir
    ]
    if clones:
        raise ValueError(
            f"delete_branch refused: branch {name!r} has live clones "
            f"{clones} registered under it, which the source's GC walk "
            "reaches only through the branch — remove them first"
        )
    files, dv = _referenced(bdir)
    shutil.rmtree(bdir, ignore_errors=True)
    get_store().remove_tree(bdir)
    delete_tag(table_dir, _fork_tag(name))
    return _sweep(table_dir, files, dv)
