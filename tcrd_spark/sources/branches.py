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
  `data` SYMLINK to the source's data directory. Because manifests
  list files relative to the data dir, every existing verb —
  read_version, append_version, merge_version, delete_version,
  optimize_version, read_changes, expectations, the streaming source
  — works on the branch path UNCHANGED; new files staged on the
  branch land in the shared data dir under uuid-tagged names no
  source manifest ever references. (An object-store deployment maps
  the two prefixes instead of symlinking; the manifest math is
  identical.)
- the fork version is pinned by an automatic TAG (`branch-<name>`),
  so `vacuum` on the source can never reclaim files the branch still
  reads — the tag IS the branch's GC root, dropped with the branch.
- `vacuum` on a branch directory is REFUSED (snapshots.vacuum checks
  `_branch.json`): a branch's dropped manifests reference shared
  source files, so per-branch retention GC could delete data live in
  the source. Merge or delete the branch, then vacuum the source.
- `merge_branch`: pure-APPEND branches replay onto the CURRENT
  source head even if the source advanced since the fork (appends
  conflict with nothing — the optimistic-append rule), through the
  same manifest CAS every writer uses. Branches containing REWRITE
  commits (merge/delete/optimize) merge only fast-forward (source
  still at the fork version) — their file lists encode the fork-time
  table state, so replaying them onto a moved head would silently
  drop the source's newer rows; otherwise the merge raises a
  conflict and the caller re-forks.
- `delete_branch` removes the branch's own files (those in branch
  manifests but no source manifest), its directory, and the fork tag.

100 TB shape: fork is O(1) (one manifest copy + one symlink + one
tag) — no data moves, ever; merge moves manifests, not bytes; the
branch's isolation is the manifest namespace, not a data copy.

Reference parity: none (lakehouse extension; with sources/snapshots.py).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from tcrd_spark.sources.metastore import get_store
from tcrd_spark.sources.snapshots import (
    _commit,
    _data_dir,
    _head,
    _layout,
    _manifest_dir,
    _manifest_path,
    _publish_exclusive,
    _read_manifest,
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
    root = os.path.join(table_dir, "_branches")
    out = {}
    for name in get_store().listdir(root):
        bdir = os.path.join(root, name)
        if get_store().exists(os.path.join(bdir, "_branch.json")):
            meta = _branch_meta(bdir)
            out[name] = {
                "fork_version": meta["fork_version"],
                "head": versions(bdir)[-1],
            }
    return out


def create_branch(
    table_dir: str, name: str, version: int | None = None,
    no_symlink: bool = False,
) -> str:
    """Fork `table_dir` at `version` (default: head) into a writable
    branch; returns the branch directory — a full table path every
    existing verb accepts. O(1): no data is copied or moved.

    Data sharing has two modes. Default: a `data` symlink into the
    source (POSIX filesystems). `no_symlink=True` — or a filesystem
    whose `os.symlink` raises (object-store mounts, some network
    filesystems) — records the source data dir as `data_dir` in
    `_branch.json` instead, and `snapshots._data_dir` resolves every
    branch data path through that prefix mapping. The manifest math
    is identical in both modes (manifests list files relative to the
    data dir either way)."""
    m = _head(table_dir, version)
    v = m["version"]
    store = get_store()
    bdir = _branch_dir(table_dir, name)
    if os.path.exists(bdir) or store.exists(bdir):
        raise FileExistsError(f"branch {name!r} exists at {table_dir}")
    # the fork tag is the branch's GC root: source vacuum retains the
    # fork version (and so every file the branch inherited) while the
    # branch lives
    tag_version(table_dir, _fork_tag(name), v)
    meta = {"name": name, "source": os.path.abspath(table_dir),
            "fork_version": v}
    try:
        store.claim_dir(_manifest_dir(bdir))
        if no_symlink or not store.supports_symlink:
            meta["data_dir"] = os.path.abspath(_data_dir(table_dir))
        else:
            try:
                os.makedirs(bdir, exist_ok=True)
                os.symlink(
                    os.path.relpath(_data_dir(table_dir), bdir),
                    _data_dir(bdir),
                )
            except OSError:
                # symlink-less filesystem: fall back to the prefix map
                meta["data_dir"] = os.path.abspath(_data_dir(table_dir))
        _publish_exclusive(
            _manifest_path(bdir, v), m,
            f"branch seed v{v} already exists",
        )
        _publish_exclusive(
            os.path.join(bdir, "_branch.json"), meta,
            f"branch meta for {name!r} already exists",
        )
    except Exception:
        shutil.rmtree(bdir, ignore_errors=True)
        store.remove_tree(bdir)
        delete_tag(table_dir, _fork_tag(name))
        raise
    return bdir


def _branch_new_versions(bdir: str) -> list[int]:
    fork_v = _branch_meta(bdir)["fork_version"]
    return [v for v in versions(bdir) if v > fork_v]


def merge_branch(
    spark: SparkSession, table_dir: str, name: str
) -> int:
    """Publish the branch's commits onto the source; returns the new
    source head. Append-only branches merge onto a MOVED head;
    branches with rewrite commits fast-forward only (else raises).
    The branch itself is left intact — `delete_branch` retires it."""
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
        # replay each append's ADDED files onto the live head via the
        # standard manifest CAS — safe under concurrent writers
        for v in new_vs:
            bm = _read_manifest(bdir, v)
            prev = set(_read_manifest(bdir, bm["parent"])["files"])
            added = [f for f in bm["files"] if f not in prev]
            added_stats = {
                f: s for f, s in bm.get("stats", {}).items() if f in set(added)
            }
            while True:
                cur = versions(table_dir)[-1]
                cm = _read_manifest(table_dir, cur)
                if cm["columns"] != bm["columns"]:
                    raise ValueError(
                        "merge conflict: source schema changed — "
                        f"{cm['columns']} vs branch {bm['columns']}"
                    )
                if cm["part_col"] != bm["part_col"]:
                    # repartition_table on the source since the fork:
                    # attaching branch files would mix two hive
                    # layouts in one manifest and break partition
                    # discovery on the merged head
                    raise ValueError(
                        "merge conflict: source partition spec changed "
                        f"({bm['part_col']!r} → {cm['part_col']!r}) "
                        "since the fork — re-fork and replay"
                    )
                try:
                    _commit(table_dir, {
                        "version": cur + 1, "parent": cur,
                        "op": "append", "merged_from": name,
                        # the branch files were staged under the
                        # branch's schema: a source whose schema
                        # differs reads the merged head by inference
                        **_layout(cm, schema=(
                            cm.get("schema")
                            if cm.get("schema") == bm.get("schema")
                            else None
                        )),
                        "files": sorted(set(cm["files"]) | set(added)),
                        "stats": {**cm.get("stats", {}), **added_stats},
                        # the SOURCE head's dv state — append-only
                        # branches cannot add dv commits
                        "dv": cm.get("dv", []),
                    })
                    break
                except FileExistsError:
                    continue  # lost the CAS to a concurrent writer
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
    `_branch.json` prefix mapping to the source's data dir — no bytes
    move, ever. Differences from a branch: the clone lives at an
    arbitrary path, never merges back, and has its own history
    forever; it shares the branch rules that matter (every verb works
    on it; files it stages land in the SHARED data dir under names no
    source manifest references; vacuum on the clone refuses — its
    dropped manifests reference shared files).

    GC root: the source gets an automatic `clone-<basename>` tag
    pinning the fork version, so source vacuum never reclaims files
    the clone still reads. Dropping that tag (`delete_tag`) is the
    operator's declaration that the clone is abandoned — the same
    caveat Delta documents for shallow clones."""
    m = _head(table_dir, version)
    v = m["version"]
    store = get_store()
    if os.path.exists(dest_dir) or store.exists(dest_dir):
        raise FileExistsError(f"clone destination exists: {dest_dir}")
    tag = clone_tag(dest_dir)
    tag_version(table_dir, tag, v)
    try:
        store.claim_dir(_manifest_dir(dest_dir))
        _publish_exclusive(
            _manifest_path(dest_dir, v), m,
            f"clone seed v{v} already exists",
        )
        _publish_exclusive(
            os.path.join(dest_dir, "_branch.json"),
            {"name": os.path.basename(os.path.normpath(dest_dir)),
             "source": os.path.abspath(table_dir),
             "fork_version": v, "clone": True, "gc_tag": tag,
             "data_dir": os.path.abspath(_data_dir(table_dir))},
            f"clone meta for {dest_dir!r} already exists",
        )
        # register the clone on the SOURCE so remove_orphans can see
        # the clone's manifests (clone-staged files live in the
        # shared data dir and would otherwise look orphaned)
        store.makedirs(os.path.join(table_dir, "_clones"))
        _publish_exclusive(
            os.path.join(table_dir, "_clones", f"{tag}.json"),
            {"dest": os.path.abspath(dest_dir), "fork_version": v},
            f"clone registry entry {tag} already exists",
        )
    except Exception:
        shutil.rmtree(dest_dir, ignore_errors=True)
        store.remove_tree(dest_dir)
        delete_tag(table_dir, tag)
        try:
            store.unlink(os.path.join(table_dir, "_clones", f"{tag}.json"))
        except FileNotFoundError:
            pass
        raise
    return dest_dir


def clone_tag(dest_dir: str) -> str:
    """The GC tag a clone at `dest_dir` pins on its source. Keyed on
    the ABSOLUTE destination path (hashed), not the basename — two
    clones whose paths share a leaf name must not collide (dropping
    one basename-keyed tag would un-pin the OTHER clone's fork and
    expose its files to vacuum). Also recorded in the clone's
    _branch.json as `gc_tag`."""
    import hashlib

    p = os.path.abspath(dest_dir)
    h = hashlib.md5(p.encode()).hexdigest()[:8]
    return f"clone-{os.path.basename(os.path.normpath(p))}-{h}"


def delete_branch(table_dir: str, name: str) -> list[str]:
    """Retire a branch: remove the files only IT references (staged
    on the branch, never merged), its directory, and the fork tag.
    Returns the removed file names."""
    bdir = _branch_dir(table_dir, name)
    if not get_store().exists(os.path.join(bdir, "_branch.json")):
        raise FileNotFoundError(f"no branch {name!r} at {table_dir}")
    branch_files = {
        f for v in versions(bdir) for f in _read_manifest(bdir, v)["files"]
    }
    source_files = {
        f
        for v in versions(table_dir)
        for f in _read_manifest(table_dir, v)["files"]
    }
    base = _data_dir(table_dir)
    removed = []
    for f in sorted(branch_files - source_files):
        p = os.path.join(base, f)
        if os.path.exists(p):
            os.remove(p)
            removed.append(f)
    # dv sidecars only the branch references (its own dv deletes,
    # never merged) — same shared-namespace cleanup as staged files
    from tcrd_spark.sources.snapshots import _dv_dir

    branch_dv = {
        n for v in versions(bdir)
        for n in (_read_manifest(bdir, v).get("dv") or [])
    }
    source_dv = {
        n for v in versions(table_dir)
        for n in (_read_manifest(table_dir, v).get("dv") or [])
    }
    for n in sorted(branch_dv - source_dv):
        shutil.rmtree(
            os.path.join(_dv_dir(table_dir), n), ignore_errors=True
        )
    shutil.rmtree(bdir, ignore_errors=True)
    get_store().remove_tree(bdir)
    delete_tag(table_dir, _fork_tag(name))
    return removed
