"""Versioned-manifest table reads — lake time travel (VERDICT r7 #7).

MERGE (`sources/merge.py`) and SCD2 (`operators/scd.py`) give
row-level history; what a 100 TB training deployment additionally
leans on is SNAPSHOT reproducibility: "train on the corpus exactly as
it was at version N" (the Delta/Iceberg capability, and the
engine-level analogue of the reference's provenance/dataset lineage
tables, SQL/create-TCRDv7.sql:297,1693).

Minimal honest design, the same shape the real formats use:

- data files live in hive partition directories
  (``<table>/data/<part>=<val>/v{N}-{i}.parquet``) and are IMMUTABLE —
  a commit never rewrites or deletes a live file;
- each commit writes a JSON manifest ``<table>/_manifests/v{N}.json``
  listing the data files (relative paths) that constitute that
  version, plus parent/op metadata;
- a versioned read plans from the MANIFEST, not a directory listing
  (``read_version``): old versions stay byte-identically readable
  after any number of later commits, and at scale the read never
  pays an object-store LIST;
- ``merge_version`` is copy-on-write at FILE granularity: the files
  of the source's partitions whose key zone map overlaps that
  partition's source key range are read from the current snapshot,
  merged (`merge_frames`), and written as NEW files; the next
  manifest carries every other file forward by reference. Bytes
  written ∝ change, and the previous version survives;
- every manifest records the table's ``schema`` (the StructType
  JSON of its columns: footer types, and the partition column as
  Spark types its path values). Commits that define the columns
  (`create_table`, `append_version(merge_schema=True)`,
  `repartition_table`) infer it once over their files; every other
  commit carries its parent's (`_layout`), re-inferring only when
  the files it stages would not read back under it;
- every verb reads through one scan (`_scan`: the manifest's schema
  handed to the reader, so no footer is opened to plan it; manifest
  columns in order; deletion vectors applied; a column a file lacks
  reads as NULL), plans merge candidates through one zone-map
  planner (`_candidate_files`) and publishes deletion vectors
  through one commit (`_publish_marks`). A manifest written before
  schemas were recorded reads with the schema inferred from its
  files' footers (`_infer_schema`), one job per read.

Commit protocol: every metadata object (manifest, tag, branch meta)
publishes through the active store's atomic PUT-IF-ABSENT
(`sources/metastore.py` — the Delta LogStore seam): link(2) CAS with
an O_EXCL + .wip fallback on PosixStore; a conditional PUT on an
object store. Concurrent writers race the CAS and the loser retries
against the new head — no catalog lock needed.
``manifest_diff`` exposes the provenance view (files added/removed
per version). Not oracle-adjudicated: the semantics are filesystem
state over self-written tables, outside the driver's fixed
table views — pytest-pinned instead (tests/test_snapshots.py: write
v1 → merge → v1 re-reads byte-identical, untouched files shared by
reference, diff accounts every file).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from tcrd_spark.sources.merge import merge_frames
from tcrd_spark.sources.metastore import (  # metadata-plane seam
    _WIP_TIMEOUT,  # noqa: F401  (tests pin the posix protocol via here)
    _fallback_publish,  # noqa: F401
    _repair_aborted,  # noqa: F401
    get_store,
    use_store,  # noqa: F401  (re-export: the deployment/test knob)
)


def _manifest_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_manifests")


def _data_dir(table_dir: str) -> str:
    """The table's data directory. A branch normally shares its
    source's data via a `data` symlink; on filesystems without
    symlinks (object stores), `create_branch(no_symlink=True)` records
    the source data dir in `_branch.json` instead and every path
    resolves through this prefix mapping — same manifest math, no
    symlink syscall anywhere."""
    d = os.path.join(table_dir, "data")
    if not os.path.exists(d):
        bj = os.path.join(table_dir, "_branch.json")
        if get_store().exists(bj):
            mapped = get_store().read_json(bj).get("data_dir")
            if mapped:
                return mapped
    return d


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_manifest_dir(table_dir), f"v{version:05d}.json")


# --------------------------------------------- deletion vectors (MOR)
#
# Merge-on-read DELETE (Delta deletion vectors / Iceberg v2 position
# deletes): `delete_version(..., mode="dv")` writes a tiny parquet
# sidecar of (file, pos) row positions under `<table>/_dv/` and a new
# manifest that REFERENCES it (`"dv": [name, ...]`) with the file
# list unchanged — a 10-row GDPR erasure on a 100 TB table moves
# kilobytes instead of rewriting partitions. Every snapshot read
# anti-joins its manifest's DV index on (relative file, parquet row
# index via `_metadata.row_index`) — positions are physical file
# offsets, stable because data files are immutable. Sidecars are
# DISJOINT by construction (a dv delete scans the DV-APPLIED current
# snapshot, so already-deleted rows are never re-marked), which is
# what makes the CDC delta (read_changes) exact. Rewrite commits
# carry the dv list forward: entries for files they rewrote become
# inert (the name is no longer in the file list — the anti-join
# matches nothing), entries for carried files stay live; a FULL
# rewrite (optimize/repartition) clears the list. DVs are for SMALL
# deletes — the index broadcasts; bulk erasure belongs to the default
# copy-on-write mode.


def _dv_dir(table_dir: str) -> str:
    """DV sidecars live in the DATA namespace (`<table>/_dv`, beside
    `<table>/data`), resolved through the same symlink/prefix mapping
    branches and clones use for data files: a branch's dv delete
    writes into the SHARED sidecar dir under a uuid name no source
    manifest references — exactly the staged-data-file discipline —
    and source-inherited dv names keep resolving on the branch."""
    base = os.path.realpath(os.path.abspath(_data_dir(table_dir)))
    return os.path.join(os.path.dirname(base), "_dv")


# every sidecar holds exactly these columns (`_publish_marks` writes
# the scan's `_rf` string and `_metadata.row_index` long)
_DV_SCHEMA = "file STRING, pos BIGINT"


def _dv_df(spark: SparkSession, table_dir: str, names: list[str] | None):
    """The named DV sidecars as one ('_rf', '_ri') DataFrame — the
    (file, row index) pair `_scan` tags each row with — or None when
    there are none. Read with the sidecars' fixed schema: no footer
    job."""
    if not names:
        return None
    return spark.read.schema(_DV_SCHEMA).parquet(
        *[os.path.join(_dv_dir(table_dir), n) for n in names]
    ).select(F.col("file").alias("_rf"), F.col("pos").alias("_ri"))


def _rel_file():
    """'part=val/vNNNNN-xxx.parquet' from the scan's file metadata —
    the manifest-relative path (one hive level, the layout contract).
    `_metadata.file_path` is a URI: percent-decode it so a partition
    value Spark escapes ('a b' is 'a%20b' there) matches its manifest
    name; '+' is literal in a URI path, so it is protected first.

    DV sidecars written before this decode, by code that took the path
    raw, hold URI-encoded names for a partition with an escaped value;
    they do not match and are not read-compatible (no lake in the repo
    has one). They are not decoded on read: that would mangle a current
    name holding a literal '%', such as 'x%y' (pinned in
    tests/test_dv.py)."""
    rel = F.regexp_extract(
        F.col("_metadata.file_path"), r"([^/]+/[^/]+)$", 1
    )
    return F.url_decode(F.regexp_replace(rel, r"\+", "%2B"))


def _infer_schema(
    spark: SparkSession, table_dir: str, files: list[str]
) -> dict | None:
    """The schema Spark infers for `files`: their footers merged
    (mergeSchema) and the partition column typed from its path
    values, as StructType JSON. One footer job. It is the schema's
    source for commits that define the columns, for a commit whose
    staged files do not fit its parent's schema, and for reads of a
    manifest written before schemas were recorded. None for no
    files."""
    if not files:
        return None
    base = _data_dir(table_dir)
    return (
        spark.read.option("basePath", base)
        .option("mergeSchema", "true")
        .parquet(*[os.path.join(base, f) for f in files])
        .schema.jsonValue()
    )


def _fits(
    schema: dict, table_dir: str, staged: DataFrame, part_col: str,
    new_files: list[str],
) -> bool:
    """Whether `new_files`, staged from `staged`, read back under the
    recorded `schema` exactly as inference over them would type them:
    every staged data column has its recorded type, and a non-string
    partition column's new path values infer as the recorded type
    (a driver-side path parse: the reader is handed the data columns,
    so it opens no footer)."""
    if not new_files:
        return True
    want = StructType.fromJson(schema)
    types = {f.name: f.dataType for f in want.fields}
    if any(
        types.get(f.name) != f.dataType
        for f in staged.schema.fields if f.name != part_col
    ):
        return False
    if isinstance(types.get(part_col), StringType):
        return True
    base = _data_dir(table_dir)
    got = (
        staged.sparkSession.read.schema(
            StructType([f for f in want.fields if f.name != part_col])
        )
        .option("basePath", base)
        .parquet(*[os.path.join(base, f) for f in new_files])
        .schema
    )
    return part_col in got.names and got[part_col].dataType == types.get(
        part_col
    )


def _next_schema(
    table_dir: str, m: dict, staged: DataFrame, part_col: str,
    new_files: list[str], files: list[str],
) -> dict | None:
    """The schema of a commit that stages `new_files` from `staged`
    on top of parent manifest `m` and lists `files`: the parent's
    when the new files fit it (`_fits`), else the one inference over
    `files` (a parent written before schemas were recorded upgrades
    here)."""
    parent = m.get("schema")
    if parent is not None and _fits(
        parent, table_dir, staged, part_col, new_files
    ):
        return parent
    return _infer_schema(staged.sparkSession, table_dir, files)


def _layout(m: dict, **changes) -> dict:
    """The table-shape fields a manifest carries from its parent `m`:
    partition column, column order and schema, with `changes`
    applied. Every commit builds its manifest through this, so no
    verb can drop a field."""
    return {
        "part_col": m["part_col"], "columns": m["columns"],
        "schema": m.get("schema"), **changes,
    }


def _scan(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    files: list[str],
    positions: bool = False,
) -> DataFrame:
    """The VISIBLE rows of `files` under manifest `m`, columns in
    manifest order — the one read every snapshot verb plans through.

    The reader is handed the manifest's schema, so planning opens no
    footer and fires no job, and every subset of the snapshot reads
    with the snapshot's types: a column a file lacks (written before
    an additive evolution, append_version(merge_schema=True)) reads as
    NULL of its recorded type. A manifest without a schema (written
    before schemas were recorded) takes it from `_infer_schema` over
    its files — one footer job. The manifest's DV index is
    anti-joined on (relative file, parquet row index) — broadcast,
    small by the mode's contract. `positions=True` carries that pair
    as `_rf`/`_ri`, captured as plain columns on the raw scan before
    any join (metadata columns don't survive arbitrary plan shapes).
    An empty `files` is the snapshot's empty frame."""
    if not files and m["files"]:
        return _scan(spark, table_dir, m, m["files"], positions).limit(0)
    base = _data_dir(table_dir)
    schema = m.get("schema") or _infer_schema(spark, table_dir, m["files"])
    df = (
        spark.read.schema(StructType.fromJson(schema))
        .option("basePath", base)
        .parquet(*[os.path.join(base, f) for f in files])
    )
    dv = _dv_df(spark, table_dir, m.get("dv"))
    if positions or dv is not None:
        df = df.withColumn("_rf", _rel_file()).withColumn(
            "_ri", F.col("_metadata.row_index")
        )
    if dv is not None:
        df = df.join(F.broadcast(dv), ["_rf", "_ri"], "left_anti")
    return df.select(*m["columns"], *(["_rf", "_ri"] if positions else []))


def versions(table_dir: str) -> list[int]:
    """Committed version numbers, ascending."""
    return sorted(
        int(n[1:-5])
        for n in get_store().listdir(_manifest_dir(table_dir))
        if n.startswith("v") and n.endswith(".json")
        and n[1:-5].isdigit()
    )


def _read_manifest(table_dir: str, version: int) -> dict:
    """One committed manifest, read through the active metadata store
    (complete-read contract; the PosixStore adds the torn-window retry
    + stale-marker repair of its fallback publish path). Raises
    FileNotFoundError for absent and just-repaired versions."""
    return get_store().read_json(_manifest_path(table_dir, version))


def _read_manifest_opt(table_dir: str, version: int) -> dict | None:
    """Version-WALK flavor of `_read_manifest`: a manifest that
    vanishes between the `versions()` listing and the read — just
    repaired away as an aborted commit, or concurrently vacuumed — is
    ABSENT, not an error (ADVICE r10: a single torn manifest must not
    abort a metadata walk or a txn-guard check; point reads of a
    version the caller named keep the loud FileNotFoundError)."""
    try:
        return _read_manifest(table_dir, version)
    except FileNotFoundError:
        return None


def _head(table_dir: str, version: int | None = None) -> dict:
    """The manifest of `version` (default: the newest) — the prologue
    of every verb. Raises FileNotFoundError when the table has no
    versions or lacks the named one. The listed head can be repaired
    away between listing and read (an aborted fallback commit), so an
    unnamed head re-resolves once."""
    vs = versions(table_dir)
    if not vs:
        raise FileNotFoundError(f"no versions at {table_dir}")
    if version is None:
        m = _read_manifest_opt(table_dir, vs[-1])
        if m is not None:
            return m
        version = (versions(table_dir) or vs)[-1]
    elif version not in vs:
        raise FileNotFoundError(f"no version {version} at {table_dir}")
    return _read_manifest(table_dir, version)


def _publish_exclusive(final: str, obj: dict, errmsg: str) -> None:
    """Atomic EXCLUSIVE JSON publish through the active metadata
    store (sources/metastore.py): put-if-absent is the one primitive
    the whole commit protocol stands on — link(2) CAS with an O_EXCL
    + .wip fallback on PosixStore, a conditional PUT on an object
    store. Raises FileExistsError(errmsg) on a lost race."""
    get_store().publish_exclusive(final, obj, errmsg)


def _commit(table_dir: str, manifest: dict) -> None:
    """Atomic exclusive manifest publish (`_publish_exclusive`).
    Stamps commit wall-time (`ts`, epoch seconds) unless the caller
    provided one — the TIMESTAMP AS OF axis."""
    import time

    manifest.setdefault("ts", time.time())
    get_store().makedirs(_manifest_dir(table_dir))
    final = _manifest_path(table_dir, manifest["version"])
    _publish_exclusive(
        final, manifest,
        f"version {manifest['version']} already committed "
        f"(concurrent writer?): {final}",
    )
    if manifest["version"] % _CKPT_EVERY == 0:
        # best-effort walk checkpoint (Delta's auto-checkpoint
        # cadence): a failure here never un-commits the manifest —
        # the next multiple simply retries
        try:
            checkpoint_manifests(table_dir)
        except Exception:
            pass


def _partition_of(relpath: str) -> str:
    """'lang=en/v00001-0.parquet' → 'lang=en'."""
    return os.path.dirname(relpath)


def _file_stats(path: str) -> dict:
    """Per-column [min, max] from the parquet FOOTER (no data read) —
    the zone-map metadata Delta/Iceberg keep per data file. Only
    JSON-portable primitives (int/float/str/bool) are recorded; a
    column without usable footer stats is simply absent, which the
    pruner treats as \"must scan\" (always safe)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    stats: dict[str, list] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            c = g.column(ci)
            name = c.path_in_schema
            if name in bad:
                continue
            st = c.statistics
            try:
                usable = (
                    st is not None
                    and st.has_min_max
                    and isinstance(st.min, (int, float, str, bool))
                )
            except pa.ArrowNotImplementedError:
                # no min/max extractor for the column's logical type
                # (pyarrow 16: a decimal stored as INT64)
                usable = False
            if not usable:
                stats.pop(name, None)
                bad.add(name)
                continue
            cur = stats.get(name)
            if cur is None:
                stats[name] = [st.min, st.max]
            else:
                cur[0] = min(cur[0], st.min)
                cur[1] = max(cur[1], st.max)
    return stats


def _stage_files(
    df: DataFrame, table_dir: str, part_col: str, version: int
) -> tuple[list[str], dict[str, dict]]:
    """Write df hive-partitioned to a temp dir, then move each data
    file into the table's partition directories under an immutable
    version-tagged name. Returns (relative paths, per-file footer
    stats for data skipping)."""
    tmp = os.path.join(table_dir, f"_staging-{uuid.uuid4().hex[:8]}")
    df.write.partitionBy(part_col).mode("overwrite").parquet(tmp)
    moved: list[str] = []
    stats: dict[str, dict] = {}
    # a per-stage uuid in the data-file name: two writers staging for
    # the same target version (optimistic-append race) must never
    # rename onto each other's files — the version tag is provenance,
    # the uuid is the uniqueness guarantee
    stage_tag = uuid.uuid4().hex[:8]
    for src in glob.glob(
        os.path.join(tmp, f"{part_col}=*", "*.parquet")
    ):
        part = os.path.basename(os.path.dirname(src))
        dest_dir = os.path.join(_data_dir(table_dir), part)
        os.makedirs(dest_dir, exist_ok=True)
        rel = os.path.join(
            part, f"v{version:05d}-{stage_tag}-{len(moved):04d}.parquet"
        )
        dest = os.path.join(_data_dir(table_dir), rel)
        os.rename(src, dest)
        stats[rel] = _file_stats(dest)
        moved.append(rel)
    shutil.rmtree(tmp)
    return sorted(moved), stats


def _enforce_expectations(df: DataFrame, specs) -> None:
    """Commit-time quality gate (the Delta CHECK-constraint shape,
    with quality/expectations.py as the predicate language): the
    incoming frame's one-pass verdict suite must be all-green or the
    commit NEVER STAGES A BYTE. Cost: one aggregate pass over the
    batch being committed — not the table."""
    from tcrd_spark.quality.expectations import run_expectations

    verdicts = run_expectations(df, specs).collect()
    failed = [r for r in verdicts if r["passed"] != 1]
    if failed:
        detail = ", ".join(
            f"{r['check_name']}(metric={r['metric']})" for r in failed
        )
        raise ValueError(f"commit refused — failed expectations: {detail}")


def create_table(
    df: DataFrame, table_dir: str, part_col: str
) -> int:
    """Commit version 1 of a partitioned versioned table."""
    if versions(table_dir):
        raise FileExistsError(f"versioned table exists: {table_dir}")
    files, stats = _stage_files(df, table_dir, part_col, 1)
    _commit(table_dir, {
        "version": 1, "parent": None, "op": "create",
        "part_col": part_col, "columns": df.columns,
        "schema": _infer_schema(df.sparkSession, table_dir, files),
        "files": files, "stats": stats,
    })
    return 1


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The table exactly as of `version` (default: latest). Plans
    from the manifest's file list — no directory listing, and later
    commits never change what this returns."""
    m = _head(table_dir, version)
    return _scan(spark, table_dir, m, m["files"])


# ------------------------------------------------ walk checkpoints
#
# Delta's `_last_checkpoint` shape for the metadata WALKS: the verbs
# that consult every commit's small header — TIMESTAMP AS OF
# resolution, the txn-idempotence guard, DESCRIBE HISTORY — read
# O(versions) manifest JSONs cold. On a streaming table committing
# once a minute that is tens of thousands of reads per cold walk. A
# checkpoint summarizes the headers (ts / txn_id / op / parent /
# n_files / merged_from / restored_from — NOT file lists; snapshot
# READS keep planning from their own manifest) through version N;
# walks then read the checkpoint + only the manifests beyond it.
# Correctness under vacuum/repair: entries are always intersected
# with the LIVE versions() listing (one cheap listdir, no JSON), so a
# dropped or repaired-away version never resurfaces through a stale
# checkpoint. `_commit` auto-checkpoints every `_CKPT_EVERY` commits,
# best-effort (a lost CAS or failed write never blocks the commit —
# the next multiple retries).

_CKPT_EVERY = 10
_WALK_FIELDS = (
    "ts", "txn_id", "op", "parent", "merged_from", "restored_from"
)


def _ckpt_path(table_dir: str, version: int) -> str:
    return os.path.join(
        _manifest_dir(table_dir), f"_ckpt-v{version:05d}.json"
    )


def _walk_entry(m: dict) -> dict:
    e = {k: m.get(k) for k in _WALK_FIELDS if m.get(k) is not None}
    e["n_files"] = len(m.get("files", []))
    return e


_CKPT_CACHE: dict[tuple, tuple] = {}  # identity-keyed, like _TXN_CACHE


def _latest_ckpt(table_dir: str):
    """(through_version, entries) of the newest checkpoint, or None.
    The parse is cached on the checkpoint FILE'S identity token —
    checkpoints are immutable once published, and a streaming sink
    calls the txn guard every trigger."""
    names = [
        n for n in get_store().listdir(_manifest_dir(table_dir))
        if n.startswith("_ckpt-v") and n.endswith(".json")
        and n[7:-5].isdigit()
    ]
    if not names:
        return None
    v = max(int(n[7:-5]) for n in names)
    path = _ckpt_path(table_dir, v)
    ident = get_store().ident(path)
    if ident is None:
        return None
    key = (os.path.abspath(path), ident)
    if key not in _CKPT_CACHE:
        try:
            c = get_store().read_json(path)
        except FileNotFoundError:
            return None
        if len(_CKPT_CACHE) >= _TXN_CACHE_MAX:
            _CKPT_CACHE.clear()
        _CKPT_CACHE[key] = (
            c["through"],
            {int(k): e for k, e in c["entries"].items()},
        )
    return _CKPT_CACHE[key]


def checkpoint_manifests(table_dir: str) -> int:
    """Write a walk checkpoint through the current head; returns the
    covered version. INCREMENTAL: builds on the previous checkpoint,
    reading only the manifests beyond it — amortized O(1) manifest
    reads per commit under the auto-checkpoint cadence. Idempotent
    per head version (exclusive publish; a concurrent writer's
    identical checkpoint wins harmlessly)."""
    head = _head(table_dir)["version"]
    entries = {
        str(v): e for v, e in _walk_headers(table_dir).items()
    }
    try:
        _publish_exclusive(
            _ckpt_path(table_dir, head),
            {"through": head, "entries": entries},
            f"checkpoint v{head} exists",
        )
    except FileExistsError:
        pass  # an equivalent checkpoint already covers this head
    return head


def _walk_headers(table_dir: str) -> dict[int, dict]:
    """{version: header} for every LIVE version — checkpoint entries
    for the covered prefix, manifest reads only beyond it."""
    live = versions(table_dir)
    ck = _latest_ckpt(table_dir)
    out: dict[int, dict] = {}
    through = -1
    if ck is not None:
        through, entries = ck
        for v in live:
            if v <= through and v in entries:
                out[v] = entries[v]
    for v in live:
        if v > through or v not in out:
            m = _read_manifest_opt(table_dir, v)
            if m is not None:
                out[v] = _walk_entry(m)
    return out


def version_as_of(table_dir: str, ts: float) -> int:
    """TIMESTAMP AS OF resolution: the newest version committed at or
    before `ts` (epoch seconds). Raises if the table is younger than
    the asked-for time."""
    best = None
    for v, e in sorted(_walk_headers(table_dir).items()):
        if e.get("ts", float("inf")) <= ts:
            best = v
    if best is None:
        raise ValueError(
            f"no version at or before ts={ts} in {table_dir}"
        )
    return best


def read_as_of(
    spark: SparkSession, table_dir: str, ts: float
) -> DataFrame:
    """`read_version` addressed by commit TIME instead of number —
    'the corpus exactly as it was when run X trained'."""
    return read_version(spark, table_dir, version_as_of(table_dir, ts))


def plan_files(
    table_dir: str,
    version: int,
    col: str,
    lo,
    hi,
) -> tuple[list[str], int]:
    """Data skipping from manifest zone maps: the files of `version`
    whose footer [min, max] for `col` intersects [lo, hi], plus the
    snapshot's total file count. A file with no recorded stats for
    the column is kept (pruning is only ever an IO optimization).
    This is the Delta/Iceberg min-max skip — the planner never opens
    a data file, and combined with a clustered layout (sources/
    zorder.py supplies the clustering) a selective predicate reads a
    small fraction of the snapshot."""
    m = _read_manifest(table_dir, version)
    stats = m.get("stats", {})
    kept = []
    for f in m["files"]:
        s = stats.get(f, {}).get(col)
        if s is None or (s[0] <= hi and lo <= s[1]):
            kept.append(f)
    return kept, len(m["files"])


def read_version_pruned(
    spark: SparkSession,
    table_dir: str,
    col: str,
    lo,
    hi,
    version: int | None = None,
) -> DataFrame:
    """`read_version` + `col BETWEEN lo AND hi`, planning ONLY the
    files the zone maps admit; the exact predicate is re-applied so
    results equal the unpruned filter exactly (pytest-pinned)."""
    m = _head(table_dir, version)
    kept, _total = plan_files(table_dir, m["version"], col, lo, hi)
    pred = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
    return _scan(spark, table_dir, m, kept).where(pred)


def append_version(
    table_dir: str,
    df: DataFrame,
    txn_id: int | str | None = None,
    merge_schema: bool = False,
    expectations=None,
) -> int | None:
    """Append-only commit: new files land, every existing file carries
    forward by reference. ``txn_id`` makes the commit IDEMPOTENT — the
    Delta txnAppId/txnVersion pattern: if any manifest already records
    this txn_id, the commit is a no-op (returns None). That is exactly
    what an at-least-once streaming sink needs: a replayed micro-batch
    re-offers the same txn_id and is skipped instead of duplicated.

    ``merge_schema=True`` is additive schema evolution (Delta's
    schema-merging write): the frame may carry NEW columns (it must
    still hold every existing one); they append to the committed
    column order, and snapshots containing pre-evolution files read
    them as NULL."""
    m = _head(table_dir)
    if txn_id is not None and txn_seen(table_dir, txn_id):
        return None  # already committed: replay is a no-op
    cur_v = m["version"]
    cols = m["columns"]
    extra = [c for c in df.columns if c not in cols]
    if extra and not merge_schema:
        raise ValueError(
            f"append has columns the table lacks {extra}; pass "
            "merge_schema=True for additive evolution"
        )
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"append is missing table columns {missing}")
    if expectations:
        _enforce_expectations(df, expectations)
    cols = cols + extra if merge_schema else cols
    staged = df.select(*cols)
    new_files, new_stats = _stage_files(
        staged, table_dir, m["part_col"], cur_v + 1
    )
    # Optimistic concurrency (the Delta conflict-resolution rule for
    # blind appends): if another writer commits first, an append
    # conflicts with NOTHING — its staged files are disjoint by
    # construction — so re-read the current manifest and re-offer the
    # commit on top. Only the manifest CAS retries; data files are
    # staged once. (Concurrent MERGEs are write conflicts and keep
    # the loud FileExistsError — the caller must re-run the merge.)
    while True:
        base_m = _read_manifest(table_dir, versions(table_dir)[-1])
        if base_m["columns"] != m["columns"]:
            raise ValueError(
                "concurrent schema change during append — re-run the "
                "append against the evolved table"
            )
        v_next = base_m["version"] + 1
        if txn_id is not None and txn_seen(table_dir, txn_id):
            return None  # the race was with our own replay
        files = sorted(base_m["files"] + new_files)
        # an evolving append infers over the whole new file list, so
        # its schema is the one a read of it inferred before
        schema = (
            _infer_schema(df.sparkSession, table_dir, files) if extra
            else _next_schema(table_dir, base_m, staged,
                              base_m["part_col"], new_files, files)
        )
        try:
            _commit(table_dir, {
                "version": v_next, "parent": base_m["version"],
                "op": "append",
                **_layout(base_m, columns=cols, schema=schema),
                "txn_id": txn_id,
                "files": files,
                "stats": {**base_m.get("stats", {}), **new_stats},
                "dv": base_m.get("dv", []),  # deletes stay applied
            })
            return v_next
        except FileExistsError:
            continue  # lost the CAS — rebase on the new current


def streaming_snapshot_append(
    stream: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    expectations=None,
    quarantine_dir: str | None = None,
):
    """Structured-Streaming sink into a versioned table: every
    micro-batch is one append COMMIT whose txn_id is the checkpointed
    batch_id, so at-least-once foreachBatch becomes exactly-once at
    the manifest layer (a replayed batch finds its txn_id committed
    and no-ops) — and every micro-batch boundary is a time-travelable
    snapshot for free.

    With `expectations` this becomes WRITE-AUDIT-PUBLISH: each
    micro-batch's one-pass quality verdicts run BEFORE the commit; a
    failing batch never publishes. If `quarantine_dir` is given, the
    failing batch lands there under `batch_id=N/` (overwrite —
    replay-idempotent) with its verdicts JSON beside it, and the
    stream continues; without a quarantine the stream fails loudly.
    Readers of the TABLE only ever see audited data."""

    def _one(batch_df: DataFrame, batch_id: int) -> None:
        if expectations is not None:
            from tcrd_spark.quality.expectations import run_expectations

            verdicts = run_expectations(batch_df, expectations).collect()
            failed = [r for r in verdicts if r["passed"] != 1]
            if failed:
                detail = ", ".join(
                    f"{r['check_name']}(metric={r['metric']})"
                    for r in failed
                )
                if quarantine_dir is None:
                    raise ValueError(
                        f"micro-batch {batch_id} failed expectations "
                        f"({detail}) and no quarantine is configured"
                    )
                qdir = os.path.join(
                    quarantine_dir, f"batch_id={batch_id}"
                )
                batch_df.write.mode("overwrite").parquet(qdir)
                with open(
                    os.path.join(
                        quarantine_dir, f"verdicts-{batch_id}.json"
                    ),
                    "w",
                ) as f:
                    json.dump(
                        [r.asDict() for r in verdicts], f, indent=1
                    )
                return
        append_version(table_dir, batch_df, txn_id=batch_id)

    return (
        stream.writeStream.foreachBatch(_one)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


_TXN_CACHE: dict[tuple, object] = {}
_TXN_CACHE_MAX = 65536  # entries; cleared wholesale when full
_ABSENT = object()  # version vanished mid-walk (repaired/vacuumed)


def _txn_of(table_dir: str, v: int):
    """Memoized manifest txn_id lookup — manifests are immutable, so a
    committed version's txn_id never changes; without the cache every
    txn-guarded commit re-parses the FULL manifest history (O(N) JSON
    reads per trigger, O(N²) over a stream's life — the lake_source
    _added_count pathology). The cache key is the manifest FILE'S
    IDENTITY (path + inode + mtime_ns + size), not (table_dir, v):
    a table dropped and recreated at the same path within one driver
    process must never resolve to the OLD table's txn_id — that made
    txn_seen wrongly report a fresh batch as already applied and the
    write verbs silently no-op it (ADVICE r10, data loss). Aborted/
    torn manifests never parse, so they never poison the cache; a
    version that vanishes mid-walk reads as _ABSENT (never equal to
    any txn_id); the size bound stops unbounded growth across many
    tables."""
    path = _manifest_path(table_dir, v)
    ident = get_store().ident(path)
    if ident is None:
        return _ABSENT
    key = (os.path.abspath(path), ident)
    if key not in _TXN_CACHE:
        m = _read_manifest_opt(table_dir, v)
        if m is None:
            return _ABSENT
        if len(_TXN_CACHE) >= _TXN_CACHE_MAX:
            _TXN_CACHE.clear()
        _TXN_CACHE[key] = m.get("txn_id")
    return _TXN_CACHE[key]


def txn_seen(table_dir: str, txn_id) -> bool:
    """True if any committed manifest records this txn_id — the check
    an at-least-once sink makes BEFORE recomputing a batch's effect
    (a replayed batch may no longer VALIDATE against the post-apply
    state, e.g. SCD2's strictly-later precondition, so skip-detection
    cannot wait for the write verb's own guard). The covered prefix
    answers from the walk checkpoint (one identity-cached parse);
    only post-checkpoint manifests hit the per-version txn cache."""
    ck = _latest_ckpt(table_dir)
    through, entries = ck if ck is not None else (-1, {})
    for v in versions(table_dir):
        if v <= through and v in entries:
            if entries[v].get("txn_id") == txn_id:
                return True
        elif _txn_of(table_dir, v) == txn_id:
            return True
    return False


def _candidate_files(
    m: dict, source: DataFrame, key: str, by_partition: bool
) -> list[str]:
    """The files of snapshot `m` that a MERGE source could match — one
    zone-map planner on the first merge key (a match needs equality
    on every key, so the first alone is sound), one aggregate job.

    `by_partition` (the copy-on-write merge) takes the source's key
    [min, max] per partition value and keeps only files in the
    source's partitions whose key range overlaps it — sound under
    merge_version's contract that a key's partition never changes.
    Otherwise (the merge-on-read merge, which finds matches by key
    wherever they live) one table-wide range. A file without stats
    for the key is always kept."""
    part_col = m["part_col"]
    groups = [part_col] if by_partition else []
    ranges = {
        (f"{part_col}={r[part_col]}" if by_partition else None):
            (r["_lo"], r["_hi"])
        for r in source.groupBy(*groups).agg(
            F.min(key).alias("_lo"), F.max(key).alias("_hi")
        ).collect()
    }
    stats = m.get("stats", {})
    out = []
    for f in m["files"]:
        rng = ranges.get(_partition_of(f) if by_partition else None)
        if rng is None:
            continue
        s = stats.get(f, {}).get(key)
        if s is None or (
            rng[0] is not None and s[0] <= rng[1] and rng[0] <= s[1]
        ):
            out.append(f)
    return out


def _rewrite_commit(
    table_dir: str, m: dict, df: DataFrame, touched: list[str],
    header: dict,
) -> int:
    """The copy-on-write commit: `df` staged as new files replaces
    `touched`; every other file carries forward by reference with its
    zone map. Carried files keep their live DV entries; entries for
    the rewritten files just became inert (names left the list), so a
    commit that carries nothing clears the list."""
    v, part_col = m["version"] + 1, m["part_col"]
    new_files, new_stats = _stage_files(
        df.repartition(part_col), table_dir, part_col, v
    )
    gone = set(touched)
    keep = [f for f in m["files"] if f not in gone]
    stats = m.get("stats", {})
    files = sorted(keep + new_files)
    _commit(table_dir, {
        "version": v, "parent": m["version"], **header,
        **_layout(m, schema=_next_schema(
            table_dir, m, df, part_col, new_files, files
        )),
        "files": files,
        "stats": {**{f: stats[f] for f in keep if f in stats}, **new_stats},
        "dv": m.get("dv", []) if keep else [],
    })
    return v


def _publish_marks(
    table_dir: str, m: dict, marks: DataFrame | None, header: dict,
    new_files: list[str] | None = None, new_stats: dict | None = None,
    staged: DataFrame | None = None,
) -> int:
    """The one deletion-vector commit: write `marks` ((file, pos)
    rows; None marks nothing) as a sidecar under `_dv/`, then publish
    the next manifest — `m`'s files plus `new_files` (staged from
    `staged`), its dv list plus the sidecar. A lost CAS reclaims the
    sidecar before re-raising; staged data files are unreferenced
    orphans `remove_orphans` sweeps."""
    v = m["version"] + 1
    files = sorted(m["files"] + (new_files or []))
    schema = m.get("schema") if staged is None else _next_schema(
        table_dir, m, staged, m["part_col"], new_files or [], files
    )
    dv, out = list(m.get("dv", [])), None
    if marks is not None:
        name = f"v{v:05d}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(_dv_dir(table_dir), name)
        # positions, not data: kilobytes for a targeted change
        marks.coalesce(1).write.parquet(out)
        dv.append(name)
    try:
        _commit(table_dir, {
            "version": v, "parent": m["version"], **header, "mode": "dv",
            **_layout(m, schema=schema),
            "files": files,
            "stats": {**m.get("stats", {}), **(new_stats or {})},
            "dv": dv,
        })
    except FileExistsError:
        if out is not None:
            shutil.rmtree(out, ignore_errors=True)
        raise
    return v


def merge_version(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    keys: list[str],
    delete_condition: str | None = None,
    expectations=None,
    granularity: str = "partition",
    txn_id: int | str | None = None,
) -> int | None:
    """MERGE commit. The previous version stays readable
    byte-identically; untouched files carry forward by reference.

    ``granularity="partition"`` (default) is copy-on-write: it
    rewrites ONLY the files of the source's partitions whose key zone
    map overlaps that partition's source key range (`_candidate_files`;
    a file with no stats for the key is rewritten). Contract: a key's
    partition value never changes. With a key-clustered layout
    (OPTIMIZE ZORDER) a narrow-key batch touches a handful of files,
    and an insert-only batch of keys above every file's range
    rewrites none; the CDC feed's cost follows.

    ``granularity="dv"`` is merge-on-read (`_merge_dv`): matched rows
    are position-marked, the source's effect appended, no file
    rewritten. Any other value raises ValueError."""
    if granularity not in ("partition", "dv"):
        raise ValueError(
            f"merge granularity must be 'partition' or 'dv': "
            f"{granularity!r}"
        )
    m = _head(table_dir)
    if txn_id is not None and txn_seen(table_dir, txn_id):
        # the append_version idempotence contract (Delta txnAppId):
        # an at-least-once streaming sink re-offering a replayed
        # micro-batch's MERGE is a no-op, never a double-apply
        return None
    if expectations:
        _enforce_expectations(source, expectations)
    if granularity == "dv":
        return _merge_dv(
            spark, table_dir, m, source, keys, delete_condition, txn_id
        )
    touched = _candidate_files(m, source, keys[0], by_partition=True)
    merged = merge_frames(
        _scan(spark, table_dir, m, touched).select(source.columns),
        source, keys, delete_condition,
    )
    return _rewrite_commit(
        table_dir, m, merged, touched, {"op": "merge", "txn_id": txn_id}
    )


def _merge_dv(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    source: DataFrame,
    keys: list[str],
    delete_condition: str | None,
    txn_id,
) -> int:
    """Merge-on-read MERGE (``granularity="dv"`` — Delta's
    DV-accelerated MERGE): ONE commit that dv-marks every MATCHED
    target row's position and appends the source's effect — updated
    rows for matches (minus `delete_condition` matches, which are
    marked only), fresh rows for source-only keys. No target file is
    ever rewritten: bytes moved ∝ source size, so a narrow CDC batch
    against a 100 TB table costs kilobytes of sidecar plus the batch
    itself — regardless of partition scheme OR clustering (the
    rewrite granularity needs zone-map luck to touch few files; this
    needs none). Semantics mirror `merge_frames` exactly (SCD-1:
    update matched, insert unmatched-source, keep unmatched-target;
    `delete_condition` is SQL over the s-aliased source columns) —
    pytest-pinned row-identical to the partition-rewrite merge. One
    contract RELAXATION vs the rewrite mode: matches are found by
    key across the whole table (zone-map-scoped, not
    partition-scoped) and old copies are position-marked, so CDC
    tombstones and partition-moving updates whose source rows carry a
    different partition value apply correctly instead of stranding
    the old copy."""
    if source.columns != m["columns"]:
        raise ValueError(
            f"merge schemas differ: {source.columns} vs {m['columns']}"
        )
    # candidate scope is an OPTIMIZATION only (nothing here is
    # rewritten, so an over-wide scan costs read time, never
    # correctness) and deliberately NOT partition-scoped: matches are
    # found by KEY wherever they live
    touched = _candidate_files(m, source, keys[0], by_partition=False)
    marks = None
    if touched:
        # only VISIBLE rows can match
        t = _scan(spark, table_dir, m, touched, positions=True).alias("t")
        cond = None
        for k in keys:
            c = F.col(f"t.{k}") == F.col(f"s.{k}")
            cond = c if cond is None else (cond & c)
        matched = t.join(source.alias("s"), cond, "left_semi")
        marks = matched.select(
            F.col("_rf").alias("file"), F.col("_ri").alias("pos")
        )
        matched_keys = matched.select(*keys).distinct()
    else:
        matched_keys = source.select(*keys).limit(0)
    # the source's effect: matched rows update (append the SOURCE
    # row) unless delete_condition says delete (mark only);
    # source-only keys insert. Row logic mirrors merge_frames.
    s = source.alias("s")
    mk = matched_keys.withColumn("_mk", F.lit(1)).alias("mk")
    cond = None
    for k in keys:
        c = F.col(f"s.{k}").eqNullSafe(F.col(f"mk.{k}"))
        cond = c if cond is None else (cond & c)
    flagged = s.join(F.broadcast(mk), cond, "left_outer")
    appends = flagged.where(
        ~(
            F.col("mk._mk").isNotNull()
            & F.expr(delete_condition or "false")
        )
    ).select(*[F.col(f"s.{c}") for c in m["columns"]])
    part_col = m["part_col"]
    new_files, new_stats = _stage_files(
        appends.repartition(part_col), table_dir, part_col,
        m["version"] + 1,
    )
    # an all-unmatched source writes an EMPTY sidecar — kept
    # (referencing it is harmless; pruning would need a count)
    return _publish_marks(
        table_dir, m, marks, {"op": "merge", "txn_id": txn_id},
        new_files, new_stats, appends,
    )


def _sql_lit(v) -> str:
    """Prune-bound → SQL literal (both engines). Primitives only —
    the bound lands in the recorded audit predicate verbatim."""
    if isinstance(v, bool) or not isinstance(v, (int, float, str)):
        raise TypeError(
            f"prune bounds must be int/float/str, got {type(v).__name__}"
        )
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def delete_version(
    spark: SparkSession,
    table_dir: str,
    predicate: str,
    prune: tuple[str, object, object] | None = None,
    mode: str = "rewrite",
) -> tuple[int, int]:
    """Predicate DELETE as a copy-on-write commit (the GDPR / DSAR
    erasure verb): rewrite ONLY the files that hold matching rows,
    minus those rows; every other file carries forward by reference.
    Returns (version, n_deleted) — (current, 0) with NO commit when
    nothing matches, so erasure retries are idempotent.

    `prune=(col, lo, hi)` CONJOINS `col BETWEEN lo AND hi` into the
    delete predicate and prunes candidate files via the zone maps (a
    key-targeted delete touches a handful of files on a clustered
    layout). Because the range is part of the predicate itself, the
    zone-map prune is sound BY CONSTRUCTION — the r8 ADVICE hazard
    (a predicate matching rows outside the caller's range silently
    surviving while the call reports success — partial GDPR erasure)
    cannot occur: such rows are simply outside the delete's declared
    scope, and the manifest records the EFFECTIVE predicate (range
    included) as the audit trail. Candidates are then scanned
    EXACTLY; correctness never depends on the zone maps.

    The manifest records op='delete' with the predicate text — the
    audit trail a data-protection officer asks for. ERASURE SEMANTICS
    ARE VERSIONED: prior snapshots still reference the original files
    (that is what time travel means), so physical erasure =
    delete_version + `vacuum` past the old versions (pytest-pinned:
    after vacuum the matching rows' files are gone from disk). A TAG
    pinning an old version deliberately blocks that — drop the tag to
    erase, and the tags listing is the thing to audit.

    ``mode="dv"`` is the MERGE-ON-READ form (see the deletion-vector
    block above `_dv_dir`): instead of rewriting files it writes a
    (file, pos) sidecar and a manifest referencing it — bytes moved ∝
    rows deleted, not partitions touched. Row-identical to the
    rewrite mode by construction (pytest-pinned); note that dv
    deletes are LOGICAL-only until a rewrite materializes them, so
    physical GDPR erasure under dv mode additionally needs a later
    optimize/merge + vacuum."""
    if mode not in ("rewrite", "dv"):
        raise ValueError(f"delete mode must be 'rewrite' or 'dv': {mode!r}")
    m = _head(table_dir)
    cur_v = m["version"]
    predicate, cand = _scoped(table_dir, m, predicate, prune)
    if not cand:
        return cur_v, 0
    # only still-VISIBLE rows count as matches (which also keeps dv
    # sidecars DISJOINT)
    src = _scan(spark, table_dir, m, cand, positions=True)
    if mode == "dv":
        hits = src.where(predicate).select(
            F.col("_rf").alias("file"), F.col("_ri").alias("pos")
        )
        hits.persist()
        try:
            n_deleted = hits.count()
            if n_deleted == 0:
                return cur_v, 0
            header = {"op": "delete", "predicate": predicate}
            return _publish_marks(table_dir, m, hits, header), n_deleted
        finally:
            hits.unpersist()
    touched = sorted(
        r._rf for r in src.where(predicate).select("_rf").distinct().collect()
    )
    if not touched:
        return cur_v, 0
    tdf = _scan(spark, table_dir, m, touched)
    # NOT(pred) is NULL for NULL-pred rows and would drop them too —
    # survivors are rows where the predicate is not TRUE
    n_deleted = tdf.where(f"coalesce(({predicate}), false)").count()
    survivors = tdf.where(f"NOT coalesce(({predicate}), false)")
    return _rewrite_commit(
        table_dir, m, survivors, touched,
        {"op": "delete", "predicate": predicate},
    ), n_deleted


def _scoped(
    table_dir: str, m: dict, predicate: str,
    prune: tuple[str, object, object] | None,
) -> tuple[str, list[str]]:
    """(effective predicate, candidate files) of a predicate verb.
    `prune=(col, lo, hi)` CONJOINS the range into the predicate, which
    makes the zone-map prune of the candidates sound by construction
    (the read_version_pruned discipline: the predicate IS the
    range)."""
    if prune is None:
        return predicate, list(m["files"])
    pcol, lo, hi = prune
    predicate = (
        f"(({predicate}) AND {pcol} >= {_sql_lit(lo)} "
        f"AND {pcol} <= {_sql_lit(hi)})"
    )
    return predicate, plan_files(table_dir, m["version"], pcol, lo, hi)[0]


def update_version(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    set_exprs: dict[str, str],
    prune: tuple[str, object, object] | None = None,
) -> tuple[int, int]:
    """Merge-on-read UPDATE (the deletion-vector pattern's second
    half — Delta's DV-accelerated UPDATE/MERGE): ONE commit that
    dv-marks the matching rows' old positions AND appends the patched
    rows as new files — bytes moved ∝ rows updated, never partitions
    touched. `set_exprs` maps column → SQL expression evaluated
    against the OLD row (columns not mapped carry through).

    Because the old copy is position-marked rather than left behind
    in a carried file, this verb supports PARTITION-MOVING updates —
    the case the copy-on-write MERGE documents as a contract
    violation (the moved row's old copy would survive in an untouched
    partition). CDC across the commit surfaces delete(old) +
    insert(new) rows — the same signed-multiset effect as an
    update_pre/update_post pair, so incremental maintenance folds it
    identically. Returns (version, n_updated); no commit when nothing
    matches. Bulk updates belong to merge_version (COW)."""
    m = _head(table_dir)
    cur_v = m["version"]
    unknown = [c for c in set_exprs if c not in m["columns"]]
    if unknown:
        raise ValueError(f"set columns not in table: {unknown}")
    condition, cand = _scoped(table_dir, m, condition, prune)
    if not cand:
        return cur_v, 0
    hits = _scan(spark, table_dir, m, cand, positions=True).where(condition)
    hits.persist()
    try:
        n_updated = hits.count()
        if n_updated == 0:
            return cur_v, 0
        updated = hits.select(*[
            F.expr(set_exprs.get(c, c)).alias(c) for c in m["columns"]
        ])
        part_col = m["part_col"]
        new_files, new_stats = _stage_files(
            updated.repartition(part_col), table_dir, part_col,
            cur_v + 1,
        )
        marks = hits.select(
            F.col("_rf").alias("file"), F.col("_ri").alias("pos")
        )
        header = {"op": "update", "predicate": condition,
                  "set": dict(set_exprs)}
        return _publish_marks(
            table_dir, m, marks, header, new_files, new_stats, updated
        ), n_updated
    finally:
        hits.unpersist()


def optimize_version(
    spark: SparkSession,
    table_dir: str,
    target_files_per_partition: int = 1,
    cluster_by: list[str] | None = None,
) -> int:
    """Delta-OPTIMIZE-style compaction AS A COMMIT: the current
    snapshot's rows are rewritten bin-packed (few files per
    partition), published as a new version whose manifest references
    only the compacted files — while every PRIOR version keeps
    reading its original files untouched (plain `lake.compact_table`
    would rewrite in place and break time travel). Streaming appends
    (one file per micro-batch per partition) make this the table's
    periodic maintenance loop; `vacuum` reclaims the small files once
    retention passes. Data is bit-identical by construction
    (pytest-pinned)."""
    m = _head(table_dir)
    cur_v = m["version"]
    cur = read_version(spark, table_dir, cur_v)
    if cluster_by:
        # OPTIMIZE ZORDER BY: the compaction commit lays rows along
        # the Morton curve of `cluster_by`, so the freshly-harvested
        # zone maps turn selective on every clustered column — the
        # compaction pass is when clustering is cheapest, exactly
        # Delta's pairing of the two
        from tcrd_spark.sources.zorder import zorder_layout

        packed = zorder_layout(
            cur, cluster_by,
            max(1, target_files_per_partition) * 8,
        )
    else:
        n = max(1, target_files_per_partition)
        if n == 1:
            packed = cur.repartition(1, m["part_col"])
        else:
            # same salt discipline as repartition_table: hash routing
            # alone sends each partition value wholly into one task,
            # so target > 1 would never split a hot partition, and AQE
            # coalesces a salted exchange without an explicit count
            salt = F.pmod(
                F.xxhash64(*[F.col(c) for c in m["columns"]]), F.lit(n)
            )
            packed = cur.repartition(
                max(64, 8 * n), F.col(m["part_col"]), salt.alias("_s")
            )
    new_files, new_stats = _stage_files(
        packed, table_dir, m["part_col"], cur_v + 1
    )
    _commit(table_dir, {
        "version": cur_v + 1, "parent": cur_v, "op": "optimize",
        **_layout(m, schema=_next_schema(
            table_dir, m, packed, m["part_col"], new_files, new_files
        )),
        "files": new_files,
        "stats": new_stats,
        "dv": [],  # full rewrite: every DV delete is materialized
    })
    return cur_v + 1


def repartition_table(
    spark: SparkSession,
    table_dir: str,
    new_part_col: str,
    target_files_per_partition: int = 1,
) -> int:
    """Partition-spec EVOLUTION as a commit (Iceberg's evolve-spec):
    rewrite the current snapshot hive-partitioned by `new_part_col`
    and record the new spec in the manifest. Every PRIOR version
    keeps reading its original layout untouched (manifests plan by
    file list, so a snapshot's layout is whatever its commit wrote),
    and every FUTURE verb — append, MERGE, DELETE, optimize — picks
    up the new spec automatically because they all read `part_col`
    from the CURRENT manifest. Data is row-identical by construction
    (pytest-pinned); like `optimize_version`, the rewrite is a
    non-append commit, so the streaming source skips or refuses it
    per its skipChangeCommits contract.

    The 100 TB reason this is a verb and not a new table: repartition
    changes bytes-on-disk ONCE, while downstream identity (version
    history, tags, CDC continuity, consumers' table paths) carries
    forward — Iceberg ships exactly this because re-creating a
    100 TB table to change its partition key is an outage."""
    m = _head(table_dir)
    cur_v = m["version"]
    if new_part_col not in m["columns"]:
        raise ValueError(
            f"new partition column {new_part_col!r} is not a table "
            f"column {m['columns']}"
        )
    cur = read_version(spark, table_dir, cur_v)
    n = max(1, target_files_per_partition)
    # a deterministic row-hash SALT actually splits each partition
    # value into ≤ n files: repartition(n, part_col) alone hash-routes
    # every value wholly into ONE task, so the parameter would only
    # change job parallelism, never files per partition (review catch)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in m["columns"]]), F.lit(n)
    )
    # explicit partition count: without it AQE coalesces the small
    # shuffle back into one task and the salt splits nothing
    packed = cur.repartition(
        max(64, 8 * n), F.col(new_part_col), salt.alias("_salt")
    )
    new_files, new_stats = _stage_files(
        packed, table_dir, new_part_col, cur_v + 1
    )
    _commit(table_dir, {
        "version": cur_v + 1, "parent": cur_v, "op": "repartition",
        **_layout(m, part_col=new_part_col, schema=_infer_schema(
            spark, table_dir, new_files
        )),
        "prev_part_col": m["part_col"],
        "files": new_files,
        "stats": new_stats,
        "dv": [],  # full rewrite: every DV delete is materialized
    })
    return cur_v + 1


def manifest_diff(table_dir: str, v_from: int, v_to: int) -> dict:
    """Provenance between two versions: files added/removed/carried.
    The engine-level analogue of the reference's dataset-lineage
    tables — every byte of a snapshot is accounted for by a commit."""
    a = set(_read_manifest(table_dir, v_from)["files"])
    b = set(_read_manifest(table_dir, v_to)["files"])
    return {
        "added": sorted(b - a),
        "removed": sorted(a - b),
        "carried": sorted(a & b),
    }


def read_changes(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
    keys: list[str],
) -> DataFrame:
    """Row-level change feed between two snapshots — the Delta CDF /
    Iceberg incremental-read analogue, and the piece that turns the
    versioned lake into an INCREMENTAL pipeline source: a downstream
    job consumes `read_changes(last_seen, latest)` instead of
    re-reading 100 TB.

    Emits one row per insert/delete and an update_pre + update_post
    pair per changed row (`change_type` first, then the table's
    columns). Cost ∝ CHANGE, not table: only the files the commits
    touched (manifest_diff added/removed) are ever opened — carried
    files, i.e. the untouched bulk of the table, are never scanned.
    Unchanged rows inside rewritten partitions cancel out via a
    null-safe full-row comparison, so an `optimize` commit (every
    file rewritten, no row changed) yields an EMPTY feed
    (pytest-pinned).

    Contract: both versions share a schema, and a key's partition
    value never changes across commits (the COW-merge contract — a
    partition-moving update would strand the old copy in a carried
    file this read never opens)."""
    if v_from >= v_to:
        raise ValueError(
            f"read_changes requires v_from < v_to, got {v_from} >= {v_to}"
        )
    ma = _read_manifest(table_dir, v_from)
    mb = _read_manifest(table_dir, v_to)
    if ma["columns"] != mb["columns"]:
        raise ValueError(
            f"read_changes requires a stable schema: "
            f"{ma['columns']} vs {mb['columns']}"
        )
    cols = mb["columns"]
    val_cols = [c for c in cols if c not in keys]
    d = manifest_diff(table_dir, v_from, v_to)
    # each side reflects ITS snapshot's view (DV-applied)
    old = _scan(spark, table_dir, ma, d["removed"]).withColumn(
        "_t_present", F.lit(1)
    ).alias("t")
    new = _scan(spark, table_dir, mb, d["added"]).withColumn(
        "_s_present", F.lit(1)
    ).alias("s")
    cond = None
    for k in keys:
        c = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
        cond = c if cond is None else (cond & c)
    j = old.join(new, cond, "full_outer")
    matched = (
        F.col("t._t_present").isNotNull()
        & F.col("s._s_present").isNotNull()
    )
    ins_only = F.col("t._t_present").isNull()
    del_only = F.col("s._s_present").isNull()
    differs = F.lit(False)
    for c in val_cols:
        differs = differs | ~F.col(f"t.{c}").eqNullSafe(F.col(f"s.{c}"))

    def _side(side: str, typ: str):
        return F.struct(
            F.lit(typ).alias("change_type"),
            *[F.col(f"{side}.{c}").alias(c) for c in cols],
        )

    # one pass over the join: each row contributes 0, 1, or (for an
    # update) 2 change rows via a filtered array explode — no
    # four-branch union re-running the join per change type
    arr = F.array(
        F.when(ins_only, _side("s", "insert")),
        F.when(del_only, _side("t", "delete")),
        F.when(matched & differs, _side("t", "update_pre")),
        F.when(matched & differs, _side("s", "update_post")),
    )
    ch = j.select(
        F.explode(F.filter(arr, lambda x: x.isNotNull())).alias("_c")
    )
    feed = ch.select(
        "_c.change_type", *[F.col(f"_c.{c}") for c in cols]
    )

    # DV-delta deletes: rows dv-marked in the window inside files
    # CARRIED at both endpoints — untouched by the file diff above,
    # so only this branch can see them. Files rewritten in-window are
    # excluded: their dv-deleted rows already surface as deletes
    # through the removed-vs-added comparison (double-count hazard).
    # Sidecar disjointness guarantees each delta row was visible at
    # v_from.
    # The mirror image: a RESTORE inside the window can DROP dv
    # entries, resurrecting their rows in carried files — surfaced as
    # inserts (file-rewritten resurrections already show through the
    # file diff).
    carried = sorted(set(ma["files"]) & set(mb["files"]))
    dva, dvb = ma.get("dv", []), mb.get("dv", [])
    for typ, names in (
        ("delete", [n for n in dvb if n not in dva]),
        ("insert", [n for n in dva if n not in dvb]),
    ):
        if names and carried:
            # the RAW rows of carried files at the delta's positions
            raw = _scan(
                spark, table_dir, {**mb, "dv": []}, carried, positions=True
            )
            marked = raw.join(
                F.broadcast(_dv_df(spark, table_dir, names)),
                ["_rf", "_ri"],
            )
            feed = feed.unionByName(
                marked.select(F.lit(typ).alias("change_type"), *cols)
            )
    return feed


def restore_version(table_dir: str, version: int) -> int:
    """Delta RESTORE: roll the table BACK to a prior snapshot by
    committing a NEW head whose file list is that snapshot's —
    history-preserving (the bad versions stay readable for audit;
    nothing is deleted), zero bytes move, and CDC across the restore
    boundary shows exactly the rows the rollback re-inserted/removed.

    Concurrency: a restore's file list encodes PRE-state, so losing
    the manifest CAS to ANY concurrent commit is a genuine write
    conflict and raises loudly (the merge_version rule — silently
    re-offering would erase the other writer's rows from the head).
    Against concurrent VACUUM, the target is pinned with a transient
    tag for the commit's duration (restore resurrects non-recent
    files into the head, which vacuum's retain-last-k rule otherwise
    doesn't protect); a vacuum that listed tags before the pin landed
    can still race — run maintenance and restores from one scheduler,
    the same single-maintainer assumption vacuum itself documents."""
    cur = _head(table_dir)["version"]
    pin = f"restoring-{uuid.uuid4().hex[:8]}"
    tag_version(table_dir, pin, version)
    try:
        m = _read_manifest(table_dir, version)
        base = _data_dir(table_dir)
        missing = [
            f for f in m["files"]
            if not os.path.exists(os.path.join(base, f))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore v{version}: {len(missing)} of its "
                f"files were vacuumed (e.g. {missing[:3]}) — restore "
                "targets must be tag-pinned to survive GC"
            )
        gone_dv = [
            n for n in m.get("dv", [])
            if not os.path.exists(os.path.join(_dv_dir(table_dir), n))
        ]
        if gone_dv:
            # restoring without the snapshot's deletion vectors would
            # RESURRECT its deleted rows — refuse, never guess
            raise FileNotFoundError(
                f"cannot restore v{version}: its deletion-vector "
                f"sidecars {gone_dv[:3]} were vacuumed"
            )
        try:
            _commit(table_dir, {
                "version": cur + 1, "parent": cur, "op": "restore",
                "restored_from": version,
                **_layout(m),
                "files": m["files"], "stats": m.get("stats", {}),
                "dv": m.get("dv", []),  # the snapshot's OWN dv state
            })
        except FileExistsError:
            raise ValueError(
                f"restore conflict: version {cur + 1} was committed "
                "concurrently — a restore encodes pre-state, so "
                "re-offering it would erase that writer's rows; "
                "re-examine the head and re-run"
            ) from None
        return cur + 1
    finally:
        delete_tag(table_dir, pin)


# ------------------------------------------ metadata tables (DESCRIBE)


def history_df(spark: SparkSession, table_dir: str) -> DataFrame:
    """DESCRIBE HISTORY as a DataFrame: one row per commit (version,
    parent, op, ts, n_files, txn_id, merged_from/restored_from when
    present). The checkpointed prefix answers from the walk
    checkpoint; only the tail reads manifest JSONs."""
    _head(table_dir)
    rows = []
    for v, e in sorted(_walk_headers(table_dir).items()):
        rows.append((
            v, e.get("parent"), e["op"], float(e.get("ts") or 0.0),
            e["n_files"],
            None if e.get("txn_id") is None else str(e["txn_id"]),
            e.get("merged_from"),
            e.get("restored_from"),
        ))
    return spark.createDataFrame(
        rows,
        "version int, parent int, op string, ts double, n_files int, "
        "txn_id string, merged_from string, restored_from int",
    )


def files_df(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The snapshot's file inventory as a DataFrame (relative path,
    hive partition value, on-disk bytes, per-column zone-map bounds as
    a JSON string) — the Iceberg `.files` metadata table; what an
    operator SELECTs to plan compaction or audit skew."""
    m = _head(table_dir, version)
    base = _data_dir(table_dir)
    stats = m.get("stats", {})
    rows = []
    for f in m["files"]:
        p = os.path.join(base, f)
        size = os.path.getsize(p) if os.path.exists(p) else None
        rows.append((
            f,
            _partition_of(f).split("=", 1)[-1],
            size,
            json.dumps(stats[f], sort_keys=True) if f in stats else None,
        ))
    return spark.createDataFrame(
        rows,
        "file string, partition string, bytes long, zone_maps string",
    )


# ------------------------------------------------- named tags (refs)


def _tags_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_tags")


def tag_version(
    table_dir: str, name: str, version: int | None = None
) -> int:
    """Pin a NAME to a snapshot (Iceberg tag / Delta version alias):
    `training-2024-06` stays resolvable and VACUUM-PROOF however many
    commits land after it — the reproducible-training-set handle.
    Tags are immutable (link(2)-CAS publish, same as manifests);
    delete and re-create to move one. Returns the pinned version."""
    v = _head(table_dir, version)["version"]
    import time

    get_store().makedirs(_tags_dir(table_dir))
    final = os.path.join(_tags_dir(table_dir), f"{name}.json")
    _publish_exclusive(
        final, {"name": name, "version": v, "ts": time.time()},
        f"tag {name!r} exists (tags are immutable — delete_tag "
        "first to move it)",
    )
    return v


def list_tags(table_dir: str) -> dict[str, int]:
    """{name: version} for every tag."""
    d = _tags_dir(table_dir)
    out = {}
    for fn in get_store().listdir(d):
        if fn.endswith(".json"):
            t = get_store().read_json(os.path.join(d, fn))
            out[t["name"]] = t["version"]
    return out


def delete_tag(table_dir: str, name: str) -> None:
    get_store().unlink(os.path.join(_tags_dir(table_dir), f"{name}.json"))


def read_tag(
    spark: SparkSession, table_dir: str, name: str
) -> DataFrame:
    """`read_version` addressed by tag name."""
    tags = list_tags(table_dir)
    if name not in tags:
        raise FileNotFoundError(f"no tag {name!r} at {table_dir}")
    return read_version(spark, table_dir, tags[name])


def remove_orphans(
    table_dir: str, grace_seconds: float = 259200.0
) -> list[str]:
    """Iceberg's remove_orphan_files: delete data files referenced by
    NO live manifest — the leak `vacuum` cannot see (vacuum removes
    files of DROPPED manifests; a writer that staged files and died
    before its manifest CAS leaves files no manifest ever referenced,
    accumulating forever on a busy table).

    Reference set = every manifest reachable TRANSITIVELY from the
    table: the table's own, every branch's under `_branches/`, every
    REGISTERED clone's (`clone_table` records destinations under
    `_clones/`), and recursively THEIR branches and registered clones
    (a branch of a clone stages into the same shared data dir). A
    registered clone whose directory is gone is treated as abandoned;
    an unparseable registry entry (a dead writer's torn publish) is
    skipped, not fatal. An UNREGISTERED reader of the data dir must
    never exist — the module contract since the registry landed;
    clones created by hand-copying manifests are invisible here.

    Files younger than `grace_seconds` are kept: an IN-FLIGHT commit
    stages files before publishing its manifest, and deleting those
    would corrupt the commit about to win its CAS. The window is
    measured from each file's WRITE-TIME mtime (staging preserves it),
    so it must exceed the longest plausible staging duration — the
    default is 3 days (Iceberg's default); do not run this
    concurrently with writers on a tighter window. Returns the
    removed relative paths."""
    import time

    if os.path.exists(os.path.join(table_dir, "_branch.json")):
        raise ValueError(
            "remove_orphans on a branch/clone is refused — run it on "
            "the source table (the data dir is shared)"
        )
    referenced: set[str] = set()
    queue, seen_roots = [os.path.abspath(table_dir)], set()
    while queue:
        root = queue.pop()
        if root in seen_roots:
            continue
        seen_roots.add(root)
        store = get_store()
        broot = os.path.join(root, "_branches")
        queue += [
            os.path.join(broot, n) for n in store.listdir(broot)
            if versions(os.path.join(broot, n))
            or store.exists(os.path.join(broot, n, "_branch.json"))
        ]
        croot = os.path.join(root, "_clones")
        for fn in store.listdir(croot):
            if not fn.endswith(".json"):
                continue  # .wip marker / .tmp of an in-flight publish
            try:
                dest = store.read_json(os.path.join(croot, fn))["dest"]
            except (json.JSONDecodeError, KeyError, OSError):
                continue  # torn registry entry: skip, never fatal
            if versions(dest):
                queue.append(os.path.abspath(dest))
    for root in seen_roots:
        for v in versions(root):
            m = _read_manifest_opt(root, v)
            if m is not None:  # repaired/vacuumed mid-walk: no refs
                referenced.update(m["files"])
    base = _data_dir(table_dir)
    now = time.time()
    removed = []
    for dirpath, _dirs, files in os.walk(base):
        for fn in files:
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, base)
            if rel in referenced:
                continue
            if now - os.path.getmtime(p) < grace_seconds:
                continue  # possibly an in-flight commit's staging
            os.remove(p)
            removed.append(rel)
    return sorted(removed)


def vacuum(table_dir: str, keep_versions: int = 2) -> list[str]:
    """Retention GC: delete data files referenced ONLY by manifests
    older than the newest `keep_versions` (and those manifests). The
    bounded cleanup loop a deployment runs — never touches any file a
    retained version references, and never a TAGGED version: a tag is
    a promise that a training set stays reproducible, so its manifest
    and files survive any retention window."""
    if get_store().exists(os.path.join(table_dir, "_branch.json")):
        # a branch's dropped manifests reference files shared with
        # (and possibly live in) its source — per-branch retention GC
        # could delete source data. Merge or delete the branch, then
        # vacuum the source (sources/branches.py).
        raise ValueError(
            "vacuum on a branch is refused — merge_branch/delete_branch "
            "first, then vacuum the source table"
        )
    vs = versions(table_dir)
    tagged = set(list_tags(table_dir).values())
    retain = set(vs[-keep_versions:]) | tagged
    drop = [v for v in vs if v not in retain]
    retain = sorted(retain)
    live = {
        f for v in retain for f in _read_manifest(table_dir, v)["files"]
    }
    # capture dropped manifests' dv lists BEFORE their files go away
    dropped_dv = {
        v: (_read_manifest(table_dir, v).get("dv") or []) for v in drop
    }
    removed = []
    for v in drop:
        for f in _read_manifest(table_dir, v)["files"]:
            if f not in live:
                p = os.path.join(_data_dir(table_dir), f)
                if os.path.exists(p):
                    os.remove(p)
                    removed.append(f)
        get_store().unlink(_manifest_path(table_dir, v))
        # index sidecars (sources/bloomidx.py) GC with their version:
        # a sidecar outliving its manifest is a storage leak and lets
        # a probe resolve an index whose files may be gone — probes on
        # retained versions degrade to must-scan (still exact) until
        # the index is rebuilt. Delete the .meta.json FIRST: a crash
        # between the two deletes then leaves parquet without meta
        # (invisible to _find_index, swept on the next vacuum) instead
        # of meta without parquet; the probe additionally treats a
        # meta whose parquet dir is gone as "no index".
        hits = glob.glob(os.path.join(table_dir, "_index", f"*-v{v:05d}*"))
        for p in sorted(hits, key=os.path.isdir):
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    # DV sidecar GC, same containment rule as data files: a sidecar
    # referenced by a dropped manifest and by NO retained one is
    # unreachable from any surviving snapshot. Branch/clone-created
    # sidecars never appear in source manifests, so this never
    # touches them (their lifecycle is delete_branch / the fork tag).
    live_dv = {
        n for v in retain
        for n in (_read_manifest(table_dir, v).get("dv") or [])
    }
    for v in drop:
        for n in dropped_dv.get(v, []):
            if n not in live_dv:
                shutil.rmtree(
                    os.path.join(_dv_dir(table_dir), n),
                    ignore_errors=True,
                )
    # walk-checkpoint GC: keep only the newest (stale ones are dead
    # weight; the walks always intersect with live versions anyway)
    cks = sorted(
        n for n in get_store().listdir(_manifest_dir(table_dir))
        if n.startswith("_ckpt-v") and n.endswith(".json")
        and n[7:-5].isdigit()
    )
    for n in cks[:-1]:
        try:
            get_store().unlink(os.path.join(_manifest_dir(table_dir), n))
        except FileNotFoundError:
            pass
    return sorted(set(removed))


# ------------------------------------------------- registered query

def _orders_lake(spark: SparkSession, sf_dir: str, name: str, commit) -> str:
    """An orders lake for the registered lake queries: v1 = orders
    with key % 7 != 0, then ``commit(path, orders)`` writes the later
    versions. Built once per session per sf_dir (the build is the
    commit history, not the query) as a session memo entry: its slot
    lock serializes the oracle sweep's thread pool — two registered
    queries share each lake, and unsynchronized both threads would
    build (and rmtree) the same path — and releasing the entry
    removes the lake."""
    import hashlib
    import tempfile

    from tcrd_spark.session import memo
    from tcrd_spark.sources.lake import load_table

    key = os.path.realpath(sf_dir)

    def build() -> str:
        tag = hashlib.md5(f"{name}:{key}:{os.getpid()}".encode()).hexdigest()
        root = os.path.join(tempfile.gettempdir(), f"tcrd_{name}_{tag[:12]}")
        shutil.rmtree(root, ignore_errors=True)
        path = os.path.join(root, "orders")
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority",
        )
        create_table(
            orders.filter(F.col("o_orderkey") % 7 != 0),
            path,
            "o_orderpriority",
        )
        commit(path, orders)
        return root

    return os.path.join(memo(spark, name, key, build), "orders")


def _changes_lake(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic two-version orders lake for the CDC query: v1 =
    orders with key % 7 != 0; v2 = COW MERGE of a source batch (key %
    3 == 0, totalprice +100, matched 'F'-status rows deleted)."""

    def commit(path: str, orders: DataFrame) -> None:
        # +100.0 not ×1.1: an IEEE-exact double op, so Spark and the
        # DuckDB oracle agree bit-for-bit with no round-half-tie risk
        src = orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 100.0
        )
        merge_version(
            spark, path, src, ["o_orderkey"],
            delete_condition="s.o_orderstatus = 'F'",
        )

    return _orders_lake(spark, sf_dir, "snap_lake", commit)


def q_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC feed v1 → v2 over the deterministic orders lake: inserts
    (source-only keys), deletes (matched 'F' rows), update_pre/post
    pairs (price bump), computed from the commits' touched files
    only."""
    path = _changes_lake(spark, sf_dir)
    return read_changes(spark, path, 1, 2, ["o_orderkey"])


def q_lake_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY + .files metadata tables as an ADJUDICATED
    query (VERDICT r10 #5 — these verbs were pytest-pinned only):
    over the deterministic two-commit orders lake, join history_df's
    commit log (version/parent/op, plus `has_ts` — the wall clock
    itself can't be SQL-replayed, but its PRESENCE is the invariant
    the r11 squash-merge fix protects) with per-version row counts
    (read_version) and per-version distinct hive partitions
    (files_df). The oracle replays the commit history logically: both
    versions are pure filters/patches of `orders`, so every reported
    number is SQL over the base table."""
    path = _changes_lake(spark, sf_dir)
    h = history_df(spark, path).select(
        "version", "parent", "op", (F.col("ts") > 0).alias("has_ts")
    )
    rows = None
    fparts = None
    for v in versions(path):
        d = read_version(spark, path, v).select(
            F.lit(v).alias("version")
        )
        rows = d if rows is None else rows.unionByName(d)
        p = files_df(spark, path, v).select(
            F.lit(v).alias("version"), "partition"
        )
        fparts = p if fparts is None else fparts.unionByName(p)
    nrows = rows.groupBy("version").agg(F.count("*").alias("n_rows"))
    nparts = fparts.groupBy("version").agg(
        F.countDistinct("partition").alias("n_parts")
    )
    return h.join(nrows, "version").join(nparts, "version")


def _dv_lake(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic five-version orders lake for the deletion-
    vector queries: v1 = orders with key % 7 != 0; v2 = dv delete of
    (key % 5 = 0 AND status = 'F'); v3 = dv delete of key % 11 = 0;
    v4 = MOR update of key % 3 = 0 (totalprice + 100.0 — IEEE-exact,
    no rounding ambiguity); v5 = MOR MERGE of the key % 13 = 0 slice
    of the BASE table (totalprice + 50.0) with delete_condition
    status='F' — matched rows update-or-die, source-only keys
    (including previously deleted ones) insert."""

    def commit(path: str, orders: DataFrame) -> None:
        delete_version(
            spark, path,
            "o_orderkey % 5 = 0 AND o_orderstatus = 'F'",
            mode="dv",
        )
        delete_version(spark, path, "o_orderkey % 11 = 0", mode="dv")
        update_version(
            spark, path, "o_orderkey % 3 = 0",
            {"o_totalprice": "o_totalprice + 100.0"},
        )
        merge_version(
            spark, path,
            orders.filter(F.col("o_orderkey") % 13 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") + 50.0
            ),
            ["o_orderkey"],
            delete_condition="s.o_orderstatus = 'F'",
            granularity="dv",
        )

    return _orders_lake(spark, sf_dir, "dv_lake", commit)


def q_dv_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletes, adjudicated end-to-end: version 3 of
    the dv fixture lake (two composed deletion-vector commits — file
    list never rewritten, readers anti-join the sidecars) must equal
    the logical filter chain over the base table, which is exactly
    what the DuckDB oracle computes."""
    path = _dv_lake(spark, sf_dir)
    return read_version(spark, path, 3)


def q_dv_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE adjudicated end-to-end: version 4
    (dv-marked old positions + appended patched rows, one commit)
    must equal the filter chain with the update expressed as a CASE
    over the base table."""
    path = _dv_lake(spark, sf_dir)
    return read_version(spark, path, 4)


def q_dv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read MERGE adjudicated end-to-end: the head (one
    mark+append commit — matched rows update-or-die by
    delete_condition, source-only keys insert, matches found by KEY
    with no partition contract) must equal the oracle's logical
    replay: v4 minus source keys, union the source minus its
    matched-and-tombstoned rows."""
    path = _dv_lake(spark, sf_dir)
    return read_version(spark, path)


QUERIES = {
    "snapshot_changes": q_snapshot_changes,
    "lake_history": q_lake_history,
    "dv_deletes": q_dv_deletes,
    "dv_updates": q_dv_updates,
    "dv_merge": q_dv_merge,
}

# The oracle replays the lake's commit history logically: v1 and the
# merge source are pure filters of `orders`, so the row-level diff —
# which is exactly what read_changes computes from the touched files —
# is SQL over the base table.
ORACLE = {
    "snapshot_changes": """
        WITH v1 AS (
          SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
          FROM orders WHERE o_orderkey % 7 <> 0
        ),
        src AS (
          SELECT o_orderkey, o_orderstatus,
                 o_totalprice + 100.0 AS o_totalprice,
                 o_orderpriority
          FROM orders WHERE o_orderkey % 3 = 0
        ),
        j AS (
          SELECT v1.o_orderkey AS tk, src.o_orderkey AS sk,
                 v1.o_orderstatus AS t_st, v1.o_totalprice AS t_pr,
                 v1.o_orderpriority AS t_pri,
                 src.o_orderstatus AS s_st, src.o_totalprice AS s_pr,
                 src.o_orderpriority AS s_pri
          FROM v1 FULL OUTER JOIN src ON v1.o_orderkey = src.o_orderkey
        ),
        upd AS (
          SELECT * FROM j
          WHERE tk IS NOT NULL AND sk IS NOT NULL AND t_st <> 'F'
            AND (t_st IS DISTINCT FROM s_st
                 OR t_pr IS DISTINCT FROM s_pr
                 OR t_pri IS DISTINCT FROM s_pri)
        )
        SELECT 'insert' AS change_type, sk AS o_orderkey,
               s_st AS o_orderstatus, s_pr AS o_totalprice,
               s_pri AS o_orderpriority
        FROM j WHERE tk IS NULL
        UNION ALL
        SELECT 'delete', tk, t_st, t_pr, t_pri
        FROM j WHERE tk IS NOT NULL AND sk IS NOT NULL AND t_st = 'F'
        UNION ALL
        SELECT 'update_pre', tk, t_st, t_pr, t_pri FROM upd
        UNION ALL
        SELECT 'update_post', sk, s_st, s_pr, s_pri FROM upd
    """,
    # v1 = filter; v2 = v1 − matched-'F' deletes + source-only
    # inserts (updates replace in place, count-neutral). Partition
    # count per version = distinct o_orderpriority present in that
    # version's CONTENT (hive layout: one dir per value; the merge
    # carries untouched partitions forward by reference).
    "lake_history": """
        WITH v1 AS (
          SELECT * FROM orders WHERE o_orderkey % 7 <> 0
        ),
        v2 AS (
          SELECT * FROM v1
          WHERE NOT (o_orderkey % 3 = 0 AND o_orderstatus = 'F')
          UNION ALL
          SELECT * FROM orders
          WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 = 0
        )
        SELECT 1 AS version, CAST(NULL AS INTEGER) AS parent,
               'create' AS op, TRUE AS has_ts,
               (SELECT count(*) FROM v1) AS n_rows,
               (SELECT count(DISTINCT o_orderpriority) FROM v1)
                   AS n_parts
        UNION ALL
        SELECT 2, 1, 'merge', TRUE,
               (SELECT count(*) FROM v2),
               (SELECT count(DISTINCT o_orderpriority) FROM v2)
    """,
    # the dv lake's v3 replayed logically: v1 filter, then the two
    # dv predicates negated (NULL-safe, the delete_version rule)
    "dv_deletes": """
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               o_orderpriority
        FROM orders
        WHERE o_orderkey % 7 <> 0
          AND NOT coalesce(
                (o_orderkey % 5 = 0 AND o_orderstatus = 'F'), false)
          AND NOT coalesce((o_orderkey % 11 = 0), false)
    """,
    # v4 adds the MOR update as a CASE over the same chain
    "dv_updates": """
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 3 = 0
                    THEN o_totalprice + 100.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderpriority
        FROM orders
        WHERE o_orderkey % 7 <> 0
          AND NOT coalesce(
                (o_orderkey % 5 = 0 AND o_orderstatus = 'F'), false)
          AND NOT coalesce((o_orderkey % 11 = 0), false)
    """,
    # the head: v4 minus source keys, union the source minus its
    # matched tombstones (merge_frames semantics replayed logically)
    "dv_merge": """
        WITH v4 AS (
          SELECT o_orderkey, o_orderstatus,
                 CASE WHEN o_orderkey % 3 = 0
                      THEN o_totalprice + 100.0
                      ELSE o_totalprice END AS o_totalprice,
                 o_orderpriority
          FROM orders
          WHERE o_orderkey % 7 <> 0
            AND NOT coalesce(
                  (o_orderkey % 5 = 0 AND o_orderstatus = 'F'), false)
            AND NOT coalesce((o_orderkey % 11 = 0), false)
        ),
        src AS (
          SELECT o_orderkey, o_orderstatus,
                 o_totalprice + 50.0 AS o_totalprice,
                 o_orderpriority
          FROM orders WHERE o_orderkey % 13 = 0
        )
        SELECT * FROM v4
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        UNION ALL
        SELECT * FROM src s
        WHERE NOT (s.o_orderstatus = 'F'
                   AND s.o_orderkey IN (SELECT o_orderkey FROM v4))
    """,
}
