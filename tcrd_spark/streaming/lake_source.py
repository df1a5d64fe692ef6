"""The versioned lake as a Structured-Streaming SOURCE — a custom
PySpark (4.x) Python DataSource whose offsets are COMMIT VERSIONS.

`streaming/web_ingest.py` and `snapshots.streaming_snapshot_append`
put streams INTO the lake under `streaming/sink.py`'s one exactly-once
rule (txn = (checkpoint, batch_id); an out_path belongs to one
checkpoint); this is the other half (Delta's streaming source): a
downstream job tails a versioned table and receives each append
commit's files as one micro-batch, exactly once, resuming from the
checkpointed version offset after a restart. Its offsets are
versions, not txn ids, so a table fed by several streams tails as
one commit sequence.

Semantics (mirrors Delta's defaults):

- offsets are ``{"version": N}`` = "commits through N consumed"; the
  initial offset is ``startingVersion`` (default 0 = from the table's
  beginning — a backfill-then-tail read);
- each micro-batch covers versions (start, end]; its input partitions
  are the data FILES those commits ADDED (manifest diff vs parent),
  one partition per file — natural parallelism, no directory listing;
- a non-append commit (merge/optimize rewrite) is NOT representable
  as an append delta: the reader RAISES unless
  ``skipChangeCommits=true`` (Delta's option of the same name), in
  which case rewrite commits are passed over and only append commits
  feed the stream;
- ``maxVersionsPerTrigger`` / ``maxFilesPerTrigger`` bound each
  micro-batch (Delta's maxFilesPerTrigger admission control): a
  consumer starting from version 0 against a long history receives
  the backlog as N bounded batches instead of one unbounded one —
  same total result, checkpointed progress after every batch. Each
  batch always advances at least one version, so an oversized single
  commit still flows. The bound needs the stream's CURRENT position:
  on a fresh query that is ``startingVersion`` (Spark asks for
  latestOffset BEFORE initialOffset — traced); on a restart Spark
  re-commits the checkpointed offset to the reader before planning
  (traced), and a replayed WAL batch passes through partitions() —
  so the position is always known and every batch is bounded
  (pytest-pinned, including restart). partitions() additionally
  REFUSES a batch whose end precedes its start, so any future
  protocol surprise surfaces loudly instead of silently regressing
  the offset log into re-delivery;
- readers run executor-side on parquet footer+data via pyarrow and
  re-attach the hive partition value from the file path; rows reach
  Spark as Arrow batches (no per-row Python).

100 TB shape: offset bookkeeping is one JSON manifest read per
trigger; per-batch work ∝ the files the tailed commits added. This is
the engine-level CDC-pipeline pattern: producer commits snapshots,
consumers tail versions — nobody rescans the table.

Reference parity: none (extension; SURVEY §2.11 streaming, with
sources/snapshots.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from tcrd_spark.sources.snapshots import _data_dir, versions
from tcrd_spark.sources.snapshots import _read_manifest as _manifest

_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


class _FilePartition(InputPartition):
    def __init__(self, path: str, part_col: str, part_val: str,
                 columns: list[str]):
        self.path = path
        self.part_col = part_col
        self.part_val = part_val
        self.columns = columns


def _schema(table_dir: str) -> StructType:
    """The stream's schema: the newest manifest's recorded schema (the
    one `snapshots._scan` reads with) in manifest column order, the
    hive partition column as STRING (its value lives in the path, not
    the file). A manifest written before schemas were recorded takes
    its data columns' types from the schema Spark's parquet writer
    stores in the newest file's footer (after additive evolution only
    files from the evolving commit on carry every column):
    `snapshots._infer_schema` needs a Spark session, and this runs in
    the data source's Python worker, which has none."""
    m = _manifest(table_dir, versions(table_dir)[-1])
    recorded = m.get("schema")
    if recorded is None:
        import pyarrow.parquet as pq

        newest = max(m["files"], key=os.path.basename)
        footer = pq.read_metadata(
            os.path.join(_data_dir(table_dir), newest)
        ).metadata
        recorded = json.loads(footer[_SPARK_ROW_METADATA])
    fields = {f["name"]: f for f in recorded["fields"]}
    fields[m["part_col"]] = {
        "name": m["part_col"], "type": "string", "nullable": True,
        "metadata": {},
    }
    return StructType.fromJson(
        {"type": "struct", "fields": [fields[c] for c in m["columns"]]}
    )


def _added(table_dir: str, m: dict) -> list[str]:
    """The data files commit `m` added: its files not in its parent's."""
    parent = m.get("parent")
    prev = set(_manifest(table_dir, parent)["files"]) if parent else set()
    return [f for f in m["files"] if f not in prev]


class LakeCommitsStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        # Spark hands options through a case-insensitive map that
        # lower-cases keys — normalize before lookup
        opts = {k.lower(): v for k, v in options.items()}
        self._table = opts["path"]
        self._skip_changes = (
            str(opts.get("skipchangecommits", "false")).lower()
            == "true"
        )
        self._start = int(opts.get("startingversion", 0))
        mv = opts.get("maxversionspertrigger")
        mf = opts.get("maxfilespertrigger")
        self._max_v = int(mv) if mv is not None else None
        self._max_f = int(mf) if mf is not None else None
        if self._max_v is not None and self._max_v < 1:
            raise ValueError("maxVersionsPerTrigger must be >= 1")
        if self._max_f is not None and self._max_f < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        # highest version Spark is KNOWN to have planned/committed —
        # learned from initialOffset (fresh query), partitions() and
        # commit() (running/restarted query); None until then
        self._cursor: int | None = None
        self._added_cache: dict[int, int] = {}
        vs = versions(self._table)
        # the stream's schema is fixed at start (the latest manifest);
        # a commit with different columns is a schema-evolution
        # boundary the fixed-schema stream cannot cross
        self._cols = (
            _manifest(self._table, vs[-1])["columns"] if vs else None
        )

    def initialOffset(self) -> dict:
        self._cursor = self._start
        return {"version": self._start}

    def _added_files(self, v: int) -> int:
        """Files an append commit adds (rewrites count 0 — they are
        skipped or refused in partitions(), never delivered)."""
        m = _manifest(self._table, v)
        if m["op"] not in ("create", "append"):
            return 0
        return len(_added(self._table, m))

    def latestOffset(self) -> dict:
        vs = versions(self._table)
        latest = vs[-1] if vs else self._start
        if self._max_v is None and self._max_f is None:
            return {"version": latest}
        # position: cursor if Spark has revealed it (restart commit(),
        # WAL-replay partitions(), a prior batch), else startingVersion
        # — the only cursor-less caller is a genuinely fresh query
        base = self._cursor if self._cursor is not None else self._start
        if self._max_v is not None:
            # version bound alone needs NO manifest reads; with a file
            # bound too it caps how far the counting walk can go
            latest = min(latest, base + self._max_v)
        if self._max_f is None:
            return {"version": latest}
        end, n_files = base, 0
        for v in range(base + 1, latest + 1):
            added = self._added_count(v)
            if (
                end > base  # always admit ≥ 1 version
                and n_files + added > self._max_f
            ):
                break
            n_files += added
            end = v
        return {"version": end}

    def _added_count(self, v: int) -> int:
        """Memoized `_added_files` (ADVICE r9): manifests are
        immutable, so a version's added-file count never changes —
        without the cache a long backfill re-parses every backlog
        manifest (two opens per version) on EVERY trigger, O(backlog²)
        driver-side across the catch-up. Ints only: the cache stays
        KB-sized over any history."""
        c = self._added_cache.get(v)
        if c is None:
            c = self._added_cache[v] = self._added_files(v)
        return c

    def partitions(self, start: dict, end: dict):
        if end["version"] < start["version"]:
            # a regressing batch would re-deliver consumed commits on
            # the next trigger — refuse loudly (admission control must
            # never offer an offset behind the checkpoint)
            raise ValueError(
                f"batch end v{end['version']} precedes start "
                f"v{start['version']} — offset regression"
            )
        known = max(start["version"], end["version"])
        if self._cursor is None or known > self._cursor:
            self._cursor = known
        parts: list[_FilePartition] = []
        for v in range(start["version"] + 1, end["version"] + 1):
            m = _manifest(self._table, v)
            if self._cols is not None and m["columns"] != self._cols:
                raise ValueError(
                    f"version {v} has columns {m['columns']} but the "
                    f"stream's schema was fixed at {self._cols} — "
                    "restart the stream to cross a schema-evolution "
                    "boundary (Delta's contract)"
                )
            if m["op"] not in ("create", "append"):
                if self._skip_changes:
                    continue
                raise ValueError(
                    f"version {v} is a '{m['op']}' commit — a rewrite "
                    "is not an append delta; set "
                    "skipChangeCommits=true to pass over it"
                )
            for rel in _added(self._table, m):
                part_dir = os.path.dirname(rel)
                val = part_dir.split("=", 1)[1]
                parts.append(
                    _FilePartition(
                        os.path.join(_data_dir(self._table), rel),
                        m["part_col"],
                        val,
                        m["columns"],
                    )
                )
        return parts

    def read(self, partition: _FilePartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pq.read_table(partition.path)
        n = tbl.num_rows
        arrays, names = [], []
        for c in partition.columns:
            if c == partition.part_col:
                arrays.append(
                    pa.array([partition.part_val] * n, type=pa.string())
                )
            else:
                arrays.append(tbl.column(c).combine_chunks())
            names.append(c)
        yield from pa.Table.from_arrays(arrays, names=names).to_batches()

    def commit(self, end: dict) -> None:
        v = end["version"]
        if self._cursor is None or v > self._cursor:
            self._cursor = v


class LakeCommitsDataSource(DataSource):
    """spark.readStream.format("tcrd_lake_commits")
    .option("path", table_dir).load() after
    spark.dataSource.register(LakeCommitsDataSource)."""

    @classmethod
    def name(cls) -> str:
        return "tcrd_lake_commits"

    def schema(self) -> StructType:
        return _schema(self.options["path"])

    def streamReader(self, schema):
        return LakeCommitsStreamReader(dict(self.options))
