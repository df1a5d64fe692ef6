"""Per-file Bloom-filter index for the versioned lake — equality
file-skipping where zone maps can't help.

Zone maps (`snapshots.plan_files`) prune RANGE predicates on
clustered columns; a point lookup on a high-cardinality UNCLUSTERED
key (doc_id, order key, content hash) intersects every file's
[min, max] and prunes nothing. Delta's bloom-filter index / Iceberg's
puffin files solve this with a per-data-file membership sketch; this
is that capability for the manifest lake:

- `build_bloom_index`: ONE distributed pass over a snapshot computes,
  per data file, the k xxhash64 bit positions of every value
  (row-local explode), folds them into sparse 64-bit bitset WORDS
  with map-side-combinable `bit_or` aggregations, and writes the
  index as a parquet SIDECAR TABLE `(file, words: map<int,bigint>)`
  via a normal distributed write. NOTHING grows-with-table ever
  touches the driver: the r8 shape collected every file's ≤256 KiB
  hex bitset into one driver dict (multi-GB at 10⁵–10⁶ files) — now
  the driver holds only the (constant-size) meta JSON.
- `bloom_candidate_files`: the probe value's k bit positions become k
  bit-test predicates on the sidecar's `words` column — the
  admitted-file set is computed EXECUTOR-side by a filtered sidecar
  read joined (broadcast) against the snapshot's file list; only the
  admitted names (plus post-index appends) come back to the driver,
  bounded by the answer size, never by the table. No data file is
  opened.
- `point_lookup`: reads just the candidate files and re-applies the
  exact predicate, so results equal the unpruned filter exactly
  (false positives cost IO, never correctness; false negatives are
  impossible for values present when the index was built).
- `tokenize=True` / `contains_lookup`: the same sketch over the
  WHITESPACE TOKENS of a text column — word-level file skipping
  ("which files may contain this term") for contains-queries on the
  corpus lake, where neither zone maps nor value blooms can help.

Hashing runs in the ENGINE (xxhash64) on both the build and the
probe side — the probe hashes its literal through a 1-row Spark job
so driver and executors can never disagree on the hash of a value.

Sizing: m auto-scales to ~10 bits per key of the snapshot's BIGGEST
file (power of two, 1 KiB–256 KiB per file), giving ~1% false
positives at k=4 regardless of file size — a fixed m saturates on
large files and quietly stops pruning (measured in
tools/bloom_bench.py before the auto-sizing). The sidecar is sparse
(only words with set bits), partitioned like any parquet table — at
a million files it is just another small table, pruned and filtered
distributedly.

Index version-pins to the snapshot it was built from: appends create
NEW files (existing bitsets stay valid — files are immutable), so a
lookup against a later version falls back to "no bitset ⇒ candidate"
for unindexed files, exactly the zone-map fallback discipline.
`vacuum` GCs sidecars alongside their version's manifest (storage
coherence); a probe after that degrades to must-scan — still exact,
rebuild the index to restore pruning.

Lookups read the admitted files through the snapshot scan
(`snapshots._scan`): deletion vectors applied, and a column added
after the admitted files were written reads as a typed NULL. The
index itself covers each file's RAW rows, DV-marked ones included —
files are immutable, so a bitset stays valid under any later DV state
(a RESTORE can resurrect marked rows).

Reference parity: none (lakehouse extension; the reference's MySQL
relies on B-tree indexes, `SQL/create-TCRDv7.sql` KEY clauses — this
is the immutable-file analogue).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.sources.snapshots import _data_dir, _head, _scan

K_HASHES = 4
BITS_PER_KEY = 10  # ~1% fp at k=4
M_MIN, M_MAX = 1 << 13, 1 << 21  # 1 KiB .. 256 KiB per file


def _index_dir(table_dir: str, col: str, version: int) -> str:
    return os.path.join(
        table_dir, "_index", f"bloom-{col}-v{version:05d}"
    )


def _meta_path(table_dir: str, col: str, version: int) -> str:
    return _index_dir(table_dir, col, version) + ".meta.json"


def _bit_positions(col, m_bits: int, k: int):
    """k engine-side hash positions for one value (seeded xxhash64)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(F.lit(i), col), F.lit(m_bits))
            for i in range(k)
        ]
    )


def _auto_m_bits(paths: list[str]) -> int:
    """Size the filter from the BIGGEST file's footer row count
    (~BITS_PER_KEY bits per key, power of two, clamped): a fixed m
    silently saturates on large files — 12k keys in 8k bits admits a
    third of the snapshot per probe instead of ~1 file (measured,
    tools/bloom_bench.py). Footers only; no data read."""
    import pyarrow.parquet as pq

    max_rows = max(
        (pq.ParquetFile(p).metadata.num_rows for p in paths), default=1
    )
    m = M_MIN
    while m < max_rows * BITS_PER_KEY and m < M_MAX:
        m <<= 1
    return m


TOKENS_PER_ROW = 64  # m auto-sizing guess for tokenize=True builds


def build_bloom_index(
    spark: SparkSession,
    table_dir: str,
    col: str,
    version: int | None = None,
    m_bits: int | None = None,
    k: int = K_HASHES,
    tokenize: bool = False,
) -> str:
    """Build and publish the per-file bloom sidecar for `col` over one
    snapshot; returns the sidecar directory. `m_bits=None` auto-sizes
    from footer row counts. The build is one distributed pipeline —
    explode(k positions) → two bit_or-style shuffles → parquet write;
    bitsets NEVER materialize on the driver (pytest-asserted).

    `tokenize=True` indexes the WHITESPACE TOKENS of a text column
    instead of whole values — word-level file skipping ("which files
    may contain this term") for contains-queries that zone maps and
    value blooms can't prune. Auto-sizing then budgets
    ~TOKENS_PER_ROW distinct tokens per row; pass m_bits for corpora
    with much longer documents."""
    m = _head(table_dir, version)
    v = m["version"]
    if m_bits is None:
        base = _data_dir(table_dir)
        m_bits = _auto_m_bits([os.path.join(base, f) for f in m["files"]])
        if tokenize:
            target = m_bits * TOKENS_PER_ROW
            while m_bits < target and m_bits < M_MAX:
                m_bits <<= 1
    # every RAW row of the files (no DV applied): see the module doc
    src = _scan(spark, table_dir, {**m, "dv": []}, m["files"],
                positions=True)
    dtype = "string" if tokenize else src.schema[col].dataType.simpleString()
    keyed = src.select(F.col("_rf").alias("file"), F.col(col).alias("_v"))
    if tokenize:
        keyed = keyed.select(
            "file", F.explode(F.split("_v", r"\s+")).alias("_v")
        )
    sidecar = (
        keyed.select(
            "file",
            F.explode(_bit_positions(F.col("_v"), m_bits, k)).alias("_p"),
        )
        # sparse bitset words: position → (word, mask), OR-folded per
        # (file, word) then packed into one map row per file — both
        # aggregations map-side combinable, output ∝ set bits
        .select(
            "file",
            F.expr("CAST(_p DIV 64 AS INT)").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(_p, 64) AS INT))"
            ).alias("mask"),
        )
        .groupBy("file", "w")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .groupBy("file")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "bits"))
            ).alias("words")
        )
    )
    out = _index_dir(table_dir, col, v)
    sidecar.write.mode("overwrite").parquet(out)
    meta = _meta_path(table_dir, col, v)
    tmp = meta + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(
                {"col": col, "version": v, "m_bits": m_bits, "k": k,
                 "dtype": dtype, "tokenize": tokenize},
                f, sort_keys=True,
            )
        os.rename(tmp, meta)  # derived artifact: last-writer-wins
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return out


def _probe_positions(
    spark: SparkSession, value, dtype: str, m_bits: int, k: int
) -> list[int]:
    """Hash the probe literal through the engine (1-row job) so the
    probe and the build can never disagree on a hash. The literal is
    CAST to the indexed column's type first — xxhash64 is
    type-sensitive (int 5 and bigint 5 hash differently), so an uncast
    Python literal would silently false-negative every lookup."""
    row = spark.range(1).select(
        _bit_positions(F.lit(value).cast(dtype), m_bits, k).alias("p")
    ).head()
    return [int(p) for p in row.p]


def _find_index(table_dir: str, col: str, v: int) -> dict | None:
    """Newest index meta at or before snapshot v (vacuum may have
    GC'd older ones — discovery just walks past the gaps)."""
    for iv in range(v, 0, -1):
        p = _meta_path(table_dir, col, iv)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
    return None


def bloom_candidate_files(
    spark: SparkSession,
    table_dir: str,
    col: str,
    value,
    version: int | None = None,
    tokenize: bool | None = None,
) -> tuple[list[str], int]:
    """Files of `version` that may contain col == value, plus the
    snapshot's total file count. Files without a bitset (added after
    the index was built) are kept — pruning is only ever an IO
    optimization. Admission is computed EXECUTOR-side (k bit-test
    predicates on the sidecar); the driver receives only the admitted
    names.

    `tokenize` declares which KIND of index the probe expects (False:
    whole-value bits for an equality lookup; True: token bits for a
    contains lookup; None: accept either). A mismatched index —
    probing a token against a value index or vice versa — would
    silently FALSE-NEGATIVE (the bits were hashed from different
    keys), so the probe degrades to must-scan instead."""
    m = _head(table_dir, version)
    v = m["version"]
    idx = _find_index(table_dir, col, v)
    if idx is not None and tokenize is not None and (
        bool(idx.get("tokenize", False)) != tokenize
    ):
        idx = None  # wrong index kind for this lookup: must-scan
    if idx is None:
        return list(m["files"]), len(m["files"])
    pos = _probe_positions(
        spark, value, idx["dtype"], idx["m_bits"], idx["k"]
    )
    # k bit tests on the sparse words map; a missing word has no set
    # bits, so the probe bit is certainly absent — COALESCE the NULL
    # lookup to false (a bare NULL would survive the conjunction and
    # masquerade as "unindexed ⇒ keep" in the left join below, which
    # silently disabled pruning on sparse token maps)
    test = None
    for p in pos:
        mask = 1 << (p % 64)
        if mask >= 1 << 63:
            mask -= 1 << 64  # signed 64-bit, matching the build side
        t = F.coalesce(
            F.col("words").getItem(p // 64).bitwiseAND(F.lit(mask)) != 0,
            F.lit(False),
        )
        test = t if test is None else (test & t)
    side_dir = _index_dir(table_dir, col, idx["version"])
    if not os.path.isdir(side_dir):
        # torn sidecar (e.g. a crash between vacuum's two deletes left
        # the meta without its parquet): treat as no index — must-scan
        # is always exact; pruning is only ever an IO optimization
        return list(m["files"]), len(m["files"])
    side = spark.read.parquet(side_dir)
    mdf = spark.createDataFrame(
        [(f,) for f in m["files"]], "file string"
    )
    # the bit test evaluates inside the sidecar scan, so only a
    # narrow (file, hit) stream leaves it — never broadcast the
    # sidecar itself: its words maps are the whole index
    kept_rows = (
        mdf.join(side.select("file", test.alias("_hit")), "file", "left")
        # unindexed (post-index append): must scan; indexed: bit test
        .where(F.col("_hit").isNull() | F.col("_hit"))
        .select("file")
        .collect()
    )
    kept = {r.file for r in kept_rows}
    return [f for f in m["files"] if f in kept], len(m["files"])


def _pruned_read(
    spark: SparkSession, table_dir: str, col: str, value, pred, version,
    tokenize: bool,
) -> DataFrame:
    """Shared pruned-read path: the bloom-admitted files through the
    snapshot scan, exact predicate re-applied (a wrong-KIND index
    admits every file)."""
    m = _head(table_dir, version)
    kept, _total = bloom_candidate_files(
        spark, table_dir, col, value, m["version"], tokenize=tokenize
    )
    return _scan(spark, table_dir, m, kept).where(pred)


def point_lookup(
    spark: SparkSession,
    table_dir: str,
    col: str,
    value,
    version: int | None = None,
) -> DataFrame:
    """col == value over one snapshot, planning ONLY bloom-admitted
    files; the exact predicate is re-applied (pytest-pinned equal to
    the unpruned filter)."""
    return _pruned_read(
        spark, table_dir, col, value,
        F.col(col) == F.lit(value), version, tokenize=False,
    )


def contains_lookup(
    spark: SparkSession,
    table_dir: str,
    col: str,
    word: str,
    version: int | None = None,
) -> DataFrame:
    """Rows whose text column contains `word` as a whitespace token,
    planning ONLY the files the TOKEN bloom admits (build with
    tokenize=True) — word-level file skipping for the corpus lake; the
    exact predicate is re-applied (pytest-pinned equal to the unpruned
    contains-filter)."""
    return _pruned_read(
        spark, table_dir, col, word,
        F.array_contains(F.split(F.col(col), r"\s+"), word), version,
        tokenize=True,
    )
