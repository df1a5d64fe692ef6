"""SparkSession factory with scale-oriented defaults.

Tuned for the test harness (local[N], 32 shuffle partitions) but every
setting is the one you'd want on a 1000-executor cluster too: AQE for
runtime re-planning + skew-join splitting, Arrow for the few pandas_udf
paths, and a broadcast threshold that lets every dimension table
(region/nation/supplier/type-dictionaries) broadcast instead of shuffle.

AQE also re-plans cached frames (``canChangeCachedPlanOutputPartitioning``):
a ``.cache()`` of a shuffled plan is sized by its runtime bytes, not
pinned at ``spark.sql.shuffle.partitions``. Caches far smaller than
32 × the advisory partition size (the memo store's shingle arrays,
edge lists, code tables: every one at test and bench scale) are the
regime that wins: each stage reading one ran 32 tasks over a few KB
and now runs one or a few. Pinned partitioning wins only where a cache
is joined or grouped on the key it was shuffled by: the cache then no
longer reports that hash partitioning, so the join plans one more
Exchange. No registered query's plan has that shape today.

Also home of the session memo store (`memo` / `clear`): the one
mechanism by which query families reuse intermediates across queries.
"""

from __future__ import annotations

import os
import shutil
import threading

from py4j.java_gateway import JavaObject
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession


def get_spark(app_name: str = "tcrd_spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions + skew-join splitting.
        # At 100 TB hub-protein joins (ppi/lincs analogues) are skewed; AQE
        # splits oversized partitions without manual salting in most cases.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        # let AQE coalesce a cached plan too (off by default, so a cache
        # keeps all 32 shuffle partitions however small it is). Wins for
        # small caches; costs an Exchange where a cache is joined on its
        # own shuffle key (module docstring).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Dimension tables (≤25 rows here; ≤20k targets in the reference)
        # must broadcast — never shuffle a fact table to join a dim.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Arrow batches for the pandas_udf paths (erf CDF, minhash, ANN).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata stores events.ts as parquet TIMESTAMP(NANOS);
        # read as long and rebuild micros in load_table (lake.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # local parallelize() slicing: createDataFrame of an N-row fixture
    # otherwise fans into <cores> near-empty partitions and every tiny
    # action pays a full task wave. Parquet readers are unaffected.
    # The pytest harness sets this low (tests/conftest.py); production
    # keeps Spark's default (= total cores).
    dp = os.environ.get("SPARK_GRAFT_DEFAULT_PARALLELISM")
    if dp:
        builder = builder.config("spark.default.parallelism", dp)
    return builder.getOrCreate()


# ------------------------------------------------------- session memo store

# The one place a query family keeps intermediates across queries of a
# session (code tables, edge frames, lineage cuts, persisted indexes,
# fixture lakes): slot -> ((applicationId, key), value). At most ONE
# live entry per slot: a new key releases its predecessor, so storage
# stays bounded however many sf_dirs or applications a process sees.
_SESSION_MEMO: dict[str, tuple[tuple, object]] = {}
_LOCKS: dict[str, threading.Lock] = {}


def _release(spark: SparkSession, value) -> None:
    """Free what a memo entry holds: unpersist a cached DataFrame or a
    cut RDD handle, rmtree a directory (absolute path), DROP TABLE a
    warehouse table (any other string); tuples release each member.
    Releasing is a storage decision, never a correctness one: a lazy
    frame still referencing a released cache recomputes on demand."""
    if isinstance(value, tuple):
        for v in value:
            _release(spark, v)
    elif isinstance(value, str):
        if os.path.isabs(value):
            shutil.rmtree(value, ignore_errors=True)
        else:
            spark.sql(f"DROP TABLE IF EXISTS {value}")
    elif isinstance(value, JavaObject) or (
        isinstance(value, DataFrame) and value.is_cached
    ):
        try:
            value.unpersist()
        except Py4JError:  # handle from a stopped application
            pass


def memo(spark: SparkSession, slot: str, key, build):
    """The slot's value for ``key`` in this application: the live entry
    when its key matches (``==``), else ``build()`` after releasing the
    predecessor. Builds run under a per-slot lock — the oracle sweep
    calls queries from a thread pool, and one build per key is the
    point.

    The store is the one owner of cached session storage: lineage cuts
    enter as (frame, cut RDD handle) — unpersisting the frame alone
    would leave the RDD under it pinned — and cached frames enter as
    themselves (operators/lineage.py ``cut`` / ``cache``)."""
    full = (spark.sparkContext.applicationId, key)
    with _LOCKS.setdefault(slot, threading.Lock()):
        held = _SESSION_MEMO.get(slot)
        if held is not None:
            if held[0] == full:
                return held[1]
            del _SESSION_MEMO[slot]
            _release(spark, held[1])
        value = build()
        _SESSION_MEMO[slot] = (full, value)
        return value


def clear(spark: SparkSession) -> None:
    """Release every memo entry, then every cached DataFrame and
    persistent RDD of the session (a loop's hop cuts left by an
    interrupted build included)."""
    for slot in list(_SESSION_MEMO):
        with _LOCKS.setdefault(slot, threading.Lock()):
            held = _SESSION_MEMO.pop(slot, None)
            if held is not None:
                _release(spark, held[1])
    spark.catalog.clearCache()
    # SparkContext.getPersistentRDDs → scala Map[Int, RDD]; walk its
    # values through py4j and unpersist each (non-blocking)
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while it.hasNext():
        it.next().unpersist(False)
