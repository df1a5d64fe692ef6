"""The session memo store (tcrd_spark/session.py): the one place query
families keep state across queries, and the one reset that frees it."""

from __future__ import annotations

import importlib
import os
import pkgutil
import re
import sys
import threading
import time
from types import SimpleNamespace

import tcrd_spark

# the module-level memo-dict names the benchmark's registry_batch
# workload counts (perfbench/registry_batch.py, MEMO_NAME)
MEMO_NAME = re.compile(r"^_[A-Z0-9_]*(CACHE|MEMO|ROTATING)[A-Z0-9_]*$")
# parse caches of immutable lake files, keyed on file identity
ALLOWED = {
    "tcrd_spark.session._SESSION_MEMO",
    "tcrd_spark.sources.snapshots._TXN_CACHE",
    "tcrd_spark.sources.snapshots._CKPT_CACHE",
}


def test_no_memo_dict_outside_the_store():
    from tcrd_spark.registry import all_queries

    all_queries()  # imports every registry module
    for m in pkgutil.walk_packages(tcrd_spark.__path__, "tcrd_spark."):
        importlib.import_module(m.name)
    found = {
        f"{name}.{attr}"
        for name, mod in list(sys.modules.items())
        if name.startswith("tcrd_spark.") and mod is not None
        for attr, val in vars(mod).items()
        if MEMO_NAME.match(attr) and isinstance(val, dict)
    }
    assert "tcrd_spark.session._SESSION_MEMO" in found
    assert found <= ALLOWED, sorted(found - ALLOWED)


def test_memo_builds_once_per_key_under_thread_contention():
    """The oracle sweep calls queries from a thread pool: concurrent
    callers of one slot must see one build per key, and never the
    other key's value (int values: nothing to release)."""
    from tcrd_spark.session import _SESSION_MEMO, memo

    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="stress-app")
    )
    builds: list = []
    wrong: list = []

    def build(key):
        time.sleep(0.001)  # widen the check-then-build window
        builds.append(key)
        return key

    def run(key_of):
        def worker(i):
            try:
                for j in range(100):
                    key = key_of(i, j)
                    got = memo(spark, "stress", key, lambda: build(key))
                    if got != key:
                        wrong.append((key, got))
            except Exception as e:  # surfaced by the assert below
                wrong.append(e)

        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        run(lambda i, j: 7)
        assert builds == [7] and not wrong
        run(lambda i, j: (i + j) // 25 % 2)  # callers switch out of step
        assert not wrong
    finally:
        sys.setswitchinterval(old)
        _SESSION_MEMO.pop("stress", None)


def _paths(value) -> list[str]:
    if isinstance(value, tuple):
        return [p for v in value for p in _paths(v)]
    return [value] if isinstance(value, str) and os.path.isabs(value) else []


def test_clear_releases_every_kind_of_entry(spark, sf_dir):
    """Cached frames, cut RDDs, warehouse index tables and temp-dir
    indexes all go with one clear_session_memos."""
    from tcrd_spark.registry import all_queries, clear_session_memos
    from tcrd_spark.session import _SESSION_MEMO

    q = all_queries()
    for name in ("triangle_counts", "pagerank", "ann_sq_topk",
                 "ann_ivf_indexed", "dedup_incremental_indexed",
                 "leakage_safe_split"):
        q[name](spark, sf_dir).collect()

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def index_tables():
        return [t.name for t in spark.catalog.listTables()
                if t.name.startswith("dedup_idx_")]

    dirs = [p for _, v in _SESSION_MEMO.values() for p in _paths(v)]
    assert dirs and all(os.path.isdir(p) for p in dirs)
    assert index_tables() and n_persistent() > 0

    clear_session_memos(spark)
    assert not _SESSION_MEMO
    assert n_persistent() == 0
    assert not index_tables()
    assert not any(os.path.exists(p) for p in dirs)
