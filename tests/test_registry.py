"""Registry invariants: every registered query module is collected
(none silently dropped), every oracle has a query, and the session
memo reset hook empties the store.
"""

from __future__ import annotations

import importlib
import pkgutil

import tcrd_spark
from tcrd_spark.registry import _MODULES, all_oracle_sql, all_queries


def test_every_query_module_is_registered():
    """A module that defines QUERIES but is missing from _MODULES would
    take its queries out of the oracle sweep without any error."""
    registered = {f"tcrd_spark.{m}" for m in _MODULES}
    defining = set()
    for info in pkgutil.walk_packages(tcrd_spark.__path__, "tcrd_spark."):
        mod = importlib.import_module(info.name)
        if getattr(mod, "QUERIES", None):
            defining.add(info.name)
    assert defining - registered == set()
    assert len(all_queries()) == 209


def test_every_oracle_has_a_query():
    q, o = all_queries(), all_oracle_sql()
    assert set(o) <= set(q)


def test_clear_session_memos_resets_the_store(spark):
    """SPARK_GRAFT_BENCH_ISOLATE support (VERDICT r11 #5/#8): the reset
    hook empties the session memo store and unpersists cached data so
    per-query bench numbers are attributable."""
    from pyspark.sql import functions as F

    from tcrd_spark.registry import clear_session_memos
    from tcrd_spark.session import _SESSION_MEMO, memo

    df = memo(
        spark, "isolate-test", None, lambda: spark.range(10).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).cache()
    )
    assert df.count() == 10
    assert "isolate-test" in _SESSION_MEMO
    clear_session_memos(spark)
    assert not _SESSION_MEMO
    assert not df.is_cached
    n_persistent = (
        spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    )
    assert n_persistent == 0
