"""Central query registry: collects QUERIES/ORACLE from every module.

`__spark_entry__.py` (the driver contract) is a thin shim over this.
Each query name appears in exactly one module; a name collision is a
bug and raises at import time.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tcrd_spark.session import clear

# Every module that registers QUERIES/ORACLE, in collection order (the
# order all_queries() returns). Imported without a guard: a module that
# fails to import must fail the registry, not drop its queries.
_MODULES = (
    "operators.scans", "operators.joins", "operators.aggregates",
    "operators.windows", "operators.setops", "operators.temporal",
    "operators.temporal_skew", "functions.scalars", "operators.graph",
    "operators.olap_ext", "operators.basket", "operators.skyline",
    "operators.regress", "operators.scd", "operators.analytic_ext",
    "operators.attribution", "operators.triangles", "operators.stats",
    "operators.sessions_ext", "operators.window_ext",
    "operators.temporal_ext", "operators.timeseries",
    "operators.patterns", "operators.downsample",
    "operators.subqueries", "operators.tpch", "operators.feature_join",
    "analytics.testdata_queries", "pipeline.testdata_queries",
    "pipeline.corpus_queries", "pipeline.corpus_v2",
    "pipeline.substring", "pipeline.bpe", "pipeline.gopher",
    "pipeline.lm", "pipeline.nbayes", "pipeline.mixture",
    "pipeline.bloom", "pipeline.sq", "pipeline.pq", "pipeline.semdedup",
    "pipeline.ccnet", "pipeline.bm25", "pipeline.dsir",
    "pipeline.sketches", "pipeline.winnow", "pipeline.tfidf",
    "pipeline.negatives", "pipeline.html", "pipeline.lm3",
    "pipeline.budget", "pipeline.urlfilter", "pipeline.splits",
    "pipeline.chunker", "pipeline.linalg", "pipeline.fertility",
    "pipeline.clf_gate", "pipeline.editdist", "pipeline.divergence",
    "pipeline.compressibility", "pipeline.pooling",
    "pipeline.containment", "pipeline.imagedup", "pipeline.videodup",
    "pipeline.quantiles", "pipeline.phrase", "pipeline.profile",
    "pipeline.fusion", "pipeline.mmr", "sources.zorder",
    "sources.merge", "sources.snapshots", "sources.incremental",
    "sources.incremental_join", "quality.expectations", "quality.drift",
    "quality.anonymity", "pipeline.multimodal",
    "streaming.testdata_queries", "api.testdata_queries",
    "quality.testdata_queries",
)


def _collect():
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracle: dict[str, str] = {}
    for modname in _MODULES:
        mod = importlib.import_module(f"tcrd_spark.{modname}")
        for k, v in getattr(mod, "QUERIES", {}).items():
            if k in queries:
                raise ValueError(f"duplicate query name {k!r} in {mod.__name__}")
            queries[k] = v
        for k, v in getattr(mod, "ORACLE", {}).items():
            if k in oracle:
                raise ValueError(f"duplicate oracle name {k!r} in {mod.__name__}")
            oracle[k] = v
    # every oracle key must have a query; not every query needs an oracle
    # (non-SQL-expressible ops get the driver's weaker rows-only check)
    missing = set(oracle) - set(queries)
    if missing:
        raise ValueError(f"oracle entries without queries: {missing}")
    return queries, oracle


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _collect()[0]


def all_oracle_sql() -> dict[str, str]:
    return _collect()[1]


# Bench-isolation hook (VERDICT r11 #8): memos are shared across
# QUERIES (kmeans assignment ↔ semantic_dedup ↔ corpus_pipeline_v2),
# so one query's min-of-3 can exclude work a sibling already paid for;
# `SPARK_GRAFT_BENCH_ISOLATE=1` resets between queries so per-query
# seconds are attributable. It IS the memo store's `clear`: every memo
# lives in that store, so no family's state can be missed by a reset.
clear_session_memos = clear
