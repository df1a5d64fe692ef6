"""Lineage-cut helper shared by every iterative algorithm.

Deliberately a LEAF module (imports nothing from tcrd_spark but the
leaf `session`): corpus connected-components, BPE training, and graph
BFS all need the cut, and the pytest oracle/plan sweeps key each
query's cached PASS on its import closure (tests/sweep_cache.py) — an
import edge through graph.py would put graph.py in every corpus
query's closure, so any graph edit would invalidate their cached PASSes.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

from tcrd_spark.session import memo


def _truncate(
    df: DataFrame, _caches: list | None = None, cache: bool = True
) -> DataFrame:
    """Cut the logical plan at this point (RDD round-trip, cached).

    Iterative algorithms build self-referential union/join chains whose
    Catalyst analysis cost grows EXPONENTIALLY with depth — by hop 5 the
    driver spends minutes analyzing, not computing. An opaque RDD scan
    resets analysis to O(1) per hop.

    The round-trip stays INSIDE the JVM: ``df._jdf.javaRDD()`` is the
    Dataset's RDD[Row] and ``createDataFrame(JavaRDD[Row], schema)``
    re-encodes it — no JVM→Python pickling. The old ``df.rdd`` path
    shipped every cut row out to the Python driver-side serializer and
    back (guide §4: every Python crossing pays transpose+serialize both
    ways); measured on a 100k-row window-derived cut this was 1.65s vs
    0.34s warm, and it tripled corpus/CC loop wall time.
    (localCheckpoint is NOT equivalent: unpersisting a local checkpoint
    loses the blocks permanently — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on
    re-read — while this cut's lineage survives unpersist.)

    The cached RDD is appended to ``_caches`` when given so the caller
    can unpersist it once a later cut is fully materialized (ADVICE r6:
    loops that never release superseded hop caches pin ~2 RDDs per hop
    for the whole session). Unpersisting is a perf decision, never a
    correctness one — the RDD lineage survives and recomputes on
    demand.

    ``cache=False`` skips persisting the cut RDD: right for strictly
    LINEAR chains (pagerank's per-iteration cut) where every cut is
    read exactly once by the single terminal action — caching there
    only costs storage-memory bookkeeping per hop.
    """
    spark = df.sparkSession
    jrdd = df._jdf.javaRDD()
    if cache:
        jrdd = jrdd.cache()
        if _caches is not None:
            _caches.append(jrdd)
    return DataFrame(
        spark._jsparkSession.createDataFrame(jrdd, df._jdf.schema()), spark
    )


def _truncate_rotating(
    df: DataFrame, slot: str, _caches: list | None = None
) -> DataFrame:
    """``_truncate`` with BOUNDED session storage for callers that have
    no terminal action of their own (registered queries return lazy
    frames, so they can never unpersist "after the action"): when
    ``_caches`` is None, the previous cut cached under the same slot is
    unpersisted first — repeated invocations pin at most ONE cut per
    slot instead of one per call (ADVICE r11: video/image_near_dup_pairs
    accumulated a cached RDD per invocation for the session lifetime).
    Unpersisting the predecessor is a perf decision, never a correctness
    one: its lineage survives and recomputes on demand if a stale frame
    is still referenced. With ``_caches`` given, identical to
    ``_truncate(df, _caches)`` — the caller owns cleanup."""
    if _caches is not None:
        return _truncate(df, _caches)
    held: list = []
    # a fresh key per call: the slot always rotates; the entry holds
    # the cut RDD handle (what the store releases) next to the frame
    return memo(
        df.sparkSession, slot, object(), lambda: (_truncate(df, held), held[0])
    )[0]


def _cache_rotating(df, slot: str, _caches: list | None = None):
    """``df.cache()`` with BOUNDED session storage (r12; the DataFrame
    twin of ``_truncate_rotating``): registered queries re-invoke
    operators that cache reused sub-frames, and a plain ``.cache()``
    with no terminal-action cleanup pins one materialized frame per
    invocation for the session lifetime (bench: 3 reps × several
    queries ≈ dozens of dead cached frames of shingle arrays). When
    ``_caches`` is None the previous frame cached under the same slot
    is unpersisted first — at most ONE live cache per slot — UNLESS
    the new frame's plan is the same (``sameResult``): Spark's
    CacheManager dedups identical canonicalized plans into one cached
    relation, so re-invocations of an unchanged query legitimately
    share it (zero extra storage), and unpersisting it would force a
    full recompute per invocation for nothing (measured: the jaccard
    family regressed 2-4× under unconditional rotation). Unpersisting
    is a perf decision, never a correctness one: a stale plan still
    referencing the old frame recomputes on demand. With ``_caches``
    given, the caller owns cleanup and this is ``df.cache()`` +
    append."""
    if _caches is not None:
        out = df.cache()
        _caches.append(out)
        return out
    out = memo(df.sparkSession, slot, _SamePlan(df), df.cache)
    # a plan match returns the slot's frame; hand back the caller's own
    # frame (its column ids), cached onto the shared relation
    return out if out is df else df.cache()


class _SamePlan:
    """Memo key equal to another when the analyzed plans compute the
    same result (``sameResult``) — the CacheManager's own dedup rule."""

    def __init__(self, df):
        self.df = df

    def __eq__(self, other):
        try:
            return self.df._jdf.queryExecution().analyzed().sameResult(
                other.df._jdf.queryExecution().analyzed()
            )
        except Py4JError:  # handle from a stopped application
            return False
