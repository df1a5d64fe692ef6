"""Lineage cuts and session caches, each with ONE owner: the session
memo store (`tcrd_spark.session.memo`).

- ``cut(df, slot, key=None)`` — an RDD round trip that resets the
  plan. No key: the slot rotates on every call (at most one live cut
  per slot), and the entry holds the frame AND its cached RDD handle,
  so releasing the entry frees both. A key (e.g. ``sf_dir``, or the
  frames a view is built from): the cut is reused, cached once as a
  DataFrame over the unpersisted RDD scan, and ``df`` may be a builder
  so a hit builds nothing.
- ``cache(df, slot)`` — ``df.cache()`` under a rotating slot, reused
  while the plan computes the same result.
- ``_truncate(df, held)`` — the hop cut of an iterative loop
  (apsp, connected components, BPE, Lloyd). The loop owns ``held``:
  it materializes a hop before releasing its ancestors (the store
  releases a predecessor BEFORE it builds, so a self-referential
  chain on one slot would recompute from scratch), and ``_keep``
  hands its final survivor to a store slot.

Releasing is a storage decision, never a correctness one: a frame
whose cut was released recomputes from its lineage on demand.
(Spark's local checkpoint has no such fallback: unpersisting it loses
the blocks — CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on re-read.)

Deliberately a LEAF module (imports nothing from tcrd_spark but the
leaf `session`): corpus connected-components, BPE training, and graph
BFS all need the cut, and the pytest oracle/plan sweeps key each
query's cached PASS on its import closure (tests/sweep_cache.py) — an
import edge through graph.py would put graph.py in every corpus
query's closure, so any graph edit would invalidate their cached PASSes.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from tcrd_spark.session import memo


def _truncate(
    df: DataFrame, held: list | None = None, cache: bool = True
) -> DataFrame:
    """Cut the logical plan at this point (RDD round-trip, cached; the
    RDD handle is appended to ``held``).

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

    ``cache=False`` skips persisting the cut RDD (``held`` unused):
    right for strictly LINEAR chains (pagerank's per-iteration cut)
    where every cut is read exactly once by the single terminal
    action — caching there only costs storage-memory bookkeeping —
    and under a keyed ``cut``, whose DataFrame cache holds the rows.
    """
    spark = df.sparkSession
    jrdd = df._jdf.javaRDD()
    if cache:
        jrdd = jrdd.cache()
        held.append(jrdd)
    return DataFrame(
        spark._jsparkSession.createDataFrame(jrdd, df._jdf.schema()), spark
    )


def cut(df, slot: str, key=None) -> DataFrame:
    """``_truncate`` owned by the session store under ``slot``.
    ``key=None`` rotates the slot on every call — registered queries
    return lazy frames and can never unpersist "after the action", so
    each call releases the previous call's cut (ADVICE r11: one cached
    RDD per invocation otherwise accumulated for the session); the
    entry holds (frame, cut RDD).

    With a key the live cut is reused, and ``df`` may be a
    zero-argument builder of the frame. A reused cut is cached ONCE:
    a DataFrame cache over the cut's RDD scan, the RDD itself not
    persisted. Every later call scans it, and a columnar scan beats
    re-encoding cached rows (measured warm at sf0.1, 4 cores:
    web_pipeline 0.99s → 0.21s, corpus_pipeline_v2 15.2s → 11.9s,
    semantic_dedup 2.56s → 1.99s); persisting the RDD as well stored
    every row twice and made the first read pay for both. The cached
    relation is a ``LogicalRDD`` of its own, so no other query's plan
    fragment can match it in the CacheManager."""
    def build():
        if key is not None:
            out = _truncate(df() if callable(df) else df, cache=False)
            return (out.cache(),)
        held: list = []
        return _truncate(df, held), held[0]

    spark = df.sparkSession if isinstance(df, DataFrame) else SparkSession.active()
    return memo(spark, slot, object() if key is None else key, build)[0]


def _keep(df: DataFrame, rdd, held: list, slot: str) -> DataFrame:
    """End of an iterative loop: release every hop cut in ``held`` but
    ``rdd`` (``df``'s own cut, already materialized) and hand ``df`` with
    it to a rotating store slot."""
    for r in held:
        if r is not rdd:
            r.unpersist()
    held.clear()
    return memo(df.sparkSession, slot, object(), lambda: (df, rdd))[0]


def cache(df: DataFrame, slot: str) -> DataFrame:
    """``df.cache()`` with at most ONE live cache per slot: registered
    queries re-invoke operators that cache reused sub-frames, and a
    plain ``.cache()`` pins one materialized frame per invocation for
    the session (bench: 3 reps × several queries ≈ dozens of dead
    cached frames of shingle arrays). The previous frame under the slot
    is unpersisted first UNLESS the new plan computes the same result
    (``sameResult``): Spark's CacheManager dedups identical
    canonicalized plans into one cached relation, so re-invocations of
    an unchanged query share it, and unpersisting it would force a full
    recompute per invocation (measured: the jaccard family regressed
    2-4× under unconditional rotation)."""
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
