"""registry_batch: the warehouse build's batch jobs through the registry.

Each pass runs two groups of registered queries, analytics then
curation, each in a seed-shuffled order, over seeded star-schema
tables. Session state is reset before every pass: the registry's own
`clear_session_memos`, then any module-level memo dict it missed, then
cached tables and persistent RDDs, so a pass costs what one build pays.
One untimed pass in set-up compiles the JVM code paths first: the first
pass in a fresh JVM runs about twice as long as the next. The timed
window holds at least three passes, and a group's time is the sum over
its queries of each query's fastest pass: time stolen by other tenants
of the host only ever adds. Every result, of the set-up pass too, is
collected and hash-checked against the query's DuckDB oracle, which
runs once per run after the timed passes.
"""

from __future__ import annotations

import gc
import math
import re
import sys
import time
from decimal import Decimal

import numpy as np

import gen_testdata
from harness import SETUP_REPS, median

# A few queries of each group, so that the set-up pass and three timed
# passes fit in one run: TDL and tau of the derived analytics, with one
# TPC-H query of the operators; two build-bound pipeline jobs of the
# curation group. The other registered queries of both groups are
# left out for time (corpus_pipeline_v2 alone builds for ~40 s cold);
# pagerank iterates to convergence, so its work changes with the seed.
ANALYTICS = ("tdl_classification", "tau_continuous",
             "tpch_q18_large_orders")
CURATION = ("leakage_safe_split", "dedup_simhash_pairs")
# At this scale a pass runs about as fast on one task thread as on four,
# and one thread amplifies a busy host less: a stage waits for its
# slowest task, so with a task thread per core, any core the host takes
# away stalls the stage. Over five seeds on a shared 4-core VM, the
# analytics group spread by 32% of its median on local[4] and 3% on
# local[1].
SPARK_CORES = 1
WARMUP_PASSES = 1
MIN_PASSES = 3
SF = 0.001
MEMO_NAME = re.compile(r"^_[A-Z0-9_]*(CACHE|MEMO|ROTATING)[A-Z0-9_]*$")


def memo_dicts() -> list[tuple[str, dict]]:
    """Every module-level memo dict of the loaded program modules."""
    out = []
    for name, mod in list(sys.modules.items()):
        if not name.startswith("tcrd_spark.") or mod is None:
            continue
        for attr, val in vars(mod).items():
            if MEMO_NAME.match(attr) and isinstance(val, dict):
                out.append((f"{name}.{attr}", val))
    return out


def reset_session(spark) -> tuple[int, int, list[str]]:
    """Reset session state; return (memo entries held, entries the
    registry's own reset missed, names of the dicts it missed)."""
    from tcrd_spark import registry

    held = sum(len(d) for _, d in memo_dicts())
    registry.clear_session_memos(spark)
    missed = [(n, d) for n, d in memo_dicts() if d]
    n_missed = sum(len(d) for _, d in missed)
    for _, d in missed:
        d.clear()
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.sc().getPersistentRDDs().values().iterator()
    while rdds.hasNext():
        rdds.next().unpersist(True)
    # collect the last pass's garbage now, not inside the next timed pass
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    return held, n_missed, [n for n, _ in missed]


def _cell(v):
    """A result cell as a comparable value: floats stay floats."""
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)) or v is None:
        return v
    if isinstance(v, (list, tuple)):
        return str([_cell(x) for x in v])
    return str(v)


def canonical(rows, cols) -> tuple:
    """Order-insensitive form of a result: sorted column names, and rows
    sorted by their exact cells first and their floats, rounded, last."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]

    def key(row):
        exact = tuple(repr(c) for c in row if not isinstance(c, float))
        return exact, tuple(float(f"{c:.3g}") for c in row
                            if isinstance(c, float) and not math.isnan(c))

    return tuple(sorted(cols)), sorted(out, key=key)


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (int, float)):
        if math.isnan(a):
            return isinstance(b, float) and math.isnan(b)
        # the queries round to 6 decimals, so summation order can move
        # the last digit across a rounding boundary
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1.5e-6)
    if isinstance(b, float):
        return _close(b, a)
    return a == b


def same_result(a: tuple, b: tuple) -> bool:
    return (a[0] == b[0] and len(a[1]) == len(b[1]) and all(
        len(x) == len(y) and all(map(_close, x, y))
        for x, y in zip(a[1], b[1])))


def oracle_results(sf_dir: str, names) -> dict[str, tuple]:
    import duckdb

    from tcrd_spark import registry
    from tcrd_spark.sources.lake import TABLES

    sql = registry.all_oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for n in names:
            res = con.execute(sql[n])
            out[n] = canonical(res.fetchall(), [d[0] for d in res.description])
        return out
    finally:
        con.close()


def run_pass(run, queries, groups, sf_dir, rng, tag, results) -> dict:
    """One pass over `groups`, each in a freshly shuffled order; returns
    the wall time of each query (ms) and appends every result."""
    spark, tr = run.spark, run.tracer
    query_ms = {}
    # groups run in a fixed order, analytics first: whichever runs first
    # pays for the JIT warm-up of the code both share
    for g in groups:
        names = list(groups[g])
        rng.shuffle(names)
        for n in names:
            fn = queries[n]
            layer = fn.__module__.split(".")[1]
            op = f"{tag}.{n}"
            box: list = []
            t0 = time.perf_counter()
            try:
                with tr.span(n, "bench", "unit", op):
                    with tr.span(n, layer, "build", op):
                        df = fn(spark, sf_dir)
                    box.append(df)
                    with tr.span("collect", layer, "exec", op, box) as sp:
                        rows = df.collect()
                        sp["rows"] = len(rows)
                results.append((n, canonical(rows, df.columns)))
            except Exception as ex:  # a query that raises counts as failed
                run.tally.record(n, False, repr(ex))
            query_ms[n] = (time.perf_counter() - t0) * 1000.0
    return query_ms


def run(run, smoke: bool = False) -> tuple[dict, dict, dict]:
    from tcrd_spark import registry

    spark, tr = run.spark, run.tracer
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        sf_dir = run.path(f"sf{rep}")
        gen_testdata.generate(sf_dir, SF, run.seed)
        reps.append(time.perf_counter() - t0)
    rng = np.random.default_rng(run.seed)
    groups = {"analytics": ANALYTICS, "curation": CURATION}
    if smoke:
        groups = {"analytics": ("hgram_cdf", "tpch_q18_large_orders"),
                  "curation": ("pagerank",)}
    results: list[tuple[str, tuple]] = []
    t0 = time.perf_counter()
    queries = registry.all_queries()
    warm_ms = []
    for w in range(WARMUP_PASSES):
        reset_session(spark)
        warm_ms.append(run_pass(run, queries, groups, sf_dir, rng,
                                f"warm{w}", results))
    setup_s = run.session_s + median(reps) + time.perf_counter() - t0

    query_ms: dict[str, list] = {}
    held, missed, missed_names = [], [], set()
    t_begin = run.tracer.start_window()
    end = t_begin + run.seconds
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() < end:
        reset_session(spark)
        for n, ms in run_pass(run, queries, groups, sf_dir, rng,
                              f"p{passes}", results).items():
            query_ms.setdefault(n, []).append(ms)
        passes += 1
        if tr.enabled:
            storage = run.storage()
        h, m, names_missed = reset_session(spark)
        held.append(h)
        missed.append(m)
        missed_names.update(names_missed)
    window_s = time.perf_counter() - t_begin

    want = oracle_results(sf_dir, sorted({n for n, _ in results}))
    for n, got in results:
        ok = same_result(got, want[n])
        run.tally.record(n, ok, "" if ok else "result differs from oracle")

    group_ms = {g: sum(min(query_ms[n]) for n in names)
                for g, names in groups.items()}
    e2e = {"setup_s": setup_s,
           "light_ms": group_ms["analytics"],
           "heavy_ms": group_ms["curation"]}
    per_layer = {"registry.memo_entries": float(median(held)),
                 "registry.memo_missed": float(median(missed))}
    if tr.enabled:
        per_layer.update(storage)
    report = {"passes": passes, "group_ms": group_ms, "query_ms": query_ms,
              "memo_missed_by_registry_reset": sorted(missed_names),
              "setup": {"session_s": run.session_s, "gen_reps_s": reps,
                        "warm_pass_ms": warm_ms}}
    return e2e, {"units": passes, "window_s": window_s,
                 "per_layer": per_layer}, report
