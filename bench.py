"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric":..., "value": N, "unit": "sec", "queries":
{name: sec}, "sf": ...}.

Materialization uses the noop sink (full execution, no driver collect)
— the same discipline that keeps 100 TB runs collect()-free.

Each query is timed $SPARK_GRAFT_BENCH_REPS times (default 3) and the
MINIMUM is reported: min-of-N is the standard noise-robust estimator
for a deterministic workload on a shared box (ambient contention only
ever adds time), so round-over-round comparisons track plan changes,
not machine load.

A machine-calibration anchor runs first (VERDICT r10 #4: round-over-
round totals drifted ~13-20% on identical code because the BOX was
slower, and only out-of-band re-timing could prove it): a fixed
synthetic job — avg(xxhash64(id)) over 8e9 rows (avg, not sum: the
session runs ANSI mode and a long sum of 64-bit hashes overflows),
pure CPU inside one whole-stage-codegen span, no I/O, no shuffle
beyond the final 1-row combine — timed min-of-3 and reported as
`calibration_sec`.
Round-over-round comparisons divide query seconds by the calibration
ratio to get load-normalized numbers (see SCALE.md); the anchor
itself never changes, so any drift in it is the machine, not the
engine.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Queries excluded from the bench, with reasons — everything else in
# the registry is benched (VERDICT r4 #5: regressions must be visible
# round-over-round for the WHOLE registry, not a headline subset).
EXCLUDE = {
    # none — the full registry is benched. bench wall grows with the
    # registry; that is the point.
}

# Kept for ordering: the long-standing headline queries run first so
# round-over-round diffs line up; every other registered query follows
# in registry order via main().
HEADLINE = [
    "pricing_summary",
    "shipping_priority",
    "three_way_entity_join",
    "bridge_m2n_join",
    "self_join_common",
    "group_sum",
    "median_per_group",
    "mode_consensus",
    "mean_std_population",
    "pivot_wide",
    "grouped_set_agg",
    "min_tie_expansion",
    "rank_compound_order",
    "topk_per_group",
    "decile_bucketing",
    "union_dedup",
    "dedup_composite_key",
    "asof_join_events",
    "range_join_events",
    "funnel_stages",
    "cohort_retention",
    "sessionize_events",
    "string_math_funcs",
    "json_case_funcs",
    "date_funcs",
    # API lifecycles (SURVEY §3-A/§3-B)
    "nested_document",
    "wide_export",
    # derived analytics (SURVEY §2.10)
    "tdl_classification",
    "tau_continuous",
    "consensus_expression",
    "hgram_cdf",
    "tinx_importance",
    "tinx_pmid_rankings",
    # LLM-pipeline extensions
    "corpus_clean",
    "text_quality",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_embedding_cosine",
    "dedup_groups_cc",
    "dedup_incremental",
    "dedup_incremental_indexed",
    "dedup_incremental_lsh",
    "corpus_shard_assign",
    "sequence_pack",
    "line_dedup",
    "corpus_pipeline",
    "ann_bruteforce",
    "ann_ivf",
    "ann_ivf_indexed",
    "kmeans_assign",
    "tdl_refresh_delta",
    # graph / streaming / multimodal
    "apsp_min_merge",
    "nearest_flagged",
    "ancestor_closure",
    "window_tumbling",
    "window_session",
    "multimodal_features",
    "entity_tagging",
]


def _run_section(spark, queries, names, sf_dir, reps, isolate=False):
    """Returns (min-of-reps, first-run, detail) wall per query. min is
    the noise-robust headline; first (cold plan + cold caches) is the
    like-for-like basis for scaling ratios against a 1-rep section.

    detail (r12, VERDICT r11 #2): per-query {build, first, warm} —
    build = min DataFrame-construction (driver/py4j) seconds, warm =
    min noop-execution seconds across reps. Each rep's TIMED TOTAL is
    still construction+execution measured as one span boundary pair
    (t_exec ends at the same wall instant the old single span did, and
    t_build starts at the same instant), so per-query seconds remain
    methodology-identical to every earlier round.

    isolate (r12, VERDICT r11 #5/#8): clear every session memo/cache
    BEFORE each query so min-of-reps numbers are attributable to the
    query alone (memos still warm across reps of the SAME query —
    that is the memo's documented in-process semantics)."""
    per_query: dict[str, float] = {}
    first_run: dict[str, float] = {}
    detail: dict[str, dict] = {}
    for name in names:
        if isolate:
            from tcrd_spark.registry import clear_session_memos

            clear_session_memos(spark)
        best = float("inf")
        best_build = float("inf")
        best_exec = float("inf")
        for i in range(reps):
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            dt = t2 - t0
            if i == 0:
                first_run[name] = round(dt, 3)
            best = min(best, dt)
            best_build = min(best_build, t1 - t0)
            best_exec = min(best_exec, t2 - t1)
        per_query[name] = round(best, 3)
        detail[name] = {
            "build": round(best_build, 3),
            "warm": round(best_exec, 3),
        }
    return per_query, first_run, detail


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    from tcrd_spark.registry import all_queries
    from tcrd_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    names = [n for n in HEADLINE if n in queries and n not in EXCLUDE]
    names += [
        n for n in queries
        if n not in names and n not in EXCLUDE
    ]
    # warm the JVM + parquet footers with one tiny job
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # machine-calibration anchor: constant CPU-bound work, min-of-3.
    calib = float("inf")
    for _ in range(3):
        t0 = time.time()
        spark.range(8_000_000_000).selectExpr(
            "avg(xxhash64(id)) AS h"
        ).write.format("noop").mode("overwrite").save()
        calib = min(calib, time.time() - t0)

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    isolate = os.environ.get("SPARK_GRAFT_BENCH_ISOLATE", "") == "1"
    per_query, first_run, detail = _run_section(
        spark, queries, names, sf_dir, reps, isolate=isolate
    )
    total = round(sum(per_query.values()), 3)
    # Key ORDER is load-bearing (VERDICT r7 #3): the driver records only
    # the TAIL of this line, so the primary per-query seconds and total
    # must be the LAST keys — the sf1 scaling section prints first.
    # r6/r7 had them first and every wall-clock number was truncated
    # away; only the ratios survived.
    out = {
        "metric": "headline_queries_total_wall",
        "unit": "sec",
        "reps": reps,  # per-query timing = min of this many runs
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # fixed synthetic job (8e9-row xxhash64 avg, min-of-3): divide
        # any round's query seconds by (its calibration_sec / another
        # round's) to compare rounds load-normalized
        "calibration_sec": round(calib, 3),
    }

    # scaling-curve section: a 10× replica of sf0.1 generated by
    # tools/gen_sf.py (VERDICT r3 #2). One rep — the section measures
    # scaling shape, not best-case noise floor. Per-query ratio vs the
    # primary section shows how each plan scales; ~10 is linear,
    # self_join_common and dedup_embedding_cosine have inherently
    # quadratic OUTPUT (pair queries) in the base data's distribution.
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR", os.path.join(REPO, ".localdata", "sf1")
    )
    if os.path.isdir(sf1_dir) and os.environ.get(
        "SPARK_GRAFT_SKIP_SF1", ""
    ) != "1":
        # r12 (VERDICT r11 #2): the registry grew to 209 queries, so the
        # 10×-data section is capped to the TOP-N slowest queries of the
        # primary section (default 40 ≥ the "30 slowest" the verdict
        # asked for) — the sub-second tail adds wall, not information.
        # SPARK_GRAFT_SF1_TOP=0 removes the cap.
        sf1_top = int(os.environ.get("SPARK_GRAFT_SF1_TOP", "40"))
        sf1_names = names
        if sf1_top > 0 and len(names) > sf1_top:
            sf1_names = sorted(
                names, key=lambda n: -per_query.get(n, 0.0)
            )[:sf1_top]
        if isolate:
            from tcrd_spark.registry import clear_session_memos

            clear_session_memos(spark)
        sf1_q, _, _ = _run_section(
            spark, queries, sf1_names, sf1_dir, 1, isolate=isolate
        )
        # scale ratios are NOT emitted: they are derivable as
        # sf1.queries[n] / detail[n].first (cold-vs-cold — comparing a
        # cold sf1 run to the min-of-3 warm time overstates scaling ~3×
        # for cache-heavy plans), and the one-line JSON must stay small
        # enough for the driver's capture (the r10 truncation lesson)
        out["sf1"] = {
            "value": round(sum(sf1_q.values()), 3),
            "reps": 1,
            "top": sf1_top,
            "queries": sf1_q,
        }
    # additive r12 keys (printed BEFORE queries/value — the tail-
    # truncation lesson): per-query build/first/warm decomposition for
    # the TOP-N slowest (the sub-second tail's split is uninformative
    # and the one-line JSON must stay well under the driver's capture
    # budget — the r10 truncation lesson). build = driver plan-
    # construction floor, warm = repeatable exec; first - (build+warm)
    # bounds one-off analysis/codegen cost.
    out["isolate"] = 1 if isolate else 0
    # default 40 = the sf1 cap, so sf1 scale ratios stay derivable as
    # sf1.queries[n] / detail[n].first for every sf1 entry
    n_detail = int(os.environ.get("SPARK_GRAFT_DETAIL_TOP", "40"))
    detail_top = sorted(names, key=lambda n: -per_query.get(n, 0.0))[:n_detail]
    out["detail"] = {
        n: {
            "build": detail[n]["build"],
            "first": first_run[n],
            "warm": detail[n]["warm"],
        }
        for n in detail_top
    }
    # last keys survive the driver's tail truncation
    out["queries"] = per_query
    out["value"] = total
    print(json.dumps(out))


if __name__ == "__main__":
    main()
