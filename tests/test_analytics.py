"""Unit tests for the derived-analytics functions against hand-computed
cases (SURVEY.md §5: the reference has no tests; these encode its
documented semantics — tau vectors, consensus decision table, TDL
rules, gaussian CDF vs math.erf)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def test_tdl_rules(spark):
    from tcrd_spark.analytics.tdl import compute_tdl

    rows = [
        # moa, drug, cmpd, pms, rif, ab, efl -> expected tdl, bump
        (1, 1, 0, 100.0, 10, 100, False, "Tclin", False),
        (0, 2, 0, 100.0, 10, 100, False, "Tchem", False),
        (0, 0, 3, 100.0, 10, 100, False, "Tchem", False),
        # 2 dark points (pms<5, rif<=3), no efl -> Tdark
        (0, 0, 0, 4.0, 3, 100, False, "Tdark", False),
        # same but efl -> Tbio bumped
        (0, 0, 0, 4.0, 3, 100, True, "Tbio", True),
        # 1 dark point only -> Tbio
        (0, 0, 0, 4.0, 10, 100, False, "Tbio", False),
        # boundary: pms=5 is NOT a dark point; ab=50 IS (<=50)
        (0, 0, 0, 5.0, 10, 50, False, "Tbio", False),
        (0, 0, 0, 4.9, 10, 50, False, "Tdark", False),
    ]
    df = spark.createDataFrame(
        [r[:7] for r in rows],
        "moa_drug_ct int, drug_ct int, cmpd_ct int, pms double, "
        "rif_ct int, ab_ct int, efl_goa boolean",
    )
    out = compute_tdl(df).select("tdl", "bump_flag").collect()
    for got, exp in zip(out, rows):
        assert (got.tdl, got.bump_flag) == exp[7:], f"{exp} -> {got}"


def test_consensus_decision_table(spark):
    """Spot checks straight from calculate_consensus semantics
    (`loaders/load-ConsensusExpressions.py:158-300`)."""
    from tcrd_spark.analytics.consensus import consensus

    cases = [
        # (n0, n1, n2, n3) -> (consensus_level, confidence)
        ((0, 0, 0, 5), 3, 5),   # pure High, support>4
        ((0, 0, 1, 5), 3, 4),   # High with one Medium
        ((0, 0, 0, 4), 3, 4),   # support==4 clean
        ((0, 0, 0, 2), 3, 2),   # support==2 clean
        ((0, 0, 0, 1), 3, 0),   # support==1 -> 0
        ((0, 0, 5, 1), 2, 5),   # Medium: n2+n3=6>4, n1+n0=0
        ((1, 0, 5, 1), 2, 1),   # Medium w/ a Not-Detected -> else 1
        ((0, 5, 0, 0), 1, 5),   # Low: support 5>4, n0=0
        ((0, 2, 0, 0), 1, 0),   # Low support==2 rung ABSENT -> 0
        ((1, 4, 0, 1), 1, 1),   # Low partial requires n3==0 -> else 1
        ((5, 0, 0, 0), 0, 5),   # Not Detected pure
        ((4, 1, 0, 0), 0, 3),   # ND support 4, n1==1
        # tie between levels -> lowest level wins (stable sort)
        ((2, 2, 0, 0), 0, 1),
        ((0, 3, 3, 0), 1, 0),   # tie 1v2 -> Low; support=6>4? n1+n2+n3=6>4, n0=0 -> 5? wait
    ]
    # fix expected for the last case by the reference rules:
    # mode tie (3,3) -> Low; support = n1+n2+n3 = 6 > 4; n0 == 0 -> conf 5
    cases[-1] = ((0, 3, 3, 0), 1, 5)
    rows = []
    for gid, ((n0, n1, n2, n3), _, _) in enumerate(cases):
        rows += (
            [(gid, 0)] * n0 + [(gid, 1)] * n1 + [(gid, 2)] * n2 + [(gid, 3)] * n3
        )
    df = spark.createDataFrame(rows, "gid int, lvl int")
    out = {
        r.gid: (r.consensus_level, r.confidence)
        for r in consensus(df, ["gid"], "lvl").collect()
    }
    for gid, (counts, lvl, conf) in enumerate(cases):
        assert out[gid] == (lvl, conf), f"hist {counts}: {out[gid]} != {(lvl, conf)}"


def test_tau_ordinal_hand_computed(spark):
    """hpa_tau.R formula on a hand-computed vector: levels per tissue
    medians [3, 0, 1] -> tau = ((1-3/3)+(1-0/3)+(1-1/3))/(3-1)."""
    from tcrd_spark.analytics.tau import tau_ordinal

    rows = [
        ("g", "t1", 3), ("g", "t1", 3),
        ("g", "t2", 0),
        ("g", "t3", 1), ("g", "t3", 1), ("g", "t3", 2),  # median 1
    ]
    df = spark.createDataFrame(rows, "g string, t string, lvl int")
    out = tau_ordinal(df, "g", "t", "lvl").collect()[0]
    assert out.n_tissues == 3
    assert out.tau == pytest.approx((0 + 1 + 2 / 3) / 2, abs=1e-6)


def test_gaussian_cdf_matches_math_erf(spark):
    from tcrd_spark.analytics.hgram import gaussian_cdf_col, logistic_cdf_col

    df = spark.createDataFrame(
        [(float(x),) for x in range(-5, 6)], "x double"
    )
    out = (
        df.select(
            "x",
            gaussian_cdf_col(F.col("x"), F.lit(0.0), F.lit(2.0)).alias("cdf"),
            logistic_cdf_col(F.col("x"), F.lit(0.0), F.lit(2.0)).alias("lcdf"),
        )
        .orderBy("x")
        .collect()
    )
    for r in out:
        exp = 0.5 * (1.0 + math.erf((r.x - 0.0) / (2.0 * math.sqrt(2.0))))
        assert r.cdf == pytest.approx(exp, abs=1e-12)
        lexp = 1.0 / (1.0 + math.exp(-1.702 * (r.x / 2.0)))
        assert r.lcdf == pytest.approx(lexp, abs=1e-12)


def test_tinx_formulas_hand_computed(spark):
    """Two papers: p1 mentions proteins {A,B} diseases {X}; p2 mentions
    {A} and {X,Y}. novelty(A) = 1/(1/2 + 1/1); importance(A,X) =
    1/(2*1) + 1/(1*2); rank orders by score asc then pmid desc."""
    from tcrd_spark.analytics.tinx import importance, novelty, pmid_rankings

    pm = spark.createDataFrame(
        [(1, "A"), (1, "B"), (2, "A")], "pmid int, pid string"
    )
    dm = spark.createDataFrame(
        [(1, "X"), (2, "X"), (2, "Y")], "pmid int, did string"
    )
    nov = {r.pid: r.novelty for r in novelty(pm, "pmid", "pid").collect()}
    assert nov["A"] == pytest.approx(1 / (0.5 + 1.0), abs=1e-6)
    assert nov["B"] == pytest.approx(2.0, abs=1e-6)

    imp = {
        (r.pid, r.did): r.score
        for r in importance(pm, dm, "pmid", "pid", "did").collect()
    }
    assert imp[("A", "X")] == pytest.approx(1 / 2 + 1 / 2, abs=1e-6)
    assert imp[("A", "Y")] == pytest.approx(1 / 2, abs=1e-6)
    assert imp[("B", "X")] == pytest.approx(1 / 2, abs=1e-6)

    # (A, X): paper 1 score = 2*1 = 2; paper 2 score = 1*2 = 2;
    # tie -> pmid DESC -> paper 2 gets rank 0
    rk = {
        (r.pid, r.did, r.pmid): r.rank
        for r in pmid_rankings(pm, dm, "pmid", "pid", "did").collect()
    }
    assert rk[("A", "X", 2)] == 0
    assert rk[("A", "X", 1)] == 1


def test_qualitative_levels_tie_average_rank(spark):
    """frank average-rank semantics: values [0, 5, 5, 10] -> fractional
    ranks [0 (forced), 2.5/4, 2.5/4, 4/4] -> levels."""
    from tcrd_spark.analytics.tau import qualitative_levels

    rows = [("g", "t1", 0.0), ("g", "t2", 5.0), ("g", "t3", 5.0), ("g", "t4", 10.0)]
    df = spark.createDataFrame(rows, "g string, t string, v double")
    out = {r.t: r for r in qualitative_levels(df, "g", "t", "v").collect()}
    assert out["t1"].level == "Not detected"
    assert out["t2"].frac_rank == pytest.approx(0.625)
    assert out["t2"].level == "Medium"
    assert out["t4"].level == "High"


def test_tau_cut2_ties_share_bins(spark):
    """cut2-style bins: equal values share a bin (SURVEY §7 hard part
    a) — an all-equal entity has tau 0, where ntile's tie-splitting
    gives 0.5; a maximally specific entity stays near 1."""
    from tcrd_spark.analytics.tau import tau_continuous, tau_continuous_cut2

    rows = (
        [("flat", f"t{i}", 5.0) for i in range(10)]
        + [("spec", f"t{i}", 0.0) for i in range(9)]
        + [("spec", "t9", 1000.0)]
    )
    df = spark.createDataFrame(rows, "gene string, tissue string, v double")
    cut2 = {r.gene: r.tau for r in
            tau_continuous_cut2(df, "gene", "tissue", "v").collect()}
    ntile = {r.gene: r.tau for r in
             tau_continuous(df, "gene", "tissue", "v").collect()}
    assert cut2["flat"] == 0.0          # ties share the single bin
    assert ntile["flat"] > 0.4          # the documented ntile deviation
    assert cut2["spec"] == 1.0          # 9 zero-bins + 1 top bin


def test_tdl_refresh_cycle(spark, tmp_path):
    """Full load-TDLs refresh: every fixture target reclassifies from
    its null stored tdl, audit rows land for each change, and the
    tally matches the per-branch fixture design (T1 Tclin, T2+T3
    Tchem, T4 Tdark, T5 bumped Tbio, T6 Tbio)."""
    from tests.tcrd_fixtures import build_lake

    from tcrd_spark.analytics.tdl import tdl_refresh

    lake = build_lake(spark)
    out = tdl_refresh(lake, asof="2026-01-01 00:00:00")
    tdls = {r.id: r.tdl for r in out["target"].select("id", "tdl").collect()}
    assert tdls == {1: "Tclin", 2: "Tchem", 3: "Tchem", 4: "Tdark",
                    5: "Tbio", 6: "Tbio"}
    counts = {
        r.tdl: (r.ct, r.bumped_ct) for r in out["tdl_counts"].collect()
    }
    assert counts == {"Tclin": (1, 0), "Tchem": (2, 0), "Tbio": (2, 1),
                      "Tdark": (1, 0)}
    # audit rows: one per changed target, appended to the existing log
    log = out["tdl_update_log"]
    added = log.filter("datetime = '2026-01-01 00:00:00'")
    assert added.count() == 6
    row = added.filter("target_id = 4").collect()[0]
    assert row.old_tdl is None and row.new_tdl == "Tdark"
    assert log.count() == lake["tdl_update_log"].count() + 6
    # re-running on the refreshed lake changes nothing (fixpoint).
    # A real cycle overwrites the parquet tables between runs, so
    # round-trip the mutated frames the same way (also breaks the
    # derived-lineage self-join Spark's analyzer rejects).
    lake2 = dict(lake)
    for name in ("target", "tdl_update_log"):
        p = str(tmp_path / f"{name}.parquet")
        (out[name] if name == "target" else log).write.parquet(p)
        lake2[name] = spark.read.parquet(p)
    out2 = tdl_refresh(lake2, asof="2026-01-02 00:00:00")
    assert out2["tdl_update_log"].count() == log.count()


def test_tdl_refresh_repeated_transition_unique_ids(spark):
    """A target repeating the SAME transition in a later refresh cycle
    (A→B … B→A … A→B) must get a distinct log id each time — the
    refresh timestamp folds into the surrogate."""
    from tests.tcrd_fixtures import build_lake

    from tcrd_spark.analytics.tdl import tdl_refresh

    lake = build_lake(spark)
    a = tdl_refresh(lake, asof="2026-01-01 00:00:00")["tdl_update_log"]
    b = tdl_refresh(lake, asof="2026-02-01 00:00:00")["tdl_update_log"]
    ids_a = {r.id for r in a.filter("datetime = '2026-01-01 00:00:00'").collect()}
    ids_b = {r.id for r in b.filter("datetime = '2026-02-01 00:00:00'").collect()}
    assert len(ids_a) == len(ids_b) == 6
    assert ids_a.isdisjoint(ids_b)


# versioned table -> partition column, the shape of a lake refresh
REFRESH_TABLES = {"target": "ttype", "tdl_info": "itype",
                  "drug_activity": "drug", "tdl_update_log": "application"}
# the consumers' jobs: 29 with one classification, 69 when each
# consumer runs the feature pipeline again
CYCLE_JOBS = 40


def test_refresh_cycle_computes_each_frame_once(spark, tmp_path):
    """One refresh cycle over a small versioned lake: the snapshot
    reads and the refresh build fire no job, and the four consumers of
    the classification (counts, change log, target commit, log append)
    share one run of the feature pipeline — each of the three after the
    first reads the cached frame, and the cycle stays under a fixed job
    count (run four times over, the pipeline alone exceeds it)."""
    from tests.tcrd_fixtures import build_lake
    from tests.test_manifest_schema import _jobs

    from tcrd_spark.analytics.tdl import tdl_refresh
    from tcrd_spark.sources import snapshots

    base = build_lake(spark)
    dirs = {t: str(tmp_path / t) for t in REFRESH_TABLES}
    for t, part in REFRESH_TABLES.items():
        snapshots.create_table(base[t], dirs[t], part)
    lake = dict(base)
    for t, d in dirs.items():
        lake[t], n = _jobs(spark, lambda: snapshots.read_version(spark, d))
        assert n == 0, (t, n)
    stamp = "2026-01-01 00:00:00"
    out, n = _jobs(spark, lambda: tdl_refresh(lake, asof=stamp))
    assert n == 0
    log = out["tdl_update_log"].filter(F.col("datetime") == stamp)

    def consumers():
        counts = out["tdl_counts"].collect()
        changes = log.select("target_id", "new_tdl").collect()
        changed = sorted(r.target_id for r in changes)
        snapshots.merge_version(
            spark, dirs["target"],
            out["target"].filter(F.col("id").isin(changed)), ["id"],
        )
        snapshots.append_version(dirs["tdl_update_log"], log)
        return counts, changes

    (counts, changes), n = _jobs(spark, consumers)
    assert {r.tdl: r.ct for r in counts} == {
        "Tclin": 1, "Tchem": 2, "Tbio": 2, "Tdark": 1}
    assert len(changes) == 6
    assert n <= CYCLE_JOBS, n
    for df in (out["target"], log, out["tdl_counts"]):
        assert "InMemoryTableScan" in (
            df._jdf.queryExecution().executedPlan().toString()
        )
    tdls = {r.id: r.tdl for r in
            snapshots.read_version(spark, dirs["target"]).collect()}
    assert tdls == {1: "Tclin", 2: "Tchem", 3: "Tchem", 4: "Tdark",
                    5: "Tbio", 6: "Tbio"}


def test_tdl_refresh_reclassifies_a_lake_rewritten_in_place(spark, tmp_path):
    """A lake rewritten at the same paths by another writer (Spark's
    own overwrite re-caches plans over the path; pyarrow's does not)
    plans exactly as before, so a cache matched by plan would serve
    the old classes: the refresh's slot rotates, and the second call
    classifies the new data."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from tests.tcrd_fixtures import build_lake

    from tcrd_spark.analytics.tdl import tdl_refresh

    base = build_lake(spark)
    path = str(tmp_path / "drug_activity.parquet")
    base["drug_activity"].coalesce(1).write.parquet(path)
    lake = {**base, "drug_activity": spark.read.parquet(path)}
    counts = {r.tdl: r.ct for r in tdl_refresh(lake)["tdl_counts"].collect()}
    assert counts["Tclin"] == 1
    # every drug row becomes an MoA row: target 2 turns Tclin
    (old,) = glob.glob(os.path.join(path, "*.parquet"))
    t = pq.read_table(old)
    i = t.schema.get_field_index("has_moa")
    t = t.set_column(i, t.schema.field(i), pa.array([True] * t.num_rows))
    os.remove(old)
    # Hadoop's checksum of the old bytes would fail the new file
    os.remove(os.path.join(path, f".{os.path.basename(old)}.crc"))
    pq.write_table(t, old)
    lake = {**base, "drug_activity": spark.read.parquet(path)}
    counts = {r.tdl: r.ct for r in tdl_refresh(lake)["tdl_counts"].collect()}
    assert counts["Tclin"] == 2 and counts["Tchem"] == 1
