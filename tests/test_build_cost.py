"""Driver build cost of the curation queries and the TDL builds, as a
deterministic count: py4j commands sent while the DataFrame is built,
without the memory-delete commands (``m\\nd``) Python's garbage
collector sends whenever a Java proxy dies — those depend on when the
collector runs, so counting them makes the same build read hundreds
apart."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F

# one-parse builds (warm session, local[4], sf0.001): dedup_simhash_pairs
# 157 and leakage_safe_split 285, from 2,054 and 1,291 as Column trees;
# tdl_classification 176 from 1,503, and tdl_refresh over the fixture
# lake 247 from 1,698
CEILING = {"dedup_simhash_pairs": 200, "leakage_safe_split": 360,
           "tdl_classification": 230, "tdl_refresh": 320}


@contextmanager
def py4j_commands(spark):
    """Yield a one-element list holding the count of non-delete py4j
    commands sent inside the block."""
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    n = [0]

    def counted(command, *a, **k):
        if not command.startswith("m\nd"):
            n[0] += 1
        return orig(command, *a, **k)

    client.send_command = counted
    try:
        yield n
    finally:
        client.send_command = orig


def _build_of(spark, sf_dir, name):
    """A zero-argument build of ``name``: a registered query, or
    tdl_refresh over the fixture lake (its counts frame)."""
    if name == "tdl_refresh":
        from tests.tcrd_fixtures import build_lake

        from tcrd_spark.analytics.tdl import tdl_refresh

        lake = build_lake(spark)
        return lambda: tdl_refresh(lake, asof="2026-01-01")["tdl_counts"]
    from tcrd_spark.registry import all_queries

    q = all_queries()[name]
    return lambda: q(spark, sf_dir)


def test_curation_builds_stay_under_py4j_ceilings(spark, sf_dir):
    """Building each curation query, and each TDL build, costs a
    fixed, bounded number of py4j commands: the same count on two
    builds in a row."""
    for name, ceiling in CEILING.items():
        build = _build_of(spark, sf_dir, name)
        build().collect()  # imports and memo slots settle
        counts = []
        for _ in range(2):
            with py4j_commands(spark) as n:
                df = build()
            counts.append(n[0])
            df.collect()
        assert counts[0] == counts[1], (name, counts)
        assert counts[0] <= ceiling, (name, counts)


def _simhash_column_form(df, id_col, text_col):
    """simhash_signatures as Column trees: the form the one-parse SQL
    must reproduce value for value."""
    from tcrd_spark.functions.hashing import hash60
    from tcrd_spark.pipeline.dedup import SIMHASH_BITS
    from tcrd_spark.pipeline.text import ws_tokens

    tok_ct = (
        df.select(F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("t"))
        .groupBy(id_col, "t")
        .agg(F.count("*").alias("ct"))
        .withColumn("h", hash60(F.col("t")))
    )
    bits = F.explode(
        F.array(*[
            F.struct(F.lit(i).alias("bit"), F.lit(1 << i).alias("mask"))
            for i in range(SIMHASH_BITS)
        ])
    ).alias("bm")
    per_bit = (
        tok_ct.select(id_col, "ct", "h", bits)
        .select(
            id_col,
            F.col("bm.bit").alias("bit"),
            F.col("bm.mask").alias("mask"),
            (F.col("ct") * F.when(
                F.col("h").bitwiseAND(F.col("bm.mask")) != 0, 1
            ).otherwise(-1)).alias("signed"),
        )
        .groupBy(id_col, "bit", "mask")
        .agg(F.sum("signed").alias("s"))
    )
    return per_bit.groupBy(id_col).agg(
        F.sum(F.when(F.col("s") >= 0, F.col("mask")).otherwise(0)).alias("simhash")
    )


def test_simhash_signatures_sql_matches_column_form(spark, sf_dir):
    """The one-parse simhash_signatures is the Column form's plan (a
    column projected beside the bit explode instead of before it would
    run one md5 per (token, bit)), with identical rows and schema."""
    from tcrd_spark.pipeline.dedup import simhash_signatures
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = simhash_signatures(docs, "doc_id", "text")
    want = _simhash_column_form(docs, "doc_id", "text")
    assert got._jdf.queryExecution().optimizedPlan().sameResult(
        want._jdf.queryExecution().optimizedPlan()
    )
    assert got.schema == want.schema
    rows = sorted(got.collect())
    assert rows and rows == sorted(want.collect())


def test_run_sql_rereads_named_tables_per_sf_dir(spark, tmp_path):
    """run_sql registers only the tables its text names, each for the
    sf_dir of THIS call: a second sf_dir reads its own rows."""
    from tcrd_spark.operators.subqueries import run_sql

    dirs = []
    for n in (3, 5):
        d = tmp_path / f"sf{n}"
        spark.range(n).selectExpr("id AS r_regionkey").write.parquet(
            str(d / "region.parquet")
        )
        dirs.append(str(d))
    sql = "SELECT count(*) AS n FROM region"
    assert run_sql(spark, dirs[0], sql).first()["n"] == 3
    assert run_sql(spark, dirs[1], sql).first()["n"] == 5


# the TDL builds as Column trees: the form the one-parse SQL must
# reproduce plan for plan

def _tdl_features_column_form(lake):
    from tcrd_spark.api.adaptor import entity

    ent = entity(lake).select("target_id", "protein_id")
    drug = lake["drug_activity"].groupBy("target_id").agg(
        F.sum(F.when(F.col("has_moa"), 1).otherwise(0)).alias("moa_drug_ct"),
        F.count("*").alias("drug_ct"),
    )
    cmpd = lake["cmpd_activity"].groupBy("target_id").agg(
        F.count("*").alias("cmpd_ct")
    )
    info = lake["tdl_info"]
    pms = info.filter(F.col("itype") == "JensenLab PubMed Score").select(
        "protein_id", F.col("number_value").alias("pms")
    )
    ab = info.filter(F.col("itype") == "Ab Count").select(
        "protein_id", F.col("integer_value").alias("ab_ct")
    )
    efl = info.filter(
        F.col("itype") == "Experimental MF/BP Leaf Term GOA"
    ).select("protein_id", F.lit(True).alias("efl_goa")).distinct()
    rif = lake["generif"].groupBy("protein_id").agg(F.count("*").alias("rif_ct"))
    return (
        ent.join(drug, "target_id", "left")
        .join(cmpd, "target_id", "left")
        .join(pms, "protein_id", "left")
        .join(ab, "protein_id", "left")
        .join(efl, "protein_id", "left")
        .join(rif, "protein_id", "left")
        .select(
            "target_id", "protein_id",
            F.coalesce("moa_drug_ct", F.lit(0)).alias("moa_drug_ct"),
            F.coalesce("drug_ct", F.lit(0)).alias("drug_ct"),
            F.coalesce("cmpd_ct", F.lit(0)).alias("cmpd_ct"),
            F.coalesce("pms", F.lit(0.0)).alias("pms"),
            F.coalesce("rif_ct", F.lit(0)).alias("rif_ct"),
            F.coalesce("ab_ct", F.lit(0)).alias("ab_ct"),
            F.coalesce("efl_goa", F.lit(False)).alias("efl_goa"),
        )
    )


def _compute_tdl_column_form(features):
    from tcrd_spark.analytics.tdl import (
        AB_THRESHOLD, GENERIF_THRESHOLD, PMS_THRESHOLD,
    )

    pts = (
        F.when(F.col("pms") < PMS_THRESHOLD, 1).otherwise(0)
        + F.when(F.col("rif_ct") <= GENERIF_THRESHOLD, 1).otherwise(0)
        + F.when(F.col("ab_ct") <= AB_THRESHOLD, 1).otherwise(0)
    )
    is_dark = pts >= 2
    tdl = (
        F.when(F.col("moa_drug_ct") > 0, "Tclin")
        .when(F.col("drug_ct") > 0, "Tchem")
        .when(F.col("cmpd_ct") > 0, "Tchem")
        .when(is_dark & ~F.col("efl_goa"), "Tdark")
        .otherwise("Tbio")
    )
    bump = (
        (F.col("moa_drug_ct") == 0) & (F.col("drug_ct") == 0)
        & (F.col("cmpd_ct") == 0) & is_dark & F.col("efl_goa")
    )
    return features.withColumn("tdl", tdl).withColumn("bump_flag", bump)


def _tdl_refresh_column_form(lake, asof, person, application, app_version):
    from tcrd_spark.schema.tables import surrogate_id

    new = _compute_tdl_column_form(_tdl_features_column_form(lake)).select(
        F.col("target_id").alias("nid"), F.col("tdl").alias("_new_tdl"),
        "bump_flag",
    )
    joined = (
        lake["target"].alias("t")
        .join(new.alias("n"), F.col("t.id") == F.col("n.nid"), "left")
        .select("t.*", "n._new_tdl", "n.bump_flag")
    )
    target = joined.withColumn(
        "tdl", F.coalesce("_new_tdl", "tdl")
    ).drop("_new_tdl", "bump_flag")
    changed = joined.filter(
        ~F.col("_new_tdl").eqNullSafe(F.col("tdl"))
        & F.col("_new_tdl").isNotNull()
    )
    stamp = F.lit(asof)
    log_rows = changed.select(
        surrogate_id(
            F.concat_ws("|", F.col("id"), F.coalesce("tdl", F.lit("")),
                        F.col("_new_tdl"), stamp)
        ).alias("id"),
        F.col("id").alias("target_id"),
        F.col("tdl").alias("old_tdl"),
        F.col("_new_tdl").alias("new_tdl"),
        F.lit(person).alias("person"),
        stamp.alias("datetime"),
        F.lit(None).cast("string").alias("explanation"),
        F.lit(application).alias("application"),
        F.lit(app_version).cast("string").alias("app_version"),
    )
    log = lake["tdl_update_log"].unionByName(log_rows, allowMissingColumns=True)
    counts = (
        new.groupBy(F.col("_new_tdl").alias("tdl"))
        .agg(
            F.count("*").alias("ct"),
            F.sum(F.when(F.col("bump_flag"), 1).otherwise(0)).alias("bumped_ct"),
        )
        .orderBy("tdl")
    )
    return {"target": target, "tdl_update_log": log, "tdl_counts": counts}


def _same(got, want):
    assert got._jdf.queryExecution().optimizedPlan().sameResult(
        want._jdf.queryExecution().optimizedPlan()
    )
    assert got.schema == want.schema
    rows = sorted(got.collect())
    assert rows and rows == sorted(want.collect())


def test_tdl_sql_builds_match_column_form(spark):
    """features_from_lake, compute_tdl and every tdl_refresh output
    (quoted strings and a NULL version included) are their Column
    forms' optimized plans, with identical rows and schema; the
    refresh compared with its cached classification released."""
    from tests.tcrd_fixtures import build_lake

    from tcrd_spark.analytics.tdl import (
        compute_tdl, features_from_lake, tdl_refresh,
    )
    from tcrd_spark.session import _SESSION_MEMO, _release

    lake = build_lake(spark)
    feats = _tdl_features_column_form(lake)
    _same(features_from_lake(lake), feats)
    _same(compute_tdl(feats), _compute_tdl_column_form(feats))
    for args in (("2026-01-01 00:00:00", "tcrd_spark", "load-TDLs", None),
                 ("it's 5", "o'brien", "a\\b", "v1")):
        got = tdl_refresh(lake, *args[1:3], app_version=args[3], asof=args[0])
        _release(spark, _SESSION_MEMO.pop("tdl_refresh")[1])
        want = _tdl_refresh_column_form(lake, *args)
        for k in want:
            _same(got[k], want[k])
