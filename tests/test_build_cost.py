"""Driver build cost of the curation queries, as a deterministic count:
py4j commands sent while the DataFrame is built, without the
memory-delete commands (``m\\nd``) Python's garbage collector sends
whenever a Java proxy dies — those depend on when the collector runs,
so counting them makes the same build read hundreds apart."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F

# one-parse builds (warm session, local[4], sf0.001): dedup_simhash_pairs
# 157 and leakage_safe_split 285, from 2,054 and 1,291 as Column trees
CEILING = {"dedup_simhash_pairs": 200, "leakage_safe_split": 360}


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


def test_curation_builds_stay_under_py4j_ceilings(spark, sf_dir):
    """Building each curation query costs a fixed, bounded number of
    py4j commands: the same count on two builds in a row."""
    from tcrd_spark.registry import all_queries

    q = all_queries()
    for name, ceiling in CEILING.items():
        q[name](spark, sf_dir).collect()  # imports and memo slots settle
        counts = []
        for _ in range(2):
            with py4j_commands(spark) as n:
                df = q[name](spark, sf_dir)
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
