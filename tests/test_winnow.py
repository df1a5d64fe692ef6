"""Winnowing properties: the MOSS detection guarantee, selection
density, rightmost tie-break, and the zero-shuffle fingerprint plan
(value correctness vs DuckDB rides the registry sweep)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tcrd_spark.pipeline import winnow
from tests.test_plans import plan_of


def _fps(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return winnow.winnow_fingerprints(df, "doc_id", "text")


def test_shared_substring_guarantee(spark):
    # any shared token run of length >= w + k - 1 (= 8) must contribute
    # at least one identical fingerprint to both documents
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, f"xx yy {shared} zz"),
        (2, f"completely different prefix words {shared} and a tail here"),
    ]
    got = _fps(spark, rows).groupBy("fp").agg(
        F.countDistinct("doc_id").alias("n")
    )
    assert got.filter(F.col("n") == 2).count() >= 1


def test_density_reduction(spark, sf_dir):
    # winnowing keeps ~2/(w+1) of grams; assert well under half
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_grams = docs.select(
        F.sum(
            F.greatest(
                F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
                - winnow.GRAM_K
                + 1,
                F.lit(0),
            )
        ).alias("g")
    ).collect()[0].g
    n_sel = winnow.winnow_fingerprints(docs, "doc_id", "text").count()
    assert 0 < n_sel < 0.6 * n_grams, (n_sel, n_grams)


def test_short_doc_emits_one_window_min(spark):
    # 5 tokens -> 2 grams (< w): one degenerate window, its min only
    rows = [(1, "one two three four five")]
    got = _fps(spark, rows).collect()
    assert len(got) == 1


def test_sub_k_doc_emits_nothing(spark):
    rows = [(1, "one two three")]  # 3 tokens < k=4 -> no grams
    assert _fps(spark, rows).count() == 0


def test_fingerprints_plan_has_no_shuffle(spark, sf_dir):
    # selection is row-local: scan -> generate barriers -> explode, no
    # Exchange (the registered query's input split guard adds one only
    # because the test corpus arrives as a single scan split)
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(winnow.winnow_fingerprints(docs, "doc_id", "text"))
    assert "Exchange" not in plan, plan


def test_pair_join_is_df_capped(spark, sf_dir):
    # every fingerprint surviving the blocking filter appears in at
    # most MAX_DF documents
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    fps = winnow.winnow_fingerprints(docs, "doc_id", "text")
    d = fps.select("doc_id", "fp").distinct()
    kept = (
        d.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= winnow.MAX_DF)
    )
    pairs = winnow.fingerprint_pairs(d, "doc_id")
    # shared count per pair can never exceed the number of kept fps
    assert pairs.agg(F.max("shared")).collect()[0][0] <= kept.count()


def test_fp_values_matches_fingerprints_distinct(spark, sf_dir):
    """The row-local distinct-value form equals
    winnow_fingerprints(...).select(id, fp).distinct() — and the
    composed candidate pairs are identical through either path."""
    from tcrd_spark.pipeline.winnow import (
        GRAM_K, MAX_DF, WIN_W, fingerprint_pairs, winnow_fingerprints,
        winnow_fp_values,
    )
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    via_rows = (
        winnow_fingerprints(docs, "doc_id", "text", GRAM_K, WIN_W)
        .select("doc_id", "fp").distinct()
    )
    via_values = winnow_fp_values(docs, "doc_id", "text", GRAM_K, WIN_W)
    assert sorted(map(tuple, via_rows.collect())) == sorted(
        map(tuple, via_values.collect())
    )
    p_old = fingerprint_pairs(via_rows, "doc_id", MAX_DF)
    p_new = fingerprint_pairs(via_values, "doc_id", MAX_DF)
    assert sorted(map(tuple, p_old.collect())) == sorted(
        map(tuple, p_new.collect())
    )
