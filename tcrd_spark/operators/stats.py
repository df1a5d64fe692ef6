"""Hypothesis-test statistics: Welch's t-test and the chi-squared
independence test, computed as closed-form aggregates.

The reference ships its statistics to R and back; at 100 TB both tests
reduce to one map-side-combinable aggregation pass:

- Welch's t (unequal variances): per-slice (n, mean, s²) → t and the
  Welch–Satterthwaite degrees of freedom. One groupBy; the test
  statistic is algebra over a |slices|-row frame.
- χ² independence over a contingency table: observed counts are one
  groupBy over (row_cat, col_cat); expected counts come from the
  marginals (broadcast-sized); χ² = Σ (O−E)²/E over the bounded grid.

P-values need the t/χ² CDFs (incomplete beta/gamma) — deliberately NOT
computed here: the adjudicated surface stays closed-form-exact in both
engines, and the CDF lookup is a driver-side scalar step (scipy where
available; `analytics/hgram.py` holds the erf precedent). The
statistics, not the lookup, are the distributed work.

Cross-engine determinism: per-slice moments round at 6 (the
mean_std/group_ols precedent) before the algebra, so both engines
derive identical statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.functions.folds import sorted_fold_sum


def welch_ttest(
    df: DataFrame, slice_col: str, val_col: str, a: str, b: str
) -> DataFrame:
    """One row: (n_a, n_b, mean_a, mean_b, t_stat, welch_df) comparing
    val_col between slice a and slice b (unequal-variance t-test)."""
    m = (
        df.filter(F.col(slice_col).isin(a, b))
        .groupBy(slice_col)
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg(val_col), 6).alias("mean"),
            F.round(F.var_samp(val_col), 6).alias("var"),
        )
    )
    wa = m.filter(F.col(slice_col) == a).select(
        F.col("n").alias("n_a"), F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    wb = m.filter(F.col(slice_col) == b).select(
        F.col("n").alias("n_b"), F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    j = wa.crossJoin(F.broadcast(wb))
    se_a = F.col("var_a") / F.col("n_a")
    se_b = F.col("var_b") / F.col("n_b")
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se_a + se_b)
    dof = (se_a + se_b) * (se_a + se_b) / (
        se_a * se_a / (F.col("n_a") - 1) + se_b * se_b / (F.col("n_b") - 1)
    )
    return j.select(
        "n_a", "n_b", "mean_a", "mean_b",
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 4).alias("welch_df"),
    )


def chi2_independence(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """One row: (n_cells, dof, chi2) for independence of two
    categoricals. Observed = one combinable groupBy; expected from the
    broadcast marginals; the summation folds in sorted order so both
    engines add the bounded grid identically."""
    obs = df.groupBy(row_col, col_col).agg(F.count("*").alias("o"))
    rm = obs.groupBy(row_col).agg(F.sum("o").alias("row_n"))
    cm = obs.groupBy(col_col).agg(F.sum("o").alias("col_n"))
    tot = obs.agg(F.sum("o").alias("n_all"))
    # expected count = row_n * (col_n / n_all), DIVISION FIRST in
    # double: the naive row_n * col_n BIGINT product overflows int64
    # once n ~ 1e12 (ADVICE r6 — Spark wraps silently, DuckDB errors);
    # col_n/n_all <= 1 keeps every intermediate bounded by row_n
    expected = F.col("row_n").cast("double") * (
        F.col("col_n").cast("double") / F.col("n_all").cast("double")
    )
    cells = (
        obs.join(F.broadcast(rm), row_col)
        .join(F.broadcast(cm), col_col)
        .crossJoin(F.broadcast(tot))
        .select(
            row_col,
            col_col,
            (F.pow(F.col("o") - expected, 2) / expected).alias("term"),
        )
    )
    n_rows = rm.agg(F.count("*").alias("r")).crossJoin(
        cm.agg(F.count("*").alias("c"))
    )
    return (
        cells.agg(
            F.count("*").alias("n_cells"),
            F.round(sorted_fold_sum("term"), 6).alias("chi2"),
        )
        .crossJoin(F.broadcast(n_rows))
        .select(
            "n_cells",
            ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
            "chi2",
        )
    )


# ------------------------------------------------- registered queries


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t: do 'click' and 'purchase' events carry different mean
    values?"""
    from tcrd_spark.sources.lake import load_table

    ev = load_table(spark, sf_dir, "events")
    return welch_ttest(ev, "event_type", "value", "click", "purchase")


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence of event_type vs user cohort (user_id % 8)."""
    from tcrd_spark.sources.lake import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "cohort", F.col("user_id") % 8
    )
    return chi2_independence(ev, "event_type", "cohort")


QUERIES = {
    "welch_ttest": q_welch_ttest,
    "chi2_independence": q_chi2_independence,
}

ORACLE = {
    "welch_ttest": """
        WITH m AS (
            SELECT event_type, count(*) AS n,
                   round(avg(value), 6) AS mean,
                   round(var_samp(value), 6) AS var
            FROM events WHERE event_type IN ('click', 'purchase')
            GROUP BY 1
        ),
        a AS (SELECT n AS n_a, mean AS mean_a, var AS var_a
              FROM m WHERE event_type = 'click'),
        b AS (SELECT n AS n_b, mean AS mean_b, var AS var_b
              FROM m WHERE event_type = 'purchase')
        SELECT n_a, n_b, mean_a, mean_b,
               round((mean_a - mean_b)
                     / sqrt(var_a / n_a + var_b / n_b), 6) AS t_stat,
               round(pow(var_a / n_a + var_b / n_b, 2)
                     / (pow(var_a / n_a, 2) / (n_a - 1)
                        + pow(var_b / n_b, 2) / (n_b - 1)), 4) AS welch_df
        FROM a CROSS JOIN b
    """,
    "chi2_independence": """
        WITH e AS (SELECT event_type, user_id % 8 AS cohort FROM events),
        obs AS (
            SELECT event_type, cohort, count(*) AS o
            FROM e GROUP BY 1, 2
        ),
        rm AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS row_n
               FROM obs GROUP BY 1),
        cm AS (SELECT cohort, CAST(sum(o) AS BIGINT) AS col_n
               FROM obs GROUP BY 1),
        tot AS (SELECT CAST(sum(o) AS BIGINT) AS n_all FROM obs),
        cells AS (
            -- division FIRST (double) to mirror the Spark expression
            -- bit-for-bit and avoid the int64 product (ADVICE r6)
            SELECT pow(o - CAST(row_n AS DOUBLE)
                           * (CAST(col_n AS DOUBLE)
                              / CAST(n_all AS DOUBLE)), 2)
                       / (CAST(row_n AS DOUBLE)
                          * (CAST(col_n AS DOUBLE)
                             / CAST(n_all AS DOUBLE))) AS term
            FROM obs
            JOIN rm USING (event_type)
            JOIN cm USING (cohort)
            CROSS JOIN tot
        ),
        dims AS (
            SELECT (SELECT count(*) FROM rm) AS r,
                   (SELECT count(*) FROM cm) AS c
        )
        SELECT count(*) AS n_cells,
               (SELECT (r - 1) * (c - 1) FROM dims) AS dof,
               round(list_reduce(
                   list_prepend(0.0, list_sort(list(term))),
                   (acc, x) -> acc + x), 6) AS chi2
        FROM cells
    """,
}
