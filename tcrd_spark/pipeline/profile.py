"""One-pass table profiling — the SUMMARIZE / dbt-profile verb: per
column, in a single aggregation pass over the table, the stats a data
engineer asks for before touching anything: row count, null count,
exact distinct count, min/max, and mean (numeric columns).

DuckDB ships this as `SUMMARIZE`; Spark's `df.summary()` computes
approximate percentiles with engine-private sketches and runs one job
per statistic family. This operator is ONE deterministic aggregation:
every statistic is an aggregate expression over the same scan, so the
plan is a single HashAggregate pair (partial + final) regardless of
how many columns are profiled — at 100 TB the table is read ONCE.

`count_distinct` is exact by default (one expression per column
inside the same pass; Spark expands multi-distinct aggregates via
Expand — still one scan, but the Expand multiplies the scanned rows
by (n_cols + 1) before the partial aggregate). At 100 TB that
multiplier is the dominant cost, so `exact_distinct=False` swaps in
`approx_count_distinct` (HLL++, ±2% default error): approximate
distincts are plain partial-mergeable aggregates, so the Expand
rewrite disappears and the plan is ONE pass over the raw scan rows.
Exact stays the adjudicated default (the DuckDB oracle hash-matches
it); the approx form is the scale path. For richer cardinality
sketches plug `pipeline/sketches.py` (KMV) or `pipeline/quantiles.py`.

Output is LONG form — one row per column: (col_name, n_rows, n_null,
n_distinct, min_v, max_v, mean_v) with min/max/mean as strings/
doubles so heterogeneous column types stack; long form keeps the
result schema stable however many columns the input has (the
driver-canon discipline: atomic columns, no per-table wide schema).

Reference parity: the reference eyeballs its loads with ad-hoc
COUNT(*)/COUNT(DISTINCT) SQL (`loaders/TCRD.py` sanity checks);
this is that practice as one operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """(col_name, n_rows, n_null, n_distinct, min_v, max_v, mean_v):
    one row per profiled column, computed in ONE aggregation pass.
    min/max stringify (stable output schema across types); mean is
    NULL for non-numeric columns; mean rounds to 6dp so both engines
    agree bit-for-bit. `exact_distinct=False` → approx_count_distinct
    (HLL++): same schema, ±2% cardinalities, and the plan loses the
    (n_cols+1)× Expand — the 100 TB switch."""
    if cols is None:
        cols = df.columns
    if exact_distinct:
        distinct = F.count_distinct
    else:
        # rsd 2% (vs the 5% default): 4× the HLL register cost but the
        # sketch is still KB-sized per column — noise against the scan.
        def distinct(col):
            return F.approx_count_distinct(col, rsd=0.02)
    numeric = {
        f.name for f in df.schema.fields
        if isinstance(f.dataType, NumericType)
    }
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    nd_aggs = []
    for c in cols:
        if c in numeric:
            # mean in EXACT integer space: sum the 6dp-scaled bigints
            # (order-exact), divide, descale — a raw round(avg(c), 6)
            # is summation-order-dependent in the last ulp and can
            # round differently across engines at the 5e-7 boundary
            # (the repo-wide avg-divergence class). Bound: |c|·1e6·rows
            # must fit int64 — fine for any profiling-sized magnitude.
            svi = F.sum(F.round(F.col(c) * 1e6).cast("long"))
            cnt = F.count(F.col(c))
            mean = F.when(
                cnt > 0, F.round(svi / cnt / F.lit(1e6), 6)
            )
        else:
            mean = F.lit(None).cast("double")
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"{c}__null"
            ),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
            mean.alias(f"{c}__mean"),
        ]
        nd_aggs.append(distinct(F.col(c)).alias(f"{c}__nd"))
    if exact_distinct:
        # Exact multi-column count_distinct rewrites to Expand with the
        # column VALUES as grouping keys; with min/max(string) in the
        # SAME aggregate the string-typed agg buffers force
        # SortAggregate, so the (n_cols+1)×N Expand got fully SORTED
        # twice (measured 3.5s at sf0.1; the sorts dominate at any
        # scale). Split the passes: the distinct pass keeps only
        # count buffers (HashAggregate over the Expand), the stats pass
        # has no Expand (its no-grouping-key SortAggregate needs no
        # Sort), and the two 1-row results cross-join — 3.5s → ~1.1s,
        # plan loses both Sort nodes. Same aggregates, same results.
        one = df.agg(*aggs).crossJoin(df.agg(*nd_aggs))
    else:
        # approx distinct is a plain mergeable aggregate — one pass,
        # no Expand, keep everything in a single aggregation
        one = df.agg(*(aggs + nd_aggs))
    # pivot the single wide row to long form row-locally (explode of
    # a constant-width array — no extra pass, no shuffle)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__null").cast("long").alias("n_null"),
                F.col(f"{c}__nd").cast("long").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_v"),
                F.col(f"{c}__max").alias("max_v"),
                F.col(f"{c}__mean").alias("mean_v"),
            )
            for c in cols
        ]
    )
    return one.select(
        "n_rows", F.explode(entries).alias("e")
    ).select(
        F.col("e.col_name").alias("col_name"),
        "n_rows",
        "e.n_null",
        "e.n_distinct",
        "e.min_v",
        "e.max_v",
        "e.mean_v",
    )


# ------------------------------------------------- registered query


_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"]


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profile five orders columns in one pass."""
    from tcrd_spark.sources.lake import load_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(orders, _COLS)


QUERIES = {"table_profile": q_table_profile}

_NUMERIC = {"o_orderkey", "o_custkey", "o_totalprice"}

ORACLE = {
    "table_profile": "\nUNION ALL\n".join(
        f"""
        SELECT '{c}' AS col_name, count(*) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               count(DISTINCT {c}) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_v,
               CAST(max({c}) AS VARCHAR) AS max_v,
               {(
                 f"CASE WHEN count({c}) > 0 THEN round((CAST("
                 f"sum(CAST(round({c} * 1e6) AS BIGINT)) AS DOUBLE)"
                 f" / count({c})) / 1e6, 6) END"
               ) if c in _NUMERIC
                else "CAST(NULL AS DOUBLE)"} AS mean_v
        FROM orders
        """
        for c in _COLS
    ),
}
