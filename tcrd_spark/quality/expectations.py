"""Declarative data-quality expectations — the Deequ/"expectations
suite" pattern, compiled to ONE aggregation pass.

A 100 TB ingest gates every batch on quality checks (completeness,
uniqueness, accepted values, ranges, formats). The naive shape runs
one job per check; the scale-right shape (Deequ's core idea) compiles
the whole suite into a SINGLE aggregate over one scan — N checks cost
one pass regardless of N — then evaluates pass/fail row-locally on
the one-row metric frame.

Each spec is (name, column, metric expression, predicate over the
metric). `run_expectations` returns one row per check:
(check_name, column_name, metric, passed) — the verdict table a
pipeline orchestrator gates on.

Plan shape: one partial+final HashAggregate over the scan (the one
`count_distinct` in a uniqueness check adds the usual two-phase
distinct; keep suites to a single distinct-metric column or switch to
`approx_count_distinct` at extreme scale — same switch pipeline/
profile.py documents), then a row-local `stack` unpivot of the 1-row
metric frame. No joins, no windows, no second scan.

Reference parity: the reference bakes its integrity checks into
loader scripts row-at-a-time (e.g. `loaders/load-GTEx.py` notfnd
accounting); this is the declarative set-based equivalent.
Oracle-adjudicated as `dq_expectations`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def completeness(col: str, threshold: float = 1.0) -> dict:
    """Fraction of rows with a non-null value; pass if >= threshold."""
    return {
        "name": f"completeness_{col}", "column": col,
        "metric": lambda: F.avg(F.col(col).isNotNull().cast("double")),
        "passed": lambda m: m >= F.lit(threshold),
        "sql_metric": f"avg(CASE WHEN {col} IS NOT NULL THEN 1.0 ELSE 0.0 END)",
        "sql_passed": f"m >= {threshold}",
    }


def uniqueness(col: str) -> dict:
    """distinct/count ratio; pass only at exactly 1.0 (a key check)."""
    return {
        "name": f"uniqueness_{col}", "column": col,
        "metric": lambda: (
            F.count_distinct(F.col(col)).cast("double")
            / F.count(F.lit(1))
        ),
        "passed": lambda m: m >= F.lit(1.0),
        "sql_metric": f"count(DISTINCT {col}) * 1.0 / count(*)",
        "sql_passed": "m >= 1.0",
    }


def accepted_values(col: str, values: list[str]) -> dict:
    """Fraction of rows whose value is in the allow-list; pass at 1.0."""
    lits = ", ".join(f"'{v}'" for v in values)
    return {
        "name": f"accepted_values_{col}", "column": col,
        "metric": lambda: F.avg(
            F.col(col).isin(list(values)).cast("double")
        ),
        "passed": lambda m: m >= F.lit(1.0),
        "sql_metric": (
            f"avg(CASE WHEN {col} IN ({lits}) THEN 1.0 ELSE 0.0 END)"
        ),
        "sql_passed": "m >= 1.0",
    }


def min_value(col: str, lo: float) -> dict:
    """Column minimum; pass if >= lo."""
    return {
        "name": f"min_{col}", "column": col,
        "metric": lambda: F.min(F.col(col)).cast("double"),
        "passed": lambda m: m >= F.lit(lo),
        "sql_metric": f"CAST(min({col}) AS DOUBLE)",
        "sql_passed": f"m >= {lo}",
    }


def max_value(col: str, hi: float) -> dict:
    """Column maximum; pass if <= hi."""
    return {
        "name": f"max_{col}", "column": col,
        "metric": lambda: F.max(F.col(col)).cast("double"),
        "passed": lambda m: m <= F.lit(hi),
        "sql_metric": f"CAST(max({col}) AS DOUBLE)",
        "sql_passed": f"m <= {hi}",
    }


def pattern(col: str, regex: str, threshold: float = 1.0) -> dict:
    """Fraction of non-null values matching an RE2-safe regex."""
    return {
        "name": f"pattern_{col}", "column": col,
        "metric": lambda: F.avg(F.col(col).rlike(regex).cast("double")),
        "passed": lambda m: m >= F.lit(threshold),
        "sql_metric": (
            f"avg(CASE WHEN regexp_matches({col}, '{regex}') "
            f"THEN 1.0 ELSE 0.0 END)"
        ),
        "sql_passed": f"m >= {threshold}",
    }


def row_count_min(n: int) -> dict:
    """Table row count; pass if >= n (empty-batch tripwire)."""
    return {
        "name": "row_count", "column": "*",
        "metric": lambda: F.count(F.lit(1)).cast("double"),
        "passed": lambda m: m >= F.lit(float(n)),
        "sql_metric": "CAST(count(*) AS DOUBLE)",
        "sql_passed": f"m >= {float(n)}",
    }


def run_expectations(df: DataFrame, specs: list[dict]) -> DataFrame:
    """Compile the suite into one aggregate pass and return the
    verdict frame (check_name, column_name, metric, passed)."""
    metrics = df.agg(
        *[s["metric"]().alias(f"_m{i}") for i, s in enumerate(specs)]
    )
    rows = metrics.select(
        F.expr(
            "stack({n}, {args}) AS (check_name, column_name, metric)".format(
                n=len(specs),
                args=", ".join(
                    f"'{s['name']}', '{s['column']}', _m{i}"
                    for i, s in enumerate(specs)
                ),
            )
        )
    )
    passed = None
    for s in specs:
        arm = s["passed"](F.col("metric"))
        cond = F.col("check_name") == s["name"]
        passed = (
            F.when(cond, arm) if passed is None
            else passed.when(cond, arm)
        )
    return rows.select(
        "check_name",
        "column_name",
        F.round("metric", 6).alias("metric"),
        passed.cast("int").alias("passed"),
    )


def audit_expectations(
    df: DataFrame, specs: list[dict]
) -> tuple[list, str]:
    """The quality gate every commit, export and micro-batch shares:
    run the suite and return (verdict rows, failure detail). The
    detail names each failed check as `check_name(metric=…)`, comma
    separated; it is empty when every check passed."""
    verdicts = run_expectations(df, specs).collect()
    detail = ", ".join(
        f"{r['check_name']}(metric={r['metric']})"
        for r in verdicts if r["passed"] != 1
    )
    return verdicts, detail


def run_group_expectations(
    df: DataFrame, group_col: str, specs: list[dict]
) -> DataFrame:
    """Per-slice verdicts: the same one-pass compilation, grouped —
    each (slice, check) gets its own metric and pass/fail. This is
    how ingest monitors catch a REGIONAL failure a global average
    hides (one language's completeness collapsing while the corpus
    mean barely moves). Still ONE aggregate over one scan; output is
    |slices| × |checks| rows."""
    metrics = df.groupBy(group_col).agg(
        *[s["metric"]().alias(f"_m{i}") for i, s in enumerate(specs)]
    )
    rows = metrics.select(
        F.col(group_col).alias("slice"),
        F.expr(
            "stack({n}, {args}) AS (check_name, column_name, metric)".format(
                n=len(specs),
                args=", ".join(
                    f"'{s['name']}', '{s['column']}', _m{i}"
                    for i, s in enumerate(specs)
                ),
            )
        ),
    )
    passed = None
    for s in specs:
        arm = s["passed"](F.col("metric"))
        cond = F.col("check_name") == s["name"]
        passed = (
            F.when(cond, arm) if passed is None
            else passed.when(cond, arm)
        )
    return rows.select(
        "slice",
        "check_name",
        "column_name",
        F.round("metric", 6).alias("metric"),
        passed.cast("int").alias("passed"),
    )


# ------------------------------------------------- registered query

_ORDERS_SUITE = (
    lambda: [
        row_count_min(1),
        completeness("o_custkey"),
        completeness("o_orderdate"),
        uniqueness("o_orderkey"),
        accepted_values("o_orderstatus", ["O", "F", "P"]),
        min_value("o_totalprice", 0.0),
        max_value("o_totalprice", 1e9),
        pattern("o_orderpriority", "^[1-5]-[A-Z ]+$"),
    ]
)


def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders table's quality suite as one aggregation pass."""
    from tcrd_spark.sources.lake import load_table

    return run_expectations(
        load_table(spark, sf_dir, "orders"), _ORDERS_SUITE()
    )


_DOCS_SUITE = (
    lambda: [
        row_count_min(1),
        completeness("text"),
        uniqueness("doc_id"),
        min_value("n_chars", 0.0),
    ]
)


def q_dq_group_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table's quality suite PER LANGUAGE — the slice
    view that catches a single language's pipeline breaking."""
    from tcrd_spark.sources.lake import load_table

    return run_group_expectations(
        load_table(spark, sf_dir, "documents"), "lang", _DOCS_SUITE()
    )


QUERIES = {
    "dq_expectations": q_dq_expectations,
    "dq_group_expectations": q_dq_group_expectations,
}


def _oracle() -> str:
    specs = _ORDERS_SUITE()
    m_cols = ", ".join(
        f"{s['sql_metric']} AS _m{i}" for i, s in enumerate(specs)
    )
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{s['name']}' AS check_name,
               '{s['column']}' AS column_name,
               round(_m{i}, 6) AS metric,
               CASE WHEN {s['sql_passed'].replace('m ', f'_m{i} ')}
                    THEN 1 ELSE 0 END AS passed
        FROM a"""
        for i, s in enumerate(specs)
    )
    return f"WITH a AS (SELECT {m_cols} FROM orders)\n{arms}"


def _group_oracle() -> str:
    specs = _DOCS_SUITE()
    m_cols = ", ".join(
        f"{s['sql_metric']} AS _m{i}" for i, s in enumerate(specs)
    )
    arms = "\nUNION ALL\n".join(
        f"""SELECT slice, '{s['name']}' AS check_name,
               '{s['column']}' AS column_name,
               round(_m{i}, 6) AS metric,
               CASE WHEN {s['sql_passed'].replace('m ', f'_m{i} ')}
                    THEN 1 ELSE 0 END AS passed
        FROM a"""
        for i, s in enumerate(specs)
    )
    return (
        f"WITH a AS (SELECT lang AS slice, {m_cols} "
        f"FROM documents GROUP BY lang)\n{arms}"
    )


ORACLE = {
    "dq_expectations": _oracle(),
    "dq_group_expectations": _group_oracle(),
}
