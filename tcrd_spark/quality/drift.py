"""Population-stability-index (PSI) drift between corpus slices and
the whole-corpus reference — the standard MLOps drift statistic for
NUMERIC features, complementing `pipeline/divergence.py`'s KL/JS over
token distributions.

    bin(x)  = ((x - min) * B) div (max - min + 1)   B equal-width bins,
                                                    INTEGER arithmetic
    p(b)    = (n_ref(b) + 1) / (N_ref + B)          add-1 smoothing so
    q_s(b)  = (n_s(b) + 1)  / (N_s + B)             empty bins are finite
    PSI_s   = Σ_b (q_s(b) - p(b)) · ln(q_s(b) / p(b))

Rule-of-thumb thresholds a deployment alerts on: PSI < 0.1 stable,
0.1–0.25 moderate shift, > 0.25 action. A training-data refresh whose
new crawl slice shows PSI > 0.25 on doc-length (or quality-score)
against the accepted corpus gets quarantined before it reaches a
mixture (`pipeline/mixture.py`) — the numeric-feature twin of the
divergence gate.

100 TB shape: ONE map-side-combinable (slice, bin) count is the only
data-sized aggregation; min/max ride a 1-row broadcast; everything
after runs on the |S|×B grid (tiny). No window over the data, no
join of data against data.

Cross-engine determinism: binning is pure INTEGER arithmetic (floor
division of non-negative ints — float width_bucket lands on bin-edge
ulps the engines break differently); the B-term ln-sum folds in
sorted order (`functions/folds.sorted_fold_sum`) and rounds to 6dp.

Reference parity: none (extension; SURVEY.md §2 corpus-construction
family — monitoring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.functions.folds import sorted_fold_sum

N_BINS = 10


def psi_by_slice(
    df: DataFrame, slice_col: str, val_col: str, n_bins: int = N_BINS
) -> DataFrame:
    """(slice, n_rows, psi): per-slice PSI of an INTEGER-valued feature
    against the whole-frame reference distribution.

    `val_col` must be integral — the equal-width binning divides in
    integer space so both engines place boundary values identically.
    """
    stats = df.agg(
        F.min(val_col).alias("_mn"),
        F.max(val_col).alias("_mx"),
        F.count(F.lit(1)).alias("_n_all"),
    )
    binned = df.crossJoin(F.broadcast(stats)).select(
        F.col(slice_col).alias("slice"),
        F.expr(
            f"(({val_col} - _mn) * {n_bins}) div (_mx - _mn + 1)"
        ).alias("bin"),
        "_n_all",
    )
    sb = binned.groupBy("slice", "bin").agg(F.count(F.lit(1)).alias("n_sb"))
    refb = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n_b"))
    ns = sb.groupBy("slice").agg(F.sum("n_sb").alias("n_s"))
    grid = ns.select(
        "slice", "n_s",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
    )
    terms = (
        grid.join(F.broadcast(refb), "bin", "left")
        .join(F.broadcast(sb), ["slice", "bin"], "left")
        .crossJoin(F.broadcast(stats.select("_n_all")))
        .select(
            "slice",
            "n_s",
            (
                (F.coalesce("n_sb", F.lit(0)) + 1) / (F.col("n_s") + n_bins)
            ).alias("q"),
            (
                (F.coalesce("n_b", F.lit(0)) + 1) / (F.col("_n_all") + n_bins)
            ).alias("p"),
        )
    )
    term = (F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))
    return (
        terms.withColumn("term", term)
        .groupBy("slice")
        .agg(
            F.max("n_s").alias("n_rows"),
            F.round(sorted_fold_sum("term"), 6).alias("psi"),
        )
    )


# --------------------------------------------- drift gate (spec form)


def freeze_reference(
    df: DataFrame, val_col: str, n_bins: int = N_BINS
) -> dict:
    """Freeze a reference distribution: {mn, mx, probs[B]} — 12
    numbers collected once from the accepted corpus. The gate below
    compares every future batch against THIS, so drift is measured
    against what was approved, not against last week's drift."""
    stats = df.agg(
        F.min(val_col).alias("mn"),
        F.max(val_col).alias("mx"),
        F.count(F.lit(1)).alias("n"),
    ).head()
    mn, mx, n = int(stats.mn), int(stats.mx), int(stats.n)
    counts = {
        r.bin: r.c
        for r in df.select(
            F.expr(
                f"greatest(0, least({n_bins - 1}, "
                f"(({val_col} - {mn}) * {n_bins}) div ({mx} - {mn} + 1)))"
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    probs = [
        (counts.get(i, 0) + 1) / (n + n_bins) for i in range(n_bins)
    ]
    return {"mn": mn, "mx": mx, "probs": probs}


def _bin_expr(val_col: str, ref: dict, n_bins: int, dialect: str) -> str:
    """Clamped integer binning against the FROZEN reference edges —
    batch values beyond the reference range land in the edge bins
    (standard PSI practice; dropping them would hide exactly the
    drift the gate exists to catch). `dialect`: integer division is
    spelled `div` in Spark SQL, `//` in DuckDB."""
    mn, mx = ref["mn"], ref["mx"]
    op = "div" if dialect == "spark" else "//"
    return (
        f"greatest(0, least({n_bins - 1}, "
        f"(({val_col} - {mn}) * {n_bins}) {op} ({mx} - {mn} + 1)))"
    )


def psi_max(
    col: str, reference: dict, threshold: float = 0.25,
    n_bins: int = N_BINS,
) -> dict:
    """Expectation spec (quality/expectations.py contract): the
    batch's PSI against the frozen reference, pass if <= threshold.
    ONE aggregate expression (B conditional sums + a count), so it
    rides the same single-pass verdict suite as every other check —
    including the commit-time gates and the write-audit-publish
    streaming sink, which quarantines a drifted micro-batch exactly
    like a failed completeness check. Term order is fixed (b0..bB-1,
    left-associated) so both engines fold the sum identically."""
    b = _bin_expr(col, reference, n_bins, "spark")
    b_sql = _bin_expr(col, reference, n_bins, "duckdb")
    probs = reference["probs"]

    def metric():
        n = F.count(F.lit(1))
        total = None
        for i, p in enumerate(probs):
            ci = F.sum(F.when(F.expr(b) == i, 1).otherwise(0))
            q = (ci + 1) / (n + n_bins)
            term = (q - F.lit(p)) * F.log(q / F.lit(p))
            total = term if total is None else total + term
        return total

    sql_terms = []
    for i, p in enumerate(probs):
        q = (
            f"(sum(CASE WHEN {b_sql} = {i} THEN 1 ELSE 0 END) + 1)"
            f" * 1.0 / (count(*) + {n_bins})"
        )
        sql_terms.append(f"(({q}) - {p!r}) * ln(({q}) / {p!r})")
    return {
        "name": f"psi_{col}", "column": col,
        "metric": metric,
        "passed": lambda m: m <= F.lit(threshold),
        "sql_metric": " + ".join(sql_terms),
        "sql_passed": f"m <= {threshold}",
    }


# ------------------------------------------------- registered query


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc-length PSI against the whole corpus."""
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    return psi_by_slice(docs, "source", "n_chars", N_BINS)


def q_dq_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift gate as a verdict suite: reference = even doc_ids
    (the 'accepted corpus'), audited batch = odd doc_ids. Same-corpus
    halves ⇒ tiny PSI ⇒ the gate passes; the pytest twin feeds a
    shifted batch and watches it fail."""
    from tcrd_spark.quality.expectations import (
        row_count_min, run_expectations,
    )
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    ref = freeze_reference(
        docs.filter(F.col("doc_id") % 2 == 0), "n_chars"
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return run_expectations(
        batch, [psi_max("n_chars", ref, 0.25), row_count_min(1)]
    )


def _drift_gate_oracle(n_bins: int = N_BINS) -> str:
    """Replays q_dq_drift_gate entirely in SQL: the frozen reference
    is re-derived in CTEs (baked literals would pin one sf), the PSI
    sum is written b0..bB-1 left-associated — the same fold order the
    Spark expression uses."""
    bin_of = (
        f"greatest(0, least({n_bins - 1}, "
        f"((n_chars - r.mn) * {n_bins}) // (r.mx - r.mn + 1)))"
    )
    p_cols = ", ".join(
        f"(sum(CASE WHEN bin = {i} THEN 1 ELSE 0 END) + 1) * 1.0 "
        f"/ (count(*) + {n_bins}) AS p{i}"
        for i in range(n_bins)
    )
    q_cols = ", ".join(
        f"(sum(CASE WHEN bin = {i} THEN 1 ELSE 0 END) + 1) * 1.0 "
        f"/ (count(*) + {n_bins}) AS q{i}"
        for i in range(n_bins)
    )
    psi = " + ".join(
        f"((q{i} - p{i}) * ln(q{i} / p{i}))" for i in range(n_bins)
    )
    return f"""
        WITH r AS (
          SELECT min(n_chars) AS mn, max(n_chars) AS mx
          FROM documents WHERE doc_id % 2 = 0
        ), rbin AS (
          SELECT {bin_of} AS bin
          FROM documents, r WHERE doc_id % 2 = 0
        ), p AS (SELECT {p_cols} FROM rbin),
        bbin AS (
          SELECT {bin_of} AS bin
          FROM documents, r WHERE doc_id % 2 = 1
        ), q AS (SELECT {q_cols}, count(*) AS n_b FROM bbin),
        m AS (SELECT {psi} AS psi, n_b FROM q, p)
        SELECT 'psi_n_chars' AS check_name, 'n_chars' AS column_name,
               round(psi, 6) AS metric,
               CASE WHEN psi <= 0.25 THEN 1 ELSE 0 END AS passed
        FROM m
        UNION ALL
        SELECT 'row_count', '*', round(n_b * 1.0, 6),
               CASE WHEN n_b >= 1.0 THEN 1 ELSE 0 END
        FROM m
    """


QUERIES = {"drift_psi": q_drift_psi, "dq_drift_gate": q_dq_drift_gate}

ORACLE = {
    "dq_drift_gate": _drift_gate_oracle(),
    "drift_psi": f"""
        WITH stats AS (
          SELECT min(n_chars) AS mn, max(n_chars) AS mx,
                 count(*) AS n_all
          FROM documents
        ), binned AS (
          SELECT source AS slice,
                 ((n_chars - mn) * {N_BINS}) // (mx - mn + 1) AS bin,
                 n_all
          FROM documents CROSS JOIN stats
        ), sb AS (
          SELECT slice, bin, count(*) AS n_sb FROM binned GROUP BY 1, 2
        ), refb AS (
          SELECT bin, count(*) AS n_b, max(n_all) AS n_all
          FROM binned GROUP BY 1
        ), ns AS (
          SELECT slice, CAST(sum(n_sb) AS BIGINT) AS n_s
          FROM sb GROUP BY 1
        ), grid AS (
          SELECT ns.slice, ns.n_s, b.bin
          FROM ns CROSS JOIN (
            SELECT unnest(generate_series(0, {N_BINS - 1})) AS bin
          ) b
        ), terms AS (
          SELECT g.slice, g.n_s,
                 (coalesce(sb.n_sb, 0) + 1)
                   / (g.n_s + {N_BINS}) AS q,
                 (coalesce(refb.n_b, 0) + 1)
                   / ((SELECT n_all FROM stats) + {N_BINS}) AS p
          FROM grid g
          LEFT JOIN refb ON refb.bin = g.bin
          LEFT JOIN sb ON sb.slice = g.slice AND sb.bin = g.bin
        )
        SELECT slice,
               max(n_s) AS n_rows,
               round(list_reduce(
                 list_prepend(0.0, list_sort(list((q - p) * ln(q / p)))),
                 (a, x) -> a + x), 6) AS psi
        FROM terms GROUP BY slice
    """,
}
