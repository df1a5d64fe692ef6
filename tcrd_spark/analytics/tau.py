"""Tau tissue-specificity (Yanai et al. 2005) — continuous and ordinal.

Reference semantics:
- ordinal (`R/hpa_tau.R:1-11`): qualitative levels mapped 0-3, median
  per tissue, tau = Σ(1 − level/max_level) / (n_tissues − 1).
- continuous (`R/gtex_process.R:9-16`): decile-bin the per-tissue
  log10-medians (Hmisc::cut2 g=10; NA → bin 0), tau =
  Σ Freq·(1 − bin/max_bin) / (ΣFreq − 1).
- qualitative level (`R/gtex_process.R:50`): RANK = frank(median)/.N
  per gene with **average tie ranks** (data.table frank default);
  zero medians forced to rank 0; buckets 0→'Not detected',
  (0,.25)→'Low', [.25,.75)→'Medium', ≥.75→'High'.

Deviation (documented): cut2 assigns *value*-quantile bins so equal
values share a bin; we use ntile(10) over a totally-ordered sort
(value, tissue) which may split ties across adjacent bins. The oracle
SQL uses the identical ntile + tie-break so both engines agree; a
bit-exact cut2 reimplementation would need a per-gene quantile-edge
pass (noted as future work).

Both continuous variants build from one SQL text each and share the
tau step (`_tau_over_bins`); `tau_ordinal` has no all-NA short-circuit
and keeps its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def tau_ordinal(df: DataFrame, entity: str, tissue: str, level: str) -> DataFrame:
    """df: (entity, tissue, level ∈ {0..3}) one row per measurement →
    (entity, n_tissues, tau). Median per tissue first (hpa_tau.R:8)."""
    med = df.groupBy(entity, tissue).agg(F.median(level).alias("lv"))
    w = Window.partitionBy(entity)
    return (
        med.withColumn("mx", F.max("lv").over(w))
        .groupBy(entity)
        .agg(
            F.count("*").alias("n_tissues"),
            F.round(
                F.sum(
                    F.when(F.col("mx") > 0, 1 - F.col("lv") / F.col("mx"))
                )
                / (F.count("*") - 1),
                6,
            ).alias("tau"),
        )
    )


def _tau_over_bins(
    df: DataFrame, entity: str, tissue: str, value: str, binned: str
) -> DataFrame:
    """(entity, n_tissues, tau) of the bins the SQL `binned` assigns
    over `lg` (entity, tissue, and lm: the log10 of positive values,
    else NULL), built from one SQL text: tau = Σ(1 − bin/max_bin) /
    (n − 1), and 0.0 for an all-NA entity (every bin 0), matching the
    reference tau()'s explicit all-NA short-circuit
    (R/gtex_process.R). `binned` refers to the entity and tissue
    columns as {e} and {t}."""
    e, t, v = (f"`{c}`" for c in (entity, tissue, value))
    return df.sparkSession.sql(
        f"""
        WITH lg AS (
          SELECT {e}, {t}, CASE WHEN {v} > 0 THEN log10({v}) END AS lm
          FROM {{df}}
        )
        SELECT {e}, count(*) AS n_tissues,
               CASE WHEN max(mx) = 0 THEN 0.0D
                    ELSE round(sum(CASE WHEN mx > 0 THEN 1 - bin / mx END)
                               / (count(*) - 1), 6) END AS tau
        FROM (SELECT *, max(bin) OVER (PARTITION BY {e}) AS mx
              FROM ({binned.format(e=e, t=t)}))
        GROUP BY {e}
        """,
        df=df,
    )


def tau_continuous(
    df: DataFrame, entity: str, tissue: str, value: str
) -> DataFrame:
    """df: (entity, tissue, value) one row per (entity, tissue) →
    (entity, n_tissues, tau). Pipeline per gtex_process.R: log10 of
    positive values (else NULL → bin 0), decile bin, tau over bins."""
    return _tau_over_bins(df, entity, tissue, value, """
        SELECT *, ntile(10) OVER (PARTITION BY {e} ORDER BY lm, {t}) AS bin
        FROM lg WHERE lm IS NOT NULL
        UNION ALL
        SELECT *, 0 AS bin FROM lg WHERE lm IS NULL
    """)


def tau_continuous_cut2(
    df: DataFrame, entity: str, tissue: str, value: str, g: int = 10
) -> DataFrame:
    """tau with Hmisc::cut2-style VALUE-quantile bins (SURVEY §7 hard
    part a): per entity, interior quantile edges at 1/g..(g-1)/g of the
    log10-medians; bin(x) = 1 + #distinct edges ≤ x. Unlike ntile,
    EQUAL VALUES ALWAYS SHARE A BIN (an all-equal entity gets tau 0,
    where ntile's tie-splitting yields 0.5). Edges are rounded to 9 dp
    before the ≥ comparison so Spark and the DuckDB oracle make
    identical binary decisions on interpolated edges."""
    probs = ", ".join(f"{i / g!r}D" for i in range(1, g))
    return _tau_over_bins(df, entity, tissue, value, f"""
        SELECT *, CASE WHEN lm IS NOT NULL
                       THEN 1 + size(filter(edges, x -> round(lm, 9) >= x))
                       ELSE 0 END AS bin
        FROM lg LEFT JOIN (
          SELECT {{e}}, array_distinct(transform(
                   percentile(lm, array({probs}), 1), x -> round(x, 9)
                 )) AS edges
          FROM lg WHERE lm IS NOT NULL GROUP BY {{e}}
        ) USING ({{e}})
    """)


def qualitative_levels(
    df: DataFrame, entity: str, tissue: str, value: str
) -> DataFrame:
    """Per-(entity, tissue) qualitative expression level from the
    fractional average rank of the value within the entity
    (gtex_process.R:50,53,57): frank(v)/.N with average tie ranks,
    zero values forced to rank 0, then 4-level bucket."""
    n = F.count("*").over(Window.partitionBy(entity))
    min_rank = F.rank().over(Window.partitionBy(entity).orderBy(value))
    tie_ct = F.count("*").over(Window.partitionBy(entity, value))
    avg_rank = min_rank + (tie_ct - 1) / 2.0
    frac = F.when(F.col(value) == 0, 0.0).otherwise(avg_rank / n)
    return df.select(
        entity,
        tissue,
        F.col(value),
        F.round(frac, 6).alias("frac_rank"),
        F.when(frac == 0, "Not detected")
        .when(frac < 0.25, "Low")
        .when(frac < 0.75, "Medium")
        .otherwise("High")
        .alias("level"),
    )
