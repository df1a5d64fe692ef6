"""Harmonogram CDFs.

Reference (`loaders/load-HGramCDFs.py:84-145`): per gene-attribute
type, population mean/σ of per-protein attribute counts (numpy .std()
is population σ — stddev_pop, not sample); then per (protein, type)
the Gaussian CDF 0.5·(1+erf((x−μ)/(σ·√2))), falling back to the
logistic approximation 1/(1+e^(−1.702·z)) when the CDF is NaN (σ=0).

The reference runs two full N+1 passes (2h13m, `doc/README_v6.txt:
2023-2026`); here it is one aggregation + one broadcast join.

erf is not a Spark SQL built-in: `gaussian_cdf_col` uses an Arrow
pandas_udf over math.erf (vectorized per batch). The logistic variant
is pure column expressions and is the oracle-checked one (DuckDB has
no erf either); the erf path is pytest-verified against math.erf.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


@F.pandas_udf(DoubleType())
def _erf_udf(z: pd.Series) -> pd.Series:
    return z.map(lambda v: math.erf(v) if pd.notna(v) else None)


def _z(x: Column, mu: Column, sigma: Column) -> Column:
    """Standardized score, division guarded for ANSI mode: when σ=0
    the divisor must be NULL (a when() guard around the whole
    expression does NOT stop ANSI from raising DIVIDE_BY_ZERO — both
    branches evaluate). σ=0 yields NULL z, matching the reference
    where both the Gaussian CDF and the logistic fallback produce NaN
    (`loaders/load-HGramCDFs.py` nan_ct) and the row is never
    written."""
    safe_sigma = F.when(sigma > 0, sigma)
    return F.when(sigma > 0, (x - mu) / safe_sigma)


def gaussian_cdf_col(x: Column, mu: Column, sigma: Column) -> Column:
    """0.5·(1+erf((x−μ)/(σ√2))) via Arrow-batched pandas_udf."""
    z = _z(x, mu, sigma) / F.lit(math.sqrt(2.0))
    return 0.5 * (1.0 + _erf_udf(z))


def logistic_cdf_col(x: Column, mu: Column, sigma: Column) -> Column:
    """Reference fallback: 1/(1+exp(−1.702·(x−μ)/σ))."""
    return 1.0 / (1.0 + F.exp(-1.702 * _z(x, mu, sigma)))


def attr_stats(counts: DataFrame, type_col: str, count_col: str) -> DataFrame:
    """Per-type population stats over per-entity counts."""
    return counts.groupBy(type_col).agg(
        F.avg(count_col).alias("mu"),
        F.stddev_pop(count_col).alias("sigma"),
    )


def hgram_cdfs(
    counts: DataFrame,
    entity_col: str,
    type_col: str,
    count_col: str,
) -> DataFrame:
    """counts: (entity, type, attr_count) → + (mu, sigma, attr_cdf).
    Stats join is broadcast (one row per type). σ=0 groups are dropped,
    mirroring the reference's NaN skip (load-HGramCDFs.py nan_ct: when
    both the CDF and the fallback come out NaN the row is never
    inserted)."""
    stats = attr_stats(counts, type_col, count_col)
    joined = counts.join(F.broadcast(stats), type_col)
    x, mu, sg = F.col(count_col), F.col("mu"), F.col("sigma")
    cdf = F.when(sg > 0, gaussian_cdf_col(x, mu, sg)).otherwise(
        logistic_cdf_col(x, mu, sg)
    )
    return joined.withColumn("attr_cdf", F.round(cdf, 6)).filter(
        F.col("attr_cdf").isNotNull()
    )
