"""Driver-facing quality/profiling queries with DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.pipeline.profile import profile_table
from tcrd_spark.sources.lake import load_table


def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of the documents table (nulls, distincts,
    min/max) — the load-validation dashboard, from the one-pass
    `pipeline/profile.profile_table`."""
    return profile_table(load_table(spark, sf_dir, "documents")).select(
        F.col("col_name").alias("column"),
        "n_rows",
        F.col("n_null").alias("n_nulls"),
        "n_distinct",
        F.col("min_v").alias("min_value"),
        F.col("max_v").alias("max_value"),
    )


QUERIES = {"profile_documents": q_profile_documents}


def _col_profile(c: str) -> str:
    return f"""
      SELECT '{c}' AS "column",
             count(*) AS n_rows,
             count(*) - count({c}) AS n_nulls,
             count(DISTINCT {c}) AS n_distinct,
             CAST(min({c}) AS VARCHAR) AS min_value,
             CAST(max({c}) AS VARCHAR) AS max_value
      FROM documents
    """


ORACLE = {
    "profile_documents": " UNION ALL ".join(
        _col_profile(c)
        for c in ("doc_id", "text", "lang", "source", "n_chars")
    )
}
