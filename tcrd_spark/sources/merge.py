"""Declarative MERGE (upsert) into the parquet lake.

The reference mutates MySQL row-at-a-time (`loaders/TCRD.py` upd_*/
ins_* methods — see api/adaptor_mut.py for that surface); the lake
equivalent every warehouse grew (Delta/Iceberg MERGE INTO) is a SET
operation:

    MERGE INTO target USING source ON keys
      WHEN MATCHED [AND cond] THEN UPDATE/DELETE
      WHEN NOT MATCHED THEN INSERT

`merge_frames` is the engine: ONE full-outer join on the keys plus
row-local CASE arms — no windows, no second pass. SCD-1 semantics
(matched rows take the source's non-key columns).

The versioned lake's copy-on-write MERGE (`snapshots.merge_version`)
runs `merge_frames` over only the files a source can match and
commits the result as new files, so bytes touched scale with the
CHANGE, not the table.

Oracle-adjudicated as `merge_upsert` (full-outer-join CASE twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merge_frames(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    delete_condition: str | None = None,
) -> DataFrame:
    """SCD-1 merge: update matched, insert unmatched-source, keep
    unmatched-target; matched rows satisfying `delete_condition`
    (a SQL string over source columns) are dropped. Schemas must
    match."""
    cols = target.columns
    if source.columns != cols:
        raise ValueError(
            f"merge schemas differ: {source.columns} vs {cols}"
        )
    # Presence markers, NOT key null-ness, classify the join sides: a
    # target row whose merge-key value is genuinely NULL never equi-
    # matches, and inspecting keys[0] would misread it as source-only
    # and null out all its columns (ADVICE r5 #2). The lit(1) markers
    # are null exactly on the absent side of the full-outer join.
    t = target.withColumn("_t_present", F.lit(1)).alias("t")
    s = source.withColumn("_s_present", F.lit(1)).alias("s")
    cond = None
    for k in keys:
        c = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = c if cond is None else (cond & c)
    j = t.join(s, cond, "full_outer")
    matched = F.col("t._t_present").isNotNull() & F.col(
        "s._s_present"
    ).isNotNull()
    src_only = F.col("t._t_present").isNull()
    out = j.select(
        *[
            F.when(src_only | matched, F.col(f"s.{c}"))
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
            for c in cols
        ],
        (matched & F.expr(delete_condition or "false")).alias("_del"),
    )
    return out.where(~F.col("_del")).drop("_del")


# ------------------------------------------------- registered queries


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE over orders: every 17th order surcharged +100.00
    (update — an additive change: a multiplicative one lands 3rd-
    decimal half-way ties that HALF_UP vs round-half-away engines
    resolve differently), a shifted copy of every 31st order appended
    (insert), F-status rows among the updates dropped (delete arm)."""
    from tcrd_spark.sources.lake import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )
    updates = orders.where("o_orderkey % 17 = 0").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round(F.col("o_totalprice") + 100.0, 2).alias("o_totalprice"),
    )
    inserts = orders.where("o_orderkey % 31 = 0").select(
        (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    return merge_frames(
        orders,
        updates.unionAll(inserts),
        ["o_orderkey"],
        delete_condition="s.o_orderstatus = 'F'",
    )


QUERIES = {"merge_upsert": q_merge_upsert}

ORACLE = {
    "merge_upsert": """
        WITH t AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 round(o_totalprice, 2) AS o_totalprice
          FROM orders
        ),
        s AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 round(o_totalprice + 100.0, 2) AS o_totalprice
          FROM t WHERE o_orderkey % 17 = 0
          UNION ALL
          SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice
          FROM t WHERE o_orderkey % 31 = 0
        ),
        j AS (
          SELECT t.o_orderkey AS tk, s.o_orderkey AS sk,
                 CASE WHEN s.o_orderkey IS NOT NULL
                      THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
                 CASE WHEN s.o_orderkey IS NOT NULL
                      THEN s.o_orderstatus ELSE t.o_orderstatus END
                   AS o_orderstatus,
                 CASE WHEN s.o_orderkey IS NOT NULL
                      THEN s.o_totalprice ELSE t.o_totalprice END
                   AS o_totalprice
          FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
        )
        SELECT coalesce(sk, tk) AS o_orderkey, o_custkey,
               o_orderstatus, o_totalprice
        FROM j
        WHERE NOT (tk IS NOT NULL AND sk IS NOT NULL
                   AND o_orderstatus = 'F')
    """,
}
