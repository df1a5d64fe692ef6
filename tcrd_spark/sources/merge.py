"""Declarative MERGE (upsert) into the parquet lake.

The reference mutates MySQL row-at-a-time (`loaders/TCRD.py` upd_*/
ins_* methods — see api/adaptor_mut.py for that surface); the lake
equivalent every warehouse grew (Delta/Iceberg MERGE INTO) is a SET
operation:

    MERGE INTO target USING source ON keys
      WHEN MATCHED [AND cond] THEN UPDATE/DELETE
      WHEN NOT MATCHED THEN INSERT

`merge_frames` is the engine: ONE full-outer join on the keys plus
row-local CASE arms — no windows, no second pass, one SQL parse.
SCD-1 semantics (matched rows take the source's non-key columns).

The versioned lake's copy-on-write MERGE (`snapshots.merge_version`)
runs `merge_frames` over only the files a source can match and
commits the result as new files, so bytes touched scale with the
CHANGE, not the table.

Oracle-adjudicated as `merge_upsert` (full-outer-join CASE twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def sql_name(name: str) -> str:
    """``name`` as a backquoted SQL identifier, braces doubled for the
    parameterized ``spark.sql`` formatter."""
    return "`" + name.replace("`", "``").replace("{", "{{").replace(
        "}", "}}") + "`"


def merge_frames(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    delete_condition: str | None = None,
) -> DataFrame:
    """SCD-1 merge: update matched, insert unmatched-source, keep
    unmatched-target; matched rows satisfying `delete_condition`
    (a SQL string over source columns) are dropped. Schemas must
    match.

    One SQL projection over the full outer join, built in one parse:
    py4j carries one text, not a Column tree per column."""
    cols = target.columns
    if source.columns != cols:
        raise ValueError(
            f"merge schemas differ: {source.columns} vs {cols}"
        )
    # Presence markers, NOT key null-ness, classify the join sides: a
    # target row whose merge-key value is genuinely NULL never equi-
    # matches, and inspecting keys[0] would misread it as source-only
    # and null out all its columns (ADVICE r5 #2). The 1 markers are
    # null exactly on the absent side of the full-outer join, so a
    # present source side (matched or source-only) wins every column.
    pick = ",\n  ".join(
        f"CASE WHEN s._s_present IS NOT NULL THEN s.{sql_name(c)} "
        f"ELSE t.{sql_name(c)} END AS {sql_name(c)}"
        for c in cols
    )
    on = " AND ".join(f"t.{sql_name(k)} = s.{sql_name(k)}" for k in keys)
    # NOT (matched AND cond) drops a matched row whose condition is
    # NULL too, as a filter on a NULL predicate does
    where = "" if delete_condition is None else (
        "WHERE NOT (t._t_present IS NOT NULL AND s._s_present IS NOT NULL"
        " AND (" + delete_condition.replace("{", "{{").replace("}", "}}")
        + "))"
    )
    return target.sparkSession.sql(
        f"""SELECT
  {pick}
FROM (SELECT *, 1 AS _t_present FROM {{target}}) t
FULL OUTER JOIN (SELECT *, 1 AS _s_present FROM {{source}}) s ON {on}
{where}""",
        target=target, source=source,
    )


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
