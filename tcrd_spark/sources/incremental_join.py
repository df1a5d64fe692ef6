"""Incremental maintenance of an aggregate over a JOIN — two CDC
feeds, one algebraic identity, no full recompute.

`sources/incremental.py` maintains Σ over ONE table; real
materialized views aggregate over fact ⋈ dim, and BOTH sides change
(orders land, customers move segment/nation). The textbook delta rule
(Blakeley et al., incremental view maintenance) for A_new = A_old+ΔA,
B_new = B_old+ΔB:

    A_new ⋈ B_new − A_old ⋈ B_old  =  ΔA ⋈ B_old  ∪  A_new ⋈ ΔB

(signed multiset algebra: a CDC delete/update_pre row carries −1, an
insert/update_post +1; the joined row inherits the delta row's sign).
Feeding those signed joined rows through the same (count, sum) fold
maintains the view:

    apply_delta(agg(A_fr ⋈ B_fr), join_delta(...)) == agg(A_to ⋈ B_to)

— pytest-pinned across merges on both tables, and the adjudicated
query's oracle recomputes the full-refresh answer from the replayed
commit histories.

100 TB shape: ΔA is change-sized and joins a DIM snapshot (broadcast
or key-shuffle of the small side); A_new ⋈ ΔB broadcast-hash-joins
the change-sized ΔB against the fact — Catalyst pushes the build
side, and with a bloom index on the fact's join key
(`sources/bloomidx.py`) the probe plans only the files holding ΔB's
keys, so BOTH terms cost ∝ change. A group MOVE (a customer changing
nation) needs no special case: its update_pre cancels the old group,
its update_post feeds the new one.

Reference parity: none (extension; the engine-level incremental form
of the reference's periodic join-refresh analytics).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.sources.incremental import apply_delta, group_agg

def _sign():
    """+1 for insert/update_post, −1 for delete/update_pre. Built
    lazily — a module-level Column would need a live SparkContext at
    import time."""
    return F.when(
        F.col("change_type").isin("insert", "update_post"), F.lit(1)
    ).otherwise(F.lit(-1))


def join_delta_group_agg(
    changes_a: DataFrame,
    b_old: DataFrame,
    a_new: DataFrame,
    changes_b: DataFrame,
    on: tuple[str, str],
    group_col: str,
    sum_col: str,
) -> DataFrame:
    """Signed per-group deltas of group_agg(A ⋈ B) from both change
    feeds. `on` = (fact key col, dim key col); `group_col` may live on
    either side; `sum_col` lives on A (the fact measure)."""
    a_key, b_key = on
    t1 = (
        changes_a.withColumn("_sig", _sign())
        .join(b_old, F.col(a_key) == b_old[b_key])
        .select(group_col, sum_col, "_sig")
    )
    t2 = (
        changes_b.withColumn("_sig", _sign())
        .join(a_new, F.col(b_key) == a_new[a_key])
        .select(group_col, sum_col, "_sig")
    )
    return (
        t1.unionByName(t2)
        .groupBy(group_col)
        .agg(
            F.sum("_sig").alias("dn"),
            F.sum(F.col("_sig").cast("double") * F.col(sum_col)).alias("ds"),
        )
    )


def incremental_join_agg(
    spark: SparkSession,
    fact_dir: str,
    dim_dir: str,
    v_fact: tuple[int, int],
    v_dim: tuple[int, int],
    fact_key: str,
    dim_key_cols: list[str],
    on: tuple[str, str],
    group_col: str,
    sum_col: str,
) -> DataFrame:
    """group_agg(fact ⋈ dim) at the TO versions, computed from the
    FROM-version state plus the two change feeds."""
    from tcrd_spark.sources.snapshots import read_changes, read_version

    fa, ta = v_fact
    fb, tb = v_dim
    a_old = read_version(spark, fact_dir, fa)
    b_old = read_version(spark, dim_dir, fb)
    state = group_agg(
        a_old.join(b_old, a_old[on[0]] == b_old[on[1]]),
        group_col,
        sum_col,
    )
    delta = join_delta_group_agg(
        read_changes(spark, fact_dir, fa, ta, [fact_key]),
        b_old,
        read_version(spark, fact_dir, ta),
        read_changes(spark, dim_dir, fb, tb, dim_key_cols),
        on,
        group_col,
        sum_col,
    )
    return apply_delta(state, delta, group_col)


# ---------------------------------------------------------- fixture

def _join_lakes(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Deterministic two-version fact (orders) + dim (customer) lakes.

    fact: v1 = keys %7 != 0; v2 = MERGE (keys %3 == 0, price +100.0,
    matched 'F'-status rows deleted) — the `_changes_lake` recipe with
    o_custkey carried so the join exists.
    dim: v1 = all customers; v2 = MERGE moving keys %5 == 0 to nation
    (24 - nation) — a GROUP MOVE, partition col (mktsegment) stable.
    Built once per session per sf_dir as a session memo entry (its
    slot lock serializes the oracle sweep's thread pool; releasing the
    entry removes the lake)."""
    from tcrd_spark.session import memo
    from tcrd_spark.sources.lake import load_table
    from tcrd_spark.sources.snapshots import create_table, merge_version

    key = os.path.realpath(sf_dir)

    def build() -> str:
        tag = hashlib.md5(f"{key}:{os.getpid()}".encode()).hexdigest()[:12]
        root = os.path.join(tempfile.gettempdir(), f"tcrd_join_lake_{tag}")
        if os.path.exists(root):
            shutil.rmtree(root)
        fact_path = os.path.join(root, "orders")
        dim_path = os.path.join(root, "customer")

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        create_table(
            orders.filter(F.col("o_orderkey") % 7 != 0),
            fact_path,
            "o_orderstatus",
        )
        fsrc = orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 100.0
        )
        merge_version(
            spark, fact_path, fsrc, ["o_orderkey"],
            delete_condition="s.o_orderstatus = 'F'",
        )

        customer = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey", "c_mktsegment"
        )
        create_table(customer, dim_path, "c_mktsegment")
        dsrc = customer.filter(F.col("c_custkey") % 5 == 0).withColumn(
            "c_nationkey", (F.lit(24) - F.col("c_nationkey")).cast("int")
        )
        merge_version(spark, dim_path, dsrc, ["c_custkey"])
        return root

    root = memo(spark, "join-lakes", key, build)
    return os.path.join(root, "orders"), os.path.join(root, "customer")


# ------------------------------------------------- registered query


def q_incremental_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation (order count, revenue) over fact ⋈ dim at v2/v2,
    maintained from the v1/v1 state + both change feeds. The oracle
    recomputes the full-refresh answer from the replayed histories —
    matching it proves the two-feed delta identity."""
    path_f, path_d = _join_lakes(spark, sf_dir)
    out = incremental_join_agg(
        spark,
        path_f,
        path_d,
        (1, 2),
        (1, 2),
        "o_orderkey",
        ["c_custkey"],
        ("o_custkey", "c_custkey"),
        "c_nationkey",
        "o_totalprice",
    )
    return out.select(
        "c_nationkey",
        F.col("n").cast("long").alias("n_orders"),
        F.round("s", 2).alias("revenue"),
    )


QUERIES = {"incremental_join_agg": q_incremental_join_agg}

# Replay both commit histories logically over the base tables, join
# the v2 states, aggregate — the full-refresh answer the incremental
# fold must reproduce.
ORACLE = {
    "incremental_join_agg": """
        WITH fv1 AS (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          FROM orders WHERE o_orderkey % 7 <> 0
        ),
        fsrc AS (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 o_totalprice + 100.0 AS o_totalprice
          FROM orders WHERE o_orderkey % 3 = 0
        ),
        fv2 AS (
          SELECT * FROM fsrc WHERE o_orderstatus <> 'F'
             OR o_orderkey NOT IN (SELECT o_orderkey FROM fv1)
          UNION ALL
          SELECT * FROM fv1
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM fsrc)
        ),
        dv2 AS (
          SELECT c_custkey,
                 CASE WHEN c_custkey % 5 = 0 THEN 24 - c_nationkey
                      ELSE c_nationkey END AS c_nationkey
          FROM customer
        )
        SELECT c_nationkey,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM fv2 JOIN dv2 ON o_custkey = c_custkey
        GROUP BY c_nationkey
    """,
}
