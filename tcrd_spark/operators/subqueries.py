"""Correlated-subquery surface: ANSI scalar-correlated and NOT-EXISTS
subqueries run through `spark.sql` — ONE SQL text, two engines.

The reference's API layer issues only flat joins; its examples folder
leans on hand-decorrelated temp tables for "compare each row to its
group's aggregate" questions (`examples/SQL/` patterns). A modern SQL
consumer writes the correlated form and expects the optimizer to
decorrelate; these queries pin that Catalyst does (the
RewriteCorrelatedScalarSubquery / RewritePredicateSubquery rules turn
them into the aggregate-join / left-anti plans a hand-written
DataFrame would produce — asserted by tests/test_subqueries.py, no
per-row re-execution anywhere).

The oracle strings are the IDENTICAL SQL texts: DuckDB parses and
plans the same ANSI, so this doubles as a cross-engine SQL-dialect
parity check for the decorrelation family.

Shapes (TPC-H Q17 / Q22 skeletons over the lake tables):

- `corr_scalar_below_avg`: lineitems cheaper than HALF their part's
  own average quantity — scalar subquery correlated on p_partkey →
  decorrelates to a per-part aggregate broadcast-joined back; the
  "fragile parts" revenue question.
- `corr_not_exists_idle`: above-average-balance customers with no
  large order — uncorrelated scalar + correlated NOT EXISTS (with a
  pushed-down inner predicate) → one aggregate scalar plus a LEFT
  ANTI join over the filtered orders side.

100 TB shape: after decorrelation both plans are the engine's normal
agg/join machinery (map-side partial aggs, AQE-selected join
strategies); nothing is per-row. The scalar subquery's per-part
aggregate shuffles on the SAME key as the main join — one exchange
feeds both.

Reference parity: `examples/SQL/tinx_novelty.sql`-style group-vs-row
questions; correlated FORM is an extension.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

Q17_SQL = """
    SELECT p_brand,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 4)
                AS DOUBLE) AS lost_revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = part.p_partkey
    )
    GROUP BY p_brand
"""

Q22_SQL = """
    SELECT c_nationkey,
           count(*) AS n_idle,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 4)
                AS DOUBLE) AS idle_balance
    FROM customer c
    WHERE c_acctbal > (
        SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_totalprice > 300000.0
    )
    GROUP BY c_nationkey
"""


Q21_SQL = """
    SELECT l1.l_suppkey,
           count(*) AS n_blamed_lines
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1
        FROM lineitem l3
        JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY l1.l_suppkey
"""

Q15_SQL = """
    WITH revenue AS (
      SELECT l_suppkey,
             round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                       * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM supplier
    JOIN revenue r ON s_suppkey = l_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


Q20_SQL = """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING sum(l.l_quantity) > (
            SELECT 0.2 * sum(l2.l_quantity)
            FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey
              AND l2.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l2.l_shipdate < TIMESTAMP '1997-01-01'
        )
    )
"""


Q2_SQL = """
    SELECT p_partkey, p_brand, s_name, n_name,
           l_extendedprice AS best_price
    FROM part
    JOIN lineitem ON l_partkey = p_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
      AND l_extendedprice = (
        SELECT min(l2.l_extendedprice)
        FROM lineitem l2
        JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        WHERE l2.l_partkey = part.p_partkey
          AND r2.r_name = 'EUROPE'
      )
"""


Q11_SQL = """
    SELECT l_partkey,
           round(sum(l_quantity), 4) AS part_qty
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name = 'NATION_3'
    GROUP BY l_partkey
    HAVING sum(l_quantity) > (
        SELECT 0.001 * sum(l2.l_quantity)
        FROM lineitem l2
        JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        WHERE n2.n_name = 'NATION_3'
    )
"""


def run_sql(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """Register the lake views ``sql`` names and run the ANSI text
    through Catalyst. Only the tables whose names appear as words in
    the text are (re-)registered for ``sf_dir``: every parquet read
    fires a footer-schema job, and a query reads 3 of the 10 tables.
    A table the text does not name cannot be read by it."""
    from tcrd_spark.sources.lake import TABLES, register_views

    words = set(re.findall(r"\w+", sql.lower()))
    register_views(spark, sf_dir, tuple(t for t in TABLES if t in words))
    return spark.sql(sql)


def q_corr_scalar_below_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand revenue sitting in below-half-average-quantity lines
    (TPC-H Q17 skeleton, correlated scalar subquery)."""
    return run_sql(spark, sf_dir, Q17_SQL)


def q_corr_not_exists_idle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers with no large order, per
    nation (TPC-H Q22 skeleton: uncorrelated scalar + correlated
    NOT EXISTS)."""
    return run_sql(spark, sf_dir, Q22_SQL)


def q_blamed_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers whose LATE line (shipped >60 days after order) sits
    in a multi-supplier order where EVERY OTHER supplier shipped on
    time (TPC-H Q21 skeleton: correlated EXISTS + NOT EXISTS over
    self-joined lineitem — the blame-assignment shape; decorrelates to
    a semi join and an anti join on l_orderkey)."""
    return run_sql(spark, sf_dir, Q21_SQL)


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quarter's top supplier(s) by revenue (TPC-H Q15 skeleton:
    scalar MAX over a derived view joined back; the revenue totals
    accumulate in exact DECIMAL space — r11 discipline, see
    operators/tpch.py — so the MAX/equality argmax is cross-engine
    deterministic by construction, not merely rounded-close)."""
    return run_sql(spark, sf_dir, Q15_SQL)


def q_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who carried > 20% of some part's total shipped
    quantity in 1996 (TPC-H Q20 skeleton adapted to the lake's tables:
    an IN subquery whose GROUPed body holds a scalar subquery
    CORRELATED ON A GROUPING COLUMN inside HAVING — the deepest
    decorrelation shape in the family; Catalyst rewrites it to a
    per-part aggregate joined back under a left-semi join). The
    compared sums are of integral quantities, so both engines'
    float sums are exact and the > decision is deterministic."""
    return run_sql(spark, sf_dir, Q20_SQL)


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """European suppliers offering a part at ITS European minimum
    price (TPC-H Q2 skeleton adapted to the lake's tables: a scalar
    MIN over a 4-way join in WHERE, correlated on the OUTER part —
    Catalyst decorrelates to a per-part min over the same join tree,
    equi-joined back). Equality compares the untouched parquet double
    against a MIN over the same set, so both engines pick identical
    rows — no float arithmetic happens before the compare."""
    return run_sql(spark, sf_dir, Q2_SQL)


def q_big_share_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose one-nation shipped quantity exceeds a fraction of
    that nation's TOTAL (TPC-H Q11 skeleton: group HAVING compared to
    an uncorrelated global scalar over the same join — the
    aggregate-vs-aggregate shape; the scalar computes once and
    broadcasts into the HAVING filter). Quantities are integral, so
    both engines' sums are float-exact and the > gate deterministic."""
    return run_sql(spark, sf_dir, Q11_SQL)


QUERIES = {
    "corr_scalar_below_avg": q_corr_scalar_below_avg,
    "corr_not_exists_idle": q_corr_not_exists_idle,
    "blamed_suppliers": q_blamed_suppliers,
    "top_revenue_supplier": q_top_revenue_supplier,
    "excess_share_suppliers": q_excess_share_suppliers,
    "min_cost_supplier": q_min_cost_supplier,
    "big_share_parts": q_big_share_parts,
}

# the SAME texts verbatim — the whole point
ORACLE = {
    "corr_scalar_below_avg": Q17_SQL,
    "corr_not_exists_idle": Q22_SQL,
    "blamed_suppliers": Q21_SQL,
    "top_revenue_supplier": Q15_SQL,
    "excess_share_suppliers": Q20_SQL,
    "min_cost_supplier": Q2_SQL,
    "big_share_parts": Q11_SQL,
}
