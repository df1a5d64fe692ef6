"""Local correctness harness mirroring the driver's t2 gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and an order-insensitive multiset of normalized values.

Usage:
    python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # normalize -0.0 and float noise past the queries' own rounding
        return f"{v:.6g}" if abs(v) < 1e-4 else f"{round(v, 6):.6f}"
    if isinstance(v, bool):
        return str(int(v))
    try:  # Decimal → float text
        import decimal

        if isinstance(v, decimal.Decimal):
            return _norm(float(v))
    except ImportError:
        pass
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def nested_output_fields(schema) -> list[str]:
    """Names of output columns with a non-atomic type (array/map/
    struct). The driver's adjudication canonicalizer sorts/hashes rows
    in pandas, where a list/dict cell is unhashable — a registered
    query emitting one passes this harness (``_norm`` stringifies
    lists) but errs in the driver (the round-7 ``embedding_meanpool``
    defect). Every registered query's output must be flat."""
    from pyspark.sql import types as T

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def compare(spark_rows, spark_cols, duck_rows, duck_cols):
    problems = []
    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(f"schema: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        return problems
    if len(spark_rows) != len(duck_rows):
        problems.append(f"rowcount: spark={len(spark_rows)} duck={len(duck_rows)}")
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s_set = sorted("|".join(_norm(r[i]) for i in order) for r in spark_rows)
    d_set = sorted("|".join(_norm(r[i]) for i in dorder) for r in duck_rows)
    if s_set != d_set:
        # multiset diff: a row duplicated on one side must show up even
        # when its value string exists on both sides
        from collections import Counter

        cs, cd = Counter(s_set), Counter(d_set)
        diff_s = list((cs - cd).elements())[:3]
        diff_d = list((cd - cs).elements())[:3]
        problems.append(f"values: spark-only={diff_s} duck-only={diff_d}")
    return problems


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    only = args[1:] if args and os.path.isdir(args[0]) else args

    import __spark_entry__ as e
    from tcrd_spark.session import clear, get_spark

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = e.queries()
    oracles = e.oracle_sql()
    names = only or sorted(qs)
    n_pass = n_fail = n_weak = 0
    for name in names:
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            bad = nested_output_fields(df.schema)
            if bad:
                print(f"FAIL {name}: nested output columns "
                      f"(driver-unhashable): {bad}")
                n_fail += 1
                continue
            spark_rows = df.collect()
            spark_cols = df.columns
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"WEAK {name}: rows={len(spark_rows)} (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        problems = compare(spark_rows, spark_cols, duck_rows, duck_cols)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(spark_rows)} [{time.time()-t0:.1f}s]")
            n_pass += 1
    # drop the index tables and temp-dir indexes/lakes the run built
    clear(spark)
    print(f"\n{n_pass} pass, {n_weak} weak (rows-only), {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
