"""The sorted fold sum: a bit-exact cross-engine double sum.

A plain `F.sum` adds doubles in partition order, so its last ulp
differs between runs and engines. Sorting the group's values and
folding left from 0.0 fixes the summation order; DuckDB reproduces it
bit for bit as `list_reduce(list_prepend(0.0, list_sort(list(x))),
(a, b) -> a + b)`. Each group's value list is collected whole, so
the sum suits per-group term lists of bounded size.

This module imports nothing from tcrd_spark.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sorted_fold_sum(col: Column | str) -> Column:
    """0.0-seeded left fold over the sorted values of `col` in the
    group: `aggregate(array_sort(collect_list(col)), 0.0, +)`."""
    return F.aggregate(
        F.array_sort(F.collect_list(col)), F.lit(0.0), lambda acc, x: acc + x
    )
