"""The one per-query top-k of the retrieval family: exact, IVF, SQ8,
PQ and IVF-PQ search, the IVF probe selection, hard-negative mining and
both legs of reciprocal-rank fusion.

Each of them splits its work the same way (REPOSE, ICDE 2021; the
EDBT 2020 incremental top-k framework): pick candidates (every corpus
row, the probed IVF cells, or a partition-pruned persisted index),
score them, keep k. The first two steps stay with each caller; the
third is here, once:

- the tie order is score descending, then id ascending. The DuckDB
  oracles and the streaming merge (``streaming/search.py``) assume
  the same order;
- the shape is ``row_number() <= k`` over a ``q_id`` window, which
  Spark plans as ``WindowGroupLimit``: each partition keeps k rows per
  query before the exchange, so k rows per partition move, not the
  candidates (plan-tested, tests/test_plans.py);
- the output is ``(q_id, <id>, <score>, <carry>…, <rank>)``.

Deliberately a LEAF module (imports only pyspark), like
operators/blocking.py: every retrieval query's import closure holds
it, and the pytest sweeps key each cached PASS on that closure
(tests/sweep_cache.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def top_k(
    scored: DataFrame,
    k: int,
    id_col: str = "c_id",
    score: str = "score",
    carry: tuple[str, ...] = (),
    rank: str = "rank",
) -> DataFrame:
    """The k best rows per ``q_id`` of ``scored`` (higher ``score``
    first, ties to the smaller ``id_col``), numbered 1..k in ``rank``,
    as ``(q_id, id_col, score, *carry, rank)``."""
    w = Window.partitionBy("q_id").orderBy(F.desc(score), F.asc(id_col))
    return (
        scored.withColumn(rank, F.row_number().over(w))
        .filter(F.col(rank) <= k)
        .select("q_id", id_col, score, *carry, rank)
    )
