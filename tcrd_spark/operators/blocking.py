"""The one candidate-pair join of the filter-then-verify near-dup
families: shingle postings, MinHash/LSH bands, SimHash chunks,
winnowed fingerprints, image/video dHash bands, and the
batch-vs-corpus probes.

Each family splits its work the same way (REPOSE, ICDE 2021; the
EDBT 2020 incremental top-k join): a cheap block-level pass keeps only
the pairs that share a block key, and the family's own exact verify
runs on those candidates alone. The block-level pass is here, once:

- ``drop_hot_blocks(keys, key_col, max_block)`` is the one cap rule. A
  block holding more than ``max_block`` ids (a stop-shingle, a
  near-black image's band) pairs quadratically for no discrimination,
  so it is dropped before the join; fan-out is then at most
  ``max_block``² per block.
- ``candidate_pairs(keys, id_col, key_col, carry=(), other=None)`` is
  the pair join: one row per pair that shares a block.

Both take ONE row per (id, key), so "rows in a block" and "distinct
ids in a block" are the same count, and ``shared`` is the number of
blocks a pair shares. Where the key frame's lineage is cut, and the
verify, stay with each caller.

Deliberately a LEAF module (imports only pyspark), like
operators/lineage.py: every near-dup query's import closure holds it,
and the pytest sweeps key each cached PASS on that closure
(tests/sweep_cache.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def drop_hot_blocks(
    keys: DataFrame, key_col: str, max_block: int | None
) -> DataFrame:
    """``keys`` without the blocks that hold more than ``max_block``
    rows (``keys.join`` output: key column first). ``None`` keeps every
    block."""
    if max_block is None:
        return keys
    ok = (
        keys.groupBy(key_col)
        .agg(F.expr("count(1) AS _n"))
        .where(f"_n <= {int(max_block)}")
        .select(key_col)
    )
    return keys.join(ok, key_col)


def candidate_pairs(
    keys: DataFrame,
    id_col: str,
    key_col: str,
    carry: tuple[str, ...] = (),
    other: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, <carry>_a…, <carry>_b…, shared): one row per pair of
    ids that share at least one ``key_col`` value; ``shared`` counts
    the shared blocks. ``carry`` columns must be constant per id.

    Without ``other``: a self-join of ``keys`` with id_a < id_b. With
    ``other`` (same id, key and carry columns): every ``keys`` ×
    ``other`` pair, a probe with no symmetry to halve, so a pair
    present on both sides comes back in both id orders. NULL keys never
    join and NULL ids never pair. A caller that never reads ``shared``
    gets a plain distinct: Catalyst prunes the count from the
    aggregate."""
    a, b = keys.alias("a"), (keys if other is None else other).alias("b")
    # SQL strings, not Column trees: one parse each instead of ~10 py4j
    # round trips per F.col/alias/operator (the join is built on every
    # query call; the trees are identical)
    keep = (
        f"a.`{id_col}` < b.`{id_col}`"
        if other is None
        else f"a.`{id_col}` IS NOT NULL AND b.`{id_col}` IS NOT NULL"
    )
    out = [f"{s}.`{id_col}` AS id_{s}" for s in "ab"] + [
        f"{s}.`{c}` AS `{c}_{s}`" for s in "ab" for c in carry
    ]
    return (
        a.join(b, key_col)
        .where(keep)
        .groupBy(*[F.expr(e) for e in out])
        .agg(F.expr("count(1) AS shared"))
    )
