"""Leakage-safe train/val/test split — the dataset-split step that
respects near-duplicate structure: two near-dup documents in different
splits leak evaluation data into training, so the UNIT of assignment
is the near-dup GROUP (connected component), not the document.

split = deterministic hash of the GROUP id against cumulative
fraction thresholds — reproducible anywhere (the portable hash60),
no RNG state, and stable under re-runs/appends of unrelated docs
(a group's split never depends on other groups).

100 TB shape: the CC resolution is the existing alternating-star
(pipeline/corpus.py); the assignment itself is one row-local hash +
CASE on the labeled frame (``corpus.group_labels``: the group sizes
``dedup_groups`` adds are never read here, so their aggregate and
join-back are not built). No shuffle beyond the CC's label join.

Reference parity: none (extension; the canonical companion to the
dedup family in SURVEY §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from tcrd_spark.functions.hashing import spark_hash60, sql_hash60
from tcrd_spark.pipeline.corpus import group_labels

FRACTIONS = (0.8, 0.1, 0.1)  # train / val / test
_DEN = float(1 << 60)


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    fractions: tuple[float, float, float] = FRACTIONS,
) -> DataFrame:
    """(doc_id, group_id, split): every doc labeled train/val/test,
    with all members of a near-dup group in the SAME split."""
    train, val, _ = fractions
    # one parse instead of a py4j round trip per Column operator;
    # DOUBLE literals (`D`) keep the thresholds the Python floats
    h = spark_hash60("concat('split|', CAST(group_id AS STRING))")
    u = f"{h} / {_DEN!r}D"
    return group_labels(docs, pairs, id_col).selectExpr(
        f"`{id_col}`",
        "group_id",
        f"CASE WHEN {u} < {train!r}D THEN 'train'"
        f" WHEN {u} < {train + val!r}D THEN 'val' ELSE 'test' END AS split",
    )


# ------------------------------------------------- registered query


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split of the documents corpus with 3-gram Jaccard >= 0.3
    near-dup groups held together."""
    from tcrd_spark.pipeline import dedup
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.3
    )
    return leakage_safe_split(docs, pairs, "doc_id", FRACTIONS)


QUERIES = {"leakage_safe_split": q_leakage_safe_split}


def _oracle() -> str:
    from tcrd_spark.pipeline.testdata_queries import _JACCARD_PAIRS

    h = sql_hash60("'split|' || CAST(group_id AS VARCHAR)")
    return f"""
        WITH RECURSIVE
        pairs AS (
          SELECT id_a, id_b FROM ({_JACCARD_PAIRS}) WHERE jaccard >= 0.3
        ),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs
        ),
        walk(node, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.node
        ),
        labels AS (
          SELECT node AS doc_id, min(lbl) AS group_id FROM walk GROUP BY 1
        )
        SELECT doc_id, group_id,
               CASE WHEN {h} / {_DEN!r} < 0.8 THEN 'train'
                    WHEN {h} / {_DEN!r} < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM labels
    """


ORACLE = {"leakage_safe_split": _oracle()}
