"""TIN-X novelty / importance / PubMed ranking.

Reference (`python/TIN-X.py:207-283`) computes, from protein-mention
and disease-mention sets per paper:
- fractional target score per paper FT = 1/#proteins_mentioned;
  novelty(protein) = 1 / Σ_{papers mentioning it} FT  (:207-221)
- FDT(paper) = 1/(#proteins · #diseases); importance(protein, disease)
  = Σ FDT over papers mentioning both  (:241-258)
- per (disease, protein): papers ranked by score = #proteins·#diseases
  ascending, then pmid DESCENDING (newer first), 0-based (:263-299).

The reference holds every set in driver dicts and runs an O(|P|·|D|)
nested loop (3h49m, `doc/README_v6.txt:1560-1562`). Here the
intersection IS a pmid equi-join and each score one aggregation.

Float discipline: the reciprocal sums fold over array_sort(collect_
list(...)) — a fixed summation order, so the oracle's list_reduce over
the identically-sorted list reproduces doubles bit-for-bit. Per-group
mention lists are paper counts per entity (bounded); at 100 TB the
plain F.sum is the faster choice if 1-ulp drift is acceptable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tcrd_spark.functions.folds import sorted_fold_sum


def paper_counts(mentions: DataFrame, pmid: str, entity: str) -> DataFrame:
    """Distinct mention pairs → per-paper entity count."""
    return (
        mentions.select(pmid, entity)
        .distinct()
        .groupBy(pmid)
        .agg(F.count("*").alias("ct"))
    )


def novelty(mentions: DataFrame, pmid: str, entity: str) -> DataFrame:
    """(pmid, entity) mentions → (entity, novelty)."""
    cts = paper_counts(mentions, pmid, entity)
    return (
        mentions.select(pmid, entity)
        .distinct()
        .join(cts, pmid)
        .groupBy(entity)
        .agg(
            F.round(1.0 / sorted_fold_sum(1.0 / F.col("ct")), 6).alias(
                "novelty"
            )
        )
    )


def importance(
    pmentions: DataFrame,
    dmentions: DataFrame,
    pmid: str,
    protein: str,
    disease: str,
) -> DataFrame:
    """→ (protein, disease, score): Σ 1/(p_ct·d_ct) over shared papers.
    The reference's full P×D nested loop becomes this pmid equi-join."""
    pct = paper_counts(pmentions, pmid, protein).withColumnRenamed("ct", "pct")
    dct = paper_counts(dmentions, pmid, disease).withColumnRenamed("ct", "dct")
    return (
        pmentions.select(pmid, protein)
        .distinct()
        .join(dmentions.select(pmid, disease).distinct(), pmid)
        .join(pct, pmid)
        .join(dct, pmid)
        .groupBy(protein, disease)
        .agg(
            F.round(
                sorted_fold_sum(1.0 / (F.col("pct") * F.col("dct"))), 6
            ).alias("score")
        )
    )


def pmid_rankings(
    pmentions: DataFrame,
    dmentions: DataFrame,
    pmid: str,
    protein: str,
    disease: str,
) -> DataFrame:
    """→ (disease, protein, pmid, rank): papers of each pair ranked by
    (p_ct·d_ct) ASC then pmid DESC, 0-based (`python/TIN-X.py:285-299`)."""
    pct = paper_counts(pmentions, pmid, protein).withColumnRenamed("ct", "pct")
    dct = paper_counts(dmentions, pmid, disease).withColumnRenamed("ct", "dct")
    pairs = (
        pmentions.select(pmid, protein)
        .distinct()
        .join(dmentions.select(pmid, disease).distinct(), pmid)
        .join(pct, pmid)
        .join(dct, pmid)
        .select(
            disease, protein, pmid, (F.col("pct") * F.col("dct")).alias("score")
        )
    )
    w = Window.partitionBy(disease, protein).orderBy(
        F.asc("score"), F.desc(pmid)
    )
    return pairs.select(
        disease,
        protein,
        F.col(pmid),
        (F.row_number().over(w) - 1).alias("rank"),
    )
