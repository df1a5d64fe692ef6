"""TIN-X pipeline end-to-end: raw JensenLab mentions files + DO OBO →
novelty / importance / article rankings (SURVEY.md §3-C).

Reference (`python/TIN-X.py:118-283`) parses two TSVs into driver
dicts — skipping non-ENSP junk lines, resolving ENSPs through a
stringid→xref fallback chain with a notfnd set, filtering DOIDs
against the parsed DO — then runs an O(|proteins|·|diseases|) nested
loop (3h49m at reference scale, `doc/README_v6.txt:1560-1562`).

Spark-first: the files are line scans + explode (one row per
(entity, pmid) mention), resolution is one broadcast-join cascade over
a unified key table, the DO membership check is a left_semi join, and
every score is an aggregation over the pmid equi-join
(analytics/tinx.py). Six DataFrame stages; nothing driver-side.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.analytics import tinx as tinx_scores
from tcrd_spark.etl.loaders import STRING_TAXON_PREFIX
from tcrd_spark.etl.resolve import resolve
from tcrd_spark.sources.obo import read_obo


def _mentions_long(
    spark: SparkSession, path: str, id_prefix: str | None
) -> DataFrame:
    """`<id>\\t<space-separated pmids>` → (ext_id, pmid) long form.
    id_prefix filters junk lines (`python/TIN-X.py:118-135` keeps only
    ENSP rows; the count of dropped lines is the reference's skip
    report — derivable as a filter-complement count when needed)."""
    raw = spark.read.csv(path, sep="\t", schema="ext_id string, pmids string")
    if id_prefix is not None:
        raw = raw.filter(F.col("ext_id").startswith(id_prefix))
    return raw.select(
        "ext_id",
        F.explode(F.split(F.trim("pmids"), r"\s+")).alias("pmid"),
    ).filter(F.col("pmid") != "").withColumn("pmid", F.col("pmid").cast("long"))


def protein_resolution_lookup(
    protein: DataFrame, xref: DataFrame
) -> DataFrame:
    """Unified ENSP→protein_id key table for the reference's fallback
    chain (`python/TIN-X.py:136-143`): protein.stringid first, then
    find_targets_by_xref with xtype='Ensembl' (`:140`); STRING xrefs
    also accepted since they carry the same ENSP key space. All key
    spaces land in ONE broadcastable lookup (key, protein_id);
    precedence is preserved because stringid and xref rows for the
    same protein resolve to the same id and `resolve` keeps all
    distinct matches."""
    a = protein.select(
        F.col("stringid").alias("key"), F.col("id").alias("protein_id")
    ).filter(F.col("key").isNotNull())
    b = (
        xref.filter(
            F.col("xtype").isin("Ensembl", "STRING")
            & F.col("protein_id").isNotNull()
        )
        .select(F.col("value").alias("key"), "protein_id")
    )
    return a.unionByName(b).distinct()


@dataclass
class TinxResult:
    novelty: DataFrame        # (protein_id, novelty)
    importance: DataFrame     # (protein_id, doid, score)
    rankings: DataFrame       # (doid, protein_id, pmid, rank)
    protein_notfnd: DataFrame
    disease_notfnd: DataFrame


def run_tinx(
    spark: SparkSession,
    protein_mentions_path: str,
    disease_mentions_path: str,
    doid_obo_path: str,
    protein: DataFrame,
    xref: DataFrame,
) -> TinxResult:
    """The full lifecycle-C computation from raw files."""
    pm_raw = _mentions_long(spark, protein_mentions_path, "ENSP").withColumn(
        "key", F.concat(F.lit(STRING_TAXON_PREFIX), "ext_id")
    )
    lookup = protein_resolution_lookup(protein, xref)
    pres = resolve(
        pm_raw, lookup, [("key", "key"), ("ext_id", "key")],
        id_col="protein_id", out_col="protein_id",
    )
    pm = pres.resolved.select("pmid", "protein_id").distinct()

    dm_raw = _mentions_long(spark, disease_mentions_path, None)
    do_terms = read_obo(spark, doid_obo_path).filter(~F.col("is_obsolete"))
    known = do_terms.select(F.col("term_id").alias("ext_id")).distinct()
    dm = (
        dm_raw.join(F.broadcast(known), "ext_id", "left_semi")
        .select("pmid", F.col("ext_id").alias("doid"))
        .distinct()
    )
    d_notfnd = dm_raw.join(F.broadcast(known), "ext_id", "left_anti")

    return TinxResult(
        novelty=tinx_scores.novelty(pm, "pmid", "protein_id"),
        importance=tinx_scores.importance(
            pm, dm, "pmid", "protein_id", "doid"
        ),
        rankings=tinx_scores.pmid_rankings(
            pm, dm, "pmid", "protein_id", "doid"
        ),
        protein_notfnd=pres.unresolved,
        disease_notfnd=d_notfnd,
    )
