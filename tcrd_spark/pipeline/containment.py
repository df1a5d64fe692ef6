"""Asymmetric containment dedup: |A ∩ B| / |A| over shingle sets.

Resemblance (Jaccard, `pipeline/dedup.py ngram_jaccard_pairs`) misses
the quote-inclusion case: a short document wholly embedded in a long
one has tiny Jaccard but containment ≈ 1. Broder's original
super-shingle work distinguishes exactly these two measures; training
pipelines use containment to drop subsumed fragments while keeping the
container.

100 TB shape: one (doc, shingle-hash) explode, the document-frequency
cap of `operators/blocking.drop_hot_blocks` dropping stopword shingles
BEFORE the pair join (quadratic fan-out, zero discrimination),
map-side-combinable shared counts from `blocking.candidate_pairs`, set
sizes joined back as a broadcast-sized dimension. Output is
directional: one row per (contained, container) ordered pair over the
threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.operators.blocking import candidate_pairs, drop_hot_blocks
from tcrd_spark.pipeline.dedup import hashed_shingles

N_SHINGLE = 3
THRESHOLD = 0.5
MAX_DF = 20


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = N_SHINGLE,
    threshold: float = THRESHOLD,
    max_df: int = MAX_DF,
) -> DataFrame:
    """(id_a, id_b, shared, size_a, containment): directional pairs
    with |A∩B|/|A| ≥ threshold, id_a ≠ id_b.

    Shingles with document frequency > max_df are dropped from
    CANDIDATE GENERATION only; the shared count uses the surviving
    shingles on both sides, so containment is exact over the capped
    shingle universe (documented estimator semantics). The shared
    count is symmetric, so it is computed once per unordered pair and
    the pair is then emitted in both directions.
    """
    sh = hashed_shingles(df, id_col, text_col, n)
    # NO lineage cut of the exploded (id, g) list (r12, measured): it
    # feeds four branches, but cutting full-shingle-cardinality rows
    # through the RDD round-trip measured 2.7 → 5.4s at sf0.1 — the
    # cut only pays for LOW-cardinality derived tables (winnow
    # fingerprints, LSH bands, simhash chunks), never for raw explode
    # output (same negative result as the LM token-row cut).
    inv = drop_hot_blocks(
        sh.select(id_col, F.explode("hs").alias("g")), "g", max_df
    )
    sizes = inv.groupBy(id_col).agg(F.count("*").alias("size_a"))
    shared = candidate_pairs(inv, id_col, "g").selectExpr(
        "inline(array(struct(id_a, id_b), struct(id_b AS id_a, id_a AS id_b)))",
        "shared",
    )
    return (
        shared.join(
            F.broadcast(sizes.withColumnRenamed(id_col, "id_a")), "id_a"
        )
        .withColumn(
            "containment", F.round(F.col("shared") / F.col("size_a"), 6)
        )
        .filter(F.col("containment") >= threshold)
    )


# ------------------------------------------------- registered queries


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle-containment pairs (≥ 0.5) over documents —
    the subsumed-fragment detector Jaccard resemblance misses."""
    from tcrd_spark.sources.lake import load_table, split_for_scan

    # split guard (r12): the single-row-group test table pinned the
    # md5 shingle pass to one task — 2.17 → 1.52s at sf0.1
    docs = split_for_scan(spark, load_table(spark, sf_dir, "documents"))
    return containment_pairs(docs, "doc_id", "text", N_SHINGLE, THRESHOLD, MAX_DF)


QUERIES = {"dedup_containment": q_dedup_containment}

def _shingle_sql() -> str:
    """The hashed-shingle CTE proven byte-identical to
    `dedup.hashed_shingles` by the jaccard/minhash oracles — imported,
    not re-derived, so the two stay in lockstep."""
    from tcrd_spark.pipeline.testdata_queries import _SHINGLES

    return _SHINGLES


ORACLE = {
    "dedup_containment": f"""
        WITH sh AS ({_shingle_sql()}),
        inv0 AS (SELECT doc_id, unnest(hs) AS g FROM sh),
        rare AS (
            SELECT g FROM inv0 GROUP BY g HAVING count(*) <= {MAX_DF}
        ),
        inv AS (SELECT inv0.* FROM inv0 JOIN rare USING (g)),
        sizes AS (SELECT doc_id, count(*) AS size_a FROM inv GROUP BY 1),
        shared AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
            FROM inv a JOIN inv b
              ON a.g = b.g AND a.doc_id != b.doc_id
            GROUP BY 1, 2
        )
        SELECT s.id_a, s.id_b, s.shared, z.size_a,
               round(s.shared / z.size_a, 6) AS containment
        FROM shared s JOIN sizes z ON z.doc_id = s.id_a
        WHERE round(s.shared / z.size_a, 6) >= {THRESHOLD}
    """,
}
