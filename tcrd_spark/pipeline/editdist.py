"""Edit-distance (Levenshtein) near-duplicate pairs with sound
length-bucket blocking — the precision tier of the dedup family.

MinHash/SimHash (`pipeline/dedup.py`) and substring dedup
(`pipeline/substring.py`) are the recall-oriented web-scale passes;
character-level edit distance is what you run on their candidate
output — or on a bounded slice — when the near-dup decision must be
exact (OCR noise, template variants, paraphrase-adjacent legal text).

Blocking is SOUND for the threshold: edit distance ≥ |len(a) −
len(b)|, so with bucket width B > T every qualifying pair lands in the
same or adjacent length bucket. Each right-side row replicates to
(bucket-1, bucket, bucket+1) — covering BOTH directions, since id
ordering is independent of length ordering — and the equi-join on the
left row's own bucket sees every qualifying pair exactly once (the
replicas carry distinct keys, so no double-count and no dedup pass).
A |len diff| ≤ T filter runs before the DP.

100 TB shape: candidate generation is an equi-join on (block key) —
shuffle-partitioned, never all-pairs — and the expensive DP never sees
most candidates: a COUNTING FILTER (Ed-Join/PartEnum's bag bound) runs
first. Each document carries a fixed ~28-slot character-count vector
computed ONCE at scan time; each edit operation changes that bag by at
most 2, so dist ≥ L1(bag_a, bag_b)/2, and any pair with L1 > 2T is
pruned by a ~28-integer zip_with — ~100× cheaper than the DP it
avoids. Together with spreading the input across tasks (the registered
query's `lake.split_for_scan`) and the T=24 setting, the registered
query went 181s → 2.3s wall at sf0.1 and scales 4.1× for 10× data
(SCALE.md).
Survivors hit the THRESHOLD-banded DP (`F.levenshtein(l, r, T)`:
O(len·T) cells with early-exit, -1 above T — Spark 3.5+), never the
full O(len²) matrix. The blocking key composes with any equality
attribute (lang, shard, source) to cut candidates further; for
corpora where even that is too many pairs, run this pass downstream
of the LSH candidates instead of the raw table.

Reference parity: none (the reference dedups by key only); this
extends the LLM-pipeline dedup family (SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# T=24/B=32 keeps the candidate density sane as the corpus grows: the
# length-bucket population grows linearly with corpus size, so pairs
# per bucket grow quadratically — a loose threshold (T=60/B=64) made
# the sf0.1→sf1 Spark ratio 21.7× for 10× data; this setting measures
# 4.1× (2.3s → 9.5s) with the identical sound-blocking guarantee
MAX_DIST = 24
BUCKET = 32  # must be > MAX_DIST for the adjacent-bucket guarantee
assert BUCKET > MAX_DIST

# counting-filter alphabet: per-char counts for these, plus an "other"
# remainder slot — a partition of the character bag, so the L1 bound
# dist >= L1/2 holds regardless of what "other" collapses together
_BAG_CHARS = "abcdefghijklmnopqrstuvwxyz 0"


def _char_bag(text):
    """~28-int character-count vector of the lowercased text, one
    column expression (computed once per document, not per pair)."""
    low = F.lower(text)
    counts = [
        F.length(low) - F.length(F.replace(low, F.lit(ch), F.lit("")))
        for ch in _BAG_CHARS
    ]
    tracked = counts[0]
    for c in counts[1:]:
        tracked = tracked + c
    return F.array(*counts, F.length(low) - tracked)


def _bag_l1(a, b):
    """L1 distance between two bag vectors — a zip_with fold, ~28
    integer ops per candidate pair."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def edit_distance_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = MAX_DIST,
    bucket: int = BUCKET,
    block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id_a, id_b, dist, rel_dist): all pairs with Levenshtein
    distance ≤ max_dist, id_a < id_b.

    rel_dist = dist / max(len_a, len_b), rounded to 6 — the normalized
    form most dedup policies threshold on. Extra equality `block_cols`
    (lang, shard, ...) AND into the block key.
    """
    if bucket <= max_dist:
        raise ValueError("bucket width must exceed max_dist for soundness")
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_text"),
        F.length(text_col).alias("_len"),
        _char_bag(F.col(text_col)).alias("_bag"),
        *[F.col(c) for c in block_cols],
    ).withColumn("_bk", F.floor(F.col("_len") / bucket))
    # the probe side keeps the input's splits: a small parquet input
    # arrives as ONE partition, and with the dimension side broadcast
    # the whole candidate × filter × DP pipeline would run in a single
    # task (measured 14x at sf0.1), so the registered query spreads its
    # input with `lake.split_for_scan`
    left = base.select(
        F.col("_id").alias("id_a"),
        F.col("_text").alias("text_a"),
        F.col("_len").alias("len_a"),
        F.col("_bag").alias("bag_a"),
        F.col("_bk").alias("bk"),
        *[F.col(c).alias(f"_l_{c}") for c in block_cols],
    )
    right = base.select(
        F.col("_id").alias("id_b"),
        F.col("_text").alias("text_b"),
        F.col("_len").alias("len_b"),
        F.col("_bag").alias("bag_b"),
        F.explode(
            F.array(F.col("_bk") - 1, F.col("_bk"), F.col("_bk") + 1)
        ).alias("bk"),
        *[F.col(c).alias(f"_r_{c}") for c in block_cols],
    )
    cond = [left["bk"] == right["bk"]] + [
        left[f"_l_{c}"] == right[f"_r_{c}"] for c in block_cols
    ]
    cand = (
        left.join(right, cond)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
        # counting filter: each edit op moves the char bag by <= 2, so
        # dist >= L1/2 — prune with ~28 int ops before any DP cell
        .filter(_bag_l1(F.col("bag_a"), F.col("bag_b")) <= 2 * max_dist)
    )
    # threshold-banded DP: O(len*T) per pair, -1 above the threshold
    d = F.levenshtein("text_a", "text_b", max_dist)
    return (
        cand.select("id_a", "id_b", "len_a", "len_b", d.alias("dist"))
        .filter(F.col("dist") >= 0)
        .select(
            "id_a",
            "id_b",
            "dist",
            F.round(
                F.col("dist") / F.greatest("len_a", "len_b"), 6
            ).alias("rel_dist"),
        )
    )


# ------------------------------------------------- registered queries


def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Levenshtein near-dup pairs (T=24) over the documents
    table, length-bucket blocked, per-language blocks."""
    from tcrd_spark.sources.lake import load_table, split_for_scan

    docs = split_for_scan(spark, load_table(spark, sf_dir, "documents"))
    return edit_distance_pairs(
        docs, "doc_id", "text", MAX_DIST, BUCKET, block_cols=("lang",)
    )


QUERIES = {"dedup_edit_distance": q_dedup_edit_distance}

ORACLE = {
    "dedup_edit_distance": f"""
        WITH base AS (
            SELECT doc_id, text, lang, length(text) AS len,
                   CAST(floor(length(text) / {BUCKET}) AS BIGINT) AS bk
            FROM documents
        ),
        r AS (
            SELECT doc_id, text, lang, len,
                   unnest([bk - 1, bk, bk + 1]) AS bk
            FROM base
        ),
        cand AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.len AS len_a, b.len AS len_b,
                   levenshtein(a.text, b.text) AS dist
            FROM base a JOIN r b
              ON a.bk = b.bk AND a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE abs(a.len - b.len) <= {MAX_DIST}
        )
        SELECT id_a, id_b, dist,
               round(dist / greatest(len_a, len_b), 6) AS rel_dist
        FROM cand WHERE dist <= {MAX_DIST}
    """,
}
