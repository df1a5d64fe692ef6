"""Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
SIGMOD 2003 — the MOSS algorithm) and fingerprint-overlap candidate
pairs.

Winnowing selects a position-robust subset of a document's k-gram
hashes: slide a window of w consecutive gram hashes and keep the
minimum of each window (rightmost on ties). The guarantee: any shared
substring of length ≥ w+k-1 tokens contributes at least one IDENTICAL
selected fingerprint to both documents, while only ~2/(w+1) of all
grams are kept — an 8× density reduction here that survives
insertions/deletions around the match, which a plain rolling
fingerprint (`functions/hashing.rolling_fingerprint`, whole-doc) does
not.

100 TB shape: selection is entirely ROW-LOCAL — tokens → gram hashes →
window minima happen in one whole-stage-codegen'd expression per
document; only the selected (doc, pos, fp) rows (≈ 2/(w+1) of grams,
8-byte hashes, never text) reach the fingerprint table. The candidate
pair join blocks on the fingerprint value with a document-frequency
cap first (`operators/blocking.drop_hot_blocks`): a fingerprint shared
by more than max_df documents is a stopword-gram and generates
quadratic pairs for no discrimination — drop it before the self-join,
so pair fan-out is bounded by max_df² per fingerprint.

Reference parity: the reference fingerprints nothing; this extends the
text-analysis family (SURVEY.md §2, document fingerprinting) next to
substring dedup (`pipeline/substring.py`, which finds EXACT duplicated
spans; winnowing finds CANDIDATE near-matches at 1/8 the index size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.functions.hashing import hash60, sql_hash60
from tcrd_spark.operators.blocking import candidate_pairs, drop_hot_blocks
from tcrd_spark.pipeline.text import ws_tokens

GRAM_K = 4  # tokens per k-gram
WIN_W = 5  # gram hashes per winnowing window
MAX_DF = 20  # fingerprint document-frequency cap for the pair join
TOP_PAIRS = 50


def _norm_tokens(text_col):
    """Lowercased, empty-filtered whitespace tokens."""
    return F.transform(F.filter(ws_tokens(text_col), lambda t: t != ""), F.lower)


def _gram_hash_array(toks_col, k: int):
    """Array of hash60 values of the k-token grams of a MATERIALIZED
    token-array column — row-local (the array twin of
    substring._gram_hashes, which explodes to rows instead).

    toks_col must be a plain column reference, not the tokenization
    expression itself: a lambda body's subtrees are re-evaluated PER
    ELEMENT in interpreted higher-order functions, so an inline
    tokenize would re-split the text once per gram — O(tokens²) per
    document (measured: 48ms/doc → ~2ms/doc at sf0.1 after
    materializing the token array first)."""
    toks = F.col(toks_col) if isinstance(toks_col, str) else toks_col
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - k + 1),
            lambda i: hash60(F.concat_ws(" ", F.slice(toks, i, k))),
        ),
    ).otherwise(F.array().cast("array<long>"))


def _winnow_sel(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    w: int,
    spread: int | None,
) -> DataFrame:
    """(id, _sel): per-document array of winnowed per-window (h, p)
    minima, BEFORE dedup — the shared row-local core of
    `winnow_fingerprints` and `winnow_fp_values`."""
    if spread:
        docs = docs.repartition(spread, F.col(id_col))
    # explode(array(...)) wraps each materialization in a Generate node:
    # CollapseProject happily merges plain Projects back together, which
    # re-inlines the tokenize/gram expressions into downstream lambda
    # bodies where interpreted evaluation re-runs them PER ELEMENT —
    # tokenization went O(tokens²) per doc and window minima O(grams²·w)
    # (measured 13.6s → 1.1s warm at sf0.1 for the registered query,
    # combined with `spread`).
    # A generator's output is an attribute no rule inlines through.
    toked = docs.select(
        F.col(id_col),
        F.explode(F.array(_norm_tokens(F.col(text_col)))).alias("_toks"),
    )
    grammed = toked.select(
        F.col(id_col),
        F.explode(F.array(_gram_hash_array("_toks", k))).alias("_grams"),
    )
    n = F.size(F.col("_grams"))
    n_win = F.greatest(n - w + 1, F.lit(1))

    # each window reduces to its (h, p) minimum with RIGHTMOST ties.
    # Built from native array kernels (slice/array_min/reverse/
    # array_position) rather than an element-wise aggregate() fold:
    # higher-order-function lambdas evaluate INTERPRETED per element
    # with a struct allocation each — the fold form measured 11s
    # single-task at sf0.1, this form 1.3s for identical results
    # (rightmost occurrence == first position in the reversed window)
    def win_min(i):
        length = F.least(F.lit(w), n - i + 1)
        win = F.slice(F.col("_grams"), i, length)
        m = F.array_min(win)
        rp = F.array_position(F.reverse(win), m)
        return F.struct(
            m.alias("h"), (i + length - rp).cast("long").alias("p")
        )

    sel = F.transform(F.sequence(F.lit(1), n_win), win_min)
    return grammed.filter(F.size(F.col("_grams")) >= 1).select(
        F.col(id_col), sel.alias("_sel")
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = GRAM_K,
    w: int = WIN_W,
    spread: int | None = None,
) -> DataFrame:
    """(id, pos, fp): the winnowed fingerprint set of each document.

    pos is the 1-based token position of the selected gram. Documents
    with fewer than k tokens emit nothing; documents with fewer than w
    grams emit the minimum of what they have (one degenerate window).

    ``spread``: repartition the input to N tasks first. The operator
    itself is exchange-free (plan-tested) and at 100 TB the scan's own
    splits provide the parallelism — but a SMALL corpus arrives as one
    split, serializing the md5-heavy gram hashing into a single task
    Leave None when the scan is already split.
    """
    s = _winnow_sel(docs, id_col, text_col, k, w, spread)
    return s.select(
        F.col(id_col), F.explode(F.array_distinct("_sel")).alias("_f")
    ).select(id_col, F.col("_f.p").alias("pos"), F.col("_f.h").alias("fp"))


def winnow_fp_values(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = GRAM_K,
    w: int = WIN_W,
    spread: int | None = None,
) -> DataFrame:
    """(id, fp): each document's DISTINCT fingerprint values — exactly
    ``winnow_fingerprints(...).select(id, fp).distinct()``, computed
    row-locally (r12, guide §2.4): the per-doc value set is
    array_distinct over the window minima's hashes, and ids are unique
    per exploded group, so the global distinct exchange the pair join
    paid disappears. It is the form ``fingerprint_pairs`` takes."""
    s = _winnow_sel(docs, id_col, text_col, k, w, spread)
    return s.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.transform("_sel", lambda f: f["h"]))
        ).alias("fp"),
    )


def fingerprint_pairs(
    fps: DataFrame, id_col: str, max_df: int = MAX_DF
) -> DataFrame:
    """(id_a, id_b, shared): candidate pairs by shared fingerprint
    VALUES, rare-fingerprint blocked. ``fps`` holds ONE row per
    (id, fp), the `winnow_fp_values` form.

    Fingerprints seen in more than max_df documents are dropped before
    the self-join (stopword grams — quadratic fan-out, zero
    discrimination), bounding the join output at max_df² rows per
    fingerprint.
    """
    # Cut before the self-join (r12 — the video_near_dups lesson): both
    # join sides carry the md5-heavy fingerprint pipeline ABOVE its
    # repartition exchange, and exchange reuse only dedups the shuffle
    # write below it, so the hashing executed twice per action. The cut
    # materializes the df-capped (fp, id) table once; the rotating slot
    # bounds session storage to one cached cut (ADVICE r11 discipline).
    from tcrd_spark.operators.lineage import cut

    dd = cut(drop_hot_blocks(fps.select(id_col, "fp"), "fp", max_df), "winnow-dd")
    return candidate_pairs(dd, id_col, "fp")


# ------------------------------------------------- registered queries


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed (doc_id, pos, fp) over the documents table (k=4 token
    grams, w=5 windows, rightmost ties — MOSS parameters scaled to the
    corpus)."""
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    # the test corpus arrives as one split; spread the row-local hashing
    par = spark.sparkContext.defaultParallelism
    return winnow_fingerprints(docs, "doc_id", "text", GRAM_K, WIN_W, spread=par)


def q_winnow_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 candidate near-match pairs by shared winnowed
    fingerprints (df-capped blocking join)."""
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    fps = winnow_fp_values(docs, "doc_id", "text", GRAM_K, WIN_W, spread=par)
    pairs = fingerprint_pairs(fps, "doc_id", MAX_DF)
    return pairs.orderBy(
        F.desc("shared"), F.asc("id_a"), F.asc("id_b")
    ).limit(TOP_PAIRS)


QUERIES = {
    "winnow_fingerprints": q_winnow_fingerprints,
    "winnow_candidate_pairs": q_winnow_candidate_pairs,
}


_SQL_FPS = f"""
t AS (
    SELECT doc_id,
           list_transform(list_filter(string_split_regex(text, '\\s+'),
                                      t -> t != ''), t -> lower(t)) AS ws
    FROM documents
),
g AS (
    SELECT doc_id,
           CASE WHEN len(ws) >= {GRAM_K} THEN
               list_transform(range(1, len(ws) - {GRAM_K} + 2),
                   i -> {sql_hash60(
                       f"array_to_string(list_slice(ws, i, i + {GRAM_K} - 1), ' ')"
                   )})
           ELSE [] END AS grams
    FROM t
),
sel AS (
    -- list_distinct can't take struct lists in DuckDB; dedup after
    -- the unnest instead (Spark side dedups row-locally pre-explode)
    SELECT doc_id,
           list_transform(
               range(1, greatest(len(grams) - {WIN_W} + 1, 1) + 1),
               i -> list_reduce(
                   list_transform(
                       range(i, least(i + {WIN_W} - 1, len(grams)) + 1),
                       j -> struct_pack(h := grams[j], p := j)),
                   (acc, x) -> CASE WHEN x.h <= acc.h THEN x ELSE acc END)
           ) AS fps
    FROM g WHERE len(grams) >= 1
),
fp AS (
    SELECT DISTINCT doc_id, CAST(f.p AS BIGINT) AS pos, f.h AS fp
    FROM (SELECT doc_id, unnest(fps) AS f FROM sel)
)
"""

ORACLE = {
    "winnow_fingerprints": f"WITH {_SQL_FPS} SELECT * FROM fp",
    "winnow_candidate_pairs": f"""
        WITH {_SQL_FPS},
        d AS (SELECT DISTINCT doc_id, fp FROM fp),
        ok AS (SELECT fp FROM d GROUP BY fp HAVING count(*) <= {MAX_DF}),
        dd AS (SELECT d.* FROM d JOIN ok USING (fp))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        FROM dd a JOIN dd b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        ORDER BY shared DESC, id_a ASC, id_b ASC
        LIMIT {TOP_PAIRS}
    """,
}
