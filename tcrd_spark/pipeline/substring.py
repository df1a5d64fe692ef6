"""Substring-level exact dedup: find and excise repeated ≥k-token
spans across a corpus (the ExactSubstr operator of Lee et al.,
"Deduplicating Training Data Makes Language Models Better", ACL'22).

Neither document-level Jaccard nor fixed-line dedup
(pipeline/corpus.boilerplate_line_dedup) covers this: a 50-token
license block pasted mid-paragraph into thousands of otherwise-unique
documents is invisible to whole-doc similarity and never aligns on
line boundaries.

The single-node formulation is a suffix array over the concatenated
corpus — a global sort of every suffix, which at 100 TB is a
multi-round external sort of corpus-sized keys. The Spark-native
shape here gets the same spans for a fixed minimum length k without
ever sorting text:

1. per document, hash every k-token gram (row-local `transform` over
   the token array — grams never materialize off-row; only the 8-byte
   hash60 leaves the row);
2. one groupBy(gram_hash) count — the only corpus-wide shuffle, and
   it carries (hash, doc, pos) triples, never text;
3. hits (grams occurring ≥ min_occurrences times corpus-wide) flow
   into a per-document ordered window that merges overlapping /
   adjacent hits into MAXIMAL duplicated spans — the window's
   partition key is the document, so skew is bounded by document
   length, not corpus size;
4. excision is row-local again: spans collect per doc (a few ints)
   and a 2-arg `filter` drops covered token positions.

A run of m > k duplicated tokens yields m-k+1 overlapping dup grams,
which step 3 merges back into one span of length m — exactly the
maximal-match semantics of the suffix-array formulation, restricted
to matches ≥ k tokens.

Removal policy: ALL occurrences of a duplicated span are excised
(both conventions exist in the literature; Lee et al. keep one
occurrence, which requires electing a canonical copy per maximal
span — ill-defined when spans partially overlap across documents.
Removing every occurrence is deterministic, conservative for
training data, and what this operator pins down; the spans frame
gives callers everything needed to implement keep-one policies on
top).

Reference: no TCRD analogue (LLM-data-pipeline extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tcrd_spark.functions.hashing import hash60, sql_hash60
from tcrd_spark.pipeline.text import ws_tokens

def _gram_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int,
    filter_empty: bool = False,
) -> DataFrame:
    """(id, pos, gh): hash60 of the k-token gram starting at 1-based
    token position pos. Row-local; docs shorter than k emit nothing.

    `filter_empty` drops the empty tokens a leading/trailing-whitespace
    split produces, so positions index the same list as word counts
    computed over filtered tokens (gopher.py needs this: its n_words
    denominator filters, so grams must too or top/dup fractions mix
    token lists and can exceed 1). Substring dedup keeps the raw list —
    its spans must map back to the original text's token positions."""
    toks = ws_tokens(F.col(text_col))
    if filter_empty:
        toks = F.filter(toks, lambda t: t != "")
    # materialize the token array through a Generate barrier FIRST:
    # interpreted higher-order lambdas re-evaluate their subtrees per
    # element, so an inline `toks` inside the gram transform re-splits
    # the text once per gram — O(tokens²) per document. A generator's
    # output attribute can't be re-inlined (the winnow.py lesson;
    # measured there 13.6s → 1.1s at sf0.1).
    toked = df.select(
        F.col(id_col), F.explode(F.array(toks)).alias("_tk")
    )
    tk = F.col("_tk")
    grams = F.when(
        F.size(tk) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - k + 1),
            lambda i: hash60(F.concat_ws(" ", F.slice(tk, i, k))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return toked.select(
        F.col(id_col), F.posexplode(grams).alias("_p0", "gh")
    ).select(id_col, (F.col("_p0") + 1).alias("pos"), "gh")


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans: one row per (doc, span) where
    every k-gram inside the span occurs ≥ min_occurrences times in the
    whole corpus (cross-document and intra-document repeats both
    count). Returns (id, span_start, span_end, span_len) in 1-based
    inclusive token positions.

    Plan: ONE gram pass + a count-over-gh window + one ordered window
    per document for the interval merge — two corpus shuffles total,
    both carrying 8-byte hashes and int positions only. The window
    formulation (count(*) over partitionBy(gh)) replaces the previous
    groupBy(gh)+semi-join shape, which re-ran the tokenize→md5 gram
    stage on BOTH sides of the join (guide §2.2: shuffle/scan once,
    not twice); at 100 TB the window's sort-by-gh is the same work the
    sort-merge semi join did on the probe side, with one fewer
    exchange and half the gram hashing. A mega-hot gram (mass-pasted
    boilerplate) lands in ONE window task; the groupBy+semi-join shape
    that AQE skew-splits was measured slower here (1.04s vs 0.70s) and
    removed.
    """
    g = _gram_hashes(df, id_col, text_col, k)
    w = Window.partitionBy("gh")
    hits = (
        g.withColumn("_n", F.count("*").over(w))
        .filter(F.col("_n") >= min_occurrences)
        .select(id_col, "pos")
    )
    return _merge_hit_spans(hits, id_col, k)


def _merge_hit_spans(hits: DataFrame, id_col: str, k: int) -> DataFrame:
    """(id, pos) duplicated-gram hits → maximal merged spans per doc:
    one ordered window per document (skew bounded by doc length)."""
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + k - 1).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = (
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1)
        .otherwise(0)
    )
    spans = hits.select(
        id_col,
        "pos",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_span"),
    )
    return spans.groupBy(id_col, "_span").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + k - 1).alias("span_end"),
        (F.max("pos") + k - F.min("pos")).alias("span_len"),
    ).drop("_span")


def incremental_duplicate_spans(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """Maximal spans of BATCH documents that duplicate CORPUS content:
    a batch k-gram is a hit iff the identical k-token gram occurs
    anywhere in the standing corpus; hits merge into maximal spans per
    batch doc. The incremental counterpart of `duplicate_spans` —
    batch-internal repeats are the batch-level operator's job, exactly
    the verdicts-vs-corpus-only contract of
    `pipeline/corpus.incremental_near_dups`.

    Cost ∝ batch grams + one distinct over corpus gram hashes; with
    `build_gram_index` the corpus side is a persisted bucketed table
    and the probe exchange stays batch-side.
    """
    bg = _gram_hashes(batch, id_col, text_col, k)
    cg = _gram_hashes(corpus, id_col, text_col, k).select("gh").distinct()
    hits = bg.join(cg, "gh", "left_semi").select(id_col, "pos")
    return _merge_hit_spans(hits, id_col, k)


def build_gram_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    table_prefix: str,
    k: int = 8,
    n_buckets: int = 32,
) -> None:
    """Persist the corpus's distinct k-gram hashes as a bucketed table
    ``<prefix>_grams`` (gh) — the standing asset incremental substring
    probes read instead of re-hashing the corpus. Bucketed on gh: a
    batch probe join shuffles only the batch (same layout philosophy
    as corpus.build_dedup_index)."""
    from tcrd_spark.sources.lake import write_bucketed

    cg = _gram_hashes(corpus, id_col, text_col, k).select("gh").distinct()
    write_bucketed(cg, f"{table_prefix}_grams", "gh", n_buckets)


def incremental_duplicate_spans_indexed(
    batch: DataFrame,
    table_prefix: str,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """incremental_duplicate_spans against a persisted
    build_gram_index — identical results; the corpus-side gram shuffle
    was paid once at build time."""
    spark = batch.sparkSession
    cg = spark.table(f"{table_prefix}_grams")
    bg = _gram_hashes(batch, id_col, text_col, k)
    hits = bg.join(cg, "gh", "left_semi").select(id_col, "pos")
    return _merge_hit_spans(hits, id_col, k)


def excise_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Remove every duplicated ≥k-token span from every document and
    reassemble the remaining tokens in order. Returns (id, clean_text,
    n_tokens_kept, n_tokens_removed) for EVERY input document (docs
    with no duplicated spans pass through untouched).

    The span frame per doc is a handful of ints — it collects per doc
    (group sizes bounded by doc length / k) and the token filter runs
    row-local over the token array; the document body itself shuffles
    exactly once (to meet its spans).
    """
    spans = (
        duplicate_spans(df, id_col, text_col, k, min_occurrences)
        .groupBy(id_col)
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
        )
    )
    toks = ws_tokens(F.col(text_col))
    empty = F.array().cast(
        "array<struct<span_start:long,span_end:long>>"
    )
    in_span = lambda i: F.exists(  # noqa: E731 — 1-based token index i
        F.col("_spans"),
        lambda sp: (i >= sp["span_start"]) & (i <= sp["span_end"]),
    )
    kept = F.filter(toks, lambda t, i0: ~in_span(i0 + 1))
    return (
        df.join(spans, id_col, "left")
        .withColumn("_spans", F.coalesce("_spans", empty))
        .select(
            id_col,
            F.array_join(kept, " ").alias("clean_text"),
            F.size(kept).cast("long").alias("n_tokens_kept"),
            (F.size(toks) - F.size(kept)).cast("long").alias(
                "n_tokens_removed"
            ),
        )
    )


# ------------------------------------------------- registered queries

_K, _MIN_OCC = 8, 2


def q_substring_dedup(spark, sf_dir):
    """Maximal duplicated ≥8-token spans over the documents corpus."""
    from tcrd_spark.sources.lake import load_table, split_for_scan

    docs = split_for_scan(spark, load_table(spark, sf_dir, "documents"))
    return duplicate_spans(docs, "doc_id", "text",
                           k=_K, min_occurrences=_MIN_OCC)


def q_substring_excise(spark, sf_dir):
    """Documents with duplicated ≥8-token spans excised."""
    from tcrd_spark.sources.lake import load_table, split_for_scan

    docs = split_for_scan(spark, load_table(spark, sf_dir, "documents"))
    return excise_duplicate_spans(docs, "doc_id", "text",
                                  k=_K, min_occurrences=_MIN_OCC)


def q_substring_dedup_incremental(spark, sf_dir):
    """Spans of the ingest batch (doc_id % 5 == 0, the corpus_queries
    split) duplicating standing-corpus content."""
    from tcrd_spark.sources.lake import load_table, split_for_scan

    docs = split_for_scan(spark, load_table(spark, sf_dir, "documents"))
    return incremental_duplicate_spans(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        "doc_id", "text", k=_K,
    )


QUERIES = {
    "substring_dedup": q_substring_dedup,
    "substring_excise": q_substring_excise,
    "substring_dedup_incremental": q_substring_dedup_incremental,
}

_TOKS = "string_split_regex(text, '\\s+')"

# shared CTE chain: tokens → k-gram hashes → dup hashes → merged spans
_SPANS_CTES = f"""
t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
g AS (
  SELECT doc_id, unnest(
    list_transform(range(1, greatest(len(w) - {_K} + 2, 1)),
      i -> {{'pos': i,
             'gh': {sql_hash60(
                 f"array_to_string(list_slice(w, i, i + {_K} - 1), ' ')")}}}),
    recursive := true)
  FROM t
),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= {_MIN_OCC}),
h AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
m AS (
  SELECT doc_id, pos,
         max(pos + {_K} - 1) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM h
),
s AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS span_id
  FROM m
),
spans AS (
  SELECT doc_id, min(pos) AS span_start,
         max(pos) + {_K} - 1 AS span_end,
         max(pos) + {_K} - min(pos) AS span_len
  FROM s GROUP BY doc_id, span_id
)"""

ORACLE = {
    "substring_dedup": f"""
        WITH {_SPANS_CTES}
        SELECT doc_id, span_start, span_end, span_len FROM spans
    """,
    "substring_dedup_incremental": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
        g AS (
          SELECT doc_id, unnest(
            list_transform(range(1, greatest(len(w) - {_K} + 2, 1)),
              i -> {{'pos': i,
                     'gh': {sql_hash60(
                         f"array_to_string(list_slice(w, i, i + {_K} - 1), ' ')")}}}),
            recursive := true)
          FROM t
        ),
        h AS (
          SELECT b.doc_id, b.pos
          FROM (SELECT * FROM g WHERE doc_id % 5 = 0) b
          WHERE b.gh IN (SELECT gh FROM g WHERE doc_id % 5 != 0)
        ),
        m AS (
          SELECT doc_id, pos,
                 max(pos + {_K} - 1) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
          FROM h
        ),
        s AS (
          SELECT doc_id, pos,
                 sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS UNBOUNDED PRECEDING) AS span_id
          FROM m
        )
        SELECT doc_id, min(pos) AS span_start,
               max(pos) + {_K} - 1 AS span_end,
               max(pos) + {_K} - min(pos) AS span_len
        FROM s GROUP BY doc_id, span_id
    """,
    "substring_excise": f"""
        WITH {_SPANS_CTES},
        toks AS (
          SELECT doc_id, unnest(
            list_transform(range(1, len(w) + 1),
              i -> {{'pos': i, 'tok': w[i]}}),
            recursive := true)
          FROM t
        ),
        kept AS (
          SELECT tk.doc_id, tk.pos, tk.tok FROM toks tk
          WHERE NOT EXISTS (
            SELECT 1 FROM spans sp
            WHERE sp.doc_id = tk.doc_id
              AND tk.pos BETWEEN sp.span_start AND sp.span_end)
        ),
        agg AS (
          SELECT doc_id,
                 string_agg(tok, ' ' ORDER BY pos) AS clean_text,
                 count(*) AS n_tokens_kept
          FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               coalesce(a.clean_text, '') AS clean_text,
               coalesce(a.n_tokens_kept, 0) AS n_tokens_kept,
               len(t.w) - coalesce(a.n_tokens_kept, 0) AS n_tokens_removed
        FROM t LEFT JOIN agg a USING (doc_id)
    """,
}
