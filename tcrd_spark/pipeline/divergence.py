"""Distribution divergence between corpus slices: per-source KL and
Jensen-Shannon divergence of the unigram distribution against the
whole-corpus distribution.

The training-data monitoring primitive: a source whose token
distribution drifts from the corpus (new crawl snapshot, changed
boilerplate, a contaminated shard) shows up as a KL/JS spike long
before a model regresses on it. CCNet-style pipelines gate ingestion
on exactly this kind of statistic; DSIR (`pipeline/dsir.py`) uses the
same log-ratio quantity per-document — this operator is the per-SLICE
aggregate view.

    p_s(t) = (n_{s,t} + ½) / (N_s + ½V)     add-½ smoothing over the
    q(t)   = (n_t + ½) / (N + ½V)           shared vocab V
    KL(p_s ‖ q)  = Σ_t p_s(t) ln(p_s(t)/q(t))
    JS(p_s, q)   = ½ KL(p_s ‖ m) + ½ KL(q ‖ m),  m = (p_s + q)/2
                   (bounded in [0, ln 2]; symmetric, defined even for
                   disjoint supports)

100 TB shape: ONE token-explode feeding a map-side-combinable
(source, token) count — the only corpus-sized shuffle; everything
after operates on the |S|×|V| grid. Vocab is bounded in practice by a
min-count cut (the lm.py discipline) so the grid is broadcast-sized;
per-source totals and the corpus totals ride 1-row broadcasts. The
divergence sums fold in sorted order (TIN-X trade) so Spark and the
DuckDB oracle add doubles identically — production flag is a plain
sum.

Reference parity: none (the reference has no distribution monitoring);
LLM-pipeline extension surface (SURVEY.md §2, corpus-construction
family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.functions.folds import sorted_fold_sum
from tcrd_spark.pipeline.text import ws_tokens


def _token_counts(docs: DataFrame, slice_col: str, text_col: str) -> DataFrame:
    """(slice, token, n): one explode, map-side-combined count."""
    toks = F.transform(
        F.filter(ws_tokens(F.col(text_col)), lambda t: t != ""), F.lower
    )
    return (
        docs.select(F.col(slice_col).alias("slice"), F.explode(toks).alias("token"))
        .groupBy("slice", "token")
        .agg(F.count("*").alias("n"))
    )


def divergence_by_slice(
    docs: DataFrame, slice_col: str, text_col: str, exact_fold: bool = True
) -> DataFrame:
    """(slice, n_tokens, kl_vs_corpus, js_vs_corpus), rounded to 6."""
    counts = _token_counts(docs, slice_col, text_col)
    vocab = counts.select("token").distinct()
    slices = counts.select("slice").distinct()
    slice_tot = counts.groupBy("slice").agg(F.sum("n").alias("n_s"))
    corpus = counts.groupBy("token").agg(F.sum("n").alias("n_t"))
    totals = counts.agg(F.sum("n").alias("n_all")).crossJoin(
        vocab.agg(F.count("*").alias("v"))
    )
    grid = (
        slices.crossJoin(vocab)
        .join(counts, ["slice", "token"], "left")
        .join(F.broadcast(corpus), "token")
        .join(F.broadcast(slice_tot), "slice")
        .crossJoin(F.broadcast(totals))
    )
    p = (F.coalesce(F.col("n"), F.lit(0)) + 0.5) / (F.col("n_s") + 0.5 * F.col("v"))
    q = (F.col("n_t") + 0.5) / (F.col("n_all") + 0.5 * F.col("v"))
    m = (p + q) / 2
    terms = grid.select(
        "slice",
        "n_s",
        (p * F.log(p / q)).alias("kl_term"),
        (0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)).alias("js_term"),
    )
    kl = sorted_fold_sum("kl_term") if exact_fold else F.sum("kl_term")
    js = sorted_fold_sum("js_term") if exact_fold else F.sum("js_term")
    return terms.groupBy("slice").agg(
        F.max("n_s").alias("n_tokens"),
        F.round(kl, 6).alias("kl_vs_corpus"),
        F.round(js, 6).alias("js_vs_corpus"),
    )


# ------------------------------------------------- registered queries


def q_corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL / JS divergence against the whole corpus
    (add-½ smoothing over the shared vocab)."""
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    return divergence_by_slice(docs, "source", "text")


QUERIES = {"corpus_divergence": q_corpus_divergence}

_TOKS = (
    "list_transform(list_filter(string_split_regex(text, '\\s+'), "
    "t -> t != ''), t -> lower(t))"
)

ORACLE = {
    "corpus_divergence": f"""
        WITH counts AS (
            SELECT source AS slice, unnest({_TOKS}) AS token
            FROM documents
        ),
        c AS (SELECT slice, token, count(*) AS n FROM counts GROUP BY 1, 2),
        vocab AS (SELECT DISTINCT token FROM c),
        slices AS (SELECT DISTINCT slice FROM c),
        st AS (SELECT slice, CAST(sum(n) AS BIGINT) AS n_s
               FROM c GROUP BY 1),
        ct AS (SELECT token, sum(n) AS n_t FROM c GROUP BY 1),
        tot AS (SELECT (SELECT sum(n) FROM c) AS n_all,
                       (SELECT count(*) FROM vocab) AS v),
        grid AS (
            SELECT s.slice, vb.token,
                   coalesce(c.n, 0) AS n, ct.n_t, st.n_s, tot.n_all, tot.v
            FROM slices s CROSS JOIN vocab vb
            LEFT JOIN c ON c.slice = s.slice AND c.token = vb.token
            JOIN ct ON ct.token = vb.token
            JOIN st ON st.slice = s.slice
            CROSS JOIN tot
        ),
        terms AS (
            SELECT slice, n_s,
                   ((n + 0.5) / (n_s + 0.5 * v))
                     * ln(((n + 0.5) / (n_s + 0.5 * v))
                          / ((n_t + 0.5) / (n_all + 0.5 * v))) AS kl_term,
                   0.5 * ((n + 0.5) / (n_s + 0.5 * v))
                     * ln(((n + 0.5) / (n_s + 0.5 * v))
                          / ((((n + 0.5) / (n_s + 0.5 * v))
                              + ((n_t + 0.5) / (n_all + 0.5 * v))) / 2))
                   + 0.5 * ((n_t + 0.5) / (n_all + 0.5 * v))
                     * ln(((n_t + 0.5) / (n_all + 0.5 * v))
                          / ((((n + 0.5) / (n_s + 0.5 * v))
                              + ((n_t + 0.5) / (n_all + 0.5 * v))) / 2))
                       AS js_term
            FROM grid
        )
        SELECT slice,
               max(n_s) AS n_tokens,
               round(list_reduce(list_prepend(0.0, list_sort(list(kl_term))),
                                 (a, x) -> a + x), 6) AS kl_vs_corpus,
               round(list_reduce(list_prepend(0.0, list_sort(list(js_term))),
                                 (a, x) -> a + x), 6) AS js_vs_corpus
        FROM terms GROUP BY slice
    """,
}
