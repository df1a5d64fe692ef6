"""Interpolated trigram LM — the KenLM-fidelity upgrade of the
bigram scorer (VERDICT r7 #6). CCNet (Wenzek et al., 2020) scores
with a 5-gram KenLM; `pipeline/lm.py` is an add-one bigram. This
module closes most of that gap with a Jelinek-Mercer-interpolated
trigram — closed-form counts, fixed interpolation weights:

    P(w3 | w1 w2) = L3 * c(w1 w2 w3) / c(w1 w2)      [0 if history unseen]
                  + L2 * c(w2 w3)    / c(w2)          [0 if w2 unseen]
                  + L1 * (c(w3) + 1) / (N + V)        [add-one floor]

    nll(doc) = mean over doc trigrams of -ln P;  ppl = exp(nll)

The unigram floor keeps P > 0 everywhere, so the gate degrades
gracefully on unseen events exactly like the bigram (the mass lost
when a history is unseen is a documented scoring approximation, not a
sampling distribution — the gate compares documents, it never samples
from the model).

Train shape is the bigram module's, one order deeper: the SAME
(id, pos, w) mapped frame, ONE per-document ordered window producing
both lead(w) and lead(w, 2) (a single Window node), and three hash
aggregates (unigram/bigram/trigram counts) — all map-side combinable.
Scoring joins the trigram stream against the count tables (the bigram
table twice: once as the w1w2 history, once as the w2w3 numerator).
100 TB discipline matches lm.py: train once, persist trigrams
bucketed by (w1, w2, w3); totals ride as a one-row broadcast cross
join, never driver state.

The ccnet swap is pytest-pinned (tests/test_lm3.py): feeding
trigram NLLs through `ccnet_buckets(_labeled=...)` reproduces the
head/middle/tail split on a supermajority of documents — the gate is
stable under the scorer upgrade.

Reference parity: none (beyond-reference training-data surface, with
pipeline/lm.py, gopher.py, clf_gate.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tcrd_spark.pipeline.lm import MIN_COUNT, tokenize

L3, L2, L1 = 0.5, 0.3, 0.2


def train_trigram_lm(
    toks: DataFrame, id_col: str, min_count: int = MIN_COUNT
) -> dict[str, DataFrame]:
    """JM-interpolated trigram model from a (id, pos, tok) frame:
    ``{"unigrams": (w, c1), "bigrams": (w1, w2, c2),
    "trigrams": (w1, w2, w3, c3), "totals": 1-row (v, n)}`` — all
    lazy; persist ``trigrams`` bucketed by its key when scoring more
    than once."""
    c0 = toks.groupBy("tok").agg(F.count("*").alias("c"))
    mapped = toks.join(c0, "tok").select(
        id_col,
        "pos",
        F.when(F.col("c") >= min_count, F.col("tok"))
        .otherwise(F.lit("<unk>"))
        .alias("w"),
    )
    unigrams = mapped.groupBy("w").agg(F.count("*").alias("c1"))
    w = Window.partitionBy(id_col).orderBy("pos")
    stream = mapped.select(
        id_col,
        F.col("w").alias("w1"),
        F.lead("w").over(w).alias("w2"),
        F.lead("w", 2).over(w).alias("w3"),
    )
    bigrams = (
        stream.where(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    trigrams = (
        stream.where(F.col("w3").isNotNull())
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("c3"))
    )
    totals = unigrams.agg(
        F.count("*").alias("v"), F.sum("c1").alias("n")
    )
    return {
        "unigrams": unigrams,
        "bigrams": bigrams,
        "trigrams": trigrams,
        "totals": totals,
        "_mapped": mapped,
    }


def score_trigram_perplexity(
    toks: DataFrame,
    lm: dict[str, DataFrame],
    id_col: str,
    reuse_mapping: bool = False,
) -> DataFrame:
    """Per-document (id, n_trigrams, nll, ppl) under the trained
    model. Docs with fewer than three tokens score NULL (they form no
    trigram); unknown tokens map to <unk> by vocabulary membership —
    identical to the training mapping when scoring the training
    corpus, so self-scoring passes ``reuse_mapping=True`` to skip the
    redundant membership join (one count agg + one join saved)."""
    if reuse_mapping:
        mapped = lm["_mapped"]
    else:
        mapped = (
            toks.join(
                lm["unigrams"]
                .select(F.col("w").alias("tok"))
                .withColumn("_known", F.lit(1)),
                "tok",
                "left",
            )
            .select(
                id_col,
                "pos",
                F.when(F.col("_known").isNotNull(), F.col("tok"))
                .otherwise(F.lit("<unk>"))
                .alias("w"),
            )
        )
    w = Window.partitionBy(id_col).orderBy("pos")
    tg = (
        mapped.select(
            id_col,
            F.col("w").alias("w1"),
            F.lead("w").over(w).alias("w2"),
            F.lead("w", 2).over(w).alias("w3"),
        )
        .where(F.col("w3").isNotNull())
    )
    b = lm["bigrams"]
    h12 = b.select("w1", "w2", F.col("c2").alias("h12"))
    b23 = b.select(
        F.col("w1").alias("w2"),
        F.col("w2").alias("w3"),
        F.col("c2").alias("c23"),
    )
    u = lm["unigrams"]
    h2 = u.select(F.col("w").alias("w2"), F.col("c1").alias("h2"))
    u3 = u.select(F.col("w").alias("w3"), F.col("c1").alias("u3"))
    p = (
        F.lit(L3)
        * F.when(
            F.col("h12").isNotNull(),
            F.coalesce("c3", F.lit(0)) / F.col("h12"),
        ).otherwise(F.lit(0.0))
        + F.lit(L2)
        * F.when(
            F.col("h2").isNotNull(),
            F.coalesce("c23", F.lit(0)) / F.col("h2"),
        ).otherwise(F.lit(0.0))
        + F.lit(L1)
        * (F.coalesce("u3", F.lit(0)) + F.lit(1.0))
        / (F.col("n") + F.col("v"))
    )
    scored = (
        tg.join(lm["trigrams"], ["w1", "w2", "w3"], "left")
        .join(h12, ["w1", "w2"], "left")
        .join(b23, ["w2", "w3"], "left")
        .join(h2, "w2", "left")
        .join(u3, "w3", "left")
        .crossJoin(lm["totals"])
        .withColumn("p", p)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_trigrams"),
            F.avg(-F.log("p")).alias("_nll"),
        )
    )
    return scored.select(
        id_col,
        "n_trigrams",
        F.round("_nll", 6).alias("nll"),
        F.round(F.exp("_nll"), 4).alias("ppl"),
    )


def trigram_lang_nll(
    docs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, pred_lang, nll) — the lang_nll twin scored by the trigram
    model, drop-in for ``ccnet_buckets(_labeled=...)``."""
    from tcrd_spark.pipeline import text

    toks = tokenize(docs, id_col, text_col)
    lm = train_trigram_lm(toks, id_col)
    scored = score_trigram_perplexity(
        toks, lm, id_col, reuse_mapping=True
    ).select(id_col, F.round("nll", 6).alias("nll"))
    return docs.select(
        F.col(id_col),
        text.lang_id(F.col(text_col)).alias("pred_lang"),
    ).join(scored, id_col, "left")


# ------------------------------------------------- registered query


def q_lm_trigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-scored corpus perplexity under the interpolated trigram;
    all 500 documents survive via a left join (docs too short for a
    trigram carry NULL nll)."""
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(docs, "doc_id", "text")
    lm = train_trigram_lm(toks, "doc_id")
    scored = score_trigram_perplexity(
        toks, lm, "doc_id", reuse_mapping=True
    )
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
        "nll",
        "ppl",
    )


QUERIES = {"lm_trigram_perplexity": q_lm_trigram_perplexity}

from tcrd_spark.pipeline.lm import _LM_CTES  # noqa: E402  (shared CTEs)

ORACLE = {
    "lm_trigram_perplexity": f"""
        WITH {_LM_CTES},
        n AS (SELECT sum(c1) AS n FROM c1),
        tgs AS (
          SELECT doc_id, w AS w1,
                 lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
                 lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
          FROM m
        ),
        tg AS (SELECT * FROM tgs WHERE w3 IS NOT NULL),
        c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg GROUP BY 1, 2, 3),
        s AS (
          SELECT tg.doc_id,
                 count(*) AS n_trigrams,
                 avg(-ln(
                   {L3} * (CASE WHEN h12.c2 IS NOT NULL
                           THEN coalesce(c3.c3, 0) / h12.c2
                           ELSE 0 END)
                 + {L2} * (CASE WHEN h2.c1 IS NOT NULL
                           THEN coalesce(b23.c2, 0) / h2.c1
                           ELSE 0 END)
                 + {L1} * (coalesce(u3.c1, 0) + 1.0) / (n.n + v.v)
                 )) AS nll
          FROM tg
          LEFT JOIN c3 USING (w1, w2, w3)
          LEFT JOIN c2 h12 ON tg.w1 = h12.w1 AND tg.w2 = h12.w2
          LEFT JOIN c2 b23 ON tg.w2 = b23.w1 AND tg.w3 = b23.w2
          LEFT JOIN c1 h2 ON tg.w2 = h2.w
          LEFT JOIN c1 u3 ON tg.w3 = u3.w
          CROSS JOIN v CROSS JOIN n
          GROUP BY tg.doc_id
        )
        SELECT d.doc_id,
               coalesce(s.n_trigrams, 0) AS n_trigrams,
               round(s.nll, 6) AS nll,
               round(exp(s.nll), 4) AS ppl
        FROM documents d LEFT JOIN s USING (doc_id)
    """,
}
