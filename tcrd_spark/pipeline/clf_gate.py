"""Model-based quality gate — the classifier-filtering pattern current
pipelines use (fastText quality classifiers, FineWeb-Edu's scorer):
train a cheap text classifier on WEAK labels from an existing quality
signal, then gate the whole corpus by its predictions. Here the weak
labels are the CCNet perplexity extremes (head = 'good', tail =
'bad'; the middle/unscored docs are deliberately NOT trained on —
that is the point: the classifier generalizes the extremes' lexical
profile to the ambiguous middle), and the classifier is the existing
closed-form multinomial NB (`pipeline/nbayes.py`).

Output: every document with its predicted class, log-score, and the
keep verdict (pred == 'good').

100 TB shape: the label pass is the ccnet_buckets plan (train-once
LM + one grouped percentile); NB fit is two counting aggregates over
the EXTREMES only; scoring is a broadcast-model join + map-side
partial agg + a 2-row-per-doc argmax window. Everything reuses the
session-memoized (lang, nll) frame the standalone ccnet query caches.

Reference parity: none (extension; SURVEY §2 corpus-construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GOOD, BAD = "good", "bad"


def classifier_quality_gate(
    docs: DataFrame,
    buckets: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, pred, logscore, keep): NB trained on bucket extremes
    (head -> good, tail -> bad), applied to every document."""
    from tcrd_spark.pipeline.nbayes import classify, train_nb

    labels = buckets.filter(
        F.col("bucket").isin("head", "tail")
    ).select(
        id_col,
        F.when(F.col("bucket") == "head", F.lit(GOOD))
        .otherwise(F.lit(BAD))
        .alias("label"),
    )
    train = docs.join(labels, id_col).select(id_col, text_col, "label")
    model = train_nb(train, id_col, text_col, "label")
    pred = classify(docs, model, id_col, text_col)
    return pred.select(
        id_col,
        "pred",
        "logscore",
        (F.col("pred") == GOOD).cast("int").alias("keep"),
    )


# ------------------------------------------------- registered query


def q_classifier_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB quality gate over the corpus, weak labels from the CCNet
    perplexity tertiles (shares the standalone query's session memo)."""
    from tcrd_spark.pipeline.ccnet import ccnet_buckets, lang_nll
    from tcrd_spark.session import memo
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    labeled = memo(
        spark, "ccnet-labeled", sf_dir,
        lambda: lang_nll(docs, "doc_id", "text").cache(),
    )
    buckets = ccnet_buckets(docs, "doc_id", "text", _labeled=labeled)
    return classifier_quality_gate(docs, buckets, "doc_id", "text")


QUERIES = {"classifier_quality_gate": q_classifier_quality_gate}


def _oracle() -> str:
    from tcrd_spark.pipeline.ccnet import ORACLE as CCNET_ORACLE

    toks = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')"
    return f"""
        WITH cbuck AS MATERIALIZED ({CCNET_ORACLE["ccnet_buckets"]}),
        trn AS MATERIALIZED (
          SELECT d.doc_id, d.text,
                 CASE WHEN c.bucket = 'head' THEN '{GOOD}'
                      ELSE '{BAD}' END AS label
          FROM documents d JOIN cbuck c USING (doc_id)
          WHERE c.bucket IN ('head', 'tail')
        ),
        ttok AS (
          SELECT doc_id, unnest({toks}) AS tok FROM trn
        ),
        lab AS (SELECT label, count(*) AS n_docs FROM trn GROUP BY 1),
        nn AS (SELECT count(*) AS n_all FROM trn),
        ctl AS (
          SELECT trn.label, ttok.tok, count(*) AS c
          FROM ttok JOIN trn USING (doc_id) GROUP BY 1, 2
        ),
        tot AS (SELECT label, sum(c) AS tot FROM ctl GROUP BY 1),
        v AS (SELECT count(DISTINCT tok) AS v FROM ttok),
        atok AS (
          SELECT doc_id, unnest({toks}) AS tok FROM documents
        ),
        sc AS (
          SELECT atok.doc_id, lab.label,
                 sum(ln((coalesce(ctl.c, 0) + 1.0) / (tot.tot + v.v)))
                   AS ll
          FROM atok
          CROSS JOIN lab
          JOIN tot ON tot.label = lab.label
          LEFT JOIN ctl
            ON ctl.label = lab.label AND ctl.tok = atok.tok
          CROSS JOIN v
          GROUP BY 1, 2
        ),
        scored AS (
          SELECT sc.doc_id, sc.label,
                 sc.ll + ln(lab.n_docs * 1.0 / nn.n_all) AS score
          FROM sc JOIN lab ON sc.label = lab.label CROSS JOIN nn
        ),
        best AS (
          SELECT doc_id, label, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, label) AS rn
          FROM scored
        )
        SELECT doc_id, label AS pred, round(score, 4) AS logscore,
               CAST(label = '{GOOD}' AS INT) AS keep
        FROM best WHERE rn = 1
    """


ORACLE = {"classifier_quality_gate": _oracle()}
