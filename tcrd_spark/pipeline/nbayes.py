"""Multinomial Naive Bayes text classifier — distributed, closed-form.

Training-data pipelines route documents with cheap linear classifiers
(fastText-style quality/domain routing — e.g. the LLaMA "is this page
referenced by Wikipedia" filter). Naive Bayes is the fully closed-form
member of that family: training is two counting aggregations, scoring
is a join + sum — no gradient loop, no Python in the plan, exactly
reproducible in SQL.

    score(d, l) = ln P(l) + Σ_{tok ∈ d} ln (c(tok, l) + 1) / (tot_l + V)
    pred(d)     = argmax_l score(d, l)      (ties → label ascending)

100 TB shape: the model is (label, tok, count) — vocab×labels bounded,
broadcast at score time; scoring explodes each token occurrence by L
labels via a broadcast cross join (L is small), left-joins the model
(unseen tokens fall to the add-one floor), and partial-aggregates the
per-(doc, label) sums map-side before one shuffle on doc_id. The
argmax is a per-doc window over L rows — never a hot key.

Reference parity: no classifier exists in the reference; this extends
the beyond-reference training-data surface (SURVEY §2 LLM-pipeline
rows) next to lm.py and gopher.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def train_nb(
    docs: DataFrame, id_col: str, text_col: str, label_col: str
) -> dict[str, DataFrame]:
    """Closed-form NB fit: token-label counts, per-label totals,
    label priors, vocabulary size. All bounded by vocab × labels.

    The (label, tok, c) table is lineage-cut (JVM-side, guide §2.2;
    one rotating store slot, so repeated training pins one cut):
    counts, totals and vocab previously sat in the scoring plan as
    three independent subtrees, each re-running the tokenize→join→agg
    lineage — three full corpus passes per classify (and in
    classifier_quality_gate, three passes over the whole CCNet-label
    lineage). After the cut the model lineage executes once; totals
    and vocab are exact integer aggregates over the cut's vocab×L
    cached rows. Vocab over ctl equals vocab over the raw token
    stream: the label join is on the document's own id, so every
    token row survives it (null labels form their own ctl group)."""
    from tcrd_spark.operators.lineage import cut
    from tcrd_spark.pipeline.lm import tokenize

    toks = tokenize(docs, id_col, text_col)
    labeled = toks.join(docs.select(id_col, label_col), id_col)
    ctl = cut(
        labeled.groupBy(label_col, "tok").agg(F.count("*").alias("c")),
        "nb-counts",
    )
    totals = ctl.groupBy(label_col).agg(F.sum("c").alias("tot"))
    priors = (
        docs.groupBy(label_col)
        .agg(F.count("*").alias("n_docs"))
        .crossJoin(docs.agg(F.count("*").alias("n_all")))
        .select(
            label_col,
            F.log(F.col("n_docs") / F.col("n_all")).alias("log_prior"),
        )
    )
    vocab = ctl.agg(F.countDistinct("tok").alias("v"))
    return {"counts": ctl, "totals": totals, "priors": priors,
            "vocab": vocab, "label_col": label_col}


def classify(
    docs: DataFrame, model: dict, id_col: str, text_col: str
) -> DataFrame:
    """(id, pred, logscore) — argmax label per document under the
    fitted model; unseen tokens take the per-label add-one floor."""
    from tcrd_spark.pipeline.lm import tokenize

    lc = model["label_col"]
    toks = tokenize(docs, id_col, text_col).select(id_col, "tok")
    per_label = (
        toks.crossJoin(F.broadcast(model["totals"]))
        .join(F.broadcast(model["counts"]), [lc, "tok"], "left")
        .crossJoin(model["vocab"])
        .groupBy(id_col, lc)
        .agg(
            F.sum(
                F.log(
                    (F.coalesce("c", F.lit(0)) + F.lit(1.0))
                    / (F.col("tot") + F.col("v"))
                )
            ).alias("ll")
        )
        .join(model["priors"], lc)
        .withColumn("score", F.col("ll") + F.col("log_prior"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), lc)
    return (
        per_label.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            id_col,
            F.col(lc).alias("pred"),
            F.round("score", 4).alias("logscore"),
        )
    )


# ------------------------------------------------- registered queries


def q_nb_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-classification of documents by source: fit on the corpus,
    predict every document, report truth vs prediction."""
    from tcrd_spark.sources.lake import load_table, split_for_scan

    docs = split_for_scan(spark, load_table(spark, sf_dir, "documents"))
    model = train_nb(docs, "doc_id", "text", "source")
    pred = classify(docs, model, "doc_id", "text")
    return docs.select("doc_id", "source").join(pred, "doc_id").select(
        "doc_id",
        "source",
        "pred",
        (F.col("source") == F.col("pred")).cast("int").alias("correct"),
        "logscore",
    )


QUERIES = {"nb_classify": q_nb_classify}

_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')"

ORACLE = {
    "nb_classify": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
        tok AS (SELECT doc_id, unnest(ws) AS tok FROM t),
        dl AS (SELECT doc_id, source FROM documents),
        lab AS (SELECT source AS label, count(*) AS n_docs
                FROM documents GROUP BY 1),
        nn AS (SELECT count(*) AS n_all FROM documents),
        ctl AS (
          SELECT dl.source AS label, tok.tok, count(*) AS c
          FROM tok JOIN dl USING (doc_id) GROUP BY 1, 2
        ),
        tot AS (SELECT label, sum(c) AS tot FROM ctl GROUP BY 1),
        v AS (SELECT count(DISTINCT tok) AS v FROM tok),
        sc AS (
          SELECT tok.doc_id, lab.label,
                 sum(ln((coalesce(ctl.c, 0) + 1.0) / (tot.tot + v.v)))
                   AS ll
          FROM tok
          CROSS JOIN lab
          JOIN tot ON tot.label = lab.label
          LEFT JOIN ctl
            ON ctl.label = lab.label AND ctl.tok = tok.tok
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
        SELECT d.doc_id, d.source, b.label AS pred,
               CAST(d.source = b.label AS INT) AS correct,
               round(b.score, 4) AS logscore
        FROM documents d
        JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
    """,
}
