"""Statistical language-model quality scoring (CCNet-style).

A training-data pipeline scores every document with a small LM and
filters (or buckets) on perplexity — the CCNet recipe (Wenzek et al.,
2020) uses a KenLM 5-gram; the distributed re-expression here trains an
add-one-smoothed bigram LM over the corpus itself and scores each
document by mean negative log-likelihood:

    P(w2 | w1) = (c(w1, w2) + 1) / (c(w1) + V)
    nll(doc)   = mean over doc bigrams of -ln P(w2 | w1)
    ppl(doc)   = exp(nll)

Tokens below ``min_count`` occurrences map to ``<unk>`` first, so V is
the closed vocabulary size and the model table is bounded.

Everything is built-in column expressions — no Python in the plan.

100 TB shape: train = two hash aggs (unigram, bigram counts) plus one
ordered window per document for bigram formation (documents are
bounded, so a per-doc window partition is one doc — never a hot key);
score = joins against the model tables. The model is corpus-global:
train once, persist ``bigrams`` bucketed by (w1, w2) and reuse across
scoring runs — scoring then pays one shuffle for its own bigram
formation and joins map-side against broadcast unigrams (vocab-sized)
and the bucketed bigram table. Nothing is driver-side except no state
at all: V rides as a one-row frame through a broadcast cross join.

Reference parity: the reference has no LM scorer; this is part of the
beyond-reference training-data surface (SURVEY §2 LLM-pipeline rows),
alongside gopher.py and text.py quality gates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# drop tokens rarer than this to <unk> (closes the vocabulary)
MIN_COUNT = 2


def tokenize(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, tok) — lowercased whitespace tokens with position."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    return docs.select(
        id_col, F.posexplode(toks).alias("pos", "tok")
    )


def train_bigram_lm(
    toks: DataFrame, id_col: str, min_count: int = MIN_COUNT
) -> dict[str, DataFrame]:
    """Add-one bigram LM from a (id, pos, tok) frame.

    Returns ``{"unigrams": (w, c1), "bigrams": (w1, w2, c2),
    "vocab": 1-row (v)}`` — all lazy; persist ``bigrams`` bucketed by
    (w1, w2) when scoring more than once.
    """
    c0 = toks.groupBy("tok").agg(F.count("*").alias("c"))
    mapped = (
        toks.join(c0, "tok")
        .select(
            id_col,
            "pos",
            F.when(F.col("c") >= min_count, F.col("tok"))
            .otherwise(F.lit("<unk>"))
            .alias("w"),
        )
    )
    unigrams = mapped.groupBy("w").agg(F.count("*").alias("c1"))
    w = Window.partitionBy(id_col).orderBy("pos")
    bigrams_stream = (
        mapped.withColumn("w2", F.lead("w").over(w))
        .where(F.col("w2").isNotNull())
        .select(id_col, F.col("w").alias("w1"), "w2")
    )
    bigrams = bigrams_stream.groupBy("w1", "w2").agg(
        F.count("*").alias("c2")
    )
    vocab = unigrams.agg(F.count("*").alias("v"))
    return {
        "unigrams": unigrams,
        "bigrams": bigrams,
        "vocab": vocab,
        "_mapped": mapped,
    }


def score_perplexity(
    toks: DataFrame, lm: dict[str, DataFrame], id_col: str
) -> DataFrame:
    """Per-document (id, n_bigrams, nll, ppl) under the trained LM.

    Unseen events degrade gracefully (left joins + add-one floor):
    unseen bigram → c2 = 0; unseen history → c1 = 0 ⇒ P = 1/V. Docs
    with fewer than two tokens score NULL.
    """
    c0 = toks.groupBy("tok").agg(F.count("*").alias("c"))
    mapped = (
        toks.join(c0, "tok")
        .join(
            lm["unigrams"].select(F.col("w").alias("tok")).withColumn(
                "_known", F.lit(1)
            ),
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
    bg = (
        mapped.withColumn("w2", F.lead("w").over(w))
        .where(F.col("w2").isNotNull())
        .select(id_col, F.col("w").alias("w1"), "w2")
    )
    scored = (
        bg.join(lm["bigrams"], ["w1", "w2"], "left")
        .join(
            lm["unigrams"].withColumnRenamed("w", "w1"), "w1", "left"
        )
        .crossJoin(lm["vocab"])
        .withColumn(
            "p",
            (F.coalesce("c2", F.lit(0)) + F.lit(1.0))
            / (F.coalesce("c1", F.lit(0)) + F.col("v")),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.avg(-F.log("p")).alias("_nll"),
        )
    )
    return scored.select(
        id_col,
        "n_bigrams",
        F.round("_nll", 6).alias("nll"),
        F.round(F.exp("_nll"), 4).alias("ppl"),
    )


# ------------------------------------------------- registered queries


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-scored corpus perplexity: train the bigram LM on documents
    and score every document; all 500 rows survive via a left join."""
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(docs, "doc_id", "text")
    lm = train_bigram_lm(toks, "doc_id")
    scored = score_perplexity(toks, lm, "doc_id")
    return docs.select("doc_id").join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        "nll",
        "ppl",
    )


def q_lm_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 50 most frequent bigrams with their smoothed conditional
    log-probability — the model head a pipeline would eyeball."""
    from tcrd_spark.sources.lake import load_table

    toks = tokenize(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    lm = train_bigram_lm(toks, "doc_id")
    return (
        lm["bigrams"]
        .join(lm["unigrams"].withColumnRenamed("w", "w1"), "w1")
        .crossJoin(lm["vocab"])
        .select(
            "w1",
            "w2",
            "c2",
            F.round(
                F.log(
                    (F.col("c2") + F.lit(1.0))
                    / (F.col("c1") + F.col("v"))
                ),
                6,
            ).alias("logp"),
        )
        .orderBy(F.desc("c2"), "w1", "w2")
        .limit(50)
    )


QUERIES = {
    "lm_perplexity": q_lm_perplexity,
    "lm_top_bigrams": q_lm_top_bigrams,
}

_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')"

_LM_CTES = f"""
t AS (SELECT doc_id, {_TOKS} AS ws FROM documents),
tok AS (
  SELECT doc_id, unnest(
    list_transform(range(1, len(ws) + 1),
                   i -> {{'pos': i, 'tok': ws[i]}}),
    recursive := true)
  FROM t
),
c0 AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
m AS (
  SELECT doc_id, pos,
         CASE WHEN c >= {MIN_COUNT} THEN tok ELSE '<unk>' END AS w
  FROM tok JOIN c0 USING (tok)
),
c1 AS (SELECT w, count(*) AS c1 FROM m GROUP BY 1),
v AS (SELECT count(*) AS v FROM c1),
bgs AS (
  SELECT doc_id, w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM m
),
bg AS (SELECT * FROM bgs WHERE w2 IS NOT NULL),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2)
"""

ORACLE = {
    "lm_perplexity": f"""
        WITH {_LM_CTES},
        s AS (
          SELECT bg.doc_id,
                 count(*) AS n_bigrams,
                 avg(-ln((c2.c2 + 1.0) / (c1.c1 + v.v))) AS nll
          FROM bg
          JOIN c2 USING (w1, w2)
          JOIN c1 ON bg.w1 = c1.w
          CROSS JOIN v
          GROUP BY bg.doc_id
        )
        SELECT d.doc_id,
               coalesce(s.n_bigrams, 0) AS n_bigrams,
               round(s.nll, 6) AS nll,
               round(exp(s.nll), 4) AS ppl
        FROM documents d LEFT JOIN s USING (doc_id)
    """,
    "lm_top_bigrams": f"""
        WITH {_LM_CTES}
        SELECT c2.w1, c2.w2, c2.c2,
               round(ln((c2.c2 + 1.0) / (c1.c1 + v.v)), 6) AS logp
        FROM c2 JOIN c1 ON c2.w1 = c1.w CROSS JOIN v
        ORDER BY c2.c2 DESC, c2.w1, c2.w2
        LIMIT 50
    """,
}
