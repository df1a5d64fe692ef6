"""DSIR — Data Selection via Importance Resampling (Xie et al., 2023,
arXiv:2302.03169): pick raw-corpus documents that look like a target
domain by importance weights over hashed n-gram features.

    features(d)   = unigrams(d) ∪ bigrams(d), hashed into B buckets
    p̂_b, q̂_b     = add-½-smoothed bucket frequencies of the target /
                    raw corpora
    log w(d)      = Σ_{g ∈ features(d)} [ln p̂_bucket(g) − ln q̂_bucket(g)]
    selection     = top-k by log w(d) + Gumbel noise  (Gumbel-top-k ==
                    sampling without replacement ∝ w, Vieira 2014)

100 TB shape: the feature space is CLOSED (B buckets, default 2^10
here / 10^4 in the paper), so both distributions are one explode +
partial-agg'd hash aggregate emitting ≤B rows — the log-ratio table is
kilobytes and broadcasts. Scoring is the same explode joined to that
broadcast, then a per-document sum whose partial aggregation collapses
gram rows to one row per doc map-side (grams of a doc never leave its
partition before the agg). Selection is TakeOrderedAndProject — a
per-partition top-k heap merged on the driver, never a global sort.
The Gumbel noise is a deterministic hash → both engines replay the
identical sample (no RNG state, resumable at any scale).

Reference parity: the reference has no data-selection stage; this is
part of the LLM-training-data extension surface (SURVEY.md §2,
corpus-construction family) next to quality_quantile_filter (absolute
score cut) and domain_mixture_sample (per-domain temperature quotas) —
DSIR is the distribution-matching third of that toolbox.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.functions.hashing import hash60

B = 1024  # hashed feature buckets (paper: 10^4; small here for sf dirs)
TARGET_SOURCES = ("src0", "src1")  # registered query's "domain" corpus
SAMPLE_K = 100
_U_DEN = float((1 << 60) + 1)  # hash60 ∈ [0, 2^60) → u ∈ (0, 1)


def _grams_sql(text_expr: str) -> str:
    """Unigrams + space-joined bigrams of the lowercased, empty-filtered
    whitespace tokens — row-local, whole-stage-codegen'd. ONE SQL parse
    (r12, guide §4): the Column-built chain cost ~700 py4j round-trips
    per construction; the parsed tree and values are identical (pinned
    by tests/test_dsir.py)."""
    t = f"transform(filter(split({text_expr}, '\\\\s+'), t -> t != ''), t -> lower(t))"
    bigrams = (
        f"CASE WHEN size({t}) >= 2 THEN "
        f"zip_with(slice({t}, 1, size({t}) - 1), "
        f"slice({t}, 2, size({t}) - 1), (a, b) -> concat(a, ' ', b)) "
        f"ELSE cast(array() as array<string>) END"
    )
    return f"concat({t}, {bigrams})"


def feature_buckets(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, bucket) — one row per gram occurrence, bucket ∈ [0, B)."""
    from tcrd_spark.functions.hashing import spark_hash60

    return docs.select(
        F.col(id_col),
        F.explode(F.expr(_grams_sql(f"`{text_col}`"))).alias("_gram"),
    ).select(
        id_col,
        F.expr(f"pmod({spark_hash60('_gram')}, {B})").alias("bucket"),
    )


def bucket_log_ratio(
    target: DataFrame, raw: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(bucket, log_ratio) for every bucket in [0, B): the broadcastable
    importance table ln p̂_b − ln q̂_b with add-½ smoothing."""
    spark = target.sparkSession

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            feature_buckets(df, id_col, text_col)
            .groupBy("bucket")
            .agg(F.count("*").alias(name))
        )

    tgt = counts(target, "ct")
    raw_c = counts(raw, "cr")
    totals = tgt.agg(F.sum("ct").alias("t_total")).crossJoin(
        raw_c.agg(F.sum("cr").alias("r_total"))
    )
    buckets = spark.range(B).select(F.col("id").alias("bucket"))
    return (
        buckets.join(tgt, "bucket", "left")
        .join(raw_c, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 0.5)
                    / (F.col("t_total") + 0.5 * B)
                )
                - F.log(
                    (F.coalesce(F.col("cr"), F.lit(0)) + 0.5)
                    / (F.col("r_total") + 0.5 * B)
                )
            ).alias("log_ratio"),
        )
    )


def dsir_log_weights(
    raw: DataFrame, ratio: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, n_grams, log_w): per-document importance weight — the
    gram explode joined to the broadcast ratio table, partial-agg'd
    back to one row per document."""
    return (
        feature_buckets(raw, id_col, text_col)
        .join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.round(F.sum("log_ratio"), 6).alias("log_w"),
        )
    )


def gumbel_key(id_col, log_w) -> F.Column:
    """log w + Gumbel(0,1) with u from a deterministic salted hash —
    Gumbel-top-k selection both engines reproduce exactly."""
    u = (
        hash60(F.concat(F.lit("dsir|"), F.col(id_col).cast("string")))
        + F.lit(1)
    ) / F.lit(_U_DEN)
    return log_w + -F.log(-F.log(u))


def dsir_sample(weights: DataFrame, id_col: str, k: int) -> DataFrame:
    """Top-k by perturbed weight — sampling without replacement ∝ w."""
    keyed = weights.select(
        id_col,
        "log_w",
        F.round(gumbel_key(id_col, F.col("log_w")), 6).alias("gumbel_key"),
    )
    return keyed.orderBy(F.desc("gumbel_key"), F.col(id_col)).limit(k)


# ------------------------------------------------- registered queries


def _weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tcrd_spark.sources.lake import load_table, split_for_scan

    # spread the md5-heavy gram hashing across tasks
    docs = split_for_scan(spark, load_table(spark, sf_dir, "documents"))
    target = docs.filter(F.col("source").isin(*TARGET_SOURCES))
    ratio = bucket_log_ratio(target, docs, "doc_id", "text")
    return dsir_log_weights(docs, ratio, "doc_id", "text")


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight against the src0/src1
    target domain (hashed uni+bigram features, B=1024)."""
    return _weights(spark, sf_dir)


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k DSIR selection: the k=100 documents sampled
    without replacement ∝ exp(log_w), deterministically."""
    return dsir_sample(_weights(spark, sf_dir), "doc_id", SAMPLE_K)


QUERIES = {
    "dsir_weights": q_dsir_weights,
    "dsir_sample": q_dsir_sample,
}


_TOKS = (
    "list_transform(list_filter(string_split_regex(text, '\\s+'), "
    "t -> t != ''), t -> lower(t))"
)

_DSIR_CTES = f"""
t AS (SELECT doc_id, source, {_TOKS} AS ws FROM documents),
g AS (
  SELECT doc_id, source,
         unnest(list_concat(
             ws,
             list_transform(range(1, len(ws)),
                            i -> ws[i] || ' ' || ws[i + 1]))) AS gram
  FROM t
),
gb AS (
  SELECT doc_id, source,
         CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) % {B}
             AS bucket
  FROM g
),
tc AS (SELECT bucket, count(*) AS ct FROM gb
       WHERE source IN {TARGET_SOURCES} GROUP BY 1),
rc AS (SELECT bucket, count(*) AS cr FROM gb GROUP BY 1),
tot AS (SELECT (SELECT sum(ct) FROM tc) AS t_total,
               (SELECT sum(cr) FROM rc) AS r_total),
ratio AS (
  SELECT b.range AS bucket,
         ln((coalesce(tc.ct, 0) + 0.5) / (tot.t_total + 0.5 * {B}))
         - ln((coalesce(rc.cr, 0) + 0.5) / (tot.r_total + 0.5 * {B}))
             AS log_ratio
  FROM range({B}) b
  LEFT JOIN tc ON b.range = tc.bucket
  LEFT JOIN rc ON b.range = rc.bucket
  CROSS JOIN tot
),
w AS (
  SELECT gb.doc_id,
         count(*) AS n_grams,
         round(sum(ratio.log_ratio), 6) AS log_w
  FROM gb JOIN ratio USING (bucket)
  GROUP BY 1
)
"""

ORACLE = {
    "dsir_weights": f"WITH {_DSIR_CTES} SELECT * FROM w",
    "dsir_sample": f"""
        WITH {_DSIR_CTES}
        SELECT doc_id, log_w,
               round(log_w + -ln(-ln(
                   (CAST(concat('0x', substr(md5('dsir|' ||
                        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                    + 1) / {_U_DEN!r})), 6) AS gumbel_key
        FROM w
        ORDER BY gumbel_key DESC, doc_id
        LIMIT {SAMPLE_K}
    """,
}
