"""SQ8 ANN (pipeline/sq.py): reconstruction error is bounded by half
an 8-bit bucket, and recall@10 against the exact baseline is high."""

from __future__ import annotations

from pyspark.sql import functions as F

from tcrd_spark.pipeline.dedup import EMB_DIM
from tcrd_spark.pipeline.similarity import brute_force_topk
from tcrd_spark.pipeline.sq import quantize_stats, sq_dequant_frame
from tcrd_spark.sources.lake import load_table


def _qs_corpus(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return qs, corpus


def test_codes_are_8bit_and_reconstruction_bounded(spark, sf_dir):
    """The scanned corpus is the 256-level bucket centers: every
    coordinate lies within half a bucket (span_d / 512) of its input."""
    _, corpus = _qs_corpus(spark, sf_dir)
    stats = quantize_stats(corpus, "c_vec", EMB_DIM)
    deq = sq_dequant_frame(corpus, EMB_DIM).withColumnRenamed("c_vec", "dv")
    err = (
        corpus.withColumn("c_vec", F.col("c_vec").cast("array<double>"))
        .join(deq, "c_id")
        .crossJoin(F.broadcast(stats))
        .select(
            F.aggregate(
                F.zip_with(
                    F.zip_with(
                        "c_vec", "dv", lambda x, y: F.abs(x - y)
                    ),
                    "spans",
                    lambda e, s: F.when(s == 0, F.lit(0.0)).otherwise(
                        e / (s / 512)
                    ),
                ),
                F.lit(0.0),
                lambda acc, r: F.greatest(acc, r),
            ).alias("worst")
        )
        .agg(F.max("worst"))
        .collect()[0][0]
    )
    assert err <= 1.0 + 1e-9, err


def test_ivfsq_tracks_full_precision_ivf(spark, sf_dir):
    from tcrd_spark.registry import all_queries

    q = all_queries()
    ivf = q["ann_ivf"](spark, sf_dir).collect()
    ivfsq = q["ann_ivfsq"](spark, sf_dir).collect()

    def by_q(rows):
        out = {}
        for r in rows:
            out.setdefault(r["q_id"], set()).add(r["c_id"])
        return out

    t, g = by_q(ivf), by_q(ivfsq)
    # same probe cells, same inverted lists — only scores are
    # quantized, so the top-10 sets stay close
    recalls = [len(t[k] & g[k]) / len(t[k]) for k in t]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_recall_at_10_vs_exact(spark, sf_dir):
    from tcrd_spark.registry import all_queries

    qs, corpus = _qs_corpus(spark, sf_dir)
    exact = brute_force_topk(qs, corpus, EMB_DIM, k=10).collect()
    approx = all_queries()["ann_sq_topk"](spark, sf_dir).collect()
    truth = {}
    for r in exact:
        truth.setdefault(r["q_id"], set()).add(r["c_id"])
    got = {}
    for r in approx:
        got.setdefault(r["q_id"], set()).add(r["c_id"])
    recalls = [
        len(truth[q] & got[q]) / len(truth[q]) for q in truth
    ]
    # 8-bit buckets on 64 dims barely move cosine ranks
    assert sum(recalls) / len(recalls) >= 0.9, recalls
    # the self-match always survives quantization
    for q in truth:
        assert q in got[q]
