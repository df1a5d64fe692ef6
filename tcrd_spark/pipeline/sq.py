"""Scalar-quantized (SQ8) ANN — the memory-compression scale path.

At 100 TB the embedding column dominates storage: 64 float64 = 512
bytes/vector. SQ8 stores one uint8 code per dimension (64 bytes, 8×
smaller), learned from per-dimension [min, max] ranges:

    code_d   = min(255, ⌊(x_d − mn_d) / span_d · 256⌋)
    center_d = mn_d + (code_d + 0.5) / 256 · span_d

Search is ASYMMETRIC (Faiss SQ convention): queries stay full
precision, corpus vectors are dequantized to bucket centers (one
fused encode∘decode expression, `_centers_expr`), so the scan reads
64-byte codes, not 512-byte vectors. The retrieval is the family's
core (similarity.py) over the reconstructed corpus: `ann_sq_topk` is
`brute_force_topk` on it, and `ann_ivfsq` is the exact probed scan
over SQ-coded inverted lists — candidates × exact scorer ×
`operators/topk.top_k`, the same WindowGroupLimit plan. The IVF
composition is the full Faiss-style IVF+SQ pipeline: the cell scan
reads n_probe/n_cells of a table 8× smaller.

Determinism is engineered like the rest of the similarity family:
range stats are exact min/max aggregates (order-independent), the
quantize/dequantize expressions are the same left-assoc double ops on
both engines, and the dot fold is the unrolled `dedup.dot`. Even the
quantization error is therefore bit-identical in DuckDB, and the
query is fully oracle-adjudicated (`ann_sq_topk`). Recall vs the
exact baseline is pytest-bounded (tests/test_sq.py).

Everything is JVM column expressions, no Python: the dot is unrolled,
and the quantizer is one zip_with pair per vector (`_centers_expr`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.operators.topk import top_k
from tcrd_spark.pipeline.dedup import EMB_DIM, oracle_dot
from tcrd_spark.pipeline.similarity import (
    _exact,
    _probe_cells,
    _probed,
    assign_cells,
    brute_force_topk,
    panel,
)
from tcrd_spark.session import memo

# codes per dimension: 8-bit
_LEVELS = 256


def quantize_stats(corpus: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """One-row (mins, spans) double arrays — per-dimension ranges.
    Exact min/max: order-independent, so engine-reproducible.

    posexplode + groupBy(d): the explode is map-side and the partial
    aggregate reduces every partition to dim rows BEFORE the exchange,
    so the shuffle is dim × n_partitions scalars regardless of corpus
    size. (The tempting 2·dim-scalar-aggregates-in-one-pass form was
    measured 3× slower end-to-end: 128 separate agg expressions cost
    seconds of py4j plan construction + codegen at ANY data size.)"""
    dims = (
        corpus.select(
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "d", "x"
            )
        )
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    return dims.agg(
        F.array_sort(F.collect_list(F.struct("d", "mn", "mx"))).alias("a")
    ).select(
        F.transform("a", lambda z: z["mn"]).alias("mins"),
        F.transform("a", lambda z: z["mx"] - z["mn"]).alias("spans"),
    )


def _centers_expr(vec_col: str = "c_vec"):
    """Fused encode∘dequantize via zip_with (center_i is a pure
    function of (x_i, mn_i, span_i)) — SMALL expression trees. The
    wide unrolled form made Catalyst's CollapseProject inline the
    64-element array constructor into each of the 128 element_at
    terms of the downstream dot (measured: +10s of pure
    planning/codegen at ANY data size). Expects `mins`/`spans`
    columns from quantize_stats alongside `vec_col`."""
    v = F.col(vec_col).cast("array<double>")
    paired = F.zip_with(
        v, F.col("mins"), lambda x, m: F.struct(x.alias("x"), m.alias("m"))
    )
    return F.zip_with(
        paired,
        F.col("spans"),
        lambda z, s: F.when(s == 0, z["m"]).otherwise(
            z["m"]
            + (
                F.least(
                    F.lit(_LEVELS - 1),
                    F.floor((z["x"] - z["m"]) / s * _LEVELS).cast("int"),
                )
                + F.lit(0.5)
            )
            / F.lit(_LEVELS)
            * s
        ),
    )


def sq_dequant_frame(corpus: DataFrame, dim: int) -> DataFrame:
    """(c_id, c_vec): the corpus reconstructed to SQ8 bucket centers —
    the table the asymmetric scan reads. Uncached: `ann_sq_topk` keeps
    one cached copy in the store, the single-session stand-in for the
    persisted codes, which also stops the optimizer from substituting
    the center expression into every dot term of the scorer."""
    stats = quantize_stats(corpus, "c_vec", dim)
    return corpus.crossJoin(F.broadcast(stats)).select(
        "c_id", _centers_expr().alias("c_vec")
    )


# ------------------------------------------------- registered queries

# The cached SQ code tables stand in for the persisted index, so the
# registered queries memoize them in the session memo store (slot =
# kind, key = sf_dir): repeated invocations (bench min-of-3 reps, the
# threaded oracle sweep) reuse ONE cached DataFrame instead of caching
# a fresh copy per call and accumulating executor storage (ADVICE r5
# #3) — one entry per slot, like the persisted index it models.
def q_ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 cosine top-10 for the standard 5-query panel (vec_id < 5),
    corpus = every embedding, quantized."""
    corpus, qs, _ = panel(spark, sf_dir)
    deq = memo(
        spark, "sq", sf_dir,
        lambda: sq_dequant_frame(corpus, EMB_DIM).cache(),
    )
    return brute_force_topk(qs, deq, EMB_DIM, k=10)


def q_ann_ivfsq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed Faiss pipeline: IVF cell assignment on the
    full-precision vectors (the index build), SQ8 codes inside the
    inverted lists, asymmetric scoring of the probed cells — the scan
    a 100 TB deployment runs (n_probe/n_cells of a table 8× smaller).
    Same deterministic first-8 centroids / probe-2 contract as
    `ann_ivf`, so the two queries differ ONLY by quantization."""
    corpus, qs, cents = panel(spark, sf_dir)
    assigned = assign_cells(corpus, cents, EMB_DIM).select(
        "c_id", "c_vec", "cell_id"
    )
    stats = quantize_stats(corpus, "c_vec", EMB_DIM)

    # the SQ-coded inverted lists — the memoized cache() stands in for
    # the persisted cell-partitioned code table (see q_ann_sq_topk)
    def _build_lists() -> DataFrame:
        return (
            assigned.crossJoin(F.broadcast(stats))
            .select("c_id", "cell_id", _centers_expr().alias("c_vec"))
            .withColumn(
                "c_vec_nrm",
                F.sqrt(
                    F.aggregate(
                        F.zip_with("c_vec", "c_vec", lambda a, b: a * b),
                        F.lit(0.0),
                        lambda acc, t: acc + t,
                    )
                ),
            )
            .cache()
        )

    lists = memo(spark, "ivfsq", sf_dir, _build_lists)
    probes = _probe_cells(qs, cents, EMB_DIM, n_probe=2)
    return top_k(_exact(_probed(lists, probes), EMB_DIM), 10)


QUERIES = {"ann_sq_topk": q_ann_sq_topk, "ann_ivfsq": q_ann_ivfsq}


_DEQ = f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dims AS (
  SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
  FROM e CROSS JOIN range(1, {EMB_DIM} + 1) r(i)
  GROUP BY i
),
stats AS (
  SELECT array_agg(mn ORDER BY i) AS mins,
         array_agg(mx - mn ORDER BY i) AS spans
  FROM dims
),
enc AS (
  SELECT vec_id,
         list_transform(range(1, {EMB_DIM} + 1), i ->
           CASE WHEN spans[i] = 0 THEN 0
                ELSE least({_LEVELS - 1},
                           CAST(floor((v[i] - mins[i]) / spans[i]
                                      * {_LEVELS}) AS INT))
           END) AS codes
  FROM e CROSS JOIN stats
),
deq AS (
  SELECT vec_id,
         list_transform(range(1, {EMB_DIM} + 1), i ->
           mins[i] + (codes[i] + 0.5) / {_LEVELS} * spans[i]) AS dv
  FROM enc CROSS JOIN stats
),
dn AS (
  SELECT vec_id, dv, sqrt({oracle_dot("dv", "dv")}) AS nrm FROM deq
),
qn AS (
  SELECT vec_id AS q_id, v, sqrt({oracle_dot("v", "v")}) AS nrm
  FROM e WHERE vec_id < 5
)
"""

def _sql_score(a: str, av: str, b: str, bv: str) -> str:
    return (
        f"round({oracle_dot(f'{a}.{av}', f'{b}.{bv}')} "
        f"/ ({a}.nrm * {b}.nrm), 6)"
    )


ORACLE = {
    "ann_ivfsq": f"""
        WITH {_DEQ},
        c AS (SELECT vec_id AS c_id, v, sqrt({oracle_dot("v", "v")}) AS nrm
              FROM e),
        cent AS (SELECT vec_id AS cell_id, v,
                        sqrt({oracle_dot("v", "v")}) AS nrm
                 FROM e WHERE vec_id < 8),
        assigned AS (
          SELECT c_id, cell_id FROM (
            SELECT c.c_id, cent.cell_id,
                   row_number() OVER (
                     PARTITION BY c.c_id
                     ORDER BY {_sql_score("c", "v", "cent", "v")} DESC,
                              cent.cell_id ASC) AS rn
            FROM c CROSS JOIN cent
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT q_id, v, nrm, cell_id FROM (
            SELECT q.q_id, q.v, q.nrm, cent.cell_id,
                   row_number() OVER (
                     PARTITION BY q.q_id
                     ORDER BY {_sql_score("q", "v", "cent", "v")} DESC,
                              cent.cell_id ASC) AS rn
            FROM qn q CROSS JOIN cent
          ) WHERE rn <= 2
        ),
        scored AS (
          SELECT p.q_id, a.c_id,
                 {_sql_score("p", "v", "dn", "dv")} AS score
          FROM probes p
          JOIN assigned a ON p.cell_id = a.cell_id
          JOIN dn ON dn.vec_id = a.c_id
        ),
        ranked AS (
          SELECT q_id, c_id, score,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, c_id ASC) AS rank
          FROM scored
        )
        SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= 10
    """,
    "ann_sq_topk": f"""
        WITH {_DEQ},
        scored AS (
          SELECT qn.q_id, dn.vec_id AS c_id,
                 round({oracle_dot("qn.v", "dn.dv")} / (qn.nrm * dn.nrm), 6)
                   AS score
          FROM dn CROSS JOIN qn
        ),
        ranked AS (
          SELECT q_id, c_id, score,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, c_id ASC) AS rank
          FROM scored
        )
        SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= 10
    """,
}
