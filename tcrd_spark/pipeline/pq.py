"""Product-quantized (PQ) ANN — the 64× memory-compression scale path.

SQ8 (pipeline/sq.py) stores one byte per DIMENSION (8× smaller). PQ
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011) stores one byte per SUBSPACE: the vector is split
into m contiguous sub-vectors, each encoded as the id of its nearest
codebook centroid (ksub entries per subspace, learned per subspace).
At m=8 over 64-dim float64 that is 8 bytes/vector vs 512 — 64× — and
the standard layout a 100 TB vector corpus actually deploys (Faiss
IVF-PQ).

Search is ASYMMETRIC (ADC): the query stays full precision; per query
ONE m × ksub lookup table of sub-dot-products is built against the
codebooks, and each corpus vector's score is m table lookups summed —
no reconstruction of the corpus side. Cosine needs the quantized
corpus norm, which depends only on the codes, so it is precomputed per
vector AT ENCODE TIME (one double alongside the 8-byte code) and the
scan never touches codebooks.

Composition with IVF mirrors `q_ann_ivfsq`: cells assigned on the
full-precision vectors (`similarity.assign_cells`), PQ codes inside
the inverted lists, probed cells scored via the LUT — the scan a
100 TB deployment runs reads n_probe/n_cells of a table 64× smaller.

Determinism (oracle adjudication): the registered queries use the
first-ksub-by-id codebook contract (sub-vectors of vec_id < ksub),
mirroring `ann_ivf`'s first-8 cells — every distance/dot is the same
unrolled left-associative double arithmetic on both engines, so codes,
norms, and scores are bit-identical in DuckDB. The REAL training path
(`pq_train_codebooks`) runs the existing distributed k-means
(`similarity.kmeans_centroids`) once per subspace; its recall@10 vs
the exact baseline is pytest-bounded (tests/test_pq.py).

Scale: codebooks are tiny (m × ksub × subdim doubles — 16 KB at
8×256×8) and broadcast; encoding is row-local against that broadcast;
the only shuffle in search is the final per-query top-k
(`operators/topk.top_k`, over the ADC scorer `_adc` and the
candidates: every code row, or the probed cells' lists), whose input
is already cut to the probed cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.operators.topk import top_k
from tcrd_spark.pipeline.dedup import EMB_DIM, dot, dot_sql, oracle_dot
from tcrd_spark.pipeline.similarity import (
    _exact,
    _probe_cells,
    _with_norm,
    assign_cells,
    kmeans_centroids,
    panel,
)
from tcrd_spark.session import memo

# m subspaces over the 64-dim synthetic embeddings (TESTDATA.md)
_M = 8
_SUBDIM = EMB_DIM // _M
# deterministic codebook contract for the adjudicated queries:
# codebook_j = j-th sub-vectors of vec_id < _KSUB (ann_ivf's first-k
# convention). The trained path defaults to ksub=256 (1-byte codes).
_KSUB = 16


def deterministic_codebooks(
    corpus: DataFrame, dim: int, m: int, ksub: int
) -> DataFrame:
    """ONE-row codebook frame (cbs): array[m] of array[ksub] of
    struct(v array<double>, n2 double), entry k of book j = the j-th
    sub-vector of the corpus row with id k (ids 0..ksub-1 must exist —
    the ann_ivf-style oracle-reproducible contract). Sorted by
    (subspace, code) so positional indexes ARE the codes."""
    sub = dim // m
    v = F.col("c_vec").cast("array<double>")
    per = corpus.filter(F.col("c_id") < ksub).select(
        F.col("c_id").cast("int").alias("code"),
        F.posexplode(
            F.array(*[F.slice(v, j * sub + 1, sub) for j in range(m)])
        ).alias("j", "cv"),
    )
    return _books_row(per, sub)


def _books_row(per: DataFrame, sub: int) -> DataFrame:
    """(code, j, cv) rows → the one-row cbs frame. Codes must be
    0-based and contiguous per subspace."""
    books = (
        per.withColumn("n2", dot("cv", "cv", sub))
        .groupBy("j")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("code"), F.col("cv").alias("v"), F.col("n2")
                    )
                )
            ).alias("book")
        )
    )
    return books.agg(
        F.array_sort(F.collect_list(F.struct("j", "book"))).alias("a")
    ).select(
        F.transform(
            "a",
            lambda z: F.transform(
                z["book"], lambda e: F.struct(e["v"].alias("v"),
                                              e["n2"].alias("n2"))
            ),
        ).alias("cbs")
    )


def pq_train_codebooks(
    corpus: DataFrame, dim: int, m: int, ksub: int, n_iters: int = 3
) -> DataFrame:
    """The REAL codebook build: the existing distributed k-means
    (deterministic farthest-first init + Lloyd) once per subspace over
    that subspace's sub-vectors. m driver-side iterations launch m
    independent jobs; each job is the audited zero-shuffle-assignment
    kmeans. Returns the same one-row cbs frame as
    deterministic_codebooks."""
    sub = dim // m
    v = F.col("c_vec").cast("array<double>")
    rows = []
    for j in range(m):
        cents = kmeans_centroids(
            corpus.select(
                "c_id", F.slice(v, j * sub + 1, sub).alias("c_vec")
            ),
            sub,
            k=ksub,
            n_iters=n_iters,
        )
        # ksub × sub doubles, collected before the next subspace's
        # kmeans takes over the store slot that holds these centroids;
        # cell ids are dense 0-based
        rows += [
            (int(r["cell_id"]), j, list(r["cell_vec"]))
            for r in cents.collect()
        ]
    per = corpus.sparkSession.createDataFrame(
        rows, "code int, j int, cv array<double>"
    )
    return _books_row(per, sub)


def _l2_sql(a_of, b_of, sub: int) -> str:
    """Unrolled left-assoc squared L2 as a SQL fragment; ``a_of``/
    ``b_of`` map a 1-based element index to an element expression."""
    return " + ".join(
        f"(({a_of(i)}) - ({b_of(i)})) * (({a_of(i)}) - ({b_of(i)}))"
        for i in range(1, sub + 1)
    )


def _codes_sql(vec_sql: str, dim: int, m: int) -> str:
    """The m per-subspace argmin codes as ONE Spark-SQL parse (r12,
    the dot() lesson): the Column-built form — a transform lambda over
    each book with an unrolled squared L2 per entry — cost ~5k py4j
    round-trips per pq_encode construction. Sub-vector elements index
    the full vector directly (element_at(v, j·sub+i) instead of
    slicing first): identical doubles, flatter tree."""
    sub = dim // m
    parts = []
    for j in range(m):
        dists = (
            f"transform(element_at(cbs, {j + 1}), e -> "
            + _l2_sql(
                lambda i, j=j: f"element_at({vec_sql}, {j * sub + i})",
                lambda i: f"element_at(e.v, {i})",
                sub,
            )
            + ")"
        )
        parts.append(
            f"cast(array_position({dists}, array_min({dists})) - 1 as int)"
        )
    return "array(" + ", ".join(parts) + ")"


def pq_encode(
    corpus: DataFrame, cb_row: DataFrame, dim: int, m: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(c_id, *extra_cols, codes array<int>, c_nrm double): nearest
    codebook entry per subspace by squared L2 (ties to the smallest
    code via first-match array_position), plus the quantized-corpus
    norm — the one scalar ADC needs that depends only on the codes.
    Row-local against the broadcast one-row codebook; this is the
    table that persists as the index (8 bytes of codes + 8 of norm)."""
    coded = corpus.crossJoin(F.broadcast(cb_row)).select(
        "c_id",
        *extra_cols,
        F.expr(
            _codes_sql("cast(c_vec as array<double>)", dim, m)
        ).alias("codes"),
        F.col("cbs"),
    )
    # zip_with references `codes` ONCE (the unrolled form would clone
    # the m argmin trees into every norm term — the sq.py CollapseProject
    # lesson); F.aggregate's left fold matches the oracle's ordered
    # list_reduce.
    n2 = F.aggregate(
        F.zip_with(
            F.col("cbs"),
            F.col("codes"),
            lambda book, c: F.element_at(book, c + 1)["n2"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return coded.select(
        "c_id", *extra_cols, "codes", F.sqrt(n2).alias("c_nrm")
    )


def _query_luts(
    queries: DataFrame, cb_row: DataFrame, dim: int, m: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(q_id, *carry, q_nrm, lut array[m] of array[ksub] double): the
    per-query ADC table — lut[j][k] = dot(q_sub_j, codebook_j[k]).
    One SQL parse like _codes_sql (same sub-vector flattening)."""
    sub = dim // m
    vq = "cast(q_vec as array<double>)"
    luts = ", ".join(
        f"transform(element_at(cbs, {j + 1}), e -> "
        + " + ".join(
            f"(element_at({vq}, {j * sub + i}) * element_at(e.v, {i}))"
            for i in range(1, sub + 1)
        )
        + ")"
        for j in range(m)
    )
    return queries.crossJoin(F.broadcast(cb_row)).select(
        "q_id",
        *carry,
        F.sqrt(F.expr(dot_sql(vq, vq, dim))).alias("q_nrm"),
        F.expr(f"array({luts})").alias("lut"),
    )


def _adc(cands: DataFrame) -> DataFrame:
    """The ADC scorer: (q_id, c_id, score) over code rows joined to
    their query's LUT, score = round(Σ_j lut[j][codes[j]] / (q_nrm ·
    c_nrm), 6). The fold references the stored `codes`/`lut` columns
    once each."""
    s = F.aggregate(
        F.zip_with(
            F.col("lut"), F.col("codes"),
            lambda l, c: F.element_at(l, c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    score = F.round(s / (F.col("q_nrm") * F.col("c_nrm")), 6)
    return cands.select("q_id", "c_id", score.alias("score"))


def pq_topk(
    queries: DataFrame, coded: DataFrame, cb_row: DataFrame,
    dim: int, m: int, k: int = 10,
) -> DataFrame:
    """Brute-force ADC top-k over a pq_encode table: (q_id, c_id,
    score, rank) — the 64×-smaller-scan counterpart of
    similarity.brute_force_topk."""
    luts = _query_luts(queries, cb_row, dim, m)
    return top_k(_adc(coded.crossJoin(F.broadcast(luts))), k)


def pq_rerank_topk(
    queries: DataFrame, coded: DataFrame, cb_row: DataFrame,
    corpus: DataFrame, dim: int, m: int, k: int = 10,
    shortlist: int = 50,
) -> DataFrame:
    """The standard PQ deployment: ADC produces a per-query SHORTLIST
    (the 64×-smaller scan does the heavy cut), then only those
    shortlist rows pay a full-precision exact re-rank — s rows/query,
    never the corpus. Recall@k equals the shortlist's coverage of the
    exact top-k, which is what tests/test_pq.py bounds."""
    sl = pq_topk(queries, coded, cb_row, dim, m, k=shortlist).select(
        "q_id", "c_id"
    )
    c = _with_norm(corpus, "c_id", "c_vec", dim)
    qn = _with_norm(queries, "q_id", "q_vec", dim)
    return top_k(
        _exact(sl.join(c, "c_id").join(F.broadcast(qn), "q_id"), dim), k
    )


def ivf_pq_topk(
    queries: DataFrame, coded: DataFrame, cb_row: DataFrame,
    centroids: DataFrame, dim: int, m: int, k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF + PQ: probe n_probe cells, ADC-score only those inverted
    lists. `coded` must carry cell_id (pq_encode extra_cols)."""
    probes = _probe_cells(queries, centroids, dim, n_probe).select(
        "q_id", "q_vec", "cell_id"
    )
    luts = _query_luts(probes, cb_row, dim, m, carry=("cell_id",))
    return top_k(_adc(coded.join(F.broadcast(luts), "cell_id")), k)


# ------------------------------------------------- registered queries


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC cosine top-10 for the standard 5-query panel —
    first-16-by-id codebooks (the oracle contract), full-corpus scan
    of the 8-byte codes."""
    corpus, qs, _ = panel(spark, sf_dir)
    cb_row = deterministic_codebooks(corpus, EMB_DIM, _M, _KSUB)
    coded = memo(
        spark, "pq", sf_dir,
        lambda: pq_encode(corpus, cb_row, EMB_DIM, _M).cache(),
    )
    return pq_topk(qs, coded, cb_row, EMB_DIM, _M, k=10)


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed Faiss IVF-PQ pipeline: first-8 cells (the ann_ivf
    contract), PQ codes in the inverted lists, probe-2 ADC scan."""
    corpus, qs, cents = panel(spark, sf_dir)
    cb_row = deterministic_codebooks(corpus, EMB_DIM, _M, _KSUB)

    def _build() -> DataFrame:
        assigned = assign_cells(corpus, cents, EMB_DIM).select(
            "c_id", "c_vec", "cell_id"
        )
        return pq_encode(
            assigned, cb_row, EMB_DIM, _M, extra_cols=("cell_id",)
        ).cache()

    coded = memo(spark, "ivfpq", sf_dir, _build)
    return ivf_pq_topk(
        qs, coded, cb_row, cents, EMB_DIM, _M, k=10, n_probe=2
    )


def q_ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC shortlist-50 + exact re-rank top-10 — the deployment
    composition (the exact pass touches 50 rows/query)."""
    corpus, qs, _ = panel(spark, sf_dir)
    cb_row = deterministic_codebooks(corpus, EMB_DIM, _M, _KSUB)
    coded = memo(
        spark, "pq", sf_dir,
        lambda: pq_encode(corpus, cb_row, EMB_DIM, _M).cache(),
    )
    return pq_rerank_topk(
        qs, coded, cb_row, corpus, EMB_DIM, _M, k=10, shortlist=50
    )


QUERIES = {
    "ann_pq_topk": q_ann_pq_topk,
    "ann_ivfpq": q_ann_ivfpq,
    "ann_pq_rerank": q_ann_pq_rerank,
}


# ------------------------------------------------------ DuckDB oracle


def _sql_subdot(qv: str, j: str, cv: str) -> str:
    """dot(q's j-th sub-vector, codebook vector) — j is a 0-based SQL
    expression; unrolled left-assoc like the Spark side."""
    return (
        "("
        + " + ".join(
            f"{qv}[{j} * {_SUBDIM} + {i + 1}] * {cv}[{i + 1}]"
            for i in range(_SUBDIM)
        )
        + ")"
    )


def _sql_subl2(v: str, j: str, cv: str) -> str:
    return (
        "("
        + " + ".join(
            f"({v}[{j} * {_SUBDIM} + {i + 1}] - {cv}[{i + 1}])"
            f" * ({v}[{j} * {_SUBDIM} + {i + 1}] - {cv}[{i + 1}])"
            for i in range(_SUBDIM)
        )
        + ")"
    )


# shared CTE chain: codebooks → codes (+ quantized norm) → query LUT
# parts; list_reduce over array_agg(... ORDER BY j) reproduces the
# Spark side's left-assoc fold over subspaces exactly.
_PQ_CTES = f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cb AS (
  SELECT r.j, e.vec_id AS code,
         list_transform(range(1, {_SUBDIM} + 1),
                        i -> v[r.j * {_SUBDIM} + i]) AS cv
  FROM e CROSS JOIN range(0, {_M}) r(j)
  WHERE e.vec_id < {_KSUB}
),
cbn AS (
  SELECT j, code, cv,
         ({" + ".join(f"cv[{i + 1}] * cv[{i + 1}]" for i in range(_SUBDIM))})
           AS n2
  FROM cb
),
cd AS (
  SELECT c.vec_id AS c_id, b.j, b.code, b.n2,
         {_sql_subl2("c.v", "b.j", "b.cv")} AS dist
  FROM e c CROSS JOIN cbn b
),
codes AS (
  SELECT c_id, j, code, n2 FROM (
    SELECT c_id, j, code, n2,
           row_number() OVER (PARTITION BY c_id, j
                              ORDER BY dist ASC, code ASC) AS rn
    FROM cd
  ) WHERE rn = 1
),
cnrm AS (
  SELECT c_id,
         sqrt(list_reduce(array_agg(n2 ORDER BY j), (a, b) -> a + b))
           AS c_nrm
  FROM codes GROUP BY c_id
),
qn AS (
  SELECT vec_id AS q_id, v, sqrt({oracle_dot("v", "v")}) AS nrm
  FROM e WHERE vec_id < 5
)
"""

_PQ_SCORE = f"""
parts AS (
  SELECT q.q_id, co.c_id, co.j,
         {_sql_subdot("q.v", "co.j", "b.cv")} AS dp
  FROM codes co
  JOIN cbn b USING (j, code)
  CROSS JOIN qn q
),
dots AS (
  SELECT q_id, c_id,
         list_reduce(array_agg(dp ORDER BY j), (a, b) -> a + b) AS dotqc
  FROM parts GROUP BY q_id, c_id
),
scored AS (
  SELECT d.q_id, d.c_id,
         round(d.dotqc / (qn.nrm * cn.c_nrm), 6) AS score
  FROM dots d
  JOIN qn USING (q_id)
  JOIN cnrm cn USING (c_id)
)
"""

ORACLE = {
    "ann_pq_topk": f"""
        WITH {_PQ_CTES}, {_PQ_SCORE},
        ranked AS (
          SELECT q_id, c_id, score,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, c_id ASC) AS rank
          FROM scored
        )
        SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= 10
    """,
    "ann_pq_rerank": f"""
        WITH {_PQ_CTES}, {_PQ_SCORE},
        sl AS (
          SELECT q_id, c_id FROM (
            SELECT q_id, c_id,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY score DESC, c_id ASC) AS rn
            FROM scored
          ) WHERE rn <= 50
        ),
        cfull AS (
          SELECT vec_id AS c_id, v, sqrt({oracle_dot("v", "v")}) AS nrm
          FROM e
        ),
        rr AS (
          SELECT sl.q_id, sl.c_id,
                 round({oracle_dot("q.v", "c.v")} / (q.nrm * c.nrm), 6)
                   AS score
          FROM sl
          JOIN qn q USING (q_id)
          JOIN cfull c USING (c_id)
        ),
        ranked AS (
          SELECT q_id, c_id, score,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, c_id ASC) AS rank
          FROM rr
        )
        SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= 10
    """,
    "ann_ivfpq": f"""
        WITH {_PQ_CTES},
        cent AS (
          SELECT vec_id AS cell_id, v, sqrt({oracle_dot("v", "v")}) AS nrm
          FROM e WHERE vec_id < 8
        ),
        assigned AS (
          SELECT c_id, cell_id FROM (
            SELECT c.vec_id AS c_id, cent.cell_id,
                   row_number() OVER (
                     PARTITION BY c.vec_id
                     ORDER BY round({oracle_dot("c.v", "cent.v")}
                         / (sqrt({oracle_dot("c.v", "c.v")}) * cent.nrm),
                         6) DESC,
                              cent.cell_id ASC) AS rn
            FROM e c CROSS JOIN cent
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT q_id, cell_id FROM (
            SELECT q.q_id, cent.cell_id,
                   row_number() OVER (
                     PARTITION BY q.q_id
                     ORDER BY round({oracle_dot("q.v", "cent.v")}
                                    / (q.nrm * cent.nrm), 6) DESC,
                              cent.cell_id ASC) AS rn
            FROM qn q CROSS JOIN cent
          ) WHERE rn <= 2
        ),
        {_PQ_SCORE.strip().lstrip()}
        ,
        pruned AS (
          SELECT s.q_id, s.c_id, s.score
          FROM scored s
          JOIN assigned a USING (c_id)
          JOIN probes p ON p.q_id = s.q_id AND p.cell_id = a.cell_id
        ),
        ranked AS (
          SELECT q_id, c_id, score,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, c_id ASC) AS rank
          FROM pruned
        )
        SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= 10
    """,
}
