"""Similarity search over an embedding column (`array<float>`): the
retrieval core of the ANN family.

Every search here, in sq.py, pq.py and negatives.py is one
composition of three stages (REPOSE, ICDE 2021; the EDBT 2020
incremental top-k framework): candidates × scorer × top-k.

- Candidates: every corpus row against the broadcast query panel
  (`_all_pairs`), the inverted lists of each query's probed IVF cells
  (`_probed`: in-memory cell assignment, SQ8-coded lists, or a
  partition-pruned persisted index), or a PQ shortlist.
- Scorers: the exact cosine `_exact` (here) and PQ's asymmetric
  `_adc` (pq.py).
- Top-k: `operators/topk.top_k`, the one per-query rule (score desc,
  then id asc).

The searches:
- brute_force_topk: exact cosine top-k — the correctness baseline.
- ivf_topk / ivf_topk_indexed: IVF two-stage search — the scale path.
  The registered queries' centroids are the first 8 vectors by id
  (`panel`: deterministic, so the oracle reproduces them; the trained
  build is `kmeans_centroids`, and the engine mechanics — assign,
  invert, probe — are identical). Every vector is assigned to its
  nearest centroid; a query probes the `n_probe` nearest cells and
  scans only those inverted lists.

Float discipline: norms are precomputed once per vector; a pair score
is one unrolled left-assoc dot divided by the two norms — the oracle
SQL spells the identical arithmetic, so doubles match bit-for-bit
(then rounded to 6 dp for the hash). Unrolled expressions stay inside
whole-stage codegen; F.aggregate folds were interpreted and ~10× slower.

Scale notes (100 TB / 10^9 vectors):
- The query side is broadcast; scores compute map-side over the corpus
  scan. The only shuffle is the per-query top-k, which Spark plans as
  WindowGroupLimit (3.5+): each partition keeps k rows per query
  before the exchange, so k rows per partition move, not the corpus
  (plan-tested for every registered retrieval query,
  tests/test_plans.py).
- IVF: assignment is a broadcast join against centroids (tiny); layout
  partitioned by cell_id makes a probe a partition-pruned scan of
  n_probe/n_cells of the data.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.operators.lineage import _keep, _truncate
from tcrd_spark.operators.topk import top_k
from tcrd_spark.pipeline.dedup import EMB_DIM, dot
from tcrd_spark.session import memo
from tcrd_spark.sources.lake import load_table


def panel(spark: SparkSession, sf_dir: str):
    """(corpus, queries, cells) over the embeddings table: corpus
    (c_id, c_vec) is every vector, queries (q_id, q_vec) the ones with
    vec_id < 5, cells (cell_id, cell_vec) the ones with vec_id < 8 —
    the contract every retrieval oracle reproduces."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cells = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cell_vec")
    )
    return corpus, queries, cells


def _with_norm(df: DataFrame, id_out: str, vec_out: str, dim: int) -> DataFrame:
    """(id, vec) → (id, vec as double array, nrm). Expects columns
    already aliased to (id_out, vec_out)."""
    return df.select(
        F.col(id_out), F.col(vec_out).cast("array<double>").alias(vec_out)
    ).withColumn(
        f"{vec_out}_nrm", F.sqrt(dot(vec_out, vec_out, dim))
    )


def _pair_score(qv: str, cv: str, dim: int):
    return F.round(
        dot(qv, cv, dim)
        / (F.col(f"{qv}_nrm") * F.col(f"{cv}_nrm")),
        6,
    )


def _exact(cands: DataFrame, dim: int) -> DataFrame:
    """The exact scorer: (q_id, c_id, score) over candidate rows that
    carry both sides' vectors and norms."""
    return cands.select(
        "q_id", "c_id", _pair_score("q_vec", "c_vec", dim).alias("score")
    )


def _all_pairs(queries: DataFrame, corpus: DataFrame, dim: int) -> DataFrame:
    """Every corpus row against the broadcast query panel."""
    q = _with_norm(queries, "q_id", "q_vec", dim)
    c = _with_norm(corpus, "c_id", "c_vec", dim)
    return c.crossJoin(F.broadcast(q))


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, dim: int, k: int = 10
) -> DataFrame:
    """Exact cosine top-k per query. queries: (q_id, q_vec);
    corpus: (c_id, c_vec)."""
    return top_k(_exact(_all_pairs(queries, corpus, dim), dim), k)


def assign_cells(corpus: DataFrame, centroids: DataFrame, dim: int) -> DataFrame:
    """IVF build: nearest-centroid assignment (broadcast centroids).
    corpus: (c_id, c_vec); centroids: (cell_id, cell_vec) →
    (c_id, c_vec, c_vec_nrm, cell_id).

    The argmin over centroids is ROW-LOCAL, so no shuffle belongs here:
    the centroid table folds into ONE array-of-structs row (sorted by
    cell_id), broadcast onto the corpus scan, and each row picks
    argmax(score) via array_position — first match wins, which with the
    cell_id-sorted array is exactly the (max score, min cell_id)
    tie-break. The previous shape (crossJoin → corpus×n_cells rows →
    row_number window) shuffled the corpus n_cells times at scale."""
    c = _with_norm(corpus, "c_id", "c_vec", dim)
    cent = _with_norm(centroids, "cell_id", "cell_vec", dim)
    cent_row = cent.agg(
        F.array_sort(
            F.collect_list(F.struct("cell_id", "cell_vec", "cell_vec_nrm"))
        ).alias("cents")
    )
    from tcrd_spark.pipeline.dedup import dot_sql

    # one F.expr parse instead of ~4·dim py4j Column calls per lambda
    # body — same tree, same results (see dot())
    scores = F.expr(
        "transform(cents, x -> round(("
        + dot_sql("c_vec", "x.cell_vec", dim)
        + ") / (c_vec_nrm * x.cell_vec_nrm), 6))"
    )
    return (
        c.crossJoin(F.broadcast(cent_row))
        .withColumn("cs", scores)
        .select(
            "c_id",
            "c_vec",
            "c_vec_nrm",
            F.element_at(
                F.col("cents"), F.array_position(F.col("cs"), F.array_max("cs")).cast("int")
            )["cell_id"].alias("cell_id"),
        )
    )


def recall_at_k(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Per-query recall@k of an ANN result against the exact top-k:
    |approx ∩ exact| / |exact| on (q_id, c_id) pairs — the standard
    tuning metric for the IVF n_probe / LSH band knobs. Both inputs
    are (q_id, c_id, ...) top-k frames (brute_force_topk shape)."""
    e = exact.select("q_id", "c_id")
    hits = approx.select("q_id", "c_id").intersect(e)
    per_q = e.groupBy("q_id").count().withColumnRenamed("count", "n_exact")
    got = hits.groupBy("q_id").count().withColumnRenamed("count", "n_hit")
    return (
        per_q.join(got, "q_id", "left")
        .select(
            "q_id",
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact"), 4
            ).alias("recall"),
        )
    )


def lloyd_mean_update(
    assigned: DataFrame, dim: int, round_to: int | None = None
) -> DataFrame:
    """One Lloyd mean-update: element-wise mean per cell over the
    assignment — dim scalar aggregates, one shuffle of (cell, dim
    doubles) map-side-combined partials; the corpus never reshuffles.
    `round_to` rounds each mean to N decimals, which pins the doubles
    to values both engines represent identically — the
    oracle-reproducible path (`kmeans_assign` driver query); the
    training loop passes None and keeps full precision."""
    aggs = []
    for i in range(dim):
        a = F.avg(F.element_at("c_vec", i + 1))
        if round_to is not None:
            a = F.round(a, round_to)
        aggs.append(a.alias(f"m{i}"))
    means = assigned.groupBy("cell_id").agg(*aggs)
    return means.select(
        "cell_id",
        F.array(*[F.col(f"m{i}") for i in range(dim)]).alias("cell_vec"),
    )


def kmeans_centroids(
    corpus: DataFrame,
    dim: int,
    k: int = 16,
    n_iters: int = 5,
    id_col: str = "c_id",
    vec_col: str = "c_vec",
) -> DataFrame:
    """Distributed Lloyd k-means over the embedding column — the real
    IVF build step (ivf_topk's deterministic first-k-by-id centroids
    remain the oracle-reproducible default; this trains proper cells).

    Deterministic by construction: init is farthest-first traversal
    (Gonzalez k-center — seed = min id, then repeatedly the point with
    the largest cosine distance to its nearest chosen seed, ties to
    min id), which for separated clusters provably lands one seed per
    cluster where first-k/random init can collapse into one. Each
    Lloyd iteration is (row-local broadcast cosine argmax assignment)
    → (element-wise mean per cell via dim column aggregates). Per
    iteration: one broadcast, one shuffle of k×dim averages — the
    corpus itself never reshuffles. The init pays k driver-side
    `.first()` picks of one row each (k is small; the scan stays
    distributed). Empty cells keep their previous centroid (standard
    Lloyd degeneracy handling). Cosine-space assignment matches
    ivf_topk's probe metric, so trained centroids drop straight in.
    """
    held: list = []  # hop cuts; the Lloyd loop hands off the survivor
    c = _truncate(_with_norm(
        corpus.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        ),
        "c_id",
        "c_vec",
        dim,
    ), held)

    # Farthest-first init runs k sequential passes — bound them to a
    # deterministic sample pool of the max(200·k, 1000) smallest-id
    # rows (i.e. the whole corpus when it is smaller than that) so
    # init cost is k scans of a bounded pool, not k full-corpus scans.
    # Lloyd itself then refines against the whole corpus.
    pool = _truncate(c.orderBy("c_id").limit(max(200 * k, 1000)), held)
    n_pool = pool.count()
    if n_pool == 0 or k > n_pool:
        for r in held:
            r.unpersist()
        # fewer distinct points than requested cells — farthest-first
        # would re-pick exhausted seeds and emit duplicate centroids
        raise ValueError(
            "kmeans_centroids: empty corpus" if n_pool == 0
            else f"kmeans_centroids: k={k} exceeds corpus size {n_pool}"
        )
    seeds = [pool.orderBy("c_id").select("c_id", "c_vec").first()]
    for _ in range(k - 1):
        chosen = F.array(
            *[
                F.struct(
                    F.lit(s["c_id"]).alias("cell_id"),
                    F.array(*[F.lit(x) for x in s["c_vec"]]).alias("cell_vec"),
                )
                for s in seeds
            ]
        )
        nearest = F.array_max(
            F.transform(
                chosen,
                lambda x: F.round(
                    dot(F.col("c_vec"), x["cell_vec"], dim)
                    / (
                        F.col("c_vec_nrm")
                        * F.sqrt(dot(x["cell_vec"], x["cell_vec"], dim))
                    ),
                    6,
                ),
            )
        )
        far = (
            # exclude chosen ids: if every remaining point duplicates a
            # seed vector (all ties at similarity 1.0), the min-id
            # tie-break could otherwise re-pick a seed row itself
            pool.filter(~F.col("c_id").isin([s["c_id"] for s in seeds]))
            .withColumn("_near", nearest)
            .orderBy(F.asc("_near"), F.asc("c_id"))
            .select("c_id", "c_vec")
            .first()
        )
        seeds.append(far)
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(i, list(s["c_vec"])) for i, s in enumerate(seeds)],
        "cell_id long, cell_vec array<double>",
    )
    # Lloyd refinement; releases every cut in ``held`` and hands the
    # final centroids to the rotating "kmeans" store slot
    rdd = None
    for _ in range(n_iters):
        assigned = assign_cells(
            c.select("c_id", "c_vec"), cents, dim
        )
        new = lloyd_mean_update(assigned, dim)
        # empty cells vanish from the groupBy — retain previous centroid
        cents = (
            cents.select("cell_id", F.col("cell_vec").alias("prev"))
            .join(new, "cell_id", "left")
            .select(
                "cell_id",
                F.coalesce(F.col("cell_vec"), F.col("prev")).alias("cell_vec"),
            )
        )
        # cut lineage: the loop otherwise nests k assignment plans;
        # materialized now — the next hop reads it twice
        cents = _truncate(cents, held)
        rdd = held[-1]
        rdd.count()
    return _keep(cents, rdd, held, "kmeans")


def _probed(lists: DataFrame, probes: DataFrame) -> DataFrame:
    """The inverted lists of each query's probed cells: ``lists``
    (c_id, c_vec, c_vec_nrm, cell_id) joined to ``_probe_cells``. The
    probe list (queries × n_probe) is the SMALL side by contract —
    broadcast it explicitly, else a centroid broadcast hint inside
    ``lists`` propagates and Catalyst broadcasts the corpus."""
    return lists.join(F.broadcast(probes), "cell_id")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    dim: int,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF search: probe the n_probe nearest cells per query, exact
    top-k within the probed inverted lists. Approximate by design
    (recall < 1 when the true neighbor lives in an unprobed cell);
    the oracle replicates the same algorithm, so results still
    hash-match."""
    assigned = assign_cells(corpus, centroids, dim)
    probes = _probe_cells(queries, centroids, dim, n_probe)
    return top_k(_exact(_probed(assigned, probes), dim), k)


def _probe_cells(
    queries: DataFrame, centroids: DataFrame, dim: int, n_probe: int
) -> DataFrame:
    """(q_id, q_vec, q_vec_nrm, cell_id): each query's n_probe nearest
    cells — the probe-selection stage of every IVF search."""
    q = _with_norm(queries, "q_id", "q_vec", dim)
    cent = _with_norm(centroids, "cell_id", "cell_vec", dim)
    scored = q.crossJoin(F.broadcast(cent)).select(
        "q_id",
        "q_vec",
        "q_vec_nrm",
        "cell_id",
        _pair_score("q_vec", "cell_vec", dim).alias("score"),
    )
    return top_k(
        scored, n_probe, id_col="cell_id", carry=("q_vec", "q_vec_nrm")
    ).select("q_id", "q_vec", "q_vec_nrm", "cell_id")


def build_ivf_index(
    corpus: DataFrame, centroids: DataFrame, dim: int, path: str
) -> str:
    """Persist the IVF inverted lists as a cell_id-PARTITIONED parquet
    table — the real at-scale index layout (each cell is a partition
    directory; norms precomputed at build time). `ivf_topk` recomputes
    the assignment per search; a stored index makes a probe a
    partition-PRUNED scan of n_probe/n_cells of the data — at 10^9
    vectors the search never touches the unprobed 1 - n_probe/n_cells
    of the corpus. Returns ``path``."""
    assigned = assign_cells(corpus, centroids, dim)
    (
        assigned.select("c_id", "c_vec", "c_vec_nrm", "cell_id")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(path)
    )
    return path


def panel_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """The panel's persisted IVF index (every vector under the first-8
    cells), built once per session per sf_dir for every query that
    searches it. The write is the build step, not the query; the
    directory is removed when the store entry is released. The pid in
    its name keeps concurrent processes (bench + check) from racing
    overwrite-writes against each other's reads."""
    key = os.path.realpath(sf_dir)
    tag = hashlib.md5(f"{key}:{os.getpid()}".encode()).hexdigest()[:12]

    def build() -> str:
        corpus, _, cells = panel(spark, sf_dir)
        return build_ivf_index(
            corpus, cells, EMB_DIM,
            os.path.join(tempfile.gettempdir(), f"tcrd_ivf_index_{tag}"),
        )

    return memo(spark, "ivf-index", key, build)


def ivf_topk_indexed(
    queries: DataFrame,
    index_path: str,
    centroids: DataFrame,
    dim: int,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """Search a build_ivf_index table. Identical results to ivf_topk
    over the same centroids; the difference is the scan: the probed
    cell ids (|queries| × n_probe distinct values — small by the same
    contract that broadcasts the query panel) become a STATIC
    partition filter, so the parquet scan shows PartitionFilters and
    reads only the probed cells' files (plan-tested,
    tests/test_plans.py)."""
    spark = queries.sparkSession
    probes = _probe_cells(queries, centroids, dim, n_probe)
    cells = [int(r.cell_id) for r in probes.select("cell_id").distinct().collect()]
    index = spark.read.parquet(index_path).filter(F.col("cell_id").isin(cells))
    return top_k(_exact(_probed(index, probes), dim), k)
