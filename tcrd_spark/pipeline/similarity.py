"""Similarity search over an embedding column (`array<float>`).

- brute_force_topk: exact cosine top-k — the correctness baseline.
- ivf_topk: IVF-style two-stage search — the scale path. Centroids are
  the first `n_cells` vectors by id (deterministic; a real build would
  k-means, but the *engine mechanics* — assign, invert, probe — are
  identical and this keeps the oracle reproducible). Every vector is
  assigned to its nearest centroid; a query probes the `n_probe`
  nearest cells and scans only those inverted lists.

Float discipline: norms are precomputed once per vector; a pair score
is one unrolled left-assoc dot divided by the two norms — the oracle
SQL spells the identical arithmetic, so doubles match bit-for-bit
(then rounded to 6 dp for the hash). Unrolled expressions stay inside
whole-stage codegen; F.aggregate folds were interpreted and ~10× slower.

Scale notes (100 TB / 10^9 vectors):
- The query side is broadcast; scores compute map-side over the corpus
  scan. The only shuffle is the per-query top-k, and Spark's
  WindowGroupLimit (3.5+) pre-filters rank()<=k before the exchange,
  so k rows per partition move, not the corpus.
- IVF: assignment is a broadcast join against centroids (tiny); layout
  partitioned/bucketed by cell_id makes a probe a partition-pruned
  scan of n_probe/n_cells of the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tcrd_spark.operators.lineage import _keep, _truncate
from tcrd_spark.pipeline.dedup import dot


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


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, dim: int, k: int = 10
) -> DataFrame:
    """Exact cosine top-k per query. queries: (q_id, q_vec);
    corpus: (c_id, c_vec)."""
    q = _with_norm(queries, "q_id", "q_vec", dim)
    c = _with_norm(corpus, "c_id", "c_vec", dim)
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        c.crossJoin(F.broadcast(q))
        .select("q_id", "c_id", _pair_score("q_vec", "c_vec", dim).alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "score", "rank")
    )


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


def kmeans_parallel_init(
    corpus: DataFrame,
    dim: int,
    k: int,
    l: int | None = None,
    rounds: int = 3,
    id_col: str = "c_id",
    vec_col: str = "c_vec",
) -> DataFrame:
    """Deterministic k-means|| initialization (Bahmani et al., VLDB'12
    "Scalable K-Means++") in cosine space — the DISTRIBUTED init that
    replaces farthest-first's k sequential driver picks with O(rounds)
    full-corpus passes:

    each round oversamples ~l candidates with probability
    l·cost(x)/Σcost (cost = 1 − nearest-candidate cosine), then the
    small candidate set (≤ ~l·rounds) is weighted by its attraction
    counts and reduced to k seeds driver-side by weighted
    farthest-first. Randomness is the portable hash60 of (id, round) —
    seeded, engine-independent, rerun-identical; no RNG state.

    Per round: one broadcast-argmax pass (row-local, like
    assign_cells), one scalar aggregate, one bounded collect (the
    candidate sample, capped at 4·l rows in deterministic hash order).
    Driver memory holds candidates only — never the corpus.
    """
    import math

    from tcrd_spark.functions.hashing import hash60

    l = l or 2 * k
    held: list = []  # hop cuts, all released before returning
    c = _truncate(_with_norm(
        corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")),
        "c_id",
        "c_vec",
        dim,
    ), held)
    first = c.orderBy("c_id").select("c_id", "c_vec").first()
    if first is None:
        held.pop().unpersist()
        raise ValueError("kmeans_parallel_init: empty corpus")
    cand: dict[int, list[float]] = {first["c_id"]: list(first["c_vec"])}

    def _cents_df(mapping: dict[int, list[float]]) -> DataFrame:
        return corpus.sparkSession.createDataFrame(
            [(i, v) for i, v in sorted(mapping.items())],
            "cell_id long, cell_vec array<double>",
        )

    for rnd in range(rounds):
        cents = _with_norm(_cents_df(cand), "cell_id", "cell_vec", dim)
        cent_row = cents.agg(
            F.array_sort(
                F.collect_list(F.struct("cell_id", "cell_vec", "cell_vec_nrm"))
            ).alias("cents")
        )
        best = F.array_max(
            F.transform(
                F.col("cents"),
                lambda x: F.round(
                    dot(F.col("c_vec"), x["cell_vec"], dim)
                    / (F.col("c_vec_nrm") * x["cell_vec_nrm"]),
                    6,
                ),
            )
        )
        costed = _truncate(
            c.crossJoin(F.broadcast(cent_row))
            .select("c_id", "c_vec", (F.lit(1.0) - best).alias("cost")),
            held,
        )
        tot_row = costed.agg(F.sum("cost").alias("tot"))
        # u(x) ∈ [0,1): 12 low decimal digits of hash60(id:round)
        u = (
            hash60(F.concat_ws(":", F.col("c_id"), F.lit(str(rnd))))
            % F.lit(1_000_000_000_000)
        ) / F.lit(1_000_000_000_000.0)
        picked = (
            costed.crossJoin(F.broadcast(tot_row))
            .filter(u * F.col("tot") < F.lit(float(l)) * F.col("cost"))
            .orderBy("c_id")
            .limit(4 * l)
            .select("c_id", "c_vec")
            .collect()
        )
        held.pop().unpersist()  # this round's costed cut
        for r in picked:
            cand.setdefault(r["c_id"], list(r["c_vec"]))

    if len(cand) < k:
        held.pop().unpersist()
        raise ValueError(
            f"kmeans_parallel_init: only {len(cand)} distinct candidates "
            f"for k={k}; corpus too small or raise l/rounds"
        )
    # weight candidates by attraction count (one distributed pass)
    assigned = assign_cells(c.select("c_id", "c_vec"), _cents_df(cand), dim)
    wrow = {
        r["cell_id"]: r["n"]
        for r in assigned.groupBy("cell_id").agg(F.count("*").alias("n")).collect()
    }
    held.pop().unpersist()  # the corpus cut

    # driver-side weighted farthest-first over the SMALL candidate set
    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return num / (na * nb) if na and nb else 0.0

    items = sorted(cand.items())
    start = max(items, key=lambda kv: (wrow.get(kv[0], 0), -kv[0]))
    chosen = [start]
    chosen_ids = {start[0]}
    while len(chosen) < k:
        best_item, best_score = None, None
        for cid, vec in items:
            if cid in chosen_ids:
                continue
            d = min(1.0 - cos(vec, cv) for _, cv in chosen)
            score = (wrow.get(cid, 0) * d, -cid)
            if best_score is None or score > best_score:
                best_item, best_score = (cid, vec), score
        chosen.append(best_item)
        chosen_ids.add(best_item[0])
    return corpus.sparkSession.createDataFrame(
        [(i, vec) for i, (_, vec) in enumerate(chosen)],
        "cell_id long, cell_vec array<double>",
    )


def kmeans_centroids(
    corpus: DataFrame,
    dim: int,
    k: int = 16,
    n_iters: int = 5,
    id_col: str = "c_id",
    vec_col: str = "c_vec",
    init_centroids: DataFrame | None = None,
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
    held: list = []  # hop cuts; _lloyd_iterate hands off the survivor
    c = _truncate(_with_norm(
        corpus.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        ),
        "c_id",
        "c_vec",
        dim,
    ), held)

    if init_centroids is not None:
        # externally-supplied seeds (e.g. kmeans_parallel_init — the
        # distributed k-means|| oversampling path); skip farthest-first
        cents = init_centroids.select(
            "cell_id", F.col("cell_vec").cast("array<double>").alias("cell_vec")
        )
        return _lloyd_iterate(c, cents, dim, n_iters, held)

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
    return _lloyd_iterate(c, cents, dim, n_iters, held)


def _lloyd_iterate(
    c: DataFrame, cents: DataFrame, dim: int, n_iters: int, held: list
) -> DataFrame:
    """The Lloyd refinement loop shared by both init paths; releases
    every cut in ``held`` and hands the final centroids to the rotating
    "kmeans" store slot."""
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
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    # the probe list (queries × n_probe) is the SMALL side by contract —
    # broadcast it explicitly, else the centroid broadcast hint inside
    # `assigned` propagates and Catalyst broadcasts the corpus
    return (
        assigned.join(F.broadcast(probes), "cell_id")
        .select("q_id", "c_id", _pair_score("q_vec", "c_vec", dim).alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "score", "rank")
    )


def _probe_cells(
    queries: DataFrame, centroids: DataFrame, dim: int, n_probe: int
) -> DataFrame:
    """(q_id, q_vec, q_vec_nrm, cell_id): each query's n_probe nearest
    cells — the shared probe-selection stage of ivf_topk and the
    persisted-index search."""
    q = _with_norm(queries, "q_id", "q_vec", dim)
    cent = _with_norm(centroids, "cell_id", "cell_vec", dim)
    wq = Window.partitionBy("q_id").orderBy(F.desc("cs"), F.asc("cell_id"))
    return (
        q.crossJoin(F.broadcast(cent))
        .select(
            "q_id",
            "q_vec",
            "q_vec_nrm",
            "cell_id",
            _pair_score("q_vec", "cell_vec", dim).alias("cs"),
        )
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "q_vec", "q_vec_nrm", "cell_id")
    )


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
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("c_id"))
    return (
        index.join(F.broadcast(probes), "cell_id")
        .select("q_id", "c_id", _pair_score("q_vec", "c_vec", dim).alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "score", "rank")
    )
