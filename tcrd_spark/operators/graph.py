"""Graph / recursive operators (SURVEY.md §2.8).

Reference shapes re-expressed Spark-first:
- KEGG all-pairs shortest path (`loaders/load-KEGGDistances.py:96`,
  networkx per pathway, then min-merge `:98-108`): many SMALL graphs →
  `apsp_local` runs BFS per graph inside applyInPandas (one shuffle to
  co-locate each graph's edges); `apsp_iterative` is the DataFrame
  BFS-to-fixpoint for graphs too large for one task. The oracle-checked
  query uses apsp_local (the right plan at this shape); pytest asserts
  both implementations agree.
- Clique expansion of KEGG "group" entries (`loaders/KEGG_Graph.py:
  20-60`): membership self-join.
- Nearest-Tclin directional reachability (`loaders/load-
  KEGGNearestTclins.py:83-110`; SQL `loaders/TCRD.py:2800-2869`):
  the reference issues 2 MIN-queries per non-Tclin target; here one
  join + rank-window keeps ties in a single pass.
- Recursive ontology path (`loaders/TCRD.py:2127-2137`,
  `get_protein_dto` self-recursion): iterate parent joins to fixpoint
  (DAG depth is small and bounded).

Scale notes: apsp_local shuffles each graph's edge list once and runs
O(V·E) BFS in-task — right when graphs are thousands-of-nodes max
(KEGG pathways are). The iterative BFS shuffles per hop — right when
a single graph exceeds task memory. Depth caps bound both.
"""

from __future__ import annotations

from collections import deque
from decimal import ROUND_HALF_UP, Decimal
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tcrd_spark.functions.folds import sorted_fold_sum
from tcrd_spark.operators.lineage import _keep, _truncate, cache
from tcrd_spark.session import memo


def apsp_iterative(
    edges: DataFrame,
    graph: str,
    src: str,
    dst: str,
    max_hops: int = 10,
) -> DataFrame:
    """All-pairs shortest path lengths per graph via BFS-to-fixpoint.

    edges: directed (graph, src, dst). Returns (graph, src, dst, dist).
    Each hop is one join + min-merge; loop runs on the driver but all
    data stays distributed. Frontier dedup keeps the work linear in
    the true distance closure, not in path multiplicity.

    Hop caches are released as the loop ends (ADVICE r6): once the
    final path set is materialized, every superseded cut is
    unpersisted; the final cut (the returned plan reads it) goes to
    the rotating "apsp" store slot.
    """
    held: list = []

    def cut(df: DataFrame) -> tuple[DataFrame, object]:
        out = _truncate(df, held)
        return out, held[-1]

    e = _truncate(edges.select(graph, src, dst).distinct(), held)
    paths, paths_rdd = cut(e.withColumn("dist", F.lit(1)))
    frontier = paths
    for _ in range(max_hops - 1):
        grown = (
            frontier.alias("p")
            .join(
                e.alias("e"),
                (F.col(f"p.{graph}") == F.col(f"e.{graph}"))
                & (F.col(f"p.{dst}") == F.col(f"e.{src}")),
            )
            .select(
                F.col(f"p.{graph}").alias(graph),
                F.col(f"p.{src}").alias(src),
                F.col(f"e.{dst}").alias(dst),
                (F.col("p.dist") + 1).alias("dist"),
            )
            .filter(F.col(src) != F.col(dst))  # reference keeps no self-loops
        )
        # keep only pairs not already reached (shorter-first BFS order)
        frontier = _truncate(
            grown.join(
                paths.select(graph, src, dst), [graph, src, dst], "left_anti"
            ).distinct(),
            held,
        )
        if frontier.isEmpty():
            break
        paths, paths_rdd = cut(paths.unionByName(frontier))
    paths_rdd.count()  # materialize the kept cut before releasing ancestors
    paths = _keep(paths, paths_rdd, held, "apsp")
    return paths.groupBy(graph, src, dst).agg(F.min("dist").alias("dist"))


def apsp_local(
    edges: DataFrame,
    graph: str,
    src: str,
    dst: str,
    max_hops: int = 10,
    n_buckets: int = 256,
) -> DataFrame:
    """Same result as apsp_iterative, computed as per-graph BFS inside
    applyInPandas — the KEGG shape: thousands of small graphs, one
    shuffle total.

    Graphs are hashed into n_buckets and each task BFSes every graph
    in its bucket: grouping by the raw graph key costs one Arrow
    round-trip per GRAPH (~ms each — dominates wall at 10³-10⁶ tiny
    graphs), grouping by bucket costs one per TASK. n_buckets bounds
    task memory (bucket ≈ |edges|/n_buckets) and sets max parallelism."""
    dtypes = dict(edges.select(graph, src, dst).dtypes)
    out_schema = (
        f"{graph} {dtypes[graph]}, {src} {dtypes[src]}, "
        f"{dst} {dtypes[dst]}, dist int"
    )

    def bfs_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for g, sub in pdf.groupby(graph, sort=False):
            adj: dict = {}
            for s, d in zip(sub[src], sub[dst]):
                adj.setdefault(s, []).append(d)
            for start in sorted(adj):
                seen = {start: 0}
                q = deque([start])
                while q:
                    u = q.popleft()
                    if seen[u] >= max_hops:
                        continue
                    for v in adj.get(u, ()):
                        if v not in seen:
                            seen[v] = seen[u] + 1
                            q.append(v)
                rows += [
                    (g, start, node, d) for node, d in seen.items() if d > 0
                ]
        return pd.DataFrame(rows, columns=[graph, src, dst, "dist"])

    bucket = F.pmod(F.hash(F.col(graph)), F.lit(n_buckets))
    return (
        edges.select(graph, src, dst)
        .distinct()
        .withColumn("_bucket", bucket)
        .groupBy("_bucket")
        .applyInPandas(bfs_bucket, out_schema)
    )


def min_distance_merge(
    apsp: DataFrame, graph: str, src: str, dst: str
) -> DataFrame:
    """KEGG min-merge: min distance per (src, dst) across all graphs
    (`loaders/load-KEGGDistances.py:98-108`)."""
    return apsp.groupBy(src, dst).agg(F.min("dist").alias("distance"))


def clique_edges(members: DataFrame, group: str, member: str) -> DataFrame:
    """Expand each group's member set to bidirectional clique edges,
    deduped across groups (`loaders/KEGG_Graph.py:20-60`)."""
    a = members.select(F.col(group), F.col(member).alias("m1"))
    b = members.select(F.col(group), F.col(member).alias("m2"))
    return (
        a.join(b, group)
        .filter(F.col("m1") != F.col("m2"))
        .select("m1", "m2")
        .distinct()
    )


def nearest_flagged(
    dist: DataFrame,
    flagged: DataFrame,
    src: str,
    dst: str,
    flag_key: str,
) -> DataFrame:
    """Nearest-Tclin: per src, min distance into the flagged set with
    ties kept — rank()==1 over (distance, dst) replaces the
    reference's 2×N MIN-then-requery pattern
    (`loaders/TCRD.py:2800-2869`)."""
    hits = dist.join(
        flagged.select(F.col(flag_key).alias(dst)), dst
    )
    w = Window.partitionBy(src).orderBy("distance")
    return (
        hits.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") == 1)
        .select(src, dst, "distance")
    )


def ancestor_paths(
    nodes: DataFrame, node: str, parent_fn, max_depth: int = 40
) -> DataFrame:
    """Walk a parent function to the root, emitting (node, ancestor,
    depth≥1) — the get_protein_dto recursive classification path
    (`loaders/TCRD.py:2127-2137`). parent_fn: Column -> Column (parent
    key or NULL at the root).

    Because the parent is a pure column FUNCTION (not a lookup table),
    the whole walk is row-local: F.aggregate over sequence(2..max_depth)
    appends parent(last) to an accumulator array, then explode — one
    job and zero shuffles versus max_depth driver-loop jobs with an
    isEmpty() action each. (Symbolic unrolling `p(p(…p(x)))` is NOT an
    option: a parent body referencing its argument k times grows the
    expression k^depth — the aggregate lambda is one expression
    evaluated iteratively at runtime.) Table-driven parents
    (do_parent/uberon_parent edges) use ancestor_closure_edges."""
    first = parent_fn(F.col(node))
    init = F.filter(
        F.array(F.struct(first.alias("ancestor"), F.lit(1).alias("depth"))),
        lambda s: s["ancestor"].isNotNull(),
    )

    def step(acc, d):
        nxt = parent_fn(F.element_at(acc, -1)["ancestor"])
        grown = F.concat(
            acc, F.array(F.struct(nxt.alias("ancestor"), d.alias("depth")))
        )
        # append only while the walk is still alive: exactly d-1 entries
        # so far (no earlier termination) and the next parent exists
        return F.when(
            (F.size(acc) == d - 1) & nxt.isNotNull(), grown
        ).otherwise(acc)

    walk = F.aggregate(
        F.sequence(F.lit(2), F.lit(max_depth)), init, step
    )
    return nodes.select(F.col(node), F.explode(walk).alias("_s")).select(
        node,
        F.col("_s.ancestor").alias("ancestor"),
        F.col("_s.depth").alias("depth"),
    )


def ancestor_closure_edges(
    parents: DataFrame, child: str, parent: str, max_depth: int = 40
) -> DataFrame:
    """Transitive ancestor closure of a parent-EDGE table — the
    do_parent / uberon_parent / mpo.parent_id ontology DAGs
    (`SQL/create-TCRDv7.sql:446,2229,1165`). Returns (node, ancestor,
    depth) with depth = min hop count. Iterative join-to-fixpoint
    (apsp_iterative) since the parent relation is data, not a
    function; ontology DAG depth is small and bounded."""
    e = parents.select(
        F.lit(1).alias("_g"),
        F.col(child).alias("node"),
        F.col(parent).alias("ancestor"),
    )
    out = apsp_iterative(e, "_g", "node", "ancestor", max_hops=max_depth)
    return out.select("node", "ancestor", F.col("dist").alias("depth"))


# ------------------------------------------------- testdata bindings

from pyspark.sql import SparkSession  # noqa: E402

from tcrd_spark.sources.lake import load_table  # noqa: E402


def _order_chain_edges(
    spark: SparkSession, sf_dir: str, order_mod: int | None = None
) -> DataFrame:
    """Per-order directed chains: lineitems sorted by linenumber form
    edges part[i] → part[i+1] — thousands of small DAGs, the KEGG
    pathway shape.

    ``order_mod`` filters to orders with l_orderkey % order_mod == 0
    BEFORE the chain window (r12, guide §2.3): Catalyst does not push
    a predicate through a Window even when it references only the
    partition key, so the callers' post-hoc `g % 50` filter shuffled
    and sorted the WHOLE lineitem table to discard 98% of it. Filtering
    whole partitions below the window is value-identical — lead() never
    crosses an l_orderkey boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    if order_mod is not None:
        li = li.filter(F.col("l_orderkey") % order_mod == 0)
    # (orderkey, linenumber) is NOT unique in the testdata — order by
    # partkey too so lead() is deterministic across engines
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    return (
        li.select(
            F.col("l_orderkey").alias("g"),
            F.col("l_partkey").alias("src"),
            F.lead("l_partkey").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    )


def q_apsp_min_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEGG-distances analogue: APSP per order chain, min across
    graphs. Restricted to 2% of orders to bound the compare set."""
    edges = _order_chain_edges(spark, sf_dir, order_mod=50)
    apsp = apsp_local(edges, "g", "src", "dst", max_hops=8)
    return min_distance_merge(apsp, "g", "src", "dst")


def q_nearest_flagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-Tclin analogue over the merged distances: flagged set =
    parts with partkey % 10 == 0; ties kept."""
    edges = _order_chain_edges(spark, sf_dir, order_mod=50)
    apsp = apsp_local(edges, "g", "src", "dst", max_hops=8)
    dist = min_distance_merge(apsp, "g", "src", "dst")
    part = load_table(spark, sf_dir, "part")
    flagged = part.filter(F.col("p_partkey") % 10 == 0).select("p_partkey")
    return nearest_flagged(dist, flagged, "src", "dst", "p_partkey")


def q_clique_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEGG group→clique: parts of each small order pairwise connected."""
    li = load_table(spark, sf_dir, "lineitem")
    small = (
        li.groupBy("l_orderkey")
        .agg(F.count("*").alias("n"))
        .filter((F.col("n").between(2, 4)) & (F.col("l_orderkey") % 20 == 0))
        .select("l_orderkey")
    )
    members = li.join(small, "l_orderkey").select(
        F.col("l_orderkey").alias("grp"), F.col("l_partkey").alias("m")
    )
    return clique_edges(members, "grp", "m")


def q_ancestor_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTO/ontology parent-walk analogue: synthetic tree parent(k) =
    k/2 (root 1) over a 1% part sample — (node, ancestor, depth)."""
    part = load_table(spark, sf_dir, "part")
    nodes = part.filter(F.col("p_partkey") % 100 == 0).select(
        F.col("p_partkey").alias("node")
    )

    def parent(c):
        return F.when(c > 1, F.floor(c / 2)).otherwise(F.lit(None))

    return ancestor_paths(nodes, "node", parent, max_depth=40)


PR_ITERS = 6
PR_DAMPING = 0.85

# Size-adaptive threshold for the PageRank driver fast path (the
# corpus.connected_components precedent, r12): edge lists at or below
# this count (~8 MB of longs at the default) iterate driver-side with
# bit-identical arithmetic instead of paying Catalyst analysis +
# planning of every cut segment (measured: the distributed loop's wall
# at sf0.1 is ~98% driver plan work, 2% execution). Above it — and
# when tests set 0 to force it — the distributed star-shaped loop
# below runs unchanged.
_PR_DRIVER_MAX = 500_000

# The distributed loop cuts lineage every _PR_CUT_EVERY iterations (and
# after the last). Each cut spends a job wave; fusing iterations between
# cuts trades that against Catalyst analysis of the deeper chain.
# Measured bit-identical at sf0.1: every-1 5.69s, every-2 4.25s, every-3
# 4.18s; every-6 regressed to 4.67s (the analysis cost crossing over).
_PR_CUT_EVERY = 3


def _pagerank_driver(spark, src_vals, dst_vals, node_type, iters, damping):
    """Driver-side PageRank over a BOUNDED edge list, replicating the
    distributed exact_fold loop's arithmetic bit-for-bit:

    - contributions pr/outdeg are IEEE divisions of the same doubles
      (numpy elementwise == JVM scalar);
    - each node's incoming contributions fold LEFT in ascending value
      order (lexsort by (dst, value) + a linear segment fold == the
      collect_list → array_sort → aggregate chain);
    - round(x, 9)/round(x, 6) replicate Spark's Round-on-double code
      path: java BigDecimal parses Double.toString's shortest decimal
      representation and HALF_UPs — python's repr() produces the same
      shortest string, so Decimal(repr(x)).quantize(HALF_UP) yields the
      identical double (pinned by tests + the DuckDB oracle at 3 SFs).
    """
    import numpy as np

    from pyspark.sql import types as T

    ids = np.unique(np.concatenate([src_vals, dst_vals]))
    n = len(ids)
    m = len(src_vals)
    src_i = np.searchsorted(ids, src_vals)
    dst_i = np.searchsorted(ids, dst_vals)
    outdeg = np.bincount(src_i, minlength=n).astype(np.float64)
    pr = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    q9, q6 = Decimal("1e-9"), Decimal("1e-6")

    def rnd(x, q):
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    for _ in range(iters):
        c = pr[src_i] / outdeg[src_i]
        perm = np.lexsort((c, dst_i))
        cs = c[perm].tolist()
        ds = dst_i[perm].tolist()
        s9 = [0.0] * n
        i = 0
        while i < m:
            d = ds[i]
            acc = 0.0
            while i < m and ds[i] == d:
                acc = acc + cs[i]
                i += 1
            s9[d] = rnd(acc, q9)
        pr = np.asarray([rnd(base + damping * s, q9) for s in s9])
    schema = T.StructType([
        T.StructField("node", node_type, True),
        T.StructField("pagerank", T.DoubleType(), True),
    ])
    out = pd.DataFrame({
        "node": ids,
        "pagerank": [rnd(float(x), q6) for x in pr],
    })
    # pandas + explicit schema rides the Arrow path (guide §6: driver
    # transfers); values are exact int64/float64 either way
    return spark.createDataFrame(out, schema)


def graph_frames(edges: DataFrame, src: str, dst: str):
    """(e, deg, nodes): the distinct edge list, out-degrees, and node
    set a PageRank iteration references — built once, cache-worthy."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    return e, deg, nodes


def pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    iters: int = PR_ITERS,
    damping: float = PR_DAMPING,
    exact_fold: bool = True,
    prebuilt: tuple | None = None,
    n_nodes: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list → (node,
    pagerank). Simplified variant: dangling nodes keep their (1-d)/N
    base share but redistribute no mass (the common implementation
    shortcut; documented, not hidden).

    Per iteration: one join of the edge list to the current ranks, one
    dst-keyed aggregation, one left join back onto the node set — all
    shuffle-partitioned on the join keys, nothing global. The iteration
    output is plan-cut through an (uncached) RDD round-trip: the chain
    is strictly linear so every cut is computed exactly once, and
    without the cut Catalyst re-analysis cost grows superlinearly with
    depth (the apsp lesson above); it cuts every _PR_CUT_EVERY
    iterations. Node count is ONE bounded driver long
    (r11: folded into the rank expressions as a literal — the
    per-iteration count-aggregate + broadcast-exchange pair it
    replaces was 2 jobs × iters for the same scalar).

    ``exact_fold=True`` sums each node's incoming contributions by a
    sorted fold (collect_list → array_sort → aggregate) so Spark and
    the DuckDB oracle add doubles in the identical order — bit-exact
    adjudication, same trade TIN-X makes. ``exact_fold=False`` is a
    plain map-side-combinable sum, so a power-law in-degree hub never
    materializes its contribution list; its values agree to 1e-6, and
    no registered query uses it. It always takes the distributed loop.

    Up to _PR_DRIVER_MAX distinct edges (with exact_fold and no NULL
    endpoint) the iterations run driver-side instead, bit-identical
    (_pagerank_driver); above that the distributed loop is the only
    path.
    """
    spark = edges.sparkSession
    if prebuilt is not None:
        e, deg, nodes = prebuilt
    else:
        e, deg, nodes = graph_frames(edges, src, dst)
    # Driver fast path (r12 — the CC size-adaptive precedent): at or
    # below _PR_DRIVER_MAX edges the whole iteration runs driver-side
    # with bit-identical arithmetic (see _pagerank_driver), skipping
    # per-cut Catalyst planning entirely. The size test IS the bounded
    # transfer (limit + Arrow toPandas, guide §6); exact_fold=False
    # (nondeterministic partial-sum order) and any NULL endpoint (the
    # distributed join semantics drop/keep them asymmetrically) fall
    # through to the distributed loop, as does everything at scale.
    if exact_fold and _PR_DRIVER_MAX > 0:
        pdf = e.limit(_PR_DRIVER_MAX + 1).toPandas()
        if len(pdf) <= _PR_DRIVER_MAX:
            s_col, d_col = pdf[pdf.columns[0]], pdf[pdf.columns[1]]
            if not (s_col.isna().any() or d_col.isna().any()):
                if len(pdf) == 0:
                    return spark.createDataFrame(
                        [], schema="node long, pagerank double"
                    )
                return _pagerank_driver(
                    spark,
                    s_col.to_numpy(),
                    d_col.to_numpy(),
                    e.schema[0].dataType,
                    iters,
                    damping,
                )
    if prebuilt is None:
        # e/deg/nodes appear in EVERY iteration's plan; uncached they
        # re-run the upstream scan+window+distinct once per iteration
        # (measured 9.9s → warm 3s at sf0.1). One rotating store slot
        # each bounds session storage.
        e = cache(e, "pagerank-e")
        deg = cache(deg, "pagerank-deg")
        nodes = cache(nodes, "pagerank-nodes")
    # one bounded driver long; the literals below reproduce the exact
    # IEEE doubles the old per-iteration aggregate produced (division
    # of the same operands is correctly rounded either way). Callers
    # holding a memoized node frame pass the count along (r12): the
    # count job otherwise re-runs per invocation for the same frame.
    n = nodes.count() if n_nodes is None else n_nodes
    if n == 0:
        # empty edge set: the old crossJoin-with-aggregate form returned
        # an empty frame; 1.0 / n would raise at plan-build time
        # (ADVICE r11)
        return spark.createDataFrame([], schema="node long, pagerank double")
    ranks = nodes.select("node", F.lit(1.0 / n).alias("pr"))
    base = F.lit((1.0 - damping) / n)
    for i in range(iters):
        contrib = (
            e.join(ranks, e["src"] == ranks["node"])
            .join(deg, "src")
            .select("dst", (F.col("pr") / F.col("outdeg")).alias("c"))
        )
        s = sorted_fold_sum("c") if exact_fold else F.sum("c")
        summed = contrib.groupBy("dst").agg(F.round(s, 9).alias("s"))
        ranks = (
            nodes.join(summed, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                F.round(
                    base + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)), 9
                ).alias("pr"),
            )
        )
        # uncached JVM-side cut: the chain is strictly linear, every
        # cut is computed exactly once by the terminal action
        if (i + 1) % _PR_CUT_EVERY == 0 or i == iters - 1:
            ranks = _truncate(ranks, cache=False)
    return ranks.select("node", F.round("pr", 6).alias("pagerank"))


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the global part→part order-chain graph (the KEGG
    pathway union shape): which parts sit centrally in order flows.
    Extends §2.8 beyond the reference's BFS family (`loaders/
    load-KEGGDistances.py` computes distances only) with the standard
    iterative-centrality workload."""
    # the distinct-edge frames live in the session memo store: bench
    # reps and the oracle sweep re-invoke q_pagerank in one session, and
    # per-invocation .cache() without cleanup would leak storage (ADVICE
    # r5). The node count is memoized WITH the frames (r12): it is a
    # property of the memoized node frame, and the separate count job
    # otherwise re-ran on every invocation.
    def build():
        e, deg, nodes = graph_frames(
            _order_chain_edges(spark, sf_dir), "src", "dst"
        )
        return e.cache(), deg.cache(), nodes.cache(), nodes.count()

    triple = memo(spark, "pagerank-edges", sf_dir, build)
    return pagerank(
        triple[0], "src", "dst", PR_ITERS, PR_DAMPING,
        prebuilt=triple[:3], n_nodes=triple[3],
    )


QUERIES = {
    "apsp_min_merge": q_apsp_min_merge,
    "nearest_flagged": q_nearest_flagged,
    "clique_expansion": q_clique_expansion,
    "ancestor_closure": q_ancestor_closure,
    "pagerank": q_pagerank,
}

_EDGES_SQL = """
    SELECT g, src, dst FROM (
      SELECT l_orderkey AS g, l_partkey AS src,
             lead(l_partkey) OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber, l_partkey) AS dst
      FROM lineitem
    ) WHERE dst IS NOT NULL AND src != dst AND g % 50 = 0
"""

_APSP_SQL = f"""
    WITH RECURSIVE e AS (SELECT DISTINCT g, src, dst FROM ({_EDGES_SQL})),
    sp AS (
      SELECT g, src, dst, 1 AS d FROM e
      UNION
      SELECT sp.g, sp.src, e.dst, sp.d + 1
      FROM sp JOIN e ON sp.g = e.g AND sp.dst = e.src
      WHERE sp.d < 8 AND sp.src != e.dst
    ),
    per_graph AS (
      SELECT g, src, dst, min(d) AS dist FROM sp GROUP BY 1, 2, 3
    )
    SELECT src, dst, min(dist) AS distance
    FROM per_graph GROUP BY src, dst
"""

ORACLE = {
    "apsp_min_merge": _APSP_SQL,
    "nearest_flagged": f"""
        WITH dist AS ({_APSP_SQL}),
        hits AS (
          SELECT d.src, d.dst, d.distance
          FROM dist d JOIN part p ON p.p_partkey = d.dst
          WHERE p.p_partkey % 10 = 0
        )
        SELECT src, dst, distance FROM (
          SELECT src, dst, distance,
                 rank() OVER (PARTITION BY src ORDER BY distance) AS rk
          FROM hits
        ) WHERE rk = 1
    """,
    "clique_expansion": """
        WITH small AS (
          SELECT l_orderkey FROM lineitem
          GROUP BY 1
          HAVING count(*) BETWEEN 2 AND 4 AND l_orderkey % 20 = 0
        ),
        members AS (
          SELECT l.l_orderkey AS grp, l.l_partkey AS m
          FROM lineitem l JOIN small USING (l_orderkey)
        )
        SELECT DISTINCT a.m AS m1, b.m AS m2
        FROM members a JOIN members b
          ON a.grp = b.grp AND a.m != b.m
    """,
    "ancestor_closure": """
        WITH RECURSIVE nodes AS (
          SELECT p_partkey AS node FROM part WHERE p_partkey % 100 = 0
        ),
        walk AS (
          SELECT node, CAST(floor(node / 2) AS BIGINT) AS ancestor, 1 AS depth
          FROM nodes WHERE node > 1
          UNION ALL
          SELECT node, CAST(floor(ancestor / 2) AS BIGINT), depth + 1
          FROM walk WHERE ancestor > 1
        )
        SELECT node, ancestor, depth FROM walk
    """,
}


def _pagerank_sql(iters: int, damping: float) -> str:
    """Unrolled-iteration DuckDB twin: one (contrib, rank) CTE pair per
    iteration — recursive CTEs can't aggregate in the recursive term,
    and unrolling keeps the adjudicated computation literally identical
    to the Spark loop. The contribution sum is the same sorted fold
    (0.0-seeded list_reduce over list_sort == F.aggregate over
    array_sort) the TIN-X oracles use for bit-exact double addition."""
    d = f"CAST({damping!r} AS DOUBLE)"
    one_minus_d = f"CAST({1.0 - damping!r} AS DOUBLE)"
    parts = [
        """
        e0 AS (
          SELECT l_partkey AS src,
                 lead(l_partkey) OVER (PARTITION BY l_orderkey
                                       ORDER BY l_linenumber, l_partkey) AS dst
          FROM lineitem
        ),
        e AS (SELECT DISTINCT src, dst FROM e0
              WHERE dst IS NOT NULL AND src != dst),
        deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        nn AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS pr
               FROM nodes CROSS JOIN nn)
        """
    ]
    for i in range(iters):
        parts.append(
            f"""
        c{i} AS (
          SELECT e.dst AS node,
                 round(list_reduce(
                     list_prepend(0.0, list_sort(list(r.pr / deg.outdeg))),
                     (acc, x) -> acc + x), 9) AS s
          FROM e JOIN r{i} r ON e.src = r.node
                 JOIN deg ON e.src = deg.src
          GROUP BY e.dst
        ),
        r{i + 1} AS (
          SELECT nodes.node,
                 round({one_minus_d} / nn.n
                       + {d} * coalesce(c{i}.s, 0.0), 9) AS pr
          FROM nodes CROSS JOIN nn
          LEFT JOIN c{i} ON nodes.node = c{i}.node
        )
        """
        )
    return (
        "WITH "
        + ",".join(parts)
        + f" SELECT node, round(pr, 6) AS pagerank FROM r{iters}"
    )


ORACLE["pagerank"] = _pagerank_sql(PR_ITERS, PR_DAMPING)
