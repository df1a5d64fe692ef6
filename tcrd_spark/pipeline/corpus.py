"""Corpus-construction operators for a large-scale training-data
pipeline: near-dup GROUP resolution (connected components), dedup
against an existing corpus (incremental near-dups), deterministic
sharding / interleaving, stratified sampling, global-quantile
filtering, and fixed-token-budget sequence packing.

The reference (unmtransinfo/TCRD) has no corpus tooling — these are
the LLM-data-pipeline extension surface (BASELINE.json north star),
built scale-first:

- every hash is the portable ``hash60`` (functions/hashing.py), so a
  DuckDB oracle reproduces results bit-identically;
- connected components is the alternating large-star/small-star
  algorithm (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC'14) — O(log n) rounds, each round two key-grouped
  shuffles, never any driver-side graph state;
- sharding / sampling / packing are pure window + hash expressions
  (whole-stage codegen, one hash-partitioned exchange each).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tcrd_spark.functions.hashing import hash60, spark_hash60
from tcrd_spark.operators.blocking import candidate_pairs
from tcrd_spark.operators.lineage import _keep, _truncate, cache

# Size-adaptive threshold for the connected-components driver fast
# path (see connected_components below) — the CC analogue of
# spark.sql.autoBroadcastJoinThreshold: edge sets at or below this
# count (~3 MB of longs at the default) are resolved by driver
# union-find instead of the O(log n)-round distributed star loop
# (tests set 0 to force the loop).
_CC_DRIVER_MAX = 200_000


# ------------------------------------------------------- connected components

def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 25,
) -> DataFrame:
    """Undirected edge list → (node, component), component = min node
    id reachable. Only nodes that appear in ``edges`` are returned
    (callers left-join isolated nodes back, label = self).

    Alternating large-star / small-star (Kiveris et al. SoCC'14 §3):
    each round rewires edges toward per-neighborhood minima; the edge
    set converges to a star forest rooted at each component's min in
    O(log n) rounds. Per round: two groupBy shuffles on node id, both
    map-side combinable (MIN). Nothing ever touches the driver except
    the O(1) convergence test; lineage is truncated per round so
    Catalyst analysis stays O(1) per iteration. At 100 TB this is the
    standard formulation: no component is ever materialized as a
    single task's worth of state, so hub components (a viral document
    duplicated everywhere) spread across the cluster instead of OOMing
    one executor.
    """
    def _sig(df: DataFrame) -> tuple:
        # O(1)-output convergence signature: (edge count, checksum).
        # One job instead of count + exceptAll (a full shuffle join);
        # xxhash64 is used ONLY for change detection, never in results.
        row = df.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("s"),
        ).first()
        return (row["n"], row["s"])

    e = (
        edges.selectExpr(
            f"CAST(`{src}` AS BIGINT) AS u", f"CAST(`{dst}` AS BIGINT) AS v"
        )
        .where("u != v")
        .distinct()
    )
    # Size-adaptive fast path (r11 optimization, the broadcast-join-
    # below-threshold principle applied to CC): at or below
    # _CC_DRIVER_MAX edges (~3 MB of longs) a driver union-find
    # resolves components in O(α) per edge with ZERO per-round Spark
    # jobs, where the star loop paid 3 shuffles + a cut + a signature
    # action per round. Components are identical by construction (min
    # reachable id). Above the threshold — the 100 TB regime — the
    # alternating-star loop below runs unchanged. The size test IS the
    # collect (r12, guide §1/§2: the separate count job doubled the
    # AQE stage cascade of the upstream pair plan — 16 jobs → 8 in
    # corpus_pipeline_v2's stage 4): limit(MAX+1) bounds the driver
    # memory exactly like the count test did, and the extra row, when
    # present, proves the edge set is over threshold without counting
    # it. Union-find labels are row-order-independent, so the limit's
    # partition order does not matter.
    e = e.cache()
    # Arrow transfer (r12, guide §6 — the pagerank fast-path lesson):
    # toPandas moves the bounded edge list 4-8× faster than collect()'s
    # pickled Rows; values are exact int64 either way (u/v are cast to
    # long and the != filter drops NULL endpoints before this point)
    pdf = e.limit(_CC_DRIVER_MAX + 1).toPandas()
    if len(pdf) <= _CC_DRIVER_MAX:
        e.unpersist()
        us = pdf[pdf.columns[0]].tolist()
        vs = pdf[pdf.columns[1]].tolist()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for u, v in zip(us, vs):
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        comp_min: dict[int, int] = {}
        for node in parent:
            r = find(node)
            m = comp_min.get(r)
            if m is None or node < m:
                comp_min[r] = node
        spark = edges.sparkSession
        # the star loop's fixpoint is a star forest with NO self-edges,
        # so each component's min (the root) is absent from its output;
        # match that exactly — callers coalesce missing nodes to self
        out = [
            (node, comp)
            for node in parent
            if (comp := comp_min[find(node)]) != node
        ]
        if not out:
            return spark.createDataFrame(
                [], schema="node long, component long"
            )
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(out, columns=["node", "component"]),
            schema="node long, component long",
        )
    # superseded round cuts are unpersisted as the loop advances
    # (ADVICE r6: these previously pinned one RDD per round for the
    # session); the final cut — the returned plan reads it — goes to
    # the rotating "cc" store slot.
    held: list = [e]
    e = _truncate(e, held)
    prev = _sig(e)
    # per-neighborhood minima via an unordered window (min over the
    # whole u-partition): ONE exchange per star step, versus the
    # textbook groupBy+self-join formulation's three — the window and
    # the emit read the same shuffled partition
    wu = Window.partitionBy("u")
    converged = False
    for _ in range(max_iter):
        # --- large-star: for each node n, m = min(Γ(n) ∪ {n});
        #     emit (v, m) for every neighbor v > n
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        ls = (
            sym.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # --- small-star: orient edges high→low; for each node n,
        #     m = min(Γ(n)); emit (v, m) for v ∈ Γ(n) plus (n, m)
        o = ls.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).withColumn("m", F.min("v").over(wu))
        ss = (
            o.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(o.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        ss = _truncate(ss, held)
        # converged ⇔ the edge set is unchanged (a star forest is a
        # fixpoint of both rewrites). The signature is the cheap
        # screen; a matching signature is CONFIRMED with one exact
        # check before declaring convergence — a (count, xor-of-hash)
        # collision must not silently emit wrong component labels.
        # Counts match and both sides are distinct sets, so one-sided
        # exceptAll emptiness ⇔ set equality. Runs on the final round
        # only (one extra job across the whole algorithm).
        cur = _sig(ss)  # full agg: the new cut is materialized here
        done = cur == prev and ss.exceptAll(e).isEmpty()
        while len(held) > 1:  # release every superseded round cut
            held.pop(0).unpersist()
        if done:
            e = ss
            converged = True
            break
        prev = cur
        e = ss
    if not converged:
        # alternating stars converge in O(log n) rounds (Kiveris §4);
        # exhausting max_iter means labels may be split mid-merge —
        # fail loudly rather than return silently-wrong components
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds; "
            "raise max_iter"
        )
    e = _keep(e, held[0], held, "cc")
    return e.select(F.col("u").alias("node"), F.col("v").alias("component"))


def group_labels(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    rep_by: str | None = None,
) -> DataFrame:
    """(doc_id, group_id[, rep_by]): every doc of ``docs`` labelled with
    its near-dup GROUP, group_id = the min doc id the (id_a, id_b)
    ``pairs`` connect it to (isolated docs label themselves). The one
    labelling step of ``dedup_groups``, ``dedup_group_reps`` and the
    leakage-safe split; ids come back as bigint."""
    cc = connected_components(pairs, "id_a", "id_b")
    i = f"`{id_col}`"
    score = [f"`{rep_by}`"] if rep_by else []
    return (
        docs.selectExpr(f"CAST({i} AS BIGINT) AS {i}", *score)
        .join(cc.withColumnRenamed("node", id_col), id_col, "left")
        .selectExpr(i, f"coalesce(component, {i}) AS group_id", *score)
    )


def dedup_groups(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    rep_by: str | None = None,
) -> DataFrame:
    """Resolve near-dup PAIRS into transitive GROUPS, one row per doc:
    (doc_id, group_id, group_sz). group_id = min doc id of the group
    (isolated docs form their own group); the canonical "keep one
    representative per duplicate cluster" step that follows any pair
    detector — pairs alone under-remove: A~B, B~C must all collapse
    even when A~C scored below threshold.

    ``rep_by`` (VERDICT r5 #7): a score column in ``docs`` (higher =
    better) elects each group's REPRESENTATIVE — real pipelines keep
    the highest-quality member (a Gopher/perplexity score, SemDeDup's
    distance-from-centroid), not the smallest id. Adds a rep_id
    column: argmax(rep_by), ties to the smallest id. The election is
    ONE map-side-combinable max-of-struct aggregate per group (scores
    fold before the exchange) — deliberately NOT an ordered window, so
    a viral million-member group costs its partitions a merge of
    partial maxima, never a single-task sort.
    """
    labeled = group_labels(docs, pairs, id_col, rep_by)
    i = f"`{id_col}`"
    sizes = labeled.groupBy("group_id").agg(F.expr("count(1) AS group_sz"))
    out = labeled.join(sizes, "group_id").selectExpr(i, "group_id", "group_sz")
    if rep_by is None:
        return out
    return out.join(_rep_ids(labeled, id_col, rep_by), "group_id").selectExpr(
        i, "group_id", "group_sz", "rep_id"
    )


def _rep_ids(labeled: DataFrame, id_col: str, rep_by: str) -> DataFrame:
    """(group_id, rep_id): each group's elected representative. Max of
    (score, -id) ⇒ highest score, then smallest id — an
    order-independent aggregate, engine-reproducible."""
    return (
        labeled.groupBy("group_id")
        .agg(F.expr(f"max(struct(`{rep_by}` AS s, -`{id_col}` AS negid)) AS m"))
        .selectExpr("group_id", "-m.negid AS rep_id")
    )


def dedup_group_reps(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    rep_by: str | None = None,
) -> DataFrame:
    """The REPRESENTATIVE ids only — exactly the set
    ``dedup_groups(...).filter(id == rep_id)`` (or ``== group_id`` when
    ``rep_by`` is None) selects, without computing what that
    composition throws away (r12, guide §2.3/§2.4): the group-size
    aggregate and the two join-backs onto every member row existed
    only to build the full per-doc frame. Keep-one gates (the corpus
    pipelines) consume the rep SET alone, so this form stops at the
    election aggregate: min-id reps are simply the distinct group
    labels; rep_by reps are the same max-of-(score, -id) struct
    aggregate dedup_groups runs, minus sizes and join-backs — 3 fewer
    exchanges per gate in the composed pipelines' plans.
    """
    labeled = group_labels(docs, pairs, id_col, rep_by)
    if rep_by is None:
        # the min-id representative IS the group label
        return labeled.selectExpr(f"group_id AS `{id_col}`").distinct()
    return _rep_ids(labeled, id_col, rep_by).selectExpr(f"rep_id AS `{id_col}`")


# ------------------------------------------------- incremental (batch) dedup

def _text_hash(
    df: DataFrame, id_col: str, text_col: str, out_id: str
) -> DataFrame:
    """(out_id, th): the exact-duplicate key of each document."""
    return df.selectExpr(
        f"`{id_col}` AS {out_id}", f"{spark_hash60(f'`{text_col}`')} AS th"
    )


def _postings(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, g): one row per distinct shingle hash of each document."""
    return sh.selectExpr(f"`{id_col}`", "explode(hs) AS g")


def _verdicts(
    batch: DataFrame,
    id_col: str,
    text_col: str,
    c_hash: DataFrame,
    cand: DataFrame,
    b_sets: DataFrame,
    c_sets: DataFrame,
    threshold: float,
) -> DataFrame:
    """The shared tail of the incremental trio: (doc_id, exact_src,
    near_src, verdict) per batch doc. exact_src probes the batch's text
    hashes against ``c_hash`` (c_id, th); near_src verifies the
    candidate (id_a = batch, id_b = corpus) pairs with the UNROUNDED
    Jaccard of the (id, hs) shingle-hash sets on each side. Built from
    SQL strings: one parse per expression instead of ~10 py4j round
    trips per Column operator, on every call."""
    exact = (
        _text_hash(batch, id_col, text_col, "b_id")
        .join(c_hash, "th")
        .groupBy("b_id")
        .agg(F.expr("min(c_id) AS exact_src"))
    )
    inter = "size(array_intersect(hs_b, hs_c))"
    near = (
        cand.join(b_sets.selectExpr(f"`{id_col}` AS id_a", "hs AS hs_b"), "id_a")
        .join(c_sets.selectExpr(f"`{id_col}` AS id_b", "hs AS hs_c"), "id_b")
        .where(
            F.expr(f"{inter} / (size(hs_b) + size(hs_c) - {inter})") >= threshold
        )
        .groupBy(F.expr("id_a AS b_id"))
        .agg(F.expr("min(id_b) AS near_src"))
    )
    return (
        batch.selectExpr(f"`{id_col}` AS b_id")
        .join(exact, "b_id", "left")
        .join(near, "b_id", "left")
        .selectExpr(
            f"b_id AS `{id_col}`",
            "exact_src",
            "near_src",
            "CASE WHEN exact_src IS NOT NULL THEN 'exact' "
            "WHEN near_src IS NOT NULL THEN 'near' ELSE 'new' END AS verdict",
        )
    )


def incremental_near_dups(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Dedup an incoming BATCH against an existing CORPUS without
    re-pairing the corpus with itself — the production shape: the
    corpus's shingle index is precomputed/persisted once and each
    ingest batch probes it.

    Returns one row per batch doc: (doc_id, exact_src, near_src,
    verdict) where exact_src = min corpus doc with identical text,
    near_src = min corpus doc with n-gram Jaccard ≥ threshold, and
    verdict ∈ {'exact', 'near', 'new'}. Candidate generation is a
    shared-shingle equi-join batch→corpus (inverted-index probe: cost
    ∝ batch size × avg postings, never corpus²); verify is exact
    Jaccard on candidates only.

    The shingle frames are cached (each feeds both the inverted index
    and the verify join) under rotating store slots, so repeated
    calls — the streaming ingest sink runs one per micro-batch — hold
    at most one cached frame per side.
    """
    from tcrd_spark.pipeline.dedup import hashed_shingles

    b_sh = cache(hashed_shingles(batch, id_col, text_col, n), "incr-bsh")
    c_sh = cache(hashed_shingles(corpus, id_col, text_col, n), "incr-csh")
    cand = candidate_pairs(
        _postings(b_sh, id_col), id_col, "g", other=_postings(c_sh, id_col)
    )
    c_hash = _text_hash(corpus, id_col, text_col, "c_id")
    return _verdicts(batch, id_col, text_col, c_hash, cand, b_sh, c_sh, threshold)


def build_dedup_index(
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    table_prefix: str,
    n: int = 3,
    n_buckets: int = 32,
) -> tuple[str, str, str]:
    """Persist the standing corpus's dedup probe assets as BUCKETED
    tables (the asset `incremental_near_dups` recomputes per call):

    - ``<prefix>_th``   (c_id, th)  bucketed by th   — exact-hash probe
    - ``<prefix>_inv``  (g, c_id)   bucketed by g    — shingle postings
    - ``<prefix>_sets`` (c_id, hs)  bucketed by c_id — verify arrays

    Bucketing is the point: a batch probe join against a bucketed
    side shuffles ONLY the batch (Spark reads the bucketed side's
    buckets in place), so per-ingest cost is proportional to the
    batch, while the corpus-sized shuffle happened once, at build
    time. Same layout philosophy as build_ivf_index's cell_id
    partitioning (pipeline/similarity.py). Returns the three table
    names.
    """
    from tcrd_spark.pipeline.dedup import hashed_shingles
    from tcrd_spark.sources.lake import write_bucketed

    write_bucketed(
        _text_hash(corpus_df, id_col, text_col, "c_id"),
        f"{table_prefix}_th",
        "th",
        n_buckets,
    )
    sh = hashed_shingles(corpus_df, id_col, text_col, n).select(
        F.col(id_col).alias("c_id"), F.col("hs")
    )
    write_bucketed(
        sh.select(F.explode("hs").alias("g"), "c_id"),
        f"{table_prefix}_inv",
        "g",
        n_buckets,
    )
    write_bucketed(sh, f"{table_prefix}_sets", "c_id", n_buckets)
    return f"{table_prefix}_th", f"{table_prefix}_inv", f"{table_prefix}_sets"


def incremental_near_dups_indexed(
    batch: DataFrame,
    table_prefix: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """incremental_near_dups against a persisted build_dedup_index —
    identical results; the difference is the corpus side is read, not
    recomputed, and its bucketing keeps every probe join's exchange on
    the batch side only."""
    from tcrd_spark.pipeline.dedup import hashed_shingles

    spark = batch.sparkSession
    c_inv = spark.table(f"{table_prefix}_inv").withColumnRenamed("c_id", id_col)
    c_sets = spark.table(f"{table_prefix}_sets").withColumnRenamed("c_id", id_col)
    b_sh = cache(hashed_shingles(batch, id_col, text_col, n), "incridx-bsh")
    cand = candidate_pairs(_postings(b_sh, id_col), id_col, "g", other=c_inv)
    c_hash = spark.table(f"{table_prefix}_th")
    return _verdicts(batch, id_col, text_col, c_hash, cand, b_sh, c_sets, threshold)


def incremental_near_dups_lsh(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_perms: int = 32,
    bands: int = 16,
    threshold: float = 0.3,
) -> DataFrame:
    """incremental_near_dups with MinHash-LSH candidate generation:
    instead of probing EVERY shared shingle's postings (exact recall,
    but candidate count ∝ Σ batch_df·corpus_df over shingles — the
    common-shingle hazard on skewed corpora), batch docs probe only
    the corpus's LSH band buckets. Candidate recall follows the
    (1-(1-s^r)^b) S-curve; the exact-Jaccard verify keeps precision at
    1. The corpus's band-bucket table is the persistable asset.
    Exact-hash duplicates are still caught exactly (hash join).
    Returns the same (doc_id, exact_src, near_src, verdict) shape.
    """
    from tcrd_spark.pipeline.dedup import hashed_shingles, minhash_buckets

    def sets(df: DataFrame, slot: str) -> DataFrame:
        return cache(
            hashed_shingles(df, id_col, text_col, n).filter(F.size("hs") > 0),
            slot,
        )

    b_sh, c_sh = sets(batch, "incrlsh-b_id"), sets(corpus, "incrlsh-c_id")
    cand = candidate_pairs(
        minhash_buckets(b_sh, id_col, n_perms, bands),
        id_col,
        "bucket",
        other=minhash_buckets(c_sh, id_col, n_perms, bands),
    )
    c_hash = _text_hash(corpus, id_col, text_col, "c_id")
    return _verdicts(batch, id_col, text_col, c_hash, cand, b_sh, c_sh, threshold)


# ------------------------------------------------------- vocab / contamination

def vocab_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 2,
    k: int = 100,
) -> DataFrame:
    """Corpus vocabulary: the k most frequent whitespace tokens with
    term frequency and document frequency (tokenizer/vocab seeding).
    Classic wordcount — explode → groupBy(token) with map-side partial
    aggregation; the global top-k is orderBy+limit, which Spark
    executes as TakeOrderedAndProject (per-partition heaps, no full
    sort, no global window). Ties break lexicographically so the
    result is deterministic.
    """
    from tcrd_spark.pipeline.text import ws_tokens

    tok = df.select(
        F.col(id_col), F.explode(ws_tokens(F.col(text_col))).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct(id_col).alias("df"),
        )
        .filter(F.col("tf") >= min_count)
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(k)
    )


def decontaminate(
    corpus_df: DataFrame,
    bench_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word n-gram with a benchmark/eval set (the train-test-overlap
    scrub every pretraining pipeline runs before training).

    The benchmark shingle set is small by construction (eval suites
    are thousands of docs, not billions) — it broadcasts, so the scan
    of the 100 TB corpus side stays shuffle-free: explode → broadcast
    hash join → groupBy doc. Returns one row per corpus doc:
    (doc_id, bench_hits, contaminated 0/1).
    """
    from tcrd_spark.pipeline.dedup import hashed_shingles

    c_inv = hashed_shingles(corpus_df, id_col, text_col, n).select(
        id_col, F.explode("hs").alias("g")
    )
    b_set = (
        hashed_shingles(bench_df, id_col, text_col, n)
        .select(F.explode("hs").alias("g"))
        .distinct()
    )
    hits = (
        c_inv.join(F.broadcast(b_set), "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("bench_hits"))
    )
    return (
        corpus_df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("bench_hits", F.lit(0)).alias("bench_hits"),
            (F.coalesce("bench_hits", F.lit(0)) > 0).cast("int").alias(
                "contaminated"
            ),
        )
    )


def boilerplate_line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_freq: int = 3,
    sep: str = "\n",
) -> DataFrame:
    """C4-style boilerplate removal: a LINE that occurs (identically)
    in more than ``max_doc_freq`` distinct documents is boilerplate —
    navigation chrome, cookie banners, licence footers — and is
    dropped from every document; remaining lines are reassembled in
    their original order. Returns (id, clean_text, n_lines_kept,
    n_lines_dropped). ``sep`` is used both as a split REGEX and a
    join literal — pass plain separators (newline, tab), not regex
    metacharacters.

    Plan: posexplode lines → hash60 per line (8-byte shuffle key, the
    line body never shuffles twice) → distinct-doc counts per hash →
    broadcast-able "common" set is WRONG at 100 TB (boilerplate
    cardinality is corpus-sized), so it stays a shuffled anti-join on
    the hash → groupBy doc reassembles with array_sort over (pos,
    line) structs. Two shuffles total (line-hash agg + doc regroup).
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn("lh", hash60(F.col("line")))
    common = (
        lines.groupBy("lh")
        .agg(F.countDistinct(id_col).alias("ndocs"))
        .filter(F.col("ndocs") > max_doc_freq)
        .select("lh")
    )
    kept = lines.join(common, "lh", "left_anti")
    dropped_ct = (
        lines.join(common, "lh", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_lines_dropped"))
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("clean_text"),
            F.count("*").alias("n_lines_kept"),
        )
        .join(df.select(id_col), id_col, "right")
        .join(dropped_ct, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            F.coalesce("n_lines_dropped", F.lit(0)).alias("n_lines_dropped"),
        )
    )


# ------------------------------------------------- sharding / interleaving

def shard_assign(
    df: DataFrame, id_col: str, n_shards: int
) -> DataFrame:
    """Deterministic shard + interleaved position per row: shard =
    hash60(id) mod n_shards; pos = rank of hash60 within the shard.

    Hash-ordered positions interleave the source ordering (adjacent
    input rows land far apart in every shard) — the training-data
    write-out contract: any prefix of any shard is an unbiased sample.
    One hash-partitioned exchange (the window); the hash itself is
    md5-based and engine-portable, so shard layouts are reproducible
    anywhere, not an artifact of Spark's internal hash.
    """
    h = hash60(F.col(id_col).cast("string"))
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (
        df.select(F.col(id_col), h.alias("h"))
        .withColumn("shard", (F.col("h") % n_shards).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "shard", "pos")
    )


def stratified_sample(
    df: DataFrame, strata_col: str, id_col: str, quota: int
) -> DataFrame:
    """Deterministic per-stratum quota sample: the ``quota`` rows with
    the smallest hash60(id) per stratum (corpus balancing: equal-sized
    language/source slices regardless of raw skew). Hash-ranking makes
    the sample uniform-at-random w.r.t. any input correlate yet stable
    across runs/engines — no RNG state, no seed plumbing. One window
    exchange on the stratum key; strata far above quota can pre-prune
    with an approx per-stratum hash cutoff before the exact window at
    extreme skew.
    """
    h = hash60(F.col(id_col).cast("string"))
    w = Window.partitionBy(strata_col).orderBy("h", id_col)
    return (
        df.select(strata_col, F.col(id_col), h.alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= quota)
        .select(id_col, strata_col, F.col("rn").alias("sample_rank"))
    )


def quantile_filter(
    df: DataFrame, id_col: str, score_col: str, q: float
) -> DataFrame:
    """Keep rows with score ≥ the global q-quantile (linear
    interpolation, exact). The scalar threshold is computed once and
    broadcast-joined (literally a 1-row cross join — Catalyst turns it
    into BroadcastNestedLoopJoin with a single-row build side); the
    filter then runs map-side. The exact percentile is a single-pass
    typed agg; at extreme scale swap for approx_percentile with a
    documented error bound.
    """
    thr = df.agg(
        F.round(F.percentile(F.col(score_col), F.lit(q)), 6).alias("thr")
    )
    return (
        df.crossJoin(F.broadcast(thr))
        .filter(F.col(score_col) >= F.col("thr"))
        .select(F.col(id_col), F.col(score_col), F.col("thr"))
    )


def write_corpus_shards(
    docs: DataFrame,
    layout: DataFrame,
    path: str,
    id_col: str = "doc_id",
) -> None:
    """Materialize the training-data write-out: join documents to their
    shard_assign layout and write a shard-partitioned parquet tree,
    each shard's rows position-sorted within its files (one file per
    shard here; at scale repartition by shard first and the sort holds
    per file, which is the contract sequential trainers read by).

    The partition directory IS the shard: a reader streams shard=K in
    pos order with a partition-pruned scan and zero shuffle.
    """
    (
        docs.join(layout, id_col)
        .repartition("shard")
        .sortWithinPartitions("pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def read_corpus_shard(spark, path: str, shard: int) -> DataFrame:
    """Partition-pruned read of one shard, in training order."""
    return (
        spark.read.parquet(path)
        .filter(F.col("shard") == shard)
        .sortWithinPartitions("pos")
    )


# --------------------------------------------------------- sequence packing

def sequence_pack(
    df: DataFrame,
    id_col: str,
    tok_col: str,
    n_shards: int,
    budget: int,
) -> DataFrame:
    """Pack documents into fixed-token-budget training chunks:
    documents are sharded and interleaved deterministically (hash
    order), then each shard is split greedily into contiguous chunks —
    a document starts a new chunk when the shard-running token total
    would cross the next budget boundary mid-document... here the
    simpler offset-bin rule: chunk = floor(tokens_before_doc / budget),
    i.e. a document belongs to the chunk its first token falls in under
    the running concatenation. Pure prefix-sum semantics (one window
    over the shard), so both engines agree exactly and the plan is a
    single exchange; exact first-fit (reset at each boundary) is
    sequential per shard and buys <budget/doc_len fewer padding tokens
    — not worth losing the closed-form plan.

    Returns (doc_id, shard, chunk, n_tok, chunk_off): chunk_off = token
    offset of the doc inside the running shard stream.
    """
    h = hash60(F.col(id_col).cast("string"))
    w = Window.partitionBy("shard").orderBy("h", id_col)
    cum = F.sum(tok_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(F.col(id_col), F.col(tok_col).alias("n_tok"), h.alias("h"))
        .withColumn("shard", (F.col("h") % n_shards).cast("int"))
        .withColumn("cum", cum.cast("long"))
        .select(
            id_col,
            "shard",
            F.floor((F.col("cum") - F.col("n_tok")) / budget).alias("chunk"),
            "n_tok",
            (F.col("cum") - F.col("n_tok")).alias("chunk_off"),
        )
    )
