"""Physical-plan audits: assert the *plans*, not just the results —
filters reach the parquet scan, dimension joins broadcast, top-k
windows pre-filter below the exchange, hot-path queries stay JVM-side
(no row-at-a-time Python), aggregations combine map-side.

These are the properties that decide 100 TB behavior; a regression
here is a performance bug even while results stay correct.
"""

from __future__ import annotations

import re

import pytest


def plan_of(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as e

    return e.queries()


def test_filter_and_projection_pushdown(spark, sf_dir, queries):
    plan = plan_of(queries["scan_project_filter"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    # a real predicate made it into the scan, not just IsNotNull
    assert any(
        tok in plan for tok in ("GreaterThan", "LessThan", "EqualTo", "In(")
    ), plan
    # column pruning: lineitem has 11 columns; the scan must read fewer
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and read_schema[0].count(":") < 12, read_schema


def test_dim_join_broadcasts(spark, sf_dir, queries):
    plan = plan_of(queries["three_way_entity_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, (
        "dimension join fell back to sort-merge:\n" + plan
    )


def test_topk_uses_window_group_limit(spark, sf_dir, queries):
    plan = plan_of(queries["topk_per_group"](spark, sf_dir))
    # Spark 3.5+: rank<=k is pre-filtered below the shuffle
    assert "WindowGroupLimit" in plan, plan


# every registered query whose answer is a per-query top-k
RETRIEVAL = (
    "ann_bruteforce", "ann_ivf", "ann_ivf_indexed", "ann_sq_topk",
    "ann_ivfsq", "ann_pq_topk", "ann_ivfpq", "ann_pq_rerank",
    "hard_negatives", "hard_negatives_shortlist", "rrf_fusion",
)


@pytest.mark.parametrize("name", RETRIEVAL)
def test_retrieval_topk_uses_window_group_limit(spark, sf_dir, queries, name):
    """The scale claim of the retrieval family (pipeline/similarity.py):
    each partition keeps k rows per query before the top-k's exchange,
    so k rows per partition move, not the candidates."""
    df = queries[name](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_all_query_plans_are_scale_clean(spark, sf_dir, queries):
    """One plan-build pass over every registered query, two gates:

    (a) No Python in relational paths — everything except the declared
    pandas/arrow queries must compile to JVM expressions
    (BatchEvalPython in a plan means a Python row-loop snuck into the
    hot path).

    (b) No partition-less window — a windowspec ordering the WHOLE
    dataset funnels every row through ONE task; fine at sf0.01, fatal
    at 100 TB. A windowspecdefinition whose first argument carries
    ASC/DESC has ordering but no partition columns; reject that.

    (Merged into one test, plan builds fanned over a thread pool:
    Catalyst analysis happens JVM-side so concurrent builds scale,
    and building all ~90 plans dominates the wall-clock. PASSES are
    content-key cached like the oracle sweep — see sweep_cache.py;
    a fresh clone always builds every plan.)"""
    python_ok = {
        "apsp_min_merge", "nearest_flagged",      # applyInPandas BFS
        "multimodal_features",                    # mapInPandas decode
        "dedup_embedding_cosine",                 # mapInPandas block matmul
        "semantic_dedup_pairs",                   # applyInPandas BLAS matmul
        "semantic_dedup",                         # (same scorer downstream)
        "corpus_pipeline_v2",                     # SemDeDup stage (same)
        "doc_compressibility",                    # zlib has no JVM
                                                  # expression: the
                                                  # documented Arrow slow path
    }

    def check(item):
        name, q = item
        plan = plan_of(q(spark, sf_dir))
        problems = []
        if name not in python_ok:
            for marker, what in (
                ("BatchEvalPython", "Python UDF"),
                ("ArrowEvalPython", "pandas UDF"),
                ("FlatMapGroupsInPandas", "applyInPandas"),
                ("MapInPandas", "mapInPandas"),
            ):
                if marker in plan:
                    problems.append(f"{name} uses {what}")
        for chunk in plan.split("windowspecdefinition(")[1:]:
            first_arg = chunk.split(",", 1)[0]
            if " ASC" in first_arg or " DESC" in first_arg:
                problems.append(
                    f"{name} has a global (partition-less) window"
                )
        return problems

    import os
    from concurrent.futures import ThreadPoolExecutor

    import sweep_cache

    cache_path = os.path.join(sweep_cache.REPO, ".plan_sweep_cache.json")
    cache = sweep_cache.load(cache_path)
    env = sweep_cache.env_key(sf_dir, ("tests/test_plans.py",))
    keys = {
        n: sweep_cache.closure_key(q, None, env) for n, q in queries.items()
    }
    to_run = [
        (n, q) for n, q in queries.items()
        if not (sweep_cache.enabled() and cache.get(n) == keys[n])
    ]

    with ThreadPoolExecutor(12) as pool:
        results = list(pool.map(lambda it: (it[0], check(it)), to_run))
    all_problems = [p for _, ps in results for p in ps]
    if sweep_cache.enabled():
        for n, ps in results:
            if ps:
                cache.pop(n, None)
            else:
                cache[n] = keys[n]
        sweep_cache.save(cache_path, cache)
    print(
        f"\nplan sweep: {len(to_run)} built, "
        f"{len(queries) - len(to_run)} cache-skipped"
    )
    assert not all_problems, all_problems


def test_ivf_assignment_has_no_window_shuffle(spark, sf_dir):
    """Nearest-centroid assignment is row-local: the plan must contain
    no Window operator (the old shape shuffled corpus×n_cells rows
    through row_number)."""
    from pyspark.sql import functions as F

    from tcrd_spark.pipeline import similarity
    from tcrd_spark.sources.lake import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cell_vec")
    )
    plan = plan_of(similarity.assign_cells(corpus, cents, dim=64))
    assert "Window" not in plan, plan


def test_embedding_brute_force_size_guard(spark, sf_dir):
    """The brute-force matmul collects the corpus to the driver for
    broadcast; the guard must fail fast past the declared budget
    instead of silently OOMing."""
    from tcrd_spark.pipeline.dedup import embedding_near_dups
    from tcrd_spark.sources.lake import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="IVF/LSH"):
        embedding_near_dups(emb, "vec_id", "embedding", dim=64, max_vectors=10)


def test_partial_aggregation(spark, sf_dir, queries):
    """group_sum must combine map-side: two HashAggregate nodes
    (partial + final) around the exchange."""
    plan = plan_of(queries["group_sum"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan


def test_whole_stage_codegen_active(spark, sf_dir, queries):
    df = queries["pricing_summary"](spark, sf_dir)
    # AQE only finalizes (and assigns codegen stages) at execution —
    # collect() drives THIS QueryExecution to its final plan
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators render as *(stageId) Node in the final plan
    assert "*(" in plan, plan


def test_benched_embedding_dedup_never_touches_driver(spark, sf_dir, monkeypatch):
    """VERDICT r2 #5: no toPandas()/collect() may be reachable from
    the benched/registered dedup_embedding_cosine — constructing its
    plan must not run any driver-side materialization."""
    from pyspark.sql import DataFrame

    from tcrd_spark.pipeline.testdata_queries import q_dedup_embedding_cosine

    def boom(*a, **k):
        raise AssertionError("driver-side materialization in benched query")

    monkeypatch.setattr(DataFrame, "toPandas", boom)
    monkeypatch.setattr(DataFrame, "collect", boom)
    df = q_dedup_embedding_cosine(spark, sf_dir)
    plan = df._jdf.queryExecution().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Both sides bucketed on the join key with equal bucket counts →
    the join plan contains NO shuffle exchange (broadcast disabled to
    prove co-location, not small-table luck)."""
    from tcrd_spark.sources.lake import load_table, write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "bkt_orders", "o_orderkey", 8)
    write_bucketed(lineitem, "bkt_lineitem", "o_orderkey", 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_orders").join(
            spark.table("bkt_lineitem"), "o_orderkey"
        )
        joined.collect()  # AQE finalizes the physical plan
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_blocked_matmul_shuffle_budget(spark, sf_dir):
    """The blocked embedding matmul's only shuffles are the (bi,bj)
    co-location of the two union branches — at most 2 hash exchanges
    regardless of corpus size; the grid rides broadcasts."""
    from tcrd_spark.pipeline.testdata_queries import q_dedup_embedding_cosine

    df = q_dedup_embedding_cosine(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "FlatMapGroupsInPandas" in plan


def test_ivf_indexed_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    """The persisted IVF index is cell_id-partitioned parquet; a search
    must read ONLY the probed cells — the probe list becomes a static
    PartitionFilters entry on the scan and the files actually read all
    belong to the probed partitions."""
    from pyspark.sql import functions as F

    from tcrd_spark.pipeline import similarity
    from tcrd_spark.sources.lake import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cell_vec")
    )
    path = str(tmp_path / "ivf_index")
    similarity.build_ivf_index(corpus, cents, dim=64, path=path)
    qs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    df = similarity.ivf_topk_indexed(qs, path, cents, dim=64, k=5, n_probe=2)
    plan = plan_of(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "cell_id" in pf[0], plan
    # the static IN-list on the partition column must be EXACTLY the
    # probed cells (≤ 2 queries × 2 probes) — Spark prunes the listing
    # to those partition dirs before any task launches
    import re

    m = re.search(r"cell_id#\d+ IN \(([\d,]+)\)", pf[0])
    assert m, pf[0]
    pruned_to = {int(x) for x in m.group(1).split(",")}
    probed = {
        int(r.cell_id)
        for r in similarity._probe_cells(qs, cents, 64, 2)
        .select("cell_id").distinct().collect()
    }
    assert pruned_to == probed, (pruned_to, probed)
    assert len(pruned_to) <= 4


def test_salted_join_balances_hot_key(spark):
    """SURVEY §4 hub-key skew (ppi/lincs hub proteins): with one key
    holding 30% of the fact side, the plain shuffle funnels it into
    one task; salting spreads it over n_salts tasks. Asserts (a) the
    salted join returns exactly the plain join's rows, (b) simulated
    shuffle-partition sizes (pmod(hash(keys), P) — the same Murmur3
    HashPartitioning Catalyst plans) show max/median ≤ 3 salted vs
    ≥ 5 unsalted."""
    from pyspark.sql import functions as F

    from tcrd_spark.operators.joins import salted_join

    n, nparts, n_salts = 60_000, 32, 16
    hot = int(n * 0.3)
    fact = spark.range(n).select(
        F.when(F.col("id") < hot, 0)
        .otherwise(F.pmod(F.col("id"), 49) + 1)
        .alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("dval")
    )
    out = salted_join(fact, dim, "k", n_salts=n_salts)
    plain = fact.join(dim, "k")
    assert out.count() == n
    agg_s = out.agg(
        F.sum("payload").alias("sp"), F.sum("dval").alias("sd")
    ).collect()[0]
    agg_p = plain.agg(
        F.sum("payload").alias("sp"), F.sum("dval").alias("sd")
    ).collect()[0]
    assert (agg_s.sp, agg_s.sd) == (agg_p.sp, agg_p.sd)

    def max_over_median(df, *cols):
        sizes = sorted(
            r["count"]
            for r in df.groupBy(
                F.pmod(F.hash(*cols), F.lit(nparts)).alias("p")
            ).count().collect()
        )
        return sizes[-1] / sizes[len(sizes) // 2]

    salt = F.pmod(F.hash(*[F.col(c) for c in fact.columns]), F.lit(n_salts))
    salted_fact = fact.withColumn("_salt", salt)
    assert max_over_median(fact, "k") >= 5          # the skew is real
    assert max_over_median(salted_fact, "k", "_salt") <= 3  # and salted away
    # the salted plan really joins on (key, salt): both exchanges hash
    # two columns
    plan = plan_of(salted_join(fact, dim, "k", n_salts=n_salts))
    assert "_salt" in plan


def test_aqe_splits_skewed_join_partition(spark):
    """The OTHER half of the skew story (SURVEY §4): when the hot key
    only shows up at shuffle time, AQE's skew-join splits the oversized
    partition at runtime — the executed plan must carry
    SortMergeJoin(skew=true) with a 'coalesced and skewed'
    AQEShuffleRead on the fact side. (salted_join handles skew the
    planner can see; AQE handles skew it can't.)"""
    from pyspark.sql import functions as F

    keep = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB"
        )
        n = 200_000
        fact = spark.range(n).select(
            F.when(F.col("id") < n * 3 // 10, 0)
            .otherwise(F.pmod(F.col("id"), 199) + 1)
            .alias("k"),
            F.col("id").alias("pay"),
        )
        other = spark.range(200).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("val")
        )
        j = fact.join(other, "k")
        assert len(j.collect()) == n
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "coalesced and skewed" in plan, plan
    finally:
        for k, v in keep.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_incremental_dedup_is_index_probe_not_cartesian(spark, sf_dir):
    """Batch-vs-corpus dedup must candidate-generate through the
    shared-shingle equi-join (inverted-index probe) — a nested-loop /
    cartesian anywhere means the batch was paired with the whole
    corpus, the corpus² shape the operator exists to avoid."""
    from pyspark.sql import functions as F

    from tcrd_spark.pipeline.corpus import incremental_near_dups
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = incremental_near_dups(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        "doc_id",
        "text",
    )
    plan = plan_of(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_shard_and_pack_have_single_exchange(spark, sf_dir):
    """shard_assign / sequence_pack are one-exchange plans: the hash
    partition for the per-shard window is the only shuffle (the write
    layout op must not cost more than the write itself)."""
    from pyspark.sql import functions as F

    from tcrd_spark.pipeline.corpus import sequence_pack, shard_assign
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(shard_assign(docs, "doc_id", 8))
    assert plan.count("Exchange (") == 1, plan
    toks = docs.select("doc_id", F.length("text").cast("long").alias("n_tok"))
    plan = plan_of(sequence_pack(toks, "doc_id", "n_tok", 4, 512))
    assert plan.count("Exchange (") == 1, plan


def test_quantile_filter_broadcasts_scalar_threshold(spark, sf_dir):
    """The percentile threshold joins as a broadcast single-row build
    side; the score column must never shuffle for the comparison."""
    from pyspark.sql import functions as F

    from tcrd_spark.pipeline.corpus import quantile_filter
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", F.length("text").cast("double").alias("s"))
    plan = plan_of(quantile_filter(scored, "doc_id", "s", 0.75))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_incremental_lsh_probe_is_bucket_equijoin(spark, sf_dir):
    """The LSH probe joins batch and corpus band buckets by equality —
    no nested loop / cartesian may appear anywhere in the plan."""
    from pyspark.sql import functions as F

    from tcrd_spark.pipeline.corpus import incremental_near_dups_lsh
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(
        incremental_near_dups_lsh(
            docs.filter(F.col("doc_id") % 5 == 0),
            docs.filter(F.col("doc_id") % 5 != 0),
            "doc_id",
            "text",
        )
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cube_is_one_scan_expand(spark, sf_dir):
    """CUBE / GROUPING SETS must plan as ONE fact scan feeding an
    Expand + single aggregate — not a union of 2^k scans (the shape
    the reference's per-dimension count queries would naively take).
    Partial aggregation after the Expand keeps the shuffle combined."""
    from tcrd_spark.operators.olap_ext import q_cube_counts, q_grouping_sets_mix

    for q in (q_cube_counts, q_grouping_sets_mix):
        plan = plan_of(q(spark, sf_dir))
        # formatted explain prints each node twice (tree + details);
        # count the numbered detail entries = number of physical scans
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
        assert "Expand" in plan, plan
        assert "Union" not in plan, plan


def test_unpivot_is_expand_not_union(spark, sf_dir):
    """unpivot (melt) compiles to an Expand over one scan — k value
    columns become k rows per id without k scans or a Python loop."""
    from tcrd_spark.operators.olap_ext import q_unpivot_metrics

    plan = plan_of(q_unpivot_metrics(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "Expand" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_plan_lint_flags_opaque_plans():
    """VERDICT r6 #2: a registered query whose final plan is an RDD
    scan must flag OPAQUE-PLAN unless it carries a documented
    allowance — an all-zero node-count row previously passed silently."""
    from tools.plan_lint import OPAQUE_OK, classify

    opaque = "== Physical Plan ==\n*(1) Scan ExistingRDD[node#1L,pr#2]\n"
    _, flags = classify("some_query", opaque)
    assert "OPAQUE-PLAN" in flags
    for allowed in OPAQUE_OK:
        _, flags = classify(allowed, opaque)
        assert "OPAQUE-PLAN" not in flags, allowed
    transparent = (
        "== Physical Plan ==\n*(1) Project [a#1]\n"
        "+- FileScan parquet [a#1] Batched: true\n"
    )
    _, flags = classify("some_query", transparent)
    assert flags == []
    # a lineage cut MID-plan leaves the surrounding nodes auditable —
    # informative row, not a flag
    mixed = (
        "== Physical Plan ==\n"
        "+- HashAggregate(keys=[k#1], functions=[count(1)])\n"
        "   +- Exchange hashpartitioning(k#1, 32)\n"
        "      +- *(1) Scan ExistingRDD[k#1]\n"
    )
    counts, flags = classify("some_query", mixed)
    assert "OPAQUE-PLAN" not in flags and counts["exchanges"] == 1


def test_plan_lint_counts_cached_build_once():
    """explainString reprints a cached relation's build plan under
    every InMemoryTableScan; the audit must count the build once
    (triangle_counts: 145 printed Exchanges for ~12 executed)."""
    from tools.plan_lint import classify

    build = (
        "      +- InMemoryRelation [a#{0}L], StorageLevel(disk)\n"
        "            +- Exchange hashpartitioning(a#{0}L, 32), [plan_id={1}]\n"
        "               +- FileScan parquet [a#{0}L]\n"
    )
    plan = (
        "== Physical Plan ==\n"
        "+- Union\n"
        "   :- InMemoryTableScan [a#1L]\n" + build.format(1, 10) +
        "   +- InMemoryTableScan [a#2L]\n" + build.format(2, 20)
    )
    counts, _ = classify("some_query", plan)
    assert counts["exchanges"] == 1
