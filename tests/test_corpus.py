"""Unit tests for pipeline/corpus.py: connected components against a
reference union-find, group resolution, incremental dedup consistency
with the batch pair detector, and the determinism/shape invariants of
sharding, sampling, and packing. Oracle parity for the six registered
queries is covered by tests/test_operators.py's sweep.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from tcrd_spark.pipeline import corpus


def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in range(n_nodes)}


def test_connected_components_basic(spark):
    # chain 1-2-3-4, pair 10-11; 7 isolated (not in edges → absent)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    got = {
        r["node"]: r["component"]
        for r in corpus.connected_components(edges, "id_a", "id_b").collect()
    }
    assert got == {2: 1, 3: 1, 4: 1, 11: 10}


def test_connected_components_random_vs_union_find(spark):
    rng = random.Random(7)
    n = 120
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(90)
    ]
    edges = [(u, v) for u, v in edges if u != v]
    expected = _uf_components(n, edges)
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["node"]: r["component"]
        for r in corpus.connected_components(df, "id_a", "id_b").collect()
    }
    for u, v in edges:
        assert got.get(u, u) == expected[u]
        assert got.get(v, v) == expected[v]


def test_dedup_groups_labels_and_sizes(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], ["id_a", "id_b"]
    )
    rows = corpus.dedup_groups(docs, pairs, "doc_id").collect()
    lbl = {r["doc_id"]: (r["group_id"], r["group_sz"]) for r in rows}
    assert lbl[0] == (0, 3) and lbl[3] == (0, 3) and lbl[5] == (0, 3)
    assert lbl[1] == (1, 2) and lbl[2] == (1, 2)
    for iso in (4, 6, 7):
        assert lbl[iso] == (iso, 1)


def test_dedup_groups_rep_by_elects_highest_score(spark):
    """rep_by (VERDICT r5 #7): each group keeps its highest-scored
    member; ties break to the smallest id; isolated docs are their own
    representative; group_id stays the CC min-id label."""
    docs = spark.createDataFrame(
        [(0, 0.1), (3, 0.9), (5, 0.9), (1, 0.5), (2, 0.5), (4, 0.7)],
        ["doc_id", "q"],
    )
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (1, 2)], ["id_a", "id_b"]
    )
    rows = corpus.dedup_groups(docs, pairs, "doc_id", rep_by="q").collect()
    got = {r["doc_id"]: (r["group_id"], r["group_sz"], r["rep_id"])
           for r in rows}
    # group {0,3,5}: 3 and 5 tie at 0.9 → rep 3 (smaller id)
    for d in (0, 3, 5):
        assert got[d] == (0, 3, 3)
    # group {1,2}: tie at 0.5 → rep 1
    for d in (1, 2):
        assert got[d] == (1, 2, 1)
    assert got[4] == (4, 1, 4)


def test_corpus_pipeline_rep_by_quality_flag(spark, sf_dir):
    """The optional quality-elected-representative wiring: same shard
    layout shape, same kept-count invariant (one rep per CC group
    survives the dedup stages), possibly different survivors."""
    from tcrd_spark.pipeline.corpus_queries import q_corpus_pipeline

    base_df = q_corpus_pipeline(spark, sf_dir)
    scored_df = q_corpus_pipeline(spark, sf_dir, rep_by_quality=True)
    assert scored_df.columns == base_df.columns
    base = {r["doc_id"] for r in base_df.collect()}
    scored = {r["doc_id"] for r in scored_df.collect()}
    assert scored and base
    # the elected rep of a multi-doc group must itself be a CC-group
    # member of the min-id rep's group — i.e. every scored survivor is
    # either a base survivor or the quality-elected sibling of one
    from tcrd_spark.pipeline import corpus, dedup
    from tcrd_spark.sources.lake import load_table
    from tcrd_spark.pipeline import text as text_mod

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        F.round(text_mod.quality_score(F.col("text")), 6).alias("quality"),
    )
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.3)
    groups = {
        r["doc_id"]: r["rep_id"]
        for r in corpus.dedup_groups(q, pairs, "doc_id",
                                     rep_by="quality").collect()
    }
    for d in scored:
        assert groups[d] == d, f"survivor {d} is not its group's rep"


def test_incremental_matches_full_pair_detector(spark, sf_dir):
    """A batch doc is 'near' iff the full-corpus exact-Jaccard pair
    detector links it to some corpus doc; near_src is the min such."""
    from tcrd_spark.pipeline.dedup import ngram_jaccard_pairs
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    rest = docs.filter(F.col("doc_id") % 5 != 0)
    out = {
        r["doc_id"]: r
        for r in corpus.incremental_near_dups(
            batch, rest, "doc_id", "text", n=3, threshold=0.3
        ).collect()
    }
    assert len(out) == batch.count()
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    cross = {}
    for r in pairs.collect():
        a, b = r["id_a"], r["id_b"]
        for x, y in ((a, b), (b, a)):
            if x % 5 == 0 and y % 5 != 0:
                cross.setdefault(x, set()).add(y)
    for doc_id, srcs in cross.items():
        assert out[doc_id]["near_src"] == min(srcs)
    for doc_id, r in out.items():
        if r["near_src"] is not None:
            assert doc_id in cross
        assert r["verdict"] in ("exact", "near", "new")


def test_shard_assign_shape_and_determinism(spark, sf_dir):
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = corpus.shard_assign(docs, "doc_id", 8).collect()
    b = corpus.shard_assign(docs, "doc_id", 8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == docs.count()
    by_shard = {}
    for r in a:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_stratified_sample_quota(spark, sf_dir):
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    quota = 5
    out = corpus.stratified_sample(docs, "lang", "doc_id", quota).collect()
    per = {}
    for r in out:
        per.setdefault(r["lang"], []).append(r["sample_rank"])
    avail = {
        r["lang"]: r["ct"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("ct")).collect()
    }
    for lang, ranks in per.items():
        assert len(ranks) == min(quota, avail[lang])
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_sequence_pack_invariants(spark, sf_dir):
    """Every doc lands in exactly one chunk; chunk = the budget bin of
    its start offset; offsets are the per-shard running concatenation."""
    from tcrd_spark.sources.lake import load_table

    budget = 500
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n_tok")
    )
    out = corpus.sequence_pack(docs, "doc_id", "n_tok", 4, budget).collect()
    assert len(out) == docs.count()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r["chunk_off"])
        run = 0
        for r in rows:
            assert r["chunk_off"] == run
            assert r["chunk"] == run // budget
            run += r["n_tok"]


def test_quantile_filter_threshold(spark):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], ["id", "score"]
    )
    rows = corpus.quantile_filter(df, "id", "score", 0.9).collect()
    # exact interpolated p90 of 1..100 = 90.1 → keep 91..100
    assert sorted(r["id"] for r in rows) == list(range(91, 101))
    assert all(abs(r["thr"] - 90.1) < 1e-9 for r in rows)


def test_vocab_topk_counts(spark):
    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b b"), (3, "z")], ["doc_id", "text"]
    )
    rows = corpus.vocab_topk(docs, "doc_id", "text", min_count=2, k=10).collect()
    got = {r["token"]: (r["tf"], r["df"]) for r in rows}
    assert got == {"a": (3, 2), "b": (3, 2)}  # c, z below min_count


def test_vocab_topk_limit_tie_break(spark):
    docs = spark.createDataFrame(
        [(1, "x y x y q q")], ["doc_id", "text"]
    )
    rows = corpus.vocab_topk(docs, "doc_id", "text", min_count=2, k=2).collect()
    # all three tie at tf=2 → lexicographic tie-break keeps q, x
    assert sorted(r["token"] for r in rows) == ["q", "x"]


def test_decontaminate_flags_overlap(spark):
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    clean = "one two three four five six seven"
    dirty = "intro alpha beta gamma delta epsilon outro"
    docs = spark.createDataFrame(
        [(10, clean), (11, dirty)], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r
        for r in corpus.decontaminate(docs, bench, "doc_id", "text", n=5).collect()
    }
    assert rows[10]["contaminated"] == 0 and rows[10]["bench_hits"] == 0
    # dirty shares exactly one 5-gram: "alpha beta gamma delta epsilon"
    assert rows[11]["contaminated"] == 1 and rows[11]["bench_hits"] == 1


def test_incremental_indexed_matches_unindexed(spark, sf_dir, tmp_path):
    """The persisted bucketed index must give identical verdicts to the
    recompute path, and the candidate probe join must keep the corpus
    (bucketed) side exchange-free — the exchange budget of an ingest
    probe is the batch side only."""
    import uuid

    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    rest = docs.filter(F.col("doc_id") % 5 != 0)
    prefix = f"dedup_idx_test_{uuid.uuid4().hex[:8]}"
    corpus.build_dedup_index(rest, "doc_id", "text", prefix, n=3)
    try:
        indexed = corpus.incremental_near_dups_indexed(
            batch, prefix, "doc_id", "text", n=3, threshold=0.3
        )
        plain = corpus.incremental_near_dups(
            batch, rest, "doc_id", "text", n=3, threshold=0.3
        )
        assert sorted(map(tuple, indexed.collect())) == sorted(
            map(tuple, plain.collect())
        )
        # the inverted-index probe scan reads the bucketed table:
        # its side of the join must carry NO exchange (SelectedBucketsCount
        # proves the bucketed layout was used, not a plain file scan)
        from tests.test_plans import plan_of

        plan = plan_of(indexed)
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
    finally:
        for t in ("th", "inv", "sets"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_boilerplate_line_dedup(spark):
    """Lines shared by >max_doc_freq docs vanish everywhere; unique
    lines survive in original order; a doc of pure boilerplate comes
    back empty (not missing)."""
    footer = "all rights reserved"
    cookie = "accept cookies to continue"
    docs = spark.createDataFrame(
        [
            (1, f"alpha one\n{footer}\n{cookie}"),
            (2, f"{footer}\nbeta two\n{cookie}"),
            (3, f"{cookie}\ngamma three\n{footer}"),
            (4, f"{footer}\n{cookie}"),
            (5, "delta four"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in corpus.boilerplate_line_dedup(
            docs, "doc_id", "text", max_doc_freq=3
        ).collect()
    }
    assert rows[1]["clean_text"] == "alpha one"
    assert rows[2]["clean_text"] == "beta two"
    assert rows[3]["clean_text"] == "gamma three"
    assert rows[4]["clean_text"] == "" and rows[4]["n_lines_kept"] == 0
    assert rows[4]["n_lines_dropped"] == 2
    assert rows[5]["clean_text"] == "delta four"
    assert rows[5]["n_lines_dropped"] == 0
    # order preservation with interleaved boilerplate
    docs2 = spark.createDataFrame(
        [(i, f"u{i} first\n{footer}\nu{i} last") for i in range(1, 6)],
        ["doc_id", "text"],
    )
    out2 = corpus.boilerplate_line_dedup(
        docs2, "doc_id", "text", max_doc_freq=3
    ).collect()
    for r in out2:
        i = r["doc_id"]
        assert r["clean_text"] == f"u{i} first\nu{i} last"


def test_write_and_read_corpus_shards(spark, sf_dir, tmp_path):
    """Round-trip the write layout: the partition tree is the shard,
    every doc lands exactly once, each shard reads back complete and
    in position order with a partition-pruned scan."""
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    layout = corpus.shard_assign(docs, "doc_id", 4)
    out = str(tmp_path / "corpus")
    corpus.write_corpus_shards(docs, layout, out)

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    want = {
        r["doc_id"]: (r["shard"], r["pos"]) for r in layout.collect()
    }
    seen = set()
    for shard in range(4):
        rows = corpus.read_corpus_shard(spark, out, shard).collect()
        poss = [r["pos"] for r in rows]
        assert poss == sorted(poss)
        for r in rows:
            assert want[r["doc_id"]] == (shard, r["pos"])
            seen.add(r["doc_id"])
    assert seen == set(want)
    # partition pruning proof: the scan for one shard reports a
    # partition filter, not a full-tree read
    from tests.test_plans import plan_of

    plan = plan_of(corpus.read_corpus_shard(spark, out, 2))
    assert "PartitionFilters: [isnotnull(shard" in plan or "shard#" in plan


def test_profile_table_values(spark):
    from tcrd_spark.pipeline.profile import profile_table

    df = spark.createDataFrame(
        [(1, "b", None), (2, "a", 5.0), (2, None, 7.0)],
        "id long, s string, v double",
    )
    rows = {r["col_name"]: r for r in profile_table(df).collect()}
    assert rows["id"]["n_rows"] == 3 and rows["id"]["n_null"] == 0
    assert rows["id"]["n_distinct"] == 2
    assert rows["id"]["min_v"] == "1" and rows["id"]["max_v"] == "2"
    assert rows["s"]["n_null"] == 1 and rows["s"]["n_distinct"] == 2
    assert rows["s"]["min_v"] == "a" and rows["s"]["max_v"] == "b"
    assert rows["v"]["n_null"] == 1
    # numeric min/max computed in the native type, then cast
    assert rows["v"]["min_v"] == "5.0" and rows["v"]["max_v"] == "7.0"


def test_corpus_ops_degenerate_inputs(spark):
    """Empty edge sets, empty benchmark sets, and shingle-less docs
    must flow through, not throw."""
    empty_edges = spark.createDataFrame([], "id_a long, id_b long")
    docs = spark.createDataFrame(
        [(1, "short"), (2, "also tiny")], ["doc_id", "text"]
    )
    groups = corpus.dedup_groups(docs, empty_edges, "doc_id").collect()
    assert {(r["doc_id"], r["group_id"], r["group_sz"]) for r in groups} == {
        (1, 1, 1),
        (2, 2, 1),
    }
    empty_bench = spark.createDataFrame([], "doc_id long, text string")
    rows = corpus.decontaminate(docs, empty_bench, "doc_id", "text").collect()
    assert all(r["contaminated"] == 0 for r in rows) and len(rows) == 2
    # batch docs too short to shingle: verdict 'new' (or 'exact' only)
    out = corpus.incremental_near_dups(
        docs, spark.createDataFrame([(9, "other corpus")], ["doc_id", "text"]),
        "doc_id", "text",
    ).collect()
    assert {r["verdict"] for r in out} == {"new"}
    assert corpus.vocab_topk(empty_bench, "doc_id", "text").collect() == []


def test_incremental_lsh_subset_of_exact_probe(spark, sf_dir):
    """LSH-probed verdicts: exact_src identical to the exact probe;
    near_src, when present, must equal the exact probe's (verify
    precision 1) — LSH may only MISS near-dups, never invent them."""
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    rest = docs.filter(F.col("doc_id") % 5 != 0)
    exact = {
        r["doc_id"]: r
        for r in corpus.incremental_near_dups(
            batch, rest, "doc_id", "text"
        ).collect()
    }
    lsh = {
        r["doc_id"]: r
        for r in corpus.incremental_near_dups_lsh(
            batch, rest, "doc_id", "text"
        ).collect()
    }
    assert set(lsh) == set(exact)
    for d, r in lsh.items():
        assert r["exact_src"] == exact[d]["exact_src"]
        if r["near_src"] is not None:
            assert exact[d]["near_src"] is not None
            # min over a subset of the exact candidate set can only be ≥
            assert r["near_src"] >= exact[d]["near_src"]


def test_profile_approx_distinct_within_bound(spark, sf_dir):
    """The documented scale switch (approx_count_distinct) stays
    within HLL's default ±5%-ish envelope of the exact counts on the
    real documents table — the evidence behind 'swap the flag at
    extreme scale'."""
    from tcrd_spark.pipeline.profile import profile_table
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        r["col_name"]: r["n_distinct"] for r in profile_table(docs).collect()
    }
    approx = {
        r["col_name"]: r["n_distinct"]
        for r in profile_table(docs, exact_distinct=False).collect()
    }
    for col, n in exact.items():
        assert abs(approx[col] - n) <= max(2, 0.05 * n), (col, n, approx[col])


def test_connected_components_raises_on_no_convergence(spark, monkeypatch):
    import pytest as _pytest

    # force the distributed star loop (the guard under test); the
    # driver fast path needs no iterations so it can never trip it
    monkeypatch.setattr(corpus, "_CC_DRIVER_MAX", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        corpus.connected_components(edges, "id_a", "id_b", max_iter=1)


def test_connected_components_fast_path_matches_star_loop(spark, sf_dir):
    """r11: the size-adaptive driver union-find fast path must emit
    exactly the star loop's rows (same nodes, same labels, roots
    absent) — the two paths are interchangeable by size threshold.
    The case (60 random edges over 80 nodes) is the harness's
    ``cc/random`` fixture."""
    from tests.dual_path import assert_paths_agree

    assert assert_paths_agree(spark, sf_dir, "cc", ("random",))["random"]


def test_dedup_group_reps_matches_filter_form(spark):
    """r12 reps-only election: dedup_group_reps returns exactly the set
    the dedup_groups filter composition selects, for both the min-id
    and the rep_by election."""
    from tcrd_spark.pipeline.corpus import dedup_group_reps, dedup_groups

    docs = spark.createDataFrame(
        [(i, float((i * 7) % 5)) for i in range(1, 12)],
        "doc_id long, quality double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10)],
        "id_a long, id_b long",
    )
    full = dedup_groups(docs, pairs, "doc_id", rep_by="quality")
    want = {
        r["doc_id"]
        for r in full.filter("doc_id = rep_id").select("doc_id").collect()
    }
    got = {
        r["doc_id"]
        for r in dedup_group_reps(docs, pairs, "doc_id", rep_by="quality").collect()
    }
    assert got == want

    full_min = dedup_groups(docs, pairs, "doc_id")
    want_min = {
        r["doc_id"]
        for r in full_min.filter("doc_id = group_id").select("doc_id").collect()
    }
    got_min = {
        r["doc_id"] for r in dedup_group_reps(docs, pairs, "doc_id").collect()
    }
    assert got_min == want_min
