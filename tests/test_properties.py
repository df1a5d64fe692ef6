"""Property-based checks (hypothesis) for the dedup family.

The reference has no tests (SURVEY §5); these pin the algebraic
invariants the oracle can't express per-query:
- prefix-filtered n-gram Jaccard is EXACT (equals brute force);
- LSH verify output is a subset of the exact pairs (no false
  positives survive the verify join);
- exact_dedup partitions the corpus (group sizes sum to N, min-id
  representative);
- simhash pairs respect the Hamming bound.

Few examples, small corpora: every example runs real Spark jobs.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

WORDS = ["alpha", "beta", "gamma", "delta", "eps"]

docs_strategy = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=0, max_size=8).map(" ".join),
    min_size=1,
    max_size=8,
)

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
    derandomize=True,
)


def _spark_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _brute_force_jaccard(texts, n=2, threshold=0.3):
    def sh(t):
        toks = t.split()
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }

    out = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            sa, sb = sh(texts[a]), sh(texts[b])
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if round(j, 6) >= threshold:
                out[(a, b)] = round(j, 6)
    return out


@given(texts=docs_strategy)
@SETTINGS
def test_ngram_jaccard_matches_brute_force(spark, texts):
    from tcrd_spark.pipeline.dedup import ngram_jaccard_pairs

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            _spark_docs(spark, texts), "doc_id", "text", n=2, threshold=0.3
        ).collect()
    }
    assert got == pytest.approx(_brute_force_jaccard(texts))


@given(texts=docs_strategy)
@SETTINGS
def test_minhash_lsh_subset_of_exact(spark, texts):
    from tcrd_spark.pipeline.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    df = _spark_docs(spark, texts)
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=2, threshold=0.3
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(
            df, "doc_id", "text", n=2, n_perms=16, bands=8, threshold=0.3
        ).collect()
    }
    # verify step removes every false positive → subset with equal J
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == pytest.approx(exact[k])


@given(texts=docs_strategy)
@SETTINGS
def test_exact_dedup_partitions_corpus(spark, texts):
    from tcrd_spark.pipeline.dedup import exact_dedup

    df = _spark_docs(spark, texts)
    groups = exact_dedup(df, "doc_id", "text").collect()
    assert sum(g.dup_ct for g in groups) == len(texts)
    # representative is the min doc_id of its content group
    by_text = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i)
    expected_keeps = {min(v) for v in by_text.values()}
    assert {g.keep_id for g in groups} == expected_keeps


@given(texts=docs_strategy, max_h=st.integers(min_value=0, max_value=4))
@SETTINGS
def test_simhash_pairs_respect_hamming_bound(spark, texts, max_h):
    from tcrd_spark.pipeline.dedup import simhash_pairs

    rows = simhash_pairs(
        _spark_docs(spark, texts), "doc_id", "text", max_hamming=max_h
    ).collect()
    assert all(r.hamming <= max_h for r in rows)
    assert all(r.id_a < r.id_b for r in rows)


def test_blocked_embedding_dedup_equals_brute_force(spark, sf_dir):
    """The distributed block-pair matmul (the benched 100 TB plan)
    must produce exactly the guarded driver-broadcast brute force's
    pairs — same ids, same rounded cosines: at 5 blocks (the harness's
    adaptive path) on the 500-vector panel and at 97 on its first 40
    vectors (the other block counts run on the harness's shared
    fixtures). The harness compares sorted MULTISETS: the r3 diagonal
    bug emitted each within-block pair twice, which a set would hide.
    97 blocks over 40 vectors force empty blocks: a cross cell with an
    empty partner must emit nothing, and empty-L cells must not
    crash."""
    from tests.dual_path import assert_paths_agree

    assert assert_paths_agree(
        spark, sf_dir, "embedding", ("panel",), paths=("brute", "adaptive")
    )["panel"]
    assert_paths_agree(
        spark, sf_dir, "embedding", ("small",), paths=("brute", "blocks-97")
    )


def test_lsh_embedding_dedup_subset_of_exact(spark, sf_dir):
    """Random-hyperplane LSH precision is exact by construction (every
    candidate verifies with the true cosine): its pairs must be a
    subset of brute force with identical values, and at threshold 0.4
    with 4 bands recall on the test corpus should be non-trivial."""
    from pyspark.sql import functions as F

    from tcrd_spark.pipeline.dedup import (
        embedding_near_dups,
        embedding_near_dups_lsh,
    )
    from tcrd_spark.sources.lake import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id"), F.col("embedding")
    )
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_near_dups(
            emb, "vec_id", "embedding", 64, threshold=0.4
        ).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_near_dups_lsh(
            emb, "vec_id", "embedding", 64, threshold=0.4,
            n_planes=16, n_bands=8,
        ).collect()
    }
    assert set(approx) <= set(exact)
    assert all(exact[k] == v for k, v in approx.items())
    assert len(approx) >= len(exact) // 2, (len(approx), len(exact))
    with pytest.raises(ValueError, match="divide evenly"):
        embedding_near_dups_lsh(
            emb, "vec_id", "embedding", 64, n_planes=16, n_bands=5
        )


@given(
    toks=st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=40),
    budget=st.integers(min_value=50, max_value=600),
)
@SETTINGS
def test_sequence_pack_partitions_every_doc_once(spark, toks, budget):
    """Packing is a partition of the input: every doc in exactly one
    (shard, chunk); per-shard offsets are the exact running
    concatenation; chunk ids are the budget bins of the offsets."""
    from tcrd_spark.pipeline.corpus import sequence_pack

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "doc_id long, n_tok long"
    )
    rows = sequence_pack(df, "doc_id", "n_tok", 3, budget).collect()
    assert len(rows) == len(toks)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    for rows_ in by_shard.values():
        rows_.sort(key=lambda r: r["chunk_off"])
        run = 0
        for r in rows_:
            assert r["chunk_off"] == run
            assert r["chunk"] == run // budget
            run += r["n_tok"]


@given(
    labels=st.lists(st.sampled_from(["en", "de", "fr"]), min_size=1, max_size=30),
    quota=st.integers(min_value=1, max_value=5),
)
@SETTINGS
def test_stratified_sample_is_quota_capped_prefix(spark, labels, quota):
    """Sample size per stratum = min(quota, stratum size); ranks are
    dense; rerun is identical (pure function of ids)."""
    from tcrd_spark.pipeline.corpus import stratified_sample

    df = spark.createDataFrame(
        [(i, l) for i, l in enumerate(labels)], "doc_id long, lang string"
    )
    out = stratified_sample(df, "lang", "doc_id", quota).collect()
    again = stratified_sample(df, "lang", "doc_id", quota).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    per = {}
    for r in out:
        per.setdefault(r["lang"], []).append(r["sample_rank"])
    from collections import Counter

    avail = Counter(labels)
    for lang, ranks in per.items():
        assert len(ranks) == min(quota, avail[lang])
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


# ---------------------------------------------------------- round 8

_SAFE_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

blocks_strategy = st.lists(
    st.lists(st.sampled_from(_SAFE_WORDS), min_size=0, max_size=6),
    min_size=1,
    max_size=5,
)


@given(blocks_strategy)
@SETTINGS
def test_html_extract_never_leaks_markup(spark, blocks):
    """Whatever the page shape, extraction output carries no tags, no
    raw entities, and only blocks meeting the keep rule (>= 3 words)."""
    from tcrd_spark.pipeline.html import html_extract

    page = (
        "<html><head><script>var x = 1;</script></head><body>"
        '<div class="nav"><a href="/">Home of links</a></div>'
        + "".join(f"<p>{' '.join(b)} &amp; tail</p>" for b in blocks)
        + "</body></html>"
    )
    df = spark.createDataFrame([(page,)], "page string")
    got = df.select(html_extract("page").alias("x")).collect()[0].x
    assert "<" not in got and ">" not in got
    assert "&amp;" not in got and "&lt;" not in got
    for line in got.split("\n"):
        if line:
            assert len(line.split()) >= 3
    # every block with >= 1 safe word survives (body words + '& tail'
    # pushes past MIN_WORDS); empty blocks yield nothing
    want = [" ".join(b) + " & tail" for b in blocks if len(b) >= 1]
    assert [l for l in got.split("\n") if l] == want


@given(
    st.lists(
        st.lists(st.sampled_from(_SAFE_WORDS), min_size=1, max_size=9),
        min_size=1,
        max_size=10,
    ),
    st.integers(min_value=1, max_value=30),
)
@SETTINGS
def test_token_budget_selection_is_hash_prefix(spark, docs, budget):
    """The kept set is exactly the maximal prefix of the hash order
    whose running total fits the budget (plus the guaranteed head)."""
    from tcrd_spark.functions.hashing import hash60
    from tcrd_spark.pipeline.budget import token_budget_sample

    df = spark.createDataFrame(
        [(i, " ".join(t), "d") for i, t in enumerate(docs)],
        "doc_id long, text string, source string",
    )
    order = [
        r.doc_id
        for r in df.select(
            "doc_id", hash60(F.col("doc_id").cast("string")).alias("h")
        ).orderBy("h", "doc_id").collect()
    ]
    toks = {i: len(t) for i, t in enumerate(docs)}  # pure-alpha words
    want, cum = [], 0
    for d in order:
        cum += toks[d]
        if cum <= budget or not want:
            want.append(d)
        else:
            break
    got = token_budget_sample(
        df, "doc_id", "text", "source", budget=budget
    ).collect()
    assert sorted(r.doc_id for r in got) == sorted(want)
    for r in got:
        assert r.n_tok == toks[r.doc_id]


# ------------------------------------------------- video near-dups

payloads_strategy = st.lists(
    st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        min_size=288, max_size=420,
    ),
    min_size=2, max_size=6, unique=True,
)


@given(payloads_strategy)
@SETTINGS
def test_video_banding_is_pigeonhole_complete(spark, texts):
    """For ANY corpus: the temporally-aligned banded candidate join
    finds EVERY pair whose best single-frame Hamming is ≤ 3 (brute
    force over the per-frame fingerprints), and every reported
    n_close matches the brute-force close-frame count."""
    from tcrd_spark.pipeline import videodup
    from tcrd_spark.pipeline.multimodal import attach_fake_payload

    docs = _spark_docs(spark, texts)
    media = attach_fake_payload(docs, "doc_id", "text")
    fp = videodup.video_fingerprints(media, "doc_id")
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.frame_idx] = (
            r.b0, r.b1, r.b2, r.b3
        )

    def ham(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))

    want = {}
    ids = sorted(by_doc)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            n_close = sum(
                1
                for f in by_doc[a]
                if ham(by_doc[a][f], by_doc[b][f]) <= videodup.MAX_HAMMING
            )
            if n_close >= 1:  # MIN_OVERLAP = 1/N_FRAMES
                want[(a, b)] = n_close
    got = {
        (r.id_a, r.id_b): r.n_close
        for r in videodup.video_near_dup_pairs(fp, "doc_id").collect()
    }
    assert got == want
