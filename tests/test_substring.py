"""Substring-level exact dedup (pipeline/substring.py): maximal-run
merging, intra-doc repeats, short docs, and excision round-trip."""

from __future__ import annotations

from pyspark.sql import functions as F

from tcrd_spark.pipeline.substring import (
    duplicate_spans,
    excise_duplicate_spans,
)


def _docs(spark, texts: dict[int, str]):
    return spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )


def test_cross_doc_span_is_maximal(spark):
    """A 6-token block shared by two docs with k=3 must come out as ONE
    merged span of length 6 per doc (4 overlapping dup 3-grams merge),
    at the right positions."""
    shared = "alpha beta gamma delta epsilon zeta"
    docs = _docs(
        spark,
        {
            1: f"one two {shared} three",
            2: f"{shared} x y z",
        },
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_len"])
        for r in duplicate_spans(docs, "doc_id", "text", k=3).collect()
    }
    assert got == {(1, 3, 8, 6), (2, 1, 6, 6)}


def test_intra_doc_repeat_counts(spark):
    """min_occurrences counts corpus-wide occurrences, so a gram
    repeated twice INSIDE one document is a duplicate too."""
    docs = _docs(spark, {1: "p q r s xx p q r s yy"})
    got = {
        (r["span_start"], r["span_end"])
        for r in duplicate_spans(docs, "doc_id", "text", k=4).collect()
    }
    assert got == {(1, 4), (6, 9)}


def test_short_docs_and_unique_docs_emit_nothing(spark):
    docs = _docs(spark, {1: "a b", 2: "totally unique words here now"})
    assert duplicate_spans(docs, "doc_id", "text", k=3).count() == 0


def test_excise_removes_all_occurrences_keeps_rest(spark):
    shared = "alpha beta gamma delta epsilon zeta"
    docs = _docs(
        spark,
        {
            1: f"one two {shared} three",
            2: f"{shared} x y z",
            3: "no duplicated content at all",
        },
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens_kept"], r["n_tokens_removed"])
        for r in excise_duplicate_spans(docs, "doc_id", "text", k=3).collect()
    }
    assert got[1] == ("one two three", 3, 6)
    assert got[2] == ("x y z", 3, 6)
    assert got[3] == ("no duplicated content at all", 5, 0)


def test_adjacent_spans_merge(spark):
    """Two dup regions that touch (gap 0) merge into one span; a gap of
    one non-dup token keeps them separate."""
    # doc 3 carries 'a1..a4' and 'b1..b4' so those grams are corpus-dups;
    # doc 1 has them adjacent, doc 2 separated by a gap token
    docs = _docs(
        spark,
        {
            1: "a1 a2 a3 a4 b1 b2 b3 b4",
            2: "a1 a2 a3 a4 gap b1 b2 b3 b4",
            3: "a1 a2 a3 a4 zz b1 b2 b3 b4",
        },
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(docs, "doc_id", "text", k=4).collect()
    }
    assert (1, 1, 8) in spans  # merged: adjacent dup runs
    assert (2, 1, 4) in spans and (2, 6, 9) in spans  # gap keeps them apart


def test_incremental_spans_probe_corpus_only(spark):
    """Batch spans hit only corpus-duplicated content: batch-internal
    repeats do NOT flag (the verdicts-vs-corpus-only contract), and a
    batch span matching the corpus comes out maximal."""
    from tcrd_spark.pipeline.substring import incremental_duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta"
    batch = _docs(spark, {
        1: f"x y {shared} z",
        2: "own dup own dup own dup own dup",  # batch-internal only
    })
    corpus = _docs(spark, {100: f"{shared} filler words here"})
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in incremental_duplicate_spans(
            batch, corpus, "doc_id", "text", k=3
        ).collect()
    }
    assert got == {(1, 3, 8)}


def test_incremental_indexed_equals_plain(spark, sf_dir):
    """The persisted gram-index probe returns byte-identical spans."""
    import uuid

    from pyspark.sql import functions as F

    from tcrd_spark.pipeline.substring import (
        build_gram_index,
        incremental_duplicate_spans,
        incremental_duplicate_spans_indexed,
    )
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    prefix = f"gram_idx_{uuid.uuid4().hex[:8]}"
    try:
        build_gram_index(corpus, "doc_id", "text", prefix, k=8)
        plain = {
            tuple(r) for r in incremental_duplicate_spans(
                batch, corpus, "doc_id", "text", k=8
            ).collect()
        }
        indexed = {
            tuple(r) for r in incremental_duplicate_spans_indexed(
                batch, prefix, "doc_id", "text", k=8
            ).collect()
        }
        assert indexed == plain
        assert len(plain) > 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_grams")


def test_substring_plan_shuffles_hashes_not_text(spark, sf_dir):
    """The corpus-wide exchange carries gram hashes + positions; the
    document text column must be pruned out before the first shuffle
    of the dup-gram count."""
    from tcrd_spark.pipeline.substring import q_substring_dedup

    plan = q_substring_dedup(spark, sf_dir)._jdf.queryExecution().toString()
    # the aggregate over gh reads only (gh) — no text in its exchange
    assert "hashpartitioning(gh" in plan


def test_window_shape_on_hot_gram(spark):
    """A degenerate corpus where one k-gram is mass-pasted across every
    document (the hot-gram case the count-over-gh window funnels into
    one task) still yields exactly the duplicated spans."""
    from tcrd_spark.pipeline.substring import duplicate_spans

    hot = "x1 x2 x3 x4 x5 x6 x7 x8"  # one hot 8-gram, everywhere
    rows = [
        (i, f"u{i}a u{i}b {hot} u{i}c u{i}d u{i}e u{i}f u{i}g u{i}h")
        for i in range(60)
    ] + [(100, "lone doc with no duplicated content at all here now")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        map(tuple, duplicate_spans(docs, "doc_id", "text", 8, 2).collect())
    )
    # every hot-gram carrier has exactly one span: token positions 3-10
    assert got == [(i, 3, 10, 8) for i in range(60)]
