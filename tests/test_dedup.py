

def test_shingle_hashes_sql_matches_column_form(spark, sf_dir):
    """r12 one-parse hashed_shingles: the SQL-parsed hs column is
    value-identical to the Column-built form for every document."""
    from pyspark.sql import functions as F

    from tcrd_spark.functions.hashing import hash60
    from tcrd_spark.pipeline.dedup import hashed_shingles, shingles
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = {
        r["doc_id"]: r["hs"]
        for r in hashed_shingles(docs, "doc_id", "text", 3).collect()
    }
    want = {
        r["doc_id"]: r["hs"]
        for r in docs.select(
            "doc_id",
            F.array_distinct(
                F.transform(shingles(F.col("text"), 3), hash60)
            ).alias("hs"),
        ).collect()
    }
    assert got == want


def test_jaccard_cache_storage_bounded_across_invocations(spark):
    """r12: repeated pair-builds must not accumulate one cached shingle
    frame per invocation — lineage.cache releases the predecessor
    (the DataFrame twin of the r11 videodup rotating-cut discipline)."""
    from tcrd_spark.pipeline.dedup import ngram_jaccard_pairs
    from tcrd_spark.session import _SESSION_MEMO

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    rows = [(i, f"tok{i} alpha beta gamma delta epsilon") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3).collect()
    base = n_persistent()
    app = spark.sparkContext.applicationId
    assert _SESSION_MEMO["jaccard-sh"][0][0] == app
    for _ in range(3):
        ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                            threshold=0.3).collect()
    # the slots rotate: persistent count does not grow per call
    assert n_persistent() <= base
    # a different plan in the slot releases the predecessor's cache;
    # the same plan again (sameResult) reuses it
    prev = _SESSION_MEMO["jaccard-sh"][1]
    assert prev.is_cached
    other = spark.createDataFrame(rows[:5], "doc_id long, text string")
    ngram_jaccard_pairs(other, "doc_id", "text", n=3, threshold=0.3).collect()
    assert not prev.is_cached
    held = _SESSION_MEMO["jaccard-sh"][1]
    ngram_jaccard_pairs(other, "doc_id", "text", n=3, threshold=0.3).collect()
    assert _SESSION_MEMO["jaccard-sh"][1] is held and held.is_cached


def test_band_count_must_divide_perms(spark):
    """A band count that does not divide n_perms raises ValueError at
    build time, through both MinHash-LSH entry points (an assert would
    vanish under `python -O` and silently drop signature rows)."""
    import pytest

    from tcrd_spark.pipeline.corpus import incremental_near_dups_lsh
    from tcrd_spark.pipeline.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="divide evenly"):
        minhash_lsh_pairs(docs, "doc_id", "text", n_perms=32, bands=5)
    with pytest.raises(ValueError, match="divide evenly"):
        incremental_near_dups_lsh(
            docs, docs, "doc_id", "text", n_perms=32, bands=5
        )
