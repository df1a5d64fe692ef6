"""Bloom-filter benchmark decontamination — the compact-broadcast
scale path.

`pipeline/corpus.decontaminate` broadcasts the benchmark's full
distinct shingle-hash set. That is exact, but at a few hundred eval
suites the broadcast is hundreds of MB of longs. The Bloom form
compresses the benchmark to a fixed bit array (here 1024 words × 60
usable bits = 61,440 bits, K=4 hash functions — ~8 KB broadcast),
trading a deterministic, engine-reproducible false-positive rate
(~1e-4 per probe at 10% fill) for a 1000× smaller broadcast. False
negatives are impossible — every truly contaminated document is
flagged.

Determinism is the design constraint: bit positions come from the
portable hash60 (functions/hashing.py), each word keeps 60 bits so no
mask ever touches the sign bit, and the probe is K chained BROADCAST
joins — not an explode — so the 100 TB corpus side generates ZERO
extra rows and ZERO extra shuffles; the only exchange is the final
per-document aggregate the exact operator pays too. DuckDB computes
the identical bits, so even the false positives match bit-for-bit and
the query is fully oracle-adjudicated (`decontaminate_bloom`).

The no-false-negative containment against the exact operator is
pytest-asserted (tests/test_bloom.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.functions.hashing import hash60, sql_hash60

# 1024 words × 60 bits per word (mask ≤ 2^59 keeps every engine's
# BIGINT positive); K independent hash functions
M_WORDS = 1024
BITS_PER_WORD = 60
N_BITS = M_WORDS * BITS_PER_WORD
K = 4


def _probe_hash(g, i: int, n_bits: int = N_BITS):
    """Bit index in [0, n_bits) for shingle-hash g under function i."""
    return hash60(
        F.concat(g.cast("string"), F.lit(f":{i}"))
    ) % F.lit(n_bits)


def build_bloom(bench_df: DataFrame, id_col: str, text_col: str,
                n: int = 5, m_words: int = M_WORDS) -> DataFrame:
    """(word, mask) — the benchmark's n-gram shingles folded into the
    bit array; ≤ m_words rows, broadcast it.

    Size the filter to the benchmark: ~10 bits/element keeps the
    K=4 false-positive rate ≈1% (fill ~0.33); the default 61,440 bits
    suits the registered query's toy benchmark. Build and probe must
    agree on m_words — tools/decon_bench.py measures the size/FP
    trade against the exact operator."""
    from tcrd_spark.pipeline.dedup import hashed_shingles

    # No distinct on the shingle stream (r12, guide §2.4): bit_or is
    # idempotent, so duplicate shingles across benchmark docs fold into
    # the same mask bits — the distinct's two-stage exchange bought
    # nothing. The one remaining exchange (groupBy word) map-side
    # combines to ≤ m_words rows per partition, strictly less shuffle
    # than distinct-ing the raw shingle set ever was.
    g = hashed_shingles(bench_df, id_col, text_col, n).select(
        F.explode("hs").alias("g")
    )
    # the probe side uses _probe_hash with a literal i (one join per
    # hash function); the build side explodes i, so inline the hash
    bits = g.select(
        F.explode(F.sequence(F.lit(1), F.lit(K))).alias("i"), "g"
    ).select(
        (
            hash60(
                F.concat(
                    F.col("g").cast("string"),
                    F.lit(":"),
                    F.col("i").cast("string"),
                )
            )
            % F.lit(m_words * BITS_PER_WORD)
        ).alias("h")
    )
    return (
        bits.select(
            (F.col("h") / BITS_PER_WORD).cast("long").alias("word"),
            # pyspark's shiftleft() only takes a literal shift; the SQL
            # function accepts a column
            F.expr(
                f"CAST(shiftleft(1L, CAST(h % {BITS_PER_WORD} AS INT)) "
                "AS LONG)"
            ).alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("mask"))
    )


# Above this many words the bit array stops being a sensible plan
# literal (task closures ship the plan); fall back to the broadcast-
# join probe. The registered query's 1024-word filter is 8 KB.
_INLINE_MAX_WORDS = 1 << 16


def probe_bloom(
    corpus_df: DataFrame, bloom: DataFrame, id_col: str, text_col: str,
    n: int = 5, m_words: int = M_WORDS,
) -> DataFrame:
    """(id, bloom_hits, contaminated) — corpus docs whose any shingle
    has all K bits set. m_words must match the build_bloom that
    produced `bloom`.

    The bit array is collected once (≤ m_words longs — 8 KB at the
    default size; the dim-dictionary collect pattern) and inlined as a
    constant array, so the probe is one row-local expression over each
    document's shingle array: scan → project, ZERO joins and ZERO
    shuffles (r11 optimization: the previous K-broadcast-join + explode
    + groupBy + join-back plan spent 4.0s at sf0.1 on 6 exchanges; this
    plan has none — guide §2.3 "shuffle fewer bytes" taken to its
    endpoint, §3.2 manual-bloom's broadcast-variable probe expressed as
    a plan literal). Probe functions evaluate in short-circuit order
    (r12): a shingle that misses bit 1 never computes md5s 2..K, so the
    common non-contaminated case pays ~1 probe hash instead of K.
    Very large filters keep the old broadcast-join
    probe (_INLINE_MAX_WORDS): a multi-MB plan literal would bloat
    every task closure.

    NOTE eager semantics (r11, kept deliberately): collecting the bit
    array executes the `bloom` build at PLAN-CONSTRUCTION time, even
    if the returned frame is never acted on — the price of the
    zero-shuffle probe plan. A `bloom` frame built with a different
    m_words than this probe's is rejected with a clear error instead
    of a bare IndexError (ADVICE r11).
    """
    from tcrd_spark.pipeline.dedup import hashed_shingles

    if m_words > _INLINE_MAX_WORDS:
        return _probe_bloom_join(
            corpus_df, bloom, id_col, text_col, n, m_words
        )
    masks = [0] * m_words
    for r in bloom.collect():  # ≤ m_words rows — bounded by contract
        w = int(r["word"])
        if not 0 <= w < m_words:
            raise ValueError(
                f"probe_bloom: bloom filter word index {w} out of range "
                f"for m_words={m_words} — the probe's m_words must match "
                "the build_bloom that produced the filter (stale or "
                "differently-sized filter?)"
            )
        masks[w] = int(r["mask"])
    arr = "array(" + ",".join(f"{m}L" for m in masks) + ")"
    n_bits = m_words * BITS_PER_WORD
    # Short-circuit probe (r12, guide §1.2 per-task work): AND skips its
    # right side once a bit misses, so at ~10% fill ~90% of shingles pay
    # ONE probe md5 instead of all K — the old form precomputed all K
    # bit indexes per shingle up front (the probe md5s, not the shingle
    # hashing, dominated the scan's per-task cost). Each probe's md5 is
    # bound once via transform(array(h), ...)[1] because the bit test
    # reads it twice (word index + bit offset).
    probes = " AND ".join(
        f"(element_at(transform(array("
        f"cast(conv(substring(md5(concat(cast(g as string), ':{i}')), 1, "
        f"15), 16, 10) as bigint) % {n_bits}), h -> "
        f"shiftright(element_at({arr}, cast(h div {BITS_PER_WORD} as int)"
        f" + 1), cast(h % {BITS_PER_WORD} as int)) % 2), 1) = 1)"
        for i in range(1, K + 1)
    )
    # a NULL-text doc has no shingles and a NULL-id doc joins back to
    # no id: both count 0 hits, as on the join path and in the oracle
    hit_count = (
        f"coalesce(CASE WHEN `{id_col}` IS NOT NULL THEN "
        f"cast(size(filter(hs, g -> {probes})) as bigint) END, 0L)"
    )
    # two projections: bloom_hits is referenced twice below, and
    # CollapseProject keeps non-cheap expressions single-evaluated
    return (
        hashed_shingles(corpus_df, id_col, text_col, n)
        .select(id_col, F.expr(hit_count).alias("bloom_hits"))
        .select(
            id_col,
            "bloom_hits",
            (F.col("bloom_hits") > 0).cast("int").alias("contaminated"),
        )
    )


def _probe_bloom_join(
    corpus_df: DataFrame, bloom: DataFrame, id_col: str, text_col: str,
    n: int, m_words: int,
) -> DataFrame:
    """The pre-r11 K-broadcast-join probe — kept for filters too large
    to inline as a plan literal."""
    from tcrd_spark.pipeline.dedup import hashed_shingles

    probes = hashed_shingles(corpus_df, id_col, text_col, n).select(
        id_col, F.explode("hs").alias("g")
    )
    present = None
    for i in range(1, K + 1):
        h = _probe_hash(F.col("g"), i, m_words * BITS_PER_WORD)
        probes = (
            probes.withColumn(f"_w{i}", (h / BITS_PER_WORD).cast("long"))
            .withColumn(f"_b{i}", (h % BITS_PER_WORD).cast("int"))
            .join(
                F.broadcast(
                    bloom.select(
                        F.col("word").alias(f"_w{i}"),
                        F.col("mask").alias(f"_m{i}"),
                    )
                ),
                f"_w{i}",
                "left",
            )
        )
        p = F.expr(
            f"shiftright(coalesce(_m{i}, 0L), _b{i}) % 2 = 1"
        )
        present = p if present is None else (present & p)
    flagged = probes.withColumn("hit", present.cast("int"))
    hits = (
        flagged.groupBy(id_col)
        .agg(F.sum("hit").alias("bloom_hits"))
    )
    return (
        corpus_df.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("bloom_hits", F.lit(0)).alias("bloom_hits"),
            (F.coalesce("bloom_hits", F.lit(0)) > 0)
            .cast("int")
            .alias("contaminated"),
        )
    )


# ------------------------------------------------- registered queries


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination with the same corpus/benchmark
    split as `decontaminate` (benchmark = doc_id < 10)."""
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    bloom = build_bloom(docs.filter(F.col("doc_id") < 10), "doc_id",
                        "text", n=5)
    return probe_bloom(
        docs.filter(F.col("doc_id") >= 10), bloom, "doc_id", "text", n=5
    )


QUERIES = {"decontaminate_bloom": q_decontaminate_bloom}


# Oracle: identical bit math. Reuse the corpus_queries 5-gram shingle
# CTE shape (distinct word 5-grams, hash60 over the joined words).
_W = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t != '')"
_G5 = (
    "list_distinct(list_transform("
    "list_distinct(list_transform(range(greatest(len(w) - 4, 0)), "
    "i -> concat(w[i+1], ' ', w[i+2], ' ', w[i+3], ' ', w[i+4], ' ', "
    "w[i+5]))), s -> " + sql_hash60("s") + "))"
)

_PH = sql_hash60("concat(CAST(g AS VARCHAR), ':', CAST(i AS VARCHAR))")

ORACLE = {
    "decontaminate_bloom": f"""
        WITH t AS (SELECT doc_id, {_W} AS w FROM documents),
        sh AS (SELECT doc_id, {_G5} AS hs FROM t),
        bg AS (SELECT DISTINCT unnest(hs) AS g FROM sh WHERE doc_id < 10),
        bbits AS (
          SELECT ({_PH}) % {N_BITS} AS h
          FROM bg CROSS JOIN range(1, {K} + 1) r(i)
        ),
        bloom AS (
          SELECT h // {BITS_PER_WORD} AS word,
                 bit_or(1::BIGINT << (h % {BITS_PER_WORD})::INT) AS mask
          FROM bbits GROUP BY 1
        ),
        probes AS (
          SELECT doc_id, unnest(hs) AS g FROM sh WHERE doc_id >= 10
        ),
        checked AS (
          SELECT p.doc_id,
                 min(((coalesce(bl.mask, 0)
                       >> (({_PH}) % {BITS_PER_WORD})::INT) % 2 = 1)::INT)
                   AS hit
          FROM probes p
          CROSS JOIN range(1, {K} + 1) r(i)
          LEFT JOIN bloom bl
            ON bl.word = (({_PH}) % {N_BITS}) // {BITS_PER_WORD}
          GROUP BY p.doc_id, p.g
        ),
        hits AS (
          SELECT doc_id, CAST(sum(hit) AS BIGINT) AS bloom_hits
          FROM checked GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(h.bloom_hits, 0) AS bloom_hits,
               CAST(coalesce(h.bloom_hits, 0) > 0 AS INT) AS contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
        LEFT JOIN hits h USING (doc_id)
    """,
}
