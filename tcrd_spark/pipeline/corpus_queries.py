"""Driver-facing queries for the corpus-construction operators
(pipeline/corpus.py): near-dup group resolution, incremental dedup,
sharding, stratified sampling, quantile filtering, sequence packing —
each with a DuckDB oracle reproducing the identical algorithm (the
portable md5-based hash60 makes shard/sample/pack layouts and the
recursive-CTE component labels engine-independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.functions.hashing import sql_hash60
from tcrd_spark.operators.lineage import cache
from tcrd_spark.pipeline import corpus, dedup, text
from tcrd_spark.pipeline.testdata_queries import (
    _BEST,
    _JACCARD_PAIRS,
    _LANG_SCORE,
    _TOKS,
)
from tcrd_spark.session import memo
from tcrd_spark.sources.lake import load_table

N_SHARDS = 8
PACK_SHARDS = 4
PACK_BUDGET = 2048
STRATA_QUOTA = 50
QUANTILE = 0.75

# batch/corpus split for incremental dedup: every 5th doc is the
# "incoming batch", the rest the standing corpus (a Column expression
# needs an active session, hence a thunk not a constant)
def _batch_pred():
    return F.col("doc_id") % 5 == 0


def q_dedup_groups_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS (exact n-gram Jaccard ≥ 0.3) resolved into
    transitive GROUPS via distributed connected components
    (large-star/small-star) — the keep-one-representative step."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    return corpus.dedup_groups(docs, pairs, "doc_id")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incoming batch deduped against the standing corpus: exact-hash
    and near-dup (Jaccard ≥ 0.3) provenance plus a keep/drop verdict."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.incremental_near_dups(
        docs.filter(_batch_pred()),
        docs.filter(~_batch_pred()),
        "doc_id",
        "text",
        n=3,
        threshold=0.3,
    )


def q_dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same verdicts as dedup_incremental, but probing the PERSISTED
    bucketed shingle/hash index (build_dedup_index) — the build is the
    one-off cost (once per session per sf_dir), every probe join's
    exchange stays on the batch side. The index tables are a session
    memo entry, dropped when it is released."""
    import hashlib
    import os

    docs = load_table(spark, sf_dir, "documents")
    key = os.path.realpath(sf_dir)
    tag = hashlib.md5(f"{key}:{os.getpid()}".encode()).hexdigest()[:12]
    prefix = f"dedup_idx_{tag}"
    memo(
        spark, "dedup-index", key,
        lambda: corpus.build_dedup_index(
            docs.filter(~_batch_pred()), "doc_id", "text", prefix, n=3
        ),
    )
    return corpus.incremental_near_dups_indexed(
        docs.filter(_batch_pred()), prefix, "doc_id", "text", n=3, threshold=0.3
    )


def q_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup with MinHash-LSH candidate generation (the
    bounded-cost probe for skewed corpora); exact-hash dups exact,
    near-dups at LSH recall with verify precision 1."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.incremental_near_dups_lsh(
        docs.filter(_batch_pred()),
        docs.filter(~_batch_pred()),
        "doc_id",
        "text",
        n=3,
        n_perms=32,
        bands=16,
        threshold=0.3,
    )


def q_corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-sharding + interleaved per-shard positions
    (the training-data write-out layout)."""
    docs = load_table(spark, sf_dir, "documents")
    out = corpus.shard_assign(docs, "doc_id", N_SHARDS)
    return out.select("doc_id", "shard", F.col("pos").cast("long").alias("pos"))


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quota sample (corpus balancing), deterministic via
    hash-ranking."""
    docs = load_table(spark, sf_dir, "documents")
    out = corpus.stratified_sample(docs, "lang", "doc_id", STRATA_QUOTA)
    return out.select(
        "doc_id", "lang", F.col("sample_rank").cast("long").alias("sample_rank")
    )


def q_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep documents at or above the global 75th-percentile quality
    score (exact interpolated percentile, broadcast threshold)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", F.round(text.quality_score(F.col("text")), 6).alias("quality")
    )
    return corpus.quantile_filter(scored, "doc_id", "quality", QUANTILE)


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-token-budget chunks per shard
    (BPE-ish token counts, hash-interleaved order, prefix-sum bins)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(text.BPE_TOKEN_RE), 0)
        ).cast("long").alias("n_tok"),
    )
    return corpus.sequence_pack(
        toks, "doc_id", "n_tok", PACK_SHARDS, PACK_BUDGET
    )


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-100 whitespace tokens by term frequency
    (with doc frequency), min_count 2."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.vocab_topk(docs, "doc_id", "text", min_count=2, k=100)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (doc_id ≥ 10) sharing any
    word 5-gram with the benchmark set (doc_id < 10)."""
    from tcrd_spark.sources.lake import split_for_scan

    # split guard (r12): the single-row-group test table pinned the
    # md5 shingle pass to one task — 3.08 → 1.49s at sf0.1
    docs = split_for_scan(spark, load_table(spark, sf_dir, "documents"))
    return corpus.decontaminate(
        docs.filter(F.col("doc_id") >= 10),
        docs.filter(F.col("doc_id") < 10),
        "doc_id",
        "text",
        n=5,
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate line removal: group every 10 words into a
    'line' (deterministic regex, identical on both engines), drop any
    line occurring in more than 3 distinct docs, reassemble the rest
    in order."""
    docs = load_table(spark, sf_dir, "documents")
    lined = docs.select(
        "doc_id",
        F.regexp_replace("text", r"((\S+ ){9}\S+) ", "$1\n").alias("text"),
    )
    return corpus.boilerplate_line_dedup(
        lined, "doc_id", "text", max_doc_freq=3
    )


def q_dedup_rep_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups with QUALITY-elected representatives (VERDICT
    r5 #7): same CC groups as dedup_groups_cc, but each group keeps
    its highest-quality member (composite text quality score, ties to
    the smallest id) instead of the smallest id — what a real corpus
    build retains. Output: (doc_id, group_id, group_sz, rep_id)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "text",
        F.round(text.quality_score(F.col("text")), 6).alias("quality"),
    )
    pairs = dedup.ngram_jaccard_pairs(
        scored, "doc_id", "text", n=3, threshold=0.3
    )
    return corpus.dedup_groups(scored, pairs, "doc_id", rep_by="quality")


def q_corpus_pipeline(
    spark: SparkSession, sf_dir: str, rep_by_quality: bool = False
) -> DataFrame:
    """The END-TO-END corpus build, one adjudicated query: exact-dedup
    reps → near-dup GROUP reps (connected components over Jaccard ≥
    0.3 pairs) → benchmark decontamination (5-gram overlap vs doc_id <
    10) → language gate (en) → quality ≥ the survivors' 25th
    percentile → deterministic shard + interleaved position. Output:
    (doc_id, shard, pos) — the final write layout of the kept corpus.

    ``rep_by_quality`` swaps the CC keep-min-id representatives for
    quality-elected ones (dedup_groups rep_by) — the optional wiring
    VERDICT r5 #7 asked for; the adjudicated default is unchanged and
    the flag is covered by tests/test_corpus.py.
    """
    from tcrd_spark.sources.lake import split_for_scan

    # split guard (r12, guide §2.5/§6): the pipeline stacks FIVE
    # md5/regex-heavy row-local passes (exact hash, jaccard shingles,
    # decon shingles both sides, lang+quality) on this one scan, and at
    # test scale it arrives as a single row group — one task ran them
    # all. The identical repartition subtree is exchange-reused across
    # the consumers; no-op at scale (the r11-rejected per-query sweep
    # tested single-pass queries, where the exchange didn't amortize)
    docs = split_for_scan(spark, load_table(spark, sf_dir, "documents"))
    # 1-2: duplicate-cluster representatives (exact groups collapse
    # inside CC groups for shingled docs; the exact stage additionally
    # catches <n-token duplicates that have no shingles)
    exact_reps = dedup.exact_dedup(docs, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    # reps-only election (r12): the keep-one gate consumes the rep SET,
    # so the full dedup_groups frame's size agg + join-backs drop out
    if rep_by_quality:
        scored = docs.select(
            "doc_id",
            F.round(text.quality_score(F.col("text")), 6).alias("quality"),
        )
        cc_reps = corpus.dedup_group_reps(
            scored, pairs, "doc_id", rep_by="quality"
        )
    else:
        cc_reps = corpus.dedup_group_reps(docs, pairs, "doc_id")
    # 3: decontamination (corpus side excludes the benchmark docs)
    decon = corpus.decontaminate(
        docs.filter(F.col("doc_id") >= 10),
        docs.filter(F.col("doc_id") < 10),
        "doc_id",
        "text",
        n=5,
    ).filter(F.col("contaminated") == 0).select("doc_id")
    # 4: language + quality-quantile gate over the surviving set
    survivors = (
        docs.join(exact_reps, "doc_id", "left_semi")
        .join(cc_reps, "doc_id", "left_semi")
        .join(decon, "doc_id", "left_semi")
        .select(
            "doc_id",
            text.lang_id(F.col("text")).alias("pred_lang"),
            F.round(text.quality_score(F.col("text")), 6).alias("quality"),
        )
        .filter(F.col("pred_lang") == "en")
    )
    # quantile_filter reads survivors twice (threshold agg + the gate);
    # without the cache the whole dedup/CC/decon lineage above would
    # execute twice
    survivors = cache(survivors, "corpus-survivors")
    kept = corpus.quantile_filter(survivors, "doc_id", "quality", 0.25)
    # 5: write layout
    return corpus.shard_assign(kept, "doc_id", PACK_SHARDS).select(
        "doc_id", "shard", F.col("pos").cast("long").alias("pos")
    )


QUERIES = {
    "line_dedup": q_line_dedup,
    "corpus_pipeline": q_corpus_pipeline,
    "vocab_topk": q_vocab_topk,
    "decontaminate": q_decontaminate,
    "dedup_groups_cc": q_dedup_groups_cc,
    "dedup_rep_quality": q_dedup_rep_quality,
    "dedup_incremental": q_dedup_incremental,
    "dedup_incremental_indexed": q_dedup_incremental_indexed,
    "dedup_incremental_lsh": q_dedup_incremental_lsh,
    "corpus_shard_assign": q_corpus_shard_assign,
    "sample_stratified": q_sample_stratified,
    "quality_quantile_filter": q_quality_quantile_filter,
    "sequence_pack": q_sequence_pack,
}


# ------------------------------------------------------------- oracles

_HID = sql_hash60("doc_id::VARCHAR")

_SHINGLE_SETS = f"""
  SELECT doc_id,
         list_distinct(list_transform(
             list_distinct(list_transform(range(greatest(len(w) - 2, 0)),
                 i -> concat(w[i+1], ' ', w[i+2], ' ', w[i+3]))),
             s -> {sql_hash60('s')})) AS hs
  FROM (SELECT doc_id, {_TOKS} AS w FROM documents)
"""

_QUALITY = f"""
  SELECT doc_id,
         round((CASE WHEN len({_TOKS}) BETWEEN 20 AND 1000
                     THEN 0.5 ELSE 0 END)
               + (CASE WHEN len(regexp_extract_all(text, '[^\\w\\s]'))
                            * 1.0 / length(text) < 0.1
                       THEN 0.25 ELSE 0 END)
               + (len(list_intersect(list_distinct({_TOKS}),
                      ['the', 'a', 'and', 'of', 'to', 'is'])) * 1.0 / 6)
                 * 0.25, 6) AS quality
  FROM documents
"""

# 5-gram shingle sets (decontamination granularity)
_SHINGLE5 = f"""
  SELECT doc_id,
         list_distinct(list_transform(
             list_distinct(list_transform(range(greatest(len(w) - 4, 0)),
                 i -> concat(w[i+1], ' ', w[i+2], ' ', w[i+3], ' ',
                             w[i+4], ' ', w[i+5]))),
             s -> {sql_hash60('s')})) AS hs
  FROM (SELECT doc_id, {_TOKS} AS w FROM documents)
"""

ORACLE = {
    "vocab_topk": f"""
        SELECT token, tf, df FROM (
          SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
          FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
          GROUP BY 1
        ) WHERE tf >= 2
        ORDER BY tf DESC, token ASC LIMIT 100
    """,
    "decontaminate": f"""
        WITH sh AS ({_SHINGLE5}),
        c AS (SELECT doc_id, unnest(hs) AS g FROM sh WHERE doc_id >= 10),
        b AS (SELECT DISTINCT unnest(hs) AS g FROM sh WHERE doc_id < 10),
        hits AS (
          SELECT doc_id, count(*) AS bench_hits
          FROM c JOIN b USING (g) GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(h.bench_hits, 0) AS bench_hits,
               CASE WHEN coalesce(h.bench_hits, 0) > 0
                    THEN 1 ELSE 0 END AS contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
        LEFT JOIN hits h USING (doc_id)
    """,
    # transitive min-label closure over the same exact-Jaccard edges;
    # UNION (not ALL) bounds the walk to distinct (node, label) pairs
    "dedup_groups_cc": f"""
        WITH RECURSIVE
        pairs AS (
          SELECT id_a, id_b FROM ({_JACCARD_PAIRS}) WHERE jaccard >= 0.3
        ),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION ALL
          SELECT id_b AS u, id_a AS v FROM pairs
        ),
        walk(node, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.node
        ),
        labels AS (
          SELECT node AS doc_id, min(lbl) AS group_id FROM walk GROUP BY 1
        )
        SELECT l.doc_id, l.group_id, s.group_sz
        FROM labels l
        JOIN (SELECT group_id, count(*) AS group_sz
              FROM labels GROUP BY 1) s USING (group_id)
    """,
    "dedup_rep_quality": f"""
        WITH RECURSIVE
        pairs AS (
          SELECT id_a, id_b FROM ({_JACCARD_PAIRS}) WHERE jaccard >= 0.3
        ),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION ALL
          SELECT id_b AS u, id_a AS v FROM pairs
        ),
        walk(node, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.node
        ),
        labels AS (
          SELECT node AS doc_id, min(lbl) AS group_id FROM walk GROUP BY 1
        ),
        q AS ({_QUALITY}),
        reps AS (
          SELECT group_id, doc_id AS rep_id FROM (
            SELECT l.group_id, l.doc_id,
                   row_number() OVER (PARTITION BY l.group_id
                                      ORDER BY q.quality DESC,
                                               l.doc_id ASC) AS rn
            FROM labels l JOIN q USING (doc_id)
          ) WHERE rn = 1
        )
        SELECT l.doc_id, l.group_id, s.group_sz, r.rep_id
        FROM labels l
        JOIN (SELECT group_id, count(*) AS group_sz
              FROM labels GROUP BY 1) s USING (group_id)
        JOIN reps r USING (group_id)
    """,
    "dedup_incremental": f"""
        WITH sh AS ({_SHINGLE_SETS}),
        b AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        c AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0),
        exact AS (
          SELECT b.doc_id, min(c.doc_id) AS exact_src
          FROM b JOIN c
            ON {sql_hash60('b.text')} = {sql_hash60('c.text')}
          GROUP BY 1
        ),
        bsh AS (SELECT * FROM sh WHERE doc_id % 5 = 0),
        csh AS (SELECT * FROM sh WHERE doc_id % 5 != 0),
        inv_b AS (SELECT doc_id AS b_id, unnest(hs) AS g FROM bsh),
        inv_c AS (SELECT doc_id AS c_id, unnest(hs) AS g FROM csh),
        cand AS (
          SELECT DISTINCT b_id, c_id FROM inv_b JOIN inv_c USING (g)
        ),
        near AS (
          SELECT b_id AS doc_id, min(c_id) AS near_src FROM (
            SELECT cand.b_id, cand.c_id,
                   len(list_intersect(bs.hs, cs.hs)) * 1.0
                   / (len(bs.hs) + len(cs.hs)
                      - len(list_intersect(bs.hs, cs.hs))) AS j
            FROM cand
            JOIN bsh bs ON bs.doc_id = cand.b_id
            JOIN csh cs ON cs.doc_id = cand.c_id
          ) WHERE j >= 0.3 GROUP BY 1
        )
        SELECT b.doc_id, e.exact_src, n.near_src,
               CASE WHEN e.exact_src IS NOT NULL THEN 'exact'
                    WHEN n.near_src IS NOT NULL THEN 'near'
                    ELSE 'new' END AS verdict
        FROM b
        LEFT JOIN exact e ON e.doc_id = b.doc_id
        LEFT JOIN near n ON n.doc_id = b.doc_id
    """,
    "corpus_shard_assign": f"""
        WITH h AS (SELECT doc_id, {_HID} AS h FROM documents)
        SELECT doc_id,
               CAST(h % {N_SHARDS} AS INTEGER) AS shard,
               row_number() OVER (PARTITION BY h % {N_SHARDS}
                                  ORDER BY h, doc_id) AS pos
        FROM h
    """,
    "sample_stratified": f"""
        WITH r AS (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY {_HID}, doc_id) AS sample_rank
          FROM documents
        )
        SELECT doc_id, lang, sample_rank FROM r
        WHERE sample_rank <= {STRATA_QUOTA}
    """,
    "quality_quantile_filter": f"""
        WITH s AS ({_QUALITY}),
        t AS (SELECT round(quantile_cont(quality, {QUANTILE}), 6) AS thr
              FROM s)
        SELECT doc_id, quality, thr
        FROM s CROSS JOIN t WHERE quality >= thr
    """,
    "sequence_pack": f"""
        WITH toks AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text,
                     '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tok,
                 {_HID} AS h
          FROM documents
        ),
        packed AS (
          SELECT doc_id,
                 CAST(h % {PACK_SHARDS} AS INTEGER) AS shard,
                 n_tok,
                 sum(n_tok) OVER (PARTITION BY h % {PACK_SHARDS}
                                  ORDER BY h, doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum
          FROM toks
        )
        SELECT doc_id, shard,
               CAST(floor((cum - n_tok) * 1.0 / {PACK_BUDGET}) AS BIGINT)
                 AS chunk,
               n_tok,
               CAST(cum - n_tok AS BIGINT) AS chunk_off
        FROM packed
    """,
}

# indexed variant: same algorithm, persisted/bucketed corpus side —
# identical verdicts, so the oracle is shared (like ann_ivf_indexed)
ORACLE["dedup_incremental_indexed"] = ORACLE["dedup_incremental"]

# the end-to-end corpus build: every stage reuses the per-stage oracle
# fragments, so a mismatch localizes to the stage that diverged
_LANG_CASE = f"""
    CASE
      WHEN {_BEST} > 0 AND {_LANG_SCORE['en']} = {_BEST} THEN 'en'
      WHEN {_BEST} > 0 AND {_LANG_SCORE['de']} = {_BEST} THEN 'de'
      WHEN {_BEST} > 0 AND {_LANG_SCORE['fr']} = {_BEST} THEN 'fr'
      WHEN {_BEST} > 0 AND {_LANG_SCORE['es']} = {_BEST} THEN 'es'
      ELSE 'und'
    END
"""

ORACLE["corpus_pipeline"] = f"""
    WITH RECURSIVE
    exact_reps AS (
      SELECT min(doc_id) AS doc_id
      FROM documents GROUP BY {sql_hash60('text')}
    ),
    pairs AS (
      SELECT id_a, id_b FROM ({_JACCARD_PAIRS}) WHERE jaccard >= 0.3
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    walk(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.node
    ),
    cc_reps AS (
      SELECT node AS doc_id FROM walk GROUP BY node HAVING min(lbl) = node
    ),
    sh5 AS ({_SHINGLE5}),
    c5 AS (SELECT doc_id, unnest(hs) AS g FROM sh5 WHERE doc_id >= 10),
    b5 AS (SELECT DISTINCT unnest(hs) AS g FROM sh5 WHERE doc_id < 10),
    dirty AS (SELECT DISTINCT doc_id FROM c5 JOIN b5 USING (g)),
    decon AS (
      SELECT doc_id FROM documents
      WHERE doc_id >= 10
        AND doc_id NOT IN (SELECT doc_id FROM dirty)
    ),
    scored AS (
      SELECT doc_id, {_LANG_CASE} AS pred_lang,
             (SELECT quality FROM ({_QUALITY}) q
              WHERE q.doc_id = documents.doc_id) AS quality
      FROM documents
    ),
    surv AS (
      SELECT s.doc_id, s.quality
      FROM scored s
      JOIN exact_reps er ON er.doc_id = s.doc_id
      JOIN cc_reps cr ON cr.doc_id = s.doc_id
      JOIN decon de ON de.doc_id = s.doc_id
      WHERE s.pred_lang = 'en'
    ),
    thr AS (SELECT round(quantile_cont(quality, 0.25), 6) AS thr FROM surv),
    kept AS (
      SELECT doc_id FROM surv CROSS JOIN thr WHERE quality >= thr
    ),
    h AS (SELECT doc_id, {_HID} AS h FROM kept)
    SELECT doc_id,
           CAST(h % {PACK_SHARDS} AS INTEGER) AS shard,
           row_number() OVER (PARTITION BY h % {PACK_SHARDS}
                              ORDER BY h, doc_id) AS pos
    FROM h
"""

# line_dedup: 10-word line grouping (regex verified byte-identical on
# both engines), df>3 lines dropped, ordered reassembly. DuckDB's
# zipped-unnest pairs each line with its position.
ORACLE["line_dedup"] = f"""
    WITH lined AS (
      SELECT doc_id,
             regexp_replace(text, '((\\S+ ){{9}}\\S+) ',
                            '\\1' || chr(10), 'g') AS text
      FROM documents
    ),
    lines AS (
      SELECT doc_id,
             unnest(range(len(l))) AS pos,
             unnest(l) AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM lined)
    ),
    hashed AS (
      SELECT doc_id, pos, line, {sql_hash60('line')} AS lh FROM lines
    ),
    common AS (
      SELECT lh FROM hashed GROUP BY lh
      HAVING count(DISTINCT doc_id) > 3
    ),
    kept AS (
      SELECT * FROM hashed WHERE lh NOT IN (SELECT lh FROM common)
    ),
    dropped AS (
      SELECT doc_id, count(*) AS n_lines_dropped
      FROM hashed WHERE lh IN (SELECT lh FROM common)
      GROUP BY 1
    ),
    rebuilt AS (
      SELECT doc_id,
             string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS n_lines_kept
      FROM kept GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           coalesce(r.n_lines_kept, 0) AS n_lines_kept,
           coalesce(dr.n_lines_dropped, 0) AS n_lines_dropped
    FROM documents d
    LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
"""

# LSH-probed incremental dedup: identical algorithm in SQL — minhash
# signatures + band buckets cross-set, exact-Jaccard verify
from tcrd_spark.pipeline.testdata_queries import (  # noqa: E402
    _BAND_KEYS,
    _sql_minhash_sig_expr,
)

ORACLE["dedup_incremental_lsh"] = f"""
    WITH sh0 AS ({_SHINGLE_SETS}),
    sh AS (SELECT * FROM sh0 WHERE len(hs) > 0),
    sig AS (SELECT doc_id, {_sql_minhash_sig_expr()} AS sig FROM sh),
    buckets AS (
      SELECT doc_id, unnest([{_BAND_KEYS}]) AS bucket FROM sig
    ),
    bb AS (SELECT doc_id AS b_id, bucket FROM buckets WHERE doc_id % 5 = 0),
    cb AS (SELECT doc_id AS c_id, bucket FROM buckets WHERE doc_id % 5 != 0),
    cand AS (SELECT DISTINCT b_id, c_id FROM bb JOIN cb USING (bucket)),
    b AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    c AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0),
    exact AS (
      SELECT b.doc_id, min(c.doc_id) AS exact_src
      FROM b JOIN c ON {sql_hash60('b.text')} = {sql_hash60('c.text')}
      GROUP BY 1
    ),
    near AS (
      SELECT b_id AS doc_id, min(c_id) AS near_src FROM (
        SELECT cand.b_id, cand.c_id,
               len(list_intersect(bs.hs, cs.hs)) * 1.0
               / (len(bs.hs) + len(cs.hs)
                  - len(list_intersect(bs.hs, cs.hs))) AS j
        FROM cand
        JOIN sh bs ON bs.doc_id = cand.b_id
        JOIN sh cs ON cs.doc_id = cand.c_id
      ) WHERE j >= 0.3 GROUP BY 1
    )
    SELECT b.doc_id, e.exact_src, n.near_src,
           CASE WHEN e.exact_src IS NOT NULL THEN 'exact'
                WHEN n.near_src IS NOT NULL THEN 'near'
                ELSE 'new' END AS verdict
    FROM b
    LEFT JOIN exact e ON e.doc_id = b.doc_id
    LEFT JOIN near n ON n.doc_id = b.doc_id
"""
