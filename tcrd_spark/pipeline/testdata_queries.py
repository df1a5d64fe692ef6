"""Driver-facing queries binding the pipeline operators (text / dedup /
similarity) to the TESTDATA tables, each with a DuckDB oracle that
reproduces the identical algorithm — including MinHash signatures and
LSH banding, thanks to the portable md5-based hashing
(functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.functions.hashing import (
    FP_MOD,
    MERSENNE_P,
    minhash_params,
    sql_hash60,
)
from tcrd_spark.pipeline import dedup, similarity, text
from tcrd_spark.pipeline.dedup import EMB_DIM, oracle_dot
from tcrd_spark.sources.lake import load_table

# ---------------------------------------------------------------- text

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) + rolling-hash
    document fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    tc = text.token_counts(F.col("text"))
    return docs.select(
        "doc_id",
        tc["ws_tokens"].alias("ws_tokens"),
        tc["bpe_tokens"].alias("bpe_tokens"),
        text.fingerprint(F.col("text")).alias("fingerprint"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features + composite score per document."""
    docs = load_table(spark, sf_dir, "documents")
    f = text.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        f["n_tokens"].alias("n_tokens"),
        f["mean_word_len"].alias("mean_word_len"),
        f["punct_ratio"].alias("punct_ratio"),
        f["stopword_hit_ratio"].alias("stopword_hit_ratio"),
        text.quality_score(F.col("text")).alias("quality"),
    )


def q_text_clean_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus normalization + PII scrub: control/HTML strip, whitespace
    collapse, email/URL masking — identical RE2-safe patterns on both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.clean_text(F.col("text")).alias("clean"),
        text.mask_pii(F.col("text")).alias("masked"),
    )


TAG_DICT = ["spark", "query", "table", "stream", "window", "join"]


def q_entity_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-based entity tagging (`python/grant_tagger.py:1-30`
    pattern): distinct dictionary terms mentioned per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.array_join(
            text.tag_dictionary_terms(F.col("text"), TAG_DICT), "|"
        ).alias("mentions"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language-ID heuristic vs the labeled lang."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        text.lang_id(F.col("text")).alias("pred_lang"),
    )


# --------------------------------------------------------------- dedup

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "doc_id", "text")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, n_perms=32, bands=16, threshold=0.3
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_signatures(docs, "doc_id", "text")


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs via the distributed block-pair matmul —
    the 100 TB plan (no driver collect anywhere; task memory bounded
    by block size). `embedding_near_dups` (guarded driver-broadcast
    brute force) remains the test-only baseline; all three — blocked,
    brute, oracle SQL — produce identical rounded values."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dups_blocked(
        emb.select(F.col("vec_id"), F.col("embedding")),
        "vec_id",
        "embedding",
        EMB_DIM,
        threshold=0.4,
    )


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data cleaning pass a real pipeline runs:
    exact-dedup representatives only → language gate (en) → quality
    threshold. One plan: the dedup pass is a semi-join against the
    min-id representatives; lang/quality are column expressions."""
    docs = load_table(spark, sf_dir, "documents")
    keeps = dedup.exact_dedup(docs, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    return (
        docs.join(keeps, "doc_id", "left_semi")
        .select(
            "doc_id",
            text.lang_id(F.col("text")).alias("pred_lang"),
            F.round(text.quality_score(F.col("text")), 6).alias("quality"),
        )
        .filter((F.col("pred_lang") == "en") & (F.col("quality") >= 0.5))
    )


# ---------------------------------------------------------- similarity

def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors (the ANN baseline)."""
    corpus, qs, _ = similarity.panel(spark, sf_dir)
    return similarity.brute_force_topk(qs, corpus, EMB_DIM, k=10)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF two-stage ANN: 8 deterministic centroids, probe 2 cells."""
    corpus, qs, centroids = similarity.panel(spark, sf_dir)
    return similarity.ivf_topk(qs, corpus, centroids, EMB_DIM, k=10, n_probe=2)


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration of the REAL k-means IVF build path
    (kmeans_centroids' own stages): assign under the deterministic
    first-8 seed, 6dp-rounded mean update (rounding pins the averaged
    doubles to values both engines represent identically), re-assign
    every vector under the updated centroids. Oracle-adjudicates the
    assign→mean→assign machinery the trained build runs per iteration."""
    corpus, _, cents0 = similarity.panel(spark, sf_dir)
    a0 = similarity.assign_cells(corpus, cents0, EMB_DIM).select(
        "c_id", "c_vec", "cell_id"
    )
    cents1 = similarity.lloyd_mean_update(a0, EMB_DIM, round_to=6)
    return similarity.assign_cells(
        corpus.select("c_id", "c_vec"), cents1, EMB_DIM
    ).select("c_id", "cell_id")


def q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search against the PERSISTED cell_id-partitioned index —
    same centroids/probes as ann_ivf, so identical results; the scan
    is partition-pruned to the probed cells. The index builds once per
    session per sf_dir (`similarity.panel_ivf_index`)."""
    _, qs, centroids = similarity.panel(spark, sf_dir)
    return similarity.ivf_topk_indexed(
        qs, similarity.panel_ivf_index(spark, sf_dir), centroids, EMB_DIM,
        k=10, n_probe=2,
    )


QUERIES = {
    "text_stats": q_text_stats,
    "text_clean_pii": q_text_clean_pii,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "entity_tagging": q_entity_tagging,
    "corpus_clean": q_corpus_clean,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "ann_bruteforce": q_ann_bruteforce,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_indexed": q_ann_ivf_indexed,
    "kmeans_assign": q_kmeans_assign,
}


# ------------------------------------------------------------- oracles
# SQL fragments shared across oracles. Tokenization: split on \s+ runs.

_TOKS = "string_split_regex(text, '\\s+')"
_H60_MOD = f"({sql_hash60('t')} % {FP_MOD})"

# hashed shingles: distinct 60-bit hashes of the word 3-grams
# (empty when < 3 tokens) — mirrors dedup.hashed_shingles
_SHINGLES = f"""
  SELECT doc_id,
         list_distinct(list_transform(
             list_distinct(list_transform(range(greatest(len(w) - 2, 0)),
                 i -> concat(w[i+1], ' ', w[i+2], ' ', w[i+3]))),
             s -> {sql_hash60('s')})) AS hs
  FROM (SELECT doc_id, {_TOKS} AS w FROM documents)
"""

# exact pairwise jaccard over shingle sets (id_a < id_b)
_JACCARD_PAIRS = f"""
  WITH sh AS ({_SHINGLES}),
  inv AS (SELECT doc_id, unnest(hs) AS g FROM sh),
  pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
    FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  sizes AS (SELECT doc_id, len(hs) AS n_sh FROM sh)
  SELECT id_a, id_b,
         round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
  FROM pairs
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
"""


def _sql_minhash_sig_expr() -> str:
    """Minhash signature (32 perms) over the hashed-shingle column `hs`
    — pure arithmetic per perm, identical constants to
    minhash_params(32, seed=7)."""
    parts = [
        f"list_min(list_transform(hs, h -> "
        f"({a} * (h % {MERSENNE_P}) + {b}) % {MERSENNE_P}))"
        for a, b in minhash_params(32, seed=7)
    ]
    return "[" + ", ".join(parts) + "]"


# LSH band keys: 16 bands × 2 rows; key = 'band,sig[2i+1],sig[2i+2]'
_BAND_KEYS = " , ".join(
    f"concat('{i}', ',', sig[{2*i+1}], ',', sig[{2*i+2}])" for i in range(16)
)

_SIMHASH_SIG = f"""
  WITH tok AS (
    SELECT doc_id, t, count(*) AS ct, {sql_hash60('t')} AS h
    FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
    GROUP BY 1, 2
  ), pb AS (
    SELECT doc_id, bi,
           sum(ct * CASE WHEN (h & (1::BIGINT << bi)) != 0
                         THEN 1 ELSE -1 END) AS s
    FROM tok, (SELECT unnest(range(32)) AS bi)
    GROUP BY 1, 2
  )
  SELECT doc_id,
         CAST(sum(CASE WHEN s >= 0 THEN (1::BIGINT << bi) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM pb GROUP BY 1
"""



# per-vector norm CTE body over embeddings: (vec_id, v, nrm)
_EMB_NORMED = (
    "SELECT vec_id, v, sqrt(" + oracle_dot("v", "v") + ") AS nrm "
    "FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
)


def _sql_pair_score(a: str, b: str) -> str:
    return f"round({oracle_dot(f'{a}.v', f'{b}.v')} / ({a}.nrm * {b}.nrm), 6)"


_LANG_SCORE = {
    lang: (
        f"len(list_intersect(list_distinct({_TOKS}), "
        f"[{', '.join(repr(w) for w in words)}]))"
    )
    for lang, words in text.LANG_PROFILES.items()
}

_BEST = "greatest(" + ", ".join(_LANG_SCORE[lang] for lang in text.LANG_PROFILES) + ")"

_STOPS = ", ".join(repr(s) for s in text.STOPWORDS)

ORACLE = {
    "text_clean_pii": f"""
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(regexp_replace(text,
                   '{text.CONTROL_CHARS}', '', 'g'),
                   '{text.HTML_TAG}', ' ', 'g'),
                   '\\s+', ' ', 'g')) AS clean,
               regexp_replace(regexp_replace(text,
                   '{text.EMAIL}', '<EMAIL>', 'g'),
                   '{text.URL}', '<URL>', 'g') AS masked
        FROM documents
    """,
    "text_stats": f"""
        SELECT doc_id,
               len({_TOKS}) AS ws_tokens,
               len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform({_TOKS}, t -> {_H60_MOD})),
                   (acc, h) -> (acc * 31 + h) % {FP_MOD}) AS fingerprint
        FROM documents
    """,
    "text_quality": f"""
        WITH f AS (
          SELECT doc_id,
                 length(text) AS nc,
                 len({_TOKS}) AS nt,
                 len(regexp_extract_all(text, '[^\\w\\s]')) AS np,
                 len(list_intersect(list_distinct({_TOKS}), [{_STOPS}])) AS ns
          FROM documents
        )
        SELECT doc_id,
               nt AS n_tokens,
               round((nc - nt + 1) * 1.0 / nt, 6) AS mean_word_len,
               round(np * 1.0 / nc, 6) AS punct_ratio,
               round(ns * 1.0 / 6, 6) AS stopword_hit_ratio,
               round((CASE WHEN nt BETWEEN 20 AND 1000 THEN 0.5 ELSE 0 END)
                     + (CASE WHEN np * 1.0 / nc < 0.1 THEN 0.25 ELSE 0 END)
                     + (ns * 1.0 / 6) * 0.25, 6) AS quality
        FROM f
    """,
    "entity_tagging": f"""
        SELECT doc_id,
               coalesce(array_to_string(list_sort(list_intersect(
                   list_distinct({_TOKS}),
                   ['spark', 'query', 'table', 'stream', 'window', 'join'])),
                   '|'), '') AS mentions
        FROM documents
    """,
    "lang_id": f"""
        SELECT doc_id, lang AS labeled_lang,
               CASE
                 WHEN {_BEST} > 0 AND {_LANG_SCORE['en']} = {_BEST} THEN 'en'
                 WHEN {_BEST} > 0 AND {_LANG_SCORE['de']} = {_BEST} THEN 'de'
                 WHEN {_BEST} > 0 AND {_LANG_SCORE['fr']} = {_BEST} THEN 'fr'
                 WHEN {_BEST} > 0 AND {_LANG_SCORE['es']} = {_BEST} THEN 'es'
                 ELSE 'und'
               END AS pred_lang
        FROM documents
    """,
    "dedup_exact": f"""
        SELECT {sql_hash60('text')} AS text_hash,
               min(doc_id) AS keep_id,
               count(*) AS dup_ct
        FROM documents GROUP BY 1
    """,
    "corpus_clean": f"""
        WITH keeps AS (
          SELECT min(doc_id) AS doc_id
          FROM documents GROUP BY {sql_hash60('text')}
        ),
        scored AS (
          SELECT doc_id,
                 CASE
                   WHEN {_BEST} > 0 AND {_LANG_SCORE['en']} = {_BEST} THEN 'en'
                   WHEN {_BEST} > 0 AND {_LANG_SCORE['de']} = {_BEST} THEN 'de'
                   WHEN {_BEST} > 0 AND {_LANG_SCORE['fr']} = {_BEST} THEN 'fr'
                   WHEN {_BEST} > 0 AND {_LANG_SCORE['es']} = {_BEST} THEN 'es'
                   ELSE 'und'
                 END AS pred_lang,
                 round((CASE WHEN len({_TOKS}) BETWEEN 20 AND 1000
                             THEN 0.5 ELSE 0 END)
                       + (CASE WHEN len(regexp_extract_all(text, '[^\\w\\s]'))
                                    * 1.0 / length(text) < 0.1
                               THEN 0.25 ELSE 0 END)
                       + (len(list_intersect(list_distinct({_TOKS}),
                              [{_STOPS}])) * 1.0 / 6) * 0.25, 6) AS quality
          FROM documents
        )
        SELECT s.doc_id, pred_lang, quality
        FROM scored s JOIN keeps k ON s.doc_id = k.doc_id
        WHERE pred_lang = 'en' AND quality >= 0.5
    """,
    "dedup_ngram_jaccard": f"""
        SELECT * FROM ({_JACCARD_PAIRS}) WHERE jaccard >= 0.3
    """,
    "dedup_minhash_lsh": f"""
        WITH sh AS ({_SHINGLES}),
        sig AS (SELECT doc_id, {{SIG}} AS sig FROM sh),
        buckets AS (
          SELECT doc_id, unnest([{_BAND_KEYS}]) AS bucket FROM sig
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM buckets a JOIN buckets b
            ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        ),
        exact AS ({_JACCARD_PAIRS})
        SELECT e.id_a, e.id_b, e.jaccard
        FROM cand c JOIN exact e ON c.id_a = e.id_a AND c.id_b = e.id_b
        WHERE e.jaccard >= 0.3
    """,
    "dedup_simhash": _SIMHASH_SIG,
    "dedup_simhash_pairs": f"""
        WITH sig AS ({_SIMHASH_SIG})
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    "dedup_embedding_cosine": f"""
        WITH e AS ({_EMB_NORMED})
        SELECT * FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 {_sql_pair_score('a', 'b')} AS cos_sim
          FROM e a JOIN e b ON a.vec_id < b.vec_id
        ) WHERE cos_sim >= 0.4
    """,
    "ann_bruteforce": f"""
        WITH e AS ({_EMB_NORMED}),
        q AS (SELECT vec_id AS q_id, v, nrm FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id AS c_id, v, nrm FROM e),
        scored AS (
          SELECT q_id, c_id, {_sql_pair_score('q', 'c')} AS score
          FROM c CROSS JOIN q
        ),
        ranked AS (
          SELECT q_id, c_id, score,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, c_id ASC) AS rank
          FROM scored
        )
        SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= 10
    """,
    "ann_ivf": f"""
        WITH e AS ({_EMB_NORMED}),
        q AS (SELECT vec_id AS q_id, v, nrm FROM e WHERE vec_id < 5),
        c AS (SELECT vec_id AS c_id, v, nrm FROM e),
        cent AS (SELECT vec_id AS cell_id, v, nrm FROM e WHERE vec_id < 8),
        assigned AS (
          SELECT c_id, v, nrm, cell_id FROM (
            SELECT c.c_id, c.v, c.nrm, cent.cell_id,
                   row_number() OVER (
                     PARTITION BY c.c_id
                     ORDER BY {_sql_pair_score('c', 'cent')} DESC,
                              cent.cell_id ASC) AS rn
            FROM c CROSS JOIN cent
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT q_id, v, nrm, cell_id FROM (
            SELECT q.q_id, q.v, q.nrm, cent.cell_id,
                   row_number() OVER (
                     PARTITION BY q.q_id
                     ORDER BY {_sql_pair_score('q', 'cent')} DESC,
                              cent.cell_id ASC) AS rn
            FROM q CROSS JOIN cent
          ) WHERE rn <= 2
        ),
        scored AS (
          SELECT p.q_id, a.c_id, {_sql_pair_score('p', 'a')} AS score
          FROM probes p JOIN assigned a ON p.cell_id = a.cell_id
        ),
        ranked AS (
          SELECT q_id, c_id, score,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY score DESC, c_id ASC) AS rank
          FROM scored
        )
        SELECT q_id, c_id, score, rank FROM ranked WHERE rank <= 10
    """,
}

# ann_ivf_indexed: same centroids, same probes, same inverted lists —
# the persisted index changes the SCAN (partition-pruned), not the math
ORACLE["ann_ivf_indexed"] = ORACLE["ann_ivf"]

# one Lloyd iteration: assign under first-8 seed → 6dp-rounded
# element-wise means → re-assign (identical arithmetic to
# q_kmeans_assign; the rounding pins the averaged doubles)
_MEAN_VEC = "[" + ", ".join(
    f"round(avg(v[{i+1}]), 6)" for i in range(EMB_DIM)
) + "]"

ORACLE["kmeans_assign"] = f"""
    WITH e AS ({_EMB_NORMED}),
    c AS (SELECT vec_id AS c_id, v, nrm FROM e),
    cent0 AS (SELECT vec_id AS cell_id, v, nrm FROM e WHERE vec_id < 8),
    a0 AS (
      SELECT c_id, v, cell_id FROM (
        SELECT c.c_id, c.v, cent0.cell_id,
               row_number() OVER (
                 PARTITION BY c.c_id
                 ORDER BY {_sql_pair_score('c', 'cent0')} DESC,
                          cent0.cell_id ASC) AS rn
        FROM c CROSS JOIN cent0
      ) WHERE rn = 1
    ),
    m AS (SELECT cell_id, {_MEAN_VEC} AS v FROM a0 GROUP BY cell_id),
    cent1 AS (
      SELECT cell_id, v, sqrt({oracle_dot('v', 'v')}) AS nrm FROM m
    )
    SELECT c_id, cell_id FROM (
      SELECT c.c_id, cent1.cell_id,
             row_number() OVER (
               PARTITION BY c.c_id
               ORDER BY {_sql_pair_score('c', 'cent1')} DESC,
                        cent1.cell_id ASC) AS rn
      FROM c CROSS JOIN cent1
    ) WHERE rn = 1
"""

# stitch the minhash signature into its oracle (too long to inline above)
ORACLE["dedup_minhash_lsh"] = ORACLE["dedup_minhash_lsh"].replace(
    "{SIG}", _sql_minhash_sig_expr()
)
