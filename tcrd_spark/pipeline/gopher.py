"""Gopher-style repetition and quality rules (Rae et al., "Scaling
Language Models: Methods, Analysis & Insights from Training Gopher",
2021, §A1.1) — the canonical per-document quality gate every
pretraining corpus build runs before dedup.

Implemented surface (the line/paragraph rules are omitted: this
corpus' documents are single-line; the machinery for them is
`pipeline/corpus.boilerplate_line_dedup`'s posexplode shape):

- word statistics: word count, mean word length, fraction of words
  with an alphabetic character, required-stopword count;
- top n-gram coverage (n = 2, 3, 4): fraction of the document's
  tokens covered by its single most frequent word n-gram;
- duplicated n-gram coverage (n = 5, 10): fraction of tokens lying
  inside any n-gram that occurs MORE THAN ONCE within the document —
  exact coverage via the same interval-merge window as
  `pipeline/substring.duplicate_spans`, scoped intra-document;
- the composed keep/drop verdict with the paper's thresholds.

Scale: word stats are pure column expressions; the n-gram passes
shuffle (doc, gram-hash) pairs only — counts are map-side combinable
and the merge windows partition by document, so cost is bounded by
document length, never corpus-wide frequency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tcrd_spark.pipeline.substring import _gram_hashes
from tcrd_spark.pipeline.text import ws_tokens

# Rae et al. §A1.1 thresholds
MIN_WORDS, MAX_WORDS = 50, 100_000
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 3.0, 10.0
MIN_ALPHA_FRAC = 0.8
REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                      "with")
MIN_STOPWORDS = 2
TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_MAX = {5: 0.15, 10: 0.10}


def word_stats(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_words, mean_word_len, alpha_frac, n_stopwords) — all
    row-local array expressions."""
    toks = F.filter(ws_tokens(F.col(text_col)), lambda t: t != "")
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    stops = F.size(
        F.array_intersect(
            F.transform(toks, F.lower),
            F.array(*[F.lit(s) for s in REQUIRED_STOPWORDS]),
        )
    )
    total_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    n = F.size(toks)
    return docs.select(
        F.col(id_col),
        n.cast("long").alias("n_words"),
        F.round(
            F.when(n > 0, total_chars / n).otherwise(F.lit(0.0)), 6
        ).alias("mean_word_len"),
        F.round(
            F.when(n > 0, alpha / n).otherwise(F.lit(0.0)), 6
        ).alias("alpha_frac"),
        stops.cast("long").alias("n_stopwords"),
    )


def top_ngram_frac(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, frac): tokens covered by the most frequent word n-gram =
    n × its count / n_words (ties break to the smallest gram hash so
    both engines agree). Docs shorter than n get 0."""
    g = _gram_hashes(docs, id_col, text_col, n, filter_empty=True)
    counts = g.groupBy(id_col, "gh").agg(F.count("*").alias("c"))
    w = Window.partitionBy(id_col).orderBy(F.desc("c"), F.asc("gh"))
    top = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "c")
    )
    nw = docs.select(
        F.col(id_col),
        F.size(F.filter(ws_tokens(F.col(text_col)), lambda t: t != ""))
        .cast("long")
        .alias("_nw"),
    )
    return nw.join(top, id_col, "left").select(
        id_col,
        F.round(
            F.coalesce(F.col("c") * n / F.col("_nw"), F.lit(0.0)), 6
        ).alias("frac"),
    )


def dup_ngram_coverage(
    docs: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, frac): fraction of tokens inside any n-gram occurring ≥2
    times WITHIN the document — exact union of covered positions via
    the interval-merge window (overlapping duplicated grams are not
    double-counted)."""
    g = _gram_hashes(docs, id_col, text_col, n, filter_empty=True)
    dups = (
        g.groupBy(id_col, "gh")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select(id_col, "gh")
    )
    hits = g.join(dups, [id_col, "gh"], "left_semi").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + n - 1).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = F.when(
        prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
    ).otherwise(0)
    spans = (
        hits.select(
            id_col,
            "pos",
            F.sum(is_new)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("_s"),
        )
        .groupBy(id_col, "_s")
        .agg((F.max("pos") + n - F.min("pos")).alias("_len"))
        .groupBy(id_col)
        .agg(F.sum("_len").alias("_cov"))
    )
    nw = docs.select(
        F.col(id_col),
        F.size(F.filter(ws_tokens(F.col(text_col)), lambda t: t != ""))
        .cast("long")
        .alias("_nw"),
    )
    return nw.join(spans, id_col, "left").select(
        id_col,
        F.round(
            F.coalesce(F.col("_cov") / F.col("_nw"), F.lit(0.0)), 6
        ).alias("frac"),
    )


def _gram_hashes_sql(k: int) -> str:
    """Spark-SQL array of the row's k-gram hash60s over `_tk` (empty
    when the doc is shorter than k) — same grams, same hash as
    `_gram_hashes`."""
    from tcrd_spark.functions.hashing import spark_hash60

    gh = spark_hash60(f"concat_ws(' ', slice(_tk, i, {k}))")
    return (
        f"IF(size(_tk) >= {k}, "
        f"transform(sequence(1, size(_tk) - {k} + 1), i -> {gh}), "
        f"CAST(array() AS ARRAY<BIGINT>))"
    )


def _gram_structs_sql(k: int) -> str:
    """Like `_gram_hashes_sql` but (gh, pos) structs, for the
    positional duplicated-coverage rule."""
    from tcrd_spark.functions.hashing import spark_hash60

    gh = spark_hash60(f"concat_ws(' ', slice(_tk, i, {k}))")
    return (
        f"IF(size(_tk) >= {k}, "
        f"transform(sequence(1, size(_tk) - {k} + 1), "
        f"i -> named_struct('gh', {gh}, 'pos', i)), "
        f"CAST(array() AS ARRAY<STRUCT<gh: BIGINT, pos: INT>>))"
    )


def _top_frac_sql(k: int) -> str:
    """top{k}gram_frac, fully row-local: c = the longest run in the
    SORTED gram-hash array (the old ranking window's tie-break to the
    smallest gh only chose WHICH gram won; the emitted fraction uses
    the count alone, so max run length is exactly the same c)."""
    run = f"""aggregate(array_sort({_gram_hashes_sql(k)}),
        named_struct('best', 0L, 'cur', 0L, 'prev', CAST(NULL AS BIGINT)),
        (a, x) -> IF(x = a.prev,
            named_struct('best', greatest(a.best, a.cur + 1L),
                         'cur', a.cur + 1L, 'prev', x),
            named_struct('best', greatest(a.best, 1L), 'cur', 1L,
                         'prev', x)),
        a -> a.best)"""
    # transform(array(x), c -> ...)[1] binds the run count to a lambda
    # variable so it is computed once (no let-binding in Spark SQL)
    return (
        f"element_at(transform(array({run}), c -> "
        f"IF(c = 0, 0.0, round(c * {k} / CAST(size(_tk) AS BIGINT), 6))"
        f"), 1) AS top{k}gram_frac"
    )


def _dup_frac_sql(k: int) -> str:
    """dup{k}gram_frac, fully row-local: positions of grams occurring
    ≥2 times (neighbour equality on the (gh, pos)-sorted array), then
    the same interval merge the old window pass ran — a new segment
    starts when pos > prev_pos + k (strictly past the previous gram's
    covered span + 1), each segment covers last + k - first tokens."""
    dp = f"""array_sort(transform(filter(sequence(1, size(g)), i ->
        (i > 1 AND element_at(g, i).gh = element_at(g, i - 1).gh)
        OR (i < size(g) AND element_at(g, i).gh = element_at(g, i + 1).gh)),
        i -> element_at(g, i).pos))"""
    cov = f"""aggregate({dp},
        named_struct('tot', 0L, 'st', CAST(NULL AS INT),
                     'pe', CAST(NULL AS INT)),
        (a, p) -> IF(a.st IS NULL,
            named_struct('tot', 0L, 'st', p, 'pe', p),
            IF(p > a.pe + {k},
               named_struct('tot', a.tot + CAST(a.pe + {k} - a.st AS BIGINT),
                            'st', p, 'pe', p),
               named_struct('tot', a.tot, 'st', a.st, 'pe', p))),
        a -> IF(a.st IS NULL, CAST(NULL AS BIGINT),
                a.tot + CAST(a.pe + {k} - a.st AS BIGINT)))"""
    return (
        f"element_at(transform(array(element_at(transform("
        f"array(array_sort({_gram_structs_sql(k)})), g -> "
        f"IF(size(g) = 0, CAST(NULL AS BIGINT), {cov})), 1)), cv -> "
        f"IF(cv IS NULL, 0.0, round(cv / CAST(size(_tk) AS BIGINT), 6))"
        f"), 1) AS dup{k}gram_frac"
    )


def gopher_stats(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per doc with every rule's statistic.

    Row-local form (r12, guide §2.4 — remove shuffles outright; §4 —
    one SQL parse): every Gopher statistic is INTRA-document, so
    nothing here needs a shuffle at all. The r11 fused form still
    shuffled (id, n, gh) gram rows through one count exchange, two
    ranking/merge windows and two join-backs (26 Exchanges in the
    gopher_repetition plan); this form tokenizes once behind a
    Generate barrier (so the five gram lambdas never re-inline the
    tokenizer — CollapseProject would otherwise duplicate it per
    column) and computes each rule with array higher-order functions:

    - top n-gram count = longest run in the sorted gram-hash array;
    - duplicated coverage = neighbour-equality dup positions on the
      (gh, pos)-sorted array + the identical linear interval merge;
    - word stats were always row-local.

    The whole operator is ONE projection — zero Exchanges, zero
    joins; per-row cost is O(L log L) in document tokens, the same
    bound the shuffled form had per document. Values are bit-identical
    to the per-n functions (same grams, same hash, same arithmetic,
    same coalesce-to-0.0); tests pin both forms equal.
    """
    top_ns = sorted(TOP_NGRAM_MAX)
    dup_ns = sorted(DUP_NGRAM_MAX)

    toks = F.filter(ws_tokens(F.col(text_col)), lambda t: t != "")
    toked = docs.select(F.col(id_col), F.explode(F.array(toks)).alias("_tk"))
    stops = ", ".join(f"'{s}'" for s in REQUIRED_STOPWORDS)
    cols = [
        id_col,
        "CAST(size(_tk) AS BIGINT) AS n_words",
        "round(IF(size(_tk) > 0, aggregate(_tk, 0L, (a, t) -> a + length(t))"
        " / size(_tk), 0.0), 6) AS mean_word_len",
        "round(IF(size(_tk) > 0, size(filter(_tk, t -> t rlike '[A-Za-z]'))"
        " / size(_tk), 0.0), 6) AS alpha_frac",
        f"CAST(size(array_intersect(transform(_tk, t -> lower(t)), "
        f"array({stops}))) AS BIGINT) AS n_stopwords",
    ]
    cols += [_top_frac_sql(k) for k in top_ns]
    cols += [_dup_frac_sql(k) for k in dup_ns]
    return toked.selectExpr(*cols)


def gopher_filter(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """stats + keep ∈ {0, 1}: the conjunction of every threshold."""
    s = gopher_stats(docs, id_col, text_col)
    keep = (
        F.col("n_words").between(MIN_WORDS, MAX_WORDS)
        & F.col("mean_word_len").between(MIN_MEAN_WORD_LEN,
                                         MAX_MEAN_WORD_LEN)
        & (F.col("alpha_frac") >= MIN_ALPHA_FRAC)
        & (F.col("n_stopwords") >= MIN_STOPWORDS)
    )
    for n, t in TOP_NGRAM_MAX.items():
        keep = keep & (F.col(f"top{n}gram_frac") <= t)
    for n, t in DUP_NGRAM_MAX.items():
        keep = keep & (F.col(f"dup{n}gram_frac") <= t)
    return s.select(id_col, *[c for c in s.columns if c != id_col],
                    keep.cast("int").alias("keep"))


# ------------------------------------------------- registered queries

def q_gopher_repetition(spark, sf_dir):
    """Per-document Gopher repetition statistics over the corpus."""
    from tcrd_spark.sources.lake import load_table, split_for_scan

    docs = split_for_scan(spark, load_table(spark, sf_dir, "documents"))
    return gopher_stats(docs, "doc_id", "text")


def q_gopher_quality_filter(spark, sf_dir):
    """The composed Gopher keep/drop verdict per document."""
    from tcrd_spark.sources.lake import load_table, split_for_scan

    docs = split_for_scan(spark, load_table(spark, sf_dir, "documents"))
    return gopher_filter(docs, "doc_id", "text")


QUERIES = {
    "gopher_repetition": q_gopher_repetition,
    "gopher_quality_filter": q_gopher_quality_filter,
}

_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t != '')"

from tcrd_spark.functions.hashing import sql_hash60  # noqa: E402


def _sql_gram_cte(n: int) -> str:
    return f"""
  SELECT doc_id, unnest(
    list_transform(range(1, greatest(len(w) - {n} + 2, 1)),
      i -> {{'pos': i,
             'gh': {sql_hash60(
                 f"array_to_string(list_slice(w, i, i + {n} - 1), ' ')")}}}),
    recursive := true)
  FROM t"""


def _sql_top_frac(n: int) -> str:
    return f"""
t{n} AS ({_sql_gram_cte(n)}),
c{n} AS (
  SELECT doc_id, gh, count(*) AS c FROM t{n} GROUP BY 1, 2
),
r{n} AS (
  SELECT doc_id, c,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY c DESC, gh ASC) AS rn
  FROM c{n}
),
top{n} AS (
  SELECT w0.doc_id,
         round(coalesce(r.c * {n} * 1.0 / w0.nw, 0.0), 6)
           AS top{n}gram_frac
  FROM w0 LEFT JOIN (SELECT * FROM r{n} WHERE rn = 1) r
    USING (doc_id)
)"""


def _sql_dup_frac(n: int) -> str:
    return f"""
g{n} AS ({_sql_gram_cte(n)}),
d{n} AS (
  SELECT doc_id, gh FROM g{n} GROUP BY 1, 2 HAVING count(*) >= 2
),
h{n} AS (
  SELECT g.doc_id, g.pos FROM g{n} g JOIN d{n} USING (doc_id, gh)
),
m{n} AS (
  SELECT doc_id, pos,
         max(pos + {n} - 1) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
  FROM h{n}
),
s{n} AS (
  SELECT doc_id, pos,
         sum(CASE WHEN pe IS NULL OR pos > pe + 1 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM m{n}
),
cov{n} AS (
  SELECT doc_id, sum(len) AS cov FROM (
    SELECT doc_id, max(pos) + {n} - min(pos) AS len
    FROM s{n} GROUP BY doc_id, sid
  ) GROUP BY 1
),
dup{n} AS (
  SELECT w0.doc_id,
         round(coalesce(cov * 1.0 / w0.nw, 0.0), 6) AS dup{n}gram_frac
  FROM w0 LEFT JOIN cov{n} USING (doc_id)
)"""


_STOP_LIST = "[" + ", ".join(f"'{s}'" for s in REQUIRED_STOPWORDS) + "]"

_STATS_CTES = (
    f"""t AS (SELECT doc_id, {_TOKS} AS w FROM documents),
w0 AS (
  SELECT doc_id, len(w) AS nw,
         CAST(len(w) AS BIGINT) AS n_words,
         round(CASE WHEN len(w) > 0 THEN
             list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w)
           ELSE 0.0 END, 6) AS mean_word_len,
         round(CASE WHEN len(w) > 0 THEN
             len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
               * 1.0 / len(w)
           ELSE 0.0 END, 6) AS alpha_frac,
         CAST(len(list_intersect(list_transform(w, x -> lower(x)),
                                 {_STOP_LIST})) AS BIGINT) AS n_stopwords
  FROM t
),"""
    + ",".join(_sql_top_frac(n) for n in sorted(TOP_NGRAM_MAX))
    + ","
    + ",".join(_sql_dup_frac(n) for n in sorted(DUP_NGRAM_MAX))
)

_STATS_SELECT = f"""
SELECT w0.doc_id, w0.n_words, w0.mean_word_len, w0.alpha_frac,
       w0.n_stopwords,
       {", ".join(f"top{n}.top{n}gram_frac" for n in sorted(TOP_NGRAM_MAX))},
       {", ".join(f"dup{n}.dup{n}gram_frac" for n in sorted(DUP_NGRAM_MAX))}
FROM w0
{" ".join(f"JOIN top{n} USING (doc_id)" for n in sorted(TOP_NGRAM_MAX))}
{" ".join(f"JOIN dup{n} USING (doc_id)" for n in sorted(DUP_NGRAM_MAX))}
"""

_KEEP_EXPR = (
    f"(n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}) AND "
    f"(mean_word_len BETWEEN {MIN_MEAN_WORD_LEN} AND {MAX_MEAN_WORD_LEN})"
    f" AND (alpha_frac >= {MIN_ALPHA_FRAC})"
    f" AND (n_stopwords >= {MIN_STOPWORDS})"
    + "".join(
        f" AND (top{n}gram_frac <= {t})" for n, t in TOP_NGRAM_MAX.items()
    )
    + "".join(
        f" AND (dup{n}gram_frac <= {t})" for n, t in DUP_NGRAM_MAX.items()
    )
)

ORACLE = {
    "gopher_repetition": f"WITH {_STATS_CTES} {_STATS_SELECT}",
    "gopher_quality_filter": f"""
        WITH {_STATS_CTES},
        stats AS ({_STATS_SELECT})
        SELECT *, CAST({_KEEP_EXPR} AS INT) AS keep FROM stats
    """,
}
