"""HTML / boilerplate extraction — stage 0 of a web-corpus pipeline
(VERDICT r7 #5): every real web corpus starts from markup, not clean
text. The jusText/trafilatura-family recipe, restricted to rules both
engines can run byte-identically:

1. drop <script>/<style> blocks WITH their payload, and comments;
2. block-level close tags and <br> become line breaks — the page
   becomes a list of text BLOCKS;
3. per block: strip remaining tags, decode the common entities,
   collapse whitespace; measure the block's LINK DENSITY (chars of
   <a>-anchored text over chars of block text);
4. keep a block only if it has >= MIN_WORDS words AND link density
   <= MAX_LINK_DENSITY — nav bars / footers are short and link-heavy,
   body paragraphs are neither (Kohlschütter et al., boilerplate
   detection via shallow text features);
5. the document's extracted text is the surviving blocks joined by
   newlines.

100 TB shape: pure row-local expression work — regexp/HOF chains over
each row, ZERO shuffles, fully inside whole-stage codegen's Project.
The output feeds the existing stage-1..8 recipe (excision → Gopher →
CCNet → dedup → …) unchanged; composability is pytest-pinned
(tests/test_html.py chains the Gopher gate on extracted text).

All patterns are RE2-safe (no backreferences, no lookaround) so the
DuckDB oracle runs the identical regexes.

Reference parity: none (extension; the reference ingests curated TSV/
XML, never raw web markup).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

MIN_WORDS = 3
MAX_LINK_DENSITY = 0.33

# RE2-safe (shared verbatim with the oracle): no backrefs, so script
# and style need separate patterns
SCRIPT_RE = r"(?is)<script[^>]*>.*?</script>"
STYLE_RE = r"(?is)<style[^>]*>.*?</style>"
COMMENT_RE = r"(?s)<!--.*?-->"
BLOCK_BREAK_RE = (
    r"(?i)</(p|div|h[1-6]|li|tr|td|table|ul|ol|blockquote)>|<br[^>]*>"
)
TAG_RE = r"(?s)<[^>]*>"
ANCHOR_TEXT_RE = r"(?is)<a[^>]*>(.*?)</a>"

# decode order matters: &amp; LAST, so '&amp;lt;' decodes to the
# literal '&lt;' (one level), never to '<'
ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)


def _decode_entities(c: Column) -> Column:
    for ent, ch in ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def _block_text(b: Column) -> Column:
    """Visible text of one block: tags → space, entities decoded,
    whitespace collapsed, trimmed."""
    c = F.regexp_replace(b, TAG_RE, " ")
    c = _decode_entities(c)
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def _link_text_len(b: Column) -> Column:
    """Total characters of <a>-anchored content in the block (inner
    markup counted as-is — density is a heuristic, not a render)."""
    return F.aggregate(
        F.regexp_extract_all(b, F.lit(ANCHOR_TEXT_RE), F.lit(1)),
        F.lit(0),
        lambda acc, x: acc + F.length(x),
    )


def html_extract(html: Column | str) -> Column:
    """Main-content text of an HTML document (one string; surviving
    blocks joined by newlines). Row-local: regexp + higher-order
    functions only, no shuffle, no Python."""
    c = F.col(html) if isinstance(html, str) else html
    c = F.regexp_replace(c, SCRIPT_RE, " ")
    c = F.regexp_replace(c, STYLE_RE, " ")
    c = F.regexp_replace(c, COMMENT_RE, " ")
    c = F.regexp_replace(c, BLOCK_BREAK_RE, "\n")
    blocks = F.split(c, "\n")
    judged = F.transform(
        blocks,
        lambda b: F.struct(
            _block_text(b).alias("t"), _link_text_len(b).alias("l")
        ),
    )
    kept = F.filter(
        judged,
        lambda s: (
            F.size(F.regexp_extract_all(s["t"], F.lit(r"\S+"), F.lit(0)))
            >= MIN_WORDS
        )
        & (
            s["l"].cast("double")
            <= F.lit(MAX_LINK_DENSITY) * F.length(s["t"])
        ),
    )
    return F.array_join(F.transform(kept, lambda s: s["t"]), "\n")


# ------------------------------------------------- registered query
#
# The synthetic corpus is clean text, so the adjudicated query first
# WRAPS each document in a deterministic page skeleton (nav bar,
# script/style/comment noise, a split-paragraph body with an entity,
# a short block, a link-heavy footer) with plain string concatenation
# the oracle repeats verbatim — then extracts. Correct output = the
# two body paragraphs, decoded and whitespace-normalized; every other
# block is boilerplate by the rules above.

_PAGE_PREFIX = (
    '<html><head><title>t</title>'
    '<script type="text/javascript">var nav = 1;</script>'
    "<style>.x{color:red}</style></head><body>"
    '<div class="nav"><a href="/">Home</a> <a href="/a">About us</a> '
    '<a href="/c">Contact page</a></div>'
)
_SPLIT_AT = 100  # body paragraph 1 = first 100 chars, rest = para 2


def synth_page(doc_id: Column, text: Column, lang: Column) -> Column:
    """Deterministic HTML wrapper around a clean document (the test
    harness for the extractor; the oracle concatenates identically)."""
    return F.concat(
        F.lit(_PAGE_PREFIX),
        F.lit("<!-- header "), lang, F.lit(" -->"),
        F.lit("<h1>Doc "), doc_id.cast("string"), F.lit("</h1>"),
        F.lit("<p>"), F.substring(text, 1, _SPLIT_AT), F.lit("</p>"),
        F.lit("<p>"), F.substr(text, F.lit(_SPLIT_AT + 1)),
        F.lit(" &amp; more body text here</p>"),
        F.lit("<div>ok</div>"),
        F.lit('<p>Footer <a href="/t">Terms</a> '
              '<a href="/p">Privacy policy</a></p>'),
        F.lit("</body></html>"),
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, extracted): main-content extraction over synthesized
    pages — nav/footer (link-dense), headline/short blocks
    (< MIN_WORDS), script/style/comments all drop; the body paragraphs
    survive with entities decoded."""
    from tcrd_spark.sources.lake import load_table

    docs = load_table(spark, sf_dir, "documents")
    page = synth_page(F.col("doc_id"), F.col("text"), F.col("lang"))
    return docs.select(
        "doc_id", html_extract(page).alias("extracted")
    )


# ------------------------------------------- composed web pipeline
#
# Stage-0 integration proof (the optional wiring of VERDICT r7 #5):
# synthesized pages → html_extract → Gopher structural/repetition gate
# (stopword rule excluded — the synthetic corpus has none, the
# corpus_v2 precedent) → CCNet head/middle gate → exact-dedup reps.
# Stages reuse the adjudicated library functions; boundaries are RDD
# lineage cuts (the corpus_v2 lesson: stacked HOF stages stall
# Catalyst re-analysis, and stage 0 is the heaviest HOF chain in the
# tree); the oracle nests each stage's proven fragment with its input
# rebound, so a mismatch localizes to one stage.


def _web_stages(spark: SparkSession, sf_dir: str):
    """(extracted, gopher-survivors, ccnet-survivors) stage frames —
    each a lineage-cut, session-memoized DataFrame so the pipeline
    query, the funnel query, and bench reps share one materialization
    per (session, sf_dir)."""
    from tcrd_spark.operators.lineage import cut
    from tcrd_spark.pipeline import gopher
    from tcrd_spark.pipeline.ccnet import ccnet_buckets, lang_nll
    from tcrd_spark.session import memo

    w0 = cut(
        lambda: q_html_extract(spark, sf_dir).select(
            "doc_id", F.col("extracted").alias("text")
        ),
        "web-w0", sf_dir,
    )

    def build_g():
        stats = gopher.gopher_stats(w0, "doc_id", "text")
        keep = (
            F.col("n_words").between(gopher.MIN_WORDS, gopher.MAX_WORDS)
            & F.col("mean_word_len").between(
                gopher.MIN_MEAN_WORD_LEN, gopher.MAX_MEAN_WORD_LEN
            )
            & (F.col("alpha_frac") >= gopher.MIN_ALPHA_FRAC)
        )
        for n, t in gopher.TOP_NGRAM_MAX.items():
            keep = keep & (F.col(f"top{n}gram_frac") <= t)
        for n, t in gopher.DUP_NGRAM_MAX.items():
            keep = keep & (F.col(f"dup{n}gram_frac") <= t)
        return w0.join(stats.filter(keep).select("doc_id"), "doc_id", "semi")

    g = cut(build_g, "web-gopher", sf_dir)

    def build_c():
        labeled = memo(
            spark, "web-labeled", sf_dir,
            lambda: lang_nll(g, "doc_id", "text").cache(),
        )
        buck = ccnet_buckets(g, "doc_id", "text", _labeled=labeled)
        return g.join(
            buck.filter(F.col("bucket").isin("head", "middle"))
            .select("doc_id"),
            "doc_id", "semi",
        )

    c = cut(build_c, "web-ccnet", sf_dir)
    return w0, g, c


def q_web_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_chars) of documents surviving the web recipe's
    first four stages, from raw markup."""
    from tcrd_spark.pipeline import dedup

    _, _, c = _web_stages(spark, sf_dir)
    reps = dedup.exact_dedup(c, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    return c.join(reps, "doc_id", "semi").select(
        "doc_id", F.length("text").alias("n_chars")
    )


def q_web_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(stage_no, stage, n_docs): per-stage survivor counts — the
    funnel observability every corpus pipeline ships with its build
    (silent over-filtering is the classic corpus bug; the funnel makes
    each gate's reduction rate a first-class, adjudicated number)."""
    from tcrd_spark.pipeline import dedup

    w0, g, c = _web_stages(spark, sf_dir)
    final = c.join(
        dedup.exact_dedup(c, "doc_id", "text").select(
            F.col("keep_id").alias("doc_id")
        ),
        "doc_id", "semi",
    )
    def cnt(no: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n_docs")).select(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            "n_docs",
        )

    return (
        cnt(0, "extracted", w0)
        .unionAll(cnt(1, "gopher", g))
        .unionAll(cnt(2, "ccnet", c))
        .unionAll(cnt(3, "exact_dedup", final))
    )


QUERIES = {
    "html_extract": q_html_extract,
    "web_pipeline": q_web_pipeline,
    "web_pipeline_funnel": q_web_pipeline_funnel,
}


# ------------------------------------------------------ DuckDB oracle

def _sql_decode(expr: str) -> str:
    for ent, ch in ENTITIES:
        e, c = ent.replace("'", "''"), ch.replace("'", "''")
        expr = f"replace({expr}, '{e}', '{c}')"
    return expr


def _sql_block_text(b: str) -> str:
    return (
        "trim(regexp_replace("
        + _sql_decode(f"regexp_replace({b}, '{TAG_RE}', ' ', 'g')")
        + ", '\\s+', ' ', 'g'))"
    )


def _sql_link_len(b: str) -> str:
    return (
        "coalesce(list_sum(list_transform("
        f"regexp_extract_all({b}, '{ANCHOR_TEXT_RE}', 1), "
        "x -> length(x))), 0)"
    )


def _oracle() -> str:
    page = (
        f"'{_PAGE_PREFIX}'"
        " || '<!-- header ' || lang || ' -->'"
        " || '<h1>Doc ' || doc_id::VARCHAR || '</h1>'"
        f" || '<p>' || substr(text, 1, {_SPLIT_AT}) || '</p>'"
        f" || '<p>' || substr(text, {_SPLIT_AT + 1})"
        " || ' &amp; more body text here</p>'"
        " || '<div>ok</div>'"
        " || '<p>Footer <a href=\"/t\">Terms</a>"
        " <a href=\"/p\">Privacy policy</a></p>'"
        " || '</body></html>'"
    )
    pre = f"regexp_replace({page}, '{SCRIPT_RE}', ' ', 'g')"
    pre = f"regexp_replace({pre}, '{STYLE_RE}', ' ', 'g')"
    pre = f"regexp_replace({pre}, '{COMMENT_RE}', ' ', 'g')"
    pre = f"regexp_replace({pre}, '{BLOCK_BREAK_RE}', e'\\n', 'g')"
    return f"""
        SELECT doc_id,
               array_to_string(
                 list_transform(
                   list_filter(
                     list_transform(
                       string_split({pre}, chr(10)),
                       b -> struct_pack(
                              t := {_sql_block_text('b')},
                              l := {_sql_link_len('b')})),
                     s -> len(regexp_extract_all(s.t, '\\S+'))
                            >= {MIN_WORDS}
                          AND s.l::DOUBLE
                            <= {MAX_LINK_DENSITY} * length(s.t)),
                   s -> s.t),
                 chr(10)) AS extracted
        FROM documents
    """


def _oracle_web() -> str:
    """Stage-nested composition: each stage's PROVEN oracle fragment
    runs over the previous stage's CTE (`documents` rebound), so a
    hash mismatch localizes to one stage — the corpus_v2 discipline."""
    import re

    from tcrd_spark.functions.hashing import sql_hash60
    from tcrd_spark.pipeline.ccnet import ORACLE as CCNET_ORACLE
    from tcrd_spark.pipeline.gopher import (
        _KEEP_EXPR,
        _STATS_CTES,
        _STATS_SELECT,
    )

    def on(fragment: str, table: str) -> str:
        return re.sub(r"\bdocuments\b", table, fragment)

    keep = _KEEP_EXPR.replace(" AND (n_stopwords >= 2)", "")
    assert "n_stopwords" not in keep, "stopword rule not excised"
    return f"""
        WITH ex AS MATERIALIZED ({_oracle()}),
        webx AS MATERIALIZED (
          SELECT doc_id, extracted AS text FROM ex
        ),
        gkeep AS MATERIALIZED (
          WITH {on(_STATS_CTES, "webx")},
          stats AS ({_STATS_SELECT})
          SELECT doc_id FROM stats WHERE {keep}
        ),
        gsurv AS MATERIALIZED (
          SELECT webx.* FROM webx JOIN gkeep USING (doc_id)
        ),
        cbuck AS MATERIALIZED (
          {on(CCNET_ORACLE["ccnet_buckets"], "gsurv")}
        ),
        csurv AS MATERIALIZED (
          SELECT gsurv.* FROM gsurv
          JOIN cbuck USING (doc_id)
          WHERE cbuck.bucket IN ('head', 'middle')
        ),
        ereps AS (
          SELECT min(doc_id) AS doc_id
          FROM csurv GROUP BY {sql_hash60('text')}
        )
        SELECT c.doc_id, length(c.text) AS n_chars
        FROM csurv c JOIN ereps USING (doc_id)
    """


def _oracle_funnel() -> str:
    """The same nested stage CTEs, reduced to per-stage counts."""
    web = _oracle_web()
    # reuse everything up to the final SELECT of the pipeline oracle
    head, _, _ = web.rpartition("SELECT c.doc_id")
    return f"""{head}
        SELECT 0 AS stage_no, 'extracted' AS stage,
               count(*) AS n_docs FROM webx
        UNION ALL
        SELECT 1, 'gopher', count(*) FROM gsurv
        UNION ALL
        SELECT 2, 'ccnet', count(*) FROM csurv
        UNION ALL
        SELECT 3, 'exact_dedup', count(*)
        FROM csurv c JOIN ereps USING (doc_id)
    """


ORACLE = {
    "html_extract": _oracle(),
    "web_pipeline": _oracle_web(),
    "web_pipeline_funnel": _oracle_funnel(),
}
