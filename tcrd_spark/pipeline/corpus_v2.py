"""corpus_pipeline_v2 — the composed MODERN corpus build, one
adjudicated query (VERDICT r6 next-step #2): every quality operator
round 6 added, chained end-to-end the way a current LLM-pretraining
recipe actually runs them (the lifecycle analogue of the reference's
`python/tcrd2csv.py:45-270` export):

    1. substring EXCISION   duplicated >=8-token spans removed from
                            every document (pipeline/substring.py)
    2. Gopher gate          structural + repetition rules over the
                            excised text (pipeline/gopher.py). The
                            stopword rule is deliberately NOT in this
                            composition: the synthetic corpus carries
                            no natural-language stopword distribution,
                            so `n_stopwords >= 2` keeps 0 of 500 docs
                            (measured) — the full conjunction stays
                            available as gopher_filter / the
                            gopher_quality_filter query.
    3. CCNet gate           per-language perplexity tertiles over the
                            gate-2 survivors; keep head + middle
                            (pipeline/ccnet.py)
    4. near-dup CC          3-gram Jaccard >= 0.3 pairs -> connected
                            components; QUALITY-elected representative
                            (dedup_groups rep_by); plus exact-hash
                            reps for <3-token docs (pipeline/corpus.py,
                            dedup.py)
    5. SemDeDup             cosine >= 0.4 cluster-scoped groups over
                            the survivors' embeddings; keep the
                            farthest-from-centroid representative
                            (pipeline/semdedup.py)
    6. decontamination      5-gram overlap vs the benchmark set
                            (doc_id < 10, ORIGINAL text — benchmarks
                            are external artifacts) (pipeline/corpus.py)
    7. DSIR gate            hashed-bigram importance weights vs the
                            src0/src1 target corpus; keep docs whose
                            Gumbel-perturbed weight >= the survivor
                            median — sampling-without-replacement at a
                            fixed rate, threshold broadcast as one row
                            (pipeline/dsir.py)
    8. sequence pack        BPE-ish token counts packed into 4 shards
                            of 2048-token chunks (pipeline/corpus.py)

Output: (doc_id, shard, chunk, n_tok, chunk_off) — the final write
layout of the kept, packed corpus.

100 TB shape, stage by stage (exchange budget in SCALE.md): excision
shuffles 8-byte gram hashes only; Gopher stats are (doc, gram)
map-side-combinable aggs; the CCNet LM is train-once + broadcast with
one grouped-percentile edge agg; pair generation runs AFTER the
quality gates (the candidate universe is the gated survivor set, not
the raw corpus); SemDeDup pairs are cell-scoped block matmuls;
decontamination broadcasts the benchmark shingle set; the DSIR ratio
table is B=1024 rows broadcast and the threshold one row; packing is
one hash-partitioned window. Nothing all-pairs, nothing driver-side,
no global window.

Every stage reuses the SAME library function its standalone
adjudicated query runs, and the oracle below reuses (or mirrors
name-for-name) each stage's oracle fragment, so a hash mismatch
localizes to the stage that diverged.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.functions.hashing import sql_hash60
from tcrd_spark.operators.lineage import cut
from tcrd_spark.pipeline import corpus, dedup, gopher, text
from tcrd_spark.pipeline.ccnet import ccnet_buckets, lang_nll
from tcrd_spark.pipeline.dsir import (
    B as DSIR_B,
    _U_DEN,
    bucket_log_ratio,
    dsir_log_weights,
    gumbel_key,
)
from tcrd_spark.pipeline.dedup import EMB_DIM
from tcrd_spark.pipeline.semdedup import semantic_dedup_reps
from tcrd_spark.pipeline.similarity import panel
from tcrd_spark.pipeline.substring import excise_duplicate_spans
from tcrd_spark.sources.lake import load_table, split_for_scan

EXCISE_K, EXCISE_MIN_OCC = 8, 2
JACCARD_N, JACCARD_T = 3, 0.3
SEM_T = 0.4
DECON_N = 5
BENCH_MAX_ID = 10            # doc_id < 10 = the benchmark set
TARGET_SOURCES = ("src0", "src1")
GUMBEL_Q = 0.5               # keep the top half by perturbed weight
PACK_SHARDS, PACK_BUDGET = 4, 2048


def _gopher_keep(stats: DataFrame) -> DataFrame:
    """doc_ids passing the structural + repetition Gopher rules (the
    composition's gate 2; stopword rule excluded — see module doc)."""
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
    return stats.filter(keep).select("doc_id")


def _docs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The excised corpus (doc_id, text=clean, lang, source) —
    memoized per (session, sf_dir): three invocations (bench reps, the
    sweep) and five stages read it."""
    # lineage-cut the memoized frame: .cache() alone does NOT bound
    # Catalyst analysis (substitution happens after it), so without the
    # cut every downstream stage re-analyzes the whole excision tree —
    # measured 15.4s of the warm 18.4s run was analysis, not execution
    def build():
        docs = split_for_scan(spark, load_table(spark, sf_dir, "documents"))
        ex = excise_duplicate_spans(
            docs, "doc_id", "text", k=EXCISE_K,
            min_occurrences=EXCISE_MIN_OCC,
        )
        return docs.select("doc_id", "lang", "source").join(
            ex.select("doc_id", F.col("clean_text").alias("text")),
            "doc_id",
        )

    return cut(build, "v2-docs2", sf_dir)


def corpus_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stage boundaries are RDD lineage CUTS, not mere caches: the
    # excision/gopher/shingle stages stack interpreted higher-order
    # lambdas, and the analyzer re-walks the whole composed tree on
    # every downstream action (cache substitution happens AFTER
    # analysis, so .cache() does not bound it) — uncut, the stage-4
    # pair join alone stalled for minutes at sf0.001; cut, it runs in
    # ~2s. Each cut frame is gate-survivor-sized (hundreds of rows
    # here, corpus/n at scale). At 100 TB the same boundary would be a
    # persisted table.
    d2 = _docs2(spark, sf_dir)

    # 2. Gopher structural/repetition gate over the excised text.
    # NO cut here since r12's row-local gopher_stats: the gate is one
    # shuffle-free projection + semi-join over the d2 cut, so its
    # analysis is shallow and the cut's materialization wave cost more
    # than it saved (interleaved min-of-4, outputs identical:
    # with-cut 11.4s vs without 10.4s; dropping the d cut too REGRESSED
    # to 12.1s — d still fans out to three semdedup consumers)
    b = d2.join(
        _gopher_keep(gopher.gopher_stats(d2, "doc_id", "text")),
        "doc_id", "semi",
    )

    # 3. CCNet perplexity buckets over the gate-2 survivors (LM is
    # trained on the survivors — self-contained, like the standalone
    # query trains on its corpus). labeled is memoized: the edge pass
    # and the label pass both read the full LM lineage.
    labeled = cut(
        # cut for the same reason as _docs2: the LM train+score tree is
        # re-analyzed by both the edge pass and the label pass otherwise
        lambda: lang_nll(b, "doc_id", "text"), "v2-labeled", sf_dir,
    )
    buckets = ccnet_buckets(b, "doc_id", "text", _labeled=labeled)
    c = cut(b.join(
        buckets.filter(F.col("bucket").isin("head", "middle"))
        .select("doc_id"),
        "doc_id", "semi",
    ), "v2-c")

    # 4. near-dup CC with quality-elected reps + exact-hash reps
    pairs = dedup.ngram_jaccard_pairs(
        c, "doc_id", "text", n=JACCARD_N, threshold=JACCARD_T
    )
    scored = c.select(
        "doc_id", text.quality_score(F.col("text")).alias("quality")
    )
    # reps-only election (r12): the gate consumes the rep SET — the
    # full dedup_groups frame's size agg + join-backs drop out
    cc_reps = corpus.dedup_group_reps(
        scored, pairs, "doc_id", rep_by="quality"
    )
    exact_reps = dedup.exact_dedup(c, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    d = cut(
        c.join(cc_reps, "doc_id", "semi")
        .join(exact_reps, "doc_id", "semi"),
        "v2-d",
    )

    # 5. SemDeDup over the survivors' embeddings (first-8 global
    # centroid contract; assignment shared with the standalone
    # semantic_dedup queries via the same session memo)
    from tcrd_spark.pipeline.semdedup import (
        _assigned_cached,
        _assigned_count_cached,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    keep_vec = d.select(F.col("doc_id").alias("c_id"))
    assigned = _assigned_cached(spark, sf_dir).join(keep_vec, "c_id", "semi")
    corpus_vec = emb.join(
        keep_vec, emb["vec_id"] == keep_vec["c_id"], "semi"
    ).select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
    _, _, cents = panel(spark, sf_dir)
    sem_reps = semantic_dedup_reps(
        corpus_vec, cents, EMB_DIM, threshold=SEM_T, _assigned=assigned,
        # adaptive pair blocks sized from the FULL corpus count (a
        # memoized upper bound on the gated survivor count — block
        # memory only shrinks when n overestimates): the survivors
        # here are ~10² docs, and the fixed 16-block grid spent
        # ~5s/rep launching 136 block-pair Python tasks per cell
        # for matmuls of a few rows
        n_rows=_assigned_count_cached(spark, sf_dir),
    ).select(F.col("c_id").alias("doc_id"))
    e = d.join(sem_reps, "doc_id", "semi")

    # 6. benchmark decontamination: clean corpus text vs the RAW
    # benchmark docs (benchmarks are external — never excised).
    # NO split guard here (r12, measured): the DSIR target gram pass is
    # this scan's only heavy consumer and the guard's full-text
    # repartition doubled that stage (0.94 → 1.87s interleaved min-of-5)
    raw = load_table(spark, sf_dir, "documents")
    corpus_side = e.filter(F.col("doc_id") >= BENCH_MAX_ID)
    decon_keep = (
        corpus.decontaminate(
            corpus_side,
            raw.filter(F.col("doc_id") < BENCH_MAX_ID),
            "doc_id", "text", n=DECON_N,
        )
        .filter(F.col("contaminated") == 0)
        .select("doc_id")
    )
    f = cut(corpus_side.join(decon_keep, "doc_id", "semi"), "v2-f")

    # 7. DSIR gate: importance ratio trained target-vs-survivors,
    # Gumbel-perturbed weights, keep >= the survivor median (one-row
    # broadcast threshold — no global window, no LIMIT)
    target = raw.filter(F.col("source").isin(*TARGET_SOURCES))
    ratio = bucket_log_ratio(target, f, "doc_id", "text")
    weights = dsir_log_weights(f, ratio, "doc_id", "text")
    gums = weights.select(
        "doc_id",
        F.round(gumbel_key("doc_id", F.col("log_w")), 6).alias("gk"),
    )
    thr = gums.agg(
        F.round(F.percentile(F.col("gk"), F.lit(GUMBEL_Q)), 6).alias("thr")
    )
    g = (
        gums.crossJoin(F.broadcast(thr))
        .filter(F.col("gk") >= F.col("thr"))
        .select("doc_id")
    )

    # 8. sequence pack: BPE-ish token counts of the KEPT clean text
    toks = d2.join(g, "doc_id", "semi").select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(text.BPE_TOKEN_RE), 0)
        ).cast("long").alias("n_tok"),
    )
    return corpus.sequence_pack(
        toks, "doc_id", "n_tok", PACK_SHARDS, PACK_BUDGET
    )


# ------------------------------------------------- registered query

def q_corpus_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_pipeline_v2(spark, sf_dir)


QUERIES = {"corpus_pipeline_v2": q_corpus_pipeline_v2}


# ------------------------------------------------------ DuckDB oracle
#
# Each stage nests its standalone query's oracle fragment in a locally
# scoped WITH (no CTE-name collisions) with `documents` rebound to the
# stage's input CTE, so a mismatch localizes to one stage.

def _on(fragment: str, table: str) -> str:
    """Rebind a fragment's `documents` references to another relation."""
    return re.sub(r"\bdocuments\b", table, fragment)


def _oracle() -> str:
    from tcrd_spark.pipeline.ccnet import ORACLE as CCNET_ORACLE
    from tcrd_spark.pipeline.corpus_queries import (
        _QUALITY,
        _SHINGLE5,
    )
    from tcrd_spark.pipeline.dsir import _TOKS as DSIR_TOKS
    from tcrd_spark.pipeline.gopher import (
        _KEEP_EXPR as GOPHER_KEEP_FULL,
        _STATS_CTES,
        _STATS_SELECT,
    )
    from tcrd_spark.pipeline.dedup import oracle_dot
    from tcrd_spark.pipeline.substring import ORACLE as SUB_ORACLE
    from tcrd_spark.pipeline.testdata_queries import _JACCARD_PAIRS

    # gate 2 = the full Gopher conjunction minus the stopword rule
    keep_v2 = GOPHER_KEEP_FULL.replace(
        " AND (n_stopwords >= 2)", ""
    )
    assert "n_stopwords" not in keep_v2, "stopword rule not excised"

    hid = sql_hash60("doc_id::VARCHAR")
    dsir_gram = f"""
      SELECT doc_id, unnest(list_concat(
          ws, list_transform(range(1, len(ws)),
                             i -> ws[i] || ' ' || ws[i + 1]))) AS gram
      FROM (SELECT doc_id, {DSIR_TOKS} AS ws FROM __T__)
    """
    bucket = f"CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) % {DSIR_B}"

    return f"""
    WITH RECURSIVE
    d2x AS MATERIALIZED ({SUB_ORACLE["substring_excise"]}),
    d2 AS MATERIALIZED (
      SELECT d.doc_id, x.clean_text AS text, d.lang, d.source
      FROM documents d JOIN d2x x USING (doc_id)
    ),
    gkeep AS MATERIALIZED (
      WITH {_on(_STATS_CTES, "d2")},
      stats AS ({_STATS_SELECT})
      SELECT doc_id FROM stats WHERE {keep_v2}
    ),
    bsurv AS MATERIALIZED (
      SELECT d2.* FROM d2 JOIN gkeep USING (doc_id)
    ),
    cbuck AS MATERIALIZED ({_on(CCNET_ORACLE["ccnet_buckets"], "bsurv")}),
    csurv AS MATERIALIZED (
      SELECT d2.* FROM d2
      JOIN cbuck USING (doc_id)
      WHERE cbuck.bucket IN ('head', 'middle')
    ),
    pairs2 AS MATERIALIZED (
      SELECT id_a, id_b FROM ({_on(_JACCARD_PAIRS, "csurv")})
      WHERE jaccard >= {JACCARD_T}
    ),
    edges2 AS (
      SELECT id_a AS u, id_b AS v FROM pairs2
      UNION ALL SELECT id_b, id_a FROM pairs2
    ),
    walk2(node, lbl) AS (
      SELECT doc_id, doc_id FROM csurv
      UNION
      SELECT e.v, w.lbl FROM walk2 w JOIN edges2 e ON e.u = w.node
    ),
    labels2 AS MATERIALIZED (
      SELECT node AS doc_id, min(lbl) AS group_id FROM walk2 GROUP BY 1
    ),
    q2 AS MATERIALIZED ({_on(_QUALITY, "csurv")}),
    ccreps AS (
      SELECT doc_id FROM (
        SELECT l.doc_id,
               row_number() OVER (PARTITION BY l.group_id
                                  ORDER BY q2.quality DESC,
                                           l.doc_id ASC) AS rn
        FROM labels2 l JOIN q2 USING (doc_id)
      ) WHERE rn = 1
    ),
    exreps AS (
      SELECT min(doc_id) AS doc_id FROM csurv GROUP BY {sql_hash60("text")}
    ),
    dsurv AS MATERIALIZED (
      SELECT csurv.* FROM csurv
      JOIN ccreps USING (doc_id)
      JOIN exreps USING (doc_id)
    ),
    se AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sc AS MATERIALIZED (
      SELECT se.vec_id AS c_id, se.v, sqrt({oracle_dot("se.v", "se.v")}) AS nrm
      FROM se JOIN dsurv ON se.vec_id = dsurv.doc_id
    ),
    scent AS (
      SELECT vec_id AS cell_id, v, sqrt({oracle_dot("v", "v")}) AS nrm
      FROM se WHERE vec_id < 8
    ),
    san AS MATERIALIZED (
      SELECT c_id, cell_id, v, nrm, cdist FROM (
        SELECT sc.c_id, scent.cell_id, sc.v, sc.nrm,
               round(1.0 - {oracle_dot("sc.v", "scent.v")}
                     / (sc.nrm * scent.nrm), 6) AS cdist,
               row_number() OVER (
                 PARTITION BY sc.c_id
                 ORDER BY round({oracle_dot("sc.v", "scent.v")}
                                / (sc.nrm * scent.nrm), 6) DESC,
                          scent.cell_id ASC) AS rn
        FROM sc CROSS JOIN scent
      ) WHERE rn = 1
    ),
    spairs AS MATERIALIZED (
      SELECT a.c_id AS id_a, b.c_id AS id_b
      FROM san a JOIN san b
        ON a.cell_id = b.cell_id AND a.c_id < b.c_id
      WHERE round({oracle_dot("a.v", "b.v")} / (a.nrm * b.nrm), 6) >= {SEM_T}
    ),
    sedges AS (
      SELECT id_a AS u, id_b AS v FROM spairs
      UNION ALL SELECT id_b, id_a FROM spairs
    ),
    swalk(node, lbl) AS (
      SELECT c_id, c_id FROM sc
      UNION
      SELECT ed.v, w.lbl FROM swalk w JOIN sedges ed ON ed.u = w.node
    ),
    slabels AS MATERIALIZED (
      SELECT node AS c_id, min(lbl) AS group_id FROM swalk GROUP BY 1
    ),
    semreps AS (
      SELECT c_id AS doc_id FROM (
        SELECT l.c_id,
               row_number() OVER (PARTITION BY l.group_id
                                  ORDER BY a.cdist DESC, l.c_id ASC) AS rn
        FROM slabels l JOIN san a USING (c_id)
      ) WHERE rn = 1
    ),
    esurv AS MATERIALIZED (
      SELECT dsurv.* FROM dsurv JOIN semreps USING (doc_id)
    ),
    bench5 AS (
      SELECT DISTINCT unnest(hs) AS g FROM ({_SHINGLE5})
      WHERE doc_id < {BENCH_MAX_ID}
    ),
    corp5 AS (
      SELECT doc_id, unnest(hs) AS g FROM ({_on(_SHINGLE5, "esurv")})
      WHERE doc_id >= {BENCH_MAX_ID}
    ),
    dirty2 AS (SELECT DISTINCT doc_id FROM corp5 JOIN bench5 USING (g)),
    fsurv AS MATERIALIZED (
      SELECT esurv.* FROM esurv
      WHERE doc_id >= {BENCH_MAX_ID}
        AND doc_id NOT IN (SELECT doc_id FROM dirty2)
    ),
    wts AS MATERIALIZED (
      WITH gb AS (
        SELECT doc_id, {bucket} AS bucket FROM ({_on(dsir_gram, "__T__")
            .replace("__T__", "fsurv")})
      ),
      gbt AS (
        SELECT doc_id, {bucket} AS bucket FROM (
          {dsir_gram.replace("__T__",
              f"(SELECT doc_id, text FROM documents "
              f"WHERE source IN {TARGET_SOURCES})")}
        )
      ),
      tc AS (SELECT bucket, count(*) AS ct FROM gbt GROUP BY 1),
      rc AS (SELECT bucket, count(*) AS cr FROM gb GROUP BY 1),
      tot AS (SELECT (SELECT sum(ct) FROM tc) AS t_total,
                     (SELECT sum(cr) FROM rc) AS r_total),
      ratio AS (
        SELECT b.range AS bucket,
               ln((coalesce(tc.ct, 0) + 0.5) / (tot.t_total + 0.5 * {DSIR_B}))
               - ln((coalesce(rc.cr, 0) + 0.5)
                    / (tot.r_total + 0.5 * {DSIR_B})) AS log_ratio
        FROM range({DSIR_B}) b
        LEFT JOIN tc ON b.range = tc.bucket
        LEFT JOIN rc ON b.range = rc.bucket
        CROSS JOIN tot
      )
      SELECT gb.doc_id, round(sum(ratio.log_ratio), 6) AS log_w
      FROM gb JOIN ratio USING (bucket)
      GROUP BY 1
    ),
    gums AS MATERIALIZED (
      SELECT doc_id,
             round(log_w + -ln(-ln(
                 (CAST(concat('0x', substr(md5('dsir|' ||
                      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  + 1) / {_U_DEN!r})), 6) AS gk
      FROM wts
    ),
    gthr AS (SELECT round(quantile_cont(gk, {GUMBEL_Q}), 6) AS thr FROM gums),
    gsurv AS (SELECT doc_id FROM gums CROSS JOIN gthr WHERE gk >= thr),
    ptoks AS (
      SELECT d2.doc_id,
             CAST(len(regexp_extract_all(d2.text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tok,
             {hid} AS h
      FROM d2 JOIN gsurv USING (doc_id)
    ),
    packed AS (
      SELECT doc_id,
             CAST(h % {PACK_SHARDS} AS INTEGER) AS shard,
             n_tok,
             sum(n_tok) OVER (PARTITION BY h % {PACK_SHARDS}
                              ORDER BY h, doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
      FROM ptoks
    )
    SELECT doc_id, shard,
           CAST(floor((cum - n_tok) * 1.0 / {PACK_BUDGET}) AS BIGINT)
             AS chunk,
           n_tok,
           CAST(cum - n_tok AS BIGINT) AS chunk_off
    FROM packed
    """


ORACLE = {"corpus_pipeline_v2": _oracle()}
