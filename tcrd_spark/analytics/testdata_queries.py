"""Driver-facing queries binding the derived analytics (TDL, tau,
consensus, HGram, TIN-X) to the TESTDATA star schema, with DuckDB
oracles implementing the identical formulas.

The TCRD domain mapping used here (documented so the synthetic inputs
read naturally): suppliers play proteins, parts play diseases, orders
play papers (pmids), lineitems play mentions, events play expression
measurements (user=protein, event_type=tissue, bucketed value=level).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.analytics import consensus as cns
from tcrd_spark.analytics import hgram, tau, tdl, tinx
from tcrd_spark.sources.lake import load_table

# ordinal level bucketing shared by consensus/tau queries.
# (a function: building a Column requires an active SparkContext, and
# this module must stay importable before the session exists)
def _level():
    return (
        F.when(F.col("value") < 25, 0)
        .when(F.col("value") < 50, 1)
        .when(F.col("value") < 75, 2)
        .otherwise(3)
    )
_SQL_LEVEL = (
    "CASE WHEN value < 25 THEN 0 WHEN value < 50 THEN 1 "
    "WHEN value < 75 THEN 2 ELSE 3 END"
)


# ------------------------------------------------------------------ TDL

_TDL_RAW = (
    "sum(CASE WHEN l_quantity >= 49 AND l_returnflag = 'R'"
    " THEN 1 ELSE 0 END) AS moa_raw",
    "sum(CASE WHEN l_quantity >= 49 THEN 1 ELSE 0 END) AS drug_raw",
    "sum(CASE WHEN l_discount >= 0.09D AND l_quantity <= 2"
    " THEN 1 ELSE 0 END) AS cmpd_raw",
    "sum(CASE WHEN l_linenumber = 1 AND l_quantity <= 10"
    " THEN 1 ELSE 0 END) AS pms_raw",
    "sum(CASE WHEN l_linestatus = 'F' AND l_quantity <= 5"
    " THEN 1 ELSE 0 END) AS rif_raw",
    "sum(CASE WHEN l_tax >= 0.07D THEN 1 ELSE 0 END) AS ab_raw",
    "count(*) AS n_li",
)
# activity presence gated by key modulo so every TDL branch appears
# at every SF; dark-point features are rates (scale-stable)
_TDL_FEATS = (
    "suppkey",
    "CASE WHEN suppkey % 11 = 0 THEN moa_raw ELSE 0 END AS moa_drug_ct",
    "CASE WHEN suppkey % 7 = 0 THEN drug_raw ELSE 0 END AS drug_ct",
    "CASE WHEN suppkey % 5 = 0 THEN cmpd_raw ELSE 0 END AS cmpd_ct",
    "round(pms_raw * 100.0D / n_li, 6) AS pms",
    "floor(rif_raw * 100 / n_li) AS rif_ct",
    "floor(ab_raw * 400 / n_li) AS ab_ct",
)


def _tdl_features(
    spark: SparkSession, sf_dir: str, ship_before: str | None = None
) -> DataFrame:
    """Per-supplier TDL features, built from SQL strings (one parse
    each, not a py4j round trip per Column node)."""
    from pyspark.sql.utils import get_lit_sql_str

    li = load_table(spark, sf_dir, "lineitem")
    if ship_before is not None:
        # "previous load" snapshot: only evidence shipped before the
        # cutoff existed at last refresh (incremental-cycle replay)
        li = li.where(f"l_shipdate < {get_lit_sql_str(ship_before)}")
    sup = load_table(spark, sf_dir, "supplier")
    feats = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        *[F.expr(e) for e in _TDL_RAW]
    ).selectExpr(*_TDL_FEATS)
    return feats.join(
        F.broadcast(sup.selectExpr("s_suppkey AS suppkey")), "suppkey"
    ).selectExpr("*", "suppkey % 3 = 0 AS efl_goa")


def q_tdl_refresh_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental refresh cycle's observable: classify under the
    PREVIOUS load's evidence (lineitems shipped before the cutoff —
    the data that existed at last refresh) and under the current load,
    then emit the TDL transition matrix — exactly what tdl_refresh
    logs per changed target and what the reference's build notes tally
    between releases (`loaders/load-TDLs.py:44-76`,
    `doc/README_v6.txt:430-436`). Suppliers with no prior evidence
    surface as 'Tnone' → X (the reference's null stored tdl before
    first classification)."""
    old = tdl.compute_tdl(
        _tdl_features(spark, sf_dir, ship_before="1998-01-01")
    ).select("suppkey", F.col("tdl").alias("old_tdl"))
    new = tdl.compute_tdl(_tdl_features(spark, sf_dir)).select(
        "suppkey", F.col("tdl").alias("new_tdl")
    )
    return (
        new.join(old, "suppkey", "left")
        .select(
            F.coalesce("old_tdl", F.lit("Tnone")).alias("old_tdl"),
            "new_tdl",
        )
        .groupBy("old_tdl", "new_tdl")
        .agg(F.count("*").alias("ct"))
    )


def q_tdl_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TDL rules over per-supplier synthetic annotation features
    (`loaders/load-TDLs.py:77-129` rule chain; golden v6 distribution
    613/1639/11792/6368, `doc/README_v6.txt:430-434`)."""
    out = tdl.compute_tdl(_tdl_features(spark, sf_dir))
    return out.select(
        "suppkey", "moa_drug_ct", "drug_ct", "cmpd_ct", "pms", "rif_ct",
        "ab_ct", "efl_goa", "tdl", "bump_flag",
    )


_SQL_TDL_FEATURES = """
    WITH raw AS (
      SELECT l_suppkey AS suppkey,
             sum(CASE WHEN l_quantity >= 49 AND l_returnflag = 'R'
                      THEN 1 ELSE 0 END) AS moa_raw,
             sum(CASE WHEN l_quantity >= 49 THEN 1 ELSE 0 END) AS drug_raw,
             sum(CASE WHEN l_discount >= 0.09 AND l_quantity <= 2
                      THEN 1 ELSE 0 END) AS cmpd_raw,
             sum(CASE WHEN l_linenumber = 1 AND l_quantity <= 10
                      THEN 1 ELSE 0 END) AS pms_raw,
             sum(CASE WHEN l_linestatus = 'F' AND l_quantity <= 5
                      THEN 1 ELSE 0 END) AS rif_raw,
             sum(CASE WHEN l_tax >= 0.07 THEN 1 ELSE 0 END) AS ab_raw,
             count(*) AS n_li
      FROM lineitem GROUP BY 1
    )
    SELECT suppkey,
           CAST(CASE WHEN suppkey % 11 = 0 THEN moa_raw ELSE 0 END AS BIGINT) AS moa_drug_ct,
           CAST(CASE WHEN suppkey % 7 = 0 THEN drug_raw ELSE 0 END AS BIGINT) AS drug_ct,
           CAST(CASE WHEN suppkey % 5 = 0 THEN cmpd_raw ELSE 0 END AS BIGINT) AS cmpd_ct,
           round(pms_raw * 100.0 / n_li, 6) AS pms,
           CAST(floor(rif_raw * 100 / n_li) AS BIGINT) AS rif_ct,
           CAST(floor(ab_raw * 400 / n_li) AS BIGINT) AS ab_ct
    FROM raw
"""


# ------------------------------------------------------------------ tau

def q_tau_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal tau (`R/hpa_tau.R:1-11`): user=entity, event_type=tissue,
    bucketed value=level."""
    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        F.col("user_id"), F.col("event_type"), _level().alias("lvl")
    )
    return tau.tau_ordinal(df, "user_id", "event_type", "lvl")


def q_tau_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous (decile) tau (`R/gtex_process.R:9-16`): brand=gene,
    container=tissue, median retailprice=expression. Emits BOTH
    variants side by side — ntile binning (`tau`) and cut2-style
    value-quantile binning (`tau_cut2`, SURVEY §7 hard part a, where
    ties share bins) — so one driver slot adjudicates both."""
    part = load_table(spark, sf_dir, "part")
    med = part.groupBy("p_brand", "p_type").agg(
        F.when(F.min("p_size") % 5 == 0, 0.0)
        .otherwise(F.median("p_retailprice"))
        .alias("med_price")
    )
    a = tau.tau_continuous(med, "p_brand", "p_type", "med_price")
    b = tau.tau_continuous_cut2(med, "p_brand", "p_type", "med_price").select(
        "p_brand", F.col("tau").alias("tau_cut2")
    )
    return a.join(b, "p_brand")


def q_qualitative_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """frank/.N average-rank qualitative buckets
    (`R/gtex_process.R:50,53,57`)."""
    part = load_table(spark, sf_dir, "part")
    med = part.groupBy("p_brand", "p_type").agg(
        F.round(F.median("p_retailprice"), 6).alias("med_price")
    )
    return tau.qualitative_levels(med, "p_brand", "p_type", "med_price")


# ------------------------------------------------------------ consensus

def q_consensus_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consensus level + confidence (`loaders/load-ConsensusExpressions
    .py:132-300`) per (user, event_type) over bucketed event values."""
    ev = load_table(spark, sf_dir, "events")
    # tissue = event_type × week → small per-group histograms (3-8
    # measurements) so the whole confidence ladder is exercised
    df = ev.select(
        "user_id",
        F.concat_ws("_", "event_type", F.weekofyear("ts")).alias("tissue"),
        _level().alias("lvl"),
    )
    return cns.consensus(df, ["user_id", "tissue"], "lvl")


# ---------------------------------------------------------------- hgram

def q_hgram_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HGram logistic CDF (`loaders/load-HGramCDFs.py:122-127` fallback
    formula) over per-(user, event_type) counts; sigma rounded to 8 dp
    in both engines to absorb stddev-algorithm float drift. The erf
    variant (gaussian_cdf_col) is pytest-verified — DuckDB has no erf."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("attr_count")
    )
    stats = counts.groupBy("event_type").agg(
        F.avg("attr_count").alias("mu"),
        F.round(F.stddev_pop("attr_count"), 8).alias("sigma"),
    )
    joined = counts.join(F.broadcast(stats), "event_type")
    return joined.select(
        "user_id",
        "event_type",
        "attr_count",
        F.round(
            hgram.logistic_cdf_col(
                F.col("attr_count"), F.col("mu"), F.col("sigma")
            ),
            6,
        ).alias("attr_cdf"),
    )


# ---------------------------------------------------------------- TIN-X

def _mentions(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    pm = li.select(F.col("l_orderkey").alias("pmid"), F.col("l_suppkey").alias("pid"))
    dm = li.select(F.col("l_orderkey").alias("pmid"), F.col("l_partkey").alias("did"))
    return pm, dm


def q_tinx_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty = 1/Σ(1/papers_protein_ct) (`python/TIN-X.py:207-221`)."""
    pm, _ = _mentions(spark, sf_dir)
    return tinx.novelty(pm, "pmid", "pid")


def q_tinx_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance(p,d) = Σ 1/(p_ct·d_ct) over shared papers
    (`python/TIN-X.py:241-258`); the reference's O(|P|·|D|) nested loop
    as a pmid equi-join. Joined with per-protein novelty
    (`python/TIN-X.py:207-221`) so one driver slot adjudicates both
    formulas. Output restricted to 10% of proteins to bound the
    compare set."""
    pm, dm = _mentions(spark, sf_dir)
    imp = tinx.importance(pm, dm, "pmid", "pid", "did").filter(
        F.col("pid") % 10 == 0
    )
    nov = tinx.novelty(pm, "pmid", "pid")
    return imp.join(nov, "pid")


def q_tinx_pmid_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(disease, protein) paper ranking: score ASC, pmid DESC,
    0-based (`python/TIN-X.py:263-299`)."""
    pm, dm = _mentions(spark, sf_dir)
    return tinx.pmid_rankings(pm, dm, "pmid", "pid", "did").filter(
        (F.col("pid") % 10 == 0) & (F.col("did") % 10 == 0)
    )


QUERIES = {
    "tdl_classification": q_tdl_classification,
    "tau_ordinal": q_tau_ordinal,
    "tau_continuous": q_tau_continuous,
    "qualitative_levels": q_qualitative_levels,
    "consensus_expression": q_consensus_expression,
    "hgram_cdf": q_hgram_cdf,
    "tinx_novelty": q_tinx_novelty,
    "tinx_importance": q_tinx_importance,
    "tinx_pmid_rankings": q_tinx_pmid_rankings,
    "tdl_refresh_delta": q_tdl_refresh_delta,
}

_TDL_CASE, _TDL_BUMP = tdl.sql_tdl_case()
_MODE_SQL, _CONF_SQL = cns.sql_consensus_exprs()

_FOLD_SUM = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_sort(list({x}))), "
    "(acc, v) -> acc + v)"
)

# previous-load snapshot: identical features over the pre-cutoff slice
_SQL_TDL_FEATURES_OLD = _SQL_TDL_FEATURES.replace(
    "FROM lineitem GROUP BY 1",
    "FROM lineitem WHERE l_shipdate < '1998-01-01' GROUP BY 1",
)

ORACLE = {
    "tdl_refresh_delta": f"""
        WITH feats_new AS ({{FN}}),
        fnew AS (
          SELECT feats_new.*, (suppkey % 3 = 0) AS efl_goa
          FROM feats_new JOIN supplier ON s_suppkey = suppkey
        ),
        cnew AS (SELECT suppkey, {{CASE}} AS new_tdl FROM fnew),
        feats_old AS ({{FO}}),
        fold AS (
          SELECT feats_old.*, (suppkey % 3 = 0) AS efl_goa
          FROM feats_old JOIN supplier ON s_suppkey = suppkey
        ),
        cold AS (SELECT suppkey, {{CASE}} AS old_tdl FROM fold)
        SELECT coalesce(old_tdl, 'Tnone') AS old_tdl, new_tdl,
               count(*) AS ct
        FROM cnew LEFT JOIN cold USING (suppkey)
        GROUP BY 1, 2
    """,
    "tdl_classification": f"""
        WITH feats AS ({_SQL_TDL_FEATURES}),
        f AS (
          SELECT feats.*, (suppkey % 3 = 0) AS efl_goa
          FROM feats JOIN supplier ON s_suppkey = suppkey
        )
        SELECT suppkey, moa_drug_ct, drug_ct, cmpd_ct, pms, rif_ct, ab_ct,
               efl_goa, {_TDL_CASE} AS tdl, {_TDL_BUMP} AS bump_flag
        FROM f
    """,
    "tau_ordinal": f"""
        WITH lv AS (
          SELECT user_id, event_type, {_SQL_LEVEL} AS lvl FROM events
        ),
        med AS (
          SELECT user_id, event_type, median(lvl) AS lv
          FROM lv GROUP BY 1, 2
        ),
        mx AS (
          SELECT *, max(lv) OVER (PARTITION BY user_id) AS m FROM med
        )
        SELECT user_id, count(*) AS n_tissues,
               round(sum(CASE WHEN m > 0 THEN 1 - lv / m END)
                     / (count(*) - 1), 6) AS tau
        FROM mx GROUP BY user_id
    """,
    "tau_continuous": """
        WITH med AS (
          SELECT p_brand, p_type,
                 CASE WHEN min(p_size) % 5 = 0 THEN 0.0
                      ELSE median(p_retailprice) END AS med_price
          FROM part GROUP BY 1, 2
        ),
        lg AS (
          SELECT p_brand, p_type,
                 CASE WHEN med_price > 0 THEN log10(med_price) END AS lm
          FROM med
        ),
        binned AS (
          SELECT p_brand,
                 ntile(10) OVER (PARTITION BY p_brand
                                 ORDER BY lm, p_type) AS bin
          FROM lg WHERE lm IS NOT NULL
          UNION ALL
          SELECT p_brand, 0 AS bin FROM lg WHERE lm IS NULL
        ),
        mx AS (
          SELECT *, max(bin) OVER (PARTITION BY p_brand) AS m FROM binned
        ),
        t1 AS (
          SELECT p_brand, count(*) AS n_tissues,
                 CASE WHEN max(m) = 0 THEN 0.0
                      ELSE round(sum(CASE WHEN m > 0
                                          THEN 1 - bin * 1.0 / m END)
                                 / (count(*) - 1), 6) END AS tau
          FROM mx GROUP BY p_brand
        ),
        edges AS (
          SELECT p_brand,
                 list_distinct(list_transform(
                   quantile_cont(lm, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                   e -> round(e, 9))) AS es
          FROM lg WHERE lm IS NOT NULL GROUP BY 1
        ),
        binned2 AS (
          SELECT lg.p_brand,
                 CASE WHEN lm IS NULL THEN 0
                      ELSE 1 + len(list_filter(es, e -> round(lm, 9) >= e))
                 END AS bin
          FROM lg LEFT JOIN edges ON lg.p_brand = edges.p_brand
        ),
        mx2 AS (
          SELECT *, max(bin) OVER (PARTITION BY p_brand) AS m FROM binned2
        ),
        t2 AS (
          SELECT p_brand,
                 CASE WHEN max(m) = 0 THEN 0.0
                      ELSE round(sum(CASE WHEN m > 0
                                          THEN 1 - bin * 1.0 / m END)
                                 / (count(*) - 1), 6) END AS tau_cut2
          FROM mx2 GROUP BY p_brand
        )
        SELECT t1.p_brand, t1.n_tissues, t1.tau, t2.tau_cut2
        FROM t1 JOIN t2 ON t1.p_brand = t2.p_brand
    """,
    "qualitative_levels": """
        WITH med AS (
          SELECT p_brand, p_type,
                 round(median(p_retailprice), 6) AS med_price
          FROM part GROUP BY 1, 2
        ),
        rk AS (
          SELECT p_brand, p_type, med_price,
                 count(*) OVER (PARTITION BY p_brand) AS n,
                 rank() OVER (PARTITION BY p_brand ORDER BY med_price)
                     AS min_rank,
                 count(*) OVER (PARTITION BY p_brand, med_price) AS tie_ct
          FROM med
        ),
        fr AS (
          SELECT p_brand, p_type, med_price,
                 CASE WHEN med_price = 0 THEN 0.0
                      ELSE (min_rank + (tie_ct - 1) / 2.0) / n END AS frac
          FROM rk
        )
        SELECT p_brand, p_type, med_price,
               round(frac, 6) AS frac_rank,
               CASE WHEN frac = 0 THEN 'Not detected'
                    WHEN frac < 0.25 THEN 'Low'
                    WHEN frac < 0.75 THEN 'Medium'
                    ELSE 'High' END AS level
        FROM fr
    """,
    "consensus_expression": f"""
        WITH lv AS (
          SELECT user_id,
                 event_type || '_' || CAST(weekofyear(ts) AS VARCHAR) AS tissue,
                 {_SQL_LEVEL} AS lvl
          FROM events
        ),
        h AS (
          SELECT user_id, tissue,
                 CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
                 CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
          FROM lv GROUP BY 1, 2
        )
        SELECT user_id, tissue, n0, n1, n2, n3,
               ({_MODE_SQL}) AS consensus_level,
               CASE ({_MODE_SQL}) WHEN 0 THEN 'Not Detected'
                    WHEN 1 THEN 'Low' WHEN 2 THEN 'Medium'
                    ELSE 'High' END AS consensus_name,
               ({_CONF_SQL}) AS confidence
        FROM h
    """,
    "hgram_cdf": """
        WITH counts AS (
          SELECT user_id, event_type, count(*) AS attr_count
          FROM events GROUP BY 1, 2
        ),
        stats AS (
          SELECT event_type, avg(attr_count) AS mu,
                 round(stddev_pop(attr_count), 8) AS sigma
          FROM counts GROUP BY 1
        )
        SELECT user_id, c.event_type, attr_count,
               round(1.0 / (1.0 + exp(-1.702 * ((attr_count - mu) / sigma))),
                     6) AS attr_cdf
        FROM counts c JOIN stats s ON c.event_type = s.event_type
    """,
    "tinx_novelty": f"""
        WITH pm AS (SELECT DISTINCT l_orderkey AS pmid, l_suppkey AS pid
                    FROM lineitem),
        cts AS (SELECT pmid, count(*) AS ct FROM pm GROUP BY 1)
        SELECT pid,
               round(1.0 / {_FOLD_SUM.format(x='1.0 / ct')}, 6) AS novelty
        FROM pm JOIN cts USING (pmid)
        GROUP BY pid
    """,
    "tinx_importance": f"""
        WITH pm AS (SELECT DISTINCT l_orderkey AS pmid, l_suppkey AS pid
                    FROM lineitem),
        dm AS (SELECT DISTINCT l_orderkey AS pmid, l_partkey AS did
               FROM lineitem),
        pct AS (SELECT pmid, count(*) AS pct FROM pm GROUP BY 1),
        dct AS (SELECT pmid, count(*) AS dct FROM dm GROUP BY 1),
        imp AS (
          SELECT pid, did,
                 round({_FOLD_SUM.format(x='1.0 / (pct * dct)')}, 6) AS score
          FROM pm
          JOIN dm USING (pmid)
          JOIN pct USING (pmid)
          JOIN dct USING (pmid)
          WHERE pid % 10 = 0
          GROUP BY pid, did
        ),
        nov AS (
          SELECT pid,
                 round(1.0 / {_FOLD_SUM.format(x='1.0 / pct')}, 6) AS novelty
          FROM pm JOIN pct USING (pmid)
          GROUP BY pid
        )
        SELECT pid, did, score, novelty
        FROM imp JOIN nov USING (pid)
    """,
    "tinx_pmid_rankings": """
        WITH pm AS (SELECT DISTINCT l_orderkey AS pmid, l_suppkey AS pid
                    FROM lineitem),
        dm AS (SELECT DISTINCT l_orderkey AS pmid, l_partkey AS did
               FROM lineitem),
        pct AS (SELECT pmid, count(*) AS pct FROM pm GROUP BY 1),
        dct AS (SELECT pmid, count(*) AS dct FROM dm GROUP BY 1),
        pairs AS (
          SELECT did, pid, pmid, pct * dct AS score
          FROM pm JOIN dm USING (pmid)
          JOIN pct USING (pmid) JOIN dct USING (pmid)
        )
        SELECT did, pid, pmid,
               row_number() OVER (PARTITION BY did, pid
                                  ORDER BY score ASC, pmid DESC) - 1 AS rank
        FROM pairs
        WHERE pid % 10 = 0 AND did % 10 = 0
    """,
}

# stitch the long shared fragments into the refresh-delta oracle
ORACLE["tdl_refresh_delta"] = (
    ORACLE["tdl_refresh_delta"]
    .replace("{FN}", _SQL_TDL_FEATURES)
    .replace("{FO}", _SQL_TDL_FEATURES_OLD)
    .replace("{CASE}", _TDL_CASE)
)
