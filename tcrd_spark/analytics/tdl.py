"""Target Development Level (TDL) classification.

Reference semantics (`loaders/load-TDLs.py:77-129`):
- any MoA drug activity           → Tclin
- else any drug activity          → Tchem
- else any cmpd activity          → Tchem
- else score "dark points": pubmed score < 5 (+1), generif count <= 3
  (+1), antibody count <= 50 (+1); >= 2 points → Tdark, UNLESS an
  'Experimental MF/BP Leaf Term GOA' exists → Tbio with bump_flag;
  else Tbio.

The reference runs an N+1 per-target fan-out (~20,412 get_target
calls, 10m06s, `doc/README_v6.txt:430-436`); here it is a single
CASE chain over a pre-joined feature DataFrame — no UDF, pure
whole-stage codegen, one pass at any scale.

Every frame is built from SQL text, one parse each, not a py4j round
trip per Column node. Spark's rule chain (`_TDL`, `_BUMP`) is its own
text, kept apart from `sql_tdl_case`, the DuckDB oracle's: a slip in
one then shows as a mismatch against the other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PMS_THRESHOLD = 5.0
GENERIF_THRESHOLD = 3
AB_THRESHOLD = 50

_DARK = (
    f"(CASE WHEN pms < {PMS_THRESHOLD}D THEN 1 ELSE 0 END"
    f" + CASE WHEN rif_ct <= {GENERIF_THRESHOLD} THEN 1 ELSE 0 END"
    f" + CASE WHEN ab_ct <= {AB_THRESHOLD} THEN 1 ELSE 0 END)"
)
_TDL = (
    "CASE WHEN moa_drug_ct > 0 THEN 'Tclin'"
    " WHEN drug_ct > 0 THEN 'Tchem'"
    " WHEN cmpd_ct > 0 THEN 'Tchem'"
    f" WHEN {_DARK} >= 2 AND NOT efl_goa THEN 'Tdark'"
    " ELSE 'Tbio' END"
)
_BUMP = (
    "moa_drug_ct = 0 AND drug_ct = 0 AND cmpd_ct = 0"
    f" AND {_DARK} >= 2 AND efl_goa"
)

_FEATURES = """
    WITH info AS (SELECT * FROM {info})
    SELECT target_id, protein_id,
           coalesce(moa_drug_ct, 0) AS moa_drug_ct,
           coalesce(drug_ct, 0) AS drug_ct,
           coalesce(cmpd_ct, 0) AS cmpd_ct,
           coalesce(pms, 0.0D) AS pms,
           coalesce(rif_ct, 0) AS rif_ct,
           coalesce(ab_ct, 0) AS ab_ct,
           coalesce(efl_goa, false) AS efl_goa
    FROM (SELECT target_id, protein_id FROM {ent})
    LEFT JOIN (
      SELECT target_id,
             sum(CASE WHEN has_moa THEN 1 ELSE 0 END) AS moa_drug_ct,
             count(*) AS drug_ct
      FROM {drug} GROUP BY target_id
    ) USING (target_id)
    LEFT JOIN (
      SELECT target_id, count(*) AS cmpd_ct FROM {cmpd} GROUP BY target_id
    ) USING (target_id)
    LEFT JOIN (
      SELECT protein_id, number_value AS pms FROM info
      WHERE itype = 'JensenLab PubMed Score'
    ) USING (protein_id)
    LEFT JOIN (
      SELECT protein_id, integer_value AS ab_ct FROM info
      WHERE itype = 'Ab Count'
    ) USING (protein_id)
    LEFT JOIN (
      SELECT DISTINCT protein_id, true AS efl_goa FROM info
      WHERE itype = 'Experimental MF/BP Leaf Term GOA'
    ) USING (protein_id)
    LEFT JOIN (
      SELECT protein_id, count(*) AS rif_ct FROM {generif}
      GROUP BY protein_id
    ) USING (protein_id)
"""


def features_from_lake(lake: dict[str, DataFrame]) -> DataFrame:
    """Build the TDL feature row per target from the domain tables —
    the whole-lake replacement for get_target4tdlcalc's N+1 fan-out:
    drug/cmpd counts from the activity tables, pms / ab_ct / efl_goa
    from the EAV tdl_info rows, rif_ct from generif.
    """
    from tcrd_spark.api.adaptor import entity

    return lake["target"].sparkSession.sql(
        _FEATURES, ent=entity(lake), drug=lake["drug_activity"],
        cmpd=lake["cmpd_activity"], info=lake["tdl_info"],
        generif=lake["generif"],
    )


def compute_tdl(features: DataFrame) -> DataFrame:
    """features columns: moa_drug_ct, drug_ct, cmpd_ct, pms, rif_ct,
    ab_ct, efl_goa (boolean). Adds (tdl, bump_flag)."""
    return features.withColumns(
        {"tdl": F.expr(_TDL), "bump_flag": F.expr(_BUMP)}
    )


def tdl_refresh(
    lake: dict[str, DataFrame],
    person: str = "tcrd_spark",
    application: str = "load-TDLs",
    app_version: str | None = None,
    asof: str | None = None,
) -> dict[str, DataFrame]:
    """The complete load-TDLs refresh cycle as one pipeline
    (`loaders/load-TDLs.py:44-76`): recompute every target's TDL from
    the lake, overwrite target.tdl (the reference's per-target
    upd_target loop), emit tdl_update_log audit rows for targets whose
    classification CHANGED, and produce the printed tally (per-TDL
    counts + bumped count) the build log records as its oracle
    (`doc/README_v6.txt:430-436`).

    Returns {'target', 'tdl_update_log', 'tdl_counts'}. Deterministic:
    log ids are surrogates of (target_id, old, new, refresh timestamp)
    — the timestamp keeps ids unique when a target repeats the same
    transition in a later cycle — and `asof` (the log timestamp) is
    injectable for reproducible runs.

    All three read one classification: the per-target frame is cached
    in the session store's "tdl_refresh" slot, so the counts, the log,
    and a commit of the target are one computation of the feature
    pipeline instead of one each. The slot rotates on every call: a
    lake rewritten in place at the same paths plans the same as
    before, so reusing a matching entry would serve the old data's
    classes. The previous call's frames recompute on demand."""
    from pyspark.sql.utils import get_lit_sql_str

    from tcrd_spark.schema.tables import surrogate_id_sql
    from tcrd_spark.session import memo

    new = compute_tdl(features_from_lake(lake)).selectExpr(
        "target_id AS nid", "tdl AS _new_tdl", "bump_flag"
    )
    new = memo(new.sparkSession, "tdl_refresh", object(), new.cache)
    # `new` derives FROM lake["target"] (entity join), so this is a
    # self-join — qualify explicitly to dodge ambiguous-column analysis.
    # Joined as DataFrames: the cache serves a frame's own plan, not
    # a SQL view over it
    joined = (
        lake["target"].alias("t")
        .join(new.alias("n"), F.expr("t.id = n.nid"), "left")
    )
    target = joined.selectExpr(*[
        "coalesce(n._new_tdl, t.tdl) AS tdl" if c == "tdl" else f"t.`{c}`"
        for c in lake["target"].columns
    ])
    # the refresh timestamp folds into the surrogate so a target
    # repeating the same transition across refresh cycles (A→B, B→A,
    # A→B) gets DISTINCT log ids in the append-only log
    stamp = (
        "date_format(current_timestamp(), 'yyyy-MM-dd HH:mm:ss')"
        if asof is None else get_lit_sql_str(asof)
    )
    version = "NULL" if app_version is None else get_lit_sql_str(app_version)
    log_rows = joined.where(
        "NOT (n._new_tdl <=> t.tdl) AND n._new_tdl IS NOT NULL"
    ).selectExpr(
        surrogate_id_sql(
            f"concat_ws('|', t.id, coalesce(t.tdl, ''), n._new_tdl, {stamp})"
        ) + " AS id",
        "t.id AS target_id", "t.tdl AS old_tdl", "n._new_tdl AS new_tdl",
        f"{get_lit_sql_str(person)} AS person", f"{stamp} AS datetime",
        "CAST(NULL AS STRING) AS explanation",
        f"{get_lit_sql_str(application)} AS application",
        f"CAST({version} AS STRING) AS app_version",
    )
    log = lake["tdl_update_log"].unionByName(
        log_rows, allowMissingColumns=True
    )
    counts = (
        new.groupBy(F.col("_new_tdl").alias("tdl"))
        .agg(
            F.expr("count(*) AS ct"),
            F.expr("sum(CASE WHEN bump_flag THEN 1 ELSE 0 END) AS bumped_ct"),
        )
        .orderBy("tdl")
    )
    return {"target": target, "tdl_update_log": log, "tdl_counts": counts}


def sql_tdl_case(
    moa="moa_drug_ct", drug="drug_ct", cmpd="cmpd_ct",
    pms="pms", rif="rif_ct", ab="ab_ct", efl="efl_goa",
) -> tuple[str, str]:
    """The identical rule chain as oracle SQL: returns the (tdl CASE
    expression, bump_flag boolean expression) pair."""
    pts = (
        f"(CASE WHEN {pms} < {PMS_THRESHOLD} THEN 1 ELSE 0 END"
        f" + CASE WHEN {rif} <= {GENERIF_THRESHOLD} THEN 1 ELSE 0 END"
        f" + CASE WHEN {ab} <= {AB_THRESHOLD} THEN 1 ELSE 0 END)"
    )
    tdl = (
        f"CASE WHEN {moa} > 0 THEN 'Tclin' "
        f"WHEN {drug} > 0 THEN 'Tchem' "
        f"WHEN {cmpd} > 0 THEN 'Tchem' "
        f"WHEN {pts} >= 2 AND NOT {efl} THEN 'Tdark' "
        f"ELSE 'Tbio' END"
    )
    bump = (
        f"({moa} = 0 AND {drug} = 0 AND {cmpd} = 0 AND {pts} >= 2 AND {efl})"
    )
    return tdl, bump
