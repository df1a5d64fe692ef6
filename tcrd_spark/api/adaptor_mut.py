"""DBAdaptor mutation surface: upd_* / del_* as pure transformations.

The reference mutates MySQL in place (`loaders/TCRD.py:2920-3345`,
`loaders/TCRDMP.py:3726-4153`); loaders call these constantly during
refresh cycles (e.g. `load-TDLs.py` upd_target per reclassified
target, `load-UniProt.py` del_* before re-annotating). A Spark lake is
immutable, so each method returns the NEW DataFrame (or dict of
DataFrames for cascades) — the caller overwrites the lake entry /
parquet table. Same observable semantics, one declarative plan per
mutation instead of row-at-a-time UPDATE/DELETE, and the write is one
atomic parquet overwrite per table.

At 100 TB, prefer expressing refresh cycles as full-pipeline rebuilds
of the affected table (these helpers compose into exactly that); the
per-id point forms exist for API parity and small fixups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcrd_spark.schema.tables import (
    DATA_TYPES,
    FAM_VALUES,
    QUAL_VALUES,
    TABLE_SCHEMAS,
    TDL_VALUES,
    validate_enum,
)

Lake = dict[str, DataFrame]


def _upd(df: DataFrame, row_id: int, col: str, val) -> DataFrame:
    dtype = dict(df.dtypes)[col]
    return df.withColumn(
        col,
        F.when(F.col("id") == row_id, F.lit(val).cast(dtype)).otherwise(
            F.col(col)
        ),
    )


def upd_target(lake: Lake, row_id: int, col: str, val) -> DataFrame:
    """UPDATE target SET col = val WHERE id (`loaders/TCRD.py:2920`)."""
    return _upd(lake["target"], row_id, col, val)


def upd_protein(lake: Lake, row_id: int, col: str, val) -> DataFrame:
    """UPDATE protein (`loaders/TCRD.py:2947`)."""
    return _upd(lake["protein"], row_id, col, val)


def upd_tdl_info(lake: Lake, row_id: int, col: str, val) -> DataFrame:
    """UPDATE tdl_info (`loaders/TCRD.py:2975`)."""
    return _upd(lake["tdl_info"], row_id, col, val)


def do_update(lake: Lake, init: dict) -> DataFrame:
    """Generic single-cell update {table, id, col, val}
    (`loaders/TCRD.py:3002-3034`)."""
    for k in ("table", "id", "col", "val"):
        if k not in init:
            raise ValueError(f"do_update: missing key {k!r}")
    return _upd(lake[init["table"]], init["id"], init["col"], init["val"])


def _del_by(
    df: DataFrame, key_col: str, key_val, type_col: str | None = None,
    type_val=None,
) -> DataFrame:
    cond = F.col(key_col) == key_val
    if type_col is not None and type_val is not None:
        cond = cond & (F.col(type_col) == type_val)
    return df.filter(~cond)


def del_protein_xrefs(
    lake: Lake, protein_id: int, xtype: str | None = None
) -> DataFrame:
    """DELETE FROM xref WHERE protein_id [AND xtype]
    (`loaders/TCRD.py:3036-3069`)."""
    return _del_by(lake["xref"], "protein_id", protein_id, "xtype", xtype)


def del_protein_tdl_infos(
    lake: Lake, protein_id: int, itype: str | None = None
) -> DataFrame:
    """`loaders/TCRD.py:3071-3104`."""
    return _del_by(lake["tdl_info"], "protein_id", protein_id, "itype", itype)


def del_protein_expressions(
    lake: Lake, protein_id: int, etype: str | None = None
) -> DataFrame:
    """`loaders/TCRD.py:3106-3139`."""
    return _del_by(lake["expression"], "protein_id", protein_id, "etype", etype)


def del_generifs(lake: Lake, protein_id: int) -> DataFrame:
    """`loaders/TCRD.py:3141-3169`."""
    return _del_by(lake["generif"], "protein_id", protein_id)


def del_goas(lake: Lake, protein_id: int) -> DataFrame:
    """`loaders/TCRD.py:3171-3199`."""
    return _del_by(lake["goa"], "protein_id", protein_id)


def del_target_tdl_infos(
    lake: Lake, target_id: int, itype: str | None = None
) -> DataFrame:
    """tdl_info rows attached to the TARGET side
    (`loaders/TCRD.py:3252-3285`)."""
    return _del_by(lake["tdl_info"], "target_id", target_id, "itype", itype)


def del_target_drug_activity(lake: Lake, target_id: int) -> DataFrame:
    """`loaders/TCRD.py:3287-3314`."""
    return _del_by(lake["drug_activity"], "target_id", target_id)


def del_target_cmpd_activity(lake: Lake, target_id: int) -> DataFrame:
    """`loaders/TCRD.py:3316-3345`."""
    return _del_by(lake["cmpd_activity"], "target_id", target_id)


# Core tables del_target must NOT sweep generically: it rewrites them
# explicitly (target / t2tc / protein), or they are not entity-child
# tables at all (dictionaries, ontologies, provenance).
_CASCADE_EXEMPT = frozenset(
    {"target", "protein", "t2tc", "dataset", "provenance"}
)


def del_target(lake: Lake, target_id: int) -> Lake:
    """Delete a target and ALL associated data — the FK cascade
    (`loaders/TCRD.py:3201-3250`: deletes target + its proteins; MySQL
    ON DELETE CASCADE sweeps the children, `SQL/create-TCRDv7.sql` FK
    clauses). Here the cascade is explicit and schema-driven: every
    lake table carrying a target_id / protein_id column loses the
    matching rows. Returns the complete new lake dict (unchanged
    tables pass through by reference)."""
    t2tc = lake["t2tc"]
    pids = t2tc.filter(F.col("target_id") == target_id).select("protein_id")
    out: Lake = dict(lake)
    out["target"] = lake["target"].filter(F.col("id") != target_id)
    # protein deletion cascades through EVERY t2tc row referencing the
    # protein (the reference's FK ON DELETE CASCADE), not only the
    # deleted target's bridge rows — a protein shared with another
    # target would otherwise leave that target a dangling bridge row
    out["t2tc"] = t2tc.filter(F.col("target_id") != target_id).join(
        pids, "protein_id", "left_anti"
    )
    out["protein"] = lake["protein"].join(
        pids.withColumnRenamed("protein_id", "id"), "id", "left_anti"
    )
    # Child-FK sweep driven by TWO sources kept in sync by
    # construction: (a) the generic column-name convention
    # (target_id / protein_id), and (b) quality/integrity.FK_EDGES —
    # the SAME edge list the FK audit uses — which adds the
    # non-standard FK columns MySQL's ON DELETE CASCADE also removes
    # (kegg_distance.pid1/pid2, kegg_nearest_tclin.tclin_id;
    # `SQL/create-TCRDv7.sql:1022-1023,1052-1053`). Sharing one edge
    # list means del_target followed by assert_clean can never
    # disagree about what counts as a child reference.
    from tcrd_spark.quality.integrity import FK_EDGES

    fk_cols: dict[str, set[tuple[str, str]]] = {}
    for name, df in lake.items():
        if name in _CASCADE_EXEMPT:
            continue
        cols = set(df.columns)
        if "target_id" in cols:
            fk_cols.setdefault(name, set()).add(("target_id", "target"))
        if "protein_id" in cols:
            fk_cols.setdefault(name, set()).add(("protein_id", "protein"))
    for child, fk, parent, _key in FK_EDGES:
        if child in _CASCADE_EXEMPT or child not in lake:
            continue
        if parent in ("target", "protein") and fk in lake[child].columns:
            fk_cols.setdefault(child, set()).add((fk, parent))
    for name, edges in fk_cols.items():
        new = lake[name]
        for fk, parent in sorted(edges):
            if parent == "target":
                new = new.filter(
                    F.col(fk).isNull() | (F.col(fk) != target_id)
                )
            else:
                new = new.join(
                    pids.withColumnRenamed("protein_id", fk),
                    fk,
                    "left_anti",
                )
        out[name] = new
    return out


# ------------------------------------------------- tdl_update_log

def get_tdl_update_log(lake: Lake, target_id: int) -> DataFrame:
    """SELECT * FROM tdl_update_log WHERE target_id — the per-target
    TDL history read inside get_target(include_annotations)
    (`loaders/TCRD.py:1874-1880`), ordered newest first."""
    return (
        lake["tdl_update_log"]
        .filter(F.col("target_id") == target_id)
        .orderBy(F.desc("datetime"))
    )


def ins_tdl_update_log(lake: Lake, rows: DataFrame) -> DataFrame:
    """Append TDL-change audit rows (`loaders/TCRD.py:756-784`); the
    row sink is a unionByName — one atomic write replaces per-row
    INSERT."""
    return lake["tdl_update_log"].unionByName(rows, allowMissingColumns=True)


# ------------------------------------------------- generic row sink

# enum-typed columns the reference's MySQL schema CHECKs at insert;
# ins_rows applies the same domains loader-side
_ENUM_COLS: dict[tuple[str, str], tuple[str, ...]] = {
    ("target", "tdl"): TDL_VALUES,
    ("target", "fam"): FAM_VALUES,
    ("expression", "qual_value"): QUAL_VALUES,
    ("info_type", "data_type"): DATA_TYPES,
    ("expression_type", "data_type"): DATA_TYPES,
    ("kegg_nearest_tclin", "direction"): ("upstream", "downstream"),
}


def ins_rows(lake: Lake, table: str, rows: DataFrame) -> DataFrame:
    """The entire ~60-method ins_* family as ONE set-based sink
    (`loaders/TCRD.py:136-1666`, `loaders/TCRDMP.py:135-2268`): each
    reference method is a per-row INSERT with required-parameter
    checks and MySQL enum enforcement; here the whole batch validates
    declaratively — required (non-nullable) schema columns must be
    present, enum columns must be in-domain (raises at action time) —
    and appends in one plan. Column set may be a subset of the schema
    (nullable columns fill with NULL), matching the reference's
    optional-param handling."""
    if table not in TABLE_SCHEMAS:
        raise ValueError(f"ins_rows: unknown table {table!r}")
    schema = TABLE_SCHEMAS[table]
    missing = [
        f.name
        for f in schema.fields
        if not f.nullable and f.name not in rows.columns
    ]
    if missing:
        raise ValueError(
            f"ins_rows({table}): required columns absent: {missing}"
        )
    unknown = [c for c in rows.columns if c not in {f.name for f in schema.fields}]
    if unknown:
        # MySQL would reject the INSERT; silently widening the lake
        # table is worse
        raise ValueError(f"ins_rows({table}): unknown columns: {unknown}")
    out = rows
    for (tbl, col), domain in _ENUM_COLS.items():
        if tbl == table and col in rows.columns:
            out = validate_enum(out, col, domain)
    return lake[table].unionByName(out, allowMissingColumns=True)


def _named_ins(table: str, ref: str):
    def ins(lake: Lake, rows: DataFrame) -> DataFrame:
        return ins_rows(lake, table, rows)

    ins.__name__ = f"ins_{table}"
    ins.__qualname__ = f"ins_{table}"
    ins.__doc__ = (
        f"Batch form of the reference's per-row ins_{table} "
        f"(`{ref}`): validates required columns + enum domains via "
        f"ins_rows and appends in one plan."
    )
    return ins


# The high-traffic ins_* methods (every loader calls several of these;
# `loaders/TCRD.py:136-1666` + TCRDMP additions), as named batch
# equivalents. The long tail of rarely-used singletons goes through
# ins_rows(table, rows) directly — same validation, no name needed.
ins_target = _named_ins("target", "loaders/TCRD.py:136")
ins_protein = _named_ins("protein", "loaders/TCRD.py:209")
ins_nhprotein = _named_ins("nhprotein", "loaders/TCRDMP.py:366")
ins_alias = _named_ins("alias", "loaders/TCRD.py:465")
ins_xref = _named_ins("xref", "loaders/TCRD.py:485")
ins_generif = _named_ins("generif", "loaders/TCRD.py:528")
ins_goa = _named_ins("goa", "loaders/TCRD.py:549")
ins_tdl_info = _named_ins("tdl_info", "loaders/TCRD.py:577")
ins_expression = _named_ins("expression", "loaders/TCRD.py:626")
ins_gtex = _named_ins("gtex", "loaders/TCRDMP.py:665")
ins_drug_activity = _named_ins("drug_activity", "loaders/TCRD.py:693")
ins_cmpd_activity = _named_ins("cmpd_activity", "loaders/TCRD.py:721")
ins_phenotype = _named_ins("phenotype", "loaders/TCRD.py:749")
ins_gwas = _named_ins("gwas", "loaders/TCRDMP.py:784")
ins_ppi = _named_ins("ppi", "loaders/TCRD.py:812")
ins_disease = _named_ins("disease", "loaders/TCRD.py:868")
ins_pathway = _named_ins("pathway", "loaders/TCRD.py:929")
ins_pubmed = _named_ins("pubmed", "loaders/TCRD.py:1298")
ins_protein2pubmed = _named_ins("protein2pubmed", "loaders/TCRD.py:1415")
ins_pmscore = _named_ins("pmscore", "loaders/TCRD.py:1272")
ins_kegg_distance = _named_ins("kegg_distance", "loaders/TCRD.py:1786")
ins_kegg_nearest_tclin = _named_ins(
    "kegg_nearest_tclin", "loaders/TCRD.py:1814"
)
ins_ortholog = _named_ins("ortholog", "loaders/TCRD.py:1879")
ins_clinvar = _named_ins("clinvar", "loaders/TCRDMP.py:2201")
ins_lincs = _named_ins("lincs", "loaders/TCRDMP.py:2078")
