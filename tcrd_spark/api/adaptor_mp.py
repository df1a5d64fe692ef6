"""The TCRDMP DBAdaptor read surface (loaders/TCRDMP.py), Spark-first.

TCRDMP.py adds ~60 getters over TCRD.py — mostly thin per-table SQL
(`SELECT * FROM x WHERE ...`) plus a few per-row lookup helpers the
loaders call in N+1 loops (get_uberon_id per expression row). Here
each getter is the same filter expressed on the lake DataFrame, and
every per-row lookup ALSO ships a set-based variant (one broadcast
join for the whole stream) — the form a 100 TB load actually uses.

All getters take the `lake` dict like `api.adaptor` and return
DataFrames; point lookups return the filtered frame rather than a
fetched row so callers can compose further without a collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcrd_spark.api.adaptor import _attached_targets


# ------------------------------------------------------------- expression

def get_expressions(
    lake: dict[str, DataFrame], etype: str | None = None,
    oid_flag: bool = False,
) -> DataFrame:
    """`TCRDMP.py:2333-2353` — expressions, optionally one etype and/or
    only rows carrying an ontology id."""
    df = lake["expression"]
    if etype:
        df = df.filter(F.col("etype") == etype)
    if oid_flag:
        df = df.filter(F.col("oid").isNotNull())
    return df


def get_expression_count(
    lake: dict[str, DataFrame], etype: str | None = None,
    oid_flag: bool = False,
) -> int:
    """`TCRDMP.py:2312-2331`."""
    return get_expressions(lake, etype, oid_flag).count()


def get_tissues(
    lake: dict[str, DataFrame], etype: str | None = None
) -> DataFrame:
    """`TCRDMP.py:3407-3436` — distinct tissues, optionally per etype."""
    df = lake["expression"]
    if etype:
        df = df.filter(F.col("etype") == etype)
    return df.select("tissue").distinct()


# ----------------------------------------------------------------- uberon

def get_uberon_id(
    lake: dict[str, DataFrame], oid: str | None = None,
    name: str | None = None,
) -> DataFrame:
    """`TCRDMP.py:2501-2520` — uid by xref oid ('DB:VALUE') or by
    case-insensitive name. Returns a (uid) frame (empty = not found)."""
    if oid is not None:
        db, val = oid.split(":", 1)
        return (
            lake["uberon_xref"]
            .filter((F.col("db") == db) & (F.col("value") == val))
            .select("uid")
        )
    if name is not None:
        return (
            lake["uberon"]
            .filter(F.lower(F.col("name")) == name.lower())
            .select("uid")
        )
    raise ValueError("get_uberon_id needs oid= or name=")


def resolve_uberon_ids(
    lake: dict[str, DataFrame],
    df: DataFrame,
    oid_col: str | None = None,
    name_col: str | None = None,
) -> DataFrame:
    """Set-based get_uberon_id: one broadcast join resolves EVERY row's
    tissue ontology id at once — the loaders' per-expression-row
    `get_uberon_id` loop (e.g. load-GTEx.py) collapses into one pass.
    oid wins over name like the reference's elif chain."""
    out = df
    if oid_col is not None:
        x = F.broadcast(
            lake["uberon_xref"].select(
                F.concat_ws(":", "db", "value").alias("_oid"),
                F.col("uid").alias("uid_by_oid"),
            )
        )
        out = out.join(x, out[oid_col] == x["_oid"], "left").drop("_oid")
    if name_col is not None:
        u = F.broadcast(
            lake["uberon"].select(
                F.lower(F.col("name")).alias("_uname"),
                F.col("uid").alias("uid_by_name"),
            )
        )
        out = out.join(
            u, F.lower(out[name_col]) == u["_uname"], "left"
        ).drop("_uname")
    by_oid = F.col("uid_by_oid") if oid_col is not None else F.lit(None)
    by_name = F.col("uid_by_name") if name_col is not None else F.lit(None)
    out = out.withColumn("uid", F.coalesce(by_oid, by_name))
    for c in ("uid_by_oid", "uid_by_name"):
        if c in out.columns:
            out = out.drop(c)
    return out


# -------------------------------------------------------------- nhprotein

def get_nhproteins(
    lake: dict[str, DataFrame], species: str | None = None
) -> DataFrame:
    """`TCRDMP.py:3100-3118`."""
    df = lake["nhprotein"]
    if species:
        df = df.filter(F.col("species") == species)
    return df


def find_nhproteins(
    lake: dict[str, DataFrame], species: str | None = None, **criteria
) -> DataFrame:
    """`TCRDMP.py:3120-3164` — sym/name/uniprot/geneid equality with an
    optional species conjunct."""
    allowed = {"sym", "name", "uniprot", "geneid"}
    df = lake["nhprotein"]
    if not criteria or not set(criteria) <= allowed:
        raise KeyError(f"find_nhproteins keys must be in {sorted(allowed)}")
    for k, v in criteria.items():
        df = df.filter(F.col(k) == v)
    if species:
        df = df.filter(F.col("species") == species)
    return df


# ------------------------------------------------- per-protein annotations

def get_gtex(lake: dict[str, DataFrame], protein_id: int | None = None) -> DataFrame:
    """gtex rows, optionally one protein — the read twin of ins_gtex
    (`TCRDMP.py:665-687`)."""
    df = lake["gtex"]
    if protein_id is not None:
        df = df.filter(F.col("protein_id") == protein_id)
    return df


def get_gwases(lake: dict[str, DataFrame], protein_id: int | None = None) -> DataFrame:
    """gwas rows, optionally one protein (ins_gwas twin,
    `TCRDMP.py:689-711`)."""
    df = lake["gwas"]
    if protein_id is not None:
        df = df.filter(F.col("protein_id") == protein_id)
    return df


def get_clinvars(
    lake: dict[str, DataFrame], protein_id: int | None = None
) -> DataFrame:
    """clinvar rows joined to their phenotype dimension (ins_clinvar
    twin, `TCRDMP.py:713-737`): one broadcast join replaces the
    per-row clinvar_phenotype lookup."""
    cv = lake["clinvar"]
    if protein_id is not None:
        cv = cv.filter(F.col("protein_id") == protein_id)
    ph = F.broadcast(
        lake["clinvar_phenotype"].select(
            F.col("id").alias("clinvar_phenotype_id"),
            F.col("name").alias("phenotype_name"),
        )
    )
    return cv.join(ph, "clinvar_phenotype_id", "left")


def get_generifs(lake: dict[str, DataFrame]) -> DataFrame:
    """`TCRDMP.py:2484-2490`."""
    return lake["generif"]


def get_pubmed(lake: dict[str, DataFrame], pmid: int) -> DataFrame:
    """`TCRDMP.py:2492-2499`."""
    return lake["pubmed"].filter(F.col("id") == pmid)


def get_pmids(lake: dict[str, DataFrame]) -> DataFrame:
    """`TCRDMP.py:2304-2310` — distinct pubmed ids in the lake."""
    return lake["pubmed"].select(F.col("id").alias("pmid")).distinct()


def get_cmpd_activities(
    lake: dict[str, DataFrame], catype: str | None = None
) -> DataFrame:
    """`TCRDMP.py:2457-2466`."""
    df = lake["cmpd_activity"]
    if catype:
        df = df.filter(F.col("catype") == catype)
    return df


def get_drug_activities(lake: dict[str, DataFrame]) -> DataFrame:
    """`TCRDMP.py:2468-2474`."""
    return lake["drug_activity"]


# --------------------------------------------------- pathway / disease / ph

def get_pathways(
    lake: dict[str, DataFrame], pwtype: str | None = None
) -> DataFrame:
    """`TCRDMP.py:3438-3464`."""
    df = lake["pathway"]
    if pwtype:
        df = df.filter(F.col("pwtype") == pwtype)
    return df


def get_pathway_targets(
    lake: dict[str, DataFrame], pwtype: str, name: str
) -> DataFrame:
    """`TCRDMP.py:3466-3489` — target_ids on one named pathway."""
    return _attached_targets(lake, lake["pathway"].filter(
        (F.col("pwtype") == pwtype) & (F.col("name") == name)
    ))


def get_diseases(
    lake: dict[str, DataFrame], dtype: str | None = None
) -> DataFrame:
    """`TCRDMP.py:3491-3517`."""
    df = lake["disease"]
    if dtype:
        df = df.filter(F.col("dtype") == dtype)
    return df


def get_disease_targets(lake: dict[str, DataFrame], did: str) -> DataFrame:
    """`TCRDMP.py:3519-3542` — target_ids associated with one disease
    id, through either attachment branch."""
    return _attached_targets(
        lake, lake["disease"].filter(F.col("did") == did)
    )


def get_phenotypes(
    lake: dict[str, DataFrame], ptype: str | None = None
) -> DataFrame:
    """`TCRDMP.py:3544-3570`."""
    df = lake["phenotype"]
    if ptype:
        df = df.filter(F.col("ptype") == ptype)
    return df


# --------------------------------------------------------------- orthologs

def get_orthologs_dbid2id(lake: dict[str, DataFrame]) -> DataFrame:
    """`TCRDMP.py:3673-3687` — the (db_id → ortholog id) map as a
    frame (the reference builds a dict for memoized lookups; joins
    against this frame replace those)."""
    return lake["ortholog"].select("db_id", F.col("id").alias("ortholog_id"))


def get_ortholog(lake: dict[str, DataFrame], **criteria) -> DataFrame:
    """`TCRDMP.py:3689-3718` — ortholog by symbol/geneid equality."""
    allowed = {"symbol", "geneid", "taxid"}
    if not criteria or not set(criteria) <= allowed:
        raise KeyError(f"get_ortholog keys must be in {sorted(allowed)}")
    df = lake["ortholog"]
    for k, v in criteria.items():
        df = df.filter(F.col(k) == v)
    return df


def get_xref_values(lake: dict[str, DataFrame], xtype: str) -> DataFrame:
    """`TCRDMP.py:3166-3192` — distinct values of one xref namespace."""
    return (
        lake["xref"].filter(F.col("xtype") == xtype)
        .select("value")
        .distinct()
    )


# -------------------------------------------------- counts / dictionaries

def get_dbinfo(lake: dict[str, DataFrame]) -> DataFrame:
    """`TCRD.py:120-131`."""
    return lake["dbinfo"]


def get_info_types(lake: dict[str, DataFrame]) -> list[str]:
    """`TCRD.py:1669-1684` — the type-dictionary name lists the
    reference caches per connection."""
    return sorted(r.name for r in lake["info_type"].select("name").collect())


def get_xref_types(lake: dict[str, DataFrame]) -> list[str]:
    return sorted(
        r.name for r in lake["xref_type"].select("name").collect()
    )


def get_expression_types(lake: dict[str, DataFrame]) -> list[str]:
    return sorted(
        r.name for r in lake["expression_type"].select("name").collect()
    )


def get_phenotype_types(lake: dict[str, DataFrame]) -> list[str]:
    return sorted(
        r.name for r in lake["phenotype_type"].select("name").collect()
    )


def get_gene_attribute_types(lake: dict[str, DataFrame]) -> list[str]:
    return sorted(
        r.name for r in lake["gene_attribute_type"].select("name").collect()
    )


_TYPECOUNT_COLS = {
    "compartment": "ctype", "expression": "etype", "disease": "dtype",
    "phenotype": "ptype", "ppi": "ppitype", "tdl_info": "itype",
    "pathway": "pwtype",
}


def get_count_typecount(
    lake: dict[str, DataFrame], table: str
) -> tuple[int, int]:
    """`TCRD.py:1686-1694` — (row count, distinct type count) in ONE
    aggregation pass instead of two queries."""
    tcol = _TYPECOUNT_COLS[table]
    row = lake[table].agg(
        F.count("*").alias("ct"),
        F.count_distinct(F.col(tcol)).alias("type_ct"),
    ).collect()[0]
    return row.ct, row.type_ct


def get_tinx_pmids(lake: dict[str, DataFrame]) -> DataFrame:
    """`TCRD.py:1695-1701`."""
    return lake["tinx_articlerank"].select("pmid").distinct()


def get_complex_goas(lake: dict[str, DataFrame]) -> DataFrame:
    """`TCRD.py:2885-2899` — GO terms ending in 'complex'."""
    return lake["goa"].filter(F.col("go_term").like("%complex"))


def get_techdev_info(lake: dict[str, DataFrame], contact_id: int) -> DataFrame:
    """`TCRD.py:1832-1838`."""
    return lake["techdev_info"].filter(F.col("contact_id") == contact_id)


# ------------------------------------------------------- target iteration

def _targets_base(
    lake: dict[str, DataFrame], idg: bool = False,
    past_id: int | None = None,
) -> DataFrame:
    df = lake["target"]
    if idg:
        df = df.filter(F.col("idg"))
    if past_id is not None:
        df = df.filter(F.col("id") > past_id)
    return df


def get_target_count(
    lake: dict[str, DataFrame], idg: bool = False,
    past_id: int | None = None,
) -> int:
    """`TCRD.py:2139-2166`."""
    return _targets_base(lake, idg, past_id).count()


def get_targets(
    lake: dict[str, DataFrame], idg: bool = False,
    past_id: int | None = None,
) -> DataFrame:
    """`TCRD.py:2167-2196` — the keyset-resumable target scan. The
    reference iterates row-at-a-time; here the same predicate returns
    the whole remaining frame (order by id for stable pagination)."""
    return _targets_base(lake, idg, past_id).orderBy("id")


def get_tdl_target_count(
    lake: dict[str, DataFrame], tdl: str, idg: bool = False
) -> int:
    """`TCRD.py:2198-2217`."""
    return _targets_base(lake, idg).filter(F.col("tdl") == tdl).count()


def get_tdl_targets(
    lake: dict[str, DataFrame], tdl: str, idg: bool = False
) -> DataFrame:
    """`TCRD.py:2219-2242`."""
    return _targets_base(lake, idg).filter(F.col("tdl") == tdl).orderBy("id")
