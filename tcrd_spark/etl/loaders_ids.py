"""Identifier-management and disease/phenotype loader families
(SURVEY.md §7 step 6, third batch).

- HGNC (`loaders/load-HGNC.py:99-185`): sym→uniprot→geneid resolution,
  HGNC/MGI xref inserts, fill-missing sym/geneid updates, and the
  symbol/geneid DISCREPANCY report (the reference logs mismatches
  instead of overwriting).
- STRING IDs (`loaders/load-STRINGIDs.py:49-150`): two-file alias map
  (best-bitscore winner per alias, conflict-checked alias file) then a
  uniprot→name→geneid priority cascade filling protein.stringid.
- Transcription-factor flags (`loaders/load-TFs.py:130-160`):
  'Is TF = Yes' rows → boolean 'Is Transcription Factor' tdl_info,
  sym→geneid→Ensembl-xref resolution.
- CTD diseases (`loaders/load-CTD-Diseases.py:105-245`): direct-
  evidence-only gate, MESH:/OMIM: ids mapped through do_xref to DOIDs
  (fan-out to every matching DOID, raw id kept when unmapped).
- DisGeNET (`loaders/load-DisGeNET.py:118-170`): score-carrying
  disease rows.
- JAX/MGI phenotypes (`loaders/load-JAX-Phenotypes.py:111-158`):
  whitespace-separated MP-term explode joined to the MPO ontology for
  term names.
- LINCS (`loaders/load-LINCS.py:92-116`): the 84M-row perturbation
  z-score table; geneid-resolved, repartitioned by protein_id so the
  write clusters by the downstream join key.

Scale posture: lookup sides broadcast; LINCS is the one fact table
here that is big at reference scale (84M rows,
`doc/README_v6.txt:1985`) — its loader does zero shuffles beyond the
final repartition, and the repartition is optional.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tcrd_spark.etl.resolve import resolve

# --------------------------------------------------------------- HGNC


@dataclass
class HgncLoad:
    xref: DataFrame            # HGNC ID + MGI ID xref rows
    protein: DataFrame         # protein with missing sym/geneid filled
    sym_discrepancies: DataFrame     # (protein_id, uniprot_sym, hgnc_sym)
    geneid_discrepancies: DataFrame  # (protein_id, uniprot_geneid, hgnc_geneid)
    notfnd: DataFrame


def load_hgnc(
    spark: SparkSession, tsv_path: str, protein: DataFrame
) -> HgncLoad:
    """HGNC custom-download TSV (`hgnc_id, sym, name, status, uniprot,
    geneid, mgi_id` after header) → xrefs + protein updates +
    discrepancy reports (`loaders/load-HGNC.py:99-185`).

    Resolution is sym-first, then uniprot, then geneid (`:120-124`).
    Missing protein.sym/geneid are filled from HGNC (`:149-150,
    :163-164`); existing DIFFERENT values are never overwritten, they
    are reported (`:158-159,172-174`) — the discrepancy DataFrames are
    that report."""
    raw = spark.read.csv(
        tsv_path, sep="\t", header=True,
        schema=("hgnc_id string, sym string, name string, status string, "
                "uniprot string, geneid int, mgi_id string"),
    )
    res = resolve(
        raw,
        protein.select("id", F.col("sym").alias("psym"),
                       F.col("uniprot").alias("pup"),
                       F.col("geneid").alias("pgeneid")),
        [("sym", "psym"), ("uniprot", "pup"), ("geneid", "pgeneid")],
        id_col="id", out_col="protein_id",
    )
    hits = res.resolved.join(
        F.broadcast(
            protein.select(F.col("id").alias("protein_id"),
                           F.col("sym").alias("cur_sym"),
                           F.col("geneid").alias("cur_geneid"))
        ),
        "protein_id",
    ).cache()
    xref = hits.select(
        "protein_id", F.lit("HGNC").alias("xtype"),
        F.col("hgnc_id").alias("value"),
    ).unionByName(
        hits.filter(F.col("mgi_id").isNotNull() & (F.col("mgi_id") != ""))
        .select("protein_id", F.lit("MGI ID").alias("xtype"),
                F.col("mgi_id").alias("value"))
    )
    upd = F.broadcast(
        hits.select(
            F.col("protein_id").alias("_pid"),
            F.col("sym").alias("_hgnc_sym"),
            F.col("geneid").alias("_hgnc_geneid"),
        ).dropDuplicates(["_pid"])
    )
    protein_out = (
        protein.join(upd, protein["id"] == upd["_pid"], "left")
        .withColumn("sym", F.coalesce("sym", "_hgnc_sym"))
        .withColumn("geneid", F.coalesce("geneid", "_hgnc_geneid"))
        .drop("_pid", "_hgnc_sym", "_hgnc_geneid")
    )
    sym_discr = hits.filter(
        F.col("cur_sym").isNotNull() & (F.col("cur_sym") != F.col("sym"))
    ).select("protein_id", F.col("cur_sym").alias("uniprot_sym"),
             F.col("sym").alias("hgnc_sym"))
    geneid_discr = hits.filter(
        F.col("cur_geneid").isNotNull()
        & (F.col("cur_geneid") != F.col("geneid"))
    ).select("protein_id", F.col("cur_geneid").alias("uniprot_geneid"),
             F.col("geneid").alias("hgnc_geneid"))
    return HgncLoad(
        xref=xref, protein=protein_out,
        sym_discrepancies=sym_discr, geneid_discrepancies=geneid_discr,
        notfnd=res.unresolved,
    )


# ---------------------------------------------------------- STRING IDs


@dataclass
class StringIdLoad:
    protein: DataFrame       # protein with stringid filled
    conflicts: DataFrame     # alias-file rows whose ENSP disagreed
    unmatched: DataFrame     # proteins still without a stringid


def load_stringids(
    spark: SparkSession,
    match_path: str,
    alias_path: str,
    protein: DataFrame,
) -> StringIdLoad:
    """Fill protein.stringid from the JensenLab match + alias files
    (`loaders/load-STRINGIDs.py:49-150`).

    match file (`uniprot_ac|uniprot_id, ensp, identity, bitscore`
    layout `row[1]='ac|name'`): only identity == 100 rows count
    (`:66`), and per alias the HIGHEST-bitscore ENSP wins (`:72-83`) —
    a max_by aggregation, not a window. The alias file then adds
    lower-priority mappings for aliases not already mapped; rows that
    CONTRADICT an existing mapping are the conflict report (`:104-111`).
    Proteins pick their ENSP by uniprot first, then name, then geneid
    (`:136-141`), stored taxon-prefixed like the fixture stringids."""
    match = (
        spark.read.csv(
            match_path, sep="\t",
            schema=("c0 string, uppair string, ensp string, "
                    "identity double, bitscore double"),
        )
        .filter(F.col("identity") == 100.0)
        .select(
            F.split("uppair", r"\|").alias("ups"),
            F.regexp_replace("ensp", "^9606\\.", "").alias("ensp"),
            "bitscore",
        )
        .select(
            F.explode(
                F.array(F.element_at("ups", 1), F.element_at("ups", 2))
            ).alias("alias"),
            "ensp", "bitscore",
        )
    )
    best = match.groupBy("alias").agg(
        F.max_by("ensp", "bitscore").alias("ensp")
    )
    alias_raw = spark.read.csv(
        alias_path, sep="\t", schema="ensp string, alias string, source string"
    ).select(
        "alias", F.regexp_replace("ensp", "^9606\\.", "").alias("ensp")
    )
    conflicts = (
        alias_raw.join(
            best.select(F.col("alias").alias("a2"),
                        F.col("ensp").alias("ensp_match")),
            alias_raw["alias"] == F.col("a2"),
        )
        .filter(F.col("ensp") != F.col("ensp_match"))
        .select("alias", "ensp_match", F.col("ensp").alias("ensp_alias"))
    )
    amap = best.unionByName(
        alias_raw.join(best.select(F.col("alias").alias("a2")),
                       alias_raw["alias"] == F.col("a2"), "left_anti")
        .dropDuplicates(["alias"])
    )

    def lk(prio):
        return F.broadcast(
            amap.select(F.col("alias").alias(f"_a{prio}"),
                        F.col("ensp").alias(f"_e{prio}"))
        )

    out = (
        protein.join(lk(1), protein["uniprot"] == F.col("_a1"), "left")
        .join(lk(2), protein["name"] == F.col("_a2"), "left")
        .join(lk(3), protein["geneid"].cast("string") == F.col("_a3"), "left")
        .withColumn(
            "stringid",
            F.coalesce(
                "stringid",
                F.concat(F.lit("9606."),
                         F.coalesce("_e1", "_e2", "_e3")),
            ),
        )
        .drop("_a1", "_a2", "_a3", "_e1", "_e2", "_e3")
    )
    unmatched = out.filter(F.col("stringid").isNull()).select("id", "uniprot")
    return StringIdLoad(protein=out, conflicts=conflicts, unmatched=unmatched)


# ------------------------------------------------------------ TF flags

TF_ITYPE = "Is Transcription Factor"


@dataclass
class TfLoad:
    tdl_info: DataFrame
    notfnd: DataFrame
    skipped: int             # 'Is TF?' != Yes rows


def load_tf_flags(
    spark: SparkSession,
    csv_path: str,
    protein: DataFrame,
    xref: DataFrame | None = None,
) -> TfLoad:
    """Human TF list CSV (`ensg, sym, dbd, is_tf, ...` cols, geneid at
    index 9) → boolean 'Is Transcription Factor' tdl_infos
    (`loaders/load-TFs.py:130-160`). Only 'Yes' rows load; resolution
    is sym → geneid → Ensembl xref (`:134-141`)."""
    raw = spark.read.csv(
        csv_path, header=True,
        schema=("ensg string, sym string, dbd string, is_tf string, "
                "c4 string, c5 string, c6 string, c7 string, c8 string, "
                "geneid int"),
    )
    skipped = raw.filter(F.col("is_tf") != "Yes").count()
    kept = raw.filter(F.col("is_tf") == "Yes")
    lookup = protein.select(
        "id", F.col("sym").alias("psym"), F.col("geneid").alias("pgeneid"),
        F.lit(None).cast("string").alias("ensg_value"),
    )
    keys = [("sym", "psym"), ("geneid", "pgeneid")]
    if xref is not None:
        ens = xref.filter(
            (F.col("xtype") == "Ensembl") & F.col("protein_id").isNotNull()
        ).select(
            F.col("protein_id").alias("id"),
            F.lit(None).cast("string").alias("psym"),
            F.lit(None).cast("int").alias("pgeneid"),
            F.col("value").alias("ensg_value"),
        )
        lookup = lookup.unionByName(ens)
        keys.append(("ensg", "ensg_value"))
    res = resolve(kept, lookup, keys, id_col="id", out_col="protein_id")
    tdl_info = res.resolved.select(
        "protein_id", F.lit(TF_ITYPE).alias("itype"),
        F.lit(True).alias("boolean_value"),
    ).dropDuplicates(["protein_id"])
    return TfLoad(tdl_info=tdl_info, notfnd=res.unresolved, skipped=skipped)


# ------------------------------------------------------- disease loads


@dataclass
class DiseaseTableLoad:
    disease: DataFrame
    notfnd: DataFrame
    skipped: int


def load_ctd_diseases(
    spark: SparkSession,
    csv_path: str,
    protein: DataFrame,
    do_xref: DataFrame,
) -> DiseaseTableLoad:
    """CTD gene–disease CSV (`sym, geneid, disease_name, disease_id,
    direct_evidence, ...`) → dtype='CTD' disease rows
    (`loaders/load-CTD-Diseases.py:168-245`).

    Rows without direct evidence are skipped (`:184-186`). MESH:/OMIM:
    disease ids map through do_xref onto EVERY matching DOID
    (`get_db2do_map` `:105-119`, fan-out at `:225-232`); unmapped ids
    load under their raw accession."""
    raw = (
        spark.read.csv(
            csv_path,
            schema=("sym string, geneid int, disease_name string, "
                    "disease_id string, direct_evidence string"),
        )
        .filter(~F.col("sym").startswith("#"))
    )
    skipped = raw.filter(
        F.col("direct_evidence").isNull() | (F.col("direct_evidence") == "")
    ).count()
    kept = raw.filter(
        F.col("direct_evidence").isNotNull() & (F.col("direct_evidence") != "")
    )
    res = resolve(
        kept,
        protein.select("id", F.col("sym").alias("psym"),
                       F.col("geneid").alias("pgeneid")),
        [("sym", "psym"), ("geneid", "pgeneid")],
        id_col="id", out_col="protein_id",
    )
    dx = F.broadcast(
        do_xref.filter(F.col("db").isin("MESH", "OMIM")).select(
            F.concat_ws(":", "db", "value").alias("_acc"), "doid"
        )
    )
    disease = (
        res.resolved.join(dx, res.resolved["disease_id"] == dx["_acc"], "left")
        .select(
            "protein_id", F.lit("CTD").alias("dtype"),
            F.col("disease_name").alias("name"),
            F.coalesce("doid", "disease_id").alias("did"),
            F.col("direct_evidence").alias("evidence"),
        )
    )
    return DiseaseTableLoad(disease=disease, notfnd=res.unresolved,
                            skipped=skipped)


def load_disgenet(
    spark: SparkSession, tsv_path: str, protein: DataFrame
) -> DiseaseTableLoad:
    """DisGeNET curated associations TSV → dtype='DisGeNET' disease
    rows with score + source (`loaders/load-DisGeNET.py:118-170`
    columns: geneid 0? the reference reads `data[1]` sym, `data[4]`
    did, `data[5]` name, `data[9]` score, `data[15]` source). Our
    ingest-shim TSV carries exactly those five plus geneid."""
    raw = spark.read.csv(
        tsv_path, sep="\t", header=True,
        schema=("geneid int, sym string, did string, name string, "
                "score double, source string"),
    )
    res = resolve(
        raw,
        protein.select("id", F.col("sym").alias("psym"),
                       F.col("geneid").alias("pgeneid")),
        [("sym", "psym"), ("geneid", "pgeneid")],
        id_col="id", out_col="protein_id",
    )
    disease = res.resolved.select(
        "protein_id", F.lit("DisGeNET").alias("dtype"), "name", "did",
        "score", F.trim("source").alias("source"),
    )
    return DiseaseTableLoad(disease=disease, notfnd=res.unresolved, skipped=0)


# --------------------------------------------------- JAX/MGI phenotypes

JAX_PTYPE = "JAX/MGI Human Ortholog Phenotype"


@dataclass
class JaxPhenotypeLoad:
    phenotype: DataFrame
    notfnd: DataFrame
    skipped: int             # rows with no MP terms


def load_jax_phenotypes(
    spark: SparkSession,
    tsv_path: str,
    protein: DataFrame,
    mpo: DataFrame,
) -> JaxPhenotypeLoad:
    """HMD_HumanPhenotype.rpt (`sym, geneid, ..., mp_ids` with the
    whitespace-separated MP-term list in column 7) → phenotype rows
    (`loaders/load-JAX-Phenotypes.py:111-158`): termless rows skipped,
    terms exploded, names joined from the MPO ontology table."""
    raw = spark.read.csv(
        tsv_path, sep="\t",
        schema=("sym string, geneid int, c2 string, c3 string, c4 string, "
                "c5 string, mpids string"),
    )
    skipped = raw.filter(
        F.col("mpids").isNull() | (F.trim("mpids") == "")
    ).count()
    kept = raw.filter(F.col("mpids").isNotNull() & (F.trim("mpids") != ""))
    res = resolve(
        kept,
        protein.select("id", F.col("sym").alias("psym"),
                       F.col("geneid").alias("pgeneid")),
        [("sym", "psym"), ("geneid", "pgeneid")],
        id_col="id", out_col="protein_id",
    )
    mp = F.broadcast(
        mpo.select(F.col("mpid").alias("_mpid"),
                   F.col("name").alias("term_name"))
    )
    phenotype = (
        res.resolved.select(
            "protein_id",
            F.explode(F.split(F.trim("mpids"), r"\s+")).alias("term_id"),
        )
        .join(mp, F.col("term_id") == mp["_mpid"], "left")
        .select("protein_id", F.lit(JAX_PTYPE).alias("ptype"),
                "term_id", "term_name")
    )
    return JaxPhenotypeLoad(phenotype=phenotype, notfnd=res.unresolved,
                            skipped=skipped)


# ----------------------------------------------------------------- LINCS


@dataclass
class LincsLoad:
    lincs: DataFrame         # (protein_id, cellid, zscore, pert_dcid, pert_smiles)
    notfnd: DataFrame


def load_lincs(
    spark: SparkSession,
    csv_path: str,
    protein: DataFrame,
) -> LincsLoad:
    """LINCS level-5 export CSV (`geneid, zscore, pert_dcid,
    pert_smiles, cellid`) → lincs rows (`loaders/load-LINCS.py:
    92-116`). 84M rows in the reference (16h41m of INSERTs,
    `doc/README_v6.txt:1985-1988`); here one broadcast-joined scan.
    Output is clustered by protein_id so the dominant downstream
    access path (per-target signature slices) prunes instead of
    shuffling."""
    raw = spark.read.csv(
        csv_path,
        schema=("geneid int, zscore double, pert_dcid string, "
                "pert_smiles string, cellid string"),
    )
    res = resolve(raw, protein.select("id", "geneid"),
                  [("geneid", "geneid")], id_col="id", out_col="protein_id")
    rows = res.resolved.select("protein_id", "cellid", "zscore",
                               "pert_dcid", "pert_smiles")
    return LincsLoad(
        lincs=rows.repartition("protein_id"), notfnd=res.unresolved
    )
