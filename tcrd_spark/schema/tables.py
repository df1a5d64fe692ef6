"""StructType declarations for the TCRD core tables.

Mirrors `SQL/create-TCRDv7.sql` (reference) with the §1.2 type mapping:
enums → string + validation domain, tinyint(1) → boolean, decimal kept
as DecimalType where the reference stores high-scale scores (TIN-X
decimal(34,16) at :2135, clinvar), AUTO_INCREMENT ids → deterministic
surrogate ids (see surrogate_id) because child tables FK by id and ids
must be stable across runs.

All 77 of the reference's v7 tables are declared, plus six that the
loader fleet targets outside the v7 dump (tiga, tiga_provenance from
load-TIGA.py; grant from the v4 DDL + load-GrantInfo.py; virus /
viral_protein / viral_ppi from load-Phipster.py) — the core entity
triple, every type dictionary, the ontology DAGs, graph/pairwise
relations, year-keyed time series, the text corpus, the big fact
tables (gene_attribute/lincs), TIN-X + HGram outputs, the annotation
tables, and the operational tables (dbinfo, techdev, idg_evol). The
`tinx_target` view (`SQL/create-TCRDv7.sql:2352`) lives in
api/sql_surface.register_domain_views.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# enum domains (`SQL/create-TCRDv7.sql:1923,1925,592`)
TDL_VALUES = ("Tclin+", "Tclin", "Tchem+", "Tchem", "Tbio", "Tgray", "Tdark")
FAM_VALUES = (
    "Enzyme", "Epigenetic", "GPCR", "IC", "Kinase", "NR", "oGPCR",
    "TF", "TF; Epigenetic", "Transporter",
)
QUAL_VALUES = ("Not detected", "Low", "Medium", "High")
# `data_type` domain (create-TCRDv7.sql:286)
DATA_TYPES = ("Boolean", "Date", "Integer", "Number", "String")


def _s(*fields) -> StructType:
    return StructType([StructField(n, t, nullable) for n, t, nullable in fields])


TABLE_SCHEMAS: dict[str, StructType] = {
    # --- core entity triple (create-TCRDv7.sql:1918,1891,1631)
    "target": _s(
        ("id", LongType(), False),
        ("name", StringType(), False),
        ("ttype", StringType(), False),
        ("description", StringType(), True),
        ("comment", StringType(), True),
        ("tdl", StringType(), True),          # enum TDL_VALUES
        ("idg", BooleanType(), True),
        ("fam", StringType(), True),          # enum FAM_VALUES
        ("famext", StringType(), True),
    ),
    "protein": _s(
        ("id", LongType(), False),
        ("name", StringType(), False),
        ("description", StringType(), True),
        ("uniprot", StringType(), False),
        ("up_version", IntegerType(), True),
        ("geneid", LongType(), True),
        ("sym", StringType(), True),
        ("family", StringType(), True),
        ("chr", StringType(), True),
        ("seq", StringType(), True),
        ("dtoid", StringType(), True),
        ("stringid", StringType(), True),
        ("dtoclass", StringType(), True),
    ),
    "t2tc": _s(
        ("target_id", LongType(), False),
        ("protein_id", LongType(), False),
    ),
    # --- typed-EAV annotations (tdl_info :1948; value cols :1954-1958)
    "tdl_info": _s(
        ("id", LongType(), False),
        ("itype", StringType(), False),
        ("target_id", LongType(), True),
        ("protein_id", LongType(), True),
        ("string_value", StringType(), True),
        ("number_value", DoubleType(), True),
        ("integer_value", IntegerType(), True),
        ("date_value", DateType(), True),
        ("boolean_value", BooleanType(), True),
        ("curration_level", StringType(), True),
    ),
    "info_type": _s(
        ("name", StringType(), False),
        ("data_type", StringType(), False),   # enum DATA_TYPES
        ("unit", StringType(), True),
        ("description", StringType(), True),
    ),
    "expression": _s(
        ("id", LongType(), False),
        ("etype", StringType(), False),
        ("target_id", LongType(), True),
        ("protein_id", LongType(), True),
        ("tissue", StringType(), False),
        ("qual_value", StringType(), True),   # enum QUAL_VALUES
        ("number_value", DoubleType(), True),
        ("boolean_value", BooleanType(), True),
        ("string_value", StringType(), True),
        ("pubmed_id", LongType(), True),
        ("evidence", StringType(), True),
        ("zscore", DecimalType(8, 6), True),
        ("conf", DecimalType(2, 1), True),
        ("oid", StringType(), True),
        ("confidence", BooleanType(), True),
        ("url", StringType(), True),
        ("cell_id", StringType(), True),
        ("uberon_id", StringType(), True),
    ),
    # --- common annotation tables
    "xref": _s(
        ("id", LongType(), False),
        ("xtype", StringType(), False),
        ("target_id", LongType(), True),
        ("protein_id", LongType(), True),
        ("value", StringType(), False),
        ("xtra", StringType(), True),
        ("dataset_id", LongType(), False),
    ),
    "alias": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("type", StringType(), False),        # enum ('symbol','uniprot')
        ("value", StringType(), False),
        ("dataset_id", LongType(), False),
    ),
    "generif": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("pubmed_ids", StringType(), True),
        ("text", StringType(), False),
        ("years", StringType(), True),
    ),
    "goa": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("go_id", StringType(), False),
        ("go_term", StringType(), True),
        ("evidence", StringType(), True),
        ("goeco", StringType(), True),
        ("assigned_by", StringType(), True),
    ),
    "disease": _s(
        ("id", LongType(), False),
        ("dtype", StringType(), False),
        ("target_id", LongType(), True),
        ("protein_id", LongType(), True),
        ("nhprotein_id", LongType(), True),
        ("name", StringType(), False),
        ("did", StringType(), True),
        ("evidence", StringType(), True),
        ("zscore", DoubleType(), True),
        ("conf", DoubleType(), True),
        ("description", StringType(), True),
        ("reference", StringType(), True),
        ("drug_name", StringType(), True),
        ("log2foldchange", DoubleType(), True),
        ("pvalue", StringType(), True),
        ("score", DoubleType(), True),
        ("source", StringType(), True),
        # Monarch ortholog→self / self→ortholog scores
        # (`SQL/create-TCRDv7.sql:370-371`, decimal(16,13))
        ("O2S", DoubleType(), True),
        ("S2O", DoubleType(), True),
    ),
    # MLP assay metadata (`SQL/create-TCRDv7.sql:1130-1143`)
    "mlp_assay_info": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("assay_name", StringType(), False),
        ("method", StringType(), False),
        ("active_sids", IntegerType(), True),
        ("inactive_sids", IntegerType(), True),
        ("iconclusive_sids", IntegerType(), True),
        ("total_sids", IntegerType(), True),
        ("aid", IntegerType(), True),
    ),
    "pathway": _s(
        ("id", LongType(), False),
        ("target_id", LongType(), True),
        ("protein_id", LongType(), True),
        ("pwtype", StringType(), False),
        ("name", StringType(), False),
        ("id_in_source", StringType(), True),
        ("description", StringType(), True),
        ("url", StringType(), True),
    ),
    "ppi": _s(
        ("id", LongType(), False),
        ("ppitype", StringType(), False),
        ("protein1_id", LongType(), False),
        ("protein1_str", StringType(), True),
        ("protein2_id", LongType(), False),
        ("protein2_str", StringType(), True),
        ("p_int", DecimalType(10, 9), True),
        ("p_ni", DecimalType(10, 9), True),
        ("p_wrong", DecimalType(10, 9), True),
        ("evidence", StringType(), True),
        ("interaction_type", StringType(), True),
    ),
    "pmscore": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("year", IntegerType(), False),
        ("score", DecimalType(12, 6), False),
    ),
    "drug_activity": _s(
        ("id", LongType(), False),
        ("target_id", LongType(), False),
        ("drug", StringType(), False),
        ("act_value", DecimalType(10, 8), True),
        ("act_type", StringType(), True),
        ("action_type", StringType(), True),
        ("has_moa", BooleanType(), False),
        ("source", StringType(), True),
        ("reference", StringType(), True),
        ("smiles", StringType(), True),
        ("cmpd_chemblid", StringType(), True),
        ("nlm_drug_info", StringType(), True),
    ),
    "cmpd_activity": _s(
        ("id", LongType(), False),
        ("target_id", LongType(), False),
        ("catype", StringType(), False),
        ("cmpd_id_in_src", StringType(), False),
        ("cmpd_name_in_src", StringType(), True),
        ("smiles", StringType(), True),
        ("act_value", DecimalType(10, 8), True),
        ("act_type", StringType(), True),
        ("reference", StringType(), True),
        ("pubmed_ids", StringType(), True),
        ("cmpd_pubchem_cid", LongType(), True),
    ),
    # --- provenance/lineage (dataset :297, provenance :1693)
    "dataset": _s(
        ("id", LongType(), False),
        ("name", StringType(), False),
        ("source", StringType(), False),
        ("app", StringType(), True),
        ("app_version", StringType(), True),
        ("datetime", StringType(), True),
        ("url", StringType(), True),
        ("comments", StringType(), True),
    ),
    "provenance": _s(
        ("id", LongType(), False),
        ("dataset_id", LongType(), False),
        ("table_name", StringType(), False),
        ("column_name", StringType(), True),
        ("where_clause", StringType(), True),
        ("comment", StringType(), True),
    ),
    # --- type dictionaries (create-TCRDv7.sql:188,250,274,398,633,
    #     725,1446,1515,1606,2320) — name-keyed dims, broadcast-joined
    "data_type": _s(("name", StringType(), False)),
    "cmpd_activity_type": _s(
        ("name", StringType(), False),
        ("description", StringType(), True),
    ),
    "compartment_type": _s(
        ("name", StringType(), False),
        ("description", StringType(), True),
    ),
    "disease_type": _s(
        ("name", StringType(), False),
        ("description", StringType(), True),
    ),
    "expression_type": _s(
        ("name", StringType(), False),
        ("data_type", StringType(), False),   # enum DATA_TYPES
        ("description", StringType(), True),
    ),
    "pathway_type": _s(
        ("name", StringType(), False),
        ("url", StringType(), True),
    ),
    "phenotype_type": _s(
        ("name", StringType(), False),
        ("ontology", StringType(), True),
        ("description", StringType(), True),
    ),
    "ppi_type": _s(
        ("name", StringType(), False),
        ("description", StringType(), True),
        ("url", StringType(), True),
    ),
    "xref_type": _s(
        ("name", StringType(), False),
        ("description", StringType(), True),
        ("url", StringType(), True),
        ("eg_q_url", StringType(), True),
    ),
    "gene_attribute_type": _s(
        ("id", LongType(), False),
        ("name", StringType(), False),
        ("association", StringType(), True),
        ("description", StringType(), True),
        ("resource_group", StringType(), True),
        ("measurement", StringType(), True),
        ("attribute_group", StringType(), True),
        ("attribute_type", StringType(), True),
        ("pubmed_ids", StringType(), True),
        ("url", StringType(), True),
    ),
    # --- ontology DAGs (:422,446,470,560,1162,1841,1865,2204,2229,2253)
    "do": _s(
        ("doid", StringType(), False),
        ("name", StringType(), False),
        ("def", StringType(), True),
    ),
    "do_parent": _s(
        ("doid", StringType(), False),
        ("parent_id", StringType(), False),
    ),
    "do_xref": _s(
        ("doid", StringType(), False),
        ("db", StringType(), False),
        ("value", StringType(), False),
    ),
    "dto": _s(
        ("dtoid", StringType(), False),
        ("name", StringType(), False),
        ("parent_id", StringType(), True),    # self-FK (:563)
        ("def", StringType(), True),
    ),
    "mpo": _s(
        ("mpid", StringType(), False),
        ("parent_id", StringType(), True),
        ("name", StringType(), False),
        ("def", StringType(), True),
    ),
    "rdo": _s(
        ("doid", StringType(), False),
        ("name", StringType(), False),
        ("def", StringType(), True),
    ),
    "uberon": _s(
        ("uid", StringType(), False),
        ("name", StringType(), False),
        ("def", StringType(), True),
        ("comment", StringType(), True),
    ),
    "uberon_parent": _s(
        ("uid", StringType(), False),
        ("parent_id", StringType(), False),
    ),
    "uberon_xref": _s(
        ("uid", StringType(), False),
        ("db", StringType(), False),
        ("value", StringType(), False),
    ),
    # --- graphs / pairwise relations (:1014,1043,919,1267)
    "kegg_distance": _s(
        ("id", LongType(), False),
        ("pid1", LongType(), False),
        ("pid2", LongType(), False),
        ("distance", IntegerType(), False),
    ),
    "kegg_nearest_tclin": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("tclin_id", LongType(), False),
        ("direction", StringType(), False),   # enum up/downstream (:1047)
        ("distance", IntegerType(), False),
    ),
    "homologene": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), True),
        ("nhprotein_id", LongType(), True),
        ("groupid", LongType(), False),
        ("taxid", LongType(), False),
    ),
    "ortholog": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("taxid", LongType(), False),
        ("species", StringType(), False),
        ("db_id", StringType(), True),
        ("geneid", LongType(), True),
        ("symbol", StringType(), True),
        ("name", StringType(), True),
        ("mod_url", StringType(), True),
        ("sources", StringType(), False),
    ),
    # --- time series by year (:1722,1384)
    "ptscore": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("year", IntegerType(), False),
        ("score", DecimalType(12, 6), False),
    ),
    "patent_count": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("year", IntegerType(), False),
        ("count", IntegerType(), False),
    ),
    # --- text corpus (:1749,1667)
    "pubmed": _s(
        ("id", LongType(), False),
        ("title", StringType(), False),
        ("journal", StringType(), True),
        ("date", StringType(), True),         # varchar(10) in the DDL
        ("authors", StringType(), True),
        ("abstract", StringType(), True),
    ),
    "protein2pubmed": _s(
        ("protein_id", LongType(), False),
        ("pubmed_id", LongType(), False),
    ),
    # --- big fact tables (:695 65.5M rows; :1073 84M rows)
    "gene_attribute": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("gat_id", LongType(), False),
        ("name", StringType(), False),
        ("value", IntegerType(), False),
    ),
    "lincs": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("cellid", StringType(), False),
        ("zscore", DecimalType(8, 6), False),
        ("pert_dcid", LongType(), False),
        ("pert_smiles", StringType(), True),
    ),
    # --- TIN-X outputs (:2078,2103,2131,2159 — decimal(34,16) scores)
    "tinx_novelty": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("score", DecimalType(34, 16), False),
    ),
    "tinx_disease": _s(
        ("id", LongType(), False),
        ("doid", StringType(), False),
        ("name", StringType(), False),
        ("summary", StringType(), True),
        ("score", DecimalType(34, 16), True),
    ),
    "tinx_importance": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("disease_id", LongType(), False),
        ("score", DecimalType(34, 16), False),
    ),
    "tinx_articlerank": _s(
        ("id", LongType(), False),
        ("importance_id", LongType(), False),
        ("pmid", LongType(), False),
        ("rank", IntegerType(), False),
    ),
    # --- derived analytics outputs (:931)
    "hgram_cdf": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("type", StringType(), False),
        ("attr_count", IntegerType(), False),
        ("attr_cdf", DecimalType(17, 16), False),
    ),
    # --- remaining annotation tables (:250,:658,:845,:1470,:660,:1432,
    #     :1363,:1187,:65,:91,:500,:1992)
    "compartment": _s(
        ("id", LongType(), False),
        ("ctype", StringType(), False),
        ("target_id", LongType(), True),
        ("protein_id", LongType(), True),
        ("go_id", StringType(), True),
        ("go_term", StringType(), True),
        ("evidence", StringType(), True),
        ("zscore", DecimalType(4, 3), True),
        ("conf", DecimalType(2, 1), True),
        ("url", StringType(), True),
        ("reliability", StringType(), True),  # enum Supported/Approved/Validated
    ),
    "gtex": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("tissue", StringType(), False),
        ("gender", StringType(), True),       # enum F/M
        ("tpm", DecimalType(12, 6), False),
        ("tpm_rank", DecimalType(4, 3), True),
        ("tpm_rank_bysex", DecimalType(4, 3), True),
        ("tpm_level", StringType(), False),   # enum QUAL_VALUES
        ("tpm_level_bysex", StringType(), True),
        ("tpm_f", DecimalType(12, 6), True),
        ("tpm_m", DecimalType(12, 6), True),
        ("log2foldchange", DecimalType(4, 3), True),
        ("tau", DecimalType(4, 3), True),
        ("tau_bysex", DecimalType(4, 3), True),
        ("uberon_id", StringType(), True),
    ),
    "gwas": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("disease_trait", StringType(), False),
        ("snps", StringType(), True),
        ("pmid", LongType(), True),
        ("study", StringType(), True),
        ("context", StringType(), True),
        ("intergenic", BooleanType(), True),
        ("p_value", DoubleType(), True),
        ("or_beta", DoubleType(), True),
        ("cnv", StringType(), True),
        ("mapped_trait", StringType(), True),
        ("mapped_trait_uri", StringType(), True),
    ),
    "phenotype": _s(
        ("id", LongType(), False),
        ("ptype", StringType(), False),
        ("protein_id", LongType(), True),
        ("nhprotein_id", LongType(), True),
        ("trait", StringType(), True),
        ("top_level_term_id", StringType(), True),
        ("top_level_term_name", StringType(), True),
        ("term_id", StringType(), True),
        ("term_name", StringType(), True),
        ("term_description", StringType(), True),
        ("p_value", DoubleType(), True),
        ("percentage_change", StringType(), True),
        ("effect_size", StringType(), True),
        ("procedure_name", StringType(), True),
        ("parameter_name", StringType(), True),
        ("gp_assoc", BooleanType(), True),
        ("statistical_method", StringType(), True),
        ("sex", StringType(), True),
    ),
    "feature": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("type", StringType(), False),
        ("description", StringType(), True),
        ("srcid", StringType(), True),
        ("evidence", StringType(), True),
        ("begin", IntegerType(), True),
        ("end", IntegerType(), True),
        ("position", IntegerType(), True),
        ("original", StringType(), True),
        ("variation", StringType(), True),
    ),
    "panther_class": _s(
        ("id", LongType(), False),
        ("pcid", StringType(), False),
        ("parent_pcids", StringType(), True),
        ("name", StringType(), False),
        ("description", StringType(), True),
    ),
    "p2pc": _s(
        ("panther_class_id", LongType(), False),
        ("protein_id", LongType(), False),
    ),
    "nhprotein": _s(
        ("id", LongType(), False),
        ("uniprot", StringType(), False),
        ("name", StringType(), False),
        ("description", StringType(), True),
        ("sym", StringType(), True),
        ("species", StringType(), False),
        ("taxid", LongType(), False),
        ("geneid", LongType(), True),
    ),
    "clinvar_phenotype": _s(
        ("id", LongType(), False),
        ("name", StringType(), False),
    ),
    "clinvar": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("clinvar_phenotype_id", LongType(), False),
        ("alleleid", LongType(), False),
        ("type", StringType(), True),
        ("name", StringType(), True),
        ("review_status", StringType(), True),
        ("clinical_significance", StringType(), True),
        ("clin_sig_simple", IntegerType(), True),
        ("last_evaluated", DateType(), True),
        ("dbsnp_rs", LongType(), True),
        ("dbvarid", StringType(), True),
        ("origin", StringType(), True),
        ("origin_simple", StringType(), True),
        ("assembly", StringType(), True),
        ("chr", StringType(), True),
        ("chr_acc", StringType(), True),
        ("start", LongType(), True),
        ("stop", LongType(), True),
        ("number_submitters", IntegerType(), True),
        ("tested_in_gtr", BooleanType(), True),
        ("submitter_categories", IntegerType(), True),
    ),
    "drgc_resource": _s(
        ("id", LongType(), False),
        ("target_id", LongType(), False),
        ("resource_type", StringType(), False),
        ("json", StringType(), False),        # embedded JSON (from_json)
    ),
    "tdl_update_log": _s(
        ("id", LongType(), False),
        ("target_id", LongType(), False),
        ("old_tdl", StringType(), True),
        ("new_tdl", StringType(), False),
        ("person", StringType(), False),
        ("datetime", StringType(), True),
        ("explanation", StringType(), True),
        ("application", StringType(), True),
        ("app_version", StringType(), True),
    ),
    "techdev_contact": _s(
        ("id", LongType(), False),
        ("contact_name", StringType(), False),
        ("contact_email", StringType(), True),
        ("date", DateType(), True),
        ("grant_number", StringType(), True),
        ("pi", StringType(), True),
    ),
    # --- the final reference tables (77/77 declared; DDL line refs in
    # `SQL/create-TCRDv7.sql`)
    "techdev_info": _s(
        ("id", LongType(), False),
        ("contact_id", LongType(), False),
        ("protein_id", LongType(), False),
        ("comment", StringType(), True),
        ("publication_pcmid", StringType(), True),
        ("publication_pmid", LongType(), True),
        ("resource_url", StringType(), True),
        ("data_url", StringType(), True),
    ),
    "clinvar_phenotype_xref": _s(
        ("id", LongType(), False),
        ("clinvar_phenotype_id", LongType(), False),
        ("source", StringType(), False),
        ("value", StringType(), False),
    ),
    "dbinfo": _s(
        ("dbname", StringType(), False),
        ("schema_ver", StringType(), False),
        ("data_ver", StringType(), False),
        ("owner", StringType(), False),
        ("is_copy", BooleanType(), False),
        ("dump_file", StringType(), True),
    ),
    "idg_evol": _s(
        ("id", LongType(), False),
        ("tcrd_ver", IntegerType(), False),
        ("tcrd_dbid", LongType(), False),
        ("name", StringType(), False),
        ("description", StringType(), True),
        ("uniprot", StringType(), False),
        ("sym", StringType(), True),
        ("geneid", LongType(), True),
        ("tdl", StringType(), True),
        ("fam", StringType(), True),
    ),
    "locsig": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("location", StringType(), False),
        ("signal", StringType(), False),
        ("pmids", StringType(), True),
    ),
    "omim": _s(
        ("mim", LongType(), False),
        ("title", StringType(), False),
    ),
    "omim_ps": _s(
        ("id", LongType(), False),
        ("omim_ps_id", StringType(), False),
        ("mim", LongType(), False),
        ("title", StringType(), False),
    ),
    "ortholog_disease": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("did", StringType(), False),
        ("name", StringType(), False),
        ("ortholog_id", LongType(), False),
        ("score", StringType(), False),
    ),
    "rat_qtl": _s(
        ("id", LongType(), False),
        ("nhprotein_id", LongType(), False),
        ("rgdid", LongType(), False),
        ("qtl_rgdid", LongType(), False),
        ("qtl_symbol", StringType(), True),
        ("qtl_name", StringType(), True),
        ("trait_name", StringType(), True),
        ("measurement_type", StringType(), True),
        ("associated_disease", StringType(), True),
        ("phenotype", StringType(), True),
        ("p_value", DecimalType(20, 19), True),
        ("lod", DoubleType(), True),
    ),
    "rat_term": _s(
        ("id", LongType(), False),
        ("rgdid", LongType(), False),
        ("term_id", StringType(), False),
        ("obj_symbol", StringType(), True),
        ("term_name", StringType(), True),
        ("qualifier", StringType(), True),
        ("evidence", StringType(), True),
        ("ontology", StringType(), True),
    ),
    "rdo_xref": _s(
        ("doid", StringType(), False),
        ("db", StringType(), False),
        ("value", StringType(), False),
    ),
    # TIGA GWAS gene-trait aggregates (`loaders/load-TIGA.py:138-146`
    # ins_tiga init dict — TIGA postdates the v7 DDL dump, so the shape
    # comes from the loader, not create-TCRDv7.sql)
    "tiga": _s(
        ("id", LongType(), False),
        ("protein_id", LongType(), False),
        ("ensg", StringType(), False),
        ("efoid", StringType(), False),
        ("trait", StringType(), False),
        ("n_study", IntegerType(), True),
        ("n_snp", IntegerType(), True),
        ("n_snpw", DoubleType(), True),
        ("geneNtrait", IntegerType(), True),
        ("geneNstudy", IntegerType(), True),
        ("traitNgene", IntegerType(), True),
        ("traitNstudy", IntegerType(), True),
        ("pvalue_mlog_median", DoubleType(), True),
        ("or_median", DoubleType(), True),
        ("n_beta", IntegerType(), True),
        ("study_N_mean", DoubleType(), True),
        ("rcras", DoubleType(), True),
        ("meanRank", DoubleType(), True),
        ("meanRankScore", DoubleType(), True),
    ),
    # (`loaders/load-TIGA.py:180-182` ins_tiga_provenance)
    "tiga_provenance": _s(
        ("id", LongType(), False),
        ("ensg", StringType(), False),
        ("efoid", StringType(), True),
        ("study_acc", StringType(), False),
        ("pubmedid", LongType(), True),
    ),
    # NIH grant text-mining rows (`SQL/create-TCRDv4.sql:1274-1289`;
    # dropped from later DDLs but still loaded by load-GrantInfo.py)
    "grant": _s(
        ("id", LongType(), False),
        ("target_id", LongType(), False),
        ("protein_id", LongType(), True),
        ("appid", LongType(), False),
        ("full_project_num", StringType(), False),
        ("activity", StringType(), False),
        ("funding_ics", StringType(), True),
        ("year", IntegerType(), False),
        ("cost", DoubleType(), False),
    ),
    # P-HIPSTer virus→human PPI predictions
    # (`loaders/load-Phipster.py:17-53` CREATE TABLE strings)
    "virus": _s(
        ("virusTaxid", StringType(), False),
        ("nucleic1", StringType(), True),
        ("nucleic2", StringType(), True),
        ("order", StringType(), True),
        ("family", StringType(), True),
        ("subfamily", StringType(), True),
        ("genus", StringType(), True),
        ("species", StringType(), True),
        ("name", StringType(), True),
    ),
    "viral_protein": _s(
        ("id", LongType(), False),
        ("name", StringType(), True),
        ("ncbi", StringType(), True),
        ("virus_id", StringType(), True),
    ),
    "viral_ppi": _s(
        ("id", LongType(), False),
        ("viral_protein_id", LongType(), False),
        ("protein_id", LongType(), True),
        ("dataSource", StringType(), True),
        ("finalLR", DoubleType(), False),
        ("pdbIDs", StringType(), True),
        ("highConfidence", BooleanType(), True),
    ),
}


def surrogate_id(natural_key: Column) -> Column:
    """Deterministic surrogate id from a natural key — stable across
    runs (FK integrity without AUTO_INCREMENT, SURVEY §1.2): 60-bit
    md5 prefix of the key."""
    return F.conv(F.substring(F.md5(natural_key), 1, 15), 16, 10).cast("long")


def surrogate_id_sql(natural_key: str) -> str:
    """`surrogate_id` as SQL text, over the SQL expression
    `natural_key` — for builds that are one parse."""
    return f"CAST(conv(substring(md5({natural_key}), 1, 15), 16, 10) AS BIGINT)"


def validate_enum(df: DataFrame, col: str, domain: tuple[str, ...]) -> DataFrame:
    """Loader-side CHECK for enum columns: any out-of-domain value
    raises at action time (the reference relied on MySQL enum)."""
    bad = F.when(
        F.col(col).isNotNull() & ~F.col(col).isin(*domain), F.col(col)
    )
    return df.withColumn(
        col,
        F.when(
            bad.isNotNull(),
            F.raise_error(
                F.concat(F.lit(f"enum violation in {col}: "), F.col(col))
            ),
        ).otherwise(F.col(col)),
    )
