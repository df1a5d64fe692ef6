"""The DBAdaptor read surface, Spark-first.

The reference's central execution pattern is an N+1 fan-out: ~40 point
queries per target × 20,412 targets (`loaders/TCRD.py:1857-2125`,
SURVEY §3-A). Every method here is the whole-table formulation: one
plan, grouped joins, `collect_list(struct(...))` for the nested parts.
`get_targets(ids)` is a filter on the same plan — the per-entity API
falls out of the set-based one, never the other way around.

All lake tables arrive as a dict[str, DataFrame] (`lake` argument) so
the adaptor is storage-agnostic (parquet, Delta, temp views alike).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tcrd_spark.functions.eav import dereference
from tcrd_spark.operators.lineage import cut


def entity(lake: dict[str, DataFrame]) -> DataFrame:
    """The universal 3-way access path target⋈t2tc⋈protein
    (`SQL/create-TCRDv7.sql:2352` view; `loaders/TCRD.py:2267-2269`).
    target is ~20k rows — both joins broadcast.

    This is the lazy join, for whole-lake consumers (`target_documents`,
    the TDL features). The point readers, bare `get_target` and
    `find_targets`, filter `_entity_view(lake)` instead: the same rows
    materialized once per set of lake frames. A read of the view is
    one Spark job; a read of this join is three (two broadcasts and
    the result), and re-plans it. The view wins when one set of frames
    serves two or more entity reads (a refresh cycle's read-back of
    changed targets, a portal session's thousands of lookups); a lake
    read exactly once pays about one view build more."""
    t = lake["target"].select(
        F.col("id").alias("target_id"),
        F.col("name").alias("target_name"),
        "ttype", "tdl", "idg", "fam", "famext",
    )
    bridge = lake["t2tc"]
    p = lake["protein"]
    return (
        F.broadcast(t)
        .join(bridge, "target_id")
        .join(p, bridge.protein_id == p.id)
        .drop("id")
    )


def _entity_view(lake: dict[str, DataFrame]) -> DataFrame:
    """`entity(lake)` behind a keyed lineage cut, in the session
    store's one "entity-view" slot. The key is the three frames
    themselves (a DataFrame compares by identity), not their plans: a
    lake re-loaded after an in-place rewrite plans the same as before,
    and must not be served the old rows. Holding the frames in the key
    keeps their ids from being reused, and a new frame for any of the
    three releases the old view."""
    return cut(
        lambda: entity(lake), "entity-view",
        (lake["target"], lake["t2tc"], lake["protein"]),
    )


_FIND_COLS = {
    "sym": "sym", "uniprot": "uniprot", "geneid": "geneid",
    "stringid": "stringid", "name": "target_name",
    "tdl": "tdl", "fam": "fam",
}


def find_targets(lake: dict[str, DataFrame], **criteria) -> DataFrame:
    """find_targets(sym=..., uniprot=..., geneid=..., stringid=...,
    name=..., tdl=..., fam=...) — conjunctive equality like the
    reference's appended `AND p.<col> = %s` (`loaders/TCRD.py:
    2266-2289`). Returns distinct target_ids."""
    for k in criteria:
        if k not in _FIND_COLS:
            raise KeyError(f"unsupported find_targets key: {k}")
    df = _entity_view(lake)
    for k, v in criteria.items():
        df = df.filter(F.col(_FIND_COLS[k]) == v)
    return df.select("target_id").distinct()


def _attached_targets(
    lake: dict[str, DataFrame], rows: DataFrame
) -> DataFrame:
    """Distinct target_ids of `rows` through either attachment: the
    rows' own `target_id` ∪ their `protein_id` mapped through t2tc —
    the reference's two-branch union+set() (`loaders/TCRD.py:
    2338-2342`)."""
    direct = rows.filter(F.col("target_id").isNotNull()).select("target_id")
    via_protein = (
        rows.filter(F.col("protein_id").isNotNull())
        .select("protein_id")
        .join(lake["t2tc"], "protein_id")
        .select("target_id")
    )
    return direct.unionByName(via_protein).distinct()


def find_targets_by_xref(
    lake: dict[str, DataFrame], xtype: str, value: str
) -> DataFrame:
    """Two-branch xref lookup: target-attached ∪ protein-attached,
    deduped (`loaders/TCRD.py:2300-2353`)."""
    return _attached_targets(lake, lake["xref"].filter(
        (F.col("xtype") == xtype) & (F.col("value") == value)
    ))


def find_targets_by_alias(
    lake: dict[str, DataFrame], atype: str, value: str
) -> DataFrame:
    """4-way alias join (`loaders/TCRD.py:2355-2392`)."""
    a = lake["alias"].filter(
        (F.col("type") == atype) & (F.col("value") == value)
    )
    return (
        a.select("protein_id")
        .join(lake["t2tc"], "protein_id")
        .select("target_id")
        .distinct()
    )


def get_beans(lake: dict[str, DataFrame]) -> DataFrame:
    """Count dashboard (`loaders/TCRD.py:1711-1811` get_beans +
    get_count_typecount): one row per (table, type) with row count —
    all tables in one unioned aggregation pass."""
    parts = []
    typed = {
        "tdl_info": "itype", "xref": "xtype", "expression": "etype",
        "disease": "dtype", "pathway": "pwtype", "ppi": "ppitype",
    }
    for tbl, tcol in typed.items():
        if tbl in lake:
            parts.append(
                lake[tbl]
                .groupBy(F.lit(tbl).alias("table_name"), F.col(tcol).alias("type"))
                .agg(F.count("*").alias("ct"))
            )
    for tbl in ("target", "protein", "alias", "goa", "generif"):
        if tbl in lake:
            parts.append(
                lake[tbl].agg(
                    F.lit(tbl).alias("table_name"),
                    F.lit(None).cast("string").alias("type"),
                    F.count("*").alias("ct"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


DOMAIN_XTYPES = ("Pfam", "InterPro", "PROSITE")


def get_target_features(lake: dict[str, DataFrame]) -> DataFrame:
    """Distinct protein domain features across the three domain xref
    namespaces, unioned and deduped (`loaders/TCRD.py:2422-2608`
    get_target_features appends Pfam ∪ InterPro ∪ PROSITE)."""
    x = lake["xref"].filter(
        F.col("xtype").isin(*DOMAIN_XTYPES)
        & F.col("protein_id").isNotNull()
    )
    return x.select("protein_id", "xtype", "value").distinct()


def get_common_pathway(
    lake: dict[str, DataFrame], pid1: int, pid2: int, pwtype: str = "KEGG"
) -> DataFrame:
    """Pathway names shared by two proteins — the reference's pathway
    self-join on name (`loaders/TCRD.py:2871-2883`), expressed as the
    intersect of the two name sets."""
    pw = lake["pathway"].filter(F.col("pwtype") == pwtype)
    a = pw.filter(F.col("protein_id") == pid1).select("name")
    b = pw.filter(F.col("protein_id") == pid2).select("name")
    return a.intersect(b)


def get_nearest_tclin(lake: dict[str, DataFrame]) -> DataFrame:
    """Nearest-Tclin over kegg_distance, both directions, ties kept
    (`loaders/TCRD.py:2800-2869`; `loaders/load-KEGGNearestTclins.py:
    83-110`). The reference runs 2 MIN-then-requery queries per
    non-Tclin protein; here each direction is one join + rank window
    for ALL proteins (operators/graph.py nearest_flagged). Returns
    (protein_id, direction up/downstream, tclin_id, distance)."""
    from tcrd_spark.operators.graph import nearest_flagged

    tclin_pids = (
        lake["target"]
        .filter(F.col("tdl") == "Tclin")
        .select(F.col("id").alias("target_id"))
        .join(lake["t2tc"], "target_id")
        .select(F.col("protein_id").alias("tclin_id"))
        .distinct()
    )
    kd = lake["kegg_distance"].select(
        F.col("pid1"), F.col("pid2"), F.col("distance")
    )
    # downstream: self is pid1, flagged target is pid2
    down = nearest_flagged(
        kd.select(F.col("pid1").alias("protein_id"),
                  F.col("pid2").alias("other"), "distance"),
        tclin_pids, "protein_id", "other", "tclin_id",
    ).select("protein_id", F.lit("downstream").alias("direction"),
             F.col("other").alias("tclin_id"), "distance")
    # upstream: self is pid2, flagged target is pid1
    up = nearest_flagged(
        kd.select(F.col("pid2").alias("protein_id"),
                  F.col("pid1").alias("other"), "distance"),
        tclin_pids, "protein_id", "other", "tclin_id",
    ).select("protein_id", F.lit("upstream").alias("direction"),
             F.col("other").alias("tclin_id"), "distance")
    both = down.unionByName(up)
    # only non-Tclin proteins get rows (load-KEGGNearestTclins.py:83)
    return both.join(
        tclin_pids.withColumnRenamed("tclin_id", "protein_id"),
        "protein_id",
        "left_anti",
    )


def get_protein_dto(lake: dict[str, DataFrame]) -> DataFrame:
    """DTO classification path per protein — the reference walks the
    dto.parent_id chain recursively per protein (`loaders/TCRD.py:
    2127-2137` get_protein_dto). One ancestor-closure pass over the
    dto edge table serves every protein at once. Returns
    (protein_id, dtoid, ancestor, depth); depth 0 is the node itself."""
    from tcrd_spark.operators.graph import ancestor_closure_edges

    dto = lake["dto"]
    edges = dto.filter(F.col("parent_id").isNotNull()).select(
        F.col("id").alias("child"), F.col("parent_id").alias("parent")
    )
    closure = ancestor_closure_edges(edges, "child", "parent")
    p = lake["protein"].filter(F.col("dtoid").isNotNull()).select(
        F.col("id").alias("protein_id"), F.col("dtoid")
    )
    self_rows = p.select(
        "protein_id", "dtoid",
        F.col("dtoid").alias("ancestor"), F.lit(0).alias("depth"),
    )
    walked = p.join(
        closure.withColumnRenamed("node", "dtoid"), "dtoid"
    ).select("protein_id", "dtoid", "ancestor", "depth")
    return self_rows.unionByName(walked)


def tdl_evolution(versions: dict[str, DataFrame]) -> DataFrame:
    """TDLevol (`python/mk-TDLevol.py:14-50`): per-uniprot TDL across
    schema versions as one wide matrix — the reference's nested-dict
    merge is a union + pivot. versions: {version_label: df(uniprot,
    tdl)}; output (uniprot, <one col per version>), first() per cell
    (uniprot is unique per version)."""
    parts = [
        df.select(
            F.col("uniprot"), F.lit(v).alias("version"), F.col("tdl")
        )
        for v, df in versions.items()
    ]
    allv = parts[0]
    for p in parts[1:]:
        allv = allv.unionByName(p)
    return (
        allv.groupBy("uniprot")
        .pivot("version", list(versions))
        .agg(F.first("tdl"))
    )


def _grouped_list(df: DataFrame, key: str, struct_cols: list[str], alias: str):
    """Deterministically-ordered nested array per key (array_sort on the
    struct gives a stable order regardless of shuffle partitioning)."""
    return df.groupBy(key).agg(
        F.array_sort(F.collect_list(F.struct(*struct_cols))).alias(alias)
    )


# TIN-X importance excludes top-level/uninformative DO terms
# (`loaders/TCRD.py:2108` bad_diseases).
BAD_TINX_DISEASES = (
    "disease", "disease by infectious agent", "bacterial infectious disease",
    "fungal infectious disease", "parasitic infectious disease",
    "viral infectious disease", "disease of anatomical entity",
    "cardiovascular system disease", "endocrine system disease",
    "gastrointestinal system disease", "immune system disease",
    "integumentary system disease", "musculoskeletal system disease",
    "nervous system disease", "reproductive system disease",
    "respiratory system disease", "thoracic disease",
    "urinary system disease", "disease of cellular proliferation",
    "benign neoplasm", "cancer", "pre-malignant neoplasm",
    "disease of mental health", "cognitive disorder",
    "developmental disorder of mental health", "dissociative disorder",
    "factitious disorder", "gender identity disorder",
    "impulse control disorder", "personality disorder", "sexual disorder",
    "sleep disorder", "somatoform disorder", "substance-related disorder",
    "disease of metabolism", "acquired metabolic disease",
    "inherited metabolic disorder", "genetic disease", "physical disorder",
    "syndrome",
)


def target_documents(
    lake: dict[str, DataFrame],
    target_ids: list[int] | None = None,
    get_ga_counts: bool = True,
) -> DataFrame:
    """The nested 'target document' — get_target(include_annotations=
    True) for EVERY target in one plan (`loaders/TCRD.py:1857-1951` +
    get_protein `:1953-2125`). The reference's ~40 point-queries per
    entity become one grouped join per annotation table; xrefs and
    features arrive as a map type→list like the adaptor's
    dict-of-lists (`:1988-1998`, `:2072-2081`).

    Annotation coverage mirrors get_protein: aliases, tdl_infos, xrefs,
    generifs, goas, pmscores, expressions, mlp_assay_infos,
    compartments, phenotypes, orthologs, pathways, pubmeds, features,
    panther_classes, patent_counts, tinx novelty/importances
    (bad-disease filtered, `:2108`), gene_attribute counts (`:2114`,
    behind get_ga_counts like the reference flag), kegg_nearest_tclins
    (`:2120`), gwases; plus the target-level tdl_infos, diseases and
    drug/cmpd activities of get_target. Tables absent from the lake
    are skipped, so a thin lake still builds a thin document.

    Scale: every annotation is one partial-aggregated groupBy on the
    entity key followed by a left join on that same key — no fan-out
    N+1, no per-entity driver loop; array sorting is row-local."""
    ent = entity(lake).withColumnRenamed("protein_id", "pid")
    base_cols = [
        "target_id", "target_name", "ttype", "tdl", "idg", "fam",
        F.col("pid").alias("protein_id"),
        F.col("name").alias("protein_name"), "description",
        "uniprot", "sym", "geneid", "stringid", "dtoid",
    ]
    if "dtoclass" in ent.columns:
        base_cols.append("dtoclass")
    base = ent.select(*base_cols)
    if target_ids is not None:
        base = base.filter(F.col("target_id").isin(target_ids))

    p_joins: list[DataFrame] = []   # joined on protein_id
    t_joins: list[DataFrame] = []   # joined on target_id

    # typed-EAV infos, protein- and target-attached (TCRD.py:1975-1984
    # and get_target :1890-1900)
    infos = dereference(lake["tdl_info"], lake["info_type"])
    p_joins.append(
        infos.filter(F.col("protein_id").isNotNull())
        .groupBy("protein_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("itype", "value")))
            ).alias("tdl_infos")
        )
    )
    if "target_id" in infos.columns:
        t_joins.append(
            infos.filter(F.col("target_id").isNotNull())
            .groupBy("target_id")
            .agg(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("itype", "value")))
                ).alias("target_tdl_infos")
            )
        )

    p_joins.append(_grouped_list(
        lake["alias"].select("protein_id", "type", "value"),
        "protein_id", ["type", "value"], "aliases",
    ))
    # xrefs grouped by type into a map of value-lists (TCRD.py:1988-1998)
    p_joins.append(
        lake["xref"]
        .filter(F.col("protein_id").isNotNull())
        .groupBy("protein_id", "xtype")
        .agg(F.array_sort(F.collect_list("value")).alias("vals"))
        .groupBy("protein_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("xtype", "vals")))
            ).alias("xrefs")
        )
    )
    p_joins.append(_grouped_list(
        lake["goa"].select("protein_id", "go_id", "go_term", "evidence"),
        "protein_id", ["go_id", "go_term", "evidence"], "goas",
    ))
    p_joins.append(_grouped_list(
        lake["expression"].select(
            "protein_id", "etype", "tissue", "qual_value", "number_value"
        ),
        "protein_id", ["etype", "tissue", "qual_value", "number_value"],
        "expressions",
    ))

    # straightforward per-protein annotation arrays (get_protein
    # :2001-2097); each tuple = (table, struct columns, output name)
    simple = [
        ("generif", ["pubmed_ids", "text"], "generifs"),
        ("pmscore", ["year", "score"], "pmscores"),
        ("phenotype", ["ptype", "trait", "term_id", "term_name"],
         "phenotypes"),
        ("ortholog", ["species", "symbol", "name"], "orthologs"),
        ("patent_count", ["year", "count"], "patent_counts"),
        ("compartment", ["ctype", "go_id", "go_term"], "compartments"),
        ("mlp_assay_info", ["assay_name", "method", "total_sids"],
         "mlp_assay_infos"),
        ("gwas", ["disease_trait", "mapped_trait_uri", "p_value"],
         "gwases"),
        ("kegg_nearest_tclin", ["tclin_id", "direction", "distance"],
         "kegg_nearest_tclins"),
    ]
    for tbl, cols, out_name in simple:
        if tbl in lake:
            p_joins.append(_grouped_list(
                lake[tbl].select("protein_id", *cols),
                "protein_id", cols, out_name,
            ))

    if "pathway" in lake:
        p_joins.append(_grouped_list(
            lake["pathway"]
            .filter(F.col("protein_id").isNotNull())
            .select("protein_id", "pwtype", "name"),
            "protein_id", ["pwtype", "name"], "pathways",
        ))
    if "protein2pubmed" in lake and "pubmed" in lake:
        pm = lake["protein2pubmed"].join(
            lake["pubmed"].select(
                F.col("id").alias("pubmed_id"), "title"
            ),
            "pubmed_id",
        )
        p_joins.append(_grouped_list(
            pm, "protein_id", ["pubmed_id", "title"], "pubmeds",
        ))
    if "feature" in lake:
        p_joins.append(
            lake["feature"]
            .groupBy("protein_id", "type")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(
                        "begin", "end", "position", "description"
                    ))
                ).alias("rows")
            )
            .groupBy("protein_id")
            .agg(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("type", "rows")))
                ).alias("features")
            )
        )
    if "p2pc" in lake and "panther_class" in lake:
        pc = lake["p2pc"].join(
            lake["panther_class"].select(
                F.col("id").alias("panther_class_id"), "pcid", "name"
            ),
            "panther_class_id",
        )
        p_joins.append(_grouped_list(
            pc, "protein_id", ["pcid", "name"], "panther_classes",
        ))
    if get_ga_counts and "gene_attribute" in lake and \
            "gene_attribute_type" in lake:
        ga = lake["gene_attribute"].join(
            F.broadcast(lake["gene_attribute_type"].select(
                F.col("id").alias("gat_id"), F.col("name").alias("gat_name")
            )),
            "gat_id",
        )
        p_joins.append(
            ga.groupBy("protein_id", "gat_name")
            .agg(F.count("*").alias("attr_count"))
            .groupBy("protein_id")
            .agg(
                F.map_from_entries(
                    F.array_sort(
                        F.collect_list(F.struct("gat_name", "attr_count"))
                    )
                ).alias("gene_attribute_counts")
            )
        )
    if "tinx_novelty" in lake:
        p_joins.append(
            lake["tinx_novelty"].select(
                "protein_id", F.col("score").alias("tinx_novelty")
            )
        )
    if "tinx_importance" in lake and "tinx_disease" in lake:
        ti = lake["tinx_importance"].join(
            F.broadcast(lake["tinx_disease"].select(
                F.col("id").alias("disease_id"),
                F.col("name").alias("disease"),
            )),
            "disease_id",
        ).filter(~F.col("disease").isin(*BAD_TINX_DISEASES))
        # ordered by score DESC like the reference's ORDER BY (:2109)
        p_joins.append(
            ti.groupBy("protein_id")
            .agg(
                F.reverse(
                    F.array_sort(
                        F.collect_list(F.struct("score", "disease"))
                    )
                ).alias("tinx_importances")
            )
        )

    # target-attached annotations (get_target :1901-1950)
    t_joins.append(
        lake["disease"]
        .filter(F.col("target_id").isNotNull())
        .select("target_id", "dtype", "name", "did", "zscore")
        .groupBy("target_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("zscore", "dtype", "name", "did"))
            ).alias("_d")
        )
        # ordered by zscore DESC like `loaders/TCRD.py:1905`
        .select("target_id", F.reverse("_d").alias("diseases"))
    )
    t_joins.append(_grouped_list(
        lake["drug_activity"].select(
            "target_id", "drug", "has_moa", "act_value", "act_type"
        ),
        "target_id", ["drug", "has_moa", "act_value", "act_type"],
        "drug_activities",
    ))
    if "cmpd_activity" in lake:
        t_joins.append(_grouped_list(
            lake["cmpd_activity"].select(
                "target_id", "catype", "cmpd_id_in_src", "act_value",
                "act_type",
            ),
            "target_id", ["catype", "cmpd_id_in_src", "act_value",
                          "act_type"],
            "cmpd_activities",
        ))

    out = base
    for ann in p_joins:
        out = out.join(ann, "protein_id", "left")
    for ann in t_joins:
        out = out.join(ann, "target_id", "left")
    return out


# the 47 expanded-export headers, verbatim (`python/tcrd2csv.py:45-47`)
EXPANDED_HEADER = [
    "TCRD ID", "Name", "Description", "HGNC Sym", "NCBI Gene ID",
    "UniProt", "STRING ID", "TDL", "IDG Eligible", "DTO ID", "DTO Class",
    "PANTHER Class(es)", "GeneRIF Count", "NCBI Gene PubMed Count",
    "JensenLab PubMed Score", "PubTator Score", "Ab Count",
    "Monoclonal Ab Count", "Activity Count", "ChEMBL Selective Compound",
    "ChEMBL First Reference Year", "DrugCentral Activity Count",
    "PDB Count", "PDBs", "GO Annotation Count",
    "Experimental MF/BP Leaf Term GOA(s)", "OMIM Phenotype Count",
    "OMIM Phenotype(s)", "JAX/MGI Human Ortholog Phenotype Count",
    "JAX/MGI Human Ortholog Phenotype(s)", "IMPC Ortholog Phenotype Count",
    "IMPC Ortholog Phenotype(s)", "GWAS Count", "GWAS Phenotype(s)",
    "Pathway Count", "Pathways", "Total Disease Count",
    "Top 5 Text-Mining DISEASES", "eRAM Diseases", "EBI Patent Count",
    "Is Transcription Factor", "TMHMM Prediction",
    "HPA Tissue Specificity Index", "HPM Gene Tissue Specificity Index",
    "HPM Protein Tissue Specificity Index", "TIN-X Novelty",
    "Top 5 TIN-X Importance(s)",
]


def export_wide_csv_df(lake: dict[str, DataFrame]) -> DataFrame:
    """tcrd2csv --expand flat export (`python/tcrd2csv.py:45-47,90-270`
    target2csv_exp): all 47 expanded columns, named exactly as the
    reference's CSV header, as ONE wide SELECT over the nested
    document — every per-target Python branch becomes a row-local
    array expression (filter/transform/slice/array_join), so the
    flattening costs zero extra shuffles beyond the document build.
    Annotation tables absent from the lake yield NULL columns (the
    reference emits '' for a missing dict key)."""
    doc = target_documents(lake)
    cols = set(doc.columns)
    null_s = F.lit(None).cast("string")
    null_i = F.lit(None).cast("int")

    def arr(c):
        return F.coalesce(F.col(c), F.array()) if c in cols else None

    def info(key, default=None):
        v = F.element_at(F.col("tdl_infos"), key)
        return F.coalesce(v, F.lit(default)) if default is not None else v

    def tinfo(key):
        if "target_tdl_infos" in cols:
            return F.element_at(F.col("target_tdl_infos"), key)
        return null_s

    def count_and_pipe(items, fmt):
        """The reference's `if xs: append(len); append('|'.join)` pair —
        ('' , '') when empty. items=None → table absent → NULLs."""
        if items is None:
            return null_i, null_s
        n = F.size(items)
        joined = F.array_join(F.transform(items, fmt), "|")
        return F.when(n > 0, n), F.when(n > 0, joined)

    phen = arr("phenotypes")
    omims = F.filter(phen, lambda p: p["ptype"] == "OMIM") if phen is not None else None
    jaxs = (
        F.filter(phen, lambda p: p["ptype"] == "JAX/MGI Human Ortholog Phenotype")
        if phen is not None else None
    )
    impcs = F.filter(phen, lambda p: p["ptype"] == "IMPC") if phen is not None else None
    term_fmt = lambda p: F.concat_ws(":", p["term_id"], p["term_name"])  # noqa: E731
    omim_n, omim_s = count_and_pipe(omims, lambda p: p["trait"])
    jax_n, jax_s = count_and_pipe(jaxs, term_fmt)
    impc_n, impc_s = count_and_pipe(impcs, term_fmt)
    gwas_n, gwas_s = count_and_pipe(
        arr("gwases"),
        lambda g: F.concat(
            g["disease_trait"], F.lit(" ("), g["mapped_trait_uri"],
            F.lit("):"), g["p_value"].cast("string"),
        ),
    )
    pw_n, pw_s = count_and_pipe(
        arr("pathways"), lambda p: F.concat_ws(":", p["pwtype"], p["name"])
    )

    dz = arr("diseases")
    tm = F.filter(dz, lambda d: d["dtype"] == "JensenLab Text Mining")
    erams = F.filter(dz, lambda d: d["dtype"] == "eRAM")
    pdbs = F.coalesce(
        F.element_at(F.col("xrefs"), "PDB"),
        F.array().cast("array<string>"),
    )
    txis = arr("tinx_importances")

    return doc.select(
        F.col("target_id").alias("TCRD ID"),
        F.col("protein_name").alias("Name"),
        F.col("description").alias("Description"),
        F.col("sym").alias("HGNC Sym"),
        F.col("geneid").alias("NCBI Gene ID"),
        F.col("uniprot").alias("UniProt"),
        F.col("stringid").alias("STRING ID"),
        F.col("tdl").alias("TDL"),
        F.col("idg").cast("int").alias("IDG Eligible"),
        F.col("dtoid").alias("DTO ID"),
        (F.col("dtoclass") if "dtoclass" in cols else null_s).alias("DTO Class"),
        F.array_join(
            F.transform(
                arr("panther_classes") if "panther_classes" in cols else F.array().cast(
                    "array<struct<pcid:string,name:string>>"
                ),
                lambda c: F.concat_ws(":", c["pcid"], c["name"]),
            ),
            "|",
        ).alias("PANTHER Class(es)"),
        F.size(arr("generifs") if "generifs" in cols else F.array()).alias(
            "GeneRIF Count"
        ),
        info("NCBI Gene PubMed Count", "0").alias("NCBI Gene PubMed Count"),
        info("JensenLab PubMed Score", "0").alias("JensenLab PubMed Score"),
        info("PubTator Score", "0").alias("PubTator Score"),
        info("Ab Count").alias("Ab Count"),
        info("MAb Count").alias("Monoclonal Ab Count"),
        F.size(arr("cmpd_activities") if "cmpd_activities" in cols else F.array())
        .alias("Activity Count"),
        tinfo("ChEMBL Selective Compound").alias("ChEMBL Selective Compound"),
        tinfo("ChEMBL First Reference Year").alias("ChEMBL First Reference Year"),
        F.size(arr("drug_activities")).alias("DrugCentral Activity Count"),
        F.size(pdbs).alias("PDB Count"),
        F.array_join(pdbs, "|").alias("PDBs"),
        F.size(arr("goas")).alias("GO Annotation Count"),
        info("Experimental MF/BP Leaf Term GOA", "0").alias(
            "Experimental MF/BP Leaf Term GOA(s)"
        ),
        omim_n.alias("OMIM Phenotype Count"),
        omim_s.alias("OMIM Phenotype(s)"),
        jax_n.alias("JAX/MGI Human Ortholog Phenotype Count"),
        jax_s.alias("JAX/MGI Human Ortholog Phenotype(s)"),
        impc_n.alias("IMPC Ortholog Phenotype Count"),
        impc_s.alias("IMPC Ortholog Phenotype(s)"),
        gwas_n.alias("GWAS Count"),
        gwas_s.alias("GWAS Phenotype(s)"),
        pw_n.alias("Pathway Count"),
        pw_s.alias("Pathways"),
        F.size(F.array_distinct(F.transform(dz, lambda d: d["name"]))).alias(
            "Total Disease Count"
        ),
        F.when(
            F.size(tm) > 0,
            F.array_join(
                F.transform(
                    F.slice(tm, 1, 5),
                    lambda d: F.concat(
                        d["name"], F.lit(" (ZScore: "),
                        d["zscore"].cast("string"), F.lit(")"),
                    ),
                ),
                "|",
            ),
        ).alias("Top 5 Text-Mining DISEASES"),
        F.when(
            F.size(erams) > 0,
            F.array_join(
                F.transform(
                    erams,
                    lambda d: F.concat(d["did"], F.lit(": "), d["name"]),
                ),
                "|",
            ),
        ).alias("eRAM Diseases"),
        info("EBI Total Patent Count", "0").alias("EBI Patent Count"),
        F.when(
            F.coalesce(
                F.map_contains_key(F.col("tdl_infos"), "Is Transcription Factor"),
                F.lit(False),
            ),
            1,
        ).otherwise(0).alias("Is Transcription Factor"),
        F.coalesce(
            F.nullif(
                F.regexp_extract(info("TMHMM Prediction"), r"PredHel=(\d)", 1),
                F.lit(""),
            ),
            F.lit("0"),
        ).alias("TMHMM Prediction"),
        info("HPA Tissue Specificity Index").alias("HPA Tissue Specificity Index"),
        info("HPM Gene Tissue Specificity Index").alias(
            "HPM Gene Tissue Specificity Index"
        ),
        info("HPM Protein Tissue Specificity Index").alias(
            "HPM Protein Tissue Specificity Index"
        ),
        (F.col("tinx_novelty") if "tinx_novelty" in cols else null_s.cast("double"))
        .alias("TIN-X Novelty"),
        (
            F.array_join(
                F.transform(
                    F.slice(txis, 1, 5),
                    lambda t: F.concat(
                        t["disease"], F.lit(": "), t["score"].cast("string")
                    ),
                ),
                "|",
            )
            if txis is not None else null_s
        ).alias("Top 5 TIN-X Importance(s)"),
    )


def documents_to_lake(doc: DataFrame) -> dict[str, DataFrame]:
    """The set-based inverse of `target_documents` — ins_target /
    ins_protein re-expressed (`loaders/TCRD.py:136-231` inserts one
    nested dict across target+protein+annotation tables per call; here
    ONE document frame explodes back into every normalized table at
    once). Round-tripping lake → documents → lake is the write-side
    proof that the nested assembly loses nothing.

    Only annotation families whose columns the document carries are
    emitted; each is one explode + projection (row-local, no shuffle
    beyond the write)."""
    cols = set(doc.columns)
    out: dict[str, DataFrame] = {}
    out["target"] = doc.select(
        F.col("target_id").alias("id"),
        F.col("target_name").alias("name"),
        "ttype", "tdl", "idg", "fam",
    )
    pcols = [
        F.col("protein_id").alias("id"),
        F.col("protein_name").alias("name"),
        "description", "uniprot", "sym", "geneid", "stringid", "dtoid",
    ]
    if "dtoclass" in cols:
        pcols.append("dtoclass")
    out["protein"] = doc.select(*pcols)
    out["t2tc"] = doc.select("target_id", "protein_id")

    def explode_p(col: str, fields: dict[str, str]) -> DataFrame:
        return (
            doc.filter(F.col(col).isNotNull())
            .select("protein_id", F.explode(col).alias("_e"))
            .select(
                "protein_id",
                *[F.col(f"_e.{src}").alias(dst) for src, dst in fields.items()],
            )
        )

    if "aliases" in cols:
        out["alias"] = explode_p("aliases", {"type": "type", "value": "value"})
    if "goas" in cols:
        out["goa"] = explode_p(
            "goas",
            {"go_id": "go_id", "go_term": "go_term", "evidence": "evidence"},
        )
    if "expressions" in cols:
        out["expression"] = explode_p(
            "expressions",
            {"etype": "etype", "tissue": "tissue",
             "qual_value": "qual_value", "number_value": "number_value"},
        )
    if "generifs" in cols:
        out["generif"] = explode_p(
            "generifs", {"pubmed_ids": "pubmed_ids", "text": "text"}
        )
    if "pmscores" in cols:
        out["pmscore"] = explode_p(
            "pmscores", {"year": "year", "score": "score"}
        )
    if "pathways" in cols:
        out["pathway"] = explode_p(
            "pathways", {"pwtype": "pwtype", "name": "name"}
        )
    if "phenotypes" in cols:
        out["phenotype"] = explode_p(
            "phenotypes",
            {"ptype": "ptype", "trait": "trait", "term_id": "term_id",
             "term_name": "term_name"},
        )
    if "xrefs" in cols:
        out["xref"] = (
            doc.filter(F.col("xrefs").isNotNull())
            .select("protein_id", F.explode("xrefs").alias("xtype", "vals"))
            .select("protein_id", "xtype", F.explode("vals").alias("value"))
        )
    if "diseases" in cols:
        out["disease"] = (
            doc.filter(F.col("diseases").isNotNull())
            .select("target_id", F.explode("diseases").alias("_d"))
            .select(
                "target_id",
                F.col("_d.dtype").alias("dtype"),
                F.col("_d.name").alias("name"),
                F.col("_d.did").alias("did"),
                F.col("_d.zscore").alias("zscore"),
            )
        )
    if "drug_activities" in cols:
        out["drug_activity"] = (
            doc.filter(F.col("drug_activities").isNotNull())
            .select("target_id", F.explode("drug_activities").alias("_d"))
            .select(
                "target_id",
                F.col("_d.drug").alias("drug"),
                F.col("_d.has_moa").alias("has_moa"),
                F.col("_d.act_value").alias("act_value"),
                F.col("_d.act_type").alias("act_type"),
            )
        )
    return out


# ------------------------------------------------- point-lookup parity

def get_target(
    lake: dict[str, DataFrame],
    target_id: int,
    include_annotations: bool = False,
    get_ga_counts: bool = True,
) -> DataFrame:
    """Single-target lookup (`loaders/TCRD.py:1812-1855` without
    annotations; `:1857-1951` with). With annotations this is one
    nested-document row — the reference's ~40 point queries for the id
    collapse into the target_documents plan filtered to it (the filter
    pushes down to every annotation scan). Without, it filters the
    lake's materialized entity view (`_entity_view`)."""
    if include_annotations:
        return target_documents(
            lake, target_ids=[target_id], get_ga_counts=get_ga_counts
        )
    return _entity_view(lake).filter(F.col("target_id") == target_id)


def get_protein(
    lake: dict[str, DataFrame],
    protein_id: int,
    include_annotations: bool = False,
) -> DataFrame:
    """Single-protein lookup (`loaders/TCRD.py:1953-2125`). Annotated
    form returns the protein's nested document row(s) via the bridge;
    bare form is the protein table row."""
    if include_annotations:
        ids = [
            r.target_id
            for r in lake["t2tc"]
            .filter(F.col("protein_id") == protein_id)
            .select("target_id")
            .collect()
        ]
        return target_documents(lake, target_ids=ids)
    return lake["protein"].filter(F.col("id") == protein_id)


def get_nhprotein(lake: dict[str, DataFrame], nhprotein_id: int) -> DataFrame:
    """`loaders/TCRDMP.py:3085-3098` — nhprotein row by id."""
    return lake["nhprotein"].filter(F.col("id") == nhprotein_id)


def get_nhprotein_count(
    lake: dict[str, DataFrame], species: str | None = None
) -> int:
    """`loaders/TCRDMP.py:3070-3083`."""
    df = lake["nhprotein"]
    if species:
        df = df.filter(F.col("species") == species)
    return df.count()


# Reference method names whose Spark implementations carry clearer
# names — bound here so a caller porting from DBAdaptor finds them
# (`loaders/TCRD.py:2871` / `:2800`).
get_common_kegg_pathway = get_common_pathway
get_nearest_kegg_tclins = get_nearest_tclin
