"""Seeded generator of a TCRD-shaped parquet lake, with its ground truth.

Every table conforms to `tcrd_spark.schema.tables.TABLE_SCHEMAS`. Per
protein there are 10 xref, 3 alias, 3 typed-EAV `tdl_info`, 5 goa,
20 expression and 0-4 generif rows; targets map 1:1 to proteins through
`t2tc`, and a minority carry disease, drug and compound activity rows.
`Truth` keeps what the benchmark needs to check answers without asking
the program: the per-target identifiers, per-protein annotation counts,
and the TDL inputs, so a TDL refresh can be recomputed independently.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PMS = "JensenLab PubMed Score"
AB = "Ab Count"
EFL = "Experimental MF/BP Leaf Term GOA"
FUNC = "UniProt Function"
INFO_TYPES = ((PMS, "Number"), (AB, "Integer"), (EFL, "String"),
              (FUNC, "String"))
FAMS = ("GPCR", "Kinase", "IC", "NR", "Enzyme", "TF", "Transporter")
KEYWORDS = 400
TISSUES = tuple(f"tissue_{i}" for i in range(60))
ETYPES = ("HPA", "GTEx", "HPM Gene", "Consensus")
DRUG_SOURCES = ("DrugCentral", "ChEMBL", "IUPHAR")
N_XREF, N_ALIAS, N_GOA, N_EXPR = 10, 3, 5, 20


def spark_to_arrow(dtype: str) -> pa.DataType:
    if dtype.startswith("decimal"):
        p, s = dtype[8:-1].split(",")
        return pa.decimal128(int(p), int(s))
    return {
        "bigint": pa.int64(), "int": pa.int32(), "string": pa.string(),
        "double": pa.float64(), "boolean": pa.bool_(), "date": pa.date32(),
    }[dtype]


def arrow_schema(table: str) -> pa.Schema:
    from tcrd_spark.schema.tables import TABLE_SCHEMAS

    return pa.schema([
        pa.field(f.name, spark_to_arrow(f.dataType.simpleString()), f.nullable)
        for f in TABLE_SCHEMAS[table].fields
    ])


def make_table(table: str, n: int, **cols) -> pa.Table:
    """A `table`-schema Arrow table of `n` rows; absent columns are null."""
    schema = arrow_schema(table)
    arrays = []
    for f in schema:
        v = cols.pop(f.name, None)
        arrays.append(pa.nulls(n, f.type) if v is None else pa.array(v, f.type))
    if cols:
        raise KeyError(f"{table}: unknown columns {sorted(cols)}")
    return pa.Table.from_arrays(arrays, schema=schema)


def tdl_of(moa, drug, cmpd, pms, rif, ab, efl):
    """The load-TDLs rule chain, vectorised (numpy arrays in, labels out)."""
    dark = ((pms < 5.0).astype(int) + (rif <= 3) + (ab <= 50)) >= 2
    out = np.where(dark & ~efl, "Tdark", "Tbio").astype(object)
    out[cmpd > 0] = "Tchem"
    out[drug > 0] = "Tchem"
    out[moa > 0] = "Tclin"
    bumped = (moa == 0) & (drug == 0) & (cmpd == 0) & dark & efl
    return out, bumped


@dataclass
class Truth:
    """Ground truth, indexed by target position i (target id = i + 1)."""

    protein_id: np.ndarray
    sym: list
    uniprot: list
    ensembl: list
    keyword_targets: dict
    n_generif: np.ndarray
    n_disease: np.ndarray
    n_drug: np.ndarray
    n_moa: np.ndarray
    n_cmpd: np.ndarray
    pms: np.ndarray
    ab: np.ndarray
    efl: np.ndarray
    tdl: np.ndarray
    pms_info_id: np.ndarray
    ab_info_id: np.ndarray
    next_id: int

    def tdl_now(self):
        return tdl_of(self.n_moa, self.n_drug, self.n_cmpd, self.pms,
                      self.n_generif, self.ab, self.efl)

    def tdl_counts(self) -> dict:
        tdl, bumped = self.tdl_now()
        return {
            t: (int((tdl == t).sum()), int((bumped & (tdl == t)).sum()))
            for t in sorted(set(tdl))
        }


def generate(n: int, seed: int) -> tuple[dict[str, pa.Table], Truth]:
    rng = np.random.default_rng(seed)
    tid = np.arange(1, n + 1, dtype=np.int64)
    pid = rng.permutation(n).astype(np.int64) + 100_001
    sym = [f"G{seed % 97}S{i}" for i in range(n)]
    uniprot = [f"Q{i:06d}" for i in range(n)]
    fam = [FAMS[j] for j in rng.integers(0, len(FAMS), n)]
    t = {}
    t["protein"] = make_table(
        "protein", n, id=pid, name=[f"P{i}_HUMAN" for i in range(n)],
        description=[f"protein {i}" for i in range(n)], uniprot=uniprot,
        up_version=np.full(n, 1, np.int32), geneid=tid + 5000, sym=sym,
        family=fam, chr=[str(c) for c in rng.integers(1, 23, n)],
        dtoid=[f"DTO_{i}" for i in range(n)],
        stringid=[f"9606.ENSP{i:011d}" for i in range(n)],
    )
    t["t2tc"] = make_table("t2tc", n, target_id=tid, protein_id=pid)

    # xref: one Ensembl and one RefSeq id, two PDB ids, six shared keywords
    x_pid = np.repeat(pid, N_XREF)
    kw = rng.integers(0, KEYWORDS, (n, 6))
    ensembl = [f"ENSG{i:011d}" for i in range(n)]
    values, xtypes = [], []
    for i in range(n):
        values += [ensembl[i], f"NP_{i}", f"{i}A", f"{i}B"]
        values += [f"KW-{k:04d}" for k in kw[i]]
        xtypes += ["Ensembl", "RefSeq", "PDB", "PDB"] + ["UniProt Keyword"] * 6
    t["xref"] = make_table(
        "xref", n * N_XREF, id=np.arange(1, n * N_XREF + 1), xtype=xtypes,
        protein_id=x_pid, value=values,
        dataset_id=np.full(n * N_XREF, 1, np.int64))
    keyword_targets: dict = {}
    for i in range(n):
        for k in set(kw[i].tolist()):
            keyword_targets.setdefault(f"KW-{k:04d}", set()).add(i + 1)

    t["alias"] = make_table(
        "alias", n * N_ALIAS, id=np.arange(1, n * N_ALIAS + 1),
        protein_id=np.repeat(pid, N_ALIAS),
        type=["symbol", "symbol", "uniprot"] * n,
        value=[v for i in range(n)
               for v in (f"{sym[i]}A", f"{sym[i]}B", f"A{uniprot[i]}")],
        dataset_id=np.full(n * N_ALIAS, 1, np.int64))

    t["info_type"] = make_table(
        "info_type", len(INFO_TYPES), name=[a for a, _ in INFO_TYPES],
        data_type=[b for _, b in INFO_TYPES])
    pms = np.round(rng.lognormal(1.2, 1.2, n), 4)
    ab = rng.integers(0, 120, n).astype(np.int32)
    efl = rng.random(n) < 0.2
    # three EAV rows per protein: pubmed score, antibody count, and either
    # the leaf-term GOA flag or a function text
    iid = np.arange(1, 3 * n + 1, dtype=np.int64).reshape(n, 3)
    t["tdl_info"] = make_table(
        "tdl_info", 3 * n, id=iid.ravel(),
        itype=[v for e in efl for v in (PMS, AB, EFL if e else FUNC)],
        protein_id=np.repeat(pid, 3),
        number_value=[v for p in pms for v in (float(p), None, None)],
        integer_value=[v for a in ab for v in (None, int(a), None)],
        string_value=[v for i in range(n) for v in (None, None, f"f{i}")])

    t["goa"] = make_table(
        "goa", n * N_GOA, id=np.arange(1, n * N_GOA + 1),
        protein_id=np.repeat(pid, N_GOA),
        go_id=[f"GO:{g:07d}" for g in rng.integers(0, 5000, n * N_GOA)],
        go_term=[f"P:term{g}" for g in rng.integers(0, 500, n * N_GOA)],
        evidence=[("EXP", "IDA", "IEA")[j]
                  for j in rng.integers(0, 3, n * N_GOA)])

    ne = n * N_EXPR
    t["expression"] = make_table(
        "expression", ne, id=np.arange(1, ne + 1),
        etype=[ETYPES[j] for j in rng.integers(0, len(ETYPES), ne)],
        protein_id=np.repeat(pid, N_EXPR),
        tissue=[TISSUES[j] for j in rng.integers(0, len(TISSUES), ne)],
        qual_value=[("Low", "Medium", "High")[j]
                    for j in rng.integers(0, 3, ne)],
        number_value=np.round(rng.random(ne) * 100, 3))

    n_rif = rng.integers(0, 5, n)
    nr = int(n_rif.sum())
    t["generif"] = make_table(
        "generif", nr, id=np.arange(1, nr + 1),
        protein_id=np.repeat(pid, n_rif),
        pubmed_ids=[str(p) for p in rng.integers(1, 10**7, nr)],
        text=[f"rif {j}" for j in range(nr)])

    n_dis = rng.integers(0, 4, n)
    nd = int(n_dis.sum())
    t["disease"] = make_table(
        "disease", nd, id=np.arange(1, nd + 1),
        dtype=[("DisGeNET", "JensenLab", "UniProt")[j]
               for j in rng.integers(0, 3, nd)],
        target_id=np.repeat(tid, n_dis),
        name=[f"disease {d}" for d in rng.integers(0, 900, nd)],
        did=[f"DOID:{d}" for d in rng.integers(0, 900, nd)],
        zscore=np.round(rng.random(nd) * 5, 3))

    n_drug = np.where(rng.random(n) < 0.06, rng.integers(1, 4, n), 0)
    moa_flags = rng.random(int(n_drug.sum())) < 0.4
    n_moa = np.bincount(np.repeat(np.arange(n), n_drug)[moa_flags],
                        minlength=n)
    ndr = int(n_drug.sum())
    t["drug_activity"] = drug_rows(
        rng, np.arange(1, ndr + 1), np.repeat(tid, n_drug), moa_flags)

    n_cmpd = np.where(rng.random(n) < 0.15, rng.integers(1, 4, n), 0)
    nc = int(n_cmpd.sum())
    t["cmpd_activity"] = make_table(
        "cmpd_activity", nc, id=np.arange(1, nc + 1),
        target_id=np.repeat(tid, n_cmpd), catype=["ChEMBL"] * nc,
        cmpd_id_in_src=[f"CHEMBL{c}" for c in rng.integers(0, 10**6, nc)],
        act_value=[_dec(v) for v in rng.random(nc) * 9],
        act_type=["IC50"] * nc)

    tdl, _ = tdl_of(n_moa, n_drug, n_cmpd, pms, n_rif, ab, efl)
    t["target"] = make_table(
        "target", n, id=tid, name=[f"Target {i}" for i in range(n)],
        ttype=["Single Protein"] * n, tdl=list(tdl),
        idg=rng.random(n) < 0.1, fam=fam)
    t["tdl_update_log"] = make_table("tdl_update_log", 0)

    truth = Truth(
        protein_id=pid, sym=sym, uniprot=uniprot, ensembl=ensembl,
        keyword_targets=keyword_targets, n_generif=n_rif, n_disease=n_dis,
        n_drug=n_drug, n_moa=n_moa, n_cmpd=n_cmpd, pms=pms, ab=ab, efl=efl,
        tdl=tdl, pms_info_id=iid[:, 0], ab_info_id=iid[:, 1],
        next_id=10**9)
    return t, truth


def _dec(v: float):
    from decimal import Decimal

    return Decimal(f"{v:.8f}")


def drug_rows(rng, ids, target_ids, moa) -> pa.Table:
    m = len(ids)
    return make_table(
        "drug_activity", m, id=np.asarray(ids, np.int64),
        target_id=np.asarray(target_ids, np.int64),
        # act_value stays null: snapshots._file_stats raises reading the
        # footer statistics of a non-null decimal column (INT64-encoded)
        drug=[f"drug{d}" for d in rng.integers(0, 5000, m)],
        act_type=["Ki"] * m, has_moa=np.asarray(moa, bool),
        source=[DRUG_SOURCES[j] for j in rng.integers(0, 3, m)])


def write_lake(tables: dict[str, pa.Table], lake_dir: str) -> None:
    os.makedirs(lake_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(lake_dir, f"{name}.parquet"))
