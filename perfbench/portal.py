"""portal_lookups: Pharos-style reads through the DBAdaptor surface.

One client in a closed loop. Nine ops in ten are point ops (bare
`get_target`, `find_targets(sym=)`, `find_targets_by_xref`,
`get_protein`); every tenth is a doc op, `get_target(include_annotations
=True)`. Target ids are Zipf-distributed (s = 1.1) over a seeded
permutation, so hot targets repeat. Every answer is checked against the
generator's ground truth.
"""

from __future__ import annotations

import time

import numpy as np

import gen_lake
from harness import SETUP_REPS, median, percentile

N_TARGETS = 20_000
POINT_KINDS = ("get_target", "find_sym", "find_xref", "get_protein")


class Portal:
    def __init__(self, run, n_targets: int = N_TARGETS):
        self.run = run
        self.n = n_targets
        self.rng = np.random.default_rng(run.seed)
        ranks = np.arange(1, self.n + 1, dtype=np.float64)
        self.cdf = np.cumsum(ranks ** -1.1)
        self.cdf /= self.cdf[-1]
        self.hot = self.rng.permutation(self.n)  # rank -> target index

    def load(self, rep: int):
        from tcrd_spark.sources.lake import load_lake

        tables, self.truth = gen_lake.generate(self.n, self.run.seed)
        lake_dir = self.run.path(f"lake{rep}")
        gen_lake.write_lake(tables, lake_dir)
        self.lake = load_lake(self.run.spark, lake_dir)

    def pick(self) -> int:
        return int(self.hot[np.searchsorted(self.cdf, self.rng.random())])

    def build(self, kind: str, i: int):
        """The op's DataFrame and, for the find ops, the expected ids."""
        from tcrd_spark.api import adaptor

        t = self.truth
        if kind == "get_target":
            return adaptor.get_target(self.lake, i + 1), None
        if kind == "find_sym":
            return adaptor.find_targets(self.lake, sym=t.sym[i]), {i + 1}
        if kind == "find_xref":
            if self.rng.random() < 0.25:
                kw = f"KW-{int(self.rng.integers(0, gen_lake.KEYWORDS)):04d}"
                return (adaptor.find_targets_by_xref(
                    self.lake, "UniProt Keyword", kw),
                    t.keyword_targets.get(kw, set()))
            return (adaptor.find_targets_by_xref(
                self.lake, "Ensembl", t.ensembl[i]), {i + 1})
        if kind == "get_protein":
            return adaptor.get_protein(self.lake, int(t.protein_id[i])), None
        return (adaptor.get_target(self.lake, i + 1, include_annotations=True),
                None)

    def check(self, kind: str, i: int, rows, want_ids) -> str:
        """Empty when `rows` is the right answer, else what is wrong."""
        t = self.truth
        if want_ids is not None:
            got = {r.target_id for r in rows}
            return "" if got == want_ids else f"ids {sorted(got)[:5]}"
        if len(rows) != 1:
            return f"{len(rows)} rows"
        r = rows[0].asDict()
        if kind == "get_protein":
            ok = (r["id"] == t.protein_id[i] and r["uniprot"] == t.uniprot[i])
            return "" if ok else f"protein {r['id']}"
        want = {"target_id": i + 1, "sym": t.sym[i], "uniprot": t.uniprot[i],
                "tdl": t.tdl[i]}
        bad = {k: r.get(k) for k, v in want.items() if r.get(k) != v}
        if kind == "get_target" or bad:
            return f"fields {bad}" if bad else ""
        n = lambda v: len(v) if v else 0  # noqa: E731
        got = (n(r["aliases"]), n(r["goas"]), n(r["expressions"]),
               n(r["generifs"]), n(r["diseases"]), n(r["drug_activities"]),
               n(r["cmpd_activities"]), len(r["tdl_infos"] or {}),
               sum(len(v) for v in (r["xrefs"] or {}).values()))
        exp = (gen_lake.N_ALIAS, gen_lake.N_GOA, gen_lake.N_EXPR,
               int(t.n_generif[i]), int(t.n_disease[i]), int(t.n_drug[i]),
               int(t.n_cmpd[i]), 3, gen_lake.N_XREF)
        return "" if got == exp else f"doc counts {got} != {exp}"

    def op(self, k: int, kind: str):
        """Run and check one op; return its latency in seconds."""
        tr = self.run.tracer
        i = self.pick()
        op = f"op{k}"
        t0 = time.perf_counter()
        try:
            with tr.span(kind, "bench", "unit", op):
                with tr.span(kind, "api", "build", op):
                    df, want_ids = self.build(kind, i)
                with tr.span("collect", "api", "exec", op, [df]) as sp:
                    rows = df.collect()
                    sp["rows"] = len(rows)
            dt = time.perf_counter() - t0
            problem = self.check(kind, i, rows, want_ids)
        except Exception as ex:  # an op that raises counts as failed
            dt, problem = time.perf_counter() - t0, repr(ex)
        self.run.tally.record(f"{kind}({i + 1})", not problem, problem)
        return dt


def run(run, smoke: bool = False) -> tuple[dict, dict, dict]:
    """Returns (end-to-end metrics, per-layer extras, report)."""
    p = Portal(run, 500 if smoke else N_TARGETS)
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        p.load(rep)
        reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    for j, kind in enumerate(POINT_KINDS + ("doc",)):
        p.op(-1 - j, kind)
    warm_s = time.perf_counter() - t0
    setup_s = run.session_s + median(reps) + warm_s

    lat: dict[str, list] = {"point": [], "doc": []}
    t_begin = run.tracer.start_window()
    end = t_begin + run.seconds
    k = 0
    while time.perf_counter() < end or k < 10:  # at least one doc op
        kind = "doc" if k % 10 == 9 else POINT_KINDS[int(p.rng.integers(0, 4))]
        dt = p.op(k, kind)
        lat["doc" if kind == "doc" else "point"].append(dt * 1000.0)
        k += 1
    e2e = {"setup_s": setup_s,
           "light_ms": median(lat["point"]),
           "heavy_ms": median(lat["doc"])}
    report = {
        "point_ms": {"n": len(lat["point"]),
                     "p50": median(lat["point"]),
                     "p90": percentile(lat["point"], 90)},
        "doc_ms": {"n": len(lat["doc"]), "p50": median(lat["doc"])},
        "setup": {"session_s": run.session_s, "load_reps_s": reps,
                  "warmup_s": warm_s},
    }
    extra = {"units": k,
             "window_s": time.perf_counter() - t_begin,
             "per_layer": run.storage() if run.tracer.enabled else {}}
    return e2e, extra, report
