"""lake_refresh: the write workload, TDL refresh cycles over snapshots.

The generated lake is committed as versioned tables with
`sources.snapshots.create_table`. Each cycle
1. merges a seeded change batch of `tdl_info` updates and new
   `drug_activity` rows (90% of rows hit a hot 5% of targets; the batch
   size depends on the seed) with `merge_version`;
2. runs `analytics.tdl.tdl_refresh` on `read_version` snapshots;
3. commits the changed `target` rows with `merge_version` and the new
   `tdl_update_log` rows with `append_version`;
4. reads changed targets back with `get_target` from the new snapshot.
One untimed cycle in set-up compiles the JVM code paths first. The timed
window holds at least two cycles. The cycle time reported is the sum
over the four steps of each step's fastest cycle: time stolen by other
tenants of the host only ever adds, and it rarely hits the same step in
two cycles. The benchmark's own work (making the batch, checking the
answers, diffing manifests) is not in it.
The refresh's `tdl_counts` and changed-target log are checked against a
recomputation from the generator's ground truth; after the last cycle
every table's version 1 must read back identically.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen_lake
from harness import SETUP_REPS, median

N_TARGETS = 5_000
READ_BACK = 6
MIN_CYCLES = 2
# versioned table -> partition column
VERSIONED = {"target": "fam", "tdl_info": "itype",
             "drug_activity": "source", "tdl_update_log": "application"}


def table_hash(df) -> tuple:
    from pyspark.sql import functions as F

    h = F.xxhash64(*df.columns).cast("decimal(38,0)")
    return tuple(df.select(F.count("*"), F.sum(h)).collect()[0])


class Refresh:
    def __init__(self, run, n: int):
        self.run = run
        self.n = n
        self.rng = np.random.default_rng(run.seed)
        self.batch_rows = int(self.rng.integers(200, 400))
        self.hot = self.rng.choice(n, max(n // 20, 10), replace=False)

    def setup(self, rep: int):
        tables, self.truth = gen_lake.generate(self.n, self.run.seed)
        # one bootstrap audit row, so the log table has a first version
        self.lake_dir = self.run.path(f"lake{rep}")
        tables["tdl_update_log"] = gen_lake.make_table(
            "tdl_update_log", 1, id=[1], target_id=[1], new_tdl=["Tbio"],
            person=["bootstrap"], application=["load-TDLs"])
        gen_lake.write_lake(tables, self.lake_dir)

    def commit_v1(self):
        from tcrd_spark.sources import snapshots
        from tcrd_spark.sources.lake import load_lake

        spark = self.run.spark
        self.base = load_lake(spark, self.lake_dir)
        self.dirs = {t: self.run.path("tables", t) for t in VERSIONED}
        for t, part in VERSIONED.items():
            snapshots.create_table(self.base[t], self.dirs[t], part)
        self.v1 = {t: table_hash(snapshots.read_version(spark, d, 1))
                   for t, d in self.dirs.items()}

    def make_batch(self, c: int) -> tuple[str, str, int, list]:
        """Write cycle `c`'s change batch and update the ground truth;
        return the batch files, their bytes and the touched target ids."""
        t, rng = self.truth, self.rng
        m = self.batch_rows
        from_hot = rng.random(m) < 0.9
        picks = np.where(from_hot, rng.choice(self.hot, m),
                         rng.integers(0, self.n, m))
        picks = np.unique(picks)
        n_info = int(len(picks) * 0.7)
        info, drug = picks[:n_info], picks[n_info:]
        is_pms = rng.random(len(info)) < 0.5
        new_pms = np.round(rng.lognormal(1.2, 1.2, len(info)), 4)
        new_ab = rng.integers(0, 120, len(info)).astype(np.int32)
        pid = t.protein_id
        info_tbl = gen_lake.make_table(
            "tdl_info", len(info),
            id=np.where(is_pms, t.pms_info_id[info], t.ab_info_id[info]),
            itype=[gen_lake.PMS if p else gen_lake.AB for p in is_pms],
            protein_id=pid[info],
            number_value=[float(v) if p else None
                          for p, v in zip(is_pms, new_pms)],
            integer_value=[None if p else int(v)
                           for p, v in zip(is_pms, new_ab)])
        t.pms[info[is_pms]] = new_pms[is_pms]
        t.ab[info[~is_pms]] = new_ab[~is_pms]
        moa = rng.random(len(drug)) < 0.4
        ids = np.arange(t.next_id, t.next_id + len(drug))
        t.next_id += len(drug)
        drug_tbl = gen_lake.drug_rows(rng, ids, drug + 1, moa)
        np.add.at(t.n_drug, drug, 1)
        np.add.at(t.n_moa, drug, moa.astype(int))
        paths = (self.run.path("batches", f"info{c}.parquet"),
                 self.run.path("batches", f"drug{c}.parquet"))
        os.makedirs(os.path.dirname(paths[0]), exist_ok=True)
        pq.write_table(info_tbl, paths[0])
        pq.write_table(drug_tbl, paths[1])
        return (*paths, sum(os.path.getsize(p) for p in paths),
                [int(i) + 1 for i in picks])

    def cycle(self, c: int, stats: dict) -> tuple[list[float], dict]:
        """One refresh cycle; returns the read-back latencies and the wall
        time of each of the four steps (ms)."""
        from pyspark.sql import functions as F

        from tcrd_spark.analytics.tdl import tdl_refresh
        from tcrd_spark.api.adaptor import get_target
        from tcrd_spark.sources import snapshots

        spark, tr, tally = self.run.spark, self.run.tracer, self.run.tally
        op = f"c{c}"
        info_p, drug_p, batch_bytes, touched = self.make_batch(c)
        before = {t: snapshots.versions(d)[-1] for t, d in self.dirs.items()}
        steps = {}
        t0 = time.perf_counter()
        with tr.span("merge_batch", "sources", "commit", op):
            snapshots.merge_version(spark, self.dirs["tdl_info"],
                                    spark.read.parquet(info_p), ["id"])
            snapshots.merge_version(spark, self.dirs["drug_activity"],
                                    spark.read.parquet(drug_p), ["id"])
        t1 = time.perf_counter()
        steps["merge"] = t1 - t0
        with tr.span("read_version", "sources", "read", op):
            lake = dict(self.base)
            for t, d in self.dirs.items():
                lake[t] = snapshots.read_version(spark, d)
        stamp = f"cycle-{c}"
        box: list = []
        with tr.span("tdl_refresh", "analytics", "build", op):
            out = tdl_refresh(lake, asof=stamp)
            log = out["tdl_update_log"].filter(F.col("datetime") == stamp)
        box.append(out["tdl_counts"])
        with tr.span("collect", "analytics", "exec", op, box) as sp:
            counts = out["tdl_counts"].collect()
            changes = log.select("target_id", "new_tdl").collect()
            sp["rows"] = len(counts) + len(changes)
        steps["refresh"] = time.perf_counter() - t1

        old = self.truth.tdl
        new, _ = self.truth.tdl_now()
        want = self.truth.tdl_counts()
        got = {r.tdl: (r.ct, r.bumped_ct) for r in counts}
        tally.record(f"tdl_counts[{op}]", got == want, f"{got} != {want}")
        want_ch = {(int(i) + 1, new[i]) for i in np.flatnonzero(new != old)}
        got_ch = {(r.target_id, r.new_tdl) for r in changes}
        tally.record(f"tdl_update_log[{op}]", got_ch == want_ch,
                     f"{len(got_ch)} changes, expected {len(want_ch)}")
        self.truth.tdl = new

        changed = sorted(i for i, _ in got_ch)
        t0 = time.perf_counter()
        if changed:
            with tr.span("commit_target", "sources", "commit", op):
                snapshots.merge_version(
                    spark, self.dirs["target"],
                    out["target"].filter(F.col("id").isin(changed)), ["id"])
                snapshots.append_version(self.dirs["tdl_update_log"], log)
        steps["commit"] = time.perf_counter() - t0
        added = 0
        for t, d in self.dirs.items():
            v = snapshots.versions(d)[-1]
            diff = snapshots.manifest_diff(d, before[t], v)
            added += sum(os.path.getsize(os.path.join(d, "data", f))
                         for f in diff["added"])
            stats["files_rewritten"] += len(diff["removed"])
            stats["files_carried"] += len(diff["carried"])
        stats["bytes_written"] += added
        stats["batch_bytes"] += batch_bytes

        lat = []
        t_read = time.perf_counter()
        lake["target"] = snapshots.read_version(spark, self.dirs["target"])
        # targets whose TDL changed first, then any the batch touched
        for tid in list(dict.fromkeys(changed + touched))[:READ_BACK]:
            t0 = time.perf_counter()
            try:
                with tr.span("get_target", "api", "build", op):
                    df = get_target(lake, tid)
                with tr.span("collect", "api", "exec", op, [df]) as sp:
                    rows = df.collect()
                    sp["rows"] = len(rows)
                ok = len(rows) == 1 and rows[0].tdl == new[tid - 1]
                detail = f"{[r.tdl for r in rows]}"
            except Exception as ex:  # a read that raises counts as failed
                ok, detail = False, repr(ex)
            lat.append((time.perf_counter() - t0) * 1000.0)
            tally.record(f"get_target({tid})[{op}]", ok, detail)
        steps["read_back"] = time.perf_counter() - t_read
        return lat, {k: v * 1000.0 for k, v in steps.items()}


def run(run, smoke: bool = False) -> tuple[dict, dict, dict]:
    from tcrd_spark.sources import snapshots

    r = Refresh(run, 500 if smoke else N_TARGETS)
    reps = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        r.setup(rep)
        reps.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    r.commit_v1()
    commit_s = time.perf_counter() - t0
    warm_stats = {"files_rewritten": 0, "files_carried": 0,
                  "bytes_written": 0, "batch_bytes": 0}
    # one untimed cycle, so the timed ones run JIT-compiled code
    r.cycle(0, warm_stats)
    warm_s = time.perf_counter() - t0 - commit_s
    setup_s = run.session_s + median(reps) + time.perf_counter() - t0

    stats = dict.fromkeys(warm_stats, 0)
    step_ms: dict[str, list] = {}
    read_ms = []
    t_begin = run.tracer.start_window()
    end = t_begin + run.seconds
    c = 1
    while c <= MIN_CYCLES or time.perf_counter() < end:
        with run.tracer.span("cycle", "bench", "unit", f"c{c}"):
            lat, steps = r.cycle(c, stats)
        read_ms += lat
        for k, v in steps.items():
            step_ms.setdefault(k, []).append(v)
        c += 1
    window_s = time.perf_counter() - t_begin
    cycles = c - 1

    for t, d in r.dirs.items():
        same = table_hash(snapshots.read_version(run.spark, d, 1)) == r.v1[t]
        run.tally.record(f"{t}@v1", same, "version 1 changed")

    e2e = {"setup_s": setup_s,
           "light_ms": median(read_ms),
           "heavy_ms": sum(min(v) for v in step_ms.values())}
    per_layer = {f"sources.{k}": v / cycles for k, v in stats.items()
                 if k != "batch_bytes"}
    per_layer["sources.write_amp"] = (
        stats["bytes_written"] / max(stats["batch_bytes"], 1))
    if run.tracer.enabled:
        per_layer.update(run.storage())
    report = {"cycles": cycles, "batch_rows": r.batch_rows,
              "step_ms": step_ms,
              "read_back_ms": {"n": len(read_ms), "p50": median(read_ms),
                               "all": read_ms},
              "write_amp": per_layer["sources.write_amp"],
              "setup": {"session_s": run.session_s, "gen_reps_s": reps,
                        "commit_v1_s": commit_s, "warm_cycle_s": warm_s}}
    return e2e, {"units": cycles, "window_s": window_s,
                 "per_layer": per_layer}, report
