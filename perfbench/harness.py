"""Run context shared by the workloads: run directory, Spark lifetime,
statistics, the correctness tally and the tracer.

Everything here observes the program from outside. The tracer counts
py4j commands by wrapping the gateway client's `send_command`, tags
each traced call with its own Spark job group, reads Catalyst phase
times from the DataFrame's `QueryExecution`, and attributes stage task
metrics to job groups by reading the uncompressed event log the session
writes into the run directory.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import statistics
import subprocess
import tempfile
import time
from collections import defaultdict
from contextlib import contextmanager

# spans recorded per layer; a workload reports zeros for layers it never
# calls, so every traced run emits the same metric names
LAYERS = ("api", "analytics", "pipeline", "operators", "sources")
# inputs are set up this many times per run and the median time reported
SETUP_REPS = 3


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return s[k]


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


class Tally:
    """Operations attempted and failed (errored or answered wrongly)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{what}: {detail}"[:300])
        return ok


class Tracer:
    """In-memory spans around calls into the program's layers.

    Disabled, `span` records nothing; enabled, every span gets its own
    job group and records its py4j command count. Spans are written out by
    `dump` once the run has ended."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.py4j = 0
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: list[int] = []
        self._counting = True
        self.window_start = 0.0
        if enabled:
            client = spark.sparkContext._gateway._gateway_client
            orig = client.send_command

            def counted(*a, **k):
                if self._counting:
                    self.py4j += 1
                return orig(*a, **k)

            client.send_command = counted

    def start_window(self) -> float:
        """Mark the start of the timed window; spans before it (set-up and
        warm-up) stay in the spans file but not in the per-layer figures.
        Set-up files are flushed first, so their write-back does not land
        inside the window."""
        os.sync()
        self.window_start = time.perf_counter()
        return self.window_start

    @contextmanager
    def span(self, name: str, layer: str, kind: str, op: str, df_box=None):
        """Time one call into `layer`; `kind` is build, exec, read, commit
        or unit (a whole operation). `df_box`, a list, may receive the
        DataFrame whose Catalyst phase times the span should report.
        Yields the span record, where the caller may set `rows`."""
        if not self.enabled:
            yield {}
            return
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer, "kind": kind,
               "op": op, "parent": self._stack[-1] if self._stack else None,
               "group": f"bench-{sid}"}
        self.spans.append(rec)
        sc = self.spark.sparkContext
        self._counting = False
        sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        self._counting = True
        self._stack.append(sid)
        py4j0 = self.py4j
        self.self_s += time.perf_counter() - t_in
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t_out = time.perf_counter()
            rec["py4j"] = self.py4j - py4j0
            self._stack.pop()
            self._counting = False
            if df_box:
                rec["plan_ms"] = plan_ms(df_box[0])
            parent = self.spans[self._stack[-1]]["group"] if self._stack else None
            sc.setLocalProperty("spark.jobGroup.id", parent)
            self._counting = True
            self.self_s += time.perf_counter() - t_out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
            fh.write(json.dumps({"summary": extra}) + "\n")


def plan_ms(df) -> float:
    """Analysis + optimization + planning time of `df`'s QueryExecution."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks and summed task metrics."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    stages: dict[str, set] = defaultdict(set)
    for fn in os.listdir(log_dir):
        with open(os.path.join(log_dir, fn)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    groups[g]["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_group[st] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    stages[g].add(ev["Stage ID"])
                    d = groups[g]
                    d["tasks"] += 1
                    d["executor_run_ms"] += m.get("Executor Run Time", 0)
                    d["gc_ms"] += m.get("JVM GC Time", 0)
                    d["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    d["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    im = m.get("Input Metrics") or {}
                    d["records_read"] += im.get("Records Read", 0)
    for g, ids in stages.items():
        groups[g]["stages"] = len(ids)
    return groups


def layer_metrics(spans, groups, units: int, since: float) -> dict[str, float]:
    """Per-layer and Spark-wide figures per operation unit (an op, a
    pass or a cycle, as the workload defines it), over the spans that
    started at or after `since`."""
    units = max(units, 1)
    agg: dict = defaultdict(float)
    for s in spans:
        if s["start"] < since:
            continue
        g = groups.get(s["group"], {})
        dur = (s["end"] - s["start"]) * 1000.0
        lay, kind = s["layer"], s["kind"]
        if kind in ("build", "exec", "read", "commit"):
            agg[f"{lay}.{kind}_ms"] += dur
            agg[f"{lay}.py4j_cmds"] += s["py4j"]
            agg[f"{lay}.jobs"] += g.get("jobs", 0)
            agg[f"{lay}.{kind}_jobs"] += g.get("jobs", 0)
            for k in ("shuffle_bytes", "spill_bytes", "records_read"):
                agg[f"{lay}.{k}"] += g.get(k, 0)
            agg[f"{lay}.rows"] += s.get("rows", 0)
            agg[f"{lay}.plan_ms"] += s.get("plan_ms", 0.0)
        for k in ("stages", "tasks", "executor_run_ms", "gc_ms"):
            agg[f"spark.{k}"] += g.get(k, 0)
        agg["spark.plan_ms"] += s.get("plan_ms", 0.0)
    out = {k: v / units for k, v in agg.items()}
    for lay in LAYERS:
        if agg[f"{lay}.rows"]:
            out[f"{lay}.rows_read_per_row"] = (
                agg[f"{lay}.records_read"] / agg[f"{lay}.rows"])
    return out


class Run:
    """One benchmark run: its own directory, TMPDIR and warehouse under
    `.bench_run/` in the working directory, removed when the run ends."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, root: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.base = os.path.join(root, ".bench_run")
        self.dir = os.path.join(self.base, f"{workload}-s{seed}-{os.getpid()}")
        self.spark = None
        self.tracer = None
        self.tally = Tally()
        self.session_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_spark(self, cores: int | None = None):
        """Start the session on `local[cores]`, all usable cores when
        `cores` is None."""
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        # Python, the JVM and Spark's temporary files all go under tmp
        os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
        tempfile.tempdir = None
        os.environ["SPARK_GRAFT_CPUS"] = str(cores or cpu_count())
        t0 = time.perf_counter()
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        # get_spark takes no extra settings; spark-submit arguments reach
        # the session it builds
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell"
        from tcrd_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, self.trace)
        return self.spark

    def storage(self) -> dict[str, float]:
        jsc = self.spark.sparkContext._jsc.sc()
        mem = sum(i.memSize() for i in jsc.getRDDStorageInfo())
        return {"spark.cached_mb": mem / 1e6,
                "spark.persistent_rdds": float(jsc.getPersistentRDDs().size())}

    def stop(self) -> dict[str, dict]:
        """Stop Spark and its JVM, wait for it, and return the event-log
        groups (empty when untraced)."""
        groups: dict = {}
        if self.spark is not None:
            sc = self.spark.sparkContext
            gateway = sc._gateway
            proc = getattr(gateway, "proc", None)
            self.spark.stop()
            if self.trace:
                groups = read_event_log(self.path("eventlog"))
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None
        return groups

    def cleanup(self) -> None:
        """Remove the run directory, and `.bench_run/` once it is empty
        (a traced run's spans file keeps it)."""
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(self.base)
        except OSError:
            pass


def median(values) -> float:
    return float(statistics.median(values))
