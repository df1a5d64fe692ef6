"""Repository benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload lake_refresh --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. Workloads: portal_lookups, registry_batch,
lake_refresh (see perfbench/README.md). `--trace 0` prints the
end-to-end metrics; `--trace 1` runs the same workload with job groups,
py4j counting and an event log, and prints the per-layer metrics. The
last line of standard output is one JSON object: correct, attempted,
failed and metrics. `--smoke 1` shrinks every input for quick tests.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("portal_lookups", "registry_batch", "lake_refresh")

END_TO_END = {"setup_s": "s", "light_ms": "ms", "heavy_ms": "ms"}


def _per_layer_names() -> dict[str, str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"  # Spark and DuckDB rows compare as UTC
    time.tzset()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "tcrd_spark")):
        print("perfbench: run from the repository root (no tcrd_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    from harness import Run, layer_metrics

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    t_start = time.perf_counter()
    try:
        if args.workload == "portal_lookups":
            import portal as wl
        elif args.workload == "registry_batch":
            import registry_batch as wl
        else:
            import lake_refresh as wl
        run.start_spark(getattr(wl, "SPARK_CORES", None))
        e2e, extra, report = wl.run(run, smoke=bool(args.smoke))
        groups = run.stop()
        if args.trace:
            names = _per_layer_names()
            per = {k: 0.0 for k in names}
            per.update(layer_metrics(run.tracer.spans, groups, extra["units"],
                                     run.tracer.window_start))
            per.update(extra.get("per_layer", {}))
            per["trace.overhead_pct"] = (
                100.0 * run.tracer.self_s / extra["window_s"])
            spans_path = os.path.join(
                run.base, f"spans-{args.workload}-s{args.seed}.jsonl")
            run.tracer.dump(spans_path, {"report": report, "per_layer": per})
            metrics = {k: {"value": float(per.get(k, 0.0)), "unit": u}
                       for k, u in names.items()}
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u}
                       for k, u in END_TO_END.items()}
    finally:
        run.stop()
        run.cleanup()
    tally = run.tally
    for err in tally.errors:
        print(f"FAILED {err}")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "wall_s": round(time.perf_counter() - t_start, 3),
                      "report": report}, default=float))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
