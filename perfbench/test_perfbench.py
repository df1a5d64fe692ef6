"""Tests of the benchmark itself, on tiny inputs (`--smoke 1`: 500
generated targets, the star schema at sf 0.001 and three registry
queries). Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
from harness import Tally, percentile  # noqa: E402
from registry_batch import canonical, same_result  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _bench(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--smoke", "1"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_end_to_end_metrics_are_named_with_units(workload):
    out = _result(_bench(workload, 0))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert not glob.glob(os.path.join(ROOT, ".bench_run", f"{workload}-*"))


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_traced_run_emits_every_per_layer_metric(workload):
    out = _result(_bench(workload, 1))
    assert out["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    spans = os.path.join(ROOT, ".bench_run", f"spans-{workload}-s3.jsonl")
    with open(spans) as fh:
        lines = [json.loads(x) for x in fh]
    os.remove(spans)
    assert lines[-1]["summary"]["per_layer"]
    assert all({"name", "start", "end", "parent", "op"} <= set(s)
               for s in lines[:-1])
    assert out["metrics"]["spark.tasks"]["value"] > 0


def test_gate_counts_an_injected_wrong_answer(monkeypatch, capsys):
    """A program that answers for the wrong target is caught."""
    sys.path.insert(0, ROOT)
    from tcrd_spark.api import adaptor

    real = adaptor.get_target
    monkeypatch.setattr(
        adaptor, "get_target",
        lambda lake, tid, **kw: real(lake, tid % 500 + 1, **kw))
    monkeypatch.chdir(ROOT)
    # the run points these at its own directory; restore them afterwards
    for k in ("TMPDIR", "TZ", "PYSPARK_SUBMIT_ARGS", "SPARK_GRAFT_CPUS",
              "SPARK_LOCAL_DIRS"):
        if k in os.environ:
            monkeypatch.setenv(k, os.environ[k])
        else:
            monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    assert bench.main(["--workload", "portal_lookups", "--seed", "3",
                       "--seconds", "1", "--smoke", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["failed"] >= 1 and not out["correct"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "portal_lookups",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_results_compare_without_row_or_column_order():
    a = canonical([(1, 0.1234567, "x"), (2, None, "y")], ["a", "b", "c"])
    b = canonical([("y", 2, None), ("x", 1, 0.1234568)], ["c", "a", "b"])
    assert same_result(a, b)
    assert not same_result(a, canonical([(1, 0.1234567, "x"), (3, None, "y")],
                                        ["a", "b", "c"]))
    assert not same_result(a, canonical([(1, 0.1235, "x"), (2, None, "y")],
                                        ["a", "b", "c"]))


def test_tally_and_percentile():
    t = Tally()
    t.record("ok", True)
    t.record("bad", False, "wrong")
    assert (t.attempted, t.failed, t.errors) == (2, 1, ["bad: wrong"])
    assert percentile(list(range(1, 101)), 90) == 90
    assert percentile([5.0], 50) == 5.0
