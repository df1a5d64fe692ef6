"""Registry invariants: the adjudication-cap discipline is a repo
contract, not a comment — every registered query has an oracle (or a
documented weak check), the cap ordering is exactly PRIORITY, any
query rotated past the driver's 50-query cap must already hold a green
CORRECTNESS row from a previous round (union coverage never regresses),
and — VERDICT r4 #1 — that green must POSTDATE the last commit touching
any module the query's implementation (transitively) depends on, so
"green under unchanged code" is enforced mechanically, not by memory.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import subprocess

from tcrd_spark.registry import PRIORITY, all_oracle_sql, all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_priority_covers_all_queries_exactly():
    q = all_queries()
    assert sorted(PRIORITY) == sorted(q), (
        "PRIORITY and registered queries diverge"
    )
    assert list(q)[: len(PRIORITY)] == list(PRIORITY)


def test_every_oracle_has_a_query():
    q, o = all_queries(), all_oracle_sql()
    assert set(o) <= set(q)


def _latest_green_round() -> dict[str, int]:
    latest: dict[str, int] = {}
    import re

    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        r = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        with open(path) as f:
            for name, row in json.load(f).items():
                if (
                    row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match")
                ):
                    latest[name] = max(latest.get(name, 0), r)
    return latest


def _valid_deferrals() -> set[str]:
    """Names under an explicit, UNEXPIRED one-round deferral.

    When a shared-helper commit expires the churn grace of more
    downstream queries than the 50-slot cap can re-adjudicate in one
    round, tools/rotate_cap.py records the overflow in DEFERRALS.json
    with the round it defers INTO (`recorded_at_round` = newest
    CORRECTNESS round + 1 at rotation time). The deferral is valid
    only while that round's adjudication has not landed; the moment a
    CORRECTNESS file with round >= recorded_at_round exists, the set
    is empty again and the churn invariant re-binds — deferral can
    postpone an obligation exactly once, never silently renew."""
    import re

    path = os.path.join(REPO, "DEFERRALS.json")
    if not os.path.exists(path):
        return set()
    with open(path) as f:
        rec = json.load(f)
    newest = max(
        int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    )
    if newest >= int(rec.get("recorded_at_round", 0)):
        return set()  # expired: the deferred-into round was adjudicated
    return set(rec.get("deferred", ()))


def test_staleness_bound_is_feasible_and_holding():
    """VERDICT r8 #3: the staleness rule must be arithmetically
    satisfiable. With N registered queries and a 50-slot cap, the
    tightest achievable bound is ceil(N/50) rounds (tools/rotate_cap.
    stale_bound), reached by strict oldest-green-first rotation. Two
    live assertions: (1) no query's latest green has aged past the
    computed bound; (2) the emitted cap IS oldest-first — every
    past-cap query's green is at least as fresh as the stalest green
    inside the cap (never-green queries count as round -1, so
    obligations always sort first)."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from rotate_cap import stale_bound

    q = all_queries()
    greens = {n: r for n, r in _latest_green_round().items() if n in q}
    if not greens:
        return
    cur = max(greens.values())
    bound = stale_bound(len(q))
    over = [n for n, r in greens.items() if cur - r > bound]
    assert not over, (
        f"queries older than the ceil({len(q)}/50)={bound}-round "
        f"staleness bound (rotate them into the cap NOW): {over}"
    )
    # Churn-stale cap entries are OBLIGATIONS (their green predates a
    # closure change — the same rule test_past_cap_greens_postdate_
    # code_changes enforces past the cap), so they may legitimately
    # jump the oldest-green queue: count them as round -1 alongside
    # never-green entries when checking the ordering invariant.
    green_ts = _latest_green_ts()

    def _effective(n: str) -> int:
        if n not in greens:
            return -1
        worst_ts = max(_commit_ts(f) for f in _closure(q[n]))
        if green_ts.get(n, 0) < worst_ts:
            return -1  # churn obligation: must head the cap
        return greens[n]

    cap_worst = max(_effective(n) for n in PRIORITY[:50])
    # never-green PAST-CAP queries are either in new-query grace or
    # already failing test_past_cap_queries_have_green_history — the
    # ordering invariant ranges over adjudicated entries only
    rest_best = min(
        (greens[n] for n in PRIORITY[50:] if n in greens), default=99
    )
    assert cap_worst <= rest_best, (
        "cap is not oldest-green-first: a past-cap query "
        f"(green r{rest_best}) is staler than a cap entry "
        f"(green r{cap_worst}) — rerun tools/rotate_cap.py"
    )


def test_correctness_files_are_committed():
    """Both timestamp invariants below key off GIT COMMIT times of the
    CORRECTNESS files — an adjudication left untracked (or modified in
    the worktree) would silently defer the whole rotation obligation by
    a round. Fail loudly until it is committed (VERDICT r5 #8)."""
    out = subprocess.run(
        ["git", "status", "--porcelain", "--", "CORRECTNESS_r*.json"],
        cwd=REPO, capture_output=True, text=True,
    ).stdout.strip()
    assert not out, (
        "uncommitted CORRECTNESS files — commit them so the cap "
        f"rotation invariant binds:\n{out}"
    )


def test_past_cap_queries_have_green_history():
    greens: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            for name, row in json.load(f).items():
                if (
                    row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match")
                ):
                    greens.add(name)
    # New-query grace, mirroring the churn test's one-round grace: a
    # query whose defining module was ADDED after the newest driver
    # adjudication cannot possibly hold a CORRECTNESS row yet.  It is
    # still hash-matched against its DuckDB oracle by the pytest sweep
    # (test_operators) on every run, and the moment the next
    # CORRECTNESS file lands this exemption expires — the query then
    # fails here until it rotates into the cap.  Grace never means
    # unverified, and it never survives an adjudication opportunity.
    q = all_queries()
    last_adj = max(
        (
            _commit_ts(os.path.relpath(p, REPO))
            for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
        ),
        default=0,
    )
    missing = [
        n
        for n in PRIORITY[50:]
        if n not in greens
        and _added_ts(os.path.relpath(inspect.getsourcefile(q[n]), REPO))
        <= last_adj
    ]
    assert not missing, (
        "queries rotated past the adjudication cap without any green "
        f"CORRECTNESS history (rotate them into the cap): {missing}"
    )


# ---------------------------------------------------------------------------
# churn-aware rotation: a past-cap query's latest green must postdate
# the last commit touching any module in its implementation closure

@functools.lru_cache(maxsize=None)
def _module_file(modname: str) -> str | None:
    try:
        mod = importlib.import_module(modname)
        f = inspect.getsourcefile(mod)
        return os.path.relpath(f, REPO) if f else None
    except Exception:
        return None


@functools.lru_cache(maxsize=None)
def _direct_deps(relpath: str) -> tuple[str, ...]:
    """tcrd_spark module files imported directly by `relpath`, parsed
    from the AST (regexes miss parenthesized multi-line imports).

    `from tcrd_spark.pkg import a, b` is ambiguous: each name may be a
    SUBMODULE (pkg/a.py) or an attribute of pkg/__init__.py — so BOTH
    the base module's file and every name resolved as a submodule are
    included (VERDICT r5 defect #1: resolving only the base collapsed
    `from tcrd_spark.pipeline import corpus, dedup` to __init__.py and
    hid corpus.py/dedup.py churn from the rotation invariant)."""
    import ast

    with open(os.path.join(REPO, relpath)) as f:
        tree = ast.parse(f.read())
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "tcrd_spark":
                    f2 = _module_file(a.name)
                    if f2:
                        out.append(f2)
        elif isinstance(node, ast.ImportFrom) and node.module:
            if node.level or node.module.split(".")[0] != "tcrd_spark":
                continue  # no relative imports in-tree; stdlib/3p skipped
            f2 = _module_file(node.module)
            if f2:
                out.append(f2)
            for a in node.names:
                f3 = _module_file(f"{node.module}.{a.name}")
                if f3:
                    out.append(f3)
    return tuple(out)


def _closure(fn) -> set[str]:
    """Transitive tcrd_spark module-file closure of a query callable:
    its defining module plus everything that module (recursively)
    imports from tcrd_spark — conservative by construction (a touched
    helper forces re-adjudication of every query that can reach it)."""
    seed = os.path.relpath(inspect.getsourcefile(fn), REPO)
    seen: set[str] = set()
    stack = [seed]
    while stack:
        f = stack.pop()
        if f in seen:
            continue
        seen.add(f)
        stack.extend(_direct_deps(f))
    return seen


@functools.lru_cache(maxsize=None)
def _added_ts(relpath: str) -> int:
    """Commit timestamp of the commit that ADDED the file (first commit
    touching it). Uncommitted new files → now (always in grace)."""
    out = subprocess.run(
        ["git", "log", "--follow", "--diff-filter=A", "--format=%ct",
         "--", relpath],
        cwd=REPO, capture_output=True, text=True,
    ).stdout.strip().splitlines()
    import time

    return int(out[-1]) if out else int(time.time())


@functools.lru_cache(maxsize=None)
def _commit_ts(relpath: str) -> int:
    # --follow matches _added_ts: a pure rename would otherwise leave
    # the post-rename commit visible here while _added_ts walks past
    # it, making closure timestamps inconsistent with the grace logic.
    out = subprocess.run(
        ["git", "log", "-1", "--follow", "--format=%ct", "--", relpath],
        cwd=REPO, capture_output=True, text=True,
    ).stdout.strip().splitlines()
    return int(out[0]) if out else 0


def _latest_green_ts() -> dict[str, int]:
    """query → commit timestamp of the newest CORRECTNESS file whose
    row is fully green for it."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        ts = _commit_ts(os.path.relpath(path, REPO))
        with open(path) as f:
            for name, row in json.load(f).items():
                if (
                    row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match")
                ):
                    latest[name] = max(latest.get(name, 0), ts)
    return latest


def test_past_cap_greens_postdate_code_changes():
    """For every query past the adjudication cap: if any file in its
    implementation closure changed AND a full driver adjudication has
    happened since that change (the newest CORRECTNESS commit), the
    query's latest green must postdate the change — i.e. staleness may
    never survive an adjudication opportunity. Changes newer than the
    last adjudication get a one-round grace (a 50-slot cap cannot
    re-adjudicate every downstream query of a shared helper in the
    same round it changes), and this same test forces them into the
    next round's cap mechanically. Every past-cap query is ALSO
    re-hash-matched against DuckDB by the pytest oracle sweep
    (tests/test_operators.py) on every run, so grace never means
    unverified."""
    q = all_queries()
    greens = _latest_green_ts()
    last_adj = max(
        _commit_ts(os.path.relpath(p, REPO))
        for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    )
    deferred = _valid_deferrals()
    stale = []
    for name in PRIORITY[50:]:
        if name in deferred:
            # explicit one-round deferral (rotate_cap wrote
            # DEFERRALS.json because obligations exceeded the 50-slot
            # cap); expires as soon as the next CORRECTNESS file lands
            # — _valid_deferrals() then returns the empty set and these
            # names, sorted first by the rotation, must enter the cap
            continue
        if (
            _added_ts(
                os.path.relpath(inspect.getsourcefile(q[name]), REPO)
            )
            > last_adj
        ):
            # new-query grace (same rule as the green-history test):
            # registered after the newest adjudication — no green can
            # exist yet; expires when the next CORRECTNESS file lands.
            continue
        green = greens.get(name, 0)
        worst = max(
            ((f, _commit_ts(f)) for f in _closure(q[name])),
            key=lambda kv: kv[1],
        )
        if green < worst[1] <= last_adj:
            stale.append((name, worst[0]))
    assert not stale, (
        "past-cap queries whose implementation changed before the last "
        "driver adjudication yet whose green predates the change "
        f"(rotate them into the cap): {stale}"
    )


def test_clear_session_memos_resets_caches(spark):
    """SPARK_GRAFT_BENCH_ISOLATE support (VERDICT r11 #5/#8): the reset
    hook empties the session memo store and unpersists cached data so
    per-query bench numbers are attributable."""
    from pyspark.sql import functions as F

    from tcrd_spark.registry import clear_session_memos
    from tcrd_spark.session import _SESSION_MEMO, memo

    df = memo(
        spark, "isolate-test", None, lambda: spark.range(10).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        ).cache()
    )
    assert df.count() == 10
    assert "isolate-test" in _SESSION_MEMO
    clear_session_memos(spark)
    assert not _SESSION_MEMO
    assert not df.is_cached
    n_persistent = (
        spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    )
    assert n_persistent == 0
