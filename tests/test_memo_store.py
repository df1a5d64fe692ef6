"""The session memo store (tcrd_spark/session.py): the one place query
families keep state across queries, and the one reset that frees it."""

from __future__ import annotations

import importlib
import os
import pkgutil
import re
import sys
import threading
import time
from types import SimpleNamespace

import tcrd_spark

# the module-level memo-dict names the benchmark's registry_batch
# workload counts (perfbench/registry_batch.py, MEMO_NAME)
MEMO_NAME = re.compile(r"^_[A-Z0-9_]*(CACHE|MEMO|ROTATING)[A-Z0-9_]*$")
# parse caches of immutable lake files, keyed on file identity
ALLOWED = {
    "tcrd_spark.session._SESSION_MEMO",
    "tcrd_spark.sources.snapshots._TXN_CACHE",
    "tcrd_spark.sources.snapshots._CKPT_CACHE",
}


def test_no_memo_dict_outside_the_store():
    from tcrd_spark.registry import all_queries

    all_queries()  # imports every registry module
    for m in pkgutil.walk_packages(tcrd_spark.__path__, "tcrd_spark."):
        importlib.import_module(m.name)
    found = {
        f"{name}.{attr}"
        for name, mod in list(sys.modules.items())
        if name.startswith("tcrd_spark.") and mod is not None
        for attr, val in vars(mod).items()
        if MEMO_NAME.match(attr) and isinstance(val, dict)
    }
    assert "tcrd_spark.session._SESSION_MEMO" in found
    assert found <= ALLOWED, sorted(found - ALLOWED)


def test_memo_builds_once_per_key_under_thread_contention():
    """The oracle sweep calls queries from a thread pool: concurrent
    callers of one slot must see one build per key, and never the
    other key's value (int values: nothing to release)."""
    from tcrd_spark.session import _SESSION_MEMO, memo

    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="stress-app")
    )
    builds: list = []
    wrong: list = []

    def build(key):
        time.sleep(0.001)  # widen the check-then-build window
        builds.append(key)
        return key

    def run(key_of):
        def worker(i):
            try:
                for j in range(100):
                    key = key_of(i, j)
                    got = memo(spark, "stress", key, lambda: build(key))
                    if got != key:
                        wrong.append((key, got))
            except Exception as e:  # surfaced by the assert below
                wrong.append(e)

        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        run(lambda i, j: 7)
        assert builds == [7] and not wrong
        run(lambda i, j: (i + j) // 25 % 2)  # callers switch out of step
        assert not wrong
    finally:
        sys.setswitchinterval(old)
        _SESSION_MEMO.pop("stress", None)


def _paths(value) -> list[str]:
    if isinstance(value, tuple):
        return [p for v in value for p in _paths(v)]
    return [value] if isinstance(value, str) and os.path.isabs(value) else []


def test_clear_releases_every_kind_of_entry(spark, sf_dir):
    """Cached frames, cut RDDs, warehouse index tables and temp-dir
    indexes all go with one clear_session_memos."""
    from tcrd_spark.registry import all_queries, clear_session_memos
    from tcrd_spark.session import _SESSION_MEMO

    q = all_queries()
    for name in ("triangle_counts", "pagerank", "ann_sq_topk",
                 "ann_ivf_indexed", "dedup_incremental_indexed",
                 "leakage_safe_split"):
        q[name](spark, sf_dir).collect()

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def index_tables():
        return [t.name for t in spark.catalog.listTables()
                if t.name.startswith("dedup_idx_")]

    dirs = [p for _, v in _SESSION_MEMO.values() for p in _paths(v)]
    assert dirs and all(os.path.isdir(p) for p in dirs)
    assert index_tables() and n_persistent() > 0

    clear_session_memos(spark)
    assert not _SESSION_MEMO
    assert n_persistent() == 0
    assert not index_tables()
    assert not any(os.path.exists(p) for p in dirs)


def test_registered_queries_pin_bounded_storage(spark, sf_dir, tmp_path):
    """Every cut and cache a query makes has one owner, the store: the
    persistent-RDD count stops growing once each slot holds its entry,
    at one sf_dir and with sf_dirs alternating (a symlink of sf_dir
    is a second key without a second scale factor)."""
    from tcrd_spark.registry import all_queries

    q = all_queries()
    alias = str(tmp_path / "sf_alias")
    os.symlink(sf_dir, alias)

    def pinned_after(name, keys) -> list[int]:
        out = []
        for key in keys:
            q[name](spark, key).collect()
            out.append(spark.sparkContext._jsc.sc().getPersistentRDDs().size())
        return out

    n = pinned_after("nb_classify", [sf_dir] * 3)
    assert n[2] == n[0], n
    for name in ("web_pipeline", "semantic_dedup"):
        n = pinned_after(name, [sf_dir, alias] * 2)
        assert n[3] == n[1], (name, n)

    # the refresh caches its classification in one rotating slot
    from tests.tcrd_fixtures import build_lake

    from tcrd_spark.analytics.tdl import tdl_refresh

    lake = build_lake(spark)
    other = {**lake, "generif": lake["generif"].limit(1)}
    n = []
    for x in (lake, other, lake):
        tdl_refresh(x)["tdl_counts"].collect()
        n.append(spark.sparkContext._jsc.sc().getPersistentRDDs().size())
    assert n[0] == n[1] == n[2], n


def test_small_cache_is_not_pinned_at_shuffle_partitions(spark):
    """AQE may re-plan a cached frame (session.py): a materialized
    cache of a tiny aggregate, grouped into spark.sql.shuffle.partitions
    (32) partitions, is scanned in fewer."""
    from tcrd_spark.operators.lineage import cache
    from tcrd_spark.session import _SESSION_MEMO, _release

    agg = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    try:
        c = cache(agg, "test-aqe-cache")
        assert c.count() == 7
        assert c.rdd.getNumPartitions() < 32
    finally:
        _release(spark, _SESSION_MEMO.pop("test-aqe-cache")[1])


def _sources():
    root = os.path.dirname(tcrd_spark.__file__)
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    yield os.path.relpath(path, root), fh.read()


def test_one_way_to_cut_and_cache():
    """Lineage cuts and session caches go through operators/lineage.py
    (cut / cache, or a loop's _truncate hops), owned by the store."""
    banned = re.compile(
        r"localCheckpoint|_caches|_truncate_rotating|_cache_rotating"
    )
    hits = [
        f"{rel}:{i}"
        for rel, text in _sources()
        for i, line in enumerate(text.splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, hits


# An ordered self-join: `a.<id> < b.<id>` on aliased sides, in the
# Column API or as an f-string SQL condition, or `id_a < id_b` on
# renamed ones.
ORDERED_SELF_JOIN = re.compile(
    r'F\.col\(f?"a\.[^"]*"\)\s*<\s*F\.col\(f?"b\.'
    r'|f"a\.\S*\s*<\s*b\.'
    r'|F\.col\("id_a"\)\s*<\s*F\.col\("id_b"\)'
)
# pipeline functions that keep their own ordered pair join, and why
OWN_PAIR_JOIN = {
    "dedup.py::ngram_jaccard_pairs": "PPJoin's positional filter prunes "
    "each matching prefix key (its positions on both sides), which a "
    "per-pair join cannot express",
    "editdist.py::edit_distance_pairs": "a band join of each doc against "
    "the neighbour length buckets of the other side, not a self-join of "
    "one key frame; each pair meets once and verifies in the join",
    "semdedup.py::semantic_pairs": "one cluster per id, so each pair "
    "meets once and is scored in the join; a per-pair grouping would add "
    "an exchange and two verify joins",
}


def test_one_way_to_pair_candidates():
    """Near-dup candidate pairs come from operators/blocking.py
    (`candidate_pairs`): no pipeline module writes its own ordered
    self-join outside OWN_PAIR_JOIN, and every entry there still
    exists."""
    import ast

    root = os.path.join(os.path.dirname(tcrd_spark.__file__), "pipeline")
    found = set()
    for f in sorted(os.listdir(root)):
        if not f.endswith(".py"):
            continue
        with open(os.path.join(root, f)) as fh:
            text = fh.read()
        funcs = [
            n for n in ast.walk(ast.parse(text))
            if isinstance(n, ast.FunctionDef)
        ]
        for i, line in enumerate(text.splitlines(), 1):
            if ORDERED_SELF_JOIN.search(line):
                # the innermost function holding the line, else the module
                owner = min(
                    (n for n in funcs if n.lineno <= i <= n.end_lineno),
                    key=lambda n: n.end_lineno - n.lineno,
                    default=None,
                )
                found.add(f"{f}::{owner.name if owner else '<module>'}")
    assert found == set(OWN_PAIR_JOIN), found ^ set(OWN_PAIR_JOIN)


SPLIT_RULE = re.compile(r"inputFiles\(\)|repartition\([^)]*defaultParallelism")
SIZE_PROBE = re.compile(r"\.limit\(\s*[A-Za-z_][\w.]*\s*\+\s*1\s*\)")
# size probes that bound a resource instead of choosing between paths
PROBE_NOT_A_FORK = {
    "pipeline/dedup.py::embedding_near_dups": "max_vectors bounds the "
    "driver-broadcast matrix: past it the function raises instead of "
    "taking another path, so there is no second path to compare",
}


def test_one_split_rule_and_every_size_fork_in_the_harness():
    """The input-split guard lives only in sources/lake.py
    (`split_for_scan`), and every `.limit(N + 1)` size probe sits in a
    function that tests/dual_path.py's fork table names (each path of
    it then runs on the shared fixtures) or in PROBE_NOT_A_FORK."""
    import ast

    from tests.dual_path import FORKS

    owners = {fork.owner for fork in FORKS.values()}
    probes = set()
    for rel, text in _sources():
        if rel != os.path.join("sources", "lake.py"):
            assert not SPLIT_RULE.search(text), rel
        funcs = [
            n for n in ast.walk(ast.parse(text))
            if isinstance(n, ast.FunctionDef)
        ]
        for i, line in enumerate(text.splitlines(), 1):
            if SIZE_PROBE.search(line):
                owner = min(
                    (n for n in funcs if n.lineno <= i <= n.end_lineno),
                    key=lambda n: n.end_lineno - n.lineno,
                    default=None,
                )
                probes.add(f"{rel}::{owner.name if owner else '<module>'}")
    assert probes <= owners | set(PROBE_NOT_A_FORK), probes
    assert set(PROBE_NOT_A_FORK) <= probes, probes


def test_no_env_knobs_outside_deployment_settings():
    """The process environment is read only for session.py's deployment
    settings — never as an operator knob."""
    allowed = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM",
               "SPARK_GRAFT_DEFAULT_PARALLELISM"}
    env = re.compile(r"os\.environ|getenv")
    for rel, text in _sources():
        reads = env.findall(text)
        if rel == "session.py":
            keys = re.findall(r'os\.environ\.get\("([A-Z_]+)"', text)
            assert len(keys) == len(reads) and set(keys) <= allowed, keys
        else:
            assert not reads, rel
