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
    "tcrd_spark.sources.snapshots._PARSE_CACHE",
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


def test_point_reads_pin_one_live_entity_view(spark):
    """get_target and find_targets over several lakes, read in turn:
    one view lives at a time, each lake's reads share it, and a lake's
    next frames release its predecessor's."""
    from tests.tcrd_fixtures import build_lake

    from tcrd_spark.api.adaptor import find_targets, get_target
    from tcrd_spark.session import _SESSION_MEMO, _release

    base = build_lake(spark)
    lakes = [base, {**base, "target": base["target"].filter("id < 5")},
             {**base, "protein": base["protein"].select("*")}]
    held = _SESSION_MEMO.pop("entity-view", None)
    if held is not None:
        _release(spark, held[1])
    n0 = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    pinned, views = [], []
    for _ in range(2):
        for lake in lakes:
            for tid in (1, 2, 3):
                get_target(lake, tid).collect()
                view = _SESSION_MEMO["entity-view"][1][0]
                assert not views or view is views[-1] or not views[-1].is_cached
                views.append(view)
            find_targets(lake, sym="SYM1").collect()
            assert _SESSION_MEMO["entity-view"][1][0] is view
            pinned.append(spark.sparkContext._jsc.sc().getPersistentRDDs().size())
    assert pinned == [n0 + 1] * 6, (n0, pinned)
    assert len({id(v) for v in views}) == 6  # one build per lake visit
    assert [v.is_cached for v in views[::3]] == [False] * 5 + [True]


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


# pipeline functions that keep their own per-query top-k window, and why
# (none today: every retrieval search and both fusion ranks use top_k)
OWN_TOPK: dict[str, str] = {}


def test_one_topk_rule():
    """A per-query top-k in tcrd_spark/pipeline/ goes through
    operators/topk.py (`top_k`): no function there numbers a
    `partitionBy("q_id")` window with row_number outside OWN_TOPK, and
    every entry there still does."""
    import ast

    root = os.path.join(os.path.dirname(tcrd_spark.__file__), "pipeline")
    found = set()
    for f in sorted(os.listdir(root)):
        if not f.endswith(".py"):
            continue
        with open(os.path.join(root, f)) as fh:
            tree = ast.parse(fh.read())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
            names = {getattr(c.func, "attr", getattr(c.func, "id", None))
                     for c in calls}
            by_q = any(
                getattr(c.func, "attr", None) == "partitionBy"
                and any(isinstance(a, ast.Constant) and a.value == "q_id"
                        for arg in c.args for a in ast.walk(arg))
                for c in calls
            )
            if by_q and "row_number" in names:
                found.add(f"{f}::{fn.name}")
    assert found == set(OWN_TOPK), found ^ set(OWN_TOPK)


RETRIEVAL_MODULES = ("similarity", "pq", "sq", "negatives", "fusion", "mmr")


def test_retrieval_code_is_reached_from_the_program():
    """Every top-level function of the retrieval modules is reached from
    the program — a registered query, API method, tool, benchmark or
    module-level use in tcrd_spark/, tools/, perfbench/ or bench.py —
    directly or through other reached functions; a function only tests
    call is dead code."""
    import ast

    repo = os.path.dirname(os.path.dirname(tcrd_spark.__file__))
    pkg = "tcrd_spark.pipeline"
    mod_path = {m: os.path.join("tcrd_spark", "pipeline", f"{m}.py")
                for m in RETRIEVAL_MODULES}
    defs = {}
    for m, rel in mod_path.items():
        with open(os.path.join(repo, rel)) as fh:
            defs[m] = {n.name for n in ast.parse(fh.read()).body
                       if isinstance(n, ast.FunctionDef)}
    files = [os.path.join(repo, "bench.py")]
    for top in ("tcrd_spark", "tools", "perfbench"):
        for dirpath, _, fs in os.walk(os.path.join(repo, top)):
            files += [os.path.join(dirpath, f) for f in fs
                      if f.endswith(".py") and not f.startswith("test_")]
    roots, edges = set(), {}
    for path in files:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        rel = os.path.relpath(path, repo)
        own = next((m for m, p in mod_path.items() if p == rel), None)
        # the retrieval modules this file imports (or is)
        seen = {own} - {None}
        for n in ast.walk(tree):
            mod = getattr(n, "module", None) or ""
            if isinstance(n, ast.ImportFrom) and mod == pkg:
                seen |= {a.name for a in n.names}
            elif isinstance(n, ast.ImportFrom) and mod.startswith(pkg + "."):
                seen.add(mod.rsplit(".", 1)[1])
            elif isinstance(n, ast.Import):
                seen |= {a.name.rsplit(".", 1)[1] for a in n.names
                         if a.name.startswith(pkg + ".")}
        seen &= set(RETRIEVAL_MODULES)
        spans = [(f.lineno, f.end_lineno, f.name) for f in tree.body
                 if isinstance(f, ast.FunctionDef)] if own else []
        for n in ast.walk(tree):
            name = n.id if isinstance(n, ast.Name) else (
                n.attr if isinstance(n, ast.Attribute) else None)
            for m in seen:
                if name not in defs[m]:
                    continue
                owner = next(
                    (f for a, b, f in spans if a <= n.lineno <= b), None)
                if owner is None:
                    roots.add((m, name))
                elif (own, owner) != (m, name):
                    edges.setdefault((own, owner), set()).add((m, name))
    live, todo = set(), list(roots)
    while todo:
        node = todo.pop()
        if node not in live:
            live.add(node)
            todo += edges.get(node, ())
    dead = {f"{m}.{n}" for m in RETRIEVAL_MODULES for n in defs[m]} - {
        f"{m}.{n}" for m, n in live}
    assert not dead, sorted(dead)


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


# The lake's one GC deletion and its one reachability walk
# (sources/snapshots.py): every verb that reclaims data files or DV
# sidecars goes through them, so no verb can keep its own rule of
# what is still referenced.
GC_SWEEP = "sources/snapshots.py::_sweep"
GC_WALK = "sources/snapshots.py::_roots"
# functions that delete a lake file of their own outside the sweep, and why
OWN_CLEANUP = {
    "sources/snapshots.py::_publish_marks": "reclaims the sidecar its "
    "own lost manifest CAS wrote under a fresh uuid name: no manifest "
    "references it, so there is nothing to walk",
}
LAKE_DIRS = {"_data_dir", "_dv_dir"}
DELETES = {"remove", "unlink", "rmtree", "remove_tree", "rmdir"}
GC_ROOT_DIRS = {"_branches", "_clones"}
LISTS = {"listdir", "walk", "scandir", "glob", "iglob", "iterdir"}


def _derived_calls(fn, seed, verbs) -> list[int]:
    """Lines in `fn` calling one of `verbs` on an argument derived from
    `seed`: a call of a function it names, a string constant in it,
    or a local name assigned or looped over from such an expression."""
    import ast

    def name(f):
        return getattr(f, "attr", getattr(f, "id", None))

    tainted: set[str] = set()

    def derives(node):
        return any(
            (isinstance(n, ast.Name) and n.id in tainted)
            or (isinstance(n, ast.Constant) and n.value in seed)
            or (isinstance(n, ast.Call) and name(n.func) in seed)
            for n in ast.walk(node)
        )

    flows = []
    for n in ast.walk(fn):
        if isinstance(n, ast.Assign):
            flows += [(t, n.value) for t in n.targets]
        elif isinstance(n, (ast.AugAssign, ast.AnnAssign, ast.NamedExpr)):
            if n.value is not None:
                flows.append((n.target, n.value))
        elif isinstance(n, (ast.For, ast.comprehension)):
            flows.append((n.target, n.iter))
    grew = True
    while grew:
        grew = False
        for target, value in flows:
            new = {
                t.id for t in ast.walk(target) if isinstance(t, ast.Name)
            } - tainted
            if new and derives(value):
                tainted |= new
                grew = True
    return [
        n.lineno for n in ast.walk(fn)
        if isinstance(n, ast.Call) and name(n.func) in verbs
        and any(derives(a) for a in (*n.args, *(k.value for k in n.keywords)))
    ]


def test_one_gc_sweep_and_one_reachability_walk():
    """In tcrd_spark/sources/ only the sweep deletes a data file or a
    DV sidecar (apart from OWN_CLEANUP, whose entries still exist), and
    only the walk lists `_branches` or `_clones`."""
    import ast

    found: dict[str, set[str]] = {"deletes": set(), "lists": set()}
    for rel, text in _sources():
        if not rel.startswith("sources" + os.sep):
            continue
        funcs = [
            n for n in ast.walk(ast.parse(text))
            if isinstance(n, ast.FunctionDef)
        ]
        for fn in funcs:
            for kind, seed, verbs in (("deletes", LAKE_DIRS, DELETES),
                                      ("lists", GC_ROOT_DIRS, LISTS)):
                for i in _derived_calls(fn, seed, verbs):
                    # the innermost function holding the line
                    owner = min(
                        (n for n in funcs if n.lineno <= i <= n.end_lineno),
                        key=lambda n: n.end_lineno - n.lineno,
                    )
                    found[kind].add(f"{rel}::{owner.name}")
    assert found["deletes"] == {GC_SWEEP, *OWN_CLEANUP}, found["deletes"]
    assert found["lists"] == {GC_WALK}, found["lists"]


# The one exactly-once rule for micro-batch sinks (streaming/sink.py):
# its launcher is the only foreachBatch call, and its batch write the
# only place a `batch_id=` directory is named, whether by a path string
# or by a dynamic partition overwrite on the column.
SINK_LAUNCH = "streaming/sink.py::launch"
SINK_WRITE = "streaming/sink.py::write_batch"
FOREACH_BATCH = re.compile(r"foreachBatch\(")
BATCH_DIR = re.compile(
    r"""["']batch_id=|partitionBy\(\s*["']batch_id["']"""
)


def test_one_exactly_once_rule_for_stream_sinks():
    """foreachBatch( occurs once in tcrd_spark/, in the launcher, and
    only the batch write builds a `batch_id=` directory."""
    import ast

    found: dict[str, list[str]] = {"launch": [], "write": []}
    for rel, text in _sources():
        funcs = [
            n for n in ast.walk(ast.parse(text))
            if isinstance(n, ast.FunctionDef)
        ]
        for i, line in enumerate(text.splitlines(), 1):
            for kind, rule in (("launch", FOREACH_BATCH),
                               ("write", BATCH_DIR)):
                if rule.search(line):
                    owner = min(
                        (n for n in funcs if n.lineno <= i <= n.end_lineno),
                        key=lambda n: n.end_lineno - n.lineno,
                        default=None,
                    )
                    found[kind].append(
                        f"{rel}::{owner.name if owner else '<module>'}"
                    )
    assert found["launch"] == [SINK_LAUNCH], found["launch"]
    assert found["write"] == [SINK_WRITE], found["write"]


# The one fork rule (sources/branches.py): a branch or a clone reaches
# its source's data only through the `data_dir` its `_branch.json`
# records, and only the fork helper publishes that object.
FORK_HELPER = "sources/branches.py::_fork"
PUBLISHES = {"_publish_exclusive", "publish_exclusive"}


def test_one_fork_rule():
    """No os.symlink call in tcrd_spark/sources/, and only the fork
    helper publishes a `_branch.json`."""
    import ast

    links: list[str] = []
    publishers: set[str] = set()
    for rel, text in _sources():
        if not rel.startswith("sources" + os.sep):
            continue
        tree = ast.parse(text)
        links += [
            f"{rel}:{n.lineno}" for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and getattr(n.func, "attr", getattr(n.func, "id", None))
            == "symlink"
        ]
        funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
        for fn in funcs:
            for i in _derived_calls(fn, {"_branch.json"}, PUBLISHES):
                owner = min(
                    (n for n in funcs if n.lineno <= i <= n.end_lineno),
                    key=lambda n: n.end_lineno - n.lineno,
                )
                publishers.add(f"{rel}::{owner.name}")
    assert not links, links
    assert publishers == {FORK_HELPER}, publishers


# The one append rule (sources/snapshots.py): a blind append rebases
# onto a moved head through one helper, so the conflict check, the
# txn guard and the schema it records cannot drift between callers.
APPEND_HELPER = "sources/snapshots.py::_append_commit"


def test_one_append_rule():
    """In tcrd_spark/sources/ only the append helper calls `_commit`
    inside a loop (the CAS retry), and only it builds an
    `"op": "append"` manifest."""
    import ast

    found: dict[str, set[str]] = {"loops": set(), "appends": set()}
    for rel, text in _sources():
        if not rel.startswith("sources" + os.sep):
            continue
        tree = ast.parse(text)
        funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]

        def owner(node):
            return min(
                (f for f in funcs
                 if f.lineno <= node.lineno <= f.end_lineno),
                key=lambda f: f.end_lineno - f.lineno,
                default=None,
            )

        def where(node):
            fn = owner(node)
            return f"{rel}::{fn.name if fn else '<module>'}"

        for loop in ast.walk(tree):
            if not isinstance(loop, (ast.For, ast.While)):
                continue
            for n in ast.walk(loop):
                if isinstance(n, ast.Call) and getattr(
                    n.func, "attr", getattr(n.func, "id", None)
                ) == "_commit":
                    found["loops"].add(where(n))
        for n in ast.walk(tree):
            if isinstance(n, ast.Dict) and any(
                isinstance(k, ast.Constant) and k.value == "op"
                and isinstance(v, ast.Constant) and v.value == "append"
                for k, v in zip(n.keys, n.values)
            ):
                found["appends"].add(where(n))
    assert found["loops"] == {APPEND_HELPER}, found["loops"]
    assert found["appends"] == {APPEND_HELPER}, found["appends"]
