"""One differential harness for the scale-adaptive forks.

A fork is a function that picks one of two or more code paths by input
size. ``assert_paths_agree`` builds the same result once per forced
path and asserts that every path returns the same schema and the same
sorted multiset of rows, doubles compared by ``repr`` (bit-equal, not
approximately equal).

One path's fixtures run concurrently under its patches (small
fixtures are latency-bound, as in the oracle sweep's thread pool).

``FORKS`` is the table. Each fork names:
- ``owner``: the function holding its size decision
  (``tests/test_memo_store.py`` fails on a ``.limit(N + 1)`` probe that
  no fork names);
- ``paths``: path name -> (build, patches), where ``patches`` maps
  (module, attribute) -> the value that forces the path;
- ``fixtures``: the shared edge cases every fork runs (``SHARED``:
  empty input, NULL ids or endpoints, one hot key) plus the cases of
  the fork tests that now call the harness.
"""

from __future__ import annotations

import os
import random
import sys
import tempfile
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F

from tcrd_spark.operators import graph
from tcrd_spark.pipeline import corpus, dedup, semdedup
from tcrd_spark.registry import all_queries
from tcrd_spark.session import memo
from tcrd_spark.sources import lake

SHARED = ("empty", "null", "hot")
DIM = 64


@dataclass(frozen=True)
class Fork:
    owner: str
    paths: dict[str, tuple[Callable, dict]]
    fixtures: dict[str, Callable]


def rows_of(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


def run_path(build: Callable, patches: dict, inputs: dict) -> dict:
    """{fixture: (schema, rows)} of one path over every input."""

    def run(x):
        df = build(inputs[x])
        return df.schema, rows_of(df)

    with pytest.MonkeyPatch.context() as mp:
        for (module, attr), value in patches.items():
            mp.setattr(module, attr, value)
        with ThreadPoolExecutor(len(inputs)) as pool:
            return dict(zip(inputs, pool.map(run, inputs)))


def assert_paths_agree(
    spark, sf_dir, fork: str, fixtures: tuple[str, ...],
    paths: tuple[str, ...] = (),
) -> dict[str, list[str]]:
    """Run every path of ``FORKS[fork]`` (or only ``paths``) on each of
    ``fixtures``; return {fixture: the agreed rows}."""
    f = FORKS[fork]
    inputs = {x: f.fixtures[x](spark, sf_dir) for x in fixtures}
    results = {
        name: run_path(build, patches, inputs)
        for name, (build, patches) in f.paths.items()
        if not paths or name in paths
    }
    (ref_name, ref), *rest = results.items()
    for name, got in rest:
        for x in fixtures:
            assert got[x][0] == ref[x][0], (fork, x, name, ref_name, got[x][0])
            assert got[x][1] == ref[x][1], (fork, x, name, ref_name)
    return {x: rows for x, (_, rows) in ref.items()}


# ------------------------------------------------------------ edge lists

def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _cc_random(spark, sf_dir):
    rng = random.Random(23)
    pairs = [(rng.randrange(80), rng.randrange(80)) for _ in range(60)]
    return _edges(spark, [(u, v) for u, v in pairs if u != v])


def _pr_random(spark, sf_dir):
    rng = random.Random(42)
    pairs = {(rng.randrange(1, 60), rng.randrange(1, 60)) for _ in range(150)}
    return _edges(spark, sorted((a, b) for a, b in pairs if a != b))


EDGE_FIXTURES = {
    "empty": lambda spark, sf_dir: _edges(spark, []),
    "null": lambda spark, sf_dir: _edges(
        spark,
        [(1, 2), (2, None), (None, 3), (3, 4), (None, None), (4, 1), (5, 6)],
    ),
    # a star: every edge shares the hub
    "hot": lambda spark, sf_dir: _edges(
        spark, [(i, 0) for i in range(1, 40)] + [(0, 40)]
    ),
}


# -------------------------------------------------------------- vectors

def _emb(spark, sf_dir):
    return lake.load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )


def _vec_rows(spark, sf_dir, n):
    return [
        (r.vec_id, r.embedding)
        for r in _emb(spark, sf_dir).where(f"vec_id < {n}").collect()
    ]


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _vec_null(spark, sf_dir):
    rows = _vec_rows(spark, sf_dir, 6)
    # a NULL id and a real id carrying copies of one vector (only the
    # real one may pair), and a NULL vector
    v = rows[1][1]
    return _vecs(spark, rows + [(None, v), (1001, v), (1000, None)])


def _vec_hot(spark, sf_dir):
    # every vector points the same way: each pair is a near-dup
    v = _vec_rows(spark, sf_dir, 1)[0][1]
    return _vecs(spark, [(i, [x * (1 + i % 3) for x in v]) for i in range(6)])


VEC_FIXTURES = {
    "empty": lambda spark, sf_dir: _emb(spark, sf_dir).where("vec_id < 0"),
    "null": _vec_null,
    "hot": _vec_hot,
    "panel": _emb,
    "small": lambda spark, sf_dir: _emb(spark, sf_dir).where("vec_id < 40"),
}


def _blocked_paths(build):
    """The blocked scorer at 1, 16 and 97 blocks, and adaptive: sized
    from the row count at 100 rows per block (5 blocks on the 500-vector
    sf0.001 panel)."""
    return {
        "blocks-1": (build, {(dedup, "_MAX_BLOCKS"): 1}),
        "adaptive": (
            lambda x: build(x, adaptive=True), {(dedup, "_BLOCK_ROWS"): 100}
        ),
        "blocks-16": (build, {(dedup, "_MAX_BLOCKS"): 16}),
        "blocks-97": (build, {(dedup, "_MAX_BLOCKS"): 97}),
    }


def _embedding_blocked(df, adaptive=False):
    return dedup.embedding_near_dups_blocked(
        df, "vec_id", "embedding", DIM, threshold=0.4,
        n_rows=df.count() if adaptive else None,
    )


def _cells(spark, sf_dir, corpus_df, n_cells=8):
    """(corpus, centroids) in semdedup's shape; centroids are the first
    ``n_cells`` vectors of the sf_dir panel."""
    cents = _emb(spark, sf_dir).where(f"vec_id < {n_cells}").select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cell_vec")
    )
    return corpus_df.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    ), cents


def _semantic_blocked(x, adaptive=False):
    c, cents = x
    return semdedup.semantic_pairs_blocked(
        c, cents, DIM, 0.4, n_rows=c.count() if adaptive else None
    )


def _as_cells(make, n_cells=8):
    return lambda spark, sf_dir: _cells(
        spark, sf_dir, make(spark, sf_dir), n_cells
    )


SEM_FIXTURES = {
    "empty": _as_cells(VEC_FIXTURES["empty"]),
    "null": _as_cells(_vec_null),
    # one cell holds every vector, and every pair is a near-dup
    "hot": _as_cells(_vec_hot, n_cells=1),
    "panel": _as_cells(_emb),
}


FORKS = {
    # driver union-find up to corpus._CC_DRIVER_MAX edges, the
    # alternating-star loop above it
    "cc": Fork(
        owner="pipeline/corpus.py::connected_components",
        paths={
            name: (
                lambda e: corpus.connected_components(e, "src", "dst"),
                {(corpus, "_CC_DRIVER_MAX"): cap},
            )
            for name, cap in (("driver", 10**9), ("star-loop", 0))
        },
        fixtures={**EDGE_FIXTURES, "random": _cc_random},
    ),
    # driver iterations up to graph._PR_DRIVER_MAX edges, the
    # distributed cut loop above it
    "pagerank": Fork(
        owner="operators/graph.py::pagerank",
        paths={
            name: (
                lambda e: graph.pagerank(e, "src", "dst"),
                {(graph, "_PR_DRIVER_MAX"): cap},
            )
            for name, cap in (("driver", 10**9), ("distributed", 0))
        },
        fixtures={**EDGE_FIXTURES, "random": _pr_random},
    ),
    # brute-force driver broadcast vs the block grid
    "embedding": Fork(
        owner="pipeline/dedup.py::embedding_near_dups_blocked",
        paths={
            "brute": (
                lambda df: dedup.embedding_near_dups(
                    df, "vec_id", "embedding", DIM, threshold=0.4
                ),
                {},
            ),
            **_blocked_paths(_embedding_blocked),
        },
        fixtures=VEC_FIXTURES,
    ),
    # SemDeDup's cell-scoped equi-join scorer vs the block grid
    "semdedup": Fork(
        owner="pipeline/semdedup.py::semantic_pairs_blocked",
        paths={
            "join": (lambda x: semdedup.semantic_pairs(*x, DIM, 0.4), {}),
            **_blocked_paths(_semantic_blocked),
        },
        fixtures=SEM_FIXTURES,
    ),
}


# ---------------------------------------------------------- input split

# every query that calls lake.split_for_scan, with the table it splits
SPLIT_SITES = {
    "decontaminate": "documents",
    "corpus_pipeline": "documents",
    "bm25_search": "documents",
    "dedup_containment": "documents",
    "cms_heavy_hitters": "lineitem",
    "gopher_repetition": "documents",
    "gopher_quality_filter": "documents",
    "substring_dedup": "documents",
    "substring_excise": "documents",
    "substring_dedup_incremental": "documents",
    "nb_classify": "documents",
    "dsir_weights": "documents",
    "dsir_sample": "documents",
    "corpus_pipeline_v2": "documents",
    "winnow_fingerprints": "documents",
    "winnow_candidate_pairs": "documents",
    "dedup_edit_distance": "documents",
}


def _fixture_rows(spark, sf_dir, table, kind):
    t = lake.load_table(spark, sf_dir, table)
    if kind == "empty":
        return t.limit(0)
    head = t.orderBy(t.columns[0]).limit(20).collect()
    key, rest = t.columns[0], t.columns[1:]
    if kind == "null":
        # a row without its key, and a keyed row with nothing else
        top = max(r[key] for r in head) + 1
        extra = [
            {**head[0].asDict(), key: None},
            {key: top, **{c: None for c in rest}},
        ]
        rows = [r.asDict() for r in head] + extra
    else:  # "hot": every row carries the first row's values
        rows = [{**head[0].asDict(), key: r[key]} for r in head]
    return spark.createDataFrame(rows, t.schema)


def split_lake(spark, sf_dir, table, kind):
    """A copy of the sf_dir lake whose ``table`` is the ``kind``
    fixture: the other tables are symlinks, and the session store owns
    (and removes) the directory."""

    def build():
        root = tempfile.mkdtemp(prefix="tcrd_dual_")
        for f in os.listdir(sf_dir):
            if f != f"{table}.parquet":
                os.symlink(os.path.join(sf_dir, f), os.path.join(root, f))
        _fixture_rows(spark, sf_dir, table, kind).coalesce(1).write.parquet(
            os.path.join(root, f"{table}.parquet")
        )
        return root

    return memo(spark, f"dual-path-lake-{kind}", (sf_dir, table), build)


def _split_inputs(table, kind):
    return lambda spark, sf_dir: (
        spark, split_lake(spark, sf_dir, table, kind)
    )


def _split_fork(name, table):
    query = all_queries()[name]
    # every loaded module that bound the function (a module-level
    # import holds its own reference)
    bound = [
        m for k, m in list(sys.modules.items())
        if k.startswith("tcrd_spark")
        and getattr(m, "split_for_scan", None) is lake.split_for_scan
    ]
    return Fork(
        owner="sources/lake.py::split_for_scan",
        paths={
            path: (
                lambda x: query(*x), {(m, "split_for_scan"): fn for m in bound}
            )
            for path, fn in (
                ("split", lambda spark, df: df.repartition(
                    spark.sparkContext.defaultParallelism
                )),
                ("plain", lambda spark, df: df),
            )
        },
        fixtures={kind: _split_inputs(table, kind) for kind in SHARED},
    )


FORKS.update(
    {f"split-{name}": _split_fork(name, t) for name, t in SPLIT_SITES.items()}
)
