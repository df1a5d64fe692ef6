"""The versioned table's schema lives in its manifest
(sources/snapshots.py): every commit records it, every read plans from
it without opening a footer, and a manifest written before schemas
were recorded still reads the same."""

from __future__ import annotations

import json
import os

import pytest

from tcrd_spark.sources import branches, snapshots

SCHEMA = "id long, grp string, val double, tag string, n int"


def _rows(n=12, start=0):
    return [
        (i, f"g{i % 3}", None if i % 5 == 4 else i * 1.5, f"t{i % 2}", i)
        for i in range(start, start + n)
    ]


def _table(spark, tmp_path) -> str:
    path = str(tmp_path / "t")
    snapshots.create_table(spark.createDataFrame(_rows(), SCHEMA), path, "grp")
    return path


def _merge_source(spark):
    # two updates and one insert, each in its key's partition
    return spark.createDataFrame(
        [(1, "g1", -1.0, "t1", 1), (4, "g1", -4.0, "t0", 4),
         (20, "g2", 20.0, "t0", 20)],
        SCHEMA,
    )


def _merged(rows):
    src = {1: (1, "g1", -1.0, "t1", 1), 4: (4, "g1", -4.0, "t0", 4),
           20: (20, "g2", 20.0, "t0", 20)}
    return [src.pop(r[0], r) for r in rows] + list(src.values())


def _branch_append(spark, path):
    bdir = branches.create_branch(path, "b")
    snapshots.append_version(
        bdir, spark.createDataFrame(_rows(2, start=30), SCHEMA)
    )
    branches.merge_branch(spark, path, "b")


def _branch_rewrite(spark, path):
    bdir = branches.create_branch(path, "b")
    snapshots.delete_version(spark, bdir, "id = 3")
    branches.merge_branch(spark, path, "b")


def _restore(spark, path):
    snapshots.delete_version(spark, path, "id < 6")
    snapshots.restore_version(path, 1)


# verb -> (commit, the head's rows from version 1's rows)
VERBS = {
    "merge": (
        lambda spark, p: snapshots.merge_version(
            spark, p, _merge_source(spark), ["id"]),
        _merged,
    ),
    "merge-dv": (
        lambda spark, p: snapshots.merge_version(
            spark, p, _merge_source(spark), ["id"], granularity="dv"),
        _merged,
    ),
    "delete": (
        lambda spark, p: snapshots.delete_version(spark, p, "id % 4 = 0"),
        lambda rows: [r for r in rows if r[0] % 4],
    ),
    "delete-dv": (
        lambda spark, p: snapshots.delete_version(
            spark, p, "id % 4 = 0", mode="dv"),
        lambda rows: [r for r in rows if r[0] % 4],
    ),
    "update": (
        lambda spark, p: snapshots.update_version(
            spark, p, "id < 3", {"val": "val + 1"}),
        lambda rows: [
            (r[0], r[1], r[2] + 1 if r[0] < 3 else r[2], *r[3:])
            for r in rows
        ],
    ),
    "optimize": (
        lambda spark, p: snapshots.optimize_version(spark, p),
        lambda rows: rows,
    ),
    "repartition": (
        lambda spark, p: snapshots.repartition_table(spark, p, "tag"),
        lambda rows: rows,
    ),
    "restore": (_restore, lambda rows: rows),
    "append": (
        lambda spark, p: snapshots.append_version(
            p, spark.createDataFrame(_rows(3, start=40), SCHEMA)),
        lambda rows: rows + _rows(3, start=40),
    ),
    "branch-append": (_branch_append, lambda rows: rows + _rows(2, start=30)),
    "branch-fast-forward": (
        _branch_rewrite, lambda rows: [r for r in rows if r[0] != 3]
    ),
}


def _fields(schema) -> dict:
    return {f.name: (f.dataType, f.nullable) for f in schema.fields}


@pytest.mark.parametrize("verb", list(VERBS))
def test_every_verb_keeps_the_schema(spark, tmp_path, verb):
    """The head a verb commits records its parent's schema, and reads
    back with the parent's types, nullability and column order and
    the verb's rows; the parent version still reads as before."""
    path = _table(spark, tmp_path)
    v1 = snapshots.read_version(spark, path)
    want_schema, v1_rows = v1.schema, sorted(v1.collect())
    commit, effect = VERBS[verb]
    commit(spark, path)
    head = snapshots._head(path)
    assert head["version"] > 1
    parent = snapshots._read_manifest(path, 1)["schema"]
    if verb == "repartition":
        # the partition column moved to the end of the inferred schema
        assert sorted(map(json.dumps, head["schema"]["fields"])) == sorted(
            map(json.dumps, parent["fields"]))
    else:
        assert head["schema"] == parent
    got = snapshots.read_version(spark, path)
    assert got.schema == want_schema
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        effect([tuple(r) for r in v1_rows]))
    again = snapshots.read_version(spark, path, 1)
    assert again.schema == want_schema and sorted(again.collect()) == v1_rows


def test_evolving_append_extends_the_schema(spark, tmp_path):
    """append_version(merge_schema=True) records the parent's fields
    plus the new column; files from before it read the column as
    NULL of its type, in any subset the scan reads."""
    path = _table(spark, tmp_path)
    before = snapshots.read_version(spark, path).schema
    snapshots.append_version(
        path,
        spark.createDataFrame(
            [(50, "g2", 1.0, "t0", 50, 7)], f"{SCHEMA}, extra long"
        ),
        merge_schema=True,
    )
    got = snapshots.read_version(spark, path)
    assert _fields(got.schema) == {
        **_fields(before), "extra": (got.schema["extra"].dataType, True)
    }
    assert str(got.schema["extra"].dataType) == "LongType()"
    rows = {r.id: r.extra for r in got.collect()}
    assert rows[50] == 7 and all(v is None for k, v in rows.items() if k != 50)
    # a pruned read of only pre-evolution files still has the column
    pruned = snapshots.read_version_pruned(spark, path, "id", 0, 3)
    assert pruned.schema == got.schema
    assert {r.extra for r in pruned.collect()} == {None}


def test_a_staged_partition_value_that_does_not_fit_reinfers(spark, tmp_path):
    """An int-typed partition column that receives a non-integer value
    reads as string, exactly as inferring over the files did."""
    path = str(tmp_path / "t")
    snapshots.create_table(
        spark.createDataFrame([(1, 1), (2, 2)], "id long, k int"), path, "k"
    )
    assert snapshots.read_version(spark, path).schema["k"].dataType.simpleString() == "int"
    snapshots.append_version(
        path, spark.createDataFrame([(3, "x")], "id long, k string")
    )
    got = snapshots.read_version(spark, path)
    assert got.schema["k"].dataType.simpleString() == "string"
    assert sorted((r.id, r.k) for r in got.collect()) == [
        (1, "1"), (2, "2"), (3, "x")
    ]
    assert snapshots._head(path)["schema"] == snapshots._infer_schema(
        spark, path, snapshots._head(path)["files"]
    )


def test_manifest_without_schema_reads_identically(spark, tmp_path):
    """A manifest written before schemas were recorded (no `schema`
    key) reads with the same schema and rows, every version and DV
    state included; a commit on top of it records the schema again."""
    path = _table(spark, tmp_path)
    snapshots.append_version(
        path,
        spark.createDataFrame(
            [(50, "g2", 1.0, "t0", 50, 7)], f"{SCHEMA}, extra long"
        ),
        merge_schema=True,
    )
    snapshots.delete_version(spark, path, "id = 2", mode="dv")
    vs = snapshots.versions(path)
    want = {}
    for v in vs:
        df = snapshots.read_version(spark, path, v)
        want[v] = (df.schema, sorted(df.collect()))
    for v in vs:
        p = snapshots._manifest_path(path, v)
        with open(p) as fh:
            m = json.load(fh)
        del m["schema"]
        with open(p, "w") as fh:
            json.dump(m, fh)
    for v in vs:
        df = snapshots.read_version(spark, path, v)
        assert (df.schema, sorted(df.collect())) == want[v], v
    snapshots.delete_version(spark, path, "id = 5")
    assert snapshots._head(path)["schema"] is not None
    df = snapshots.read_version(spark, path)
    assert df.schema == want[vs[-1]][0]


def _jobs(spark, fn):
    """(fn's result, Spark jobs fired while it ran) — every job the
    scheduler numbered, broadcast builds included."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    n0 = dag.nextJobId()
    out = fn()
    return out, dag.nextJobId() - n0


def test_reads_plan_from_the_manifest_without_a_job(spark, tmp_path):
    """Building a snapshot read opens no footer: no schema-inference
    job for the data files or for the DV sidecars."""
    path = _table(spark, tmp_path)
    snapshots.delete_version(spark, path, "id = 2", mode="dv")
    assert snapshots._head(path)["dv"]
    for v in snapshots.versions(path):
        df, n = _jobs(spark, lambda: snapshots.read_version(spark, path, v))
        assert n == 0, (v, n)
        assert df.count() == (12 if v == 1 else 11)
    _, n = _jobs(
        spark, lambda: snapshots.read_version_pruned(spark, path, "id", 0, 5)
    )
    assert n == 0
    # the legacy read pays exactly the one inference
    m = snapshots._head(path)
    _, n = _jobs(spark, lambda: snapshots._scan(
        spark, path, {**m, "schema": None}, m["files"]))
    assert n == 1


def test_mergeschema_only_in_the_legacy_inference():
    """`mergeSchema` appears once in the package: the one inference
    (`snapshots._infer_schema`)."""
    root = os.path.dirname(snapshots.__file__)
    hits = []
    for dirpath, _, files in os.walk(os.path.dirname(root)):
        for f in files:
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f)) as fh:
                    hits += [
                        f"{f}:{i}" for i, line in enumerate(fh, 1)
                        if '"mergeSchema"' in line
                    ]
    assert len(hits) == 1 and hits[0].startswith("snapshots.py:"), hits
    with open(snapshots.__file__) as fh:
        lines = fh.readlines()
    line = int(hits[0].split(":")[1])
    owner = max(
        i for i, text in enumerate(lines[:line], 1)
        if text.startswith("def ")
    )
    assert lines[owner - 1].startswith("def _infer_schema("), owner
