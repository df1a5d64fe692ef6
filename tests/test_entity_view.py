"""The point readers' materialized entity view (api/adaptor.py
`_entity_view`): bare `get_target` and `find_targets` answer exactly as
the lazy `entity(lake)` join filtered the same way, and a view never
outlives the lake frames it was built from."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tcrd_spark.api.adaptor import entity, find_targets, get_target
from tcrd_spark.sources.lake import load_lake

TARGET = ("id long, name string, ttype string, tdl string, idg boolean, "
          "fam string, famext string")
T2TC = "target_id long, protein_id long"
PROTEIN = ("id long, name string, uniprot string, sym string, "
           "geneid long, stringid string")

# T1 one protein; T2 two; T3 no t2tc row; T4 a t2tc row whose protein
# is missing; T5 a NULL protein_id; T6 a NULL tdl; a NULL-id target, a
# NULL target_id bridge row and a NULL-id protein
TARGETS = [
    (1, "T1", "SP", "Tclin", True, "Kinase", None),
    (2, "T2", "SP", "Tchem", False, "GPCR", "x"),
    (3, "T3", "SP", "Tbio", False, "Kinase", None),
    (4, "T4", "SP", "Tdark", False, None, None),
    (5, "T5", "SP", "Tbio", True, "IC", None),
    (6, "T6", "SP", None, False, "Kinase", None),
    (None, "TN", "SP", "Tdark", False, "IC", None),
]
BRIDGE = [(1, 11), (2, 12), (2, 13), (4, 99), (5, None), (6, 16),
          (None, 11)]
PROTEINS = [
    (11, "P11", "U11", "SYM11", 111, "S11"),
    (12, "P12", "U12", "SYM12", 112, None),
    (13, "P13", "U13", "SYM12", None, "S13"),
    (16, "P16", None, "SYM16", 116, "S16"),
    (None, "PN", "UN", "SYMN", 100, "SN"),
]


def _write_lake(spark, d):
    for name, rows, schema in (("target", TARGETS, TARGET),
                               ("t2tc", BRIDGE, T2TC),
                               ("protein", PROTEINS, PROTEIN)):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(d / f"{name}.parquet"))
    return load_lake(spark, str(d))


def _same(got, want):
    assert got.schema == want.schema  # nullability included
    rows = sorted(got.collect(), key=repr)
    assert rows == sorted(want.collect(), key=repr)
    return rows


def test_point_reads_equal_the_filtered_join(spark, tmp_path):
    """For every target id (a missing one and NULL included) and every
    find_targets criterion value, the view-backed reads equal the lazy
    join filtered the same way."""
    lake = _write_lake(spark, tmp_path)
    ent = entity(lake)
    for tid in [1, 2, 3, 4, 5, 6, 7, None]:
        rows = _same(get_target(lake, tid),
                     ent.filter(F.col("target_id") == tid))
        assert len(rows) == {1: 1, 2: 2, 6: 1}.get(tid, 0), (tid, rows)
    for key, col in (("sym", "sym"), ("uniprot", "uniprot"),
                     ("geneid", "geneid"), ("stringid", "stringid"),
                     ("name", "target_name"), ("tdl", "tdl"), ("fam", "fam")):
        for v in {r[col] for r in ent.collect()} | {None}:
            _same(find_targets(lake, **{key: v}),
                  ent.filter(F.col(col) == v).select("target_id").distinct())
    _same(find_targets(lake, sym="SYM12", tdl="Tchem"),
          ent.filter("sym = 'SYM12' AND tdl = 'Tchem'")
          .select("target_id").distinct())
    with pytest.raises(KeyError):
        find_targets(lake, bogus="x")


def test_get_target_reads_the_merged_snapshot(spark, tmp_path):
    """After merge_version and read_version, get_target returns the new
    tdl, though the old snapshot's frame served reads just before."""
    from tcrd_spark.sources import snapshots

    lake = _write_lake(spark, tmp_path)
    table = str(tmp_path / "versioned_target")
    snapshots.create_table(lake["target"].filter("id IS NOT NULL"), table,
                           "fam")
    lake["target"] = snapshots.read_version(spark, table)
    for _ in range(2):
        assert [r.tdl for r in get_target(lake, 1).collect()] == ["Tclin"]
    snapshots.merge_version(
        spark, table, lake["target"].filter("id = 1").withColumn(
            "tdl", F.lit("Tbio")), ["id"])
    lake["target"] = snapshots.read_version(spark, table)
    assert [r.tdl for r in get_target(lake, 1).collect()] == ["Tbio"]
    assert [r.target_id for r in find_targets(lake, tdl="Tclin").collect()] == []


def test_get_target_reads_a_protein_rewritten_in_place(spark, tmp_path):
    """A protein parquet rewritten at the same path and re-loaded with
    load_lake plans exactly as before; get_target still returns the
    new protein fields."""
    lake = _write_lake(spark, tmp_path)
    assert [r.sym for r in get_target(lake, 1).collect()] == ["SYM11"]
    renamed = [(11, "P11", "U11", "SYM11B", 111, "S11"), *PROTEINS[1:]]
    spark.createDataFrame(renamed, PROTEIN).coalesce(1).write.mode(
        "overwrite").parquet(str(tmp_path / "protein.parquet"))
    lake = load_lake(spark, str(tmp_path))
    assert [r.sym for r in get_target(lake, 1).collect()] == ["SYM11B"]
    assert [r.target_id for r in find_targets(lake, sym="SYM11B").collect()] == [1]


def test_whole_lake_readers_keep_the_lazy_join(spark, tmp_path):
    """The view is invisible to other plans: after a get_target on a
    lake, features_from_lake over the same frames plans from the
    parquet scans, with no cached relation or RDD scan in it."""
    from tests.tcrd_fixtures import build_lake

    from tcrd_spark.analytics.tdl import features_from_lake

    for name, df in build_lake(spark).items():
        if name in ("target", "t2tc", "protein", "drug_activity",
                    "cmpd_activity", "tdl_info", "generif"):
            df.write.parquet(str(tmp_path / f"{name}.parquet"))
    lake = load_lake(spark, str(tmp_path))
    assert get_target(lake, 1).count() == 1
    plan = features_from_lake(lake)._jdf.queryExecution().optimizedPlan()
    text = plan.toString()
    assert "Relation" in text  # the parquet scans
    assert "InMemoryRelation" not in text and "LogicalRDD" not in text
