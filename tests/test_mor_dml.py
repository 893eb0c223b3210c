"""Merge-on-read predicate DML (delete_where / update_where with
strategy="merge-on-read"): tombstone + replacement-image delta layers
with ZERO table rewrite, equivalent to the copy-on-write verbs."""

import pytest
from pyspark.sql import functions as F

from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
from dynamodb_zero_etl_s3tables_spark.table.catalog import Catalog


def _tbl(spark, warehouse, name="mor_dml"):
    t = Catalog(spark, warehouse).create_table(
        TableSpec(namespace="ns", name=name, key_columns=("pk",))
    )
    t.bootstrap(
        spark.createDataFrame(
            [(i, "A" if i % 2 else "B", float(i * 10)) for i in range(1, 9)],
            "pk long, status string, price double",
        )
    )
    return t


def test_mor_delete_tombstones_without_rewrite(spark, warehouse):
    t = _tbl(spark, warehouse, "mdel")
    base_dir = t._read_manifest().current.data_dir
    res = t.delete_where([("status", "=", "A"), ("price", "<", 60.0)],
                         strategy="merge-on-read")
    assert res["keys_deleted"] == 3  # pk 1,3,5
    snap = t._read_manifest().current
    assert snap.operation == "delete-mor" and snap.delta is not None
    assert snap.base_version is not None
    # zero rewrite: the base snapshot's data dir is untouched
    assert t._read_manifest().snapshots[0].data_dir == base_dir
    assert sorted(r.pk for r in t.read().collect()) == [2, 4, 6, 7, 8]
    # time travel still sees the full pre-delete state
    assert t.read(version=1).count() == 8


def test_mor_delete_equals_cow_delete(spark, warehouse):
    a = _tbl(spark, warehouse, "mdel_a")
    b = _tbl(spark, warehouse, "mdel_b")
    filters = [("price", ">=", 40.0)]
    a.delete_where(filters)  # copy-on-write
    b.delete_where(filters, strategy="merge-on-read")
    got_a = sorted(tuple(r) for r in a.read().collect())
    got_b = sorted(tuple(r) for r in b.read().collect())
    assert got_a == got_b


def test_mor_update_rewrites_only_matches(spark, warehouse):
    t = _tbl(spark, warehouse, "mupd")
    res = t.update_where(
        [("status", "=", "B")], {"price": "price * 2"},
        strategy="merge-on-read",
    )
    assert res["rows_updated"] == 4  # pk 2,4,6,8
    snap = t._read_manifest().current
    assert snap.operation == "update-mor" and snap.delta is not None
    got = {r.pk: r.price for r in t.read().collect()}
    assert got == {1: 10.0, 2: 40.0, 3: 30.0, 4: 80.0,
                   5: 50.0, 6: 120.0, 7: 70.0, 8: 160.0}
    # ANSI: rows whose predicate is NULL/FALSE pass through untouched
    assert t.read().count() == 8


def test_mor_update_equals_cow_update(spark, warehouse):
    a = _tbl(spark, warehouse, "mupd_a")
    b = _tbl(spark, warehouse, "mupd_b")
    filters = [("price", "<", 45.0)]
    sets = {"status": "'adjusted'", "price": "price + 1.5"}
    a.update_where(filters, sets)
    b.update_where(filters, sets, strategy="merge-on-read")
    got_a = sorted(tuple(r) for r in a.read().collect())
    got_b = sorted(tuple(r) for r in b.read().collect())
    assert got_a == got_b


def test_mor_dml_layers_compact_and_vacuum(spark, warehouse):
    t = _tbl(spark, warehouse, "mfold")
    t.delete_where([("pk", "<=", 2)], strategy="merge-on-read")
    t.update_where([("pk", ">=", 7)], {"price": "price + 0.5"},
                   strategy="merge-on-read")
    before = sorted(tuple(r) for r in t.read().collect())
    t.compact()
    after = sorted(tuple(r) for r in t.read().collect())
    assert before == after
    assert t._read_manifest().current.delta is None  # layers folded


def test_mor_dml_refusals(spark, warehouse):
    t = _tbl(spark, warehouse, "mbad")
    with pytest.raises(ValueError, match="strategy"):
        t.delete_where([("pk", "=", 1)], strategy="bogus")
    with pytest.raises(ValueError, match="unsupported scan op"):
        t.delete_where([("pk", "!=", 1)], strategy="merge-on-read")


def test_mor_update_allows_partition_column_assignment(spark, warehouse):
    # CoW rejects partition-column assignment (pruned rewrite would
    # strand rows); MoR delta layers have no partition-dir layout, so
    # the reshaping update is legal there.
    t = Catalog(spark, warehouse).create_table(
        TableSpec(namespace="ns", name="mpart", key_columns=("pk",),
                  partition_columns=("status",))
    )
    t.bootstrap(
        spark.createDataFrame(
            [(1, "A", 1.0), (2, "B", 2.0)], "pk long, status string, price double"
        )
    )
    with pytest.raises(ValueError, match="partition columns"):
        t.update_where([("pk", "=", 1)], {"status": "'C'"})
    t.update_where([("pk", "=", 1)], {"status": "'C'"},
                   strategy="merge-on-read")
    got = {r.pk: r.status for r in t.read().collect()}
    assert got == {1: "C", 2: "B"}


def test_mor_merge_jobs_stay_in_callers_job_group(spark, warehouse):
    """The merge-on-read commit writes its two delta files from a
    thread pool; those jobs must carry the caller's job group, so no
    job of the commit lands outside it."""
    t = _tbl(spark, warehouse, "mgroup")
    changes = spark.createDataFrame(
        [("MODIFY", 1, 1, "A", 11.0), ("REMOVE", 1, 2, "B", 0.0)],
        "op string, seq long, pk long, status string, price double",
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("mor-merge-test", "MoR apply_changes")
    try:
        t.apply_changes(changes, order_cols=("seq",), strategy="merge-on-read")
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()
    assert len(tracker.getJobIdsForGroup("mor-merge-test")) >= 2
    assert {r.pk: r.price for r in t.read().collect()}[1] == 11.0
