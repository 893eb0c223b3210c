"""Predicate DELETE with copy-on-write file pruning (Iceberg
`DELETE FROM ... WHERE` analog, SURVEY.md §2 B5/B7 family):
partitions the predicate provably cannot match are CARRIED into the
new snapshot untouched (metadata-only); only possibly-matching
partitions are read and rewritten. ANSI semantics: a row whose
predicate evaluates NULL is KEPT (DELETE removes only TRUE rows).
Unpartitioned tables do a full CoW rewrite (documented)."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
from dynamodb_zero_etl_s3tables_spark.table.manifest import ManagedTable


def _df(spark, n=2000):
    return spark.range(0, n).select(
        F.col("id").alias("pk"),
        (F.col("id") % 5).alias("g"),
        (F.col("id") * 2.0).alias("x"),
    )


def _ptable(spark, warehouse, name="dw"):
    t = ManagedTable(
        spark,
        warehouse,
        TableSpec(
            namespace="ns", name=name, key_columns=("pk",),
            partition_columns=("g",),
        ),
    )
    t.bootstrap(_df(spark))
    return t


def test_partitioned_delete_carries_untouched_partitions(spark, warehouse):
    t = _ptable(spark, warehouse)
    old_entries = {
        e["values"]["g"]: e["dir"]
        for e in t._read_manifest().current.partitions
    }
    r = t.delete_where([("g", "=", 2), ("pk", "<", 100)])
    assert r["partitions_rewritten"] == 1 and r["partitions_carried"] == 4
    snap = t._read_manifest().current
    assert snap.operation == "delete"
    # carried partitions reference the OLD dirs byte-for-byte
    for e in snap.partitions:
        if e["values"]["g"] != "2":
            assert e["dir"] == old_entries[e["values"]["g"]]
        else:
            assert e["dir"] != old_entries["2"]
    got = sorted(r0["pk"] for r0 in t.read().filter("g = 2").collect())
    want = sorted(i for i in range(2000) if i % 5 == 2 and i >= 100)
    assert got == want
    # other partitions untouched
    assert t.read().count() == 2000 - len(
        [i for i in range(100) if i % 5 == 2]
    )


def test_delete_all_rows_of_partition_drops_it(spark, warehouse):
    t = _ptable(spark, warehouse, "dw2")
    r = t.delete_where([("g", "=", 3)])
    assert r["partitions_rewritten"] == 1 and r["partitions_carried"] == 4
    assert t.read().filter("g = 3").count() == 0
    assert len(t._read_manifest().current.partitions) == 4


def test_unpartitioned_delete_full_rewrite(spark, warehouse):
    t = ManagedTable(
        spark, warehouse,
        TableSpec(namespace="ns", name="du", key_columns=("pk",)),
    )
    t.bootstrap(_df(spark))
    r = t.delete_where([("pk", ">=", 1500)])
    assert r["partitions_rewritten"] is None
    assert t.read().count() == 1500
    assert t._read_manifest().current.operation == "delete"


def test_null_predicate_rows_are_kept(spark, warehouse):
    t = ManagedTable(
        spark, warehouse,
        TableSpec(namespace="ns", name="dn", key_columns=("pk",)),
    )
    t.bootstrap(
        spark.createDataFrame(
            [Row(pk=1, x=1.0), Row(pk=2, x=None), Row(pk=3, x=9.0)],
            schema="pk bigint, x double",
        )
    )
    t.delete_where([("x", ">", 5.0)])
    assert sorted(r["pk"] for r in t.read().collect()) == [1, 2]


def test_delete_time_travel_keeps_history(spark, warehouse):
    t = _ptable(spark, warehouse, "dh")
    v = t.version
    t.delete_where([("g", "=", 0)])
    assert t.read(version=v).count() == 2000
    assert t.read().count() == 1600


def test_delete_rejects_unknown_op(spark, warehouse):
    import pytest

    t = _ptable(spark, warehouse, "dr")
    with pytest.raises(ValueError, match="unsupported scan op"):
        t.delete_where([("g", "!=", 1)])


# ---------------------------------------------------------------------------
# update_where: the UPDATE companion, same pruning
# ---------------------------------------------------------------------------


def test_partitioned_update_carries_and_rewrites(spark, warehouse):
    t = _ptable(spark, warehouse, "uw")
    old_dirs = {
        e["values"]["g"]: e["dir"]
        for e in t._read_manifest().current.partitions
    }
    r = t.update_where([("g", "=", 1), ("pk", "<", 50)], {"x": "x + 1000.0"})
    assert r["partitions_rewritten"] == 1 and r["partitions_carried"] == 4
    snap = t._read_manifest().current
    assert snap.operation == "update"
    for e in snap.partitions:
        if e["values"]["g"] != "1":
            assert e["dir"] == old_dirs[e["values"]["g"]]
    got = {r0["pk"]: r0["x"] for r0 in t.read().filter("g = 1").collect()}
    for pk, x in got.items():
        want = pk * 2.0 + (1000.0 if pk < 50 else 0.0)
        assert x == want, (pk, x, want)
    assert t.read().count() == 2000  # UPDATE never changes cardinality


def test_update_rejects_partition_column_assignment(spark, warehouse):
    import pytest

    t = _ptable(spark, warehouse, "uwp")
    with pytest.raises(ValueError, match="partition columns"):
        t.update_where([("pk", "<", 10)], {"g": "g + 1"})


def test_update_null_predicate_rows_untouched(spark, warehouse):
    from pyspark.sql import Row

    t = ManagedTable(
        spark, warehouse,
        TableSpec(namespace="ns", name="un", key_columns=("pk",)),
    )
    t.bootstrap(
        spark.createDataFrame(
            [Row(pk=1, x=1.0), Row(pk=2, x=None), Row(pk=3, x=9.0)],
            schema="pk bigint, x double",
        )
    )
    t.update_where([("x", ">", 5.0)], {"x": "x * 2"})
    got = {r["pk"]: r["x"] for r in t.read().collect()}
    assert got == {1: 1.0, 2: None, 3: 18.0}


def test_update_respects_constraints(spark, warehouse):
    import pytest

    from dynamodb_zero_etl_s3tables_spark.table.manifest import (
        ConstraintViolationError,
    )

    t = ManagedTable(
        spark, warehouse,
        TableSpec(
            namespace="ns", name="uc", key_columns=("pk",),
            check_constraints=("x >= 0",),
        ),
    )
    t.bootstrap(_df(spark, 100))
    v = t.version
    with pytest.raises(ConstraintViolationError):
        t.update_where([("pk", "<", 10)], {"x": "-1.0"})
    assert t.version == v


# ---------------------------------------------------------------------------
# NaN: Spark orders NaN above every number and treats NaN = NaN as
# true, so pruning must never rule a NaN partition value, file bound
# or filter value out
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "layout, filters",
    [
        ("partitioned", [("p", "=", float("nan"))]),
        ("partitioned", [("p", ">", 2.0)]),
        ("flat", [("p", ">", 2.0)]),  # one file with stats [0.5, NaN]
    ],
)
def test_nan_never_prunes(spark, warehouse, layout, filters):
    partitioned = layout == "partitioned"
    t = ManagedTable(
        spark, warehouse,
        TableSpec(namespace="ns", name="nan", key_columns=("pk",),
                  partition_columns=("p",) if partitioned else ()),
    )
    values = [1.5, float("nan"), 2.5] if partitioned else [0.5, float("nan")]
    t.bootstrap(
        spark.createDataFrame(list(enumerate(values)), "pk long, p double").coalesce(1)
    )
    pred = ManagedTable._predicate_from_filters(filters)

    def rows(df):
        # NaN != NaN in Python: compare it by name
        return sorted((r.pk, "NaN" if r.p != r.p else r.p) for r in df.collect())

    before = t.read(version=1)
    assert rows(t.scan(filters)) == rows(before.filter(pred))
    t.delete_where(filters)
    assert rows(t.read()) == rows(before.filter(~pred))
    t.rollback_to(1)
    t.delete_matching(before.filter(pred).select("pk"))
    assert rows(t.read()) == rows(before.filter(~pred))
