"""Partition-pruned copy-on-write merge tests: a change batch must
rewrite ONLY the partitions it touches; untouched partition dirs
carry forward by reference (same paths), results match a full merge,
time travel stays intact, and vacuum respects shared dirs."""

import time
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
from dynamodb_zero_etl_s3tables_spark.table.manifest import ManagedTable
from dynamodb_zero_etl_s3tables_spark.table.merge import merge_changes

SPEC = TableSpec(
    namespace="ns",
    name="part_items",
    key_columns=("pk",),
    partition_columns=("shard",),
    order_columns=("seq",),
)


def base_df(spark):
    # shards A (pk 1-3), B (pk 4-6), C (pk 7-9)
    rows = [
        Row(pk=i, shard=s, price=float(i * 10))
        for s, ids in (("A", [1, 2, 3]), ("B", [4, 5, 6]), ("C", [7, 8, 9]))
        for i in ids
    ]
    return spark.createDataFrame(rows)


def changes_df(spark):
    # touch ONLY shard A (update pk=1, delete pk=2) and insert a brand
    # new shard D; shards B and C untouched
    rows = [
        Row(op="MODIFY", seq=1, pk=1, shard="A", price=111.0),
        Row(op="REMOVE", seq=1, pk=2, shard="A", price=0.0),
        Row(op="INSERT", seq=1, pk=10, shard="D", price=100.0),
    ]
    return spark.createDataFrame(rows)


def _entries(t, version=None):
    snap = [s for s in t.history() if version is None or s.version == version][-1]
    return {tuple(e["values"].values()): e["dir"] for e in snap.partitions}


def test_pruned_merge_reuses_untouched_dirs(spark, warehouse):
    t = ManagedTable(spark, warehouse, SPEC)
    t.bootstrap(base_df(spark))
    v1 = _entries(t, 1)
    assert set(v1) == {("A",), ("B",), ("C",)}

    t.apply_changes(changes_df(spark), order_cols=("seq",))
    v2 = _entries(t, 2)
    assert set(v2) == {("A",), ("B",), ("C",), ("D",)}
    # untouched shards carry the SAME dirs; touched/new shards get new ones
    assert v2[("B",)] == v1[("B",)]
    assert v2[("C",)] == v1[("C",)]
    assert v2[("A",)] != v1[("A",)]
    # pruned commit wrote only shard A rows (2) + shard D rows (1)
    assert t.history()[-1].row_count == 3


def test_pruned_merge_matches_full_merge(spark, warehouse):
    t = ManagedTable(spark, warehouse, SPEC)
    t.bootstrap(base_df(spark))
    t.apply_changes(changes_df(spark), order_cols=("seq",))
    got = {(r["pk"], r["shard"], r["price"]) for r in t.read().collect()}
    expected_df = merge_changes(
        base_df(spark), changes_df(spark), keys=["pk"], order_cols=["seq"]
    )
    expected = {(r["pk"], r["shard"], r["price"]) for r in expected_df.collect()}
    assert got == expected
    assert (1, "A", 111.0) in got and not any(r[0] == 2 for r in got)


def test_time_travel_unaffected_by_pruned_merge(spark, warehouse):
    t = ManagedTable(spark, warehouse, SPEC)
    t.bootstrap(base_df(spark))
    t.apply_changes(changes_df(spark), order_cols=("seq",))
    v1_rows = {(r["pk"], r["price"]) for r in t.read(version=1).collect()}
    assert v1_rows == {(i, float(i * 10)) for i in range(1, 10)}


def test_partition_fully_deleted_disappears(spark, warehouse):
    t = ManagedTable(spark, warehouse, SPEC)
    t.bootstrap(base_df(spark))
    wipe_b = spark.createDataFrame(
        [Row(op="REMOVE", seq=1, pk=i, shard="B", price=0.0) for i in [4, 5, 6]]
    )
    t.apply_changes(wipe_b, order_cols=("seq",))
    assert set(_entries(t)) == {("A",), ("C",)}
    assert {r["shard"] for r in t.read().collect()} == {"A", "C"}


def test_vacuum_keeps_shared_dirs(spark, warehouse):
    t = ManagedTable(spark, warehouse, SPEC)
    t.bootstrap(base_df(spark))
    t.apply_changes(changes_df(spark), order_cols=("seq",))
    # age out v1 from history; v2 still references v1's B/C subdirs,
    # so v1's top-level dir must survive the orphan scan
    res = t.vacuum(
        unreferenced_days=10, noncurrent_days=30, now=time.time() + 40 * 86400
    )
    assert res["snapshots_dropped"] == 1
    assert res["dirs_deleted"] == 0
    got = {(r["pk"], r["shard"]) for r in t.read().collect()}
    assert (5, "B") in got and (8, "C") in got


def test_second_pruned_merge_chains(spark, warehouse):
    t = ManagedTable(spark, warehouse, SPEC)
    t.bootstrap(base_df(spark))
    t.apply_changes(changes_df(spark), order_cols=("seq",))
    more = spark.createDataFrame(
        [Row(op="MODIFY", seq=1, pk=7, shard="C", price=777.0)]
    )
    t.apply_changes(more, order_cols=("seq",))
    v3 = _entries(t, 3)
    v2 = _entries(t, 2)
    assert v3[("B",)] == v2[("B",)]
    assert v3[("A",)] == v2[("A",)]  # untouched in merge 2
    assert v3[("C",)] != v2[("C",)]
    rows = {(r["pk"], r["price"]) for r in t.read().collect()}
    assert (7, 777.0) in rows and (1, 111.0) in rows


# one value per partition: the verbs below target the first one
_TYPED_PARTITIONS = {
    "int": ("int", [1, 2, 3]),
    "double": ("double", [1.5, -0.0, 2.5]),
    "decimal": (
        "decimal(10,2)",
        [Decimal("1.50"), Decimal("-3.00"), Decimal("2.25")],
    ),
    "date": ("date", [date(2024, 1, 1), date(2024, 2, 29), date(2023, 12, 31)]),
    "timestamp": (
        "timestamp",
        [
            datetime(2024, 1, 1, 10, 0, 0, 123000),
            datetime(2024, 1, 1, 10, 0, 0, 500000),
            datetime(2024, 6, 1),
        ],
    ),
    "boolean": ("boolean", [True, False, None]),
    "null": ("string", ["x", "y", None]),
}


@pytest.mark.parametrize("kind", list(_TYPED_PARTITIONS))
def test_typed_partition_verbs_rewrite_one_of_three(spark, warehouse, kind):
    """Every planner route — CoW merge, predicate DELETE and keyed
    DELETE/UPDATE — rewrites only the one partition it touches and
    carries the other two, whatever the partition column's type, and
    leaves the rows a full rewrite would."""
    ddl, (v0, v1, v2) = _TYPED_PARTITIONS[kind]
    t = ManagedTable(
        spark, warehouse,
        TableSpec(namespace="ns", name=f"typed_{kind}", key_columns=("pk",),
                  partition_columns=("p",), order_columns=("seq",)),
    )
    schema = f"pk long, p {ddl}, x double"
    t.bootstrap(spark.createDataFrame(
        [(1, v0, 1.0), (2, v0, 2.0), (3, v0, 3.0), (4, v1, 4.0), (5, v2, 5.0)],
        schema,
    ))

    def rows():
        return sorted(tuple(r) for r in t.read().collect())

    def split():
        m = t._read_manifest()
        before = {e["dir"] for e in m.snapshots[-2].partitions}
        now = [e["dir"] for e in m.current.partitions]
        carried = sum(d in before for d in now)
        return {"partitions_rewritten": len(now) - carried, "partitions_carried": carried}

    one_of_three = {"partitions_rewritten": 1, "partitions_carried": 2}
    ref = {r[0]: r for r in rows()}

    changes = spark.createDataFrame([("MODIFY", 1, 1, v0, 10.0)], f"op string, seq long, {schema}")
    t.apply_changes(changes)
    assert split() == one_of_three
    ref[1] = (1, v0, 10.0)
    assert rows() == sorted(ref.values())

    assert t.delete_where([("p", "=", v0), ("pk", "=", 2)]) == one_of_three
    del ref[2]
    assert rows() == sorted(ref.values())

    keys = spark.createDataFrame([(3,)], "pk long")
    assert t.delete_matching(keys) == one_of_three
    del ref[3]
    assert rows() == sorted(ref.values())

    keys = spark.createDataFrame([(1,)], "pk long")
    assert t.update_matching(keys, {"x": "x + 1"}) == one_of_three
    ref[1] = (1, v0, 11.0)
    assert rows() == sorted(ref.values())


# -- one evaluation of the change batch, one file per rewritten entry --

_SPREAD = TableSpec(
    namespace="ns",
    name="spread",
    key_columns=("pk",),
    partition_columns=("shard",),
    order_columns=("seq",),
)


def _spread_table(spark, warehouse):
    """40 rows over 4 shards, bootstrapped from 8 Spark partitions, so
    every shard starts as several files."""
    t = ManagedTable(spark, warehouse, _SPREAD)
    t.bootstrap(
        spark.range(40)
        .repartition(8)
        .select(
            F.col("id").alias("pk"),
            F.concat(F.lit("s"), F.col("id") % 4).alias("shard"),
            (F.col("id") * 1.0).alias("price"),
        )
    )
    return t


def _spread_changes(spark, pk=None):
    """A MODIFY of every even key (shards s0 and s2), spread over 8
    Spark partitions; ``pk`` replaces the key column."""
    ids = spark.range(0, 40, 2).repartition(8)
    return ids.select(
        F.lit("MODIFY").alias("op"),
        F.lit(1).cast("long").alias("seq"),
        (F.col("id") if pk is None else pk).alias("pk"),
        F.concat(F.lit("s"), F.col("id") % 4).alias("shard"),
        F.lit(-1.0).alias("price"),
    )


def _rewritten_entries(t):
    """The entries the latest commit wrote (not carried): their
    parquet file counts, from the manifest and from the disk."""
    m = t._read_manifest()
    before = {e["dir"] for e in m.snapshots[-2].partitions}
    return {
        e["values"]["shard"]: (
            len(e["files"]),
            len(list(Path(e["dir"]).glob("*.parquet"))),
        )
        for e in m.current.partitions
        if e["dir"] not in before
    }


def test_cow_commit_evaluates_the_batch_once(spark, warehouse):
    """The planner's probe and both merge branches read one
    materialization of the batch: a Python UDF on the keys runs once
    per batch row, not once per reader."""
    from pyspark.sql import types as T

    t = _spread_table(spark, warehouse)
    calls = spark.sparkContext.accumulator(0)

    def count_key(k):
        calls.add(1)
        return k

    key = F.udf(count_key, T.LongType())(F.col("id"))
    t.apply_changes(_spread_changes(spark, pk=key))
    assert calls.value == 20
    assert {r.pk for r in t.read().collect() if r.price == -1.0} == set(range(0, 40, 2))


def test_cow_rewrites_write_one_file_per_entry(spark, warehouse):
    """A CoW merge, a predicate DELETE and a SQL MERGE each write one
    parquet file per rewritten partition, although their inputs span
    8 Spark partitions."""
    from dynamodb_zero_etl_s3tables_spark.engine import ZeroEtlEngine
    from dynamodb_zero_etl_s3tables_spark.spec import SourceSpec

    t = _spread_table(spark, warehouse)
    assert all(len(e["files"]) > 1 for e in t._read_manifest().current.partitions)

    t.apply_changes(_spread_changes(spark))
    assert _rewritten_entries(t) == {"s0": (1, 1), "s2": (1, 1)}

    t.delete_where([("shard", "=", "s1"), ("pk", "<", 20)])
    assert _rewritten_entries(t) == {"s1": (1, 1)}

    eng = ZeroEtlEngine(
        spark, warehouse,
        SourceSpec(table_name="spread-ddb", key_columns=("pk",)), _SPREAD,
    )
    _spread_changes(spark).createOrReplaceTempView("spread_src")
    eng.sql(
        "MERGE INTO ns.spread t USING spread_src s ON t.pk = s.pk "
        "WHEN MATCHED THEN UPDATE SET price = s.price + 1"
    )
    assert _rewritten_entries(t) == {f"s{i}": (1, 1) for i in range(4)}
    assert t.read().count() == 35


def test_cow_commit_keeps_the_callers_persisted_batch(spark, warehouse):
    """A batch the caller persisted is read as is: apply_changes
    neither re-persists nor releases it."""
    from pyspark import StorageLevel

    t = _spread_table(spark, warehouse)
    batch = _spread_changes(spark).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        batch.count()
        t.apply_changes(batch)
        assert batch.storageLevel == StorageLevel.MEMORY_AND_DISK
    finally:
        batch.unpersist()


def test_failed_cow_commit_releases_the_batch(spark, warehouse):
    """An invalid op still raises, commits no snapshot, and leaves no
    persisted batch behind."""
    t = _spread_table(spark, warehouse)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    bad = _spread_changes(spark).withColumn("op", F.lit("UPSERT"))
    with pytest.raises(Exception, match="invalid change op"):
        t.apply_changes(bad)
    assert t.version == 1
    assert set(jsc.getPersistentRDDs().keySet()) == before
