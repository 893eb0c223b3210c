"""A partitioned snapshot reads as ONE Parquet relation per group of
entries sharing a layout and a renames mapping
(``ManagedTable._read_partition_entries``). These tests pin it against
a reference assembled entry by entry — one read per entry dir, the
partition values re-attached from the manifest — over typed partition
values, heads spanning several version dirs, mixed layouts, per-entry
renames, shallow clones and bloom-narrowed scans; they also pin the
one-FileScan SQL plan, the dir-not-file root paths of an unpruned
scan, the entry-level ``read_changes`` diff and all-or-nothing
changelog staging."""

import json
import os
import re
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamodb_zero_etl_s3tables_spark.engine import ZeroEtlEngine
from dynamodb_zero_etl_s3tables_spark.spec import SourceSpec, TableSpec
from dynamodb_zero_etl_s3tables_spark.streaming import changelog_files
from dynamodb_zero_etl_s3tables_spark.table.manifest import ManagedTable

_OPS = {
    "=": lambda a, b: a == b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


def _key(rows):
    # repr keeps NaN equal to itself and -0.0 apart from 0.0
    return sorted(repr(tuple(r)) for r in rows)


def _reference(spark, entries, schema):
    """Rows of ``entries`` read the per-entry way: each entry's files
    under their stored names, renamed, with the manifest's partition
    values cast onto every row."""
    names = [f.name for f in schema.fields]
    types = {f.name: f.dataType for f in schema.fields}
    rows = []
    for ent in entries:
        pcols = list(ent["values"])
        ren = {a: b for a, b in (ent.get("renames") or {}).items() if a != b}
        inv = {b: a for a, b in ren.items()}
        fs = T.StructType(
            [
                T.StructField(inv.get(f.name, f.name), f.dataType)
                for f in schema.fields
                if f.name not in pcols
            ]
        )
        df = spark.read.schema(fs).parquet(*(ent.get("read_files") or [ent["dir"]]))
        df = df.select([F.col(f"`{c}`").alias(ren.get(c, c)) for c in df.columns])
        for pc in pcols:
            df = df.withColumn(pc, F.lit(ent["values"][pc]).cast(types[pc]))
        rows += [r.asDict() for r in df.collect()]
    return [tuple(r[n] for n in names) for r in rows]


def _holds(row, names, filters):
    d = dict(zip(names, row))
    return all(d[c] is not None and _OPS[op](d[c], v) for c, op, v in filters)


def _spec(name, pcols=("p",), bloom=()):
    return TableSpec(
        namespace="ns", name=name, key_columns=("pk",),
        partition_columns=pcols, order_columns=("seq",), bloom_columns=bloom,
    )


def _change(spark, rows, schema):
    return spark.createDataFrame(
        [("MODIFY", 1, *r) for r in rows], f"op string, seq long, {schema}"
    )


_TYPED = {
    "int": ("int", [1, 2, 3]),
    "double": ("double", [1.5, float("nan"), -0.0]),
    "decimal": ("decimal(10,2)", [Decimal("1.50"), Decimal("-3.00"), Decimal("2.25")]),
    "date": ("date", [date(2024, 1, 1), date(2024, 2, 29), date(2023, 12, 31)]),
    "timestamp": (
        "timestamp",
        [datetime(2024, 1, 1, 10, 0, 0, 123000), datetime(2024, 1, 1, 10, 0, 0, 500001),
         datetime(2024, 6, 1)],
    ),
    "boolean": ("boolean", [True, False, None]),
    "null": ("string", ["x", None, "y"]),
    "escaped_string": ("string", ["a/b=c %", "x:y?", "z"]),
}


def _typed(kind):
    def build(spark, warehouse):
        ddl, vals = _TYPED[kind]
        t = ManagedTable(spark, warehouse, _spec(f"typed_{kind}"))
        t.bootstrap(spark.createDataFrame(
            [(i, vals[i % 3], float(i)) for i in range(6)], f"pk long, p {ddl}, x double"
        ))
        return t, [("p", "=", vals[0])]

    return build


REGIONS = "pk long, region string, day string, x double"


def _regions(spark, warehouse, name="regions", bloom=()):
    t = ManagedTable(spark, warehouse, _spec(name, ("region",), bloom))
    t.bootstrap(spark.createDataFrame(
        [(i, f"r{i % 3}", f"d{i % 2}", float(i)) for i in range(12)], REGIONS
    ))
    return t


def multi_version_head(spark, warehouse):
    """A head whose three entries live under three version dirs."""
    t = _regions(spark, warehouse)
    t.apply_changes(_change(spark, [(1, "r1", "d1", 10.0)], REGIONS))
    t.apply_changes(_change(spark, [(2, "r2", "d0", 20.0)], REGIONS))
    roots = {Path(e["dir"]).parent for e in t._read_manifest().current.partitions}
    assert len(roots) == 3
    return t, [("region", "=", "r1")]


def evolved_layouts(spark, warehouse):
    t = _regions(spark, warehouse, "evolved")
    t.evolve_partitioning(("day",))
    t.delete_where([("region", "=", "r1"), ("pk", "=", 1)])
    layouts = {tuple(e["values"]) for e in t._read_manifest().current.partitions}
    assert layouts == {("region",), ("day",)}
    return t, [("pk", ">=", 2)]


def entry_renames(spark, warehouse):
    t = _regions(spark, warehouse, "renamed")
    t.rename_column("x", "y")
    t.apply_changes(_change(spark, [(1, "r1", "d1", 10.0)], "pk long, region string, day string, y double"))
    renames = [e.get("renames") for e in t._read_manifest().current.partitions]
    assert {"x": "y"} in renames and any(not r for r in renames)
    return t, [("y", ">", 3.0)]


def shallow_clone(spark, warehouse):
    src = _regions(spark, warehouse, "source")
    clone = src.clone_to(warehouse + "_clone")
    clone.apply_changes(_change(spark, [(1, "r1", "d1", 10.0)], REGIONS))
    tables = {Path(e["dir"]).parents[2] for e in clone._read_manifest().current.partitions}
    assert tables == {src.root, clone.root}
    return clone, [("region", "=", "r1")]


def bloom_narrowed_scan(spark, warehouse):
    t = ManagedTable(spark, warehouse, _spec("bloomed", ("region",), ("pk",)))
    t.bootstrap(
        spark.range(0, 400)
        .select(
            F.col("id").alias("pk"),
            F.concat(F.lit("r"), F.col("id") % 2).alias("region"),
            F.lit("d0").alias("day"),
            (F.col("id") * 0.5).alias("x"),
        )
        .repartition(4, "pk")
    )
    return t, [("region", "=", "r0"), ("pk", "=", 4)]


_CASES = {
    **{k: _typed(k) for k in _TYPED},
    "multi_version_head": multi_version_head,
    "evolved_layouts": evolved_layouts,
    "entry_renames": entry_renames,
    "shallow_clone": shallow_clone,
    "bloom_narrowed_scan": bloom_narrowed_scan,
}


@pytest.mark.parametrize("case", list(_CASES))
def test_read_and_scan_match_per_entry_reference(spark, warehouse, case):
    t, filters = _CASES[case](spark, warehouse)
    snap = t._read_manifest().current
    schema = T.StructType.fromJson(json.loads(snap.schema_json))
    names = [f.name for f in schema.fields]
    assert t.read().columns == names
    assert _key(t.read().collect()) == _key(_reference(spark, snap.partitions, schema))
    plan = t._plan(snap, schema, filters=filters)
    if case == "bloom_narrowed_scan":
        assert any("read_files" in e for e in plan.read)
    want = [r for r in _reference(spark, plan.read, schema) if _holds(r, names, filters)]
    assert want
    assert _key(t.scan(filters).collect()) == _key(want)


def test_sql_over_multi_version_head_plans_one_filtered_scan(spark, warehouse):
    eng = ZeroEtlEngine(
        spark, warehouse, SourceSpec("orders", ("pk",)), _spec("orders", ("region",))
    )
    eng.bootstrap(spark.createDataFrame(
        [(i, f"r{i % 3}", f"d{i % 2}", float(i)) for i in range(12)], REGIONS
    ))
    eng.apply_changes(_change(spark, [(1, "r1", "d1", 10.0)], REGIONS))
    eng.apply_changes(_change(spark, [(2, "r2", "d0", 20.0)], REGIONS))
    df = eng.sql("SELECT pk, x FROM ns_orders WHERE region = 'r1'")
    assert sorted(r.pk for r in df.collect()) == [1, 4, 7, 10]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1, plan
    assert re.search(r"PartitionFilters: \[[^\]]*region", plan), plan


def test_scan_that_prunes_no_file_reads_entry_dirs(spark, warehouse, monkeypatch):
    t = _regions(spark, warehouse, "unpruned")
    seen = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        seen.append(paths)
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    dirs = {tuple(e["values"].values()): e["dir"] for e in t._read_manifest().current.partitions}
    t.scan([("region", "=", "r1")])
    assert seen == [(dirs[("r1",)],)]
    seen.clear()
    t.scan([("x", ">=", 0.0)])
    assert [set(p) for p in seen] == [set(dirs.values())]


def _python_diff(old, new, keys):
    """read_changes' contract over two collected snapshots: old rows
    aligned to the new columns by name, INSERT/MODIFY carry the new
    image, REMOVE the old one."""
    (o_rows, _), (n_rows, cols) = old, new
    o = {tuple(r[k] for k in keys): r.asDict() for r in o_rows}
    n = {tuple(r[k] for k in keys): r.asDict() for r in n_rows}
    out = []
    for k in o.keys() | n.keys():
        before = [o[k].get(c) for c in cols] if k in o else None
        after = [n[k][c] for c in cols] if k in n else None
        if before is None:
            out.append(("INSERT", *after))
        elif after is None:
            out.append(("REMOVE", *before))
        elif before != after:
            out.append(("MODIFY", *after))
    return out


def test_read_changes_matches_python_diff_over_evolving_chain(spark, warehouse, monkeypatch):
    t = _regions(spark, warehouse, "chain")
    t.apply_changes(_change(spark, [(1, "r1", "d1", 10.0), (12, "r0", "d0", 12.0)], REGIONS))
    t.add_columns({"z": "int"})
    z = "pk long, region string, day string, x double, z int"
    t.apply_changes(_change(spark, [(2, "r2", "d0", 20.0, 7)], z))
    t.rename_column("x", "y")
    t.apply_changes(_change(spark, [(3, "r0", "d1", 30.0, 8)], z.replace("x double", "y double")))
    t.evolve_partitioning(("day",))
    t.delete_where([("region", "=", "r1")])
    versions = [s.version for s in t.history()]
    assert len(versions) == 8
    snaps = {}
    for v in versions:
        df = t.read(version=v)
        snaps[v] = (df.collect(), df.columns)
    for a, b in zip(versions, versions[1:]):
        want = _python_diff(snaps[a], snaps[b], ["pk"])
        assert _key(t.read_changes(a, b).collect()) == _key(want), (a, b)
    # v1 -> v2 rewrote two of three entries: only those are read per side
    sizes = []
    read = ManagedTable._read_partition_entries

    def spy(self, entries, schema):
        sizes.append(len(entries))
        return read(self, entries, schema)

    monkeypatch.setattr(ManagedTable, "_read_partition_entries", spy)
    t.read_changes(1, 2)
    assert sizes == [2, 2]


def test_failed_version_stages_nothing_and_retry_stages_all(spark, warehouse, tmp_path, monkeypatch):
    t = _regions(spark, warehouse, "staged")
    t.apply_changes(_change(spark, [(1, "r1", "d1", 10.0)], REGIONS))
    t.apply_changes(_change(spark, [(2, "r2", "d0", 20.0)], REGIONS))
    stage = str(tmp_path / "stage")
    emit = changelog_files._emit_frame

    def failing(table, snap, prev):
        if snap.version == 2:
            raise RuntimeError("staging v2 failed")
        return emit(table, snap, prev)

    monkeypatch.setattr(changelog_files, "_emit_frame", failing)
    with pytest.raises(RuntimeError, match="staging v2 failed"):
        changelog_files.materialize_changelog(t, stage)
    assert os.listdir(stage) == []  # no v3 past the hole, no leftovers
    monkeypatch.setattr(changelog_files, "_emit_frame", emit)
    assert changelog_files.materialize_changelog(t, stage) == 3
    assert sorted(os.listdir(stage)) == [f"v{v:09d}.parquet" for v in (1, 2, 3)]
