"""Engine catalog: bucket -> namespace -> table resolution
(SURVEY.md §2 C2, B8), the Spark realization of the reference's
``"s3tablescatalog/<bucket>"."namespace"."table"`` addressing
(reference README.md:173; namespace/table resource hierarchy
reference ts:93,102).

Tables register as Spark temp views ``<ns>_<table>`` so the full
``spark.sql`` surface (C1) works over them.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
from dynamodb_zero_etl_s3tables_spark.table.manifest import ManagedTable


class Catalog:
    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = str(warehouse)
        self._tables: dict[str, ManagedTable] = {}

    # -- namespace ops (B8) -------------------------------------------------

    def create_namespace(self, namespace: str) -> None:
        (Path(self.warehouse) / namespace).mkdir(parents=True, exist_ok=True)

    def list_namespaces(self) -> list[str]:
        root = Path(self.warehouse)
        if not root.exists():
            return []
        return sorted(p.name for p in root.iterdir() if p.is_dir())

    # -- table ops ----------------------------------------------------------

    def create_table(self, spec: TableSpec) -> ManagedTable:
        """Create-on-first-write: registers the spec; data arrives via
        bootstrap/apply_changes (reference ts:98 CreateTable grant)."""
        spec.validate()
        self.create_namespace(spec.namespace)
        t = ManagedTable(self.spark, self.warehouse, spec)
        self._tables[spec.qualified_name] = t
        return t

    def table(self, qualified_name: str) -> ManagedTable:
        if qualified_name in self._tables:
            return self._tables[qualified_name]
        # durable-catalog fallback: reopen from the persisted manifest
        # (a fresh session sees every table the warehouse holds)
        try:
            t = ManagedTable.open(self.spark, self.warehouse, qualified_name)
        except FileNotFoundError:
            raise KeyError(
                f"unknown table {qualified_name!r}; known: {sorted(self._tables)}"
            ) from None
        self._tables[qualified_name] = t
        return t

    def drop_table(self, qualified_name: str, force: bool = False) -> dict:
        """Drop a managed table: deregister the catalog handle and its
        temp view, and remove the table directory — manifest plus every
        retained snapshot's data in one teardown (dropping the table IS
        the retention decision; there is no per-snapshot vacuum to
        honor once the manifest that defines retention is gone).

        REFUSES when the manifest holds STAGED (WAP) snapshots unless
        ``force=True``: a drop would silently discard unpublished,
        unreviewed commits mid-audit — the same protective posture as
        CTAS-never-overwrites. Completes the lifecycle symmetry of the
        reference's table provisioning (CreateTable/CreateNamespace
        grants, reference src/dynamodb-zero-etl-s3tables.ts:92,98):
        create-on-first-write gets a matching teardown.

        Scale: O(manifest) metadata read + a recursive delete of the
        table prefix — no table data is ever read."""
        import shutil

        t = self.table(qualified_name)  # raises KeyError when unknown
        staged = []
        if t.exists():
            staged = [s.version for s in t._read_manifest().snapshots if s.staged]
        if staged and not force:
            raise RuntimeError(
                f"DROP TABLE {qualified_name}: {len(staged)} staged (WAP) "
                f"snapshot(s) pending publish ({staged}) — publish or "
                "rollback the audit first, or pass force=True to discard"
            )
        # delete FIRST and loudly: if the recursive delete fails the
        # handle and view stay registered, so SHOW TABLES / the
        # catalog keep agreeing with what is actually on disk (a
        # swallowed error here reported success while manifest.json
        # survived, leaving a name that lists but cannot be re-created)
        if Path(t.root).exists():
            shutil.rmtree(t.root)
        self.spark.catalog.dropTempView(self.view_name(qualified_name))
        del self._tables[qualified_name]
        return {"table": qualified_name, "staged_discarded": len(staged)}

    def list_tables(self, namespace: str) -> list[str]:
        ns_dir = Path(self.warehouse) / namespace
        if not ns_dir.exists():
            return []
        return sorted(p.name for p in ns_dir.iterdir() if (p / "manifest.json").exists())

    # -- SQL surface (C1/C2) ------------------------------------------------

    def view_name(self, qualified_name: str) -> str:
        return qualified_name.replace(".", "_")

    def refresh_view(self, qualified_name: str, version: int | None = None) -> str:
        """(Re-)register the table's current (or time-traveled)
        snapshot as a temp view; returns the view name. A partitioned
        copy-on-write snapshot is one Parquet relation (see
        ``ManagedTable._read_partition_entries``), so the refresh costs
        one driver-side file listing and a query over the view plans
        one FileScan with Spark's own partition pruning."""
        t = self.table(qualified_name)
        name = self.view_name(qualified_name)
        t.read(version=version).createOrReplaceTempView(name)
        return name

    def sql(self, query: str) -> DataFrame:
        """C1: SQL entry point over registered views."""
        return self.spark.sql(query)
