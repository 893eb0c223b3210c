"""Manifest-committed Parquet tables: the engine's Iceberg-semantics
layer (SURVEY.md §2 B8-B11, §4.3; no Iceberg/Delta jars available, so
the *semantics* the reference provisions are implemented directly).

Mapping to the reference:
* atomic commit = metadata-pointer swap  -> write temp manifest,
  ``os.replace`` (the GetTableMetadataLocation/
  UpdateTableMetadataLocation pair, reference ts:99) [B9]
* optimistic concurrency -> ``expected_version`` check before swap
  (the Lambda's PolicyHashCondition, reference lambda :46,:60) [A8]
* namespace/table auto-create on first write (reference ts:92,98) [B8]
* snapshot history / time travel -> every commit keeps its data dir;
  ``read(version=...)`` reads an old snapshot [B10]
* maintenance -> ``vacuum`` prunes snapshots + orphan dirs per the
  unreferencedDays/noncurrentDays knobs (reference README.md:129-137)
  [B11]
* schema evolution -> additive-only struct union, conflict = error
  (the glue:CreateTable/UpdateTable grant, reference ts:110-117) [B4]

Each snapshot is a complete copy-on-write data directory: merge
writes survivors + upserts as new files, never mutating old ones —
the same copy-on-write model Iceberg CoW tables use. At 100 TB with
partitioned tables, merge would rewrite only touched partitions
(partition-pruned anti-join); the manifest schema already records
partition columns to support that.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import threading
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, NamedTuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dynamodb_zero_etl_s3tables_spark.spec import TableSpec
from dynamodb_zero_etl_s3tables_spark.table.merge import (
    SchemaEvolutionError,
    merge_changes,
    wider,
)


class CommitConflictError(RuntimeError):
    """Raised when the manifest version moved under us (A8)."""


#: per-manifest-path commit locks (r8, VERDICT r7 #8): the optimistic
#: check in ``_write_manifest`` is read-compare-swap — without mutual
#: exclusion two INTERLEAVED writers could both pass the compare and
#: both swap, the second silently clobbering the first (exactly the
#: lost-update the Lambda's PolicyHashCondition exists to prevent,
#: reference lambda/catalog-policy-handler.js:60,68). A process-wide
#: lock per manifest path makes check+swap atomic for in-process
#: writers (Spark local / one driver); an ``flock`` on a sidecar .lock
#: file extends the same guarantee to concurrent DRIVER PROCESSES on a
#: shared warehouse. Lock scope is the metadata pointer only — data
#: files are written before the lock is taken, so writers overlap on
#: all distributed work and serialize for microseconds at the swap,
#: the same contention profile as Iceberg's metadata-location CAS.
_COMMIT_LOCKS: dict[str, threading.Lock] = {}
_COMMIT_LOCKS_GUARD = threading.Lock()


def _commit_lock(path: str) -> threading.Lock:
    with _COMMIT_LOCKS_GUARD:
        return _COMMIT_LOCKS.setdefault(path, threading.Lock())


class ConstraintViolationError(RuntimeError):
    """Raised when a commit's rows violate a spec.check_constraints
    expression; the commit is rolled back (its data dir removed, the
    manifest untouched) before this propagates."""


@dataclass
class Snapshot:
    version: int
    data_dir: str
    committed_at: float
    #: rows in the files THIS commit wrote (a pruned merge writes only
    #: touched partitions, so this is not necessarily the table total)
    row_count: int
    schema_json: str
    operation: str
    #: partitioned tables: [{"values": {col: str|None}, "dir": path}].
    #: Entries may point into EARLIER snapshots' data dirs — a pruned
    #: merge carries untouched partition dirs forward (copy-on-write
    #: at partition granularity, the Iceberg CoW model). None for
    #: unpartitioned tables.
    partitions: list[dict[str, Any]] | None = None
    #: unpartitioned tables: per-data-file entries
    #: [{"path", "bytes", "rows", "stats": {col: [min, max]}}] — the
    #: Iceberg manifest-stats analog powering min/max file skipping
    #: (the file-skipping behavior the Iceberg-native bucket provides,
    #: reference ts:77-79). None when stats were not collected.
    files: list[dict[str, Any]] | None = None
    #: merge-on-read snapshots: version this delta layers on top of
    base_version: int | None = None
    #: merge-on-read snapshots: {"deletes": dir, "inserts": dir} —
    #: keys to suppress and rows to add relative to ``base_version``
    delta: dict[str, str] | None = None
    #: write-audit-publish: a staged snapshot is fully written but
    #: INVISIBLE to read()/scan() until publish() flips this off —
    #: the Iceberg WAP (branch-commit + fast-forward) semantic over
    #: this manifest. Absent in pre-WAP manifests -> defaults False.
    staged: bool = False
    #: branch commits: name of the branch this snapshot was committed
    #: on (None = main / anonymous WAP stage). Kept after fast-forward
    #: as provenance — history shows which commits arrived via which
    #: branch, the Iceberg snapshot-summary `branch` property analog.
    ref: str | None = None
    #: names dropped by a metadata-only drop_column whose values are
    #: STILL physically present in this snapshot's carried data files
    #: (cleared by any data-writing commit, which rewrites from the
    #: read frame). add_columns refuses these names: a metadata-only
    #: re-add would resurrect the dropped values (drop_column caveat).
    dropped_columns: list[str] | None = None
    #: column renames (Iceberg field-ID name-mapping analog): maps the
    #: column name AS STORED IN THIS SNAPSHOT'S DATA FILES to its
    #: current name in ``schema_json``. Set by metadata-only
    #: ``rename_column`` commits, which reference the previous
    #: snapshot's files unchanged; reads load files under their stored
    #: names and rename on the fly. Later merges write files with the
    #: new names, so their snapshots carry no mapping.
    read_renames: dict[str, str] | None = None

    def to_dict(self) -> dict[str, Any]:
        return self.__dict__.copy()

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "Snapshot":
        return cls(**d)


@dataclass
class Manifest:
    spec_namespace: str
    spec_name: str
    key_columns: list[str]
    partition_columns: list[str]
    snapshots: list[Snapshot] = field(default_factory=list)
    #: named refs: tag -> pinned snapshot version (Iceberg tag
    #: semantic). Tagged versions are retention-exempt: vacuum and
    #: expire_snapshots keep them until the tag is deleted.
    tags: dict[str, int] = field(default_factory=dict)
    #: mutable named refs: branch -> BASE version (the published
    #: snapshot the branch forked from). The branch HEAD is derived —
    #: the newest staged snapshot whose ``ref`` equals the branch name,
    #: falling back to the base — so every branch commit stays a
    #: single atomic manifest write with no second pointer update.
    branches: dict[str, int] = field(default_factory=dict)

    @property
    def current(self) -> Snapshot | None:
        """Latest PUBLISHED snapshot — readers never see staged ones."""
        return next((s for s in reversed(self.snapshots) if not s.staged), None)

    @property
    def version(self) -> int:
        """Latest snapshot version INCLUDING staged — the optimistic-
        concurrency sequence number (a staged write must still fence
        concurrent committers, exactly like an Iceberg sequence)."""
        return self.snapshots[-1].version if self.snapshots else 0


def _expr_references(expr: str, name: str) -> bool:
    """True iff a SQL expression references ``name`` as a whole
    identifier. Spark resolves identifiers case-insensitively, so the
    match is case-insensitive and bound at identifier boundaries
    (``id`` does not match inside ``doc_id``); backtick-quoted
    occurrences also match."""
    pat = r"(?<![A-Za-z0-9_])" + re.escape(name) + r"(?![A-Za-z0-9_])"
    return re.search(pat, expr, re.IGNORECASE) is not None


def _evolve_schema(old: T.StructType, new: T.StructType) -> T.StructType:
    """B4: additive evolution with Iceberg-rule type WIDENING. New
    columns append; int->long / float->double (either direction of
    arrival — a narrow incoming column is cast up to the stored wide
    type, a wide incoming column widens the table schema); any other
    type change, and drops, are rejected with a descriptive error."""
    old_by_name = {f.name: f for f in old.fields}
    evolved_old: list[T.StructField] = []
    for f in old.fields:
        inc = next((x for x in new.fields if x.name == f.name), None)
        if inc is None or inc.dataType == f.dataType:
            evolved_old.append(f)
            continue
        w = wider(f.dataType, inc.dataType)
        if w is None:
            raise SchemaEvolutionError(
                f"type conflict for column {f.name!r}: "
                f"{f.dataType.simpleString()} -> {inc.dataType.simpleString()}"
            )
        evolved_old.append(T.StructField(f.name, w, f.nullable or inc.nullable))
    missing = [f.name for f in old.fields if f.name not in {x.name for x in new.fields}]
    if missing:
        raise SchemaEvolutionError(
            f"columns missing from incoming data (drops are not additive): {missing}"
        )
    added = [f for f in new.fields if f.name not in old_by_name]
    return T.StructType(evolved_old + added)


def _stat_safe(v: Any) -> Any:
    """JSON-safe, order-preserving form of a parquet column statistic.
    Unsupported types (binary, decimal, nested) return None, which the
    pruner treats as "no stats — must read"."""
    import datetime

    if isinstance(v, bool) or v is None:
        return None  # bool min/max prunes nothing useful
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()  # ISO order == chronological order
    return None


#: bloom probe count (k). Sizing is per-file: ~16 bits per distinct
#: value, so the false-positive rate stays ~(1-e^(-k/16))^k ~= 0.2%.
_BLOOM_K = 4


def _bloom_key(v: Any) -> str | None:
    """Canonical hash key for a bloom value: ints and strings only
    (floats and other types are excluded — equality pruning on them
    is a footgun), type-tagged so int 5 and string '5' stay distinct."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, str):
        return f"s:{v}"
    return None


def _bloom_positions(key: str, bits: int) -> list[int]:
    return [
        int.from_bytes(
            hashlib.md5(f"{key}|{i}".encode()).digest()[:8], "big"
        )
        % bits
        for i in range(_BLOOM_K)
    ]


def _bloom_build(values: list[Any]) -> dict[str, Any] | None:
    """Per-file bloom over a column's values -> {bits, hex}, or None
    when any value is un-keyable (a partial bloom would false-negative
    and silently drop rows — absence of a bloom always reads the file)."""
    keys = set()
    for v in values:
        if v is None:
            continue
        k = _bloom_key(v)
        if k is None:
            return None
        keys.add(k)
    if not keys:
        return None
    bits = max(256, 1 << (len(keys) * 16 - 1).bit_length())
    bits = min(bits, 1 << 20)
    buf = bytearray(bits // 8)
    for k in keys:
        for p in _bloom_positions(k, bits):
            buf[p // 8] |= 1 << (p % 8)
    return {"bits": bits, "hex": bytes(buf).hex()}


def _bloom_may_match(
    blooms: dict[str, Any] | None, col: str, op: str, val: Any
) -> bool:
    """Conservative bloom test: False only when the file's bloom
    proves the equality value absent. Non-equality ops, missing
    blooms, and un-keyable values always pass."""
    if op != "=" or not blooms:
        return True
    b = blooms.get(col)
    if b is None:
        return True
    key = _bloom_key(val)
    if key is None:
        return True
    buf = bytes.fromhex(b["hex"])
    return all(
        buf[p // 8] & (1 << (p % 8))
        for p in _bloom_positions(key, b["bits"])
    )


def _collect_file_stats(
    data_dir: str, bloom_columns: tuple[str, ...] = ()
) -> list[dict[str, Any]]:
    """Per-file row-group min/max from parquet footers — the stats an
    Iceberg writer records into its manifest at write time. Locally
    this is a driver-side footer sweep (metadata-scale: one footer per
    file, no data pages read); on a cluster the same collection rides
    the write tasks, which is exactly where Iceberg does it."""
    import pyarrow.parquet as pq

    entries: list[dict[str, Any]] = []
    for p in sorted(Path(data_dir).rglob("*.parquet")):
        f = pq.ParquetFile(p)
        md = f.metadata
        stats: dict[str, list[Any]] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                s = col.statistics
                if s is None or not s.has_min_max:
                    continue
                name = col.path_in_schema
                if "." in name:
                    continue  # nested — no file-level pruning
                lo, hi = _stat_safe(s.min), _stat_safe(s.max)
                if lo is None or hi is None:
                    continue
                if name in stats:
                    stats[name] = [min(stats[name][0], lo), max(stats[name][1], hi)]
                else:
                    stats[name] = [lo, hi]
        entry: dict[str, Any] = {
            "path": str(p),
            "bytes": p.stat().st_size,
            "rows": md.num_rows,
            "stats": stats,
        }
        present = [c for c in bloom_columns if c in f.schema_arrow.names]
        if present:
            # Puffin-analog bloom build: one column-pruned read per
            # bloom column. Locally driver-side; on a cluster this
            # rides the write task that just produced the file (the
            # values are still in memory there) — same placement as
            # the footer stats above.
            blooms = {}
            for c in present:
                b = _bloom_build(f.read(columns=[c]).column(c).to_pylist())
                if b is not None:
                    blooms[c] = b
            if blooms:
                entry["bloom"] = blooms
        entries.append(entry)
    return entries


def _partition_operands(
    raw: str, dtype: T.DataType, val: Any, tz: str | None
) -> tuple[Any, Any] | None:
    """A manifest partition value (the unescaped dir-name string Spark
    rendered at write time) and a filter value, both in ONE domain
    that compares the way Spark compares ``col op val`` — or None
    when no such domain is known (= no pruning on that column).

    Numbers compare as numbers and strings as strings. A string value
    on a date or timestamp column is parsed as ISO, in the zone the
    dir name was rendered in (Spark casts the literal in the session
    zone too); an unparseable one prunes nothing. Decimals compare exactly against int/Decimal values and
    as doubles against a float (Spark casts the decimal side). Bools
    compare with bools, dates with ``date`` values, and timestamps
    with ``datetime`` values as epoch micros, reading the dir name in
    the session time zone ``tz`` (the zone Spark rendered it in)."""
    import datetime
    from decimal import Decimal

    try:
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return int(raw), val
        if isinstance(dtype, (T.FloatType, T.DoubleType)):
            return float(raw), val
        if isinstance(val, str):
            # Spark casts the string to the column type; ISO parsing
            # accepts both 'T' and ' ' separators, like the cast
            if isinstance(dtype, T.StringType):
                return raw, val
            if isinstance(dtype, T.DateType):
                return datetime.date.fromisoformat(raw), datetime.date.fromisoformat(val)
            if isinstance(dtype, T.TimestampType):
                v = datetime.datetime.fromisoformat(val)
                return None if v.tzinfo else (datetime.datetime.fromisoformat(raw), v)
            return None
        if isinstance(val, bool):
            if isinstance(dtype, T.BooleanType) and raw in ("true", "false"):
                return raw == "true", val
            return None
        if isinstance(dtype, T.DecimalType) and isinstance(val, (int, float, Decimal)):
            return (float(raw) if isinstance(val, float) else Decimal(raw)), val
        if isinstance(dtype, T.DateType) and type(val) is datetime.date:
            return datetime.date.fromisoformat(raw), val
        if isinstance(dtype, T.TimestampType) and isinstance(val, datetime.datetime):
            from zoneinfo import ZoneInfo

            local = datetime.datetime.fromisoformat(raw).replace(tzinfo=ZoneInfo(tz))
            to_micros = T.TimestampType().toInternal
            return to_micros(local), to_micros(val)
    except (ValueError, ArithmeticError, LookupError, TypeError):
        return None
    return None


def _partition_may_match(
    raw: str | None, dtype: T.DataType, op: str, val: Any, tz: str | None
) -> bool:
    """Can an entry whose partition column holds ``raw`` satisfy
    ``col op val``? A NULL partition satisfies no comparison (SQL
    three-valued logic: scan drops, DELETE keeps and UPDATE skips the
    NULL rows); otherwise the value is a point range [v, v]."""
    if raw is None:
        return False
    ops = _partition_operands(raw, dtype, val, tz)
    return ops is None or _range_may_match([ops[0], ops[0]], op, ops[1])


#: predicate ops supported by manifest-level pruning
_PRUNE_OPS = ("=", "<", "<=", ">", ">=")


def _range_may_match(rng: list[Any] | None, op: str, val: Any) -> bool:
    """Conservative min/max test: False only when no value in ``rng``
    can satisfy ``op val``. A missing range always passes, and so does
    a NaN bound or value: Spark orders NaN above every number and
    treats NaN = NaN as true, which Python's comparisons do not."""
    if rng is None:
        return True
    lo, hi = rng
    if any(isinstance(x, float) and x != x for x in (lo, hi, val)):
        return True
    try:
        if op == "=":
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
    except TypeError:
        return True  # incomparable types — never prune on a guess
    return True


def _file_may_match(
    f: dict[str, Any], filters: list[tuple[str, str, Any]], skip: Any = ()
) -> bool:
    """Can the data file ``f`` (a manifest file entry) hold a row
    matching every filter whose column is not in ``skip``? Footer
    min/max (the filter value in ``_stat_safe``'s coordinates, like
    the stats) and then the equality bloom."""
    return all(
        _range_may_match(
            f["stats"].get(col),
            op,
            val if isinstance(val, (int, float, str)) else _stat_safe(val),
        )
        and _bloom_may_match(f.get("bloom"), col, op, val)
        for col, op, val in filters
        if col not in skip
    )


class _Plan(NamedTuple):
    """What one operation does to a partitioned snapshot's entries
    (see ``ManagedTable._plan``)."""

    #: entries the operation reads whole and, for a commit, rewrites
    touched: list[dict[str, Any]]
    #: entries a commit references unchanged in the next snapshot
    carry: list[dict[str, Any]]
    #: ``touched`` narrowed to the files that survive min/max + bloom
    #: skipping (``read_files``, set only when a file was skipped), for
    #: scan; fully skipped entries drop
    read: list[dict[str, Any]]
    #: the scan counts (``last_scan_metrics``)
    metrics: dict[str, Any]


def _qcol(name: str):
    """``F.col`` with the name backtick-quoted: attribute names
    legally contain dots (DynamoDB), which a bare string path would
    mis-parse as struct nesting."""
    from pyspark.sql import functions as F

    return F.col("`" + name.replace("`", "``") + "`")


def _pop_rename(
    renames: dict[str, str] | None, name: str
) -> tuple[dict[str, str], str]:
    """Resolve ``name``'s stored FILE name through a file->current
    mapping and drop its entry: ``(mapping without it, file_name)`` —
    the shared inverse of :func:`_compose_rename` (drop_column uses it
    on both the snapshot-level and per-entry mappings)."""
    ren = dict(renames or {})
    inv = {cur: fc for fc, cur in ren.items()}
    fc = inv.get(name, name)
    ren.pop(fc, None)
    return ren, fc


def _compose_rename(
    renames: dict[str, str] | None, old: str, new: str
) -> dict[str, str]:
    """Compose a rename onto a file-name -> current-name mapping:
    a->b->c keeps ONE file->current entry; renaming back to the stored
    file name drops the entry (the files already use that name)."""
    out = dict(renames or {})
    inv = {cur: fc for fc, cur in out.items()}
    fc = inv.get(old, old)
    out.pop(fc, None)
    if fc != new:
        out[fc] = new
    return out


def _rekey_file_stats(e: dict[str, Any], old: str, new: str) -> dict[str, Any]:
    """Re-key one file-stats entry's ``stats`` (and per-column
    ``bloom``) from ``old`` to ``new`` — without the re-key, min/max
    and equality pruning on the new name silently stop working."""
    out = {
        **e,
        "stats": {
            (new if k == old else k): v for k, v in (e.get("stats") or {}).items()
        },
    }
    if e.get("bloom"):
        out["bloom"] = {(new if k == old else k): v for k, v in e["bloom"].items()}
    return out


class ManagedTable:
    """A keyed, manifest-committed Parquet table."""

    def __init__(self, spark: SparkSession, warehouse: str, spec: TableSpec):
        spec.validate()
        self.spark = spark
        self.spec = spec
        self.root = Path(warehouse) / spec.namespace / spec.name
        self.manifest_path = self.root / "manifest.json"
        #: B13: metrics of the most recent commit (None before any)
        self.last_commit_metrics = None
        #: pruning ratio of the most recent ``scan`` (None before any)
        self.last_scan_metrics: dict[str, Any] | None = None

    @classmethod
    def open(
        cls, spark: SparkSession, warehouse: str, qualified_name: str
    ) -> "ManagedTable":
        """Reopen an existing table from its manifest alone — no spec
        required. A fresh session (or another engine instance) can
        pick up any table the warehouse holds; the spec was persisted
        at commit time. Raises FileNotFoundError for unknown tables."""
        ns, _, name = qualified_name.partition(".")
        path = Path(warehouse) / ns / name / "manifest.json"
        if not path.exists():
            raise FileNotFoundError(
                f"no manifest for table {qualified_name!r} under {warehouse}"
            )
        raw = json.loads(path.read_text())
        spec_dict = raw.get("spec")
        legacy = spec_dict is None
        if legacy:  # pre-spec manifest: minimal reconstruction
            spec_dict = {
                "namespace": raw["spec_namespace"],
                "name": raw["spec_name"],
                "key_columns": raw["key_columns"],
                "partition_columns": raw["partition_columns"],
            }
        for k in (
            "key_columns",
            "partition_columns",
            "order_columns",
            "sort_columns",
            "bloom_columns",
            "check_constraints",
        ):
            if k in spec_dict and spec_dict[k] is not None:
                spec_dict[k] = tuple(spec_dict[k])
        if spec_dict.get("generated_columns") is not None:
            # json round-trips the (name, expr) pairs as lists
            spec_dict["generated_columns"] = tuple(
                tuple(p) for p in spec_dict["generated_columns"]
            )
        tbl = cls(spark, warehouse, TableSpec(**spec_dict))
        # A pre-spec manifest never recorded order_columns, so the
        # reconstructed spec silently carries the DEFAULT ('ts','seq');
        # merging with a guessed LWW order can resurrect stale rows.
        # Reads stay available; merges must state their order.
        tbl._order_columns_unknown = legacy
        return tbl

    # -- manifest I/O -------------------------------------------------------

    def _read_manifest(self) -> Manifest:
        if not self.manifest_path.exists():
            # B8/A9: get-or-default — missing table starts empty
            return Manifest(
                spec_namespace=self.spec.namespace,
                spec_name=self.spec.name,
                key_columns=list(self.spec.key_columns),
                partition_columns=list(self.spec.partition_columns),
            )
        raw = json.loads(self.manifest_path.read_text())
        raw.pop("spec", None)  # consumed by ManagedTable.open
        snaps = [Snapshot.from_dict(s) for s in raw.pop("snapshots")]
        return Manifest(snapshots=snaps, **raw)

    @staticmethod
    def _fence_staged(m: Manifest, ref: str | None = None) -> None:
        """Invariant: staged snapshots are always a contiguous TAIL of
        history, all on one lineage, until published or aborted. Any
        other commit (merge, MoR delta, rollback, compaction — and
        another STAGE on a different lineage: an anonymous stage may
        not stack, else the first becomes unpublishable since publish/
        abort accept only the last snapshot) while one is pending would
        strand it mid-history, so it conflicts instead — the same
        single-staged-lineage rule an Iceberg WAP branch enforces.
        The one legal stack is a BRANCH growing its own head: a commit
        carrying ``ref=name`` may land on top of staged snapshots that
        all carry the same ``ref`` (multi-commit branches, published
        together by :meth:`fast_forward`). Checked on the commit-time
        re-read, so two racing stage_changes() cannot both land."""
        pending = [s for s in m.snapshots if s.staged]
        if not pending:
            return
        if ref is not None and all(s.ref == ref for s in pending):
            return  # growing our own branch head
        head = m.snapshots[-1]
        where = f"branch {head.ref!r}" if head.ref else "anonymous stage"
        raise CommitConflictError(
            f"staged snapshot v{head.version} ({where}) pending; "
            "publish/fast-forward or abort it before committing"
        )

    def _write_manifest(self, m: Manifest, expected_version: int) -> None:
        """B9+A8: atomic pointer swap with optimistic version check.
        The check+swap pair runs under the per-manifest commit lock
        (in-process) AND an flock on a sidecar file (cross-process) —
        see ``_commit_lock``: compare-and-swap without mutual
        exclusion admits a lost update between two interleaved
        writers that both read the same current version."""
        self.root.mkdir(parents=True, exist_ok=True)
        with _commit_lock(str(self.manifest_path)):
            lock_path = self.manifest_path.with_suffix(".lock")
            lock_f = open(lock_path, "a")
            try:
                try:
                    import fcntl

                    fcntl.flock(lock_f, fcntl.LOCK_EX)
                except ImportError:  # non-POSIX: in-process lock only
                    pass
                self._checked_swap(m, expected_version)
            finally:
                lock_f.close()  # closing releases any flock held

    def _checked_swap(self, m: Manifest, expected_version: int) -> None:
        current = self._read_manifest().version
        if current != expected_version:
            raise CommitConflictError(
                f"concurrent commit: manifest at v{current}, expected v{expected_version}"
            )
        from dataclasses import asdict

        payload = {
            "spec_namespace": m.spec_namespace,
            "spec_name": m.spec_name,
            "key_columns": m.key_columns,
            "partition_columns": m.partition_columns,
            # full spec: lets a fresh session reopen the table without
            # re-supplying it (ManagedTable.open) — the durable-catalog
            # behavior the reference gets from Glue (ts:110-117)
            "spec": asdict(self.spec),
            "tags": m.tags,
            "branches": m.branches,
            "snapshots": [s.to_dict() for s in m.snapshots],
        }
        tmp = self.manifest_path.with_suffix(f".tmp-{uuid.uuid4().hex}")
        # no indent: an indented dump falls back to the pure-Python
        # encoder (2.5-6x slower), and its whitespace nearly doubles a
        # manifest with many per-file stats
        tmp.write_text(json.dumps(payload))
        os.replace(tmp, self.manifest_path)  # atomic on POSIX

    # -- reads --------------------------------------------------------------

    def exists(self) -> bool:
        return self.manifest_path.exists() and bool(self._read_manifest().snapshots)

    @property
    def version(self) -> int:
        return self._read_manifest().version

    def read(
        self,
        version: int | None = None,
        tag: str | None = None,
        branch: str | None = None,
        as_of: float | None = None,
    ) -> DataFrame:
        """Current snapshot, or time travel to ``version`` / ``tag``
        (B10), the head of a ``branch`` (staged commits included —
        the audit-side view of an in-flight branch), or ``as_of`` a
        unix timestamp (Delta ``TIMESTAMP AS OF`` analog: the newest
        PUBLISHED snapshot committed at or before that instant)."""
        m = self._read_manifest()
        if not m.snapshots:
            raise FileNotFoundError(f"table {self.spec.qualified_name} has no snapshots")
        by_v = {s.version: s for s in m.snapshots}
        if sum(x is not None for x in (version, tag, branch, as_of)) > 1:
            raise ValueError("pass at most one of version / tag / branch / as_of")
        if as_of is not None:
            published = [s for s in m.snapshots if not s.staged]
            eligible = [s for s in published if s.committed_at <= as_of]
            if not eligible:
                if not published:
                    raise ValueError(
                        f"no published snapshot of "
                        f"{self.spec.qualified_name}: all "
                        f"{len(m.snapshots)} snapshot(s) are staged (WAP); "
                        "publish a branch before time travel"
                    )
                raise ValueError(
                    f"no snapshot of {self.spec.qualified_name} committed "
                    f"at or before {as_of} (earliest: "
                    f"{min(s.committed_at for s in published)})"
                )
            version = max(eligible, key=lambda s: s.version).version
        if tag is not None:
            if tag not in m.tags:
                raise ValueError(
                    f"unknown tag {tag!r} on {self.spec.qualified_name} "
                    f"(tags: {sorted(m.tags)})"
                )
            version = m.tags[tag]
        if branch is not None:
            version = self._branch_head(m, branch)
        if version is None:
            snap = m.current
        else:
            if version not in by_v:
                raise ValueError(
                    f"version {version} not in retained history "
                    f"{sorted(by_v)} of {self.spec.qualified_name}"
                )
            snap = by_v[version]
        return self._materialize(snap, by_v)

    def _materialize(self, snap: Snapshot, by_v: dict[int, Snapshot]) -> DataFrame:
        """Resolve a snapshot to rows. Merge-on-read snapshots layer
        delta files (delete keys + insert rows) over a base version:
        state = base ⟕̸ deletes ∪ inserts, applied per layer down the
        chain. Each layer costs one anti-join at read time — the MoR
        tradeoff; ``compact()`` materializes the chain back to a flat
        copy-on-write snapshot."""
        from pyspark.sql import functions as F

        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        if snap.delta is not None:
            if snap.base_version not in by_v:
                raise ValueError(
                    f"merge-on-read base v{snap.base_version} of "
                    f"v{snap.version} is not retained (vacuumed too aggressively?)"
                )
            base = self._materialize(by_v[snap.base_version], by_v)
            # additive evolution: widen the base to this layer's schema
            for f in schema.fields:
                if f.name not in base.columns:
                    base = base.withColumn(f.name, F.lit(None).cast(f.dataType))
            cols = [f.name for f in schema.fields]
            keys = list(self.spec.key_columns)
            key_schema = T.StructType([f for f in schema.fields if f.name in keys])
            deletes = self.spark.read.schema(key_schema).parquet(snap.delta["deletes"])
            inserts = self.spark.read.schema(schema).parquet(snap.delta["inserts"])
            return (
                base.select(*cols)
                .join(deletes, on=keys, how="left_anti")
                .select(*cols)  # USING-join fronts key cols; restore schema order
                .unionByName(inserts)
            )
        if snap.partitions is None:
            raw = self.spark.read.schema(self._file_schema(schema, snap)).parquet(
                snap.data_dir
            )
            return self._apply_read_renames(raw, snap)
        return self._read_partition_entries(snap.partitions, schema)

    @staticmethod
    def _file_schema(schema: T.StructType, snap: Snapshot) -> T.StructType:
        """The snapshot schema under the names its data FILES use —
        current names inverse-mapped through ``read_renames`` (an
        explicit-schema parquet read matches by name, so reading
        renamed files with the current name would surface NULLs)."""
        if not snap.read_renames:
            return schema
        inv = {cur: fc for fc, cur in snap.read_renames.items()}
        return T.StructType(
            [
                T.StructField(
                    inv.get(f.name, f.name), f.dataType, f.nullable, f.metadata
                )
                for f in schema.fields
            ]
        )

    @staticmethod
    def _apply_read_renames(df: DataFrame, snap: Snapshot) -> DataFrame:
        """Apply the snapshot's file-name -> current-name mapping as
        ONE simultaneous substitution (a select of aliases). Sequential
        withColumnRenamed cannot express a cyclic permutation: the
        legal sequence ``rename a->tmp; rename b->a; rename tmp->b``
        composes to the swap ``{a: b, b: a}``, where renaming pairwise
        first duplicates a name and then hits AMBIGUOUS_REFERENCE on
        every later read (r9 review, verified live)."""
        if not snap.read_renames:
            return df
        ren = snap.read_renames
        return df.select(
            *[_qcol(c).alias(ren.get(c, c)) for c in df.columns]
        )

    def _read_partition_entries(
        self, entries: list[dict[str, Any]], schema: T.StructType
    ) -> DataFrame:
        """Assemble a snapshot from partition entries as ONE Parquet
        relation per group of entries that share a layout and a
        ``renames`` mapping — in the common case one relation for the
        whole snapshot, so SQL plans a single FileScan with Spark's own
        ``PartitionFilters`` (the one-scan-per-table shape Athena gets
        from the Iceberg manifest, reference ts:77-79).

        Each entry's OWN value keys define its layout — after
        partition-spec evolution, carried entries keep the layout they
        were written under (Iceberg's per-file spec-id semantic);
        likewise each entry's own ``renames`` mapping (file-name ->
        current-name, the per-entry analog of the snapshot-level
        ``read_renames``) binds the read to the names its files store —
        carried entries keep old names after a rename while freshly
        rewritten entries use current names. Entries differing in
        either are read as separate relations, unioned by name.

        Within a group the files are read with the file schema (missing
        evolved columns surface as NULL) plus the partition fields;
        Spark parses the partition values from the ``col=value`` dir
        names, typed by the table schema in the session time zone.
        ``basePath`` is the common ancestor of the entries' layout
        roots, and ``ignoreInvalidPartitionPaths`` lets one relation
        span several roots: a copy-on-write head's entries live under
        several ``data/v*-…`` dirs, and a shallow clone's under another
        table's root, which Spark otherwise refuses as conflicting
        directory structures. An entry is read by its dir unless a
        pruned scan narrowed it to ``read_files``."""
        groups: dict[tuple, list[dict[str, Any]]] = {}
        for ent in entries:
            ren = tuple(
                sorted(
                    (fc, cur)
                    for fc, cur in (ent.get("renames") or {}).items()
                    if fc != cur
                )
            )
            groups.setdefault((tuple(ent["values"]), ren), []).append(ent)
        by_name = {f.name: f for f in schema.fields}
        parts: list[DataFrame] = []
        for (pcols, ren), ents in groups.items():
            inv = {cur: fc for fc, cur in ren}
            file_schema = T.StructType(
                [
                    T.StructField(
                        inv.get(f.name, f.name), f.dataType, f.nullable, f.metadata
                    )
                    for f in schema.fields
                    if f.name not in pcols
                ]
                + [by_name[pc] for pc in pcols]
            )
            roots = [
                str(Path(e["dir"]).parents[len(pcols) - 1]) if pcols else e["dir"]
                for e in ents
            ]
            df = (
                self.spark.read.schema(file_schema)
                .option("basePath", os.path.commonpath(roots))
                .option("ignoreInvalidPartitionPaths", "true")
                .parquet(*[p for e in ents for p in e.get("read_files") or [e["dir"]]])
            )
            # back into schema order (Spark places partition columns
            # last) under current names, as ONE simultaneous
            # substitution — sequential renames break on cyclic
            # mappings (see _apply_read_renames)
            parts.append(
                df.select(
                    *[_qcol(inv.get(f.name, f.name)).alias(f.name) for f in schema.fields]
                )
            )
        if not parts:
            return self.spark.createDataFrame([], schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _enumerate_partition_dirs(self, data_dir: Path) -> list[dict[str, Any]]:
        """Walk the hive layout ``col1=v/col2=v/…`` one level per
        partition column; values are unescaped dir-name strings
        (``__HIVE_DEFAULT_PARTITION__`` -> None)."""
        from urllib.parse import unquote

        pcols = list(self.spec.partition_columns)
        entries: list[dict[str, Any]] = []

        def walk(cur: Path, depth: int, values: dict[str, Any]) -> None:
            if depth == len(pcols):
                entries.append({"values": dict(values), "dir": str(cur)})
                return
            prefix = pcols[depth] + "="
            for child in sorted(cur.iterdir()):
                if child.is_dir() and child.name.startswith(prefix):
                    raw = unquote(child.name[len(prefix):])
                    values[pcols[depth]] = (
                        None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
                    )
                    walk(child, depth + 1, values)

        if data_dir.exists():
            walk(data_dir, 0, {})
        return entries

    def history(self) -> list[Snapshot]:
        return list(self._read_manifest().snapshots)

    def snapshots_df(self) -> DataFrame:
        """Snapshot metadata as a queryable DataFrame — the engine's
        analog of Iceberg's ``table$snapshots`` / ``$history``
        metadata tables: one row per retained snapshot with version,
        operation, committed row count, timestamp, and whether the
        snapshot is a merge-on-read delta. Driver-side by nature
        (metadata is the manifest — bounded by retention, never by
        data size); joins/filters compose like any other frame."""
        snaps = self._read_manifest().snapshots
        schema = T.StructType(
            [
                T.StructField("version", T.LongType(), False),
                T.StructField("operation", T.StringType(), False),
                T.StructField("row_count", T.LongType(), False),
                T.StructField("committed_at", T.DoubleType(), False),
                T.StructField("is_delta", T.BooleanType(), False),
            ]
        )
        rows = [
            (
                int(s.version),
                s.operation,
                int(s.row_count),
                float(s.committed_at),
                s.delta is not None,
            )
            for s in snaps
        ]
        return self.spark.createDataFrame(rows, schema)

    def metadata_aggregate(
        self, columns: tuple[str, ...] = (), version: int | None = None
    ) -> dict[str, Any]:
        """COUNT(*) plus per-column MIN/MAX answered from MANIFEST
        FILE STATISTICS alone — no data file is opened (the Iceberg
        metadata-only scan: what makes ``SELECT COUNT(*)`` on a
        100 TB replica an O(manifest) driver operation instead of a
        cluster job). The same footer stats that power min/max file
        skipping (reference ts:77-79, the Iceberg-native bucket's
        manifest) already carry the answer; this surfaces it.

        Contract, stated refusals instead of silent guesses:

        * the published head must be a complete copy-on-write
          snapshot — a merge-on-read delta head refuses (its
          tombstones change count/extremes in ways only a key read
          can resolve; ``compact()`` first);
        * a requested column whose stats are missing in any
          NON-EMPTY file (all-NULL column chunk, unsupported
          physical type) refuses — parquet MIN/MAX ignores NULLs
          exactly like SQL, but an absent range cannot distinguish
          "all NULL" from "not collected".

        Returns ``{"row_count": int, "min": {col: v}, "max":
        {col: v}}``; an empty table surfaces ``None`` in both maps
        (SQL MIN/MAX over zero rows). Rename-transparent: stats
        dicts are re-keyed to current names by ``rename_column``
        itself (the invariant the pruning scan already relies on),
        so lookups use the current name directly. ``version`` time-
        travels over the manifest alone — any retained published
        CoW snapshot's stats answer identically (column names
        resolve against THAT snapshot's schema, exactly like a
        time-travel read)."""
        m = self._read_manifest()
        if version is None:
            snap = m.current
        else:
            # time travel over the manifest alone: any RETAINED
            # published snapshot's stats answer the same way (vacuum
            # bounds retention, so this is still O(manifest))
            snap = next(
                (
                    s
                    for s in m.snapshots
                    if s.version == version and not s.staged
                ),
                None,
            )
            if snap is None:
                raise ValueError(
                    f"metadata_aggregate: no retained published snapshot "
                    f"v{version}"
                )
        if snap is None:
            raise RuntimeError("metadata_aggregate: no published snapshot")
        if snap.delta is not None:
            raise RuntimeError(
                "metadata_aggregate requires a copy-on-write head: "
                f"v{snap.version} is a merge-on-read delta whose "
                "tombstones cannot be resolved from file stats; run "
                "compact() first"
            )
        schema_names = {f.name for f in T.StructType.fromJson(json.loads(snap.schema_json)).fields}
        unknown = [c for c in columns if c not in schema_names]
        if unknown:
            raise ValueError(f"metadata_aggregate: unknown column(s) {unknown}")
        if snap.partitions is not None:
            file_sets: list[dict[str, Any]] = []
            for e in snap.partitions:
                if e.get("files") is None:
                    raise RuntimeError(
                        "metadata_aggregate: partition entry "
                        f"{e.get('dir')!r} carries no file stats"
                    )
                file_sets.extend(e["files"])
            part_values = {
                c: [(e.get("values") or {}).get(c) for e in snap.partitions]
                for c in (self.spec.partition_columns or ())
            }
        else:
            if snap.files is None:
                raise RuntimeError(
                    "metadata_aggregate: snapshot carries no file stats"
                )
            file_sets = list(snap.files)
            part_values = {}
        total = sum(int(f["rows"]) for f in file_sets)
        mins: dict[str, Any] = {}
        maxs: dict[str, Any] = {}
        for col in columns:
            if col in part_values:
                # partition-literal columns: values live in the
                # manifest entries, typed via dir-name strings —
                # lexicographic min/max only matches SQL for strings,
                # so refuse non-string partition columns here.
                f0 = T.StructType.fromJson(json.loads(snap.schema_json))[col]
                if not isinstance(f0.dataType, T.StringType):
                    raise RuntimeError(
                        f"metadata_aggregate: partition column {col!r} "
                        "is non-string; dir-name order is not value order"
                    )
                if any(
                    col not in (e.get("values") or {})
                    for e in snap.partitions
                ):
                    # a carried PRE-EVOLUTION entry stores this column
                    # in its data files, not its dir name (lazy
                    # migration) — a KEY absent from `values` is that
                    # case, distinct from an explicit NULL value, and
                    # its rows' extremes are invisible here
                    raise RuntimeError(
                        f"metadata_aggregate: partition column {col!r} "
                        "is missing from a pre-evolution carried entry; "
                        "read the data instead"
                    )
                vals = [v for v in part_values[col] if v is not None]
                mins[col] = min(vals) if vals else None
                maxs[col] = max(vals) if vals else None
                continue
            lo = hi = None
            for f in file_sets:
                if int(f["rows"]) == 0:
                    continue
                # stats dicts are keyed by CURRENT column names —
                # rename_column re-keys them at commit time (the
                # pruning scan depends on the same invariant)
                rng = (f.get("stats") or {}).get(col)
                if rng is None:
                    raise RuntimeError(
                        f"metadata_aggregate: no stats for column {col!r} "
                        f"in {f['path']!r} — cannot distinguish all-NULL "
                        "from uncollected; read the data instead"
                    )
                if any(isinstance(v, str) and len(v) >= 64 for v in rng):
                    # parquet writers may TRUNCATE long binary/string
                    # statistics (truncated bounds are valid for
                    # PRUNING but not exact extremes) — 64 bytes is
                    # the conservative cutoff below every known
                    # writer default, so only provably-exact string
                    # stats answer here
                    raise RuntimeError(
                        f"metadata_aggregate: string stats for {col!r} "
                        "reach the writer-truncation length; read the "
                        "data instead"
                    )
                lo = rng[0] if lo is None else min(lo, rng[0])
                hi = rng[1] if hi is None else max(hi, rng[1])
            mins[col] = lo
            maxs[col] = hi
        return {"row_count": total, "min": mins, "max": maxs}

    def read_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Incremental read (Iceberg incremental-scan analog): the
        keyed diff between two retained snapshots, emitted in the same
        change-log shape ``apply_changes`` consumes —
        ``op ∈ {INSERT, MODIFY, REMOVE}`` + row image (REMOVE carries
        the old image). Lets a downstream consumer tail the table
        version-by-version instead of re-scanning it — at 100 TB the
        difference between moving the 0.1% that changed and the whole
        table. One shuffle: a full outer join on the key columns;
        unchanged rows are dropped by a null-safe image comparison.
        ``to_version`` defaults to the PUBLISHED head — a staged (WAP)
        snapshot must never leak through the incremental surface (its
        version number is even reused if the audit aborts it).

        Between two copy-on-write snapshots with the same schema, only
        the partition entries that differ are read: an entry both
        snapshots reference unchanged (same dir, values and renames)
        holds the same rows on both sides, and since a key lives in
        exactly one entry per snapshot, none of its rows can change.
        """
        from pyspark.sql import functions as F

        m = self._read_manifest()
        if to_version is None:
            cur = m.current
            if cur is None:
                raise FileNotFoundError(
                    f"table {self.spec.qualified_name} has no published snapshots"
                )
            to_version = cur.version
        by_v = {s.version: s for s in m.snapshots}
        a, b = by_v.get(from_version), by_v.get(to_version)
        if (
            a is not None
            and b is not None
            and a.partitions is not None
            and b.partitions is not None
            and a.schema_json == b.schema_json
        ):

            def ident(e: dict[str, Any]) -> tuple[str, str, str]:
                return (
                    e["dir"],
                    json.dumps(e["values"], sort_keys=True),
                    json.dumps(e.get("renames") or {}, sort_keys=True),
                )

            shared = {ident(e) for e in a.partitions} & {
                ident(e) for e in b.partitions
            }
            schema = T.StructType.fromJson(json.loads(b.schema_json))
            old, new = (
                self._read_partition_entries(
                    [e for e in s.partitions if ident(e) not in shared], schema
                )
                for s in (a, b)
            )
        else:
            old = self.read(version=from_version)
            new = self.read(version=to_version)
        keys = list(self.spec.key_columns)
        # schema evolution between versions: align old to new additively
        for f in new.schema.fields:
            if f.name not in old.columns:
                old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
        cols = [f.name for f in new.schema.fields]
        val_cols = [c for c in cols if c not in keys]
        # side-presence MARKERS, not key nullability: the join is
        # null-safe precisely so NULL key values match, which means a
        # NULL-keyed row present on both sides would read as "absent"
        # under an isNotNull(key) test and be misreported as INSERT
        # with the stale old image
        o = old.select(*cols).withColumn("__in_o", F.lit(True)).alias("o")
        n = new.select(*cols).withColumn("__in_n", F.lit(True)).alias("n")
        j = o.join(n, on=[F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys], how="full_outer")
        in_old = F.col("o.__in_o").isNotNull()
        in_new = F.col("n.__in_n").isNotNull()
        same = (
            F.struct(*[F.col(f"o.{c}") for c in val_cols]).eqNullSafe(
                F.struct(*[F.col(f"n.{c}") for c in val_cols])
            )
            if val_cols
            else F.lit(True)
        )
        op = (
            F.when(~in_old, F.lit("INSERT"))
            .when(~in_new, F.lit("REMOVE"))
            .when(~same, F.lit("MODIFY"))
        )
        side = F.when(in_new, F.struct(*[F.col(f"n.{c}") for c in cols])).otherwise(
            F.struct(*[F.col(f"o.{c}") for c in cols])
        )
        return (
            j.select(op.alias("op"), side.alias("__img"))
            .filter(F.col("op").isNotNull())
            .select("op", *[F.col(f"__img.{c}").alias(c) for c in cols])
        )

    def scan(self, filters: list[tuple[str, str, Any]] | None = None) -> DataFrame:
        """Manifest-pruned read — the scan path Iceberg gives Athena in
        the reference pipeline (partition pruning + min/max file
        skipping off table metadata, reference ts:77-79) realized over
        this engine's own manifest.

        ``filters`` is a conjunctive list of ``(column, op, value)``
        with op in ``= < <= > >=``. Pruning happens at metadata scale
        on the driver (exactly where Iceberg planning happens); the
        full predicate is then ALSO applied to the surviving rows, so
        results are exact regardless of how conservative pruning was.
        Partitioned tables prune whole partition dirs by manifest
        values; unpartitioned tables skip files by footer min/max
        recorded at write time. ``last_scan_metrics`` reports the
        pruning ratio. At 100 TB this is the difference between
        listing+reading every file and touching only the 1% a
        selective predicate needs.
        """
        filters = list(filters or [])
        pred = self._predicate_from_filters(filters)  # validates the ops
        m = self._read_manifest()
        snap = m.current
        if snap is None:
            raise FileNotFoundError(f"table {self.spec.qualified_name} has no snapshots")
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        plan = self._plan(snap, schema, filters=filters)
        if plan is not None:
            self.last_scan_metrics = plan.metrics
            df = self._read_partition_entries(plan.read, schema)
        elif snap.files:
            keep = [f["path"] for f in snap.files if _file_may_match(f, filters)]
            self.last_scan_metrics = {
                "files_total": len(snap.files),
                "files_read": len(keep),
            }
            if not keep:
                return self.spark.createDataFrame([], schema)
            raw = self.spark.read.schema(self._file_schema(schema, snap)).parquet(*keep)
            df = self._apply_read_renames(raw, snap)
        else:  # MoR head or legacy snapshot without stats — full read
            self.last_scan_metrics = {"files_total": None, "files_read": None}
            df = self._materialize(snap, {s.version: s for s in m.snapshots})
        return df if pred is None else df.filter(pred)

    def _plan(
        self,
        snap: Snapshot,
        schema: T.StructType,
        filters: list[tuple[str, str, Any]] = (),
        touched: DataFrame | None = None,
        layout: tuple[str, ...] | None = None,
    ) -> _Plan | None:
        """The one partition planner behind scan, the pruned CoW merge
        and the DML verbs: which entries of ``snap`` an operation
        reads, and which a commit carries into the next snapshot by
        reference (copy-on-write at partition granularity, the Iceberg
        CoW model). None when ``snap`` has no partition entries (an
        unpartitioned table or a merge-on-read head): the caller reads
        the whole snapshot.

        Two ways to say what is touched:

        * ``filters`` — conjunctive scan triples. Each entry is tested
          on ITS OWN value keys (mixed layouts after partition
          evolution prune on whatever each entry recorded); see
          :func:`_partition_may_match`.
        * ``touched`` — a frame whose rows carry partition values (a
          change batch, or the rows a keyed DML hits). The values are
          collected once, metadata-scale, through Spark's own
          ``cast("string")``: that is the encoder that rendered the
          manifest's dir names (booleans 'true', decimals '1.50',
          timestamps with fractional seconds, 'NaN'), so both sides
          of the comparison agree bit for bit. With ``layout`` (the
          CoW merge) the values are read from those columns and an
          entry of any other layout is touched: the change images
          carry no trustworthy values for columns outside the spec,
          and the rewrite moves the entry's rows into the current
          layout. Without it each entry matches on its own value keys.

        File skipping (footer min/max, then bloom) narrows the touched
        entries for ``read`` on the filters over non-partition
        columns."""
        parts = snap.partitions
        if parts is None:
            return None
        types = {f.name: f.dataType for f in schema.fields}
        if touched is None:
            import datetime

            tz = None
            if any(isinstance(v, datetime.datetime) for _, _, v in filters):
                tz = self.spark.conf.get("spark.sql.session.timeZone")

            def hit(e: dict[str, Any]) -> bool:
                return all(
                    _partition_may_match(e["values"][col], types[col], op, val, tz)
                    for col, op, val in filters
                    if col in e["values"]
                )
        else:
            pcols = list(layout) if layout is not None else sorted(
                {pc for e in parts for pc in e["values"] if pc in types}
            )
            rows = (
                touched.select([_qcol(pc).cast("string").alias(pc) for pc in pcols])
                .distinct()
                .collect()
                if pcols
                else []
            )
            seen: dict[tuple[str, ...], set[tuple[Any, ...]]] = {}

            def hit(e: dict[str, Any]) -> bool:
                if layout is not None and set(e["values"]) != set(layout):
                    return True
                cols = tuple(pc for pc in e["values"] if pc in pcols)
                if not cols:
                    return True  # no layout info: cannot rule it out
                if cols not in seen:
                    seen[cols] = {tuple(r[pc] for pc in cols) for r in rows}
                return tuple(e["values"][pc] for pc in cols) in seen[cols]

        flags = [hit(e) for e in parts]
        use = [e for e, f in zip(parts, flags) if f]
        read: list[dict[str, Any]] = []
        files_total = files_read = 0
        for e in use:
            files = e.get("files")
            if not files:
                read.append(e)  # legacy entry: read the whole dir
                continue
            kept = [f["path"] for f in files if _file_may_match(f, filters, e["values"])]
            files_total += len(files)
            files_read += len(kept)
            if len(kept) == len(files):
                # the dir holds exactly these files: one root path, not
                # one per file (Spark lists more than
                # parallelPartitionDiscovery.threshold roots with a job)
                read.append(e)
            elif kept:
                read.append({**e, "read_files": kept})
        return _Plan(
            touched=use,
            carry=[e for e, f in zip(parts, flags) if not f],
            read=read,
            metrics={
                "partitions_total": len(parts),
                "partitions_read": len(use),
                "files_total": files_total or None,
                "files_read": files_read if files_total else None,
            },
        )

    def _cow_commit(
        self,
        m: Manifest,
        plan: _Plan | None,
        schema: T.StructType,
        rewrite,
        operation: str,
    ) -> dict[str, Any]:
        """The copy-on-write tail shared by merge and the DML verbs:
        read the planned entries (the whole head when ``plan`` is
        None), apply ``rewrite`` and commit the result with the carried
        entries, anchored at ``m``'s version so an interleaving commit
        fails the CAS instead of being clobbered. The rewrite is
        clustered by partition (:meth:`_clustered`), so each rewritten
        partition is written as one file however the rewrite's plan
        splits its input."""
        snap = m.current
        if plan is None:
            self._write_snapshot(
                self._clustered(rewrite(self.read(version=snap.version))),
                operation=operation, expected_version=m.version,
            )
            return {"partitions_rewritten": None, "partitions_carried": None}
        self._write_snapshot(
            self._clustered(
                rewrite(self._read_partition_entries(plan.touched, schema))
            ),
            operation=operation, carry_entries=plan.carry,
            expected_version=m.version,
            # carried entries still store dropped-column values; keep
            # the resurrect guard armed until a FULL rewrite
            carry_dropped=snap.dropped_columns if plan.carry else None,
        )
        return {
            "partitions_rewritten": len(plan.touched),
            "partitions_carried": len(plan.carry),
        }

    def _clustered(self, df: DataFrame) -> DataFrame:
        """Cluster a rewrite the engine produced by the partition
        columns, so the write makes one file per partition rather than
        one per task that holds its rows (a broadcast merge runs a task
        per base split plus one per batch partition). AQE's rebalance
        handling still splits a partition larger than
        ``spark.sql.adaptive.advisoryPartitionSizeInBytes``. A no-op
        for unpartitioned specs, and for ``sort_columns`` specs, whose
        write already repartitions by partition. Caller-supplied
        frames (bootstrap, overwrite, compact) keep their layout."""
        pcols = self.spec.partition_columns
        if not pcols or self.spec.sort_columns:
            return df
        return df.hint("rebalance", *pcols)

    def maybe_compact(
        self,
        max_delta_layers: int = 5,
        max_files: int = 64,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> dict[str, int] | None:
        """Compaction policy for continuous pipelines: compact when the
        merge-on-read chain exceeds ``max_delta_layers`` (read-time
        anti-joins stack per layer) or the current snapshot's file
        count exceeds ``max_files`` (small-file tax). Call after each
        merge — the check is metadata-only; returns ``compact()``'s
        metrics when triggered, else None. This is the automated
        maintenance loop the reference's managed service runs for its
        Iceberg tables (reference README.md:125-137)."""
        m = self._read_manifest()
        snap = m.current
        if snap is None:
            return None
        by_v = {s.version: s for s in m.snapshots}
        layers = 0
        cur = snap
        while cur is not None and cur.base_version is not None:
            layers += 1
            # a vacuumed-away base still counts as a layer; compact()
            # itself reports the broken chain loudly if one is hit
            cur = by_v.get(cur.base_version)
        if layers >= max_delta_layers:
            return self.compact(target_file_bytes)
        if snap.files is not None and len(snap.files) > max_files:
            return self.compact(target_file_bytes)
        if snap.partitions is not None:
            n = sum(
                1 for e in snap.partitions for _ in Path(e["dir"]).rglob("*.parquet")
            )
            if n > max_files:
                return self.compact(target_file_bytes)
        return None

    def _stats_bounds(self, snap: Snapshot, col: str) -> tuple[Any, Any] | None:
        """Global [min, max] of ``col`` from the snapshot's own file
        stats — metadata-scale planning input (no data read). None
        when any file lacks stats for the column (caller falls back
        to a column-pruned agg). MoR layers may carry superseded
        rows; a superset range only widens the z-order grid, never
        breaks it."""
        m = self._read_manifest()
        by_v = {s.version: s for s in m.snapshots}
        los: list[Any] = []
        his: list[Any] = []
        cur: Snapshot | None = snap
        while cur is not None:
            ents = (
                [f for e in cur.partitions for f in (e.get("files") or [])]
                if cur.partitions is not None
                else (cur.files or [])
            )
            if not ents:
                return None
            for f in ents:
                rng = f["stats"].get(col)
                if rng is None:
                    return None
                los.append(rng[0])
                his.append(rng[1])
            cur = by_v.get(cur.base_version) if cur.base_version is not None else None
        return (min(los), max(his)) if los else None

    def compact(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        zorder_by: tuple[str, ...] | None = None,
    ) -> dict[str, int]:
        """Bin-pack small data files into ~``target_file_bytes`` files
        — the compaction half of Iceberg table maintenance the
        reference's managed pipeline performs alongside
        ``unreferencedFileRemoval`` (reference README.md:129-137).

        A CDC table accretes one file set per merge; at 100 TB the
        small-file tax (task-per-file scheduling, footer overhead,
        shuffle fan-in) dominates scan cost, so compaction is what
        keeps a continuously-merged table scannable. Commits a new
        snapshot (operation="compact") with identical rows; history
        and time travel keep working; vacuum reclaims the old files.
        Partitioned tables keep their partition layout, packing within
        each partition (`repartition` by partition key → one writer
        task per partition holds all its rows).

        ``zorder_by`` additionally Morton-clusters the rewrite on the
        given numeric columns (Delta OPTIMIZE ZORDER BY / Iceberg
        sort-order rewrite analog): the scale grid comes from the
        manifest's own file stats (metadata-scale planning, the same
        place Iceberg reads it), the key is a pure codegen expression
        (functions/zorder.py), and the range-clustered layout keeps
        per-file min/max tight in EVERY listed dimension — so `scan`
        box queries prune files that a single-column sort layout
        would have to read."""
        m = self._read_manifest()
        snap = m.current
        if snap is None:
            raise FileNotFoundError(f"table {self.spec.qualified_name} has no snapshots")
        by_v = {s.version: s for s in m.snapshots}
        dirs: list[str] = []
        cur: Snapshot | None = snap
        while cur is not None:  # MoR chains contribute every layer's files
            dirs.extend(
                [e["dir"] for e in cur.partitions]
                if cur.partitions is not None
                else [cur.data_dir]
            )
            cur = by_v.get(cur.base_version) if cur.base_version is not None else None
        paths = [p for d in dirs for p in Path(d).rglob("*.parquet")]
        files_before = len(paths)
        total_bytes = sum(p.stat().st_size for p in paths)
        df = self.read(version=snap.version)  # pinned to the anchor
        zkey = None
        if zorder_by:
            from pyspark.sql import functions as F

            from dynamodb_zero_etl_s3tables_spark.functions.zorder import (
                zorder_key,
            )

            bounds = []
            for c in zorder_by:
                b = self._stats_bounds(snap, c)
                if b is None:  # stats gap: one column-pruned agg
                    row = df.agg(F.min(c), F.max(c)).collect()[0]
                    b = (row[0], row[1])
                bounds.append((F.col(c), float(b[0]), float(b[1])))
            zkey = "__zkey"
            df = df.withColumn(zkey, zorder_key(bounds))
        if self.spec.partition_columns:
            # one writer task per partition value -> one packed file each
            df = df.repartition(*self.spec.partition_columns)
            if zkey:
                df = df.sortWithinPartitions(zkey).drop(zkey)
        else:
            n_target = max(1, -(-total_bytes // target_file_bytes))
            if zkey:
                df = (
                    df.repartitionByRange(n_target, zkey)
                    .sortWithinPartitions(zkey)
                    .drop(zkey)
                )
            else:
                df = df.repartition(n_target)
        self._write_snapshot(df, operation="compact", expected_version=m.version)
        new = self._read_manifest().current
        new_dirs = (
            [e["dir"] for e in new.partitions]
            if new.partitions is not None
            else [new.data_dir]
        )
        files_after = len([p for d in new_dirs for p in Path(d).rglob("*.parquet")])
        return {
            "files_before": files_before,
            "files_after": files_after,
            "bytes": total_bytes,
        }

    # -- writes -------------------------------------------------------------

    def _fill_generated(self, df: DataFrame) -> DataFrame:
        """Delta generated-columns analog (write side): compute every
        generated column the frame lacks, in declaration order (so
        later expressions may reference earlier generated columns).
        Pure projections — no extra job, no shuffle. Columns the
        writer DID supply pass through untouched here; the `<=>`
        write-observation constraint in _write_snapshot validates
        them."""
        if not self.spec.generated_columns:
            return df
        from pyspark.sql import functions as F

        for name, expr in self.spec.generated_columns:
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
        return df

    def _write_snapshot(
        self,
        df: DataFrame,
        operation: str,
        carry_entries: list[dict[str, Any]] | None = None,
        staged: bool = False,
        ref: str | None = None,
        expected_version: int | None = None,
        carry_dropped: list[str] | None = None,
    ) -> None:
        """Write ``df``'s files as snapshot N+1. For partitioned
        tables, ``carry_entries`` are untouched partition dirs from the
        previous snapshot, referenced (not copied) by the new one;
        ``carry_dropped`` then propagates the base's ``dropped_columns``
        bookkeeping (carried files still physically store dropped
        values, so the add_columns resurrect guard must stay armed
        until a FULL rewrite — compact/overwrite — clears it).
        ``ref`` marks a branch commit: it may stack on staged
        snapshots of the SAME branch (schema evolution then baselines
        on the branch head, not the published current).

        ``expected_version`` anchors the optimistic-concurrency check
        at the manifest version THE PLAN WAS DERIVED FROM (the verbs
        capture it when they read their base and pin the base read to
        that snapshot). Without the anchor, a commit that interleaves
        between a verb's base read and this method's own manifest
        read would pass the CAS and be silently clobbered — the lost
        update A8 exists to prevent. The check here fails fast before
        the data write; ``_write_manifest``'s locked CAS re-checks the
        same version authoritatively at swap time."""
        from dynamodb_zero_etl_s3tables_spark.metrics import (
            CommitMetrics,
            observe_rows,
        )

        t0 = time.perf_counter()
        if operation != "merge-mor":
            # generated columns: compute any the writer omitted (MoR
            # delta layers are exempt like checks — tombstones are not
            # table rows; compaction materializes and enforces)
            df = self._fill_generated(df)
        m = self._read_manifest()
        self._fence_staged(m, ref=ref)
        if expected_version is not None and m.version != expected_version:
            raise CommitConflictError(
                f"concurrent commit: manifest advanced to v{m.version} "
                f"after this {operation!r} plan was anchored at "
                f"v{expected_version}"
            )
        expected = m.version
        evolve_base = m.current
        if ref is not None:
            branch_snaps = [s for s in m.snapshots if s.staged and s.ref == ref]
            if branch_snaps:
                evolve_base = branch_snaps[-1]
        if evolve_base is not None:
            old_schema = T.StructType.fromJson(json.loads(evolve_base.schema_json))
            evolved = _evolve_schema(old_schema, df.schema)
            if carry_entries:
                # Carried entries are read under the NEW schema later,
                # binding file columns BY NAME — so a batch-evolved
                # column must clear the same stored-file-name guards as
                # add_columns (r9 review, resurrection verified live):
                # a batch re-introducing a DROPPED name would read the
                # dropped values back out of carried files, and one
                # re-introducing a renamed column's stored FILE name
                # would bind two schema fields to one file column and
                # break every later read of the carried entries.
                old_names = {f.name for f in old_schema.fields}
                fresh = [f.name for f in evolved.fields if f.name not in old_names]
                if fresh:
                    stored: dict[str, str] = {}
                    for e in carry_entries:
                        stored.update(e.get("renames") or {})
                    for n in fresh:
                        if n in (carry_dropped or ()):
                            raise SchemaEvolutionError(
                                f"batch evolves column {n!r}, but that name "
                                "was dropped and its values are still "
                                "physically present in carried partition "
                                "files — the merge would resurrect them; "
                                "compact() before re-introducing the name"
                            )
                        if n in stored:
                            raise SchemaEvolutionError(
                                f"batch evolves column {n!r}, which is the "
                                f"stored file name of renamed column "
                                f"{stored[n]!r} in carried partition files "
                                "— compact() to materialize the rename "
                                "before re-introducing the name"
                            )
            # fill columns added by evolution so old snapshots stay readable
            from pyspark.sql import functions as F

            present = set(df.columns)  # one analysis of the plan
            for f in evolved.fields:
                if f.name not in present:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            # cast-through aligns narrow incoming columns with a
            # widened (or wider stored) schema; no-op when types match
            df = df.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in evolved.fields]
            )
        data_dir = self.root / "data" / f"v{expected + 1}-{uuid.uuid4().hex[:8]}"
        if self.spec.sort_columns:
            # Iceberg sort-order analog: range-cluster so footer min/max
            # stats are tight and `scan` skips non-matching files
            sort = list(self.spec.sort_columns)
            if self.spec.partition_columns:
                df = df.repartition(*self.spec.partition_columns).sortWithinPartitions(*sort)
            else:
                # file count: explicit knob (Iceberg write.target-file-size
                # analog) or the shuffle default, AQE-coalesced to size
                n_files = int(self.spec.properties.get("write.sorted-file-count", 0))
                df = (
                    df.repartitionByRange(n_files, *sort)
                    if n_files
                    else df.repartitionByRange(*sort)
                ).sortWithinPartitions(*sort)
        # B13: row count observed by the write job itself — no second job
        df, obs = observe_rows(df, name=operation)
        constraints = tuple(
            self.spec.check_constraints if operation != "merge-mor" else ()
        )
        if operation != "merge-mor" and self.spec.generated_columns:
            # a supplied generated column must equal its expression —
            # null-safe <=> (never NULL), so unlike ANSI CHECK a NULL
            # mismatch cannot slip through; freshly computed columns
            # satisfy this trivially
            constraints += tuple(
                f"`{n}` <=> ({x})" for n, x in self.spec.generated_columns
            )
        if operation != "merge-mor" and self.spec.partition_columns:
            # Spark writes BOTH NULL and '' partition values to
            # __HIVE_DEFAULT_PARTITION__; the manifest round-trips that
            # dir as NULL, so an empty-string partition value would
            # silently read back as NULL (and a later pruned merge
            # would duplicate the default-partition entry). Refuse the
            # ambiguous value at commit time — NULL itself stays legal.
            constraints += tuple(
                f"NOT (`{f.name}` <=> '')"
                for f in df.schema.fields
                if f.name in self.spec.partition_columns
                and f.dataType.simpleString() == "string"
            )
        cobs = None
        if constraints:
            # CHECK enforcement rides the SAME write job (Observation,
            # like the row count): a row violates when the expression
            # is FALSE — ANSI CHECK semantics, NULL passes.
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            cobs = Observation(f"checks-{time.time_ns()}")
            df = df.observe(
                cobs,
                *[
                    F.sum(
                        F.when(F.expr(c) == F.lit(False), 1).otherwise(0)
                    ).alias(f"viol_{i}")
                    for i, c in enumerate(constraints)
                ],
            )
        writer = df.write.mode("overwrite")
        partitions: list[dict[str, Any]] | None = None
        if self.spec.partition_columns:
            writer = writer.partitionBy(*self.spec.partition_columns)
        writer.parquet(str(data_dir))
        if cobs is not None:
            vals = cobs.get
            viol = {
                c: int(vals[f"viol_{i}"])
                for i, c in enumerate(constraints)
                if vals[f"viol_{i}"]
            }
            if viol:
                # abort BEFORE the manifest references the dir: readers
                # never see it, and the orphan dir is gone immediately
                import shutil

                shutil.rmtree(data_dir, ignore_errors=True)
                raise ConstraintViolationError(
                    f"commit {operation!r} on {self.spec.qualified_name} "
                    f"violates check constraints (violating rows per "
                    f"expression): {viol}"
                )
        files: list[dict[str, Any]] | None = None
        if self.spec.partition_columns:
            fresh = self._enumerate_partition_dirs(data_dir)
            for ent in fresh:
                # per-partition file stats: lets scan() skip files
                # INSIDE surviving partitions; carried entries keep
                # the stats they were written with
                ent["files"] = _collect_file_stats(
                    ent["dir"], self.spec.bloom_columns
                )
            partitions = fresh + list(carry_entries or [])
        else:
            files = _collect_file_stats(str(data_dir), self.spec.bloom_columns)
        n = int(obs.get["row_count"])
        m.snapshots.append(
            Snapshot(
                version=expected + 1,
                data_dir=str(data_dir),
                committed_at=time.time(),
                row_count=n,
                schema_json=json.dumps(df.schema.jsonValue()),
                operation=operation,
                partitions=partitions,
                files=files,
                staged=staged,
                ref=ref,
                dropped_columns=(
                    sorted(carry_dropped) if carry_dropped else None
                ),
            )
        )
        self._write_manifest(m, expected_version=expected)
        self.last_commit_metrics = CommitMetrics(
            operation=operation,
            row_count=n,
            elapsed_sec=time.perf_counter() - t0,
        )

    def bootstrap(self, df: DataFrame) -> None:
        """B1: initial full-snapshot load (PITR-export analog)."""
        self._write_snapshot(df, operation="bootstrap")

    def bootstrap_export(
        self,
        export_root: str,
        fields: dict[str, str],
        export_id: str | None = None,
        depth: int = 3,
        validate_counts: bool = True,
    ) -> None:
        """B1, for real: bootstrap from a DynamoDB PITR export
        directory (``AWSDynamoDB/<id>/data/*.json.gz`` + manifests —
        what the reference's ``dynamodb:ExportTableToPointInTime``
        grant, src/dynamodb-zero-etl-s3tables.ts:135, produces).
        Manifest-driven scan + B3 attribute-value decode, then one
        snapshot commit. ``fields`` maps attribute -> decode kind."""
        from dynamodb_zero_etl_s3tables_spark.sources.pitr_export import read_export

        decoded = read_export(
            self.spark,
            export_root,
            fields,
            export_id=export_id,
            depth=depth,
            validate_counts=validate_counts,
        )
        self._write_snapshot(decoded, operation="bootstrap-export")

    def overwrite(self, df: DataFrame) -> None:
        self._write_snapshot(df, operation="overwrite")

    def apply_changes(
        self,
        changes: DataFrame,
        order_cols: tuple[str, ...] | None = None,
        strategy: str = "copy-on-write",
    ) -> None:
        """B5-B7: merge a change-log batch into the table. Idempotent
        (A10): re-applying the same batch converges to the same state.

        Partitioned tables take the PRUNED path: only partitions the
        change batch touches are read, merged, and rewritten; untouched
        partition dirs carry forward by reference. At 100 TB this is
        the difference between rewriting the touched 1% and the whole
        table. Constraint (documented engine contract): partition
        values must be stable per key — a "partition move" must be
        expressed as REMOVE(old partition) + INSERT(new partition),
        which the DynamoDB stream model already does for key-derived
        partitions.

        ``strategy="merge-on-read"`` writes ONLY delta files (tombstone
        keys + upsert images) and defers the anti-join to read time —
        O(batch) write cost instead of O(touched data), which is what
        keeps minute-level CDC cadence affordable on a 100 TB table;
        ``compact()`` later materializes the accumulated chain.

        A copy-on-write commit reads the batch three times (the
        planner's partition-value probe, then the merge's touched keys
        and its upsert images), so it persists the batch for the
        commit and releases it afterwards, on success and on failure:
        the batch's plan runs once. A frame the caller already
        persisted is read as is and stays persisted. Each rewritten
        partition is written as one file (:meth:`_clustered`).
        """
        if strategy not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown merge strategy {strategy!r}")
        if order_cols is None and getattr(self, "_order_columns_unknown", False):
            raise ValueError(
                f"table {self.spec.qualified_name!r} was reopened from a "
                "pre-spec manifest that did not record order_columns; "
                "pass order_cols explicitly to merge (reads are unaffected)"
            )
        order = order_cols or self.spec.order_columns
        # generated columns must exist on the change images BEFORE the
        # merge union (CoW) / delta write (MoR) — a batch that omits
        # them would otherwise schema-mismatch against stored rows.
        # SQL expressions are null-tolerant, so REMOVE tombstones that
        # carry null attributes compute to null and are dropped at
        # read/merge time anyway.
        changes = self._fill_generated(changes)
        if strategy == "merge-on-read":
            self._apply_changes_mor(changes, order)
            return
        # anchor: capture the manifest version the plan derives from
        # and PIN the base read to that snapshot, so an interleaving
        # commit fails the CAS instead of being silently clobbered
        m0 = self._read_manifest()
        snap = m0.current
        if snap is None:
            raise FileNotFoundError(
                f"table {self.spec.qualified_name} has no snapshots"
            )
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        pcols = tuple(self.spec.partition_columns)
        owned = changes.storageLevel == StorageLevel.NONE
        if owned:
            changes = changes.persist()
        try:
            plan = (
                self._plan(snap, schema, touched=changes, layout=pcols)
                if pcols
                else None
            )
            self._cow_commit(
                m0, plan, schema,
                lambda base: merge_changes(
                    base, changes, keys=self.spec.key_columns, order_cols=order
                ),
                "merge",
            )
        finally:
            if owned:
                changes.unpersist()

    def merge_into(
        self,
        source: DataFrame,
        on: list | None = None,
        matched: list = (),
        insert_values: dict | None = None,
        insert_cond=None,
        merge_schema: bool = False,
        not_matched_by_source: list = (),
    ) -> None:
        """General conditional merge commit — the ``MERGE INTO`` verb
        (Delta/Iceberg SQL surface) over this table: ordered
        WHEN MATCHED [AND cond] THEN UPDATE/DELETE clauses plus an
        optional WHEN NOT MATCHED THEN INSERT, plus ordered
        WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE clauses (the
        third Delta clause family, over target rows the source does
        not mention), applied in one copy-on-write snapshot. ``on``
        defaults to the table's key columns joined to same-named
        source columns. ``merge_schema=True`` enables Delta-style
        automatic schema evolution (additive columns + Iceberg
        widenings; the manifest schema evolves with the commit via
        the shared B4 gate). The merged table is a full rewrite,
        clustered by partition (:meth:`_clustered`) so each partition
        is written as one file.
        Semantics and scale notes: :func:`..merge.merge_into`."""
        from dynamodb_zero_etl_s3tables_spark.table.merge import merge_into

        pairs = on or [(k, k) for k in self.spec.key_columns]
        m0 = self._read_manifest()  # anchor (see apply_changes)
        target = (
            self.read()
            if m0.current is None
            else self.read(version=m0.current.version)
        )
        merged = merge_into(
            target, source, pairs, matched, insert_values, insert_cond,
            merge_schema=merge_schema,
            not_matched_by_source=not_matched_by_source,
        )
        self._write_snapshot(
            self._clustered(merged),
            operation="merge-into",
            expected_version=m0.version,
        )

    def _apply_changes_mor(
        self, changes: DataFrame, order_cols: tuple[str, ...]
    ) -> None:
        """Merge-on-read commit: write the batch's tombstone keys and
        upsert images as delta files referencing the current version.
        No table data is read or rewritten — the write cost is the
        batch size alone. Same LWW/in-batch-dedup/evolution semantics
        as the copy-on-write path (shared helpers), proven equivalent
        in tests."""
        from pyspark.sql import functions as F

        from dynamodb_zero_etl_s3tables_spark.metrics import (
            CommitMetrics,
            observe_rows,
        )
        from dynamodb_zero_etl_s3tables_spark.table.merge import (
            OP_COL,
            OP_REMOVE,
            latest_per_key,
            validated_op_col,
        )

        t0 = time.perf_counter()
        m = self._read_manifest()
        snap = m.current
        if snap is None:
            raise FileNotFoundError(
                f"merge-on-read needs a bootstrapped table: "
                f"{self.spec.qualified_name} has no snapshots"
            )
        self._fence_staged(m)
        expected = m.version
        cur_schema = T.StructType.fromJson(json.loads(snap.schema_json))
        keys = list(self.spec.key_columns)
        # the deduped batch feeds TWO writes (inserts + tombstones);
        # cache the batch-sized frame so the LWW window runs once.
        # Same op validation as merge_changes: a junk op here would
        # write a phantom upsert image (worse: into a delta layer that
        # only compact() ever rewrites)
        changes = changes.withColumn(OP_COL, validated_op_col())
        last = latest_per_key(changes, keys, order_cols).cache()
        drop = {OP_COL} | {
            c for c in order_cols if c not in {f.name for f in cur_schema.fields}
        }
        image_cols = [c for c in last.columns if c not in drop]
        inserts = last.filter(F.col(OP_COL) != OP_REMOVE).select(*image_cols)
        evolved = _evolve_schema(cur_schema, inserts.schema)  # B4 gate
        inserts = inserts.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in evolved.fields]
        )
        delta_root = self.root / "data" / f"v{expected + 1}-{uuid.uuid4().hex[:8]}"
        inserts, obs = observe_rows(inserts, name="merge-mor")
        ev_type = {f.name: f.dataType for f in evolved.fields}
        try:
            # the two delta writes are independent jobs over the SAME
            # cached frame writing DISJOINT dirs — overlap them so the
            # second job's tasks back-fill the first's tail instead of
            # paying two full job-launch constants (guide §2.6; r11).
            # Tombstone keys are cast to the EVOLVED key types,
            # matching the inserts cast — a narrow incoming key type
            # must not leak a narrower physical type into the deletes
            # files than the key_schema readers bind. Each task runs
            # under a copy of the caller's local properties (job group,
            # description, scheduler pool), so its job is the caller's.
            # Cold-cache caveat: ``last`` is not materialized before the
            # two jobs start, so both build it concurrently and its
            # plan runs twice. Written one after the other, the same
            # commit launches 4 jobs instead of 5 but takes the same
            # wall time, so the overlap stays.
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            def _write_inserts():
                inserts.write.mode("overwrite").parquet(
                    str(delta_root / "inserts")
                )

            def _write_deletes():
                last.select(
                    *[F.col(k).cast(ev_type[k]).alias(k) for k in keys]
                ).write.mode("overwrite").parquet(str(delta_root / "deletes"))

            with ThreadPoolExecutor(max_workers=2) as pool:
                fi = pool.submit(inheritable_thread_target(self.spark)(_write_inserts))
                fd = pool.submit(inheritable_thread_target(self.spark)(_write_deletes))
                fi.result()
                fd.result()
        finally:
            last.unpersist()
        n = int(obs.get["row_count"])
        m.snapshots.append(
            Snapshot(
                version=expected + 1,
                data_dir=str(delta_root),
                committed_at=time.time(),
                row_count=n,
                schema_json=json.dumps(
                    T.StructType(list(evolved.fields)).jsonValue()
                ),
                operation="merge-mor",
                base_version=expected,
                delta={
                    "deletes": str(delta_root / "deletes"),
                    "inserts": str(delta_root / "inserts"),
                },
            )
        )
        self._write_manifest(m, expected_version=expected)
        self.last_commit_metrics = CommitMetrics(
            operation="merge-mor",
            row_count=n,
            elapsed_sec=time.perf_counter() - t0,
        )

    @staticmethod
    def _predicate_from_filters(filters: list[tuple[str, str, Any]]):
        """Conjunctive Column predicate from scan-op filter triples
        (validated against ``_PRUNE_OPS``)."""
        from pyspark.sql import functions as F

        for col, op, _ in filters:
            if op not in _PRUNE_OPS:
                raise ValueError(
                    f"unsupported scan op {op!r} (use one of {_PRUNE_OPS})"
                )
        pred = None
        for col, op, val in filters:
            c = F.col(col)
            cond = {
                "=": c == val, "<": c < val, "<=": c <= val,
                ">": c > val, ">=": c >= val,
            }[op]
            pred = cond if pred is None else (pred & cond)
        return pred

    @staticmethod
    def _combine_predicate(filters, residual_sql):
        """Full row predicate: the prunable-triple conjunction AND an
        optional residual SQL expression (arbitrary row-scope grammar
        — OR / IN / BETWEEN / LIKE / functions). Pruning decisions
        elsewhere use ONLY the triples, which is sound: the residual
        is an extra AND-conjunct, so it can only shrink the match
        set a triple-based prune already over-approximates."""
        from pyspark.sql import functions as F

        pred = ManagedTable._predicate_from_filters(filters) if filters else None
        if residual_sql is not None:
            res = F.expr(residual_sql)
            pred = res if pred is None else (pred & res)
        if pred is None:
            raise ValueError(
                "predicate DML needs at least one filter triple or a "
                "residual expression (refusing an implicit full-table hit)"
            )
        return pred

    def _dml_mor_commit(
        self,
        m: Manifest,
        matched: DataFrame,
        assignments: dict[str, str] | None,
    ) -> dict[str, Any]:
        """The merge-on-read tail shared by the DML verbs: commit the
        ``matched`` rows' keys as tombstones plus, for an UPDATE, their
        ``assignments``-updated images as one delta layer. NO table
        data is read back or rewritten beyond the predicate scan that
        produced ``matched``. Same layer format as
        ``_apply_changes_mor`` (read path: base ⟕̸ deletes ∪ inserts),
        so readers, time travel, ``compact()`` folding, and vacuum's
        ancestor-closure retention all apply unchanged. Anchored at
        ``m``'s version, like the copy-on-write tail."""
        from dynamodb_zero_etl_s3tables_spark.metrics import (
            CommitMetrics,
            observe_rows,
        )

        t0 = time.perf_counter()
        operation = "delete-mor" if assignments is None else "update-mor"
        keys = list(self.spec.key_columns)
        schema = T.StructType.fromJson(json.loads(m.current.schema_json))
        if assignments is None:
            inserts = self.spark.createDataFrame([], schema)
        else:
            matched = inserts = self._assign(matched, assignments, schema).cache()
        try:
            cur = self._read_manifest()
            self._fence_staged(cur)
            if cur.version != m.version:
                raise CommitConflictError(
                    f"concurrent commit: manifest advanced to v{cur.version} "
                    f"after this {operation!r} predicate scan was anchored "
                    f"at v{m.version}"
                )
            expected = cur.version
            delta_root = self.root / "data" / f"v{expected + 1}-{uuid.uuid4().hex[:8]}"
            deletes_keys, obs = observe_rows(matched.select(*keys), name=operation)
            deletes_keys.write.mode("overwrite").parquet(str(delta_root / "deletes"))
            inserts.write.mode("overwrite").parquet(str(delta_root / "inserts"))
        finally:
            inserts.unpersist()
        n = int(obs.get["row_count"])
        cur.snapshots.append(
            Snapshot(
                version=expected + 1,
                data_dir=str(delta_root),
                committed_at=time.time(),
                row_count=n,
                schema_json=cur.current.schema_json,
                operation=operation,
                base_version=expected,
                delta={
                    "deletes": str(delta_root / "deletes"),
                    "inserts": str(delta_root / "inserts"),
                },
            )
        )
        self._write_manifest(cur, expected_version=expected)
        self.last_commit_metrics = CommitMetrics(
            operation=operation,
            row_count=n,
            elapsed_sec=time.perf_counter() - t0,
        )
        return {
            "keys_deleted" if assignments is None else "rows_updated": n,
            "partitions_rewritten": 0,
            "partitions_carried": None,
        }

    @staticmethod
    def _assign(
        df: DataFrame,
        assignments: dict[str, str],
        schema: T.StructType,
        hit=None,
    ) -> DataFrame:
        """Apply UPDATE ``assignments`` (column -> SQL expression in the
        row's scope, cast to the column type) to the rows where ``hit``
        is TRUE, or to every row when ``hit`` is None; returns the
        table's columns in schema order."""
        from pyspark.sql import functions as F

        types = {f.name: f.dataType for f in schema.fields}
        for col, expr in assignments.items():
            new = F.expr(expr).cast(types[col])
            df = df.withColumn(
                col, new if hit is None else F.when(hit, new).otherwise(F.col(col))
            )
        return df.select(*[f.name for f in schema.fields])

    def _check_dml(
        self, verb: str, strategy: str, assignments: dict[str, str] | None
    ) -> None:
        """Refusals shared by the four DML verbs (``verb`` names the
        public one in the error text)."""
        if strategy not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown {verb.split('_')[0]} strategy {strategy!r}")
        if assignments is None:
            return
        bad_keys = set(assignments) & set(self.spec.key_columns)
        if bad_keys:
            # the table is a keyed DynamoDB replica and DynamoDB key
            # attributes are immutable (UpdateItem cannot modify them);
            # under merge-on-read a key assignment would also tombstone
            # the NEW key while the old row stays alive — silent
            # duplication. Express a key move as DELETE + INSERT.
            raise ValueError(
                f"{verb} cannot assign key columns {sorted(bad_keys)} "
                "— keys are immutable (DynamoDB replica semantics); "
                "express a key change as DELETE old + INSERT new"
            )
        bad = set(assignments) & set(self.spec.partition_columns)
        if bad and strategy == "copy-on-write":
            # a row changing partitions under a pruned rewrite would
            # need the all-partition path (MoR delta layers have no
            # partition-dir layout, so the reshaping update is legal)
            raise ValueError(f"{verb} cannot assign partition columns {sorted(bad)}")

    def _head(self) -> tuple[Manifest, Snapshot, T.StructType]:
        """The manifest anchor a verb plans from: (manifest, current
        snapshot, its schema)."""
        m = self._read_manifest()
        snap = m.current
        if snap is None:
            raise FileNotFoundError(
                f"table {self.spec.qualified_name} has no snapshots"
            )
        return m, snap, T.StructType.fromJson(json.loads(snap.schema_json))

    def delete_where(
        self,
        filters: list[tuple[str, str, Any]],
        strategy: str = "copy-on-write",
        residual_sql: str | None = None,
    ) -> dict[str, Any]:
        """Predicate DELETE (Iceberg ``DELETE FROM ... WHERE`` /
        Delta DELETE analog) with copy-on-write FILE PRUNING: the
        partition planner (:meth:`_plan`) tests each partition entry's
        manifest values against the conjunctive predicate; entries
        that provably cannot match are CARRIED into the new snapshot
        as metadata references — only possibly-matching partitions are
        read and rewritten without their TRUE rows. ANSI semantics: a
        row whose predicate evaluates NULL is kept (DELETE removes
        only TRUE rows). Unpartitioned tables do a full CoW rewrite
        (the single-dir snapshot layout has no per-file carry;
        partition your deletion axis if deletes are hot) — or pass
        ``strategy="merge-on-read"``: the matching KEYS are committed
        as a tombstone delta layer (same layer format as MoR merges),
        cost = one predicate scan + O(matches) write, ZERO rewrite —
        the Iceberg position/equality-delete analog for hot deletes
        on unpartitioned or wide-predicate tables. ``compact()``
        folds the layers later, off the write path.

        At 100 TB this is the difference between rewriting the table
        and rewriting the ~1 partition a retention predicate touches
        (CoW), or writing only the matched keys (MoR); history/time
        travel keep working because the old snapshot still references
        every old file. Ops are the scan set (``= < <= > >=``),
        conjunctive; ``residual_sql`` carries any richer row-scope
        predicate (OR / IN / BETWEEN / functions) as an extra
        AND-conjunct — the planner prunes on the triples alone (sound
        over-approximation), so a residual-only call is a full-scan
        rewrite, and a mixed call keeps the carry for partitions the
        triples rule out."""
        return self._where_commit(filters, None, strategy, residual_sql)

    def update_where(
        self,
        filters: list[tuple[str, str, Any]],
        assignments: dict[str, str],
        strategy: str = "copy-on-write",
        residual_sql: str | None = None,
    ) -> dict[str, Any]:
        """Predicate UPDATE (Delta ``UPDATE ... WHERE`` / Iceberg
        row-level update analog), planned like delete_where (the same
        partition planner carries the entries the triples rule out);
        touched partitions are rewritten with ``assignments`` (column
        -> SQL expression, evaluated in the row's scope) applied ONLY
        to rows whose predicate is TRUE (NULL/FALSE rows pass through
        untouched — ANSI). Assignments to partition columns are
        rejected under copy-on-write: a row changing partitions under
        a pruned rewrite would need the all-partition path (use
        apply_changes for reshaping writes).

        ``strategy="merge-on-read"`` commits the matched rows' keys
        as tombstones plus their UPDATED images as a delta layer —
        one predicate scan + O(matches) write, zero rewrite (the MoR
        read path replaces the old images), with ``compact()``
        folding layers off the write path.

        At 100 TB: a backfill/correction touching one partition's
        predicate range rewrites that partition only (CoW) or writes
        only the matched rows (MoR) — the update expression runs
        inside the write job, codegen'd, no extra pass."""
        return self._where_commit(filters, assignments, strategy, residual_sql)

    def _where_commit(
        self,
        filters: list[tuple[str, str, Any]],
        assignments: dict[str, str] | None,
        strategy: str,
        residual_sql: str | None,
    ) -> dict[str, Any]:
        """Shared engine of :meth:`delete_where` / :meth:`update_where`."""
        from pyspark.sql import functions as F

        operation = "delete" if assignments is None else "update"
        self._check_dml(f"{operation}_where", strategy, assignments)
        filters = list(filters)
        hit = F.coalesce(self._combine_predicate(filters, residual_sql), F.lit(False))
        m, snap, schema = self._head()
        if strategy == "merge-on-read":
            matched = self.read(version=snap.version).filter(hit)  # pinned
            return self._dml_mor_commit(m, matched, assignments)

        def rewrite(df: DataFrame) -> DataFrame:
            if assignments is None:
                return df.filter(~hit)
            return self._assign(df, assignments, schema, hit)

        plan = self._plan(snap, schema, filters=filters)
        return self._cow_commit(m, plan, schema, rewrite, operation)

    def _matching_commit(
        self,
        keys: DataFrame,
        assignments: dict[str, str] | None,
        strategy: str,
        trust_riding_partition_values: bool = False,
    ) -> dict[str, Any]:
        """Shared engine of :meth:`delete_matching` /
        :meth:`update_matching`: the keyed half of subquery DML. The
        caller has already evaluated an arbitrary predicate (IN /
        NOT IN / EXISTS subqueries — Catalyst plans them as semi/anti
        joins) down to a key-set DataFrame; this commits the rewrite.

        Copy-on-write pruning here is DATA-driven, not triple-driven:
        the partition planner (:meth:`_plan`) collects the partition
        values of the rows the key set hits — one narrow scan (keys +
        partition columns only — Catalyst prunes the rest) joined to
        the key set — and each entry matches on its own value keys;
        untouched entries are CARRIED as metadata references exactly
        as delete_where does, so a cleanup that hits 1 of 500
        partitions rewrites 1. The collected set is bounded by
        live-partition count (metadata scale). Merge-on-read commits
        tombstones (+ updated images) in O(matches) with zero rewrite
        — the 100 TB shape for hot subquery deletes."""
        from pyspark.sql import functions as F

        operation = "delete" if assignments is None else "update"
        self._check_dml(f"{operation}_matching", strategy, assignments)
        kcols = list(self.spec.key_columns)
        missing = [k for k in kcols if k not in keys.columns]
        if missing:
            raise ValueError(
                f"{operation}_matching needs the table's key columns "
                f"{kcols} in the key set; missing {missing}"
            )
        m, snap, schema = self._head()
        # Partition-value columns RIDING the key set (the SQL door
        # selects them alongside the keys from the same WHERE scan —
        # guide §1.2/§2.4: the prune info comes out of the pass that
        # already runs, so the pruned-CoW branch below never re-scans
        # the table just to learn which partitions the keys live in).
        # Keys are unique per row, so keeping the matched row's
        # partition values through the key dedup is exact.
        #
        # GATED on trust_riding_partition_values (r11, ADVICE r10): the
        # fast path is only sound when the riding values come from the
        # MATCHED ROWS THEMSELVES — true for the SQL door, which
        # constructs the frame from the table's own WHERE scan, but
        # unverifiable for an arbitrary caller-supplied frame (a
        # wrong-valued column named like a partition column would
        # silently prune partitions that hold matching rows). The
        # public delete_matching/update_matching therefore project
        # extra columns away (their documented contract) and take the
        # semi-join prune; only the trusted internal route rides.
        ride = [
            c
            for c in keys.columns
            if c not in kcols and c in self.spec.partition_columns
        ] if trust_riding_partition_values else []
        # Project only; per-key dedup happens AT EACH CONSUMER (r10):
        # a dropDuplicates(kcols) here would drag the riding string
        # partition values through a first()-style aggregation buffer,
        # which is not hash-aggregatable — Spark plans SortAggregate +
        # two Sorts for it. Instead the rewrite joins (the only
        # consumers that duplicate rows on duplicate keys) dedup the
        # key columns alone (HashAggregate), semi joins need no dedup
        # at all, and the planner distincts the partition values
        # directly (duplicates collapse there anyway).
        keys = keys.select(*kcols, *ride)

        if strategy == "merge-on-read":
            base = self.read(version=snap.version)  # pinned anchor
            matched = base.join(keys, kcols, "left_semi")
            return self._dml_mor_commit(m, matched, assignments)

        def rewrite(df: DataFrame) -> DataFrame:
            # dedupe: several subquery matches per key must not
            # double-join (kcols-only frame -> hash-aggregate distinct)
            kset = keys.select(*kcols).dropDuplicates(kcols)
            if assignments is None:
                return df.join(kset, kcols, "left_anti")
            j = df.join(kset.withColumn("__hit", F.lit(True)), kcols, "left_outer")
            hit = F.coalesce(F.col("__hit"), F.lit(False))
            return self._assign(j, assignments, schema, hit)

        if snap.partitions is None:
            return self._cow_commit(m, None, schema, rewrite, operation)
        # The key set feeds TWO consumers (the planner's probe and the
        # rewrite join) — cache it so the subquery plan that produced
        # it evaluates once, not twice (spills to disk if the match
        # set is large; released before returning).
        keys = keys.cache()
        try:
            laid = {pc for e in snap.partitions for pc in e["values"]}
            # riding values (SQL-door fast path) make the probe a
            # distinct over the CACHED key frame — no second
            # full-table scan; otherwise semi-join the table
            probe = (
                keys
                if laid <= set(keys.columns)
                else self.read(version=snap.version).join(
                    keys.select(*kcols), kcols, "left_semi"
                )
            )
            plan = self._plan(snap, schema, touched=probe)
            return self._cow_commit(m, plan, schema, rewrite, operation)
        finally:
            keys.unpersist()

    def delete_matching(
        self,
        keys: DataFrame,
        strategy: str = "copy-on-write",
        trust_riding_partition_values: bool = False,
    ) -> dict[str, Any]:
        """Keyed DELETE from a computed key set — the commit half of
        ``DELETE FROM t WHERE k IN (SELECT ...)`` (the Athena cleanup
        shape over the replicated table, reference README.md:170-174):
        the SQL door evaluates the subquery predicate through Catalyst
        (planned as a semi/anti join, D14/D15 machinery) and hands the
        matching keys here. ``keys`` must carry the table's key
        columns; extra columns are projected away, duplicates deduped.
        Copy-on-write rewrites only partitions that hold a matching
        key (data-driven carry); ``strategy="merge-on-read"`` commits
        tombstones in O(matches) with zero rewrite.

        ``trust_riding_partition_values=True`` skips the semi-join
        partition probe and prunes from partition-named columns riding
        ``keys`` instead. ONLY pass it when those values come from the
        matched rows of THIS table's current snapshot (the SQL door's
        WHERE scan does; see :meth:`_matching_commit`) — wrong-valued
        riding columns would silently skip partitions that hold
        matching rows. Left False, partition-named extras are
        projected away like any other extra column."""
        return self._matching_commit(
            keys, None, strategy,
            trust_riding_partition_values=trust_riding_partition_values,
        )

    def update_matching(
        self,
        keys: DataFrame,
        assignments: dict[str, str],
        strategy: str = "copy-on-write",
        trust_riding_partition_values: bool = False,
    ) -> dict[str, Any]:
        """Keyed UPDATE over a computed key set — the commit half of
        ``UPDATE t SET ... WHERE k IN (SELECT ...)``. ``assignments``
        are column -> SQL expression in the matched row's scope (same
        contract as :meth:`update_where`); rows whose keys are absent
        from ``keys`` pass through untouched. Pruning/strategy/
        ``trust_riding_partition_values`` notes:
        :meth:`delete_matching`."""
        return self._matching_commit(
            keys, assignments, strategy,
            trust_riding_partition_values=trust_riding_partition_values,
        )

    def create_tag(self, name: str, version: int | None = None) -> None:
        """Iceberg TAG analog: pin a retained snapshot version under a
        name. ``read(tag=...)`` resolves it; vacuum/expire keep the
        tagged snapshot (and, for MoR, its base chain via the ancestor
        closure) until :meth:`delete_tag`. O(manifest) — a ref is
        metadata. Tag metadata rides the same optimistic manifest
        swap as data commits; two writers racing PURE ref edits with
        no interleaving data commit resolve last-writer-wins, which
        matches ref semantics (the ref's final value is one of the
        two requested ones; no data is ever at risk)."""
        m = self._read_manifest()
        published = {s.version for s in m.snapshots if not s.staged}
        v = (m.current.version if m.current else 0) if version is None else version
        if v not in published:
            # staged WAP/branch snapshots are explicitly NOT taggable:
            # a tag resolves through read(tag=...) for ANY reader, so
            # tagging an unpublished version would leak staged data
            # around the WAP fence (and clone_to copies tags but only
            # published snapshots — the tag would dangle in the clone)
            raise ValueError(
                f"version {v} is not a published snapshot of "
                f"{self.spec.qualified_name} (published: {sorted(published)})"
            )
        if name in m.tags:
            raise ValueError(f"tag {name!r} already exists (at v{m.tags[name]})")
        if name in m.branches:
            # refs share one namespace (the mirror of create_branch's
            # tag-collision check): read(tag=X) vs read(branch=X)
            # resolving to different versions under one name is the
            # ambiguity Iceberg's unified ref table forbids
            raise ValueError(f"{name!r} already names a branch")
        m.tags[name] = v
        self._write_manifest(m, expected_version=m.version)

    def delete_tag(self, name: str) -> None:
        """Drop a tag; the pinned snapshot becomes reclaimable by the
        normal retention rules on the next vacuum/expire."""
        m = self._read_manifest()
        if name not in m.tags:
            raise ValueError(f"unknown tag {name!r} (tags: {sorted(m.tags)})")
        del m.tags[name]
        self._write_manifest(m, expected_version=m.version)

    def list_tags(self) -> dict[str, int]:
        return dict(self._read_manifest().tags)

    # -- branches (mutable refs: Iceberg branch + WAP fast-forward) --------

    @staticmethod
    def _branch_head(m: Manifest, name: str) -> int:
        """Resolve a branch to its head version: the newest staged
        snapshot committed on it, else the base it forked from."""
        if name not in m.branches:
            raise ValueError(
                f"unknown branch {name!r} (branches: {sorted(m.branches)})"
            )
        commits = [s.version for s in m.snapshots if s.staged and s.ref == name]
        return commits[-1] if commits else m.branches[name]

    def create_branch(self, name: str, version: int | None = None) -> None:
        """Iceberg BRANCH analog: a mutable named ref forked from a
        published snapshot. Commits land on it via
        :meth:`apply_changes_to_branch` (staged — invisible to main
        readers), audits read it via ``read(branch=...)``, and
        :meth:`fast_forward` publishes the whole chain atomically —
        multi-commit write-audit-publish, generalizing the single-
        snapshot :meth:`stage_changes`. The branch BASE version is
        retention-pinned like a tag until the branch is deleted or
        fast-forwarded. Linear-history simplification (documented
        engine contract): only one lineage may have PENDING commits at
        a time — a commit to branch B while branch A has staged
        commits conflicts, exactly like the anonymous-stage fence."""
        m = self._read_manifest()
        published = {s.version for s in m.snapshots if not s.staged}
        v = (m.current.version if m.current else 0) if version is None else version
        if v not in published:
            raise ValueError(
                f"version {v} is not a published snapshot of "
                f"{self.spec.qualified_name} (published: {sorted(published)})"
            )
        if name in m.branches:
            raise ValueError(f"branch {name!r} already exists")
        if name in m.tags:
            raise ValueError(f"{name!r} already names a tag")
        m.branches[name] = v
        self._write_manifest(m, expected_version=m.version)

    def list_branches(self) -> dict[str, int]:
        """name -> current head version (staged commits included)."""
        m = self._read_manifest()
        return {n: self._branch_head(m, n) for n in m.branches}

    def apply_changes_to_branch(
        self,
        name: str,
        changes: DataFrame,
        order_cols: tuple[str, ...] | None = None,
    ) -> int:
        """Merge a change batch onto ``name``'s head and commit it as
        a staged branch snapshot; returns the new head version. The
        merge baselines on the BRANCH head (not the published current),
        so successive batches stack — the multi-commit WAP workflow.

        Scale: each branch commit is the generic full copy-on-write
        merge plan (same note as :meth:`stage_changes`); the ref
        bookkeeping is O(manifest)."""
        m = self._read_manifest()
        head = self._branch_head(m, name)  # validates the branch too
        # Lost-update guard: once main advances past the fork point, a
        # first branch commit would baseline on stale data and a later
        # fast-forward would silently discard main's changes. Iceberg
        # requires main to be an ancestor of the fast-forwarded branch;
        # with linear history that means the branch must fork from the
        # CURRENT tip when its first commit lands (after that, the
        # staged fence keeps main frozen until publish/abort).
        if head == m.branches[name] and m.current and m.current.version != head:
            raise CommitConflictError(
                f"branch {name!r} forked at v{head} but main advanced to "
                f"v{m.current.version}; recreate the branch from the tip"
            )
        base = self.read(version=head)
        order = order_cols or self.spec.order_columns
        merged = merge_changes(
            # same _fill_generated contract as apply_changes: a batch
            # may omit generated columns (merge_changes would refuse
            # them as missing)
            base, self._fill_generated(changes),
            keys=self.spec.key_columns, order_cols=order,
        )
        self._write_snapshot(
            merged, operation=f"branch-merge:{name}", staged=True, ref=name,
            expected_version=m.version,
        )
        return self._read_manifest().snapshots[-1].version

    def fast_forward(self, name: str) -> int:
        """Publish a branch: flip every staged snapshot committed on
        it to published, in commit order, and drop the branch ref — a
        pure manifest flip (no data movement), the Iceberg
        ``fast_forward('main', branch)`` analog. Returns the new
        current version. A branch with no commits just evaporates —
        the return value is then the UNCHANGED current version, not
        the (possibly older) fork base the dead ref pointed at."""
        m = self._read_manifest()
        self._branch_head(m, name)  # existence check
        expected = m.version
        for s in m.snapshots:
            if s.staged and s.ref == name:
                s.staged = False
                s.operation = f"branch-publish:{name}"
        del m.branches[name]
        self._write_manifest(m, expected_version=expected)
        return m.current.version if m.current else 0

    def delete_branch(self, name: str) -> dict[str, int]:
        """Abort a branch: drop its staged snapshots from history
        (their data dirs become unreferenced; vacuum reclaims) and
        remove the ref. The failed-audit exit of the branch WAP."""
        m = self._read_manifest()
        self._branch_head(m, name)  # existence check
        expected = m.version
        before = len(m.snapshots)
        m.snapshots = [s for s in m.snapshots if not (s.staged and s.ref == name)]
        del m.branches[name]
        self._write_manifest(m, expected_version=expected)
        return {"commits_dropped": before - len(m.snapshots)}

    def evolve_partitioning(self, partition_columns: tuple[str, ...]) -> None:
        """Iceberg PARTITION SPEC EVOLUTION analog (public spec-v2
        behavior): change the table's partition columns as a
        METADATA-ONLY commit — no data moves. Existing entries keep
        the layout they were written under (their ``values`` keys ARE
        their spec, the per-file spec-id semantic), reads and scans
        handle mixed layouts per entry, and subsequent writes use the
        new spec. The pruned merge path LAZILY MIGRATES: an old-layout
        entry can't be pruned by the new key, so its next merge
        rewrites it under the new layout; ``compact()`` migrates the
        whole table at once. At 100 TB this is how you re-partition a
        table you cannot afford to rewrite up front."""
        from dataclasses import replace

        m = self._read_manifest()
        self._fence_staged(m)
        new_cols = tuple(partition_columns)
        snap = m.current
        if snap is not None:
            names = {
                f.name
                for f in T.StructType.fromJson(json.loads(snap.schema_json)).fields
            }
            missing = [c for c in new_cols if c not in names]
            if missing:
                raise SchemaEvolutionError(
                    f"partition columns not in table schema: {missing}"
                )
        expected = m.version
        self.spec = replace(self.spec, partition_columns=new_cols)
        m.partition_columns = list(new_cols)
        if snap is not None:
            # marker snapshot: same data pointers, evolution visible
            # in history and time travel (O(metadata) commit)
            m.snapshots.append(
                Snapshot(
                    version=expected + 1,
                    data_dir=snap.data_dir,
                    committed_at=time.time(),
                    row_count=snap.row_count,
                    schema_json=snap.schema_json,
                    operation="evolve-partitioning",
                    partitions=snap.partitions,
                    files=snap.files,
                    base_version=snap.base_version,
                    delta=snap.delta,
                    # rename mapping / drop bookkeeping travel with the
                    # carried files — omitting them would read a
                    # renamed column as NULL and re-arm the dropped-
                    # column resurrection guard
                    read_renames=snap.read_renames,
                    dropped_columns=snap.dropped_columns,
                )
            )
        self._write_manifest(m, expected_version=expected)

    def clone_to(
        self, warehouse: str, qualified_name: str | None = None
    ) -> "ManagedTable":
        """SHALLOW CLONE (the Delta ``SHALLOW CLONE`` / Iceberg
        ``register_table`` analog): materialize this table's manifest
        under another warehouse WITHOUT copying any data — the clone's
        snapshots reference the source's data directories by absolute
        path. Zero-copy dev/test/experiment tables over production
        data: commits on either side diverge independently (each
        writes under its own root), and the clone's vacuum/GC can
        never touch source files because reference-scanning and
        deletion are both scoped to a table's OWN ``data/`` dir.

        Only PUBLISHED snapshots are cloned (a pending stage/branch
        belongs to the source's in-flight lineage); tags copy (they
        pin published versions), branches do not.

        Documented caveat (same as Delta's): the SOURCE does not know
        about clones — a source-side vacuum/expire can reclaim dirs a
        clone still references. ``verify_integrity()`` on the clone
        reports such breakage (missing_paths); production use pins
        the cloned version with a source-side tag first.

        Scale: O(manifest) — cloning a 100 TB table is a metadata
        write."""
        from dataclasses import replace as _dc_replace

        m = self._read_manifest()
        published = [s for s in m.snapshots if not s.staged]
        if not published:
            raise FileNotFoundError(
                f"table {self.spec.qualified_name} has no published snapshots"
            )
        if qualified_name is None:
            ns, name = self.spec.namespace, self.spec.name
        else:
            ns, _, name = qualified_name.partition(".")
        spec2 = _dc_replace(self.spec, namespace=ns, name=name)
        clone = ManagedTable(self.spark, warehouse, spec2)
        if clone.manifest_path.exists():
            raise ValueError(
                f"table {spec2.qualified_name!r} already exists under {warehouse}"
            )
        m2 = Manifest(
            spec_namespace=ns,
            spec_name=name,
            key_columns=list(self.spec.key_columns),
            partition_columns=list(self.spec.partition_columns),
            snapshots=[Snapshot.from_dict(s.to_dict()) for s in published],
            tags=dict(m.tags),
        )
        clone._write_manifest(m2, expected_version=0)
        return clone

    @staticmethod
    def _refuse_layout_column(snap: Snapshot, col: str, verb: str) -> None:
        """Schema DDL may not touch a column that is the PARTITION
        LAYOUT KEY of any carried entry. The current spec's partition
        columns are already spec-protected; this additionally covers
        EX-partition columns after partition-spec evolution — their
        values live in old-layout entries' DIR NAMES, not in parquet,
        so a rename would silently null the column (the dir value
        re-attaches under the old name and is then projected away)
        and a drop would break every old-layout read (the value
        coercion looks the layout key up in the current schema).
        ``compact()`` migrates every entry to the current layout,
        after which the name is free."""
        layout_cols = {
            pc for e in (snap.partitions or []) for pc in e["values"].keys()
        }
        if col in layout_cols:
            raise ValueError(
                f"cannot {verb} {col!r}: it is the partition-layout "
                "column of carried entries written under a previous "
                "partition spec — compact() to migrate them to the "
                "current layout first"
            )

    def add_columns(self, columns: dict[str, str]) -> None:
        """B4 extension: ADD COLUMNS as a metadata-only commit — the
        Iceberg add-column semantic (SQL ``ALTER TABLE ... ADD
        COLUMNS``). New fields append to the schema as nullable DDL
        types; the new snapshot references the previous snapshot's
        data files UNCHANGED — an explicit-schema parquet read
        surfaces NULL for columns the files lack, so a 100 TB add
        commits in milliseconds with zero rewrite. Later writes
        materialize real values.

        Refusals: existing names; key/order/partition collisions are
        subsumed by the existence check (those always exist); and
        names still listed in the snapshot's ``dropped_columns``
        (stored FILE names — see drop_column) — a metadata-only
        re-add of a dropped name would resurrect the dropped values
        out of the carried files; ``compact()`` first to physically
        clear them. Same structural constraint as rename/drop
        (copy-on-write current; partitioned is fine — entries carry
        verbatim) — on a MoR chain the additive path is a
        data-writing merge, which evolves schema through the shared
        B4 gate already."""
        m = self._read_manifest()
        self._fence_staged(m)
        expected = m.version
        snap = m.current
        if snap is None:
            raise FileNotFoundError(
                f"table {self.spec.qualified_name} has no snapshots"
            )
        if snap.delta is not None:
            raise ValueError(
                "add_columns requires a copy-on-write current "
                "snapshot (compact() a MoR chain first)"
            )
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        names = {f.name for f in schema.fields}
        # every stored-file-name mapping in force: the snapshot-level
        # one (unpartitioned) plus each partition entry's own
        stored = dict(snap.read_renames or {})
        for e in snap.partitions or []:
            stored.update(e.get("renames") or {})
        new_fields = []
        for name, ddl in columns.items():
            if name in names:
                raise SchemaEvolutionError(f"column {name!r} already exists")
            # defense in depth: a layout key of a carried entry would
            # re-attach the DIR value under the new column (today
            # unreachable — layout keys stay in the schema while any
            # entry references them, so the existence check fires first)
            self._refuse_layout_column(snap, name, "add")
            if name in (snap.dropped_columns or ()):
                raise SchemaEvolutionError(
                    f"column {name!r} was dropped but its values are still "
                    "physically present in carried data files — a "
                    "metadata-only re-add would resurrect them; compact() "
                    "before re-adding the name"
                )
            if name in stored:
                # the FILE side still stores a column under this name
                # (renamed away, mapping pending): adding it back would
                # make the file schema emit two fields with the same
                # file name and break every subsequent read
                raise SchemaEvolutionError(
                    f"column {name!r} is the stored file name of renamed "
                    f"column {stored[name]!r} in carried data "
                    "files — compact() to materialize the rename before "
                    "re-adding the name"
                )
            try:
                dt = T.DataType.fromDDL(ddl)
            except Exception as exc:
                raise ValueError(f"bad type {ddl!r} for column {name!r}: {exc}")
            new_fields.append(T.StructField(name, dt, True))
        m.snapshots.append(
            Snapshot(
                version=expected + 1,
                data_dir=snap.data_dir,
                committed_at=time.time(),
                row_count=snap.row_count,
                schema_json=json.dumps(
                    T.StructType(list(schema.fields) + new_fields).jsonValue()
                ),
                operation="add-columns:" + ",".join(columns),
                partitions=snap.partitions,  # carried (entry renames ride)
                files=snap.files,  # carried; new columns have no stats
                read_renames=snap.read_renames,
                dropped_columns=snap.dropped_columns,
            )
        )
        self._write_manifest(m, expected_version=expected)

    def rename_column(self, old: str, new: str) -> None:
        """B4 extension: COLUMN RENAME as a metadata-only commit — the
        Iceberg field-ID rename semantic (rename without rewrite)
        realized through a per-snapshot name mapping. The new snapshot
        references the previous snapshot's data files UNCHANGED;
        ``read_renames`` records file-name -> current-name so reads
        load files under their stored names and rename on the fly
        (an explicit-schema parquet read binds by name — without the
        mapping a renamed column would silently read as NULL). Later
        merges/compactions write files under the new name and carry no
        mapping; renames compose (a->b->c keeps one file->current
        entry). Time travel to pre-rename versions shows the old name,
        exactly like Iceberg.

        PARTITIONED snapshots (r9) carry the mapping PER ENTRY
        (``entry["renames"]`` — the per-file spec-id generalization):
        a later pruned merge rewrites touched partitions under the
        new name (fresh entries, no mapping) while carrying untouched
        entries with their mapping intact, so one snapshot legally
        mixes old-named and new-named files and every read resolves
        per entry. Per-entry file stats/blooms are re-keyed the same
        way. ``compact()`` materializes everything under current
        names and clears all mappings.

        Documented constraints: the current snapshot must be
        copy-on-write (a MoR delta chain would need per-layer
        mappings — ``compact()`` first), and key/order/partition
        columns cannot be renamed (the spec that merges bind to is
        persisted and stable).

        Scale: O(manifest). On a 100 TB table this commits in
        milliseconds while a rewrite-based rename would be a full
        table pass; per-file min/max stats are re-keyed in the
        manifest so scan pruning keeps working under the new name."""
        m = self._read_manifest()
        self._fence_staged(m)
        expected = m.version
        snap = m.current
        if snap is None:
            raise FileNotFoundError(
                f"table {self.spec.qualified_name} has no snapshots"
            )
        if snap.delta is not None:
            raise ValueError(
                "rename_column requires a copy-on-write current "
                "snapshot (compact() a MoR chain first)"
            )
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"unknown column {old!r} (columns: {names})")
        if new in names:
            raise SchemaEvolutionError(
                f"cannot rename {old!r}: column {new!r} already exists"
            )
        protected = set(self.spec.key_columns) | set(
            self.spec.order_columns or ()
        ) | set(self.spec.partition_columns)
        if old in protected:
            raise ValueError(
                f"cannot rename {old!r}: key/order/partition columns are "
                "bound by the persisted table spec"
            )
        self._refuse_layout_column(snap, old, "rename")
        new_schema = T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable, f.metadata)
                if f.name == old
                else f
                for f in schema.fields
            ]
        )
        partitions = None
        renames = snap.read_renames
        if snap.partitions is not None:
            # per-entry mappings: each entry's files may store the
            # column under a different name (fresh entries written
            # after an earlier rename vs carried pre-rename entries),
            # so the mapping composes and the stats re-key apply PER
            # ENTRY; the snapshot-level read_renames stays unused on
            # the partitioned path
            partitions = []
            for e in snap.partitions:
                e2 = dict(e)
                ren = _compose_rename(e.get("renames"), old, new)
                if ren:
                    e2["renames"] = ren
                else:
                    e2.pop("renames", None)
                if e.get("files") is not None:
                    # per-file stats/blooms are keyed by CURRENT names
                    # (re-keyed on every rename), so old -> new here
                    e2["files"] = [
                        _rekey_file_stats(f, old, new) for f in e["files"]
                    ]
                partitions.append(e2)
        else:
            renames = _compose_rename(snap.read_renames, old, new) or None
        files = None
        if snap.files is not None:
            # bloom filters are keyed per column name too — without
            # the re-key, equality pruning on the new name silently
            # stops using the blooms
            files = [_rekey_file_stats(e, old, new) for e in snap.files]
        m.snapshots.append(
            Snapshot(
                version=expected + 1,
                data_dir=snap.data_dir,
                committed_at=time.time(),
                row_count=snap.row_count,
                schema_json=json.dumps(new_schema.jsonValue()),
                operation=f"rename-column:{old}->{new}",
                partitions=partitions,
                files=files,
                read_renames=renames,
                dropped_columns=snap.dropped_columns,
            )
        )
        self._write_manifest(m, expected_version=expected)

    def drop_column(self, name: str) -> None:
        """B4 extension: DROP COLUMN as a metadata-only commit
        (Iceberg drop-column semantic): the new snapshot references
        the previous snapshot's data files UNCHANGED with the column
        removed from the schema — explicit-schema reads simply never
        load it (parquet column pruning), so a 100 TB drop commits in
        milliseconds. Time travel to pre-drop versions still shows the
        column. Same structural constraints as rename_column
        (copy-on-write current — partitioned is fine, per-entry
        bookkeeping travels with the entries; key/order/partition
        columns are spec-bound), plus: a column referenced by a
        generated-column expression cannot be dropped.

        ``dropped_columns`` records the STORED FILE name(s) of the
        dropped column (one per entry layout on partitioned tables),
        not its current name: the resurrect guard in
        :meth:`add_columns` must block re-exposing the name the
        carried FILES bind by — after ``rename a->b; drop b`` the
        files still store ``a``, so a metadata-only add of ``a``
        would resurrect the dropped values while re-adding ``b`` is
        perfectly safe (no file stores ``b``... except entries
        written between the rename and the drop, whose file name IS
        ``b`` — the per-entry union covers exactly that).

        Name-based caveat (documented): re-adding a same-named column
        later via additive evolution starts from NULLs only for rows
        written AFTER the re-add commit's rewrite — copy-on-write
        merges rewrite data so historical values cannot resurrect,
        but a metadata-only path re-exposing old files under the old
        name would; this engine never takes that path (evolution adds
        columns only through a data-writing commit)."""
        m = self._read_manifest()
        self._fence_staged(m)
        expected = m.version
        snap = m.current
        if snap is None:
            raise FileNotFoundError(
                f"table {self.spec.qualified_name} has no snapshots"
            )
        if snap.delta is not None:
            raise ValueError(
                "drop_column requires a copy-on-write current "
                "snapshot (compact() a MoR chain first)"
            )
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"unknown column {name!r} (columns: {names})")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        protected = set(self.spec.key_columns) | set(
            self.spec.order_columns or ()
        ) | set(self.spec.partition_columns)
        if name in protected:
            raise ValueError(
                f"cannot drop {name!r}: key/order/partition columns are "
                "bound by the persisted table spec"
            )
        self._refuse_layout_column(snap, name, "drop")
        for gname, gexpr in self.spec.generated_columns:
            if gname.lower() == name.lower() or _expr_references(gexpr, name):
                raise ValueError(
                    f"cannot drop {name!r}: referenced by generated "
                    f"column {gname!r} ({gexpr!r})"
                )
        for cexpr in self.spec.check_constraints:
            if _expr_references(cexpr, name):
                raise ValueError(
                    f"cannot drop {name!r}: referenced by check "
                    f"constraint ({cexpr!r}); constraints are persisted "
                    "in the table spec and every later write would fail "
                    "to resolve the column"
                )
        new_schema = T.StructType([f for f in schema.fields if f.name != name])

        def _strip_stats(e: dict[str, Any]) -> dict[str, Any]:
            out = {
                **e,
                "stats": {
                    k: v for k, v in (e.get("stats") or {}).items() if k != name
                },
            }
            if e.get("bloom"):
                out["bloom"] = {
                    k: v for k, v in e["bloom"].items() if k != name
                }
            return out

        dropped_file_names: set[str] = set()
        partitions = None
        renames = snap.read_renames
        if snap.partitions is not None:
            partitions = []
            for e in snap.partitions:
                e2 = dict(e)
                ren, fc = _pop_rename(e.get("renames"), name)
                dropped_file_names.add(fc)
                if ren:
                    e2["renames"] = ren
                else:
                    e2.pop("renames", None)
                if e.get("files") is not None:
                    e2["files"] = [_strip_stats(f) for f in e["files"]]
                partitions.append(e2)
        else:
            ren, fc = _pop_rename(snap.read_renames, name)
            dropped_file_names.add(fc)
            renames = ren or None
        files = None
        if snap.files is not None:
            files = [_strip_stats(e) for e in snap.files]
        m.snapshots.append(
            Snapshot(
                version=expected + 1,
                data_dir=snap.data_dir,
                committed_at=time.time(),
                row_count=snap.row_count,
                schema_json=json.dumps(new_schema.jsonValue()),
                operation=f"drop-column:{name}",
                partitions=partitions,
                files=files,
                read_renames=renames,
                dropped_columns=sorted(
                    set(snap.dropped_columns or ()) | dropped_file_names
                ),
            )
        )
        self._write_manifest(m, expected_version=expected)

    def rollback_to(self, version: int) -> None:
        """Roll the table back by committing a NEW snapshot that
        points at ``version``'s (immutable) data — history is
        preserved, the bad snapshots stay inspectable, and vacuum
        reclaims them later. O(metadata): no data moves. The Iceberg
        rollback semantic over this engine's manifest."""
        m = self._read_manifest()
        self._fence_staged(m)
        by_v = {s.version: s for s in m.snapshots}
        if version not in by_v:
            raise ValueError(
                f"version {version} not in retained history "
                f"{sorted(by_v)} of {self.spec.qualified_name}"
            )
        src = by_v[version]
        expected = m.version
        m.snapshots.append(
            Snapshot(
                version=expected + 1,
                data_dir=src.data_dir,
                committed_at=time.time(),
                row_count=src.row_count,
                schema_json=src.schema_json,
                operation="rollback",
                partitions=src.partitions,
                files=src.files,
                base_version=src.base_version,
                delta=src.delta,
                # a rename-mapped source keeps its file-name mapping —
                # without this, rolling back to a renamed snapshot
                # would silently read the renamed column as NULL —
                # and the dropped-column bookkeeping, which guards
                # the metadata-only re-add resurrection path
                read_renames=src.read_renames,
                dropped_columns=src.dropped_columns,
            )
        )
        self._write_manifest(m, expected_version=expected)

    # -- write-audit-publish (WAP) -----------------------------------------

    def stage_changes(
        self, changes: DataFrame, order_cols: tuple[str, ...] | None = None
    ) -> int:
        """WAP step 1: merge a change batch and commit it STAGED —
        fully written and version-fenced, but invisible to read()/
        scan() until :meth:`publish`. The audit step reads the staged
        snapshot via ``read(version=returned_version)``, validates,
        then publishes (metadata flip, no data movement) or aborts
        (snapshot dropped from history; files reclaimed by vacuum).
        This is the Iceberg write-audit-publish workflow (public
        pattern: commit to a staging branch, validate, fast-forward)
        expressed over this engine's manifest. One staged snapshot at
        a time: a second stage before publish/abort conflicts, same
        as two writers racing a branch head.

        Scale: the staged merge is the generic full copy-on-write
        plan (on partitioned tables it rewrites every partition,
        unlike apply_changes' pruned path — a pruned staged variant
        would carry untouched partition dirs exactly as
        apply_changes' planner does); audit reads only the staged
        snapshot; publish and abort are O(manifest)."""
        m = self._read_manifest()
        self._fence_staged(m)  # early exit before the merge is computed
        order = order_cols or self.spec.order_columns
        base = (
            self.read()
            if m.current is None
            else self.read(version=m.current.version)  # pinned anchor
        )
        merged = merge_changes(
            # same _fill_generated contract as apply_changes: a batch
            # may omit generated columns (merge_changes would refuse
            # them as missing)
            base, self._fill_generated(changes),
            keys=self.spec.key_columns, order_cols=order,
        )
        self._write_snapshot(
            merged, operation="wap-stage", staged=True,
            expected_version=m.version,
        )
        return self._read_manifest().snapshots[-1].version

    def publish(self, version: int) -> None:
        """WAP step 3a: make the staged snapshot current — a pure
        manifest flip (audited files become the table atomically)."""
        m = self._read_manifest()
        expected = m.version
        last = m.snapshots[-1] if m.snapshots else None
        if last is None or last.version != version or not last.staged:
            raise CommitConflictError(
                f"no staged snapshot at v{version} to publish "
                f"(manifest at v{expected})"
            )
        last.staged = False
        last.operation = "wap-publish"
        self._write_manifest(m, expected_version=expected)

    def abort_staged(self, version: int) -> None:
        """WAP step 3b: drop a failed-audit staged snapshot from
        history. Its data dir becomes unreferenced; vacuum reclaims."""
        m = self._read_manifest()
        expected = m.version
        last = m.snapshots[-1] if m.snapshots else None
        if last is None or last.version != version or not last.staged:
            raise CommitConflictError(
                f"no staged snapshot at v{version} to abort "
                f"(manifest at v{expected})"
            )
        m.snapshots.pop()
        self._write_manifest(m, expected_version=expected)

    def verify_integrity(self) -> dict[str, Any]:
        """Metadata audit: every data path each retained snapshot
        references must exist, and merge-on-read base chains must be
        complete. Returns counters; raises nothing — an ops tool."""
        m = self._read_manifest()
        by_v = {s.version: s for s in m.snapshots}
        missing_paths: list[str] = []
        broken_chains: list[int] = []
        for s in m.snapshots:
            refs: list[str] = []
            if s.delta is not None:
                refs += list(s.delta.values())
                cur = s
                while cur.base_version is not None:
                    nxt = by_v.get(cur.base_version)
                    if nxt is None:
                        broken_chains.append(s.version)
                        break
                    cur = nxt
            elif s.partitions is not None:
                refs += [e["dir"] for e in s.partitions]
            else:
                refs.append(s.data_dir)
            missing_paths += [r for r in refs if not Path(r).exists()]
        return {
            "snapshots": len(m.snapshots),
            "missing_paths": missing_paths,
            "broken_chains": broken_chains,
            "ok": not missing_paths and not broken_chains,
        }

    # -- maintenance --------------------------------------------------------

    def vacuum(
        self,
        unreferenced_days: int | None = None,
        noncurrent_days: int | None = None,
        now: float | None = None,
    ) -> dict[str, int]:
        """B11: drop snapshots older than ``noncurrent_days`` (keeping
        the current one) and delete data dirs no retained snapshot
        references after ``unreferenced_days`` — the engine's
        ``unreferencedFileRemoval`` (reference README.md:129-137)."""
        unref = self.spec.unreferenced_days if unreferenced_days is None else unreferenced_days
        noncur = self.spec.noncurrent_days if noncurrent_days is None else noncurrent_days
        now = time.time() if now is None else now
        m = self._read_manifest()
        if not m.snapshots:
            return {"snapshots_dropped": 0, "dirs_deleted": 0}
        expected = m.version
        cutoff = now - noncur * 86400
        # staged snapshots are pinned (an in-flight WAP stage must
        # survive retention until explicitly published or aborted),
        # and so are tagged versions and branch BASES — a named ref IS
        # a retention exemption until the ref is deleted (a branch's
        # next commit merges against its base, so losing the base
        # would strand the branch)
        tagged = set(m.tags.values()) | set(m.branches.values())
        keep = [
            s
            for s in m.snapshots
            if s.staged
            or s.version in tagged
            or s is m.current
            or s.committed_at >= cutoff
        ]
        dropped = self._retain(m, keep, expected)
        deleted = self._gc_unreferenced_dirs(m.snapshots, now - unref * 86400)
        # orphaned manifest.tmp-* files: a crash between the temp write
        # and the atomic os.replace leaves one behind; they are never
        # referenced, so age them out with the same unreferenced cutoff
        for tmp in self.manifest_path.parent.glob("manifest.tmp-*"):
            try:
                if tmp.stat().st_mtime < now - unref * 86400:
                    tmp.unlink()
            except FileNotFoundError:
                pass  # concurrent vacuum won the race — already gone
        return {"snapshots_dropped": dropped, "dirs_deleted": deleted}

    def expire_snapshots(self, retain_last: int) -> dict[str, int]:
        """B11 companion — Iceberg ``expire_snapshots(retain_last=N)``
        analog: COUNT-based retention. Keeps the newest ``retain_last``
        snapshots (the current snapshot is always among them, being
        the newest), pins merge-on-read base chains like ``vacuum``,
        and immediately deletes data dirs no retained snapshot
        references — the bounded-history policy for tables where
        commit cadence, not wall-clock age, drives retention cost."""
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        m = self._read_manifest()
        if not m.snapshots:
            return {"snapshots_dropped": 0, "dirs_deleted": 0}
        expected = m.version
        newest = sorted(m.snapshots, key=lambda s: -s.version)[:retain_last]
        # staged + tagged + branch-base pins mirror vacuum(): count-
        # based retention may not drop a pending WAP stage or a named ref
        tagged = set(m.tags.values()) | set(m.branches.values())
        keep = [
            s
            for s in m.snapshots
            if s.staged or s.version in tagged or s in newest or s is m.current
        ]
        dropped = self._retain(m, keep, expected)
        deleted = self._gc_unreferenced_dirs(m.snapshots, float("inf"))
        return {"snapshots_dropped": dropped, "dirs_deleted": deleted}

    def _retain(self, m: Manifest, keep: list[Snapshot], expected: int) -> int:
        """Shared retention core: close merge-on-read base chains over
        ``keep`` and commit the pruned snapshot list. Returns the
        number of snapshots dropped."""
        # merge-on-read ancestor closure: a retained delta snapshot is
        # unreadable without its base chain, so bases are pinned
        # regardless of age (versions ascend, so one backward pass
        # over descending versions closes the chain)
        by_v = {s.version: s for s in m.snapshots}
        keep_v = {s.version for s in keep}
        for s in sorted(keep, key=lambda s: -s.version):
            cur = s
            while cur.base_version is not None and cur.base_version not in keep_v:
                nxt = by_v.get(cur.base_version)
                if nxt is None:
                    # chain already broken (verify_integrity reports it
                    # as broken_chains) — degrade gracefully instead of
                    # compounding the damage with a KeyError mid-vacuum
                    break
                cur = nxt
                keep_v.add(cur.version)
        kept = [s for s in m.snapshots if s.version in keep_v]
        dropped = len(m.snapshots) - len(kept)
        m.snapshots = kept
        self._write_manifest(m, expected_version=expected)
        return dropped

    def _gc_unreferenced_dirs(self, keep: list[Snapshot], mtime_cutoff: float) -> int:
        """Delete top-level data dirs referenced by no retained
        snapshot and last modified before ``mtime_cutoff`` (pass
        ``float("inf")`` for immediate deletion). Reference-counting is
        at the snapshot-dir granularity: a pruned merge's snapshot
        references SUBDIRS of earlier snapshots' dirs, so a dir stays
        as long as any retained snapshot points anywhere inside it."""
        import shutil

        data_root = self.root / "data"
        referenced: set[str] = set()
        for s in keep:
            referenced.add(Path(s.data_dir).name)
            for ent in s.partitions or []:
                try:
                    referenced.add(Path(ent["dir"]).relative_to(data_root).parts[0])
                except ValueError:
                    pass  # entry outside data_root — never collected
        deleted = 0
        if data_root.exists():
            for child in data_root.iterdir():
                if child.name not in referenced and child.stat().st_mtime < mtime_cutoff:
                    shutil.rmtree(child)
                    deleted += 1
        return deleted
