"""JVM-visible changelog staging (r11, VERDICT r10 next-round #1).

The Python DataSource changelog readers (``table_source.py``) pay a
measured ~1.5 s startup premium PER STREAMING QUERY: Spark 4's
``PythonStreamingSourceRunner`` spawns a fresh interpreter (plus a
full ``pyspark`` import) for every planner, never the forking daemon
pool — verified against the Spark 4.1 jars in r10. This module removes
that premium from the drain path by materializing the changelog in a
JVM-visible format FIRST and then driving a standard JVM parquet FILE
STREAM over it:

1. :func:`materialize_changelog` writes the change rows of every
   published manifest version as exactly ONE parquet file per version
   (``v000000007.parquet``), incrementally — versions already staged
   are skipped, so a resumed consumer only materializes the commits
   that arrived since its last drain. The rows are computed with
   SPARK (``ManagedTable.read`` / ``read_changes`` / the delta-layer
   reads), i.e. the diff itself is distributed JVM work — at 100 TB
   this is also the scale-correct placement (the simple Python reader
   diffs driver-side; the partitioned one inside a single task per
   version), so the staging path kills the startup premium AND the
   Python row-at-a-time diff in one move (guide §4: eliminate the
   JVM<->Python boundary).
2. :func:`changelog_file_stream` opens a JVM parquet file stream over
   the staged files with ``maxFilesPerTrigger=1``. One file per
   version + monotonic mtimes stamped at staging time = ONE MICROBATCH
   PER PUBLISHED VERSION in version order — the same per-version
   cadence contract as the Python simple reader.
3. :func:`drain_changelog_files` drains with ``Trigger.AvailableNow``
   (which JVM file sources implement properly, unlike Python sources
   — see table_source.py module docstring) and returns the committed
   microbatch count. Checkpoint resume works exactly as before: the
   file-source log remembers which staged files were consumed, so a
   second drain after new commits processes only the new versions.

Emission semantics are the Python readers', verbatim (same rows, same
change_op classes, proven by the side-by-side equivalence test in
``tests/test_changelog_files.py``):

- ``bootstrap`` / ``bootstrap-export`` -> every row as ``INSERT``;
- delta-layer commits (merge-mor / delete-mor / update-mor) -> upsert
  images as ``UPSERT``, tombstoned keys with no new image as
  ``DELETE`` (non-key columns null; null-SAFE key suppression, so a
  NULL-keyed tombstone with a new image is suppressed too);
- anything else (CoW merge / overwrite / delete / update / compact /
  zorder / metadata commits) -> the keyed snapshot diff vs the
  previous published version via ``ManagedTable.read_changes``
  (INSERT new key / UPSERT changed image / DELETE gone key, keys
  only); data-preserving maintenance diffs to zero rows — the
  changelog-transparency property h26 asserts. ``read_changes``'s
  null-safe struct comparison already gives the NaN-equals-itself
  verdicts the dict readers implement by hand.

Nested struct/map/deep-array columns ride the staged files as
canonical JSON strings (``to_json``), matching the stream DDL of
``changelog_schema_ddl`` — the same shim the Python readers apply —
and are restored consumer-side with ``restore_nested_columns``.

Nothing is cached across runs: the stage dir lives under the query's
wiped scratch root and is recomputed from the table's parquet on
every invocation.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: staged-file name pattern: one parquet file per published version
_STAGE_RE = re.compile(r"^v(\d{9})\.parquet$")

#: fixed mtime base (2001-09-09): staged files get ``base + version``
#: so the file stream's oldest-first ordering IS version order even
#: when many versions are staged within one filesystem timestamp tick
_MTIME_BASE = 1_000_000_000


def _is_native(dt: T.DataType) -> bool:
    """True when a column of Spark type ``dt`` rides the changelog
    stream natively — mirrors ``table_source._schema_closures``'s
    ``is_shimmed`` rule exactly (primitives and arrays-of-primitive
    native; struct/map/deep array shimmed to JSON strings)."""
    prim = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
        T.BinaryType, T.DateType, T.TimestampType, T.TimestampNTZType,
        T.DecimalType,
    )
    if isinstance(dt, prim):
        return True
    if isinstance(dt, T.ArrayType) and isinstance(dt.elementType, prim):
        return True
    return False


def _published(m) -> list:
    return sorted(
        (s for s in m.snapshots if not s.staged), key=lambda s: s.version
    )


def _emit_frame(table, snap, prev_v: int | None) -> DataFrame:
    """Change rows of one published version as a DataFrame carrying
    ``__op`` plus (a subset of) the version's table columns — the
    Spark restatement of ``table_source._Reader._emit``."""
    spark = table.spark
    keys = list(table.spec.key_columns)
    if snap.operation in ("bootstrap", "bootstrap-export"):
        return table.read(version=snap.version).withColumn(
            "__op", F.lit("INSERT")
        )
    if snap.delta is not None:
        # ANY MoR-format delta layer (merge-mor + the predicate-DML
        # delete-mor/update-mor): the delta IS the changelog
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        key_schema = T.StructType(
            [f for f in schema.fields if f.name in keys]
        )
        ins = spark.read.schema(schema).parquet(snap.delta["inserts"])
        dels = spark.read.schema(key_schema).parquet(snap.delta["deletes"])
        # suppress tombstones that also carry a new image — null-SAFE
        # on the keys, matching the dict readers' tuple-set semantics
        cond = [
            F.col(f"d.`{k}`").eqNullSafe(F.col(f"i.`{k}`")) for k in keys
        ]
        surv = (
            dels.alias("d")
            .join(ins.select(*keys).alias("i"), on=cond, how="left_anti")
            .select(*[F.col(f"d.`{k}`").alias(k) for k in keys])
        )
        return ins.withColumn("__op", F.lit("UPSERT")).unionByName(
            surv.withColumn("__op", F.lit("DELETE")),
            allowMissingColumns=True,  # DELETE: non-key columns null
        )
    # copy-on-write / maintenance / metadata commit: keyed snapshot
    # diff vs the previous published version
    if prev_v is None:
        if snap.version > 1:
            # same loud refusal as the Python reader: history was
            # truncated beneath this version — a silent {} pre-image
            # would re-emit every row as INSERT and drop real DELETEs
            raise ValueError(
                f"changelog staging: no published version below "
                f"v{snap.version} is retained — the pre-image for the "
                "copy-on-write diff is gone"
            )
        return table.read(version=snap.version).withColumn(
            "__op", F.lit("INSERT")
        )
    chg = table.read_changes(prev_v, snap.version)
    op = (
        F.when(F.col("op") == "INSERT", F.lit("INSERT"))
        .when(F.col("op") == "MODIFY", F.lit("UPSERT"))
        .otherwise(F.lit("DELETE"))
    )
    cols = []
    for c in chg.columns:
        if c == "op":
            continue
        if c in keys:
            cols.append(F.col(f"`{c}`"))
        else:
            # DELETE rows carry keys only (REMOVE holds the old image)
            cols.append(
                F.when(F.col("op") == "REMOVE", F.lit(None))
                .otherwise(F.col(f"`{c}`"))
                .alias(c)
            )
    return chg.select(op.alias("__op"), *cols)


def _project(frame: DataFrame, version: int, stream_fields, shimmed) -> DataFrame:
    """Align one version's change frame to the STREAM schema (the
    newest published snapshot's): missing columns null, native columns
    cast to the stream type, shimmed columns serialized to JSON."""
    cols = [
        F.lit(version).cast("long").alias("version"),
        F.col("__op").alias("change_op"),
    ]
    for f in stream_fields:
        if f.name in frame.columns:
            c = F.col(f"`{f.name}`")
            c = F.to_json(c) if f.name in shimmed else c.cast(f.dataType)
        else:
            c = F.lit(None).cast(
                T.StringType() if f.name in shimmed else f.dataType
            )
        cols.append(c.alias(f.name))
    return frame.select(*cols)


def _write_one_file(df: DataFrame, stage_dir: str, version: int) -> str:
    """Write ``df`` as exactly ONE parquet file (one file == one
    microbatch under ``maxFilesPerTrigger=1``) under a pending name
    that listings skip (leading ``_``); returns its path.
    :func:`materialize_changelog` moves it into place."""
    tmp = os.path.join(stage_dir, f"_tmp_v{version}")
    df.repartition(1).write.mode("overwrite").parquet(tmp)
    dest = _pending_path(stage_dir, version)
    parts = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
    if parts:
        os.replace(parts[0], dest)
    else:
        # zero-row version whose write produced no part file: stage an
        # empty file with the stream schema (pyarrow; keeps the
        # batch-per-version cadence for empty diffs)
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        sch = to_arrow_schema(df.schema)
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array([], type=f.type) for f in sch], schema=sch
            ),
            dest,
        )
    shutil.rmtree(tmp, ignore_errors=True)
    return dest


def _pending_path(stage_dir: str, version: int) -> str:
    return os.path.join(stage_dir, f"_pending_v{version:09d}.parquet")


def materialize_changelog(table, stage_dir: str) -> int:
    """Stage the changelog of ``table`` as one parquet file per
    published version under ``stage_dir`` (module docstring).
    Incremental: already-staged versions are skipped. All or nothing:
    the pending versions are written under hidden names and moved into
    place, in version order, only once every one of them succeeded, so
    a failed version never leaves a later one staged past a hole.
    Returns the number of NEW files written."""
    os.makedirs(stage_dir, exist_ok=True)
    staged = {
        int(mm.group(1))
        for f in os.listdir(stage_dir)
        if (mm := _STAGE_RE.match(f))
    }
    m = table._read_manifest()
    pub = _published(m)
    if not pub:
        return 0
    stream_schema = T.StructType.fromJson(json.loads(pub[-1].schema_json))
    shimmed = {
        f.name for f in stream_schema.fields if not _is_native(f.dataType)
    }
    pending: list[tuple] = []  # (snap, prev_v) in version order
    prev_v: int | None = None
    for snap in pub:
        if snap.version not in staged:
            pending.append((snap, prev_v))
        prev_v = snap.version
    if not pending:
        return 0

    def _stage_one(snap, prev) -> str:
        frame = _emit_frame(table, snap, prev)
        out = _project(frame, snap.version, stream_schema.fields, shimmed)
        return _write_one_file(out, stage_dir, snap.version)

    try:
        if len(pending) == 1:
            paths = [_stage_one(*pending[0])]
        else:
            # the per-version staging jobs are INDEPENDENT (each reads
            # its own version pair and writes its own file), so overlap
            # them: a later job's tasks back-fill executors freed by an
            # earlier job's tail, hiding the per-job launch constants
            # (guide §2.6). Each task runs under a copy of the caller's
            # local properties (job group — inside foreachBatch, the
            # stream's runId group), so its jobs are the caller's.
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            with ThreadPoolExecutor(max_workers=min(4, len(pending))) as pool:
                futures = [
                    pool.submit(
                        inheritable_thread_target(table.spark)(_stage_one), s, p
                    )
                    for s, p in pending
                ]
                paths = [f.result() for f in futures]  # first failure raises
    except BaseException:
        # all or nothing: a later version staged while an earlier one
        # failed would leave a hole the file stream drains past
        for snap, _ in pending:
            shutil.rmtree(
                os.path.join(stage_dir, f"_tmp_v{snap.version}"), ignore_errors=True
            )
            with contextlib.suppress(FileNotFoundError):
                os.remove(_pending_path(stage_dir, snap.version))
        raise
    # publish in version order, each with a version-monotonic mtime
    # (the file stream's oldest-first listing is then version order)
    for (snap, _), path in zip(pending, paths):
        dest = os.path.join(stage_dir, f"v{snap.version:09d}.parquet")
        os.replace(path, dest)
        ts = _MTIME_BASE + snap.version
        os.utime(dest, (ts, ts))
    return len(pending)


def changelog_file_stream(
    spark: SparkSession, manifest_path: str, stage_dir: str
) -> DataFrame:
    """JVM parquet file stream over the staged changelog — same column
    set and types as the Python sources (``changelog_schema_ddl``),
    one microbatch per staged file (= per published version)."""
    from dynamodb_zero_etl_s3tables_spark.streaming.table_source import (
        changelog_schema_ddl,
    )

    return (
        spark.readStream.schema(changelog_schema_ddl(manifest_path))
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_dir)
    )


def drain_changelog_files(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    foreach_batch=None,
    timeout_sec: float = 300.0,
) -> int:
    """Drain the staged-changelog file stream with
    ``Trigger.AvailableNow`` (supported by JVM file sources; processes
    the full staged backlog honoring ``maxFilesPerTrigger`` and stops
    by itself — no offset-polling loop). Returns the number of
    microbatches this drain committed. ``foreach_batch`` swaps the
    parquet sink at ``out_path`` for a caller-owned consumer, same as
    :func:`table_source.drain_changelog`."""
    commits_dir = os.path.join(checkpoint, "commits")

    def _newest() -> int:
        if not os.path.isdir(commits_dir):
            return -1
        ids = [n for n in os.listdir(commits_dir) if n.isdigit()]
        return max((int(n) for n in ids), default=-1)

    before = _newest()
    writer = stream_df.writeStream
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    else:
        writer = writer.format("parquet").option("path", out_path)
    q = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise TimeoutError(
                f"changelog file-stream drain exceeded {timeout_sec}s"
            )
        if q.exception() is not None:
            raise q.exception()
    finally:
        q.stop()
    return _newest() - before
