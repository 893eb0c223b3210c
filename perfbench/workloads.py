"""The benchmark's workloads: a zero-ETL pipeline and its analysts,
driven through the engine's public verbs only.

``cdc_cow_chain``
    DYNAMODB_JSON export bootstrap, then a closed loop (one client) of
    a fixed number of 1k-change copy-on-write batches, one per
    ``COW_CYCLE_S`` seconds of ``--seconds``. Each cycle also runs one
    analyst query; ``COW_MERGES`` SQL MERGE statements follow the
    chain. The commit path does most of the work while the history
    grows.
``stream_lag``
    ION export bootstrap (bloom filter on ``pk``), then an open loop:
    a feeder thread lands ``STREAM_FILES`` 1k-change changelog files,
    one per ``STREAM_PERIOD_S`` seconds and one of them out of order,
    and a Structured Streaming query replicates them merge-on-read with
    auto-compaction and out-of-order tolerance. After the feed, the
    analysts query the merge-on-read table, which still holds a delta
    layer, and run SQL DML on it.

Every answer, DML effect and final table state is checked against
:class:`model.Model` outside the timed calls.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import threading
import time
from decimal import Decimal
from pathlib import Path

from pyspark.sql import types as T

import gen
from model import Model, canonical, state_digest
from spans import Tracer

from dynamodb_zero_etl_s3tables_spark import ZeroEtlEngine, get_spark
from dynamodb_zero_etl_s3tables_spark.metrics import (
    attach_streaming_metrics,
    detach_streaming_metrics,
)
from dynamodb_zero_etl_s3tables_spark.sources.pitr_export import read_export
from dynamodb_zero_etl_s3tables_spark.spec import SourceSpec, TableSpec
from dynamodb_zero_etl_s3tables_spark.streaming.cdc import (
    apply_changes_stream,
    changelog_schema,
    read_changelog_stream,
)
from dynamodb_zero_etl_s3tables_spark.table.manifest import ManagedTable

NS, NAME, DIM = "bench", "orders", "regions"
QNAME = f"{NS}.{NAME}"
VIEW = f"{NS}_{NAME}"
DIM_VIEW = f"{NS}_{DIM}"
TIERS = ("gold", "silver", "bronze")
SHAPES = ("point", "lookup", "agg", "topk", "join", "meta", "travel", "changes")

BATCH = 1000          # changes per CDC batch / changelog file
COW_CYCLE_S = 2.0     # cdc_cow_chain: one commit cycle per this much of --seconds
#: cdc_cow_chain: SQL MERGE statements after the chain. The first MERGE
#: on the table is the slowest and one that inserts a new key the
#: fastest: with four, the median falls on two ordinary updates.
COW_MERGES = 4
#: stream_lag: MoR chain length that triggers compaction. The feed is
#: one chain and one file more: the last-but-one microbatch compacts
#: and the last leaves one delta layer for the analysts to read
#: through. Compaction in the last-but-one keeps the lag median on
#: plain microbatches: only the compacting one and the file queued
#: behind it wait.
MAX_DELTA_LAYERS = 4
STREAM_FILES = MAX_DELTA_LAYERS + 1
STREAM_PERIOD_S = 3.0  # stream_lag: one changelog file per period
QUERY_ROUNDS = 2      # stream_lag: times each query shape runs after the feed

#: the analyst's share of each workload. cdc_cow_chain runs one query per
#: cycle, in this order, then its DML: the shapes that read history
#: (time travel, changes) or manifest metadata live where the history
#: grows. stream_lag runs its shapes QUERY_ROUNDS times over, then its
#: DML, on the merge-on-read table the stream leaves behind: the shapes
#: that scan, prune or join.
PLAN = {
    "cdc_cow_chain": {"queries": ("point", "meta", "travel", "changes"), "dml": ("merge",)},
    "stream_lag": {"queries": ("lookup", "agg", "topk", "join"), "dml": ("update", "delete")},
}

#: per-workload sizes: items in the export, regions (partitions), format
SIZES = {
    "cdc_cow_chain": {"items": 10_000, "regions": 16, "format": "DYNAMODB_JSON"},
    "stream_lag": {"items": 10_000, "regions": 8, "format": "ION"},
}

DEC = T.DecimalType(38, 18)
IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("pk", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("qty", DEC),
        T.StructField("amount", DEC),
        T.StructField("status", T.StringType()),
        T.StructField("note", T.StringType()),
    ]
)
CHANGE_SCHEMA = changelog_schema(IMAGE_SCHEMA)


def _dec(v):
    return None if v is None else Decimal(v)


def _ts(ms: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)


def change_frame(spark, recs: list[dict]):
    rows = [
        (c["op"], _ts(c["ts"]), c["seq"], c["pk"], c["region"], _dec(c["qty"]),
         _dec(c["amount"]), c["status"], c["note"])
        for c in recs
    ]
    return spark.createDataFrame(rows, CHANGE_SCHEMA)


def listing(root: Path) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # replaced between walk and stat
                continue
            out[p] = (st.st_ino, st.st_size)
    return out


class WriteMeter:
    """Bytes and files written under a directory: every poll adds the
    files that are new or were replaced since the previous poll."""

    def __init__(self, root: Path):
        self.root = root
        self.seen = listing(root)
        self.bytes = 0
        self.files = 0

    def poll(self) -> tuple[int, int]:
        cur = listing(self.root)
        nb = nf = 0
        for p, v in cur.items():
            if self.seen.get(p) != v:
                nb += v[1]
                nf += 1
        self.seen = cur
        self.bytes += nb
        self.files += nf
        return nf, nb


def dir_bytes(root: Path) -> int:
    return sum(v[1] for v in listing(root).values())


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class TimedTable(ManagedTable):
    """The streaming sink's table, with its commit and compaction calls
    wrapped in spans from outside: ``apply_changes_stream`` calls these
    public methods once per microbatch."""

    bench: "Run"

    def apply_changes(self, changes, order_cols=None, strategy="copy-on-write"):
        b = self.bench
        with b.tracer.span("commit", "manifest", tasks=True) as sp:
            super().apply_changes(changes, order_cols=order_cols, strategy=strategy)
        b.note_commit(sp, self.last_commit_metrics, BATCH)
        # polled between writes, never during one: a write's temporary
        # files would count as written bytes
        b.meter.poll()

    def maybe_compact(self, max_delta_layers=5, max_files=64,
                      target_file_bytes=128 * 1024 * 1024):
        b = self.bench
        with b.tracer.span("maybe_compact", "manifest") as sp:
            res = super().maybe_compact(max_delta_layers, max_files, target_file_bytes)
        if res is not None:
            b.compactions.append({"seconds": sp.seconds, **res})
            b.meter.poll()
        return res


class Run:
    """One benchmark run: one workload, one seed."""

    def __init__(self, workload: str, seed: int, seconds: float, work: Path,
                 tracer: Tracer, t_process: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.t_process = t_process
        self.size = SIZES[workload]
        self.r = gen.rng(seed, "analyst")
        self.samples: dict[str, list[float]] = {
            k: [] for k in ("commit_s", "query_s", "dml_s", "lag_s", "commit_write_s",
                            "commit_pre_write_s", "version_read_ms", "delta_layers",
                            "files_per_commit", "bytes_per_commit", "scan_files_read_ratio")
        }
        #: query seconds per shape: query_s_p50 is the median of their medians
        self.query_by_shape: dict[str, list[float]] = {}
        self.compactions: list[dict] = []
        #: (snapshots in the table, ms to read its version) after each commit
        self.version_reads: list[tuple[int, float]] = []
        self.change_rows = 0
        self.change_wire = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.meter: WriteMeter | None = None
        # what a failed phase leaves behind: every metric stays defined
        self.read_export_s = 0.0
        self.read_export_jobs = 0
        self.commits = 0
        self.manifest_bytes0 = self.manifest_bytes = 0
        self.version_read_final_ms = 0.0
        self.stream_jobs = 0
        self.progress: list[dict] = []
        self.backlog_max = 0
        self.late_s_max = 0.0
        self.late_files = 0

    # -- bookkeeping --------------------------------------------------------

    def fail(self, what: str, detail: str) -> None:
        self.failures.append(f"{what}: {detail}"[:400])

    def check(self, what: str, got, want) -> bool:
        if got != want:
            self.fail(what, f"got {str(got)[:150]} want {str(want)[:150]}")
            return False
        return True

    def note_commit(self, sp, cm, rows: int) -> None:
        self.samples["commit_s"].append(sp.seconds)
        self.change_rows += rows
        if cm is not None:
            self.samples["commit_write_s"].append(cm.elapsed_sec)
            self.samples["commit_pre_write_s"].append(sp.seconds - cm.elapsed_sec)

    # -- setup ------------------------------------------------------------------

    def start_spark(self):
        with self.tracer.span("get_spark", "session") as sp:
            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self.get_spark_s = sp.seconds
        self.tracer.attach(self.spark.sparkContext)
        self.jvm = jvm_pid(self.spark)

    def engine(self, warehouse: Path, bloom: bool) -> ZeroEtlEngine:
        spec = TableSpec(
            NS, NAME, ("pk",), partition_columns=("region",),
            bloom_columns=("pk",) if bloom else (),
        )
        return ZeroEtlEngine(self.spark, str(warehouse), SourceSpec("orders", ("pk",)), spec)

    def add_dim(self, eng: ZeroEtlEngine, n_regions: int) -> None:
        dim = eng.catalog.create_table(TableSpec(NS, DIM, ("region",)))
        rows = [(gen.region_name(i), TIERS[i % 3]) for i in range(n_regions)]
        dim.bootstrap(self.spark.createDataFrame(rows, "region string, tier string"))
        eng.catalog.refresh_view(f"{NS}.{DIM}")

    def warm_up(self) -> None:
        """Timed by setup_s only: each verb the timed phase uses, once, on a
        throwaway table, so that JVM class loading, code generation and
        Python worker start-up stay out of the measured calls."""
        root = self.work / "warmup"
        fmt = self.size["format"]
        r = gen.rng(self.seed, "warmup")
        items = gen.make_items(self.seed + 1, 400, 4)
        gen.write_export(items, root / "export", "warmup", fmt, shards=2)
        eng = self.engine(root / "warehouse", bloom=fmt == "ION")
        with self.tracer.span("bootstrap_export", "warmup"):
            eng.table.bootstrap_export(str(root / "export"), gen.FIELDS)
            if "join" in PLAN[self.workload]["queries"]:
                self.add_dim(eng, 4)
        cg = gen.ChangeGenerator(self.seed + 1, items, 4, purpose="warmup")
        if self.workload == "cdc_cow_chain":
            with self.tracer.span("commit", "warmup"):
                eng.apply_changes(change_frame(self.spark, cg.batch(100)))
        else:
            log = root / "changelog"
            log.mkdir()
            gen.write_changelog_file(log / "part-00000.json", cg.batch(50))
            stream = read_changelog_stream(self.spark, str(log), CHANGE_SCHEMA,
                                           max_files_per_trigger=1)
            # max_delta_layers=1: the microbatch also compacts
            with self.tracer.span("stream", "warmup"):
                q = apply_changes_stream(eng.table, stream, str(root / "checkpoint"),
                                         available_now=True, strategy="merge-on-read",
                                         auto_compact=True, max_delta_layers=1,
                                         tolerate_out_of_order=True)
                q.awaitTermination()
        plan = PLAN[self.workload]
        for shape in dict.fromkeys(plan["queries"]):
            self.query(eng, shape, None, r)
        keys = sorted(x.pk for x in eng.read().select("pk").limit(3).collect())
        for kind, pk in zip(plan["dml"], keys):
            sql, _ = gen.dml_statement(kind, QNAME, pk, items[pk][0], r)
            with self.tracer.span(f"dml.{kind}", "warmup"):
                eng.sql(sql).collect()

    # -- analyst queries ---------------------------------------------------------

    def query(self, eng: ZeroEtlEngine, shape: str, model: Model | None, r=None):
        """Run one query shape. With a model, check the answer and record
        its time; without (warm-up), just run it."""
        rows_known = model.rows if model is not None else None
        r = r or self.r
        cur = model.version if model is not None else eng.table.version
        if shape in ("point", "lookup"):
            keys = list(rows_known) if rows_known is not None else ["k0000000"]
            pk = keys[r.randrange(len(keys))]
        if shape == "point":
            sql = f"SELECT pk, qty, amount, status FROM {VIEW} WHERE pk = '{pk}'"
        elif shape == "agg":
            sql = f"SELECT status, COUNT(*) AS n, SUM(qty) AS q FROM {VIEW} GROUP BY status"
        elif shape == "topk":
            region = gen.region_name(r.randrange(self.size["regions"] if model else 4))
            sql = (f"SELECT pk, amount FROM {VIEW} WHERE region = '{region}' "
                   "ORDER BY amount DESC, pk LIMIT 10")
        elif shape == "join":
            sql = (f"SELECT d.tier, COUNT(*) AS n, SUM(o.amount) AS s FROM {VIEW} o "
                   f"JOIN {DIM_VIEW} d ON o.region = d.region GROUP BY d.tier")
        elif shape == "meta":
            sql = f"SELECT COUNT(*) AS n, MIN(amount) AS lo, MAX(amount) AS hi FROM {VIEW}"
        elif shape == "travel":
            # the same distance back on every run
            v = max(1, cur - 2)
            sql = f"SELECT COUNT(*) AS n, SUM(qty) AS q FROM {VIEW} VERSION AS OF {v}"
        elif shape == "changes":
            v0 = max(1, cur - 1)
            sql = (f"SELECT op, COUNT(*) AS n FROM table_changes('{QNAME}', {v0}, {cur}) "
                   "GROUP BY op")
        layers = self.delta_layers(eng) if model is not None else 0
        layer = "engine" if model is not None else "warmup"
        with self.tracer.span(f"sql_call.{shape}", layer) as s1:
            if shape == "lookup":
                df = eng.table.scan([("pk", "=", pk)])
            else:
                df = eng.sql(sql)
        with self.tracer.span(f"collect.{shape}", layer) as s2:
            got = df.collect()
        if model is None:
            return
        self.samples["query_s"].append(s1.seconds + s2.seconds)
        self.query_by_shape.setdefault(shape, []).append(s1.seconds + s2.seconds)
        self.samples["delta_layers"].append(layers)
        if shape == "lookup":
            # no file counts: a snapshot without per-file stats (a
            # merge-on-read layer) is read whole
            sm = eng.table.last_scan_metrics or {}
            self.samples["scan_files_read_ratio"].append(
                sm["files_read"] / sm["files_total"] if sm.get("files_total") else 1.0)
        st = model.rows
        if shape == "point":
            want = [(pk, st[pk][1], st[pk][2], st[pk][3])] if pk in st else []
            got = [(x.pk, int(x.qty), int(x.amount), x.status) for x in got]
        elif shape == "lookup":
            want = [canonical(pk, st[pk])] if pk in st else []
            got = [canonical(x.pk, (x.region, x.qty, x.amount, x.status, x.note)) for x in got]
        elif shape == "agg":
            want: dict = {}
            for img in st.values():
                n, q = want.get(img[3], (0, 0))
                want[img[3]] = (n + 1, q + img[1])
            got = {x.status: (x.n, int(x.q)) for x in got}
        elif shape == "topk":
            cand = [(-img[2], pk) for pk, img in st.items() if img[0] == region]
            want = [(pk, -neg) for neg, pk in sorted(cand)[:10]]
            got = [(x.pk, int(x.amount)) for x in got]
        elif shape == "join":
            want = {}
            for img in st.values():
                tier = TIERS[int(img[0][1:]) % 3]
                n, s = want.get(tier, (0, 0))
                want[tier] = (n + 1, s + img[2])
            got = {x.tier: (x.n, int(x.s)) for x in got}
        elif shape == "meta":
            amounts = [img[2] for img in st.values()]
            want = [(len(amounts), min(amounts), max(amounts))]
            got = [(x.n, int(x.lo), int(x.hi)) for x in got]
        elif shape == "travel":
            old = model.state(v)
            want = (len(old), sum(img[1] for img in old.values()))
            got = (got[0].n, int(got[0].q or 0))
        elif shape == "changes":
            want = model.changes(v0, cur)
            got = {x.op: x.n for x in got}
        self.check(f"query {shape}", got, want)

    def delta_layers(self, eng: ZeroEtlEngine) -> int:
        hist = {s.version: s for s in eng.table.history()}
        cur = hist[max(hist)]
        n = 0
        while cur is not None and cur.base_version is not None:
            n += 1
            cur = hist.get(cur.base_version)
        return n

    def dml(self, eng: ZeroEtlEngine, model: Model, kind: str, new_key: bool = False) -> None:
        keys = list(model.rows)
        if new_key:
            pk = f"m{self.r.randrange(10**7):07d}"
            region = gen.region_name(self.r.randrange(self.size["regions"]))
        else:
            pk = keys[self.r.randrange(len(keys))]
            region = model.rows[pk][0]
        sql, effect = gen.dml_statement(kind, QNAME, pk, region, self.r)
        with self.tracer.span(f"dml.{kind}", "sql_dml") as sp:
            eng.sql(sql).collect()
        self.samples["dml_s"].append(sp.seconds)
        self.meter.poll()
        model.apply_dml(effect, keep=True)

    def op(self, what: str, fn, *args, **kw):
        """One attempted operation: an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception as e:  # the run must go on and report it
            self.fail(what, f"{type(e).__name__}: {e}")
            return None

    # -- phases -----------------------------------------------------------------

    def bootstrap(self, eng: ZeroEtlEngine, export_root: Path) -> None:
        with self.tracer.span("bootstrap_export", "manifest") as sp:
            eng.table.bootstrap_export(str(export_root), gen.FIELDS)
        self.bootstrap_s = sp.seconds
        if self.tracer.enabled:
            # decode-only pass: the export read without the commit
            with self.tracer.span("read_export", "pitr_export") as rp:
                read_export(self.spark, str(export_root), gen.FIELDS).write.format(
                    "noop").mode("overwrite").save()
            self.read_export_s = rp.seconds
            self.read_export_jobs = rp.jobs

    def final_check(self, eng: ZeroEtlEngine, model: Model) -> None:
        rows = eng.read().collect()
        got = state_digest(
            (x.pk, (x.region, x.qty, x.amount, x.status, x.note)) for x in rows
        )
        self.check("final state", got, state_digest(model.rows.items()))
        if self.workload == "cdc_cow_chain":
            self.check("table version", eng.table.version, model.version)

    def version_read_ms(self, eng: ZeroEtlEngine, reps: int = 5) -> float:
        out = []
        for _ in range(reps):
            t0 = time.perf_counter()
            eng.table.version
            out.append((time.perf_counter() - t0) * 1000)
        return statistics.median(out)

    # -- workloads --------------------------------------------------------------

    def prepare(self):
        """Inputs (timed as loadgen.gen_s, not part of setup_s)."""
        t0 = time.perf_counter()
        sz = self.size
        self.items = gen.make_items(self.seed, sz["items"], sz["regions"])
        self.export_root = self.work / "export"
        gen.write_export(self.items, self.export_root, "01767225600000-bench", sz["format"])
        self.cg = gen.ChangeGenerator(self.seed, self.items, sz["regions"])
        self.gen_s = time.perf_counter() - t0

    def run_cow_chain(self, eng: ZeroEtlEngine, model: Model) -> None:
        spark = self.spark
        manifest = Path(eng.table.manifest_path)
        self.manifest_bytes0 = manifest.stat().st_size
        self.meter = WriteMeter(self.work / "warehouse")
        # a fixed amount of work: a faster commit path must not buy a
        # longer history (and with it more bytes and other query shapes)
        n_cycles = max(2, int(self.seconds // COW_CYCLE_S))
        plan = PLAN["cdc_cow_chain"]
        for i in range(n_cycles):
            t0 = time.perf_counter()
            recs = self.cg.batch(BATCH)
            self.gen_s += time.perf_counter() - t0
            t_due = time.perf_counter()
            df = change_frame(spark, recs)
            self.attempted += 1
            try:
                with self.tracer.span("commit", "manifest", tasks=True) as sp:
                    eng.apply_changes(df)
            except Exception as e:
                self.fail("commit", f"{type(e).__name__}: {e}")
                break
            self.samples["lag_s"].append(sp.end - t_due)
            self.note_commit(sp, eng.table.last_commit_metrics, BATCH)
            model.apply(recs, keep=True)
            self.change_wire += sum(gen.change_wire_bytes(c) for c in recs)
            nf, nb = self.meter.poll()
            self.samples["files_per_commit"].append(nf)
            self.samples["bytes_per_commit"].append(nb)
            self.samples["version_read_ms"].append(self.version_read_ms(eng, 1))
            self.version_reads.append((model.version, self.samples["version_read_ms"][-1]))
            shape = plan["queries"][i % len(plan["queries"])]
            self.op("query", self.query, eng, shape, model)
        for k in range(COW_MERGES):
            kind = plan["dml"][k % len(plan["dml"])]
            # the same mix on every run: the last MERGE inserts a new key
            self.op(f"dml {kind}", self.dml, eng, model, kind, new_key=k == COW_MERGES - 1)
        self.commits = len(self.samples["commit_s"])
        self.manifest_bytes = manifest.stat().st_size
        self.version_read_final_ms = self.version_read_ms(eng)

    def run_stream(self, eng: ZeroEtlEngine, model: Model) -> None:
        spark = self.spark
        manifest = Path(eng.table.manifest_path)
        self.manifest_bytes0 = manifest.stat().st_size
        n_files = STREAM_FILES
        t0 = time.perf_counter()
        files = [self.cg.batch(BATCH) for _ in range(n_files)]
        order = gen.delivery_order(n_files, self.seed)
        self.late_files = gen.late_files(order)
        self.gen_s += time.perf_counter() - t0
        log = self.work / "changelog"
        log.mkdir()
        ckpt = self.work / "checkpoint"
        sink = TimedTable(spark, str(self.work / "warehouse"), eng.spec)
        sink.bench = self
        listener = attach_streaming_metrics(spark)
        self.meter = WriteMeter(self.work / "warehouse")
        due: dict[str, float] = {}
        late: list[float] = []

        def feed(t_start: float) -> None:
            for k, idx in enumerate(order):
                t_due = t_start + k * STREAM_PERIOD_S
                time.sleep(max(0.0, t_due - time.time()))
                path = log / f"part-{k:05d}-{idx:05d}.json"
                gen.write_changelog_file(path, files[idx])
                due[path.name] = t_due
                late.append(time.time() - t_due)

        with self.tracer.span("stream", "cdc") as sp:
            stream = read_changelog_stream(spark, str(log), CHANGE_SCHEMA,
                                           max_files_per_trigger=1)
            q = apply_changes_stream(sink, stream, str(ckpt), available_now=False,
                                     strategy="merge-on-read", auto_compact=True,
                                     max_delta_layers=MAX_DELTA_LAYERS,
                                     tolerate_out_of_order=True)
            self.tracer.watch_group(str(q.runId))
            feeder = threading.Thread(target=feed, args=(time.time(),), daemon=True)
            feeder.start()
            try:
                feeder.join()
                q.processAllAvailable()
            finally:
                q.stop()
                feeder.join(timeout=30)
        self.stream_jobs = sp.jobs
        self.meter.poll()
        exc = q.exception()
        self.attempted += n_files
        self.commits = len(self.samples["commit_s"])
        self.manifest_bytes = manifest.stat().st_size
        if exc is not None:
            detach_streaming_metrics(spark, listener)
            self.fail("stream", str(exc))
            return
        for idx in order:
            model.apply(files[idx], tolerate_out_of_order=True, commit=False)
        self.change_wire += sum(gen.change_wire_bytes(c) for f in files for c in f)
        self.late_s_max = max(late)
        batches = self.file_batches(ckpt)
        # the listener's events arrive through the listener bus; the
        # query's own progress (with trigger start times) is complete
        # once it has stopped
        t_wait = time.time() + 10
        while time.time() < t_wait and len(
                [p for p in listener.progress if p["num_input_rows"]]) < len(set(batches.values())):
            time.sleep(0.05)
        detach_streaming_metrics(spark, listener)
        self.progress = [p for p in listener.progress if p["num_input_rows"]]
        ends = {}
        for p in q.recentProgress:
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            ends[p.batchId] = start + p.durationMs.get("triggerExecution", 0) / 1000
        for name, b in batches.items():
            if name in due and b in ends:
                self.samples["lag_s"].append(ends[b] - due[name])
            else:
                self.fail("lag", f"no committed batch for {name}")
        self.backlog_max = self.backlog(due, batches, ends)
        self.version_read_final_ms = self.version_read_ms(eng)
        # the analysts on the merge-on-read table
        plan = PLAN["stream_lag"]
        for _ in range(QUERY_ROUNDS):
            for shape in plan["queries"]:
                self.op("query", self.query, eng, shape, model)
        for kind in plan["dml"]:
            self.op(f"dml {kind}", self.dml, eng, model, kind)

    @staticmethod
    def file_batches(ckpt: Path) -> dict[str, int]:
        """Changelog file name -> the microbatch that read it, from the
        file source's own log in the checkpoint."""
        out = {}
        src = ckpt / "sources" / "0"
        for f in sorted(src.iterdir()) if src.exists() else []:
            if f.name.startswith("."):
                continue
            for line in f.read_text().splitlines()[1:]:
                e = json.loads(line)
                out[Path(e["path"]).name] = int(e["batchId"])
        return out

    @staticmethod
    def backlog(due: dict[str, float], batches: dict[str, int], ends: dict[int, float]) -> int:
        """Most files landed but not yet committed at any file's due time."""
        done = {n: ends.get(b, float("inf")) for n, b in batches.items()}
        worst = 0
        for t in due.values():
            worst = max(worst, sum(1 for n, d in due.items() if d <= t and done.get(n, float("inf")) > t))
        return worst

    def mark(self, phase: str) -> None:
        """Timeline of the run: seconds since process start per phase end."""
        self.phases[phase] = round(time.perf_counter() - self.t_process, 3)

    def run(self) -> None:
        self.phases: dict[str, float] = {}
        self.start_spark()
        self.mark("get_spark")
        with self.tracer.span("warm_up", "session"):
            self.warm_up()
        self.setup_s = time.perf_counter() - self.t_process
        self.mark("warm_up")
        self.prepare()
        self.mark("gen_inputs")
        eng = self.engine(self.work / "warehouse", bloom=self.size["format"] == "ION")
        if "join" in PLAN[self.workload]["queries"]:
            self.add_dim(eng, self.size["regions"])
        model = Model(self.items)
        self.attempted += 1
        self.bootstrap(eng, self.export_root)
        model.keep_version()
        self.mark("bootstrap")
        if self.workload == "cdc_cow_chain":
            self.run_cow_chain(eng, model)
        else:
            self.run_stream(eng, model)
        self.mark("timed")
        self.op("final state", self.final_check, eng, model)
        self.space_bytes = dir_bytes(Path(eng.table.root))
        self.live_bytes = model.live_bytes()
        self.peak_rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.jvm)
        self.mark("final_check")
