#!/usr/bin/env python3
"""Replication-and-query benchmark for the zero-ETL engine.

    python3 perfbench/run.py --workload cdc_cow_chain --seed 1 --seconds 8 --trace 0

Run from the repository root. Each run wipes ``.perfbench/work``,
generates its inputs from ``--seed``, starts a local Spark session on
every usable core, warms the engine up on a throwaway table, bootstraps
the workload's table from a generated PITR export and then drives it for
``--seconds`` (see ``workloads.py`` and ``README.md``).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it carries the environment stamp, sample counts and the
percentile each ``_tail`` metric reports. A traced run also writes its
spans to ``.perfbench/out/trace-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "dynamodb_zero_etl_s3tables_spark"
WORKLOADS = ("cdc_cow_chain", "stream_lag")
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)
CDC_DURATIONS = {
    "trigger_ms_p50": "triggerExecution",
    "add_batch_ms_p50": "addBatch",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
    "latest_offset_ms_p50": "latestOffset",
    "query_planning_ms_p50": "queryPlanning",
    "get_batch_ms_p50": "getBatch",
}


def process_age_s() -> float:
    """Seconds since this process was created (from /proc), so set-up
    time counts the interpreter start as well."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def cpu_ticks() -> list[int]:
    """The host-wide CPU counters of /proc/stat (user .. steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Keep every file the run writes inside the checkout and let
    Python workers import the engine package."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={shlex.quote(str(work / 'spark-warehouse'))}",
            f"--driver-java-options {shlex.quote(java_opts)}",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = None


def tail(values: list[float]) -> tuple[float, str, int]:
    """The highest percentile of the ladder with at least ten samples
    beyond it; the maximum when there are too few samples for any, and
    0 when there are none (a run whose phase failed)."""
    n = len(values)
    if n == 0:
        return 0.0, "none", 0
    s = sorted(values)
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10:
            return statistics.quantiles(s, n=100, method="inclusive")[int(p) - 1], f"p{p:g}", n
    return s[-1], "max", n


def median(values) -> float:
    """0 for a layer the workload does not exercise."""
    return statistics.median(values) if values else 0.0


def source_stamp() -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except OSError:
        commit = None
    import hashlib

    h = hashlib.sha256()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return {"git_commit": commit, "package_sha256": h.hexdigest()[:16]}


def end_to_end(run) -> tuple[dict, dict]:
    sm = run.samples
    commit_tail, commit_p, commit_n = tail(sm["commit_s"])
    query_tail, query_p, query_n = tail(sm["query_s"])
    lag_tail, lag_p, lag_n = tail(sm["lag_s"])
    failed = len(run.failures)
    m = {
        "setup_s": (run.setup_s, "s"),
        "bootstrap_s": (run.bootstrap_s, "s"),
        "commit_s_p50": (median(sm["commit_s"]), "s"),
        "commit_s_tail": (commit_tail, "s"),
        "change_rows_per_s": (run.change_rows / max(sum(sm["commit_s"]), 1e-9), "rows/s"),
        # the median over shapes of each shape's median, so that the
        # figure is one shape's cost, not a point between two shapes
        "query_s_p50": (median([median(v) for v in run.query_by_shape.values()]), "s"),
        "query_s_tail": (query_tail, "s"),
        "dml_s_p50": (median(sm["dml_s"]), "s"),
        "lag_s_p50": (median(sm["lag_s"]), "s"),
        "lag_s_tail": (lag_tail, "s"),
        "write_amp": (run.meter.bytes / max(run.change_wire, 1) if run.meter else 0.0, "ratio"),
        "space_amp": (run.space_bytes / max(run.live_bytes, 1), "ratio"),
        "peak_rss_mb": (run.peak_rss_mb, "MB"),
        "ok_op_ratio": ((run.attempted - failed) / max(run.attempted, 1), "ratio"),
    }
    tails = {
        "commit_s_tail": {"percentile": commit_p, "n": commit_n},
        "query_s_tail": {"percentile": query_p, "n": query_n},
        "lag_s_tail": {"percentile": lag_p, "n": lag_n},
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, tails


def per_layer(run) -> dict:
    from gen import DML_KINDS
    from workloads import SHAPES

    tr = run.tracer
    sm = run.samples
    commits = tr.named("commit", "manifest")
    c_jobs = sum(s.jobs for s in commits)
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (run.get_spark_s, "s"),
        "pitr_export.read_export_s": (run.read_export_s, "s"),
        "pitr_export.items_per_s": (
            run.size["items"] / run.read_export_s if run.read_export_s else 0.0, "items/s"),
        "pitr_export.jobs": (run.read_export_jobs, "count"),
        "manifest.bootstrap_commit_s": (run.bootstrap_s - run.read_export_s, "s"),
        "manifest.commit_jobs": (median([s.jobs for s in commits]), "count"),
        "manifest.commit_tasks": (median([s.tasks for s in commits]), "count"),
        "manifest.commit_write_s": (median(sm["commit_write_s"]), "s"),
        "manifest.commit_pre_write_s": (median(sm["commit_pre_write_s"]), "s"),
        "manifest.version_read_ms": (run.version_read_final_ms, "ms"),
        "manifest.manifest_bytes": (run.manifest_bytes, "B"),
        "manifest.manifest_bytes_per_commit": (
            (run.manifest_bytes - run.manifest_bytes0) / max(run.commits, 1), "B"),
        "manifest.files_written_per_commit": (
            run.meter.files / max(run.commits, 1) if run.meter else 0.0, "count"),
        "manifest.bytes_written_per_commit": (
            run.meter.bytes / max(run.commits, 1) if run.meter else 0.0, "B"),
        "manifest.jobs_attributed_ratio": (
            sum(s.jobs_attributed for s in commits) / c_jobs if c_jobs else 0.0, "ratio"),
        "manifest.scan_files_read_ratio": (median(sm["scan_files_read_ratio"]), "ratio"),
        "manifest.delta_layers": (median(sm["delta_layers"]), "count"),
        "manifest.compactions": (len(run.compactions), "count"),
        "manifest.compact_s": (median([c["seconds"] for c in run.compactions]), "s"),
        "manifest.compact_bytes_rewritten": (
            sum(c.get("bytes", 0) for c in run.compactions), "B"),
    }
    for shape in SHAPES:
        calls = tr.named(f"sql_call.{shape}", "engine")
        collects = tr.named(f"collect.{shape}", "engine")
        m[f"engine.sql_call_s.{shape}"] = (median([s.seconds for s in calls]), "s")
        m[f"engine.collect_s.{shape}"] = (median([s.seconds for s in collects]), "s")
        m[f"engine.query_jobs.{shape}"] = (
            median([a.jobs + b.jobs for a, b in zip(calls, collects)]), "count")
    metas = list(zip(tr.named("sql_call.meta", "engine"), tr.named("collect.meta", "engine")))
    m["sql_dml.meta_zero_job_ratio"] = (
        sum(1 for a, b in metas if a.jobs + b.jobs == 0) / len(metas) if metas else 0.0,
        "ratio")
    for kind in DML_KINDS:
        spans = tr.named(f"dml.{kind}", "sql_dml")
        m[f"sql_dml.dml_s.{kind}"] = (median([s.seconds for s in spans]), "s")
        m[f"sql_dml.dml_jobs.{kind}"] = (median([s.jobs for s in spans]), "count")
    progress = run.progress
    for name, key in CDC_DURATIONS.items():
        m[f"cdc.{name}"] = (median([p["duration_ms"].get(key, 0) for p in progress]), "ms")
    m["cdc.overhead_ms_p50"] = (
        median([p["duration_ms"].get("triggerExecution", 0) - p["duration_ms"].get("addBatch", 0)
                for p in progress]), "ms")
    m["cdc.jobs_per_batch"] = (
        (run.stream_jobs or 0) / len(progress) if progress else 0.0, "count")
    m["cdc.backlog_files_max"] = (run.backlog_max, "count")
    m["loadgen.late_s_max"] = (run.late_s_max, "s")
    m["loadgen.gen_s"] = (run.gen_s, "s")
    m["trace.self_s"] = (tr.self_s, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_process = T_START - process_age_s()
    ticks0 = cpu_ticks()

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench"
    work = base / "work"
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    sys.path.insert(0, str(ROOT))

    from spans import Tracer
    from workloads import Run

    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    run = Run(args.workload, args.seed, args.seconds, work,
              Tracer(run_id, enabled=bool(args.trace)), t_process)
    try:
        run.run()
    finally:
        if hasattr(run, "spark"):
            spark = run.spark
            stamp = {
                "nproc": nproc(),
                "master": spark.sparkContext.master,
                "spark": spark.version,
                "python": platform.python_version(),
                "seed": args.seed,
                "workload": args.workload,
                "seconds": args.seconds,
                "trace": args.trace,
                **source_stamp(),
            }
            shutdown(spark)
    # share of CPU time the hypervisor gave to other guests during the
    # run: a run on a contended host reads slower on every timing
    ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]
    stamp["host_steal_pct"] = round(100.0 * ticks[7] / max(sum(ticks), 1), 2)
    e2e, tails = end_to_end(run)
    metrics = per_layer(run) if args.trace else e2e
    failed = len(run.failures)
    info = {
        "stamp": stamp,
        "tails": tails,
        "samples": {k: len(v) for k, v in run.samples.items()},
        "late_files": run.late_files,
        "phases_s": {**getattr(run, "phases", {}),
                     "shutdown": round(time.perf_counter() - t_process, 3)},
        "failures": run.failures,
    }
    if args.trace:
        out = base / "out"
        out.mkdir(exist_ok=True)
        side = out / f"trace-{args.workload}-s{args.seed}.json"
        run.tracer.dump(side, {
            "stamp": stamp, "per_layer": metrics, "e2e_traced": e2e, "tails": tails,
            "samples": run.samples,
            "version_read_ms_by_snapshots": run.version_reads,
            "compactions": run.compactions,
            "cdc_progress": run.progress,
        })
        info["side_file"] = str(side.relative_to(ROOT))
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
