#!/usr/bin/env python3
"""Paired A/B of perfbench: a base revision against the working tree.

    python3 tools/perfbench_ab.py --base HEAD~1 --workload cdc_cow_chain \\
        --pairs 10 --seed0 1001

Run from the repository root. The base revision's committed files are
exported (``git archive``) to ``.perfbench/ab/base-<sha>``; the change
is the working tree. Pair ``i`` runs both sides for the benchmark's
``run_seconds`` on seed ``seed0 + i``, each in a fresh process, and
alternates which side runs first, so a host that slows down or speeds
up mid-set costs both sides alike.

For every end-to-end metric of ``BENCHMARK.json`` it prints the base's
median and quartiles, the change's median, how many pairs the change
won, and whether the gain rule holds: the change wins at least 9 of 10
pairs (90%) and its median is better than the base's by more than the
base's interquartile range. Each run's metrics and host steal go to
``.perfbench/ab/<workload>-<seed0>.json``. A pair costs two perfbench
runs, about a minute on a 4-core host.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
AB_DIR = ROOT / ".perfbench" / "ab"


def export(rev: str) -> Path:
    """The committed files of ``rev``, unpacked once under AB_DIR."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{rev}^{{commit}}"],
        cwd=ROOT, check=True, capture_output=True, text=True,
    ).stdout.strip()
    dest = AB_DIR / f"base-{sha[:12]}"
    if not dest.exists():
        AB_DIR.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=AB_DIR) as tmp:
            tar = Path(tmp) / "src.tar"
            subprocess.run(
                ["git", "archive", "--output", str(tar), sha],
                cwd=ROOT, check=True,
            )
            with tarfile.open(tar) as tf:
                tf.extractall(Path(tmp) / "tree", filter="data")
            (Path(tmp) / "tree").rename(dest)
    return dest


def run_once(tree: Path, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run in ``tree``: its metric values, the
    failure count and the host's steal share."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(
            f"perfbench failed in {tree} (seed {seed}):\n{proc.stderr[-2000:]}"
        )
    info, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "failed": result["failed"],
        "steal_pct": info["stamp"].get("host_steal_pct"),
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs: list[dict], end_to_end: list[dict]) -> list[dict]:
    """Per metric: base median and quartiles, change median, change
    wins, and whether the gain rule holds."""
    rows = []
    n = len(pairs)
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        base = [p["base"]["metrics"][name] for p in pairs]
        head = [p["head"]["metrics"][name] for p in pairs]
        q1, bmed, q3 = quartiles(base)
        hmed = statistics.median(head)
        wins = sum((h < b) if lower else (h > b) for b, h in zip(base, head))
        gap = (bmed - hmed) if lower else (hmed - bmed)
        rows.append({
            "metric": name,
            "base_median": bmed,
            "base_q1": q1,
            "base_q3": q3,
            "head_median": hmed,
            "change_pct": 100.0 * (hmed - bmed) / bmed if bmed else 0.0,
            "wins": wins,
            "pairs": n,
            "gain_holds": wins >= 0.9 * n and gap > q3 - q1,
        })
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="git revision of the base side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    args = ap.parse_args(argv)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    trees = {"base": export(args.base), "head": ROOT}
    pairs = []
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("base", "head") if i % 2 == 0 else ("head", "base")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(trees[side], args.workload, seed, bench["run_seconds"])
        pairs.append(pair)
        print(
            f"pair {i + 1}/{args.pairs} seed {seed} ({order[0]} first): "
            f"failed {pair['base']['failed']}/{pair['head']['failed']}, steal "
            f"{pair['base']['steal_pct']}/{pair['head']['steal_pct']}%",
            flush=True,
        )
    rows = summarize(pairs, bench["end_to_end"])
    out = AB_DIR / f"{args.workload}-{args.seed0}.json"
    AB_DIR.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({"args": vars(args), "pairs": pairs, "summary": rows}, indent=1))
    print(f"{'metric':<20}{'base med':>11}{'[q1':>11}{'q3]':>10}"
          f"{'change':>11}{'delta':>9}{'wins':>7}  gain")
    for r in rows:
        print(
            f"{r['metric']:<20}{r['base_median']:>11.4g}{r['base_q1']:>11.4g}"
            f"{r['base_q3']:>10.4g}{r['head_median']:>11.4g}"
            f"{r['change_pct']:>+8.1f}%{r['wins']:>4}/{r['pairs']:<2} "
            f"{'yes' if r['gain_holds'] else 'no'}"
        )
    print(f"runs: {out.relative_to(ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
