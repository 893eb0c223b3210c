#!/usr/bin/env python3
"""Tracing overhead: one untraced and one traced run of the same workload
and seed, and the difference of every end-to-end metric.

    python3 perfbench/overhead.py --workload stream_lag --seed 5 --seconds 8

The traced run's end-to-end figures come from its side file
(``e2e_traced``); the untraced run's from its result line. Both runs
start fresh processes, so the difference also holds run-to-run noise:
read it next to the benchmark's own spread.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload: str, seed: int, seconds: str, trace: int) -> list[dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", seconds, "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()
    return [json.loads(out[-2]), json.loads(out[-1])]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", default="8")
    args = ap.parse_args()
    _, plain = run(args.workload, args.seed, args.seconds, 0)
    info, _ = run(args.workload, args.seed, args.seconds, 1)
    side = json.loads((ROOT / info["side_file"]).read_text())
    traced = side["e2e_traced"]
    rows = {}
    for name, m in plain["metrics"].items():
        a, b = m["value"], traced[name]["value"]
        rows[name] = {"untraced": a, "traced": b, "overhead": b - a, "unit": m["unit"],
                      "share": (b - a) / a if a else None}
    rows["trace.self_s"] = side["per_layer"]["trace.self_s"]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "overhead": rows},
                     indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
