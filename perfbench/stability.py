#!/usr/bin/env python3
"""Tracing overhead and count stability of the traced run.

    python3 perfbench/stability.py --seed 1 [WORKLOAD ...]

For each workload (all three by default) this runs ``run.py`` once
untraced and twice traced with the same seed, then prints one JSON line
per workload with

- ``overhead_s``: traced minus untraced ``cold_pass_s`` (the mean of
  the two traced passes against the one untraced pass);
- ``counts_equal``: whether every ``queries.build_jobs.<q>``,
  ``spark.tasks.<q>`` and ``streaming.<j>.triggers`` of the workload
  repeats exactly across the two traced runs, and the ones that differ.

Exits 1 when a run fails or a count differs.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import MEASURED, STREAM_JOBS, WORKLOADS, invoke  # noqa: E402

COUNT_PREFIXES = ("queries.build_jobs.", "spark.tasks.")


def run_once(workload: str, seed: int, trace: int) -> dict:
    result = invoke(workload, seed, trace)
    if result["failed"]:
        raise SystemExit(f"{workload} trace={trace}: {result['failed']} ops failed")
    return {k: v["value"] for k, v in result["metrics"].items()}


def count_names(workload: str) -> list[str]:
    queries = WORKLOADS[workload]["queries"]
    names = [p + q for q in queries for p in COUNT_PREFIXES]
    if not queries:
        names = [f"streaming.{j}.triggers" for j in STREAM_JOBS]
    return names


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="*", default=list(MEASURED))
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    ok = True
    for w in args.workloads:
        plain = run_once(w, args.seed, 0)
        traced = [run_once(w, args.seed, 1) for _ in range(2)]
        names = count_names(w)
        differ = {n: [t[n] for t in traced] for n in names if traced[0][n] != traced[1][n]}
        ok &= not differ
        mean_traced = sum(t["trace.cold_pass_s"] for t in traced) / 2
        print(json.dumps({
            "workload": w, "seed": args.seed,
            "untraced_cold_pass_s": plain["cold_pass_s"],
            "traced_cold_pass_s": [t["trace.cold_pass_s"] for t in traced],
            "overhead_s": mean_traced - plain["cold_pass_s"],
            "overhead_share": mean_traced / plain["cold_pass_s"] - 1,
            "counts_checked": len(names), "counts_equal": not differ, "differ": differ,
            "counts": {n: traced[0][n] for n in names},
        }), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
