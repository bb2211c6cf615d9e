#!/usr/bin/env python3
"""Run the benchmark once per seed and report each end-to-end metric's
spread: median, quartiles, and the interquartile range as a share of the
median, next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload extract --seeds 0-9 --out set1.json
    python3 perfbench/steady.py --workload extract --seeds 0-9 --out set2.json \
        --compare set1.json

Run from the root of a checkout; the runs are sequential, never
concurrent, so they do not disturb each other.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def seeds_arg(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med if med else 0.0}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("0-9"))
    ap.add_argument("--out", type=Path)
    ap.add_argument("--compare", type=Path, help="an earlier --out of the same workload")
    args = ap.parse_args()
    spec = json.loads(Path("BENCHMARK.json").read_text())
    runs = []
    for seed in args.seeds:
        t0 = time.monotonic()
        proc = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        digests = [ln for ln in lines if ln.startswith("digest ")]
        runs.append({"seed": seed, "exit": proc.returncode,
                     "run_s": time.monotonic() - t0, "digests": digests, "result": result})
        print(json.dumps(runs[-1]), flush=True)
    ok = [r["result"] for r in runs if r["result"]]
    summary = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in ok]
        if len(vals) >= 2:
            summary[m["name"]] = {**spread(vals), "bound": m["bound"], "n": len(vals)}
    report = {
        "workload": args.workload,
        "all_correct": len(ok) == len(runs) and all(r["correct"] for r in ok),
        "summary": summary,
        "runs": runs,
    }
    if args.compare:
        # how much worse this set's median is than the earlier set's, as a
        # share of the earlier median (negative: better)
        first = json.loads(args.compare.read_text())["summary"]
        better = {m["name"]: m["better"] for m in spec["end_to_end"]}
        for name, s in summary.items():
            m1, m2 = first[name]["median"], s["median"]
            worse = (m2 - m1) / m1 if better[name] == "lower" else (m1 - m2) / m1
            s["worse_than_first"] = worse
            s["within_bound"] = worse <= s["bound"]
    for name, s in summary.items():
        print(f"{name:12s} median {s['median']:.4f}  iqr/median {s['iqr_share']:.4f}"
              f"  bound {s['bound']}"
              + (f"  worse than first {s['worse_than_first']:+.4f}" if args.compare else ""),
              flush=True)
    if args.out:
        args.out.write_text(json.dumps(report, indent=1))
    return 0 if report["all_correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
