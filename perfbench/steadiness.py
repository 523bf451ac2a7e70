"""Run the benchmark several times per workload and report each end-to-end
metric's median, quartiles and spread (inter-quartile range over median).

    python3 perfbench/steadiness.py --workloads repl_backfill,query_mix \
        --seeds 1-10 [--seconds 12] [--out results.json]

Each run is an untraced fresh process with its own seed; the runs of one
workload are made back to back.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> "list[int]":
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def one_run(workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.monotonic()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.monotonic() - t
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}: "
                           f"{out.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    # run.py's stderr summary of every number it collected
    for line in out.stderr.splitlines():
        if line.startswith("perfbench: {"):
            res["detail"] = json.loads(line[len("perfbench: "):])
    return res


def summarize(values: "list[float]") -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2,
            "n": len(values)}


def main(argv) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    report = {}
    for wl in args.workloads.split(","):
        runs = [one_run(wl, s, args.seconds) for s in seeds(args.seeds)]
        metrics = {}
        for name in runs[0]["metrics"]:
            metrics[name] = summarize([r["metrics"][name]["value"] for r in runs])
        report[wl] = {
            "metrics": metrics,
            "all_correct": all(r["correct"] for r in runs),
            "wall_s": [round(r["wall_s"], 1) for r in runs],
            "values": {n: [r["metrics"][n]["value"] for r in runs] for n in metrics},
            "detail": [r.get("detail", {}) for r in runs],
        }
        for name, m in metrics.items():
            print(f"{wl:14s} {name:18s} median {m['median']:12.4f}  "
                  f"spread {m['spread']:.4f}", flush=True)
        print(f"{wl:14s} run wall s {report[wl]['wall_s']}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
