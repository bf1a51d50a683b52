#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise its steadiness.

    python3 perfbench/spread.py --workload lake_queries --seeds 1 2 3 4 5 \
        [--traced-seed 1] [--out perfbench/results/lake_queries.json]

For every end-to-end metric: the median, the quartiles and the spread
(distance between the first and third quartile over the median, as
``statistics.quantiles(values, n=4)`` gives them) over the seeds.  With
``--traced-seed`` one traced run follows; its per-layer metrics, its full
report (per-step spans, per-key build/execute split) and the tracing
overhead -- each end-to-end metric of the traced run next to the
untraced median, with their ratio -- are added to the summary.
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


def bench(workload: str, seed: int, trace: int, seconds: int, detail: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if detail:
        cmd += ["--detail", detail]
    t0 = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, check=True)
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    out["run_wall_s"] = time.time() - t0
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=None,
                    help="run length; default: run_seconds of BENCHMARK.json")
    ap.add_argument("--traced-seed", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]

    runs = [bench(args.workload, s, 0, seconds) for s in args.seeds]
    summary = {"workload": args.workload, "seeds": args.seeds, "seconds": seconds,
               "run_wall_s": [r["run_wall_s"] for r in runs],
               "failed": [r["failed"] for r in runs], "metrics": {}}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
        summary["metrics"][m["name"]] = {
            "unit": m["unit"], "median": statistics.median(vals), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(vals), "bound": m["bound"],
            "values": vals,
        }
    for name, m in summary["metrics"].items():
        print(f"{name:14s} median {m['median']:10.4f} {m['unit']:4s} spread {m['spread']:.3f}"
              f" (bound {m['bound']})")
    print(f"run wall s: {[round(t, 1) for t in summary['run_wall_s']]}")

    if args.traced_seed is not None:
        detail = os.path.join(".perfbench_work", f"detail-{args.workload}-{os.getpid()}.json")
        os.makedirs(".perfbench_work", exist_ok=True)
        traced = bench(args.workload, args.traced_seed, 1, seconds, detail)
        with open(detail) as fh:
            summary["traced_detail"] = json.load(fh)
        os.remove(detail)
        summary["per_layer"] = {k: v["value"] for k, v in traced["metrics"].items()}
        summary["overhead"] = {}
        for name, m in summary["metrics"].items():
            t = summary["per_layer"][f"traced.{name}"]
            summary["overhead"][name] = {"traced": t, "untraced_median": m["median"],
                                         "ratio": t / m["median"]}
            print(f"traced {name:14s} {t:10.4f} vs {m['median']:10.4f}: x{t / m['median']:.3f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
