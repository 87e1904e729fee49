"""Steadiness evidence for the benchmark.

    python3 flightbench/steadiness.py spread --workload daily_batch --seeds 1 2 3 --out flightbench/evidence/x.json
    python3 flightbench/steadiness.py warmup --workload daily_batch --seed 1 --seconds 90 --out flightbench/evidence/y.json

`spread` runs the benchmark once per seed and records, per end-to-end
metric, the ten values, their median and the distance between the first
and third quartile (`statistics.quantiles(values, n=4)`) as a share of the
median. `warmup` runs one long measurement and records every op's latency
in order, which shows how many ops it takes for timings to settle.
Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUN = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")]


def run_once(workload: str, seed: int, seconds: float) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        [*RUN, "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, check=True,
    )
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    steal = next((float(w.split("=")[1]) for w in lines[-2].split() if w.startswith("steal_pct=")), None)
    lists = {
        key: json.loads(line.split("=", 1)[1])
        for line in p.stderr.splitlines()
        for key in ("warmup_ms", "latencies_ms")
        if line.startswith(key + "=")
    }
    return {"seed": seed, "wall_s": round(time.perf_counter() - t0, 1), "steal_pct": steal, "result": out, **lists}


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("spread", "warmup"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="*", default=[])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    if args.mode == "warmup":
        r = run_once(args.workload, args.seed, args.seconds)
        report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, **r}
    else:
        runs = [run_once(args.workload, s, args.seconds) for s in args.seeds]
        names = list(runs[0]["result"]["metrics"])
        metrics = {}
        for name in names:
            values = [r["result"]["metrics"][name]["value"] for r in runs]
            metrics[name] = {"values": values, "median": statistics.median(values),
                             "iqr_share": spread(values) if len(values) > 1 else None}
        report = {
            "workload": args.workload, "seconds": args.seconds, "seeds": args.seeds,
            "all_correct": all(r["result"]["correct"] for r in runs),
            "metrics": metrics,
            "runs": [{k: v for k, v in r.items() if k != "result"} for r in runs],
        }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({k: v for k, v in report.items() if k in ("workload", "all_correct", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
