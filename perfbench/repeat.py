"""Run the benchmark on several seeds and summarise each metric: median,
quartiles and spread (quartile distance over the median), with every run's
result line kept.

    python3 perfbench/repeat.py --workload batch_build --seeds 1-10 \
        [--seconds 1] [--trace 0] [--out summary.json]

Run from the repository root; runs are sequential.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else None,
        "n": len(values),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="1")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        run = {
            "seed": seed,
            "exit": proc.returncode,
            "wall_s": time.time() - t0,
            "context": json.loads(lines[-2])["context"] if len(lines) > 1 else None,
            "result": json.loads(lines[-1]) if lines else None,
        }
        runs.append(run)
        print(json.dumps({k: run[k] for k in ("seed", "exit", "wall_s")}),
              file=sys.stderr)
    ok = [r["result"] for r in runs if r["exit"] == 0 and r["result"]]
    metrics = sorted({m for r in ok for m in r["metrics"]})
    summary = {
        "workload": args.workload,
        "runs_ok": len(ok),
        "runs": len(runs),
        "all_correct": all(r["correct"] for r in ok) and len(ok) == len(runs),
        "metrics": {
            m: summarise([r["metrics"][m]["value"] for r in ok])
            for m in metrics
            if len(ok) >= 2
        },
        "wall_s": summarise([r["wall_s"] for r in runs]) if len(runs) >= 2 else None,
    }
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"summary": summary, "runs": runs}, f, indent=1)
    print(json.dumps(summary, indent=1))
    return 0 if summary["all_correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
