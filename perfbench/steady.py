"""Steadiness check: run one workload N times, each with another seed, and
print every metric's median, quartiles and quartile spread (q3 - q1) / median.

    python3 perfbench/steady.py --workload NAME [--runs 10] [--first-seed 1] [--out results.jsonl]

Runs are sequential, each in a fresh process, from the checkout root, with
BENCHMARK.json's ``run_seconds``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

from stats import quartile_spread

HERE = Path(__file__).resolve().parent


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="append each run's result line to this file")
    args = ap.parse_args()
    seconds = json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]
    results = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"]
        proc = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True, timeout=900)
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"seed {seed}: exit code {proc.returncode}")
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        results.append(res)
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, **res}) + "\n")
    print(f"failed/attempted: {sorted({(r['failed'], r['attempted']) for r in results})}; "
          f"correct: {all(r['correct'] for r in results)}")
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        med, q1, q3, spread = quartile_spread(values)
        print(f"{name:28s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  spread {spread:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
