"""One-command per-round verification protocol (round-8 VERDICT item 7).

Runs, in order, every check the builder previously ran ad hoc, and prints
one summary block to paste into COVERAGE.md:

  1. strict oracle sweep            (tools/check.py --strict; since r11 the
     strict pass also replays the DRIVER's result canon via
     tools/driver_canon.py — any gate whose FINAL result contains
     ndarray/list/Decimal cells, or whose Spark schema contains
     Array/Map/Struct/Decimal types, fails locally the way it would fail
     or hash-diverge at the driver)
  2. empty-table sweep              (tools/check.py --empty)
  3. single-row sweep               (tools/check.py --single)
  4. all-null sweep                 (tools/check.py --allnull)
  5. determinism sweep              (tools/invariance.py)
  6. plan audit                     (tools/audit_plans.py)
  7. pytest                         (python -m pytest tests/ -q)
  8. fuzz soak (optional)           (SPARK_GRAFT_FUZZ_FRAMES=96 pytest fuzz)

Each stage is a subprocess so one Spark session's state can't leak into
the next; a stage failing does not stop the rest.  Usage:

  python tools/preflight.py [--quick] [--soak] [--full] [sf_dir]

--quick skips pytest (stages 1-6 only, ~25 min); --soak adds the 96-seed
fuzz soak (stage 8, ~40 min extra); --full adds the partition-invariance
and AQE-invariance sweeps (tools/invariance.py --conf; each re-runs the
registry twice).  Exit 0 only if every ran stage passed.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(label: str, cmd: list[str], env: dict | None = None) -> tuple[str, bool, str, float]:
    t0 = time.time()
    e = dict(os.environ)
    if env:
        e.update(env)
    p = subprocess.run(
        cmd, cwd=ROOT, env=e, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True
    )
    out = p.stdout or ""
    tail = "\n".join(out.strip().splitlines()[-3:])
    ok = p.returncode == 0
    print(f"[{'PASS' if ok else 'FAIL'}] {label} ({time.time() - t0:.0f}s)")
    if not ok:
        print("\n".join(out.strip().splitlines()[-30:]))
    return label, ok, tail, time.time() - t0


def main() -> int:
    args = sys.argv[1:]
    quick = "--quick" in args
    soak = "--soak" in args
    full = "--full" in args
    args = [a for a in args if not a.startswith("--")]
    sf = args[0] if args else "/root/testdata/sf0.01"
    py = sys.executable

    stages = [
        ("strict sweep", [py, "tools/check.py", "--strict", sf], None),
        ("empty sweep", [py, "tools/check.py", "--empty", sf], None),
        ("single-row sweep", [py, "tools/check.py", "--single", sf], None),
        ("all-null sweep", [py, "tools/check.py", "--allnull", sf], None),
        ("determinism", [py, "tools/invariance.py", sf], None),
        ("plan audit", [py, "tools/audit_plans.py", sf], None),
    ]
    if full:
        inv = [py, "tools/invariance.py", "--conf"]
        stages.append(("partition invariance", inv + ["spark.sql.shuffle.partitions=32,7", sf], None))
        stages.append(("AQE invariance", inv + ["spark.sql.adaptive.enabled=true,false", sf], None))
    if not quick:
        stages.append(("pytest", [py, "-m", "pytest", "tests/", "-q", "--tb=line"], None))
    if soak:
        stages.append(
            (
                "fuzz soak (96 seeds)",
                [py, "-m", "pytest", "-q", "--tb=line",
                 "tests/test_property_fuzz.py", "tests/test_property_fuzz2.py",
                 "tests/test_property_fuzz3.py"],
                {"SPARK_GRAFT_FUZZ_FRAMES": "96"},
            )
        )

    results = [run(label, cmd, env) for label, cmd, env in stages]

    print("\n===== preflight summary (paste into COVERAGE.md) =====")
    for label, ok, tail, dt in results:
        # compress the check.py/pytest tails into one line
        line = tail.splitlines()[-1] if tail else ""
        line = re.sub(r"\s+", " ", line).strip()
        print(f"- {label}: {'OK' if ok else 'FAIL'} ({dt:.0f}s) — {line}")
    bad = [label for label, ok, _t, _d in results if not ok]
    print(f"preflight: {len(results) - len(bad)}/{len(results)} stages green"
          + (f" — FAILING: {', '.join(bad)}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
