"""Isolated query probe: bench-methodology timing + per-run job decomposition.

Runs ONE registry query with exactly bench.py's methodology (sf0.001
warmup, noop-sink force, best-of-N) in a fresh session, each run in its
own job group, then reads the session's jobs from the JVM status store
and reports per run: its job count per job description (the engine names
the jobs it starts ``operator:phase``; the rest carry the run's group
name) and its job time vs GAP time (wall not covered by any running job =
driver-side planning/collect latency).  The gap number is what
distinguishes "the cluster is working" from "the driver is sequentially
planning" (guide §1.3) — e.g. the r12 sim_ivf_topk probe: 0.7s jobs /
~3.1s gaps.

Usage:
    python tools/probe_query.py [--keep-cache] <query> [sf_dir] [runs]
Env: PROBE_CPUS overrides SPARK_GRAFT_CPUS for the session.

By default the session's cache is cleared after the warm-up and after
every run, so each run starts cold.  ``--keep-cache`` clears nothing, as
perfbench's passes do: the frames an operator pins with ``cache()`` and
never releases (pagerank's edges, nodes and out-degrees) serve the next
run, so runs >= 1 reproduce perfbench's warm per-pass job counts, while
run 0 is its cold pass.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def main() -> int:
    args = sys.argv[1:]
    keep_cache = "--keep-cache" in args
    if keep_cache:
        args.remove("--keep-cache")
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    runs = int(args[2]) if len(args) > 2 else 2
    if os.environ.get("PROBE_CPUS"):
        os.environ["SPARK_GRAFT_CPUS"] = os.environ["PROBE_CPUS"]

    from perfbench.layers import Store
    from polars_spark.queries import QUERIES
    from polars_spark.session import get_spark

    spark = get_spark(f"probe_{name}")
    sc = spark.sparkContext
    fn = QUERIES[name]

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    warm = "/root/testdata/sf0.001"
    if os.path.isdir(warm):
        sc.setJobGroup(f"probe:{name}:warmup", f"probe:{name}:warmup")
        try:
            force(fn(spark, warm))
        except Exception:
            pass
        if not keep_cache:
            spark.catalog.clearCache()

    times = []
    for i in range(runs):
        sc.setJobGroup(f"probe:{name}:run{i}", f"probe:{name}:run{i}")
        t0 = time.perf_counter()
        force(fn(spark, sf_dir))
        times.append(time.perf_counter() - t0)
        if not keep_cache:
            spark.catalog.clearCache()
    store = Store(spark)
    store.drain()
    jobs = store.jobs()
    spark.stop()

    per_run: dict[str, list[dict]] = {}
    for j in jobs:
        per_run.setdefault(j.get("jobGroup") or "", []).append(j)

    out = {"query": name, "sf_dir": sf_dir, "keep_cache": keep_cache,
           "wall_runs": [round(t, 3) for t in times],
           "wall_best": round(min(times), 3)}
    decomp = {}
    for tag, group in sorted(per_run.items()):
        ivs = sorted((j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0) for j in group)
        span = max(b for _, b in ivs) - min(a for a, _ in ivs)
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in ivs:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        decomp[tag] = {
            "n_jobs": len(ivs),
            "jobs_by_description": dict(Counter(j.get("description") or "" for j in group)),
            "job_span_s": round(span, 3),
            "job_covered_s": round(covered, 3),
            "gap_in_span_s": round(span - covered, 3),
        }
    out["runs"] = decomp
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
