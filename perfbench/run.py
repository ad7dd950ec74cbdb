"""Run one benchmark workload in a fresh Spark session and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One Python thread drives the workload's registry queries back to back
(closed loop, one client) on ``local[nproc]``:

1. set-up: start the session, then one cold pass over the workload.  The
   cold pass collects each query's result and checks it against DuckDB
   running the query's oracle SQL; the comparison is outside every metric;
2. timed passes, each in a seed-permuted query order, until ``--seconds``
   have passed and the workload's minimum number of passes is done.  A
   traced run alternates untraced and traced passes (u t u ...), so traced
   passes sit between untraced ones.

Each query runs in a job group of its own, so jobs, stages and shuffle
bytes are read back per query from the JVM status store.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(1, str(ROOT))

import datagen  # noqa: E402
import oracle  # noqa: E402
from layers import (  # noqa: E402
    CpuMeter,
    Store,
    Tracer,
    group_records,
    host_steal_s,
    peak_rss_mb,
    phase_s,
    process_start_epoch,
    stage_sums,
    tree_pids,
)
from stats import clip, median_index, sum_of_medians, union_length  # noqa: E402

STATE = ROOT / ".perfbench"  # generated inputs, oracle answers, per-run directories
COLD = -1  # pass index of the cold pass; timed passes count from 0

SF = 0.1  # every workload reads the sf0.1 test tables
# name -> (registry queries, minimum timed passes).  Why each workload exists
# is written next to its name in BENCHMARK.json and in README.md; the minimum
# keeps the number of passes the same in every run.
WORKLOADS: dict[str, tuple[list[str], int]] = {
    "relational_sf0.1": (
        ["q1_pricing_summary", "q5_local_supplier_volume", "q6_forecast_revenue", "join_asof_backward"],
        3,
    ),
    "curation_sf0.1": (["dedup_minhash_star", "sim_ivf_topk", "web_pagerank"], 2),
}


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - process_start_epoch():7.2f}s] {msg}", file=sys.stderr, flush=True)


def ensure_inputs() -> tuple[str, float]:
    """The generated sf0.1 input tables; built once per checkout and reused.

    Rebuilt when the generator's source changes; a build whose bytes differ
    from the sf0.1 test tables stops the run.  Returns the directory and the
    time the build took (reported apart from set-up)."""
    version = hashlib.sha256((HERE / "datagen.py").read_bytes()).hexdigest()[:16]
    out = STATE / f"inputs-sf{SF}"
    manifest = out / "manifest.json"
    if manifest.exists():
        m = json.loads(manifest.read_text())
        if m.get("version") == version:
            return str(out), m["build_s"]
    log(f"building inputs in {out}")
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    datagen.write_tables(str(out), SF)
    build_s = time.perf_counter() - t0
    bad = datagen.mismatched(str(out))
    if bad:
        raise SystemExit(f"generated {bad} differ from the sf0.1 test tables")
    manifest.write_text(json.dumps({"version": version, "build_s": build_s}))
    return str(out), build_s


def session_settings(run_dir: Path) -> dict[str, str]:
    """Environment and Spark conf for the run, the same on every commit."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:")) // 1024
    heap_mb = min(4096, mem_mb // 4)
    local, tmp, warehouse = (run_dir / d for d in ("local", "tmp", "warehouse"))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_LOCAL_DIRS": str(local),
            "SPARK_GRAFT_WAREHOUSE": str(warehouse),
            "TMPDIR": str(tmp),
            "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",  # spark-submit's own JVM
            # Python workers import polars_spark from the checkout
            "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        }
    )
    return {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(warehouse),
        # no hsperfdata file: the JVM would write it under /tmp whatever the tmpdir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of the run; records are keyed by job group
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
    }


class Bench:
    def __init__(self, spark, inputs: str, queries: list[str], seed: int, inspect: bool):
        from polars_spark.queries import QUERIES

        self.spark, self.inputs, self.queries = spark, inputs, queries
        self.registry = QUERIES
        self.sc = spark.sparkContext
        self.rng = random.Random(seed)
        self.store = Store(spark)
        self.inspect = inspect  # traced run: also read pass-level JVM state
        self.cpu = CpuMeter(os.getpid(), self.store.jvm_pid)
        self.records: list[dict] = []
        self.passes: list[dict] = []
        self.failures: dict[str, str] = {}

    def fail(self, name: str, why: str) -> None:
        log(f"query {name} failed: {why}")
        self.failures.setdefault(name, why.strip().splitlines()[-1])

    def run_pass(self, idx: int, tracer: Tracer | None = None) -> float:
        """One pass in a seed-permuted order; the cold pass also collects and
        checks each result.  Returns the summed query walls."""
        order = list(self.queries)
        self.rng.shuffle(order)
        info = {"pass": idx, "traced": tracer is not None}
        gc0, jit0 = (self.store.jvm_gc_s(), self.cpu.jit_s()) if self.inspect else (0.0, 0.0)
        if tracer:
            tracer.listen(True)
        for name in order:
            self.run_query(name, idx, tracer)
        if tracer:
            tracer.listen(False)
        if self.inspect:
            info["gc_s"] = self.store.jvm_gc_s() - gc0
            info["jit_s"] = self.cpu.jit_s() - jit0
            info["cached_mb"] = self.store.cached_mb()
        self.passes.append(info)
        return sum(r["wall"] for r in self.records if r["pass"] == idx)

    def run_query(self, name: str, idx: int, tracer: Tracer | None) -> None:
        group = f"{idx}:{name}"
        self.sc.setJobGroup(group, group)
        cpu0 = self.cpu.work_s()
        if tracer:
            tracer.begin()
        e0, t0 = time.time(), time.perf_counter()
        try:
            df = self.registry[name](self.spark, self.inputs)
            t1, e1 = time.perf_counter(), time.time()
            if idx == COLD:
                got = oracle.spark_frame(df)
            else:
                df.write.format("noop").mode("overwrite").save()
        except Exception:  # a failing query is counted and named, and the run goes on
            if tracer:
                tracer.end()
            self.fail(name, traceback.format_exc())
            return
        t2, e2 = time.perf_counter(), time.time()
        cpu1 = self.cpu.work_s()
        rec = {
            "name": name, "pass": idx, "group": group, "traced": tracer is not None,
            "wall": t2 - t0, "build": t1 - t0, "force": t2 - t1, "cpu": cpu1 - cpu0,
            "e0": e0, "e1": e1, "e2": e2,
        }
        if tracer:
            spans, phases = tracer.end()
            self.store.drain()  # the listener's Catalyst events for this query
            rec["spans"], rec["phases"] = list(spans), list(phases)
            # the write's plan arrives analyzed; the returned frame's tracker holds that step
            rec["analysis"] = phase_s(df._jdf.queryExecution().tracker().phases().get("analysis"))
        self.records.append(rec)
        if idx == COLD:
            self.check(name, got)

    def check(self, name: str, got) -> None:
        """Compare a collected result with DuckDB's answer to the query's oracle SQL."""
        from polars_spark.queries import ORACLE_SQL

        sql = ORACLE_SQL.get(name)
        if sql is None:
            self.fail(name, "no oracle SQL to check against")
            return
        try:
            problems = oracle.problems(name, got, oracle.oracle_frame(self.inputs, datagen.TABLES, name, sql))
        except Exception:  # a failing check is counted and named, and the run goes on
            self.fail(name, traceback.format_exc())
            return
        if problems:
            self.fail(name, "wrong result: " + "; ".join(problems))


def per_query(records: list[dict], key) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in records:
        out.setdefault(r["name"], []).append(key(r))
    return out


def layer_values(rec: dict, grp: dict) -> dict[str, float]:
    """One traced execution split into layers.  Jobs belong to a span when
    submitted inside it (job times are whole milliseconds)."""
    jobs = grp["jobs"]
    spans = rec["spans"]

    def inside(kind: str) -> int:
        return sum(
            1 for _, sub, _ in jobs for k, a, b in spans if k == kind and math.floor(a * 1000) / 1000 <= sub <= b
        )

    def span_s(kind: str) -> float:
        return sum(b - a for k, a, b in spans if k == kind)

    covered = union_length(clip([(s, e) for _, s, e in jobs], rec["e0"], rec["e2"]))
    vals = {
        "plans.build_s": rec["build"],
        "plans.build_jobs": float(sum(1 for _, sub, _ in jobs if sub <= rec["e1"])),
        "sources.scan_calls": float(sum(1 for k, _, _ in spans if k == "scan")),
        "sources.scan_s": span_s("scan"),
        "sources.scan_jobs": float(inside("scan")),
        "materialize.calls": float(sum(1 for k, _, _ in spans if k == "materialize")),
        "materialize.s": span_s("materialize"),
        "materialize.jobs": float(inside("materialize")),
        "force.s": rec["force"],
        "jobs.started": float(len(jobs)),
        "jobs.covered_s": covered,
        "driver.gap_s": rec["wall"] - covered,
        "trace.wall_s": rec["wall"],
    }
    for phase in ("analysis", "optimization", "planning"):
        vals[f"catalyst.{phase}_s"] = sum(p[phase] for p in rec["phases"])
    vals["catalyst.analysis_s"] += rec["analysis"]
    vals.update(stage_sums(grp["stages"]))
    return vals


def end_to_end(groups: dict, timed: list[dict], setup_s: float) -> dict:
    jobs = per_query(timed, lambda r: len(groups[r["group"]]["jobs"]))
    shuffle = per_query(
        timed, lambda r: stage_sums(groups[r["group"]]["stages"])["executor.shuffle_write_mb"]
    )
    return {
        "setup_s": setup_s,
        "cpu_s": sum_of_medians(per_query(timed, lambda r: r["cpu"])),
        "jobs": sum_of_medians(jobs),
        "shuffle_mb": sum_of_medians(shuffle),
    }


def per_layer(
    bench: Bench, groups: dict, timed: list[dict], cold_jobs: float, extra: dict
) -> tuple[dict[str, float], list[str]]:
    traced = [r for r in timed if r["traced"]]
    plain = [r for r in timed if not r["traced"]]
    totals: dict[str, float] = {}
    for name, recs in per_query(traced, lambda r: r).items():
        rec = recs[median_index([r["wall"] for r in recs])]
        for k, v in layer_values(rec, groups[rec["group"]]).items():
            totals[k] = totals.get(k, 0.0) + v
    cores = len(os.sched_getaffinity(0))
    busy = totals["jobs.covered_s"] * cores
    totals["executor.core_util"] = totals["executor.run_s"] / busy if busy else 0.0
    totals["wall_s"] = sum_of_medians(per_query(plain, lambda r: r["wall"]))
    totals["trace.overhead_s"] = totals["trace.wall_s"] - totals["wall_s"]
    timed_passes = [p for p in bench.passes if p["pass"] >= 0]
    totals["storage.cached_mb"] = timed_passes[-1]["cached_mb"]
    totals["storage.growth_mb"] = timed_passes[-1]["cached_mb"] - timed_passes[0]["cached_mb"]
    totals["jvm.gc_s"] = statistics.median(p["gc_s"] for p in timed_passes if p["traced"])
    totals["jvm.jit_cpu_s"] = statistics.median(p["jit_s"] for p in timed_passes if p["traced"])
    totals["jvm.peak_rss_mb"] = peak_rss_mb(bench.store.jvm_pid)
    totals["setup.cold_jobs"] = cold_jobs
    totals.update(extra)
    # tracing must not change the work done: each traced execution starts as
    # many jobs as an untraced one of the same query (set membership, not
    # medians, since an untraced pass may itself differ now and then)
    count = lambda r: len(groups[r["group"]]["jobs"])  # noqa: E731
    j_traced, j_plain = per_query(traced, count), per_query(plain, count)
    bad = [n for n, seen in j_traced.items() if not set(seen) <= set(j_plain.get(n, ()))]
    return totals, bad


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    queries, min_passes = WORKLOADS[args.workload]
    try:
        from polars_spark.session import get_spark
    except ImportError as exc:
        log(f"cannot import the engine from {ROOT}: {exc}")
        return 2

    t_in = time.time()
    inputs, build_s = ensure_inputs()
    t_in = time.time() - t_in
    for old in STATE.glob("run-*"):  # left by a run that was killed
        if not os.path.exists(f"/proc/{old.name[4:]}"):
            shutil.rmtree(old, ignore_errors=True)
    run_dir = STATE / f"run-{os.getpid()}"
    conf = session_settings(run_dir)
    for d in ("local", "tmp", "warehouse"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    spark = None
    try:
        spark = get_spark("perfbench", **conf)
        session_s = time.time() - t_proc - t_in
        bench = Bench(spark, inputs, queries, args.seed, inspect=bool(args.trace))
        cold_s = bench.run_pass(COLD)
        walls = " ".join(f"{r['name']}={r['build']:.2f}+{r['force']:.2f}" for r in bench.records)
        log(f"session {session_s:.2f}s, cold pass {cold_s:.2f}s (build+collect)  {walls}")
        tracer = Tracer(spark) if args.trace else None
        if tracer:
            tracer.install()
        n, t0, steal0 = 0, time.perf_counter(), host_steal_s()
        while n < min_passes or time.perf_counter() - t0 < args.seconds:
            # traced passes sit between untraced ones (u t u ...), so both
            # kinds are about equally far into the run
            pass_s = bench.run_pass(n, tracer if tracer and n % 2 == 1 else None)
            walls = " ".join(f"{r['name']}={r['wall']:.2f}" for r in bench.records if r["pass"] == n)
            log(f"pass {n}: {pass_s:.2f}s  {walls}")
            n += 1
        timed_s = time.perf_counter() - t0
        log(f"{n} timed passes in {timed_s:.2f}s; host steal {host_steal_s() - steal0:.2f} CPU-s")
        if tracer:
            tracer.uninstall()
        bench.store.drain()
        groups = group_records(bench.store.jobs(), bench.store.stages())
        timed = [r for r in bench.records if r["pass"] >= 0 and r["name"] not in bench.failures]
        cold = [r for r in bench.records if r["pass"] == COLD]
        warm = per_query([r for r in timed if not r["traced"]], lambda r: r["wall"])
        jobs = per_query(bench.records, lambda r: len(groups[r["group"]]["jobs"]))
        for r in cold:
            log(f"{r['name']}: cold {r['wall']:.2f}s, warm median {statistics.median(warm.get(r['name'], [0])):.2f}s, "
                f"jobs per pass {jobs[r['name']]}")
        correct = bool(timed) and not bench.failures
        if args.trace:
            cold_jobs = float(sum(len(groups[r["group"]]["jobs"]) for r in cold))
            extra = {"session.start_s": session_s, "setup.cold_pass_s": cold_s, "inputs.build_s": build_s}
            values, bad = per_layer(bench, groups, timed, cold_jobs, extra)
            if bad:
                log(f"traced passes started a different number of jobs than untraced ones: {bad}")
                correct = False
        else:
            values = end_to_end(groups, timed, session_s + cold_s)
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    log("stopped")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, why in sorted(bench.failures.items()):
        print(f"FAILED {name}: {why}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": len(queries) * n,
                "failed": len(bench.failures) * n,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(values.items())},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
