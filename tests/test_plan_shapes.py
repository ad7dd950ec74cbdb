"""Plan-shape regression pins for the heaviest bench queries (VERDICT r6
item 3).  Wall-clock on a shared box is unfalsifiable (dedup_minhash_lsh
swung 2.12x between driver rounds with UNTOUCHED code); plan shape is not.
These tests freeze, per query: a ceiling on exchange (shuffle) count, the
allowed join strategies, and the absence of the three 100-TB killers —
non-scalar SinglePartition exchanges, row-at-a-time Python UDFs
(BatchEvalPython), and Catalyst-synthesized cartesian products.

Ceilings are the r7 plan's count (pinned exact at capture time) — a DROP
is fine; growth past the ceiling means a new shuffle crept into the plan
and must be justified here.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.audit_plans import JOINS, single_partition_hazards  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

# query -> (max exchanges, allowed join strategies)
# BNLJ in txt_bm25_topk is the single-row corpus-stats broadcast (scalar,
# not a data-sized nested loop).
# r12 re-pin: txt_bm25_topk 18 -> 20.  n_docs moved from a construction-time
# corpus.count() (a full corpus pass INVISIBLE to this plan) into the 1-row
# broadcast stats aggregate — the two new exchanges are that scalar agg's
# SinglePartition exchange + its BroadcastExchange, both 1-row, in trade for
# one fewer full corpus scan per call.
PINS = {
    "dedup_minhash_lsh": (8, {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"}),
    "dedup_embedding_cosine": (11, {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"}),
    "sim_ivf_topk": (4, {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"}),
    "txt_bm25_topk": (
        20,
        {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin"},
    ),
    "web_pagerank": (65, {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"}),
}


@pytest.fixture(scope="module")
def plans(spark):
    from polars_spark.queries import QUERIES

    # fresh SQLConf: other tests in a shared-session run may have toggled
    # planner confs (broadcast thresholds, AQE knobs) — the pins measure
    # THE ENGINE's plans, not leftover test state.  The cacheManager is
    # SHARED state even across newSession: an earlier test's leftover
    # .cache() substitutes InMemoryRelation into matching subplans and
    # shifts exchange counts — measure the cold plan.
    s = spark.newSession()
    s.catalog.clearCache()
    # the shared test session runs shuffle.partitions=1 for wall-time (AQE
    # coalesces to 1 at test scale anyway), but THIS module audits scale
    # shape: at 1, every repartition(col) legitimately plans as an Exchange
    # SinglePartition and the hazard scan can't tell it from a real killer.
    # Pin the audit at a multi-partition conf (per-session, restored free).
    s.conf.set("spark.sql.shuffle.partitions", "4")
    out = {}
    for name in PINS:
        df = QUERIES[name](s, SF_DIR)
        out[name] = df._jdf.queryExecution().executedPlan().toString()
    return out


@pytest.mark.parametrize("name", sorted(PINS))
def test_no_scale_killers(plans, name):
    plan = plans[name]
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    hazards = single_partition_hazards(plan)
    assert not hazards, f"{name}: non-scalar SinglePartition exchanges: {hazards[:2]}"


@pytest.mark.parametrize("name", sorted(PINS))
def test_exchange_ceiling(plans, name):
    max_exch, _allowed = PINS[name]
    got = plans[name].count("Exchange ")
    assert got <= max_exch, (
        f"{name}: {got} exchanges > pinned ceiling {max_exch} — a new shuffle "
        "entered the plan; justify and re-pin or fix"
    )


@pytest.mark.parametrize("name", sorted(PINS))
def test_join_strategies(plans, name):
    _max, allowed = PINS[name]
    got = {j for j in JOINS if j in plans[name]}
    assert got <= allowed, f"{name}: unexpected join strategies {got - allowed}"


# query -> ceiling on the Spark jobs one build + noop write starts, at the
# test session's confs (shuffle.partitions=1, AQE off), pinned exact.  A
# scan_parquet of a local file passes Spark the footer schema and starts no
# job; a scan that fell back to schema inference would add one job per scan
# (q5 makes six).  The three curation queries count their eager checkpoints
# and driver collects, which _materialize/_job name without adding a job.
JOB_PINS = {
    "dedup_minhash_star": 5,
    "q1_pricing_summary": 1,
    "q5_local_supplier_volume": 5,
    "q6_forecast_revenue": 1,
    "join_asof_backward": 1,
    "sim_ivf_topk": 6,
    "web_pagerank": 5,
}
# the curation queries again with AQE on over 4 shuffle partitions, where
# every shuffle stage is a job of its own, so a stage a superstep or a
# probe adds shows here even when it is no job of its own with AQE off.
# pagerank's node count is one RDD count (_count), not an aggregate whose
# exchange is a job, and its first superstep broadcasts nothing.
AQE_JOB_PINS = {"dedup_minhash_star": 11, "sim_ivf_topk": 10, "web_pagerank": 17}


def _build_jobs(spark, name, **conf) -> int:
    """Jobs one cold build + noop write of ``name`` starts.  The frames it
    pins are dropped after, and ``spark`` is the active session again: the
    cache manager is shared by every session, and a pin or an active session
    planned under ``conf`` would run under it in later tests."""
    import uuid

    from polars_spark.queries import QUERIES
    from tests.conftest import make_active

    s = spark.newSession()
    s.catalog.clearCache()
    for k, v in conf.items():
        s.conf.set(k, v)
    sc = spark.sparkContext
    group = f"job-ceiling-{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        QUERIES[name](s, SF_DIR).write.format("noop").mode("overwrite").save()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        s.catalog.clearCache()
        make_active(spark)


@pytest.mark.parametrize("name", sorted(JOB_PINS))
def test_job_ceiling(spark, name):
    got = _build_jobs(spark, name)
    assert got <= JOB_PINS[name], (
        f"{name}: {got} jobs > pinned ceiling {JOB_PINS[name]} — a new eager "
        "job or an inferring scan entered the query; justify and re-pin or fix"
    )


@pytest.mark.parametrize("name", sorted(AQE_JOB_PINS))
def test_job_ceiling_aqe(spark, name):
    got = _build_jobs(
        spark, name,
        **{"spark.sql.adaptive.enabled": "true", "spark.sql.shuffle.partitions": "4"},
    )
    assert got <= AQE_JOB_PINS[name], (
        f"{name}: {got} jobs > pinned AQE ceiling {AQE_JOB_PINS[name]} — a new "
        "eager job or shuffle stage entered the query; justify and re-pin or fix"
    )
