"""Round-11: connected-components must survive LARGE-DIAMETER components.

The round-11 sf1.0 sweep planted a 5000-node path component and the
one-hop min-label loop (20 rounds) silently returned wrong labels —
leakage_safe_split scattered one near-dup component across
train/val/test, exactly the contamination it exists to prevent.  Two
independent fixes are pinned here:

1. POINTER JUMPING (label-of-label each round) makes convergence
   O(log diameter) — a 5000-path needs ~14 rounds, not 5000.
2. PARQUET-SPILL iteration discipline: localCheckpoint snapshots
   ESTIMATED plan statistics, and the label self-join SQUARES the
   sizeInBytes BigInt each round (digit count doubles -> Catalyst stuck
   in million-digit BigInteger.multiply, ~4x wall per round, jstack-
   diagnosed).  Spilling each round to parquet resets stats to actual
   file size; measured flat ~1 s/round.

Non-convergence now RAISES instead of returning silently-wrong labels.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_active


def test_path_graph_converges_single_component(spark):
    # driver_solve_max=0 forces the DISTRIBUTED loop (round 12 added a
    # bounded driver union-find for provably-small edge lists; this test
    # exists to pin the loop itself)
    from polars_spark.llm import connected_components

    n = 2000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "d1 long, d2 long"
    )
    t0 = time.perf_counter()
    cc = connected_components(edges, driver_solve_max=0)
    rows = cc.collect()
    wall = time.perf_counter() - t0
    assert {r.cluster for r in rows} == {1}
    assert len(rows) == n
    # O(log D) + flat rounds: a diameter-2000 path must come nowhere near
    # the old one-hop regime (2000 rounds) or the stats blow-up (minutes)
    assert wall < 120, f"CC took {wall:.0f}s on a 2000-path"


def test_mixed_sizes_and_min_labels(spark):
    from polars_spark.llm import connected_components

    path = [(i, i + 1) for i in range(1, 600)]
    pairs = [(10_000 + 2 * i, 10_001 + 2 * i) for i in range(300)]
    edges = spark.createDataFrame(path + pairs, "d1 long, d2 long")
    cc = connected_components(edges, driver_solve_max=0).collect()
    comp = {r.doc: r.cluster for r in cc}
    assert all(comp[i] == 1 for i in range(1, 601))
    for i in range(300):
        assert comp[10_000 + 2 * i] == comp[10_001 + 2 * i] == 10_000 + 2 * i


def test_driver_fast_path_equals_distributed(spark):
    """Round 12: the bounded driver union-find (edge count <= the cap) and
    the distributed pointer-jump loop must return IDENTICAL (doc, cluster)
    rows — min-label components are unique per graph, so the two paths are
    exchangeable and either can serve any caller."""
    from polars_spark.llm import connected_components

    path = [(i, i + 1) for i in range(1, 400)]
    pairs = [(10_000 + 2 * i, 10_001 + 2 * i) for i in range(150)]
    star = [(77_000, 77_000 + i) for i in range(1, 40)]
    edges = spark.createDataFrame(path + pairs + star, "d1 long, d2 long")
    fast = {(r.doc, r.cluster) for r in connected_components(edges).collect()}
    dist = {
        (r.doc, r.cluster)
        for r in connected_components(edges, driver_solve_max=0).collect()
    }
    assert fast == dist
    # string ids through the fast path keep the column type
    sedges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "d1 string, d2 string"
    )
    out = connected_components(sedges)
    assert out.schema["doc"].dataType.simpleString() == "string"
    assert out.schema["cluster"].dataType.simpleString() == "string"
    got = {(r.doc, r.cluster) for r in out.collect()}
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}


def test_nonconvergence_raises(spark):
    from polars_spark.llm import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 200)], "d1 long, d2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2, driver_solve_max=0)


def test_giant_component_shares_one_split(spark):
    from polars_spark.llm import leakage_safe_split

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 2001)], "doc_id long, text string"
    )
    ids = list(range(1, 501))
    chain = spark.createDataFrame(
        list(zip(ids, ids[1:])), "d1 long, d2 long"
    )
    out = leakage_safe_split(
        docs, chain, id_col="doc_id",
        fractions={"train": 0.8, "val": 0.1, "test": 0.1}, seed=11,
    )
    splits = {
        r[0]
        for r in out.filter(F.col("doc_id").isin(ids)).select("split").distinct().collect()
    }
    assert len(splits) == 1, splits


def _cc_jobs(spark, pairs, **kw):
    """(labels as a set, descriptions of the jobs connected_components
    starts while building them)."""
    from polars_spark.llm import connected_components
    from tests.test_materialize import _descriptions, _group

    sc = spark.sparkContext
    with _group(sc, "cc") as group:
        cc = connected_components(pairs, **kw)
        descs = _descriptions(sc, group)
    return {(r.doc, r.cluster) for r in cc.collect()}, descs


def test_driver_path_is_one_bounded_collect(spark):
    """The driver path reads the pairs once, in one bounded collect: one
    ``connected_components:edges`` job, no size probe before it."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (9, 8), (8, 9), (8, 9)], "d1 long, d2 long"
    )
    got, descs = _cc_jobs(spark, pairs)
    assert descs == ["connected_components:edges"]
    assert got == {(1, 1), (2, 1), (3, 1), (8, 8), (9, 8)}


@pytest.mark.parametrize("rows, null_end, loop", [(6, False, False), (7, False, True), (6, True, True)])
def test_driver_solve_max_bounds_pair_rows(spark, rows, null_end, loop):
    """Exactly ``driver_solve_max`` pair rows, duplicates and both
    directions counted as given, take the driver path; one more row, or a
    null endpoint, takes the distributed loop.  Every path gives the labels
    the loop alone (driver_solve_max=0) gives."""
    data = [(1, 2), (2, 1), (2, 1), (3, 4), (5, 5), (6, 4), (4, 7)][:rows]
    if null_end:
        data[-1] = (6, None)
    pairs = spark.createDataFrame(data, "d1 long, d2 long")
    got, descs = _cc_jobs(spark, pairs, driver_solve_max=6)
    assert descs.count("connected_components:edges") == 1
    assert ("connected_components:round" in descs) is loop
    assert set(descs) <= {"connected_components:edges", "connected_components:round"}
    assert got == _cc_jobs(spark, pairs, driver_solve_max=0)[0]


# One job at every conf: a bounded limit over a multi-partition source
# could start one job per stage under AQE, or one per scale-up round of a
# CollectLimitExec.
@pytest.mark.parametrize("aqe", ["true", "false"])
@pytest.mark.parametrize("parts", ["4", "32"])
def test_driver_path_jobs_on_multi_file_source(spark, tmp_path_factory, aqe, parts):
    path = str(tmp_path_factory.getbasetemp() / "cc_pairs_32")
    if not os.path.isdir(path):
        spark.range(0, 600).selectExpr("id * 2 AS d1", "id * 2 + 1 AS d2").repartition(
            32
        ).write.parquet(path)
    s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", aqe)
    s.conf.set("spark.sql.shuffle.partitions", parts)
    try:
        got, descs = _cc_jobs(s, s.read.parquet(path))
    finally:
        make_active(spark)  # the driver path's createDataFrame made s active
    assert descs == ["connected_components:edges"]
    assert len(got) == 1200 and all(c == d - d % 2 for d, c in got)


# Jobs the distributed loop (driver_solve_max=0) starts over a 100-node path
# plus one pair at 4 shuffle partitions: 10 rounds, the last two spilled.
# The convergence flag is an Observation on each round's checkpoint or
# spill write; a separate flag scan per round cost 1 job more per round
# with AQE off and 2 with AQE on (32 and 108 jobs in all).
CC_LOOP_JOBS = {"false": 22, "true": 88}


@pytest.mark.parametrize("aqe", sorted(CC_LOOP_JOBS))
def test_loop_round_carries_its_convergence_flag(spark, aqe):
    s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", aqe)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    ids = list(range(1, 101))
    try:
        pairs = s.createDataFrame(list(zip(ids, ids[1:])) + [(1000, 1001)], "d1 long, d2 long")
        got, descs = _cc_jobs(s, pairs, driver_solve_max=0)
        driver, _ = _cc_jobs(s, pairs)
    finally:
        make_active(spark)
    assert set(descs) == {
        "connected_components:round",
        "connected_components:spill",
        "connected_components:labels",
    }
    assert len(descs) <= CC_LOOP_JOBS[aqe]
    assert got == driver == {(i, 1) for i in ids} | {(1000, 1000), (1001, 1000)}
