"""``llm.graph.pagerank`` raw ranks, pinned bit for bit (``float.hex``).

One superstep is one aggregate: the contributions unioned with a
``(node, 0.0)`` row per node, summed per node.  Before, the sum ran over
the contributions alone and a left join onto the node set filled the
nodes without in-edges with ``coalesce(in_sum, 0.0)``.  Adding 0.0 leaves
a sum unchanged, so the values below, taken from the join form, hold for
the union form too, on graphs that sum at most two terms per node.  On a
hub graph the summation order can differ; it is checked to a tolerance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.test_plan_shapes import SF_DIR

# the web_pagerank crawl graph is regular: every rank stays at 1/60
WEB_RANK = float.hex(1 / 60)

# nodes 4, 5 and 6 have no in-edges, node 7 no out-edges
HAND_EDGES = [(1, 2), (2, 3), (3, 1), (4, 1), (5, 4), (6, 2), (2, 7)]
HAND_RANKS = {
    3: {
        1: "0x1.59ba5e353f7cep-3",
        2: "0x1.c36b5fabbd4b3p-3",
        3: "0x1.11eb851eb851ep-3",
        4: "0x1.44c118de5ab28p-5",
        5: "0x1.5f15f15f15f17p-6",
        6: "0x1.5f15f15f15f17p-6",
        7: "0x1.11eb851eb851ep-3",
    },
    10: {
        1: "0x1.0b409d6e168b8p-3",
        2: "0x1.345a65a1f6a33p-3",
        3: "0x1.63fdd6a31ae94p-4",
        4: "0x1.44c118de5ab28p-5",
        5: "0x1.5f15f15f15f17p-6",
        6: "0x1.5f15f15f15f17p-6",
        7: "0x1.63fdd6a31ae94p-4",
    },
}


def _hex_ranks(edges, iters):
    from polars_spark.llm.graph import pagerank

    return {r.node: float.hex(r.rank) for r in pagerank(edges, iters=iters).collect()}


# iters=10 runs a pagerank:ranks checkpoint after round 5
@pytest.mark.parametrize("iters", [3, 10])
def test_web_pagerank_graph_ranks(spark, iters):
    d = F.col("doc_id")
    edges = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select(
            (d % 60).alias("src"),
            F.explode(F.array((d * 7 + 3) % 60, (d * 13 + 5) % 60)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    assert _hex_ranks(edges, iters) == {node: WEB_RANK for node in range(60)}


@pytest.mark.parametrize("iters", [3, 10])
def test_hand_graph_ranks(spark, iters):
    edges = spark.createDataFrame(HAND_EDGES, "src long, dst long").repartition(5)
    assert _hex_ranks(edges, iters) == HAND_RANKS[iters]


def _join_form_ranks(edges, iters, damping=0.85):
    """The superstep as a left join onto the node set, the reference."""
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).distinct()
    nodes = e.select(F.col("u").alias("node")).union(e.select("v")).distinct()
    n = nodes.count()
    out_e = e.join(e.groupBy("u").agg(F.count(F.lit(1)).alias("deg")), "u")
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        contribs = (
            out_e.join(ranks.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("in_sum"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
            ).alias("rank"),
        )
    return {r.node: r.rank for r in ranks.collect()}


def test_hub_graph_matches_join_form(spark):
    """Where a node sums many contributions, the join strategy each form
    plans fixes the summation order, so ranks may differ in the last bits
    (the join form's own ranks move with the shuffle partition count)."""
    import random

    from polars_spark.llm.graph import pagerank

    rnd = random.Random(3)
    pairs = {(rnd.randrange(300), int(rnd.paretovariate(1.2)) % 300) for _ in range(3000)}
    edges = spark.createDataFrame(sorted(pairs), "src long, dst long")
    want = _join_form_ranks(edges, 3)
    got = {r.node: r.rank for r in pagerank(edges, iters=3).collect()}
    assert got.keys() == want.keys()
    assert all(got[k] == pytest.approx(want[k], rel=1e-12, abs=0) for k in want)
