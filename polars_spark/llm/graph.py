"""Link-graph analysis over the crawl graph (src -> dst edges, e.g. the
output of ``llm.web.extract_links`` + ``registered_domain``).

Web-curation pipelines use link-graph centrality as a document/domain
quality prior (Common Crawl publishes harmonic-centrality and PageRank-style
host rankings; curated corpora weight or filter by them).  The operators
here are the dataframe-native Pregel shape: one join + one keyed
aggregation per superstep (messages unioned with a zero message per node,
so the aggregate alone yields every node's new state; the first superstep
needs no join, every node holding the same start rank), ``localCheckpoint``
every few rounds to truncate lineage — the same iteration discipline as
``llm.connected_components``.

Scale notes (100 TB / 10^9-node graphs): every iteration after the first
shuffles ranks once on src for the edge join, and every iteration shuffles
the messages once on node id — no driver materialization of nodes or edges
beyond one scalar count (``_count``); AQE handles hub
skew (a giant in-degree node is one hot reduce key — classic salting
territory if it ever dominates; documented, not pre-salted, since rank
aggregation is a plain sum and AQE skew-split already applies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from polars_spark.llm import _count, _materialize

__all__ = ["pagerank", "degree_stats"]

_CHECKPOINT_EVERY = 5  # pagerank rounds between lineage cuts


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a directed edge list -> (node, rank).

    Plain power iteration with uniform teleport: every node starts at
    ``1/N``; each round a node sends ``rank/out_degree`` along its edges and
    receives ``(1-d)/N + d * sum(incoming)``.  Nodes without outlinks
    (dangling) keep sending nothing — their mass leaks to the teleport term,
    the standard simplification when ranks are used as a RELATIVE quality
    prior (absolute mass conservation doesn't change the ordering).

    Every superstep is: edges ⋈ ranks (shuffle on src), its contributions
    unioned with one ``(node, 0.0)`` row per node, then ONE groupBy(node)
    sum (shuffle on node).  The zero rows give nodes without in-edges their
    teleport-only rank without a left join back onto the node set, and
    change no sum (``x + 0.0 == x``).  Superstep 1 skips the join: every
    source holds the start rank ``1/N``, so its contributions are
    ``1/N / out_degree`` straight off the out-edges (the same division, on
    the same edge rows in the same order, so the same bits).  ``N`` is one
    eager count (``_count``), the only driver round trip before the ranks.
    Lineage is truncated with localCheckpoint every ``_CHECKPOINT_EVERY``
    rounds so plan size stays O(1) per round.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct().cache()
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .cache()
    )
    n = _count(nodes, "pagerank:nodes")  # one scalar to the driver — the only eager step
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    out_e = e.join(deg, "u")  # (u, v, deg) — static over iterations
    out_e = out_e.cache()

    if n == 0:
        # empty edge list: a valid (empty) rank frame, not ZeroDivisionError
        return nodes.withColumn("rank", F.lit(0.0))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    # one 0.0 row per node: nodes without in-edges still get a group, and
    # x + 0.0 == x leaves every other sum as it was
    zeros = nodes.select("node", F.lit(0.0).alias("c"))
    for i in range(iters):
        # superstep 1: every source's rank is the constant start rank
        ranked = (
            out_e.withColumn("rank", F.lit(1.0 / n))
            if i == 0
            else out_e.join(ranks.withColumnRenamed("node", "u"), "u")
        )
        contribs = ranked.select(
            F.col("v").alias("node"), (F.col("rank") / F.col("deg")).alias("c")
        )
        ranks = (
            contribs.unionByName(zeros)
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
            .select(
                "node",
                (F.lit((1.0 - damping) / n) + F.lit(damping) * F.col("in_sum")).alias("rank"),
            )
        )
        if (i + 1) % _CHECKPOINT_EVERY == 0 and i + 1 < iters:
            ranks = _materialize(ranks, "pagerank:ranks")
    return ranks


def degree_stats(edges: DataFrame, *, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node in/out degree (+ a log-scaled hubness signal) — the cheap
    link-graph features most quality classifiers actually consume."""
    out_d = edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_d = edges.groupBy(F.col(dst).alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    return (
        out_d.join(in_d, "node", "full")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
        .withColumn(
            "hubness",
            F.log1p(F.col("in_deg").cast("double")) - F.log1p(F.col("out_deg").cast("double")),
        )
    )
