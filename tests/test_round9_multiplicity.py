"""Candidate-count invariants for the two MinHash dedup forms (round-8
VERDICT item 2): the all-pairs/star cost boundary is a TESTED invariant,
not a bench anecdote.

With d distinct texts each duplicated m times (every copy hashes into the
same buckets), band-join candidate counts are closed-form:

* all-pairs (minhash_lsh_pairs):  d * C(m, 2)   — quadratic in m
* star-link (minhash_lsh_dedup):  d * (m - 1)   — linear in m

The test builds the hostile boilerplate-mega-cluster shape at m=4 and
m=12 and asserts both closed forms exactly (counts, not wall time, so it
is load-insensitive and CI-safe).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _corpus(spark, n_distinct: int, mult: int):
    texts = [
        (i * mult + j, f"document number {i} talks about topic {i} with unique marker {i}")
        for i in range(n_distinct)
        for j in range(mult)
    ]
    return spark.createDataFrame(texts, "doc_id long, text string")


def _counts(spark, n_distinct: int, mult: int, bands: int = 8, k: int = 32):
    from polars_spark.llm import _band_keys, _shingle_sets

    # the engine's own shingle -> band chain, exactly as the operators run it
    banded = _shingle_sets(_corpus(spark, n_distinct, mult), "doc_id", "text", 3).select(
        "doc", F.explode(_band_keys(F.col("sh"), k=k, bands=bands)).alias("band")
    )
    a = banded.select(F.col("doc").alias("d1"), "band")
    b = banded.select(F.col("doc").alias("d2"), "band")
    all_pairs = (
        a.join(b, "band").filter(F.col("d1") < F.col("d2")).select("d1", "d2").distinct().count()
    )
    rep = banded.groupBy("band").agg(F.min("doc").alias("d1"))
    star = (
        banded.join(rep, "band")
        .filter(F.col("doc") != F.col("d1"))
        .select("d1", F.col("doc").alias("d2"))
        .dropDuplicates(["d1", "d2"])
        .count()
    )
    return all_pairs, star


@pytest.mark.parametrize("mult", [4, 12])
def test_candidate_closed_forms(pl, spark, mult):
    d = 40
    all_pairs, star = _counts(spark, d, mult)
    assert all_pairs == d * mult * (mult - 1) // 2, (all_pairs, mult)
    assert star == d * (mult - 1), (star, mult)


def test_star_linear_allpairs_quadratic(pl, spark):
    d = 40
    ap4, st4 = _counts(spark, d, 4)
    ap12, st12 = _counts(spark, d, 12)
    # 3x multiplicity: star grows (12-1)/(4-1) = 3.67x; all-pairs grows
    # C(12,2)/C(4,2) = 11x — the scale cliff the star form removes
    assert st12 / st4 == pytest.approx(11 / 3, rel=1e-9)
    assert ap12 / ap4 == pytest.approx(11.0, rel=1e-9)


def test_dedup_results_agree_across_forms(pl, spark):
    # both forms must find the same clusters on the clean shape
    from polars_spark.llm import minhash_lsh_dedup, minhash_lsh_pairs

    df = _corpus(spark, 15, 5)
    clusters = minhash_lsh_dedup(df, "doc_id", "text").collect()
    assigned = {r.doc: r.cluster for r in clusters}
    # every copy of distinct text i lands in the cluster labeled by its min id
    for i in range(15):
        ids = [i * 5 + j for j in range(5)]
        assert {assigned[x] for x in ids} == {ids[0]}
    pairs = minhash_lsh_pairs(df, "doc_id", "text").count()
    assert pairs == 15 * 5 * 4 // 2


def test_dedup_verifies_each_star_edge_once(pl, spark, monkeypatch):
    """Exact copies share all 8 bands with their representative, so the
    star join gives each edge 8 times.  minhash_lsh_dedup drops the repeats
    before the verify join: connected components gets the closed form
    d * (m - 1), not bands times that."""
    import polars_spark.llm as llm

    seen = []
    cc = llm.connected_components

    def counting(pairs, **kw):
        seen.append(pairs.count())
        return cc(pairs, **kw)

    monkeypatch.setattr(llm, "connected_components", counting)
    d, mult = 10, 4
    llm.minhash_lsh_dedup(_corpus(spark, d, mult), "doc_id", "text").collect()
    assert seen == [d * (mult - 1)]
