"""Embedding compression operators: symmetric int8 quantization and
quantized similarity search.

At 100 TB an embedding column dominates storage and shuffle width: 64-dim
float32 = 256 B/row, int8 + one scale = 72 B/row (3.5x less scan, shuffle
and memory per vector — the difference between a corpus fitting executor
memory or spilling).  Everything here is JVM-side higher-order-function
column algebra; the integer dot products are EXACT, so the only float in
the pipeline is the per-vector scale — which makes the whole search replay
bit-identically in any engine (see the sim_int8_topk oracle).

Quantization scheme: per-vector symmetric absmax — scale = max|x| / 127,
q_i = clamp(floor(x_i / scale + 0.5), -127, 127) (floor(x+0.5) instead of
round() for cross-engine tie stability, same rule as queries.fround).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polars_spark.llm import _collect_bounded

__all__ = ["quantize_int8", "dequantize_int8", "int8_dot", "quantized_topk"]


def quantize_int8(vec: Column) -> Column:
    """array<double> -> struct(scale double, q array<int>) symmetric absmax
    int8 quantization (q values in [-127, 127]; int storage keeps the DDL
    portable — parquet dictionary/byte-packing shrinks it on disk).

    Expression-shape note: higher-order functions are interpreted
    (CodegenFallback) with NO cross-lambda subexpression elimination, so a
    scalar referenced INSIDE a lambda is re-evaluated once per element —
    and when that scalar itself scans the (possibly derived) array, cost
    multiplies to O(dim^2 x chain) per row.  The array_repeat + zip_with
    shape below evaluates ``scale`` once per row as a plain child
    expression (measured: 60s -> <1s for a 2000 x 64 corpus)."""
    scale = F.array_max(F.transform(vec, lambda x: F.abs(x))) / F.lit(127.0)
    srep = F.array_repeat(scale, F.size(vec))
    q = F.zip_with(
        vec,
        srep,
        lambda x, s: F.when(s == 0, F.lit(0)).otherwise(
            F.greatest(
                F.lit(-127),
                F.least(F.lit(127), F.floor(x / s + F.lit(0.5)).cast("int")),
            )
        ),
    )
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequantize_int8(qs: Column) -> Column:
    """Inverse of quantize_int8: struct(scale, q) -> array<double>.
    Same one-eval-per-row shape as quantize_int8 (scale via array_repeat,
    never inside a lambda)."""
    srep = F.array_repeat(qs["scale"], F.size(qs["q"]))
    return F.zip_with(qs["q"], srep, lambda v, s: v.cast("double") * s)


def int8_dot(qa: Column, qb: Column) -> Column:
    """Exact integer dot product of two quantized arrays (bigint — no
    float noise; 64 * 127 * 127 is far inside int64)."""
    return F.aggregate(
        F.zip_with(qa, qb, lambda a, b: (a * b).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def quantized_topk(
    emb: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_broadcast_queries: int = 4096,
) -> DataFrame:
    """Brute-force top-k cosine over int8-quantized vectors.

    The corpus is scanned once; the small probe set is collected and
    broadcast as an int64 matrix, and each quantized corpus batch is scored
    against every probe in ONE mapInPandas pass (integer einsum dots —
    EXACT, so bit-identical to the JVM fold; the scale multiply keeps the
    JVM path's association order).  Corpus vectors cross the Arrow boundary
    once instead of once per probe and no Q*N join row materializes
    JVM-side.  Past ``max_broadcast_queries`` probes it falls back to the
    broadcast-join + interpreted-fold path (for many probes compose with
    the LSH/IVF bucketing in polars_spark.llm).  The candidate score is
    (integer dot) * scale_a * scale_b over L2-normalized inputs —
    approximate cosine whose only inexactness is the quantization itself,
    measured by the emb_quantize_error gate query.

    NOTE: the probe collect is ONE eager Spark job at call time (bounded by
    ``max_broadcast_queries``); construction is no longer fully lazy.
    """
    def prep(df, prefix):
        v = F.col(vec_col).cast("array<double>")
        nrm = F.sqrt(
            F.aggregate(
                F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, b: a + b
            )
        )
        # norm through array_repeat so it evaluates ONCE per row — inside
        # the lambda it would re-run the whole O(dim) fold per element
        # (interpreted HOFs do no cross-lambda subexpression elimination)
        unit = F.zip_with(v, F.array_repeat(nrm, F.size(v)), lambda x, n: x / n)
        qs = quantize_int8(unit)
        return df.select(
            F.col(id_col).alias(f"{prefix}id"),
            qs["scale"].alias(f"{prefix}scale"),
            qs["q"].alias(f"{prefix}q"),
        )

    corpus = prep(emb, "n")
    probes = prep(queries, "q")
    qtbl = _collect_bounded(probes, max_broadcast_queries, "quantized_topk:queries")
    if qtbl is not None:
        import numpy as np
        import pandas as pd

        qids = qtbl.column("qid").to_pylist()
        qscales = [float(x) for x in qtbl.column("qscale").to_pylist()]
        qmat = [np.asarray(v, dtype=np.int64) for v in qtbl.column("qq").to_pylist()]
        # qid keeps the QUERY side's id type (the join path preserved it);
        # typing it from the corpus mis-declares heterogeneous id schemas
        qid_field = probes.schema["qid"].dataType.simpleString()
        id_field = corpus.schema["nid"].dataType.simpleString()

        def _score_batches(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                B = np.stack(pdf["nq"].values).astype(np.int64)
                nscale = pdf["nscale"].values.astype(np.float64)
                nids = pdf["nid"].values
                for qi, qs_, qv in zip(qids, qscales, qmat):
                    dots = np.einsum("ij,ij->i", np.tile(qv, (len(B), 1)), B)
                    # same association as the JVM path: ((dot * qscale) * nscale)
                    sim = np.floor(
                        ((dots.astype(np.float64) * qs_) * nscale) * 1e6 + 0.5
                    ) / 1e6
                    yield pd.DataFrame({"qid": qi, "nid": nids, "sim": sim})

        scored = corpus.mapInPandas(
            _score_batches, f"qid {qid_field}, nid {id_field}, sim double"
        ).filter(F.col("qid") != F.col("nid"))
    else:
        scored = (
            corpus.join(F.broadcast(probes), F.col("qid") != F.col("nid"))
            .withColumn(
                "sim",
                F.floor(
                    (int8_dot(F.col("qq"), F.col("nq")) * F.col("qscale")) * F.col("nscale")
                    * 1e6
                    + F.lit(0.5),
                )
                / 1e6,
            )
        )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("qid", "nid", "sim", "rk")
    )
