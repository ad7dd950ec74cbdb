"""The engine's one eager checkpoint, ``llm._materialize``, and the
``llm._job`` context manager it is built on.  Pinned here: a checkpoint
job carries its ``operator:phase`` tag in the status store while the
caller's job group and description survive, also across an exception; no
engine code checkpoints or pins a frame outside the named places, or counts
rows eagerly outside ``llm._count``, which answers ``DataFrame.count()``
in one job fewer under AQE; the minhash index is read back without a
schema-inference job."""

from __future__ import annotations

import ast
import contextlib
import pathlib
import uuid

import pytest

from tests.test_llm_ops import docs  # noqa: F401 (module fixture)

PKG = pathlib.Path(__file__).resolve().parent.parent / "polars_spark"

# the only functions that may call localCheckpoint
CHECKPOINTS = {
    ("llm/__init__.py", "_materialize"),
    ("plans/frame.py", "LazyFrame.with_row_index"),  # lazy MEMORY_AND_DISK: pins one range sample
    ("plans/frame.py", "LazyFrame.checkpoint"),  # public API
}
# the only functions that may pin a frame with cache()/persist(); a new pin
# must justify itself here or go through _materialize
PINS = {
    ("llm/__init__.py", "_banded_corpus"),  # shingle sets, reused by an identical re-call
    ("llm/__init__.py", "connected_components"),  # pairs, and edges for the loop: unpersisted in a finally
    ("llm/__init__.py", "dedup_against_index"),  # new batch's shingle sets: band pass + verify
    ("llm/graph.py", "pagerank"),  # edges, nodes, out-degrees: read every round
    ("llm/retrieval.py", "bm25_topk"),  # postings: three aggregates + the scoring join
    ("queries/similarity.py", "sim_rrf_fusion"),  # pairs: two rankings
    ("plans/frame.py", "LazyFrame.cache"),  # public API
    ("plans/frame.py", "LazyFrame.persist"),  # public API
}


# the functions that may call .count() with no arguments: the eager
# DataFrame.count() only inside _count; every other entry is no eager count
COUNTS = {
    ("llm/__init__.py", "_count"),  # the engine's one eager count
    ("llm/tokenizer.py", "train_bpe"),  # GroupedData.count(): a lazy aggregate
    ("functions/__init__.py", "count"),  # Expr count: pl.count(name)
    ("queries/relational.py", "rel_count_columns"),  # LazyFrame.count(): per-column counts, lazy
    ("queries/streaming_gate.py", ""),  # itertools.count(): a sequence of numbers
    # Expr count inside a polars query
    ("queries/temporal.py", "tmp_rolling_30m"),
    ("queries/temporal.py", "tmp_upsample_1h"),
    ("queries/temporal.py", "evt_funnel"),
    ("queries/tpch_full.py", "q13_customer_distribution"),
    ("queries/tpch_full.py", "q21_suppliers_kept_waiting"),
    ("queries/window.py", "win_agg_over"),
}


def _calls(attrs: set[str], *, bare: bool = False) -> set[tuple[str, str]]:
    """(file, enclosing function qualname) of every ``.attr(...)`` call;
    with ``bare``, of those without arguments only."""
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()

        def walk(node, scope):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    walk(child, [*scope, child.name])
                    continue
                if isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute):
                    if child.func.attr in attrs and not (bare and (child.args or child.keywords)):
                        found.add((rel, ".".join(scope)))
                walk(child, scope)

        walk(ast.parse(path.read_text()), [])
    return found


def test_checkpoints_only_in_named_places():
    assert _calls({"localCheckpoint"}) - CHECKPOINTS == set()


def test_cache_pins_only_in_named_places():
    assert _calls({"cache", "persist"}) - PINS == set()


def test_eager_counts_only_in_count():
    assert _calls({"count"}, bare=True) - COUNTS == set()


@contextlib.contextmanager
def _group(sc, description):
    group = f"materialize-{uuid.uuid4().hex}"
    sc.setJobGroup(group, description)
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _descriptions(sc, group) -> list[str]:
    """Status-store descriptions of the jobs started in ``group``."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    out = []
    for job_id in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        desc = jsc.statusStore().job(job_id).description()
        out.append(desc.get() if desc.isDefined() else None)
    return out


def test_materialize_names_its_job(spark, docs):  # noqa: F811
    from polars_spark.llm import minhash_lsh_pairs

    sc = spark.sparkContext
    with _group(sc, "caller") as group:
        minhash_lsh_pairs(docs, "doc_id", "text")
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert sc.getLocalProperty("spark.jobGroup.id") == group
        assert _descriptions(sc, group) == ["minhash_lsh:banded"]


def test_job_restores_caller_on_error(spark):
    from polars_spark.llm import _job

    sc = spark.sparkContext
    with _group(sc, "caller") as group:
        with pytest.raises(ZeroDivisionError):
            with _job("op:phase"):
                assert sc.getLocalProperty("spark.job.description") == "op:phase"
                1 / 0
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert sc.getLocalProperty("spark.jobGroup.id") == group
    with _job("op:phase"):
        pass
    assert sc.getLocalProperty("spark.job.description") is None


def test_index_read_starts_no_job(spark, docs, tmp_path):  # noqa: F811
    from polars_spark.llm import build_minhash_index, dedup_against_index
    from polars_spark.sources import _read_spark_written

    path = str(tmp_path / "index")
    build_minhash_index(docs, path, id_col="doc_id", text_col="text")
    with _group(spark.sparkContext, "index") as group:
        dedup_against_index(docs, path, id_col="doc_id", text_col="text")
        assert list(spark.sparkContext.statusTracker().getJobIdsForGroup(group)) == []
    assert _read_spark_written(spark, path).schema == spark.read.parquet(path).schema


def test_count_is_one_job_under_aqe(spark, tmp_path):
    """``_count`` answers ``DataFrame.count()`` and starts one job under AQE
    where the count starts two: the count's single-partition exchange is
    the job it saves.  A frame's own shuffle stays a job of its own."""
    from pyspark.sql import functions as F

    from polars_spark.llm import _count
    from tests.conftest import make_active

    path = str(tmp_path / "src")
    spark.range(0, 1000, 1, 4).withColumn("k", F.col("id") % 7).write.parquet(path)
    s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    src = s.read.parquet(path)
    frames = {
        "filtered": (src.filter(F.col("k") > 2), 1),
        "distinct": (src.select("k").distinct(), 2),  # + its own shuffle stage
        "union": (src.unionByName(src), 1),
        "limit": (src.limit(17), 1),
        "empty": (src.filter(F.lit(False)), 1),
    }
    sc = spark.sparkContext
    try:
        for name, (df, jobs) in frames.items():
            with _group(sc, "count") as group:
                want = df.count()
                eager = len(_descriptions(sc, group))
            with _group(sc, "count") as group:
                assert _count(df, "op:count") == want, name
                assert _descriptions(sc, group) == ["op:count"] * jobs, name
            assert jobs == (eager - 1 if name != "empty" else eager), name
    finally:
        make_active(spark)
