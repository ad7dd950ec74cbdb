"""Shared fixtures: one session-scoped SparkSession (local, small parallelism
for fast tests), pandas-frame helpers."""

from __future__ import annotations

import os

import pandas as pd
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")


@pytest.fixture(scope="session")
def spark():
    from polars_spark.session import get_spark

    # shuffle.partitions=1: at test scale AQE coalesces every shuffle to one
    # partition anyway; starting at 1 skips the 4-way split + merge overhead
    # (measured 27% suite-wall cut, identical results — scans still produce
    # multiple input partitions, so multi-partition map/merge paths stay
    # exercised; the skew test pins its own 64-partition conf).
    # adaptive.enabled=false: with 1 shuffle partition AQE has nothing to
    # re-plan, it only adds a per-exchange re-optimization pass (measured
    # 8-9% file wall, interleaved A/B, identical results).  AQE-on result
    # correctness stays covered where it matters: tools/check.py sweeps all
    # 253 oracle gates on engine-default confs (AQE on), and the skew and
    # plan-shape suites pin their own sessions.
    s = get_spark(
        "tests",
        **{
            "spark.sql.shuffle.partitions": "1",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    yield s


@pytest.fixture(scope="session")
def pl(spark):
    import polars_spark as pl

    return pl


@pytest.fixture()
def lf(pl, spark):
    """Build a LazyFrame from kwargs of lists: lf(a=[1,2], b=['x','y'])."""

    def make(**cols):
        return pl.from_pandas(pd.DataFrame(cols))

    return make


def make_active(spark) -> None:
    """Make ``spark`` the active session again.  PySpark's createDataFrame
    makes its session the active one, so a test whose child newSession()
    builds a frame leaves that child active, and frames later tests build
    from the active session (from_pandas, scans) would run under its confs."""
    from pyspark.sql import SparkSession

    SparkSession._activeSession = spark
    SparkSession._get_j_spark_session_class(spark._jvm).setActiveSession(spark._jsparkSession)


def rows(frame, *, sort_by=None) -> list[tuple]:
    """Materialize a LazyFrame to a list of tuples (NaN -> None)."""
    pdf = frame.collect()
    if sort_by:
        pdf = pdf.sort_values(sort_by, ignore_index=True)
    out = []
    for t in pdf.itertuples(index=False, name=None):
        out.append(tuple(None if isinstance(v, float) and pd.isna(v) else v for v in t))
    return out
