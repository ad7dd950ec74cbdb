"""Schema-known parquet scans: ``scan_parquet`` builds the Spark schema from
the footers it reads on the driver, so a local-file scan starts no Spark
job.  Pinned here: the derived schema equals Spark's own inference on every
test table and on a pyarrow type zoo, the scan starts no job, the cases
that must infer still do, and one resolver maps globs and directories to
the footer they are read from."""

from __future__ import annotations

import contextlib
import decimal
import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from polars_spark.sources import _first_parquet_file, _scan_footers
from tests.test_llm_ops import SF_DIR

# every table at every SF of the test data (TESTDATA.md)
TESTDATA = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*", "*.parquet")))


@contextlib.contextmanager
def job_group(spark):
    """Yield a function returning the ids of the jobs started in the block."""
    sc = spark.sparkContext
    group = f"parquet-schema-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        yield lambda: list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.skipif(not TESTDATA, reason="no test tables")
@pytest.mark.parametrize("path", TESTDATA)
def test_testdata_schema_matches_inference(spark, path):
    derived, _ = _scan_footers(spark, [path], infer=False)
    assert derived is not None, f"{path}: fell back to inference"
    assert spark.read.schema(derived).parquet(path).schema == spark.read.parquet(path).schema


def _zoo() -> dict[str, pa.Array]:
    ts = [1_700_000_000_123_456_789, None]
    return {
        "int8": pa.array([1, None], pa.int8()),
        "int16": pa.array([1, None], pa.int16()),
        "int32": pa.array([1, None], pa.int32()),
        "int64": pa.array([1, None], pa.int64()),
        "uint8": pa.array([1, None], pa.uint8()),
        "uint16": pa.array([1, None], pa.uint16()),
        "uint32": pa.array([1, None], pa.uint32()),
        "uint64": pa.array([1, None], pa.uint64()),
        "float32": pa.array([1.5, None], pa.float32()),
        "float64": pa.array([1.5, None], pa.float64()),
        "bool": pa.array([True, None]),
        "decimal_10_2": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(10, 2)),
        "decimal_38_10": pa.array([decimal.Decimal("1.25"), None], pa.decimal128(38, 10)),
        "date32": pa.array([19000, None], pa.date32()),
        **{
            f"ts_{unit}{'_tz' if tz else ''}": pa.array(
                [t // {"ms": 10**6, "us": 10**3, "ns": 1}[unit] if t else None for t in ts],
                pa.timestamp(unit, tz=tz),
            )
            for unit in ("ms", "us", "ns")
            for tz in (None, "UTC")
        },
        "string": pa.array(["a", None]),
        "large_string": pa.array(["a", None], pa.large_string()),
        "binary": pa.array([b"a", None]),
        "dictionary": pa.array(["a", None]).dictionary_encode(),
        "time64": pa.array([1, None], pa.time64("us")),
        "list_float": pa.array([[1.0, None], None], pa.list_(pa.float32())),
        "list_struct": pa.array([[{"a": 1, "b": "x"}], None]),
        "struct": pa.array([{"a": 1, "b": [1.0]}, None]),
        "map": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int64())),
    }


@pytest.fixture(scope="module")
def zoo(tmp_path_factory):
    d = tmp_path_factory.mktemp("zoo")
    out = {}
    for name, arr in _zoo().items():
        out[name] = str(d / f"{name}.parquet")
        pq.write_table(pa.table({name: arr}), out[name])
    return out


@pytest.mark.parametrize(
    "confs",
    [
        {"spark.sql.parquet.inferTimestampNTZ.enabled": "true"},
        {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"},
        {"spark.sql.parquet.binaryAsString": "true"},
    ],
    ids=["ntz", "no-ntz", "binary-as-string"],
)
def test_type_zoo_maps_like_inference(spark, zoo, confs):
    s = spark.newSession()
    for k, v in {"spark.sql.legacy.parquet.nanosAsLong": "true", **confs}.items():
        s.conf.set(k, v)
    fallback = set()
    for name, path in zoo.items():
        derived, _ = _scan_footers(s, [path], infer=False)
        if derived is None:
            fallback.add(name)
            continue
        inferred = s.read.parquet(path).schema
        assert s.read.schema(derived).parquet(path).schema == inferred, (name, derived, inferred)
    assert fallback == {"time64"}


def test_nanos_columns_restored_as_micros(pl, zoo):
    out = pl.scan_parquet(zoo["ts_ns"]).collect()
    assert str(out["ts_ns"][0]) == "2023-11-14 22:13:20.123456"


def test_int96_is_not_a_nanos_column(pl, spark, tmp_path):
    # Arrow reports INT96 as timestamp[ns], but Spark reads it as a
    # timestamp: the ns -> µs restore must look at the parquet type
    path = str(tmp_path / "int96.parquet")
    t = pa.table({"t": pa.array([1_700_000_000_123_456_000], pa.timestamp("ns"))})
    pq.write_table(t, path, use_deprecated_int96_timestamps=True)
    assert _scan_footers(spark, [path], infer=False) == (None, [])
    out = pl.scan_parquet(path).collect()
    assert str(out["t"][0]) == "2023-11-14 22:13:20.123456"


def test_local_scan_starts_no_job(pl, spark, zoo):
    for src in (zoo["int64"], [zoo["int64"], zoo["int64"]]):
        with job_group(spark) as jobs:
            pl.scan_parquet(src).to_spark().schema
            assert jobs() == [], src


@pytest.mark.parametrize("kind", ["hive", "merge", "glob", "differing-list"])
def test_scans_that_infer_still_do(pl, lf, spark, tmp_path, kind):
    d = tmp_path / "t"
    if kind == "hive":
        lf(g=["a", "b"], v=[1, 2]).sink_parquet(str(d), partition_by="g")
        kw, src = {}, str(d)
    else:
        d.mkdir()
        pq.write_table(pa.table({"v": [1]}), d / "a.parquet")
        pq.write_table(pa.table({"v": [2], "w": ["x"]}), d / "b.parquet")
        src = {
            "merge": [str(d / "a.parquet"), str(d / "b.parquet")],
            "glob": str(d / "*.parquet"),
            "differing-list": [str(d / "a.parquet"), str(d / "b.parquet")],
        }[kind]
        kw = {"allow_missing_columns": True} if kind == "merge" else {}
    with job_group(spark) as jobs:
        frame = pl.scan_parquet(src, **kw)
        assert jobs(), f"{kind}: expected Spark to infer the schema"
    assert sorted(frame.collect()["v"].tolist()) == [1, 2]


def test_one_resolver_for_globs_and_directories(pl, lf, tmp_path):
    d = tmp_path / "g"
    d.mkdir()
    pq.write_table(pa.table({"n": pa.array([1], pa.int32())}), d / "n1.parquet")
    pq.write_table(pa.table({"n": pa.array([2, 3], pa.int32())}), d / "n2.parquet")
    pattern = str(d / "n*.parquet")
    assert _first_parquet_file(pattern) == str(d / "n1.parquet")
    assert pl.read_parquet_schema(pattern) == {"n": "int32"}
    assert pl.read_parquet_metadata(pattern)["num_rows"] == 1
    assert sorted(pl.scan_parquet(pattern).collect()["n"].tolist()) == [1, 2, 3]

    # a Spark-written directory: part files next to _SUCCESS and .crc files
    sink = str(tmp_path / "sink")
    lf(x=[1, 2, 3]).sink_parquet(sink)
    first = _first_parquet_file(sink)
    assert first.startswith(sink + "/part-") and first.endswith(".parquet")
    assert pl.read_parquet_schema(sink) == {"x": "int64"}

    # an uncommitted write's _temporary tree sorts first but is skipped
    tmp = d / "_temporary" / "0"
    tmp.mkdir(parents=True)
    pq.write_table(pa.table({"n": [0]}), tmp / "a.parquet")
    assert _first_parquet_file(str(d)) == str(d / "n1.parquet")
    with pytest.raises(FileNotFoundError):
        _first_parquet_file(str(d / "none*.parquet"))


def test_driver_mem_default(monkeypatch):
    from polars_spark import session

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    pages = {"SC_PAGE_SIZE": 4096}

    def sysconf(name):
        return pages[name]

    monkeypatch.setattr(os, "sysconf", sysconf)
    pages["SC_PHYS_PAGES"] = 15 * 2**30 // 4096  # 15 GB host: half its RAM
    assert session._driver_mem() == f"{15 * 1024 // 2}m"
    pages["SC_PHYS_PAGES"] = 256 * 2**30 // 4096  # large host: capped at 32g
    assert session._driver_mem() == f"{32 * 1024}m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert session._driver_mem() == "6g"
