"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads,
single JVM).  The same settings are what we would ship as defaults on a
real cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow for every Python<->JVM data exchange, UTC session time
zone so timestamp semantics match the reference engine (polars stores
naive/UTC datetimes; see SURVEY.md §1.2).

Scale notes (100 TB target):
- ``spark.sql.shuffle.partitions`` is only the *initial* value; AQE
  coalesces / splits at runtime, so a cluster run would raise it
  (rule of thumb: 2-3x total cores) without code changes.
- ``spark.sql.files.maxPartitionBytes`` left at default 128 MB: scan
  parallelism scales with input size automatically.
- We never disable broadcast joins; small dimension tables (region,
  nation, supplier at TPC-H scale) stay broadcastable even at sf=100k.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark", "ensure_time_type", "ensure_engine_confs"]

# sessions already verified/flipped — weak-valued so a stopped session's id
# can be reused by a new object without being mistaken for a verified one
import weakref

_CONF_READY: "weakref.WeakValueDictionary[int, SparkSession]" = weakref.WeakValueDictionary()

# Runtime-settable SQL confs the engine's SEMANTICS depend on.  get_spark
# sets them at build time, but the engine must not assume its consumer's
# session was built here (the driver calls registry queries on a vanilla
# SparkSession.builder.getOrCreate()).  Each is verified runtime-settable:
# - timeType.enabled: the Time dtype lowers to native TIME(6); without it
#   every Time operation dies with [UNSUPPORTED_TIME_TYPE] (r6 driver red).
# - session.timeZone=UTC: polars Datetime is naive/UTC (SURVEY §1.2); a
#   non-UTC consumer session would SILENTLY shift every timestamp read,
#   literal, and extraction — wrong answers, not errors.
# - caseSensitive: polars columns are case-sensitive ("name"/"NAME"
#   coexist); Spark's default case-insensitive resolution silently
#   replaces one with the other in withColumns.
# - parquet rebase modes: pre-1582 date/INT96 reads must not rebase.
_ENGINE_CONFS = (
    ("spark.sql.timeType.enabled", "true"),
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.caseSensitive", "true"),
    ("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED"),
    ("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED"),
    # perf-only (Arrow exchange for toPandas/pandas-UDFs) but the engine's
    # hot paths are designed around Arrow batches — set them too
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ("spark.sql.execution.pythonUDF.arrow.enabled", "true"),
)


def ensure_engine_confs(spark: "SparkSession | None" = None) -> None:
    """Runtime-align a CONSUMING session's SQL conf with engine semantics.

    Called at every frame-creation entry point (scan_*, from_pandas,
    registry table loaders), Time lowering site, and collect.  Cached per
    live session, but the cached path still re-verifies the cheapest
    silent-wrong-answer conf (session.timeZone — one conf.get round-trip):
    a consumer that re-sets the timezone AFTER the engine aligned it would
    otherwise silently shift every timestamp (ADVICE r7).  Weak-valued so
    a stopped session's recycled id can't be mistaken for a verified one.

    NOTE (public API contract, also documented in README): the engine
    mutates the consuming session's runtime SQL confs — session.timeZone
    -> UTC, caseSensitive -> true, timeType.enabled -> true, parquet
    rebase modes -> CORRECTED.  Polars semantics require them; embedders
    who need different session confs for their own spark.sql should hand
    the engine a child ``spark.newSession()`` (confs are per-session)."""
    s = spark if spark is not None else SparkSession.getActiveSession()
    if s is None:
        return
    if _CONF_READY.get(id(s)) is s:
        try:
            if s.conf.get("spark.sql.session.timeZone") == "UTC":
                return
        except Exception:
            return
        # consumer re-set the timezone since we aligned: realign everything
        del _CONF_READY[id(s)]
    ok = True
    for k, v in _ENGINE_CONFS:
        # NOTE: conf.get(k, "") THROWS for boolean confs (the default string
        # must parse as the conf's type) — set unconditionally, per-key try,
        # so one failure can't mask the rest
        try:
            s.conf.set(k, v)
        except Exception:
            # conf API unavailable (stopped session mid-teardown): the later
            # analysis error is clearer than failing here
            ok = False
    if ok:
        _CONF_READY[id(s)] = s


# narrow alias kept for the Time lowering sites (same cache, same work)
ensure_time_type = ensure_engine_confs


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


def _driver_mem() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` if set, else the smaller of
    32g and half the host's physical RAM, so a local driver cannot outgrow
    a small machine (a 32g heap on a 15 GB host got the JVM OOM-killed)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError, AttributeError):
        return "32g"
    return f"{min(32 * 1024, ram_mb // 2)}m"


def get_spark(app_name: str = "polars_spark", **extra_conf: str) -> SparkSession:
    """Return (creating if needed) the process-wide SparkSession."""
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level filtering: build a bloom filter from the small
        # side of a shuffle join and push it into the big side's SCAN — at
        # 100 TB this prunes most of a fact-table read when the dim side is
        # selective (the Spark-native analogue of polars' semi-join pushdown)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # NOTE: runtimeFilter.semiJoinReduction was tried and HANGS planning
        # on this Spark build (infinite re-optimization with AQE) — bloom
        # runtime filters alone are the safe, effective form
        .config("spark.sql.session.timeZone", "UTC")
        # polars columns are case-SENSITIVE ("name" and "NAME" coexist);
        # Spark's default case-insensitive resolution would silently
        # replace one with the other in withColumns (found by user-sim)
        .config("spark.sql.caseSensitive", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        .config("spark.driver.memory", _driver_mem())
        .config("spark.ui.enabled", "false")
        # managed-table warehouse (bucketed tables) outside the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"),
        )
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # read TIMESTAMP(NANOS) parquet columns as long; scan_parquet converts
        # them back to timestamps (µs, truncating like DuckDB/polars cast)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # native TIME type (Spark 4.x): backs the polars Time dtype at µs
        # precision — hour/minute/second, comparisons and time literals all
        # JVM-native (reference polars-time/src/chunkedarray/time.rs)
        .config("spark.sql.timeType.enabled", "true")
    )
    # Connector wiring: SPARK_GRAFT_PACKAGES is a comma-separated list of
    # maven coordinates (e.g. io.delta:delta-spark_2.13:4.0.0,
    # org.apache.spark:spark-avro_2.13:4.0.0).  When present, the jars are
    # resolved at session build and the lakehouse extensions light up —
    # scan_delta / scan_iceberg / read_avro / read_database then run their
    # native Spark paths instead of raising.
    pkgs = os.environ.get("SPARK_GRAFT_PACKAGES", "")
    if pkgs:
        builder = builder.config("spark.jars.packages", pkgs)
        if "delta" in pkgs:
            builder = builder.config(
                "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
            ).config(
                "spark.sql.catalog.spark_catalog",
                "org.apache.spark.sql.delta.catalog.DeltaCatalog",
            )
        if "iceberg" in pkgs:
            builder = builder.config(
                "spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog"
            ).config("spark.sql.catalog.local.type", "hadoop").config(
                "spark.sql.catalog.local.warehouse",
                os.environ.get("SPARK_GRAFT_ICEBERG_WAREHOUSE", "/tmp/iceberg-warehouse"),
            )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
