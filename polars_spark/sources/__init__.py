"""Scan / read entry points (polars io surface, SURVEY.md §2.8).

Reference: py-polars/src/polars/io/ (scan_parquet io/parquet/functions.py:467,
scan_csv io/csv/functions.py:1107, scan_ndjson, read_json).  Every scan maps
to ``spark.read`` so projection/predicate pushdown, partition pruning and
schema merging come from the DataSource V2 machinery for free.  A parquet
scan of local files passes Spark the schema built from the footers it has
already read on the driver, so planning it starts no Spark job; Spark
infers the schema (one job) only for directories, globs, hive layouts,
remote URIs, mergeSchema scans, files that disagree and unmapped types.

Scale notes: multi-file globs, hive-partitioned layouts and
``include_file_paths`` (-> input_file_name) are native; scans never
materialize on the driver.
"""

from __future__ import annotations

import builtins
import json

from collections.abc import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from polars_spark.plans.frame import LazyFrame

__all__ = [
    "scan_parquet",
    "read_parquet",
    "scan_csv",
    "read_csv",
    "scan_ndjson",
    "read_ndjson",
    "scan_ipc",
    "scan_pyarrow_dataset",
    "from_arrow",
    "from_pandas",
]


def _spark(spark: SparkSession | None = None) -> SparkSession:
    """Resolve the session for a frame-creation entry point and align its
    runtime SQL conf with engine semantics (session-portability: the
    consumer's session may be a vanilla builder.getOrCreate())."""
    from polars_spark.session import ensure_engine_confs

    s = spark if spark is not None else SparkSession.getActiveSession()
    if s is None:
        from polars_spark.session import get_spark

        s = get_spark()
    ensure_engine_confs(s)
    return s


def _file_order_deferred(paths: Sequence[str]):
    """Deferred polars scan-order contract (reference: row order on scans is
    semantic — polars-plan/src/plans/functions/mod.rs:33 numbers SCAN order;
    every cum_*/shift/first doctest relies on it).  Returns a thunk the frame
    invokes only when an order-sensitive operation actually consumes row
    order: it adds ONE hidden struct column ordering rows by (file rank,
    block byte-offset, within-partition read position).  Files rank in
    given-list order for explicit multi-path scans and lexicographically for
    a single path/glob (polars sorts glob hits).  Plan-only: one withColumn
    on the scan, no Spark job, no shuffle — and queries that never consume
    order never call it, so their plans stay scan-order-free (the elision
    rule of SURVEY §4 item 1)."""
    from polars_spark.plans.frame import ROW_IDX

    paths = [str(p) for p in paths]

    def mat(df):
        ordc = _order_struct(paths, F.input_file_name(), F.input_file_block_start(), F.monotonically_increasing_id())
        return df.withColumn(ROW_IDX, ordc), [(ROW_IDX, False, False)]

    mat.paths = paths  # concat() composes scan contracts from these
    return mat


def _order_struct(paths: Sequence[str], fname, block, pos):
    """The scan-order struct used by ``_file_order_deferred`` — factored
    out so plans that cannot re-derive ``input_file_name()`` at
    materialization time (e.g. the skip_rows text lowering, whose plan
    contains a join) can build the identical struct from columns captured
    at the scan and carry it through (round 12)."""
    import os as _os
    import re as _re

    paths = [str(p) for p in paths]

    def _strip_scheme(s: str) -> str:
        # "file:///d/x" / "file:/d/x" / "s3://b/k" -> "/d/x" / "/d/x" / "/b/k"
        m = _re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/+", s)
        return "/" + s[m.end():] if m else s

    # scheme-stripped scan URI so driver-side keys compare on PATH
    # boundaries (raw substring containment mis-ranked /data/ab under a
    # sibling /data/a key — ADVICE r6)
    norm = F.regexp_replace(fname, r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/+", "/")
    if builtins.len(paths) > 1:
        # explicit list: the GIVEN order, not lexicographic — rank by
        # the first path whose BOUNDARY-delimited prefix (exact file, or
        # directory + '/') covers the scanned file; glob entries expand
        # driver-side to their sorted matches (polars sorts glob hits)
        branches = []
        for i, p in enumerate(paths):
            key = _strip_scheme(p if "://" in p else _os.path.abspath(p)).rstrip("/") or "/"
            if any(ch in key for ch in "*?["):
                import glob as _glob

                # glob.glob runs on the LOCAL FS only: remote-scheme
                # globs return nothing, and a hit may itself be a
                # DIRECTORY (a Spark-written parquet dataset) — both
                # previously fell to the fallback rank, silently
                # violating the given-list order (ADVICE r7).  Hits
                # match on file-or-directory boundaries; no hits ->
                # static stem-prefix match (same rule as
                # _concat_order_deferred._key).
                hits = (
                    []
                    if "://" in p
                    else [
                        _strip_scheme(_os.path.abspath(h))
                        for h in sorted(_glob.glob(key))
                    ]
                )
                cond = None
                for h in hits:
                    c = (norm == F.lit(h)) | norm.startswith(F.lit(h + "/"))
                    cond = c if cond is None else (cond | c)
                if cond is None:
                    head = key
                    for ch in "*?[":
                        if ch in head:
                            head = head.split(ch)[0]
                    cond = norm.startswith(F.lit(head))
            else:
                cond = (norm == F.lit(key)) | norm.startswith(F.lit(key + "/"))
            branches.append(F.when(cond, F.lit(i)))
        fkey = F.coalesce(*branches, F.lit(builtins.len(paths))).cast("int")
        return F.struct(
            fkey.alias("f"),
            fname.alias("n"),
            block.alias("b"),
            pos.alias("p"),
        )
    return F.struct(
        fname.alias("n"),
        block.alias("b"),
        pos.alias("p"),
    )


def _first_parquet_file(path: str) -> str:
    """The file whose footer stands for ``path``: a file or a remote URI is
    itself, a glob is its first hit in sorted order, and a directory (a
    Spark sink or a hive layout) is its first ``*.parquet`` at any depth in
    sorted order, skipping the ``_``/``.``-prefixed names Spark's own
    listing skips.  All files of one dataset share a writer and schema, so
    the same data surfaces identically however its path is spelled."""
    import glob as _glob
    import os

    p = path
    if "://" not in p and any(ch in p for ch in "*?["):
        hits = sorted(_glob.glob(p))
        if not hits:
            raise FileNotFoundError(f"no file matches {path!r}")
        p = hits[0]
    if os.path.isdir(p):
        parts = [
            h
            for h in sorted(_glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True))
            if not any(c.startswith(("_", ".")) for c in os.path.relpath(h, p).split(os.sep))
        ]
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {path!r}")
        p = parts[0]
    return p


class _Unmapped(Exception):
    """A parquet type whose Spark type this module leaves to Spark."""


def _spark_type(col, ntz: bool, nanos_as_long: bool, binary_as_string: bool):
    """The Spark type of one parquet leaf column, as Spark's
    ``ParquetToSparkSchemaConverter.convertPrimitiveField`` maps it under the
    three confs that change it.  Raises ``_Unmapped`` for everything else
    (INT96, FLOAT16, TIME, JSON/ENUM/BSON/UUID, decimals above 38 digits)."""
    from pyspark.sql import types as T

    phys, lt = col.physical_type, json.loads(col.logical_type.to_json())
    kind = lt["Type"]
    if kind == "None":
        if phys == "BYTE_ARRAY":
            return T.StringType() if binary_as_string else T.BinaryType()
        simple = {
            "BOOLEAN": T.BooleanType,
            "INT32": T.IntegerType,
            "INT64": T.LongType,
            "FLOAT": T.FloatType,
            "DOUBLE": T.DoubleType,
            "FIXED_LEN_BYTE_ARRAY": T.BinaryType,
        }.get(phys)
        if simple is not None:
            return simple()
    elif kind == "Int" and phys in ("INT32", "INT64"):
        signed = {8: T.ByteType, 16: T.ShortType, 32: T.IntegerType, 64: T.LongType}
        unsigned = {8: T.ShortType, 16: T.IntegerType, 32: T.LongType, 64: lambda: T.DecimalType(20, 0)}
        return (signed if lt["isSigned"] else unsigned)[lt["bitWidth"]]()
    elif kind == "Decimal" and lt["precision"] <= 38:
        return T.DecimalType(lt["precision"], lt["scale"])
    elif kind == "Date" and phys == "INT32":
        return T.DateType()
    elif kind == "String" and phys == "BYTE_ARRAY":
        return T.StringType()
    elif kind == "Timestamp" and phys == "INT64":
        if lt["timeUnit"] == "nanoseconds":
            if nanos_as_long:
                return T.LongType()
        elif lt["isAdjustedToUTC"] or not ntz:
            return T.TimestampType()
        else:
            return T.TimestampNTZType()
    raise _Unmapped(f"{col.path}: {phys} {kind}")


def _footer_schema(md, ntz: bool, nanos_as_long: bool, binary_as_string: bool):
    """The StructType Spark's parquet schema inference gives for the file
    with footer ``md``, or None where inference must decide: a footer that
    carries Spark's own row schema, duplicate column names, or any type
    ``_spark_type`` does not map.  The nesting follows the footer's Arrow
    schema; every parquet leaf is checked against the path and repetition
    level a standard three-level LIST / MAP layout gives it, so a legacy
    two-level list (which Spark and Arrow may nest differently) falls back.
    Every field is nullable: Spark makes a file source's schema nullable
    whether it was inferred or given."""
    import pyarrow.types as pt
    from pyspark.sql import types as T

    if b"org.apache.spark.sql.parquet.row.metadata" in (md.metadata or {}):
        return None
    leaves = [md.schema.column(i) for i in range(md.num_columns)]
    pos = 0

    def leaf(path, reps):
        nonlocal pos
        col = leaves[pos]
        if col.path != ".".join(path) or col.max_repetition_level != reps:
            raise _Unmapped(f"{col.path}: unexpected nesting")
        pos += 1
        return _spark_type(col, ntz, nanos_as_long, binary_as_string)

    def convert(t, path, reps):
        if pt.is_struct(t):
            if t.num_fields == 0:
                raise _Unmapped(f"{'.'.join(path)}: empty struct")
            return T.StructType(
                [T.StructField(f.name, convert(f.type, [*path, f.name], reps)) for f in t]
            )
        if pt.is_list(t) or pt.is_large_list(t) or pt.is_fixed_size_list(t):
            elem = convert(t.value_type, [*path, "list", t.value_field.name], reps + 1)
            return T.ArrayType(elem)
        if pt.is_map(t):
            # the key/value group's name is free; read it off the next leaf
            group = leaves[pos].path.split(".")[builtins.len(path)]
            key = convert(t.key_type, [*path, group, t.key_field.name], reps + 1)
            return T.MapType(key, convert(t.item_type, [*path, group, t.item_field.name], reps + 1))
        return leaf(path, reps)

    try:
        arrow = md.schema.to_arrow_schema()
        names = [f.name for f in arrow]
        if builtins.len({n.lower() for n in names}) != builtins.len(names):
            return None
        fields = [T.StructField(f.name, convert(f.type, [f.name], 0)) for f in arrow]
    except (_Unmapped, IndexError, KeyError):
        return None
    return T.StructType(fields) if pos == builtins.len(leaves) else None


def _read_spark_written(spark: SparkSession, path: str):
    """``spark.read.parquet(path)``, minus the inference job where ``path``
    is local unpartitioned data Spark wrote: the row schema that write
    stored in the footer is the schema Spark would infer."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    reader = spark.read
    if "://" not in path:
        try:
            first = _first_parquet_file(path)
            if "=" not in os.path.relpath(first, path):  # no hive partition columns
                meta = pq.read_metadata(first).metadata or {}
                row = meta[b"org.apache.spark.sql.parquet.row.metadata"]
                reader = reader.schema(T.StructType.fromJson(json.loads(row)))
        except (OSError, ValueError, KeyError):
            pass
    return reader.parquet(path)


def _scan_footers(spark: SparkSession, paths: Sequence[str], infer: bool):
    """Read each scanned file's parquet footer once, on the driver.
    Returns ``(schema, ns_cols)``: the top-level columns stored as
    TIMESTAMP(NANOS) in the first footer, and the Spark schema of the scan
    (see ``_footer_schema``) or None to let Spark infer it.  Inference
    stays with Spark when ``infer`` is set (mergeSchema), when a path is
    not an existing local regular file (a directory, glob, hive layout or
    remote URI), and when the files of a list disagree.

    Spark reads TIMESTAMP(NANOS) parquet only as long
    (``spark.sql.legacy.parquet.nanosAsLong``), so that conf is switched on
    when the data needs it; the scan restores those columns as µs
    timestamps."""
    import os

    import pyarrow.parquet as pq

    try:
        md = pq.read_metadata(_first_parquet_file(paths[0]))
        top = {f.name for f in md.schema.to_arrow_schema()}
    except Exception:
        return None, []
    ns_cols = [
        col.path
        for col in map(md.schema.column, range(md.num_columns))
        if col.path in top
        and col.logical_type.type == "TIMESTAMP"
        and json.loads(col.logical_type.to_json())["timeUnit"] == "nanoseconds"
    ]
    conf = spark.conf
    if ns_cols and conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        # only mutate session state when the data actually needs it (Spark
        # refuses TIMESTAMP(NANOS) parquet without this legacy flag)
        conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    local = ("://" not in p and not any(ch in p for ch in "*?[") and os.path.isfile(p) for p in paths)
    if infer or not all(local):
        return None, ns_cols
    try:
        footers = [md, *(pq.read_metadata(p) for p in paths[1:])]
    except Exception:
        return None, ns_cols
    flags = [
        conf.get(k) == "true"
        for k in (
            "spark.sql.parquet.inferTimestampNTZ.enabled",
            "spark.sql.legacy.parquet.nanosAsLong",
            "spark.sql.parquet.binaryAsString",
        )
    ]
    schemas = [_footer_schema(f, *flags) for f in footers]
    if schemas[0] is None or any(s != schemas[0] for s in schemas[1:]):
        return None, ns_cols
    return schemas[0], ns_cols


def scan_parquet(
    source: str | Sequence[str],
    *,
    row_index_name: str | None = None,
    row_index_offset: int = 0,
    hive_partitioning: bool | None = None,
    include_file_paths: str | None = None,
    glob: bool = True,
    n_rows: int | None = None,
    allow_missing_columns: bool = False,
    missing_columns: str | None = None,
    spark: SparkSession | None = None,
    **_compat,
) -> LazyFrame:
    """The schema comes from the parquet footers, read once on the driver,
    when every path is an existing local file whose types map the way
    Spark's own inference maps them; the scan then starts no Spark job.
    Otherwise (a directory, glob, hive layout or remote URI, files whose
    schemas differ, an unmapped type such as INT96 or TIME, or a
    mergeSchema scan) Spark infers the schema, which costs one job.

    ``allow_missing_columns`` / ``missing_columns='insert'`` turn on
    Spark's mergeSchema scan (files with differing schemas union by name,
    absent columns null-filled — polars UnifiedScanArgs policies,
    dsl/plan.rs:47).  ``n_rows`` is a limit (slice pushdown: Spark's
    CollectLimit stops the scan early).  Unknown polars kwargs (rechunk,
    low_memory, cache, parallel, storage_options hints handled at the
    session level, ...) are accepted and inert — Spark has no equivalent
    memory-layout knobs to honor."""
    spark = _spark(spark)
    paths = [str(source)] if isinstance(source, str) or hasattr(source, '__fspath__') else [str(s) for s in source]
    merge = allow_missing_columns or missing_columns == "insert"
    schema, ns_cols = _scan_footers(spark, paths, infer=merge)
    r = spark.read
    if merge:
        r = r.option("mergeSchema", True)
    elif schema is not None:
        r = r.schema(schema)
    from polars_spark.exceptions import translate_errors

    with translate_errors():
        df = r.parquet(*paths)
    if n_rows is not None:
        df = df.limit(n_rows)
    for c in ns_cols:
        # integer div keeps full int64 precision (float division would not)
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    if include_file_paths:
        df = df.withColumn(include_file_paths, F.input_file_name())
    cols = _compat.pop("columns", None)
    if cols is not None:
        cols = [cols] if isinstance(cols, str) else list(cols)
        df = df.select(*cols)
    lf = LazyFrame(df, deferred=_file_order_deferred(paths))
    if row_index_name:
        lf = lf.with_row_index(row_index_name, row_index_offset)
    return lf


def read_parquet(source, **kw) -> LazyFrame:
    return scan_parquet(source, **kw)


def scan_csv(
    source: str | Sequence[str],
    *,
    has_header: bool = True,
    separator: str = ",",
    quote_char: str | None = '"',
    null_values: str | Sequence[str] | None = None,
    try_parse_dates: bool = False,
    infer_schema: bool = True,
    schema: str | None = None,
    comment_prefix: str | None = None,
    skip_rows: int = 0,
    skip_rows_after_header: int = 0,
    encoding: str = "utf8",
    row_index_name: str | None = None,
    row_index_offset: int = 0,
    n_rows: int | None = None,
    new_columns: Sequence[str] | None = None,
    columns: Sequence[str] | str | None = None,
    infer_schema_length: int | None = None,
    schema_overrides=None,
    multiline: bool = True,
    truncate_ragged_lines: bool = False,
    ignore_errors: bool = False,
    spark: SparkSession | None = None,
    **_compat,
) -> LazyFrame:
    """CSV scan with schema inference (polars-io/src/csv/read/schema_inference.rs:17
    -> Spark's native inferSchema pass).

    polars option mapping: ``infer_schema_length=0`` (or
    ``infer_schema=False``) reads every column as string;
    ``skip_rows_after_header`` drops the first N DATA rows (ordered by the
    file's own row sequence); ``new_columns`` renames positionally;
    ``columns`` projects after read (the projection prunes at the scan —
    Catalyst pushes it down).

    ``multiline=True`` (default) parses RFC-4180 quoted newlines like the
    reference does unconditionally — Spark's line-split default silently
    CORRUPTS such rows (round-11 probe: a quoted two-line field became two
    rows).  The cost is intra-file split parallelism on huge single CSV
    files (multi-file datasets keep full parallelism); pass
    ``multiline=False`` to restore splittable scans when the data is known
    newline-free.

    Ragged rows raise by default, like the reference
    (``truncate_ragged_lines=False``, ``ignore_errors=False`` — Spark mode
    FAILFAST; the error surfaces at collect time, Spark being lazy).
    ``truncate_ragged_lines=True`` / ``ignore_errors=True`` map to
    PERMISSIVE, which truncates long rows AND null-pads short ones (a
    superset of polars' truncation)."""
    spark = _spark(spark)
    if infer_schema_length == 0:
        infer_schema = False
    dict_schema = None
    if schema is not None and isinstance(schema, dict):
        # polars dict schema: provides BOTH names and dtypes; the header
        # row (if any) is consumed but ignored.  Lower to an all-string
        # read + positional rename + strict cast through the engine's
        # dtype machinery (same path as schema_overrides).
        dict_schema = dict(schema)
        schema = None
        infer_schema = False
        if new_columns is None:
            new_columns = list(dict_schema.keys())
    mode = "PERMISSIVE" if (truncate_ragged_lines or ignore_errors) else "FAILFAST"
    enc = {"utf8": "UTF-8", "utf8-lossy": "UTF-8"}.get(encoding, encoding)
    r = (
        spark.read.option("header", has_header)
        .option("sep", separator)
        .option("multiLine", bool(multiline))
        .option("mode", mode)
        .option("encoding", enc)
    )
    if schema is not None:
        r = r.schema(schema)
    elif infer_schema:
        r = r.option("inferSchema", True)
    if quote_char:
        r = r.option("quote", quote_char)
    if null_values is not None:
        nv = [null_values] if isinstance(null_values, str) else list(null_values)
        r = r.option("nullValue", nv[0])
    if try_parse_dates:
        r = r.option("inferSchema", True).option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
    if comment_prefix:
        r = r.option("comment", comment_prefix)
    paths = [str(source)] if isinstance(source, str) or hasattr(source, '__fspath__') else [str(s) for s in source]
    from polars_spark.exceptions import translate_errors

    skip_scan_used = False
    if skip_rows:
        # polars skip_rows drops the first N LINES of each file before the
        # header.  OSS Spark has no such reader option (`skipRows` is a
        # Databricks extension and is SILENTLY IGNORED here — round-11
        # probe), and the preamble lines would trip FAILFAST as ragged
        # rows.  Round 12 (VERDICT r11 #5): the lowering is DISTRIBUTED —
        # read as `text`, drop the first N lines per file engine-side,
        # parse with from_csv — so multi-GB preamble'd files and remote
        # URIs work with no driver I/O.  Non-UTF-8 encodings keep the old
        # driver-side trimmed-copy fallback (Spark's text source decodes
        # UTF-8 only).
        if enc.upper() not in ("UTF-8", "UTF8"):
            paths = _skip_rows_trim(paths, skip_rows)
            with translate_errors():
                df = r.csv(paths)
        else:
            skip_scan_used = True
            with translate_errors():
                df = _skip_rows_scan(
                    spark,
                    paths,
                    skip_rows,
                    has_header=has_header,
                    separator=separator,
                    quote_char=quote_char,
                    null_values=null_values,
                    comment_prefix=comment_prefix,
                    mode=mode,
                    schema=schema,
                    infer_schema=infer_schema,
                    try_parse_dates=try_parse_dates,
                )
    else:
        with translate_errors():
            df = r.csv(paths)
    from polars_spark.plans.frame import ROW_IDX as _RIDX

    # only the skip_rows lowering carries a hidden order column; exclude
    # exactly it so user columns that happen to start with "__" still
    # rename positionally
    data_cols = [c for c in df.columns if not (skip_scan_used and c == _RIDX)]
    if new_columns:
        renames = dict(zip(data_cols, new_columns))
        df = df.withColumnsRenamed(renames)
    elif not has_header:
        # polars unnamed-column convention (column_1..N; Spark gives _c0..)
        renames = {c: f"column_{i + 1}" for i, c in enumerate(data_cols)}
        df = df.withColumnsRenamed(renames)
    lf = LazyFrame(
        df,
        deferred=(
            # the skip_rows lowering already carries the order struct
            _attached_order_deferred(paths)
            if skip_scan_used
            else _file_order_deferred(paths)
        ),
    )
    if skip_rows_after_header:
        idx = lf.with_row_index("__skip__")._df
        lf = LazyFrame(
            idx.filter(F.col("__skip__") >= skip_rows_after_header).drop("__skip__")
        )
    if n_rows is not None:
        lf = lf.limit(n_rows)
    if columns is not None:
        cols = [columns] if isinstance(columns, str) else list(columns)
        lf = LazyFrame(lf._df.select(*cols, *[c for c in lf._df.columns if c.startswith("__") and c not in cols]), lf._order)
    if dict_schema:
        # a columns= projection may keep only a subset of the dict schema
        lf = lf.cast({c: t for c, t in dict_schema.items() if c in lf.columns})
    if schema_overrides:
        if isinstance(schema_overrides, (list, tuple)):
            # positional form (reference scan_csv): dtypes in column order
            schema_overrides = dict(zip(lf.columns, schema_overrides))
        lf = lf.cast(dict(schema_overrides))
    if row_index_name:
        lf = lf.with_row_index(row_index_name, row_index_offset)
    return lf


def read_csv(source, **kw) -> LazyFrame:
    """Eager CSV read.  Besides paths, accepts in-memory sources like the
    reference (bytes, str CSV payload, or a file-like object) — spooled to
    a temp file so Spark's native reader (and its pushdown) still runs."""
    import os
    import tempfile

    if isinstance(source, (bytes, bytearray)) or hasattr(source, "read"):
        data = source.read() if hasattr(source, "read") else source
        if isinstance(data, str):
            data = data.encode()
        fd, path = tempfile.mkstemp(suffix=".csv")
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        return scan_csv(path, **kw)
    if isinstance(source, str) and "\n" in source:
        # a CSV payload string, not a path (polars accepts both)
        return read_csv(source.encode(), **kw)
    return scan_csv(source, **kw)


def _skip_rows_scan(
    spark: SparkSession,
    paths: Sequence[str],
    n: int,
    *,
    has_header: bool,
    separator: str,
    quote_char: str | None,
    null_values,
    comment_prefix: str | None,
    mode: str,
    schema,
    infer_schema: bool,
    try_parse_dates: bool,
):
    """Distributed scan_csv(skip_rows=N) lowering (round 12, VERDICT r11
    #5): read the files as ``text`` lines, drop the first N lines (plus the
    header line) PER FILE engine-side, then parse with ``from_csv`` — no
    driver I/O, works on remote URIs, and multi-GB preamble'd files stay
    distributed.

    Per-file line numbering without a data shuffle: a file's
    block-0 rows (``input_file_block_start() == 0``) are read by ONE task
    in file order, so ``monotonically_increasing_id()`` is increasing
    there and ``min(id)`` per file is the first line.  The agg reduces
    map-side to one row per FILE (never per row) and broadcast-joins back;
    rows in later blocks are beyond any sane preamble by construction — a
    preamble+header larger than the first scan block (>=128 MB of
    garbage) raises via an in-plan assert rather than mis-trimming.

    Parsing is per-LINE (from_csv), so a data field containing a QUOTED
    NEWLINE cannot be reassembled on this path.  An in-plan quote-parity
    assert makes this LOUD in every mode (round-12 review): a line with
    an odd number of unescaped quote characters is a fragment of a
    multi-line record (RFC-4180 doubling keeps parity even), and the
    scan raises with remediation instead of FAILFAST-erroring obscurely
    or PERMISSIVE-corrupting silently.  Preamble'd CSVs with embedded
    newlines need the preamble stripped upstream.

    Column identity: explicit ``schema`` wins; otherwise the header line
    is fetched engine-side (one 1-row collect) and Spark's own inference
    runs over the trimmed line set via the JVM ``Dataset[String]`` reader
    — the same inference pass the native path runs, on exactly the rows
    that survive the trim.

    Scan-order contract: ``input_file_name()`` cannot be re-derived at
    materialization time here (the plan contains a join -> multi-source),
    so the order struct is built from the columns captured at the text
    scan and CARRIED through the parse; the LazyFrame gets the
    already-attached deferred."""
    import csv as _csv
    import io as _io

    from polars_spark.plans.frame import ROW_IDX

    txt = spark.read.text(list(paths))
    t = txt.select(
        "value",
        F.input_file_name().alias("__f"),
        F.input_file_block_start().alias("__b"),
        F.monotonically_increasing_id().alias("__m"),
    )
    drop_n = int(n) + (1 if has_header else 0)
    m0 = (
        t.filter(F.col("__b") == 0)
        .groupBy("__f")
        .agg(F.min("__m").alias("__m0"), F.count(F.lit(1)).alias("__c0"))
    )
    j = t.join(F.broadcast(m0), "__f", "left")
    rn = F.col("__m") - F.col("__m0") + 1
    guard = F.assert_true(
        (F.col("__b") == 0) | (F.col("__c0") >= drop_n),
        F.lit(
            "scan_csv(skip_rows=...): the preamble+header does not fit in "
            "the first scan block of a file — trim it upstream"
        ),
    )
    # preamble dropped; comment/empty lines removed BEFORE header
    # detection (both the reference and Spark's native reader treat the
    # header as the first surviving line, not a fixed line number)
    k = j.filter(((F.col("__b") > 0) | (rn > int(n))) & guard.isNull())
    if comment_prefix:
        k = k.filter(~F.col("value").startswith(comment_prefix))
    # the native CSV reader skips completely empty lines; so do we
    k = k.filter(F.length("value") > 0)
    # quote-parity assert (see docstring): a surviving line with an odd
    # count of unescaped quote chars is a fragment of a quoted-newline
    # record — raise loudly in every mode rather than mis-parse.  (A
    # stray literal quote in an UNQUOTED field also trips this; such
    # files should scan with quote_char=None, which disables quoting and
    # skips the check.)
    if quote_char:
        unescaped = F.replace(F.col("value"), F.lit("\\" + quote_char), F.lit(""))
        qcount = F.length(unescaped) - F.length(
            F.replace(unescaped, F.lit(quote_char), F.lit(""))
        )
        k = k.filter(
            F.assert_true(
                qcount % 2 == 0,
                F.lit(
                    "scan_csv(skip_rows=...): a line has an unterminated "
                    "quote — either a data field contains a quoted newline "
                    "(the per-line skip_rows lowering cannot reassemble it; "
                    "strip the preamble upstream and scan with skip_rows=0) "
                    "or an unquoted field contains a stray quote char (scan "
                    "with quote_char=None)"
                ),
            ).isNull()
        )
    hdr_line = None
    if has_header:
        h0 = (
            k.filter(F.col("__b") == 0)
            .groupBy("__f")
            .agg(F.min("__m").alias("__hm"))
        )
        hdr_line = (
            k.join(F.broadcast(h0), "__f")
            .filter(F.col("__m") == F.col("__hm"))
            .select("value")
        )
        k = k.join(F.broadcast(h0), "__f", "left").filter(
            (F.col("__b") > 0) | (F.col("__m") != F.col("__hm"))
        )
    ordc = _order_struct(paths, F.col("__f"), F.col("__b"), F.col("__m"))
    lines = k.select("value", ordc.alias(ROW_IDX))

    quote = quote_char if quote_char else '"'
    opts: dict[str, str] = {"sep": separator, "mode": mode, "quote": quote}
    if null_values is not None:
        nv = [null_values] if isinstance(null_values, str) else list(null_values)
        opts["nullValue"] = nv[0]
    if try_parse_dates:
        opts["timestampFormat"] = "yyyy-MM-dd HH:mm:ss"

    if schema is not None:
        st = schema
        if isinstance(st, str):
            from pyspark.sql.types import _parse_datatype_string

            st = _parse_datatype_string(st)
    else:
        # Spark's own inference over the trimmed lines, JVM-side: a
        # Dataset[String] fed to the csv reader — identical inference
        # semantics to the native path, zero Python per-row cost.
        jvm = spark._jvm
        # "as" is a Python keyword — reach the JVM Dataset.as(Encoder) via getattr
        jds = getattr(lines.select("value")._jdf, "as")(
            jvm.org.apache.spark.sql.Encoders.STRING()
        )
        jreader = spark._jsparkSession.read()
        infer_opts = dict(opts)
        infer_opts["header"] = "false"
        infer_opts["inferSchema"] = "true" if (infer_schema or try_parse_dates) else "false"
        # inference itself tolerates ragged rows; FAILFAST still applies
        # to the real parse below
        infer_opts["mode"] = "PERMISSIVE"
        for ok_, ov_ in infer_opts.items():
            jreader = jreader.option(ok_, ov_)
        from pyspark.sql import DataFrame as _SDF

        from pyspark.sql.types import StringType, StructField, StructType

        try:
            inferred = _SDF(jreader.csv(jds), spark)
            st = inferred.schema
        except Exception:
            # zero data lines (e.g. header-only file): no schema to infer
            st = StructType([])
        if has_header:
            hrow = hdr_line.limit(1).collect()
            if not hrow:
                raise ValueError(
                    "scan_csv(skip_rows=...): no header line found after the "
                    "skipped preamble (file shorter than skip_rows?)"
                )
            names = next(
                _csv.reader(
                    _io.StringIO(hrow[0][0]), delimiter=separator, quotechar=quote
                )
            )
            if not st.fields:
                # header but no data rows: an empty typed frame (string
                # columns, like the reference's inference over no data)
                st = StructType([StructField(nm, StringType(), True) for nm in names])
            else:
                if builtins.len(names) != builtins.len(st.fields):
                    # ragged header vs data: mirror the reader's own arity
                    # behavior — pad/truncate names positionally
                    names = (
                        names + [f"_c{i}" for i in range(builtins.len(st.fields))]
                    )[: builtins.len(st.fields)]
                st = StructType(
                    [
                        StructField(nm, f.dataType, f.nullable)
                        for nm, f in zip(names, st.fields)
                    ]
                )
    if not st.fields:
        raise ValueError(
            "scan_csv(skip_rows=...): no data lines survive the preamble "
            "trim — file empty or shorter than skip_rows"
        )
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in st.fields)
    return lines.select(F.from_csv("value", ddl, opts).alias("__r"), ROW_IDX).select(
        "__r.*", ROW_IDX
    )


def _attached_order_deferred(paths: Sequence[str]):
    """Deferred scan-order contract for plans that already CARRY the order
    struct (the skip_rows text lowering): the column exists, so
    materialization is the identity."""
    from polars_spark.plans.frame import ROW_IDX

    def mat(df):
        return df, [(ROW_IDX, False, False)]

    mat.paths = [str(p) for p in paths]
    # concat()'s deferred-scan composition re-derives order from
    # input_file_name() over the UNION plan — impossible above this
    # plan's joins (multi-source).  The marker sends concat down its
    # generic union path instead (same degradation as any non-scan
    # input).
    mat.attached = True
    return mat


# process-lifetime temp dirs from the non-UTF-8 fallback below; removed at
# interpreter exit (the docstring scopes scan validity to process lifetime)
_SKIPROWS_TMPDIRS: list[str] = []


def _skip_rows_trim(paths: Sequence[str], n: int) -> list:
    """Trimmed temp copies of local CSV files with the first ``n`` lines
    removed — the NON-UTF-8 fallback for scan_csv(skip_rows=...) (the
    distributed text lowering above covers UTF-8, which Spark's text
    source requires).  Copies live in a process-lifetime temp dir
    (atexit-cleaned) so the lazy scan stays valid."""
    import atexit as _atexit
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    out_dir = _tempfile.mkdtemp(prefix="polars_spark_skiprows_")
    if not _SKIPROWS_TMPDIRS:
        _atexit.register(
            lambda: [_shutil.rmtree(d, ignore_errors=True) for d in _SKIPROWS_TMPDIRS]
        )
    _SKIPROWS_TMPDIRS.append(out_dir)
    out = []
    seq = 0  # spans ALL patterns: two files sharing a basename must not collide
    for pat in paths:
        if "://" in str(pat) and not str(pat).startswith("file:"):
            msg = (
                "scan_csv(skip_rows=...) on a remote URI requires UTF-8 "
                "encoding (the distributed text lowering); the non-UTF-8 "
                "fallback trims local copies only.  Strip the preamble "
                "upstream, or read with skip_rows=0 and a comment_prefix."
            )
            raise NotImplementedError(msg)
        p0 = str(pat).removeprefix("file://")
        hits = sorted(_glob.glob(p0)) or [p0]
        for h in hits:
            if _os.path.isdir(h):
                msg = "scan_csv(skip_rows=...) expects files, not directories"
                raise NotImplementedError(msg)
            dst = _os.path.join(out_dir, f"{seq:05d}_{_os.path.basename(h)}")
            seq += 1
            with open(h, "rb") as src, open(dst, "wb") as sink:
                skipped = 0
                while skipped < n:
                    if not src.readline():
                        break
                    skipped += 1
                _shutil.copyfileobj(src, sink)
            out.append(dst)
    return out


def _ndjson_first_key_order(paths) -> list | None:
    """Key order of the first JSON object in the first matching file —
    polars' column order for ndjson scans (Spark infers alphabetically).
    Driver-side read of ONE line; globs expanded with the local fs only
    (remote URIs return None and keep Spark's order)."""
    import glob as _glob
    import json as _json

    import os as _os

    def _files(path):
        # Spark-written "files" are directories of part-*; descend one level
        if _os.path.isdir(path):
            return sorted(
                _os.path.join(path, f)
                for f in _os.listdir(path)
                if not f.startswith((".", "_"))
            )
        return [path]

    for pat in paths:
        if "://" in str(pat):
            return None
        for hit in sorted(_glob.glob(str(pat))) or [str(pat)]:
            for p in _files(hit):
                try:
                    with open(p, "r", encoding="utf-8") as fh:
                        for line in fh:
                            line = line.strip()
                            if line:
                                obj = _json.loads(line)
                                if isinstance(obj, dict):
                                    return list(obj.keys())
                                return None
                except (OSError, ValueError):
                    # best-effort sniff: a malformed first line (or
                    # unreadable file) degrades to Spark's own column
                    # order instead of failing the scan — Spark's reader
                    # itself would route the bad line to _corrupt_record
                    continue
    return None


def scan_ndjson(
    source: str | Sequence[str],
    *,
    schema: str | None = None,
    infer_schema_length: int | None = None,
    row_index_name: str | None = None,
    row_index_offset: int = 0,
    n_rows: int | None = None,
    batch_size: int | None = None,
    low_memory: bool = False,
    rechunk: bool = False,
    spark: SparkSession | None = None,
    **_compat,
) -> LazyFrame:
    """NDJSON scan.  ``batch_size``/``low_memory``/``rechunk`` are polars
    buffer knobs with no Spark analogue (executors stream splits) —
    accepted and inert."""
    spark = _spark(spark)
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    paths = [str(source)] if isinstance(source, str) or hasattr(source, '__fspath__') else [str(s) for s in source]
    sdf = r.json(paths)
    if schema is None:
        # Spark's JSON schema inference sorts keys ALPHABETICALLY; polars
        # preserves first-row key order.  Sniff the first object's key
        # order from the first file (driver-side, one line) and reorder.
        first_keys = _ndjson_first_key_order(paths)
        if first_keys and set(first_keys) == set(sdf.columns):
            # backtick-escape: names may contain dots/backticks
            sdf = sdf.select(
                *[f"`{k.replace(chr(96), chr(96) * 2)}`" for k in first_keys]
            )
    lf = LazyFrame(sdf, deferred=_file_order_deferred(paths))
    if n_rows is not None:
        lf = lf.limit(n_rows)
    if row_index_name:
        lf = lf.with_row_index(row_index_name, row_index_offset)
    return lf


def read_ndjson(source, **kw) -> LazyFrame:
    """Eager NDJSON read; accepts in-memory sources (bytes, str payload,
    file-like) like the reference — spooled to a temp file so Spark's
    native json reader runs."""
    import os
    import tempfile

    if isinstance(source, (bytes, bytearray)) or hasattr(source, "read"):
        data = source.read() if hasattr(source, "read") else source
        if isinstance(data, str):
            data = data.encode()
        fd, path = tempfile.mkstemp(suffix=".ndjson")
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        return scan_ndjson(path, **kw)
    if isinstance(source, str) and "\n" in source.strip():
        return read_ndjson(source.encode(), **kw)
    if isinstance(source, str) and source.lstrip().startswith("{"):
        return read_ndjson(source.encode(), **kw)
    return scan_ndjson(source, **kw)


def read_json(source, *, schema=None, schema_overrides=None, spark: SparkSession | None = None, **_compat) -> LazyFrame:
    """Standard (multi-line) JSON documents, one record or an array per
    file.  Accepts paths, bytes/str payloads, or file-like objects (spooled
    to a temp file so Spark's native reader still runs); ``schema`` may be
    a DDL string or a {name: polars-dtype} dict."""
    import os
    import tempfile

    spark = _spark(spark)
    if hasattr(source, "read"):
        source = source.read()
    if isinstance(source, (bytes, bytearray)) or (
        # a string is a PAYLOAD only when it looks like a JSON document —
        # everything else (local paths, s3://-style URIs, globs) goes
        # straight to spark.read.json, which handles remote filesystems
        isinstance(source, str) and source.lstrip().startswith(("{", "["))
    ):
        payload = source.decode("utf8") if isinstance(source, (bytes, bytearray)) else source
        # delete=False: Spark reads the file lazily at job time
        tmp = tempfile.NamedTemporaryFile("w", suffix=".json", delete=False)
        tmp.write(payload)
        tmp.close()
        source = tmp.name
    r = spark.read.option("multiLine", True)
    if isinstance(schema, dict):
        from polars_spark.plans.expr import _dtype_to_spark

        schema = ", ".join(f"`{k}` {_dtype_to_spark(v)}" for k, v in schema.items())
    if schema is not None:
        r = r.schema(schema)
    lf = LazyFrame(r.json(str(source)))
    if schema_overrides:
        lf = lf.cast(dict(schema_overrides))
    return lf


def scan_ipc(source, **kw) -> LazyFrame:
    """Arrow IPC / Feather-v2 scan (polars scan_ipc, py-polars io/ipc).

    No native Spark datasource exists for IPC, so file-backed sources go
    through the same distributed Python DataSource path as
    ``scan_pyarrow_dataset``: one input partition per file, each executor
    opens its fragment with pyarrow and streams Arrow record batches to the
    JVM — nothing flows through the driver, so a directory of IPC shards
    scales with the cluster like any other scan."""
    import os

    import pyarrow.dataset as pads

    paths = [source] if isinstance(source, (str, os.PathLike)) else list(source)
    try:
        # a single path may be a directory of shards (pads only walks
        # directories when given the bare path, not a list)
        ds = pads.dataset(paths[0] if len(paths) == 1 else paths, format="ipc")
    except Exception:
        # feather v1 (uncompressed legacy) isn't a pads format — driver bridge
        import pyarrow.feather as feather

        return from_pandas(feather.read_feather(paths[0]))
    return scan_pyarrow_dataset(ds)


def from_pandas(pdf, spark: SparkSession | None = None) -> LazyFrame:
    """Driver-memory ingest.  The frame carries INSERTION ORDER (hidden
    row-index + order contract) like an eager polars DataFrame — so
    order-dependent exprs (cum_sum, shift, rank, ...) work immediately on
    constructed frames.  Driver-side data is small by definition (big data
    arrives via scans), so the index column costs nothing at scale."""
    from polars_spark.plans.frame import ROW_IDX

    import pandas as _pd_mod

    if isinstance(pdf, _pd_mod.Series):
        # reference from_pandas(pd.Series) -> polars Series
        from polars_spark.series import Series as _S

        return _S(pdf.name or "", [None if v != v else v for v in pdf.tolist()])
    spark = _spark(spark)
    if len(pdf) == 0:
        # empty frames cannot schema-infer; build the schema from the
        # pandas dtypes (object -> string, the polars empty-frame default)
        from pyspark.sql import types as T

        m = {
            "int8": T.ByteType(), "int16": T.ShortType(), "int32": T.IntegerType(),
            "int64": T.LongType(), "float32": T.FloatType(), "float64": T.DoubleType(),
            "bool": T.BooleanType(), "object": T.StringType(), "string": T.StringType(),
        }
        fields = []
        for name, dt in pdf.dtypes.items():
            s = str(dt)
            if s.startswith("datetime64"):
                fields.append(T.StructField(name, T.TimestampType()))
            else:
                fields.append(T.StructField(name, m.get(s, T.StringType())))
        fields.append(T.StructField(ROW_IDX, T.LongType()))
        return LazyFrame(spark.createDataFrame([], T.StructType(fields)), [(ROW_IDX, False)])
    # datetime.time values stay NATIVE: Spark 4's TIME(6) type — enable the
    # conf on the CONSUMING session (runtime-settable; session-portable)
    from polars_spark.session import ensure_time_type

    ensure_time_type(spark)
    if ROW_IDX in pdf.columns:
        return LazyFrame(spark.createDataFrame(pdf), [(ROW_IDX, False)])
    pdf2 = pdf.copy(deep=False)
    pdf2[ROW_IDX] = range(len(pdf2))
    return LazyFrame(spark.createDataFrame(pdf2), [(ROW_IDX, False)])


def _time_to_ns(pdf):
    """(legacy, unused by the builder since round 6) python datetime.time
    values -> ns-since-midnight bigint.  Round 6 flipped the Time dtype to
    Spark 4's NATIVE TIME(6) type — aggregates/sorts/compares all work once
    spark.sql.timeType.enabled is on (set in session.py)."""
    import datetime as _dt

    time_cols = []
    for c in pdf.columns:
        if str(pdf[c].dtype) == "object":
            non_null = pdf[c].dropna()
            if len(non_null) and isinstance(non_null.iloc[0], _dt.time) and not isinstance(
                non_null.iloc[0], _dt.datetime
            ):
                time_cols.append(c)
    if not time_cols:
        return pdf
    pdf = pdf.copy(deep=False)
    for c in time_cols:
        pdf[c] = pdf[c].map(
            lambda t: None
            if t is None
            else ((t.hour * 3600 + t.minute * 60 + t.second) * 1_000_000 + t.microsecond) * 1000
        )
    return pdf


def DataFrame(
    data=None,
    schema=None,
    *,
    schema_overrides=None,
    orient: str | None = None,
    strict: bool = True,
    nan_to_null: bool = False,
    spark: SparkSession | None = None,
    **named,
) -> LazyFrame:
    """Eager-style constructor (pl.DataFrame({'a': [...]})) — returns a
    LazyFrame (Spark is always lazy; polars' eager API delegates to lazy
    anyway, py-polars dataframe/group_by.py:273).

    ``schema`` may be a name list or a {name: dtype} mapping;
    ``schema_overrides`` casts named columns after construction.
    ``nan_to_null`` is inherent to the Spark conversion (float NaN from
    python sequences arrives as null already); ``strict=False`` mixed
    types fall back to strings, like the reference's supertype relax."""
    import pandas as pd

    from polars_spark.series import Series

    if data is None:
        data = named
    names = None
    dtypes: dict = {}
    if isinstance(schema, dict):
        names = list(schema.keys())
        dtypes.update(schema)
    elif isinstance(schema, (list, tuple)):
        for it in schema:
            if isinstance(it, tuple):
                names = names or []
                names.append(it[0])
                dtypes[it[0]] = it[1]
            else:
                names = names or []
                names.append(it)
    import collections.abc as _abc

    if isinstance(data, _abc.Iterator):
        # generators of Series/rows (pl.DataFrame(s * 2 for s in ...))
        data = list(data)
    if type(data).__module__.split(".")[0] == "numpy" and hasattr(data, "ndim"):
        # ndarray input: 2D goes through the same orient-aware 2D-sequence
        # path as nested lists; 1D is a single column
        data = data.tolist() if data.ndim == 2 else list(data)
    if data is None or (isinstance(data, dict) and not data):
        # schema-only construction: an empty frame WITH the named columns
        data = {n: [] for n in (names or [])}
    if isinstance(data, Series):
        data = {data.name or "column_0": data.to_pandas()}
    elif isinstance(data, dict):
        data = {k: (v.to_pandas() if isinstance(v, Series) else v) for k, v in data.items()}

        def _scalarish(v) -> bool:
            # str/bytes/dict are single VALUES (dict = one struct row),
            # not sequences, despite having __len__
            return isinstance(v, (str, bytes, dict)) or (
                not isinstance(v, (list, tuple, range)) and not hasattr(v, "__len__")
            )

        if data and builtins.all(_scalarish(v) for v in data.values()):
            # all-scalar dict: one row (polars broadcasts scalars)
            data = {k: [v] for k, v in data.items()}
    elif isinstance(data, (list, tuple)) and data and isinstance(data[0], Series):
        data = {s.name or f"column_{i}": s.to_pandas() for i, s in enumerate(data)}
    elif isinstance(data, (list, tuple)) and data and isinstance(data[0], (list, tuple)):
        # 2D sequence: polars infers row orientation unless told otherwise
        if orient == "col" or (orient is None and names is not None and len(names) == len(data)
                               and all(len(c) == len(data[0]) for c in data) and len(data) != len(data[0])):
            data = dict(zip(names or [f"column_{i}" for i in range(len(data))], data))
        else:
            pdf = pd.DataFrame(list(data), columns=names)
            lf = from_pandas(pdf, spark=spark)
            if schema_overrides:
                dtypes.update(schema_overrides)
            return lf.cast({k: v for k, v in dtypes.items() if k in lf.columns}) if dtypes else lf
    # polars keeps NaN distinct from null (nan_to_null=False default); the
    # pandas bridge conflates them in float columns, so remember which
    # positions were EXPLICIT NaN literals and restore them after ingest
    nan_positions: dict = {}
    if not nan_to_null and isinstance(data, dict):
        for k, v in data.items():
            if isinstance(v, (list, tuple)):
                pos = [i for i, x in enumerate(v) if isinstance(x, float) and x != x]
                if pos:
                    nan_positions[k] = pos
    if isinstance(data, dict):
        # int/bool lists containing None: plain pandas widens to float64
        # (ints become 1.0, null becomes NaN); the nullable extension dtypes
        # keep polars' typed-null semantics through createDataFrame
        def _nullable_ingest(v):
            if (
                isinstance(v, (list, tuple))
                and any(x is None for x in v)
                and any(x is not None for x in v)
            ):
                nonnull = [x for x in v if x is not None]
                if all(isinstance(x, int) and not isinstance(x, bool) for x in nonnull):
                    return pd.array(v, dtype="Int64")
                if all(isinstance(x, bool) for x in nonnull):
                    return pd.array(v, dtype="boolean")
            return v

        def _objectify(v):
            # polars Object columns hold arbitrary python values; Spark has
            # no object type, so non-ingestable values ride as their str()
            # (documented §1.2 Object mapping — display-faithful)
            import datetime as _dtm
            import decimal as _dec

            ok_types = (bool, int, float, str, bytes, _dtm.date, _dtm.time,
                        _dtm.timedelta, _dec.Decimal, list, tuple, dict)
            if (
                isinstance(v, (list, tuple))
                and any(x is not None and not isinstance(x, ok_types)
                        and type(x).__module__ not in ("numpy", "pandas") for x in v)
            ):
                return [None if x is None else str(x) for x in v]
            return v

        data = {k: _nullable_ingest(_objectify(v)) for k, v in data.items()}
    pdf = pd.DataFrame(data)
    if names and len(names) == len(pdf.columns):
        pdf.columns = names
    lf = from_pandas(pdf, spark=spark)
    if nan_positions:
        from pyspark.sql import functions as F

        from polars_spark.plans.frame import ROW_IDX

        df = lf._df
        types = dict(df.dtypes)
        for k, pos in nan_positions.items():
            if k not in types:
                continue
            df = df.withColumn(
                k,
                F.when(
                    F.col(ROW_IDX).isin(pos),
                    F.lit(float("nan")).cast(types[k]),
                ).otherwise(F.col(k)),
            )
        lf = LazyFrame(df, lf._order)
    if schema_overrides:
        dtypes.update(schema_overrides)
    dtypes = {k: v for k, v in dtypes.items() if v is not None and k in lf.columns}
    return lf.cast(dtypes) if dtypes else lf


def scan_orc(source, *, spark: SparkSession | None = None) -> LazyFrame:
    """ORC scan — native Spark datasource (columnar, predicate pushdown);
    not in polars, free capability here."""
    spark = _spark(spark)
    paths = [str(source)] if isinstance(source, str) or hasattr(source, '__fspath__') else [str(s) for s in source]
    return LazyFrame(spark.read.orc(*paths), deferred=_file_order_deferred(paths))


def read_avro(source, spark: SparkSession | None = None) -> LazyFrame:
    """Avro via Spark's external avro module; raises with the fix when the
    connector jar is absent (as in this container)."""
    spark = _spark(spark)
    try:
        return LazyFrame(spark.read.format("avro").load(source))
    except Exception as exc:  # AnalysisException: Failed to find data source
        raise NotImplementedError(
            "spark-avro module not on the classpath; add "
            "org.apache.spark:spark-avro to spark.jars.packages"
        ) from exc


def scan_delta(source, *, version: int | str | None = None, spark: SparkSession | None = None) -> LazyFrame:
    """Delta Lake scan (polars scan_delta, py-polars __init__.py scan_delta):
    native Spark datasource with full predicate/column pushdown and time
    travel.  Lights up when io.delta:delta-spark is on the classpath (set
    SPARK_GRAFT_PACKAGES, see session.get_spark); raises with the exact fix
    otherwise."""
    spark = _spark(spark)
    try:
        r = spark.read.format("delta")
        if version is not None:
            r = r.option("versionAsOf", version) if isinstance(version, int) else r.option(
                "timestampAsOf", version
            )
        return LazyFrame(r.load(source))
    except Exception as exc:
        raise NotImplementedError(
            "Delta Lake connector not on the classpath; set SPARK_GRAFT_PACKAGES="
            "io.delta:delta-spark_2.13:<ver> before the session starts"
        ) from exc


def scan_iceberg(source, *, snapshot_id: int | None = None, spark: SparkSession | None = None) -> LazyFrame:
    """Iceberg scan (polars scan_iceberg): native Spark datasource (hidden
    partitioning, pushdown, snapshot time travel).  Needs
    org.apache.iceberg:iceberg-spark-runtime on the classpath."""
    spark = _spark(spark)
    try:
        r = spark.read.format("iceberg")
        if snapshot_id is not None:
            r = r.option("snapshot-id", snapshot_id)
        return LazyFrame(r.load(source))
    except Exception as exc:
        raise NotImplementedError(
            "Iceberg runtime not on the classpath; set SPARK_GRAFT_PACKAGES="
            "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>"
        ) from exc


def read_database(
    query: str,
    connection_uri: str,
    *,
    partition_on: str | None = None,
    num_partitions: int | None = None,
    spark: SparkSession | None = None,
) -> LazyFrame:
    """polars read_database over Spark's JDBC source.  ``partition_on`` +
    ``num_partitions`` turn the single-connection read into a parallel
    range-partitioned one (the 100 TB-relevant knob)."""
    spark = _spark(spark)
    try:
        r = (
            spark.read.format("jdbc")
            .option("url", connection_uri)
            .option("query", query)
        )
        if partition_on is not None and num_partitions is not None:
            r = r.option("partitionColumn", partition_on).option(
                "numPartitions", num_partitions
            )
        return LazyFrame(r.load())
    except Exception as exc:
        raise NotImplementedError(
            "JDBC driver not on the classpath; add the driver coordinate to "
            "SPARK_GRAFT_PACKAGES (e.g. org.postgresql:postgresql:<ver>)"
        ) from exc


def scan_pyarrow_dataset(ds, *, spark: SparkSession | None = None) -> LazyFrame:
    """polars scan_pyarrow_dataset: scan a ``pyarrow.dataset.Dataset``.

    File-backed datasets (the 100 TB case) are read DISTRIBUTED via the
    Spark 4 Python DataSource API — one input partition per fragment file,
    each executor opens its own fragment with pyarrow and yields Arrow
    batches; nothing flows through the driver.  Non-file datasets (in-memory
    tables) fall back to a driver-side Arrow bridge."""
    spark = _spark(spark)
    try:
        files = list(ds.files)  # FileSystemDataset
    except AttributeError:
        files = None
    if not files:
        return from_arrow(ds.to_table(), spark=spark)

    fmt = ds.format.default_extname  # 'parquet' / 'arrow' / ...
    if fmt == "parquet":
        # parquet fragments: Spark's native reader is strictly better
        # (pushdown, pruning, vectorized scan)
        return scan_parquet(files, spark=spark)

    import uuid

    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    schema_ddl = ", ".join(
        f"`{f.name}` {_arrow_to_spark_ddl(f.type)}" for f in ds.schema
    )
    name = f"pls_pads_{uuid.uuid4().hex[:8]}"

    # Arrow batches can only be handed to Spark verbatim when every field's
    # type maps losslessly onto the declared DDL (no "string" fallback)
    arrow_ok = all(_arrow_maps_exactly(f.type) for f in ds.schema)

    class _Reader(DataSourceReader):
        def __init__(self, schema_, options):
            self._files = files
            self._fmt = fmt
            self._arrow_ok = arrow_ok

        def partitions(self):
            return [InputPartition(p) for p in self._files]

        def read(self, partition):
            import pyarrow.dataset as pads

            frag = pads.dataset(partition.value, format=self._fmt)
            if self._arrow_ok:
                # Arrow-batch fast path: batches flow to the JVM through the
                # DataSource Arrow serializer, no per-row Python conversion
                yield from frag.to_batches()
                return
            names = frag.schema.names
            for batch in frag.to_batches():
                cols = [batch.column(n).to_pylist() for n in names]
                yield from zip(*cols)

    class _Source(DataSource):
        @classmethod
        def name(cls):
            return name

        def schema(self):
            return schema_ddl

        def reader(self, schema):
            return _Reader(schema, self.options)

    spark.dataSource.register(_Source)
    return LazyFrame(spark.read.format(name).load())


def _arrow_maps_exactly(t) -> bool:
    """True when the Arrow type maps losslessly onto the DDL produced by
    ``_arrow_to_spark_ddl`` so a RecordBatch can be handed to Spark's
    DataSource Arrow serializer verbatim."""
    import pyarrow.types as pt

    if pt.is_list(t):
        return _arrow_maps_exactly(t.value_type)
    if pt.is_timestamp(t):
        return t.unit == "us" and t.tz is None
    return (
        pt.is_int64(t)
        or pt.is_int32(t)
        or pt.is_float64(t)
        or pt.is_float32(t)
        or pt.is_boolean(t)
        or pt.is_date32(t)
        or pt.is_binary(t)
        or pt.is_string(t)
    )


def _arrow_to_spark_ddl(t) -> str:
    import pyarrow.types as pt

    if pt.is_int64(t):
        return "bigint"
    if pt.is_int32(t):
        return "int"
    if pt.is_float64(t):
        return "double"
    if pt.is_float32(t):
        return "float"
    if pt.is_boolean(t):
        return "boolean"
    if pt.is_timestamp(t):
        return "timestamp"
    if pt.is_date(t):
        return "date"
    if pt.is_binary(t):
        return "binary"
    if pt.is_list(t):
        return f"array<{_arrow_to_spark_ddl(t.value_type)}>"
    return "string"


def from_arrow(data, schema=None, *, schema_overrides=None, spark: SparkSession | None = None) -> LazyFrame:
    """polars from_arrow: accept a pyarrow Table/RecordBatch or ANY object
    implementing the Arrow C stream protocol (``__arrow_c_stream__``) —
    polars frames, duckdb results, nanoarrow streams.  Driver-side bridge
    (Arrow -> Spark via createDataFrame's Arrow path)."""
    import pyarrow as pa

    spark = _spark(spark)
    if isinstance(data, (pa.Array, pa.ChunkedArray)):
        # a bare arrow array is a SERIES in the reference
        from polars_spark.series import Series as _S

        s = _S("", data.to_pylist())
        if isinstance(schema, dict):
            name = next(iter(schema))
            return _S(name, s.to_list())
        return s
    if not isinstance(data, (pa.Table, pa.RecordBatch)):
        data = pa.table(data)  # consumes __arrow_c_stream__ / __arrow_c_array__
    if isinstance(data, pa.RecordBatch):
        data = pa.Table.from_batches([data])
    # hand Spark the ARROW table, not a pandas detour: the arrow schema is
    # authoritative (empty tables don't re-infer; int64-with-null stays
    # int64; null and NaN stay distinct values).  Like every constructed
    # frame, it carries the INSERTION-ORDER contract via the hidden row
    # index so order-dependent ops (unique keep=first, cum_*, head) work.
    from polars_spark.plans.frame import ROW_IDX

    if ROW_IDX not in data.column_names:
        data = data.append_column(ROW_IDX, pa.array(range(data.num_rows), pa.int64()))
    lf = LazyFrame(spark.createDataFrame(data), [(ROW_IDX, False)])
    lf = _apply_schema_arg(lf, schema)
    if schema_overrides:
        lf = lf.cast(dict(schema_overrides))
    return lf


def read_excel(source, *, sheet_name=0, spark: SparkSession | None = None) -> LazyFrame:
    """polars read_excel: driver-side openpyxl/pandas bridge (excel files are
    small by construction; the frame is distributed after parse)."""
    try:
        import openpyxl  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError("read_excel needs openpyxl (not in this image)") from exc
    import pandas as pd

    return from_pandas(pd.read_excel(source, sheet_name=sheet_name), spark=spark)


def read_ods(source, *, sheet_name=0, spark: SparkSession | None = None) -> LazyFrame:
    """polars read_ods: driver-side odfpy/pandas bridge, same trade as
    read_excel (an ODS file is a driver artifact; the frame distributes
    after parse)."""
    try:
        import odf  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env
        raise NotImplementedError("read_ods needs odfpy (not in this image)") from exc
    import pandas as pd

    return from_pandas(
        pd.read_excel(source, sheet_name=sheet_name, engine="odf"), spark=spark
    )


def read_clipboard(separator: str = "\t", *, spark: SparkSession | None = None) -> LazyFrame:
    """polars read_clipboard (reference io/clipboard.py): driver-side pandas
    bridge — needs a clipboard-capable environment (not this container)."""
    import pandas as pd

    try:
        pdf = pd.read_clipboard(sep=separator)
    except Exception as exc:  # pragma: no cover - env
        raise NotImplementedError(
            "read_clipboard needs a clipboard-capable environment"
        ) from exc
    return from_pandas(pdf, spark=spark)


def scan_arrow_c_stream(source, *, spark: SparkSession | None = None) -> LazyFrame:
    """polars scan_arrow_c_stream: ingest any object exporting the Arrow
    PyCapsule C-stream interface (``__arrow_c_stream__``) — materialized via
    pyarrow on the driver (a C stream is an in-process handle by definition),
    then distributed."""
    import pyarrow as pa

    if not hasattr(source, "__arrow_c_stream__"):
        msg = "source does not export __arrow_c_stream__"
        raise TypeError(msg)
    reader = pa.RecordBatchReader.from_stream(source)
    return from_arrow(reader.read_all(), spark=spark)


class ScanCastOptions:
    """Per-scan cast policy (reference io/scan_options/cast_options.py:28).
    Accepted by scan_parquet; this engine's scan applies Spark's schema
    merging, so only the permissive settings are honored — a 'forbid'
    policy matches the default strict behavior."""

    def __init__(
        self,
        *,
        integer_cast: str = "forbid",
        float_cast: str = "forbid",
        datetime_cast: str = "forbid",
        missing_struct_fields: str = "forbid",
        extra_struct_fields: str = "forbid",
    ):
        self.integer_cast = integer_cast
        self.float_cast = float_cast
        self.datetime_cast = datetime_cast
        self.missing_struct_fields = missing_struct_fields
        self.extra_struct_fields = extra_struct_fields

    @classmethod
    def _default(cls) -> "ScanCastOptions":
        return cls()


# ---------------------------------------------------------------------------
# constructors + eager generators (reference py-polars functions/eager.py,
# functions/range/): Spark-idiomatic — ranges come from the DISTRIBUTED
# spark.range source (parallel, no driver materialization), not a local list.


def from_dict(data: dict, spark: SparkSession | None = None) -> LazyFrame:
    import pandas as pd

    return from_pandas(pd.DataFrame(data), spark=spark)


def _apply_schema_arg(lf: LazyFrame, schema) -> LazyFrame:
    """Post-construction ``schema=`` handling shared by the from_* family:
    a dict {name: dtype} casts (and reorders to the dict order); a name
    list renames positionally."""
    if schema is None:
        return lf
    if isinstance(schema, dict):
        from polars_spark.plans.expr import _dtype_to_spark, lit as _lit

        lf = lf.cast({k: v for k, v in schema.items() if k in lf.columns})
        missing = [k for k in schema if k not in lf.columns]
        if missing:
            lf = lf.with_columns(
                *[_lit(None).cast(_dtype_to_spark(schema[k])).alias(k) for k in missing]
            )
        return lf.select(*schema.keys())
    names = list(schema)
    if len(names) > len(lf.columns):
        # a LONGER schema than the data names adds missing columns as null
        from polars_spark.plans.expr import lit as _lit

        lf = lf.rename(dict(zip(lf.columns, names)))
        return lf.with_columns(*[_lit(None).alias(n) for n in names[len(lf.columns):]]).select(*names)
    return lf.rename(dict(zip(lf.columns, names)))


def from_dicts(rows, schema=None, *, schema_overrides=None, spark: SparkSession | None = None) -> LazyFrame:
    import pandas as pd

    lf = from_pandas(pd.DataFrame(list(rows)), spark=spark)
    lf = _apply_schema_arg(lf, schema)
    if schema_overrides:
        lf = lf.cast(dict(schema_overrides))
    return lf


def from_records(data, schema=None, *, schema_overrides=None, orient: str | None = None, spark: SparkSession | None = None) -> LazyFrame:
    """polars from_records: row-major by default (list of row tuples);
    orient='col' (or an unambiguous schema-length match) is column-major."""
    import pandas as pd

    # a dict schema contributes its KEYS as the positional column names
    # (polars: {"a": Int64, ...} names row-orient tuples) — dropping them
    # left pandas integer column labels that matched no schema key, so
    # _apply_schema_arg nulled every column (round-10 asof-fuzz find)
    names = list(schema) if schema is not None else None
    if orient is None and names is not None and isinstance(data, (list, tuple)) and data:
        # polars orientation inference: schema length matching the OUTER
        # length (and not the inner) means the outer lists are columns
        inner = len(data[0]) if hasattr(data[0], "__len__") else None
        if len(names) == len(data) and inner is not None and inner != len(names):
            orient = "col"
    if orient == "col":
        cols = names or [f"column_{i}" for i in range(len(data))]
        lf = from_pandas(pd.DataFrame(dict(zip(cols, data))), spark=spark)
    else:
        lf = from_pandas(pd.DataFrame(list(data), columns=names), spark=spark)
    if isinstance(schema, dict):
        lf = _apply_schema_arg(lf, schema)
    if schema_overrides:
        lf = lf.cast(dict(schema_overrides))
    return lf


def from_numpy(arr, schema=None, *, schema_overrides=None, orient: str | None = None, spark: SparkSession | None = None) -> LazyFrame:
    import pandas as pd

    if arr.ndim == 1:
        arr = arr.reshape(-1, 1)
    if orient == "col" or (
        orient is None and schema is not None and not isinstance(schema, dict)
        and len(list(schema)) == arr.shape[0] != arr.shape[1]
    ):
        arr = arr.T
    names = list(schema) if schema is not None and not isinstance(schema, dict) else (
        list(schema.keys()) if isinstance(schema, dict) else [f"column_{i}" for i in range(arr.shape[1])]
    )
    lf = from_pandas(pd.DataFrame(arr, columns=names), spark=spark)
    if isinstance(schema, dict):
        lf = lf.cast(schema)
    if schema_overrides:
        lf = lf.cast(dict(schema_overrides))
    return lf


def int_range(
    start=0, end=None, step: int = 1, *, dtype=None, eager: bool = True, spark: SparkSession | None = None
):
    """pl.int_range.  With int bounds: a DISTRIBUTED range scan
    (spark.range splits the range across the cluster — polars generates a
    local Series); eager=True returns a Series like the reference.  With
    EXPRESSION bounds (the ``pl.int_range(pl.len())`` index idiom): an
    order-window row counter over the frame order, offset by ``start``."""
    from polars_spark.plans.expr import Expr, _dtype_to_spark

    if isinstance(start, Expr) or isinstance(end, Expr) or not eager:
        from pyspark.sql import Window as _W

        from polars_spark.plans.expr import _to_expr

        s_e = _to_expr(0 if (end is None and not isinstance(start, Expr)) else start)
        if end is None:
            # int_range(pl.len()): 0..n-1 over the frame order
            def fn(ctx):
                w = ctx.order_window()
                c = (F.row_number().over(w) - 1).cast("bigint")
                if dtype is not None:
                    c = c.cast(_dtype_to_spark(dtype))
                return c

            return Expr(fn, "int")

        def fn(ctx):
            w = ctx.order_window()
            c = (F.row_number().over(w) - 1) * step + s_e._resolve(ctx)
            c = c.cast("bigint")
            if dtype is not None:
                c = c.cast(_dtype_to_spark(dtype))
            return c

        return Expr(fn, "int")
    if end is None:
        start, end = 0, start
    spark = _spark(spark)
    lf = LazyFrame(spark.range(start, end, step).select(F.col("id").alias("literal")))
    if dtype is not None:
        lf = lf.cast({"literal": dtype})
    return lf.to_series() if eager else lf


def linear_space(start, end, num_samples, *, closed: str = "both", eager: bool = True, spark: SparkSession | None = None):
    """num_samples evenly spaced points over [start, end] — spark.range
    backed, computed as start + i*step per row.  ``closed`` picks which
    endpoints are included (reference functions/linear_space.py): 'both'
    divides by n-1, the open variants by n/n+1 with an index shift."""
    import datetime as _dt

    from polars_spark.plans.expr import Expr as _Expr, _to_expr

    if isinstance(num_samples, _Expr):
        # expression sample count (linear_space(0, 1, pl.len())): a
        # per-context array expression (explode at the call site)
        if closed != "both":
            msg = "linear_space with an expression num_samples supports closed='both' only"
            raise ValueError(msg)
        ne = num_samples
        s_, e_ = float(start), float(end)

        def fn(ctx):
            n_ = ne._resolve(ctx).cast("int")
            # closed='both': i * (end-start)/(n-1) + start; n<=1 edge cases
            # handled explicitly (sequence(0,-1) would DESCEND in Spark)
            idx = F.sequence(F.lit(0), n_ - 1)
            full = F.transform(
                idx,
                lambda i: F.try_divide(i.cast("double") * (e_ - s_), (n_ - 1).cast("double")) + F.lit(s_),
            )
            return (
                F.when(n_ <= 0, F.array().cast("array<double>"))
                .when(n_ == 1, F.array(F.lit(s_)))
                .otherwise(full)
            )

        return _Expr(fn, "ls", is_agg=getattr(ne, "_is_agg", False))
    # temporal endpoints interpolate on the epoch axis (reference
    # linear_space over Date/Datetime/Time)
    temporal = None
    if isinstance(start, _dt.time) and not isinstance(start, _dt.datetime):
        temporal = "time"
        to_x = lambda t: ((t.hour * 3600 + t.minute * 60 + t.second) * 1_000_000 + t.microsecond) * 1000
        start, end = to_x(start), to_x(end)
    elif isinstance(start, _dt.datetime):
        temporal = "datetime"
        start, end = start.timestamp() * 1e6, end.timestamp() * 1e6
    elif isinstance(start, _dt.date):
        temporal = "date"
        epoch = _dt.date(1970, 1, 1)
        start, end = (start - epoch).days, (end - epoch).days
    spark = _spark(spark)
    n = num_samples
    if temporal is not None:
        out = linear_space(float(start), float(end), n, closed=closed, eager=False, spark=spark)
        c = F.col("literal")
        conv = {
            "time": c.cast("bigint"),
            "datetime": F.timestamp_micros(c.cast("bigint")),
            "date": F.date_add(F.lit("1970-01-01").cast("date"), c.cast("int")),
        }[temporal]
        lf = LazyFrame(out._df.select(conv.alias("literal")))
        return lf.to_series() if eager else lf
    if n == 0:
        lf = LazyFrame(spark.range(0).select(F.lit(0.0).alias("literal")))
        return lf.to_series() if eager else lf
    if n == 1:
        v = {"both": float(start), "left": float(start),
             "right": float(end), "none": (float(start) + float(end)) / 2}[closed]
        lf = LazyFrame(spark.range(1).select(F.lit(v).alias("literal")))
        return lf.to_series() if eager else lf
    span = end - start
    i = F.col("id").cast("double")
    if closed == "both":
        expr = i * (span / (n - 1)) + F.lit(float(start))
    elif closed == "left":
        expr = i * (span / n) + F.lit(float(start))
    elif closed == "right":
        expr = (i + 1) * (span / n) + F.lit(float(start))
    else:  # none: n interior points of n+1 intervals
        expr = (i + 1) * (span / (n + 1)) + F.lit(float(start))
    lf = LazyFrame(spark.range(n).select(expr.alias("literal")))
    return lf.to_series() if eager else lf


def date_range(start, end, interval: str = "1d", *, closed: str = "both", time_unit=None, time_zone=None, eager: bool = True, spark: SparkSession | None = None) -> LazyFrame:
    """Eager date range via one sequence() + explode (JVM-side).
    time_unit/time_zone accepted for signature parity: Spark timestamps
    are µs and zone-naive (§1.2 — the tz annotation lives on Expr.dt)."""
    from polars_spark.plans.expr import Expr as _Expr, _to_expr
    from polars_spark.plans.frame import _duration_str

    if isinstance(start, _Expr) or isinstance(end, _Expr):
        # expression bounds (agg context: date_range(col.min(), col.max()))
        # -> a per-row/per-group date LIST via sequence
        se, ee = _to_expr(start), _to_expr(end)

        def fn(ctx):
            return F.sequence(
                se._resolve(ctx).cast("date"),
                ee._resolve(ctx).cast("date"),
                F.expr(f"INTERVAL {_duration_str(interval)}"),
            )

        return _Expr(fn, "date", is_agg=se._is_agg or ee._is_agg)
    spark = _spark(spark)
    seq = F.sequence(
        F.lit(str(start)).cast("date"),
        F.lit(str(end)).cast("date"),
        F.expr(f"INTERVAL {_duration_str(interval)}"),
    )
    df = spark.range(1).select(F.explode(seq).alias("literal"))
    if closed in ("left", "none"):
        df = df.filter(F.col("literal") != F.lit(str(end)).cast("date"))
    if closed in ("right", "none"):
        df = df.filter(F.col("literal") != F.lit(str(start)).cast("date"))
    lf = LazyFrame(df)
    return lf.to_series() if eager else lf


def datetime_range(start, end, interval: str = "1h", *, closed: str = "both", time_unit=None, time_zone=None, eager: bool = True, spark: SparkSession | None = None) -> LazyFrame:
    """time_unit/time_zone accepted for signature parity (§1.2: µs
    precision, wall-time values; the tz annotation lives on Expr.dt)."""
    from polars_spark.plans.expr import Expr as _Expr, _to_expr
    from polars_spark.plans.frame import _duration_str

    if isinstance(start, _Expr) or isinstance(end, _Expr):
        # expression bounds (agg context: datetime_range(col.min(),
        # col.max())) -> a per-row/per-group timestamp LIST via sequence
        se, ee = _to_expr(start), _to_expr(end)

        def fn(ctx):
            s_c = se._resolve(ctx).cast("timestamp")
            e_c = ee._resolve(ctx).cast("timestamp")
            seq = F.sequence(s_c, e_c, F.expr(f"INTERVAL {_duration_str(interval)}"))
            if closed in ("left", "none"):
                seq = F.filter(seq, lambda x: x != e_c)
            if closed in ("right", "none"):
                seq = F.filter(seq, lambda x: x != s_c)
            return seq

        return _Expr(fn, "datetime", is_agg=se._is_agg or ee._is_agg)
    spark = _spark(spark)
    seq = F.sequence(
        F.lit(str(start)).cast("timestamp"),
        F.lit(str(end)).cast("timestamp"),
        F.expr(f"INTERVAL {_duration_str(interval)}"),
    )
    df = spark.range(1).select(F.explode(seq).alias("literal"))
    if closed in ("left", "none"):
        df = df.filter(F.col("literal") != F.lit(str(end)).cast("timestamp"))
    if closed in ("right", "none"):
        df = df.filter(F.col("literal") != F.lit(str(start)).cast("timestamp"))
    lf = LazyFrame(df)
    return lf.to_series() if eager else lf


def _fill_frame(n: int, value: float, name: str, dtype, eager: bool, spark):
    spark = _spark(spark)
    c = F.lit(value)
    if dtype is not None:
        from polars_spark.plans.expr import _dtype_to_spark

        c = c.cast(_dtype_to_spark(dtype))
    lf = LazyFrame(spark.range(n).select(c.alias(name)))
    return lf.to_series() if eager else lf


def zeros(n: int, dtype=None, *, eager: bool = False, spark: SparkSession | None = None):
    """n zeros (reference functions/repeat.py zeros): Float64 unless dtype."""
    return _fill_frame(n, 0.0, "zeros", dtype, eager, spark)


def ones(n: int, dtype=None, *, eager: bool = False, spark: SparkSession | None = None):
    """n ones (reference functions/repeat.py ones): Float64 unless dtype."""
    return _fill_frame(n, 1.0, "ones", dtype, eager, spark)


def select(*exprs, spark: SparkSession | None = None, **named) -> LazyFrame:
    """pl.select: evaluate expressions against an empty one-row frame
    (reference functions/eager.py select).  Series arguments become full
    columns (the reference builds the frame from them)."""
    from polars_spark.series import Series as _S

    spark = _spark(spark)
    ser = {
        **{(e.name or f"column_{i}"): e for i, e in enumerate(exprs) if isinstance(e, _S)},
        **{k: v for k, v in named.items() if isinstance(v, _S)},
    }
    if ser:
        base = DataFrame({k: v.to_list() for k, v in ser.items()}, spark=spark)
        rest = [e for e in exprs if not isinstance(e, _S)]
        named_rest = {k: v for k, v in named.items() if not isinstance(v, _S)}
        if not rest and not named_rest:
            return base
        return base.select(*base.columns, *rest, **named_rest)
    base = LazyFrame(spark.range(1).select(F.lit(1).alias("__dummy__")))
    out = base.select(*exprs, **named)
    return out


def collect_all(lazy_frames, **kwargs):
    """Collect a list of LazyFrames (reference collect_all).  Sequential:
    Spark already parallelizes each job across the cluster, and concurrent
    driver jobs would contend for the same executors."""
    return [lf.collect(**kwargs) for lf in lazy_frames]


def show_versions() -> None:
    import sys

    import numpy
    import pandas
    import pyarrow
    import pyspark

    print(f"polars_spark backend: pyspark {pyspark.__version__}")
    print(f"python {sys.version.split()[0]}; pyarrow {pyarrow.__version__}; "
          f"pandas {pandas.__version__}; numpy {numpy.__version__}")


def set_random_seed(seed: int) -> None:
    """Global default seed for sample/shuffle when no seed is passed."""
    from polars_spark.plans import frame as _frame

    _frame._GLOBAL_SEED = seed


_STRING_CACHE_ON = [False]


def enable_string_cache() -> None:
    """Semantically a no-op: .cat is a string passthrough (documented §1.2
    design) — Spark strings are dictionary-encoded at the parquet/Tungsten
    layer already, so there is no global interning cache to manage.  The
    flag is tracked so using_string_cache() reports truthfully."""
    _STRING_CACHE_ON[0] = True


def disable_string_cache() -> None:
    """See enable_string_cache."""
    _STRING_CACHE_ON[0] = False


def using_string_cache() -> bool:
    """polars using_string_cache() -> bool (the context-manager form is
    pl.StringCache)."""
    return _STRING_CACHE_ON[0]


# -- long-tail IO + frame-level parity shims --------------------------------


def read_ipc(path, spark: SparkSession | None = None) -> LazyFrame:
    """Alias of scan_ipc (reference read_ipc — eager polars delegates to the
    same scan).  Accepts bytes / BytesIO payloads (write_ipc buffer mode)."""
    if isinstance(path, (bytes, bytearray)) or hasattr(path, "read"):
        import io as _io

        import pyarrow.feather as feather

        buf = _io.BytesIO(path) if isinstance(path, (bytes, bytearray)) else path
        return from_arrow(feather.read_table(buf))
    return scan_ipc(path, spark=spark)


def read_ipc_stream(path: str, spark: SparkSession | None = None) -> LazyFrame:
    return scan_ipc(path, spark=spark)


def read_delta(path: str, spark: SparkSession | None = None, **kw) -> LazyFrame:
    return scan_delta(path, spark=spark, **kw)


def read_database_uri(query: str, uri: str, *, spark: SparkSession | None = None, **kw) -> LazyFrame:
    """URI-form of read_database (reference io/database) — same JDBC path."""
    return read_database(query, uri, spark=spark, **kw)


def scan_lines(path, *, name: str = "line", n_rows: int | None = None, row_index_name: str | None = None, row_index_offset: int = 0, spark: SparkSession | None = None, **_compat) -> LazyFrame:
    """Distributed line scan (reference io/lines.py scan_lines):
    spark.read.text — splittable, one string column, filter/limit push
    down.  Bytes / file-like sources split driver-side (in-memory payloads
    are driver data by definition)."""
    spark = _spark(spark)
    if hasattr(path, "read"):
        path = path.read()
    if isinstance(path, (bytes, bytearray)) or (isinstance(path, str) and "\n" in path):
        raw = path.decode("utf8") if isinstance(path, (bytes, bytearray)) else path
        import pandas as _pd

        lf = from_pandas(_pd.DataFrame({name: raw.splitlines()}), spark=spark)
    else:
        lf = LazyFrame(spark.read.text(str(path)).select(F.col("value").alias(name)))
    if n_rows is not None:
        lf = lf.limit(n_rows)
    if row_index_name:
        lf = lf.with_row_index(row_index_name, row_index_offset)
    return lf


def read_lines(path, **kw) -> LazyFrame:
    return scan_lines(path, **kw)


def read_parquet_schema(path: str) -> dict:
    """Column -> dtype string, read from footer metadata only (pyarrow,
    no data scan; reference io/parquet read_parquet_schema).  Globs and
    directories resolve to their first file as in ``scan_parquet``."""
    import pyarrow.parquet as pq

    sch = pq.read_schema(_first_parquet_file(path))
    return {f.name: str(f.type) for f in sch}


def read_parquet_metadata(path: str) -> dict:
    """File-level parquet metadata from the footer (row count, row groups,
    created_by) — no data scan."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(_first_parquet_file(path))
    return {
        "num_rows": md.num_rows,
        "num_row_groups": md.num_row_groups,
        "num_columns": md.num_columns,
        "created_by": md.created_by,
    }


def read_ipc_schema(path: str) -> dict:
    import pyarrow.ipc as ipc

    with ipc.open_file(path) as r:
        return {f.name: str(f.type) for f in r.schema}


def json_normalize(data, *, separator: str = ".", max_level: int | None = None, schema=None, strict: bool = True, infer_schema_length=None, encoder=None, spark: SparkSession | None = None) -> LazyFrame:
    """Flatten nested dicts/lists of dicts into columns (pandas
    json_normalize bridge, then distributed).  ``max_level`` bounds the
    flattening depth like the reference."""
    import pandas as pd

    lf = from_pandas(pd.json_normalize(data, sep=separator, max_level=max_level), spark=spark)
    return _apply_schema_arg(lf, schema)


def from_dataframe(df, *, spark: SparkSession | None = None) -> LazyFrame:
    """Any dataframe-interchange-protocol object (reference from_dataframe)."""
    import pandas as pd

    return from_pandas(pd.api.interchange.from_dataframe(df), spark=spark)


def from_torch(tensor, *, schema=None, spark: SparkSession | None = None) -> LazyFrame:
    """2-D torch tensor -> frame (import-guarded; torch is not in this
    environment)."""
    try:
        import torch  # noqa: F401
    except ImportError as exc:  # pragma: no cover
        raise ImportError("from_torch requires the 'torch' package") from exc
    return from_numpy(tensor.cpu().numpy(), schema=schema, spark=spark)


def merge_sorted(left, right=None, key: str = "") -> LazyFrame:
    """Top-level form of LazyFrame.merge_sorted; also accepts a LIST of
    frames (reference functions/eager.py merge_sorted multi form)."""
    if right is None or isinstance(left, (list, tuple)):
        frames = list(left)
        out = frames[0]
        for f in frames[1:]:
            out = out.merge_sorted(f, key)
        return out
    return left.merge_sorted(right, key)


def union(items, *, how: str = "vertical", strict: bool | None = None) -> LazyFrame:
    """Order-free combine (reference functions/eager.py:382) — same plan as
    concat; Spark never guarantees row order anyway."""
    from polars_spark.plans.frame import concat as _concat

    return _concat(list(items), how=how)


def align_frames(*frames: LazyFrame, on, how: str = "outer", select=None, descending: bool = False):
    """Align frames to a common sorted key domain (reference
    functions/eager.py align_frames) — delegates to the frame-level
    implementation (spine = distinct key union, one join per frame)."""
    from polars_spark.plans.frame import align_frames as _af

    return _af(*frames, on=on, how=how, select=select, descending=descending)


def explain_all(lazy_frames) -> str:
    """Concatenated formatted plans (reference explain_all)."""
    parts = []
    for i, lf in enumerate(lazy_frames):
        parts.append(f"-- frame {i} --")
        parts.append(lf._df._jdf.queryExecution().executedPlan().toString())
    return "\n".join(parts)


def collect_all_async(lazy_frames):
    """Futures for each collect (reference collect_all_async) — a small
    driver thread pool; Spark schedules the jobs fairly across executors."""
    from concurrent.futures import ThreadPoolExecutor

    pool = ThreadPoolExecutor(max_workers=4)
    try:
        return [pool.submit(lf.collect) for lf in lazy_frames]
    finally:
        pool.shutdown(wait=False)


def thread_pool_size(spark: SparkSession | None = None) -> int:
    """Executor-core count (the Spark analogue of polars' thread pool)."""
    spark = _spark(spark)
    return spark.sparkContext.defaultParallelism


threadpool_size = thread_pool_size


def build_info() -> dict:
    import pyspark

    return {"backend": "pyspark", "version": pyspark.__version__}


def get_index_type() -> str:
    """Row-index dtype ('bigint' — Spark indexes are 64-bit; polars uses
    UInt32 by default)."""
    return "bigint"


def from_repr(text: str, spark: SparkSession | None = None) -> LazyFrame:
    """polars from_repr (py-polars functions/general): rebuild a frame from
    its printed table repr — the round-trip used throughout the reference's
    doctests.  Parses the box-drawing layout: header row, dtype row, data
    rows; supports the common scalar dtypes (ints, floats, str, bool,
    date/datetime) and ``null`` cells."""
    import re as _re

    import pandas as pd

    m = _re.search(r"Series:\s*'([^']*)'\s*\[(\w+)\]", text)
    if m and "│" not in text:
        # Series repr form: name/dtype header + one bracketed value list
        name, dt = m.group(1), m.group(2)
        body = text[m.end():]
        b0, b1 = body.find("["), body.rfind("]")
        vals = [v.strip().strip('"') for v in body[b0 + 1:b1].splitlines() if v.strip()]

        def sconv(v: str):
            if v in ("null", ""):
                return None
            if dt.startswith(("i", "u")):
                return int(v)
            if dt.startswith("f"):
                return float(v)
            if dt == "bool":
                return v == "true"
            if dt == "date":
                import datetime as _dtm

                return _dtm.date.fromisoformat(v)
            return v

        from polars_spark.series import Series as _S

        return _S(name, [sconv(v) for v in vals])
    norm = text.replace("┆", "│")
    lines = [ln for ln in norm.splitlines() if "│" in ln or "|" in ln]
    if not lines:
        raise ValueError("from_repr: no table rows found")
    sep = "│" if "│" in lines[0] else "|"

    def cells(ln: str) -> list[str]:
        return [c.strip() for c in ln.strip().strip(sep).split(sep)]

    names = cells(lines[0])
    body = lines[1:]
    # optional '---' separator row between names and dtypes
    if body and all(c == "---" for c in cells(body[0])):
        body = body[1:]
    dtype_tokens = {
        "i8", "i16", "i32", "i64", "u8", "u16", "u32", "u64",
        "f32", "f64", "str", "bool", "date", "null",
    }
    dtypes = cells(body[0]) if body else []
    has_dtype_row = bool(dtypes) and all(
        d in dtype_tokens or d.startswith(("datetime", "duration", "time", "cat"))
        for d in dtypes
    )
    data_rows = body[1:] if has_dtype_row else body
    if not has_dtype_row:
        dtypes = ["str"] * len(names)

    def conv(val: str, dt: str):
        if val in ("null", ""):
            return None
        if dt.startswith(("i", "u")):
            return int(val)
        if dt.startswith("f"):
            return float(val)
        if dt == "bool":
            return val == "true"
        if dt == "date" or dt.startswith("datetime"):
            return pd.Timestamp(val)
        return val

    rows = []
    for ln in data_rows:
        vals = cells(ln)
        if len(vals) != len(names):
            continue  # separator / ellipsis rows
        if all(_re.fullmatch(r"[-─═┄…]+", v or "-") for v in vals):
            continue
        rows.append([conv(v, d) for v, d in zip(vals, dtypes)])
    pdf = pd.DataFrame(rows, columns=names)
    # pin integer columns (all-null object columns stay object)
    for n, d in zip(names, dtypes):
        if d.startswith(("i", "u")) and pdf[n].notna().all() and len(pdf):
            pdf[n] = pdf[n].astype("int64")
        elif d.startswith("f") and len(pdf):
            pdf[n] = pdf[n].astype("float64")
    return from_pandas(pdf, spark=spark)


def scan_table(name: str, *, spark: SparkSession | None = None) -> LazyFrame:
    """Catalog table scan (pairs with LazyFrame.sink_bucketed_table): reads
    a managed/bucketed table; bucketing metadata lets Catalyst drop the
    shuffle on joins/aggs keyed by the bucket columns."""
    spark = _spark(spark)
    return LazyFrame(spark.table(name))


def time_range(
    start=None, end=None, interval: str = "1h", *, closed: str = "both",
    eager: bool = True, spark: SparkSession | None = None,
) -> LazyFrame:
    """Eager Time range (polars time_range): NATIVE Spark TIME(6) values
    (µs precision, like the fixed-µs Datetime policy) via one sequence()
    over ns-since-midnight + a make_time projection."""
    from polars_spark.functions import _TIME_END_NS, _ns_to_time, _time_to_ns
    from polars_spark.plans.frame import _duration_us
    from polars_spark.session import ensure_time_type

    spark = _spark(spark)
    ensure_time_type(spark)
    s = _time_to_ns(start) if start is not None else 0
    e = _time_to_ns(end) if end is not None else _TIME_END_NS
    step = _duration_us(interval) * 1000
    df = spark.range(1).select(
        F.explode(F.sequence(F.lit(s), F.lit(e), F.lit(step))).alias("literal")
    )

    if closed in ("left", "none"):
        df = df.filter(F.col("literal") != e)
    if closed in ("right", "none"):
        df = df.filter(F.col("literal") != s)
    df = df.select(_ns_to_time(F.col("literal")).alias("literal"))
    lf = LazyFrame(df)
    return lf.to_series() if eager else lf


class BatchedCsvReader:
    """polars read_csv_batched handle: pull result chunks with
    ``next_batches(n)`` (py-polars io/csv/batched_reader.py).  Batches
    stream through toLocalIterator — the whole file is never materialized
    on the driver at once."""

    def __init__(self, lf: LazyFrame, batch_size: int):
        self._gen = lf.collect_batches(batch_size=batch_size)
        self._done = False

    def next_batches(self, n: int):
        if self._done:
            return None
        out = []
        for _ in range(n):
            try:
                out.append(next(self._gen))
            except StopIteration:
                self._done = True
                break
        return out or None


def read_csv_batched(source, *, batch_size: int = 50_000, **kw) -> BatchedCsvReader:
    return BatchedCsvReader(scan_csv(source, **kw), batch_size)


class _DeferredFrame:
    """polars pl.defer: delay running ``function`` until the frame is used
    (reference functions/lazy.py defer — built for polars-cloud, where the
    callback must run remotely at collect time; here the callback runs at
    first use, after which Spark's own laziness takes over)."""

    def __init__(self, function, *, schema=None, validate_schema: bool = True):
        self._function = function
        self._schema = schema
        self._validate = validate_schema
        self._materialized: LazyFrame | None = None

    def _target(self) -> LazyFrame:
        if self._materialized is None:
            out = self._function()
            if not isinstance(out, LazyFrame):
                out = from_pandas(out) if hasattr(out, "dtypes") else DataFrame(out)
            if self._validate and self._schema is not None:
                got = list(out.columns)
                want = list(self._schema)
                if got != want:
                    msg = f"defer: schema mismatch — expected {want}, function returned {got}"
                    raise ValueError(msg)
            self._materialized = out
        return self._materialized

    def __getattr__(self, name):
        return getattr(self._target(), name)


def defer(function, *, schema=None, validate_schema: bool = True) -> _DeferredFrame:
    return _DeferredFrame(function, schema=schema, validate_schema=validate_schema)


class PartitionBy:
    """polars pl.PartitionBy (py-polars io/partition.py:31): multi-file
    sink configuration, accepted as the ``path`` argument of sink_parquet.

    Mapping: ``key`` -> hive-style write.partitionBy (Spark's layout always
    excludes key columns from the data files — they are recovered on read,
    so include_key affects nothing); ``max_rows_per_file`` ->
    spark.sql.files maxRecordsPerFile (polars PartitionStrategy::FileSize,
    dsl/options/sink.rs:281).  approximate_bytes_per_file has no direct
    Spark knob and is accepted as advisory."""

    def __init__(
        self,
        base_path: str,
        *,
        key=None,
        include_key: bool | None = None,
        max_rows_per_file: int | None = None,
        approximate_bytes_per_file=None,
        file_path_provider=None,
    ):
        if key is None and max_rows_per_file is None and approximate_bytes_per_file is None:
            raise ValueError(
                "at least one of ('key', 'max_rows_per_file', "
                "'approximate_bytes_per_file') must be specified for PartitionBy"
            )
        self.base_path = str(base_path)
        self.key = [key] if isinstance(key, str) else (list(key) if key else [])
        self.max_rows_per_file = max_rows_per_file


class Catalog:
    """polars pl.Catalog (Unity-Catalog client in the reference) backed by
    the SPARK catalog: the same list/load surface over whatever metastore
    the session is connected to (in-session temp views + the managed
    warehouse locally; Hive/Glue/Unity on a real cluster — Spark's catalog
    API is the abstraction layer the reference client talks to anyway)."""

    def __init__(self, workspace_url: str | None = None, *, spark: SparkSession | None = None):
        self._spark = _spark(spark)
        self.workspace_url = workspace_url

    def list_namespaces(self) -> list[str]:
        return [d.name for d in self._spark.catalog.listDatabases()]

    # reference alias
    list_schemas = list_namespaces

    def list_tables(self, namespace: str | None = None) -> list[str]:
        dbs = [namespace] if namespace else [None]
        out = []
        for db in dbs:
            out += [t.name for t in self._spark.catalog.listTables(db)]
        return out

    def load_table(self, name: str) -> LazyFrame:
        return LazyFrame(self._spark.table(name))

    # polars scan_table equivalent
    scan_table = load_table

    def create_namespace(self, name: str) -> None:
        self._spark.sql(f"CREATE DATABASE IF NOT EXISTS `{name}`")

    def drop_namespace(self, name: str) -> None:
        self._spark.sql(f"DROP DATABASE IF EXISTS `{name}`")

    def write_table(self, frame: LazyFrame, name: str, *, mode: str = "error") -> None:
        frame.to_spark().write.mode(mode).saveAsTable(name)

    def drop_table(self, name: str) -> None:
        self._spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def _dataframe_deserialize(source, *, format: str = "binary") -> LazyFrame:
    """pl.DataFrame.deserialize — same payload as LazyFrame.deserialize."""
    return LazyFrame.deserialize(source, format=format)


# the eager constructor is a function; give it the classmethod surface the
# reference exposes on the DataFrame class
DataFrame.deserialize = _dataframe_deserialize


def _origin_journal(fn, name):
    """Stamp scan results with a replayable plan-journal origin so
    LazyFrame.serialize ships the scan spec (path + options), not results —
    the polars DslPlan::Scan serde equivalent."""
    import functools

    @functools.wraps(fn)
    def inner(*args, **kwargs):
        out = fn(*args, **kwargs)
        if isinstance(out, LazyFrame):
            kw = {k: v for k, v in kwargs.items() if k != "spark"}
            out._journal = ((name, args, kw),)
        return out

    return inner


for _n in ("scan_parquet", "scan_csv", "scan_ndjson", "scan_ipc", "scan_orc"):
    globals()[_n] = _origin_journal(globals()[_n], _n)
del _n
