"""Output check: each query's result against DuckDB running its oracle SQL.

The registry pairs most queries with ``ORACLE_SQL``, an independent SQL
formulation over the same parquet files.  Both sides are compared the way
the repo's correctness tool does it, with ``tools/check.py``'s own
``compare`` (row count, column names, then order-insensitive values), so
there is one comparison to keep in step.  ``check.py`` tags a float column
that differs only within rtol 1e-9 / atol 1e-12 as ``FLOAT-NOISE``; that
is a pass here.

DuckDB's answer depends only on the inputs and the SQL text, so it is
computed once per (SQL, inputs) and kept under the inputs directory.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os
from pathlib import Path

import pandas as pd


@functools.cache
def _check():
    """The repo's ``tools/check.py``, loaded by path (``tools`` is no package)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check", Path(__file__).resolve().parent.parent / "tools" / "check.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def spark_frame(df) -> pd.DataFrame:
    """A query's result as ``tools/check.py`` collects it: ``toPandas``, with
    array columns re-sourced from Arrow so a null inside a list stays apart
    from a NaN."""
    from pyspark.sql import types as T

    out = df.toPandas()
    arrays = [f.name for f in df.schema.fields if isinstance(f.dataType, T.ArrayType)]
    if arrays:
        at = df.toArrow()
        for c in arrays:
            out[c] = pd.Series(at.column(c).to_pylist(), dtype=object)
    return out


def oracle_frame(inputs_dir: str, tables: list[str], name: str, sql: str) -> pd.DataFrame:
    """DuckDB's result for ``sql`` (``.df()``, as ``check.py`` reads it), cached
    per SQL text and inputs."""
    key = hashlib.sha256(f"{sql}\n{_fingerprint(inputs_dir, tables)}".encode()).hexdigest()[:16]
    path = os.path.join(inputs_dir, "oracle", f"{name}-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs_dir}/{t}.parquet')")
        out = con.execute(sql).df()
    finally:
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    out.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return out


def _fingerprint(inputs_dir: str, tables: list[str]) -> str:
    parts = []
    for t in tables:
        st = os.stat(os.path.join(inputs_dir, f"{t}.parquet"))
        parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return ",".join(parts)


def problems(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """What keeps ``got`` from matching ``want``; empty when they agree."""
    return [p for p in _check().compare(name, got, want) if not p.startswith("FLOAT-NOISE")]
