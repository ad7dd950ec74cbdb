"""Frame layer: polars-style ``LazyFrame`` backed by a PySpark DataFrame.

Mirrors the polars ``DslPlan`` surface (reference:
polars-plan/src/dsl/plan.rs:30 — Scan/Filter/Select/HStack/GroupBy/Join/
Distinct/Sort/Slice/Union/HConcat/MapFunction/Pivot) and the python API
(py-polars/src/polars/lazyframe/frame.py).  Every method is a thin,
declarative mapping onto DataFrame transformations so Catalyst keeps
predicate pushdown / column pruning / join planning.

Order contract (SURVEY.md §1.1 "row order" gap): a LazyFrame carries
``_order`` — a list of ``(column_name, descending)`` pairs that define the
current row order, populated by ``sort()`` / ``with_row_index()`` /
``scan_parquet(row_index_name=...)``.  Order-sensitive expressions
(shift/cum_*/rank/rolling) read it through ``ExprContext``.  Frames with no
order raise a descriptive error from those expressions instead of silently
returning nondeterministic results.

Scale notes (100 TB design point):
- ``with_row_index`` never does a global sort or single-partition window:
  it numbers rows per input partition (partition-local window) and adds
  per-partition offsets computed from a tiny count aggregate (one row per
  partition) joined back by broadcast.  Two narrow passes, no full shuffle.
- joins never carry a forced broadcast of a scale-growing side; AQE picks
  broadcast vs shuffled-hash at runtime.
- as-of join is a union + single window shuffle partitioned by the ``by``
  keys (polars-ops/src/frame/join/asof/ semantics), not a range cross-join.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Iterable, Mapping, Sequence
from typing import Any

import pandas as _pd

from pyspark.sql import Column, DataFrame as SparkDF, SparkSession, Window
from pyspark.sql import functions as F

from polars_spark.llm import _count
from polars_spark.plans.expr import (
    Expr,
    ExprContext,
    OrderNeeded,
    _dtype_to_spark,
    _to_expr,
    col as _col,
)

__all__ = ["LazyFrame", "LazyGroupBy", "wrap", "concat"]

ROW_IDX = "__row_idx__"


# global default seed for sample/shuffle (pl.set_random_seed)
_GLOBAL_SEED: int | None = None


def wrap(df: SparkDF, order: list[tuple[str, bool]] | None = None) -> "LazyFrame":
    return LazyFrame(df, order)


import builtins as _b
builtins_len = _b.len

_NO_DEFAULT = object()  # get_column(default=...) absent-vs-None sentinel


def _ospec(o) -> tuple[str, bool, bool]:
    """Normalize an order entry to (name, descending, nulls_last)."""
    if isinstance(o, str):
        return (o, False, False)
    if len(o) == 2:
        return (o[0], bool(o[1]), False)
    return (o[0], bool(o[1]), bool(o[2]))


def _ewm_step_mean_adjust(st, x, decay, alpha, minp):
    num, den, cnt = st
    num = num * decay + x
    den = den * decay + 1.0
    cnt += 1
    return (num / den if cnt >= minp else None), (num, den, cnt)


def _ewm_step_mean_rec(st, x, decay, alpha, minp):
    # state (y, w, cnt): w < 1 only after a null-row decay under
    # ignore_nulls=False (reference mean.rs: weight *= 1-alpha on nulls,
    # reset to 1 after each observation).  The w == 1 branch keeps the
    # classic y·q + a·x op order bit-identical to the historical fold.
    y, w, cnt = st
    if cnt == 0:
        y, w = x, 1.0
    elif w == 1.0:
        y = y * decay + alpha * x
    else:
        w2 = w * decay
        y = y + (x - y) * (alpha / (w2 + alpha))
        w = 1.0
    cnt += 1
    return (y if cnt >= minp else None), (y, w, cnt)


def _ewm_step_sum(st, x, decay, alpha, minp):
    s, cnt = st
    s = s * decay + x
    cnt += 1
    return (s if cnt >= minp else None), (s, cnt)


def _ewm_null_decay(sp, st):
    """ignore_nulls=False: a null row decays every weight by 1-alpha
    (reference polars-compute/src/ewm/: `if opt_v.is_some() ||
    !ignore_nulls { weight *= 1-alpha }`); values and outputs unchanged."""
    d = sp["decay"]
    kind = sp["kind"]
    if kind == "mean":
        if sp.get("adjust", True):
            num, den, cnt = st
            return (num * d, den * d, cnt)
        y, w, cnt = st
        return (y, w * d if cnt else w, cnt)
    if kind == "sum":
        s, cnt = st
        return (s * d, cnt)
    if not sp.get("adjust", True):
        mean, cov, w, ws, wss, cnt = st
        if cnt == 0:
            return st
        return (mean, cov, w * d, ws * d, wss * d * d, cnt)
    s1, s0, s2, sx2, cnt = st
    if cnt == 0:
        return st
    return (s1 * d, s0 * d, s2 * d * d, sx2 * d, cnt)


def _ewm_step_var_rec(st, x, d, alpha, minp, *, bias, std):
    """adjust=False EW variance: the EXACT reference recursion
    (polars-compute/src/ewm/cov.rs, x==y) — the per-step ws/wss/weight
    normalization makes the accumulated past count as weight exactly 1,
    which a raw weighted-moment fold cannot reproduce once a null gap has
    decayed the weights."""
    import math

    mean, cov, w, ws, wss, cnt = st
    if cnt == 0:
        st = (x, 0.0, 1.0, 1.0, 1.0, 1)
    else:
        wd = w * d
        nw = wd + alpha
        nm = mean + (x - mean) * (alpha / nw)
        cov = (wd * (cov + (mean - nm) * (mean - nm)) + alpha * (x - nm) * (x - nm)) / nw
        ws = (ws * d + alpha) / nw
        wss = (wss * d * d + alpha * alpha) / (nw * nw)
        st = (nm, cov, 1.0, ws, wss, cnt + 1)
    mean, cov, w, ws, wss, cnt = st
    if cnt < minp:
        return None, st
    varb = cov
    if not bias:
        denom = ws * ws - wss
        varb = varb * ws * ws / denom if (denom > 0 or denom != denom) else None
    if varb is None:
        varb = 0.0
    elif varb == varb and varb < 0.0:
        varb = 0.0
    return (math.sqrt(varb) if std else varb), st


def _ewm_step_var(st, x, d, alpha, minp, *, bias, std, adjust=True):
    import math

    if not adjust:
        return _ewm_step_var_rec(st, x, d, alpha, minp, bias=bias, std=std)
    s1, s0, s2, sx2, cnt = st
    s1 = s1 * d + x
    s0 = s0 * d + 1.0
    s2 = s2 * d * d + 1.0
    sx2 = sx2 * d + x * x
    cnt += 1
    st = (s1, s0, s2, sx2, cnt)
    if cnt < minp:
        return None, st
    m = s1 / s0
    varb = sx2 / s0 - m * m
    if not bias:
        denom = s0 * s0 - s2
        # fold: F.when(denom > 0, ...) -> null when denom == 0; NB Spark
        # orders NaN GREATER than any number, so a NaN denom (poisoned
        # recurrence) takes the division branch and stays NaN
        varb = varb * s0 * s0 / denom if (denom > 0 or denom != denom) else None
    # fold: F.greatest(varb, 0.0) — null -> 0.0, NaN -> NaN
    if varb is None:
        varb = 0.0
    elif varb == varb and varb < 0.0:
        varb = 0.0
    return (math.sqrt(varb) if std else varb), st


def _ewm_spec_loop(sp):
    """Build the specialized per-spec batch loop: ``(xs, nf, reset, st, out)
    -> new_state`` over Python-float lists with the recurrence state held in
    LOCALS.  Replays the byte-for-byte IEEE op sequence of the generic
    ``_ewm_step_*`` helpers (each branch below is a transliteration of the
    matching helper — same ops, same order, same null-decay arithmetic from
    ``_ewm_null_decay``), but ~10x faster: no per-row closure dispatch, no
    state-tuple packing, no np.float64 scalar boxing (round-12 measurement:
    600k rows x 2 specs 2.6s -> 0.24s, PERFORMANCE.md)."""
    kind = sp["kind"]
    d = sp["decay"]
    alpha = sp.get("alpha")
    minp = sp.get("min_samples", 1)
    adjust = sp.get("adjust", True)
    ign = sp.get("ignore_nulls", True)
    bias = sp.get("bias", False)
    std = kind == "std"
    import math

    sqrt = math.sqrt

    if kind == "mean" and adjust:

        def loop(xs, nf, reset, st, out):
            num, den, cnt = st if st is not None else (0.0, 0.0, 0)
            for i, x in enumerate(xs):
                if reset[i]:
                    num = 0.0
                    den = 0.0
                    cnt = 0
                if x != x and not nf[i]:
                    if not ign:
                        num = num * d
                        den = den * d
                    continue
                num = num * d + x
                den = den * d + 1.0
                cnt += 1
                if cnt >= minp:
                    out[i] = num / den
            return (num, den, cnt)

    elif kind == "mean":

        def loop(xs, nf, reset, st, out):
            y, w, cnt = st if st is not None else (0.0, 1.0, 0)
            for i, x in enumerate(xs):
                if reset[i]:
                    y = 0.0
                    w = 1.0
                    cnt = 0
                if x != x and not nf[i]:
                    if not ign and cnt:
                        w = w * d
                    continue
                if cnt == 0:
                    y = x
                    w = 1.0
                elif w == 1.0:
                    y = y * d + alpha * x
                else:
                    w2 = w * d
                    y = y + (x - y) * (alpha / (w2 + alpha))
                    w = 1.0
                cnt += 1
                if cnt >= minp:
                    out[i] = y
            return (y, w, cnt)

    elif kind == "sum":

        def loop(xs, nf, reset, st, out):
            s, cnt = st if st is not None else (0.0, 0)
            for i, x in enumerate(xs):
                if reset[i]:
                    s = 0.0
                    cnt = 0
                if x != x and not nf[i]:
                    if not ign:
                        s = s * d
                    continue
                s = s * d + x
                cnt += 1
                if cnt >= minp:
                    out[i] = s
            return (s, cnt)

    elif adjust:  # var/std, adjust=True

        def loop(xs, nf, reset, st, out):
            s1, s0, s2, sx2, cnt = st if st is not None else (0.0, 0.0, 0.0, 0.0, 0)
            for i, x in enumerate(xs):
                if reset[i]:
                    s1 = 0.0
                    s0 = 0.0
                    s2 = 0.0
                    sx2 = 0.0
                    cnt = 0
                if x != x and not nf[i]:
                    if not ign and cnt:
                        s1 = s1 * d
                        s0 = s0 * d
                        s2 = s2 * d * d
                        sx2 = sx2 * d
                    continue
                s1 = s1 * d + x
                s0 = s0 * d + 1.0
                s2 = s2 * d * d + 1.0
                sx2 = sx2 * d + x * x
                cnt += 1
                if cnt < minp:
                    continue
                m = s1 / s0
                varb = sx2 / s0 - m * m
                if not bias:
                    denom = s0 * s0 - s2
                    # NB: varb * s0 * s0 is LEFT-associative — hoisting s0*s0
                    # into one product changes the rounding sequence
                    varb = varb * s0 * s0 / denom if (denom > 0 or denom != denom) else None
                if varb is None:
                    varb = 0.0
                elif varb == varb and varb < 0.0:
                    varb = 0.0
                out[i] = sqrt(varb) if std else varb
            return (s1, s0, s2, sx2, cnt)

    else:  # var/std, adjust=False (reference cov.rs recursion)

        def loop(xs, nf, reset, st, out):
            mean, cov, w, ws, wss, cnt = (
                st if st is not None else (0.0, 0.0, 1.0, 0.0, 0.0, 0)
            )
            for i, x in enumerate(xs):
                if reset[i]:
                    mean = 0.0
                    cov = 0.0
                    w = 1.0
                    ws = 0.0
                    wss = 0.0
                    cnt = 0
                if x != x and not nf[i]:
                    if not ign and cnt:
                        w = w * d
                        ws = ws * d
                        wss = wss * d * d
                    continue
                if cnt == 0:
                    mean = x
                    cov = 0.0
                    w = 1.0
                    ws = 1.0
                    wss = 1.0
                    cnt = 1
                else:
                    wd = w * d
                    nw = wd + alpha
                    nm = mean + (x - mean) * (alpha / nw)
                    cov = (wd * (cov + (mean - nm) * (mean - nm)) + alpha * (x - nm) * (x - nm)) / nw
                    ws = (ws * d + alpha) / nw
                    wss = (wss * d * d + alpha * alpha) / (nw * nw)
                    mean = nm
                    w = 1.0
                    cnt += 1
                if cnt < minp:
                    continue
                varb = cov
                if not bias:
                    denom = ws * ws - wss
                    varb = varb * ws * ws / denom if (denom > 0 or denom != denom) else None
                if varb is None:
                    varb = 0.0
                elif varb == varb and varb < 0.0:
                    varb = 0.0
                out[i] = sqrt(varb) if std else varb
            return (mean, cov, w, ws, wss, cnt)

    return loop


def _ewm_stream_kernel(specs, key_names, srcs, outs, nan_flags=None):
    """One streaming Arrow pass computing EVERY hoisted ewm expression of a
    key set: input arrives key-partitioned and sorted (keys, frame order)
    within each Spark partition, so groups are contiguous — state resets on
    key change and carries across Arrow batch boundaries.  Replays the exact
    IEEE op sequence of the expression-level prefix fold (bit-exact vs the
    recursive-CTE oracles) in O(n) per key instead of the fold's O(n²):
    a 10⁶-row single-key series finishes in seconds.  Nulls arrive as NaN
    through Arrow (JVM-computed flags mark REAL NaNs); under
    ignore_nulls=True they are skipped like collect_list drops them, under
    the reference default ignore_nulls=False they decay the weights.

    Round-12: the per-row generic dispatch (step closure + state tuples +
    np.float64 scalars) was the measured hot spot of win_ewm_long_series
    (2.6s of a 3.4s query at 600k rows); each spec now runs a specialized
    tight loop built by ``_ewm_spec_loop`` — identical FP op sequence,
    state in locals, Python-float lists (pinned bit-exact against the
    fold path by tests/test_round10_ewm_* and the DuckDB oracles)."""

    loops = [_ewm_spec_loop(sp) for sp in specs]

    def run(batches):
        import numpy as np
        import pandas as pd

        first = True  # no group seen yet: the first row always resets
        cur = None
        states: list = [None] * builtins_len(specs)
        for pdf in batches:
            n = builtins_len(pdf)
            # group-boundary flags, computed ONCE per batch (shared by all
            # specs): key tuple differs from the previous row's
            reset = bytearray(n)
            if key_names:
                kcols = [
                    pdf[k].astype(object).where(pdf[k].notna(), None) for k in key_names
                ]
                keys = list(zip(*[kc.tolist() for kc in kcols]))
                prev = cur
                for i, k in enumerate(keys):
                    if first or k != prev:
                        reset[i] = 1
                        prev = k
                        first = False
                cur = prev
            else:
                if first and n:
                    reset[0] = 1
                    first = False
            outcols = []
            for j in range(builtins_len(specs)):
                xs = pdf[srcs[j]].to_numpy(dtype=float).tolist()
                # JVM-computed "was a REAL NaN" flags: Arrow collapses null
                # and NaN to NaN in the float view, but the fold path
                # (collect_list) drops nulls while a genuine NaN poisons
                # the recurrence
                if nan_flags is not None:
                    nf = pdf[nan_flags[j]].fillna(False).tolist()
                else:
                    nf = [False] * n
                out = [None] * n
                states[j] = loops[j](xs, nf, reset, states[j], out)
                outcols.append(out)
            for o, vals in zip(outs, outcols):
                # FloatingArray keeps NaN as a VALUE (poisoned recurrence)
                # distinct from the null mask — pd.array would mask NaN too
                if None in vals:
                    vnp = np.array(
                        [0.0 if v is None else v for v in vals], dtype="float64"
                    )
                    mask = np.array([v is None for v in vals], dtype=bool)
                else:  # fast path: all observed (the common case)
                    vnp = np.array(vals, dtype="float64")
                    mask = np.zeros(n, dtype=bool)
                pdf[o] = pd.arrays.FloatingArray(vnp, mask)
            yield pdf

    return run


class _FramePlan:
    """Picklable stand-in for a LazyFrame argument inside a serialized plan
    journal (the nested frame of join/concat/with_context): holds that
    frame's own journal, replayed on deserialize."""

    __slots__ = ("journal",)

    def __init__(self, journal):
        self.journal = journal

    def __getstate__(self):
        return self.journal

    def __setstate__(self, state):
        self.journal = state


class _NotPlannable(Exception):
    pass


_JDEPTH = 0  # >0 while inside a journaled method: inner calls don't re-record


def _plan_value(v):
    import types

    if isinstance(v, LazyFrame):
        if v._journal is None:
            raise _NotPlannable()
        return _FramePlan(v._journal)
    if isinstance(v, types.GeneratorType):
        raise _NotPlannable()  # caller materializes generators before fn
    if isinstance(v, list):
        return [_plan_value(x) for x in v]
    if isinstance(v, tuple):
        return tuple(_plan_value(x) for x in v)
    return v


def _extend_journal(parent, name, args, kwargs):
    """parent journal + one step; None (not plan-serializable) poisons."""
    if parent is None:
        return None
    try:
        return parent + (
            (name, tuple(_plan_value(a) for a in args),
             {k: _plan_value(v) for k, v in kwargs.items()}),
        )
    except _NotPlannable:
        return None


def _journal_step(fn, name):
    """Record a user-level LazyFrame method call into the plan journal
    (LazyFrame.serialize ships the journal; deserialize replays it against a
    live session — the polars DslPlan round-trip, reference
    py-polars/src/polars/lazyframe/frame.py serialize/deserialize).  Only the
    OUTERMOST call records (depth guard): methods implemented in terms of
    other methods replay correctly from the single user-facing step."""
    import functools
    import types

    @functools.wraps(fn)
    def inner(self, *args, **kwargs):
        global _JDEPTH
        # materialize generator args so both fn and the journal can use them
        args = tuple(
            list(a) if isinstance(a, types.GeneratorType) else a for a in args
        )
        _JDEPTH += 1
        try:
            out = fn(self, *args, **kwargs)
        finally:
            _JDEPTH -= 1
        if _JDEPTH == 0 and isinstance(out, LazyFrame):
            out._journal = _extend_journal(self._journal, name, args, kwargs)
        return out

    return inner


def _replay_journal(journal):
    """Rebuild a LazyFrame from a serialized plan journal — lazily: only the
    plan is constructed here; collect happens when the caller collects."""
    import polars_spark as pls

    (name, a, k), *steps = journal

    def _unwrap(v):
        if isinstance(v, _FramePlan):
            return _replay_journal(v.journal)
        if isinstance(v, list):
            return [_unwrap(x) for x in v]
        if isinstance(v, tuple):
            return tuple(_unwrap(x) for x in v)
        return v

    if name == "__data__":
        lf = LazyFrame(a[0], **k)
    else:
        lf = getattr(pls, name)(*_unwrap(a), **{kk: _unwrap(v) for kk, v in k.items()})
    for m, a, k in steps:
        a = tuple(_unwrap(x) for x in a)
        k = {kk: _unwrap(v) for kk, v in k.items()}
        if m == "group_by.agg":
            gargs, gkw, aargs, akw = a
            mode = k.get("mode", "groupby")
            gb = (
                lf.group_by(*gargs, **gkw)
                if mode == "groupby"
                else getattr(lf, mode)(*gargs)
            )
            lf = gb.agg(*aargs, **akw)
        else:
            lf = getattr(lf, m)(*a, **k)
    return lf


def _order_retry(fn):
    """Retry a frame operation after paying for the deferred scan-order
    contract: an order-sensitive expression inside it raised OrderNeeded, so
    materialize the hidden order column (one withColumn on the scan — no job)
    and lower again.  Ops that never consume row order never reach this, so
    their plans stay order-column-free (the SURVEY §4 elision rule)."""
    import functools

    @functools.wraps(fn)
    def inner(self, *a, **k):
        try:
            return fn(self, *a, **k)
        except OrderNeeded:
            if self._order or self._deferred_order is None:
                raise
            return fn(self._materialize_order(), *a, **k)

    return inner


def _order_cols(order: list, reverse: bool = False) -> list[Column]:
    out = []
    for n, d, nl in map(_ospec, order):
        if reverse:
            d, nl = not d, not nl
        c = F.col(n)
        if d:
            out.append(c.desc_nulls_last() if nl else c.desc_nulls_first())
        else:
            out.append(c.asc_nulls_last() if nl else c.asc_nulls_first())
    return out


class _DtypeStr(str):
    """A Spark type string that also answers the polars-dtype predicate
    surface (schema consumers like pipe_with_schema call
    ``dtype.is_float()`` on schema VALUES) — still a plain str for every
    existing consumer."""

    def _pl(self):
        from polars_spark.plans.datatype_expr import _normalize

        return _normalize(str(self))

    def __getattr__(self, name):
        from polars_spark.plans.expr import DataType

        if not name.startswith("_") and hasattr(DataType, name):
            return getattr(self._pl(), name)
        raise AttributeError(name)


class FrameSchema(dict):
    """Schema mapping with the reference pl.Schema accessors (names /
    dtypes / len) — still a plain dict of {column: spark type string} for
    every existing consumer; values additionally answer the polars dtype
    predicates (is_float/is_integer/... via _DtypeStr)."""

    def __init__(self, items=()):
        super().__init__((k, _DtypeStr(v)) for k, v in dict(items).items())

    def names(self) -> list:
        return list(self.keys())

    def dtypes(self) -> list:
        return list(self.values())

    def len(self) -> int:
        return len(self)


_INT_SPARK_TYPES = {"tinyint", "smallint", "int", "bigint"}


class _CollectedFrame(_pd.DataFrame):
    """The collect() result: a plain pandas DataFrame that ALSO answers the
    polars eager accessors users chain onto collect() (to_dict(as_series=),
    rows(), to_dicts()).  Everything pandas stays untouched.

    ``_spark_dtypes`` (stamped by collect()) lets the row accessors undo
    pandas' nullable-int widening: an Int64 column with a null arrives as
    float64 (3 -> 3.0, null -> nan), but polars rows()/to_dicts() return
    ints and None — restore both from the Spark schema.  A float column
    cannot tell a null from a real NaN at all, so collect() writes each
    float null as a NaN with its own payload (``_NULL_NAN``): pandas sees a
    NaN like any other, and the accessors return None for it and keep a
    real NaN.  The mark is in the value's bits, so it moves with its row
    through every pandas op (sort, filter, reset_index, concat), and
    arithmetic on it carries it on as polars carries a null; a NaN written
    anew is a plain NaN."""

    _metadata = ["_spark_dtypes"]

    @property
    def _constructor(self):
        return _CollectedFrame

    def _col_values(self, c) -> list:
        col = self[c]
        vals = [_py_value(v) for v in col.tolist()]
        marked = _null_nan_mask(col.to_numpy())
        if marked is not None and marked.any():
            vals = [None if m else v for m, v in zip(marked, vals)]
        dt = getattr(self, "_spark_dtypes", None) or {}
        if dt.get(c) in _INT_SPARK_TYPES:
            vals = [
                None
                if v is None or (isinstance(v, float) and v != v)
                else int(v)
                if isinstance(v, float)
                else v
                for v in vals
            ]
        return vals

    def to_dict(self, orient="dict", *args, as_series=None, **kwargs):
        if as_series is not None:
            cols = {c: self._col_values(c) for c in self.columns}
            if as_series:
                from polars_spark.series import Series

                return {c: Series(c, vals) for c, vals in cols.items()}
            return cols
        return super().to_dict(orient, *args, **kwargs)

    def rows(self, *, named: bool = False):
        cols = [self._col_values(c) for c in self.columns]
        recs = [tuple(r) for r in zip(*cols)] if cols else []
        if named:
            return [dict(zip(self.columns, r)) for r in recs]
        return recs

    def to_dicts(self) -> list:
        return self.rows(named=True)


# the bits of a float null in a collected frame: a quiet NaN with payload 1,
# which no arithmetic creates (it only passes an operand's payload on) and
# Spark's NaN does not have
_NULL_NAN = {"float64": (0x7FF8000000000001, "uint64"), "float32": (0x7FC00001, "uint32")}


def _null_nan_mask(a):
    """Where the float array ``a`` holds the null mark, or None for an
    array of another dtype."""
    mark = _NULL_NAN.get(str(a.dtype))
    return None if mark is None else a.view(mark[1]) == mark[0]


def _py_value(v):
    """Spark collected value -> the Python value polars row APIs return:
    struct Rows become dicts, containers recurse, scalars pass through
    (ints stay ints, null stays None)."""
    from pyspark.sql import Row as _SparkRow

    if isinstance(v, _SparkRow):
        return {k: _py_value(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_py_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _py_value(x) for k, x in v.items()}
    return v


class LazyFrame:
    """Lazy, Spark-backed polars frame.  All methods return new frames."""

    def __init__(self, df: SparkDF = None, order: list | None = None, *,
                 data=None, schema=None, schema_overrides=None, orient=None,
                 strict=True, nan_to_null=False, deferred=None, **named):
        # deferred scan-order contract: a callable (SparkDF) -> (SparkDF, specs)
        # that materializes the hidden file-order column on demand (polars row
        # order is semantic on scans too — SURVEY §1.1); None once paid for,
        # after a sort, or on frames with no file lineage
        self._deferred_order = deferred
        # plan journal for serialize/deserialize (polars DslPlan round-trip):
        # a tuple of (method, args, kwargs) steps from a replayable origin,
        # or None when the frame's history crossed an unjournaled op
        self._journal = None
        if df is None and data is not None:
            # reference keyword form: pl.LazyFrame(data={...}, schema=...)
            df = data
        if df is None or isinstance(df, (dict, list, tuple)) or (
            df is not None
            and type(df).__module__.split(".")[0] in ("pandas", "numpy")
        ):
            # pl.LazyFrame({'a': [...]}) — the reference's data constructor
            # (lazyframe/frame.py __init__); delegates to the DataFrame
            # builder (Spark is lazy either way)
            from polars_spark.sources import DataFrame as _build

            built = _build(
                df if df is not None else (named or None),
                schema=schema,
                schema_overrides=schema_overrides,
                orient=orient,
                strict=strict,
                nan_to_null=nan_to_null,
            )
            self._df = built._df
            self._order = built._order
            # data-constructed frames are plan-serializable from their
            # literal data (polars DataFrameScan embeds the frame too)
            self._journal = (
                (
                    "__data__",
                    (df if df is not None else (named or None),),
                    dict(
                        schema=schema,
                        schema_overrides=schema_overrides,
                        orient=orient,
                        strict=strict,
                        nan_to_null=nan_to_null,
                    ),
                ),
            )
            return
        self._df = df
        # session-portability catch-all: wrapping a USER-supplied Spark
        # DataFrame is a frame-creation entry point too — align the owning
        # session's runtime conf with engine semantics (cached: a dict
        # lookup after the first call per session)
        try:
            from polars_spark.session import ensure_engine_confs

            ensure_engine_confs(df.sparkSession)
        except Exception:
            pass  # exotic wrappers without .sparkSession: later ops align
        # order survives only through columns still present in the plan —
        # operators that project the hidden index away (asof union-tag,
        # groupBy, ...) drop the contract instead of failing at collect
        specs = [_ospec(o) for o in (order or [])]
        if specs:
            have = set(df.columns)
            specs = [o for o in specs if o[0] in have]
        self._order: list[tuple[str, bool, bool]] = specs
        if specs:
            self._deferred_order = None  # explicit order supersedes the contract

    def _materialize_order(self) -> "LazyFrame":
        """Pay for the deferred scan-order contract: add the hidden ROW_IDX
        order column (a struct of file rank / block offset / within-partition
        position — plan-only, no Spark job) and return the now-ordered frame."""
        df, specs = self._deferred_order(self._df)
        out = LazyFrame(df, specs)
        out._journal = self._journal  # replay re-materializes on demand
        return out

    def _ordered(self) -> "LazyFrame":
        """This frame with its row order materialized when it was deferred;
        self otherwise (callers requiring an order raise their own error)."""
        if not self._order and self._deferred_order is not None:
            return self._materialize_order()
        return self

    # -- introspection ------------------------------------------------------
    @property
    def columns(self) -> list[str]:
        return [c for c in self._df.columns if c != ROW_IDX]

    @columns.setter
    def columns(self, names) -> None:
        """df.columns = [...] renames positionally in place (reference
        eager DataFrame.columns setter)."""
        current = [c for c in self._df.columns if c != ROW_IDX]
        names = list(names)
        if len(names) != len(current):
            msg = f"{len(names)} names for {len(current)} columns"
            raise ValueError(msg)
        self._df = self._df.withColumnsRenamed(dict(zip(current, names)))
        ren = dict(zip(current, names))
        self._order = [(ren.get(n, n), d, nl) for n, d, nl in self._order]

    @property
    def dtypes(self) -> list[str]:
        return [t for c, t in self._df.dtypes if c != ROW_IDX]

    @property
    def schema(self) -> "FrameSchema":
        return FrameSchema((c, t) for c, t in self._df.dtypes if c != ROW_IDX)

    @property
    def width(self) -> int:
        return len(self.columns)

    def __repr__(self) -> str:
        return f"<LazyFrame {self.columns} order={self._order}>"

    def _ctx(self) -> ExprContext:
        # realign BEFORE expression resolution: Spark bakes the session
        # timezone into tz-aware expressions at ANALYSIS time (ResolveTimeZone),
        # so a consumer who re-set session.timeZone between frame creation
        # and this op would otherwise get it frozen into the plan even
        # though collect realigns later (ADVICE r7)
        from polars_spark.session import ensure_engine_confs

        ensure_engine_confs(self._df.sparkSession)
        return ExprContext(
            self._df, list(self._order), deferred=self._deferred_order is not None
        )

    def __repr__(self) -> str:
        """Eager-polars-style preview: shape line + up to 10 rows.  Collects
        at most 11 rows (one LIMIT job); width is always exact, height shows
        '?' beyond the preview instead of running a full count."""
        try:
            rows = self.limit(11).rows()
        except Exception:
            return f"<polars_spark.LazyFrame {self.columns}>"
        cols = self.columns
        h = str(len(rows)) if len(rows) <= 10 else "?"
        shown = rows[:10]
        head = " | ".join(cols)
        body = "\n".join(" | ".join("null" if v is None else str(v) for v in r) for r in shown)
        more = "\n…" if len(rows) > 10 else ""
        return f"shape: ({h}, {len(cols)})\n{head}\n{'-' * len(head)}\n{body}{more}"

    def _repr_html_(self) -> str:
        try:
            rows = self.limit(11).rows()
        except Exception:
            return f"<i>polars_spark.LazyFrame {self.columns}</i>"
        cols = self.columns
        shown = rows[:10]
        th = "".join(f"<th>{c}</th>" for c in cols)
        trs = "".join(
            "<tr>" + "".join(f"<td>{'null' if v is None else v}</td>" for v in r) + "</tr>"
            for r in shown
        )
        more = "<tr><td colspan='%d'>…</td></tr>" % len(cols) if len(rows) > 10 else ""
        h = str(len(rows)) if len(rows) <= 10 else "?"
        return (
            f"<div>shape: ({h}, {len(cols)})<table border='1'>"
            f"<thead><tr>{th}</tr></thead><tbody>{trs}{more}</tbody></table></div>"
        )

    def explain(self, mode: str = "formatted", **_compat) -> str:
        """Plan as a STRING (polars LazyFrame.explain returns, not prints)."""
        try:
            # what DataFrame.explain() prints, returned instead
            return self._df._sc._jvm.PythonSQLUtils.explainString(
                self._df._jdf.queryExecution(), mode
            )
        except Exception:
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                self._df.explain(mode)
            return buf.getvalue()

    # -- materialization ----------------------------------------------------
    def to_spark(self) -> SparkDF:
        """The underlying Spark DataFrame, hidden columns dropped."""
        if ROW_IDX in self._df.columns:
            return self._df.drop(ROW_IDX)
        return self._df

    def collect(self, *, engine=None, optimizations=None, **_compat):
        """Materialize (in frame order when one is defined) -> pandas.

        ``engine`` (streaming/gpu/GPUEngine) and ``optimizations``
        (QueryOptFlags) are accepted for reference drop-in compatibility;
        Catalyst always optimizes and picks the physical engine, so they
        don't alter the plan (documented in QueryOptFlags)."""
        from polars_spark.exceptions import translate_runtime_errors
        from polars_spark.session import ensure_engine_confs

        ensure_engine_confs(self._df.sparkSession)
        df = self._df
        if self._order:
            df = df.orderBy(*_order_cols(self._order))
        if ROW_IDX in df.columns:
            df = df.drop(ROW_IDX)
        dtypes = dict(df.dtypes)
        # toPandas gives a null double as NaN: flag the nulls in the same job
        floats = [c for c, t in dtypes.items() if t in ("float", "double")]
        flags = [f"__null_{i}__" for i in range(len(floats))]
        if floats:
            df = df.select(
                "*",
                *[
                    F.isnull(F.col("`" + c.replace("`", "``") + "`")).alias(f)
                    for c, f in zip(floats, flags)
                ],
            )
        with translate_runtime_errors():
            pdf = df.toPandas()
        for c, f in zip(floats, flags):
            isnull = pdf.pop(f).to_numpy()
            vals = pdf[c].to_numpy()
            mark = _NULL_NAN.get(str(vals.dtype))
            if mark is not None and isnull.any():
                vals = vals.copy()  # the arrow-backed array may be read-only
                vals.view(mark[1])[isnull] = mark[0]
                pdf[c] = vals
        pdf.__class__ = _CollectedFrame  # in-place view: no data copy
        pdf._spark_dtypes = dtypes  # row accessors undo int widening
        return pdf

    def _collect_rows(self) -> list:
        """Materialize as exact Python rows (frame order applied).

        Unlike ``collect()`` (pandas — which widens nullable ints to float64
        with NaN), Spark's row collection preserves int-ness, None for null,
        Decimal, datetime, and nested lists/structs — matching the
        reference's ``rows()``/``to_dicts()`` value fidelity."""
        from polars_spark.exceptions import translate_runtime_errors
        from polars_spark.session import ensure_engine_confs

        ensure_engine_confs(self._df.sparkSession)
        df = self._df
        if self._order:
            df = df.orderBy(*_order_cols(self._order))
        if ROW_IDX in df.columns:
            df = df.drop(ROW_IDX)
        with translate_runtime_errors():
            return df.collect()

    def to_arrow(self):
        """Materialize as a pyarrow Table (Arrow transfer end to end)."""
        df = self._df
        if self._order:
            df = df.orderBy(*_order_cols(self._order))
        if ROW_IDX in df.columns:
            df = df.drop(ROW_IDX)
        return df.toArrow()

    def lazy(self) -> "LazyFrame":
        return self

    def cache(self) -> "LazyFrame":
        return LazyFrame(self._df.cache(), self._order)

    # -- expression resolution ----------------------------------------------
    def _with_scalar_preps(self, ctx) -> SparkDF:
        """Satisfy whole-frame scalars registered during expr resolution
        (fill_null min/max/mean, qcut breakpoints, ...): ONE partial
        aggregate over the frame, 1-row result broadcast-cross-joined back.
        No single-partition window, no eager job — the hidden __scalar_N__
        columns are dropped (or simply not selected) by the caller."""
        if not getattr(ctx, "preps", None):
            return self._df
        plain = [p for p in ctx.preps if len(p) == 2]
        series = [p for p in ctx.preps if len(p) == 3 and isinstance(p[1], str) and p[1] == "series"]
        wind = [p for p in ctx.preps if len(p) == 3 and p not in series]
        src = self._df
        if series:
            # position-aligned Series lookups (ctx.add_series): literal
            # array indexed by the scale-safe partition-offset row position
            maxlen = max(len(vals) for _, _, vals in series)
            if "__dummy__" in src.columns and src.columns == ["__dummy__"]:
                # pl.select's 1-row base: grow to the series length
                lf = LazyFrame(
                    src.sparkSession.range(maxlen).select(
                        F.lit(1).alias("__dummy__"),
                        F.col("id").alias("__spp__"),
                    )
                )
                src, pos = lf._df, "__spp__"
            else:
                src, pos, _ = LazyFrame(src, self._order)._global_pos()
            for name, _, vals in series:
                arr = F.array(*[F.lit(v) for v in vals])
                src = src.withColumn(
                    name, F.element_at(arr, F.col(pos).cast("int") + 1)
                )
            if pos not in self._df.columns:
                src = src.drop(pos)
        if not plain and not wind:
            return src
        base = src
        if wind:
            # window-dependent scalars (is_sorted, ...): materialize the
            # windowed column first, aggregate it in the same single pass
            base = src.select("*", *[w.alias(f"{n}__in") for n, w, _ in wind])
        scal = base.agg(
            *[a.alias(n) for n, a in plain],
            *[fn(F.col(f"{n}__in")).alias(n) for n, _, fn in wind],
        )
        return src.crossJoin(F.broadcast(scal))

    def _resolve_exprs(
        self, exprs, named: Mapping[str, Any] | None = None, ctx=None
    ) -> list[Column]:
        if ctx is None:
            ctx = self._ctx()
        out: list[Column] = []
        for e in _flatten(exprs):
            if isinstance(e, str):
                if e == "*":
                    out.extend(F.col(c) for c in self.columns)
                else:
                    out.append(F.col(e))
            elif getattr(e, "_selector", None) is not None:
                # selector: expand against the schema (pure front-end);
                # a chain (cs.numeric().fill_null(0)) applies its recorded
                # transform to each matched column, keeping the name unless
                # the chain's .name.* ops changed it
                from polars_spark.selectors import expand_names

                chain = getattr(e, "_chain_fn", None)
                if chain is None:
                    out.extend(F.col(c) for c in expand_names(e, self.schema))
                else:
                    for c in expand_names(e, self.schema):
                        ce = chain(_col(c))
                        out.append(ce._resolve(ctx).alias(ce._name or c))
            elif isinstance(e, Expr) and getattr(e, "_wildcard", False):
                out.extend(F.col(c) for c in self.columns)
            elif isinstance(e, Expr) and getattr(e, "_multi", None):
                out.extend(F.col(c).alias(c) for c in e._multi)
            elif isinstance(e, Expr) and getattr(e, "_nth_indices", None) is not None:
                # pl.nth: positional selection keeps the source column name
                idx, strict = e._nth_indices
                cols = self.columns
                for i in idx:
                    if -len(cols) <= i < len(cols):
                        out.append(F.col(cols[i]).alias(cols[i]))
                    elif strict:
                        from polars_spark.exceptions import ColumnNotFoundError

                        raise ColumnNotFoundError(f"nth({i}) out of bounds for width {len(cols)}")
            elif isinstance(e, Expr) or hasattr(e, "_resolve"):
                if hasattr(e, "_named"):
                    out.append(e._named(ctx))  # dynamic-name exprs override
                else:
                    out.append(e._resolve(ctx).alias(e._name))
            elif isinstance(e, Column):
                out.append(e)
            else:
                out.append(F.lit(e))
        for name, e in (named or {}).items():
            out.append(self._named_col(name, e, ctx).alias(name))
        return out

    def _named_col(self, name: str, e, ctx) -> Column:
        """A keyword-named expression value — selectors/chains must expand
        to exactly one column here (polars keyword multi-output rule)."""
        if getattr(e, "_selector", None) is not None:
            from polars_spark.selectors import expand_names

            cols = expand_names(e, self.schema)
            if len(cols) != 1:
                from polars_spark.exceptions import ComputeError

                raise ComputeError(
                    f"keyword expression {name!r}: selector matched "
                    f"{len(cols)} columns (need exactly 1)"
                )
            chain = getattr(e, "_chain_fn", None)
            ce = chain(_col(cols[0])) if chain else _col(cols[0])
            return ce._resolve(ctx)
        return _to_expr(e)._resolve(ctx)

    def _hoist_ewm(self, exprs, named, method: str) -> "LazyFrame | None":
        """Scale path for top-level ewm exprs (ewm_mean/sum/std/var,
        optionally .over(keys)): ONE streaming mapInPandas pass per key set over
        key-partitioned, key+order-sorted data computes every hoisted ewm at
        once (exact same IEEE sequence as the prefix fold — _ewm_stream_kernel),
        then the select/with_columns re-runs with the ewm exprs replaced by
        the computed columns.  One hash shuffle + one in-partition sort +
        one Arrow pass — O(n) per key where the fold is O(n²).  Returns None
        when nothing to hoist (or no row order is defined — the fold path
        raises the descriptive error)."""
        flat = [e for e in _flatten(exprs)]
        specs: list = []

        def conv(e):
            s = getattr(e, "_ewm_spec", None)
            if s is None or not hasattr(e, "_fn"):
                return e
            i = builtins_len(specs)
            specs.append((s, list(getattr(e, "_ewm_parts", []) or []), e._name))
            return _col(f"__ewm_out_{i}__").alias(e._name)

        new_flat = [conv(e) for e in flat]
        new_named = {k: conv(v) for k, v in named.items()}
        if not specs:
            return None
        base = self._ordered()
        if not base._order:
            return None
        # plain-column orders sort in the kernel directly; struct orders
        # (materialized scan order) get a numeric global row id first
        fields = {f.name: f.dataType.simpleString() for f in base._df.schema.fields}
        plain = all(
            not fields.get(n, "struct").startswith("struct")
            for n, _d, _nl in base._order
        )
        if not plain:
            base = base.with_row_index(ROW_IDX)
        order_specs = [tuple(o) for o in base._order]
        hidden: list[str] = []
        prep: dict = {}
        for i, (s, parts, _nm) in enumerate(specs):
            prep[f"__ewm_src_{i}__"] = s["parent"]
            for j, p in enumerate(parts):
                prep[f"__ewm_key_{i}_{j}__"] = p
        hidden.extend(prep)
        # structural identity of each spec's partition exprs, resolved
        # against the PRE-prep frame: two specs share one shuffle+sort pass
        # only when their key COLUMNS are structurally identical (keying on
        # the root column name alone would merge .over(col('g')) with
        # .over(col('g').str.slice(0,1)) and silently partition the second
        # by the wrong key).  Unresolvable exprs get a unique sig -> own pass.
        pre_ctx = self._ctx()
        # sig = the NORMALIZED ColumnNode tree: origins (stack traces) are
        # stripped so two separate resolutions of the same structural expr
        # compare equal, while Python-UDF nodes keep their per-instantiation
        # result id — two DIFFERENT lambdas both pretty-print `<lambda>(g)`
        # (the str(Column) sig falsely merged their shuffles, ADVICE r7)
        # but never normalize equal, so UDF-backed keys always take their
        # own pass.  Any resolve/introspection failure -> unique sig.
        part_sigs: list[tuple] = []
        for i, (_s, parts, _nm) in enumerate(specs):
            sig_items: list = []
            for p in parts:
                try:
                    col = p._resolve(pre_ctx)
                    sig_items.append(col._jc.node().normalized().toString())
                except Exception:
                    sig_items.append(f"__unique_{i}_{builtins_len(sig_items)}__")
            part_sigs.append(tuple(sig_items))
        base = base.with_columns(**prep)
        # select path: the kernel is OPAQUE to Catalyst, so every column of
        # the frame would otherwise be scanned, repartitioned/sorted into
        # the key partitions and shipped JVM->Python->JVM — for a select
        # only (kernel inputs + roots of the non-ewm output exprs) are ever
        # read again, so prune the pass input to exactly that set (guide:
        # project before the exchange / pass only what the function needs;
        # measured 2.6s -> 1.4s on the 600k-row single-series digest).
        # Conservative: any un-introspectable expr skips the pruning.
        if method == "select":
            needed = set(prep)
            needed.update(n for n, _d, _nl in order_specs)
            if ROW_IDX in base._df.columns:
                needed.add(ROW_IDX)
            out_names = {f"__ewm_out_{i}__" for i in range(builtins_len(specs))}
            ok = True
            for e in list(new_flat) + list(new_named.values()):
                if isinstance(e, str):
                    if e == "*":
                        ok = False
                        break
                    needed.add(e)
                elif isinstance(e, Expr) and not (
                    getattr(e, "_selector", None) is not None
                    or getattr(e, "_wildcard", False)
                    or getattr(e, "_multi", None)
                    or getattr(e, "_nth_indices", None) is not None
                ):
                    try:
                        from polars_spark.plans.expr import ExprMetaNamespace

                        roots = ExprMetaNamespace(e).root_names()
                    except Exception:
                        ok = False
                        break
                    for r in roots:
                        if r in out_names:
                            continue  # produced by the kernel pass below
                        if r not in base._df.columns:
                            ok = False  # unknown root: let analysis raise later
                            break
                        needed.add(r)
                    if not ok:
                        break
                else:
                    ok = False
                    break
            if ok:
                keep = [c for c in base._df.columns if c in needed]
                if builtins_len(keep) < builtins_len(base._df.columns):
                    base = LazyFrame(base._df.select(*keep), base._order)
        from pyspark.sql import types as T

        # one streaming pass per distinct key-arity set: group specs whose
        # partition keys are the same hidden columns
        passes: dict[tuple, list[int]] = {}
        for i, (_s, parts, _nm) in enumerate(specs):
            # same partition exprs produce distinct hidden cols per spec, so
            # passes share a shuffle iff the resolved key columns match
            passes.setdefault(part_sigs[i], []).append(i)
        sdf = base._df
        for sig, idxs in passes.items():
            key_names = [
                f"__ewm_key_{idxs[0]}_{j}__"
                for j in range(builtins_len(specs[idxs[0]][1]))
            ]
            srcs = [f"__ewm_src_{i}__" for i in idxs]
            outs = [f"__ewm_out_{i}__" for i in idxs]
            # Arrow flattens null and NaN to the same NaN in the kernel's
            # float view; polars (and the fold path) skips NULLS but lets a
            # real NaN poison the recurrence — flag real NaNs JVM-side
            nans = [f"__ewm_isnan_{i}__" for i in idxs]
            sdf = sdf.withColumns(
                {
                    fl: F.coalesce(F.isnan(F.col(s_).cast("double")), F.lit(False))
                    for fl, s_ in zip(nans, srcs)
                }
            )
            hidden.extend(outs)
            hidden.extend(nans)
            schema = T.StructType(
                sdf.schema.fields
                + [T.StructField(o, T.DoubleType()) for o in outs]
            )
            if key_names:
                parted = sdf.repartition(*[F.col(k) for k in key_names])
            else:
                parted = sdf.coalesce(1)  # a single global sequence is serial
            sort_cols = [F.col(k) for k in key_names] + _order_cols(order_specs)
            parted = parted.sortWithinPartitions(*sort_cols)
            sdf = parted.mapInPandas(
                _ewm_stream_kernel(
                    [specs[i][0] for i in idxs], key_names, srcs, outs, nans
                ),
                schema,
            )
        base = LazyFrame(sdf, base._order)
        if method == "select":
            return base.select(*new_flat, **new_named)
        out = base.with_columns(*new_flat, **new_named)
        return out.drop(*[h for h in hidden if h in set(out._df.columns)])

    # -- projection / mutation ----------------------------------------------
    @_order_retry
    def select(self, *exprs, **named) -> "LazyFrame":
        from polars_spark.exceptions import translate_errors

        rest, named_rest, attach = self._split_series_args(exprs, named)
        if attach:
            base = self
            for nm, s in attach:
                base = base._attach_series(nm, s)
            return base.select(*rest, *[nm for nm, _ in attach], **named_rest)
        exprs, named = rest, named_rest  # generators were consumed by the split
        flat = [e for e in _flatten(exprs)]
        if any(
            getattr(e, "_ewm_spec", None) is not None
            for e in flat + list(named.values())
            if hasattr(e, "_fn")
        ):
            hoisted = self._hoist_ewm(flat, named, "select")
            if hoisted is not None:
                return hoisted
        if (
            len(flat) == 1
            and not named
            and getattr(flat[0], "_select_rewrite", None) is not None
        ):
            # length-changing sole-expr selects (top_k/bottom_k): replace the
            # projection with the dedicated frame plan (sort+limit)
            return flat[0]._select_rewrite(self)
        if (
            len(flat) == 1
            and not named
            and getattr(flat[0], "_vc_parent", None) is not None
        ):
            # Expr.value_counts in select context: the real distributed
            # group-by plan (one keyed shuffle), not a window/implode
            e = flat[0]
            opts = e._vc_opts
            ctx = self._ctx()
            vcol = e._vc_parent._resolve(ctx)
            vname = e._vc_parent._name
            cname = opts["name"]
            g = (
                self._with_scalar_preps(ctx)
                .groupBy(vcol.alias(vname))
                .agg(F.count(F.lit(1)).alias(cname))
            )
            if opts["normalize"]:
                total = g.agg(F.sum(cname).alias("__t__"))
                g = g.crossJoin(F.broadcast(total)).select(
                    vname, (F.col(cname) / F.col("__t__")).alias(cname)
                )
            out = g.select(F.struct(vname, cname).alias(e._name))
            order = []
            if opts["sort"]:
                g2 = g.orderBy(F.col(cname).desc())
                out = g2.select(F.struct(vname, cname).alias(e._name))
                return LazyFrame(out, [])
            return LazyFrame(out, order)

        with translate_errors():
            # multi-output exprs (struct.unnest): expand the struct into its
            # fields AFTER the projection — "name.*" is Spark-native
            unnest = {
                e._name
                for e in _flatten(exprs)
                if getattr(e, "_unnest", False) and hasattr(e, "_name")
            }

            def _build(broadcast_aggs: bool):
                ctx = self._ctx()
                if broadcast_aggs:
                    ctx._broadcast_aggs = True
                cols = self._resolve_exprs(exprs, named, ctx=ctx)
                # keep the hidden order column alive if an order is defined
                keep = [F.col(o[0]) for o in self._order if o[0] == ROW_IDX]
                base = self._with_scalar_preps(ctx)
                if keep:
                    try:
                        return ctx, base.select(*cols, *keep)
                    except Exception as exc:  # scalar-aggregate projection:
                        # mixing the bare order column into an aggregate-only
                        # select is invalid (MISSING_GROUP_BY) — the aggregate
                        # result has no row order to preserve, drop it
                        if "MISSING_GROUP_BY" not in str(exc):
                            raise
                        return ctx, base.select(*cols)
                return ctx, base.select(*cols)

            try:
                ctx, df = _build(False)
            except Exception as exc:
                # a projection mixing aggregates with row-level values:
                # polars broadcasts the scalar — re-resolve with aggregates
                # as whole-frame scalar preps (broadcast join, no window)
                if "MISSING_GROUP_BY" not in str(exc):
                    raise
                ctx, df = _build(True)
            seen: set = set()
            for c in df.columns:
                if c in seen:
                    from polars_spark.exceptions import DuplicateError

                    msg = f"the name {c!r} is duplicate in the select output"
                    raise DuplicateError(msg)
                seen.add(c)
            if unnest:
                df = df.select(
                    *[f"`{c}`.*" if c in unnest else f"`{c}`" for c in df.columns]
                )
        # order survives only through columns that are still present
        order = [o for o in self._order if o[0] in set(df.columns)]
        return LazyFrame(df, order, deferred=self._deferred_order)

    @_order_retry
    def with_columns(self, *exprs, **named) -> "LazyFrame":
        from polars_spark.exceptions import translate_errors

        rest, named_rest, attach = self._split_series_args(exprs, named)
        if attach:
            base = self
            for nm, s in attach:
                base = base._attach_series(nm, s)
            return base.with_columns(*rest, **named_rest) if (rest or named_rest) else base
        exprs, named = rest, named_rest  # generators were consumed by the split
        if any(
            getattr(e, "_ewm_spec", None) is not None
            for e in list(_flatten(exprs)) + list(named.values())
            if hasattr(e, "_fn")
        ):
            hoisted = self._hoist_ewm(list(_flatten(exprs)), named, "with_columns")
            if hoisted is not None:
                return hoisted
        with translate_errors():

            def _build(broadcast_aggs: bool):
                ctx = self._ctx()
                if broadcast_aggs:
                    ctx._broadcast_aggs = True
                mapping: dict[str, Column] = {}
                for e in _flatten(exprs):
                    if isinstance(e, str):
                        mapping[e] = F.col(e)
                    elif getattr(e, "_selector", None) is not None:
                        # selector (plain or expression chain): expand per
                        # matching column, same rules as select
                        from polars_spark.selectors import expand_names

                        chain = getattr(e, "_chain_fn", None)
                        for c in expand_names(e, self.schema):
                            if chain is None:
                                mapping[c] = F.col(c)
                            else:
                                ce = chain(_col(c))
                                mapping[ce._name or c] = ce._resolve(ctx)
                    else:
                        ee = _to_expr(e) if not hasattr(e, "_resolve") else e
                        if ee._name in mapping:
                            from polars_spark.exceptions import DuplicateError

                            raise DuplicateError(
                                f"column {ee._name!r} produced more than once in with_columns"
                            )
                        mapping[ee._name] = ee._resolve(ctx)
                for name, e in named.items():
                    mapping[name] = self._named_col(name, e, ctx)
                return ctx, self._with_scalar_preps(ctx).withColumns(mapping)

            try:
                ctx, out = _build(False)
            except Exception as exc:
                # with_columns is always row-aligned: aggregates broadcast
                # (polars semantics) — retry with aggs as scalar preps
                if "MISSING_GROUP_BY" not in str(exc):
                    raise
                ctx, out = _build(True)
        if ctx.preps:
            out = out.drop(*[p[0] for p in ctx.preps])
        return LazyFrame(out, self._order, deferred=self._deferred_order)

    def with_columns_seq(self, *exprs, **named) -> "LazyFrame":
        return self.with_columns(*exprs, **named)

    def drop(self, *columns, strict: bool = True) -> "LazyFrame":
        names: list = []
        for c in _flatten(columns):
            if getattr(c, "_selector", None) is not None:
                from polars_spark.selectors import expand_names

                names.extend(expand_names(c, self.schema))
            else:
                names.append(c)
        if strict:
            # reference drop(strict=True) raises on unknown columns
            # (Spark's drop silently ignores them)
            missing = [n for n in names if isinstance(n, str) and n not in self.columns]
            if missing:
                from polars_spark.exceptions import ColumnNotFoundError

                raise ColumnNotFoundError(f"unable to drop column(s) {missing}: not found")
        return LazyFrame(self._df.drop(*names), [o for o in self._order if o[0] not in names], deferred=self._deferred_order)

    def rename(self, mapping: Mapping[str, str] | None = None, *, strict: bool = True, **kw) -> "LazyFrame":
        if callable(mapping):  # polars: rename(lambda old_name: new_name)
            m = {c: mapping(c) for c in self.columns}
        else:
            m = dict(mapping or {}, **kw)
        if strict and not callable(mapping):
            from polars_spark.exceptions import ColumnNotFoundError

            missing = [k for k in m if k not in self._df.columns]
            if missing:
                raise ColumnNotFoundError(f"rename: column(s) not found: {missing}")
        # simultaneous projection — swap renames ({'a':'b','b':'a'}) must not
        # collide the way sequential withColumnRenamed does
        df = self._df.select(*[F.col(c).alias(m.get(c, c)) for c in self._df.columns])
        order = [(m.get(n, n), d, nl) for n, d, nl in self._order]
        return LazyFrame(df, order)

    def cast(self, dtypes, strict: bool = True) -> "LazyFrame":
        if not isinstance(dtypes, Mapping):
            # polars: a single dtype casts EVERY column
            dtypes = {c: dtypes for c in self.columns}
        else:
            # keys may be column names, selectors, or dtype classes/instances
            # (reference cast: {cs.numeric(): pl.UInt32} / {pl.Date: pl.Datetime})
            from polars_spark.plans.expr import DataType, DataTypeClass
            from polars_spark.selectors import by_dtype, expand_names

            flat: dict = {}
            for k, t in dtypes.items():
                if isinstance(k, str):
                    flat[k] = t
                    continue
                sel = (
                    k
                    if getattr(k, "_selector", None) is not None
                    else by_dtype(k)
                    if isinstance(k, (DataType, DataTypeClass))
                    else None
                )
                if sel is None:
                    flat[k] = t
                else:
                    for c in expand_names(sel, self.schema):
                        flat[c] = t
            dtypes = flat
        mapping = {
            c: (F.col(c).cast(_dtype_to_spark(t)) if strict else F.col(c).try_cast(_dtype_to_spark(t)))
            for c, t in dtypes.items()
        }
        return LazyFrame(self._df.withColumns(mapping), self._order, deferred=self._deferred_order)

    def match_to_schema(
        self,
        schema: Mapping[str, Any],
        *,
        missing_columns="insert",
        missing_struct_fields="insert",
        extra_columns: str = "ignore",
        extra_struct_fields: str = "ignore",
        integer_cast: str = "upcast",
        float_cast: str = "upcast",
    ) -> "LazyFrame":
        """Conform to a target schema (DslPlan::MatchToSchema, dsl/plan.rs:101):
        cast matching columns, insert missing as typed nulls, drop or reject
        extras.  ``missing_columns`` may be a per-column policy dict
        (reference form: {"col": "insert" | "raise"})."""
        have = set(self.columns)
        out: list[Column] = []
        for name, dtype in schema.items():
            t = _dtype_to_spark(dtype)
            policy = (
                missing_columns.get(name, "raise")
                if isinstance(missing_columns, Mapping)
                else missing_columns
            )
            if name in have:
                out.append(F.col(name).cast(t).alias(name))
            elif policy == "insert":
                out.append(F.lit(None).cast(t).alias(name))
            else:
                from polars_spark.exceptions import SchemaError

                raise SchemaError(f"missing column {name!r}")
        extras = have - set(schema)
        if extras and extra_columns == "raise":
            raise ValueError(f"extra columns {sorted(extras)}")
        return LazyFrame(self._df.select(*out), [])

    def fill_null(self, value=None, strategy: str | None = None) -> "LazyFrame":
        exprs = [_col(c).fill_null(value, strategy).alias(c) for c in self.columns]
        return self.with_columns(*exprs)

    def fill_nan(self, value) -> "LazyFrame":
        exprs = [
            _col(c).fill_nan(value).alias(c)
            for c, t in self.schema.items()
            if t in ("float", "double")
        ]
        return self.with_columns(*exprs) if exprs else self

    def drop_nulls(self, subset: Sequence[str] | str | None = None) -> "LazyFrame":
        subset = self._resolve_name_selector(subset) if subset is not None else None
        return LazyFrame(self._df.dropna(subset=subset), self._order, deferred=self._deferred_order)

    def drop_nans(self, subset: Sequence[str] | str | None = None) -> "LazyFrame":
        cols = (
            self._resolve_name_selector(subset)
            if subset is not None
            else [c for c, t in self.schema.items() if t in ("float", "double")]
        )
        cond = None
        for c in cols:
            p = ~F.isnan(F.col(c)) | F.col(c).isNull()
            cond = p if cond is None else (cond & p)
        return LazyFrame(self._df.filter(cond), self._order, deferred=self._deferred_order) if cond is not None else self

    # -- filter --------------------------------------------------------------
    @_order_retry
    def filter(self, *predicates, **constraints) -> "LazyFrame":
        from polars_spark.exceptions import translate_errors
        from polars_spark.series import Series as _S

        if any(isinstance(p, _S) for p in _flatten(predicates)):
            # a driver-local boolean Series mask (df.filter(df.is_duplicated())):
            # attach by row position, filter on it, drop it
            rest = [p for p in _flatten(predicates) if not isinstance(p, _S)]
            out = self
            for i, s in enumerate(p for p in _flatten(predicates) if isinstance(p, _S)):
                mask = f"__mask_{i}__"
                out = out._attach_series(mask, s).filter(_col(mask)).drop(mask)
            return out.filter(*rest, **constraints) if (rest or constraints) else out
        with translate_errors():
            ctx = self._ctx()
            cond: Column | None = None
            for p in _flatten(predicates):
                c = p._resolve(ctx) if hasattr(p, "_resolve") else (p if isinstance(p, Column) else F.lit(p))
                cond = c if cond is None else (cond & c)
            for name, v in constraints.items():
                c = F.col(name) == F.lit(v)
                cond = c if cond is None else (cond & c)
            try:
                out = self._with_scalar_preps(ctx).filter(cond)
            except Exception as exc:
                # window-backed predicates (is_duplicated, rank-based, ...)
                # cannot sit in WHERE: materialize the predicate as a hidden
                # projection first, filter on it, drop it — same plan Spark
                # would need anyway (window pass then filter)
                if "window functions inside WHERE" not in str(exc).replace(
                    "\n", " "
                ) and "WINDOW_FUNCTION" not in str(exc):
                    raise
                exprs = [p for p in _flatten(predicates) if hasattr(p, "_resolve")]
                combined = exprs[0]
                for e in exprs[1:]:
                    combined = combined & e
                for name, v in constraints.items():
                    from polars_spark.plans.expr import col as _colfn, lit as _litfn

                    combined = combined & (_colfn(name) == _litfn(v))
                staged = self.with_columns(combined.alias("__flt__"))
                out = staged._df.filter(F.col("__flt__")).drop("__flt__")
                return LazyFrame(out, staged._order, deferred=staged._deferred_order)
        if ctx.preps:
            out = out.drop(*[p[0] for p in ctx.preps])
        return LazyFrame(out, self._order, deferred=self._deferred_order)

    @_order_retry
    def remove(self, *predicates, **constraints) -> "LazyFrame":
        ctx = self._ctx()
        cond: Column | None = None
        for p in _flatten(predicates):
            c = p._resolve(ctx) if hasattr(p, "_resolve") else p
            cond = c if cond is None else (cond & c)
        for name, v in constraints.items():
            c = F.col(name) == F.lit(v)
            cond = c if cond is None else (cond & c)
        return LazyFrame(self._df.filter(~F.coalesce(cond, F.lit(False))), self._order, deferred=self._deferred_order)

    # -- sort / slice ---------------------------------------------------------
    def sort(
        self,
        by,
        *more_by,
        descending: bool | Sequence[bool] = False,
        nulls_last: bool | Sequence[bool] = False,
        maintain_order: bool = False,
        multithreaded: bool = True,
    ) -> "LazyFrame":
        keys = []
        for k in _flatten([by, *more_by]):
            if getattr(k, "_selector", None) is not None and getattr(k, "_chain_fn", None) is None:
                from polars_spark.selectors import expand_names

                keys.extend(expand_names(k, self.schema))
            else:
                keys.append(k)
        n = len(keys)
        desc = [descending] * n if isinstance(descending, bool) else list(descending)
        nlast = [nulls_last] * n if isinstance(nulls_last, bool) else list(nulls_last)
        ctx = self._ctx()
        cols: list[Column] = []
        order: list[tuple[str, bool, bool]] = []
        # Enum columns sort by CATEGORY INDEX, not lexically (reference
        # dtype.rs FrozenCategories): categories ride the field metadata
        try:
            enum_fields = {
                f.name: list(f.metadata["pls_enum"])
                for f in self._df.schema.fields
                if f.metadata and f.metadata.get("pls_enum")
            }
        except Exception:
            enum_fields = {}
        used_enum = False
        for k, d, nl in zip(keys, desc, nlast):
            if isinstance(k, str) and k in enum_fields:
                arr = F.array(*[F.lit(x) for x in enum_fields[k]])
                c = F.array_position(arr, F.col(k))
                used_enum = True
            else:
                c = F.col(k) if isinstance(k, str) else k._resolve(ctx)
            # polars: null sorts as the SMALLEST value (first asc, last desc);
            # nulls_last=True forces nulls to the end either way
            last = nl or d
            if d:
                cols.append(c.desc_nulls_last() if last else c.desc_nulls_first())
            else:
                cols.append(c.asc_nulls_last() if last else c.asc_nulls_first())
            if isinstance(k, str):
                order.append((k, d, last))
        if maintain_order and self._order:
            # stable sort: prior row order breaks ties
            cols.extend(_order_cols(self._order))
            order.extend(self._order)
        if used_enum:
            # the stored BY-NAME order spec would lexically re-sort the enum
            # key at collect — seal the category order into the hidden row
            # index instead (monotonically_increasing_id is globally
            # ascending right after a range-partitioned orderBy)
            sdf = self._df.orderBy(*cols).withColumn(
                ROW_IDX, F.monotonically_increasing_id()
            )
            return LazyFrame(sdf, [(ROW_IDX, False, False)])
        return LazyFrame(self._df.orderBy(*cols), order)

    def limit(self, n: int = 5) -> "LazyFrame":
        if n < 0:
            # polars head(-n): everything but the last |n| rows
            return self.slice(0, n)
        df = self._df
        if self._order:
            df = df.orderBy(*_order_cols(self._order))
        return LazyFrame(df.limit(n), self._order, deferred=self._deferred_order)

    head = limit

    def tail(self, n: int = 5) -> "LazyFrame":
        if n < 0:
            # polars tail(-n): everything but the first |n| rows
            return self.slice(abs(n))
        self = self._ordered()  # pay the deferred scan-order contract
        if not self._order:
            raise ValueError("tail() needs a defined row order; sort() or with_row_index() first")
        df = self._df.orderBy(*_order_cols(self._order, reverse=True)).limit(n)
        return LazyFrame(df.orderBy(*_order_cols(self._order)), self._order)

    def _global_pos(self) -> tuple[SparkDF, str, list]:
        """(df, pos-column name, order) with a scale-safe 0-based global row
        position: partition-local row_number + broadcast per-partition offsets
        (the with_row_index machinery) — never a global-orderBy window, which
        would shuffle the whole frame into one partition."""
        self = self._ordered()  # scan positions follow file order (polars)
        if self._order:
            # "__gpos__": distinct from with_row_index's internal __pos__
            return self.with_row_index("__gpos__")._df, "__gpos__", self._order
        lf = self.with_row_index(ROW_IDX)  # ROW_IDX already IS the position
        return lf._df, ROW_IDX, lf._order

    def _attach_series(self, name: str, s) -> "LazyFrame":
        """Attach a driver-local Series as a column, aligned by row
        position (polars with_columns(name=Series) semantics).  The Series
        is small driver data by construction (series.py docstring); it
        ships as a broadcast join on the scale-safe partition-offset row
        position — never a global window."""
        df, pos, order = self._global_pos()
        spark = self._df.sparkSession
        import pandas as _pd

        vals = s.to_list()
        pdf = _pd.DataFrame({"__spos__": range(len(vals))})
        pdf[name] = _pd.Series(vals, dtype="object") if any(
            v is None for v in vals
        ) else _pd.Series(s._s.to_numpy() if hasattr(s._s, "to_numpy") else vals)
        sdf = spark.createDataFrame(pdf)
        if name in df.columns:
            df = df.drop(name)
        out = (
            df.join(F.broadcast(sdf), F.col(pos) == F.col("__spos__"), "left")
            .drop("__spos__")
        )
        if pos == "__gpos__":
            out = out.drop(pos)
        return LazyFrame(out, order)

    def _split_series_args(self, exprs, named):
        """Split driver-local Series out of select/with_columns arguments."""
        from polars_spark.series import Series as _S

        rest, attach = [], []
        for e in _flatten(exprs):
            if isinstance(e, _S):
                attach.append((e.name or f"column_{len(attach)}", e))
            else:
                rest.append(e)
        named_rest = {}
        for k, v in (named or {}).items():
            if isinstance(v, _S):
                attach.append((k, v))
            else:
                named_rest[k] = v
        return rest, named_rest, attach

    def slice(self, offset: int, length: int | None = None) -> "LazyFrame":
        if offset == 0 and length is not None and length >= 0:
            return self.limit(length)
        df, pos, order = self._global_pos()
        p = F.col(pos)
        need_total = offset < 0 or (length is not None and length < 0)
        if need_total:
            # counting from the end needs the row count: a 1-row aggregate
            # broadcast back, not a single-partition window
            total = self._df.agg(F.count(F.lit(1)).alias("__total__"))
            df = df.crossJoin(F.broadcast(total))
        if offset >= 0:
            cond = p >= offset
            if length is not None:
                # negative length: stop |length| rows before the end
                # (python df[offset : height+length] semantics)
                end = (F.col("__total__") + length) if length < 0 else F.lit(offset + length)
                cond = cond & (p < end)
        else:
            start = F.col("__total__") + offset
            cond = p >= start
            if length is not None:
                end = (F.col("__total__") + length) if length < 0 else (start + length)
                cond = cond & (p < end)
        out = df.filter(cond).drop("__total__")
        if pos == "__gpos__":
            out = out.drop("__gpos__")
        return LazyFrame(out, order)

    def gather_every(self, n: int, offset: int = 0) -> "LazyFrame":
        df, pos, order = self._global_pos()
        out = df.filter((F.col(pos) >= offset) & ((F.col(pos) - offset) % n == 0))
        if pos == "__gpos__":
            out = out.drop("__gpos__")
        return LazyFrame(out, order)

    def set_sorted(self, *columns, descending: bool = False) -> "LazyFrame":
        """Declare (without shuffling) that the frame is ordered by ``columns``
        — polars set_sorted.  Order-sensitive expressions then use these as
        the ordering key inside their (partitioned) windows."""
        cols = list(_flatten(columns))
        return LazyFrame(self._df, [(c, descending, False) for c in cols])

    def upsample(self, time_column: str, *, every: str, group_by=None, maintain_order: bool = False) -> "LazyFrame":
        """Insert missing time steps (polars-time/src/upsample.rs:117):
        per-group spine = sequence(min, max, every), left-joined back.
        Distributed: the spine is built from a per-group min/max aggregate,
        exploded in parallel — no driver materialization."""
        gb = [group_by] if isinstance(group_by, str) else list(group_by or [])
        interval = _duration_str(every)
        spine = (
            self._df.groupBy(*gb)
            .agg(F.min(time_column).alias("__lo"), F.max(time_column).alias("__hi"))
            .select(
                *gb,
                F.explode(
                    F.sequence(F.col("__lo"), F.col("__hi"), F.expr(f"INTERVAL {interval}"))
                ).alias(time_column),
            )
        )
        joined = spine.join(self._df, on=[*gb, time_column], how="left")
        return LazyFrame(joined, [(c, False, False) for c in (*gb, time_column)])

    def reverse(self) -> "LazyFrame":
        self = self._ordered()  # reverse of a scan = reverse file order
        if not self._order:
            raise ValueError("reverse() needs a defined row order")
        return LazyFrame(self._df, [(n, not d, not nl) for n, d, nl in self._order])

    def gather(self, indices, *, index_col: str | None = None, null_on_oob: bool = False) -> "LazyFrame":
        """Take rows by position (DslPlan::Gather, dsl/plan.rs:89): join this
        frame's row index against an index frame — the distributed `take`.
        A plain list/Series of positions (reference df.gather([2, 0, 0]))
        becomes a small index frame first; duplicates and output order are
        preserved via a position-on-positions join."""
        from polars_spark.series import Series as _S

        if isinstance(indices, _S):
            indices = indices.to_list()
        if isinstance(indices, (list, tuple, range)):
            import pandas as _pd

            spark = self._df.sparkSession
            pos = list(indices)
            pdf = _pd.DataFrame({"__take__": pos, "__ord__": range(len(pos))})
            lf = self.with_row_index(ROW_IDX)
            how = "left" if null_on_oob else "inner"
            out = (
                spark.createDataFrame(pdf)
                .join(lf._df, F.col("__take__") == F.col(ROW_IDX), how)
                .drop("__take__", ROW_IDX)
            )
            res = LazyFrame(out, [("__ord__", False, False)])
            if not null_on_oob and len(pos):
                # polars raises on out-of-bounds when null_on_oob=False; an
                # inner join silently drops — detect via count
                if res.height != len(pos):
                    msg = "gather indices are out of bounds"
                    raise IndexError(msg)
            # keep the requested order physically (len(pos) rows — small)
            return LazyFrame(res._df.orderBy("__ord__").drop("__ord__"), [])
        col_name = index_col or indices.columns[0]
        lf = self.with_row_index(ROW_IDX)  # positions follow the frame order
        idx = indices.to_spark().select(F.col(col_name).cast("bigint").alias(ROW_IDX))
        out = idx.join(lf._df, ROW_IDX, "inner")
        return LazyFrame(out.drop(ROW_IDX), [])

    def item(self, row: int | None = None, column=None):
        """Single value: of a 1x1 result, or at (row, column) like the
        reference (dataframe/frame.py item)."""
        if row is not None or column is not None:
            if row is None or column is None:
                raise ValueError("item(): pass both row and column, or neither")
            name = column if isinstance(column, str) else self.columns[column]
            vals = self.slice(row, 1).select(name).rows()
            if not vals:
                raise IndexError(row)
            return vals[0][0]
        rows = self._collect_rows()
        if len(rows) != 1 or len(self.columns) != 1:
            raise ValueError(
                f"item() needs a 1x1 frame, got ({len(rows)}, {len(self.columns)})"
            )
        return _py_value(rows[0][0])

    def rows(self, *, named: bool = False) -> list:
        rows = self._collect_rows()
        if named:
            return [{k: _py_value(v) for k, v in r.asDict().items()} for r in rows]
        return [tuple(_py_value(v) for v in r) for r in rows]

    def to_dicts(self) -> list[dict]:
        return self.rows(named=True)

    def first(self) -> "LazyFrame":
        return self.limit(1)

    def last(self) -> "LazyFrame":
        return self.tail(1)

    # -- row index -------------------------------------------------------------
    def with_row_index(self, name: str = "index", offset: int = 0) -> "LazyFrame":
        """Monotonic row index in current frame order — scale-safe.

        When the frame already has an order, numbering is a window over that
        order (single pass).  When it does not (scan order), rows are numbered
        per input partition and shifted by per-partition offsets: the offsets
        come from a count-per-partition aggregate (one row per partition,
        broadcast back), so no global sort or single-partition window ever
        happens — the pattern survives a 1000-executor scan.
        """
        self = self._ordered()  # scans number in file order (polars contract)
        if self._order:
            # range-partition by the order keys so numbering stays per-partition
            # (partition i holds a contiguous, ordered slice of the frame).
            # A LAZY LOCAL CHECKPOINT pins a single evaluation:
            # rangepartitioning samples its bounds NONDETERMINISTICALLY, and
            # the per-partition-counts branch and the numbering branch below
            # would otherwise each re-evaluate it with different bounds —
            # mismatched __pid__s silently drop rows in the offsets join
            # (found round 6 on a 10⁶-row frame).  vs plain persist():
            # lineage truncation means lost blocks can never re-sample new
            # bounds (loud failure instead of silent row loss), and the
            # blocks are ContextCleaner-reclaimed when the frame is GC'd
            # instead of leaking in the cacheManager until unpersist.
            from pyspark import StorageLevel

            base = self._df.repartitionByRange(*_order_cols(self._order)).localCheckpoint(
                eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
            within = Window.partitionBy("__pid__").orderBy(*_order_cols(self._order))
        else:
            base = self._df
            within = Window.partitionBy("__pid__").orderBy(F.monotonically_increasing_id())
        df = base.withColumn("__pid__", F.spark_partition_id()).withColumn(
            "__pos__", F.row_number().over(within)
        )
        counts = (
            df.groupBy("__pid__")
            .agg(F.count(F.lit(1)).alias("__cnt__"))
            .withColumn(
                "__off__",
                F.coalesce(
                    F.sum("__cnt__").over(
                        Window.orderBy("__pid__").rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
            .drop("__cnt__")
        )
        out = (
            df.join(F.broadcast(counts), "__pid__")
            .withColumn(name, (F.col("__off__") + F.col("__pos__") - 1 + F.lit(offset)).cast("bigint"))
            .drop("__pid__", "__pos__", "__off__")
        )
        return LazyFrame(out, [(name, False)])

    # -- group by ---------------------------------------------------------------
    def group_by(self, *keys, maintain_order: bool = False, **named_keys) -> "LazyGroupBy":
        return LazyGroupBy(self, list(_flatten(keys)), dict(named_keys), maintain_order)

    def cube(self, *keys) -> "LazyGroupBy":
        """Spark-native bonus beyond polars (polars-sql rejects grouping sets,
        context.rs:1472): CUBE grouping."""
        gb = LazyGroupBy(self, list(_flatten(keys)), {}, False)
        gb._mode = "cube"
        return gb

    def rollup(self, *keys) -> "LazyGroupBy":
        gb = LazyGroupBy(self, list(_flatten(keys)), {}, False)
        gb._mode = "rollup"
        return gb

    def sample(self, fraction: float | None = None, *, n: int | None = None, seed: int | None = None, with_replacement: bool = False, shuffle: bool = False) -> "LazyFrame":
        if seed is None:
            seed = _GLOBAL_SEED
        if fraction is None and n is not None:
            # approximate n via limit on a shuffled frame
            return LazyFrame(self._df.orderBy(F.rand(seed if seed is not None else 42)).limit(n), [])
        if shuffle:
            return LazyFrame(
                self._df.sample(with_replacement, fraction, seed).orderBy(
                    F.rand((seed if seed is not None else 42) + 1)
                ),
                [],
            )
        # shuffle=False keeps the survivors' relative order (polars sample):
        # sampling is a row filter, so a deferred scan contract survives
        return LazyFrame(
            self._df.sample(with_replacement, fraction, seed),
            [],
            deferred=self._deferred_order,
        )

    def shuffle(self, seed: int | None = None) -> "LazyFrame":
        if seed is None:
            seed = _GLOBAL_SEED
        return LazyFrame(self._df.orderBy(F.rand(seed if seed is not None else 42)), [])

    def __len__(self) -> int:
        return self.height

    def count(self) -> "LazyFrame":
        """Per-column NON-NULL counts as a 1-row frame (reference
        LazyFrame.count) — one partial-agg pass.  The old row-count int is
        ``height`` / ``len()`` (FastCount: parquet metadata-only when the
        plan is a bare scan — Catalyst does that rewrite itself)."""
        cols = [c for c in self._df.columns if c != ROW_IDX]
        return LazyFrame(self._df.agg(*[F.count(F.col(c)).alias(c) for c in cols]))

    def collect_batches(self, batch_size: int = 10_000):
        """Incremental result pull (polars collect_batches,
        polars-lazy/src/frame/mod.rs:759): yields pandas DataFrames without
        materializing the whole result on the driver."""
        import pandas as pd

        df = self._df
        if self._order:
            df = df.orderBy(*_order_cols(self._order))
        if ROW_IDX in df.columns:
            df = df.drop(ROW_IDX)
        cols = df.columns
        buf: list = []
        for row in df.toLocalIterator():
            buf.append(row)
            if len(buf) >= batch_size:
                yield pd.DataFrame(buf, columns=cols)
                buf = []
        if buf:
            yield pd.DataFrame(buf, columns=cols)

    def group_by_dynamic(
        self,
        index_column: str,
        *,
        every: str,
        period: str | None = None,
        offset: str | None = None,
        closed: str = "left",
        label: str = "left",
        group_by=None,
        start_by: str = "window",
        include_boundaries: bool = False,
    ) -> "DynamicGroupBy":
        return DynamicGroupBy(
            self, index_column, every, period, offset, closed, label, group_by,
            start_by=start_by, include_boundaries=include_boundaries,
        )

    def rolling(self, index_column: str, *, period: str, group_by=None, closed: str = "right") -> "RollingGroupBy":
        return RollingGroupBy(self, index_column, period, group_by, closed)

    def group_by_sessions(
        self, index_column: str, *, gap: str, group_by=None
    ) -> "SessionGroupBy":
        """Sessionization (Spark-native extension; no reference equivalent):
        variable-length windows that merge events whose time gaps are
        at most ``gap`` (boundary-inclusive).  Lowered to ``F.session_window`` — the
        merging-window aggregate, one shuffle on (group_by, session), the
        same operator the streaming twin (streaming.session_stream_agg)
        runs incrementally."""
        return SessionGroupBy(self, index_column, gap, group_by)

    # -- joins ---------------------------------------------------------------
    def join(
        self,
        other: "LazyFrame",
        on=None,
        how: str = "inner",
        *,
        left_on=None,
        right_on=None,
        suffix: str = "_right",
        coalesce: bool | None = None,
        nulls_equal: bool = False,
        validate: str = "m:m",
        maintain_order: str | None = None,
    ) -> "LazyFrame":
        """polars join semantics (polars-ops/src/frame/join/args.rs:62,90).

        Key coalescing defaults: on for inner/left/right, off for full.
        Colliding non-key right columns get ``suffix``.  No broadcast hint is
        forced — Catalyst/AQE pick broadcast vs shuffled-hash at runtime.
        """
        how = {"outer": "full", "leftouter": "left"}.get(how, how)
        mo = maintain_order or "none"
        if mo != "none":
            # polars maintain_order (args.rs MaintainOrderJoin): tag the
            # ordered side(s) with the scale-safe partition-offset row index,
            # join unordered, then declare the output order on the hidden
            # ROW_IDX (a struct of the tags — dropped at collect, and the
            # orderBy only materializes when the user's plan needs order)
            lf_l = self.with_row_index("__mo_l__") if "left" in mo else self
            lf_r = other.with_row_index("__mo_r__") if "right" in mo else other
            res = lf_l.join(
                lf_r, on=on, how=how, left_on=left_on, right_on=right_on,
                suffix=suffix, coalesce=coalesce, nulls_equal=nulls_equal,
                validate=validate, maintain_order=None,
            )
            first = "__mo_l__" if mo.startswith("left") else "__mo_r__"
            second = {"left_right": "__mo_r__", "right_left": "__mo_l__"}.get(mo)
            if first not in res.columns:
                return res
            parts = [F.col(first)]
            if second and second in res.columns:
                parts.append(F.col(second))
            cols = [c for c in res.columns if c not in ("__mo_l__", "__mo_r__")]
            df = res._df.withColumn(ROW_IDX, F.struct(*parts))
            return LazyFrame(df.select(*cols, ROW_IDX), [(ROW_IDX, False)])
        if how == "cross":
            r = _suffix_collisions(other.to_spark(), self.columns, suffix)
            return LazyFrame(self.to_spark().crossJoin(r))
        def _split(spec):
            if isinstance(spec, str) or hasattr(spec, "_resolve"):
                return [spec]
            return list(spec)

        def _prep_keys(lf, specs, tag):
            # polars allows EXPRESSION join keys: materialize each as a
            # hidden column, join on it, drop it from the output
            names, out = [], lf
            for i, k in enumerate(specs):
                if isinstance(k, str):
                    names.append(k)
                else:
                    nm = f"__jk{tag}{i}__"
                    out = out.with_columns(_to_expr(k).alias(nm))
                    names.append(nm)
            return out, names

        if on is not None:
            lspec = rspec = _split(on)
        else:
            lspec, rspec = _split(left_on), _split(right_on)
        self_k, lon = _prep_keys(self, lspec, "l")
        other_k, ron = _prep_keys(other, rspec, "r")
        from polars_spark.exceptions import ColumnNotFoundError

        for k in lon:
            if k not in self_k._df.columns:
                raise ColumnNotFoundError(f"join key {k!r} not found in left frame")
        for k in ron:
            if k not in other_k._df.columns:
                raise ColumnNotFoundError(f"join key {k!r} not found in right frame")
        if coalesce is None:
            coalesce = how != "full"

        if validate not in ("m:m", "many_to_many"):
            # polars join validation (args.rs JoinValidation): uniqueness of
            # the keys on the required side(s).  Distributed check — one
            # limit-1 aggregate per side, short-circuits on first duplicate
            # (the reference also pays an eager check inside its join).
            from polars_spark.exceptions import ComputeError

            checks = {
                "1:1": ("left", "right"), "one_to_one": ("left", "right"),
                "1:m": ("left",), "one_to_many": ("left",),
                "m:1": ("right",), "many_to_one": ("right",),
            }
            if validate not in checks:
                raise ValueError(f"join validate={validate!r}")
            for side in checks[validate]:
                sdf, keys = (
                    (self_k.to_spark(), lon) if side == "left" else (other_k.to_spark(), ron)
                )
                dup = _count(
                    sdf.groupBy(*keys)
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .filter(F.col("__n") > 1)
                    .limit(1),
                    "join:validate",
                )
                if dup:
                    msg = (
                        f"join keys did not fulfill {validate} validation: "
                        f"{side} side has duplicate keys"
                    )
                    raise ComputeError(msg)

        # keep the left frame's hidden order column alive through the join:
        # polars preserves left row order through left/inner/semi/anti joins
        # (the in-memory engine's default); declaring it costs nothing until
        # an order-sensitive consumer materializes the orderBy
        ldf = self_k._df.alias("__l")
        rdf = other_k._df.alias("__r")
        cond = None
        for lk, rk in zip(lon, ron):
            c = (
                F.col(f"__l.{lk}").eqNullSafe(F.col(f"__r.{rk}"))
                if nulls_equal
                else F.col(f"__l.{lk}") == F.col(f"__r.{rk}")
            )
            cond = c if cond is None else (cond & c)

        if how in ("semi", "anti"):
            joined = ldf.join(rdf, cond, f"left_{how}")
            cols = [F.col(f"__l.{c}").alias(c) for c in self.columns]
            order = [o for o in self._order if o[0] in set(self.columns) or o[0] == ROW_IDX]
            if any(o[0] == ROW_IDX for o in order) and ROW_IDX in self._df.columns:
                cols.append(F.col(f"__l.{ROW_IDX}").alias(ROW_IDX))
            return LazyFrame(joined.select(*cols), order)

        joined = ldf.join(rdf, cond, how)
        lcols = self.columns
        rcols = other.columns
        out: list[Column] = []
        if how == "right":
            out.extend(F.col(f"__l.{c}").alias(c) for c in lcols if not (coalesce and c in lon))
            taken = {c for c in lcols if not (coalesce and c in lon)}
            ren = {}
            for c in rcols:
                name = c + suffix if c in taken else c
                ren[c] = name
                out.append(F.col(f"__r.{c}").alias(name))
            # polars keeps the RIGHT frame's row order through right joins —
            # declare it on the (possibly suffixed) surviving right columns
            order = []
            if other._order:
                if all(o[0] in ren for o in other._order):
                    order = [(ren[o[0]], o[1], o[2]) for o in other._order]
                elif (
                    all(o[0] in ren or o[0] == ROW_IDX for o in other._order)
                    and ROW_IDX in other_k._df.columns
                ):
                    out.append(F.col(f"__r.{ROW_IDX}").alias(ROW_IDX))
                    order = [
                        (ren.get(o[0], o[0]), o[1], o[2]) for o in other._order
                    ]
            return LazyFrame(joined.select(*out), order)
        # inner / left / full
        for c in lcols:
            if how == "full" and coalesce and c in lon:
                rk = ron[lon.index(c)]
                out.append(F.coalesce(F.col(f"__l.{c}"), F.col(f"__r.{rk}")).alias(c))
            else:
                out.append(F.col(f"__l.{c}").alias(c))
        dropped_r = set(ron) if coalesce else set()
        for c in rcols:
            if c in dropped_r:
                continue
            name = c + suffix if c in lcols else c
            out.append(F.col(f"__r.{c}").alias(name))
        order = []
        if how in ("inner", "left") and self._order:
            keep = list(self._order)
            have = set(lcols)
            if all(o[0] in have for o in keep):
                order = keep
            elif (
                all(o[0] in have or o[0] == ROW_IDX for o in keep)
                and ROW_IDX in self._df.columns
            ):
                out.append(F.col(f"__l.{ROW_IDX}").alias(ROW_IDX))
                order = keep
        return LazyFrame(joined.select(*out), order)

    def join_where(self, other: "LazyFrame", *predicates, suffix: str = "_right") -> "LazyFrame":
        """Theta join on arbitrary inequality predicates (polars join_where,
        polars-ops/src/frame/join/iejoin/mod.rs:381).

        Spark executes 1-2 inequality predicates as a broadcast-nested-loop
        join; at 100 TB add an equi-bucket (e.g. coarse range bucket of one
        predicate column) to the condition to turn it into a shuffled join.
        """
        r = _suffix_collisions(other.to_spark(), self.columns, suffix)
        l = self.to_spark()
        ctx = ExprContext(None, [])
        cond = None
        for p in predicates:
            c = p._resolve(ctx)
            cond = c if cond is None else (cond & c)
        return LazyFrame(l.join(r, cond, "inner"))

    def join_asof(
        self,
        other: "LazyFrame",
        *,
        on: str | None = None,
        left_on: str | None = None,
        right_on: str | None = None,
        by=None,
        by_left=None,
        by_right=None,
        strategy: str = "backward",
        tolerance=None,
        suffix: str = "_right",
        coalesce: bool = True,
    ) -> "LazyFrame":
        """As-of join (polars-ops/src/frame/join/asof/, AsofStrategy mod.rs:262).

        Plan: tag both sides, union them, and run ONE window pass partitioned
        by the ``by`` keys ordered by the asof key — `last(value, ignorenulls)`
        carries the most recent right-side values onto each left row
        (backward; `first` over the following frame for forward; both for
        nearest).  Cost = one shuffle on (by, on); never a range cross-join.
        With no ``by`` key the window is global — acceptable only for small
        frames; pass ``by`` at scale.
        """
        lon = on or left_on
        ron = on or right_on
        bl = [by] if isinstance(by, str) else list(by) if by else (
            [by_left] if isinstance(by_left, str) else list(by_left) if by_left else []
        )
        br = [by] if isinstance(by, str) else list(by) if by else (
            [by_right] if isinstance(by_right, str) else list(by_right) if by_right else []
        )

        ldf = self.to_spark()
        rdf = other.to_spark()
        # right columns that will land on the left rows
        rval = [c for c in rdf.columns if c != ron and c not in br]
        rmap = {c: (c + suffix if c in ldf.columns else c) for c in rval}

        # the whole matched right row travels as ONE struct so that null
        # fields inside a matched row are preserved (last(ignorenulls) on a
        # per-column basis would skip to an older row for that column).
        lt = ldf.withColumn("__side", F.lit(1))
        # null asof keys on the right can never match (polars skips them in
        # the sorted-merge); left them in, they'd sort FIRST (nulls-first
        # asc) and last(ignorenulls) would hand their values to every left
        # row before the first real right key.  __ridx pins the polars
        # duplicate-key tie rule (frame row order: backward takes the LAST
        # occurrence of the matched key, forward the FIRST) — without it the
        # window order among equal (key, side) rows is partition-dependent.
        # monotonically_increasing_id is frame-order-monotonic and free (no
        # shuffle); the window sort that follows pays the same either way.
        rt = (
            rdf.filter(F.col(ron).isNotNull())
            .select(
                *[F.col(b).alias(bl[i]) for i, b in enumerate(br)],
                F.col(ron).alias(lon),
                F.struct(
                    F.col(ron).alias("__on"),
                    *[F.col(c).alias(rmap[c]) for c in rval],
                ).alias("__rs"),
            )
            .withColumn("__side", F.lit(0))
            .withColumn("__ridx", F.monotonically_increasing_id())
        )
        allrows = lt.unionByName(rt, allowMissingColumns=True)

        # backward: right row at the same key matches -> right (side 0) first
        wb = Window.partitionBy(*bl).orderBy(
            F.col(lon).asc(), F.col("__side").asc(), F.col("__ridx").asc_nulls_last()
        ).rowsBetween(Window.unboundedPreceding, 0)
        # forward: left row first at ties so an equal right key is still ahead
        wf = Window.partitionBy(*bl).orderBy(
            F.col(lon).asc(), F.col("__side").desc(), F.col("__ridx").asc_nulls_last()
        ).rowsBetween(0, Window.unboundedFollowing)

        is_ts = dict(ldf.dtypes)[lon].startswith("timestamp")

        def dist(a: Column, b: Column) -> Column:
            return (
                F.abs(a.cast("timestamp").cast("double") - b.cast("timestamp").cast("double"))
                if is_ts
                else F.abs(a - b)
            )

        if strategy == "backward":
            m = F.last(F.col("__rs"), ignorenulls=True).over(wb)
        elif strategy == "forward":
            m = F.first(F.col("__rs"), ignorenulls=True).over(wf)
        elif strategy == "nearest":
            mb = F.last(F.col("__rs"), ignorenulls=True).over(wb)
            mf = F.first(F.col("__rs"), ignorenulls=True).over(wf)
            use_b = (
                F.when(mf.isNull(), F.lit(True))
                .when(mb.isNull(), F.lit(False))
                .otherwise(dist(F.col(lon), mb["__on"]) <= dist(mf["__on"], F.col(lon)))
            )
            m = F.when(use_b, mb).otherwise(mf)
        else:
            raise ValueError(f"unknown asof strategy {strategy!r}")

        out = allrows.withColumn("__m", m).filter(F.col("__side") == 1)
        if tolerance is not None:
            tol = _duration_to_value(tolerance, is_ts)
            ok = dist(F.col(lon), F.col("__m")["__on"]) <= F.lit(tol)
            out = out.withColumn("__m", F.when(ok, F.col("__m")))
        # coalesce=False (reference args.rs JoinArgs): the matched right
        # asof key survives as its own suffixed column instead of merging
        # into the left key
        right_key = (
            [F.col("__m")["__on"].alias(f"{ron}{suffix}")] if coalesce is False else []
        )
        out = out.select(
            *[F.col(c) for c in ldf.columns],
            *right_key,
            *[F.col("__m")[rmap[c]].alias(rmap[c]) for c in rval],
        )
        return LazyFrame(out, self._order)

    # -- distinct ---------------------------------------------------------------
    def unique(
        self,
        subset: Sequence[str] | str | None = None,
        *,
        keep: str = "any",
        maintain_order: bool = False,
    ) -> "LazyFrame":
        """polars Distinct with UniqueKeepStrategy (polars-core/src/frame/mod.rs:60).
        ``subset`` may contain expressions (reference: distinct over computed
        values) — they materialize as hidden key columns first."""
        base = self
        if subset is not None:
            items = subset if isinstance(subset, (list, tuple)) else [subset]
            exprs = [e for e in items if isinstance(e, Expr) and getattr(e, "_selector", None) is None]
            if exprs:
                hidden = {f"__uq_{i}__": e for i, e in enumerate(exprs)}
                base = self.with_columns(**hidden)
                names = [x for x in items if not (isinstance(x, Expr) and getattr(x, "_selector", None) is None)]
                out = base.unique(
                    subset=base._resolve_name_selector(names) + list(hidden) if names else list(hidden),
                    keep=keep,
                    maintain_order=maintain_order,
                )
                return out.drop(*hidden)
        cols = base._resolve_name_selector(subset) if subset is not None else self.columns
        self = base
        if keep in ("first", "last"):
            self = self._ordered()  # keep first/last row in scan order (polars)
        if keep == "any":
            return LazyFrame(self._df.dropDuplicates(cols), self._order if maintain_order else [])
        if keep in ("first", "last"):
            w = Window.partitionBy(*cols).orderBy(
                *_order_cols(self._order, reverse=(keep == "last"))
            )  # raises inside Spark if no order cols -> guard:
            if not self._order:
                raise ValueError(f"unique(keep={keep!r}) needs a defined row order")
            rn = F.row_number().over(w)
            df = self._df.withColumn("__rn__", rn).filter(F.col("__rn__") == 1).drop("__rn__")
            return LazyFrame(df, self._order)
        if keep == "none":
            w = Window.partitionBy(*cols)
            df = self._df.withColumn("__cnt__", F.count(F.lit(1)).over(w)).filter(
                F.col("__cnt__") == 1
            ).drop("__cnt__")
            return LazyFrame(df, self._order, deferred=self._deferred_order)
        raise ValueError(f"unknown keep strategy {keep!r}")

    # -- reshape -----------------------------------------------------------------
    def explode(self, *columns, empty_as_null: bool = True) -> "LazyFrame":
        """Explode list columns; empty/null lists yield a null row
        (FunctionIR::Explode, polars-plan/src/plans/functions/mod.rs:55) —
        ``empty_as_null=False`` drops those rows instead."""
        cols = self._names_of(list(columns))
        df = self._df
        _explode = F.explode_outer if empty_as_null else F.explode
        if len(cols) == 1:
            c = cols[0]
            df = df.select(
                *[F.col(x) for x in df.columns if x != c],
                _explode(F.col(c)).alias(c),
            )
        else:
            # multi-column explode zips element-wise (polars requires equal lengths)
            zipped = F.arrays_zip(*[F.col(c).alias(c) for c in cols])
            df = df.select(
                *[F.col(x) for x in df.columns if x not in cols],
                _explode(zipped).alias("__z__"),
            ).select(
                *[F.col(x) for x in df.columns if x not in cols],
                *[F.col(f"__z__.{c}").alias(c) for c in cols],
            )
        # a deferred scan contract survives: explode is projection-only, so
        # (file, block, read-position) still orders rows — source file order
        # first, within-list generation order second (the polars explode order)
        return LazyFrame(df, [], deferred=self._deferred_order)

    def unnest(self, *columns, separator: str | None = None) -> "LazyFrame":
        cols = []
        for c in _flatten(columns):
            if getattr(c, "_selector", None) is not None:
                from polars_spark.selectors import expand_names

                cols.extend(expand_names(c, self.schema))
            else:
                cols.append(c)
        out = []
        for c in self._df.columns:
            if c in cols:
                if separator is not None:
                    # prefixed field names (reference unnest separator)
                    for f in self._df.schema[c].dataType.names:
                        out.append(F.col(f"`{c}`.`{f}`").alias(f"{c}{separator}{f}"))
                else:
                    out.append(F.col(f"{c}.*"))
            else:
                out.append(F.col(c))
        return LazyFrame(self._df.select(*out), self._order, deferred=self._deferred_order)


    def _names_of(self, items) -> list[str]:
        """Column names from strings / Exprs (root column) / selectors."""
        out: list[str] = []
        for it in _flatten([items]):
            if it is None:
                continue
            if isinstance(it, str):
                out.append(it)
            elif getattr(it, "_selector", None) is not None:
                from polars_spark.selectors import expand_names

                out.extend(expand_names(it, self.schema))
            elif hasattr(it, "_name"):
                out.append(it._name)
            else:
                out.append(str(it))
        return out

    def unpivot(
        self,
        on: Sequence[str] | str | None = None,
        *,
        index: Sequence[str] | str | None = None,
        variable_name: str = "variable",
        value_name: str = "value",
    ) -> "LazyFrame":
        idx = self._names_of(index)
        vals = self._names_of(on) or [c for c in self.columns if c not in idx]
        sdf = self.to_spark()
        kinds = {self.schema[c] for c in vals}
        if len(kinds) > 1:
            # polars casts mixed value columns to their supertype
            # (numeric mix -> double, anything else -> string)
            numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}
            target = "double" if kinds <= numeric else "string"
            sdf = sdf.withColumns({c: F.col(c).cast(target) for c in vals})
        df = sdf.unpivot(idx, vals, variable_name, value_name)
        return LazyFrame(df, [])

    def melt(
        self,
        id_vars=None,
        value_vars=None,
        variable_name: str = "variable",
        value_name: str = "value",
        *,
        on=None,
        index=None,
    ) -> "LazyFrame":
        """Pre-1.0 unpivot name, keeping its old id_vars/value_vars
        parameter names (reference melt -> unpivot rename)."""
        return self.unpivot(
            on if on is not None else value_vars,
            index=index if index is not None else id_vars,
            variable_name=variable_name,
            value_name=value_name,
        )

    def _broadcast_op(self, other, op_name: str, reverse: bool = False) -> "LazyFrame":
        """Frame (op) scalar: apply elementwise to EVERY column (eager
        polars frame arithmetic).  Frame (op) frame is positional in
        polars — unsupported here (no stable cheap row pairing at scale);
        use a join + expression instead."""
        if isinstance(other, LazyFrame):
            # frame (op) frame is positional in polars.  With a DEFINED row
            # order on both sides (sort contract or driver-ingested index)
            # the pairing is a row-index equi-join — one co-partitioned
            # shuffle; without one there is no stable cheap pairing at
            # scale, so it stays an error.
            if reverse:
                return other._broadcast_op(self, op_name)
            if (self._order or ROW_IDX in self._df.columns) and (
                other._order or ROW_IDX in other._df.columns
            ):
                import operator as _op

                lcols = [c for c in self.columns if c != ROW_IDX]
                rcols_n = [c for c in other.columns if c != ROW_IDX]
                if len(lcols) != len(rcols_n):
                    msg = (
                        f"frame {op_name} frame: width mismatch "
                        f"({len(lcols)} vs {len(rcols_n)} columns)"
                    )
                    raise ValueError(msg)
                op = getattr(_op, op_name)
                li = self.with_row_index("__fpos__")._df.withColumn("__lp__", F.lit(1))
                ri = other.with_row_index("__fpos__")._df
                rcols = [c for c in ri.columns if c not in ("__fpos__", ROW_IDX)]
                ri = ri.select(
                    "__fpos__", F.lit(1).alias("__rp__"),
                    *[F.col(c).alias(f"__r{i}__") for i, c in enumerate(rcols)],
                )
                li = li.drop(ROW_IDX) if ROW_IDX in li.columns else li
                # FULL join with presence markers: a position present on
                # only one side is a height mismatch — polars raises
                # ShapeError; raise_error keeps the check distributed
                # (no extra count jobs) and free when heights agree
                joined = li.join(ri, "__fpos__", "full")
                mism = F.when(
                    F.col("__lp__").isNull() | F.col("__rp__").isNull(),
                    F.raise_error(
                        F.lit(f"frame {op_name} frame: height mismatch between the two frames")
                    ),
                )
                out = joined.select(
                    F.coalesce(mism, F.col("__fpos__")).alias(ROW_IDX),
                    *[
                        op(F.col(c), F.col(f"__r{i}__")).alias(c)
                        for i, c in enumerate(lcols)
                    ],
                )
                return LazyFrame(out, [(ROW_IDX, False)])
            raise TypeError(
                f"frame {op_name} frame is positional in polars; on Spark, "
                "join on a key and use column expressions instead (or sort "
                "both frames first to establish a row order)"
            )
        import operator

        from polars_spark.plans.expr import col as _colfn, lit as _litfn

        op = getattr(operator, op_name)
        o = _litfn(other)
        return self.select(
            *[
                (op(o, _colfn(c)) if reverse else op(_colfn(c), o)).alias(c)
                for c in self.columns
            ]
        )

    def __mul__(self, other) -> "LazyFrame":
        return self._broadcast_op(other, "mul")

    def __rmul__(self, other) -> "LazyFrame":
        return self._broadcast_op(other, "mul")

    def __add__(self, other) -> "LazyFrame":
        return self._broadcast_op(other, "add")

    def __sub__(self, other) -> "LazyFrame":
        return self._broadcast_op(other, "sub")

    def __rsub__(self, other) -> "LazyFrame":
        return self._broadcast_op(other, "sub", reverse=True)

    def __truediv__(self, other) -> "LazyFrame":
        return self._broadcast_op(other, "truediv")

    def __rtruediv__(self, other) -> "LazyFrame":
        return self._broadcast_op(other, "truediv", reverse=True)

    def __floordiv__(self, other) -> "LazyFrame":
        return self._broadcast_op(other, "floordiv")

    def __mod__(self, other) -> "LazyFrame":
        return self._broadcast_op(other, "mod")

    def pivot(
        self,
        on: str,
        on_columns: Sequence | None = None,
        *,
        index: Sequence[str] | str | None = None,
        values: Sequence[str] | str | None = None,
        aggregate_function: str = "first",
        sort_columns: bool = False,
        maintain_order: bool = True,
        separator: str = "_",
        column_naming: str = "auto",
    ) -> "LazyFrame":
        """Wide pivot (DslPlan::Pivot, dsl/plan.rs:117) — Spark-native
        groupBy().pivot(); distinct `on` values are collected by Spark
        unless ``on_columns`` names them explicitly (which also skips
        Spark's distinct-values job — the reference's subset-pivot)."""
        on_cols = [on] if isinstance(on, str) else list(on)
        # reference defaulting (dataframe/frame.py pivot): omitted index =
        # all columns not in on/values; omitted values = the remainder
        if index is None and values is None:
            msg = "pivot: at least one of `index` and `values` must be given"
            raise ValueError(msg)
        idx = self._resolve_name_selector(index) if index is not None else None
        vals = self._resolve_name_selector(values) if values is not None else None
        if vals is None:
            vals = [c for c in self.columns if c not in set(on_cols) | set(idx)]
        if idx is None:
            idx = [c for c in self.columns if c not in set(on_cols) | set(vals)]
        if isinstance(aggregate_function, Expr):
            # an expression over pl.element() (reference pivot custom agg):
            # element() binds to the pivoted value column, the reduction
            # resolves in grouped context
            agg_expr = aggregate_function

            def aggf(v):
                from polars_spark.plans.namespaces import _ElementContext

                sub = _ElementContext(
                    ExprContext(self._df, grouped=True),
                    F.col(v) if isinstance(v, str) else v,
                )
                return agg_expr._resolve(sub)
        else:
            aggf = {
                "first": F.first,
                "last": F.last,
                "sum": F.sum,
                "min": F.min,
                "max": F.max,
                "mean": F.mean,
                "median": F.median,
                "count": F.count,
                "len": F.count,
            }[aggregate_function]
        base = self.to_spark().groupBy(*idx)
        gp = base.pivot(on, list(on_columns)) if on_columns is not None else base.pivot(on)
        if len(vals) == 1:
            df = gp.agg(aggf(vals[0]))
        else:
            df = gp.agg(*[aggf(v).alias(v) for v in vals])
        return LazyFrame(df, [])

    # -- frame-level reductions / conveniences (reference lazyframe/frame.py) --

    _NUMERIC_T = ("tinyint", "smallint", "int", "bigint", "float", "double")

    def _frame_agg(self, fn, *, numeric_only: bool = False) -> "LazyFrame":
        cols = [
            fn(c).alias(c)
            for c, t in self.schema.items()
            if not numeric_only or t in self._NUMERIC_T
        ]
        return LazyFrame(self._df.agg(*cols), [])

    def sum(self) -> "LazyFrame":
        return self._frame_agg(F.sum, numeric_only=True)

    def min(self) -> "LazyFrame":
        return self._frame_agg(F.min)

    def max(self) -> "LazyFrame":
        return self._frame_agg(F.max)

    def mean(self) -> "LazyFrame":
        return self._frame_agg(F.mean, numeric_only=True)

    def median(self) -> "LazyFrame":
        return self._frame_agg(F.median, numeric_only=True)

    def std(self, ddof: int = 1) -> "LazyFrame":
        f = F.stddev_samp if ddof == 1 else F.stddev_pop
        return self._frame_agg(f, numeric_only=True)

    def var(self, ddof: int = 1) -> "LazyFrame":
        f = F.var_samp if ddof == 1 else F.var_pop
        return self._frame_agg(f, numeric_only=True)

    def quantile(self, q: float, interpolation: str = "nearest") -> "LazyFrame":
        """Frame-level quantile per numeric column.  Routes through
        Expr.quantile so all six reference interpolation modes apply
        (default 'nearest' — the reference frame default, NOT 'linear');
        the old lowering ignored the parameter entirely."""
        from polars_spark.plans.expr import col as _col

        exprs = [
            _col(c).quantile(q, interpolation).alias(c)
            for c, t in self.schema.items()
            if t in self._NUMERIC_T
        ]
        return self.select(*exprs)

    def null_count(self) -> "LazyFrame":
        return self._frame_agg(lambda c: F.sum(F.col(c).isNull().cast("bigint")))

    def approx_n_unique(self) -> "LazyFrame":
        return self._frame_agg(F.approx_count_distinct)

    def top_k(self, k: int, *, by, descending: bool = False) -> "LazyFrame":
        """k rows with the largest `by` — sort+limit fuses into Spark's
        TakeOrderedAndProject (no global sort materialization)."""
        bys = by if isinstance(by, (list, tuple)) else [by]
        descs = descending if isinstance(descending, (list, tuple)) else [descending] * len(bys)
        # polars top_k: LARGEST first => sort descending (unless descending flips it)
        return self.sort(*bys, descending=[not d for d in descs]).limit(k)

    def bottom_k(self, k: int, *, by, descending: bool = False) -> "LazyFrame":
        bys = by if isinstance(by, (list, tuple)) else [by]
        descs = descending if isinstance(descending, (list, tuple)) else [descending] * len(bys)
        return self.sort(*bys, descending=list(descs)).limit(k)

    def shift(self, n: int = 1, *, fill_value=None) -> "LazyFrame":
        """Shift every column by n over the frame order."""
        exprs = []
        from polars_spark.plans.expr import col as _col

        for c in self.columns:
            e = _col(c).shift(n, fill_value) if fill_value is not None else _col(c).shift(n)
            exprs.append(e.alias(c))
        return self.with_columns(*exprs)

    def interpolate(self) -> "LazyFrame":
        from polars_spark.plans.expr import col as _col

        return self.with_columns(
            *[_col(c).interpolate().alias(c) for c, t in self.schema.items() if t in self._NUMERIC_T]
        )

    def clear(self, n: int = 0) -> "LazyFrame":
        """Empty (or n-null-row) frame with this schema."""
        if n == 0:
            return LazyFrame(self._df.filter(F.lit(False)), self._order)
        spark = self._df.sparkSession
        nulls = spark.range(n).select(
            *[F.lit(None).cast(t).alias(c) for c, t in zip(self._df.columns, [f.dataType for f in self._df.schema])]
        )
        return LazyFrame(nulls, [])

    def clone(self) -> "LazyFrame":
        return LazyFrame(self._df, self._order)

    def pipe(self, function, *args, **kwargs):
        return function(self, *args, **kwargs)

    def pipe_with_schema(self, function) -> "LazyFrame":
        """Pipe with the resolved schema as the second argument (reference:
        py-polars lazyframe/frame.py pipe_with_schema).  Spark resolves the
        schema at plan-construction time without executing, so "during the
        plan stage" and "now" coincide here — the callable runs immediately
        with the already-resolved schema."""
        return function(self, self.collect_schema())

    def serialize(self, file=None, *, format: str = "binary"):
        """Serialize the frame (reference: py-polars lazyframe/frame.py
        serialize).

        ``format='binary'`` (the reference default) round-trips the LOGICAL
        PLAN: every frame whose history is built from the journaled DslPlan
        surface (scan_*/constructor + select/filter/group_by.agg/join/sort/
        ... — _JOURNALED_METHODS) ships its op journal, and ``deserialize``
        replays it against the live session WITHOUT executing — collect
        after deserialize hits Spark, like the reference's polars-cloud
        idiom (py-polars lazyframe/frame.py serialize; rust polars-plan
        serde).  Frames whose history crossed an unjournaled op fall back to
        the result-snapshot payload (schema + rows; executes now —
        documented).  ``format='json'`` emits the resolved Catalyst logical
        plan as JSON — diagnostics only, NOT reconstructable (like polars,
        neither form is stable across engine versions)."""
        if format not in ("json", "binary"):
            raise ValueError("format must be 'json' or 'binary'")
        if format == "binary":
            import pickle

            payload = None
            if self._journal is not None:
                from pyspark import cloudpickle

                try:
                    payload = cloudpickle.dumps(
                        {"__polars_spark_plan__": 1, "journal": self._journal}
                    )
                except Exception:
                    payload = None  # unpicklable arg in a step -> snapshot
            if payload is None:
                payload = pickle.dumps(
                    {
                        "__polars_spark_frame__": 1,
                        "ddl": ", ".join(f"`{c}` {t}" for c, t in self.schema.items()),
                        "rows": self.rows(),
                    }
                )
        else:
            payload = self._df._jdf.queryExecution().logical().toJSON()
        if file is None:
            return payload
        if hasattr(file, "write"):
            file.write(payload)
            return None
        mode = "wb" if format == "binary" else "w"
        with open(file, mode) as fh:
            fh.write(payload)
        return None

    @classmethod
    def deserialize(cls, source, *, format: str = "binary"):
        """Rebuild a frame from ``serialize(format='binary')`` output
        (bytes, a file-like, or a path).  JSON plans are diagnostics only:
        Catalyst has no public plan-from-JSON constructor, so that form
        still raises the documented error.

        .. warning::
            The binary payload is a pickle — loading it executes code.
            Only deserialize payloads you produced yourself; never feed
            untrusted bytes to this function (same trust rule as the
            reference's serialized-plan warning, but stronger here)."""
        import os
        import pickle

        if hasattr(source, "read"):
            source = source.read()
        if isinstance(source, str):
            if os.path.exists(source):
                with open(source, "rb") as fh:
                    source = fh.read()
            else:
                # a JSON plan string: diagnostics-only, not reconstructable
                raise NotImplementedError(
                    "LazyFrame.deserialize: Spark has no public API to "
                    "reconstruct a DataFrame from a serialized JSON logical "
                    "plan; use serialize(format='binary') for round-trips"
                )
        data = pickle.loads(source)
        if isinstance(data, dict) and "__polars_spark_plan__" in data:
            # plan payload: replay the op journal against the live session —
            # nothing executes here; collect() after this hits Spark
            return _replay_journal(data["journal"])
        if not isinstance(data, dict) or "__polars_spark_frame__" not in data:
            raise ValueError("deserialize: not a polars_spark binary frame payload")
        from polars_spark.session import get_spark

        spark = SparkSession.getActiveSession() or get_spark()
        sdf = spark.createDataFrame(data["rows"] or [], schema=data["ddl"])
        out = LazyFrame(sdf)
        return LazyFrame(out.with_row_index(ROW_IDX)._df, [(ROW_IDX, False)])

    def execute(self, *, optimizations=None, engine="auto", **_kwargs):
        """Execute into a QueryResult (reference lazyframe/frame.py
        LazyFrame.execute).  The Spark result stays distributed; the
        QueryResult exposes ``head``, ``n_rows_total`` and ``lazy()``
        without collecting the full frame to the driver."""
        return _QueryResult(self)

    def remote(self, context=None, **_kwargs):
        """Polars Cloud dispatch has no Spark-local analogue — the Spark
        equivalent of "run remotely" is submitting this same plan through
        spark-submit / Spark Connect to a cluster master."""
        raise NotImplementedError(
            "LazyFrame.remote targets Polars Cloud; on Spark, point the "
            "SparkSession at a cluster master (or Spark Connect) instead"
        )

    def is_sorted(
        self,
        by,
        *more_by,
        descending=False,
        nulls_last=False,
    ) -> bool:
        """Whether the frame (in frame order) is sorted by the given columns
        (reference dataframe/frame.py DataFrame.is_sorted).

        Lowered through the windowed-scalar prep like Expr.is_sorted: one
        lag pass computes a per-row lexicographic comparison against the
        previous row, a single aggregate ANDs them, and only ONE row is
        collected — no driver-side materialization of the data."""
        from polars_spark.plans.expr import Expr

        names = list(self._resolve_name_selector(by)) + [
            n for m in more_by for n in self._resolve_name_selector(m)
        ]
        k = len(names)
        desc = [descending] * k if isinstance(descending, bool) else list(descending)
        nlast = [nulls_last] * k if isinstance(nulls_last, bool) else list(nulls_last)
        if len(desc) != k or len(nlast) != k:
            raise ValueError("descending/nulls_last length must match number of columns")

        def fn(ctx) -> Column:
            w = ctx.order_window()
            first = F.lag(F.lit(1)).over(w)
            cmps = []
            for nme, d, nl in zip(names, desc, nlast):
                c = F.col(nme)
                p = F.lag(c).over(w)
                # 3-way compare of (prev, cur) with polars null placement:
                # null is smallest unless nulls_last
                base = (
                    F.when(p.isNull() & c.isNull(), F.lit(0))
                    .when(p.isNull(), F.lit(-1 if nl else 1))
                    .when(c.isNull(), F.lit(1 if nl else -1))
                    .when(c > p, F.lit(1))
                    .when(c < p, F.lit(-1))
                    .otherwise(F.lit(0))
                )
                if d:
                    base = -base
                cmps.append(F.nullif(base, F.lit(0)))
            lex = F.coalesce(*cmps, F.lit(0)) if cmps else F.lit(0)
            step = F.when(first.isNull(), F.lit(True)).otherwise(lex >= 0)
            name = f"__wscalar_{len(ctx.preps)}__"
            ctx.preps.append((name, step, F.min))
            return F.col(name)

        pdf = self.select(Expr(fn, "__issorted").alias("__issorted")).head(1).collect()
        return True if pdf.empty else bool(pdf["__issorted"].iloc[0])

    def select_seq(self, *exprs, **named) -> "LazyFrame":
        return self.select(*exprs, **named)

    def fetch(self, n_rows: int = 500):
        return self.limit(n_rows).collect()

    def collect_async(self):
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=1)
        try:
            return pool.submit(self.collect)
        finally:
            pool.shutdown(wait=False)

    def show(self, n: int | None = None) -> None:
        if n is None:
            from polars_spark.config import get_option

            n = int(get_option("tbl_rows", 5) or 5)
        print(self.limit(n).collect().to_string(index=False))

    def show_graph(self, **_) -> str:
        """Physical plan string (Spark's equivalent of the polars plan
        graph)."""
        return self._df._jdf.queryExecution().executedPlan().toString()

    def inspect(self, fmt: str = "{}") -> "LazyFrame":
        """Print the frame head as a side effect and pass the frame through
        (divergence: triggers a small job; polars inspects mid-stream)."""
        print(fmt.format(self.limit(5).collect()))
        return self

    def with_row_count(self, name: str = "row_nr", offset: int = 0) -> "LazyFrame":
        """Deprecated polars alias of with_row_index."""
        return self.with_row_index(name=name, offset=offset)

    def update(self, other: "LazyFrame", on=None, how: str = "left", *,
               left_on=None, right_on=None, include_nulls: bool = False,
               maintain_order: str | None = "left") -> "LazyFrame":
        """Overwrite values with non-null values from `other`, polars
        LazyFrame.update (dataframe/frame.py:12801): join on the key and
        coalesce(right, left) for the shared non-key columns.  With no key
        the frames align BY ROW POSITION (the reference's implicit
        row-index join); ``left_on``/``right_on`` join differently-named
        keys."""
        if on is None and left_on is None and right_on is None:
            # positional update: join on the row index of both frames
            lkey = "__u_pos__"
            left = self.with_row_index(lkey)
            right_f = other.with_row_index(lkey)
            out = left.update(right_f, on=lkey, how=how, include_nulls=include_nulls)
            return out.drop(lkey)
        if left_on is not None or right_on is not None:
            lo = [left_on] if isinstance(left_on, str) else list(left_on or [])
            ro = [right_on] if isinstance(right_on, str) else list(right_on or [])
            ren = dict(zip(ro, lo))
            return self.update(
                other.rename(ren), on=lo, how=how, include_nulls=include_nulls
            )
        keys = [on] if isinstance(on, str) else list(on or [])
        shared = [c for c in other.columns if c in self.columns and c not in keys]
        right = other._df.select(
            *keys, F.lit(True).alias("__u_match"), *[F.col(c).alias(f"__u_{c}") for c in shared]
        )
        joined = self._df.join(right, keys, "inner" if how == "inner" else ("full" if how == "full" else "left"))
        out_cols = []
        for c in self.columns:
            if c in shared:
                upd = F.col(f"__u_{c}")
                if include_nulls:
                    # a matched row takes other's value even when null;
                    # unmatched rows keep their own
                    val = F.when(F.col("__u_match"), upd).otherwise(F.col(c))
                else:
                    val = F.coalesce(upd, F.col(c))
                out_cols.append(val.alias(c))
            else:
                out_cols.append(F.col(c))
        return LazyFrame(joined.select(*out_cols), self._order)

    def sink_batches(self, callback, *, batch_size: int = 10000) -> None:
        """Stream result batches to a callback (reference sink_batches) —
        driver-side iteration over Arrow batches."""
        for batch in self.collect_batches(batch_size=batch_size):
            callback(batch)

    def sink_ipc(self, path: str) -> None:
        """Arrow IPC (feather-v2) sink.

        A path WITHOUT an ipc extension is treated as a directory and
        written DISTRIBUTED: every executor streams its partition's Arrow
        batches into its own shard file via mapInArrow — no data crosses
        the driver, so the sink scales like any native format (and
        scan_ipc reads the shard directory back one-partition-per-file).
        An explicit ``*.arrow`` / ``*.feather`` / ``*.ipc`` path keeps
        polars' single-file semantics (driver-side, small results)."""
        path = str(path) if path is not None else None
        import pyarrow as pa
        import pyarrow.feather as feather

        if path.rsplit(".", 1)[-1].lower() in ("arrow", "feather", "ipc"):
            feather.write_feather(pa.Table.from_pandas(self.collect()), path)
            return
        import os
        import uuid

        os.makedirs(path, exist_ok=True)
        df = self.to_spark()

        def write_partition(batches):
            writer = None
            fname = os.path.join(path, f"part-{uuid.uuid4().hex}.arrow")
            n = 0
            for batch in batches:
                if writer is None:
                    writer = pa.ipc.new_file(fname, batch.schema)
                writer.write_batch(batch)
                n += batch.num_rows
            if writer is not None:
                writer.close()
            yield pa.RecordBatch.from_pylist([{"rows": n}])

        df.mapInArrow(write_partition, "rows long").agg(F.sum("rows")).collect()

    def sink_delta(self, path: str, *, mode: str = "error") -> None:
        """Delta sink via the Spark connector (jar-gated like scan_delta)."""
        path = str(path) if path is not None else None
        try:
            self._df.write.format("delta").mode(mode).save(path)
        except Exception as exc:
            raise NotImplementedError(
                "delta-spark jar not on the classpath (set SPARK_GRAFT_PACKAGES)"
            ) from exc

    def sink_iceberg(self, table: str, *, mode: str = "error") -> None:
        try:
            w = self._df.writeTo(table)
            w.createOrReplace() if mode == "overwrite" else w.create()
        except Exception as exc:
            raise NotImplementedError(
                "iceberg runtime jar not on the classpath (set SPARK_GRAFT_PACKAGES)"
            ) from exc

    # -- eager-DataFrame drop-in surface (reference dataframe/frame.py):
    # write_* aliases of the sinks, shape/height/to_pandas conveniences ------

    # -- Spark-native scale management (beyond polars: partitioning, join
    # hints, lineage checkpoints — the knobs a 100 TB job actually needs) ---

    def repartition(self, n: int | None = None, *cols: str) -> "LazyFrame":
        """Exchange to n partitions (hash-partitioned by cols when given) —
        use before wide joins to co-locate keys or after explosive
        operators to rebalance."""
        if cols:
            df = self._df.repartition(n, *cols) if n else self._df.repartition(*cols)
        else:
            df = self._df.repartition(n)
        return LazyFrame(df, self._order)

    def coalesce_partitions(self, n: int) -> "LazyFrame":
        """Reduce partition count WITHOUT a shuffle (narrow) — right-size
        output files before a sink."""
        return LazyFrame(self._df.coalesce(n), self._order)

    def hint(self, name: str, *params) -> "LazyFrame":
        """Join-strategy hint (broadcast/merge/shuffle_hash/
        shuffle_replicate_nl) on this side of a subsequent join."""
        return LazyFrame(self._df.hint(name, *params), self._order)

    def persist(self, storage_level: str = "MEMORY_AND_DISK") -> "LazyFrame":
        from pyspark import StorageLevel

        return LazyFrame(self._df.persist(getattr(StorageLevel, storage_level)), self._order)

    def unpersist(self) -> "LazyFrame":
        return LazyFrame(self._df.unpersist(), self._order)

    def checkpoint(self, *, eager: bool = True) -> "LazyFrame":
        """Truncate lineage via localCheckpoint — essential inside iterative
        algorithms (see llm.connected_components) where the plan would
        otherwise grow per round."""
        return LazyFrame(self._df.localCheckpoint(eager=eager), self._order)

    def num_partitions(self) -> int:
        return self._df.rdd.getNumPartitions()

    def write_parquet(self, path: str, **kw) -> None:
        path = str(path) if path is not None else None
        self.sink_parquet(path, **kw)

    def write_csv(self, path: str | None = None, *, separator: str = ",", include_header: bool = True, **kw):
        """With no path, return the CSV as a string (polars write_csv()
        string mode — driver-side by definition); with a path, distributed
        sink_csv."""
        path = str(path) if path is not None else None
        if path is None:
            return self.collect().to_csv(index=False, sep=separator, header=include_header)
        self.sink_csv(path, separator=separator, include_header=include_header, **kw)
        return None

    def write_ndjson(self, path: str | None = None, **kw):
        path = str(path) if path is not None else None
        if path is None:
            return self.collect().to_json(orient="records", lines=True)
        self.sink_ndjson(path, **kw)
        return None

    def write_json(self, path: str | None = None, **kw):
        path = str(path) if path is not None else None
        if path is None:
            return self.collect().to_json(orient="records")
        self.sink_ndjson(path, **kw)
        return None

    def write_ipc(self, path=None, *, file=None, **kw):
        """path/file=None returns the IPC payload as bytes (reference
        write_ipc buffer mode)."""
        target = path if path is not None else file
        if target is None:
            import io as _io

            import pyarrow as pa
            import pyarrow.feather as feather

            buf = _io.BytesIO()
            feather.write_feather(pa.Table.from_pandas(self.collect()), buf)
            # reference buffer mode returns the BytesIO itself, positioned
            # at the end of the written data (callers seek(0) to read)
            return buf
        self.sink_ipc(str(target))
        return None

    def write_ipc_stream(self, path=None, *, file=None, **kw):
        return self.write_ipc(path, file=file, **kw)

    def write_delta(self, path: str, *, mode: str = "error") -> None:
        path = str(path) if path is not None else None
        self.sink_delta(path, mode=mode)

    def write_iceberg(self, table: str, *, mode: str = "error") -> None:
        self.sink_iceberg(table, mode=mode)

    def write_excel(self, workbook: str, *, worksheet: str = "Sheet1") -> None:
        """polars DataFrame.write_excel: driver-side openpyxl bridge (a
        single xlsx is inherently a driver artifact, same trade as
        read_excel — the query before it still runs distributed)."""
        try:
            import openpyxl  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "write_excel needs openpyxl (not in this image)"
            ) from exc
        self.to_pandas().to_excel(
            workbook, sheet_name=worksheet, index=False, engine="openpyxl"
        )

    def write_avro(self, path: str, *, mode: str = "overwrite") -> None:
        """Avro sink via the Spark connector (jar-gated like read_avro)."""
        path = str(path) if path is not None else None
        try:
            self._df.write.format("avro").mode(mode).save(path)
        except Exception as exc:
            raise NotImplementedError(
                "spark-avro jar not on the classpath (set SPARK_GRAFT_PACKAGES)"
            ) from exc

    def write_database(self, table_name: str, connection: str, *, if_table_exists: str = "fail") -> None:
        """JDBC sink (jar-gated like read_database)."""
        try:
            mode = {"fail": "errorifexists", "replace": "overwrite", "append": "append"}[if_table_exists]
            self._df.write.mode(mode).jdbc(connection, table_name)
        except KeyError:
            raise ValueError(f"if_table_exists={if_table_exists!r}")
        except Exception as exc:
            raise NotImplementedError("no JDBC driver on the classpath") from exc

    @property
    def height(self) -> int:
        """Row count (triggers a count job, like eager polars materializes)."""
        return _count(self._df, "height:rows")

    @property
    def shape(self) -> tuple:
        return (self.height, self.width)

    def is_empty(self) -> bool:
        return self._df.isEmpty()

    def to_pandas(self, *, use_pyarrow_extension_array: bool = False, **kwargs):
        if use_pyarrow_extension_array:
            import pyarrow as pa

            return pa.Table.from_pandas(self.collect()).to_pandas(
                types_mapper=__import__("pandas").ArrowDtype
            )
        return self.collect()

    def to_dict(self, *, as_series: bool = False) -> dict:
        cols = self.columns
        data: dict[str, list] = {c: [] for c in cols}
        for r in self._collect_rows():
            for c, v in zip(cols, r):
                data[c].append(_py_value(v))
        if as_series:
            from polars_spark.series import Series

            return {c: Series(c, vs) for c, vs in data.items()}
        return data

    def to_numpy(self, *, structured: bool = False, order: str = "fortran", writable: bool = False, **kwargs):
        pdf = self.collect()
        if structured:
            return pdf.to_records(index=False)
        out = pdf.to_numpy()
        if order == "c":
            import numpy as _np

            out = _np.ascontiguousarray(out)
        if writable and not out.flags.writeable:
            out = out.copy()
        return out

    def to_series(self, index: int = 0):
        name = self.columns[index]
        return self.select(name).get_column(name)

    def get_column(self, name: str, *, default=_NO_DEFAULT):
        from polars_spark.series import Series

        if name not in self.columns:
            if default is not _NO_DEFAULT:
                return default
            from polars_spark.exceptions import ColumnNotFoundError

            raise ColumnNotFoundError(name)
        i = self.columns.index(name)
        return Series(name, [_py_value(r[i]) for r in self._collect_rows()])

    def get_column_index(self, name: str) -> int:
        return self.columns.index(name)

    def get_columns(self):
        from polars_spark.series import Series

        cols = self.columns
        rows = self._collect_rows()
        return [Series(c, [_py_value(r[i]) for r in rows]) for i, c in enumerate(cols)]

    def equals(self, other: "LazyFrame", *, null_equal: bool = True) -> bool:
        """Frame equality in frame order (collects both sides)."""
        a, b = self.collect(), other.collect()
        if list(a.columns) != list(b.columns) or len(a) != len(b):
            return False
        return a.reset_index(drop=True).equals(b.reset_index(drop=True))

    def n_unique(self, subset=None) -> int:
        if subset is None:
            return _count(self.to_spark().distinct(), "n_unique:rows")
        return self.unique(subset=subset).height

    def is_empty_frame(self) -> bool:
        return self.is_empty()

    def iter_rows(self, *, named: bool = False):
        """Iterate result rows (driver-side by definition — same as eager
        polars).  Streams partitions via toLocalIterator so only one
        partition is resident at a time; values are exact (ints stay ints,
        null is None — see _collect_rows)."""
        df = self._df
        if self._order:
            df = df.orderBy(*_order_cols(self._order))
        if ROW_IDX in df.columns:
            df = df.drop(ROW_IDX)
        for r in df.toLocalIterator():
            if named:
                yield {k: _py_value(v) for k, v in r.asDict().items()}
            else:
                yield tuple(_py_value(v) for v in r)

    def iter_slices(self, n_rows: int = 10000):
        """Yield frame slices (reference iter_slices yields DataFrames —
        each batch re-wraps as a frame so .to_arrow()/.select() work)."""
        from polars_spark.sources import from_pandas

        for pdf in self.collect_batches(batch_size=n_rows):
            yield from_pandas(pdf)

    def profile(self):
        """polars LazyFrame.profile(): run the query and return
        (result, profile) where profile has one row per PHYSICAL operator
        with its runtime metrics — here straight from Spark's executed
        plan (AQE stages unwrapped): output rows, the operator's time
        metric (aggTime/scanTime/pipelineTime, ms), and peak memory."""
        import pandas as pd

        # execute and walk the SAME DataFrame instance — metrics live on
        # the plan that actually ran
        df = self._df
        if self._order:
            df = df.orderBy(*_order_cols(self._order))
        if ROW_IDX in df.columns:
            df = df.drop(ROW_IDX)
        result = df.toPandas()
        plan = df._jdf.queryExecution().executedPlan()
        rows: list = []

        def walk(node, depth):
            name = node.nodeName()
            if name == "AdaptiveSparkPlan":
                walk(node.executedPlan(), depth)
                return
            if "QueryStage" in name:
                walk(node.plan(), depth)
                return
            m = node.metrics()
            it = m.iterator()
            mets = {}
            while it.hasNext():
                kv = it.next()
                mets[kv._1()] = kv._2().value()
            time_ms = next(
                (mets[k] for k in ("aggTime", "scanTime", "pipelineTime", "collectTime", "shuffleWriteTime") if k in mets),
                None,
            )
            rows.append(
                {
                    "depth": depth,
                    "node": name,
                    "rows_out": mets.get("numOutputRows"),
                    "time_ms": time_ms,
                    "peak_memory": mets.get("peakMemory"),
                }
            )
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i), depth + 1)

        try:
            walk(plan, 0)
        except Exception:  # pragma: no cover - py4j surface drift
            pass
        return result, pd.DataFrame(rows)

    def __getitem__(self, item):
        """polars DataFrame indexing (reference dataframe/frame.py
        __getitem__): ``df["a"]`` -> Series, ``df[["a","b"]]`` -> frame,
        ``df[i]`` -> row tuple, ``df[a:b:s]`` -> sliced frame,
        ``df[row, col]`` -> scalar / Series.  Row-returning forms are eager
        by definition (they are on the eager DataFrame in polars too)."""
        from polars_spark.series import Series

        if isinstance(item, str):
            return self.select(item).get_column(item)
        if isinstance(item, (list, tuple)) and item and all(
            isinstance(c, str) for c in item
        ):
            return self.select(*item)
        if isinstance(item, list) and item and all(isinstance(i, int) for i in item):
            idx = "__gi__"
            f = self.with_row_index(idx)
            out = f.filter(_col(idx).is_in(item)).drop(idx)
            return out
        if isinstance(item, int):
            return self.row(item)
        if isinstance(item, slice):
            start, stop, step = item.start or 0, item.stop, item.step
            if start < 0 or (stop is not None and stop < 0):
                n = self.height
                if start < 0:
                    start += n
                if stop is not None and stop < 0:
                    stop += n
            length = None if stop is None else max(0, stop - start)
            out = self.slice(start, length)
            if step and step != 1:
                out = out.gather_every(step)
            return out
        if isinstance(item, tuple) and len(item) == 2:
            rows_part, cols_part = item
            base = self if rows_part == slice(None) else self[rows_part]
            if isinstance(rows_part, int):
                # single row: base is a tuple already — recompute properly
                rec = self.row(rows_part, named=True)
                if isinstance(cols_part, str):
                    return rec[cols_part]
                if isinstance(cols_part, int):
                    return rec[self.columns[cols_part]]
                return {c: rec[c] for c in cols_part}
            if isinstance(cols_part, str):
                return base[cols_part]
            if isinstance(cols_part, int):
                return base[self.columns[cols_part]]
            if isinstance(cols_part, slice):
                if isinstance(cols_part.start, str) or isinstance(cols_part.stop, str):
                    # name-bounded column slice: df[:, "a":"c"] (inclusive)
                    cols = self.columns
                    i0 = cols.index(cols_part.start) if cols_part.start else 0
                    i1 = (cols.index(cols_part.stop) + 1) if cols_part.stop else None
                    return base.select(*cols[i0:i1:cols_part.step])
                return base.select(*self.columns[cols_part])
            cols = [
                self.columns[c] if isinstance(c, int) else c for c in cols_part
            ]
            return base.select(*cols)
        msg = f"cannot index a frame with {type(item).__name__!r}"
        raise TypeError(msg)

    def __setitem__(self, key, value) -> None:
        """polars DataFrame.__setitem__ (reference dataframe/frame.py:1450):
        ``df[["a","b"]] = 2D`` multi-column assign, ``df[row, col] = v``
        single-element assign; plain ``df["a"] = v`` raises TypeError like
        the reference (use with_columns).  Mutates this frame's plan in
        place (the facade is eager-styled; Spark stays lazy)."""
        if isinstance(key, str):
            msg = (
                "DataFrame object does not support `Series` assignment by index"
                "\n\nUse `DataFrame.with_columns`."
            )
            raise TypeError(msg)
        if isinstance(key, list) and key and all(isinstance(c, str) for c in key):
            from polars_spark.series import Series as _S

            rows = value.tolist() if hasattr(value, "tolist") else [list(r) for r in value]
            if rows and len(rows[0]) != len(key):
                msg = f"value has {len(rows[0])} columns, key names {len(key)}"
                raise ValueError(msg)
            new = self
            for i, name in enumerate(key):
                new = new._attach_series(name, _S(name, [r[i] for r in rows]))
            self._df, self._order = new._df, new._order
            return
        if isinstance(key, tuple) and len(key) == 2:
            row_idx, colk = key
            name = colk if isinstance(colk, str) else self.columns[colk]
            idx = "__si__"
            f = self.with_row_index(idx)
            sdf = f._df.withColumn(
                name,
                F.when(F.col(idx) == int(row_idx), F.lit(value)).otherwise(
                    F.col(name)
                ),
            ).drop(idx)
            self._df = sdf
            return
        msg = f"cannot assign to a frame with key {type(key).__name__!r}"
        raise TypeError(msg)

    def row(self, index: int | None = None, *, by_predicate=None, named: bool = False):
        """polars DataFrame.row: a single row as a tuple (or dict).  With
        ``by_predicate`` the filter runs distributed and exactly one match
        is required, like the reference."""
        if by_predicate is not None:
            rows = self.filter(by_predicate).rows(named=named)
            if len(rows) != 1:
                msg = f"predicate matched {len(rows)} rows (expected exactly 1)"
                raise ValueError(msg)
            return rows[0]
        if index is None:
            raise ValueError("row() needs an index or by_predicate")
        rows = self.slice(index, 1).rows(named=named)
        if not rows:
            raise IndexError(index)
        return rows[0]

    # -- eager-surface tail (reference dataframe/frame.py) -------------------

    def _ordered_for_series(self) -> "LazyFrame":
        """Frame with a guaranteed row order for Series-producing eager ops
        (scan order via the partition-offset row index when unordered)."""
        if self._order:
            return self
        return self.with_row_index("__sidx__")

    def _series_collect(self, expr, name: str = ""):
        """Evaluate one expression in frame order and wrap as a Series."""
        from polars_spark.series import Series

        f = self._ordered_for_series()
        out = f.select(expr.alias("__v__")).collect()
        return Series(name, out["__v__"].tolist())

    def corr(self, *, label: str | None = None, **kwargs) -> _pd.DataFrame:
        """polars DataFrame.corr (reference dataframe/frame.py corr):
        pairwise Pearson correlation matrix of the numeric columns —
        computed as one distributed aggregate (K^2 corr aggregates in a
        single pass), never via a driver-side matrix."""
        num = [
            c
            for c, t in self.schema.items()
            if t in ("tinyint", "smallint", "int", "bigint", "float", "double")
            or t.startswith("decimal")
        ]
        from polars_spark.functions import _safe_corr

        # _safe_corr, not F.corr: a zero-variance column would raise
        # Spark 4's ANSI DIVIDE_BY_ZERO.  Diagonal (a==a) entries are pinned
        # to exactly 1.0 — covar_samp(a,a)/std^2 can land 1.0±1ulp because
        # sqrt(var)^2 != var in floating point (round-8 ADVICE); semantics
        # match _safe_corr: n<2 -> null, zero variance -> NaN.
        def _diag(a: str):
            c = F.col(a).cast("double")
            cx = F.when(c.isNotNull(), c)
            sd = F.stddev_samp(cx)
            return F.when(sd == 0, F.lit(float("nan"))).otherwise(
                F.when(sd.isNotNull(), F.lit(1.0))
            )

        aggs = [
            (
                _diag(a)
                if a == b
                else _safe_corr(F.col(a).cast("double"), F.col(b).cast("double"))
            ).alias(f"{a}\x00{b}")
            for a in num
            for b in num
        ]
        row = self._df.agg(*aggs).collect()[0].asDict()
        data = {b: [row[f"{a}\x00{b}"] for a in num] for b in num}
        out = _pd.DataFrame(data, columns=num)
        if label is not None:
            out.insert(0, label, num)
        from polars_spark.sources import from_pandas

        return from_pandas(out)

    def drop_in_place(self, name: str):
        """Drop a column in place and return it as a (driver-local) Series."""
        s = self._series_collect(_col(name), name)
        self._df = self._df.drop(name)
        return s

    def extend(self, other: "LazyFrame") -> "LazyFrame":
        """Mutating vstack (reference frame.py extend — its realloc-avoiding
        rationale doesn't apply to Spark plans; semantically identical to
        vertical concat)."""
        self._df = self._df.unionByName(other._df.select(*self._df.columns))
        return self

    @property
    def flags(self) -> dict:
        """Per-column flags; only the frame's declared sort order is known
        plan-side (reference Series flags SORTED_ASC/SORTED_DESC)."""
        specs = {
            (o[0] if isinstance(o, tuple) else o): (
                bool(o[1]) if isinstance(o, tuple) else False
            )
            for o in self._order
        }
        return {
            c: {
                "SORTED_ASC": c in specs and not specs[c],
                "SORTED_DESC": c in specs and bool(specs[c]),
            }
            for c in self.columns
        }

    def hash_rows(self, seed: int = 0, seed_1=None, seed_2=None, seed_3=None):
        """Row hashes as a Series (reference frame.py hash_rows).  Uses
        xxhash64 over all columns; Spark's BIGINT is signed so values are
        the i64 reinterpretation of polars' u64 hash space, and (like the
        reference warns) values are not stable across engines."""
        seeds = [F.lit(s) for s in (seed, seed_1, seed_2, seed_3) if s is not None]
        return self._series_collect(
            Expr(lambda ctx: F.xxhash64(*seeds, *[F.col(c) for c in self.columns])),
            "",
        )

    def _lit_series_column(self, values: list) -> tuple["LazyFrame", Column]:
        """A column holding driver-local ``values`` aligned to frame order:
        an array literal indexed by the row position (for the small eager
        Series surfaces only — a big column belongs in a frame join)."""
        f = self.with_row_index("__ins__") if "__ins__" not in self.columns else self
        return f, F.get(F.lit(values), F.col("__ins__").cast("int"))

    def insert_column(self, index: int, column) -> "LazyFrame":
        """Insert a Series or Expr at a column position (mutating)."""
        from polars_spark.series import Series

        cols = list(self.columns)
        if index < 0:
            index += len(cols) + 1
        if isinstance(column, Series):
            f, c = self._lit_series_column(column.to_list())
            name = column.name or f"column_{index}"
            df = f._df.withColumn(name, c).drop("__ins__")
        else:
            e = _to_expr(column)
            name = e._name
            ctx = self._ctx()
            c = e._resolve(ctx)
            df = self._with_scalar_preps(ctx).withColumn(name, c)
        cols.insert(index, name)
        keep = [o[0] for o in self._order if o[0] == ROW_IDX]
        self._df = df.select(*cols, *keep)
        return self

    def replace_column(self, index: int, column) -> "LazyFrame":
        """Replace the column at ``index`` with a (driver-local) Series."""
        old = self.columns[index]
        cols = list(self.columns)
        new = column.name or old
        cols[index] = new
        f, c = self._lit_series_column(column.to_list())
        keep = [o[0] for o in self._order if o[0] == ROW_IDX]
        self._df = f._df.withColumn(new, c).select(*cols, *keep)
        return self

    def is_duplicated(self):
        """Boolean Series: row appears more than once (reference frame.py
        is_duplicated) — a window count over all columns, fully partitioned."""
        w = Window.partitionBy(*[F.col(c) for c in self.columns])
        return self._series_collect(
            Expr(lambda ctx: F.count(F.lit(1)).over(w) > 1), ""
        )

    def is_unique(self):
        """Boolean Series: row appears exactly once."""
        w = Window.partitionBy(*[F.col(c) for c in self.columns])
        return self._series_collect(
            Expr(lambda ctx: F.count(F.lit(1)).over(w) == 1), ""
        )

    def iter_columns(self):
        """Yield each column as a driver-local Series (eager; one collect)."""
        from polars_spark.series import Series

        pdf = self.collect()
        for c in pdf.columns:
            yield Series(c, pdf[c].tolist())

    def __iter__(self):
        """Eager-surface iteration: polars DataFrames iterate COLUMNS
        (each a Series) — without this, Python's legacy protocol walks
        __getitem__ and yields row tuples."""
        return self.iter_columns()

    def __contains__(self, key) -> bool:
        """polars: ``name in df`` tests COLUMN membership (never collects)."""
        return key in self.columns

    def map_columns(self, column_names, function, *args, **kwargs) -> "LazyFrame":
        """Apply ``function`` to each named column (reference frame.py
        map_columns).  The function is applied SYMBOLICALLY: it receives the
        column Expr (our Series mirrors the Expr surface, so idiomatic
        ``lambda s: s.str.json_decode()`` code works unchanged) and must
        return an Expr — keeping the transform distributed instead of
        collecting each column to the driver."""
        names = self._resolve_name_selector(column_names)
        outs = []
        for n in names:
            r = function(_col(n), *args, **kwargs)
            if not isinstance(r, Expr):
                msg = (
                    "map_columns function must return an expression "
                    f"(got {type(r).__name__}); Series-only transforms have "
                    "no distributed equivalent"
                )
                raise TypeError(msg)
            outs.append(r.alias(n))
        return self.with_columns(*outs)

    def _resolve_name_selector(self, column_names) -> list[str]:
        if getattr(column_names, "_selector", None) is not None:
            from polars_spark.selectors import expand_names

            return expand_names(column_names, self.schema)
        if isinstance(column_names, str):
            return [column_names]
        return list(column_names)

    def max_horizontal(self):
        """Row-wise max across all columns as a Series."""
        from polars_spark.functions import max_horizontal as _mh

        return self._series_collect(_mh(*[_col(c) for c in self.columns]), "max")

    def min_horizontal(self):
        from polars_spark.functions import min_horizontal as _mh

        return self._series_collect(_mh(*[_col(c) for c in self.columns]), "min")

    def sum_horizontal(self, *, ignore_nulls: bool = True):
        from polars_spark.functions import sum_horizontal as _sh

        return self._series_collect(
            _sh(*[_col(c) for c in self.columns], ignore_nulls=ignore_nulls), "sum"
        )

    def mean_horizontal(self, *, ignore_nulls: bool = True):
        from polars_spark.functions import mean_horizontal as _mh

        return self._series_collect(
            _mh(*[_col(c) for c in self.columns], ignore_nulls=ignore_nulls), "mean"
        )

    def rows_by_key(
        self,
        key,
        *,
        named: bool = False,
        include_key: bool = False,
        unique: bool = False,
    ) -> dict:
        """Rows grouped into a driver-side dict by key (reference frame.py
        rows_by_key — an eager convenience; the distributed form of this
        shape is group_by/partition_by)."""
        keys = self._resolve_name_selector(key)
        pdf = self.collect()
        out: dict = {}
        val_cols = [c for c in pdf.columns if include_key or c not in keys]
        for _, r in pdf.iterrows():
            k = tuple(r[c] for c in keys)
            k = k[0] if len(k) == 1 else k
            v = dict(r[val_cols]) if named else tuple(r[c] for c in val_cols)
            if unique:
                out[k] = v
            else:
                out.setdefault(k, []).append(v)
        return out

    def unstack(
        self,
        *,
        step: int,
        how: str = "vertical",
        columns=None,
        fill_values=None,
    ) -> "LazyFrame":
        """Long-to-wide reshape without aggregation (reference frame.py
        unstack): each source column splits into ``ceil(n/step)`` chunk
        columns of height ``step``.  Runs as a distributed pivot over the
        row position — the data never single-partitions."""
        import math

        f = self if columns is None else self.select(*self._resolve_name_selector(columns))
        names = f.columns
        n = _count(f._df, "unstack:rows")
        n_chunks = max(1, math.ceil(n / step))
        fi = f.with_row_index("__ui__")
        if how == "vertical":
            chunk = F.col("__ui__") / F.lit(step)
            pos = F.col("__ui__") % F.lit(step)
        else:  # horizontal: row-major fill
            chunk = F.col("__ui__") % F.lit(n_chunks)
            pos = F.col("__ui__") / F.lit(n_chunks)
        df = fi._df.withColumn("__chunk__", chunk.cast("int")).withColumn(
            "__pos__", pos.cast("int")
        )
        pivoted = (
            df.groupBy("__pos__")
            .pivot("__chunk__", list(range(n_chunks)))
            .agg(*[F.first(c).alias(c) for c in names])
        )
        # spark names multi-agg pivot columns "<chunk>_<col>" -> "<col>_<chunk>"
        sel = [F.col("__pos__")]
        out_names = []
        for c in names:
            for j in range(n_chunks):
                src = f"{j}_{c}" if len(names) > 1 else str(j)
                tgt = f"{c}_{j}"
                colref = F.col(f"`{src}`")
                if fill_values is not None:
                    fv = (
                        fill_values[names.index(c)]
                        if isinstance(fill_values, list)
                        else fill_values
                    )
                    if fv is not None:
                        colref = F.coalesce(colref, F.lit(fv))
                sel.append(colref.alias(tgt))
                out_names.append(tgt)
        out = pivoted.select(*sel)
        return self._keep_order_col(out, "__pos__")

    def _keep_order_col(self, df, name: str) -> "LazyFrame":
        """Order by a still-present physical column, dropped at collect."""
        renamed = df.withColumnRenamed(name, ROW_IDX)
        return LazyFrame(renamed, [(ROW_IDX, False)])

    @property
    def plot(self):
        """Altair plot namespace — ``df.plot.bar/line/point/scatter`` plus
        any ``mark_*`` via attribute access (reference dataframe/
        plotting.py:32).  Data side is the collected pandas frame: plotting
        is driver-side and human-scale by construction — aggregate or
        sample on the cluster FIRST, then plot the small result.  Raises
        the env-gated error when altair is absent (not in this image)."""
        from polars_spark.plotting import DataFramePlot, _altair

        _altair()  # gate BEFORE the collect: altair-less systems must not
        # pay a full materialization just to receive the import error
        return DataFramePlot(self.collect())

    def __dataframe__(self, nan_as_null: bool = False, allow_copy: bool = True):
        """DataFrame interchange protocol object (reference frame.py:1039
        __dataframe__) — delegates to the collected pandas frame's
        interchange implementation, so any protocol consumer
        (pandas.api.interchange.from_dataframe, plotly, vega) can ingest
        this frame without knowing about Spark."""
        if nan_as_null:
            msg = (
                "functionality for `nan_as_null` has not been implemented and the"
                " parameter will be removed in a future version"
                "\n\nUse the default `nan_as_null=False`."
            )
            raise NotImplementedError(msg)
        import pandas as _pd

        pdf = self.collect()
        if not isinstance(pdf, _pd.DataFrame):
            pdf = _pd.DataFrame(pdf)
        return pdf.__dataframe__(allow_copy=allow_copy)

    def style(self):  # pragma: no cover - env
        """reference frame.py style (great-tables bridge) — not in image."""
        try:
            from great_tables import GT
        except ImportError as exc:
            raise NotImplementedError("style needs the 'great-tables' package") from exc
        return GT(self.collect())

    def write_clipboard(self, **kwargs):  # pragma: no cover - env
        """reference io clipboard — no clipboard in a headless container."""
        try:
            self.collect().to_clipboard(**kwargs)
        except Exception as exc:
            raise NotImplementedError(
                "write_clipboard needs a clipboard-capable environment"
            ) from exc

    def to_torch(self, return_type: str = "tensor"):
        """polars DataFrame.to_torch — collected result as torch tensor(s);
        raises with the fix when torch is absent (not in this image)."""
        try:
            import torch
        except ImportError as exc:  # pragma: no cover - env
            raise NotImplementedError("to_torch needs the 'torch' package") from exc
        pdf = self.collect()
        if return_type == "dict":
            return {c: torch.as_tensor(pdf[c].to_numpy()) for c in pdf.columns}
        import numpy as np

        return torch.as_tensor(np.asarray(pdf.to_numpy(), dtype="float64"))

    def to_jax(self, return_type: str = "array"):
        """polars DataFrame.to_jax (jax absent from this image)."""
        try:
            import jax.numpy as jnp
        except ImportError as exc:  # pragma: no cover - env
            raise NotImplementedError("to_jax needs the 'jax' package") from exc
        pdf = self.collect()
        if return_type == "dict":
            return {c: jnp.asarray(pdf[c].to_numpy()) for c in pdf.columns}
        return jnp.asarray(pdf.to_numpy())

    def to_init_repr(self, n: int = 1000) -> str:
        """polars DataFrame.to_init_repr: python source that reconstructs
        the (head of the) frame."""
        pdf = self.limit(n).collect()
        cols = ",\n".join(
            f"        pl.Series({c!r}, {pdf[c].tolist()!r})" for c in pdf.columns
        )
        return f"pl.DataFrame(\n    [\n{cols},\n    ]\n)"

    def to_struct(self, name: str = ""):
        """-> a driver-local Series of structs (reference DataFrame.to_struct
        returns a Series); use .to_frame() to go back to the lazy form."""
        from polars_spark import functions as _fn
        from polars_spark.plans.expr import col as _col
        from polars_spark.series import Series

        nm = name or "struct"
        lf = self.select(_fn.struct(*[_col(c) for c in self.columns]).alias(nm))
        return Series(nm, [_py_value(r[0]) for r in lf._collect_rows()])

    def fold(self, operation):
        """Horizontal fold across columns -> Series named after the first
        column (reference DataFrame.fold).  One distributed projection."""
        from functools import reduce as _red

        from polars_spark.plans.expr import col as _col

        cols = self.columns
        out = _red(operation, [_col(c) for c in cols])
        return self.select(out.alias(cols[0])).to_series()

    def product(self) -> "LazyFrame":
        from polars_spark.plans.expr import col as _col

        return self.select(
            *[_col(c).product().alias(c) for c, t in self.schema.items() if t in self._NUMERIC_T]
        )

    def estimated_size(self, unit: str = "b"):
        """Planner size estimate from Spark statistics (no data scan)."""
        stats = self._df._jdf.queryExecution().optimizedPlan().stats()
        size = int(str(stats.sizeInBytes()))
        div = {"b": 1, "kb": 1024, "mb": 1024**2, "gb": 1024**3, "tb": 1024**4}[unit]
        return size / div if div > 1 else size

    def n_chunks(self, strategy: str = "first") -> int:
        """Partition count (Spark's analogue of chunk count)."""
        return self._df.rdd.getNumPartitions()

    def rechunk(self) -> "LazyFrame":
        """No-op at the API level: partition management is repartition()'s
        job, and Tungsten rows are not chunked arrays."""
        return self

    def shrink_to_fit(self) -> "LazyFrame":
        return self

    def collect_schema(self):
        """Schema without executing the query (reference: LazyFrame.
        collect_schema) — plan analysis only, no job runs."""
        return self.schema

    def glimpse(self, *, max_items_per_column: int = 10, return_as_string: bool = False,
                return_type: str | None = None, max_colname_length: int = 50):
        if return_type == "string":
            return_as_string = True
        """Transposed head preview (reference: DataFrame.glimpse): one line
        per column with dtype and the first values.  Reads ONE small batch
        (limit pushdown), never the full table."""
        pdf = self.limit(max_items_per_column).collect()
        lines = [f"Rows fetched: {len(pdf)}", f"Columns: {self.width}"]
        for c, t in self.schema.items():
            vals = ", ".join(repr(v) for v in pdf[c].tolist())
            lines.append(f"$ {c} <{t}> {vals}")
        out = "\n".join(lines)
        if return_as_string:
            return out
        print(out)
        return None

    def partition_by(
        self,
        *by,
        maintain_order: bool = True,
        include_key: bool = True,
        as_dict: bool = False,
    ):
        """Split into per-key frames (reference: DataFrame.partition_by,
        dataframe/frame.py:10059): a LIST of frames by default, a dict keyed
        by key TUPLES with ``as_dict=True``.

        The key set is collected at the driver (inherent to the API — the
        caller wants one handle per key); each value stays a LAZY filtered
        frame, so downstream work on a partition prunes at the scan instead
        of materializing everything the way eager polars does.  For
        unbounded key cardinality prefer ``sink_parquet(partition_by=...)``
        / ``group_by`` — this API is for a driver-manageable number of
        groups.  ``maintain_order`` lists groups by first appearance when
        the frame carries an order; otherwise by key."""
        keys = []
        for k in _flatten(by):
            if isinstance(k, str):
                keys.append(k)
            elif getattr(k, "_selector", None) is not None:
                from polars_spark.selectors import expand_names

                keys.extend(expand_names(k, self.schema))
            else:
                keys.append(k._name)
        if maintain_order and ROW_IDX in self._df.columns:
            ordered = (
                self._df.groupBy(*keys)
                .agg(F.min(ROW_IDX).alias("__first__"))
                .orderBy("__first__")
                .collect()
            )
        else:
            ordered = sorted(
                self._df.select(*keys).distinct().collect(),
                key=lambda r: tuple((v is None, v) for v in r),
            )
        pairs = []
        for row in ordered:
            kt = tuple(row[k] for k in keys)
            cond = None
            for k in keys:
                c = F.col(k).eqNullSafe(F.lit(row[k]))
                cond = c if cond is None else cond & c
            part = self._df.filter(cond)
            if not include_key:
                part = part.drop(*keys)
            pairs.append((kt, LazyFrame(part, self._order)))
        if as_dict:
            return dict(pairs)
        return [lf for _, lf in pairs]

    def describe(self, percentiles=(0.25, 0.50, 0.75), *, interpolation: str = "nearest"):
        """Summary statistics in the reference shape (dataframe/frame.py:5915):
        one row per statistic (count, null_count, mean, std, min,
        percentiles..., max), one output column per input column —
        numeric columns as floats, other columns stringified.  All columns'
        statistics are computed in ONE distributed aggregate pass."""
        if percentiles is None:
            pcts: list[float] = []
        elif isinstance(percentiles, (int, float)):
            pcts = [float(percentiles)]
        else:
            pcts = [float(p) for p in percentiles]
        num_t = ("tinyint", "smallint", "int", "bigint", "float", "double")
        ctx = self._ctx()
        aggs: list[Column] = []
        for c, t in self.schema.items():
            numeric = t in num_t or t.startswith("decimal")
            aggs += [
                F.count(F.lit(1)).alias(f"{c}\x00count"),
                F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}\x00null_count"),
            ]
            if numeric:
                aggs += [
                    F.mean(c).alias(f"{c}\x00mean"),
                    F.stddev_samp(c).alias(f"{c}\x00std"),
                    F.min(c).cast("double").alias(f"{c}\x00min"),
                    F.max(c).cast("double").alias(f"{c}\x00max"),
                ]
                for p in pcts:
                    q = _col(c).quantile(p, interpolation)._resolve(ctx)
                    aggs.append(q.alias(f"{c}\x00{p}"))
            elif t.startswith("timestamp"):
                aggs += [
                    F.min(F.date_format(F.col(c), "HH:mm:ss")).alias(f"{c}\x00min"),
                    F.max(F.date_format(F.col(c), "HH:mm:ss")).alias(f"{c}\x00max"),
                ]
            else:
                aggs += [
                    F.min(F.col(c).cast("string")).alias(f"{c}\x00min"),
                    F.max(F.col(c).cast("string")).alias(f"{c}\x00max"),
                ]
        row = self._df.agg(*aggs).collect()[0].asDict()
        stat_names = (
            ["count", "null_count", "mean", "std", "min"]
            + [f"{p * 100:g}%" for p in pcts]
            + ["max"]
        )
        data: dict = {"statistic": stat_names}
        for c, t in self.schema.items():
            numeric = t in num_t or t.startswith("decimal")
            if numeric:
                vals = [
                    float(row[f"{c}\x00count"]),
                    float(row[f"{c}\x00null_count"]),
                    row[f"{c}\x00mean"],
                    row[f"{c}\x00std"],
                    row[f"{c}\x00min"],
                ]
                vals += [row[f"{c}\x00{p}"] for p in pcts]
                vals.append(row[f"{c}\x00max"])
            else:
                vals = [
                    str(row[f"{c}\x00count"]),
                    str(row[f"{c}\x00null_count"]),
                    None,
                    None,
                    row[f"{c}\x00min"],
                ]
                vals += [None for _ in pcts]
                vals.append(row[f"{c}\x00max"])
            data[c] = vals
        from polars_spark.sources import DataFrame as _build

        return _build(data)

    def to_dummies(self, columns: Sequence[str] | str | None = None, *, separator: str = "_", drop_first: bool = False, drop_nulls: bool = False) -> "LazyFrame":
        """Indicator columns per distinct value (polars-ops to_dummies.rs).
        Distinct values are collected eagerly (like polars pivot); the
        indicators themselves are codegen'd when-exprs.  ``drop_first``
        omits each column's first category (regression encoding)."""
        cols = (
            self._resolve_name_selector(columns)
            if columns is not None
            else self.columns
        )
        df = self._df
        for c in cols:
            values = [r[0] for r in df.select(c).distinct().collect()]
            cats = sorted(str(x) for x in values if x is not None)
            if drop_first:
                cats = cats[1:]
            for v in cats:
                df = df.withColumn(
                    f"{c}{separator}{v}", (F.col(c).cast("string") == v).cast("tinyint")
                )
            if not drop_nulls and any(x is None for x in values):
                df = df.withColumn(
                    f"{c}{separator}null", F.col(c).isNull().cast("tinyint")
                )
            df = df.drop(c)
        return LazyFrame(df, self._order)

    def transpose(self, *, include_header: bool = True, header_name: str = "column",
                  column_names=None) -> "LazyFrame":
        """Eager transpose (polars-core transpose.rs) — inherently driver-side
        (the result has one column per input ROW); guarded for small frames.
        ``column_names``: explicit output names (or a column name whose
        values become the names, like the reference)."""
        pdf = self.collect()
        n = len(pdf)
        if n > 10_000:
            raise ValueError("transpose of >10k rows would be driver-bound")
        if isinstance(column_names, str) and column_names in pdf.columns:
            names = [str(v) for v in pdf[column_names]]
            pdf = pdf.drop(columns=[column_names])
            t = pdf.T
            t.columns = names
        else:
            t = pdf.T
            if column_names is not None:
                # reference accepts a (possibly infinite) iterator — take n
                import itertools

                names = [str(c) for c in itertools.islice(iter(column_names), n)]
                if len(names) < n:
                    raise ValueError(
                        f"`column_names` must supply at least {n} names"
                    )
                t.columns = names
            else:
                t.columns = [f"column_{i}" for i in range(n)]
        if include_header:
            t.insert(0, header_name, t.index)
        spark = SparkSession.getActiveSession()
        return LazyFrame(spark.createDataFrame(t.reset_index(drop=True)))

    # -- vertical / horizontal combine -------------------------------------------
    def vstack(self, other: "LazyFrame") -> "LazyFrame":
        return concat([self, other], how="vertical")

    def hstack(self, other, *, in_place: bool = False) -> "LazyFrame":
        """polars DataFrame.hstack: accepts a frame OR a list of Series
        (reference dataframe/frame.py hstack)."""
        if isinstance(other, (list, tuple)):
            from polars_spark.series import Series

            cols = {}
            for i, s in enumerate(other):
                if isinstance(s, Series):
                    cols[s.name or f"column_{i}"] = s.to_list()
                else:
                    cols[f"column_{i}"] = list(s)
            from polars_spark.sources import DataFrame as _DF

            other = _DF(cols)
        return concat([self, other], how="horizontal")

    def merge_sorted(self, other: "LazyFrame", key) -> "LazyFrame":
        keys = [key] if isinstance(key, str) else list(key)
        df = self.to_spark().unionByName(other.to_spark())
        return LazyFrame(df, [(k, False) for k in keys]).sort(keys)

    # -- UDF surface (§2.11) -------------------------------------------------------
    def map_batches(self, function, *, schema=None, streamable: bool = True) -> "LazyFrame":
        """polars LazyFrame.map_batches (FunctionIR::Opaque) -> mapInPandas.

        ``function`` takes a pandas.DataFrame batch and returns one; executed
        Arrow-batched per partition, never row-at-a-time.
        """
        src = self.to_spark()
        out_schema = schema or src.schema

        def gen(it):
            for pdf in it:
                yield function(pdf)

        return LazyFrame(src.mapInPandas(gen, out_schema), [])

    def map_rows(
        self,
        function,
        return_dtype=None,
        *,
        schema: str | None = None,
        inference_size: int = 256,
    ) -> "LazyFrame":
        """polars DataFrame.map_rows (py-polars/src/polars/dataframe/frame.py:8686):
        the UDF receives each row as a tuple; a scalar result produces one
        column ``map``, a tuple result produces ``column_0..column_{n-1}``.

        Lowering: mapInPandas — the UDF runs inside Arrow batches on the
        executors, never row-at-a-time through the driver.  Pass ``schema``
        (Spark DDL) to keep plan construction fully lazy; ``return_dtype``
        covers the scalar case; with neither, the output schema is inferred
        by applying the UDF to a driver-side sample of ``inference_size``
        rows (an eager job, as in polars itself — map_rows is an eager
        DataFrame op there too).
        """
        src = self.to_spark()
        if schema is not None:
            out_schema = schema
            names = [f.strip().split()[0] for f in schema.split(",")]
        elif return_dtype is not None:
            out_schema = f"map {_dtype_to_spark(return_dtype)}"
            names = ["map"]
        else:
            sample = src.limit(inference_size).toPandas()
            res = [function(tuple(t)) for t in sample.itertuples(index=False, name=None)]
            first = res[0] if res else None
            if isinstance(first, tuple):
                cols = [f"column_{i}" for i in range(len(first))]
                probe = src.sparkSession.createDataFrame(
                    _pd.DataFrame(res, columns=cols)
                )
            else:
                probe = src.sparkSession.createDataFrame(_pd.DataFrame({"map": res}))
            out_schema = probe.schema
            names = probe.columns

        def gen(it):
            for pdf in it:
                res = [function(tuple(t)) for t in pdf.itertuples(index=False, name=None)]
                if res and isinstance(res[0], tuple):
                    yield _pd.DataFrame(res, columns=names)
                else:
                    yield _pd.DataFrame({names[0]: res})

        return LazyFrame(src.mapInPandas(gen, out_schema), [])

    # -- sinks (SinkType, polars-plan/src/dsl/options/sink.rs:230) -----------------
    def sink_parquet(
        self,
        path: str,
        *,
        compression: str = "zstd",
        partition_by: Sequence[str] | str | None = None,
        cluster_by: Sequence[str] | str | None = None,
        cluster_files: int | None = None,
        mkdir: bool = True,
        maintain_order: bool = False,
        **_compat,
    ) -> None:
        """Distributed parquet sink; ``partition_by`` maps to hive-style
        ``write.partitionBy`` (polars PartitionStrategy::Keyed).  ``path``
        may be a pl.PartitionBy config (keyed and/or max_rows_per_file
        splitting).  polars tuning kwargs (statistics, row_group_size,
        data_page_size, compression_level, ...) are accepted and inert —
        Spark's parquet writer manages row groups/stats via its own
        block-size config, not per-call knobs.

        ``cluster_by`` (Spark scale extension): range-repartition + sort
        within partitions on the given columns before writing, so each
        output file covers a DISJOINT key range.  Parquet min/max footer
        stats then prune whole files for range/point predicates — the
        cheap write-once layout optimization for 100 TB scan-heavy
        columns (the single-column analogue of Z-ordering)."""
        src = self.to_spark()
        if cluster_by:
            cb = [cluster_by] if isinstance(cluster_by, str) else list(cluster_by)
            if cluster_files:
                src = src.repartitionByRange(int(cluster_files), *cb)
            else:
                src = src.repartitionByRange(*cb)
            src = src.sortWithinPartitions(*cb)
        w = src.write.mode("overwrite").option("compression", compression)
        pb = [partition_by] if isinstance(partition_by, str) else list(partition_by or [])
        if type(path).__name__ == "PartitionBy":
            cfg = path
            path = cfg.base_path
            pb = pb or cfg.key
            if cfg.max_rows_per_file:
                w = w.option("maxRecordsPerFile", int(cfg.max_rows_per_file))
        if pb:
            w = w.partitionBy(*pb)
        w.parquet(str(path))

    def sink_bucketed_table(
        self,
        name: str,
        *,
        bucket_by: Sequence[str] | str,
        num_buckets: int,
        sort_by: Sequence[str] | str | None = None,
        mode: str = "overwrite",
        format: str = "parquet",
    ) -> None:
        """Bucketed managed table (Spark-native scale feature; the reference
        is single-node and has no equivalent): rows are hash-partitioned
        into ``num_buckets`` files by ``bucket_by`` AT WRITE TIME, so later
        equi-joins / aggregations on those keys read co-located data and
        skip the shuffle entirely — the canonical strategy for a 100 TB
        fact table joined repeatedly on the same key.  ``sort_by`` makes
        each bucket sort-merge-ready (no sort at read).  Verified in
        tests/test_io.py: a self-join of two bucketed tables shows NO
        Exchange above the join in the physical plan."""
        spark = self._df.sparkSession
        if mode == "overwrite" and "." not in name:
            # the in-memory catalog forgets tables across restarts but the
            # warehouse directory survives — clear both to avoid
            # LOCATION_ALREADY_EXISTS on re-create
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")
            import os
            import shutil

            wh = spark.conf.get("spark.sql.warehouse.dir", "").removeprefix("file:")
            loc = os.path.join(wh, name.lower())
            if wh and os.path.isdir(loc):
                shutil.rmtree(loc)
        bb = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
        w = self.to_spark().write.mode(mode).format(format).bucketBy(num_buckets, *bb)
        if sort_by:
            sb = [sort_by] if isinstance(sort_by, str) else list(sort_by)
            w = w.sortBy(*sb)
        w.saveAsTable(name)

    def sink_csv(self, path: str, *, include_header: bool = True, separator: str = ",") -> None:
        path = str(path) if path is not None else None
        (
            self.to_spark()
            .write.mode("overwrite")
            .option("header", include_header)
            .option("sep", separator)
            .csv(path)
        )

    def sink_ndjson(self, path: str) -> None:
        path = str(path) if path is not None else None
        self.to_spark().write.mode("overwrite").json(path)

    def sink_orc(self, path: str) -> None:
        self.to_spark().write.mode("overwrite").orc(path)

    def with_context(self, other: "LazyFrame | list[LazyFrame]") -> "LazyFrame":
        """DslPlan::ExtContext (dsl/plan.rs:162): let expressions reference
        columns of other frames.  Supported for scalar (1-row) context frames
        — the overwhelmingly common case (aggregates computed elsewhere) —
        via a broadcast cross join."""
        others = other if isinstance(other, list) else [other]
        df = self._df
        for o in others:
            odf = o.to_spark()
            df = df.crossJoin(F.broadcast(odf))
        return LazyFrame(df, self._order)

    # -- misc ----------------------------------------------------------------------
    def sql(self, query: str, *, table_name: str = "self") -> "LazyFrame":
        from polars_spark.sql import _rewrite_table_functions

        self.to_spark().createOrReplaceTempView(table_name)
        spark = SparkSession.getActiveSession()
        return LazyFrame(spark.sql(_rewrite_table_functions(spark, query)), [])


# -------------------------------------------------------------------------------
# group-by


class _QueryResult:
    """QueryResult surface (reference lazyframe/query_result.py
    SingleNodeQueryResult): head / n_rows_total / lazy().  Backed by the
    still-distributed Spark frame; ``head`` and ``n_rows_total`` each run
    one bounded job."""

    def __init__(self, lf: "LazyFrame"):
        self._lf = lf

    @property
    def head(self):
        return self._lf.head(10)

    @property
    def n_rows_total(self) -> int:
        return self._lf.height

    def lazy(self) -> "LazyFrame":
        return self._lf

    def __repr__(self) -> str:
        return f"<QueryResult columns={self._lf.columns}>"


class LazyGroupBy:
    def __init__(self, lf: LazyFrame, keys, named_keys: dict, maintain_order: bool):
        self._lf = lf
        # selector keys (group_by(cs.string())) expand against the schema
        expanded = []
        for k in keys:
            if getattr(k, "_selector", None) is not None and getattr(k, "_chain_fn", None) is None:
                from polars_spark.selectors import expand_names

                expanded.extend(expand_names(k, lf.schema))
            else:
                expanded.append(k)
        self._keys = expanded
        self._named = named_keys
        self._maintain = maintain_order
        self._mode = "groupby"  # groupby | cube | rollup

    def __iter__(self):
        """polars GroupBy iteration: yields (key, sub-DataFrame) per group
        (an eager convenience — the distributed form is agg/map_groups)."""
        names = [k for k in self._keys if isinstance(k, str)]
        if len(names) != len(self._keys) or self._named:
            raise TypeError("group_by iteration needs plain column-name keys")
        parts = self._lf.partition_by(*names, as_dict=True)
        # polars GroupBy iteration: single keys arrive unwrapped
        return iter(
            (k[0] if len(k) == 1 else k, v) for k, v in parts.items()
        )

    def _grouped(self):
        cols = self._key_cols()
        if self._mode == "cube":
            return self._lf._df.cube(*cols)
        if self._mode == "rollup":
            return self._lf._df.rollup(*cols)
        return self._lf._df.groupBy(*cols)

    def _key_cols(self) -> list[Column]:
        ctx = self._lf._ctx()
        out = []
        for k in self._keys:
            if isinstance(k, str):
                out.append(F.col(k))
            else:
                out.append(k._resolve(ctx).alias(k._name))
        for name, e in self._named.items():
            out.append(_to_expr(e)._resolve(ctx).alias(name))
        return out

    def agg(self, *exprs, **named) -> LazyFrame:
        try:
            return self._agg_impl(*exprs, **named)
        except OrderNeeded:
            # an order-sensitive agg (first/last/implode/cum inside groups) on
            # a deferred-order scan: pay the file-order contract and retry
            if self._lf._order or self._lf._deferred_order is None:
                raise
            self._lf = self._lf._materialize_order()
            return self._agg_impl(*exprs, **named)

    def _agg_impl(self, *exprs, **named) -> LazyFrame:
        if self._maintain:
            # first-appearance group order needs the frame's row order —
            # pay the deferred scan contract (no-op for ordered frames)
            self._lf = self._lf._ordered()
        ctx = self._lf._ctx()
        ctx.grouped = True  # exprs may branch on agg vs select context
        key_names = {k for k in self._keys if isinstance(k, str)} | set(self._named)
        aggs: list[Column] = []

        def _wrap(ee):
            # polars: a non-aggregate expression inside .agg() captures the
            # group as a LIST (implicit implode — GroupBy "full list
            # capture", dsl/plan.rs GroupBy aggs).  _ctx_agg marks exprs
            # whose grouped branch is already aggregate-valued (row_index).
            if getattr(ee, "_ctx_agg", False):
                return ee
            return ee if getattr(ee, "_is_agg", True) else ee.implode()

        for e in _flatten(exprs):
            if isinstance(e, str):
                e = _col(e)
            if getattr(e, "_selector", None) is not None:
                # selector / pl.all() (+chains): expand over non-key columns
                from polars_spark.selectors import expand_names

                chain = getattr(e, "_chain_fn", None)
                for c in expand_names(e, self._lf.schema):
                    if c in key_names:
                        continue
                    ce = chain(_col(c)) if chain else _col(c)
                    ce = _wrap(ce)
                    aggs.append(ce._resolve(ctx).alias(ce._name or c))
                continue
            ee = _to_expr(e) if not hasattr(e, "_resolve") else e
            ee = _wrap(ee)
            aggs.append(ee._resolve(ctx).alias(ee._name))
        for name, e in named.items():
            ee = _wrap(_to_expr(e))
            aggs.append(ee._resolve(ctx).alias(name))
        drop_hidden = []
        if not aggs:
            # agg() with no exprs (having-only): keys + a hidden group size
            # the having predicates can reference
            aggs = [F.count(F.lit(1)).alias("__glen__")]
            drop_hidden = ["__glen__"]
        if self._maintain and self._lf._order:
            # polars maintain_order: groups come out in first-seen row order
            seen = F.min(F.struct(*[F.col(o[0]) for o in self._lf._order])).alias("__seen__")
            df = self._grouped().agg(*aggs, seen)
            df = df.orderBy("__seen__").drop("__seen__")
            return self._apply_having(LazyFrame(df, []), ctx).drop(*drop_hidden)
        df = self._grouped().agg(*aggs)
        return self._apply_having(LazyFrame(df, []), ctx).drop(*drop_hidden)

    def _apply_having(self, out: LazyFrame, ctx) -> LazyFrame:
        for p in getattr(self, "_having", []):
            out = out.filter(p)
        return out

    def len(self, name: str = "len") -> LazyFrame:
        df = self._lf._df.groupBy(*self._key_cols()).agg(F.count(F.lit(1)).alias(name))
        return LazyFrame(df, [])

    def count(self) -> LazyFrame:
        return self.len(name="count")

    _NUMERIC_AGG_T = ("tinyint", "smallint", "int", "bigint", "float", "double")

    def _all_agg(self, f, *, numeric_only: bool = False) -> LazyFrame:
        names = [k for k in self._keys if isinstance(k, str)] + list(self._named)
        rest = [c for c in self._lf.columns if c not in names]
        schema = self._lf.schema
        aggs = []
        for c in rest:
            t = schema.get(c, "")
            if numeric_only and not (t in self._NUMERIC_AGG_T or t.startswith("decimal")):
                # polars: numeric-only aggregates null out other columns
                aggs.append(F.first(F.lit(None)).alias(c))
            else:
                aggs.append(f(c).alias(c))
        df = self._lf._df.groupBy(*self._key_cols()).agg(*aggs)
        return LazyFrame(df, [])

    def sum(self) -> LazyFrame:
        return self._all_agg(F.sum, numeric_only=True)

    def min(self) -> LazyFrame:
        return self._all_agg(F.min)

    def max(self) -> LazyFrame:
        return self._all_agg(F.max)

    def mean(self) -> LazyFrame:
        return self._all_agg(F.mean, numeric_only=True)

    def median(self) -> LazyFrame:
        return self._all_agg(F.median, numeric_only=True)

    def n_unique(self) -> LazyFrame:
        return self._all_agg(F.countDistinct)

    def first(self, *, ignore_nulls: bool = False) -> LazyFrame:
        return self._all_agg(lambda c: F.first(c, ignorenulls=ignore_nulls))

    def last(self, *, ignore_nulls: bool = False) -> LazyFrame:
        return self._all_agg(lambda c: F.last(c, ignorenulls=ignore_nulls))

    def quantile(self, q: float, interpolation: str = "nearest") -> LazyFrame:
        """Per-group quantile of every non-key column, all six reference
        interpolation modes (default 'nearest' like the reference —
        group_by.py:875 lowers to agg(all().quantile()), so non-numeric
        columns come back as null columns, not dropped; the old lowering
        ignored the interpolation parameter)."""
        from polars_spark.plans.expr import col as _col, lit as _lit

        names = [k for k in self._keys if isinstance(k, str)] + list(self._named)
        exprs = []
        for c, t in self._lf.schema.items():
            if c in names:
                continue
            if t in LazyFrame._NUMERIC_T:
                exprs.append(_col(c).quantile(q, interpolation).alias(c))
            else:
                # aggregate-valued null scalar (a bare lit would implode
                # into a per-group list in agg context)
                exprs.append(_lit(None).min().alias(c))
        return self.agg(*exprs)

    def all(self) -> LazyFrame:
        """Implode every non-key column (order-preserving collect_list)."""
        names = [k for k in self._keys if isinstance(k, str)] + list(self._named)
        rest = [c for c in self._lf.columns if c not in names]
        from polars_spark.plans.expr import col as _col

        return self.agg(*[_col(c).implode().alias(c) for c in rest])

    def head(self, n: int = 5) -> LazyFrame:
        """First n rows of each group over the frame order — one window
        exchange keyed by the group keys."""
        from pyspark.sql import Window

        keys = [k for k in self._keys if isinstance(k, str)]
        ctx = self._lf._ctx()
        order = ctx.order_by_cols() if ctx.order_cols else [F.monotonically_increasing_id()]
        w = Window.partitionBy(*keys).orderBy(*order)
        df = (
            self._lf._df.withColumn("__gh__", F.row_number().over(w))
            .filter(F.col("__gh__") <= n)
            .drop("__gh__")
        )
        return LazyFrame(df, self._lf._order)

    def tail(self, n: int = 5) -> LazyFrame:
        from pyspark.sql import Window

        keys = [k for k in self._keys if isinstance(k, str)]
        ctx = self._lf._ctx()
        order = (
            ctx.order_by_cols(reverse=True)
            if ctx.order_cols
            else [F.monotonically_increasing_id().desc()]
        )
        w = Window.partitionBy(*keys).orderBy(*order)
        df = (
            self._lf._df.withColumn("__gt__", F.row_number().over(w))
            .filter(F.col("__gt__") <= n)
            .drop("__gt__")
        )
        return LazyFrame(df, self._lf._order)

    def having(self, *predicates) -> "LazyGroupBy":
        """SQL-style HAVING: filter applied after agg — returns a wrapper
        whose agg() chains the filter (Spark pushes it into the same
        aggregate stage)."""
        gb = LazyGroupBy(self._lf, self._keys, self._named, self._maintain)
        gb._mode = self._mode
        gb._having = list(predicates)
        return gb

    def map_groups(self, function, schema=None) -> LazyFrame:
        """polars GroupBy.map_groups (DslPlan::GroupBy.apply) -> applyInPandas.

        When the frame has a row-order contract, each group's pandas frame
        is sorted to FRAME ORDER before the user function sees it (polars
        hands groups over in frame order); the hidden order columns are
        stripped from the user-visible input.  ``schema=None`` infers the
        output schema by running the function once on the FIRST group at
        the driver (one bounded job — same trick the reference's
        map_groups schema inference uses on its first group)."""
        names = [k for k in self._keys if isinstance(k, str)]
        if schema is None:
            probe = self._lf._df.limit(1).toPandas()
            key0 = probe[names].iloc[0].tolist() if names and builtins_len(probe) else []
            g0 = self._lf._df
            for k, v in zip(names, key0):
                g0 = g0.filter(F.col(k) == F.lit(v))
            sample = g0.toPandas()
            for h in ("__row_idx__",):
                if h in sample.columns:
                    sample = sample.drop(columns=[h])
            out0 = function(sample)
            if hasattr(out0, "_df"):  # a polars_spark frame
                schema = out0._df.schema
            else:
                import pandas as _pd

                from pyspark.sql import types as _T

                spark = self._lf._df.sparkSession
                schema = spark.createDataFrame(_pd.DataFrame(out0)).schema
        order = self._lf._order
        if order:
            src = self._lf._df
            ocols = [o[0] for o in order]
            asc = [not o[1] for o in map(_ospec, order)]
            hidden = [c for c in ocols if c == ROW_IDX]

            def ordered_fn(pdf):
                pdf = pdf.sort_values(ocols, ascending=asc, kind="stable")
                return function(pdf.drop(columns=hidden))

            df = src.groupBy(*names).applyInPandas(ordered_fn, schema)
        else:
            df = self._lf.to_spark().groupBy(*names).applyInPandas(function, schema)
        return LazyFrame(df, [])


class SessionGroupBy:
    """Session windows via F.session_window: a session extends while
    consecutive events are <= gap apart (boundary merges); window =
    [first_event, last_event + gap).  Output columns: group keys,
    ``session_start``, ``session_end``, aggregates."""

    def __init__(self, lf, index_column, gap, group_by):
        self._lf = lf
        self._index = index_column
        self._gap = _duration_str(gap)
        gb = group_by or []
        self._by = [gb] if isinstance(gb, str) else list(gb)

    def agg(self, *exprs, **named) -> LazyFrame:
        ctx = self._lf._ctx()
        ctx.grouped = True  # exprs may branch on agg vs select context
        aggs: list[Column] = []
        for e in _flatten(exprs):
            ee = _to_expr(e) if not hasattr(e, "_resolve") else e
            aggs.append(ee._resolve(ctx).alias(ee._name))
        for name, e in named.items():
            aggs.append(_to_expr(e)._resolve(ctx).alias(name))
        win = F.session_window(F.col(self._index), self._gap)
        df = self._lf._df.groupBy(*self._by, win.alias("__s__")).agg(*aggs)
        return LazyFrame(
            df.select(
                *self._by,
                F.col("__s__.start").alias("session_start"),
                F.col("__s__.end").alias("session_end"),
                *[c for c in df.columns if c not in (*self._by, "__s__")],
            )
        )


class DynamicGroupBy:
    """group_by_dynamic (polars-time/src/group_by/dynamic.rs:22) via F.window.

    Both polars and Spark align window starts to the epoch, so
    ``every``/``period``/``offset`` map directly onto
    ``F.window(ts, windowDuration=period, slideDuration=every, startTime=offset)``.
    ``closed='left'`` (polars default) is exactly Spark's [start, end).
    """

    _WEEKDAYS = {"monday": 0, "tuesday": 1, "wednesday": 2, "thursday": 3,
                 "friday": 4, "saturday": 5, "sunday": 6}

    def __init__(self, lf, index_column, every, period, offset, closed, label, group_by,
                 start_by: str = "window", include_boundaries: bool = False):
        self._include_boundaries = include_boundaries
        if closed not in ("left", "right", "both", "none"):
            raise ValueError(f"group_by_dynamic closed={closed!r}")
        if start_by != "window" and start_by != "datapoint" and start_by not in self._WEEKDAYS:
            raise ValueError(f"group_by_dynamic start_by={start_by!r}")
        self._start_by = start_by
        self._closed = closed
        self._lf = lf
        self._index = index_column
        self._label = label
        gb = group_by or []
        self._by = [gb] if isinstance(gb, str) else list(gb)
        # "Ni" durations = INDEX units over an integer column (polars
        # dynamic.rs integer windows); everything else is temporal
        self._int_mode = isinstance(every, str) and every.rstrip().endswith("i")

        def _int_units(s, default=None):
            if s is None:
                return default
            s = s.strip()
            if not s.endswith("i"):
                raise ValueError(
                    f"integer group_by_dynamic needs 'i' units on every/period/offset, got {s!r}"
                )
            return int(s[:-1])

        if self._int_mode:
            self._every_i = _int_units(every)
            self._period_i = _int_units(period, self._every_i)
            self._offset_i = _int_units(offset, 0)
        else:
            self._every = _duration_str(every)
            self._every_us = _duration_us(every)
            self._period = _duration_str(period) if period else self._every
            self._offset = _duration_str(offset) if offset else None

    def agg(self, *exprs, **named) -> LazyFrame:
        # closed='right' = (start, end]: assign each row by ts - 1µs (Spark
        # windows are inherently [start, end)), window labels stay aligned.
        # closed='both'/'none' assign windows BEFORE the aggregate so
        # boundary rows can be duplicated into / dropped from the adjacent
        # window (boundary duplication is polars' documented 'both'
        # semantics); Spark's Expand-based window projection keeps this a
        # map-side operation — no extra shuffle.
        if self._int_mode:
            return self._agg_int(exprs, named)
        start = self._offset
        if self._start_by == "datapoint":
            # polars start_by='datapoint': window origin = the earliest data
            # point rather than the epoch.  One tiny min() job (polars is
            # equally eager here — origin depends on the data); the offset
            # becomes F.window's startTime.
            row = self._lf._df.agg(
                F.min(F.unix_micros(F.col(self._index).cast("timestamp"))).alias("m")
            ).collect()[0]
            start = f"{int(row['m'] or 0) % self._every_us} microseconds"
        elif self._start_by in self._WEEKDAYS:
            # weekly windows starting on a given weekday: the epoch
            # (1970-01-01) is a THURSDAY; shift startTime by the distance
            days = (self._WEEKDAYS[self._start_by] - 3) % 7
            start = f"{days} days"

        def win_of(tc):
            return (
                F.window(tc, self._period, self._every, start)
                if start
                else F.window(tc, self._period, self._every)
            )

        tcol = F.col(self._index)
        t_prev = F.timestamp_micros(F.unix_micros(tcol.cast("timestamp")) - 1)
        src = self._lf._df
        if self._closed == "right":
            src = src.select("*", win_of(t_prev).alias("__w__"))
        elif self._closed == "both":
            a = src.select("*", win_of(tcol).alias("__w__"))
            # rows exactly on a boundary also close the PREVIOUS window:
            # assign via t-1µs and keep only exact end-of-window hits
            b = src.select("*", win_of(t_prev).alias("__w__")).filter(
                tcol.cast("timestamp") == F.col("__w__.end")
            )
            src = a.unionByName(b)
        elif self._closed == "none":
            # open on both sides — drop exact start-of-window rows
            src = src.select("*", win_of(tcol).alias("__w__")).filter(
                tcol.cast("timestamp") != F.col("__w__.start")
            )
        else:
            src = src.select("*", win_of(tcol).alias("__w__"))

        # aggregates resolve against the window-assigned frame so boundary
        # duplication/removal is visible to them
        ctx = ExprContext(src, list(self._lf._order))
        ctx.grouped = True
        aggs: list[Column] = []
        agg_names: list[str] = []

        def _wrap(ee):
            # polars: non-aggregate exprs in a dynamic agg capture the group
            # list (same implicit-implode rule as plain group_by)
            return ee if getattr(ee, "_is_agg", True) else ee.implode()

        for e in _flatten(exprs):
            ee = _to_expr(e) if not hasattr(e, "_resolve") else e
            ee = _wrap(ee)
            aggs.append(ee._resolve(ctx).alias(ee._name))
            agg_names.append(ee._name)
        for name, e in named.items():
            aggs.append(_wrap(_to_expr(e))._resolve(ctx).alias(name))
            agg_names.append(name)
        df = src.groupBy(*self._by, "__w__").agg(*aggs)
        bound = "start" if self._label == "left" else "end"
        out_cols = [
            *self._by,
            F.col(f"__w__.{bound}").alias(self._index),
            *agg_names,
        ]
        if self._include_boundaries:
            out_cols = [
                *self._by,
                F.col("__w__.start").alias("_lower_boundary"),
                F.col("__w__.end").alias("_upper_boundary"),
                F.col(f"__w__.{bound}").alias(self._index),
                *agg_names,
            ]
        df = df.select(*out_cols)
        return LazyFrame(df, [])

    def _agg_int(self, exprs, named) -> LazyFrame:
        """Integer-index dynamic windows ('4i' units, polars dynamic.rs
        integer path): window starts aligned to ``offset mod every``; a row
        lands in every window whose [start, start+period) span (per
        ``closed``) contains it.  Candidate starts are generated map-side
        (explode of ceil(period/every)+1 aligned starts), so sliding windows
        stay a projection + one keyed shuffle — same shape as F.window."""
        ev, per, off = self._every_i, self._period_i, self._offset_i
        i = F.col(self._index).cast("bigint")
        # largest aligned start <= i (pmod keeps floor semantics for negatives)
        s_base = i - F.pmod(i - F.lit(off), F.lit(ev))
        n_cand = per // ev + 2
        cand = F.array(*[s_base - F.lit(j * ev) for j in range(n_cand)])
        src = self._lf._df.select("*", F.explode(cand).alias("__ws__"))
        s = F.col("__ws__")
        if self._closed == "left":
            keep = (i >= s) & (i < s + per)
        elif self._closed == "right":
            keep = (i > s) & (i <= s + per)
        elif self._closed == "both":
            keep = (i >= s) & (i <= s + per)
        else:  # none
            keep = (i > s) & (i < s + per)
        src = src.filter(keep)

        ctx = ExprContext(src, list(self._lf._order))
        ctx.grouped = True
        aggs: list[Column] = []
        agg_names: list[str] = []
        for e in _flatten(exprs):
            ee = _to_expr(e) if not hasattr(e, "_resolve") else e
            if not getattr(ee, "_is_agg", True):
                ee = ee.implode()
            aggs.append(ee._resolve(ctx).alias(ee._name))
            agg_names.append(ee._name)
        for name, e in named.items():
            ee = _to_expr(e)
            if not getattr(ee, "_is_agg", True):
                ee = ee.implode()
            aggs.append(ee._resolve(ctx).alias(name))
            agg_names.append(name)
        df = src.groupBy(*self._by, "__ws__").agg(*aggs)
        lbl = s if self._label == "left" else s + per
        cols = [*self._by, lbl.alias(self._index), *agg_names]
        if self._include_boundaries:
            cols = [
                *self._by,
                s.alias("_lower_boundary"),
                (s + per).alias("_upper_boundary"),
                lbl.alias(self._index),
                *agg_names,
            ]
        df = df.select(*cols)
        return LazyFrame(df, [])


class RollingGroupBy:
    """LazyFrame.rolling context (RollingGroupOptions, polars-time dynamic.rs:57).

    Window per row over the µs-resolution time axis; ``closed`` picks the
    boundary inclusion — 'right' (polars default) = (t-period, t], 'both' =
    [t-period, t], 'left' = [t-period, t), 'none' = (t-period, t).
    Partitioned by ``group_by`` keys: no global single-partition window when
    keys are given.
    """

    _BOUNDS = {
        "right": (1, 0),  # offsets added to (-period, 0)
        "both": (0, 0),
        "left": (0, -1),
        "none": (1, -1),
    }

    def __init__(self, lf, index_column, period, group_by, closed):
        if closed not in self._BOUNDS:
            raise ValueError(f"rolling closed={closed!r}")
        self._lf = lf
        self._index = index_column
        if isinstance(period, str) and period.endswith("i") and period[:-1].lstrip("-").isdigit():
            # polars "Ni": N integer index steps (integer index column)
            self._period_us = int(period[:-1])
        else:
            self._period_us = _duration_us(period)
        self._closed = closed
        gb = group_by or []
        self._by = [gb] if isinstance(gb, str) else list(gb)

    def agg(self, *exprs, **named) -> LazyFrame:
        lf = self._lf
        is_ts = dict(lf._df.dtypes)[self._index].startswith("timestamp")
        okey = F.unix_micros(F.col(self._index).cast("timestamp")) if is_ts else F.col(self._index).cast("bigint")
        lo_off, hi_off = self._BOUNDS[self._closed]
        w = (
            Window.partitionBy(*[F.col(b) for b in self._by])
            .orderBy(okey)
            .rangeBetween(-self._period_us + lo_off, hi_off)
        )
        ctx = _WindowedContext(lf._df, w)
        outs: dict[str, Column] = {}
        for e in _flatten(exprs):
            ee = _to_expr(e) if not hasattr(e, "_resolve") else e
            outs[ee._name] = ee._resolve(ctx)
        for name, e in named.items():
            outs[name] = _to_expr(e)._resolve(ctx)
        df = lf._df.select(*self._by, F.col(self._index), *[c.alias(n) for n, c in outs.items()])
        return LazyFrame(df, [])


class _WindowedContext(ExprContext):
    """Context that turns aggregate exprs into window aggregates
    (ExprContext._window is consumed by Expr._agg)."""

    def __init__(self, df, window):
        super().__init__(df, [])
        self._window = window


# -------------------------------------------------------------------------------
# concat


def _concat_order_deferred(path_lists):
    """Deferred order contract for a vertical concat of (unmaterialized)
    deferred-order scans: polars order = frames in GIVEN sequence, file
    order within each (Union preserves input order —
    polars-plan/src/plans/ir/mod.rs Union).  input_file_name() survives a
    union per-row, so the thunk ranks rows by which input's path set their
    file belongs to (glob paths match on their static prefix), then by the
    usual (file, block-offset, read-position) key.  Plan-only, elided when
    no order-sensitive op consumes it — same rules as the scan thunk."""
    import os as _os
    import re as _re

    def _strip_scheme(s):
        m = _re.match(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/+", s)
        return "/" + s[m.end():] if m else s

    def _key(p):
        """(boundary_prefix, is_glob_stem): glob stems match on startswith of
        the stem itself (within-dir pattern prefix); concrete paths match on
        exact-file-or-directory URI boundaries — raw substring containment
        mis-ranked /data/ab under a sibling /data/a key (ADVICE r6)."""
        p = str(p)
        if not any(ch in p for ch in "*?["):
            k = _strip_scheme(p if "://" in p else _os.path.abspath(p)).rstrip("/") or "/"
            return k, False
        head = p
        for ch in "*?[":
            if ch in head:
                head = head.split(ch)[0]
        if "://" in p:
            return _strip_scheme(head), True
        return (
            _strip_scheme(
                _os.path.abspath(_os.path.dirname(head + "x")) + "/" + _os.path.basename(head)
            ),
            True,
        )

    def mat(df):
        fname = F.input_file_name()
        norm = F.regexp_replace(fname, r"^[a-zA-Z][a-zA-Z0-9+.\-]*:/+", "/")
        branches = []
        for i, paths in enumerate(path_lists):
            for q in paths:
                k, is_glob = _key(q)
                if is_glob:
                    cond = norm.startswith(F.lit(k))
                else:
                    cond = (norm == F.lit(k)) | norm.startswith(F.lit(k + "/"))
                branches.append(F.when(cond, F.lit(i)))
        rank = F.coalesce(*branches, F.lit(builtins_len(path_lists))).cast("int")
        ordc = F.struct(
            rank.alias("g"),
            fname.alias("n"),
            F.input_file_block_start().alias("b"),
            F.monotonically_increasing_id().alias("p"),
        )
        return df.withColumn(ROW_IDX, ordc), [(ROW_IDX, False, False)]

    return mat


def concat(items: Sequence[LazyFrame], *, how: str = "vertical", rechunk: bool = False) -> LazyFrame:
    """polars concat (dsl/plan.rs:152 Union / :157 HConcat).  Series inputs
    concat driver-side and stay Series (the eager polars form)."""
    out = _concat_impl(items, how=how, rechunk=rechunk)
    if isinstance(out, LazyFrame):
        # concat is a plan ORIGIN for serialize: embed each input's journal
        try:
            out._journal = (
                ("concat", (tuple(_plan_value(f) for f in list(items)),), {"how": how}),
            )
        except _NotPlannable:
            out._journal = None
    return out


def _concat_impl(items: Sequence[LazyFrame], *, how: str = "vertical", rechunk: bool = False) -> LazyFrame:
    frames = list(items)
    from polars_spark.series import Series

    if frames and all(isinstance(f, Series) for f in frames):
        vals: list = []
        for f in frames:
            vals.extend(f.to_list())
        return Series(frames[0].name, vals)
    if how in ("vertical", "vertical_relaxed"):
        df = frames[0].to_spark()
        for f in frames[1:]:
            df = df.unionByName(f.to_spark())
        defs = [getattr(f, "_deferred_order", None) for f in frames]
        if (
            frames
            and all(
                d is not None
                and hasattr(d, "paths")
                # attached-order scans (skip_rows lowering) cannot have
                # their order re-derived over the union plan
                and not getattr(d, "attached", False)
                for d in defs
            )
            and not any(f._order for f in frames)
        ):
            # all inputs are unmaterialized deferred scans: the union keeps
            # the polars frames-in-sequence order contract, still lazily
            return LazyFrame(
                df, [], deferred=_concat_order_deferred([d.paths for d in defs])
            )
        return LazyFrame(df, [])
    if how in ("diagonal", "diagonal_relaxed"):
        df = frames[0].to_spark()
        for f in frames[1:]:
            df = df.unionByName(f.to_spark(), allowMissingColumns=True)
        defs = [getattr(f, "_deferred_order", None) for f in frames]
        if (
            frames
            and all(
                d is not None
                and hasattr(d, "paths")
                # attached-order scans (skip_rows lowering) cannot have
                # their order re-derived over the union plan
                and not getattr(d, "attached", False)
                for d in defs
            )
            and not any(f._order for f in frames)
        ):
            return LazyFrame(
                df, [], deferred=_concat_order_deferred([d.paths for d in defs])
            )
        return LazyFrame(df, [])
    if how == "horizontal":
        out = None
        for i, f in enumerate(frames):
            d = f.with_row_index("__hidx__")._df
            out = d if out is None else out.join(d, "__hidx__", "full")
        return LazyFrame(out.drop("__hidx__"), [])
    if how == "horizontal_extend":
        # like horizontal, but shorter frames null-extend (the full join on
        # the row index already does exactly this)
        return concat(frames, how="horizontal")
    if how in ("align", "align_full", "align_left", "align_right", "align_inner"):
        # polars align: outer/left/right/inner-join the frames on their
        # COMMON columns, result sorted by those keys (functions/eager.py)
        join_how = {
            "align": "full",
            "align_full": "full",
            "align_left": "left",
            "align_right": "right",
            "align_inner": "inner",
        }[how]
        common = [c for c in frames[0].columns if all(c in f.columns for f in frames[1:])]
        if not common:
            raise ValueError("concat(align): frames share no common columns")
        out = frames[0]
        for f in frames[1:]:
            out = out.join(f, on=common, how=join_how, coalesce=True)
        # polars column order: common keys first, then the rest by appearance
        rest = [c for c in out.columns if c not in common]
        return out.select(*common, *rest).sort(common)
    raise ValueError(f"unknown concat how={how!r}")


# -------------------------------------------------------------------------------
# helpers


def _flatten(items) -> list:
    import types as _types

    out = []
    for it in items:
        if isinstance(it, (list, tuple, set, _types.GeneratorType)):
            out.extend(_flatten(it))
        elif it is not None:
            out.append(it)
    return out


def _suffix_collisions(rdf: SparkDF, lcols: Sequence[str], suffix: str) -> SparkDF:
    mapping = {c: c + suffix for c in rdf.columns if c in set(lcols)}
    return rdf.withColumnsRenamed(mapping) if mapping else rdf


_DUR_UNITS_US = {
    "ns": 0.001,
    "us": 1,
    "ms": 1_000,
    "s": 1_000_000,
    "m": 60_000_000,
    "h": 3_600_000_000,
    "d": 86_400_000_000,
    "w": 7 * 86_400_000_000,
}


def _index_halflife(s) -> float | None:
    """'1i'-style index-count durations (reference ewm_*_by half_life):
    N index steps -> N; None when not index-based."""
    import re as _re2

    if isinstance(s, str):
        m = _re2.fullmatch(r"(\d+)i", s.strip())
        if m:
            return float(m.group(1))
    return None


def _parse_duration(s: str) -> list[tuple[int, str]]:
    """polars duration string: e.g. '3d12h4m25s' -> [(3,'d'),(12,'h'),...]."""
    out = []
    num = ""
    i = 0
    while i < len(s):
        ch = s[i]
        if ch.isdigit() or ch == "-":
            num += ch
            i += 1
        else:
            unit = ch
            if i + 1 < len(s) and s[i : i + 2] in ("ns", "us", "ms", "mo"):
                unit = s[i : i + 2]
                i += 2
            else:
                i += 1
            out.append((int(num), unit))
            num = ""
    return out


def _duration_us(s) -> int:
    if isinstance(s, (int, float)):
        return int(s)
    if isinstance(s, _dt.timedelta):
        return int(s.total_seconds() * 1e6)
    total = 0
    for n, unit in _parse_duration(s):
        if unit == "mo":
            raise ValueError("calendar month not supported in fixed windows")
        total += int(n * _DUR_UNITS_US[unit])
    return total


def _duration_str(s) -> str:
    """polars duration -> Spark interval string ('15m' -> '15 minutes')."""
    names = {
        "ns": "nanoseconds",
        "us": "microseconds",
        "ms": "milliseconds",
        "s": "seconds",
        "m": "minutes",
        "h": "hours",
        "d": "days",
        "w": "weeks",
        "mo": "months",
        "q": "months",
        "y": "years",
    }
    if isinstance(s, str):
        # quarters have no Spark interval unit: 1q -> 3 months
        parts = []
        for n, u in _parse_duration(s):
            if u == "q":
                n, u = n * 3, "mo"
            parts.append(f"{n} {names[u]}")
        return " ".join(parts)
    if isinstance(s, _dt.timedelta):
        return f"{int(s.total_seconds())} seconds"
    parts = [f"{n} {names[u]}" for n, u in _parse_duration(s)]
    return " ".join(parts)


def _duration_to_value(tol, is_ts: bool):
    """Tolerance -> comparable scalar (seconds for timestamps)."""
    if isinstance(tol, str):
        us = _duration_us(tol)
        return us / 1e6 if is_ts else us
    if isinstance(tol, _dt.timedelta):
        return tol.total_seconds() if is_ts else int(tol.total_seconds() * 1e6)
    return tol


def align_frames(*frames: LazyFrame, on, how: str = "outer", select=None, descending: bool = False) -> list[LazyFrame]:
    """polars align_frames (functions/eager.py): give every frame the same
    key spine — the union (how='outer') of the ``on`` values across all
    frames — left-joining each frame's columns onto it, sorted by the keys.
    The spine is a distinct-union of key columns only (narrow shuffle);
    each frame then joins once on the keys."""
    keys = [on] if isinstance(on, str) else list(on)
    fr = list(frames)
    if not fr:
        return []
    spine_df = fr[0].to_spark().select(*keys)
    for f in fr[1:]:
        spine_df = spine_df.unionByName(f.to_spark().select(*keys))
    spine = LazyFrame(spine_df.distinct())
    out = []
    for f in fr:
        aligned = spine.join(f, on=keys, how="left", coalesce=True).sort(
            keys, descending=descending
        )
        # pin the key order into the hidden row index so a projection that
        # drops the keys (select=) keeps the row order — and positional
        # frame arithmetic over the aligned results stays well-defined
        aligned = aligned.with_row_index(ROW_IDX)
        if select is not None:
            cols = [select] if isinstance(select, str) else list(select)
            out.append(aligned.select(*cols))
        else:
            out.append(aligned.select(*f.columns))
    return out


def _journal_gb_agg(fn):
    """Journal a LazyGroupBy.agg as one composite 'group_by.agg' plan step
    (keys + named keys + maintain_order + agg exprs, with the cube/rollup
    mode), so grouped plans round-trip through LazyFrame.serialize."""
    import functools
    import types

    @functools.wraps(fn)
    def inner(self, *args, **kwargs):
        global _JDEPTH
        args = tuple(
            list(a) if isinstance(a, types.GeneratorType) else a for a in args
        )
        _JDEPTH += 1
        try:
            out = fn(self, *args, **kwargs)
        finally:
            _JDEPTH -= 1
        if _JDEPTH == 0 and isinstance(out, LazyFrame):
            gkw = dict(self._named)
            if self._maintain:
                gkw["maintain_order"] = True
            out._journal = _extend_journal(
                self._lf._journal,
                "group_by.agg",
                (tuple(self._keys), gkw, args, kwargs),
                {"mode": self._mode},
            )
        return out

    return inner


# plan-journaled surface: the DslPlan-style ops the reference's serialized
# plans are built from.  Ops outside this list poison the journal (serialize
# then falls back to the documented result-snapshot payload).
_JOURNALED_METHODS = [
    "select", "with_columns", "with_columns_seq", "filter", "remove", "sort",
    "limit", "head", "tail", "slice", "first", "last", "unique", "drop",
    "rename", "cast", "explode", "unpivot", "melt", "with_row_index",
    "reverse", "drop_nulls", "drop_nans", "fill_null", "fill_nan", "join",
    "join_asof", "join_where", "gather", "gather_every", "top_k", "bottom_k",
    "sum", "mean", "min", "max", "median", "std", "var", "count", "shift",
    "interpolate", "set_sorted", "quantile", "null_count", "product", "pipe",
    "sql", "unnest", "update", "merge_sorted", "upsample", "pivot", "unstack",
    "extend", "vstack", "hstack", "insert_column", "to_dummies",
    "with_context", "match_to_schema", "select_seq",
    # round 7: 100% of the public frame-returning surface journals —
    # reflection test pins it (test_round7_journal_coverage).  Function
    # args (map_batches/map_rows/map_columns/pipe_with_schema) ride
    # cloudpickle; unpicklable closures fall back to the snapshot payload
    # at serialize time, exactly like the reference's pickled UDF plans.
    "approx_n_unique", "cache", "checkpoint", "clear", "clone",
    "coalesce_partitions", "hint", "inspect", "lazy", "map_batches",
    "map_columns", "map_rows", "persist", "pipe_with_schema", "rechunk",
    "repartition", "replace_column", "sample", "shrink_to_fit", "shuffle",
    "transpose", "unpersist", "with_row_count",
]
for _m in _JOURNALED_METHODS:
    setattr(LazyFrame, _m, _journal_step(getattr(LazyFrame, _m), _m))
LazyGroupBy.agg = _journal_gb_agg(LazyGroupBy.agg)
del _m
