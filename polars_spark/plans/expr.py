"""Expression layer: a polars-style ``Expr`` that lowers to a PySpark Column.

Reference surface: ``Expr`` variants in polars-plan/src/dsl/expr/mod.rs:66
(Column/Literal/BinaryExpr/Cast/Agg/Ternary/Function/Over/...).  Instead of
building an AST and translating it, each ``Expr`` here *is* its lowering: a
pure function ``ctx -> pyspark.sql.Column`` composed functionally.  All hot
paths stay JVM-side (pyspark.sql.functions only); nothing here creates a
Python UDF.

Order-sensitive expressions (shift/cum_*/diff/rank/...) consume the frame's
hidden order column via ``ctx.order_cols`` — see plans/frame.py for how the
order contract is threaded (SURVEY.md §1.1 "row order" gap).
"""

from __future__ import annotations

import math
import re

import datetime as _dt
import decimal as _decimal
from collections.abc import Iterable
from typing import Any, Callable

from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, DateType, DecimalType, DoubleType, FloatType, IntegralType,
    NumericType, StringType, TimestampNTZType, TimestampType, TimeType,
)

__all__ = ["Expr", "ExprContext", "OrderNeeded", "col", "lit", "when", "all_", "nth"]


class OrderNeeded(ValueError):
    """Raised mid-lowering when an order-sensitive expression lands on a frame
    whose row order is DEFERRED (the file-order contract every plain scan now
    carries — reference: polars DataFrame order is semantic, see
    polars-plan/src/plans/functions/mod.rs:33 RowIndex over scan order).  The
    enclosing frame operation catches it, materializes the hidden order column
    (LazyFrame._materialize_order), and retries the lowering — so queries that
    never consume row order never pay for it (the elision rule of SURVEY §4
    item 1: no input_file_name/window appears in an order-free plan)."""

    def __init__(self) -> None:
        super().__init__(
            "order-sensitive expression needs the deferred scan order materialized"
        )


def _sql_text(c: Column) -> str:
    """``c``'s SQL text without PySpark's ``Column<'…'>`` wrapper."""
    s = str(c)
    return s[8:-2] if s.startswith("Column<'") and s.endswith("'>") else s


def _reference_type(c: Column, known: dict):
    """The type of ``c`` from ``known`` (name -> type) when ``c`` is a bare
    column reference, else None.  The text alone is not proof: a literal
    or a lambda variable can print like a column name."""
    name = _sql_text(c)
    t = known.get(name)
    if t is None or "." in name:  # a dotted reference is a field access
        return None
    try:
        if c._jc.node().getClass().getSimpleName() == "UnresolvedAttribute":
            return t
    except (AttributeError, Py4JError):  # no JVM column (Spark Connect)
        pass
    return None


# What may carry a value of each kind into an expression, matched against
# its SQL text: the type's name (casts, typed literals, constructors such as
# make_dt_interval; a Decimal literal carries its cast, see _typed_lit), how
# Spark prints the kind's untyped literals (a timedelta as PT24H, a string
# quoted), and for booleans every comparison, connective and predicate
# function.
_KIND_MARKERS = {
    k: re.compile(p, re.IGNORECASE)
    for k, p in {
        "boolean": r"[<>=!]|boolean|\b(true|false|and|or|not|in|is\w*|between|case|if"
        r"|\w*like|regexp\w*|contains|startswith|endswith|exists|forall|array_contains"
        r"|arrays_overlap|map_contains_key|bool_\w+|every|some|any|equal_null)\b",
        "interval": r"interval|\bPT-?\d",
        "decimal": r"decimal",
        "date": r"date|\d{4}-\d\d-\d\d",
        "timestamp": r"timestamp|\d{4}-\d\d-\d\d",
        "time": r"time(?!stamp)|\d\d:\d\d",
        "string": r"string|'",
    }.items()
}


def _typed_lit(v) -> Column:
    """``F.lit(v)``, with a Decimal cast to the very ``decimal(p,s)`` Spark
    gives it, a cast the optimizer folds away.  Untyped, a Decimal literal
    prints like a double (``1.5``), so ``ExprContext.may_be`` could tell a
    decimal operand from ``* 0.1`` only by probing both."""
    c = F.lit(v)
    if isinstance(v, _decimal.Decimal) and v.is_finite():
        _sign, digits, exp = v.as_tuple()
        scale = max(-exp, 0)
        prec = max(len(digits) + max(exp, 0), scale)
        if prec <= 38:
            c = c.cast(f"decimal({prec},{scale})")
    return c


class ExprContext:
    """What an expression needs to resolve: the frame's schema + order.

    ``order_cols`` entries are either plain names or ``(name, descending)``
    pairs.  ``_window`` (set by rolling/over contexts) turns aggregate
    expressions into window aggregates.
    """

    __slots__ = ("df", "order_cols", "grouped", "_window", "preps", "_broadcast_aggs", "deferred")

    def __init__(
        self, df, order_cols: list | None = None, grouped: bool = False, preps: list | None = None,
        deferred: bool = False,
    ):
        self.df = df
        self.order_cols = order_cols or []
        self.grouped = grouped
        self._window = None
        # frame has a deferred (not yet materialized) scan-order contract:
        # order-sensitive lowerings raise OrderNeeded so the frame op can
        # materialize the hidden order column and retry
        self.deferred = deferred
        # whole-frame scalar aggregates registered by exprs (see add_scalar);
        # derived contexts share the SAME list so the frame sees them all.
        self.preps = [] if preps is None else preps

    def add_scalar(self, agg_col: Column) -> Column:
        """Register a whole-frame scalar aggregate (min/mean/percentile/...)
        and return a column reference to it.

        The enclosing frame operation computes every registered scalar in ONE
        map-side-partial aggregate and broadcast-cross-joins the 1-row result
        back (LazyFrame._with_scalar_preps) — the scale-safe alternative to
        ``agg.over(Window.partitionBy())``, which would shuffle ALL rows into
        a single partition.
        """
        name = f"__scalar_{len(self.preps)}__"
        self.preps.append((name, agg_col))
        return F.col(name)

    def add_series(self, vals: list) -> Column:
        """Register a driver-local Series used inside an expression
        (pl.min_horizontal(series, ...)): the enclosing frame op attaches
        it as a position-aligned literal-array lookup column
        (LazyFrame._with_scalar_preps) — small driver data by definition,
        shipped with the task binary, no shuffle."""
        name = f"__series_{len(self.preps)}__"
        self.preps.append((name, "series", list(vals)))
        return F.col(name)

    def dtype(self, *cols: Column) -> tuple:
        """The Spark ``DataType`` of each column over this frame; all None
        when there is no frame or analysis fails (callers keep their
        fallback).  The one place lowering asks what type a Column has: a
        polars expression's dtype follows from the schema, but a Column
        gets one only by analysis against a plan.

        A bare column reference is read off the frame's already-analyzed
        schema, free.  Anything else costs one analysis-only
        ``select(...).schema`` for all of ``cols`` together: no job, but
        the frame's whole plan is analyzed again, so a site whose answer
        rarely matters asks ``may_be`` first."""
        none = (None,) * len(cols)
        if self.df is None:
            return none
        try:
            fields = self.df.schema.fields
            known = {f.name: f.dataType for f in fields}
            if len(known) < len(fields):  # duplicate names: let analysis decide
                known = {}
            out = [_reference_type(c, known) for c in cols]
            todo = [i for i, t in enumerate(out) if t is None]
            if todo:
                sch = self.df.select(*[cols[i].alias(f"__dtype{i}__") for i in todo]).schema
                for i, f in zip(todo, sch.fields):
                    out[i] = f.dataType
            return tuple(out)
        except (PySparkException, Py4JError):
            return none

    def may_be(self, c: Column, kinds: tuple[str, ...]) -> bool:
        """The cheap gate in front of ``dtype``: False only when ``c``
        provably has no type of one of ``kinds``, the words of Spark type
        names ("boolean", "interval", "decimal", "time", ...; a nested type
        is of the kinds of its parts).  The proof is textual: no marker of
        a kind in ``c``'s SQL (_KIND_MARKERS) and no reference to a frame
        column of such a type.  Without a frame nothing is proven.  A Python
        or pandas UDF prints its function's name, not its return type, so
        a column holding one proves nothing either.  Spark builds a UDF call
        from a Catalyst expression (an ``ExpressionColumnNode``), not from
        column nodes, and any column holding such a node is let through."""
        if self.df is None:
            return True
        txt = _sql_text(c)
        if any(_KIND_MARKERS[k].search(txt) for k in kinds):
            return True
        if any(
            re.search(rf"(?<!\w){re.escape(f.name)}(?!\w)", txt)
            for f in self.df.schema.fields
            if set(kinds) & set(re.findall("[a-z]+", f.dataType.simpleString()))
        ):
            return True
        try:
            return "ExpressionColumnNode(" in c._jc.node().toString()
        except (AttributeError, Py4JError):  # no JVM column (Spark Connect)
            return True

    def order_specs(self) -> list[tuple[str, bool]]:
        return [(o, False) if isinstance(o, str) else (o[0], bool(o[1])) for o in self.order_cols]

    def order_by_cols(self, reverse: bool = False) -> list[Column]:
        """Resolved ordering columns; raises if the frame has no row order.
        Honors the order spec's nulls placement (an order created by
        sort(nulls_last=True) must replay identically here)."""
        if not self.order_cols:
            if self.deferred:
                raise OrderNeeded()
            raise ValueError(
                "order-sensitive expression used on a frame with no defined row order; "
                "scan with row order enabled, with_row_index(), or sort() first"
            )
        out = []
        for o in self.order_cols:
            if isinstance(o, str):
                n, d, nl = o, False, False
            elif len(o) == 2:
                n, d, nl = o[0], bool(o[1]), False
            else:
                n, d, nl = o[0], bool(o[1]), bool(o[2])
            if reverse:
                d, nl = not d, not nl
            c = F.col(n)
            if d:
                out.append(c.desc_nulls_last() if nl else c.desc_nulls_first())
            else:
                out.append(c.asc_nulls_last() if nl else c.asc_nulls_first())
        return out

    def order_plain_cols(self) -> list[Column]:
        return [F.col(n) for n, _ in self.order_specs()]

    def order_window(self, reverse: bool = False) -> Window:
        return Window.orderBy(*self.order_by_cols(reverse))

    def partition_cols(self) -> list[Column]:
        """Partition columns contributed by an enclosing .over(...) — empty at
        top level.  Value-partitioned ops (rank, is_duplicated, ...) must
        include these so `expr.rank().over(k)` ranks within each group."""
        return []



def _collect_keep_nulls(c: Column, w=None) -> Column:
    """collect_list DROPS nulls; polars group/imploded lists keep them
    (all-null sweep find: implode of an all-null group is [null, ...], not
    []).  Struct-wrap the value — structs are never null — and unwrap."""
    coll = F.collect_list(F.struct(c.alias("__v")))
    if w is not None:
        coll = coll.over(w)
    return F.transform(coll, lambda s: s.getField("__v"))


def _gather_oob_guard(arr: Column, idx: Column, val: Column) -> Column:
    """polars null_on_oob=False contract: an out-of-bounds gather/get index
    RAISES (ComputeError 'gather indices are out of bounds'), it does not
    yield null.  Null list or null index stays null (not an OOB)."""
    oob = (
        arr.isNotNull()
        & idx.isNotNull()
        & F.when(idx >= 0, idx >= F.size(arr)).otherwise(-idx > F.size(arr))
    )
    return F.when(
        oob, F.raise_error(F.lit("gather indices are out of bounds"))
    ).otherwise(val)


def _ewm_alpha(com, span, half_life, alpha) -> float:
    """The smoothing factor of an ewm call, by the reference rules
    (polars ``_prepare_alpha``): exactly one of the four, range-checked."""
    if sum(p is not None for p in (com, span, half_life, alpha)) > 1:
        raise ValueError("parameters `com`, `span`, `half_life`, and `alpha` are mutually exclusive")
    if com is not None:
        if com < 0.0:
            raise ValueError(f"require `com` >= 0 (found {com!r})")
        return 1.0 / (1.0 + com)
    if span is not None:
        if span < 1.0:
            raise ValueError(f"require `span` >= 1 (found {span!r})")
        return 2.0 / (span + 1.0)
    if half_life is not None:
        if half_life <= 0.0:
            raise ValueError(f"require `half_life` > 0 (found {half_life!r})")
        return 1.0 - math.exp(-math.log(2.0) / half_life)
    if alpha is None:
        raise ValueError("one of `com`, `span`, `half_life`, or `alpha` must be set")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"require 0 < `alpha` <= 1 (found {alpha!r})")
    return float(alpha)


# The ewm recurrences (polars-compute/src/ewm/), each written once as an
# ``(init, step, fin)`` triple for ``_ewm_fold``: ``init`` maps state fields
# to start values, ``step(acc, s)`` gives the next state fields for struct
# element ``s`` (``s["x"]`` may be null: a null decays the weights, the
# reference ``ignore_nulls=False`` rule), ``fin(acc)`` is the output.  The
# op order on non-null elements is the one ``frame._ewm_spec_loop`` replays.


def _ewm_mean_adjust(d):
    def step(acc, s):
        x = s["x"]
        return {
            "num": F.when(x.isNull(), acc["num"] * d).otherwise(acc["num"] * d + x),
            "den": F.when(x.isNull(), acc["den"] * d).otherwise(acc["den"] * d + 1.0),
        }

    return {"num": 0.0, "den": 0.0}, step, lambda acc: acc["num"] / acc["den"]


def _ewm_mean_rec(d, alpha):
    """y = x first; y·d + a·x while the weight is 1; after a null gap has
    decayed the weight w, y + (x - y)·a/(w·d + a) (reference mean.rs)."""

    def step(acc, s):
        x = s["x"]
        first = acc["nn"] == 0
        return {
            "y": F.when(x.isNull(), acc["y"])
            .when(first, x)
            .when(acc["w"] == 1.0, acc["y"] * d + alpha * x)
            .otherwise(acc["y"] + (x - acc["y"]) * (alpha / (acc["w"] * d + alpha))),
            "w": F.when(x.isNull(), F.when(first, acc["w"]).otherwise(acc["w"] * d))
            .otherwise(F.lit(1.0)),
        }

    return {"y": 0.0, "w": 1.0}, step, lambda acc: acc["y"]


def _ewm_sum(d):
    def step(acc, s):
        x = s["x"]
        return {"s": F.when(x.isNull(), acc["s"] * d).otherwise(acc["s"] * d + x)}

    return {"s": 0.0}, step, lambda acc: acc["s"]


def _ewm_var_out(varb, ws, wss, bias, std):
    """(Σw)²/((Σw)² − Σw²) bias correction, clamp at 0, sqrt for std."""
    if not bias:
        denom = ws * ws - wss
        varb = F.when(denom > 0, varb * ws * ws / denom)
    varb = F.greatest(varb, F.lit(0.0))
    return F.sqrt(varb) if std else varb


def _ewm_var_moments(d, bias, std):
    """adjust=True: weighted moments (Σw·x, Σw, Σw², Σw·x²)."""

    def step(acc, s):
        x = s["x"]
        isnull = x.isNull()
        return {
            "s1": F.when(isnull, acc["s1"] * d).otherwise(acc["s1"] * d + x),
            "s0": F.when(isnull, acc["s0"] * d).otherwise(acc["s0"] * d + 1.0),
            "s2": F.when(isnull, acc["s2"] * d * d).otherwise(acc["s2"] * d * d + 1.0),
            "sx2": F.when(isnull, acc["sx2"] * d).otherwise(acc["sx2"] * d + x * x),
        }

    def fin(acc):
        m = acc["s1"] / acc["s0"]
        return _ewm_var_out(acc["sx2"] / acc["s0"] - m * m, acc["s0"], acc["s2"], bias, std)

    return {"s1": 0.0, "s0": 0.0, "s2": 0.0, "sx2": 0.0}, step, fin


def _ewm_var_rec(d, alpha, bias, std):
    """adjust=False: the reference recursion (cov.rs with x == y).  The
    per-step ws/wss/weight normalization makes the accumulated past count as
    weight exactly 1, which a raw weighted-moment fold cannot reproduce
    after a null gap."""

    def step(acc, s):
        x = s["x"]
        isnull = x.isNull()
        first = acc["nn"] == 0
        wd = acc["w"] * d
        nw = wd + alpha
        nm = acc["mean"] + (x - acc["mean"]) * (alpha / nw)
        ncov = (
            wd * (acc["cov"] + (acc["mean"] - nm) * (acc["mean"] - nm))
            + alpha * (x - nm) * (x - nm)
        ) / nw
        return {
            "mean": F.when(isnull, acc["mean"]).when(first, x).otherwise(nm),
            "cov": F.when(isnull, acc["cov"]).when(first, F.lit(0.0)).otherwise(ncov),
            "w": F.when(isnull, F.when(first, acc["w"]).otherwise(wd)).otherwise(F.lit(1.0)),
            "ws": F.when(isnull, F.when(first, acc["ws"]).otherwise(acc["ws"] * d))
            .when(first, F.lit(1.0))
            .otherwise((acc["ws"] * d + alpha) / nw),
            "wss": F.when(isnull, F.when(first, acc["wss"]).otherwise(acc["wss"] * d * d))
            .when(first, F.lit(1.0))
            .otherwise((acc["wss"] * d * d + alpha * alpha) / (nw * nw)),
        }

    def fin(acc):
        return _ewm_var_out(acc["cov"], acc["ws"], acc["wss"], bias, std)

    init = {"mean": 0.0, "cov": 0.0, "w": 1.0, "ws": 0.0, "wss": 0.0}
    return init, step, fin


def _ewm_time_decay(tau, normalize):
    """ewm_mean_by / ewm_sum_by: weight 0.5^(Δt/τ) on the past over
    irregular intervals; the mean gives the new value 1 - 0.5^(Δt/τ)."""

    def step(acc, s):
        decay = F.pow(F.lit(0.5), (s["t"] - acc["pt"]) / tau)
        x = (1.0 - decay) * s["x"] if normalize else s["x"]
        return {
            "y": F.when(acc["nn"] == 0, s["x"]).otherwise(decay * acc["y"] + x),
            "pt": s["t"].cast("double"),
        }

    return {"y": 0.0, "pt": 0.0}, step, lambda acc: acc["y"]


def _ewm_fold(ctx: "ExprContext", elem: Column, rec, *, ignore_nulls: bool, min_samples: int) -> Column:
    """Lower one ewm recurrence ``rec`` over struct elements ``elem`` (field
    ``x``, plus whatever the recurrence reads): each row folds its own
    prefix in frame order.

    - a window (top level or ``.over``): ``collect_list`` over the
      order window up to the current row;
    - a group (``group_by().agg``): the group's ordered array, sliced to
      each position, so the result is one list per group with the group's
      length (polars' implicit implode of a length-preserving expr).

    ``ignore_nulls`` drops null elements before the fold; otherwise they
    reach ``step`` and decay the weights.  A null input gives a null output,
    and ``min_samples`` gates on the non-null count ``nn`` that the fold
    keeps next to the recurrence's own state.

    Each row re-folds its whole prefix: exact, but O(n²) per partition, so
    this path suits bounded series (nested compositions, grouped lists).
    A top-level ewm expression (``_ewm_spec``) is instead hoisted into one
    O(n) streaming pass per key set (``LazyFrame._hoist_ewm``) that replays
    the same IEEE op sequence."""
    init, step, fin = rec
    acc0 = F.struct(*[F.lit(v).alias(k) for k, v in init.items()], F.lit(0).alias("nn"))

    def step_nn(acc, s):
        fields = [c.alias(k) for k, c in step(acc, s).items()]
        nn = acc["nn"] + F.when(s["x"].isNull(), 0).otherwise(1)
        return F.struct(*fields, nn.alias("nn"))

    def fold(prefix):
        if ignore_nulls:
            prefix = F.filter(prefix, lambda s: s["x"].isNotNull())
        return F.aggregate(
            prefix, acc0, step_nn, lambda acc: F.when(acc["nn"] >= min_samples, fin(acc))
        )

    if ctx.grouped and getattr(ctx, "_window", None) is None:
        arr = _grouped_ordered_array(ctx, elem)
        return F.transform(
            arr, lambda s, i: F.when(s["x"].isNotNull(), fold(F.slice(arr, 1, i + 1)))
        )
    w = ctx.order_window().rowsBetween(Window.unboundedPreceding, 0)
    return F.when(elem["x"].isNotNull(), fold(F.collect_list(elem).over(w)))


def _ewm_expr(parent: "Expr", rec, *, ignore_nulls: bool, min_samples: int = 1, elem=None, spec=None) -> "Expr":
    """The ewm expression over ``parent``: ``_ewm_fold`` of ``rec`` over the
    elements ``{x: parent}``, or ``elem(ctx, x)``; ``spec`` (kind, alpha,
    ...) marks it for the hoisted kernel."""

    def fn(ctx: ExprContext) -> Column:
        x = parent._resolve(ctx).cast("double").alias("x")
        s = elem(ctx, x) if elem is not None else F.struct(x)
        return _ewm_fold(ctx, s, rec, ignore_nulls=ignore_nulls, min_samples=min_samples)

    e = Expr(fn, parent._name)
    e._ctx_agg = True  # the grouped branch is already a list per group
    if spec is not None:
        alpha = spec["alpha"]
        e._ewm_spec = {
            **spec,
            "parent": parent,
            "decay": 1.0 - alpha,
            "ignore_nulls": ignore_nulls,
            "min_samples": min_samples,
        }
    return e


def _grouped_ordered_array(ctx: "ExprContext", c: Column) -> Column:
    """The group's values as an ORDERED array (agg context): row-order
    sorted when the frame has an order, OrderNeeded when it is deferred —
    the building block for sequence-valued aggs (grouped ewm)."""
    if ctx.order_cols:
        pairs = F.collect_list(F.struct(*ctx.order_plain_cols(), c.alias("__v")))
        return F.transform(F.array_sort(pairs), lambda s: s.getField("__v"))
    if ctx.deferred:
        raise OrderNeeded()
    return _collect_keep_nulls(c)


def _element_agg(ctx, parent: "Expr", kind: str, *a, **k) -> Column:
    """list.agg / arr.agg lowering (reference expr/list.py list_agg): the
    elementwise prefix of the expression runs inside a JVM-side
    ``transform`` over the source array; the reduction itself delegates to
    the ListNamespace implementation of the same aggregate (identical
    dtype/null rules) — no explode, no shuffle, one projection."""
    from polars_spark.plans import namespaces as _ns

    base = ExprContext(ctx.df, ctx.order_cols, ctx.grouped, preps=ctx.preps, deferred=ctx.deferred)
    arr0 = ctx.arr_col

    def vals_fn(_c, _p=parent):
        return F.transform(
            arr0, lambda x: _p._resolve(_ns._ElementContext(base, x, arr0))
        )

    vals = Expr(vals_fn, "vals")
    if kind == "count":
        return F.size(F.filter(vals._resolve(base), lambda x: x.isNotNull())).cast("bigint")
    if kind == "null_count":
        return F.size(F.filter(vals._resolve(base), lambda x: x.isNull())).cast("bigint")
    if kind == "drop_nulls":
        return F.filter(vals._resolve(base), lambda x: x.isNotNull())
    return getattr(_ns.ListNamespace(vals), kind)(*a, **k)._resolve(base)


def _wover(ctx: "ExprContext", c: Column) -> Column:
    """Apply the enclosing window (rolling/over/cumulative_eval contexts) to
    a raw aggregate Column — every aggregate closure that does not route
    through _agg must call this so `agg.over(keys)` and cumulative_eval
    lower correctly.

    In a broadcast-aggregate context (a projection mixing aggregates with
    row-level values — polars broadcasts the scalar), the raw aggregate is
    registered as a whole-frame scalar prep instead: one partial aggregate
    broadcast-cross-joined back, never a single-partition window."""
    w = getattr(ctx, "_window", None)
    if w is not None:
        return c.over(w)
    if getattr(ctx, "_broadcast_aggs", False) and not ctx.grouped:
        return ctx.add_scalar(c)
    return c

def _to_expr(v: Any) -> "Expr":
    if isinstance(v, Expr):
        return v
    if type(v).__name__ == "Series" and hasattr(v, "to_list"):
        # a driver-local Series inside an expression: position-aligned
        # lookup column registered on the context (add_series)
        vals = v.to_list()
        name = getattr(v, "name", "") or "series"
        return Expr(lambda ctx, _v=vals: ctx.add_series(_v), name)
    return lit(v)


_NO_DEFAULT = object()  # replace_strict absent-vs-None default sentinel


def _col_of(v: Any, ctx: ExprContext) -> Column:
    return _to_expr(v)._resolve(ctx)


_NUMERIC_DIV = {"tinyint", "smallint", "int", "bigint", "float", "double", "boolean"}
# operand kinds for which `/` keeps Spark's native division
_DIV_KINDS = ("decimal", "interval", "date", "timestamp", "time")

# (min, max) of the Spark types Expr.lower_bound/upper_bound are defined for
_SPARK_BOUNDS = {
    "tinyint": (-128, 127),
    "smallint": (-32768, 32767),
    "int": (-2147483648, 2147483647),
    "bigint": (-9223372036854775808, 9223372036854775807),
    "float": (float("-inf"), float("inf")),
    "double": (float("-inf"), float("inf")),
}


def _time_ns(c: Column) -> Column:
    """Nanoseconds since midnight of a native TIME column (polars Time's
    physical Int64)."""
    sec = F.split(c.cast("string"), ":")[2]  # "ss[.ffffff]"
    return (
        F.hour(c).cast("bigint") * F.lit(3_600_000_000_000)
        + F.minute(c).cast("bigint") * F.lit(60_000_000_000)
        + (sec.cast("decimal(16,9)") * F.lit(1_000_000_000)).cast("bigint")
    )


# unsigned dtypes map to the next-wider SIGNED Spark type (UInt8->smallint…),
# so the Spark cast alone cannot enforce the polars value range; the grammar
# gate checks it explicitly.  UInt128's max exceeds decimal(38,0) so only the
# non-negative half is checkable (the decimal cast nulls >38-digit overflow).
_UINT_MAX = {
    "UInt8": 255,
    "UInt16": 65535,
    "UInt32": 4294967295,
    "UInt64": 18446744073709551615,
}


def _dtype_key(dtype) -> str:
    """Resolve a dtype spec (class, instance, or string name) to its polars
    name — the same resolution _dtype_to_spark uses, so 'UInt32'-as-string
    is detected as unsigned just like pl.UInt32 (round-8 ADVICE)."""
    if isinstance(dtype, str):
        return dtype
    if hasattr(dtype, "__name__"):
        return dtype.__name__
    return type(dtype).__name__


def _str_grammar_cast(
    ctx: ExprContext,
    c: Column,
    spark_type: str,
    unsigned: bool,
    strict: bool,
    umax: int | None = None,
) -> Column:
    """polars str->numeric parse grammar (reference polars-compute/src/cast/
    binary_to.rs: ``atoi_simd`` for ints, ``fast_float2`` for floats — NO
    whitespace trimming, full-string match; unsigned rejects '-').  Spark's
    CAST trims and accepts more (' 7' -> 7), so string operands are gated on
    the polars grammar.  ``typeof()`` keeps this probe-free: no plan
    re-analysis, the branch stays inside whole-stage codegen, and non-string
    operands take the plain cast unchanged.  An operand that
    ``ctx.may_be`` proves no string gets the plain cast without the
    ``typeof`` branch, which is the plan the optimizer folds the branch to;
    the branch's string literals would otherwise be string markers to
    ``may_be`` in every expression built on the cast.  ``unsigned``/``umax``
    add the polars VALUE range for unsigned targets (Spark's signed carrier
    type is wider, so '300' -> UInt8 must yield null/raise, not 300)."""
    res = c.cast(spark_type) if strict else c.try_cast(spark_type)
    if ctx.may_be(c, ("string",)):
        is_str = F.typeof(c) == F.lit("string")
        if spark_type in ("float", "double"):
            pat = r"^[+-]?((\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|(?i:inf|infinity|nan))$"
            # fast_float2 parses SIGNED specials ('-nan' -> NaN) but Spark's
            # special-literal table has unsigned 'nan' only -> canonicalize.
            # Both CASE branches are built AT the target type (a typed NaN
            # literal vs the operand's own cast) so the expression's result
            # type never rides Spark's string-promotion rules for non-string
            # operands (ADVICE r9) — and the branch stays probe-free.
            signed_nan = is_str & c.cast("string").rlike(r"^[+-](?i:nan)$")
            res = F.when(signed_nan, F.lit(float("nan")).cast(spark_type)).otherwise(res)
        else:
            pat = r"^\+?\d+$" if unsigned else r"^[+-]?\d+$"
        ok = F.when(is_str, c.cast("string").rlike(pat)).otherwise(F.lit(True))
        if strict:
            err = F.raise_error(
                F.concat(
                    F.lit(f"conversion from `str` to `{spark_type}` failed for value: "),
                    c.cast("string"),
                )
            )
            res = F.when(ok | c.isNull(), res).otherwise(err)
        else:
            res = F.when(ok, res)

    conds = []
    if unsigned:
        conds.append(res >= F.lit(0))
    if umax is not None:
        conds.append(res <= F.lit(str(umax)).cast(spark_type))
    if not conds:
        return res
    rng = conds[0]
    for x in conds[1:]:
        rng = rng & x
    if not strict:
        return F.when(res.isNull() | rng, res)
    return F.when(res.isNull() | rng, res).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"conversion to unsigned `{spark_type}` failed: out-of-range value "),
                c.cast("string"),
            )
        )
    )


class DecimalScaleFallbackWarning(UserWarning):
    """A decimal multiplication could not be bridged to the polars scale
    rule (max(s1,s2), half-even) because no schema context was available —
    the result carries Spark's native product scale s1+s2 instead.  Raised
    so the miss is DETECTABLE (ADVICE r9): silent Spark-scaling inside an
    agg context would otherwise look like a wrong answer with no trail."""


def _decimal_scales(a: Column, b: Column, ctx) -> tuple | None:
    """(s1, s2) when the operands are decimal/integer with AT LEAST one
    decimal — the shape where the polars result-scale rule applies
    (polars-core/src/chunked_array/arithmetic/decimal.rs: result scale =
    max(s1, s2), precision = DEC128_MAX_PREC, dropped digits rounded
    half-to-even; supertype.rs:467 folds integers in at scale 0).  Returns
    None when the operands are definitively non-decimal, and warns with
    DecimalScaleFallbackWarning when decimals MIGHT be in play but the
    schema context is missing or the probe failed (ctx.df None in agg
    contexts) — the fallback is then Spark's native scale, which must be
    detectable rather than silent."""
    import warnings

    if getattr(ctx, "df", None) is None:
        if _KIND_MARKERS["decimal"].search(f"{_sql_text(a)} {_sql_text(b)}"):
            warnings.warn(
                "decimal multiplication without schema context: result keeps "
                "Spark's native scale s1+s2, not polars' max(s1,s2); cast the "
                "result explicitly if the polars scale is required",
                DecimalScaleFallbackWarning,
                stacklevel=3,
            )
        return None
    if not (ctx.may_be(a, ("decimal",)) or ctx.may_be(b, ("decimal",))):
        return None
    ts = ctx.dtype(a, b)
    if None in ts:
        warnings.warn(
            "decimal scale probe failed; multiplication keeps Spark's native "
            "scale s1+s2, not polars' max(s1,s2)",
            DecimalScaleFallbackWarning,
            stacklevel=3,
        )
        return None
    return _scales(ts)


def _scales(ts) -> tuple | None:
    """Decimal scales of operand types (integers at scale 0) when at least
    one is decimal and none is anything else."""
    if not any(isinstance(t, DecimalType) for t in ts):
        return None
    if not all(isinstance(t, (DecimalType, IntegralType)) for t in ts):
        return None
    return tuple(getattr(t, "scale", 0) for t in ts)


def _decimal_mul(a: Column, b: Column, ctx) -> Column:
    """polars decimal multiplication: Spark's native product carries scale
    s1+s2; polars rounds back to max(s1, s2) half-to-even (dec128_mul).
    bround IS half-even, so the bridge is one rounding + cast.  NOTE when
    the native product would overflow precision 38, Spark applies its own
    precision-loss rounding BEFORE our bround — half-even then operates on
    an already-rounded value; keep operand precision <= 19 apiece where
    exactness through the bridge matters (the fuzz family pins 18)."""
    sc = _decimal_scales(a, b, ctx)
    if sc is None:
        return a * b
    s = max(sc)
    return F.bround(a * b, s).cast(f"decimal(38,{s})")


_decimal_mul._wants_ctx = True


def _ieee_div(a: Column, b: Column, ctx) -> Column:
    """polars true division (Operator::TrueDivide): numeric `/` is IEEE
    Float64 — x/0 -> ±inf, 0/0 -> NaN, null/0 -> null — NEVER the ANSI
    DIVIDE_BY_ZERO error Spark 4 raises by default (surfaced by the
    empty-table sweep: any 100 TB pipeline hits a zero divisor eventually).

    Non-numeric operands (duration/interval, decimal) keep Spark's native
    `/` so their result TYPE is preserved — their zero-divisor behavior is
    the engine's (polars decimal div by zero errors too)."""
    ts = (DoubleType(), DoubleType())
    if ctx.may_be(a, _DIV_KINDS) or ctx.may_be(b, _DIV_KINDS):
        ts = ctx.dtype(a, b)
    if any(isinstance(t, DecimalType) for t in ts):
        # polars decimal division: result scale = max(s1, s2) (integers at
        # scale 0), dropped digits rounded half-to-even (dec128_div); the
        # zero-divisor ERROR is shared polars/Spark-ANSI behavior.  Spark's
        # native quotient carries >= 6 guard digits past any polars scale,
        # so the bround sees the exact leading digits in practice.
        sc = _scales(ts)
        if sc is None:
            return a / b
        return F.bround(a / b, max(sc)).cast(f"decimal(38,{max(sc)})")
    if None in ts or not all(t.simpleString() in _NUMERIC_DIV for t in ts):
        return a / b
    d, e = a.cast("double"), b.cast("double")
    q = d / F.nullif(e, F.lit(0.0))  # divisor never 0 -> ANSI-safe
    # IEEE sign of a ZERO divisor: -0.0 renders as "-0.0" (cast to string)
    neg_zero = e.cast("string").startswith("-")
    sgn = F.when(neg_zero, F.lit(-1.0)).otherwise(F.lit(1.0))
    zero_case = (
        F.when(d.isNull(), F.lit(None).cast("double"))
        .when(F.isnan(d) | (d == 0), F.lit(float("nan")))
        .otherwise(F.signum(d) * sgn * F.lit(float("inf")))
    )
    return F.when(e == 0, zero_case).otherwise(q)


_ieee_div._wants_ctx = True


class Expr:
    def __init__(
        self,
        fn: Callable[[ExprContext], Column],
        name: str = "literal",
        is_agg: bool = False,
    ):
        self._fn = fn
        self._name = name
        self._is_agg = is_agg

    # -- plumbing ---------------------------------------------------------
    def _resolve(self, ctx: ExprContext) -> Column:
        return self._fn(ctx)

    def _named(self, ctx: ExprContext) -> Column:
        return self._fn(ctx).alias(self._name)

    def _map(self, f: Callable[[Column], Column], name: str | None = None, is_agg: bool | None = None) -> "Expr":
        """New Expr applying ``f`` to this expr's resolved column."""
        return Expr(
            lambda ctx: f(self._resolve(ctx)),
            name if name is not None else self._name,
            self._is_agg if is_agg is None else is_agg,
        )

    def _zip(self, other: Any, f: Callable[[Column, Column], Column], name: str | None = None) -> "Expr":
        if getattr(other, "_selector", None) is not None:
            # a plain Expr combined with a selector/chain on the RIGHT
            # (pl.lit(10) / pl.all()): becomes a chain expanded per column
            from polars_spark.selectors import _SelectorChain

            base = getattr(other, "_chain_fn", None) or (lambda e: e)

            def chain_fn(e, _b=base, _f=f):
                ce = _b(e)
                if getattr(_f, "_wants_ctx", False):
                    return Expr(
                        lambda ctx: _f(self._resolve(ctx), ce._resolve(ctx), ctx),
                        ce._name,
                    )
                return Expr(
                    lambda ctx: _f(self._resolve(ctx), ce._resolve(ctx)), ce._name
                )

            return _SelectorChain(
                other._selector, chain_fn, "op",
                expand=getattr(other, "_schema_expand", None),
            )
        o = _to_expr(other)
        if getattr(f, "_wants_ctx", False):
            return Expr(
                lambda ctx: f(self._resolve(ctx), o._resolve(ctx), ctx),
                name if name is not None else self._name,
                self._is_agg or o._is_agg,
            )
        return Expr(
            lambda ctx: f(self._resolve(ctx), o._resolve(ctx)),
            name if name is not None else self._name,
            self._is_agg or o._is_agg,
        )

    def __repr__(self) -> str:
        return f"<Expr {self._name!r}{' agg' if self._is_agg else ''}>"

    # -- naming -----------------------------------------------------------
    def alias(self, name: str) -> "Expr":
        e = Expr(self._fn, name, self._is_agg)
        e._alias_of = self  # meta.undo_aliases support
        if hasattr(self, "_vc_parent"):  # value_counts select-rewrite marker
            e._vc_parent = self._vc_parent
            e._vc_opts = self._vc_opts
        if hasattr(self, "_select_rewrite"):
            parent_rewrite = self._select_rewrite

            def renamed(lf, _pr=parent_rewrite, _nm=name):
                return _rename_first(_pr(lf), _nm)

            e._select_rewrite = renamed
        if getattr(self, "_ewm_spec", None) is not None:
            e._ewm_spec = self._ewm_spec
            if hasattr(self, "_ewm_parts"):
                e._ewm_parts = self._ewm_parts
        if getattr(self, "_ctx_agg", False):
            e._ctx_agg = True
        return e

    @property
    def meta(self):
        return ExprMetaNamespace(self)

    @property
    def name(self):
        from polars_spark.plans.namespaces import ExprNameNamespace

        return ExprNameNamespace(self)

    # -- namespaces ---------------------------------------------------------
    @property
    def str(self):
        from polars_spark.plans.namespaces import StringNamespace

        return StringNamespace(self)

    @property
    def dt(self):
        from polars_spark.plans.namespaces import DateTimeNamespace

        return DateTimeNamespace(self)

    @property
    def list(self):
        from polars_spark.plans.namespaces import ListNamespace

        return ListNamespace(self)

    arr = list  # fixed-size arrays share ArrayType lowering (SURVEY §1.2)

    @property
    def struct(self):
        from polars_spark.plans.namespaces import StructNamespace

        return StructNamespace(self)

    @property
    def bin(self):
        from polars_spark.plans.namespaces import BinaryNamespace

        return BinaryNamespace(self)

    @property
    def cat(self):
        from polars_spark.plans.namespaces import CatNamespace

        return CatNamespace(self)

    # -- arithmetic ---------------------------------------------------------
    def __add__(self, o):
        if isinstance(o, str):
            # a string literal operand: polars concatenates
            return self._zip(o, lambda a, b: F.concat(a, b))
        if getattr(o, "_selector", None) is not None:
            return self._zip(o, lambda a, b: a + b)
        oe = _to_expr(o)
        parent = self

        def fn(ctx: ExprContext) -> Column:
            a, b = parent._resolve(ctx), oe._resolve(ctx)
            # polars `+` on string columns CONCATENATES (Spark's + would
            # cast-error)
            if ctx.may_be(a, ("string",)) and isinstance(ctx.dtype(a)[0], StringType):
                return F.concat(a, b)
            return a + b

        return Expr(fn, self._name, self._is_agg or oe._is_agg)

    def __radd__(self, o):
        if isinstance(o, str):
            return _to_expr(o)._zip(self, lambda a, b: F.concat(a, b), self._name)
        return _to_expr(o).__add__(self).alias(self._name)

    def __sub__(self, o):
        return self._zip(o, lambda a, b: a - b)

    def __rsub__(self, o):
        return _to_expr(o)._zip(self, lambda a, b: a - b, self._name)

    def __mul__(self, o):
        return self._zip(o, _decimal_mul)

    def __rmul__(self, o):
        return _to_expr(o)._zip(self, _decimal_mul, self._name)

    def __truediv__(self, o):
        return self._zip(o, _ieee_div)

    def __rtruediv__(self, o):
        return _to_expr(o)._zip(self, _ieee_div, self._name)

    def __floordiv__(self, o):
        # polars FloorDivide (Operator::FloorDivide, dsl/expr/mod.rs:683);
        # zero divisor -> null (polars checked int floordiv), never the
        # ANSI DIVIDE_BY_ZERO error
        return self._zip(
            o,
            lambda a, b: F.when(b == 0, F.lit(None)).otherwise(
                F.floor(a / F.nullif(b, F.lit(0)))
            ),
        )

    def __mod__(self, o):
        # zero divisor -> null (polars checked int remainder) instead of
        # the ANSI DIVIDE_BY_ZERO error; NaN divisors pass through (-> NaN)
        return self._zip(
            o,
            lambda a, b: F.when(b == 0, F.lit(None)).otherwise(
                a % F.nullif(b, F.lit(0))
            ),
        )

    def __pow__(self, o):
        return self._zip(o, lambda a, b: F.pow(a, b))

    def __rpow__(self, o):
        return self._zip(o, lambda a, b: F.pow(b, a))

    def __rmod__(self, o):
        return self._zip(o, lambda a, b: b % a)

    def __rfloordiv__(self, o):
        return self._zip(o, lambda a, b: F.floor(b / a))

    def __neg__(self):
        return self._map(lambda c: -c)

    # -- comparison ----------------------------------------------------------
    def __eq__(self, o):  # type: ignore[override]
        return self._zip(o, lambda a, b: a == b)

    def __ne__(self, o):  # type: ignore[override]
        return self._zip(o, lambda a, b: a != b)

    # __eq__ returning an Expr would otherwise set __hash__ to None, making
    # Expr unusable as a dict key / set member (same trap polars handles).
    __hash__ = object.__hash__

    def __lt__(self, o):
        return self._zip(o, lambda a, b: a < b)

    def __le__(self, o):
        return self._zip(o, lambda a, b: a <= b)

    def __gt__(self, o):
        return self._zip(o, lambda a, b: a > b)

    def __ge__(self, o):
        return self._zip(o, lambda a, b: a >= b)

    def eq_missing(self, o):
        # polars Operator::EqValidity -> Spark null-safe equality
        return self._zip(o, lambda a, b: a.eqNullSafe(b))

    def ne_missing(self, o):
        return self._zip(o, lambda a, b: ~a.eqNullSafe(b))

    # -- boolean --------------------------------------------------------------
    def __and__(self, o):
        return self._zip(o, lambda a, b: a & b)

    def __rand__(self, o):
        return _to_expr(o)._zip(self, lambda a, b: a & b, self._name)

    def __or__(self, o):
        return self._zip(o, lambda a, b: a | b)

    def __ror__(self, o):
        return _to_expr(o)._zip(self, lambda a, b: a | b, self._name)

    def __xor__(self, o):
        oe = _to_expr(o)

        def fn(ctx: ExprContext) -> Column:
            a, b = self._resolve(ctx), oe._resolve(ctx)
            # booleans need logical xor (!=); ints bitwise
            if isinstance(ctx.dtype(a)[0], BooleanType):
                return a != b
            return a.bitwiseXOR(b)

        return Expr(fn, self._name, self._is_agg or oe._is_agg)

    def __rxor__(self, o):
        return _to_expr(o).__xor__(self)

    def __invert__(self):
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            (t,) = ctx.dtype(c)
            if t is not None and not isinstance(t, BooleanType):
                # reference not_: integers invert bitwise (expr/expr.py:1142)
                return F.bitwise_not(c)
            return ~c

        return Expr(fn, self._name, self._is_agg)

    def not_(self):
        return self.__invert__()

    # -- null / nan -------------------------------------------------------
    def is_null(self):
        return self._map(lambda c: c.isNull())

    def is_not_null(self):
        return self._map(lambda c: c.isNotNull())

    def is_nan(self):
        # polars: null in -> null out (Spark isnan(null) is false)
        return self._map(lambda c: F.when(c.isNotNull(), F.isnan(c)))

    def is_not_nan(self):
        return self._map(lambda c: F.when(c.isNotNull(), ~F.isnan(c)))

    def is_finite(self):
        return self._map(lambda c: ~F.isnan(c) & (F.abs(c) != F.lit(float("inf"))))

    def is_infinite(self):
        return self._map(lambda c: F.abs(c) == F.lit(float("inf")))

    def fill_null(self, value=None, strategy: str | None = None, limit=None):
        if strategy is None:
            if getattr(value, "_chain_fn", None) is not None:
                # a selector chain value (pl.all().fill_null(pl.all()
                # .median())): inside per-column expansion both sides bind
                # to the SAME column
                value = value._chain_fn(col(self._name))
            v = _to_expr(value)
            if v._is_agg:
                # fill with an AGGREGATE expr (col.fill_null(col.median())):
                # the aggregate becomes a whole-frame broadcast scalar (or a
                # per-group window under .over) — never a global window
                def fn_agg(ctx: ExprContext) -> Column:
                    c = self._resolve(ctx)
                    pcols = ctx.partition_cols()
                    if pcols:
                        return F.coalesce(
                            c, v._resolve(ctx).over(Window.partitionBy(*pcols))
                        )
                    return F.coalesce(c, ctx.add_scalar(v._resolve(ctx)))

                return Expr(fn_agg, self._name)
            return self._zip(v, lambda a, b: F.coalesce(a, b))
        if strategy in ("forward", "backward"):
            def fn(ctx: ExprContext) -> Column:
                c = self._resolve(ctx)
                w = ctx.order_window()
                if strategy == "forward":
                    w2 = w.rowsBetween(Window.unboundedPreceding, 0)
                    filled = F.last(c, ignorenulls=True).over(w2)
                else:
                    w2 = w.rowsBetween(0, Window.unboundedFollowing)
                    filled = F.first(c, ignorenulls=True).over(w2)
                if limit is None:
                    return filled
                # polars limit: fill at most `limit` CONSECUTIVE nulls per
                # run — a null row qualifies iff its distance to the nearest
                # non-null row (in the fill direction) is <= limit.  Same
                # window pass: the non-null row number rides last()/first()
                # exactly like the value does.
                rn = F.row_number().over(w)
                marker = F.when(c.isNotNull(), rn)
                if strategy == "forward":
                    nn_rn = F.last(marker, ignorenulls=True).over(w2)
                    near = rn - nn_rn
                else:
                    nn_rn = F.first(marker, ignorenulls=True).over(w2)
                    near = nn_rn - rn
                return F.when(c.isNotNull(), c).when(
                    near <= F.lit(int(limit)), filled
                )

            return Expr(fn, self._name)
        if strategy in ("min", "max", "mean"):
            agg = {"min": F.min, "max": F.max, "mean": F.mean}[strategy]

            def fn_scalar(ctx: ExprContext) -> Column:
                c = self._resolve(ctx)
                pcols = ctx.partition_cols()
                if pcols:  # under .over(keys): per-group fill, partitioned window
                    return F.coalesce(c, agg(c).over(Window.partitionBy(*pcols)))
                # global fill: broadcast scalar, never a single-partition window
                return F.coalesce(c, ctx.add_scalar(agg(c)))

            return Expr(fn_scalar, self._name)
        if strategy == "zero":
            return self._map(lambda c: F.coalesce(c, F.lit(0)))
        if strategy == "one":
            return self._map(lambda c: F.coalesce(c, F.lit(1)))
        raise ValueError(f"unknown fill_null strategy {strategy!r}")

    def forward_fill(self, limit=None):
        return self.fill_null(strategy="forward", limit=limit)

    def backward_fill(self, limit=None):
        return self.fill_null(strategy="backward", limit=limit)

    def fill_nan(self, value):
        v = _to_expr(value)
        return self._zip(v, lambda a, b: F.when(F.isnan(a), b).otherwise(a))

    def drop_nulls(self):  # expression-level: handled at frame level mostly
        parent = self

        def fn(ctx: ExprContext) -> Column:
            if getattr(ctx, "element_agg", False):
                return _element_agg(ctx, parent, "drop_nulls")
            return parent._resolve(ctx)

        out = Expr(fn, self._name, self._is_agg)
        out._elem_group_op = True  # list.agg must use the element-agg ctx
        return out

    def null_count(self):
        return self._agg(lambda c: F.count(F.when(c.isNull(), 1)), _elem_kind="null_count")

    # -- casts / conversions ----------------------------------------------
    def _resolve_dtype_expr(self, dtype, ctx) -> str:
        """Resolve a DataTypeExpr against this expression's context (owner
        dtype for pl.self_dtype computed by an analysis-only select)."""
        from polars_spark.plans.datatype_expr import _normalize
        from polars_spark.plans.frame import LazyFrame

        out = LazyFrame(ctx.df, ctx.order_cols).select(self.alias("__dt__"))
        sd = {f.name: f.dataType for f in out._df.schema.fields}["__dt__"]
        from polars_spark.plans.datatype_expr import _spark_to_polars

        resolved = dtype._resolve_dtype(ctx, _spark_to_polars(sd))
        return _dtype_to_spark(_normalize(resolved))

    def cast(self, dtype, strict: bool = True):
        # strict=True matches polars strict casts when ANSI mode is on;
        # strict=False -> try_cast (null on failure), polars' non-strict cast.
        from polars_spark.plans.datatype_expr import DataTypeExpr

        if isinstance(dtype, DataTypeExpr):
            def fn_dte(ctx: ExprContext) -> Column:
                spark_type = self._resolve_dtype_expr(dtype, ctx)
                c = self._resolve(ctx)
                return c.cast(spark_type) if strict else c.try_cast(spark_type)

            return Expr(fn_dte, self._name, self._is_agg)
        if isinstance(dtype, Enum):
            cats = list(dtype.categories)

            def fn_enum(c: Column) -> Column:
                s = c.cast("string")
                ok = s.isin(cats) | c.isNull()
                if strict:
                    out_c = F.when(ok, s).otherwise(
                        F.raise_error(
                            F.concat(
                                F.lit("conversion to enum failed for value: "),
                                F.coalesce(s, F.lit("null")),
                            )
                        )
                    )
                else:
                    out_c = F.when(ok, s)
                # FROZEN categories ride in the field metadata: Spark keeps
                # the innermost Alias metadata through outer re-aliases and
                # projections, so enum ORDER (category index, dtype.rs
                # FrozenCategories) survives with_columns round-trips and
                # min/max/sort can honor it later
                return out_c.alias("__enum__", metadata={"pls_enum": list(cats)})

            out = self._map(fn_enum)
            out._enum = dtype  # cat.get_categories support
            return out
        spark_type = _dtype_to_spark(dtype)
        # exact TIME match: startswith("time") also matched "timestamp"/
        # "timestamp_ntz" and mis-routed Datetime casts (r6 trap, ADVICE r7)
        if spark_type.split("(")[0] == "time":
            # polars cast to Time (polars-time/src/chunkedarray/time.rs):
            # Datetime -> wall-clock time of day; integers are ns since
            # midnight (the pre-round-6 physical mapping); strings parse
            # natively.  Spark has no direct timestamp->time cast, so the
            # source type decides.
            def fn_time(ctx: ExprContext) -> Column:
                from polars_spark.session import ensure_time_type

                ensure_time_type(getattr(getattr(ctx, "df", None), "sparkSession", None))
                c = self._resolve(ctx)
                (t,) = ctx.dtype(c)
                if isinstance(t, TimeType):
                    return c
                if isinstance(t, (TimestampType, TimestampNTZType)):
                    return F.date_format(c, "HH:mm:ss.SSSSSS").cast(spark_type)
                if isinstance(t, IntegralType):
                    from polars_spark.functions import _ns_to_time

                    return _ns_to_time(c.cast("long"))
                return c.cast(spark_type) if strict else c.try_cast(spark_type)

            return Expr(fn_time, self._name, self._is_agg)
        dkey = _dtype_key(dtype)
        if spark_type == "bigint":
            # Time -> Int64 yields ns since midnight (polars physical cast)
            unsigned_big = dkey.startswith("UInt")
            umax_big = _UINT_MAX.get(dkey)

            def fn_big(ctx: ExprContext) -> Column:
                from polars_spark.plans.namespaces import _is_time_col

                c = self._resolve(ctx)
                if _is_time_col(ctx, c):
                    return _time_ns(c)
                return _str_grammar_cast(ctx, c, spark_type, unsigned_big, strict, umax=umax_big)

            return Expr(fn_big, self._name, self._is_agg)
        if spark_type in ("tinyint", "smallint", "int", "float", "double"):
            # string operands follow the polars parse grammar, not Spark's
            # trim-and-coerce CAST (see _str_grammar_cast)
            unsigned = dkey.startswith("UInt")
            umax = _UINT_MAX.get(dkey)
            return Expr(
                lambda ctx: _str_grammar_cast(
                    ctx, self._resolve(ctx), spark_type, unsigned, strict, umax=umax
                ),
                self._name,
                self._is_agg,
            )
        if spark_type in ("decimal(20,0)", "decimal(38,0)") and dkey in (
            "UInt64",
            "UInt128",
            "Int128",
        ):
            # big-int dtypes ride decimal carriers; the parse grammar and the
            # unsigned range gate apply exactly as for the native int carriers
            # (round-8 ADVICE: UInt64 previously bypassed the gate entirely)
            unsigned = dkey.startswith("UInt")
            umax = _UINT_MAX.get(dkey)
            return Expr(
                lambda ctx: _str_grammar_cast(
                    ctx, self._resolve(ctx), spark_type, unsigned, strict, umax=umax
                ),
                self._name,
                self._is_agg,
            )
        if strict:
            return self._map(lambda c: c.cast(spark_type))
        return self._map(lambda c: c.try_cast(spark_type))

    # -- math ----------------------------------------------------------------
    def abs(self):
        return self._map(F.abs)

    def round(self, decimals: int = 0, mode: str = "half_to_even"):
        """Reference round modes (expr/expr.py round): the default is
        banker's rounding (HALF_EVEN -> Spark bround); 'half_away_from_zero'
        is the multiply/round/divide both polars-Rust (f64::round) and DuckDB
        (std::round(x*10^d)/10^d) use.

        Spark's F.round on DOUBLE rounds the SHORTEST-DECIMAL repr
        (BigDecimal.valueOf) HALF_UP, which disagrees with that pipeline
        exactly at .xxxxx5 knife-edges:
        a true 8-digit decimal ending in ...50 prints as its own shortest
        repr (Spark rounds up) while x*10^d in doubles can land a hair below
        the .5 (DuckDB/polars round down).  So for float columns we mirror
        the multiply form op-for-op; Series.round already does (series.py).
        floor(|y|+0.5) == std::round(|y|) for |y| < 2^52 (the +0.5 is exact
        at these magnitudes); past 2^52 y is already integral."""
        if mode == "half_away_from_zero":
            def fn(ctx: ExprContext) -> Column:
                c = self._resolve(ctx)
                (t,) = ctx.dtype(c)
                if isinstance(t, (DoubleType, FloatType)) and decimals >= 0:
                    m = F.lit(float(10 ** decimals))
                    y = c.cast("double") * m
                    mag = F.when(
                        F.abs(y) >= F.lit(2.0 ** 52), F.abs(y)
                    ).otherwise(F.floor(F.abs(y) + F.lit(0.5)).cast("double"))
                    return (F.signum(y) * mag / m).cast(t)
                return F.round(c, decimals)

            return Expr(fn, self._name, self._is_agg)
        return self._map(lambda c: F.bround(c, decimals))

    def floor(self):
        return self._map(F.floor)

    def ceil(self):
        return self._map(F.ceil)

    def sqrt(self):
        return self._map(F.sqrt)

    def cbrt(self):
        return self._map(F.cbrt)

    def exp(self):
        return self._map(F.exp)

    def log(self, base: float | None = None):
        if base is None:
            return self._map(F.log)
        return self._map(lambda c: F.log(float(base), c))

    def log1p(self):
        return self._map(F.log1p)

    def log10(self):
        return self._map(F.log10)

    def pow(self, o):
        return self.__pow__(o)

    def sin(self):
        return self._map(F.sin)

    def cos(self):
        return self._map(F.cos)

    def tan(self):
        return self._map(F.tan)

    def arcsin(self):
        return self._map(F.asin)

    def arccos(self):
        return self._map(F.acos)

    def arctan(self):
        return self._map(F.atan)

    def sinh(self):
        return self._map(F.sinh)

    def cosh(self):
        return self._map(F.cosh)

    def tanh(self):
        return self._map(F.tanh)

    def degrees(self):
        return self._map(F.degrees)

    def radians(self):
        return self._map(F.radians)

    def sign(self):
        # polars keeps the input dtype (Int -> Int); F.signum forces double.
        # (c - c) re-injects the input's type/NaN: int -> +0, float NaN -> NaN
        return self._map(
            lambda c: F.when(
                c.isNotNull(),
                ((c > 0).cast("long") - (c < 0).cast("long")) + (c - c),
            )
        )

    def clip(self, lower_bound=None, upper_bound=None, *, lower=None, upper=None):
        # reference parameter names are lower_bound/upper_bound; the short
        # forms are kept for existing callers
        lower = lower_bound if lower_bound is not None else lower
        upper = upper_bound if upper_bound is not None else upper
        # string bounds are COLUMN names (reference clip("low", "up"))
        if isinstance(lower, str):
            lower = col(lower)
        if isinstance(upper, str):
            upper = col(upper)

        def fn(ctx: ExprContext) -> Column:
            c0 = self._resolve(ctx)
            c = c0
            if lower is not None:
                c = F.greatest(c, _col_of(lower, ctx))
            if upper is not None:
                c = F.least(c, _col_of(upper, ctx))
            if lower is None and upper is None:
                return c
            # greatest/least skip nulls in Spark, which would turn a null
            # input into the bound — polars propagates null through clip
            return F.when(c0.isNull(), c0).otherwise(c)

        return Expr(fn, self._name, self._is_agg)

    def hash(self, seed: int = 0, *more_seeds):
        seeds = [F.lit(int(s)) for s in (seed, *more_seeds)]
        return self._map(lambda c: F.xxhash64(c, *seeds))

    # -- membership ---------------------------------------------------------
    def is_in(self, values, *, nulls_equal: bool = False):
        if isinstance(values, Expr):
            return self._zip(values, lambda a, arr: F.array_contains(arr, a))
        from polars_spark.series import Series as _S

        vals = values.to_list() if isinstance(values, _S) else list(values)
        if isinstance(values, _S) and any(isinstance(v, (builtins.list, tuple)) for v in vals):
            # a Series of LISTS is a position-aligned membership test
            # (reference is_in(sets)): row i checks against sets[i]
            return self._zip(_to_expr(values), lambda a, arr: F.array_contains(arr, a))
        if nulls_equal and any(v is None for v in vals):
            return self._map(lambda c: c.isin([v for v in vals if v is not None]) | c.isNull())
        return self._map(lambda c: c.isin(vals))

    def is_between(self, lower, upper, closed: str = "both"):
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            lo, hi = _col_of(lower, ctx), _col_of(upper, ctx)
            left = c >= lo if closed in ("both", "left") else c > lo
            right = c <= hi if closed in ("both", "right") else c < hi
            return left & right

        return Expr(fn, self._name)

    def is_duplicated(self):
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            return F.count(F.lit(1)).over(Window.partitionBy(*ctx.partition_cols(), c)) > 1

        return Expr(fn, self._name)

    def is_unique(self):
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            return F.count(F.lit(1)).over(Window.partitionBy(*ctx.partition_cols(), c)) == 1

        return Expr(fn, self._name)

    def is_first_distinct(self):
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = Window.partitionBy(*ctx.partition_cols(), c).orderBy(*ctx.order_by_cols())
            return F.row_number().over(w) == 1

        return Expr(fn, self._name)

    def is_last_distinct(self):
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = Window.partitionBy(*ctx.partition_cols(), c).orderBy(*ctx.order_by_cols(reverse=True))
            return F.row_number().over(w) == 1

        return Expr(fn, self._name)

    def filter(self, *predicates, **constraints):
        """Keep only elements matching the predicate — the polars
        filtered-aggregation idiom ``col('x').filter(cond).sum()``
        (Expr::Filter).  Keyword constraints are equality filters
        (``filter(n=1)``).  Lowering: non-matching rows become null, which
        every aggregate skips."""

        def fn(ctx: ExprContext) -> Column:
            cond = None
            for p in predicates:
                c = _to_expr(p)._resolve(ctx)
                cond = c if cond is None else (cond & c)
            for k, v in constraints.items():
                c = F.col(k) == F.lit(v)
                cond = c if cond is None else (cond & c)
            return F.when(cond, self._resolve(ctx))

        e = Expr(fn, self._name, self._is_agg)
        # null-masking loses the kept-null / dropped-row distinction, so
        # null-counting aggregates (n_unique) treat filtered exprs SQL-style
        e._null_masked = True
        return e

    # -- aggregations ---------------------------------------------------------
    def _agg(self, f: Callable[[Column], Column], _elem_kind: str | None = None) -> "Expr":
        def fn(ctx: ExprContext) -> Column:
            if _elem_kind is not None and getattr(ctx, "element_agg", False):
                return _element_agg(ctx, self, _elem_kind)
            # under a rolling/over context, aggregates become window aggs;
            # in a broadcast-agg projection they become scalar preps
            return _wover(ctx, f(self._resolve(ctx)))

        return Expr(fn, self._name, is_agg=True)

    def sum(self):
        """polars sum semantics: nulls are ignored AND an empty/all-null
        group sums to 0 (not SQL's NULL — reference docs 'missing data').
        The zero-coalesce is skipped for interval dtypes (no untyped zero
        literal) and for frameless meta contexts."""

        def fn(ctx: ExprContext) -> Column:
            if getattr(ctx, "element_agg", False):
                return _element_agg(ctx, self, "sum")
            c = self._resolve(ctx)
            # temporal arithmetic yields intervals, so temporal operands count
            t = DoubleType()
            if ctx.may_be(c, ("boolean", "interval", "date", "timestamp", "time")):
                (t,) = ctx.dtype(c)
            if isinstance(t, BooleanType):
                # polars: boolean sum counts the Trues
                c = c.cast("bigint")
            s = _wover(ctx, F.sum(c))
            if t is None or t.simpleString().startswith("interval"):
                return s
            return F.coalesce(s, F.lit(0))

        return Expr(fn, self._name, is_agg=True)

    def mean(self):
        # polars: boolean mean = fraction of Trues (Spark mean rejects bool)
        def fn(ctx: ExprContext) -> Column:
            if getattr(ctx, "element_agg", False):
                return _element_agg(ctx, self, "mean")
            c = self._resolve(ctx)
            if ctx.may_be(c, ("boolean",)) and isinstance(ctx.dtype(c)[0], BooleanType):
                c = c.cast("double")
            return _wover(ctx, F.mean(c))

        return Expr(fn, self._name, is_agg=True)

    def _enum_cats(self, ctx) -> "list | None":
        """The frozen Enum categories governing this expr's ORDER, if any:
        either set directly by a cast(Enum) on this expr chain, or carried
        in the source column's schema metadata (written by the enum cast's
        alias and propagated by Spark through projections)."""
        e = self
        while e is not None:
            if getattr(e, "_enum", None) is not None:
                return list(e._enum.categories)
            e = getattr(e, "_alias_of", None)
        df = getattr(ctx, "df", None)
        if df is None:
            return None
        try:
            # fast path first: schemas without any enum metadata (the
            # overwhelming majority) exit before any introspection work
            enum_fields = {
                f.name: list(f.metadata["pls_enum"])
                for f in df.schema.fields
                if f.metadata and f.metadata.get("pls_enum")
            }
            if not enum_fields:
                return None
            from polars_spark.selectors import is_selector

            if is_selector(self):
                return None
            m = ExprMetaNamespace(self)
            if not m.is_column():
                return None
            return enum_fields.get(m.root_names()[0])
        except Exception:
            return None

    def min(self):
        # Enum columns order by CATEGORY INDEX, not lexically (reference
        # dtype.rs FrozenCategories ordering): min = the earliest category
        # present, computed as min over array_position then mapped back
        def fn(ctx: ExprContext) -> Column:
            if getattr(ctx, "element_agg", False):
                return _element_agg(ctx, self, "min")
            cats = self._enum_cats(ctx)
            c = self._resolve(ctx)
            if cats:
                # F.get, not element_at: Spark codegen's element_at with a
                # RUNTIME-null index returns the last element instead of
                # null (all-null sweep find — min over no non-null values)
                arr = F.array(*[F.lit(x) for x in cats])
                return F.get(
                    arr,
                    _wover(ctx, F.min(F.array_position(arr, c))).cast("int") - 1,
                )
            return _wover(ctx, F.min(c))

        return Expr(fn, self._name, is_agg=True)

    def max(self):
        def fn(ctx: ExprContext) -> Column:
            if getattr(ctx, "element_agg", False):
                return _element_agg(ctx, self, "max")
            cats = self._enum_cats(ctx)
            c = self._resolve(ctx)
            if cats:
                arr = F.array(*[F.lit(x) for x in cats])
                return F.get(
                    arr,
                    _wover(ctx, F.max(F.array_position(arr, c))).cast("int") - 1,
                )
            return _wover(ctx, F.max(c))

        return Expr(fn, self._name, is_agg=True)

    def median(self):
        return self._agg(F.median, _elem_kind="median")

    def count(self):
        return self._agg(F.count, _elem_kind="count")

    def len(self):
        # polars len() counts rows INCLUDING nulls — but on a filter()-masked
        # expr the masked rows are dropped rows, so count survivors only
        if getattr(self, "_null_masked", False):
            return self._agg(F.count, _elem_kind="len")
        return self._agg(lambda c: F.count(F.lit(1)), _elem_kind="len")

    def n_unique(self):
        """polars counts null as a distinct value (n_unique([None, None]) ==
        1); SQL count(DISTINCT) ignores nulls, so add a has-null indicator —
        except on filter()-masked exprs, whose nulls are synthetic dropped
        rows (the filtered-aggregation idiom stays SQL-style).  Window
        contexts use collect_set (DISTINCT aggregates can't window)."""
        count_null = not getattr(self, "_null_masked", False)

        def fn(ctx: ExprContext) -> Column:
            if getattr(ctx, "element_agg", False):
                return _element_agg(ctx, self, "n_unique")
            c = self._resolve(ctx)
            has_null = F.max(F.when(c.isNull(), F.lit(1)).otherwise(F.lit(0)))
            w = getattr(ctx, "_window", None)
            if w is not None:
                # windows always see >= 1 row, so the bare MAX is never null
                base = F.size(F.collect_set(c).over(w))
                return (base + has_null.over(w) if count_null else base).cast("bigint")
            base = F.countDistinct(c)
            # coalesce: MAX over ZERO rows is null, poisoning the sum and
            # turning n_unique(empty frame) into null instead of polars' 0
            out = base + F.coalesce(has_null, F.lit(0)) if count_null else base
            return _wover(ctx, out.cast("bigint"))

        return Expr(fn, self._name, is_agg=True)

    def approx_quantile(self, q: float, accuracy: int = 10000):
        """Approximate quantile (Spark-native scale bonus, pairs with
        approx_n_unique): Greenwald-Khanna sketch via approx_percentile —
        mergeable partial state, so a 100 TB percentile costs one normal
        partial-agg shuffle instead of the exact path's per-group sort.
        ``accuracy`` trades memory for error (err <= 1/accuracy)."""
        return self._agg(lambda c: F.approx_percentile(c, F.lit(q), F.lit(accuracy)))

    def approx_n_unique(self):
        # polars HyperLogLog++ (polars-compute/src/hyperloglogplus.rs) ==
        # Spark approx_count_distinct (also HLL++)
        return self._agg(F.approx_count_distinct)

    def first(self, *, ignore_nulls: bool = False):
        # on a filter()-masked expr, "first" means first SURVIVOR (masked
        # rows are dropped rows, lowered as nulls) -> first non-null
        masked = getattr(self, "_null_masked", False) or ignore_nulls
        if self._is_agg and not getattr(self, "_listwise", False):
            # first() of a scalar aggregate is the aggregate itself
            # (mode().first(), sum().first() — avoids nested aggregates)
            return self
        if getattr(self, "_listwise", False):
            # parent is a list-shaped group projection (sort/sort_by/head/
            # top_k/...): polars composes element-wise — first = head of
            # the group series.  _agg_form lets dual select/agg exprs
            # (reverse, explode) hand over their agg lowering here.
            src = getattr(self, "_agg_form", self)
            return src._map(lambda c: F.get(c, 0), is_agg=True)

        def fn(ctx: ExprContext) -> Column:
            if getattr(ctx, "element_agg", False):
                return _element_agg(ctx, self, "first")
            c = self._resolve(ctx)
            w = getattr(ctx, "_window", None)
            if w is not None:
                if ctx.deferred and not ctx.order_cols:
                    # a bare window over a DEFERRED-order frame would pick a
                    # nondeterministic "first" — materialize the scan order
                    # and retry (over() then attaches it to the window)
                    raise OrderNeeded()
                # window frames carry the frame order (over() attaches it)
                return F.first(c, ignorenulls=masked).over(w)
            if ctx.order_cols:
                # frame order defined: first by row order (asc keys assumed,
                # the common case — order comes from a row index)
                key = F.struct(*ctx.order_plain_cols())
                return _wover(ctx, F.min_by(c, F.when(c.isNotNull(), key) if masked else key))
            if ctx.deferred:
                raise OrderNeeded()
            return _wover(ctx, F.first(c, ignorenulls=masked))

        return Expr(fn, self._name, is_agg=True)

    def last(self, *, ignore_nulls: bool = False):
        masked = getattr(self, "_null_masked", False) or ignore_nulls
        if self._is_agg and not getattr(self, "_listwise", False):
            return self
        if getattr(self, "_listwise", False):
            src = getattr(self, "_agg_form", self)
            # get(size-1), not element_at(-1): null on EMPTY series instead
            # of the ANSI INVALID_ARRAY_INDEX error
            return src._map(lambda c: F.get(c, F.size(c) - 1), is_agg=True)

        def fn(ctx: ExprContext) -> Column:
            if getattr(ctx, "element_agg", False):
                return _element_agg(ctx, self, "last")
            c = self._resolve(ctx)
            w = getattr(ctx, "_window", None)
            if w is not None:
                if ctx.deferred and not ctx.order_cols:
                    raise OrderNeeded()
                return F.last(c, ignorenulls=masked).over(w)
            if ctx.order_cols:
                key = F.struct(*ctx.order_plain_cols())
                return _wover(ctx, F.max_by(c, F.when(c.isNotNull(), key) if masked else key))
            if ctx.deferred:
                raise OrderNeeded()
            return _wover(ctx, F.last(c, ignorenulls=masked))

        return Expr(fn, self._name, is_agg=True)

    def first_non_null(self):
        """AggExpr::FirstNonNull — first non-null in row order."""

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = getattr(ctx, "_window", None)
            if w is not None:
                if ctx.deferred and not ctx.order_cols:
                    raise OrderNeeded()
                return F.first(c, ignorenulls=True).over(w)
            if ctx.order_cols:
                return F.min_by(c, F.when(c.isNotNull(), F.struct(*ctx.order_plain_cols())))
            if ctx.deferred:
                raise OrderNeeded()
            return F.first(c, ignorenulls=True)

        return Expr(fn, self._name, is_agg=True)

    def last_non_null(self):
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = getattr(ctx, "_window", None)
            if w is not None:
                return F.last(c, ignorenulls=True).over(w)
            if ctx.order_cols:
                return F.max_by(c, F.when(c.isNotNull(), F.struct(*ctx.order_plain_cols())))
            if ctx.deferred:
                raise OrderNeeded()
            return F.last(c, ignorenulls=True)

        return Expr(fn, self._name, is_agg=True)

    def nan_min(self):
        """min with propagate_nans=True (AggExpr::Min{propagate_nans}):
        any NaN in the group -> NaN."""

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = getattr(ctx, "_window", None)
            over = (lambda a: a.over(w)) if w is not None else (lambda a: a)
            has_nan = over(F.max(F.when(F.isnan(c), 1).otherwise(0))) == 1
            return F.when(has_nan, F.lit(float("nan"))).otherwise(over(F.min(c)))

        return Expr(fn, self._name, is_agg=True)

    def nan_max(self):
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = getattr(ctx, "_window", None)
            over = (lambda a: a.over(w)) if w is not None else (lambda a: a)
            has_nan = over(F.max(F.when(F.isnan(c), 1).otherwise(0))) == 1
            return F.when(has_nan, F.lit(float("nan"))).otherwise(over(F.max(c)))

        return Expr(fn, self._name, is_agg=True)

    def _arg_extreme(self, ctx: ExprContext, *, reverse: bool) -> Column:
        """Position of the min (or max with ``reverse``), first occurrence
        wins, nulls ignored (FunctionExpr::ArgMin/ArgMax).

        Grouped/window context: the frame's order column is the position
        (requires a real row index).  Select context: the position is the
        0-based rank in the frame order, materialized through the
        windowed-scalar prep (works after any sort, not only row_index)."""
        c = self._resolve(ctx)
        if ctx.grouped or getattr(ctx, "_window", None) is not None:
            specs = ctx.order_specs()
            if not specs:
                raise ValueError("arg_min/arg_max need a row index (with_row_index())")
            pos = F.col(specs[0][0])
            if reverse:
                out = F.max_by(pos, F.when(c.isNotNull(), F.struct(c.alias("v"), (-pos).alias("p"))))
            else:
                out = F.min_by(pos, F.when(c.isNotNull(), F.struct(c.alias("v"), pos.alias("p"))))
            w = getattr(ctx, "_window", None)
            return out.over(w) if w is not None else out
        if ctx.order_cols:
            w = ctx.order_window()
        else:
            # scan order: a one-off global ranking for this SCALAR reduction;
            # at scale attach with_row_index() first (partition-offset, no
            # global window) — then the position column is already physical
            w = Window.orderBy(F.monotonically_increasing_id())
        pos = F.row_number().over(w) - 1
        if reverse:
            step = F.when(c.isNotNull(), F.struct(c.alias("v"), (-pos).alias("p")))
            agg = lambda col: -F.max(col).getField("p")  # noqa: E731
        else:
            step = F.when(c.isNotNull(), F.struct(c.alias("v"), pos.alias("p")))
            agg = lambda col: F.min(col).getField("p")  # noqa: E731
        name = f"__wscalar_{len(ctx.preps)}__"
        ctx.preps.append((name, step, agg))
        # aggregate over the broadcast scalar so an all-aggregate select
        # still collapses to one row (Spark's implicit global aggregate)
        return F.min(F.col(name))

    def arg_min(self):
        """Row position (frame order) of the minimum; first occurrence
        wins (FunctionExpr::ArgMin)."""

        def fn(ctx: ExprContext) -> Column:
            return self._arg_extreme(ctx, reverse=False)

        return Expr(fn, self._name, is_agg=True)

    def arg_max(self):
        def fn(ctx: ExprContext) -> Column:
            return self._arg_extreme(ctx, reverse=True)

        return Expr(fn, self._name, is_agg=True)

    # -- bitwise (function_expr/bitwise.rs:9; width = 64-bit integers) --------
    def bitwise_count_ones(self):
        return self._map(lambda c: F.bit_count(c.cast("bigint")))

    def bitwise_count_zeros(self):
        return self._map(lambda c: F.lit(64) - F.bit_count(c.cast("bigint")))

    def bitwise_and(self):
        return self._agg(lambda c: F.bit_and(c))

    def bitwise_or(self):
        return self._agg(lambda c: F.bit_or(c))

    def bitwise_xor(self):
        return self._agg(lambda c: F.bit_xor(c))

    def std(self, ddof: int = 1):
        if ddof == 1:
            return self._agg(F.stddev_samp)
        if ddof == 0:
            return self._agg(F.stddev_pop)
        return self._agg(
            lambda c: F.sqrt(F.var_pop(c) * F.count(c) / (F.count(c) - F.lit(ddof)))
        )

    def var(self, ddof: int = 1):
        if ddof == 1:
            return self._agg(F.var_samp)
        if ddof == 0:
            return self._agg(F.var_pop)
        return self._agg(lambda c: F.var_pop(c) * F.count(c) / (F.count(c) - F.lit(ddof)))

    def quantile(self, q: float, interpolation: str = "nearest"):
        # exact percentile; interpolation="linear" matches SQL percentile_cont
        if interpolation == "linear":
            return self._agg(lambda c: F.percentile(c, F.lit(q)))
        # nearest/lower/higher/midpoint/equiprobable: sorted-array indexing
        # (reference polars-core/src/chunked_array/ops/aggregate/quantile.rs
        # quantile_idx; results are f64 — Scalar::to_f64 — so the element
        # reads are cast to double, matching polars' Float64 output on ints)
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            # polars quantile output is f64 for NUMERIC inputs
            # (Scalar::to_f64); temporal inputs keep their type (element
            # pick), and date->double is not even a legal Spark cast — so
            # the f64 cast is gated on the input type
            (t,) = ctx.dtype(c)
            to_f64 = t is None or isinstance(t, NumericType)

            def out(col: Column) -> Column:
                return col.cast("double") if to_f64 else col

            w = getattr(ctx, "_window", None)
            coll = F.collect_list(c).over(w) if w is not None else F.collect_list(c)
            arr = F.array_sort(coll)
            n = F.size(arr)
            pos = (n - 1) * F.lit(q)
            lo = F.floor(pos).cast("int")
            hi = F.ceil(pos).cast("int")
            if interpolation == "lower":
                return out(F.get(arr, lo))
            if interpolation == "higher":
                return out(F.get(arr, hi))
            if interpolation == "midpoint":
                if not to_f64:
                    return F.get(arr, lo)  # polars temporal midpoint: lower
                # cast BEFORE the add: polars midpoint_interpol works in f64
                # (and a bigint add of two near-max elements would overflow)
                return (
                    F.get(arr, lo).cast("double") + F.get(arr, hi).cast("double")
                ) / 2
            if interpolation == "equiprobable":
                # idx = max(ceil(n*q) - 1, 0)
                eidx = F.greatest(
                    F.ceil(n * F.lit(q)).cast("int") - F.lit(1), F.lit(0)
                )
                return out(F.get(arr, eidx))
            # nearest (polars default): f64::round = half away from zero,
            # which Spark's round on a non-negative double also is
            idx = F.round(pos).cast("int")
            return out(F.get(arr, idx))

        return Expr(fn, self._name, is_agg=True)

    def implode(self):
        if self._is_agg:
            # composing on an aggregate: polars implode wraps the group
            # SERIES in one list element.  For a series-shaped agg (head,
            # tail, sort, ... — _listwise) the materialized value is that
            # same list, so implode is identity; for a scalar agg (sum) or
            # an already-imploded list (1-length series) it nests one level
            # (sum().implode() -> [sum], implode().implode() -> [[..]]).
            # Without this branch the lowering nested collect_list inside
            # collect_list -> Spark NESTED_AGGREGATE_FUNCTION (fuzz find).
            src = getattr(self, "_agg_form", self)
            if getattr(self, "_listwise", False):
                return Expr(lambda ctx: src._resolve(ctx), self._name, is_agg=True)
            return Expr(lambda ctx: F.array(src._resolve(ctx)), self._name, is_agg=True)

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = getattr(ctx, "_window", None)
            if w is not None:
                if ctx.deferred and not ctx.order_cols:
                    raise OrderNeeded()  # list order = scan order (polars)
                return _collect_keep_nulls(c, w)  # over() attached the order
            if ctx.order_cols:
                pairs = F.collect_list(F.struct(*ctx.order_plain_cols(), c.alias("__v")))
                return F.transform(F.array_sort(pairs), lambda s: s.getField("__v"))
            if ctx.deferred:
                raise OrderNeeded()  # imploded lists follow scan order (polars)
            return _collect_keep_nulls(c)

        return Expr(fn, self._name, is_agg=True)

    def head(self, n: int = 5):
        """First n values per group as a list (polars non-scalar agg:
        GroupBy.agg(col.head(n)) -> list column), in row order."""
        imploded = self.implode()

        def fn(ctx: ExprContext) -> Column:
            return F.slice(imploded._resolve(ctx), 1, n)

        e = Expr(fn, self._name, is_agg=True)
        e._listwise = True  # value = the truncated group SERIES as a list
        return e

    def tail(self, n: int = 5):
        imploded = self.implode()

        def fn(ctx: ExprContext) -> Column:
            arr = imploded._resolve(ctx)
            return F.when(F.size(arr) <= n, arr).otherwise(F.slice(arr, -n, n))

        e = Expr(fn, self._name, is_agg=True)
        e._listwise = True
        return e

    def mode(self):
        e = self._agg(F.mode)

        # select context: polars mode() returns ALL most-frequent values
        # (length-changing) — rewrite to a count group-by + max-count filter;
        # sorted output since polars leaves mode order arbitrary.  Agg
        # context keeps the single-mode aggregate (ties broken arbitrarily).
        def rewrite(lf, _p=self):
            from polars_spark.plans.frame import LazyFrame

            ctx = lf._ctx()
            c = _p._resolve(ctx)
            name = _p._name
            counts = lf._df.groupBy(c.alias(name)).agg(F.count(F.lit(1)).alias("__n__"))
            mx = counts.agg(F.max("__n__").alias("__mx__"))
            out = (
                counts.crossJoin(F.broadcast(mx))
                .filter(F.col("__n__") == F.col("__mx__"))
                .select(name)
                .orderBy(name)
            )
            return LazyFrame(out)

        e._select_rewrite = rewrite
        return e

    def product(self):
        # F.product (Spark 3.2+) multiplies the actual values, so the
        # accumulation matches DuckDB's product() at rounding knife-edges;
        # the old exp(sum(log(abs)))+sign-tracking shape carried a ~1e-15
        # relative error that could flip a 6th-decimal half-away round
        # (driver-red agg_product_entropy, r12) and cost 3 aggregates + exp/log
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = getattr(ctx, "_window", None)
            agg = F.product(c)
            if w is not None:
                agg = agg.over(w)
            # polars: product of an empty/all-null group is 1 (fold identity)
            return F.coalesce(agg, F.lit(1.0))

        return Expr(fn, self._name, is_agg=True)

    def any(self, *, ignore_nulls: bool = True):
        if not ignore_nulls:
            # Kleene: True if any True, else null if any null, else False
            return self._agg(
                lambda c: F.when(F.max(F.coalesce(c, F.lit(False))), F.lit(True))
                .when(F.max(c.isNull().cast("int")) == 1, F.lit(None))
                .otherwise(F.lit(False)),
                _elem_kind="any",
            )
        # fold identity: empty/all-null group -> False (polars any over the
        # OR-monoid; a bare MAX over zero rows gives null — fuzz finding r8)
        return self._agg(
            lambda c: F.coalesce(F.max(F.coalesce(c, F.lit(False))), F.lit(False)),
            _elem_kind="any",
        )

    def all(self, *, ignore_nulls: bool = True):
        if not ignore_nulls:
            # Kleene: False if any False, else null if any null, else True
            return self._agg(
                lambda c: F.when(~F.min(F.coalesce(c, F.lit(True))), F.lit(False))
                .when(F.max(c.isNull().cast("int")) == 1, F.lit(None))
                .otherwise(F.lit(True)),
                _elem_kind="all",
            )
        # fold identity: empty/all-null group -> True (polars all over the
        # AND-monoid; bare MIN over zero rows gives null — fuzz finding r8)
        return self._agg(
            lambda c: F.coalesce(F.min(F.coalesce(c, F.lit(True))), F.lit(True)),
            _elem_kind="all",
        )

    def skew(self, bias: bool = True):
        # Spark skewness() is the biased (population) estimator == polars bias=True
        if bias:
            return self._agg(F.skewness)
        return self._agg(
            lambda c: F.skewness(c)
            * F.sqrt(F.count(c) * (F.count(c) - 1))
            / (F.count(c) - 2)
        )

    def kurtosis(self, fisher: bool = True, bias: bool = True):
        # Spark kurtosis() is population excess kurtosis (Fisher, biased)
        e = self._agg(F.kurtosis)
        if fisher and bias:
            return e
        if not fisher and bias:
            return e._map(lambda c: c + 3, is_agg=True)
        # bias=False: scipy/polars G2 sample correction
        # G2 = ((n-1)/((n-2)(n-3))) * ((n+1)*g2 + 6), +3 when fisher=False
        def corrected(c):
            n = F.count(c).cast("double")
            g2 = F.kurtosis(c)
            out = ((n - 1) / ((n - 2) * (n - 3))) * ((n + 1) * g2 + 6)
            return out if fisher else out + 3

        return self._agg(corrected)

    def search_sorted(self, element, side: str = "left", *, descending: bool = False):
        """Insertion position of ``element`` in the sorted column
        (FunctionExpr::SearchSorted): count of values strictly below (left)
        or less-or-equal (right) — a plain aggregate, no sort needed.
        ``descending`` flips the comparison for descending-sorted input."""
        e = _to_expr(element)

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            v = e._resolve(ctx)
            if descending:
                cmp = (c > v) if side == "left" else (c >= v)
            else:
                cmp = (c < v) if side == "left" else (c <= v)
            out = F.sum(F.when(cmp, 1).otherwise(0))
            w = getattr(ctx, "_window", None)
            if w is not None:
                out = out.over(w)
            return out.cast("bigint")

        return Expr(fn, self._name, is_agg=True)

    def agg_groups(self):
        """Row indices (frame row-index order column) of each group's members
        (AggExpr::AggGroups).  Requires a row index."""

        def fn(ctx: ExprContext) -> Column:
            specs = ctx.order_specs()
            if not specs:
                raise ValueError("agg_groups needs a row index (with_row_index())")
            coll = F.collect_list(F.col(specs[0][0]))
            w = getattr(ctx, "_window", None)
            if w is not None:
                coll = coll.over(w)
            return F.array_sort(coll)

        return Expr(fn, self._name, is_agg=True)

    # -- order-sensitive ----------------------------------------------------
    def shift(self, n: int = 1, fill_value=None):
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = ctx.order_window()
            shifted = F.lag(c, n).over(w) if n >= 0 else F.lead(c, -n).over(w)
            if fill_value is not None and n != 0:
                # polars fills only the |n| boundary slots shifted in — a
                # coalesce would also overwrite genuine nulls from the data
                fillc = _col_of(fill_value, ctx)
                if n >= 0:
                    boundary = F.row_number().over(w) <= n
                else:
                    boundary = F.row_number().over(ctx.order_window(True)) <= -n
                shifted = F.when(boundary, fillc).otherwise(shifted)
            return shifted

        return Expr(fn, self._name)

    def diff(self, n: int = 1, null_behavior: str = "ignore"):
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            return c - F.lag(c, n).over(ctx.order_window())

        out = Expr(fn, self._name)
        if null_behavior == "drop":
            # reference null_behavior='drop': the first n (null) results are
            # dropped — length-changing, so rewrite as a sole-expr select
            parent = self

            def rewrite(lf, _o=out):
                ctx = lf._ctx()
                c = _o._resolve(ctx)
                nm = _o._name
                projected = type(lf)(
                    lf._with_scalar_preps(ctx).select(c.alias(nm)), lf._order
                )
                return projected.filter(_col_fn(nm).is_not_null())

            out._select_rewrite = rewrite
        return out

    def pct_change(self, n: int = 1):
        def fn(ctx: ExprContext) -> Column:
            # reference (polars-ops pct_change.rs): cast to f64, then
            # diff / shift under IEEE float division — a zero previous
            # value yields ±inf (0/0 -> NaN), matching _ieee_div exactly
            c = self._resolve(ctx).cast("double")
            prev = F.lag(c, n).over(ctx.order_window())
            return _ieee_div(c - prev, prev, ctx)

        return Expr(fn, self._name)

    def _cum(self, agg, reverse: bool = False, mask_nulls: bool = True):
        # polars cumulative ops emit null at null input positions (the null is
        # skipped by the running aggregate AND shows as null in the output);
        # cum_count is the exception (a count exists at every row)
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = ctx.order_window(reverse).rowsBetween(Window.unboundedPreceding, 0)
            out = agg(c).over(w)
            return F.when(c.isNotNull(), out) if mask_nulls else out

        return Expr(fn, self._name)

    def cum_sum(self, reverse: bool = False):
        return self._cum(F.sum, reverse)

    def cum_min(self, reverse: bool = False):
        return self._cum(F.min, reverse)

    def cum_max(self, reverse: bool = False):
        return self._cum(F.max, reverse)

    def cum_count(self, reverse: bool = False):
        return self._cum(F.count, reverse, mask_nulls=False)

    def cum_prod(self, reverse: bool = False):
        # Same sign/zero tracking as product(): exp(sum(log|x|)) for the
        # magnitude, cumulative negative-count for the sign, cumulative
        # zero-seen flag to pin the result at 0 after any zero.  Each
        # aggregate gets its own .over() (a conditional of aggregates is not
        # itself a window function).
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = ctx.order_window(reverse).rowsBetween(Window.unboundedPreceding, 0)
            zero_seen = F.max(F.when(c == 0, F.lit(1)).otherwise(F.lit(0))).over(w)
            neg = F.sum(F.when(c < 0, 1).otherwise(0)).over(w)
            mag = F.exp(F.sum(F.log(F.abs(F.nullif(c, F.lit(0))))).over(w))
            signed = F.when(neg % 2 == 1, -mag).otherwise(mag)
            return F.when(zero_seen == 1, F.lit(0.0)).otherwise(signed)

        return Expr(fn, self._name)

    def cumulative_eval(self, expr: "Expr", *, min_samples: int = 1):
        """polars Expr.cumulative_eval (dsl cumulative_eval): evaluate
        ``expr`` over the running prefix of this series, where
        ``pl.element()`` is the prefix.

        Lowering: the prefix IS a running window (unboundedPreceding..current
        row), so every aggregate inside ``expr`` resolves with
        ``ctx._window`` set to that frame — ``pl.element().sum()`` becomes
        ``sum(c) OVER (... ROWS UNBOUNDED PRECEDING)``, and compositions
        like ``element().first() - element().last()**2`` wrap each aggregate
        node independently.  One window pass, no per-prefix re-evaluation
        (the reference warns its own impl is O(n^2); this is O(n))."""

        def fn(ctx: ExprContext) -> Column:
            from polars_spark.plans.namespaces import _ElementContext

            c = self._resolve(ctx)
            w = ctx.order_window().rowsBetween(Window.unboundedPreceding, 0)
            sub = _ElementContext(ctx, c)
            sub._window = w
            val = expr._resolve(sub)
            if min_samples > 1:
                val = F.when(F.count(c).over(w) >= min_samples, val)
            return val

        return Expr(fn, self._name)

    def rank(self, method: str = "average", descending: bool = False):
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            arr = getattr(ctx, "arr_col", None)
            if arr is not None:
                # inside list.eval: rank of the element among its peers
                cur = F.lit(-1) * c if descending else c
                peers = F.transform(arr, lambda x: F.lit(-1) * x) if descending else arr
                return self._window_rank_col(peers, cur, method, None, F.lit(0))
            parts = ctx.partition_cols()
            # polars: null values get a NULL rank and do not consume ranks
            # -> sort nulls last so non-null ranks are unaffected, mask after
            okey = c.desc_nulls_last() if descending else c.asc_nulls_last()
            w = Window.partitionBy(*parts).orderBy(okey)
            wv = Window.partitionBy(*parts, c)  # rows sharing this value
            if method == "ordinal":
                # polars rank('ordinal') breaks ties by row order -> require it
                w2 = Window.partitionBy(*parts).orderBy(
                    *([okey] + ctx.order_by_cols())
                )
                out = F.row_number().over(w2)
            elif method == "dense":
                out = F.dense_rank().over(w)
            elif method == "min":
                out = F.rank().over(w)
            elif method == "max":
                out = F.rank().over(w) + F.count(F.lit(1)).over(wv) - 1
            else:  # average (polars default)
                out = (
                    F.rank().over(w).cast("double")
                    + (F.count(F.lit(1)).over(wv) - 1) / 2.0
                )
            return F.when(c.isNotNull(), out)

        return Expr(fn, self._name)

    def peak_max(self):
        """True where strictly greater than both neighbors (missing neighbor
        counts as smaller) — polars-ops/src/chunked_array/peaks.rs."""

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = ctx.order_window()
            prev, nxt = F.lag(c).over(w), F.lead(c).over(w)
            return (prev.isNull() | (c > prev)) & (nxt.isNull() | (c > nxt))

        return Expr(fn, self._name)

    def peak_min(self):
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = ctx.order_window()
            prev, nxt = F.lag(c).over(w), F.lead(c).over(w)
            return (prev.isNull() | (c < prev)) & (nxt.isNull() | (c < nxt))

        return Expr(fn, self._name)

    def rle_id(self):
        """Run id (0-based) incrementing at every value change
        (polars-ops/src/series/ops/rle.rs); null-safe comparison so null runs
        count like any other value."""

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = ctx.order_window()
            prev = F.lag(c).over(w)
            first = F.row_number().over(w) == 1
            change = F.when(first, F.lit(1)).otherwise((~c.eqNullSafe(prev)).cast("int"))
            return (
                F.sum(change).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1
            ).cast("bigint")

        return Expr(fn, self._name)

    def interpolate(self, method: str = "linear"):
        """Linear interpolation of interior nulls by row position
        (polars-ops/src/series/ops/interpolation/).  Leading/trailing nulls
        stay null (no neighbor on one side)."""
        if method not in ("linear", "nearest"):
            raise NotImplementedError(f"interpolate method {method!r}")

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = ctx.order_window()
            pos = F.row_number().over(w).cast("double")
            wb = w.rowsBetween(Window.unboundedPreceding, 0)
            wf = w.rowsBetween(0, Window.unboundedFollowing)
            pv = F.last(F.when(c.isNotNull(), c), ignorenulls=True).over(wb)
            pp = F.last(F.when(c.isNotNull(), pos), ignorenulls=True).over(wb)
            nv = F.first(F.when(c.isNotNull(), c), ignorenulls=True).over(wf)
            np_ = F.first(F.when(c.isNotNull(), pos), ignorenulls=True).over(wf)
            if method == "nearest":
                interp = F.when((pos - pp) <= (np_ - pos), pv).otherwise(nv)
            else:
                interp = pv + (nv - pv) * (pos - pp) / (np_ - pp)
            return F.when(c.isNotNull(), c).otherwise(interp)

        return Expr(fn, self._name)

    def interpolate_by(self, by):
        """Linear interpolation of interior nulls weighted by a coordinate
        column (polars-ops/src/series/ops/interpolation/ interpolate_by):
        fill = pv + (nv - pv) · (x - xp) / (xn - xp) with x from ``by``.
        Temporal coordinates are cast to epoch seconds for the weights."""
        import datetime as _dtm

        if type(by).__name__ == "Series" and hasattr(by, "to_list"):
            # driver-local coordinate Series: temporal values become day
            # ordinals / wall-time seconds driver-side (the interpolation
            # weight is invariant under affine transforms of x).  Type is
            # probed on the first NON-NULL value; naive datetimes use the
            # UTC epoch so the axis is wall time, not the driver's zone.
            vals = by.to_list()
            probe = next((v for v in vals if v is not None), None)
            if isinstance(probe, (_dtm.date, _dtm.datetime)):
                def _x(v):
                    if v is None:
                        return None
                    if isinstance(v, _dtm.datetime):
                        if v.tzinfo is None:
                            v = v.replace(tzinfo=_dtm.timezone.utc)
                        return v.timestamp()
                    return float(v.toordinal())

                vals = [_x(v) for v in vals]
            from polars_spark.series import Series as _S2

            by = _S2(getattr(by, "name", "by") or "by", vals)
        by_e = col(by) if isinstance(by, str) else _to_expr(by)

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            x = by_e._resolve(ctx)
            if isinstance(by, str):
                dt = dict(ctx.df.dtypes).get(by, "") if ctx.df is not None else ""
                if dt.startswith("date"):
                    x = x.cast("timestamp")
            xd = x.cast("double")
            # neighbors are determined along the COORDINATE axis (polars
            # interpolate_by sorts by `by` internally), so the window orders
            # by x — no frame row order needed (works right after a join);
            # the existing frame order, when defined, breaks x-ties stably
            tie = []
            if ctx.order_cols:
                tie = ctx.order_by_cols()
            w = Window.partitionBy(*ctx.partition_cols()).orderBy(xd.asc_nulls_last(), *tie)
            wb = w.rowsBetween(Window.unboundedPreceding, 0)
            wf = w.rowsBetween(0, Window.unboundedFollowing)
            pv = F.last(F.when(c.isNotNull(), c), ignorenulls=True).over(wb)
            pp = F.last(F.when(c.isNotNull(), xd), ignorenulls=True).over(wb)
            nv = F.first(F.when(c.isNotNull(), c), ignorenulls=True).over(wf)
            np_ = F.first(F.when(c.isNotNull(), xd), ignorenulls=True).over(wf)
            interp = pv + (nv - pv) * (xd - pp) / (np_ - pp)
            return F.when(c.isNotNull(), c).otherwise(interp)

        return Expr(fn, self._name)

    def ewm_mean(
        self,
        *,
        alpha: float | None = None,
        span: float | None = None,
        com: float | None = None,
        half_life: float | None = None,
        adjust: bool = True,
        ignore_nulls: bool = False,
        min_samples: int = 1,
    ):
        """Exponentially-weighted mean, polars/pandas semantics
        (polars-compute/src/ewm/mean.rs).  ``ignore_nulls=False`` (the
        reference default) decays the weights on null rows (absolute
        positions); ``True`` weights by relative position among non-nulls.
        Lowering: ``_ewm_fold``."""
        a = _ewm_alpha(com, span, half_life, alpha)
        rec = _ewm_mean_adjust(1.0 - a) if adjust else _ewm_mean_rec(1.0 - a, a)
        return _ewm_expr(
            self, rec, ignore_nulls=ignore_nulls, min_samples=min_samples,
            spec={"kind": "mean", "alpha": a, "adjust": adjust},
        )

    def ewm_mean_by(self, by, *, half_life: str):
        """Time-decay EWM (polars ewm_mean_by): irregular-interval recursive
        mean  y_i = (1-a_i)·y_{i-1} + a_i·x_i  with  a_i = 1 - 0.5^(Δt/τ);
        null values are skipped."""
        return self._ewm_by(by, half_life, normalize=True)

    def ewm_sum_by(self, by, *, half_life: str):
        """Time-decay EWM sum (polars ewm_sum_by): y_i = 0.5^(Δt/τ)·y_{i-1}
        + x_i over irregular intervals; null values are skipped."""
        return self._ewm_by(by, half_life, normalize=False)

    def _ewm_by(self, by, half_life: str, *, normalize: bool):
        from polars_spark.plans.frame import _duration_us, _index_halflife

        idx_tau = _index_halflife(half_life)
        tau = idx_tau if idx_tau is not None else float(_duration_us(half_life))
        by_e = _to_expr(by) if not isinstance(by, str) else col(by)

        def elem(ctx: ExprContext, x: Column) -> Column:
            b = by_e._resolve(ctx)
            t = b.cast("double") if idx_tau is not None else F.unix_micros(b.cast("timestamp"))
            return F.struct(x, t.alias("t"))

        return _ewm_expr(self, _ewm_time_decay(tau, normalize), ignore_nulls=True, elem=elem)

    def ewm_std(self, *, alpha: float | None = None, span: float | None = None, com: float | None = None, half_life: float | None = None, adjust: bool = True, bias: bool = False, min_samples: int = 1, ignore_nulls: bool = False):
        """EW standard deviation: the square root of ``ewm_var``."""
        return self._ewm_var(
            _ewm_alpha(com, span, half_life, alpha), adjust, bias, min_samples, ignore_nulls, std=True
        )

    def ewm_var(self, *, alpha: float | None = None, span: float | None = None, com: float | None = None, half_life: float | None = None, adjust: bool = True, bias: bool = False, min_samples: int = 1, ignore_nulls: bool = False):
        """EW variance (polars-compute/src/ewm/cov.rs with x == y);
        ``bias=False`` applies the (Σw)²/((Σw)²−Σw²) correction."""
        return self._ewm_var(
            _ewm_alpha(com, span, half_life, alpha), adjust, bias, min_samples, ignore_nulls, std=False
        )

    def _ewm_var(self, a, adjust, bias, min_samples, ignore_nulls, *, std: bool):
        rec = _ewm_var_moments(1.0 - a, bias, std) if adjust else _ewm_var_rec(1.0 - a, a, bias, std)
        return _ewm_expr(
            self, rec, ignore_nulls=ignore_nulls, min_samples=min_samples,
            spec={"kind": "std" if std else "var", "alpha": a, "adjust": adjust, "bias": bias},
        )

    def rolling_skew(self, window_size: int, *, bias: bool = True, min_samples: int | None = None):
        """Rolling skew from windowed power sums (bias=False applies the
        sqrt(n(n-1))/(n-2) sample correction, like Expr.skew)."""

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = ctx.order_window().rowsBetween(-(window_size - 1), 0)
            e1, e2, e3 = (F.avg(c).over(w), F.avg(c * c).over(w), F.avg(c * c * c).over(w))
            m2 = e2 - e1 * e1
            m3 = e3 - 3 * e1 * e2 + 2 * e1 * e1 * e1
            val = m3 / F.pow(m2, 1.5)
            if not bias:
                n = F.count(c).over(w).cast("double")
                val = val * F.sqrt(n * (n - 1)) / (n - 2)
            need = window_size if min_samples is None else min_samples
            return F.when(F.count(c).over(w) >= need, val)

        return Expr(fn, self._name)

    def rolling_kurtosis(self, window_size: int, *, fisher: bool = True, bias: bool = True, min_samples: int | None = None):
        """Rolling kurtosis from windowed power sums; all four
        fisher x bias variants (bias=False applies the scipy/polars G2
        sample correction)."""

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = ctx.order_window().rowsBetween(-(window_size - 1), 0)
            n = F.count(c).over(w).cast("double")
            e1 = F.avg(c).over(w)
            e2 = F.avg(c * c).over(w)
            e3 = F.avg(c * c * c).over(w)
            e4 = F.avg(c * c * c * c).over(w)
            m2 = e2 - e1 * e1
            m4 = e4 - 4 * e1 * e3 + 6 * e1 * e1 * e2 - 3 * F.pow(e1, F.lit(4.0))
            g2 = m4 / (m2 * m2) - 3
            val = g2
            if not bias:
                val = ((n - 1) / ((n - 2) * (n - 3))) * ((n + 1) * g2 + 6)
            if not fisher:
                val = val + 3
            need = window_size if min_samples is None else min_samples
            return F.when(F.count(c).over(w) >= need, val)

        return Expr(fn, self._name)

    def rolling_sum(self, window_size: int, weights=None, min_samples: int | None = None, *, center: bool = False):
        if weights is not None:
            return self._rolling_weighted("sum", window_size, weights, min_samples, center)
        return self._rolling(F.sum, window_size, min_samples, center)

    def rolling_mean(self, window_size: int, weights=None, min_samples: int | None = None, *, center: bool = False):
        if weights is not None:
            return self._rolling_weighted("mean", window_size, weights, min_samples, center)
        return self._rolling(F.mean, window_size, min_samples, center)

    def rolling_min(self, window_size: int, weights=None, min_samples: int | None = None, *, center: bool = False):
        if weights is not None:
            return self._rolling_weighted("min", window_size, weights, min_samples, center)
        return self._rolling(F.min, window_size, min_samples, center)

    def rolling_max(self, window_size: int, weights=None, min_samples: int | None = None, *, center: bool = False):
        if weights is not None:
            return self._rolling_weighted("max", window_size, weights, min_samples, center)
        return self._rolling(F.max, window_size, min_samples, center)

    def rolling_std(self, window_size: int, weights=None, min_samples: int | None = None, *, center: bool = False, ddof: int = 1):
        if weights is not None:
            return self._rolling_weighted("std", window_size, weights, min_samples, center, ddof=ddof)
        f = F.stddev_samp if ddof == 1 else F.stddev_pop
        return self._rolling(f, window_size, min_samples, center)

    def rolling_var(self, window_size: int, weights=None, min_samples: int | None = None, *, center: bool = False, ddof: int = 1):
        if weights is not None:
            return self._rolling_weighted("var", window_size, weights, min_samples, center, ddof=ddof)
        f = F.var_samp if ddof == 1 else F.var_pop
        return self._rolling(f, window_size, min_samples, center)

    def rolling_median(self, window_size: int, weights=None, min_samples: int | None = None, *, center: bool = False):
        if weights is not None:
            return self._rolling_weighted("median", window_size, weights, min_samples, center)
        return self._rolling(lambda c: F.percentile(c, F.lit(0.5)), window_size, min_samples, center)

    def _rolling_weighted(self, kind: str, window_size: int, weights, min_samples, center: bool = False, *, ddof: int = 1, quantile: float = 0.5):
        """Weighted rolling aggregates (reference rolling_* weights=): the
        window's values multiply elementwise with the weights, then the
        aggregate runs over the weighted values — one collect per window
        (JVM array ops, no UDF)."""
        wlist = [float(x) for x in weights]

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx).cast("double")
            lo = -(window_size // 2) if center else -(window_size - 1)
            w = ctx.order_window().rowsBetween(lo, lo + window_size - 1)
            arr = F.collect_list(F.struct(c.alias("__v"))).over(w)
            vals = F.transform(arr, lambda s: s["__v"])
            wlit = F.array(*[F.lit(x) for x in wlist])
            wv = F.filter(
                F.zip_with(vals, wlit, lambda v, wt: v * wt),
                lambda v: v.isNotNull(),
            )
            n = F.size(wv)
            if kind == "sum":
                val = F.aggregate(wv, F.lit(0.0), lambda a, b: a + b)
            elif kind == "mean":
                val = F.aggregate(wv, F.lit(0.0), lambda a, b: a + b) / n
            elif kind == "min":
                val = F.array_min(wv)
            elif kind == "max":
                val = F.array_max(wv)
            elif kind in ("median", "quantile"):
                q = 0.5 if kind == "median" else quantile
                s = F.array_sort(wv)
                pos = (n - 1).cast("double") * F.lit(q)
                i0 = F.floor(pos).cast("int")
                i1 = F.ceil(pos).cast("int")
                v0, v1 = F.get(s, i0), F.get(s, i1)
                val = v0 + (v1 - v0) * (pos - i0.cast("double"))
            else:  # std / var
                s1 = F.aggregate(wv, F.lit(0.0), lambda a, b: a + b)
                s2 = F.aggregate(wv, F.lit(0.0), lambda a, b: a + b * b)
                m = s1 / n
                var = (s2 - n.cast("double") * m * m) / (n - ddof).cast("double")
                val = F.sqrt(var) if kind == "std" else var
            ms = window_size if min_samples is None else min_samples
            return F.when(n >= ms, val)

        return Expr(fn, self._name)

    def rolling_quantile(
        self,
        quantile: float,
        interpolation: str = "linear",
        *,
        window_size: int,
        weights=None,
        min_samples: int | None = None,
        center: bool = False,
    ):
        if weights is not None:
            return self._rolling_weighted(
                "quantile", window_size, weights, min_samples, center,
                quantile=quantile,
            )
        if interpolation == "linear":
            return self._rolling(lambda c: F.percentile(c, F.lit(quantile)), window_size, min_samples)
        # nearest/lower/higher/midpoint: sorted-array indexing over the
        # window values (same rule as Expr.quantile)
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = ctx.order_window().rowsBetween(-(window_size - 1), 0)
            arr = F.array_sort(F.collect_list(c).over(w))
            n = F.size(arr)
            pos = (n - 1) * F.lit(quantile)
            lo = F.floor(pos).cast("int")
            hi = F.ceil(pos).cast("int")
            if interpolation == "lower":
                val = F.get(arr, lo)
            elif interpolation == "higher":
                val = F.get(arr, hi)
            elif interpolation == "midpoint":
                val = (F.get(arr, lo) + F.get(arr, hi)) / 2
            elif interpolation == "nearest":
                val = F.get(arr, F.round(pos).cast("int"))
            else:
                raise ValueError(f"rolling_quantile interpolation {interpolation!r}")
            need = window_size if min_samples is None else min_samples
            return F.when(F.count(c).over(w) >= need, val)

        return Expr(fn, self._name)

    def _window_rank_col(self, arr, cur, method: str, seed, tiebreak_key):
        """Rank of ``cur`` among the window values ``arr`` (nulls ignored,
        like polars rank)."""
        less = F.size(F.filter(arr, lambda x: x < cur))
        eq = F.size(F.filter(arr, lambda x: x == cur))
        if method == "min":
            r = (less + 1).cast("double")
        elif method == "max":
            r = (less + eq).cast("double")
        elif method == "dense":
            r = (F.size(F.array_distinct(F.filter(arr, lambda x: x < cur))) + 1).cast(
                "double"
            )
        elif method == "average":
            r = (F.lit(2) * less + eq + 1) / F.lit(2.0)
        elif method == "random":
            # seeded-deterministic uniform pick among the tie positions
            draw = F.pmod(F.xxhash64(F.lit(seed or 0), cur, tiebreak_key), eq)
            r = (less + 1 + draw).cast("double")
        else:
            raise ValueError(f"rank method {method!r}")
        return F.when(cur.isNotNull(), r)

    def rolling_rank(
        self,
        window_size: int,
        method: str = "average",
        *,
        seed: int | None = None,
        min_samples: int | None = None,
        center: bool = False,
    ):
        """Rank of the newest value within its trailing window (reference
        expr.py rolling_rank; kernel polars-compute/src/rolling/).  Window
        values collected per row and ranked with array HOFs — stays inside
        the partitioned window, no shuffle beyond the ordering."""
        need = window_size if min_samples is None else min_samples
        shift = window_size // 2 if center else 0

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = ctx.order_window().rowsBetween(-(window_size - 1) + shift, shift)
            arr = F.collect_list(c).over(w)
            pos = F.row_number().over(ctx.order_window())
            val = self._window_rank_col(arr, c, method, seed, pos)
            return F.when(F.count(c).over(w) >= need, val)

        return Expr(fn, self._name)

    def rolling_rank_by(
        self,
        by,
        window_size: str,
        *,
        method: str = "average",
        seed: int | None = None,
        min_samples: int = 1,
        closed: str = "right",
    ):
        """Temporal-window variant of rolling_rank ((t-window, t] per row
        over ``by``, reference function_expr/rolling_by.rs)."""
        from polars_spark.plans.frame import _duration_us

        us = _duration_us(window_size)
        by_e = _to_expr(by) if not isinstance(by, str) else col(by)
        lo_off = 1 if closed in ("right", "none") else 0
        hi_off = -1 if closed in ("left", "none") else 0

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            okey = F.unix_micros(by_e._resolve(ctx).cast("timestamp"))
            w = (
                Window.partitionBy(*ctx.partition_cols())
                .orderBy(okey)
                .rangeBetween(-us + lo_off, hi_off)
            )
            arr = F.collect_list(c).over(w)
            pos = F.row_number().over(
                Window.partitionBy(*ctx.partition_cols()).orderBy(okey)
            )
            val = self._window_rank_col(arr, c, method, seed, pos)
            return F.when(F.count(c).over(w) >= min_samples, val)

        return Expr(fn, self._name)

    def rolling(self, index_column, *, period, offset=None, closed: str = "right"):
        """Expr.rolling (reference expr.py rolling): evaluate this aggregate
        expression over per-row ranges (t+offset, t+offset+period] of
        ``index_column``.  NOTE: like the reference, this form has no group
        keys — the ordered window spans the whole frame, so at scale prefer
        ``LazyFrame.rolling(..., group_by=...)`` (partitioned) for the same
        semantics."""
        from polars_spark.plans.frame import RollingGroupBy, _duration_us

        if closed not in RollingGroupBy._BOUNDS:
            raise ValueError(f"rolling closed={closed!r}")

        def _units(v):
            # polars "Ni" = N index steps (integer index column); otherwise
            # a temporal duration in µs
            if isinstance(v, str) and v.endswith("i") and v[:-1].lstrip("-").isdigit():
                return int(v[:-1])
            return _duration_us(v)

        p_us = _units(period)
        o_us = -p_us if offset is None else _units(offset)
        lo_off, hi_off = RollingGroupBy._BOUNDS[closed]
        idx_e = _to_expr(index_column) if not isinstance(index_column, str) else col(index_column)

        def fn(ctx: ExprContext) -> Column:
            idx = idx_e._resolve(ctx)
            is_ts = False
            try:
                is_ts = dict(ctx.df.dtypes).get(
                    index_column if isinstance(index_column, str) else "", ""
                ).startswith("timestamp")
            except Exception:
                pass
            okey = F.unix_micros(idx.cast("timestamp")) if is_ts else idx.cast("bigint")
            w = (
                Window.partitionBy(*ctx.partition_cols())
                .orderBy(okey)
                .rangeBetween(o_us + lo_off, o_us + p_us + hi_off)
            )
            ctx2 = ExprContext(ctx.df, ctx.order_cols, ctx.grouped, preps=ctx.preps, deferred=ctx.deferred)
            ctx2._window = w
            return self._resolve(ctx2)

        return Expr(fn, self._name)

    def truncate(self, decimals: int = 0):
        """Numeric truncation toward zero (reference expr.py truncate —
        unlike round there is no midpoint tiebreak)."""
        scale = 10 ** decimals

        def f(c: Column) -> Column:
            scaled = c * F.lit(scale)
            return (
                F.when(c >= 0, F.floor(scaled)).otherwise(F.ceil(scaled))
                / F.lit(scale)
            ).cast("double")

        return self._map(f)

    def inspect(self, fmt: str = "{}"):
        """Debug passthrough: print the evaluated batch and return it
        unchanged (reference expr.py inspect).  Executes as an Arrow-batched
        UDF, so output appears once per batch on the EXECUTOR's stdout (the
        driver console in local mode) — a debug tool, not a hot-path op."""

        def passthrough(s):
            print(fmt.format(s))
            return s

        from polars_spark.plans.datatype_expr import self_dtype

        return self.map_batches(passthrough, return_dtype=self_dtype())

    # -- operator-method aliases (reference expr.py: add/sub/.../xor) --------
    def add(self, other):
        return self.__add__(other)

    def sub(self, other):
        return self.__sub__(other)

    def mul(self, other):
        return self.__mul__(other)

    def truediv(self, other):
        return self.__truediv__(other)

    def floordiv(self, other):
        return self.__floordiv__(other)

    def mod(self, other):
        return self.__mod__(other)

    def neg(self):
        return self.__neg__()

    def eq(self, other):
        return self.__eq__(other)

    def ne(self, other):
        return self.__ne__(other)

    def lt(self, other):
        return self.__lt__(other)

    def le(self, other):
        return self.__le__(other)

    def gt(self, other):
        return self.__gt__(other)

    def ge(self, other):
        return self.__ge__(other)

    def _bool_or_bitwise(self, others, bool_op, bit_op):
        oes = [_to_expr(o) for o in others]
        parent = self

        def fn(ctx: ExprContext) -> Column:
            cs = [parent._resolve(ctx)] + [o._resolve(ctx) for o in oes]
            # mixed bool/int operands: ints are bitwise (reference and_/or_)
            ts = ctx.dtype(*cs)
            if None not in ts and not all(isinstance(t, BooleanType) for t in ts):
                cs = [c.cast("bigint") for c in cs]
                out = cs[0]
                for c in cs[1:]:
                    out = bit_op(out, c)
                return out
            out = cs[0]
            for c in cs[1:]:
                out = bool_op(out, c)
            return out

        return Expr(fn, self._name, self._is_agg)

    def and_(self, *others):
        return self._bool_or_bitwise(
            others, lambda a, b: a & b, lambda a, b: a.bitwiseAND(b)
        )

    def or_(self, *others):
        return self._bool_or_bitwise(
            others, lambda a, b: a | b, lambda a, b: a.bitwiseOR(b)
        )

    def xor(self, other):
        return self._zip(other, lambda a, b: a.cast("boolean") != b.cast("boolean"))

    # -- inverse hyperbolics / misc math ------------------------------------
    def arcsinh(self):
        return self._map(F.asinh)

    def arccosh(self):
        return self._map(F.acosh)

    def arctanh(self):
        return self._map(F.atanh)

    def cot(self):
        # cot(0) -> inf like the reference (try_divide sidesteps ANSI
        # divide-by-zero; the zero-sine branch restores the signed infinity)
        return self._map(
            lambda c: F.when(
                F.sin(c) == 0, F.lit(float("inf")) * F.signum(F.cos(c))
            ).otherwise(F.try_divide(F.cos(c), F.sin(c)))
        )

    def round_sig_figs(self, digits: int):
        """Round to significant figures: round(x, d-1-floor(log10(|x|)))."""

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx).cast("double")
            mag = F.floor(F.log10(F.abs(c)))
            scale = F.pow(F.lit(10.0), mag - (digits - 1))
            return F.when(c == 0, c).otherwise(F.round(c / scale) * scale)

        return Expr(fn, self._name)

    def is_close(self, other, *, abs_tol: float = 0.0, rel_tol: float = 1e-9, nans_equal: bool = False):
        o = _to_expr(other)

        def fn(ctx: ExprContext) -> Column:
            a, b = self._resolve(ctx).cast("double"), o._resolve(ctx).cast("double")
            tol = F.greatest(F.lit(abs_tol), F.lit(rel_tol) * F.greatest(F.abs(a), F.abs(b)))
            close = F.abs(a - b) <= tol
            if nans_equal:
                close = close | (F.isnan(a) & F.isnan(b))
            return close

        return Expr(fn, self._name)

    def dot(self, other):
        """sum(self * other) — an aggregate (reference expr.py dot)."""
        return (self * _to_expr(other)).sum()

    def max_by(self, by):
        """Value of self at the row where `by` is maximal (F.max_by)."""
        b = col(by) if isinstance(by, str) else _to_expr(by)
        e = self._zip(b, F.max_by)
        e._is_agg = True
        return e

    def min_by(self, by):
        b = col(by) if isinstance(by, str) else _to_expr(by)
        e = self._zip(b, F.min_by)
        e._is_agg = True
        return e

    def has_nulls(self):
        return self._agg(lambda c: F.max(c.isNull()))

    def is_empty(self, *, ignore_nulls: bool = False):
        def fn(ctx: ExprContext) -> Column:
            if ignore_nulls:
                # nulls count as absent: empty when no non-null value exists
                return _wover(ctx, F.count(self._resolve(ctx))) == 0
            return _wover(ctx, F.count(F.lit(1))) == 0

        return Expr(fn, self._name, is_agg=True)

    def pipe(self, function, *args, **kwargs):
        return function(self, *args, **kwargs)

    def zip_with(self, mask, other) -> "Expr":
        """Element-wise choose: self where mask is true, else other
        (reference Series/Expr.zip_with)."""
        me = _to_expr(mask)
        oe = _to_expr(other)

        def fn(ctx: ExprContext) -> Column:
            return F.when(me._resolve(ctx), self._resolve(ctx)).otherwise(
                oe._resolve(ctx)
            )

        return Expr(fn, self._name, self._is_agg)

    def where(self, predicate):
        """Alias of filter (reference expr.py where)."""
        return self.filter(predicate)

    def set_sorted(self, *, descending: bool = False):
        """No-op flag: Spark tracks ordering in the plan (SortExec), not on
        the column; LazyFrame.set_sorted carries the order context."""
        return self

    def rechunk(self):
        """No-op: Tungsten memory is not chunked the way polars Series are."""
        return self

    def to_physical(self):
        """Physical representation (reference dtype.rs:135 to_physical):
        Date -> days since epoch (Int32), Datetime -> µs since epoch
        (Int64), Time -> ns since midnight (Int64), Enum -> the UInt32
        category INDEX into the frozen categories (function_expr/cat.rs),
        plain Categorical -> the string itself (the engine's documented
        §1.2 passthrough: there is no global interning cache to index
        into), everything else unchanged."""

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            cats = self._enum_cats(ctx)
            if cats:
                arr = F.array(*[F.lit(x) for x in cats])
                return (F.array_position(arr, c) - 1).cast("bigint")
            (t,) = ctx.dtype(c)
            if isinstance(t, DateType):
                return F.datediff(c, F.lit("1970-01-01").cast("date")).cast("int")
            if isinstance(t, (TimestampType, TimestampNTZType)):
                return F.unix_micros(c.cast("timestamp"))
            if isinstance(t, TimeType):
                return _time_ns(c)
            return c

        return Expr(fn, self._name)

    def lower_bound(self):
        """Dtype minimum as a literal (reference expr.py lower_bound)."""
        return self._dtype_bound(0, "lower_bound")

    def upper_bound(self):
        return self._dtype_bound(1, "upper_bound")

    def _dtype_bound(self, side: int, what: str):
        def fn(ctx: ExprContext) -> Column:
            (t,) = ctx.dtype(self._resolve(ctx))
            t = t and t.simpleString()
            if t not in _SPARK_BOUNDS:
                raise ValueError(f"{what} undefined for dtype {t!r}")
            return F.lit(_SPARK_BOUNDS[t][side]).cast(t)

        return Expr(fn, self._name)

    def is_sorted(self, *, descending: bool = False):
        """Whether the column is non-decreasing (or non-increasing) over the
        frame order.  Lowered through the windowed-scalar prep: the per-row
        lag comparison is materialized once, aggregated in the same single
        pass, and broadcast back (a window cannot sit inside an aggregate)."""

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = ctx.order_window()
            prev = F.lag(c).over(w)
            ok = (c >= prev) if not descending else (c <= prev)
            step = F.when(prev.isNull(), F.lit(True)).otherwise(ok)
            name = f"__wscalar_{len(ctx.preps)}__"
            ctx.preps.append((name, step, F.min))
            return F.col(name)

        return Expr(fn, self._name)

    def arg_sort(self, *, descending: bool = False, nulls_last: bool = False):
        """The row indices that would sort this column (true argsort
        permutation — reference Expr.arg_sort; delegates to the shared
        arg_sort_by lowering)."""
        from polars_spark.functions import arg_sort_by

        out = arg_sort_by(self, descending=descending, nulls_last=nulls_last)
        e = Expr(out._fn, self._name)
        e._arg_sort_spec = ([self], [descending])  # gather() shortcut
        return e

    def extend_constant(self, value, n: int):
        """Append n copies of value to the IMPLODED list form (the agg
        context where polars uses this)."""
        v = _to_expr(value)

        def fn(ctx: ExprContext) -> Column:
            w = getattr(ctx, "_window", None)
            arr = _collect_keep_nulls(self._resolve(ctx), w)
            return F.concat(arr, F.array_repeat(v._resolve(ctx), n))

        return Expr(fn, self._name, is_agg=True)

    def ewm_sum(
        self,
        *,
        com: float | None = None,
        span: float | None = None,
        half_life: float | None = None,
        alpha: float | None = None,
        min_samples: int = 1,
        ignore_nulls: bool = False,
    ):
        """Exponentially weighted moving sum (polars-compute/src/ewm/sum.rs):
        the recursion s_t = (1-a)·s_{t-1} + x_t; under ignore_nulls=False
        (the reference default) null rows decay the sum, under True they are
        skipped.  Lowering: ``_ewm_fold``."""
        a = _ewm_alpha(com, span, half_life, alpha)
        return _ewm_expr(
            self, _ewm_sum(1.0 - a), ignore_nulls=ignore_nulls, min_samples=min_samples,
            spec={"kind": "sum", "alpha": a},
        )

    def rolling_std_by(self, by, window_size: str, *, min_samples: int = 1, ddof: int = 1, closed: str = "right"):
        f = F.stddev_samp if ddof == 1 else F.stddev_pop
        return self._rolling_by(f, by, window_size, min_samples, closed=closed)

    def rolling_var_by(self, by, window_size: str, *, min_samples: int = 1, ddof: int = 1, closed: str = "right"):
        f = F.var_samp if ddof == 1 else F.var_pop
        return self._rolling_by(f, by, window_size, min_samples, closed=closed)

    def rolling_median_by(self, by, window_size: str, *, min_samples: int = 1, closed: str = "right"):
        # median() is aggregate-only in Spark; percentile(.5) is the
        # window-frame-compatible equivalent
        return self._rolling_by(lambda c: F.percentile(c, F.lit(0.5)), by, window_size, min_samples, closed=closed)

    def rolling_quantile_by(self, by, window_size: str, *, quantile: float, min_samples: int = 1, closed: str = "right"):
        return self._rolling_by(lambda c: F.percentile(c, F.lit(quantile)), by, window_size, min_samples, closed=closed)

    # -- agg-context list family (reference: these exprs are length-changing;
    # inside group_by().agg() polars yields LIST results, which is exactly
    # Spark's collect_list world — all lowered over the order-preserving
    # implode and documented as agg-context operators) -----------------------

    def _implode_map(self, f, name=None, *, listwise: bool = True):
        """Agg form over the imploded group.  ``listwise`` (the default)
        marks results whose value is the group SERIES as a list — first/
        last/implode compose element-wise on those; scalar-valued maps
        (get/item) opt out."""
        im = self.implode()
        e = Expr(lambda ctx: f(im._resolve(ctx)), name or self._name, is_agg=True)
        e._listwise = listwise
        return e

    def sort(self, *, descending: bool = False, nulls_last: bool = False):
        """Sorted values (agg context -> sorted list).  Reference rule
        (Expr.sort docstring): nulls placed FIRST by default in BOTH
        directions, LAST with nulls_last=True.  Spark mapping:
        sort_array(asc) is nulls-first, array_sort is nulls-last."""
        if not descending and not nulls_last:
            return self._implode_map(lambda c: F.sort_array(c))
        if not descending:
            return self._implode_map(F.array_sort)
        if nulls_last:
            return self._implode_map(lambda c: F.sort_array(c, asc=False))
        return self._implode_map(lambda c: F.reverse(F.array_sort(c)))

    def sort_by(self, by, *more_by, descending=False, nulls_last=False):
        """Values sorted by other expression(s) (agg context).  Null keys
        follow the reference rule: FIRST by default (both directions),
        LAST under nulls_last — per key when lists are given."""
        bys = [by, *more_by]
        bys = [b for one in bys for b in (one if isinstance(one, (builtins.list, tuple)) else [one])]
        bes = [col(b) if isinstance(b, str) else _to_expr(b) for b in bys]
        descs = descending if isinstance(descending, (builtins.list, tuple)) else [descending] * builtins.len(bes)
        nlasts = (
            nulls_last
            if isinstance(nulls_last, (builtins.list, tuple))
            else [nulls_last] * builtins.len(bes)
        )

        def fn(ctx: ExprContext) -> Column:
            keys = []
            for be, d in zip(bes, descs):
                k = be._resolve(ctx)
                keys.append(k.alias(f"__k{builtins.len(keys)}"))
            pairs = _wover(
                ctx,
                F.collect_list(
                    F.struct(*keys, self._resolve(ctx).alias("__v"))
                ),
            )

            def cmp(left, right):
                # final tiebreak on the value keeps ties deterministic
                # (same contract as the previous lexicographic struct sort)
                lv, rv = left["__v"], right["__v"]
                res = (
                    F.when(lv.isNull() | rv.isNull(), F.lit(0))
                    .when(lv < rv, -1)
                    .when(lv > rv, 1)
                    .otherwise(F.lit(0))
                )
                for i, (d, nl) in reversed(
                    builtins.list(enumerate(zip(descs, nlasts)))
                ):
                    lf_, rf = left[f"__k{i}"], right[f"__k{i}"]
                    lt, gt = (F.lit(1), F.lit(-1)) if d else (F.lit(-1), F.lit(1))
                    # null placement is direction-independent: first unless
                    # nulls_last (reference sort_by rule)
                    n_l, n_r = (F.lit(1), F.lit(-1)) if nl else (F.lit(-1), F.lit(1))
                    res = (
                        F.when(lf_.isNull() & rf.isNull(), res)
                        .when(lf_.isNull(), n_l)
                        .when(rf.isNull(), n_r)
                        .when(lf_ < rf, lt)
                        .when(lf_ > rf, gt)
                        .otherwise(res)
                    )
                return res

            arr = F.array_sort(pairs, cmp)
            return F.transform(arr, lambda s: s.getField("__v"))

        e = Expr(fn, self._name, is_agg=True)
        e._listwise = True  # .first()/.last() compose element-wise on this
        return e

    def reverse(self):
        parent = self
        agg_form = self._implode_map(F.reverse)

        def fn(ctx: ExprContext) -> Column:
            if (
                ctx.grouped
                or getattr(ctx, "_window", None) is not None
                or getattr(ctx, "element_col", None) is not None
                or not ctx.order_cols
            ):
                # agg/window/element context (or no order contract): the
                # imploded-list reverse (group_by().agg(col.reverse()))
                return agg_form._resolve(ctx)
            # select context: length-preserving reverse — value at the
            # mirrored position of the frame's order contract.  One
            # full-frame window (a global reverse is inherently global;
            # order contracts only exist on driver-ingested frames, scans
            # stay on the agg path above).
            order = ctx.order_by_cols()
            c = parent._resolve(ctx)
            w_full = Window.orderBy(*order).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            arr = F.collect_list(F.struct(c.alias("__v"))).over(w_full)
            rn = F.row_number().over(Window.orderBy(*order))
            return F.element_at(arr, (F.size(arr) - rn + 1)).getField("__v")

        e = Expr(fn, self._name, is_agg=True)
        e._listwise = True
        e._agg_form = agg_form  # first/last/implode compose on the agg form
        return e

    def _k_extreme(self, k: int, *, desc: bool):
        def shape(c):
            # reference top_k_num_impl: out_len = min(k, len) INCLUDING
            # nulls, reconstructed "with nulls at the end" — so the non-null
            # extremes are padded with trailing nulls up to that length
            arr = F.array_sort(F.filter(c, lambda v: v.isNotNull()))
            picked = F.slice(F.reverse(arr) if desc else arr, 1, k)
            pad = F.greatest(
                F.least(F.lit(k), F.size(c)) - F.size(picked), F.lit(0)
            )
            nulls = F.transform(F.slice(c, 1, pad), lambda v: F.when(F.lit(False), v))
            return F.concat(picked, nulls)

        out = self._implode_map(shape)
        parent = self

        def rewrite(lf):
            # sole expr in a SELECT: the real TakeOrderedAndProject plan
            # (sort + limit k), k rows out — polars' length-changing top_k.
            # Nulls sort LAST instead of being filtered: top_k_num_impl
            # reconstructs "with nulls at the end" up to min(k, len), so a
            # series with fewer than k non-nulls pads with nulls.
            from polars_spark.plans.frame import LazyFrame

            ctx = lf._ctx()
            c = parent._resolve(ctx)
            nm = out._name
            order = F.col(nm).desc_nulls_last() if desc else F.col(nm).asc_nulls_last()
            df = (
                lf._with_scalar_preps(ctx)
                .select(c.alias(nm))
                .orderBy(order)
                .limit(k)
            )
            return LazyFrame(df, [])

        out._select_rewrite = rewrite
        return out

    def top_k(self, k: int = 5):
        # polars top_k ignores nulls (reverse(array_sort) would put them first)
        return self._k_extreme(k, desc=True)

    def bottom_k(self, k: int = 5):
        return self._k_extreme(k, desc=False)

    def top_k_by(self, by, k: int = 5, *, reverse: bool = False):
        if reverse:
            return self.bottom_k_by(by, k)
        b = col(by) if isinstance(by, str) else _to_expr(by)

        def fn(ctx: ExprContext) -> Column:
            pairs = _wover(ctx, F.collect_list(F.struct(b._resolve(ctx).alias("__k"), self._resolve(ctx).alias("__v"))))
            return F.transform(F.slice(F.reverse(F.array_sort(pairs)), 1, k), lambda s: s.getField("__v"))

        e = Expr(fn, self._name, is_agg=True)
        e._listwise = True
        return e

    def bottom_k_by(self, by, k: int = 5, *, reverse: bool = False):
        b = col(by) if isinstance(by, str) else _to_expr(by)

        def fn(ctx: ExprContext) -> Column:
            pairs = _wover(ctx, F.collect_list(F.struct(b._resolve(ctx).alias("__k"), self._resolve(ctx).alias("__v"))))
            return F.transform(F.slice(F.array_sort(pairs), 1, k), lambda s: s.getField("__v"))

        e = Expr(fn, self._name, is_agg=True)
        e._listwise = True
        return e

    def limit(self, n: int = 10):
        return self._implode_map(lambda c: F.slice(c, 1, n))

    def slice(self, offset, length=None):
        if isinstance(offset, Expr) or isinstance(length, Expr):
            # expression offset/length (reference expr.slice(pl.len()-10,
            # pl.col("bar"))): resolve both sides, sign handled per row
            oe = _to_expr(offset)
            le = _to_expr(length) if length is not None else None
            im = self.implode()

            def fn_e(ctx: ExprContext) -> Column:
                c = im._resolve(ctx)
                off = oe._resolve(ctx).cast("int")
                start = F.when(off >= 0, off + 1).otherwise(
                    F.greatest(F.size(c) + off + 1, F.lit(1))
                )
                ln = le._resolve(ctx).cast("int") if le is not None else F.size(c)
                return F.slice(c, start, ln)

            e = Expr(fn_e, self._name, is_agg=True)
            e._listwise = True
            return e

        def f(c):
            if offset >= 0:
                start = offset + 1
                return F.slice(c, start, length) if length is not None else F.slice(c, start, F.size(c))
            start = F.greatest(F.size(c) + offset + 1, F.lit(1))
            ln = F.lit(length) if length is not None else F.size(c)
            return F.slice(c, start, ln)

        return self._implode_map(f)

    def gather(self, indices, *, null_on_oob: bool = False):
        idx = indices if isinstance(indices, (list, tuple)) else None
        spec = getattr(indices, "_arg_sort_spec", None) if idx is None else None
        if spec is not None and len(spec[0]) == 1:
            # col.gather(arg_sort_by(k)) IS sort_by(k) — lower to the
            # windowless sorted-list form instead of a global argsort
            return self.sort_by(spec[0][0], descending=spec[1][0])
        if idx is None:
            # expression indices (gather(pl.arg_sort_by("a"))): both sides
            # implode, then a JVM transform does the positional lookup
            ie = _to_expr(indices)
            parent = self

            def fn2(ctx: ExprContext) -> Column:
                varr = parent.implode()._resolve(ctx)
                iarr = (
                    ie._resolve(ctx) if ie._is_agg else ie.implode()._resolve(ctx)
                )
                if null_on_oob:
                    return F.transform(iarr, lambda i: F.get(varr, i.cast("int")))
                return F.transform(
                    iarr,
                    lambda i: _gather_oob_guard(
                        varr, i.cast("int"), F.get(varr, i.cast("int"))
                    ),
                )

            e = Expr(fn2, self._name, is_agg=True)
            e._listwise = True
            return e

        def f(c):
            if null_on_oob:
                return F.array(*[F.get(c, int(i)) for i in idx])
            return F.array(
                *[
                    _gather_oob_guard(c, F.lit(int(i)), F.get(c, int(i)))
                    for i in idx
                ]
            )

        return self._implode_map(f)

    def get(self, index: int):
        """Value at position `index` of the (order-preserving) imploded
        group — agg context."""
        return self._implode_map(lambda c: F.get(c, index), listwise=False)

    def index_of(self, value):
        """0-based position of the first occurrence (null when absent)."""
        v = _to_expr(value)

        def fn(ctx: ExprContext) -> Column:
            im = self.implode()._resolve(ctx)
            pos = F.array_position(im, v._resolve(ctx))
            return F.when(pos > 0, pos - 1).cast("bigint")

        return Expr(fn, self._name, is_agg=True)

    def append(self, other):
        if getattr(other, "_chain_fn", None) is not None:
            # appending a selector chain (pl.all().head(1).append(pl.all()
            # .tail(1))): inside a per-column expansion both sides bind to
            # the SAME column — self's root name
            other = other._chain_fn(col(self._name))
        o = col(other) if isinstance(other, str) else _to_expr(other)
        # already-aggregated sides (head/tail/sort) are list-valued — don't
        # implode them again (nested-aggregate error)
        left = self if self._is_agg else self.implode()
        right = o if o._is_agg else o.implode()

        def fn(ctx: ExprContext) -> Column:
            lc, rc = left._resolve(ctx), right._resolve(ctx)
            # a Null-dtype side (pl.repeat(None, n)) resolves to
            # array<void>, which concat refuses — coerce it to the other
            # side's type
            lt, rt = (t.simpleString() if t else "" for t in ctx.dtype(lc, rc))
            if lt == "array<void>" and rt.startswith("array<") and rt != lt:
                lc = lc.cast(rt)
            elif rt == "array<void>" and lt.startswith("array<") and lt != rt:
                rc = rc.cast(lt)
            return F.concat(lc, rc)

        return Expr(fn, self._name, is_agg=True)

    def flatten(self):
        """Implode then flatten one nesting level (alias family of
        explode-in-agg: list-of-lists -> list)."""
        return self._implode_map(F.flatten)

    def drop_nans(self):
        return self._implode_map(lambda c: F.filter(c, lambda v: ~F.isnan(v)))

    def rle(self):
        """Run-length encoding of the ordered group: list of structs
        {len, value} — an aggregate fold over the imploded array."""

        def f(arr):
            def step(acc, v):
                last = F.element_at(acc, -1)
                same = last.isNotNull() & (
                    last.getField("value").eqNullSafe(v)
                )
                grown = F.concat(
                    F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))),
                    F.array(F.struct((last.getField("len") + 1).alias("len"), last.getField("value").alias("value"))),
                )
                appended = F.concat(acc, F.array(F.struct(F.lit(1).cast("bigint").alias("len"), v.alias("value"))))
                return F.when(F.size(acc) == 0, appended).otherwise(
                    F.when(same, grown).otherwise(appended)
                )

            zero = F.expr("array()").cast("array<struct<len:bigint,value:double>>")
            return F.aggregate(arr.cast("array<double>"), zero, step)

        out = self._implode_map(f)
        parent = self

        def rewrite(lf, _o=out):
            # sole expr in a SELECT: polars rle() is length-changing — one
            # row per run (explode of the run list)
            from polars_spark.plans.frame import LazyFrame

            ctx = lf._ctx()
            c = _o._resolve(ctx)
            nm = _o._name
            df = lf._with_scalar_preps(ctx).select(F.explode(c).alias(nm))
            return LazyFrame(df, [])

        out._select_rewrite = rewrite
        return out

    def item(self, *, allow_empty: bool = False):
        """The single value (get(0) over the imploded group; polars raises
        on length != 1 — per-row raising is not expressible, extra rows are
        ignored)."""
        return self.get(0)

    def explode(self, *, empty_as_null: bool = True):
        """polars Expr.explode / flatten: in a SELECT this is row explosion
        of the list column (explode_outer — null/empty -> null row; pass
        empty_as_null=False to drop those rows instead); inside
        group_by().agg() it flattens one nesting level of the captured
        group lists."""
        imploded = self._implode_map(lambda c: F.flatten(c))

        def fn(ctx: ExprContext) -> Column:
            if ctx.grouped or getattr(ctx, "_window", None) is not None:
                return imploded._resolve(ctx)
            if not empty_as_null:
                return F.explode(self._resolve(ctx))
            return F.explode_outer(self._resolve(ctx))

        # is_agg: inside group_by().agg() this IS the aggregate (flatten of
        # the captured lists) — never re-imploded by the implicit-implode rule
        e = Expr(fn, self._name, is_agg=True)
        e._listwise = True
        e._agg_form = imploded
        return e

    def flatten(self):
        return self.explode()

    def arg_true(self):
        """Positions (0-based, frame order) where the predicate is true —
        list result in agg context."""

        def f(arr):
            idx = F.sequence(F.lit(0), F.size(arr) - 1)
            return F.filter(idx, lambda i: F.get(arr, i))

        return self._implode_map(f)

    def arg_unique(self):
        """Positions of first occurrences (0-based, frame order)."""

        def f(arr):
            idx = F.sequence(F.lit(0), F.size(arr) - 1)
            return F.filter(idx, lambda i: F.array_position(arr, F.get(arr, i)) == i + 1)

        return self._implode_map(f)

    def from_json(self, dtype=None):
        """Deprecated polars alias of str.json_decode (schema required —
        Spark's from_json does not infer)."""
        if dtype is None:
            raise ValueError("from_json requires a dtype/schema on this engine")
        return self._map(lambda c: F.from_json(c, _dtype_to_spark(dtype)))

    def exclude(self, *names):
        """Wildcard complement (pl.all().exclude(...)); only meaningful on
        the wildcard — use pl.exclude(...) / selectors otherwise."""
        if not getattr(self, "_wildcard", False):
            raise ValueError("Expr.exclude is only supported on pl.all()")
        from polars_spark import selectors as cs

        flat = []
        for n in names:
            flat.extend(n) if isinstance(n, (list, tuple)) else flat.append(n)
        return ~cs.by_name(*flat)

    def hist(self, bins=None, *, bin_count: int | None = None, include_breakpoint: bool = False, include_category: bool = False):
        """Histogram of the group (agg context) over right-closed bins
        (polars semantics: (lo, hi], first bin closed on the left), either
        from explicit literal bin edges or bin_count uniform bins between
        group min and max.  Output shape follows the reference flags:
        plain counts by default, {breakpoint,...}/{category,...} structs
        when requested (category is the "(lo, hi]" interval label)."""
        if bins is None and bin_count is None:
            bin_count = 10

        def mk_bin(hi_col, cat_col, cnt_col):
            if not include_breakpoint and not include_category:
                return cnt_col
            fields = []
            if include_breakpoint:
                fields.append(hi_col.alias("breakpoint"))
            if include_category:
                fields.append(cat_col.alias("category"))
            fields.append(cnt_col.alias("count"))
            return F.struct(*fields)

        if bins is not None:
            # Literal bin edges: per-bin CONDITIONAL COUNT aggregates
            # (count(when(pred, 1)) — map-side partial aggregation, never
            # an implode.  The old collect_list-the-whole-group form built
            # one giant array per group and ran an interpreted HOF filter
            # over it once per bin — a single 7.2s one-core task for the
            # 600k-row global hist at sf0.1 (r13 event-log probe).  Counts
            # are identical: a null value fails every bin predicate, which
            # is exactly the old explicit isNotNull pre-filter.
            edges = [float(b) for b in bins]

            def g(ctx):
                v = self._resolve(ctx).cast("double")
                out = []
                for i in range(len(edges) - 1):
                    lo, hi = edges[i], edges[i + 1]
                    pred = ((v >= lo) if i == 0 else (v > lo)) & (v <= hi)
                    out.append(
                        mk_bin(
                            F.lit(hi),
                            F.lit(f"({lo}, {hi}]"),
                            F.count(F.when(pred, F.lit(1))).cast("bigint"),
                        )
                    )
                return F.array(*out)

            e = Expr(g, self._name, is_agg=True)
            e._listwise = True
            return e

        def f(arr):
            a = F.filter(arr.cast("array<double>"), lambda v: v.isNotNull())
            lo = F.array_min(a).cast("double")
            hi = F.array_max(a).cast("double")
            width = (hi - lo) / bin_count
            out = []
            for i in range(bin_count):
                b_lo = lo + width * i
                b_hi = hi if i == bin_count - 1 else lo + width * (i + 1)
                pred = (lambda b_lo=b_lo, b_hi=b_hi, first=(i == 0): (
                    lambda v: ((v >= b_lo) if first else (v > b_lo)) & (v <= b_hi)
                ))()
                out.append(
                    mk_bin(
                        b_hi,
                        F.format_string("(%s, %s]", b_lo, b_hi),
                        F.size(F.filter(a, pred)).cast("bigint"),
                    )
                )
            return F.array(*out)

        return self._implode_map(f)

    def bitwise_leading_zeros(self):
        """Exact leading-zero count for 64-bit ints via the binary-string
        representation (bin() drops leading zeros for non-negatives)."""

        def f(ctx: ExprContext) -> Column:
            c = self._resolve(ctx).cast("bigint")
            return (
                F.when(c == 0, F.lit(64))
                .when(c < 0, F.lit(0))
                .otherwise(64 - F.length(F.bin(c)))
                .cast("int")
            )

        return Expr(f, self._name)

    def bitwise_trailing_zeros(self):
        def f(ctx: ExprContext) -> Column:
            c = self._resolve(ctx).cast("bigint")
            low = c.bitwiseAND(-c)  # lowest set bit
            return (
                F.when(c == 0, F.lit(64))
                .otherwise(F.length(F.bin(low)) - 1)
                .cast("int")
            )

        return Expr(f, self._name)

    def bitwise_leading_ones(self):
        def f(ctx: ExprContext) -> Column:
            c = self._resolve(ctx).cast("bigint")
            inv = c.bitwiseXOR(F.lit(-1).cast("bigint"))
            return (
                F.when(inv == 0, F.lit(64))
                .when(inv < 0, F.lit(0))
                .otherwise(64 - F.length(F.bin(inv)))
                .cast("int")
            )

        return Expr(f, self._name)

    def bitwise_trailing_ones(self):
        def f(ctx: ExprContext) -> Column:
            c = self._resolve(ctx).cast("bigint")
            inv = c.bitwiseXOR(F.lit(-1).cast("bigint"))
            low = inv.bitwiseAND(-inv)
            return (
                F.when(inv == 0, F.lit(64))
                .otherwise(F.length(F.bin(low)) - 1)
                .cast("int")
            )

        return Expr(f, self._name)

    def rolling_sum_by(self, by, window_size: str, *, min_samples: int = 1, closed: str = "right"):
        return self._rolling_by(F.sum, by, window_size, min_samples, closed=closed)

    def rolling_mean_by(self, by, window_size: str, *, min_samples: int = 1, closed: str = "right"):
        return self._rolling_by(F.mean, by, window_size, min_samples, closed=closed)

    def rolling_min_by(self, by, window_size: str, *, min_samples: int = 1, closed: str = "right"):
        return self._rolling_by(F.min, by, window_size, min_samples, closed=closed)

    def rolling_max_by(self, by, window_size: str, *, min_samples: int = 1, closed: str = "right"):
        return self._rolling_by(F.max, by, window_size, min_samples, closed=closed)

    def _rolling_by(self, agg, by, window_size: str, min_samples: int, closed: str = "right"):
        """Temporal rolling window (RollingFunctionBy,
        function_expr/rolling_by.rs:6): (t - window, t] per row over the
        µs-resolution axis of ``by``; partition comes from .over()."""
        from polars_spark.plans.frame import _duration_us

        us = _duration_us(window_size)
        by_e = _to_expr(by) if not isinstance(by, str) else col(by)

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            okey = F.unix_micros(by_e._resolve(ctx).cast("timestamp"))
            bounds = {
                # (t - window, t] default; polars closed variants
                "right": (-(us - 1), 0),
                "left": (-us, -1),
                "both": (-us, 0),
                "none": (-(us - 1), -1),
            }[closed]
            w = (
                Window.partitionBy(*ctx.partition_cols())
                .orderBy(okey)
                .rangeBetween(*bounds)
            )
            val = agg(c).over(w)
            if min_samples > 1:
                val = F.when(F.count(c).over(w) >= min_samples, val)
            return val

        return Expr(fn, self._name)

    def _rolling(self, agg, window_size: int, min_samples: int | None, center: bool = False):
        if min_samples is None:
            min_samples = window_size

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            if center:
                # polars center=True: window spans [i - n//2, i + (n-1) - n//2]
                lo = -(window_size // 2)
                w = ctx.order_window().rowsBetween(lo, lo + window_size - 1)
            else:
                w = ctx.order_window().rowsBetween(-(window_size - 1), 0)
            val = agg(c).over(w)
            if min_samples > 1:
                cnt = F.count(c).over(w)
                val = F.when(cnt >= min_samples, val)
            return val

        return Expr(fn, self._name)

    def over(self, *partition_by, order_by=None, descending: bool = False, mapping_strategy: str = "group_to_rows", **kw):
        if "partition_by" in kw:  # over(**{"partition_by": ..., "order_by": ...})
            pb = kw.pop("partition_by")
            partition_by = tuple(pb) if isinstance(pb, (builtins.list, tuple)) else (pb,)
            order_by = kw.pop("order_by", order_by)
        """polars ``Expr.over`` (dsl/expr/mod.rs:124).  mapping_strategy
        'group_to_rows' (default) gives each row its group's value; 'join'
        attaches the whole group's value list to every row."""
        parts = _flatten_exprs(partition_by)

        if mapping_strategy == "join":
            def fn_join(ctx: ExprContext) -> Column:
                pcols = [p._resolve(ctx) for p in parts]
                w = Window.partitionBy(*pcols)
                if ctx.order_cols:
                    # same determinism rule as group_to_rows below: the
                    # joined value LIST follows frame order, never the
                    # accidental partition layout
                    w = w.orderBy(*ctx.order_by_cols()).rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                if self._is_agg:
                    # list-valued aggregates (head/sort/...) already give the
                    # group's value list — window them directly
                    sub = ExprContext(ctx.df, ctx.order_cols, preps=ctx.preps, deferred=ctx.deferred)
                    sub._window = w
                    return self._resolve(sub)
                return _collect_keep_nulls(self._resolve(ctx), w)

            return Expr(fn_join, self._name)
        if mapping_strategy not in ("group_to_rows", "explode"):
            raise ValueError(f"mapping_strategy {mapping_strategy!r}")

        def fn(ctx: ExprContext) -> Column:
            pcols = [p._resolve(ctx) for p in parts]
            w = Window.partitionBy(*pcols)
            inner_order = ctx.order_cols
            if order_by is not None:
                obs = _flatten_exprs([order_by])
                ocols = [o._resolve(ctx) for o in obs]
                if descending:
                    ocols = [c.desc() for c in ocols]
                inner_order = None
                w = w.orderBy(*ocols)
                sub = ExprContext(ctx.df, ctx.order_cols, grouped=False, preps=ctx.preps, deferred=ctx.deferred)
                # aggregates over an ordered window need full-frame bounds
                w = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            elif self._is_agg:
                sub = ExprContext(ctx.df, ctx.order_cols, preps=ctx.preps, deferred=ctx.deferred)
                if ctx.order_cols:
                    # a BARE partition window leaves within-partition row
                    # order unspecified: order-dependent aggregates (first/
                    # last/implode) were only accidentally correct — a
                    # SIBLING window with a different orderBy re-sorts the
                    # partition and flips their result (caught by the r8
                    # window fuzz).  Attaching the frame order costs no new
                    # exchange (WindowExec sorts partitions anyway) and the
                    # full-frame bounds keep group_to_rows semantics.
                    w = w.orderBy(*ctx.order_by_cols()).rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
            else:
                sub = ctx

            if self._is_agg:
                # route the window through ctx._window: every aggregate NODE
                # wraps itself in .over(w) (see _agg/_wover), so compositions
                # like `a.sum() - b.first()` window each aggregate correctly
                # instead of requiring the agg to be outermost.
                sub._window = w
                return self._resolve(sub)
            # non-agg exprs (shift/cum/rank/...) need the partition in their
            # order window: give them a context whose order_window is
            # partitioned.
            part_ctx = _PartitionedContext(ctx, pcols, order_by=order_by, descending=descending)
            return self._resolve(part_ctx)

        e = Expr(fn, self._name)
        if getattr(self, "_ewm_spec", None) is not None and order_by is None:
            # keep the ewm hoist viable under .over(keys) in frame order
            e._ewm_spec = self._ewm_spec
            e._ewm_parts = parts
        return e

    # -- misc ---------------------------------------------------------------
    def unique(self, maintain_order: bool = False):
        def fn(ctx: ExprContext) -> Column:
            # keep-nulls collect: polars unique() retains a null entry when
            # the group contains nulls (array_distinct dedupes it to one)
            w = getattr(ctx, "_window", None)
            return F.array_distinct(_collect_keep_nulls(self._resolve(ctx), w))

        return Expr(fn, self._name, is_agg=True)

    def unique_counts(self):
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            return F.count(F.lit(1)).over(Window.partitionBy(*ctx.partition_cols(), c))

        return Expr(fn, self._name)

    def value_counts(
        self,
        *,
        sort: bool = False,
        parallel: bool = True,
        name: str = "count",
        normalize: bool = False,
    ):
        """polars Expr.value_counts -> struct{value, count} per distinct
        value.  In a SELECT this is a length-changing, frame-level group-by:
        LazyFrame.select detects the marker and lowers it to the real
        distributed ``groupBy(value).count()`` plan (one keyed shuffle — the
        same plan polars' own value_counts runs).  In agg context the counts
        are built per group with array HOFs over the imploded group."""

        def fn_agg(arr):
            distinct = F.array_distinct(arr)
            return F.transform(
                distinct,
                lambda d: F.struct(
                    d.alias(self._name),
                    F.size(F.filter(arr, lambda x: x.eqNullSafe(d))).alias(name),
                ),
            )

        out = self._implode_map(fn_agg)
        out._vc_parent = self  # select-context rewrite marker
        out._vc_opts = {"sort": sort, "name": name, "normalize": normalize}
        return out

    @staticmethod
    def _replace_mapping(old, new) -> dict:
        """Normalize the reference's replace argument forms — a dict, a
        pair of lists, a pair of scalars, or Series — to one mapping."""
        if new is None and isinstance(old, dict):
            return old
        from polars_spark.series import Series as _S

        if isinstance(old, _S):
            old = old.to_list()
        if isinstance(new, _S):
            new = new.to_list()
        olds = list(old) if isinstance(old, (list, tuple)) else [old]
        if isinstance(new, (list, tuple)):
            news = list(new)
            if len(news) == 1:
                news = news * len(olds)
        else:
            news = [new] * len(olds)
        if len(olds) != len(news):
            msg = f"replace: old has {len(olds)} values, new has {len(news)}"
            raise ValueError(msg)
        return dict(zip(olds, news))

    def replace(self, old=None, new=None, *, default=None, return_dtype=None, mapping=None):
        old = mapping if old is None else old
        if isinstance(old, Expr) or isinstance(new, Expr):
            # expression old/new (reference replace with scalar-agg args):
            # one when() on the resolved pair — aggregates broadcast via
            # the scalar-projection rule
            oe, ne = _to_expr(old), _to_expr(new)

            def fn_e(ctx: ExprContext) -> Column:
                c = self._resolve(ctx)
                return F.when(c == oe._resolve(ctx), ne._resolve(ctx)).otherwise(c)

            return Expr(fn_e, self._name)
        mapping = Expr._replace_mapping(old, new)

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            out = None
            for k, v in mapping.items():
                cond = c.isNull() if k is None else (c == F.lit(k))
                lv = _typed_lit(v)
                out = F.when(cond, lv) if out is None else out.when(cond, lv)
            if default is None:
                return out.otherwise(c)
            return out.otherwise(_col_of(default, ctx))

        return Expr(fn, self._name)

    def replace_strict(self, old=None, new=None, default=_NO_DEFAULT, return_dtype=None, *, mapping=None):
        """Like replace, but unmatched values ERROR at execution (polars
        ReplaceStrict) unless a default is given — lowered to raise_error().
        An EXPLICIT ``default=None`` maps unmatched values to null (the
        polars no_default sentinel distinction)."""
        old = mapping if old is None else old
        if isinstance(old, Expr) or isinstance(new, Expr):
            oe, ne = _to_expr(old), _to_expr(new)

            def fn_e(ctx: ExprContext) -> Column:
                c = self._resolve(ctx)
                hit = F.when(c == oe._resolve(ctx), ne._resolve(ctx))
                if default is not _NO_DEFAULT:
                    return hit.otherwise(_col_of(default, ctx))
                return hit.otherwise(
                    F.raise_error(
                        F.concat(F.lit("replace_strict: value not in mapping: "), c.cast("string"))
                    )
                )

            return Expr(fn_e, self._name)
        mapping = Expr._replace_mapping(old, new)

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            out = None
            for k, v in mapping.items():
                cond = c.isNull() if k is None else (c == F.lit(k))
                lv = _typed_lit(v)
                out = F.when(cond, lv) if out is None else out.when(cond, lv)
            if default is not _NO_DEFAULT:
                return out.otherwise(_col_of(default, ctx))
            err = F.raise_error(
                F.concat(F.lit("replace_strict: value not in mapping: "), c.cast("string"))
            )
            return out.otherwise(err)

        return Expr(fn, self._name)

    # -- UDF surface (§2.11) -------------------------------------------------
    def _batched_udf_expr(self, series_fn, return_dtype) -> "Expr":
        """pandas_udf-backed Expr; return_dtype may be a DataTypeExpr
        (pl.dtype_of / pl.self_dtype), resolved against the frame schema."""
        from pyspark.sql.functions import pandas_udf

        from polars_spark.plans.datatype_expr import DataTypeExpr

        if getattr(series_fn, "__annotations__", None):
            # user functions are typically annotated (s: pl.Series) ->
            # pl.Series, which pandas_udf's hint inspection rejects —
            # re-expose as an unannotated callable, and accept a
            # driver-style Series return
            orig_fn = series_fn

            def series_fn(s, _f=orig_fn):  # noqa: F811 - deliberate wrap
                out = _f(s)
                if hasattr(out, "to_pandas_series"):
                    return out.to_pandas_series()
                if hasattr(out, "to_list") and not hasattr(out, "iloc"):
                    import pandas as _pd

                    return _pd.Series(out.to_list())
                return out

        if isinstance(return_dtype, DataTypeExpr):
            def fn(ctx: ExprContext) -> Column:
                rt = self._resolve_dtype_expr(return_dtype, ctx)
                return pandas_udf(series_fn, rt)(self._resolve(ctx))

            return Expr(fn, self._name, self._is_agg)
        udf = pandas_udf(series_fn, _dtype_to_spark(return_dtype))
        return self._map(lambda c: udf(c))

    def map_batches(self, function, return_dtype="double", *, agg_list: bool = False, is_elementwise: bool = False, returns_scalar: bool = False):
        """polars Expr.map_batches (AnonymousFunction): vectorized over Arrow
        batches via pandas_udf — function takes and returns a pandas Series.
        ``returns_scalar`` broadcasts the scalar result over the batch (the
        reference gives one row; the broadcast value is identical)."""
        if returns_scalar:
            import pandas as _pd

            orig = function

            def function(s, _f=orig):  # noqa: F811 - deliberate wrap
                v = _f(s)
                return v if isinstance(v, _pd.Series) else _pd.Series([v] * len(s))

        return self._batched_udf_expr(function, return_dtype)

    @classmethod
    def deserialize(cls, source, *, format: str = "binary") -> "Expr":
        """Rebuild an Expr from Expr.meta.serialize output (reference
        expr/expr.py:532).  Binary payloads are cloudpickled Expr closures
        (round-trip with meta.serialize); strings are parsed as SQL
        expression text.  File-likes/paths accepted like the reference."""
        if hasattr(source, "read"):
            source = source.read()
        elif isinstance(source, str):
            import os

            if os.path.sep in source and os.path.exists(source):
                mode = "rb" if format == "binary" else "r"
                with open(source, mode) as fh:
                    source = fh.read()
        if isinstance(source, bytes):
            from pyspark import cloudpickle

            out = cloudpickle.loads(source)
            if not isinstance(out, cls):
                raise ValueError("deserialize: payload is not a serialized Expr")
            return out
        return sql_expr(source)

    @property
    def ext(self):
        """Extension-type namespace (reference ExprExtensionNameSpace) —
        extension types store as their physical column here, so extension
        ops are plain expressions on the storage column."""
        raise NotImplementedError(
            "Expr.ext: extension types store as their physical storage "
            "column on Spark; operate on the column directly"
        )

    def register_plugin(self, *, lib=None, symbol=None, args=None, **kwargs):
        """Deprecated plugin hook (reference Expr.register_plugin ->
        plugins.register_plugin_function)."""
        from polars_spark.plugins import register_plugin_function

        return register_plugin_function(
            plugin_path=lib, function_name=symbol or "", args=[self, *(args or [])], **kwargs
        )

    def map_elements(self, function, return_dtype="double"):
        """polars Expr.map_elements: scalar function applied per element —
        still shipped Arrow-batched (pandas_udf + Series.map), never
        row-at-a-time pickling."""
        return self._batched_udf_expr(lambda s: s.map(function), return_dtype)

    def repeat_by(self, n):
        return self._zip(n, lambda c, k: F.array_repeat(c, k.cast("int")))

    def gather_every(self, n: int, offset: int = 0):
        """Every nth value (select context): a length-changing select —
        rewritten to the frame-level partition-offset plan
        (LazyFrame.gather_every, scale-safe row positions)."""
        parent = self
        out = Expr(
            lambda ctx: (_ for _ in ()).throw(
                NotImplementedError(
                    "Expr.gather_every is select-context only (length-changing)"
                )
            ),
            self._name,
        )

        def rewrite(lf):
            ctx = lf._ctx()
            c = parent._resolve(ctx)
            nm = out._name
            projected = type(lf)(
                lf._with_scalar_preps(ctx).select(c.alias(nm)), lf._order
            )
            return projected.gather_every(n, offset)

        out._select_rewrite = rewrite
        return out

    def rolling_map(
        self,
        function,
        window_size: int,
        *,
        weights: list[float] | None = None,
        min_samples: int | None = None,
        center: bool = False,
    ):
        """polars Expr.rolling_map: a custom reducer over each rolling
        window.  The window's values (nulls preserved, polars semantics) are
        gathered per row via a window collect, then ``function`` is applied
        Arrow-batched (pandas_udf: one python call per batch, each window a
        pandas Series) — never row-at-a-time pickling.

        For the built-in reducers use rolling_sum/mean/... — those stay
        fully JVM-side; this is the escape hatch for arbitrary logic."""
        import pandas as pd

        from pyspark.sql.functions import pandas_udf

        if min_samples is None:
            min_samples = window_size
        if center:
            # label at the window center (even widths lean left, as pandas)
            lo = -(window_size // 2)
            hi = window_size - 1 + lo
        else:
            lo, hi = -(window_size - 1), 0
        wts = list(weights) if weights is not None else None

        def batch(s):
            def one(vals):
                ser = pd.Series([v["v"] for v in vals])
                if wts is not None:
                    ser = ser * pd.Series(wts[: len(ser)])
                return function(ser)

            return s.map(one)

        udf = pandas_udf(batch, "double")

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            w = ctx.order_window().rowsBetween(lo, hi)
            # struct-wrap so collect_list keeps nulls (polars windows do)
            arr = F.collect_list(F.struct(c.alias("v"))).over(w)
            val = udf(arr)
            return F.when(F.size(arr) >= min_samples, val)

        return Expr(fn, self._name)

    def shuffle(self, seed: int | None = None):
        """polars Expr.shuffle, made deterministic: values are re-dealt to
        rows by the rank of xxhash64(position, seed) — same seed, same
        permutation, on any engine run.

        Scale note: like slice/tail this is a presentation op at top level
        (the value gather needs the whole series per partition group); under
        ``.over(keys)`` it permutes within each group, shuffle-partitioned
        by the keys."""
        s = 0 if seed is None else int(seed)

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            parts = ctx.partition_cols()
            full = Window.partitionBy(*parts).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            # each row's deal position = rank of its seeded row-identity hash
            hw = Window.partitionBy(*parts).orderBy(
                F.xxhash64(*ctx.order_plain_cols(), F.lit(s))
            )
            k = F.row_number().over(hw)
            # canonical value order (array_sort); row k takes the k-th value.
            # collect_list drops nulls, so rows dealt past the non-null count
            # get null — the null slots land on the highest hash ranks, and
            # the output multiset equals the input's.
            ordered = F.array_sort(F.collect_list(c).over(full))
            return F.get(ordered, k - 1)

        return Expr(fn, self._name)

    def sample(
        self,
        n: int | None = None,
        *,
        fraction: float | None = None,
        with_replacement: bool = False,
        shuffle: bool | None = None,
        seed: int | None = None,
        **_kw,
    ):
        """Expr.sample (reference py-polars/src/polars/expr/expr.py sample):
        sampling a full column is a ROW-subset operation, so in select
        context it lowers to the LazyFrame.sample plan (seeded, distributed
        Bernoulli / rand-order limit — the same length-changing sole-expr
        rewrite top_k/value_counts use).  Outside select context it has no
        row-aligned meaning and raises, like the reference inside
        with_columns."""
        if n is not None and fraction is not None:
            raise ValueError("cannot specify both `n` and `fraction`")

        def fn(ctx: ExprContext) -> Column:
            raise NotImplementedError(
                "Expr.sample is only supported as the sole expression of a "
                "select() (a row-subset plan); use LazyFrame.sample for the "
                "frame form"
            )

        e = Expr(fn, self._name)

        def rewrite(lf, _p=self, _n=n, _f=fraction):
            sub = lf.select(_p)
            if _f is None and _n is None:
                _n = 1  # polars default: a single sampled element
            return sub.sample(
                _f, n=_n, seed=seed, with_replacement=with_replacement,
                shuffle=bool(shuffle),
            )

        e._select_rewrite = rewrite
        return e

    def shrink_dtype(self):
        """polars Expr.shrink_dtype: cast to the smallest integer type that
        holds the column's min/max.  The bounds are data, so polars itself
        computes them eagerly; here a 2-value aggregate probe runs at
        plan-build time (same documented trade as list.to_struct width
        inference — the only exprs whose SCHEMA depends on data)."""

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            row = ctx.df.select(F.min(c).alias("lo"), F.max(c).alias("hi")).collect()[0]
            lo = row["lo"] if row["lo"] is not None else 0
            hi = row["hi"] if row["hi"] is not None else 0
            for t, tlo, thi in (
                ("tinyint", -(2**7), 2**7 - 1),
                ("smallint", -(2**15), 2**15 - 1),
                ("int", -(2**31), 2**31 - 1),
            ):
                if lo >= tlo and hi <= thi:
                    return c.cast(t)
            return c.cast("bigint")

        return Expr(fn, self._name)

    def reshape(self, dimensions: tuple) -> "Expr":
        """polars Expr.reshape((-1, width)): chunk the series into
        fixed-width arrays.  Row-count-changing, so it aggregates: the
        result is ONE list-of-arrays — ``.explode()`` (or the frame explode)
        yields the reshaped rows, matching polars' Array-dtype output.
        ``reshape((-1,))`` flattens list rows instead (alias of explode
        semantics on the imploded series)."""
        dims = tuple(dimensions)
        if len(dims) == 1:
            # flatten list rows back to one flat series (one row, one array;
            # explode at frame level for scalar rows)
            def fn_flat(ctx: ExprContext) -> Column:
                return F.flatten(self.implode()._resolve(ctx))

            return Expr(fn_flat, self._name, is_agg=True)
        if len(dims) != 2 or (dims[0] != -1 and dims[0] <= 0) or dims[1] <= 0:
            raise ValueError("reshape supports (-1,), (rows, width) or (-1, width) with width > 0")
        # explicit (rows, width): same chunking — rows is implied by the
        # data (polars validates rows*width == len; total length is not
        # known at plan time here, so a mismatch surfaces as a short/ragged
        # final chunk rather than an eager error)
        width = int(dims[1])

        def fn(ctx: ExprContext) -> Column:
            arr = self.implode()._resolve(ctx)
            n_chunks = F.ceil(F.size(arr) / width).cast("int")
            return F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.slice(arr, i * width + 1, width),
            )

        return Expr(fn, self._name, is_agg=True)

    def reinterpret(self, *, signed: bool = True, dtype=None):
        """polars Expr.reinterpret: bit-reinterpret Int64 <-> UInt64.  Spark
        has no unsigned ints (SURVEY §1.2 widens UInt64 to Decimal(20,0)),
        so the lowering is arithmetic on the two's-complement value — pure
        JVM math, exact for the full 64-bit range."""
        if dtype is not None:
            signed = getattr(dtype, "__name__", str(dtype)).startswith("Int")
        # 2^64 exceeds a py4j long — ship it as a decimal-cast string literal
        two64 = F.lit("18446744073709551616").cast("decimal(21,0)")

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            if signed:
                # unsigned (decimal) -> signed bits
                d = c.cast("decimal(21,0)")
                half = F.lit(str(2**63)).cast("decimal(21,0)")
                return (
                    F.when(d >= half, (d - two64).cast("bigint"))
                    .otherwise(d.cast("bigint"))
                )
            # signed -> unsigned (decimal carries the full range)
            d = c.cast("decimal(21,0)")
            return F.when(d < 0, d + two64).otherwise(d).cast("decimal(20,0)")

        return Expr(fn, self._name)


    def cut(self, breaks: list[float], *, labels: list[str] | None = None, left_closed: bool = False, include_breaks: bool = False):
        """Bin values into discrete categories (FunctionExpr::Cut) — a
        when-chain over the break points, fully codegen'd.
        ``include_breaks`` returns a struct {breakpoint, category} like the
        reference."""
        if labels is None:
            edges = ["-inf", *[str(b) for b in breaks], "inf"]
            if left_closed:
                labels = [f"[{lo}, {hi})" for lo, hi in zip(edges, edges[1:])]
            else:
                labels = [f"({lo}, {hi}]" for lo, hi in zip(edges, edges[1:])]

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            expr = None
            brk = None
            for b, lab in zip(breaks, labels):
                cond = (c < b) if left_closed else (c <= b)
                expr = F.when(cond, F.lit(lab)) if expr is None else expr.when(cond, F.lit(lab))
                bcol = F.lit(float(b))
                brk = F.when(cond, bcol) if brk is None else brk.when(cond, bcol)
            out = expr.otherwise(F.lit(labels[len(breaks)])) if expr is not None else F.lit(labels[0])
            if include_breaks:
                brks = (
                    brk.otherwise(F.lit(float("inf")))
                    if brk is not None
                    else F.lit(float("inf"))
                )
                return F.when(
                    c.isNotNull(),
                    F.struct(brks.alias("breakpoint"), out.alias("category")),
                )
            return F.when(c.isNotNull(), out)

        return Expr(fn, self._name)

    def shift_and_fill(self, fill_value, *, n: int = 1):
        """Deprecated polars alias: shift(n, fill_value=...)."""
        return self.shift(n, fill_value=fill_value)

    def qcut(self, quantiles, *, labels: list[str] | None = None, left_closed: bool = False, allow_duplicates: bool = False, include_breaks: bool = False):
        """Quantile binning (FunctionExpr::QCut).  Break points are exact
        percentiles registered as frame-level scalars (ctx.add_scalar): one
        tiny partial aggregate, broadcast back — the data itself never
        shuffles, let alone to a single partition.  At 100 TB swap in
        approx_percentile for the breakpoint pass."""
        if isinstance(quantiles, int):
            # polars: an int means N equal-probability bins
            qs = [i / quantiles for i in range(1, quantiles)]
        else:
            qs = list(quantiles)
        if labels is None:
            labels = [f"q{i}" for i in range(len(qs) + 1)]

        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            expr = None
            brk = None
            for q, lab in zip(qs, labels):
                b = ctx.add_scalar(F.percentile(c, F.lit(q)))
                cond = (c < b) if left_closed else (c <= b)
                expr = F.when(cond, F.lit(lab)) if expr is None else expr.when(cond, F.lit(lab))
                brk = F.when(cond, b) if brk is None else brk.when(cond, b)
            out = expr.otherwise(F.lit(labels[len(qs)]))
            if include_breaks:
                brks = brk.otherwise(F.lit(float("inf"))).cast("double")
                return F.when(
                    c.isNotNull(),
                    F.struct(brks.alias("breakpoint"), out.alias("category")),
                )
            return F.when(c.isNotNull(), out)

        return Expr(fn, self._name)

    def entropy(self, base: float = 2.718281828459045, normalize: bool = True):
        # -Σ p·ln p with p = x/S  ==  ln S − Σ x·ln x / S  (single agg pass)
        def fn(ctx: ExprContext) -> Column:
            c = self._resolve(ctx)
            s = _wover(ctx, F.sum(c))
            ent = F.log(s) - _wover(ctx, F.sum(c * F.log(c))) / s
            if not normalize:
                ent = -_wover(ctx, F.sum(F.log(c) * c))  # non-normalized: -Σ x·ln x
            return ent / F.log(F.lit(base))

        return Expr(fn, self._name, is_agg=True)


class _PartitionedContext(ExprContext):
    """ExprContext whose order_window() is partitioned (for Expr.over)."""

    def __init__(self, base: ExprContext, pcols, order_by=None, descending=False):
        super().__init__(
            base.df, base.order_cols, base.grouped, preps=base.preps,
            deferred=base.deferred,
        )
        self._pcols = pcols
        self._order_by = order_by
        self._desc = descending
        self._base = base

    def order_window(self, reverse: bool = False) -> Window:
        if self._order_by is not None:
            obs = _flatten_exprs([self._order_by])
            ocols = [o._resolve(self._base) for o in obs]
            if self._desc != reverse:
                ocols = [c.desc() for c in ocols]
            return Window.partitionBy(*self._pcols).orderBy(*ocols)
        if not self.order_cols:
            if self.deferred:
                raise OrderNeeded()
            raise ValueError("over(...) on order-sensitive expr needs row order or order_by=")
        return Window.partitionBy(*self._pcols).orderBy(*self.order_by_cols(reverse))

    def partition_cols(self) -> list[Column]:
        return list(self._pcols)


def _flatten_exprs(items) -> list[Expr]:
    out: list[Expr] = []
    for it in items:
        if isinstance(it, (list, tuple)):
            out.extend(_flatten_exprs(it))
        elif isinstance(it, Expr):
            out.append(it)
        elif isinstance(it, str):
            out.append(col(it))
        else:
            out.append(lit(it))
    return out


# ---------------------------------------------------------------------------
# constructors


def _col_ref(name: str):
    """F.col with polars name semantics: a dot is part of the COLUMN NAME,
    never a struct-field path — backtick-quote names the Spark parser
    would otherwise split."""
    if "." in name and "`" not in name:
        return F.col(f"`{name}`")
    return F.col(name)


def _col_fn(*names) -> Expr:
    if names and all(type(n).__name__ == "_DtypeStr" for n in names):
        # schema VALUES (spark type strings off lf.schema.dtypes()) select
        # by dtype, like passing the polars dtype classes
        from polars_spark import selectors as cs

        return cs.by_dtype(*[str(n) for n in names])
    if len(names) == 1 and isinstance(names[0], str):
        name = names[0]
        if name == "*":
            return all_()
        if name.startswith("^") and name.endswith("$"):
            # polars: ^...$ names are regex column selections
            from polars_spark import selectors as cs

            return cs.matches(name)
        return Expr(lambda ctx: _col_ref(name), name)
    if names and all(
        (isinstance(n, type) and issubclass(n, DataType)) or isinstance(n, DataType)
        for n in names
    ):
        # polars: pl.col(pl.Float64) selects by dtype
        from polars_spark import selectors as cs

        return cs.by_dtype(*[_dtype_to_spark(n) for n in names])
    # multi-column: expanded at frame level
    cols = []
    for n in names:
        if isinstance(n, (list, tuple)):
            cols.extend(n)
        else:
            cols.append(n)
    e = Expr(lambda ctx: F.col(cols[0]), cols[0])
    e._multi = list(cols)  # type: ignore[attr-defined]
    return e


class _Col:
    """``pl.col`` — callable like a function, and attribute access builds a
    column expression (``col.foo == col("foo")``), matching the reference
    ``Col`` class (py-polars/src/polars/functions/col.py:154)."""

    def __call__(self, *names) -> Expr:
        return _col_fn(*names)

    def __getattr__(self, name: str) -> Expr:
        if name.startswith("_"):  # keep pickling/introspection sane
            raise AttributeError(name)
        return _col_fn(name)

    def __repr__(self) -> str:
        return "<polars_spark.col>"


col = _Col()


def sql_expr(s):
    """Parse SQL expression string(s) into Expr(s) (reference:
    py-polars ``pl.sql_expr``, py-polars/src/polars/functions/lazy.py) —
    delegated to Spark's native SQL expression parser, so the whole Spark
    SQL scalar surface is available.  Named after the leading identifier
    (polars keeps the root column name); alias to override.  A list of
    strings returns a list of Exprs (reference multi form)."""
    if isinstance(s, (builtins.list, tuple)):
        return [sql_expr(x) for x in s]
    # 'expr AS name' names the output like the reference SQL projection
    alias = re.search(r"\s+AS\s+([A-Za-z_][A-Za-z0-9_]*)\s*$", s, re.IGNORECASE)
    m = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)", s)
    name = alias.group(1) if alias else (m.group(1) if m else "literal")
    body = s[: alias.start()] if alias else s
    # polars-SQL type aliases Spark lacks
    body = re.sub(r"(?i)\b(AS\s+)TEXT\b", r"\1STRING", body)
    return Expr(lambda ctx: F.expr(body), name)


def all_(*names) -> Expr:
    if names:
        # pl.all("a", "b"): boolean ALL of the named columns (reference
        # functions/lazy.py all): single name -> col.all()
        if len(names) == 1:
            return col(names[0]).all()
        return col(*names)
    # wildcard: a Selector so expression chains expand per column
    # (pl.all().sum() in agg context); _wildcard kept for legacy consumers
    from polars_spark import selectors as cs

    e = cs.all()
    e._wildcard = True  # type: ignore[attr-defined]
    return e


def nth(*indices, strict: bool = True) -> Expr:
    """Column(s) by position (reference functions/lazy.py:705: ``pl.nth``).

    Keeps the source column NAME (like the reference, which routes through
    ``cs.by_index``): ``df.select(pl.nth(1))`` yields a column named after
    the frame's second column.  Multiple indices (or a sequence) expand to
    multiple columns at the frame level; ``strict=False`` ignores
    out-of-bounds indices instead of raising."""
    idx: list[int] = []
    for i in indices:
        if isinstance(i, (list, tuple, range)):
            idx.extend(int(x) for x in i)
        else:
            idx.append(int(i))

    def fn(ctx: ExprContext) -> Column:
        return F.col(ctx.df.columns[idx[0]])

    e = Expr(fn, f"nth_{idx[0]}" if idx else "nth")
    e._nth_indices = (idx, strict)  # type: ignore[attr-defined]
    return e


def _rename_first(lf, name: str):
    first_col = lf.columns[0]
    return lf.rename({first_col: name}) if first_col != name else lf


def _py_to_lit(v) -> Column:
    return F.lit(v)


def lit(v, dtype=None) -> Expr:
    import datetime as _dt

    is_time = isinstance(v, _dt.time) and not isinstance(v, _dt.datetime)

    def fn(ctx: ExprContext) -> Column:
        spark_ddl = _dtype_to_spark(dtype) if dtype is not None else None
        if is_time or (spark_ddl is not None and spark_ddl.split("(")[0] == "time"):
            # Time literal -> native TIME(6): make the conf session-portable
            from polars_spark.session import ensure_time_type

            ensure_time_type(getattr(getattr(ctx, "df", None), "sparkSession", None))
        if spark_ddl is None:
            return _typed_lit(v)
        return F.lit(v).cast(spark_ddl)

    return Expr(fn, "literal")


class _WhenThen:
    def __init__(self, branches: list[tuple[Expr, Expr]]):
        self._branches = branches

    def when(self, *predicates, **constraints) -> "_When":
        return _When(self._branches, _combine_predicates(predicates, constraints))

    def otherwise(self, value) -> Expr:
        def _is_sel(v):
            return getattr(v, "_selector", None) is not None

        sels = [v for _, v in self._branches if _is_sel(v)]
        if _is_sel(value):
            sels.append(value)
        if sels:
            # a selector in then/otherwise broadcasts the whole chain per
            # matched column (reference whenthen multi-output expansion)
            from polars_spark.selectors import _SelectorChain

            sel0 = sels[0]
            branches = self._branches

            def chain_fn(e, _b=branches, _v=value):
                def mk(x):
                    if _is_sel(x):
                        cf = getattr(x, "_chain_fn", None)
                        return cf(e) if cf else e
                    return _to_expr(x)

                def fn(ctx: ExprContext) -> Column:
                    out = None
                    for cond, val in _b:
                        c, xx = cond._resolve(ctx), mk(val)._resolve(ctx)
                        out = F.when(c, xx) if out is None else out.when(c, xx)
                    return out.otherwise(mk(_v)._resolve(ctx))

                return Expr(fn, e._name)

            return _SelectorChain(
                sel0._selector, chain_fn, "whenthen",
                expand=getattr(sel0, "_schema_expand", None),
            )
        v = _to_expr(value)

        def fn(ctx: ExprContext) -> Column:
            out = None
            for cond, val in self._branches:
                c, x = cond._resolve(ctx), val._resolve(ctx)
                out = F.when(c, x) if out is None else out.when(c, x)
            return out.otherwise(v._resolve(ctx))

        return Expr(fn, self._branches[0][1]._name if self._branches else "literal")

    def _as_expr(self) -> Expr:
        def fn(ctx: ExprContext) -> Column:
            out = None
            for cond, val in self._branches:
                c, x = cond._resolve(ctx), val._resolve(ctx)
                out = F.when(c, x) if out is None else out.when(c, x)
            return out

        return Expr(fn, self._branches[0][1]._name if self._branches else "literal")

    # allow using a when/then chain directly as an expression (polars allows it)
    def alias(self, name: str) -> Expr:
        return self._as_expr().alias(name)

    def _resolve(self, ctx: ExprContext) -> Column:
        return self._as_expr()._resolve(ctx)

    @property
    def _name(self):
        return self._as_expr()._name

    @property
    def _is_agg(self):
        return False

    def __getattr__(self, name: str):
        """Any Expr method/namespace works directly on an unfinished
        when/then chain (polars semantics: missing otherwise = null), so
        ``pl.when(c).then(x).min().over(k)`` parses like the reference.
        Only fires for attributes _WhenThen doesn't define itself."""
        if name.startswith("_"):
            raise AttributeError(name)
        return getattr(self._as_expr(), name)


class _When:
    def __init__(self, prior: list[tuple[Expr, Expr]], condition: Expr):
        self._prior = prior
        self._condition = condition

    def then(self, value) -> _WhenThen:
        return _WhenThen(self._prior + [(self._condition, _to_expr(value))])


def _combine_predicates(predicates, constraints) -> Expr:
    conds: list[Expr] = [_to_expr(p) for p in _flatten_exprs(list(predicates))]
    for name, v in constraints.items():
        conds.append(_col_fn(name) == v)
    if not conds:
        raise TypeError("when() requires at least one predicate or constraint")
    combined = conds[0]
    for c in conds[1:]:
        combined = combined & c
    return combined


def when(*predicates, **constraints) -> _When:
    """``pl.when(...)`` — accepts positional predicates (AND-combined) and
    keyword equality constraints (``pl.when(x=1, y=2)``), like the reference
    (py-polars functions/whenthen.py)."""
    return _When([], _combine_predicates(predicates, constraints))


# ---------------------------------------------------------------------------
# dtype mapping (SURVEY.md §1.2)

class _MetaContext(ExprContext):
    """Resolution context for Expr.meta introspection: no frame, a sentinel
    order column (so order-sensitive exprs resolve), empty partition set."""

    SENTINEL = "__meta_order__"

    def __init__(self):
        super().__init__(None, [self.SENTINEL])


class ExprMetaNamespace:
    """polars Expr.meta (py-polars expr/meta.py): plan-level introspection.

    Our Expr is its own lowering (ctx -> Column), so introspection resolves
    the expr against a frameless context and walks the resulting UNRESOLVED
    Catalyst expression tree — root names are the UnresolvedAttribute leaves
    (lambda variables and the sentinel order column excluded)."""

    def __init__(self, e: "Expr"):
        self._e = e

    def _node(self):
        """The unresolved Spark ColumnNode tree (classic mode)."""
        from pyspark.sql import SparkSession

        from polars_spark.session import get_spark

        # F.col needs an active JVM even for unresolved trees; get_spark()
        # on a live session would set its default confs over the caller's
        if SparkSession.getActiveSession() is None:
            get_spark()
        return self._e._resolve(_MetaContext())._jc.node()

    def root_names(self) -> list[str]:
        """Column names this expression depends on (meta.root_names):
        the UnresolvedAttribute leaves of the ColumnNode tree (the sentinel
        order column and lambda variables excluded)."""
        txt = self._node().normalized().toString()
        out: list[str] = []
        for m in re.finditer(r"UnresolvedAttribute\(List\(([^)]+)\)", txt):
            name = m.group(1).split(", ")[0]
            if name != _MetaContext.SENTINEL and name not in out:
                out.append(name)
        return out

    def output_name(self, *, raise_if_undetermined: bool = True) -> str:
        return self._e._name

    def undo_aliases(self) -> "Expr":
        e = self._e
        while getattr(e, "_alias_of", None) is not None:
            e = e._alias_of
        return e

    def pop(self, *, schema=None) -> list:
        """The expression's direct inputs (reference meta.pop) — one level
        peeled.  Alias nodes expose their source; other nodes are opaque
        closures here, so they return themselves (documented)."""
        src_e = getattr(self._e, "_alias_of", None)
        return [src_e if src_e is not None else self._e]

    def eq(self, other: "Expr") -> bool:
        """Structural equality via the normalized unresolved tree — the
        OUTPUT NAME is part of the identity (an aliased expr is not equal
        to its unaliased source, reference meta.eq)."""
        o = _to_expr(other)
        return (
            self._node().normalized().toString()
            == ExprMetaNamespace(o)._node().normalized().toString()
            and self._e._name == o._name
        )

    def ne(self, other: "Expr") -> bool:
        return not self.eq(other)

    def has_multiple_outputs(self) -> bool:
        return False  # wildcards/selectors expand at frame level here

    def is_regex_projection(self) -> bool:
        return False

    def is_column(self) -> bool:
        return self._node().getClass().getSimpleName() == "UnresolvedAttribute"

    def is_literal(self, *, allow_aliasing: bool = False) -> bool:
        e = self.undo_aliases() if allow_aliasing else self._e
        return (
            ExprMetaNamespace(e)._node().getClass().getSimpleName() == "Literal"
        )

    def is_column_selection(self, *, allow_aliasing: bool = False) -> bool:
        e = self.undo_aliases() if allow_aliasing else self._e
        return ExprMetaNamespace(e).is_column()

    def tree_format(self, return_as_string: bool = True) -> str:
        """The unresolved ColumnNode tree rendering."""
        txt = self._node().normalized().toString()
        return txt if return_as_string else print(txt)  # noqa: T201

    def serialize(self, file=None, *, format: str = "binary"):
        """Serialize the expression (reference expr/meta.py serialize).

        ``binary`` (the reference default) pickles the Expr closure with
        cloudpickle — fully round-trippable through Expr.deserialize, like
        polars' binary DSL dump.  ``json`` emits the unresolved Catalyst
        node's display text (diagnostic only, like polars' versioned JSON:
        readable, not guaranteed parseable).  ``file`` (path or file-like)
        writes instead of returning, like the reference."""
        if format == "binary":
            from pyspark import cloudpickle

            payload = cloudpickle.dumps(self._e)
        else:
            payload = self._node().sql()
        if file is None:
            return payload
        if hasattr(file, "write"):
            file.write(payload)
            return None
        mode = "wb" if isinstance(payload, bytes) else "w"
        with open(file, mode) as fh:
            fh.write(payload)
        return None

    def as_expression(self) -> "Expr":
        """The original expression (reference meta.py:284 as_expression —
        identity: selectors already ride the Expr surface here)."""
        return self._e

    def as_selector(self):
        """Turn this expression into a selector (reference meta.py:288);
        raises if it is not a column or selector, like the reference."""
        from polars_spark import selectors as cs

        if isinstance(self._e, cs.Selector):
            return self._e
        if self.is_column():
            return cs.by_name(self.root_names()[0])
        raise ValueError(
            "expression is not a column or selector; cannot convert to selector"
        )

    def write_json(self, file=None):
        """Deprecated alias of serialize(format='json') (reference
        meta.py:374 — renamed in polars 0.20.11, kept for drop-ins)."""
        import warnings

        warnings.warn(
            "`meta.write_json` was renamed; use `meta.serialize` instead",
            DeprecationWarning,
            stacklevel=2,
        )
        return self.serialize(file, format="json")

    def _dot(self) -> str:
        """Graphviz dot of the unresolved ColumnNode tree (driver-side
        introspection only — nothing here touches data)."""
        lines = ["digraph expr {", '  node [shape=box, fontname="monospace"];']
        counter = [0]

        def label(n) -> str:
            kind = n.getClass().getSimpleName()
            try:
                txt = n.sql()
            except Exception:
                txt = ""
            txt = (txt[:40] + "…") if builtins.len(txt) > 40 else txt
            return f"{kind}\\n{txt}" if txt else kind

        def walk(n) -> int:
            me = counter[0]
            counter[0] += 1
            lines.append(f'  n{me} [label="{label(n)}"];')
            try:
                ch = n.children()
                it = ch.iterator()
                while it.hasNext():
                    cid = walk(it.next())
                    lines.append(f"  n{me} -> n{cid};")
            except Exception:
                pass
            return me

        walk(self._node().normalized())
        lines.append("}")
        return "\n".join(lines)

    def show_graph(
        self,
        *,
        show: bool = True,
        output_path=None,
        raw_output: bool = False,
        figsize=(16.0, 12.0),
        schema=None,
    ):
        """Format the expression as a Graphviz graph (reference meta.py:423).

        ``raw_output=True`` returns dot syntax (no external deps);
        ``output_path`` writes the dot text; ``show=True`` needs graphviz +
        matplotlib to render, which this image doesn't carry — env-gated."""
        dot = self._dot()
        if raw_output:
            return dot
        if output_path is not None:
            with open(output_path, "w") as fh:
                fh.write(dot)
            if not show:
                return None
        if show:
            try:
                import graphviz  # noqa: F401
                import matplotlib  # noqa: F401
            except ImportError as exc:  # pragma: no cover - env
                raise NotImplementedError(
                    "meta.show_graph(show=True) needs the 'graphviz' and "
                    "'matplotlib' packages; use raw_output=True or "
                    "output_path=... for the dot text"
                ) from exc
            from polars_spark.plotting import _display_dot  # pragma: no cover

            return _display_dot(dot, figsize)  # pragma: no cover
        return None


# Enum / Categorical are defined after the DataType base below (they
# subclass it for base_type/equality parity); forward declarations keep
# earlier type hints working.


# polars dtype classes (pl.Int64, pl.Datetime, ...): _dtype_to_spark maps
# them via __name__, so bare classes give full cast()/schema parity.
# DataTypeClass mirrors the reference metaclass (datatypes/classes.py:60):
# the class object itself answers base_type/is_/min/max/to_python, so both
# ``pl.Int8`` and ``pl.Int8()`` work everywhere a dtype is accepted.

# physical bounds for .min()/.max() (reference classes.py:309-360: literal
# expressions of the dtype's physical range; Time is ns-since-midnight)
_DTYPE_BOUNDS = {
    "Int8": (-128, 127),
    "Int16": (-32768, 32767),
    "Int32": (-2147483648, 2147483647),
    "Int64": (-9223372036854775808, 9223372036854775807),
    "Int128": (-(2**127), 2**127 - 1),
    "UInt8": (0, 255),
    "UInt16": (0, 65535),
    "UInt32": (0, 4294967295),
    "UInt64": (0, 18446744073709551615),
    "UInt128": (0, 2**128 - 1),
    "Float32": (float("-inf"), float("inf")),
    "Float64": (float("-inf"), float("inf")),
    "Time": (0, 86_399_999_999_999),
    "Date": (-2147483648, 2147483647),
}


class DataTypeClass(type):
    """Metaclass: bare dtype classes act like instances (reference
    DataTypeClass).  ``pl.List == pl.List(pl.Int32)`` is True (base-type
    equality); ``is_`` is the strict check."""

    def __eq__(cls, other) -> bool:
        if isinstance(other, DataTypeClass):
            return cls.__name__ == other.__name__ or (
                issubclass(cls, other) or issubclass(other, cls)
            )
        if isinstance(other, DataType):
            return isinstance(other, cls)
        return NotImplemented

    def __arrow_c_schema__(cls):
        # pa.field()/pa.schema() accept Arrow-C-exportable type objects —
        # lets pa.schema(pl.Schema({...})) consume bare dtype CLASSES
        return _dt_to_arrow(cls).__arrow_c_schema__()

    def __repr__(cls) -> str:
        # reference classes.py:62 — bare dtype classes print as their name
        return cls.__name__

    def __ne__(cls, other) -> bool:
        r = cls.__eq__(other)
        return NotImplemented if r is NotImplemented else not r

    __hash__ = type.__hash__


import builtins  # noqa: E402  (list/object dtype names shadow builtins below)


def _lit(v):
    from polars_spark.functions import lit as _pl_lit

    return _pl_lit(v)


class _classinst:
    """Descriptor: one function serving both ``pl.Int8.max()`` and
    ``pl.Int8().max()`` (the reference's classinstmethod pattern —
    metaclass methods alone are shadowed by same-named class attributes)."""

    def __init__(self, fn):
        self._fn = fn

    def __get__(self, obj, cls):
        target = obj if obj is not None else cls
        import functools

        return functools.partial(self._fn, target)


def _dt_name(t) -> str:
    return t.__name__ if isinstance(t, type) else type(t).__name__


def _dt_base_type(t):
    return t if isinstance(t, type) else type(t)


def _dt_is(t, other) -> bool:
    """Strict dtype identity (reference is_): parametric instances must
    match structurally; a bare class only matches the same bare class."""
    if isinstance(t, type) or isinstance(other, type):
        return t is other
    return type(t) is type(other) and t._params() == other._params()


def _dt_max(t):
    try:
        return _lit(_DTYPE_BOUNDS[_dt_name(t)][1])
    except KeyError:
        msg = f"cannot determine max of dtype {_dt_name(t)}"
        raise TypeError(msg) from None


def _dt_min(t):
    try:
        return _lit(_DTYPE_BOUNDS[_dt_name(t)][0])
    except KeyError:
        msg = f"cannot determine min of dtype {_dt_name(t)}"
        raise TypeError(msg) from None


def _dt_to_python(t):
    import datetime as _dt
    import decimal as _decimal

    n = _dt_name(t)
    if n.startswith(("Int", "UInt")):
        return int
    if n == "Decimal":
        return _decimal.Decimal
    if n.startswith("Float"):
        return float
    return {
        "Boolean": bool, "String": str, "Utf8": str, "Binary": bytes,
        "Date": _dt.date, "Datetime": _dt.datetime, "Time": _dt.time,
        "Duration": _dt.timedelta, "Null": type(None),
        "List": builtins.list, "Array": builtins.list, "Struct": dict,
        "Object": object, "Categorical": str, "Enum": str,
    }.get(n, object)


class DataType(metaclass=DataTypeClass):
    """Base class for polars dtypes (reference datatypes/classes.py).
    Parametric dtypes stringify to their Spark DDL, which is what
    _dtype_to_spark consumes."""

    base_type = _classinst(_dt_base_type)
    is_ = _classinst(_dt_is)
    max = _classinst(_dt_max)
    min = _classinst(_dt_min)
    to_python = _classinst(_dt_to_python)
    is_numeric = _classinst(
        lambda t: _dt_name(t) in _DTYPE_BOUNDS and _dt_name(t) not in ("Time", "Date")
    )
    is_integer = _classinst(lambda t: _dt_name(t).startswith(("Int", "UInt")))
    is_signed_integer = _classinst(lambda t: _dt_name(t).startswith("Int"))
    is_unsigned_integer = _classinst(lambda t: _dt_name(t).startswith("UInt"))
    is_float = _classinst(lambda t: _dt_name(t).startswith("Float"))
    is_decimal = _classinst(lambda t: _dt_name(t) == "Decimal")
    is_temporal = _classinst(
        lambda t: _dt_name(t) in ("Date", "Datetime", "Time", "Duration")
    )
    is_nested = _classinst(lambda t: _dt_name(t) in ("List", "Array", "Struct"))

    @classmethod
    def from_python(cls, py_type):
        import datetime as _dt
        import decimal as _decimal

        if py_type is _dt.datetime:  # before date: datetime subclasses date
            return Datetime
        mapping = {
            int: Int64, float: Float64, str: String, bool: Boolean,
            bytes: Binary, _dt.date: Date, _dt.time: Time,
            _dt.timedelta: Duration, _decimal.Decimal: Decimal,
            type(None): Null, builtins.list: List, tuple: List,
            dict: Struct, object: Object,
        }
        try:
            return mapping[py_type]
        except KeyError:
            msg = f"cannot infer dtype from {py_type!r}"
            raise TypeError(msg) from None

    def __arrow_c_schema__(self):
        return _dt_to_arrow(self).__arrow_c_schema__()

    def _params(self) -> tuple:
        return tuple(sorted(self.__dict__.items(), key=lambda kv: kv[0]))

    def __eq__(self, other) -> bool:
        if isinstance(other, DataTypeClass):
            return isinstance(self, other)
        if isinstance(other, DataType):
            return type(self).__name__ == type(other).__name__ and (
                self._params() == other._params()
            )
        return NotImplemented

    def __ne__(self, other) -> bool:
        r = self.__eq__(other)
        return NotImplemented if r is NotImplemented else not r

    def __hash__(self) -> int:
        return hash(type(self).__name__)

    def __repr__(self) -> str:
        # reference classes.py:156 — simple dtype instances print as the
        # class name; parametric dtypes override with their params
        return type(self).__name__


class Int8(DataType): ...
class Int16(DataType): ...
class Int32(DataType): ...
class Int64(DataType): ...
class Int128(DataType): ...
class UInt8(DataType): ...
class UInt16(DataType): ...
class UInt32(DataType): ...
class UInt64(DataType): ...
class Float32(DataType): ...
class Float64(DataType): ...
class Boolean(DataType): ...
class String(DataType): ...
class Utf8(String): ...  # alias dtype: Utf8 == String (reference alias)
class Binary(DataType): ...
class Date(DataType): ...


class Datetime(DataType):
    """pl.Datetime(time_unit, time_zone) — all Spark timestamps are
    microsecond precision; the unit/zone are carried as dtype params for
    schema fidelity (the tz annotation model lives on Expr.dt, see
    namespaces.py replace_time_zone)."""

    def __init__(self, time_unit: str = "us", time_zone=None):
        if time_unit not in ("ms", "us", "ns"):
            msg = f"invalid time_unit {time_unit!r}; expected one of ms/us/ns"
            raise ValueError(msg)
        self.time_unit = time_unit
        self.time_zone = str(time_zone) if time_zone is not None else None

    def __repr__(self) -> str:
        return f"Datetime(time_unit={self.time_unit!r}, time_zone={self.time_zone!r})"

    def __str__(self):
        return "timestamp"


class Time(DataType): ...


class Duration(DataType):
    """pl.Duration(time_unit) — maps to Spark day-time interval."""

    def __init__(self, time_unit: str = "us"):
        if time_unit not in ("ms", "us", "ns"):
            msg = f"invalid time_unit {time_unit!r}; expected one of ms/us/ns"
            raise ValueError(msg)
        self.time_unit = time_unit

    def __repr__(self) -> str:
        return f"Duration(time_unit={self.time_unit!r})"

    def __str__(self):
        return "interval day to second"


class Null(DataType): ...
class Float16(DataType): ...
class UInt128(DataType): ...
class Object(DataType): ...
class Unknown(DataType): ...


class Enum(DataType):
    """polars Enum dtype: a FROZEN category set (reference: polars-dtype
    categorical dtype.rs FrozenCategories).  Physically a string column;
    casts VALIDATE membership — strict cast raises on a value outside the
    categories, non-strict cast nulls it (polars' strict/non-strict cast
    split)."""

    def __init__(self, categories):
        self.categories = list(categories)

    def __repr__(self) -> str:
        return f"Enum(categories={self.categories!r})"

    def __str__(self):
        return "string"


class Categorical(DataType):
    """polars Categorical dtype — in this engine a string passthrough (the
    documented SURVEY §1.2 mapping: Tungsten/parquet already dictionary-encode
    strings; a global string cache would add a shuffle for no gain).

    Accepts a :class:`Categories` instance as first argument (reference
    Categorical(Categories) form) — the driver-side named mapping."""

    def __init__(self, ordering="physical"):
        if isinstance(ordering, str) or ordering is None:
            self.ordering = ordering or "physical"
            self.categories = None
        else:  # a Categories instance
            self.categories = ordering
            self.ordering = "physical"

    def __str__(self):
        return "string"


class Field:
    """A (name, dtype) pair inside a Struct (reference datatypes Field)."""

    def __init__(self, name: str, dtype):
        self.name = name
        self.dtype = dtype

    def __repr__(self):
        return f"Field({self.name!r}, {self.dtype})"


class List(DataType):
    """pl.List(inner) — maps to Spark array<inner>."""

    def __init__(self, inner):
        self.inner = inner

    def __repr__(self) -> str:
        return f"{type(self).__name__}({self.inner!r})"

    def __str__(self):
        return f"array<{_dtype_to_spark(self.inner)}>"


class Array(List):
    """pl.Array(inner, size) — fixed-size arrays map to array<inner> with
    the size as metadata only (SURVEY §1.2: Spark has no fixed-size array
    type; length enforcement is a constraint check)."""

    def __init__(self, inner, size=None, *, shape=None):
        super().__init__(inner)
        self.size = size if size is not None else shape

    def __repr__(self) -> str:
        dims, leaf = [], self
        while isinstance(leaf, Array):
            sz = leaf.size
            dims.extend(sz if isinstance(sz, (tuple, __import__("builtins").list)) else [sz])
            leaf = leaf.inner
        return f"Array({leaf!r}, shape={tuple(dims)!r})"


class Struct(DataType):
    """pl.Struct({name: dtype, ...} | [Field, ...])."""

    def __init__(self, fields):
        if isinstance(fields, dict):
            self.fields = [Field(k, v) for k, v in fields.items()]
        else:
            self.fields = [
                f if isinstance(f, Field) else Field(f[0], f[1]) for f in fields
            ]

    def __repr__(self) -> str:
        inner = ", ".join(f"{f.name!r}: {f.dtype!r}" for f in self.fields)
        return f"Struct({{{inner}}})"

    def __str__(self):
        inner = ",".join(f"`{f.name}`:{_dtype_to_spark(f.dtype)}" for f in self.fields)
        return f"struct<{inner}>"


class Decimal(DataType):
    """pl.Decimal(precision, scale) — exact match to DecimalType."""

    def __init__(self, precision: int | None = 38, scale: int = 0):
        self.precision = 38 if precision is None else precision
        self.scale = scale

    def __repr__(self) -> str:
        return f"Decimal(precision={self.precision}, scale={self.scale})"

    def __str__(self):
        return f"decimal({self.precision},{self.scale})"


class Schema(dict):
    """Ordered name -> dtype mapping (reference polars-schema schema.rs:13
    — python Schema class).  dict preserves insertion order, matching the
    reference's IndexMap.  Accepts mappings, (name, dtype) pair iterables,
    and Arrow-exportable schemas (pa.Schema); exports back via to_arrow /
    __arrow_c_schema__ so ``pa.schema(pl.Schema(...))`` round-trips."""

    def __init__(self, mapping=None, *, check_dtypes: bool = True, **named):
        super().__init__()
        if mapping is not None and hasattr(mapping, "__arrow_c_schema__") and not isinstance(mapping, Schema):
            import pyarrow as pa

            from polars_spark.plans.datatype_expr import _spark_to_polars

            from pyspark.sql.pandas.types import from_arrow_type

            mapping = {
                f.name: _spark_to_polars(from_arrow_type(f.type))
                for f in pa.schema(mapping)
            }
        for k, v in {**(dict(mapping) if mapping else {}), **named}.items():
            self[k] = v

    def __setitem__(self, key, value):
        # reference Schema instantiates bare dtype classes on insert
        # (schema.py __init__ / __setitem__): Schema({'x': pl.Int32})
        # stores Int32(), so values always repr/compare as instances
        if isinstance(value, DataTypeClass):
            value = value()
        super().__setitem__(key, value)

    def __repr__(self) -> str:
        return f"Schema({dict.__repr__(self)})"

    def names(self):
        return list(self.keys())

    def dtypes(self):
        return list(self.values())

    def len(self):
        return len(self)

    def to_ddl(self) -> str:
        return ", ".join(f"`{k}` {_dtype_to_spark(v)}" for k, v in self.items())

    def contains_dtype(self, dtype, *, recursive: bool = False) -> bool:
        """Whether the schema contains the dtype (reference schema.py:304);
        recursive=True also searches inside List/Array/Struct."""
        if not recursive:
            return any(_dt_eq(dt, dtype) for dt in self.values())
        return any(_dt_eq(dt, dtype) for dt in unpack_dtypes(*self.values(), include_compound=True))

    def to_frame(self, *, eager: bool = True):
        """An empty frame with this schema (reference schema.py:245)."""
        from polars_spark.sources import DataFrame as _build

        return _build(schema=dict(self))

    def to_python(self) -> dict:
        """{name: python type} (reference schema.py:286)."""
        return {name: _dt_to_python_type(tp) for name, tp in self.items()}

    def base_types(self) -> dict:
        return {name: tp.base_type() if hasattr(tp, "base_type") else tp for name, tp in self.items()}

    def to_arrow(self, *, compat_level=None):
        """pyarrow.Schema export — a direct driver-side type map (no JVM)."""
        import pyarrow as pa

        return pa.schema([pa.field(k, _dt_to_arrow(v)) for k, v in self.items()])

    def __arrow_c_schema__(self):
        return self.to_arrow().__arrow_c_schema__()


def _dt_eq(a, b) -> bool:
    """Dtype equality across class/instance forms (Int64 vs Int64())."""
    if isinstance(a, type) and isinstance(b, type):
        return a is b
    if isinstance(a, type):
        a = a()
    if isinstance(b, type):
        b = b()
    try:
        return bool(a == b)
    except Exception:
        return False


def _dt_to_arrow(tp):
    """polars dtype (class or instance) -> pyarrow type, driver-side."""
    import pyarrow as pa

    name = tp.__name__ if isinstance(tp, type) else type(tp).__name__
    simple = {
        "Int8": pa.int8(), "Int16": pa.int16(), "Int32": pa.int32(), "Int64": pa.int64(),
        "UInt8": pa.uint8(), "UInt16": pa.uint16(), "UInt32": pa.uint32(), "UInt64": pa.uint64(),
        "Float32": pa.float32(), "Float64": pa.float64(), "Boolean": pa.bool_(),
        "String": pa.large_string(), "Utf8": pa.large_string(), "Binary": pa.large_binary(),
        "Date": pa.date32(), "Datetime": pa.timestamp("us"), "Time": pa.time64("us"),
        "Duration": pa.duration("us"), "Null": pa.null(), "Categorical": pa.large_string(),
        "Enum": pa.large_string(),
    }
    if name in simple:
        return simple[name]
    if name in ("List", "Array") and not isinstance(tp, type):
        return pa.large_list(_dt_to_arrow(tp.inner))
    if name == "Struct" and not isinstance(tp, type):
        return pa.struct([pa.field(f.name, _dt_to_arrow(f.dtype)) for f in tp.fields])
    if name == "Decimal" and not isinstance(tp, type):
        return pa.decimal128(tp.precision or 38, tp.scale or 0)
    return pa.large_string()


def _dt_to_python_type(tp):
    v = tp.to_python() if hasattr(tp, "to_python") else None
    return v if isinstance(v, type) else type(v) if v is not None else object


def unpack_dtypes(*dtypes, include_compound: bool = False) -> set:
    """Flatten nested dtypes to their contained base dtypes (reference
    datatypes/convert.py unpack_dtypes)."""
    out: set = set()
    for d in dtypes:
        if d is None:
            continue
        if isinstance(d, (builtins.list, tuple, set, frozenset)):
            out |= unpack_dtypes(*d, include_compound=include_compound)
        elif isinstance(d, List):  # Array subclasses List
            if include_compound:
                out.add(d)
            out |= unpack_dtypes(d.inner, include_compound=include_compound)
        elif isinstance(d, Struct):
            if include_compound:
                out.add(d)
            out |= unpack_dtypes(
                *[f.dtype for f in d.fields], include_compound=include_compound
            )
        else:
            out.add(d)
    return out


_DTYPE_MAP = {
    "Int8": "tinyint",
    "Int16": "smallint",
    "Int32": "int",
    "Int64": "bigint",
    "Int128": "decimal(38,0)",
    "UInt8": "smallint",
    "UInt16": "int",
    "UInt32": "bigint",
    "UInt64": "decimal(20,0)",
    "Float32": "float",
    "Float64": "double",
    "Boolean": "boolean",
    "String": "string",
    "Utf8": "string",
    "Binary": "binary",
    "Date": "date",
    "Datetime": "timestamp",
    "Time": "time(6)",  # native Spark TIME (µs, like the fixed-µs Datetime policy)
    "Duration": "interval day to second",
    "Categorical": "string",
    "Enum": "string",
    "Null": "void",
    "Float16": "float",
    "UInt128": "decimal(38,0)",
    "Object": "binary",
    "Unknown": "string",
}


def _dtype_to_spark(dtype) -> str:
    if dtype is None:
        raise ValueError("dtype required")
    if isinstance(dtype, (Enum, Categorical)):
        return "string"
    if isinstance(dtype, str):
        key = dtype
    elif hasattr(dtype, "__name__"):
        key = dtype.__name__
    elif isinstance(dtype, DataType) and type(dtype).__name__ in _DTYPE_MAP:
        # simple dtype INSTANCES (pl.Int32()): their repr is "Int32()",
        # not a DDL string — map by class name (parametric instances
        # stringify to their Spark DDL below)
        key = type(dtype).__name__
    else:
        key = str(dtype)
    if key in _DTYPE_MAP:
        return _DTYPE_MAP[key]
    if key in ("int", "float", "str", "bool"):
        return {"int": "bigint", "float": "double", "str": "string", "bool": "boolean"}[key]
    return key  # assume already a Spark SQL type string


# -- named category registries (reference datatypes/classes.py:678) -----------

_CATEGORIES_REGISTRY: dict[tuple, list] = {}


class Categories:
    """A named, shared collection of categories for :class:`Categorical`
    (reference datatypes/classes.py:678).

    Instances with the same (name, namespace, physical) share one mapping.
    In this engine the mapping is a DRIVER-side registry: distributed
    columns stay plain strings (the §1.2 Categorical passthrough — parquet
    and Tungsten dictionary-encode them physically), so the registry is the
    lexical<->physical lookup for driver-local Series built with
    ``pl.Categorical(categories)``, exactly the indexing surface of the
    reference docstring."""

    def __init__(self, name: str | None = None, namespace: str = "", physical=None):
        if name is None or name == "":
            if namespace:
                msg = "global categories may not specify a namespace"
                raise ValueError(msg)
            name = ""
        self._name = name
        self._namespace = namespace
        self._physical = physical if physical is not None else UInt32
        self._key = (name, namespace, getattr(self._physical, "__name__", str(self._physical)))
        _CATEGORIES_REGISTRY.setdefault(self._key, [])

    @property
    def _cats(self) -> list:
        return _CATEGORIES_REGISTRY[self._key]

    def name(self) -> str:
        return self._name

    def namespace(self) -> str:
        return self._namespace

    def physical(self):
        return self._physical

    def is_global(self) -> bool:
        return self._name == ""

    def __iter__(self):
        return iter(self._cats)

    def to_series(self):
        """The categories as a String Series (reference classes.py)."""
        from polars_spark.series import Series

        return Series("category", builtins.list(self._cats), dtype=String)

    def to_dict(self) -> dict:
        """category -> physical index mapping (reference classes.py)."""
        return {cat: i for i, cat in enumerate(self._cats) if cat is not None}

    def _register(self, values) -> None:
        cats = self._cats
        seen = set(cats)
        for v in values:
            if v is not None and v not in seen:
                cats.append(v)
                seen.add(v)

    def __getitem__(self, item):
        cats = self._cats
        if isinstance(item, int):
            return cats[item] if 0 <= item < len(cats) else None
        try:
            return cats.index(item)
        except ValueError:
            return None

    def __iter__(self):
        return iter(list(self._cats))

    def __len__(self) -> int:
        return len(self._cats)

    def __eq__(self, other) -> bool:
        return isinstance(other, Categories) and other._key == self._key

    def __hash__(self) -> int:
        return hash(self._key)

    def __repr__(self) -> str:
        return f"Categories(name={self._name!r}, namespace={self._namespace!r})"
