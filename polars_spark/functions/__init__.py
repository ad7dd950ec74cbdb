"""Top-level polars functions (py-polars/src/polars/functions/): horizontal
reductions, concat_str/concat_list, fold/reduce, struct, coalesce, ranges.

All lowerings are built-in Spark column functions — no Python UDFs.
"""

from __future__ import annotations

from functools import reduce as _reduce

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from polars_spark.plans.expr import Expr, ExprContext, _to_expr, col, lit, when, all_, nth
from polars_spark.plans.namespaces import element

__all__ = [
    "col",
    "lit",
    "when",
    "nth",
    "element",
    "sum",
    "min",
    "max",
    "len",
    "first",
    "last",
    "count",
    "mean",
    "median",
    "n_unique",
    "sum_horizontal",
    "min_horizontal",
    "max_horizontal",
    "mean_horizontal",
    "all_horizontal",
    "any_horizontal",
    "concat_str",
    "concat_list",
    "struct",
    "coalesce",
    "fold",
    "reduce",
    "corr",
    "cov",
    "exclude",
    "rolling_corr",
    "rolling_cov",
    "int_ranges",
    "date_ranges",
    "business_day_count",
    "repeat",
    "salted_join",
    "band_join",
    "interval_join",
    "morton_interleave",
    "zorder_key",
    "sink_parquet_zorder",
    "heavy_hitters",
    "key_skew_profile",
    "linear_fit",
]


def _cols(exprs) -> list[Expr]:
    out = []
    for e in exprs:
        if isinstance(e, (list, tuple)):
            out.extend(_cols(e))
        elif isinstance(e, str):
            out.append(col(e))
        elif getattr(e, "_selector", None) is not None:
            # selector or selector-chain: kept as-is, expanded against the
            # schema at resolve time by _expand_multi
            out.append(e)
        else:
            out.append(_to_expr(e))
    return out


# -- column-wise shortcuts (pl.sum('a') == pl.col('a').sum()) ----------------


def sum(*names):
    return col(*names).sum()


def min(*names):
    return col(*names).min()


def max(*names):
    return col(*names).max()


def mean(*names):
    return col(*names).mean()


def median(*names):
    return col(*names).median()


class _PositionalColumn(Expr):
    """pl.first()/pl.last() no-arg forms: the frame's first/last column,
    keeping that column's own name (resolved against the schema lazily)."""

    def __init__(self, idx: int, label: str):
        self._idx = idx
        super().__init__(self._resolve_col, label)

    def _visible(self, ctx):
        return [c for c in ctx.df.columns if not c.startswith("__")]

    def _resolve_col(self, ctx):
        return F.col(self._visible(ctx)[self._idx])

    def _named(self, ctx):
        name = self._visible(ctx)[self._idx]
        return F.col(name).alias(name)


def _multi_col_agg(names, meth):
    """pl.first('a', 'c') variadic forms: a by_name selector chain — one
    output per named column, same agg applied to each."""
    from polars_spark import selectors as cs

    return getattr(cs.by_name(*names), meth)()


def first(name=None, *more):
    if name is None:
        # polars pl.first(): the frame's first column
        return _PositionalColumn(0, "first")
    if more:
        return _multi_col_agg((name, *more), "first")
    return col(name).first()


def last(name=None, *more):
    if name is None:
        return _PositionalColumn(-1, "last")
    if more:
        return _multi_col_agg((name, *more), "last")
    return col(name).last()


def count(name=None, *more):
    if name is None:
        return len()
    if more:
        return _multi_col_agg((name, *more), "count")
    return col(name).count()


def n_unique(name, *more):
    if more:
        return _multi_col_agg((name, *more), "n_unique")
    return col(name).n_unique()


def len() -> Expr:  # noqa: A001 - polars name
    from polars_spark.plans.expr import _wover

    return Expr(lambda ctx: _wover(ctx, F.count(F.lit(1))), "len", is_agg=True)


# -- horizontal (FunctionExpr::{Sum,Max,Min,Mean}Horizontal) ------------------


def _expand_multi(es, ctx: ExprContext):
    """Expand wildcard (pl.all()) and selector exprs against the frame
    schema — fold/reduce/horizontal ops take 'all columns' in polars."""
    out = []
    for e in es:
        if getattr(e, "_wildcard", False):
            out.extend(col(c) for c in ctx.df.columns if not c.startswith("__"))
        elif getattr(e, "_selector", None) is not None:
            from polars_spark.selectors import expand_names

            chain = getattr(e, "_chain_fn", None)
            schema = {c: t for c, t in ctx.df.dtypes if not c.startswith("__")}
            for c in expand_names(e, schema):
                out.append(chain(col(c)) if chain else col(c))
        else:
            out.append(e)
    return out


def _horizontal(exprs, combine, name: str) -> Expr:
    es = _cols(exprs)

    def fn(ctx: ExprContext) -> Column:
        return combine([e._resolve(ctx) for e in _expand_multi(es, ctx)])

    return Expr(fn, name)


def sum_horizontal(*exprs, ignore_nulls: bool = True) -> Expr:
    def combine(cs):
        if ignore_nulls:
            cs = [F.coalesce(c, F.lit(0)) for c in cs]
        return _reduce(lambda a, b: a + b, cs)

    return _horizontal(exprs, combine, "sum")


def min_horizontal(*exprs) -> Expr:
    return _horizontal(exprs, lambda cs: F.least(*cs), "min")


def max_horizontal(*exprs) -> Expr:
    return _horizontal(exprs, lambda cs: F.greatest(*cs), "max")


def mean_horizontal(*exprs, ignore_nulls: bool = True) -> Expr:
    def combine(cs):
        vals = _reduce(lambda a, b: a + b, [F.coalesce(c, F.lit(0)) for c in cs])
        cnt = _reduce(lambda a, b: a + b, [F.when(c.isNotNull(), 1).otherwise(0) for c in cs])
        # all-null row: polars mean_horizontal -> null, NEVER Spark 4's
        # ANSI DIVIDE_BY_ZERO error (cnt = 0; fuzz family test_fuzz_horizontal)
        out = F.try_divide(vals, cnt)
        if not ignore_nulls:
            # reference: any null operand -> null row result
            anynull = _reduce(lambda a, b: a | b, [c.isNull() for c in cs])
            out = F.when(~anynull, out)
        return out

    return _horizontal(exprs, combine, "mean")


def all_horizontal(*exprs) -> Expr:
    return _horizontal(exprs, lambda cs: _reduce(lambda a, b: a & b, cs), "all")


def any_horizontal(*exprs) -> Expr:
    return _horizontal(exprs, lambda cs: _reduce(lambda a, b: a | b, cs), "any")


# -- constructors ---------------------------------------------------------------


def concat_str(exprs, *more, separator: str = "", ignore_nulls: bool = False) -> Expr:
    es = _cols([exprs, *more])

    def fn(ctx: ExprContext) -> Column:
        cs = [e._resolve(ctx).cast("string") for e in es]
        if ignore_nulls:
            return F.concat_ws(separator, *cs)
        # strict: any null -> null (Spark concat does exactly this)
        if separator:
            joined = cs[0]
            for c in cs[1:]:
                joined = F.concat(joined, F.lit(separator), c)
            return joined
        return F.concat(*cs)

    return Expr(fn, es[0]._name if es else "literal")


def concat_list(*exprs) -> Expr:
    """polars concat_list: list inputs are EXTENDED (one level), scalar
    inputs become single elements (functions/as_datatype.py concat_list)."""
    es = _cols(exprs)

    def fn(ctx: ExprContext) -> Column:
        cols = [e._resolve(ctx) for e in es]
        ts = ctx.dtype(*cols)
        return F.concat(*[c if isinstance(t, ArrayType) else F.array(c) for c, t in zip(cols, ts)])

    return Expr(fn, es[0]._name if es else "literal")


def _pl_list(exprs=None, *more_exprs) -> Expr:
    """pl.list: collect columns into a list column, each input's value ONE
    element (reference functions/as_datatype.py:503 — unlike concat_list,
    list inputs are NOT extended: List(T) inputs give List(List(T))).
    Exported as ``polars_spark.list`` (builtin-shadowing at package level
    only, same as the reference)."""
    items = [exprs] if not isinstance(exprs, (tuple, list)) else list(exprs)
    items += list(more_exprs)
    es = _cols(tuple(items))

    def fn(ctx: ExprContext) -> Column:
        return F.array(*[e._resolve(ctx) for e in es])

    return Expr(fn, es[0]._name if es else "literal")


def struct(*exprs, **named) -> Expr:
    es = _cols(exprs)

    def fn(ctx: ExprContext) -> Column:
        # pl.struct(pl.all()) / selectors expand against the frame schema
        cs = [e._resolve(ctx).alias(e._name) for e in _expand_multi(es, ctx)]
        cs += [_to_expr(e)._resolve(ctx).alias(n) for n, e in named.items()]
        return F.struct(*cs)

    return Expr(fn, es[0]._name if es else "struct")


def coalesce(*exprs, eager: bool = False):
    from polars_spark.series import Series as _S

    if eager or builtins_any(isinstance(e, _S) for e in exprs):
        import pandas as _pd

        series = [e._s if isinstance(e, _S) else _pd.Series(list(e)) for e in exprs]
        out = series[0].copy()
        for s in series[1:]:
            out = out.fillna(s)
        name = next((e.name for e in exprs if isinstance(e, _S) and e.name), "")
        return _S(name, out.tolist())
    return _coalesce_expr(*exprs)


import builtins as _builtins  # noqa: E402
builtins_any = _builtins.any


def _coalesce_expr(*exprs) -> Expr:
    es = _cols(exprs)

    def fn(ctx: ExprContext) -> Column:
        return F.coalesce(*[e._resolve(ctx) for e in es])

    return Expr(fn, es[0]._name if es else "literal")


# -- fold / reduce (FunctionExpr::FoldHorizontal) ---------------------------------


def fold(acc, function, exprs) -> Expr:
    es = _cols(exprs if isinstance(exprs, (list, tuple)) else [exprs])
    a0 = _to_expr(acc)

    def fn(ctx: ExprContext) -> Column:
        out = a0._resolve(ctx)
        for e in _expand_multi(es, ctx):
            nxt = e._resolve(ctx)
            out = function(_wrap_col(out), _wrap_col(nxt))._resolve(ctx)
        return out

    return Expr(fn, "fold")


def reduce(function, exprs) -> Expr:
    es = _cols(exprs if isinstance(exprs, (list, tuple)) else [exprs])

    def fn(ctx: ExprContext) -> Column:
        ex = _expand_multi(es, ctx)
        out = ex[0]._resolve(ctx)
        for e in ex[1:]:
            out = function(_wrap_col(out), _wrap_col(e._resolve(ctx)))._resolve(ctx)
        return out

    return Expr(fn, es[0]._name if es else "reduce")


def _wrap_col(c: Column) -> Expr:
    return Expr(lambda ctx: c, "literal")


# -- correlation ------------------------------------------------------------------


def exclude(*names):
    """pl.exclude: every column except the named ones OR the given dtypes
    (selector complement; reference accepts names, dtypes, or lists)."""
    from polars_spark import selectors as cs
    from polars_spark.plans.expr import DataType, _dtype_to_spark

    flat: list = []
    for n in names:
        flat.extend(n if isinstance(n, (list, tuple)) else [n])
    if flat and all(
        (isinstance(n, type) and issubclass(n, DataType)) or isinstance(n, DataType)
        for n in flat
    ):
        return ~cs.by_dtype(*[_dtype_to_spark(n) for n in flat])
    rx = [n for n in flat if isinstance(n, str) and n.startswith("^") and n.endswith("$")]
    plain = [n for n in flat if n not in rx]
    sel = cs.by_name(*plain) if plain else cs.empty()
    for pattern in rx:  # ^...$ names are regex selections (polars col rule)
        sel = sel | cs.matches(pattern)
    return ~sel


def _safe_corr(ca: Column, cb: Column, w=None):
    """Pearson correlation without Spark's ANSI DIVIDE_BY_ZERO: F.corr
    raises on zero-variance groups under Spark 4's default ANSI mode
    (96-seed fuzz find); polars yields NaN there.  covar_samp/(std*std)
    is the same estimator; den==0 -> NaN (polars), n<2 -> null (matches
    Spark corr and the DuckDB oracle)."""
    def over(c: Column) -> Column:
        return c if w is None else c.over(w)

    # PAIRWISE deletion like F.corr/polars: a row where either side is
    # null must not contribute to the other side's stddev either
    both = ca.isNotNull() & cb.isNotNull()
    cax, cbx = F.when(both, ca), F.when(both, cb)
    den = over(F.stddev_samp(cax)) * over(F.stddev_samp(cbx))
    return F.when(den == 0, F.lit(float("nan"))).otherwise(
        F.try_divide(over(F.covar_samp(cax, cbx)), den)
    )


def rolling_corr(a, b, *, window_size: int, min_samples: int | None = None) -> Expr:
    """Rolling Pearson correlation of two columns over the frame order."""
    ea = _to_expr(a if not isinstance(a, str) else col(a))
    eb = _to_expr(b if not isinstance(b, str) else col(b))
    need = window_size if min_samples is None else min_samples

    def fn(ctx: ExprContext) -> Column:
        w = ctx.order_window().rowsBetween(-(window_size - 1), 0)
        ca, cb = ea._resolve(ctx), eb._resolve(ctx)
        val = _safe_corr(ca, cb, w)
        return F.when(F.count(ca).over(w) >= need, val)

    return Expr(fn, "rolling_corr")


def rolling_cov(a, b, *, window_size: int, min_samples: int | None = None, ddof: int = 1) -> Expr:
    ea = _to_expr(a if not isinstance(a, str) else col(a))
    eb = _to_expr(b if not isinstance(b, str) else col(b))
    f = F.covar_samp if ddof == 1 else F.covar_pop
    need = window_size if min_samples is None else min_samples

    def fn(ctx: ExprContext) -> Column:
        w = ctx.order_window().rowsBetween(-(window_size - 1), 0)
        ca, cb = ea._resolve(ctx), eb._resolve(ctx)
        val = f(ca, cb).over(w)
        return F.when(F.count(ca).over(w) >= need, val)

    return Expr(fn, "rolling_cov")


def corr(a, b, *, method: str = "pearson", eager: bool = False, ddof=None):
    from polars_spark.series import Series as _S

    if isinstance(a, _S) or isinstance(b, _S):
        # Series inputs (pl.corr(s1, s2, eager=True)): driver-side pandas corr
        import pandas as _pd

        sa = a._s if isinstance(a, _S) else _pd.Series(list(a))
        sb = b._s if isinstance(b, _S) else _pd.Series(list(b))
        if method == "spearman":
            # rank-then-pearson avoids pandas' scipy dependency
            val = float(sa.rank().corr(sb.rank(), method="pearson"))
        else:
            val = float(sa.corr(sb, method="pearson"))
        return _S("", [val]) if eager else val
    ea, eb = _to_expr(a if not isinstance(a, str) else col(a)), _to_expr(
        b if not isinstance(b, str) else col(b)
    )
    if method not in ("pearson", "spearman"):
        raise ValueError(f"corr method {method!r}")

    if method == "spearman":
        # self-contained average-rank spearman: collect the (a, b) pairs,
        # rank both sides by pairwise comparison (O(n²) folds per group —
        # fine for typical group sizes; for very large groups use the
        # scale-safe two-phase pattern rank().over(keys) then pearson, as
        # in the agg_spearman gate query), then pearson of the ranks.
        def fn(ctx: ExprContext) -> Column:
            from polars_spark.plans.expr import _wover

            ca, cb = ea._resolve(ctx), eb._resolve(ctx)
            pair = F.when(
                ca.isNotNull() & cb.isNotNull(),
                F.struct(ca.cast("double").alias("a"), cb.cast("double").alias("b")),
            )
            arr = _wover(ctx, F.collect_list(pair))

            def asum(xs):
                return F.aggregate(xs, F.lit(0.0), lambda acc, v: acc + v)

            def ranks(get):
                return F.transform(
                    arr,
                    lambda p: asum(
                        F.transform(arr, lambda q: F.when(get(q) < get(p), 1.0).otherwise(0.0))
                    )
                    + (
                        asum(
                            F.transform(
                                arr, lambda q: F.when(get(q) == get(p), 1.0).otherwise(0.0)
                            )
                        )
                        + 1.0
                    )
                    / 2.0,
                )

            ra, rb = ranks(lambda p: p["a"]), ranks(lambda p: p["b"])
            n = F.size(arr).cast("double")
            sx, sy = asum(ra), asum(rb)
            sxx = asum(F.transform(ra, lambda x: x * x))
            syy = asum(F.transform(rb, lambda x: x * x))
            sxy = asum(F.zip_with(ra, rb, lambda x, y: x * y))
            num = n * sxy - sx * sy
            den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
            return F.when(den != 0, num / den)

        return Expr(fn, "corr", is_agg=True)

    def fn(ctx: ExprContext) -> Column:
        from polars_spark.plans.expr import _wover

        ca, cb = ea._resolve(ctx), eb._resolve(ctx)
        w = getattr(ctx, "_window", None)
        if w is not None:
            return _safe_corr(ca, cb, w)
        return _wover(ctx, _safe_corr(ca, cb))

    return Expr(fn, "corr", is_agg=True)


def cov(a, b, *, ddof: int = 1, eager: bool = False):
    from polars_spark.series import Series as _S

    if eager or isinstance(a, _S) or isinstance(b, _S):
        # eager Series form (reference functions/lazy.py cov): one scalar
        import pandas as _pd

        sa = _pd.Series(a.to_list() if isinstance(a, _S) else list(a))
        sb = _pd.Series(b.to_list() if isinstance(b, _S) else list(b))
        v = sa.cov(sb, ddof=ddof)
        return _S("cov", [float(v)])
    ea = _to_expr(a if not isinstance(a, str) else col(a))
    eb = _to_expr(b if not isinstance(b, str) else col(b))
    f = F.covar_samp if ddof == 1 else F.covar_pop

    def fn(ctx: ExprContext) -> Column:
        from polars_spark.plans.expr import _wover

        return _wover(ctx, f(ea._resolve(ctx), eb._resolve(ctx)))

    return Expr(fn, "cov", is_agg=True)


# -- per-row ranges (FunctionExpr ranges, function_expr/range.rs:57) ---------------


def int_ranges(start, end=None, step: int = 1, *, dtype=None) -> Expr:
    # polars parse rule: bare strings are COLUMN names in range functions;
    # single-arg form means int_ranges(0, end)
    if end is None:
        start, end = 0, start
    s = col(start) if isinstance(start, str) else _to_expr(start)
    e = col(end) if isinstance(end, str) else _to_expr(end)

    def fn(ctx: ExprContext) -> Column:
        # sequence is inclusive on both ends; polars int_range excludes end
        out = F.sequence(
            s._resolve(ctx).cast("bigint"),
            (e._resolve(ctx) - (1 if step > 0 else -1)).cast("bigint"),
            F.lit(step),
        )
        if dtype is not None:
            from polars_spark.plans.expr import _dtype_to_spark

            out = out.cast(f"array<{_dtype_to_spark(dtype)}>")
        return out

    return Expr(fn, "int_range")


def date_ranges(start, end, interval: str = "1d") -> Expr:
    """Per-row date/datetime range arrays (FunctionExpr ranges,
    function_expr/range.rs:57) — F.sequence with an interval literal;
    inclusive of both ends like polars ``date_range``."""
    s, e = _to_expr(start), _to_expr(end)
    from polars_spark.plans.frame import _duration_str

    iv = _duration_str(interval)
    if isinstance(start, str):
        s = col(start)
    if isinstance(end, str):
        e = col(end)

    def fn(ctx: ExprContext) -> Column:
        return F.sequence(s._resolve(ctx), e._resolve(ctx), F.expr(f"INTERVAL {iv}"))

    return Expr(fn, "date_range")


def business_day_count(start, end, week_mask=(True, True, True, True, True, False, False), holidays=()) -> Expr:
    """Business days in [start, end) (function_expr/business.rs:10) — counts
    mask-selected ISO weekdays via a generated day array (no UDF).
    ``week_mask`` is the polars 7-bool Mon..Sun business-day mask;
    ``holidays`` is a list of dates excluded even when their weekday is in
    the mask (both become plan literals — map-side only)."""
    s, e = _cols([start, end])
    biz = [i + 1 for i, b in enumerate(week_mask) if b]  # ISO Mon=1..Sun=7
    hols = [F.lit(str(h)).cast("date") for h in holidays]

    def fn(ctx: ExprContext) -> Column:
        sd = F.to_date(s._resolve(ctx))
        ed = F.to_date(e._resolve(ctx))
        days = F.sequence(sd, F.date_sub(ed, 1))
        wd = lambda d: (F.dayofweek(d) + 5) % 7 + 1  # ISO Mon=1..Sun=7
        keep = lambda d: wd(d).isin(biz) & (~F.array_contains(F.array(*hols), d) if hols else F.lit(True))
        return F.when(ed > sd, F.size(F.filter(days, keep))).otherwise(F.lit(0))

    return Expr(fn, "business_day_count")


def repeat(value, n, *, dtype=None, eager: bool = False):
    from polars_spark.plans.expr import _dtype_to_spark

    v, k = _to_expr(value), _to_expr(n)
    st = _dtype_to_spark(dtype) if dtype is not None else None

    if eager:
        from polars_spark.plans.frame import LazyFrame
        from polars_spark.sources import _spark

        spark = _spark()  # before F.lit: the JVM must be up
        c = F.lit(value)
        if st is not None:
            c = c.cast(st)
        return LazyFrame(spark.range(int(n)).select(c.alias("repeat"))).to_series()

    def fn(ctx: ExprContext) -> Column:
        out = F.array_repeat(v._resolve(ctx), k._resolve(ctx).cast("int"))
        return F.transform(out, lambda x: x.cast(st)) if st is not None else out

    # a scalar-value repeat is LIST-valued like head/tail (length-changing
    # exprs are list-valued aggregates in this engine) — append/explode
    # then treat it correctly without an extra implode
    e = Expr(fn, "repeat", is_agg=not isinstance(value, Expr) and isinstance(n, int))
    if isinstance(n, int) and not isinstance(value, Expr):
        # sole-expr select: pl.repeat(v, n) materializes n ROWS (reference
        # functions/repeat.py) — same length-changing rewrite as top_k
        def rewrite(lf, _v=value, _n=n, _st=st):
            from polars_spark.plans.frame import LazyFrame

            spark = lf._df.sparkSession
            c = F.lit(_v)
            if _st is not None:
                c = c.cast(_st)
            return LazyFrame(spark.range(_n).select(c.alias("repeat")))

        e._select_rewrite = rewrite
    return e


# ---------------------------------------------------------------------------
# top-level parity shims (reference py-polars/src/polars/functions/lazy.py):
# the col()-shortcut family, expression combiners, and eager generators


def std(column: str, ddof: int = 1):
    return col(column).std(ddof)


def var(column: str, ddof: int = 1):
    return col(column).var(ddof)


def head(column: str, n: int = 10):
    return col(column).head(n)


def tail(column: str, n: int = 10):
    return col(column).tail(n)


def implode(column: str, *more):
    if more:
        return _multi_col_agg((column, *more), "implode")
    return col(column).implode()


def quantile(column: str, q: float, interpolation: str = "nearest"):
    return col(column).quantile(q, interpolation)


def cum_sum(column: str):
    return col(column).cum_sum()


def cum_count(column: str):
    return col(column).cum_count()


def approx_n_unique(column: str, *more):
    if more:
        return _multi_col_agg((column, *more), "approx_n_unique")
    return col(column).approx_n_unique()


def any(column: str):  # noqa: A001
    return col(column).any()


def arctan2(y, x) -> Expr:
    """Two-argument arctangent of y/x (F.atan2 — JVM-side)."""
    ye, xe = _to_expr(y), _to_expr(x)
    return Expr(lambda ctx: F.atan2(ye._resolve(ctx), xe._resolve(ctx)), "arctan2")


def arctan2d(y, x) -> Expr:
    """arctan2 in degrees."""
    ye, xe = _to_expr(y), _to_expr(x)
    return Expr(
        lambda ctx: F.degrees(F.atan2(ye._resolve(ctx), xe._resolve(ctx))), "arctan2"
    )


def format(fstring: str, *args) -> Expr:
    """pl.format("x={}", col) -> string concat of literal segments and
    expressions (reference functions/as_datatype.py format)."""
    parts = fstring.split("{}")
    n_args = tuple(args).__len__()  # plain len() is shadowed by pl.len above
    if fstring.count("{}") != n_args:
        raise ValueError("number of {} placeholders must match number of args")
    exprs = [_to_expr(a) for a in args]

    def fn(ctx: ExprContext) -> Column:
        segs = []
        for i, p in enumerate(parts):
            if p:
                segs.append(F.lit(p))
            if i < n_args:
                segs.append(exprs[i]._resolve(ctx).cast("string"))
        return F.concat(*segs) if segs else F.lit("")

    return Expr(fn, "format")


def from_epoch(column, time_unit: str = "s") -> Expr:
    """Integer epoch -> timestamp at the given unit (s/ms/us/d)."""
    e = _to_expr(column) if not isinstance(column, str) else col(column)

    def fn(ctx: ExprContext) -> Column:
        c = e._resolve(ctx).cast("bigint")
        if time_unit == "s":
            return F.timestamp_seconds(c)
        if time_unit == "ms":
            return F.timestamp_millis(c)
        if time_unit == "us":
            return F.timestamp_micros(c)
        if time_unit == "d":
            return F.date_add(F.lit("1970-01-01").cast("date"), c.cast("int"))
        raise ValueError(f"unsupported time_unit {time_unit!r}")

    return Expr(fn, e._name)


def cum_fold(acc, function, exprs) -> Expr:
    """Horizontal cumulative fold: struct of every intermediate accumulator
    (reference functions/lazy.py cum_fold).  Wildcards/selectors in
    ``exprs`` expand against the schema at resolve time."""
    es = _cols(exprs if isinstance(exprs, (list, tuple)) else [exprs])
    a0 = _to_expr(acc)

    def fn(ctx: ExprContext) -> Column:
        accs, names = [a0], []
        for e in _expand_multi(es, ctx):
            names.append(e._name)
            accs.append(function(accs[-1], e))
        return F.struct(*[a._resolve(ctx).alias(n) for a, n in zip(accs[1:], names)])

    return Expr(fn, "cum_fold")


def cum_reduce(function, exprs) -> Expr:
    """Like cum_fold but seeded with the first expression."""
    es = _cols(exprs if isinstance(exprs, (list, tuple)) else [exprs])

    def fn(ctx: ExprContext) -> Column:
        ex = _expand_multi(es, ctx)
        accs, names = [ex[0]], [ex[0]._name]
        for e in ex[1:]:
            accs.append(function(accs[-1], e))
            names.append(e._name)
        return F.struct(*[a._resolve(ctx).alias(n) for a, n in zip(accs, names)])

    return Expr(fn, "cum_reduce")


def cum_sum_horizontal(*exprs) -> Expr:
    flat = []
    for e in exprs:
        flat.extend(e) if isinstance(e, (list, tuple)) else flat.append(e)
    return cum_fold(lit(0), lambda a, b: a + b, flat).alias("cum_sum")


def date(year, month, day) -> Expr:
    y, m, d = _cols([year, month, day])
    return Expr(
        lambda ctx: F.make_date(y._resolve(ctx), m._resolve(ctx), d._resolve(ctx)), "date"
    )


def datetime(year, month, day, hour=0, minute=0, second=0, microsecond=0, *, time_unit: str = "us", time_zone: str | None = None, ambiguous: str = "raise") -> Expr:
    parts = _cols([year, month, day, hour, minute, second])
    us = _cols([microsecond])[0]

    def fn(ctx: ExprContext) -> Column:
        y, m, d, h, mi, s = (p._resolve(ctx) for p in parts)
        sec = s.cast("double") + us._resolve(ctx).cast("double") / 1e6
        return F.make_timestamp_ntz(y, m, d, h, mi, sec)

    e = Expr(fn, "datetime")
    if time_zone is not None:
        # wall time preserved, the zone is the Expr-level annotation
        # (the §1.2 tz model — same as dt.replace_time_zone)
        e._tz = time_zone
    return e


def duration(*, weeks=0, days=0, hours=0, minutes=0, seconds=0, milliseconds=0, microseconds=0) -> Expr:
    """Duration literal/expr as an INTERVAL DAY TO SECOND (the §1.2 mapping
    for polars Duration)."""
    parts = {
        "days": _to_expr(days),
        "hours": _to_expr(hours),
        "mins": _to_expr(minutes),
    }
    w = _to_expr(weeks)
    s = _to_expr(seconds)
    ms = _to_expr(milliseconds)
    us = _to_expr(microseconds)

    def fn(ctx: ExprContext) -> Column:
        d = parts["days"]._resolve(ctx) + w._resolve(ctx) * 7
        sec = (
            s._resolve(ctx).cast("double")
            + ms._resolve(ctx).cast("double") / 1e3
            + us._resolve(ctx).cast("double") / 1e6
        )
        return F.make_dt_interval(
            d.cast("int"), parts["hours"]._resolve(ctx).cast("int"), parts["mins"]._resolve(ctx).cast("int"), sec
        )

    return Expr(fn, "duration")


def datetime_ranges(start, end, interval: str = "1h") -> Expr:
    """Per-row list of timestamps (plural form, like date_ranges)."""
    from polars_spark.plans.frame import _duration_str

    s, e = _to_expr(start), _to_expr(end)

    def fn(ctx: ExprContext) -> Column:
        return F.sequence(
            s._resolve(ctx).cast("timestamp"),
            e._resolve(ctx).cast("timestamp"),
            F.expr(f"INTERVAL {_duration_str(interval)}"),
        )

    return Expr(fn, "datetime_range")


def linear_spaces(start, end, num_samples, *, as_array: bool = False) -> Expr:
    """Per-row list of evenly spaced doubles."""
    s, e, n = _to_expr(start), _to_expr(end), _to_expr(num_samples)

    def fn(ctx: ExprContext) -> Column:
        sc, ec, nc = s._resolve(ctx).cast("double"), e._resolve(ctx).cast("double"), n._resolve(ctx).cast("int")
        idx = F.sequence(F.lit(0), nc - 1)
        return F.when(nc == 1, F.array(sc)).otherwise(
            F.transform(idx, lambda i: sc + i.cast("double") * (ec - sc) / (nc.cast("double") - 1))
        )

    return Expr(fn, "linear_space")


def escape_regex(s: str) -> str:
    """Escape a literal string for use in (Java) regex patterns."""
    import re as _re

    return _re.escape(s)


def field(name):
    """Reference a sibling field inside struct.with_fields scope
    (reference functions/lazy.py:61)."""
    from polars_spark.plans import namespaces as _ns

    if isinstance(name, (list, tuple)):
        names = list(name)

        def fn_multi(ctx: ExprContext) -> Column:
            raise ValueError("pl.field with a list is only valid inside struct.with_fields")

        e = Expr(fn_multi, names[0])
        e._multi_fields = names  # type: ignore[attr-defined]
        return e

    def fn(ctx: ExprContext) -> Column:
        scope = _ns._FIELD_SCOPE
        if not scope:
            raise ValueError("pl.field is only valid inside struct.with_fields")
        return scope[-1].getField(name)

    return Expr(fn, name)


def arg_sort_by(*exprs, descending=False, nulls_last=False) -> Expr:
    """The row indices that would sort by the given keys (the true argsort
    permutation, reference functions/lazy.py arg_sort_by: element i is the
    SOURCE position of the i-th row in sort order; nulls first like the
    polars sort default, last per-key under ``nulls_last``).

    Lowering: positions paired with keys are collected once over the frame
    order and array_sort'd with a multi-key comparator — inherently a
    global op (like reverse), gated on the order contract driver-ingested
    frames carry.  ``col.gather(arg_sort_by(k))`` short-circuits to
    sort_by(k) in Expr.gather — no global window on that idiom."""
    flat = []
    for e in exprs:
        flat.extend(e) if isinstance(e, (list, tuple)) else flat.append(e)
    flat = _cols(flat)
    descs = descending if isinstance(descending, (list, tuple)) else [descending] * flat.__len__()
    nlasts = nulls_last if isinstance(nulls_last, (list, tuple)) else [nulls_last] * flat.__len__()

    def fn(ctx: ExprContext) -> Column:
        from pyspark.sql import Window

        if not ctx.order_cols:
            msg = (
                "arg_sort_by needs a defined row order (positions are "
                "meaningless on an unordered distributed frame); sort() or "
                "with_row_index() first"
            )
            raise ValueError(msg)
        order = ctx.order_by_cols()
        pos = F.row_number().over(Window.orderBy(*order)) - 1
        kcols = [e._resolve(ctx) for e in flat]
        pair = F.struct(
            *[k.alias(f"__k{i}") for i, k in enumerate(kcols)], pos.alias("__p")
        )
        w_full = Window.orderBy(*order).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        arr = F.collect_list(pair).over(w_full)

        def cmp(left, right):
            res = F.lit(0)
            for i, (d, nl) in reversed(list(enumerate(zip(descs, nlasts)))):
                lf_, rf = left[f"__k{i}"], right[f"__k{i}"]
                lt, gt = (F.lit(1), F.lit(-1)) if d else (F.lit(-1), F.lit(1))
                # nulls first unless nulls_last — direction-independent
                n_l, n_r = (F.lit(1), F.lit(-1)) if nl else (F.lit(-1), F.lit(1))
                res = (
                    F.when(lf_.isNull() & rf.isNull(), res)
                    .when(lf_.isNull(), n_l)
                    .when(rf.isNull(), n_r)
                    .when(lf_ < rf, lt)
                    .when(lf_ > rf, gt)
                    .otherwise(res)
                )
            # stable: ties keep source order
            return F.when(res != 0, res).otherwise(
                F.when(left["__p"] < right["__p"], -1)
                .when(left["__p"] > right["__p"], 1)
                .otherwise(0)
            )

        sorted_arr = F.array_sort(arr, cmp)
        return F.element_at(sorted_arr, pos.cast("int") + 1)["__p"].cast("bigint")

    e = Expr(fn, "arg_sort_by")
    e._arg_sort_spec = (flat, descs)  # type: ignore[attr-defined] - gather shortcut
    return e


def arg_where(condition) -> Expr:
    """Row positions (frame order) where the condition holds (reference
    functions/lazy.py arg_where).  A sole-expr SELECT materializes the
    indices as rows (length-changing rewrite: row-index + filter — the
    scale-safe partition-offset numbering, no global window); agg context
    keeps the list form."""
    cond = _to_expr(condition)
    e = cond.arg_true()

    def rewrite(lf, _c=cond):
        idx = lf.with_row_index("__aw__")
        out = idx.filter(_c).select(col("__aw__").alias(_c._name or "literal"))
        return out

    e._select_rewrite = rewrite
    return e


def row_index(name: str = "index") -> Expr:
    """0-based row position.  Safe only under a PARTITIONED order context
    (inside .over(keys) or a grouped frame) — an unpartitioned version
    would collapse every row into one task, so it raises with the
    scale-safe alternative (LazyFrame.with_row_index, which uses the
    partition-offset pattern)."""

    def fn(ctx: ExprContext) -> Column:
        from pyspark.sql import Window

        if ctx.grouped:
            # inside group_by().agg(): the group's 0..len-1 index list
            return F.sequence(F.lit(0).cast("bigint"), F.count(F.lit(1)).cast("bigint") - 1)
        parts = ctx.partition_cols() if hasattr(ctx, "partition_cols") else []
        if not parts and ctx.df is not None:
            from polars_spark.plans.frame import ROW_IDX

            if ROW_IDX in ctx.df.columns:
                # driver-ingested frames already carry the position —
                # zero-cost, no window at all
                return F.col(ROW_IDX).cast("bigint")
        if not parts:
            raise ValueError(
                "pl.row_index() without a partition would move all rows to one "
                "task; use LazyFrame.with_row_index() (partition-offset, "
                "scale-safe) or apply .over(keys)"
            )
        w = Window.partitionBy(*parts).orderBy(*ctx.order_by_cols())
        return (F.row_number().over(w) - 1).cast("bigint")

    e = Expr(fn, name, is_agg=False)
    # in .agg() the grouped branch is already aggregate-valued (a sequence
    # over count) — tell the implicit-implode wrapper not to re-wrap it
    e._ctx_agg = True
    return e


def salted_join(
    left,
    right,
    on,
    *,
    salt: int = 16,
    how: str = "inner",
    suffix: str = "_right",
):
    """Skew-busting equi-join (Spark-native scale tool; the single-node
    reference never needs it): every left row gets a deterministic salt in
    [0, salt), the right side is replicated ``salt`` times, and the join
    keys become (key, salt) — one pathological hot key (power-law web
    domains, null-ish defaults) spreads over ``salt`` reducers instead of
    sinking one.

    AQE's skew-join split already handles moderate skew at runtime;
    salting is the explicit control for EXTREME single-key skew where one
    key's partition would exceed executor memory even after splitting.
    The salt is xxhash64 of the whole left row (deterministic — reruns
    produce identical partitioning).  Supported: inner/left/semi (a
    replicated right side would duplicate unmatched rows under right/full).
    """
    from polars_spark.plans.frame import LazyFrame

    if how not in ("inner", "left", "semi"):
        raise ValueError("salted_join supports how='inner'|'left'|'semi'")
    keys = [on] if isinstance(on, str) else list(on)
    ldf = left.to_spark()
    l_salted = LazyFrame(
        ldf.withColumn(
            "__salt__", F.pmod(F.xxhash64(*[F.col(c) for c in ldf.columns]), F.lit(salt))
        )
    )
    r_salted = LazyFrame(
        right.to_spark().withColumn(
            "__salt__", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
        )
    )
    out = l_salted.join(r_salted, on=keys + ["__salt__"], how=how, suffix=suffix)
    return out.drop("__salt__")


def band_join(left, right, left_on: str, right_on: str, *, band, suffix: str = "_right"):
    """Scale path for the |l - r| <= band inequality join (the IEJoin-class
    workload, polars-ops/src/frame/join/iejoin/ — which Spark would
    otherwise run as a BroadcastNestedLoopJoin: O(n*m) pair checks).

    Equi-bucket rewrite: bucket width = ``band``, the left value explodes to
    its 3 candidate buckets (floor((x-band)/w)..floor((x+band)/w)), the
    right value sits in exactly one bucket, and the join becomes an EQUI
    join on the bucket (Catalyst extracts the equi-conjunct -> shuffled
    hash / sort-merge, one shuffle each side) with the exact band predicate
    as a residual filter.  Each qualifying pair appears exactly once (the
    right side is bucketed once, so no dedup pass).  O(n + m + output)
    instead of O(n*m)."""
    from polars_spark.plans.frame import LazyFrame, _suffix_collisions

    w = float(band)
    if w <= 0:
        raise ValueError("band must be > 0")
    l = left.to_spark()
    r = _suffix_collisions(right.to_spark(), l.columns, suffix)
    r_on = right_on if right_on in r.columns else f"{right_on}{suffix}"
    lx = l.withColumn(
        "__bucket__",
        F.explode(
            F.sequence(
                F.floor((F.col(left_on) - w) / w).cast("bigint"),
                F.floor((F.col(left_on) + w) / w).cast("bigint"),
            )
        ),
    )
    rx = r.withColumn("__bucket__", F.floor(F.col(r_on) / w).cast("bigint"))
    cond = (lx["__bucket__"] == rx["__bucket__"]) & (
        F.abs(lx[left_on] - rx[r_on]) <= F.lit(w)
    )
    out = lx.join(rx, cond, "inner").drop("__bucket__")
    return LazyFrame(out)


def interval_join(
    left,
    right,
    *,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    bucket_width,
    suffix: str = "_right",
):
    """Interval-overlap join (closed intervals: l.lo <= r.hi AND r.lo <=
    l.hi) via equi-bucketing — the distributed range-join shape
    (polars-stream nodes/joins/range_join.rs is the reference's streaming
    analogue).

    Both sides explode to the ``bucket_width``-wide buckets their interval
    spans; the bucket key turns the join equi (one shuffle per side); each
    overlapping pair is counted ONCE by keeping only the bucket containing
    greatest(l.lo, r.lo) — the standard dedup rule for replicated range
    partitioning.  Pick ``bucket_width`` near the typical interval length:
    too small explodes replication, too large degrades to few giant buckets
    (both visible as shuffle-size skew, tunable without code change)."""
    from polars_spark.plans.frame import LazyFrame, _suffix_collisions

    w = float(bucket_width)
    if w <= 0:
        raise ValueError("bucket_width must be > 0")
    l = left.to_spark()
    r = _suffix_collisions(right.to_spark(), l.columns, suffix)

    def named(side_df, name):
        return name if name in side_df.columns else f"{name}{suffix}"

    rlo, rhi = named(r, right_lo), named(r, right_hi)
    lx = l.withColumn(
        "__bucket__",
        F.explode(
            F.sequence(
                F.floor(F.col(left_lo) / w).cast("bigint"),
                F.floor(F.col(left_hi) / w).cast("bigint"),
            )
        ),
    )
    rx = r.withColumn(
        "__bucket__",
        F.explode(
            F.sequence(
                F.floor(F.col(rlo) / w).cast("bigint"),
                F.floor(F.col(rhi) / w).cast("bigint"),
            )
        ),
    )
    overlap = (lx[left_lo] <= rx[rhi]) & (rx[rlo] <= lx[left_hi])
    once = lx["__bucket__"] == F.floor(
        F.greatest(lx[left_lo], rx[rlo]) / w
    ).cast("bigint")
    out = (
        lx.join(rx, (lx["__bucket__"] == rx["__bucket__"]) & overlap & once, "inner")
        .drop("__bucket__")
    )
    return LazyFrame(out)


def morton_interleave(bucket_cols, *, bits: int = 8) -> "Column":
    """Interleave the low ``bits`` bits of already-bucketed non-negative
    integer columns into a Morton (Z-order) key: column j contributes bit b
    at output position b*k + j.  Pure bitwise codegen — no UDF."""
    bucket_cols = list(bucket_cols)
    k = bucket_cols.__len__()  # builtin len is shadowed by pl.len here
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for j, c in enumerate(bucket_cols):
            bit = F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + j))
    return z


def zorder_key(sdf, cols, *, bits: int = 8, keep_buckets: bool = False):
    """Attach a ``__zorder`` Morton key over equal-width buckets of ``cols``.

    Bucket boundaries come from one scalar min/max aggregate broadcast back
    (the same scalar-context pattern as fill_null(mean) — never a global
    window), so the whole pass is: tiny agg + map-side projection.  Nulls
    bucket to 0.  Returns the frame with ``__zorder`` added."""
    n = 1 << bits
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
        ]
    stats = sdf.agg(*aggs)
    j = sdf.crossJoin(F.broadcast(stats))
    buckets = []
    for c in cols:
        lo, hi = F.col(f"__min_{c}"), F.col(f"__max_{c}")
        span = hi - lo
        b = (
            F.when(span <= 0, F.lit(0))
            .otherwise(F.least(F.floor((F.col(c).cast("double") - lo) / span * n), F.lit(n - 1)))
            .cast("bigint")
        )
        buckets.append(F.coalesce(b, F.lit(0)))
    out = j.withColumn("__zorder", morton_interleave(buckets, bits=bits))
    if keep_buckets:
        for c, b in zip(cols, buckets):
            out = out.withColumn(f"__bucket_{c}", b)
    return out.drop(*[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])


def sink_parquet_zorder(frame, path: str, cols, *, bits: int = 8, num_files: int = 16):
    """Z-order-clustered parquet sink (the OPTIMIZE ZORDER layout of
    Delta/Iceberg, done at write time): rows are range-partitioned and
    locally sorted on a Morton key over ``cols``, so every file's min/max
    footer stats are tight on ALL listed dimensions at once.

    Why it matters at 100 TB: a reader filtering on ANY zorder dimension
    prunes most files from the footer alone (row-group skipping), where a
    single-column sort only helps that one column.  repartitionByRange
    samples the z keys, so output files are balanced even when the dims are
    skewed.  Cost: one range shuffle — paid once at write, amortized over
    every subsequent selective read."""
    sdf = frame.to_spark() if hasattr(frame, "to_spark") else frame
    zdf = zorder_key(sdf, cols, bits=bits)
    (
        zdf.repartitionByRange(num_files, "__zorder")
        .sortWithinPartitions("__zorder")
        .drop("__zorder")
        .write.mode("overwrite")
        .parquet(path)
    )


def heavy_hitters(frame, column: str, *, k: int = 10, capacity: int | None = None):
    """Frequent items at unbounded cardinality: per-partition Misra-Gries
    summaries (bounded memory, Arrow-batched), merged and cut to a candidate
    set, then an EXACT recount of just the candidates — the sketch only
    proposes, the second pass decides, so emitted counts are exact.

    Guarantee: the per-partition summary keeps every item whose partition
    frequency exceeds n_p/(capacity+1); by pigeonhole any item with global
    frequency > N/(capacity+1) survives in at least one partition, so with
    capacity >= N/freq(k-th item) the top-k is exact.  (With fewer distinct
    items than capacity, trivially exact.)

    Scale shape: one mapInPandas pass (no shuffle), a candidate-set
    pre-aggregation bounded by partitions x capacity, a broadcast semi-join
    recount, and a TakeOrdered top-k.  Ties break (count desc, item asc).
    """
    from pyspark.sql import types as T

    sdf = frame.to_spark() if hasattr(frame, "to_spark") else frame
    m = capacity or 8 * k
    item_type = dict((f.name, f.dataType) for f in sdf.schema.fields)[column]
    out_schema = T.StructType(
        [T.StructField("item", item_type), T.StructField("mg_count", T.LongType())]
    )

    def mg_partition(batches):
        import pandas as pd

        cnt = pd.Series(dtype="int64")
        for pdf in batches:
            vc = pdf[column].dropna().value_counts()
            cnt = cnt.add(vc, fill_value=0).astype("int64")
            if cnt.size > m:
                # Misra-Gries merge: subtract the (m+1)-th largest count,
                # drop non-positive — keeps the n_p/(m+1) error bound
                thresh = cnt.nlargest(m + 1).iloc[-1]
                cnt = cnt[cnt > thresh] - thresh
        # dtype=object: an EMPTY partition's RangeIndex is int64, which
        # Arrow refuses to cast to a string item column (r8 empty sweep)
        yield pd.DataFrame(
            {
                "item": pd.Series(cnt.index.tolist(), dtype=object),
                "mg_count": cnt.values,
            }
        )

    summaries = sdf.select(column).mapInPandas(mg_partition, out_schema)
    cand = (
        summaries.groupBy("item")
        .agg(F.sum("mg_count").alias("lb"))
        .orderBy(F.desc("lb"), F.asc("item"))
        .limit(4 * m)
        .select("item")
    )
    exact = (
        sdf.join(F.broadcast(cand), sdf[column] == cand["item"], "inner")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("item_count"))
    )
    return exact.orderBy(F.desc("item_count"), F.asc("item")).limit(k)


# -- pl.map_batches / pl.map_groups / pl.groups (functions/lazy.py:1114,
#    1215, 1885) — multi-expression UDF surface ------------------------------


def map_batches(exprs, function, return_dtype="double") -> Expr:
    """Map a custom function over multiple columns (polars pl.map_batches).

    ``function`` receives a list of pandas Series (one per input expression,
    Arrow-batched — never row-at-a-time) and returns a Series/array.  Slow
    path by design: prefer native expressions."""
    from pyspark.sql.functions import pandas_udf

    from polars_spark.plans.expr import _dtype_to_spark

    es = [col(e) if isinstance(e, str) else _to_expr(e) for e in exprs]
    udf = pandas_udf(lambda *cols: function(list(cols)), _dtype_to_spark(return_dtype))

    def fn(ctx: ExprContext) -> Column:
        return udf(*[e._resolve(ctx) for e in es])

    return Expr(fn, "map", is_agg=True)


def map_groups(exprs, function, return_dtype="double", *, returns_scalar: bool = True) -> Expr:
    """Apply a custom function per group inside ``group_by(...).agg(...)``
    (polars pl.map_groups): a GROUPED_AGG Arrow pandas_udf — the function
    receives one pandas Series per input expression holding the whole
    group, and must return a scalar."""
    if not returns_scalar:
        raise NotImplementedError("map_groups returns_scalar=False: use GroupBy.map_groups")
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    from polars_spark.plans.expr import _dtype_to_spark

    es = [col(e) if isinstance(e, str) else _to_expr(e) for e in exprs]
    udf = pandas_udf(
        lambda *cols: function(list(cols)),
        _dtype_to_spark(return_dtype),
        PandasUDFType.GROUPED_AGG,
    )

    def fn(ctx: ExprContext) -> Column:
        return udf(*[e._resolve(ctx) for e in es])

    return Expr(fn, "map", is_agg=True)


def groups(column: str) -> Expr:
    """Deprecated sugar for ``pl.col(column).agg_groups()`` (reference
    functions/lazy.py:1885 — deprecated in polars 1.35 as well)."""
    import warnings

    warnings.warn(
        "pl.groups() is deprecated; use with_row_index().group_by(...).agg(col('index'))",
        DeprecationWarning,
        stacklevel=2,
    )
    return col(column).agg_groups()


# -- Time dtype surface: pl.time / time_ranges ------------------------------
# polars Time = ns since midnight (dtype.rs:123); this engine's documented
# mapping is a tagged BIGINT of those same ns (SURVEY.md §1.2 — Spark has no
# TIME type usable across functions yet).


def _ns_to_time(c: "Column") -> "Column":
    """ns-since-midnight (long) -> native Spark TIME(6) via make_time
    (truncating to µs, the fixed-µs policy)."""
    from polars_spark.session import ensure_time_type

    ensure_time_type()
    us = (c / F.lit(1000)).cast("long")
    return F.make_time(
        (us / F.lit(3_600_000_000)).cast("int"),
        ((us / F.lit(60_000_000)) % 60).cast("int"),
        (us % 60_000_000).cast("decimal(16,6)") / F.lit(1_000_000).cast("decimal(16,6)"),
    )


def _time_to_ns(t) -> int:
    import datetime as _dt

    if t is None:
        return 0
    if isinstance(t, int):
        return t
    if isinstance(t, _dt.time):
        return ((t.hour * 3600 + t.minute * 60 + t.second) * 1_000_000 + t.microsecond) * 1000
    if isinstance(t, str):
        parts = t.split(":")
        h, m = int(parts[0]), int(parts[1]) if len(parts) > 1 else 0
        sec = float(parts[2]) if len(parts) > 2 else 0.0
        return int(((h * 3600 + m * 60) + sec) * 1_000_000_000)
    raise TypeError(f"cannot interpret {type(t).__name__} as a time")


def time(hour=0, minute=0, second=0, microsecond=0) -> Expr:
    """A Time value — NATIVE Spark TIME(6) since round 6 (reference
    functions/datetime_.py time; polars-time/src/chunkedarray/time.rs).
    Components may be ints, column names, or expressions."""
    import datetime as _dt

    if all(isinstance(v, int) for v in (hour, minute, second, microsecond)):
        return lit(_dt.time(hour, minute, second, microsecond))
    h, m, s, us = _cols([hour, minute, second, microsecond])

    def fn(ctx: ExprContext) -> Column:
        from polars_spark.session import ensure_time_type

        ensure_time_type(getattr(getattr(ctx, "df", None), "sparkSession", None))
        return F.make_time(
            h._resolve(ctx).cast("int"),
            m._resolve(ctx).cast("int"),
            s._resolve(ctx).cast("decimal(16,6)")
            + us._resolve(ctx).cast("decimal(16,6)") / F.lit(1_000_000).cast("decimal(16,6)"),
        )

    return Expr(fn, "time")


_TIME_END_NS = ((23 * 3600 + 59 * 60 + 59) * 1_000_000 + 999_999) * 1000


def time_ranges(start=None, end=None, interval: str = "1h", *, closed: str = "both") -> Expr:
    """Per-row arrays of Time values (ns-bigint) — expression position,
    like date_ranges.  start/end may be python time, ns ints, or
    expressions yielding ns bigints."""
    from polars_spark.plans.frame import _duration_us

    import datetime as _dt

    def as_expr(v, default_ns):
        if v is None:
            return lit(default_ns)
        if isinstance(v, str):
            # polars range functions: a bare string names a COLUMN
            return col(v)
        if isinstance(v, (int, _dt.time)):
            return lit(_time_to_ns(v))
        return _to_expr(v)

    s, e = as_expr(start, 0), as_expr(end, _TIME_END_NS)
    step = _duration_us(interval) * 1000

    def fn(ctx: ExprContext) -> Column:
        sc = s._resolve(ctx).cast("long")
        ec = e._resolve(ctx).cast("long")
        seq = F.sequence(sc, ec, F.lit(step))
        if closed in ("left", "none"):
            seq = F.filter(seq, lambda x: x != ec)
        if closed in ("right", "none"):
            seq = F.filter(seq, lambda x: x != sc)
        return F.transform(seq, _ns_to_time)

    return Expr(fn, "time")


def key_skew_profile(frame, keys, *, percentiles=(0.5, 0.9, 0.99)):
    """Shuffle-skew diagnostic: the rows-per-key distribution for a
    prospective join/groupBy key — p50/p90/p99/max rows per key, the skew
    factor (max / mean), and the share of all rows held by the single
    hottest key.  Read it BEFORE shipping a 100 TB job: skew_factor in the
    hundreds means the hottest reduce task gets that multiple of the
    average — reach for salted_join / AQE skew split.  Cost: one groupBy
    on the key + a tiny percentile aggregate over the per-key counts."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    sdf = frame.to_spark() if hasattr(frame, "to_spark") else frame
    counts = sdf.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n__"))
    pcts = [float(p) for p in percentiles]
    row = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("__n__").alias("n_rows"),
        F.max("__n__").alias("max_per_key"),
        F.avg("__n__").alias("mean_per_key"),
        F.percentile(F.col("__n__"), F.array(*[F.lit(p) for p in pcts])).alias("__p__"),
    )
    cols = [
        "n_keys",
        "n_rows",
        "max_per_key",
        F.col("mean_per_key"),
        (F.col("max_per_key") / F.col("mean_per_key")).alias("skew_factor"),
        (F.col("max_per_key") / F.col("n_rows")).alias("top_key_share"),
    ]
    for i, p in enumerate(pcts):
        cols.append(F.get(F.col("__p__"), i).alias(f"p{int(p * 100)}_per_key"))
    from polars_spark.plans.frame import LazyFrame

    return LazyFrame(row.select(*cols))


def linear_fit(y, x) -> Expr:
    """Per-group OLS fit as an aggregate expression: struct(slope,
    intercept, r2, n) — the drift/trend detector for pipeline telemetry
    (e.g. quality score over crawl time).

    Pure Catalyst aggregates (regr_slope/regr_intercept/regr_r2 +
    regr_count): partial-aggregated map-side like any sum, so one shuffle
    of K x 4 cells regardless of N — nothing iterative, no driver math."""
    ye, xe = _to_expr(y), _to_expr(x)

    def fn(ctx: ExprContext) -> Column:
        yc, xc = ye._resolve(ctx), xe._resolve(ctx)
        return F.struct(
            F.regr_slope(yc, xc).alias("slope"),
            F.regr_intercept(yc, xc).alias("intercept"),
            F.regr_r2(yc, xc).alias("r2"),
            F.regr_count(yc, xc).alias("n"),
        )

    return Expr(fn, "linear_fit", is_agg=True)
