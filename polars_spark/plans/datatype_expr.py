"""Lazily-resolved datatypes — ``pl.dtype_of`` / ``pl.self_dtype`` /
``pl.struct_with_fields`` and the ``DataTypeExpr`` class.

Reference: py-polars/src/polars/datatype_expr/datatype_expr.py:30 (class),
py-polars/src/polars/functions/datatype.py:18,80,94 (constructors).

A ``DataTypeExpr`` is a DataType that resolves only when a frame schema is
known — polars resolves it inside the IR conversion; here it resolves
against the (always-available) analyzed Spark schema, either inside an
expression closure (``Expr.cast(dtype_expr)``, ``map_batches(return_dtype=
dtype_expr)``) or explicitly via ``collect_dtype``.  Resolution is pure
driver-side schema analysis: no job runs.

Engine type-mapping caveat (SURVEY §1.2): unsigned ints are stored as the
next-wider signed/decimal Spark type, so ``dtype_of`` on a column never
returns a UInt dtype, and ``==`` compares the STORAGE type (Spark DDL) —
``dtype_of(c) == pl.UInt32`` is true when ``c`` is stored as bigint.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_spark.exceptions import (
    ColumnNotFoundError,
    InvalidOperationError,
)
from polars_spark.plans.expr import (
    Array as PlArray,
)
from polars_spark.plans.expr import (
    Boolean,
    Categorical,
    DataType,
    Date,
    Datetime,
    Duration,
    Enum,
    Expr,
    ExprContext,
    Field,
    Float32,
    Float64,
    Int8,
    Int16,
    Int32,
    Int64,
    Int128,
    Null,
    Object,
    String,
    Time,
    UInt8,
    UInt16,
    UInt32,
    UInt64,
    Unknown,
    _dtype_to_spark,
)
from polars_spark.plans.expr import (
    Binary as PlBinary,
)
from polars_spark.plans.expr import (
    Decimal as PlDecimal,
)
from polars_spark.plans.expr import (
    List as PlList,
)
from polars_spark.plans.expr import (
    Struct as PlStruct,
)

__all__ = ["DataTypeExpr", "dtype_of", "self_dtype", "struct_with_fields"]


# -- spark type -> polars dtype ------------------------------------------------

_SIMPLE = {
    "tinyint": Int8,
    "smallint": Int16,
    "int": Int32,
    "bigint": Int64,
    "float": Float32,
    "double": Float64,
    "boolean": Boolean,
    "string": String,
    "binary": PlBinary,
    "date": Date,
    "timestamp": Datetime,
    "timestamp_ntz": Datetime,
    "time(6)": Time,
    "time": Time,
    "void": Null,
}


def _spark_to_polars(dt):
    """pyspark DataType object -> our polars dtype (class or instance)."""
    if isinstance(dt, T.ArrayType):
        return PlList(_spark_to_polars(dt.elementType))
    if isinstance(dt, T.StructType):
        return PlStruct([Field(f.name, _spark_to_polars(f.dataType)) for f in dt.fields])
    if isinstance(dt, T.MapType):  # no polars equivalent (SURVEY §1.2)
        return Unknown
    if isinstance(dt, T.DecimalType):
        # round-trip the documented widening map before genuine decimals
        if (dt.precision, dt.scale) == (38, 0):
            return Int128
        if (dt.precision, dt.scale) == (20, 0):
            return UInt64
        return PlDecimal(dt.precision, dt.scale)
    if isinstance(dt, T.DayTimeIntervalType):
        return Duration
    name = dt.simpleString()
    if name in _SIMPLE:
        return _SIMPLE[name]
    return Unknown


def _normalize(dt):
    """Accept a polars dtype class/instance OR a Spark DDL string and return
    the polars-level dtype (class or instance)."""
    if isinstance(dt, str):
        # parse via pyspark's DDL parser (driver-side, no session needed)
        try:
            parsed = T._parse_datatype_string(dt)
        except Exception:
            return Unknown
        return _spark_to_polars(parsed)
    return dt


_SHORT = {
    "Int8": "i8",
    "Int16": "i16",
    "Int32": "i32",
    "Int64": "i64",
    "Int128": "i128",
    "UInt8": "u8",
    "UInt16": "u16",
    "UInt32": "u32",
    "UInt64": "u64",
    "UInt128": "u128",
    "Float32": "f32",
    "Float64": "f64",
    "Float16": "f16",
    "Boolean": "bool",
    "String": "str",
    "Utf8": "str",
    "Binary": "binary",
    "Date": "date",
    "Datetime": "datetime[us]",
    "Time": "time",
    "Duration": "duration[us]",
    "Null": "null",
    "Object": "object",
    "Unknown": "unknown",
}


def _polars_name(dt) -> str:
    """polars-style short display name (what ``.display()`` prints)."""
    dt = _normalize(dt)
    if isinstance(dt, Enum):
        return f"enum({len(list(dt.categories))} categories)"
    if isinstance(dt, Categorical):
        return "cat"
    if isinstance(dt, PlArray):
        return f"array[{_polars_name(dt.inner)}, {dt.size}]"
    if isinstance(dt, PlList):
        return f"list[{_polars_name(dt.inner)}]"
    if isinstance(dt, PlStruct):
        return f"struct[{len(dt.fields)}]"
    if isinstance(dt, PlDecimal):
        return f"decimal[{dt.precision},{dt.scale}]"
    key = dt.__name__ if isinstance(dt, type) else type(dt).__name__
    return _SHORT.get(key, key.lower())


_TO_SIGNED = {
    "UInt8": Int8, "UInt16": Int16, "UInt32": Int32, "UInt64": Int64,
    "UInt128": Int128, "Int8": Int8, "Int16": Int16, "Int32": Int32,
    "Int64": Int64, "Int128": Int128,
}
_TO_UNSIGNED = {
    "Int8": UInt8, "Int16": UInt16, "Int32": UInt32, "Int64": UInt64,
    "UInt8": UInt8, "UInt16": UInt16, "UInt32": UInt32, "UInt64": UInt64,
}


def _class_name(dt) -> str:
    return dt.__name__ if isinstance(dt, type) else type(dt).__name__


# -- DataTypeExpr --------------------------------------------------------------


class DataTypeExpr:
    """A lazily instantiated DataType usable inside expressions
    (reference datatype_expr/datatype_expr.py:30).

    Internally: ``resolver(ctx, self_dtype) -> polars dtype``, where ``ctx``
    is the ExprContext of the frame the enclosing expression runs against
    and ``self_dtype`` is the dtype of the owning expression (set only by
    consumers that have one, e.g. ``Expr.cast``, for ``pl.self_dtype()``).
    """

    def __init__(self, resolver, label: str = "dtype_expr"):
        self._resolver = resolver
        self._label = label

    def __repr__(self) -> str:  # pragma: no cover - repr only
        return f"<DataTypeExpr {self._label}>"

    # -- resolution -----------------------------------------------------------
    def _resolve_dtype(self, ctx: ExprContext | None = None, self_dtype=None):
        return self._resolver(ctx, self_dtype)

    def collect_dtype(self, context):
        """Materialize against a schema context: a LazyFrame, a Schema /
        ``{name: dtype}`` mapping, or ``{}`` for context-free expressions."""
        from polars_spark.plans.frame import LazyFrame

        if isinstance(context, LazyFrame):
            ctx = ExprContext(context._df)
        elif isinstance(context, dict):
            if context:
                from pyspark.sql import SparkSession

                from polars_spark.session import get_spark

                ddl = ", ".join(
                    f"`{k}` {_dtype_to_spark(v)}" for k, v in context.items()
                )
                spark = SparkSession.getActiveSession() or get_spark()
                ctx = ExprContext(spark.createDataFrame([], ddl))
            else:
                ctx = None
        else:
            msg = f"cannot collect_dtype against {type(context).__name__}"
            raise TypeError(msg)
        return _normalize(self._resolve_dtype(ctx))

    # -- equality (returns a boolean Expr, like the reference) ----------------
    def __eq__(self, other):  # type: ignore[override]
        other_dte = _to_dtype_expr(other)

        def fn(ctx: ExprContext) -> Column:
            a = _dtype_to_spark(_normalize(self._resolve_dtype(ctx)))
            b = _dtype_to_spark(_normalize(other_dte._resolve_dtype(ctx)))
            return F.lit(a == b)

        return Expr(fn, "dtype_eq")

    def __ne__(self, other):  # type: ignore[override]
        return (self == other).not_()

    __hash__ = None  # type: ignore[assignment] - matches Expr-returning __eq__

    # -- derived dtype expressions -------------------------------------------
    def _derive(self, f, label: str) -> "DataTypeExpr":
        return DataTypeExpr(
            lambda ctx, sd: f(_normalize(self._resolver(ctx, sd))), label
        )

    def inner_dtype(self) -> "DataTypeExpr":
        def f(dt):
            if isinstance(dt, PlList):
                return _normalize(dt.inner)
            raise InvalidOperationError(
                f"inner_dtype: {_polars_name(dt)} is not a List or Array"
            )

        return self._derive(f, f"{self._label}.inner")

    def wrap_in_list(self) -> "DataTypeExpr":
        return self._derive(lambda dt: PlList(dt), f"list[{self._label}]")

    def wrap_in_array(self, *, width: int) -> "DataTypeExpr":
        return self._derive(lambda dt: PlArray(dt, width), f"array[{self._label}]")

    def to_signed_integer(self) -> "DataTypeExpr":
        def f(dt):
            key = _class_name(dt)
            if key not in _TO_SIGNED:
                raise InvalidOperationError(f"to_signed_integer on {_polars_name(dt)}")
            return _TO_SIGNED[key]

        return self._derive(f, f"signed({self._label})")

    def to_unsigned_integer(self) -> "DataTypeExpr":
        def f(dt):
            key = _class_name(dt)
            if key not in _TO_UNSIGNED:
                raise InvalidOperationError(
                    f"to_unsigned_integer on {_polars_name(dt)}"
                )
            return _TO_UNSIGNED[key]

        return self._derive(f, f"unsigned({self._label})")

    # -- Expr-producing methods ----------------------------------------------
    def display(self) -> Expr:
        """Formatted dtype name — a LENGTH-1 (scalar) result like the
        reference, so a select of displays gives one row."""
        return Expr(
            lambda ctx: F.first(F.lit(_polars_name(self._resolve_dtype(ctx)))),
            "dtype",
            is_agg=True,
        )

    def matches(self, selector) -> Expr:
        """Whether the resolved dtype matches a ``cs.*`` selector (dtype-based
        selectors only — name-based selectors see an empty name)."""

        def fn(ctx: ExprContext) -> Column:
            spark_t = _dtype_to_spark(_normalize(self._resolve_dtype(ctx)))
            return F.lit(bool(selector._selector("", spark_t)))

        return Expr(fn, "dtype_matches")

    def default_value(
        self, n: int = 1, *, numeric_to_one: bool = False, num_list_values: int = 0
    ) -> Expr:
        """The dtype's default value (reference datatype_expr.py default_value:
        numerics 0 — or 1 with ``numeric_to_one`` — temporals physical zero,
        str/binary empty, list empty or ``num_list_values`` defaults, struct of
        field defaults, enum first category, null/object/categorical null)."""

        def fn(ctx: ExprContext) -> Column:
            dt = _normalize(self._resolve_dtype(ctx))
            col = _default_lit(dt, numeric_to_one, num_list_values)
            if n != 1:
                col = F.explode(F.array_repeat(col, int(n)))
            return col

        return Expr(fn, "default")

    # -- namespaces -----------------------------------------------------------
    @property
    def list(self) -> "DataTypeExprListNameSpace":
        return DataTypeExprListNameSpace(self)

    @property
    def arr(self) -> "DataTypeExprArrNameSpace":
        return DataTypeExprArrNameSpace(self)

    @property
    def struct(self) -> "DataTypeExprStructNameSpace":
        return DataTypeExprStructNameSpace(self)


def _default_lit(dt, numeric_to_one: bool, num_list_values: int) -> Column:
    key = _class_name(dt)
    if isinstance(dt, Enum):
        cats = list(dt.categories)
        return F.lit(cats[0]) if cats else F.lit(None).cast("string")
    if isinstance(dt, Categorical) or key in ("Null", "Object", "Categorical"):
        return F.lit(None).cast(_dtype_to_spark(dt))
    if isinstance(dt, PlArray):
        inner = _default_lit(_normalize(dt.inner), numeric_to_one, num_list_values)
        return F.array(*[inner] * int(dt.size or 0))
    if isinstance(dt, PlList):
        inner = _default_lit(_normalize(dt.inner), numeric_to_one, num_list_values)
        if num_list_values:
            return F.array(*[inner] * int(num_list_values))
        return F.array().cast(_dtype_to_spark(dt))
    if isinstance(dt, PlStruct):
        return F.struct(
            *[
                _default_lit(_normalize(f.dtype), numeric_to_one, num_list_values).alias(
                    f.name
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, PlDecimal):
        return F.lit(1 if numeric_to_one else 0).cast(_dtype_to_spark(dt))
    if key in ("String", "Utf8"):
        return F.lit("")
    if key == "Binary":
        return F.lit(b"")
    if key == "Boolean":
        return F.lit(False)
    if key == "Date":
        return F.to_date(F.lit("1970-01-01"))
    if key == "Datetime":
        return F.to_timestamp(F.lit("1970-01-01 00:00:00"))
    if key == "Duration":
        return F.expr("INTERVAL '0 00:00:00' DAY TO SECOND")
    # numerics (incl. the unsigned widening map and Time's ns-bigint mapping)
    return F.lit(1 if numeric_to_one else 0).cast(_dtype_to_spark(dt))


class DataTypeExprListNameSpace:
    """reference datatype_expr/list.py"""

    def __init__(self, parent: DataTypeExpr):
        self._parent = parent

    def inner_dtype(self) -> DataTypeExpr:
        return self._parent.inner_dtype()


class DataTypeExprArrNameSpace:
    """reference datatype_expr/array.py — width/shape need the declared
    Array size (Spark stores fixed-size arrays as plain arrays, SURVEY §1.2,
    so the width is metadata carried on the pl.Array dtype)."""

    def __init__(self, parent: DataTypeExpr):
        self._parent = parent

    def inner_dtype(self) -> DataTypeExpr:
        return self._parent.inner_dtype()

    def _size(self, ctx):
        dt = _normalize(self._parent._resolve_dtype(ctx))
        if not isinstance(dt, PlArray) or dt.size is None:
            raise InvalidOperationError("arr.width: not an Array with known size")
        return dt.size

    def width(self) -> Expr:
        def fn(ctx: ExprContext) -> Column:
            size = self._size(ctx)
            first = size[0] if isinstance(size, (tuple, list)) else size
            return F.lit(int(first))

        return Expr(fn, "width")

    def shape(self) -> Expr:
        def fn(ctx: ExprContext) -> Column:
            size = self._size(ctx)
            dims = list(size) if isinstance(size, (tuple, list)) else [size]
            return F.explode(F.array(*[F.lit(int(d)) for d in dims]))

        return Expr(fn, "shape")


class DataTypeExprStructNameSpace:
    """reference datatype_expr/struct.py"""

    def __init__(self, parent: DataTypeExpr):
        self._parent = parent

    def _fields(self, ctx):
        dt = _normalize(self._parent._resolve_dtype(ctx))
        if not isinstance(dt, PlStruct):
            raise InvalidOperationError(f"not a Struct: {_polars_name(dt)}")
        return dt.fields

    def __getitem__(self, item) -> DataTypeExpr:
        if isinstance(item, str):
            return self.field_dtype(item)
        if isinstance(item, int):
            def res(ctx, sd):
                return _normalize(self._fields(ctx)[item].dtype)

            return DataTypeExpr(res, f"struct[{item}]")
        msg = f"expected type 'int | str', got {type(item).__name__!r}"
        raise TypeError(msg)

    def field_dtype(self, field_name: str) -> DataTypeExpr:
        def res(ctx, sd):
            for f in self._fields(ctx):
                if f.name == field_name:
                    return _normalize(f.dtype)
            raise ColumnNotFoundError(field_name)

        return DataTypeExpr(res, f"struct[{field_name}]")

    def field_names(self) -> Expr:
        def fn(ctx: ExprContext) -> Column:
            names = [f.name for f in self._fields(ctx)]
            return F.explode(F.array(*[F.lit(nm) for nm in names]))

        return Expr(fn, "field_names")


# -- constructors --------------------------------------------------------------


def _to_dtype_expr(v) -> DataTypeExpr:
    if isinstance(v, DataTypeExpr):
        return v
    if isinstance(v, (DataType, Enum, Categorical, str)) or (
        isinstance(v, type) and issubclass(v, DataType)
    ):
        return DataTypeExpr(lambda ctx, sd: v, "literal")
    msg = f"cannot interpret {v!r} as a DataTypeExpr"
    raise TypeError(msg)


def dtype_of(col_or_expr) -> DataTypeExpr:
    """Lazily evaluated DataType of a column or expression
    (reference functions/datatype.py:18)."""
    if isinstance(col_or_expr, str):
        name = col_or_expr

        def res(ctx, sd):
            if ctx is None:
                raise InvalidOperationError(
                    f"dtype_of({name!r}) needs a frame context"
                )
            for f in ctx.df.schema.fields:
                if f.name == name:
                    return _spark_to_polars(f.dataType)
            raise ColumnNotFoundError(name)

        return DataTypeExpr(res, f"dtype_of({name})")

    expr = col_or_expr

    def res(ctx, sd):
        if ctx is None:
            raise InvalidOperationError("dtype_of(expr) needs a frame context")
        from polars_spark.plans.frame import LazyFrame

        # analysis only — reuses the full select machinery (scalar preps
        # included); no Spark job runs to read a schema
        out = LazyFrame(ctx.df, ctx.order_cols).select(expr.alias("__dt__"))
        for f in out._df.schema.fields:
            if f.name == "__dt__":
                return _spark_to_polars(f.dataType)
        raise InvalidOperationError("dtype_of: expression produced no column")

    return DataTypeExpr(res, "dtype_of(expr)")


def self_dtype() -> DataTypeExpr:
    """The dtype of the expression this is used inside (``map_batches`` /
    ``map_elements`` ``return_dtype``, ``cast``) — reference
    functions/datatype.py:80."""

    def res(ctx, sd):
        if sd is None:
            raise InvalidOperationError(
                "'self_dtype' cannot be used in this context"
            )
        return sd

    dte = DataTypeExpr(res, "self_dtype")
    dte._is_self = True
    return dte


def struct_with_fields(mapping) -> DataTypeExpr:
    """Struct DataTypeExpr from ``{field: dtype-or-dtype-expr}``
    (reference functions/datatype.py:94)."""
    parts = {k: _to_dtype_expr(v) for k, v in mapping.items()}

    def res(ctx, sd):
        return PlStruct(
            [Field(k, _normalize(v._resolve_dtype(ctx, sd))) for k, v in parts.items()]
        )

    return DataTypeExpr(res, "struct_with_fields")


# -- DataType.to_dtype_expr (works on both the class and instances) -----------


class _ToDtypeExprDescriptor:
    """pl.Int32.to_dtype_expr() and pl.List(pl.Int32).to_dtype_expr() both
    work — binds to the instance when present, else the class (the reference
    has it on DataType and DataTypeClass separately)."""

    def __get__(self, obj, objtype=None):
        target = obj if obj is not None else objtype

        def to_dtype_expr() -> DataTypeExpr:
            return DataTypeExpr(lambda ctx, sd: target, "literal")

        return to_dtype_expr


DataType.to_dtype_expr = _ToDtypeExprDescriptor()  # type: ignore[attr-defined]
Enum.to_dtype_expr = _ToDtypeExprDescriptor()  # type: ignore[attr-defined]
Categorical.to_dtype_expr = _ToDtypeExprDescriptor()  # type: ignore[attr-defined]
