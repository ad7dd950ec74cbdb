"""Expression lowering's one dtype primitive, ``ExprContext.dtype``, and its
gate ``ExprContext.may_be``.  Pinned here: what the gate lets through and
what it proves away; that the relational registry queries and bare-column
lowerings start no analysis probe; that a boolean cast sums and averages
through the gate; and that no engine code reads the schema of a
``select(...)`` outside the primitive and a named allowlist."""

from __future__ import annotations

import ast
import datetime
import decimal
import pathlib
import sys

import pytest
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql import functions as F

from polars_spark.plans.expr import ExprContext, _typed_lit
from tests.test_plan_shapes import SF_DIR

PKG = pathlib.Path(__file__).resolve().parent.parent / "polars_spark"

# the only functions besides ExprContext.dtype that read a select's schema
SCHEMA_READS = {
    ("plans/expr.py", "ExprContext.dtype"),
    # these two lower through a whole LazyFrame.select (scalar preps, order)
    ("plans/expr.py", "Expr._resolve_dtype_expr"),
    ("plans/datatype_expr.py", "dtype_of.res"),
    # reads the schema of the frame it goes on to run, not a probe
    ("llm/__init__.py", "cosine_topk_bruteforce"),
}

SUM_KINDS = ("boolean", "interval", "date", "timestamp", "time")


@pytest.fixture
def probes(monkeypatch):
    """Column tuples of every select that ExprContext.dtype sends to Spark."""
    calls = []
    select = DataFrame.select

    def counting(self, *cols, **kw):
        if sys._getframe(1).f_code is ExprContext.dtype.__code__:
            calls.append(cols)
        return select(self, *cols, **kw)

    monkeypatch.setattr(DataFrame, "select", counting)
    return calls


@pytest.fixture(scope="module")
def ctx(spark):
    return ExprContext(
        spark.createDataFrame([], "a double, b bigint, d date, ts timestamp, t boolean, s string, true string")
    )


@pytest.mark.parametrize(
    "make, kinds, expected",
    [
        (lambda: F.col("a").cast("boolean"), ("boolean",), True),
        (lambda: F.col("a") < 3, ("boolean",), True),
        (lambda: F.col("a").isNull(), ("boolean",), True),
        (lambda: F.col("a").isin(1, 2), ("boolean",), True),
        (lambda: F.lit(True), ("boolean",), True),
        (lambda: F.col("t"), ("boolean",), True),
        (lambda: F.make_dt_interval(F.lit(1)), ("interval",), True),
        (lambda: F.lit(datetime.timedelta(days=1)), ("interval",), True),
        (lambda: _typed_lit(decimal.Decimal("1.5")), ("decimal",), True),
        (lambda: F.col("d") - F.col("d"), SUM_KINDS, True),
        (lambda: F.col("s"), ("string",), True),
        (lambda: F.col("a"), SUM_KINDS, False),
        (lambda: F.col("a") * (1 - F.col("b")), SUM_KINDS, False),
        (lambda: F.col("a") / F.lit(2), ("decimal", "date"), False),
        (lambda: F.hour(F.col("ts")), ("time",), False),
        (lambda: F.col("a") * F.lit(0.1), ("decimal",), False),
        (lambda: F.col("a") / F.lit(1e-7), ("decimal",), False),
        # a UDF prints its function's name, not its return type
        (lambda: F.udf(lambda v: str(v), "string")(F.col("a")), ("string",), True),
        (lambda: F.udf(lambda: "x", "string")(), ("string",), True),
    ],
)
def test_may_be(ctx, make, kinds, expected):
    assert ctx.may_be(make(), kinds) is expected


def test_dtype_of_bare_and_computed_columns(ctx, probes):
    from pyspark.sql.types import BooleanType, DoubleType, LongType

    assert ctx.dtype(F.col("a"), F.col("t")) == (DoubleType(), BooleanType())
    assert probes == []
    # F.lit(True) prints like the column `true`, but is no reference to it
    assert ctx.dtype(F.col("b") + 1, F.col("a"), F.lit(True)) == (
        LongType(), DoubleType(), BooleanType(),
    )
    assert len(probes) == 1 and len(probes[0]) == 2
    assert ctx.dtype(F.col("missing")) == (None,)
    assert ExprContext(None).dtype(F.col("a")) == (None,)


@pytest.mark.parametrize(
    "name", ["q1_pricing_summary", "q5_local_supplier_volume", "q6_forecast_revenue"]
)
def test_relational_build_starts_no_probe(spark, probes, name):
    from polars_spark.queries import QUERIES

    QUERIES[name](spark, SF_DIR)
    assert probes == []


# A fractional double literal is no decimal marker: q9's ``0.1 *`` and
# ``/ 100.0`` and the ewm query's double arithmetic start none.  q9's one
# probe is the ``round`` of a computed column.
FRACTIONAL_LITERAL_PROBES = {"q9_product_type_profit": 1, "win_ewm_long_series": 0}


@pytest.mark.parametrize("name", sorted(FRACTIONAL_LITERAL_PROBES))
def test_fractional_literals_start_no_probe(spark, probes, name):
    from polars_spark.queries import QUERIES

    QUERIES[name](spark, SF_DIR)
    assert len(probes) == FRACTIONAL_LITERAL_PROBES[name]


def test_numeric_cast_starts_no_probe(spark, probes):
    """A cast whose operand ``may_be`` proves no string is the plain cast,
    without the string-grammar branch, whose string literals are string
    markers: agg_arg_minmax's ``round(...).cast(bigint) * 1e7 + c_custkey``
    starts no probe for the ``+`` (string concat or numeric add)."""
    from polars_spark.queries import QUERIES

    QUERIES["agg_arg_minmax"](spark, SF_DIR)
    assert probes == []


def test_string_cast_keeps_its_grammar(ctx):
    from polars_spark.plans.expr import _str_grammar_cast

    assert "typeof" not in str(_str_grammar_cast(ctx, F.col("a"), "bigint", False, True))
    assert "typeof" in str(_str_grammar_cast(ctx, F.col("s"), "bigint", False, True))
    assert "typeof" in str(_str_grammar_cast(ExprContext(None), F.col("a"), "double", False, False))


@pytest.mark.parametrize("strict", [False, True])
def test_udf_string_cast_keeps_its_grammar(pl, strict):
    """A string the operand's text does not show (a UDF's result) is still
    parsed by the polars grammar: ' 7' is no Int64, where Spark's CAST
    trims it to 7."""
    padded = pl.col("i").map_elements(lambda v: f" {v}", return_dtype=pl.String)
    q = pl.LazyFrame({"i": [7]}).select(padded.cast(pl.Int64, strict=strict))
    if strict:
        with pytest.raises(Exception, match="conversion from `str` to `bigint` failed"):
            q.collect()
    else:
        assert q.collect().to_dicts() == [{"i": None}]


def test_decimal_literal_keeps_its_type(spark, pl):
    df = spark.range(1)
    for v in ("1.5", "0.05", "1.50", "-0", "1E+2", "0E-10"):
        d = decimal.Decimal(v)
        assert df.select(_typed_lit(d)).schema[0].dataType == df.select(F.lit(d)).schema[0].dataType
    assert "decimal" in str(pl.lit(decimal.Decimal("1.5"))._resolve(ExprContext(df))).lower()


def test_bare_column_lowerings_start_no_probe(pl, lf, probes):
    f = lf(p=[True, False], q=[True, True], x=[1.25, -2.5])
    f.select(
        (~pl.col("p")).alias("inv"),
        (pl.col("p") ^ pl.col("q")).alias("xor"),
        pl.col("x").round(1, mode="half_away_from_zero").alias("r"),
    )
    f.select(pl.col("x").sum().alias("s"), pl.col("x").mean().alias("m"))
    assert probes == []
    f.select((pl.col("x") * 2).round(1, mode="half_away_from_zero"))
    assert len(probes) == 1


def test_boolean_cast_sum_and_mean(pl, lf):
    r = lf(x=[0, 1, 2, 0, 3]).select(
        pl.col("x").cast(pl.Boolean).sum().alias("s"),
        pl.col("x").cast(pl.Boolean).mean().alias("m"),
    ).collect().to_dict("records")[0]
    assert r == {"s": 3, "m": 0.6}


def _schema_reads() -> set[tuple[str, str]]:
    """(file, enclosing function qualname) of every ``.schema``/``.dtypes``
    read off a ``.select(...)`` result: chained, through ``._df``, or
    through a name the same function bound to one."""

    def is_select(node):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "select"
        )

    found = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()

        def walk(node, scope, bound):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    walk(child, [*scope, child.name], set())
                    continue
                if isinstance(child, ast.Assign) and is_select(child.value):
                    bound |= {t.id for t in child.targets if isinstance(t, ast.Name)}
                if isinstance(child, ast.Attribute) and child.attr in ("schema", "dtypes"):
                    v = child.value
                    if isinstance(v, ast.Attribute) and v.attr == "_df":
                        v = v.value
                    if is_select(v) or (isinstance(v, ast.Name) and v.id in bound):
                        found.add((rel, ".".join(scope)))
                walk(child, scope, bound)

        walk(ast.parse(path.read_text()), [], set())
    return found


def test_schema_probes_only_in_named_places():
    assert _schema_reads() - SCHEMA_READS == set()
