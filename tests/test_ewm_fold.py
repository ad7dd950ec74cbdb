"""The ewm family's expression fold: one shared prefix fold per recurrence.

Pinned here:

- alpha resolution follows the reference ``_prepare_alpha`` rules (one of
  com/span/half_life/alpha, each range-checked; half_life through
  ``1 - exp(-ln 2 / half_life)``);
- ``group_by().agg(ewm_*)`` returns, per group, exactly the values that
  ``ewm_*().over(key)`` gives that group's rows — same length, same bits;
- no ``ewm_*`` method of ``Expr`` writes a fold of its own: only the shared
  helpers call ``F.aggregate`` / ``F.collect_list``.
"""

from __future__ import annotations

import ast
import math
import pathlib
import struct

import pytest

EXPR_PY = pathlib.Path(__file__).resolve().parent.parent / "polars_spark" / "plans" / "expr.py"

# one case per kind × adjust × ignore_nulls (ewm_sum has no adjust), plus
# ewm_std with bias=True; id -> (kind, adjust, ignore_nulls, bias)
EWMS = {
    "-".join([kind, *(["noadjust"] if not adjust else []), *(["ignore"] if ign else [])]): (
        kind, adjust, ign, False,
    )
    for kind in ("mean", "sum", "var", "std")
    for adjust in ((True,) if kind == "sum" else (True, False))
    for ign in (False, True)
}
EWMS["std-bias"] = ("std", True, False, True)
CASES = pytest.mark.parametrize("case", list(EWMS.values()), ids=list(EWMS))


def ewm(e, case, min_samples=2):
    """The ewm expression of ``case`` (an ``EWMS`` value), span 10."""
    kind, adjust, ignore_nulls, bias = case
    kw = {"span": 10, "ignore_nulls": ignore_nulls, "min_samples": min_samples}
    if kind == "sum":
        return e.ewm_sum(**kw)
    if kind == "mean":
        return e.ewm_mean(adjust=adjust, **kw)
    return getattr(e, f"ewm_{kind}")(adjust=adjust, bias=bias, **kw)


def bits(v):
    """A float's IEEE bits; null stays None and every NaN compares equal."""
    if v is None:
        return None
    if math.isnan(v):
        return "nan"
    return struct.pack(">d", v).hex()


# -- alpha resolution ------------------------------------------------------


@pytest.mark.parametrize(
    "kw",
    [
        {"alpha": 0.5, "span": 3},
        {"com": 1.0, "half_life": 2.0},
        {},
        {"alpha": 1.5},
        {"alpha": 0.0},
        {"span": 0.5},
        {"com": -1},
        {"half_life": 0.0},
    ],
    ids=["alpha+span", "com+half_life", "none", "alpha>1", "alpha=0", "span<1", "com<0", "half_life=0"],
)
@pytest.mark.parametrize("method", ["ewm_mean", "ewm_sum", "ewm_var", "ewm_std"])
def test_alpha_rules_raise_value_error(method, kw):
    import polars_spark as pl

    with pytest.raises(ValueError):
        getattr(pl.col("x"), method)(**kw)


def test_half_life_alpha_is_reference_formula(pl, spark):
    # at h = 1.25, 1 - 2**(-1/h) and 1 - exp(-ln 2 / h) differ in the last
    # bit; the recursive mean over [0, 1] returns alpha exactly
    # (0·(1-a) + a·1) at row 2
    h = 1.25
    want = 1.0 - math.exp(-math.log(2.0) / h)
    assert want != 1.0 - 2.0 ** (-1.0 / h)
    df = pl.LazyFrame({"x": [0.0, 1.0]})
    got = df.select(pl.col("x").ewm_mean(half_life=h, adjust=False).alias("e")).collect()
    assert bits(got["e"].tolist()[1]) == bits(want)


# -- group_by().agg agrees with .over() ------------------------------------


@pytest.fixture(scope="module")
def nulls_frame(spark):
    import polars_spark as pl

    return pl.LazyFrame(
        {
            "k": [1, 2, 1, 1, 2, 3, 1, 2, 2, 3, 3, 2],
            "x": [1.0, 5.0, None, 3.0, None, None, 4.0, 2.5, -1.0, 7.0, 0.5, None],
        }
    )


@CASES
def test_grouped_agg_matches_over(pl, nulls_frame, case):
    agg = nulls_frame.group_by("k").agg(ewm(pl.col("x"), case).alias("e")).to_dicts()
    over = nulls_frame.with_columns(ewm(pl.col("x"), case).over("k").alias("e")).to_dicts()
    want: dict = {}
    for r in over:
        want.setdefault(r["k"], []).append(bits(r["e"]))
    got = {r["k"]: [bits(v) for v in r["e"]] for r in agg}
    assert got == want


def test_time_decay_skips_nulls(pl):
    # polars ewm_mean_by/ewm_sum_by: a null value gives a null output and
    # leaves the state as it was; Δt runs from the last non-null row
    df = pl.LazyFrame({"t": [0, 1, 2, 3], "x": [4.0, None, 2.0, 1.0]})
    got = df.select(
        pl.col("x").ewm_mean_by("t", half_life="1i").alias("m"),
        pl.col("x").ewm_sum_by("t", half_life="1i").alias("s"),
    ).to_dicts()
    # row 2: Δt = 2 -> decay 0.25; row 3: Δt = 1 -> decay 0.5
    assert [r["m"] for r in got] == [4.0, None, 0.25 * 4.0 + 0.75 * 2.0, 0.5 * 2.5 + 0.5 * 1.0]
    assert [r["s"] for r in got] == [4.0, None, 0.25 * 4.0 + 2.0, 0.5 * 3.0 + 1.0]


def test_time_decay_in_group_by_agg(pl):
    df = pl.LazyFrame({"k": [1, 1, 2, 1], "t": [0, 1, 2, 3], "x": [4.0, 2.0, 5.0, 1.0]})
    got = df.group_by("k").agg(pl.col("x").ewm_sum_by("t", half_life="1i").alias("s"))
    assert {r["k"]: r["s"] for r in got.to_dicts()} == {1: [4.0, 4.0, 2.0], 2: [5.0]}


# -- one fold per recurrence, by construction ------------------------------


def test_ewm_methods_fold_only_through_shared_helpers():
    tree = ast.parse(EXPR_PY.read_text())
    expr_cls = next(n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "Expr")
    offenders = set()
    for fn in expr_cls.body:
        if isinstance(fn, ast.FunctionDef) and fn.name.startswith("ewm_"):
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in {"aggregate", "collect_list"}
                ):
                    offenders.add(fn.name)
    assert offenders == set()
