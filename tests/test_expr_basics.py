"""Expr arithmetic / comparison / conditional semantics.

Mirrors cases from py-polars/tests/unit/operations (arithmetic, when-then,
null handling)."""

import math

import pandas as pd

from tests.conftest import rows


def test_arithmetic(pl, lf):
    f = lf(a=[1.0, 2.0, 3.0], b=[10.0, 20.0, 30.0])
    out = f.select(
        (pl.col("a") + pl.col("b")).alias("add"),
        (pl.col("b") - pl.col("a")).alias("sub"),
        (pl.col("a") * 2).alias("mul"),
        (pl.col("b") / pl.col("a")).alias("div"),
        (pl.col("b") // pl.col("a")).alias("fdiv"),
        (pl.col("b") % 7).alias("mod"),
        (pl.col("a") ** 2).alias("pow"),
        (-pl.col("a")).alias("neg"),
        (1 + pl.col("a")).alias("radd"),
    )
    r = rows(out)
    assert r[0] == (11.0, 9.0, 2.0, 10.0, 10.0, 3.0, 1.0, -1.0, 2.0)
    assert r[2] == (33.0, 27.0, 6.0, 10.0, 10.0, 2.0, 9.0, -3.0, 4.0)


def test_comparisons_and_bool(pl, lf):
    f = lf(a=[1, 2, 3], b=[3, 2, 1])
    out = f.select(
        (pl.col("a") == pl.col("b")).alias("eq"),
        (pl.col("a") != pl.col("b")).alias("ne"),
        (pl.col("a") < 2).alias("lt"),
        ((pl.col("a") >= 2) & (pl.col("b") <= 2)).alias("and_"),
        ((pl.col("a") == 1) | (pl.col("b") == 1)).alias("or_"),
        (~(pl.col("a") == 1)).alias("inv"),
    )
    assert rows(out) == [
        (False, True, True, False, True, False),
        (True, False, False, True, False, True),
        (False, True, False, True, True, True),
    ]


def test_null_safe_eq(pl, lf):
    f = lf(a=[1.0, None, None], b=[1.0, 2.0, None])
    out = f.select(
        pl.col("a").eq_missing(pl.col("b")).alias("eqm"),
        pl.col("a").ne_missing(pl.col("b")).alias("nem"),
    )
    assert rows(out) == [(True, False), (False, True), (True, False)]


def test_when_then_otherwise(pl, lf):
    f = lf(x=[1, 2, 3, 4])
    out = f.select(
        pl.when(pl.col("x") <= 1)
        .then(pl.lit("low"))
        .when(pl.col("x") <= 3)
        .then(pl.lit("mid"))
        .otherwise(pl.lit("high"))
        .alias("band")
    )
    assert [r[0] for r in rows(out)] == ["low", "mid", "mid", "high"]


def test_fill_null_and_nan(pl, lf):
    # pandas cannot carry null and NaN distinctly in a float column; build the
    # NaN Spark-side so null (row 1) and NaN (row 2) are genuinely different
    f = lf(x=[1.0, None, 3.0, 4.0]).with_columns(
        pl.when(pl.col("x") == 3.0).then(pl.lit(float("nan"))).otherwise(pl.col("x")).alias("x")
    )
    f = f.with_row_index("i")
    out = f.select(
        pl.col("i"),
        pl.col("x").fill_null(0).alias("fz"),
        pl.col("x").is_null().alias("isn"),
        pl.col("x").is_nan().alias("nan"),
        pl.col("x").is_finite().alias("fin"),
        pl.col("x").fill_nan(-1.0).alias("fn"),
    ).sort("i")
    r = rows(out)  # rows() folds NaN to None; booleans carry the distinction
    assert [x[2] for x in r] == [False, True, False, False]  # is_null: only row 1
    assert [x[3] for x in r] == [False, None, True, False]  # is_nan: null in -> null out
    assert [x[4] for x in r] == [True, None, False, True]  # is_finite
    assert r[1][1] == 0.0  # fill_null hit the null row
    assert r[2][5] == -1.0 and r[0][5] == 1.0  # fill_nan hit only the NaN row


def test_clip_is_between_is_in(pl, lf):
    f = lf(x=[1, 5, 10])
    out = f.select(
        pl.col("x").clip(2, 8).alias("clip"),
        pl.col("x").is_between(2, 10).alias("btw"),
        pl.col("x").is_between(1, 10, closed="neither").alias("btw_n"),
        pl.col("x").is_in([1, 10]).alias("isin"),
    )
    assert rows(out) == [
        (2, False, False, True),
        (5, True, True, False),
        (8, True, False, True),
    ]


def test_cast_and_dtypes(pl, lf):
    f = lf(x=[1.9, 2.2])
    out = f.select(
        pl.col("x").cast("Int64").alias("i"),
        pl.col("x").cast("String").alias("s"),
        pl.col("x").round(0).alias("r"),
        pl.col("x").floor().alias("fl"),
        pl.col("x").ceil().alias("ce"),
        pl.col("x").abs().alias("ab"),
    )
    r = rows(out)
    assert r[0] == (1, "1.9", 2.0, 1.0, 2.0, 1.9)


def test_horizontal(pl, lf):
    f = lf(a=[1, None], b=[2, 5], c=[3, None])
    out = f.select(
        pl.sum_horizontal("a", "b", "c").alias("s"),
        pl.max_horizontal("a", "b", "c").alias("mx"),
        pl.min_horizontal("a", "b", "c").alias("mn"),
    )
    r = rows(out)
    assert r[0] == (6, 3, 1)
    assert r[1][0] == 5


def test_concat_str_list_struct(pl, lf):
    f = lf(a=["x", "y"], b=[1, 2])
    out = f.select(
        pl.concat_str([pl.col("a"), pl.col("b")], separator="-").alias("cs"),
        pl.concat_list(pl.col("b"), pl.col("b") * 10).alias("cl"),
        pl.struct(pl.col("a"), pl.col("b")).alias("st"),
    )
    pdf = out.collect()
    assert pdf["cs"].tolist() == ["x-1", "y-2"]
    assert [list(v) for v in pdf["cl"]] == [[1, 10], [2, 20]]
    assert pdf["st"][0] == {"a": "x", "b": 1}


def test_replace_and_hash(pl, lf):
    f = lf(x=["a", "b", "c"])
    out = f.select(pl.col("x").replace({"a": "A", "b": "B"}).alias("rep"))
    assert [r[0] for r in rows(out)] == ["A", "B", "c"]
    h = f.select(pl.col("x").hash().alias("h")).collect()
    assert h["h"].nunique() == 3


def test_expr_filter_in_agg(pl, lf):
    f = lf(g=["a", "a", "b"], x=[1.0, 5.0, 3.0])
    out = f.group_by("g").agg(
        pl.col("x").filter(pl.col("x") > 2).sum().alias("big_sum"),
        pl.col("x").filter(pl.col("x") > 2).count().alias("big_n"),
    )
    assert rows(out, sort_by="g") == [("a", 5.0, 1), ("b", 3.0, 1)]


def test_str_extract_groups(pl, lf):
    f = lf(s=["a=1 b=2", "nope"])
    pdf = f.select(
        pl.col("s").str.extract_groups(r"a=(\d+) b=(\d+)").alias("g"),
        pl.col("s").str.extract_groups(r"a=(?P<av>\d+)").alias("named"),
    ).collect()
    assert pdf["g"][0] == {"1": "1", "2": "2"}
    assert pdf["g"][1] == {"1": None, "2": None}
    assert pdf["named"][0] == {"av": "1"}


def test_decimal_and_unsigned_dtypes(pl, lf):
    f = lf(x=[1.5, 2.25])
    out = f.select(
        pl.col("x").cast("Decimal").alias("d") if False else pl.col("x").cast("decimal(10,2)").alias("d"),
        pl.col("x").cast("UInt32").alias("u"),
        pl.col("x").cast("UInt64").alias("u64"),
        pl.col("x").cast("Int8").alias("i8"),
    )
    types = dict(out.to_spark().dtypes)
    assert types["d"] == "decimal(10,2)"
    assert types["u"] == "bigint"  # unsigned widened per SURVEY §1.2
    assert types["u64"] == "decimal(20,0)"
    assert types["i8"] == "tinyint"


def test_sql_expr(pl, lf):
    f = lf(a=[1, 2, 3])
    out = f.with_columns(pl.sql_expr("a * 10 + 1").alias("b")).collect()
    assert out["b"].tolist() == [11, 21, 31]
    # default name = root identifier (polars keeps the column name)
    out2 = lf(price=[2.0]).select(pl.sql_expr("price * 3")).collect()
    assert out2.columns.tolist() == ["price"] and out2["price"].tolist() == [6.0]


def test_expr_operator_aliases(pl, lf):
    f = lf(a=[4.0, 9.0], b=[2.0, 3.0])
    out = f.select(
        pl.col("a").add(1).alias("p"),
        pl.col("a").sub("b").alias("m") if False else pl.col("a").sub(pl.col("b")).alias("m"),
        pl.col("a").truediv(pl.col("b")).alias("d"),
        pl.col("a").ge(4.0).alias("ge"),
        pl.col("a").eq(9.0).alias("eq"),
        (pl.col("a") > 5).xor(pl.col("b") > 5).alias("x"),
        pl.col("a").neg().alias("n"),
    ).collect()
    r = out.to_dict("records")[0]
    assert r == {"p": 5.0, "m": 2.0, "d": 2.0, "ge": True, "eq": False, "x": False, "n": -4.0}


def test_expr_math_and_bounds(pl, lf):
    import math

    f = lf(x=[2.0], i=[7])
    r = f.select(
        pl.col("x").arccosh().alias("ach"),
        pl.col("x").cot().alias("cot"),
        pl.lit(12345.0).round_sig_figs(2).alias("sf"),
        pl.col("i").upper_bound().alias("ub"),
        pl.col("i").lower_bound().alias("lb"),
        # the bound is the expression's dtype, not its root column's
        pl.col("i").cast(pl.Int8).upper_bound().alias("ub8"),
        pl.col("i").cast(pl.Int16).lower_bound().alias("lb16"),
    ).collect().to_dict("records")[0]
    assert abs(r["ach"] - math.acosh(2)) < 1e-12
    assert abs(r["cot"] - 1 / math.tan(2)) < 1e-12
    assert r["sf"] == 12000.0
    assert r["ub"] == 9223372036854775807 and r["lb"] == -9223372036854775808
    assert r["ub8"] == 127 and r["lb16"] == -32768


def test_expr_by_aggs_and_rolling_by(pl, lf):
    import pandas as pd

    f = lf(
        g=["a", "a", "a", "b"],
        t=pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:10", "2024-01-01 01:00", "2024-01-01 00:00"]),
        v=[1.0, 5.0, 3.0, 7.0],
    ).set_sorted("t")
    agg = f.group_by("g").agg(
        pl.col("t").max_by("v").alias("t_at_max"),
        pl.col("v").min_by("v").alias("vmin"),
    ).sort("g").collect()
    assert str(agg["t_at_max"][0]) == "2024-01-01 00:10:00"
    roll = f.with_columns(
        pl.col("v").rolling_std_by("t", "30m").over("g").alias("rs"),
        pl.col("v").rolling_median_by("t", "30m").over("g").alias("rm"),
    ).sort("g", "t").collect()
    assert roll["rm"].tolist()[1] == 3.0  # median(1,5)
    import math
    assert abs(roll["rs"].tolist()[1] - math.sqrt(8.0)) < 1e-9  # std(1,5)


def test_ewm_sum_matches_recurrence(pl, lf):
    f = lf(i=[1, 2, 3, 4], x=[1.0, 2.0, 3.0, 4.0]).set_sorted("i")
    es = f.select(pl.col("x").ewm_sum(alpha=0.5).alias("es"), pl.col("i").alias("i")).sort("i").collect()
    assert es["es"].tolist() == [1.0, 2.5, 4.25, 6.125]


def test_is_sorted_and_arg_sort(pl, lf):
    f = lf(i=[1, 2, 3], x=[3.0, 1.0, 2.0]).set_sorted("i")
    assert f.select(pl.col("i").is_sorted().alias("s")).collect()["s"].tolist() == [True] * 3
    assert f.select(pl.col("x").is_sorted().alias("s")).collect()["s"].tolist() == [False] * 3
    # x=[3.0, 1.0, 2.0] -> argsort [1, 2, 0] (true permutation, reference)
    out = f.with_columns(pl.col("x").arg_sort().alias("r")).collect()
    assert out["r"].tolist() == [1, 2, 0]


def test_expr_agg_list_family(pl, lf):
    f = lf(g=["a"] * 5, i=[1, 2, 3, 4, 5], x=[3.0, 1.0, 1.0, 5.0, 2.0]).set_sorted("i")
    out = (
        f.group_by("g")
        .agg(
            pl.col("x").sort().alias("s"),
            pl.col("x").top_k(2).alias("tk"),
            pl.col("x").bottom_k(2).alias("bk"),
            pl.col("x").get(0).alias("g0"),
            pl.col("x").index_of(5.0).alias("io"),
            pl.col("x").index_of(99.0).alias("io_none"),
            pl.col("x").slice(-2, 2).alias("sl"),
            pl.col("x").sort_by(pl.col("i"), descending=True).alias("sb"),
            pl.col("x").reverse().alias("rv"),
            pl.col("x").rle().alias("rle"),
        )
        .collect()
        .to_dict("records")[0]
    )
    assert list(out["s"]) == [1.0, 1.0, 2.0, 3.0, 5.0]
    assert list(out["tk"]) == [5.0, 3.0] and list(out["bk"]) == [1.0, 1.0]
    import pandas as pd

    assert out["g0"] == 3.0 and out["io"] == 3 and pd.isna(out["io_none"])
    assert list(out["sl"]) == [5.0, 2.0]
    assert list(out["sb"]) == [2.0, 5.0, 1.0, 1.0, 3.0]
    assert list(out["rv"]) == [2.0, 5.0, 1.0, 1.0, 3.0]
    assert [(r["len"], r["value"]) for r in out["rle"]] == [(1, 3.0), (2, 1.0), (1, 5.0), (1, 2.0)]


def test_bitwise_leading_trailing(pl, lf):
    f = lf(n=[0, 1, 8, -1, 6])
    out = f.select(
        pl.col("n").bitwise_leading_zeros().alias("lz"),
        pl.col("n").bitwise_trailing_zeros().alias("tz"),
        pl.col("n").bitwise_leading_ones().alias("lo"),
        pl.col("n").bitwise_trailing_ones().alias("to"),
    ).collect()
    assert out["lz"].tolist() == [64, 63, 60, 0, 61]
    assert out["tz"].tolist() == [64, 0, 3, 0, 1]
    assert out["lo"].tolist() == [0, 0, 0, 64, 0]
    assert out["to"].tolist() == [0, 1, 0, 64, 0]


def test_arg_true_unique_item_from_json_exclude(pl, lf):
    f = lf(g=["a"] * 4, i=[1, 2, 3, 4], b=[True, False, True, True], x=[5.0, 5.0, 7.0, 5.0]).set_sorted("i")
    out = (
        f.group_by("g")
        .agg(
            pl.col("b").arg_true().alias("at"),
            pl.col("x").arg_unique().alias("au"),
            pl.col("x").item().alias("it"),
        )
        .collect()
        .to_dict("records")[0]
    )
    assert list(out["at"]) == [0, 2, 3]
    assert list(out["au"]) == [0, 2]
    assert out["it"] == 5.0
    j = lf(s=['{"a": 5}'])
    assert j.select(pl.col("s").from_json("struct<a:bigint>").alias("o")).collect()["o"].tolist() == [{"a": 5}]
    assert f.select(pl.all().exclude("g", "i")).collect().columns.tolist() == ["b", "x"]
    c = lf(s=["12"]).select(pl.col("s").cat.to(pl.Int64).alias("n")).collect()
    assert c["n"].tolist() == [12]


def test_expr_hist(pl, lf):
    f = lf(g=["a"] * 6, x=[1.0, 2.0, 3.0, 4.0, 5.0, 6.0])
    out = f.group_by("g").agg(pl.col("x").hist(bins=[0, 2, 4, 6], include_breakpoint=True).alias("h")).collect()
    assert [(r["breakpoint"], r["count"]) for r in out["h"][0]] == [(2.0, 2), (4.0, 2), (6.0, 2)]
    out2 = f.group_by("g").agg(pl.col("x").hist(bin_count=2, include_breakpoint=True).alias("h")).collect()
    assert [(r["breakpoint"], r["count"]) for r in out2["h"][0]] == [(3.5, 3), (6.0, 3)]
