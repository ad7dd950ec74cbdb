"""Round-4 parity tail: cumulative_eval, rolling_map, shuffle, shrink_dtype,
reshape, reinterpret (Expr + .bin), str.find_many, cat.get_categories (Enum),
Expr.meta introspection."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import rows


def _idx(pl, **cols):
    return pl.from_pandas(pd.DataFrame(cols)).with_row_index("idx")


class TestCumulativeEval:
    def test_sum_matches_cum_sum(self, pl):
        f = _idx(pl, x=[3.0, 1.0, 4.0, 1.5])
        got = f.select(
            pl.col("x").cumulative_eval(pl.element().sum()).alias("a"),
            pl.col("x").cum_sum().alias("b"),
        ).collect()
        assert got["a"].tolist() == got["b"].tolist()

    def test_first_minus_last_squared(self, pl):
        # the reference's doc example: element().first() - element().last()**2
        f = _idx(pl, x=[1.0, 2.0, 3.0])
        got = f.select(
            pl.col("x")
            .cumulative_eval(pl.element().first() - pl.element().last() ** 2)
            .alias("e")
        ).collect()
        assert got["e"].tolist() == [0.0, -3.0, -8.0]

    def test_min_samples_gates(self, pl):
        f = _idx(pl, x=[1.0, 2.0, 3.0])
        got = f.select(
            pl.col("x").cumulative_eval(pl.element().sum(), min_samples=2).alias("e")
        ).collect()
        vals = got["e"].tolist()
        assert pd.isna(vals[0]) and vals[1:] == [3.0, 6.0]

    def test_composite_quantile_and_implode(self, pl):
        f = _idx(pl, x=[3.0, 1.0, 2.0])
        got = f.select(
            pl.col("x").cumulative_eval(pl.element().quantile(0.5, "lower")).alias("q"),
            pl.col("x").cumulative_eval(pl.element().implode()).alias("arr"),
        ).collect()
        assert got["q"].tolist() == [3.0, 1.0, 2.0]
        assert [list(a) for a in got["arr"]] == [[3.0], [3.0, 1.0], [3.0, 1.0, 2.0]]

    def test_under_over_partitions(self, pl):
        f = _idx(pl, g=["a", "a", "b", "b"], x=[1.0, 2.0, 10.0, 20.0])
        got = f.select(
            "g",
            pl.col("x").cumulative_eval(pl.element().sum()).over("g").alias("e"),
        ).collect()
        assert got["e"].tolist() == [1.0, 3.0, 10.0, 30.0]


class TestRollingMap:
    def test_matches_rolling_sum(self, pl):
        f = _idx(pl, x=[1.0, 2.0, 3.0, 4.0, 5.0])
        got = f.select(
            pl.col("x").rolling_map(lambda s: float(s.sum()), 3).alias("m"),
            pl.col("x").rolling_sum(3).alias("r"),
        ).collect()
        assert got["m"].tolist()[2:] == got["r"].tolist()[2:]
        assert pd.isna(got["m"].tolist()[0]) and pd.isna(got["m"].tolist()[1])

    def test_nulls_preserved_in_window(self, pl):
        # polars windows include nulls; collect via struct keeps them
        f = _idx(pl, x=[1.0, None, 3.0])
        got = f.select(
            pl.col("x")
            .rolling_map(lambda s: float(s.isna().sum()), 2, min_samples=1)
            .alias("m")
        ).collect()
        assert got["m"].tolist() == [0.0, 1.0, 1.0]

    def test_weights(self, pl):
        f = _idx(pl, x=[1.0, 2.0, 4.0])
        got = f.select(
            pl.col("x")
            .rolling_map(lambda s: float(s.sum()), 2, weights=[0.5, 1.0])
            .alias("m")
        ).collect()
        assert got["m"].tolist()[1:] == [0.5 * 1 + 2.0, 0.5 * 2 + 4.0]


class TestShuffleSample:
    def test_shuffle_deterministic_permutation(self, pl):
        f = _idx(pl, i=list(range(20)))
        a = f.select("idx", pl.col("i").shuffle(seed=7).alias("s")).collect()
        b = f.select("idx", pl.col("i").shuffle(seed=7).alias("s")).collect()
        c = f.select("idx", pl.col("i").shuffle(seed=8).alias("s")).collect()
        assert a["s"].tolist() == b["s"].tolist()
        assert sorted(a["s"].tolist()) == list(range(20))
        assert a["s"].tolist() != c["s"].tolist()
        assert a["s"].tolist() != list(range(20))  # actually permuted

    def test_shuffle_within_groups(self, pl):
        f = _idx(pl, g=["a"] * 5 + ["b"] * 5, i=list(range(10)))
        got = f.select("g", pl.col("i").shuffle(seed=3).over("g").alias("s")).collect()
        assert sorted(got["s"][got["g"] == "a"].tolist()) == list(range(5))
        assert sorted(got["s"][got["g"] == "b"].tolist()) == list(range(5, 10))

    def test_frame_sample_seeded(self, pl):
        f = _idx(pl, i=list(range(100)))
        a = f.sample(fraction=0.3, seed=5).collect()
        b = f.sample(fraction=0.3, seed=5).collect()
        assert a["i"].tolist() == b["i"].tolist()
        assert 5 < len(a) < 70


class TestShrinkReshapeReinterpret:
    def test_shrink_dtype(self, pl, spark):
        f = _idx(pl, small=[1, 2, 3], big=[1, 2, 3_000_000_000])
        df = f.select(
            pl.col("small").shrink_dtype().alias("s"),
            pl.col("big").shrink_dtype().alias("b"),
        ).to_spark()
        types = dict(df.dtypes)
        assert types["s"] == "tinyint" and types["b"] == "bigint"

    def test_reshape_chunks(self, pl):
        f = _idx(pl, i=[1, 2, 3, 4, 5])
        got = f.select(pl.col("i").reshape((-1, 2)).alias("r")).explode("r").collect()
        assert [list(a) for a in got["r"]] == [[1, 2], [3, 4], [5]]

    def test_reshape_flatten(self, pl):
        f = _idx(pl, a=[[1, 2], [3]])
        got = f.select(pl.col("a").reshape((-1,)).alias("f")).explode("f").collect()
        assert got["f"].tolist() == [1, 2, 3]

    def test_expr_reinterpret_roundtrip(self, pl):
        f = _idx(pl, i=[-1, 0, 1, -(2**63)])
        got = f.select(
            pl.col("i").reinterpret(signed=False).alias("u"),
        ).collect()
        assert [int(v) for v in got["u"]] == [2**64 - 1, 0, 1, 2**63]
        back = f.select(
            pl.col("i").reinterpret(signed=False).reinterpret(signed=True).alias("rt")
        ).collect()
        assert back["rt"].tolist() == [-1, 0, 1, -(2**63)]

    def test_bin_reinterpret(self, pl):
        f = _idx(
            pl,
            b=[b"\x01\x00\x00\x00\x00\x00\x00\x00", b"\xff\xff\xff\xff\xff\xff\xff\xff"],
        )
        le = f.select(
            pl.col("b").bin.reinterpret(dtype=pl.Int64, endianness="little").alias("v")
        ).collect()
        assert le["v"].tolist() == [1, -1]
        ue = f.select(
            pl.col("b").bin.reinterpret(dtype=pl.UInt64, endianness="little").alias("v")
        ).collect()
        assert [int(v) for v in ue["v"]] == [1, 2**64 - 1]
        be32 = _idx(pl, b=[b"\x00\x00\x00\x2a", b"\xff\xff\xff\xfe"]).select(
            pl.col("b").bin.reinterpret(dtype=pl.Int32, endianness="big").alias("v")
        ).collect()
        assert be32["v"].tolist() == [42, -2]

    def test_bin_reinterpret_wrong_size_raises(self, pl):
        f = _idx(pl, b=[b"\x01\x02"])
        with pytest.raises(Exception, match="not 8 bytes"):
            f.select(
                pl.col("b").bin.reinterpret(dtype=pl.Int64, endianness="little")
            ).collect()


class TestFindMany:
    def test_non_overlapping_skips_past_matches(self, pl):
        f = _idx(pl, s=["abcabc", "xyz", "aaa", None])
        got = f.select(pl.col("s").str.find_many(["ab", "aa"]).alias("f")).collect()
        vals = [None if v is None else list(v) for v in got["f"]]
        assert vals == [[0, 3], [], [0], None]

    def test_overlapping(self, pl):
        f = _idx(pl, s=["aaa"])
        got = f.select(
            pl.col("s").str.find_many(["aa"], overlapping=True).alias("f")
        ).collect()
        assert [list(v) for v in got["f"]] == [[0, 1]]

    def test_first_listed_pattern_wins(self, pl):
        # at pos 0 both "ab" and "abc" match; first-listed consumes
        f = _idx(pl, s=["abcd"])
        got = f.select(pl.col("s").str.find_many(["ab", "cd"]).alias("f")).collect()
        assert [list(v) for v in got["f"]] == [[0, 2]]


class TestEnumMeta:
    def test_get_categories(self, pl):
        f = _idx(pl, s=["a", "b", "a"])
        got = (
            f.select(
                pl.col("s").cast(pl.Enum(["a", "b", "c"])).cat.get_categories().alias("c")
            )
            .explode("c")
            .collect()
        )
        assert got["c"].tolist() == ["a", "b", "c"]

    def test_get_categories_plain_categorical_distinct(self, pl):
        # round-7: plain-Categorical get_categories now lowers to the
        # distributed DISTINCT select-rewrite instead of raising
        e = pl.col("s").cat.get_categories()
        assert getattr(e, "_select_rewrite", None) is not None

    def test_meta_output_name_and_roots(self, pl):
        e = (pl.col("a") * 2 + pl.col("b")).alias("z")
        assert e.meta.output_name() == "z"
        assert e.meta.root_names() == ["a", "b"]
        assert pl.col("v").shift(1).meta.root_names() == ["v"]

    def test_meta_keeps_the_session_confs(self, pl, spark):
        # meta walks (and the ewm hoist of every select) reuse the live
        # session: re-running its builder would reset AQE and the shuffle
        # partition count to the engine defaults under the caller
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        try:
            before = dict(spark.sql("SET").collect())
            pl.col("x").ewm_mean(span=3).meta.root_names()
            assert pl.dtype_of("a").collect_dtype({"a": pl.String}) is pl.String
            assert dict(spark.sql("SET").collect()) == before
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "1")

    def test_meta_eq_undo_aliases_is_column(self, pl):
        e = (pl.col("a") * 2 + pl.col("b")).alias("z")
        assert e.meta.eq((pl.col("a") * 2 + pl.col("b")).alias("z"))
        # reference meta.ne: the output name is part of expression identity,
        # so the aliased form differs from the bare tree
        assert e.meta.ne(pl.col("a") * 2 + pl.col("b")) is True
        assert pl.col("q").meta.is_column()
        assert not e.meta.is_column()
        assert e.meta.undo_aliases().meta.root_names() == ["a", "b"]
        assert pl.col("a").alias("x").meta.is_column_selection(allow_aliasing=True)

class TestWriteExcelListSample:
    def test_write_excel_roundtrip(self, pl, tmp_path):
        pytest.importorskip("openpyxl")
        import pandas as pd

        f = pl.from_pandas(pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}))
        path = str(tmp_path / "out.xlsx")
        f.write_excel(path)
        from polars_spark.sources import read_excel

        back = read_excel(path).collect()
        assert back["a"].tolist() == [1, 2] and back["b"].tolist() == ["x", "y"]

    def test_list_sample_deterministic(self, pl):
        f = _idx(pl, a=[[1, 2, 3, 4, 5], [6, 7]])
        g1 = f.select(pl.col("a").list.sample(3, seed=1).alias("s")).collect()
        g2 = f.select(pl.col("a").list.sample(3, seed=1).alias("s")).collect()
        assert [list(x) for x in g1["s"]] == [list(x) for x in g2["s"]]
        assert len(g1["s"][0]) == 3 and len(g1["s"][1]) == 2  # capped at len
        # order preserved (subset of original order)
        assert g1["s"][0].tolist() == sorted(g1["s"][0].tolist())

    def test_list_sample_fraction(self, pl):
        f = _idx(pl, a=[[1, 2, 3, 4]])
        got = f.select(pl.col("a").list.sample(fraction=0.5, seed=2).alias("s")).collect()
        assert len(got["s"][0]) == 2


class TestCumulativeEvalWindowAggs:
    def test_positional_aggs_run_per_prefix(self, pl):
        # arg_min/arg_max/search_sorted/agg_groups must honor the prefix
        # window (they silently computed ONE global aggregate before r4)
        f = _idx(pl, x=[3.0, 1.0, 2.0])
        got = f.select(
            pl.col("x").cumulative_eval(pl.element().arg_min()).alias("am"),
            pl.col("x").cumulative_eval(pl.element().arg_max()).alias("ax"),
            pl.col("x").cumulative_eval(pl.element().search_sorted(2.0)).alias("ss"),
        ).collect()
        assert got["am"].tolist() == [0, 1, 1]
        assert got["ax"].tolist() == [0, 0, 0]
        assert got["ss"].tolist() == [0, 1, 1]


class TestRound7Fidelity:
    """Round-7 drop-in fidelity findings (user-simulation driven)."""

    def test_filter_on_window_predicate(self, pl):
        f = pl.DataFrame({"m": ["a", "a", "b"], "t": [1, 1, 2]})
        out = f.filter(pl.struct("m", "t").is_duplicated()).collect()
        assert len(out) == 2
        assert set(out["m"]) == {"a"}

    def test_sort_by_first_last_in_agg(self, pl):
        f = pl.DataFrame(
            {"g": ["x", "x", "y"], "v": ["p", "q", "r"], "k": [2, 1, 5]}
        )
        out = (
            f.group_by("g")
            .agg(
                pl.col("v").sort_by("k").first().alias("lo"),
                pl.col("v").sort_by("k").last().alias("hi"),
            )
            .collect()
            .sort_values("g")
        )
        assert out["lo"].tolist() == ["q", "r"]
        assert out["hi"].tolist() == ["p", "r"]

    def test_implode_first_still_list(self, pl):
        f = pl.DataFrame({"g": ["a", "a"], "x": [1, 2]})
        out = f.group_by("g").agg(pl.col("x").implode().alias("l")).collect()
        assert list(out["l"].iloc[0]) == [1, 2]

    def test_json_decode_inferred(self, pl):
        f = pl.DataFrame({"j": ['{"a":1,"b":"x"}', '{"a":2,"b":"y"}']})
        out = f.select(pl.col("j").str.json_decode().alias("s")).unnest("s").collect()
        assert out["a"].tolist() == [1, 2]
        arr = pl.DataFrame({"j": ["[1,2]", "[3]"]}).select(
            pl.col("j").str.json_decode().alias("l")
        ).collect()
        assert [list(v) for v in arr["l"]] == [[1, 2], [3]]

    def test_melt_old_param_names(self, pl):
        f = pl.DataFrame({"g": ["a"], "x": [1], "y": [2]})
        out = f.melt(id_vars="g", value_vars=["x", "y"]).collect()
        assert set(out.columns) == {"g", "variable", "value"}
        assert len(out) == 2

    def test_frame_scalar_arithmetic(self, pl):
        f = pl.DataFrame({"x": [1, 2], "y": [2.0, 3.0]})
        assert (f * 2).collect()["x"].tolist() == [2, 4]
        assert (10 - f).collect()["y"].tolist() == [8.0, 7.0]
        assert (f // 2).collect()["x"].tolist() == [0, 1]
        # order contract survives the broadcast op
        assert (f * 2).select(pl.col("x").cum_sum().alias("c")).collect()[
            "c"
        ].tolist() == [2, 6]
        # frame * frame: positional over ordered (driver-ingested) frames
        ff = (f * f).collect()
        assert ff["x"].tolist() == [1, 4] and ff["y"].tolist() == [4.0, 9.0]
        import pytest

        # no row order on either side -> still the documented error
        g1 = pl.LazyFrame(f.to_spark())  # raw Spark frame: no order contract
        with pytest.raises(TypeError, match="positional"):
            g1 * g1

    def test_nan_distinct_from_null_in_constructor(self, pl):
        import math

        df = pl.DataFrame({"a": [1.0, float("nan"), None]})
        mx = df.select(pl.col("a").max().alias("m")).collect()["m"].iloc[0]
        assert isinstance(mx, float) and math.isnan(mx)  # NaN sorts largest
        flags = df.select(pl.col("a").is_nan().alias("n")).collect()["n"].tolist()
        assert flags[0] is False and flags[1] is True and flags[2] is None
        filled = df.select(pl.col("a").fill_nan(0).alias("f")).collect()["f"].tolist()
        assert filled[0] == 1.0 and filled[1] == 0.0
        # nan_to_null converts at ingest
        mx2 = pl.DataFrame({"a": [1.0, float("nan")]}, nan_to_null=True).select(
            pl.col("a").max().alias("m")
        ).collect()["m"].iloc[0]
        assert mx2 == 1.0

    def test_rolling_center_and_clip_names(self, pl):
        f = pl.DataFrame({"x": [1.0, 2.0, 3.0]})
        assert f.select(
            pl.col("x").rolling_mean(3, center=True, min_samples=1).alias("m")
        ).collect()["m"].tolist() == [1.5, 2.0, 2.5]
        assert f.select(
            pl.col("x").clip(lower_bound=1.5, upper_bound=2.5).alias("c")
        ).collect()["c"].tolist() == [1.5, 2.0, 2.5]

    def test_cat_get_categories_plain(self, pl):
        out = (
            pl.DataFrame({"c": ["b", "a", "b"]})
            .select(pl.col("c").cast(pl.Categorical).cat.get_categories())
            .collect()
        )
        assert sorted(out["c"]) == ["a", "b"]

    def test_negative_head_tail_slice(self, pl):
        f = pl.DataFrame({"x": [1, 2, 3, 4]})
        assert f.head(-1).collect()["x"].tolist() == [1, 2, 3]
        assert f.tail(-1).collect()["x"].tolist() == [2, 3, 4]
        assert f.slice(1, -1).collect()["x"].tolist() == [2, 3]
        assert f.slice(0, -2).collect()["x"].tolist() == [1, 2]

    def test_polars_exception_types(self, pl):
        from polars_spark import exceptions as exc

        df = pl.DataFrame({"a": [1], "b": ["x"]})
        with pytest.raises(exc.InvalidOperationError):
            pl.DataFrame({"s": ["abc"]}).select(pl.col("s").cast(pl.Int64)).collect()
        with pytest.raises(exc.ColumnNotFoundError):
            df.join(pl.DataFrame({"k": [1]}), on="nope")
        with pytest.raises(exc.InvalidOperationError):
            pl.DataFrame({"c": ["z"]}).select(
                pl.col("c").cast(pl.Enum(["a", "b"]))
            ).collect()
        # non-strict cast nulls instead of raising
        out = pl.DataFrame({"s": ["abc", "7"]}).select(
            pl.col("s").cast(pl.Int64, strict=False).alias("n")
        ).collect()["n"]
        assert pd.isna(out.iloc[0]) and int(out.iloc[1]) == 7


class TestRound8Fidelity:
    """Round-8 user-sim campaign: attribute-style col, nth naming, when
    keyword constraints (reference functions/col.py:154, lazy.py:705,
    whenthen.py)."""

    def test_col_attribute_access(self, spark):
        import polars_spark as pl

        df = pl.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
        assert df.select(pl.col.a * 2).to_series().to_list() == [2, 4, 6]
        # callable form unchanged
        assert df.select(pl.col("a") + 1).to_series().to_list() == [2, 3, 4]
        # struct kwarg composition through attribute access
        assert df.select(
            pl.struct(a2=pl.col.a).struct.field("a2").alias("f")
        ).to_series().to_list() == [1, 2, 3]

    def test_nth_keeps_source_name(self, spark):
        import polars_spark as pl
        from polars_spark.exceptions import ColumnNotFoundError
        import pytest

        df = pl.DataFrame({"a": [1, 8, 3], "b": [4, 5, 2], "c": ["f", "g", "h"]})
        assert df.select(pl.nth(1)).columns == ["b"]
        assert df.select(pl.nth(2, 0)).columns == ["c", "a"]
        assert df.select(pl.nth(-1)).columns == ["c"]
        assert df.select(pl.nth(9, strict=False)).columns == []
        with pytest.raises(ColumnNotFoundError):
            df.select(pl.nth(9))

    def test_when_keyword_constraints(self, spark):
        import polars_spark as pl

        df = pl.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
        assert df.select(
            pl.when(a=2).then(99).otherwise(0).alias("w")
        ).to_series().to_list() == [0, 99, 0]
        # positional + keyword AND-combine
        assert df.select(
            pl.when(pl.col.a > 1, b="z").then(1).otherwise(0).alias("w")
        ).to_series().to_list() == [0, 0, 1]
        # chained .when accepts constraints too
        assert df.select(
            pl.when(a=1).then(10).when(a=2).then(20).otherwise(0).alias("w")
        ).to_series().to_list() == [10, 20, 0]


class TestTypedNullFidelity:
    """Round-8: nulls in row-output APIs are None (never NaN), and int/bool
    columns with nulls keep their dtype end to end (reference rows()/
    to_dicts()/Series semantics)."""

    def test_constructor_keeps_int_bool_dtypes_with_nulls(self, spark):
        import polars_spark as pl

        df = pl.DataFrame({"x": [1, None, 3], "b": [True, None, False]})
        assert df.schema["x"] == "bigint"
        assert df.schema["b"] == "boolean"
        assert df.rows() == [(1, True), (None, None), (3, False)]

    def test_row_apis_return_none_not_nan(self, spark):
        import polars_spark as pl

        df = pl.DataFrame({"x": [1, None, 3], "s": ["a", None, "c"], "f": [1.5, None, 2.5]})
        assert df.rows()[1] == (None, None, None)
        assert df.rows(named=True)[1] == {"x": None, "s": None, "f": None}
        assert df.to_dicts()[1]["f"] is None
        assert df.to_dict()["x"] == [1, None, 3]
        assert list(df.iter_rows())[1] == (None, None, None)
        assert df.row(1) == (None, None, None)
        assert df["x"].to_list() == [1, None, 3]
        assert df.get_column("x").to_list() == [1, None, 3]
        assert [s.to_list() for s in df.get_columns()][0] == [1, None, 3]

    def test_item_preserves_int(self, spark):
        import polars_spark as pl

        v = pl.DataFrame({"a": [7]}).item()
        assert v == 7 and isinstance(v, int)

    def test_struct_rows_become_dicts(self, spark):
        import polars_spark as pl

        out = pl.DataFrame({"a": [1]}).select(
            pl.struct(x=pl.lit(1), y=pl.lit("z")).alias("s")
        ).rows()
        assert out == [({"x": 1, "y": "z"},)]

    def test_align_concat_keeps_ints(self, spark):
        import polars_spark as pl

        d2 = pl.concat(
            [pl.DataFrame({"k": [1, 2], "v": [10, 20]}), pl.DataFrame({"k": [2, 3], "w": [5, 6]})],
            how="align",
        )
        assert d2.sort("k").rows() == [(1, 10, None), (2, 20, 5), (3, None, 6)]

    def test_nan_stays_distinct_from_null(self, spark):
        import math

        import polars_spark as pl

        rows = pl.DataFrame({"f": [1.0, float("nan"), None]}).rows()
        assert rows[0] == (1.0,)
        assert math.isnan(rows[1][0])
        assert rows[2] == (None,)

    def test_series_nullable_int_ops(self, spark):
        import polars_spark as pl

        s = pl.Series("x", [1, None, 3])
        assert s.to_list() == [1, None, 3]
        assert s.sum() == 4
        assert (s + 1).to_list() == [2, None, 4]


class TestRound8FidelityBatch2:
    """Round-8 second sim batch: struct(pl.all()) expansion, hstack with
    Series, in-memory read_csv sources, integer group_by_dynamic."""

    def test_struct_wildcard_expansion(self, spark):
        import polars_spark as pl

        df = pl.DataFrame({"a": [1, 2], "b": ["x", "y"]})
        assert df.select(pl.struct(pl.all()).alias("s")).rows() == [
            ({"a": 1, "b": "x"},),
            ({"a": 2, "b": "y"},),
        ]
        # selector form
        import polars_spark.selectors as cs

        assert df.select(pl.struct(cs.numeric()).alias("s")).rows() == [
            ({"a": 1},),
            ({"a": 2},),
        ]

    def test_hstack_series_list(self, spark):
        import polars_spark as pl

        df = pl.DataFrame({"a": [1, 2], "b": ["x", "y"]})
        out = df.hstack([pl.Series("n", [7, 8])])
        assert out.columns == ["a", "b", "n"]
        assert out.rows() == [(1, "x", 7), (2, "y", 8)]

    def test_read_csv_in_memory_sources(self, spark):
        import io

        import polars_spark as pl

        assert pl.read_csv(b"a,b\n1,x\n2,y\n").rows() == [(1, "x"), (2, "y")]
        assert pl.read_csv("a,b\n1,x\n").rows() == [(1, "x")]
        assert pl.read_csv(io.StringIO("a,b\n3,z\n")).rows() == [(3, "z")]
        df = pl.DataFrame({"a": [1], "b": ["q"]})
        assert pl.read_csv(df.write_csv().encode()).rows() == [(1, "q")]

    def test_group_by_dynamic_integer_units(self, spark):
        import polars_spark as pl

        df = pl.DataFrame({"i": [1, 5, 9, 12], "v": [1, 1, 1, 1]})
        out = df.group_by_dynamic("i", every="4i").agg(pl.col("v").sum()).sort("i")
        assert out.rows() == [(0, 1), (4, 1), (8, 1), (12, 1)]
        # sliding: every=2i period=4i over 0..5 (hand-checked per window)
        df2 = pl.DataFrame({"i": list(range(6)), "v": [1] * 6})
        out2 = df2.group_by_dynamic("i", every="2i", period="4i").agg(
            pl.col("v").sum()
        ).sort("i")
        assert out2.rows() == [(-2, 2), (0, 4), (2, 4), (4, 2)]
        # closed='right' shifts membership to (s, s+p]
        out3 = df.group_by_dynamic("i", every="4i", closed="right").agg(
            pl.col("v").sum()
        ).sort("i")
        assert out3.rows() == [(0, 1), (4, 1), (8, 2)]


class TestRound8FidelityBatch3:
    """Round-8 third sim batch: simultaneous rename, explain() returns a
    string, eager ranges return Series, Series float->int truncation."""

    def test_rename_swap_is_simultaneous(self, spark):
        import pytest

        import polars_spark as pl
        from polars_spark.exceptions import ColumnNotFoundError

        df = pl.DataFrame({"a": [1], "b": [2]})
        assert df.rename({"a": "b", "b": "a"}).rows(named=True) == [{"b": 1, "a": 2}]
        with pytest.raises(ColumnNotFoundError):
            df.rename({"zz": "y"})
        # strict=False ignores unknown keys (polars rule)
        assert df.rename({"zz": "y"}, strict=False).columns == ["a", "b"]

    def test_explain_returns_string(self, spark):
        import polars_spark as pl

        s = pl.DataFrame({"a": [1]}).lazy().explain()
        assert isinstance(s, str) and "Physical Plan" in s

    def test_eager_ranges_return_series(self, spark):
        from datetime import date, datetime

        import polars_spark as pl

        s = pl.date_range(date(2024, 1, 1), date(2024, 1, 5), "1d", eager=True)
        assert s.to_list()[0] == date(2024, 1, 1) and s.len() == 5
        s2 = pl.datetime_range(datetime(2024, 1, 1), datetime(2024, 1, 2), "6h", eager=True)
        assert s2.len() == 5

    def test_series_float_to_int_truncates(self, spark):
        import polars_spark as pl

        assert pl.Series([1.7, -2.2, None]).cast(pl.Int64).to_list() == [1, -2, None]


class TestRound8FidelityBatch4:
    """Round-8 fourth sim batch: caller-scope pl.sql, column-ref ranges,
    repeat row materialization, integer list.sum dtype."""

    def test_sql_resolves_caller_scope_frames(self, spark):
        import pandas as pd

        import polars_spark as pl

        df = pl.DataFrame({"a": [1, 2, 3]})
        other = pl.DataFrame({"a": [2, 3], "d": [9, 8]})
        pdf = pd.DataFrame({"a": [1], "e": [0.5]})
        assert pl.sql("SELECT count(*) AS n FROM df").item() == 3
        assert pl.sql(
            "SELECT df.a, d FROM df JOIN other USING (a) ORDER BY a"
        ).rows() == [(2, 9), (3, 8)]
        assert pl.sql("SELECT sum(e) AS s FROM pdf").item() == 0.5

    def test_int_ranges_accepts_column_names(self, spark):
        import polars_spark as pl

        out = pl.DataFrame({"s": [1], "e": [4]}).select(pl.int_ranges("s", "e"))
        assert out.rows() == [([1, 2, 3],)]

    def test_repeat_materializes_rows_in_select(self, spark):
        import polars_spark as pl

        assert pl.select(pl.repeat(7, 3).alias("r")).to_series().to_list() == [7, 7, 7]

    def test_list_sum_keeps_integer_dtype(self, spark):
        import polars_spark as pl

        assert pl.DataFrame({"l": [[1, 2]]}).select(pl.col("l").list.sum()).rows() == [(3,)]
        assert pl.DataFrame({"l": [[1.5, 2.0]]}).select(pl.col("l").list.sum()).rows() == [(3.5,)]


class TestRound8FidelityBatch5:
    """Round-8 fifth sim batch: multi-value mode in select, dtype-keeping
    sign, boolean xor."""

    def test_mode_returns_all_ties_in_select(self, spark):
        import polars_spark as pl

        out = pl.DataFrame({"x": [1, 1, 2, 2, 3]}).select(pl.col("x").mode())
        assert sorted(out.to_series().to_list()) == [1, 2]
        # agg context stays single-mode (documented)
        agg = pl.DataFrame({"g": ["a"] * 3, "x": [1, 1, 2]}).group_by("g").agg(
            pl.col("x").mode()
        )
        assert agg.rows() == [("a", 1)]

    def test_sign_keeps_integer_dtype(self, spark):
        import polars_spark as pl

        out = pl.DataFrame({"x": [-5, 0, 5, None]}).select(pl.col("x").sign())
        assert out.to_series().to_list() == [-1, 0, 1, None]
        assert out.schema["x"] == "bigint"

    def test_boolean_xor(self, spark):
        import polars_spark as pl

        df = pl.DataFrame({"x": [True, False]})
        assert df.select((pl.col("x") ^ True).alias("b")).to_series().to_list() == [False, True]
        assert df.select((True ^ pl.col("x")).alias("b")).to_series().to_list() == [False, True]
        # integers stay bitwise
        assert pl.DataFrame({"x": [5]}).select((pl.col("x") ^ 3).alias("b")).item() == 6


class TestRound8FidelityBatch6:
    """Round-8 sixth sim batch: LazyFrame data constructor, frame-returning
    corr/value_counts, item(row, col), in-memory ndjson, missing-path error."""

    def test_lazyframe_data_constructor(self, spark):
        import polars_spark as pl

        assert pl.LazyFrame({"a": [1, 2]}).collect().shape == (2, 1)
        assert pl.LazyFrame(schema={"a": pl.Int64}).schema == {"a": "bigint"}
        assert pl.LazyFrame({"a": [1]}, schema_overrides={"a": pl.Float64}).schema == {
            "a": "double"
        }

    def test_corr_and_value_counts_return_frames(self, spark):
        import polars_spark as pl

        c = pl.DataFrame({"a": [1.0, 2.0, 3.0], "b": [2.0, 4.0, 6.0]}).corr()
        assert c.rows() == [(1.0, 1.0), (1.0, 1.0)]
        vc = pl.Series("v", ["a", "a", "b"]).value_counts().sort("v")
        assert vc.rows() == [("a", 2), ("b", 1)]

    def test_item_row_column(self, spark):
        import polars_spark as pl

        df = pl.DataFrame({"a": [1, 2], "b": [3, 4]})
        assert df.item(1, "b") == 4
        assert df.item(0, 0) == 1

    def test_read_ndjson_in_memory(self, spark):
        import polars_spark as pl

        assert pl.read_ndjson(b'{"a": 1}\n{"a": 2}\n').rows() == [(1,), (2,)]

    def test_missing_scan_path_raises_file_not_found(self, spark):
        import pytest

        import polars_spark as pl

        with pytest.raises(FileNotFoundError):
            pl.scan_parquet("/tmp/definitely_missing_zz.parquet")


def test_arg_where_materializes_rows(spark):
    import polars_spark as pl

    df = pl.DataFrame({"b": [False, True, True]})
    assert df.select(pl.arg_where(pl.col("b"))).to_series().to_list() == [1, 2]
    assert df.select(pl.arg_where(pl.col("b")).alias("i")).columns == ["i"]


class TestRound8FidelityBatch7:
    """Round-8 seventh sim batch: repr preview, duplicate with_columns
    names, json_decode with polars dtype objects."""

    def test_repr_shows_shape_and_rows(self, spark):
        import polars_spark as pl

        df = pl.DataFrame({"a": [1, None], "b": ["x", "y"]})
        r = repr(df)
        assert "shape: (2, 2)" in r and "null" in r
        assert "<table" in df._repr_html_()

    def test_with_columns_duplicate_output_name_raises(self, spark):
        import pytest

        import polars_spark as pl
        from polars_spark.exceptions import DuplicateError

        with pytest.raises(DuplicateError):
            pl.DataFrame({"a": [1]}).with_columns(
                pl.lit(1).alias("b"), pl.lit(2).alias("b")
            )
        # overwriting an existing column is fine
        assert pl.DataFrame({"a": [1]}).with_columns(pl.lit(9).alias("a")).rows() == [(9,)]

    def test_json_decode_accepts_dtype_objects(self, spark):
        import polars_spark as pl

        out = pl.DataFrame({"j": ["[1,2]"]}).select(
            pl.col("j").str.json_decode(pl.List(pl.Int64))
        )
        assert out.rows() == [([1, 2],)]


def test_replace_time_zone_preserves_wall_time(spark):
    """polars tz model: replace_time_zone keeps the wall clock (the instant
    shifts), convert_time_zone keeps the instant (the wall clock shifts);
    epoch on an annotated value reads the true instant."""
    from datetime import datetime, timezone

    import polars_spark as pl

    df = pl.DataFrame({"t": [datetime(2024, 3, 1, 12)]})
    assert df.select(pl.col("t").dt.replace_time_zone("America/New_York").dt.hour()).item() == 12
    assert df.select(
        pl.col("t").dt.replace_time_zone("America/New_York").dt.convert_time_zone("UTC").dt.hour()
    ).item() == 17
    got = df.select(pl.col("t").dt.replace_time_zone("America/New_York").dt.epoch("s")).item()
    assert got == int(datetime(2024, 3, 1, 17, tzinfo=timezone.utc).timestamp())


def test_series_scalar_aggregates_and_int_shift(spark):
    import polars_spark as pl

    s = pl.Series("x", [3, 1, 2])
    assert s.quantile(0.5) == 2
    assert pl.Series([True, False]).any() is True or pl.Series([True, False]).any() == True  # noqa: E712
    assert pl.Series([True, False]).all() == False  # noqa: E712
    assert pl.Series([9]).item() == 9
    # shift/diff keep integer dtype with null, not float+NaN
    assert s.diff().to_list() == [None, -2, 1]
    assert s.shift(1).to_list() == [None, 3, 1]


class TestDoctestHarvestFixes:
    """Round-8: fixes driven by running the reference's own docstring
    examples verbatim (1400+ pass)."""

    def test_fold_cum_fold_selector_expansion(self, spark):
        import polars_spark as pl

        df = pl.DataFrame({"a": [1, 2], "b": [3, 0]})
        out = df.filter(
            pl.fold(acc=pl.lit(True), function=lambda a, x: a & x, exprs=pl.col("*") > 0)
        )
        assert out.rows() == [(1, 3)]
        cf = df.with_columns(
            pl.cum_fold(acc=pl.lit(1), function=lambda acc, x: acc + x, exprs=pl.all())
        ).rows()
        assert cf[0][2] == {"a": 2, "b": 5}

    def test_exclude_dtype_list(self, spark):
        import polars_spark as pl

        df = pl.DataFrame({"i": [1], "f": [1.5], "s": ["x"]})
        assert df.select(pl.exclude([pl.Int64, pl.Float64])).columns == ["s"]

    def test_fill_null_with_aggregate_expr(self, spark):
        import polars_spark as pl

        out = pl.DataFrame({"b": [1.0, None, 3.0]}).with_columns(
            pl.col("b").fill_null(pl.col("b").median())
        )
        assert out.to_series().to_list() == [1.0, 2.0, 3.0]

    def test_dynamic_agg_implicit_implode_and_boundaries(self, spark):
        from datetime import datetime

        import polars_spark as pl

        tdf = pl.DataFrame(
            {"time": [datetime(2021, 12, 16, h) for h in (0, 1, 2)], "n": [1, 2, 3]}
        )
        out = tdf.group_by_dynamic("time", every="1h", closed="right").agg(pl.col("n"))
        assert [r[1] for r in out.sort("time").rows()] == [[1], [2], [3]]
        cols = tdf.group_by_dynamic("time", every="1h", include_boundaries=True).agg(
            pl.col("n").mean()
        ).columns
        assert cols[:2] == ["_lower_boundary", "_upper_boundary"]

    def test_update_positional_and_keyed_variants(self, spark):
        import polars_spark as pl

        assert pl.DataFrame({"a": [1, 2], "b": [10, 20]}).update(
            pl.DataFrame({"b": [99]})
        ).rows() == [(1, 99), (2, 20)]
        assert pl.DataFrame({"A": [1, 2], "b": [10, 20]}).update(
            pl.DataFrame({"C": [2], "b": [99]}), left_on=["A"], right_on=["C"]
        ).sort("A").rows() == [(1, 10), (2, 99)]

    def test_pivot_transpose_glimpse_schema_params(self, spark):
        import polars_spark as pl

        p = pl.DataFrame({"n": ["a", "a"], "s": ["m", "p"], "v": [1, 2]}).pivot(
            "s", on_columns=["m"], index="n", values="v"
        )
        assert p.columns == ["n", "m"]
        t = pl.DataFrame({"a": [1, 2], "b": [3, 4]}).transpose(
            include_header=False, column_names=["x", "y"]
        )
        assert t.columns == ["x", "y"]
        assert "Columns" in pl.DataFrame({"a": [1]}).glimpse(return_type="string")
        sch = pl.DataFrame({"a": [1]}).schema
        assert sch.names() == ["a"] and sch.len() == 1 and sch.dtypes() == ["bigint"]

    def test_int_range_expr_and_eager_series(self, spark):
        import polars_spark as pl

        assert pl.int_range(3).to_list() == [0, 1, 2]
        out = pl.DataFrame({"A": ["x", "y", "z"]}).select(
            pl.int_range(pl.len(), dtype=pl.UInt32).alias("index"), pl.all()
        )
        assert out.rows() == [(0, "x"), (1, "y"), (2, "z")]

    def test_corr_eager_series(self, spark):
        import polars_spark as pl

        assert pl.corr(pl.Series([1.0, 2.0, 3.0]), pl.Series([2.0, 4.0, 6.0]), eager=True).to_list() == [1.0]
