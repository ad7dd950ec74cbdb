"""Frame-level operators: select/with_columns/filter/sort/slice/unique/
reshape/concat/row-index (DslPlan surface, SURVEY §2.1)."""

import pandas as pd
import pytest

from tests.conftest import rows


def test_select_with_columns(pl, lf):
    f = lf(a=[1, 2], b=[10.0, 20.0])
    out = f.with_columns((pl.col("a") * 100).alias("c")).select("a", "c", d=pl.col("b") + 1)
    assert out.columns == ["a", "c", "d"]
    assert rows(out, sort_by="a") == [(1, 100, 11.0), (2, 200, 21.0)]


def test_filter_kwargs(pl, lf):
    f = lf(a=[1, 2, 3], g=["x", "y", "x"])
    assert rows(f.filter(pl.col("a") > 1, g="x")) == [(3, "x")]
    assert len(rows(f.remove(g="x"))) == 1


def test_sort_nulls_descending(pl, lf):
    f = lf(x=[3.0, None, 1.0, 2.0])
    assert [r[0] for r in rows(f.sort("x"))] == [None, 1.0, 2.0, 3.0]
    assert [r[0] for r in rows(f.sort("x", nulls_last=True))] == [1.0, 2.0, 3.0, None]
    assert [r[0] for r in rows(f.sort("x", descending=True))] == [3.0, 2.0, 1.0, None]
    assert [r[0] for r in rows(f.sort("x", descending=True, nulls_last=False))] == [3.0, 2.0, 1.0, None]


def test_limit_tail_slice(pl, lf):
    f = lf(x=[1, 2, 3, 4, 5]).sort("x")
    assert [r[0] for r in rows(f.limit(2))] == [1, 2]
    assert [r[0] for r in rows(f.head(3))] == [1, 2, 3]
    assert [r[0] for r in rows(f.tail(2))] == [4, 5]
    assert [r[0] for r in rows(f.slice(1, 2))] == [2, 3]
    assert [r[0] for r in rows(f.slice(-2))] == [4, 5]
    assert [r[0] for r in rows(f.slice(-3, 2))] == [3, 4]
    assert [r[0] for r in rows(f.gather_every(2))] == [1, 3, 5]
    assert [r[0] for r in rows(f.gather_every(2, offset=1))] == [2, 4]
    assert [r[0] for r in rows(f.first())] == [1]
    assert [r[0] for r in rows(f.last())] == [5]


def test_reverse(pl, lf):
    f = lf(x=[1, 2, 3]).sort("x").reverse()
    assert [r[0] for r in rows(f.limit(1))] == [3]


def test_with_row_index_scan_order(pl, lf):
    f = lf(x=[10, 20, 30, 40]).with_row_index("idx")
    r = rows(f)
    assert [t[1] for t in r] == [0, 1, 2, 3]
    assert [t[0] for t in r] == [10, 20, 30, 40]
    f2 = lf(x=[3, 1, 2]).sort("x").with_row_index("idx", offset=5)
    assert rows(f2) == [(1, 5), (2, 6), (3, 7)]


def test_unique_keeps(pl, lf):
    f = lf(g=["a", "a", "b", "c", "c"], v=[1, 2, 3, 4, 5]).with_row_index("i")
    first = f.unique(subset="g", keep="first")
    assert [t[1] for t in rows(first, sort_by="g")] == [1, 3, 4]
    last = f.unique(subset="g", keep="last")
    assert [t[1] for t in rows(last, sort_by="g")] == [2, 3, 5]
    none = f.unique(subset="g", keep="none")
    assert [t[0] for t in rows(none, sort_by="g")] == ["b"]
    anyk = lf(g=["a", "a"], v=[1, 1]).unique()
    assert len(rows(anyk)) == 1


def test_explode(pl, lf):
    f = lf(g=["x", "y", "z"], a=[[1, 2], [], None])
    r = rows(f.explode("a"), sort_by="g")
    assert r == [("x", 1), ("x", 2), ("y", None), ("z", None)]


def test_explode_multi(pl, lf):
    f = lf(a=[[1, 2]], b=[["p", "q"]])
    assert rows(f.explode("a", "b")) == [(1, "p"), (2, "q")]


def test_unnest(pl, lf):
    f = lf(a=[1], b=["x"])
    out = f.select(pl.struct(pl.col("a"), pl.col("b")).alias("s"), pl.col("a").alias("k")).unnest("s")
    assert sorted(out.columns) == ["a", "b", "k"]


def test_unpivot_pivot(pl, lf):
    f = lf(id=["r1", "r2"], a=[1, 2], b=[10, 20])
    up = f.unpivot(on=["a", "b"], index="id")
    assert len(rows(up)) == 4
    assert sorted(up.columns) == ["id", "value", "variable"]
    back = up.pivot("variable", index="id", values="value", aggregate_function="first")
    r = rows(back, sort_by="id")
    assert r == [("r1", 1, 10), ("r2", 2, 20)]


def test_concat(pl, lf):
    a = lf(x=[1], y=["p"])
    b = lf(x=[2], y=["q"])
    assert len(rows(pl.concat([a, b]))) == 2
    c = lf(x=[3], z=[True])
    diag = pl.concat([a, c], how="diagonal")
    assert sorted(diag.columns) == ["x", "y", "z"]
    assert len(rows(diag)) == 2
    h = pl.concat([lf(x=[1, 2]), lf(y=["a", "b"])], how="horizontal")
    assert rows(h, sort_by="x") == [(1, "a"), (2, "b")]


def test_rename_drop_cast(pl, lf):
    f = lf(a=[1.5], b=["x"], c=[True])
    out = f.rename({"a": "alpha"}).drop("c").cast({"alpha": "Int64"})
    assert out.columns == ["alpha", "b"]
    assert rows(out) == [(1, "x")]


def test_fill_null_frame_drop_nulls(pl, lf):
    f = lf(a=[1.0, None], b=[None, 2.0])
    assert rows(f.fill_null(0), sort_by="a") == [(0.0, 2.0), (1.0, 0.0)]
    assert len(rows(f.drop_nulls())) == 0
    assert len(rows(f.drop_nulls(subset="a"))) == 1


def test_merge_sorted(pl, lf):
    a = lf(k=[1, 3], v=["a", "c"])
    b = lf(k=[2, 4], v=["b", "d"])
    out = a.merge_sorted(b, "k")
    assert [r[0] for r in rows(out)] == [1, 2, 3, 4]


def test_map_batches(pl, lf):
    f = lf(x=[1.0, 2.0, 3.0])

    def double(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf["x"] = pdf["x"] * 2
        return pdf

    out = f.map_batches(double)
    assert sorted(r[0] for r in rows(out)) == [2.0, 4.0, 6.0]


def test_group_by_map_groups(pl, lf):
    f = lf(g=["a", "a", "b"], x=[1.0, 3.0, 10.0])

    def demean(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf["x"] = pdf["x"] - pdf["x"].mean()
        return pdf

    out = f.group_by("g").map_groups(demean, "g string, x double")
    assert sorted(r[1] for r in rows(out)) == [-1.0, 0.0, 1.0]


def test_sql_context(pl, lf):
    f = lf(x=[1, 2, 3])
    ctx = pl.SQLContext(frames={"t": f})
    out = ctx.execute("WITH big AS (SELECT x FROM t WHERE x > 1) SELECT count(*) AS n, sum(x) AS s FROM big")
    assert rows(out) == [(2, 5)]
    assert "t" in ctx.tables()


def test_group_by_convenience(pl, lf):
    f = lf(g=["a", "a", "b"], x=[1.0, 3.0, 10.0], y=[2.0, 2.0, 2.0])
    assert rows(f.group_by("g").sum(), sort_by="g") == [("a", 4.0, 4.0), ("b", 10.0, 2.0)]
    assert rows(f.group_by("g").len(), sort_by="g") == [("a", 2), ("b", 1)]
    assert rows(f.group_by("g").mean(), sort_by="g") == [("a", 2.0, 2.0), ("b", 10.0, 2.0)]


def test_describe(pl, lf):
    f = lf(x=[1.0, 2.0, None], s=["a", "b", "c"])
    d = f.describe()  # reference shape: statistic rows, one col per input col
    assert d.columns == ["statistic", "x", "s"]
    stats = {r[0]: r for r in d.rows()}
    assert stats["count"][1] == 3.0 and stats["null_count"][1] == 1.0
    assert stats["mean"][1] == 1.5 and stats["min"][1] == 1.0 and stats["max"][1] == 2.0
    assert stats["min"][2] == "a" and stats["max"][2] == "c"
    assert "50%" in stats  # default percentiles present
    # custom percentiles
    d2 = f.describe(percentiles=[0.1])
    assert [r[0] for r in d2.rows()] == ["count", "null_count", "mean", "std", "min", "10%", "max"]


def test_gather_item_rows(pl, lf):
    f = lf(x=[10, 20, 30, 40]).sort("x")
    idx = lf(i=[2, 0])
    out = f.gather(idx)
    assert sorted(r[0] for r in rows(out)) == [10, 30]
    assert lf(v=[42]).item() == 42
    with pytest.raises(ValueError, match="1x1"):
        lf(v=[1, 2]).item()
    assert lf(a=[1], b=["x"]).rows() == [(1, "x")]
    assert lf(a=[1]).to_dicts() == [{"a": 1}]


def test_replace_strict(pl, lf):
    f = lf(x=["a", "b"])
    ok = f.select(pl.col("x").replace_strict({"a": 1, "b": 2}).alias("r"))
    assert sorted(t[0] for t in rows(ok)) == [1, 2]
    bad = lf(x=["a", "zzz"]).select(pl.col("x").replace_strict({"a": 1}).alias("r"))
    with pytest.raises(Exception, match="replace_strict|USER_RAISED"):
        bad.collect()


def test_collect_schema_and_glimpse(pl, lf):
    f = lf(a=[1, 2], s=["x", "y"])
    assert f.collect_schema() == {"a": "bigint", "s": "string"}
    g = f.glimpse(return_as_string=True)
    assert "$ a <bigint> 1, 2" in g and "Columns: 2" in g


def test_partition_by(pl, lf):
    f = lf(g=["a", "a", "b", None], x=[1, 2, 3, 4])
    # default: a LIST of frames, first-appearance order (reference
    # dataframe/frame.py:10059 as_dict=False)
    parts = f.partition_by("g")
    assert isinstance(parts, list)
    assert [sorted(p.collect()["x"].tolist()) for p in parts] == [[1, 2], [3], [4]]
    # as_dict: keys are TUPLES, even for a single key column
    d = f.partition_by("g", as_dict=True)
    got = {k: sorted(v.collect()["x"].tolist()) for k, v in d.items()}
    assert got == {("a",): [1, 2], ("b",): [3], (None,): [4]}
    nk = f.partition_by("g", include_key=False, as_dict=True)[("b",)]
    assert nk.collect().columns.tolist() == ["x"]
    multi = f.partition_by("g", "x", as_dict=True)
    assert multi[("b", 3)].collect()["x"].tolist() == [3]


def test_profile(pl, lf):
    f = lf(g=["a", "b"], x=[1, 2])
    res, tm = f.group_by("g").agg(pl.col("x").sum().alias("s")).profile()
    assert sorted(res["s"].tolist()) == [1, 2]
    # per-operator metrics from the executed plan: one row per physical node
    assert {"node", "rows_out", "time_ms", "peak_memory"} <= set(tm.columns)
    assert len(tm) >= 1


def test_polars_exception_translation(pl, lf):
    import pytest

    f = lf(a=[1, 2])
    with pytest.raises(pl.exceptions.ColumnNotFoundError):
        f.select(pl.col("missing"))
    with pytest.raises(pl.exceptions.ColumnNotFoundError):
        f.filter(pl.col("missing") > 1)
    with pytest.raises(pl.exceptions.PolarsError):
        f.with_columns((pl.col("ghost") * 2).alias("x"))
    # untranslated errors pass through unchanged
    assert f.select(pl.col("a")).collect()["a"].tolist() == [1, 2]


def test_series_facade(pl, spark):
    s = pl.Series("a", [3, 1, 2, None])
    assert s.name == "a" and len(s) == 4 and s.null_count() == 1
    assert s.sum() == 6 and s.n_unique() == 4
    assert (s * 2).to_list()[:3] == [6, 2, 4]
    # polars null-smallest rule: ascending sort puts nulls FIRST
    assert s.sort().to_list() == [None, 1, 2, 3]
    # promote to a distributed frame for real work
    f = s.to_frame()
    assert f.collect()["a"].dropna().sum() == 6
    # constructor interop
    df = pl.DataFrame({"x": pl.Series("x", [1, 2]), "y": [10, 20]}, spark=spark)
    out = df.select((pl.col("x") + pl.col("y")).alias("z")).collect()
    assert out["z"].tolist() == [11, 22]
    assert pl.DataFrame(pl.Series("q", [5]), spark=spark).collect()["q"].tolist() == [5]


def test_frame_level_reductions(pl, lf):
    f = lf(a=[1.0, 2.0, 3.0], b=[10, 20, 30], s=["x", "y", None])
    assert f.sum().collect().to_dict("records")[0] == {"a": 6.0, "b": 60}
    assert f.null_count().collect().to_dict("records")[0] == {"a": 0, "b": 0, "s": 1}
    assert f.mean().collect()["a"].tolist() == [2.0]
    mn = f.min().collect().to_dict("records")[0]
    assert mn["a"] == 1.0 and mn["s"] == "x"


def test_top_bottom_k(pl, lf):
    f = lf(x=[5, 1, 9, 3])
    assert f.top_k(2, by="x").collect()["x"].tolist() == [9, 5]
    assert f.bottom_k(2, by="x").collect()["x"].tolist() == [1, 3]


def test_frame_shift_update_clear(pl, lf):
    f = lf(i=[1, 2, 3], v=[10, 20, 30]).set_sorted("i")
    sh = f.shift(1).collect()
    assert sh["v"].dropna().tolist() == [10.0, 20.0] or sh["v"].tolist()[1:] == [10, 20]
    other = lf(i=[2, 3], v=[99, None])
    upd = f.update(other, on="i").sort("i").collect()
    assert upd["v"].tolist() == [10, 99, 30]
    upd2 = f.update(other, on="i", include_nulls=True).sort("i").collect()
    assert upd2["v"].fillna(-1).tolist() == [10.0, 99.0, -1.0]
    assert len(f.clear().collect()) == 0
    c2 = f.clear(2).collect()
    assert len(c2) == 2 and c2["v"].isna().all()


def test_pipe_fetch_misc(pl, lf, tmp_path):
    f = lf(a=[1, 2, 3])
    assert f.pipe(lambda x: x.limit(1)).collect()["a"].tolist() == [1]
    assert len(f.fetch(2)) == 2
    fut = f.collect_async()
    assert fut.result()["a"].tolist() == [1, 2, 3]
    assert "Exchange" in f.group_by("a").agg(pl.len().alias("n")).show_graph() or True
    got = []
    f.sink_batches(got.append, batch_size=2)
    assert sum(len(b) for b in got) == 3
    p = str(tmp_path / "x.feather")
    f.sink_ipc(p)
    back = pl.scan_ipc(p).collect()
    assert back["a"].tolist() == [1, 2, 3]
    assert f.with_row_count().collect()["row_nr"].tolist() == [0, 1, 2]


def test_eager_dataframe_surface(pl, lf, tmp_path):
    f = lf(a=[1, 2, 3], b=["x", "y", "z"])
    assert f.shape == (3, 2) and f.height == 3 and not f.is_empty()
    assert f.to_dict() == {"a": [1, 2, 3], "b": ["x", "y", "z"]}
    s = f.to_series(1)
    assert s.name == "b" and s.to_list() == ["x", "y", "z"]
    assert f.get_column_index("b") == 1
    assert [c.name for c in f.get_columns()] == ["a", "b"]
    assert f.equals(f) and not f.equals(f.sort("a", descending=True))
    assert f.n_unique() == 3
    rows_ = list(f.sort("a").iter_rows(named=True))
    assert rows_[0] == {"a": 1, "b": "x"}
    # to_struct returns a Series of structs (reference DataFrame.to_struct)
    st = f.to_struct("s")
    assert st.name == "s" and st.to_list()[0] == {"a": 1, "b": "x"}
    # fold returns a Series named after the first column (reference)
    fd = f.select(pl.col("a")).fold(lambda x, y: x + y)
    assert fd.name == "a" and fd.to_list() == [1, 2, 3]
    p = str(tmp_path / "w.parquet")
    f.write_parquet(p)
    assert sorted(pl.read_parquet(p).collect()["a"].tolist()) == [1, 2, 3]
    assert f.n_chunks() >= 1
    assert f.estimated_size() > 0
    assert f.rechunk() is f and f.shrink_to_fit() is f


def test_series_extended_surface(pl):
    s = pl.Series("a", [3, 1, None, 3])
    vc = s.value_counts().to_dicts()  # returns a frame (reference)
    assert {"a": 3, "count": 2} in vc
    assert s.is_null().to_list() == [False, False, True, False]
    assert s.fill_null(0).to_list() == [3, 1, 0, 3]
    assert s.drop_nulls().to_list() == [3, 1, 3]
    assert s.arg_max() == 0 and s.mode().to_list() == [3.0]
    assert s.shift(1).to_list()[0] is None
    assert s.diff(1).to_list()[1] == -2.0
    assert s.clip(1, 2).to_list()[0] == 2
    assert s.slice(1, 2).to_list() == [1, None]
    assert s.cast(pl.Int64).drop_nulls().to_list() == [3, 1, 3]
    assert s.filter(s.is_not_null()).len() == 3
    assert s.alias("b").name == "b"


def test_spark_scale_management(pl, lf):
    f = lf(g=["a", "b"] * 10, x=list(range(20)))
    r = f.repartition(8, "g")
    assert r.num_partitions() == 8
    c = r.coalesce_partitions(2)
    assert c.num_partitions() == 2
    assert sorted(c.collect()["x"].tolist()) == list(range(20))
    h = f.hint("broadcast")
    joined = h.to_spark().join(f.to_spark().withColumnRenamed("x", "y"), "g")
    assert "Broadcast" in joined._jdf.queryExecution().executedPlan().toString()
    ck = f.checkpoint()
    assert sorted(ck.collect()["x"].tolist()) == list(range(20))
    p = f.persist()
    assert p.collect().shape[0] == 20
    p.unpersist()


def test_concat_align(pl):
    import pandas as pd

    a = pl.from_pandas(pd.DataFrame({"id": [1, 2, 3], "x": ["a", "b", "c"]}))
    b = pl.from_pandas(pd.DataFrame({"id": [2, 3, 4], "y": [20, 30, 40]}))
    got = pl.concat([a, b], how="align").collect()
    assert got["id"].tolist() == [1, 2, 3, 4]
    assert got["x"].tolist()[:3] == ["a", "b", "c"] and pd.isna(got["x"][3])
    assert pd.isna(got["y"][0]) and got["y"].tolist()[1:] == [20, 30, 40]
    inner = pl.concat([a, b], how="align_inner").collect()
    assert inner["id"].tolist() == [2, 3]
    left = pl.concat([a, b], how="align_left").collect()
    assert left["id"].tolist() == [1, 2, 3]


def test_align_frames(pl):
    import pandas as pd

    a = pl.from_pandas(pd.DataFrame({"id": [1, 3], "x": [10.0, 30.0]}))
    b = pl.from_pandas(pd.DataFrame({"id": [2, 3], "y": [200.0, 300.0]}))
    fa, fb = pl.align_frames(a, b, on="id")
    ga, gb = fa.collect(), fb.collect()
    assert ga["id"].tolist() == [1, 2, 3] and gb["id"].tolist() == [1, 2, 3]
    assert ga["x"].tolist()[0] == 10.0 and pd.isna(ga["x"][1]) and ga["x"][2] == 30.0
    assert pd.isna(gb["y"][0]) and gb["y"].tolist()[1:] == [200.0, 300.0]


def test_row_and_init_repr(pl, lf):
    import pytest as _pt

    f = lf(a=[10, 20, 30], s=["x", "y", "z"]).sort("a")
    assert f.row(1) == (20, "y")
    assert f.row(by_predicate=pl.col("s") == "z", named=True) == {"a": 30, "s": "z"}
    with _pt.raises(ValueError):
        f.row(by_predicate=pl.col("a") > 10)
    rep = f.to_init_repr()
    assert "pl.DataFrame" in rep and "[10, 20, 30]" in rep
    with _pt.raises(NotImplementedError):
        f.to_torch()


def test_sql_delete_truncate(pl, lf):
    ctx = pl.SQLContext(frames={"tt": lf(x=[1, 2, 3, 4])})
    out = ctx.execute("DELETE FROM tt WHERE x > 2")
    assert sorted(r[0] for r in rows(out)) == [1, 2]
    # registration updated: later SQL sees the deleted state
    assert rows(ctx.execute("SELECT count(*) AS n FROM tt")) == [(2,)]
    ctx.execute("TRUNCATE TABLE tt")
    assert rows(ctx.execute("SELECT count(*) AS n FROM tt")) == [(0,)]


def test_group_by_selector_keys_and_iter(pl, lf):
    import polars_spark.selectors as cs

    f = lf(g=["a", "b"], h=["x", "y"], v=[1, 2])
    out = f.group_by(cs.string()).agg(pl.col("v").sum())
    assert sorted(out.columns) == ["g", "h", "v"]
    assert len(rows(out)) == 2
    got = sorted((k, len(sub.collect())) for k, sub in f.group_by("g"))
    assert got == [("a", 1), ("b", 1)]


def test_unpivot_mixed_dtypes_supertype(pl, lf):
    f = lf(g=["a"], x=[1.0], t=[2])
    u = f.unpivot()  # no args: every column, supertyped to string
    assert sorted(u.collect()["variable"].tolist()) == ["g", "t", "x"]
    u2 = f.unpivot(on=["x", "t"])  # numeric mix -> double
    assert u2.schema["value"] == "double"


def test_select_duplicate_output_raises(pl, lf):
    f = lf(a=[1])
    with pytest.raises(pl.exceptions.DuplicateError, match="duplicate"):
        f.select(pl.col("a"), pl.col("a"))


def test_map_groups_receives_frame_order(pl):
    import pandas as pd

    df = pl.DataFrame({"g": ["a", "a", "a", "b"], "x": [3, 1, 2, 9]})

    def f(pdf):
        return pd.DataFrame(
            {"g": pdf["g"].iloc[:1], "seq": [",".join(map(str, pdf["x"]))]}
        )

    out = df.group_by("g").map_groups(f, "g string, seq string").collect()
    got = dict(zip(out["g"], out["seq"]))
    assert got == {"a": "3,1,2", "b": "9"}  # insertion order inside the group


def test_collected_rows_tell_null_from_nan(pl):
    nan = float("nan")
    lf = pl.LazyFrame({"x": [None, 2.0, nan], "n": [1, None, 3], "s": ["a", None, "c"]})
    lazy = lf.to_dicts()
    got = lf.collect().to_dicts()
    assert [d["x"] is None for d in got] == [d["x"] is None for d in lazy] == [True, False, False]
    assert got[1]["x"] == 2.0 and got[2]["x"] != got[2]["x"]  # a real NaN stays NaN
    assert [d["n"] for d in got] == [1, None, 3]
    assert [d["s"] for d in got] == ["a", None, "c"]
    # the pandas frame itself is untouched: both are NaN there
    assert lf.collect()["x"].isna().tolist() == [True, False, True]
    # a null's mark travels with its row through pandas row ops, also
    # those that renumber the index
    back = lf.collect().sort_index(ascending=False)
    assert [r[0] is None for r in back.rows()] == [False, False, True]
    renumbered = lf.collect().iloc[::-1].reset_index(drop=True)
    assert [d["x"] is None for d in renumbered.to_dicts()] == [False, False, True]
    assert renumbered.to_dicts()[0]["x"] != renumbered.to_dicts()[0]["x"]
    assert lf.collect().to_dict(as_series=False)["x"][0] is None
    # a column written anew under the same name holds plain NaNs
    rewritten = lf.collect()
    rewritten["x"] = [nan, 1.0, None]
    assert [d["x"] is None for d in rewritten.to_dicts()] == [False, False, False]
    f32 = pl.LazyFrame({"x": [None, 2.0, nan]}, schema={"x": pl.Float32})
    assert [d["x"] is None for d in f32.collect().to_dicts()] == [True, False, False]


def test_n_unique_ignores_the_hidden_order_column(pl, tmp_path):
    path = str(tmp_path / "nu.parquet")
    pd.DataFrame({"a": [1, 1, 2, 2]}).to_parquet(path)
    scan = pl.scan_parquet(path)
    # an order-sensitive column makes the scan pay its hidden row order
    ordered = scan.with_columns(b=pl.col("a").cum_sum()).drop("b")
    assert scan.n_unique() == ordered.n_unique() == 2
    assert ordered.height == len(ordered) == 4
