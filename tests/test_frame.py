"""Frame API tests — pandas-semantics parity on small frames (mirrors
the reference's pandas_compat inline tests, functions.rs:4327+)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pandrs_spark.frame import Frame, concat, from_spark
from pandrs_spark.operators.util import small_local_df


@pytest.fixture()
def frame(spark):
    df = small_local_df(
        spark,
        [
            ("a", 1, 10.0),
            ("b", 2, None),
            ("a", 3, 30.0),
            ("c", 4, float("nan")),
            ("a", 1, 50.0),
        ],
        "k string, n long, v double",
    )
    return Frame(df.coalesce(1))


def test_select_drop_rename(frame):
    assert frame.select("k", "n").columns == ["k", "n"]
    assert frame.drop("v").columns == ["k", "n"]
    assert frame.rename({"k": "key"}).columns == ["key", "n", "v"]
    assert frame.add_prefix("x_").columns == ["x_k", "x_n", "x_v"]


def test_query_and_filter(frame):
    assert frame.query("n > 2 AND k = 'a'").count() == 1
    assert frame.isin("k", ["a"]).count() == 3
    assert frame.between("n", 2, 3).count() == 2


def test_assign_clip_astype(frame):
    out = frame.assign(double_n=F.col("n") * 2).clip("n", upper=2)
    rows = out.collect()
    assert [r.double_n for r in rows] == [2, 4, 6, 8, 2]
    assert max(r.n for r in rows) == 2
    assert dict(frame.astype({"n": "double"}).dtypes)["n"] == "double"


def test_nan_and_null_both_missing(frame):
    counts = frame.isna_count()
    assert counts["v"] == 2  # one NULL + one NaN
    assert frame.dropna(subset=["v"]).count() == 3
    filled = frame.fillna({"v": 0.0}).collect()
    assert all(r.v is not None and not math.isnan(r.v) for r in filled)


def test_ffill_uses_row_order(frame):
    out = frame.ffill(["v"]).collect()
    vals = [r.v for r in out]
    assert vals[1] == 10.0  # null filled from row 0
    # NaN is a *value* for window last(); pandas ffill treats NaN as
    # missing — our policy fills NULLs; NaN stays (documented)


def test_head_tail_sort(frame):
    assert [r.n for r in frame.head(2).collect()] == [1, 2]
    assert [r.n for r in frame.tail(2).collect()] == [4, 1]
    s = frame.sort_values("n", ascending=False)
    assert [r.n for r in s.collect()] == [4, 3, 2, 1, 1]
    assert [r.n for r in s.head(2).collect()] == [4, 3]


def test_nlargest(frame):
    assert [r.n for r in frame.nlargest(2, "n").collect()] == [4, 3]


def test_drop_duplicates_keep(frame):
    # rows with (k='a', n=1): order 0 (v=10.0) and order 4 (v=50.0)
    first = frame.drop_duplicates(subset=["k", "n"], keep="first").collect()
    vs = {(r.k, r.n): r.v for r in first}
    assert vs[("a", 1)] == 10.0
    last = frame.drop_duplicates(subset=["k", "n"], keep="last").collect()
    vs = {(r.k, r.n): r.v for r in last}
    assert vs[("a", 1)] == 50.0
    none = frame.drop_duplicates(subset=["k", "n"], keep=False)
    assert none.count() == 3


def test_duplicated_flag(frame):
    out = frame.duplicated(subset=["k", "n"]).collect()
    assert sum(r.is_dup for r in out) == 1


def test_groupby_agg_and_sugar(frame):
    g = frame.groupby("k").agg(total=("n", "sum"), n_rows=("n", "count"))
    rows = {r.k: (r.total, r.n_rows) for r in g.spark.collect()}
    assert rows["a"] == (5, 3)
    s = frame.groupby("k").sum(["n"])
    assert {r.k: r.n_sum for r in s.spark.collect()}["a"] == 5


def test_groupby_transform_filter(frame):
    t = frame.groupby("k").transform("n", "sum", out="k_total")
    assert {(r.k, r.n): r.k_total for r in t.collect()}[("a", 3)] == 5
    kept = frame.groupby("k").filter_groups("count", "n", 1.5)
    assert kept.count() == 3  # only group 'a' has >1.5 rows


def test_pivot_melt_roundtrip(spark):
    f = Frame(
        small_local_df(
            spark, [("r1", "x", 1.0), ("r1", "y", 2.0), ("r2", "x", 3.0)],
            "idx string, col string, val double",
        )
    )
    p = f.pivot_table("idx", "col", "val", "sum", pivot_values=["x", "y"])
    rows = {r.idx: (r.x, r.y) for r in p.spark.collect()}
    assert rows == {"r1": (1.0, 2.0), "r2": (3.0, None)}
    m = p.melt(["idx"], ["x", "y"]).spark.collect()
    assert len(m) == 4


def test_explode_and_value_counts(spark):
    f = Frame(small_local_df(spark, [("a b", 1), ("a", 2)], "t string, i long"))
    e = f.explode("t", sep=" ")
    vc = e.value_counts("t").spark.collect()
    assert [(r.t, r["count"]) for r in vc] == [("a", 2), ("b", 1)]


def test_shift_diff_rank(frame):
    out = frame.shift("n", 1, out="prev").collect()
    assert [r.prev for r in out] == [None, 1, 2, 3, 4]
    d = frame.diff("n", out="d").collect()
    assert [r.d for r in d] == [None, 1, 1, 1, -3]
    r = frame.rank("n", method="min", out="rk").collect()
    assert [x.rk for x in r] == [1, 3, 4, 5, 1]


def test_rolling(frame):
    out = frame.rolling("n", 2, "sum", min_periods=1, out="rs").collect()
    assert [r.rs for r in out] == [1, 3, 5, 7, 5]


def test_merge_concat(spark, frame):
    dim = Frame(small_local_df(spark, [("a", "alpha")], "k string, label string"))
    m = frame.merge(dim, on="k", how="left")
    assert m.count() == 5
    two = concat([frame, frame])
    assert two.count() == 10


def test_where_mask_replace(frame):
    w = frame.where_cond(F.col("n") > 2, "n", other=-1).collect()
    assert [r.n for r in w] == [-1, -1, 3, 4, -1]
    mk = frame.mask(F.col("n") > 2, "n", other=0).collect()
    assert [r.n for r in mk] == [1, 2, 0, 0, 1]
    rp = frame.replace("k", {"a": "z"}).collect()
    assert [r.k for r in rp] == ["z", "b", "z", "c", "z"]


def test_register_sql(spark, frame):
    frame.register("tiny_frame")
    assert spark.sql("SELECT COUNT(*) AS c FROM tiny_frame").collect()[0].c == 5


def test_sample_deterministic(frame):
    a = frame.sample(0.5, seed=1).count()
    b = frame.sample(0.5, seed=1).count()
    assert a == b


# --- update/combine/align, transpose, concat axis=1, cut/qcut ---------------
def test_update_overwrites_non_null(spark):
    from pandrs_spark.frame import Frame

    base = Frame(small_local_df(
        spark, [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id bigint, s string, v double"
    ))
    upd = small_local_df(spark, [(2, None, 99.0), (3, "C", None)], "id bigint, s string, v double")
    out = {r["id"]: r for r in base.update(upd, on=["id"]).spark.collect()}
    assert out[2]["v"] == 99.0 and out[2]["s"] == "b"  # NULL does not overwrite
    assert out[3]["s"] == "C" and out[3]["v"] == 30.0
    assert out[1]["v"] == 10.0


def test_combine_first_fills_and_extends(spark):
    from pandrs_spark.frame import Frame

    a = Frame(small_local_df(spark, [(1, None), (2, 20.0)], "id bigint, v double"))
    b = small_local_df(spark, [(1, 11.0), (3, 33.0)], "id bigint, v double")
    rows = {r["id"]: r["v"] for r in a.combine_first(b, on=["id"]).spark.collect()}
    assert rows == {1: 11.0, 2: 20.0, 3: 33.0}


def test_transpose_small(spark):
    from pandrs_spark.frame import Frame

    f = Frame(small_local_df(spark, [(1, 2)], "a bigint, b bigint"))
    t = f.transpose().spark.collect()
    assert {r["column"] for r in t} == {"a", "b"}


def test_concat_columns_positional(spark):
    from pandrs_spark.frame import Frame, concat_columns

    a = Frame(small_local_df(spark, [(1,), (2,)], "x bigint"))
    b = Frame(small_local_df(spark, [(10,), (20,)], "y bigint"))
    rows = sorted(
        (r["x"], r["y"]) for r in concat_columns([a, b]).spark.collect()
    )
    assert rows == [(1, 10), (2, 20)]


def test_cut_qcut_accessors(spark):
    from pandrs_spark.frame import Frame

    f = Frame(small_local_df(spark, [(float(i),) for i in range(8)], "v double"))
    cut = f.cut("v", 4, out="b").spark
    assert cut.agg(F.countDistinct("b")).first()[0] == 4
    q = f.qcut("v", 2, out="b").spark
    counts = sorted(r["count"] for r in q.groupBy("b").count().collect())
    assert counts == [4, 4]


def test_interpolate_accessor(spark):
    from pandrs_spark.frame import Frame

    f = Frame(small_local_df(
        spark, [(1, 1.0), (2, None), (3, 3.0)], "i bigint, v double"
    ))
    vals = {r["i"]: r["v"] for r in f.interpolate(["v"]).spark.collect()}
    assert vals[2] == pytest.approx(2.0)


def test_iloc_take_nth(spark):
    from pandrs_spark.frame import Frame

    f = Frame(small_local_df(spark, [(i, i * 10) for i in range(6)], "i bigint, v bigint"))
    assert [r["i"] for r in f.iloc_range(1, 4).spark.collect()] == [1, 2, 3]
    assert sorted(r["i"] for r in f.take([0, 5]).spark.collect()) == [0, 5]
    assert f.nth(2)["v"] == 20
    assert f.nth(99) is None


# --- str/dt accessors (§2.9) -------------------------------------------------
def test_str_accessor(spark):
    from pandrs_spark.frame import str_

    df = small_local_df(
        spark, [("Hello World",), ("spark",), ("  pad  ",), ("abc123",)], "s string"
    )
    s = str_("s")
    row = df.select(
        s.upper().alias("u"),
        s.lower().alias("l"),
        s.title().alias("t"),
        s.capitalize().alias("c"),
        s.len().alias("n"),
        s.contains("World", regex=False).alias("has"),
        s.replace("o", "0").alias("rep"),
        s.strip().alias("st"),
        s.extract(r"([a-z]+)(\d+)", 2).alias("ex"),
        s.isalnum().alias("an"),
        s.zfill(8).alias("z"),
    ).collect()
    assert row[0]["u"] == "HELLO WORLD" and row[0]["t"] == "Hello World"
    assert row[0]["c"] == "Hello world"
    assert row[0]["has"] is True and row[1]["has"] is False
    assert row[0]["rep"] == "Hell0 W0rld"
    assert row[2]["st"] == "pad"
    assert row[3]["ex"] == "123" and row[3]["an"] is True
    assert row[1]["z"] == "000spark"


def test_dt_accessor(spark):
    import datetime
    from pandrs_spark.frame import dt as dt_

    # 2024-03-09 is a Saturday; 2024 is a leap year
    df = small_local_df(
        spark, [(datetime.datetime(2024, 3, 9, 15, 30, 45),)], "ts timestamp"
    )
    d = dt_("ts")
    row = df.select(
        d.year().alias("y"),
        d.month().alias("m"),
        d.day().alias("dd"),
        d.weekday().alias("wd"),
        d.is_weekend().alias("we"),
        d.quarter().alias("q"),
        d.days_in_month().alias("dim"),
        d.is_leap_year().alias("leap"),
        d.is_business_day().alias("biz"),
        d.strftime("yyyy/MM/dd").alias("fmt"),
        d.normalize().alias("norm"),
        d.add_months(2).alias("am"),
    ).collect()[0]
    assert (row["y"], row["m"], row["dd"]) == (2024, 3, 9)
    assert row["wd"] == 5  # Saturday, pandas Monday=0 convention
    assert row["we"] is True and row["biz"] is False
    assert row["q"] == 1 and row["dim"] == 31 and row["leap"] is True
    assert row["fmt"] == "2024/03/09"
    assert row["norm"].hour == 0
    assert row["am"].month == 5


# -- §2.2 column-surgery extras ----------------------------------------------
def test_insert_pop_swap_reindex(frame):
    ins = frame.insert_column(1, "x", F.col("n") * 2)
    assert ins.columns == ["k", "x", "n", "v"]
    assert [r.x for r in ins.sort_values("n").collect()][:2] == [2, 2]

    col, rest = frame.pop_column("v")
    assert rest.columns == ["k", "n"]

    assert frame.swap_columns("k", "v").columns == ["v", "n", "k"]

    re = frame.reindex_columns(["n", "missing", "k"])
    assert re.columns == ["n", "missing", "k"]
    assert all(r.missing is None for r in re.collect())


def test_align_outer_on_keys(spark):
    a = Frame(small_local_df(spark, [(1, 10.0), (2, 20.0)], "id long, x double"))
    b = Frame(small_local_df(spark, [(2, 200.0), (3, 300.0)], "id long, y double"))
    la, lb = a.align(b, on=["id"])
    ra = {r.id: r.x for r in la.collect()}
    rb = {r.id: r.y for r in lb.collect()}
    assert set(ra) == set(rb) == {1, 2, 3}
    assert ra[3] is None and rb[1] is None and ra[1] == 10.0 and rb[3] == 300.0


def test_lookup(spark):
    f = Frame(
        small_local_df(
            spark, [(1, "a", 10.0), (2, "b", 20.0)], "id long, s string, v double"
        )
    )
    out = {
        (r.key, r.column): r.value
        for r in f.lookup("id", [(1, "s"), (2, "v")]).collect()
    }
    assert out == {(1, "s"): "a", (2, "v"): "20.0"}


def test_replace_inf(spark):
    f = Frame(
        small_local_df(
            spark, [(1.0,), (float("inf"),), (float("-inf"),), (float("nan"),)], "v double"
        )
    )
    vals = [r.v for r in f.replace_inf().collect()]
    assert vals[0] == 1.0 and vals[1] is None and vals[2] is None
    assert math.isnan(vals[3])  # NaN untouched: explicit NULL/NaN policy


def test_str_accessor_extensions(spark):
    from pandrs_spark.frame import StrAccessor

    df = small_local_df(
        spark, [("Hello World",), ("abc",), ("ABC",), ("aXbY",)], "s string"
    )
    a = StrAccessor("s")
    got = df.select(
        a.swapcase().alias("sw"),
        a.islower().alias("lo"),
        a.isupper().alias("up"),
        a.findall("[A-Z]").alias("caps"),
        a.repeat(2).alias("rep"),
        a.center(7, "*").alias("ctr"),
    ).collect()
    by = {r["rep"][: len(r["rep"]) // 2]: r for r in got}
    assert by["Hello World"]["sw"] == "hELLO wORLD"
    assert by["abc"]["lo"] and not by["abc"]["up"]
    assert by["ABC"]["up"] and not by["ABC"]["lo"]
    assert by["aXbY"]["caps"] == ["X", "Y"]
    assert by["abc"]["ctr"] == "abc".center(7, "*")
    assert by["aXbY"]["ctr"] == "aXbY".center(7, "*")  # '**aXbY*' — odd width puts extra char left
    assert by["Hello World"]["ctr"] == "Hello World"  # never truncates


def test_center_matches_cpython(spark):
    from pandrs_spark.frame import StrAccessor

    cases = [("a", 4), ("ab", 4), ("ab", 5), ("abc", 6), ("aXbY", 7), ("aXbY", 3)]
    df = small_local_df(spark, [(s,) for s, _ in cases], "s string").coalesce(1)
    a = StrAccessor("s")
    for (s, w) in cases:
        got = df.filter(F.col("s") == s).select(a.center(w, "*").alias("c")).first()["c"]
        assert got == s.center(w, "*"), (s, w, got)


def test_dt_accessor_tz(spark):
    from pandrs_spark.frame import DtAccessor

    df = small_local_df(
        spark, [("2024-01-15 12:00:00",), ("2024-07-15 12:00:00",)], "s string"
    ).select(F.to_timestamp("s").alias("ts"))
    a = DtAccessor("ts")
    got = df.select(
        F.date_format(a.tz_convert("Asia/Tokyo"), "yyyy-MM-dd HH:mm").alias("tokyo"),
        a.utc_offset("America/New_York").alias("ny_off"),
        F.date_format(a.add_years(1), "yyyy-MM-dd").alias("plus1y"),
    ).orderBy("plus1y").collect()
    assert got[0]["tokyo"] == "2024-01-15 21:00"  # UTC+9
    assert got[0]["ny_off"] == -300.0  # EST
    assert got[1]["ny_off"] == -240.0  # EDT (DST-aware)
    assert got[0]["plus1y"] == "2025-01-15"


def test_dt_add_years_leap_clamp(spark):
    from pandrs_spark.frame import DtAccessor

    df = small_local_df(spark, [("2024-02-29",)], "s string").select(
        F.to_date("s").alias("d")
    )
    got = df.select(
        F.date_format(DtAccessor("d").add_years(1), "yyyy-MM-dd").alias("y")
    ).first()
    assert got["y"] == "2025-02-28"  # clamps, no overflow into March


def test_groupby_sugar_extended(spark):
    from pandrs_spark.frame import Frame

    df = small_local_df(
        spark, [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 4.0), ("b", 6.0)],
        "g string, v double",
    )
    f = Frame(df)
    med = {r["g"]: r["v_median"] for r in f.groupby("g").median(["v"]).collect()}
    assert med == {"a": 2.0, "b": 5.0}
    var = {r["g"]: r["v_var"] for r in f.groupby("g").var(["v"]).collect()}
    assert var["a"] == pytest.approx(1.0) and var["b"] == pytest.approx(2.0)
    prod = {r["g"]: r["v_product"] for r in f.groupby("g").product(["v"]).collect()}
    assert prod == {"a": 6.0, "b": 24.0}
    first = {r["g"]: r["v_first"] for r in f.groupby("g").first(["v"]).collect()}
    assert first["a"] in (1.0, 2.0, 3.0)  # first over unordered groups


def test_frame_any_all_count_valid(spark):
    from pandrs_spark.frame import Frame

    df = small_local_df(
        spark, [(1, 0, float("nan")), (0, 0, 2.0), (1, 0, None)],
        "a int, b int, c double",
    )
    f = Frame(df)
    assert f.any(["a", "b"]) == {"a": True, "b": False}
    assert f.all(["a", "b"]) == {"a": False, "b": False}
    assert f.count_valid(["a", "c"]) == {"a": 3, "c": 1}  # NaN is missing


def test_driver_side_materialization(spark):
    from pandrs_spark.frame import Frame

    f = Frame(small_local_df(spark, [(1, "a"), (2, "b")], "x bigint, s string"))
    assert f.to_dict("records") == [{"x": 1, "s": "a"}, {"x": 2, "s": "b"}]
    assert f.to_dict("list") == {"x": [1, 2], "s": ["a", "b"]}
    assert f.to_dict() == {"x": {0: 1, 1: 2}, "s": {0: "a", 1: "b"}}
    assert f.to_records() == [(1, "a"), (2, "b")]
    assert dict(f.items()) == {"x": [1, 2], "s": ["a", "b"]}
    assert [(i, d["s"]) for i, d in f.iterrows()] == [(0, "a"), (1, "b")]


def test_stack_unstack_roundtrip(spark):
    from pandrs_spark.frame import Frame

    df = small_local_df(
        spark, [("x", 1.0, 10.0), ("y", 2.0, 20.0)], "k string, a double, b double"
    )
    long = Frame(df).stack(["k"])
    assert long.spark.count() == 4
    wide = long.unstack(["k"]).sort_values("k")
    rows = {r["k"]: r for r in wide.spark.collect()}
    assert rows["x"]["a"] == 1.0 and rows["y"]["b"] == 20.0


def test_query_at_params(spark):
    from pandrs_spark.frame import Frame

    df = small_local_df(
        spark, [(1, 50.0, "AUTO"), (2, 150.0, "AUTO"), (3, 200.0, "HOUSE")],
        "id long, bal double, seg string",
    )
    out = Frame(df).query("bal > @lo and seg == @seg", lo=100, seg="AUTO")
    assert [r["id"] for r in out.spark.collect()] == [2]
    out2 = Frame(df).query("seg in @segs", segs=["AUTO", "HOUSE"])
    assert out2.spark.count() == 3


def test_query_param_escapes_quotes(spark):
    from pandrs_spark.frame import Frame

    df = small_local_df(spark, [("o'brien",), ("smith",)], "name string")
    out = Frame(df).query("name == @n", n="o'brien")
    assert out.spark.count() == 1


def test_query_param_prefix_names(spark):
    # @p must not corrupt @p2 (word-boundary splice, not str.replace)
    from pandrs_spark.frame import Frame

    df = small_local_df(
        spark, [(1, 5.0), (2, 15.0), (3, 25.0)], "a long, b double"
    )
    out = Frame(df).query("a > @p and b > @p2", p=1, p2=20)
    assert [r["a"] for r in out.spark.collect()] == [3]
    with pytest.raises(KeyError):
        Frame(df).query("a > @missing", p=1)


def test_query_param_nonfinite_and_mixed_list(spark):
    from pandrs_spark.frame import Frame

    df = small_local_df(
        spark, [(1.0,), (float("inf",),), (float("-inf"),)], "v double"
    )
    assert Frame(df).query("v > @lo", lo=float("-inf")).spark.count() == 2
    assert Frame(df).query("v == @x", x=float("inf")).spark.count() == 1
    nan_lit = Frame._sql_literal(float("nan"))
    assert "NaN" in nan_lit and "nan" not in nan_lit.replace("NaN", "")
    # mixed-type list literal must not raise (old sorted() did)
    df2 = small_local_df(spark, [("a",), ("1",)], "s string")
    assert Frame._sql_literal(["a", 1]) == "('a', 1)"


def test_lookup_guards_and_native_type(spark):
    from pandrs_spark.frame import Frame

    f = Frame(
        small_local_df(
            spark, [(1, 10.0, 100.0), (2, 20.0, 200.0)], "id long, x double, y double"
        )
    )
    # uniform requested dtype → native double, not string
    out = {
        (r.key, r.column): r.value
        for r in f.lookup("id", [(1, "x"), (2, "y")]).collect()
    }
    assert out == {(1, "x"): 10.0, (2, "y"): 200.0}
    with pytest.raises(KeyError):
        f.lookup("id", [(1, "nope")])
    key_only = Frame(small_local_df(spark, [(1,)], "id long"))
    with pytest.raises(ValueError):
        key_only.lookup("id", [(1, "id")])


def test_eval_assignment(spark):
    from pandrs_spark.frame import Frame

    df = small_local_df(spark, [(2.0, 3.0)], "a double, b double")
    out = Frame(df).eval("c = a * b + 1")
    assert out.spark.first()["c"] == 7.0


def test_set_index_reset_index_roundtrip(spark):
    df = small_local_df(
        spark, [("a", 1, 10.0), ("b", 2, 20.0), ("a", 3, 30.0)], "k string, n long, v double"
    )
    f = Frame(df.coalesce(1)).set_index("k")
    assert f.index_names == ("k",)
    assert f.columns == ["n", "v"]  # index hidden from columns, like pandas
    # groupby on the emulated index
    agg = {r["k"]: r["v_sum"] for r in
           f.groupby_level().agg(v_sum=("v", "sum")).spark.collect()}
    assert agg == {"a": 40.0, "b": 20.0}
    back = f.reset_index()
    assert back.index_names == () and set(back.columns) == {"k", "n", "v"}


def test_multiindex_levels(spark):
    df = small_local_df(
        spark, [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)],
        "k1 string, k2 string, v double",
    )
    f = Frame(df.coalesce(1)).set_index(["k1", "k2"])
    assert f.index_names == ("k1", "k2")
    assert f.swaplevel().index_names == ("k2", "k1")
    assert f.droplevel("k2").index_names == ("k1",)
    assert f.droplevel(0).index_names == ("k2",)
    by_k2 = {r["k2"]: r["n"] for r in
             f.groupby_level(1).agg(n=("v", "count")).spark.collect()}
    assert by_k2 == {"x": 2, "y": 1}
    # sort_index orders by all levels
    rows = f.sort_index().reset_index().collect()
    assert [(r["k1"], r["k2"]) for r in rows] == [("a", "x"), ("a", "y"), ("b", "x")]


def test_set_index_drop_false_and_append(spark):
    df = small_local_df(spark, [("a", 1), ("b", 2)], "k string, n long")
    f = Frame(df.coalesce(1)).set_index("k", drop=False)
    assert "k" in f.columns and f.index_names == ("__index_k__",)
    f2 = f.set_index("n", append=True)
    assert f2.index_names == ("__index_k__", "n")
    back = f2.reset_index()
    assert set(back.columns) == {"k", "n"}
    with pytest.raises(KeyError):
        Frame(df).set_index("missing")


def test_ffill_bfill_limit(spark):
    df = small_local_df(
        spark, [(1, 1.0), (2, None), (3, None), (4, None), (5, 5.0)], "i long, v double"
    )
    f = Frame(df.coalesce(1))
    ff = [r.v for r in f.ffill(["v"], limit=2).collect()]
    assert ff == [1.0, 1.0, 1.0, None, 5.0]
    bf = [r.v for r in f.bfill(["v"], limit=1).collect()]
    assert bf == [1.0, None, None, 5.0, 5.0]


def test_fillna_limit(spark):
    df = small_local_df(
        spark, [(1, None), (2, None), (3, 3.0), (4, None)], "i long, v double"
    )
    f = Frame(df.coalesce(1))
    got = [r.v for r in f.fillna(0.0, limit=2).collect()]
    assert got == [0.0, 0.0, 3.0, None]  # only the first 2 missing filled


def test_interpolate_methods(spark):
    df = small_local_df(
        spark, [(1, 10.0), (2, None), (3, None), (4, 40.0)], "i long, v double"
    )
    f = Frame(df.coalesce(1))
    lin = [r.v for r in f.interpolate(["v"]).collect()]
    assert lin == [10.0, 20.0, 30.0, 40.0]
    near = [r.v for r in f.interpolate(["v"], method="nearest").collect()]
    assert near == [10.0, 10.0, 40.0, 40.0]  # tie at i=2 goes to previous
    pad = [r.v for r in f.interpolate(["v"], method="pad").collect()]
    assert pad == [10.0, 10.0, 10.0, 40.0]
    bf = [r.v for r in f.interpolate(["v"], method="bfill").collect()]
    assert bf == [10.0, 40.0, 40.0, 40.0]
    with pytest.raises(ValueError):
        f.interpolate(["v"], method="cubic").collect()


def test_select_column_expr_on_indexed_frame(spark):
    # ADVICE r3: `c not in cols` with a pyspark Column in cols invoked
    # Column.__eq__ then bool() -> "Cannot convert column into bool".
    df = small_local_df(spark, [("a", 1, 10.0), ("b", 2, 20.0)], "k string, n long, v double")
    f = Frame(df.coalesce(1)).set_index("k")
    out = f.select(F.col("v") * 2)
    assert sorted(r[0] for r in out.spark.select("`(v * 2)`").collect()) == [20.0, 40.0]
    # mixed string + Column, index column still carried
    out2 = f.select("n", (F.col("v") + 1).alias("v1")).reset_index()
    assert sorted((r["k"], r["n"], r["v1"]) for r in out2.collect()) == [
        ("a", 1, 11.0),
        ("b", 2, 21.0),
    ]


def test_query_at_inside_string_literal(spark):
    # ADVICE r3: '@' inside quoted literals must not be treated as a
    # parameter reference.
    df = small_local_df(
        spark, [("a@b.com", 1), ("c@d.org", 2)], "email string, n long"
    )
    out = Frame(df).query("email == 'a@b.com'")
    assert out.spark.count() == 1
    # params present AND a quoted '@' in the same expression
    out2 = Frame(df).query("email == 'c@d.org' and n >= @lo", lo=2)
    assert [r["n"] for r in out2.spark.collect()] == [2]
    # doubled-quote escape keeps the scanner in quote state
    df2 = small_local_df(spark, [("it's@x", 5)], "s string, n long")
    assert Frame(df2).query("s == 'it''s@x' and n > @lo", lo=1).spark.count() == 1


def test_release_persisted_unpins_sort_cache(spark):
    from pandrs_spark import frame as frame_mod

    frame_mod.release_persisted()  # start clean
    df = small_local_df(spark, [(3,), (1,), (2,)], "n long")
    out = Frame(df).sort_values("n")
    assert [r["n"] for r in out.collect()] == [1, 2, 3]
    assert len(frame_mod._persisted()) >= 1
    released = frame_mod.release_persisted()
    assert released >= 1 and frame_mod._persisted() == []


def test_release_persisted_leaves_other_threads_caches(spark):
    """Each thread releases only what it persisted itself: a query built
    beside another must not unpersist the other's pinned frames."""
    import threading

    from pandrs_spark.frame import release_persisted
    from pandrs_spark.operators.util import tracked_persist

    persisted = threading.Barrier(2)
    b_released = threading.Event()
    seen = {}

    def worker(name, ks):
        df = tracked_persist(small_local_df(spark, [(k,) for k in ks], "k long"))
        df.count()
        persisted.wait()
        if name == "a":
            b_released.wait()
            seen["a_cached_after_b"] = df.storageLevel.useMemory
            seen["a_released"] = release_persisted()
        else:
            seen["b_released"] = release_persisted()
            b_released.set()

    threads = [
        threading.Thread(target=worker, args=("a", [1, 2])),
        threading.Thread(target=worker, args=("b", [3, 4, 5])),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert seen == {"b_released": 1, "a_cached_after_b": True, "a_released": 1}


def test_register_named_sql_function(spark):
    """Named SQL function registration (reference
    QueryContext::add_function, query/evaluator.rs:146): registered
    names are callable in spark.sql strings and F.expr fragments."""
    import pandas as pd

    from pandrs_spark.functions.registry import register_function

    def _double_it(x: pd.Series) -> pd.Series:
        return x * 2.0

    register_function(spark, "double_it", _double_it, "double")
    df = small_local_df(spark, [(1.5,), (2.0,)], "v double")
    df.createOrReplaceTempView("t_reg")
    got = spark.sql("SELECT double_it(v) AS d FROM t_reg ORDER BY d").collect()
    assert [r["d"] for r in got] == [3.0, 4.0]
    # F.expr path
    got2 = df.select(F.expr("double_it(v)").alias("d")).orderBy("d").collect()
    assert [r["d"] for r in got2] == [3.0, 4.0]
    # row-at-a-time fallback for non-Series functions
    register_function(
        spark, "shout", lambda s: (s or "") + "!", "string", vectorized=False
    )
    sdf = small_local_df(spark, [("hi",)], "s string")
    assert spark.sql("SELECT shout('hi') AS x").collect()[0]["x"] == "hi!"
    del sdf


def test_shape_size_empty_pipe(spark):
    df = small_local_df(spark, [(1, "a"), (2, "b"), (3, "c")], "n long, s string")
    f = Frame(df)
    assert f.shape == (3, 2)
    assert f.size == 6
    assert not f.empty
    assert Frame(df.filter("n > 99")).empty
    doubled = f.pipe(lambda fr, k: fr.assign(m=F.col("n") * k), 10)
    assert sorted(r["m"] for r in doubled.spark.collect()) == [10, 20, 30]


def test_query_backslash_escaped_quote(spark):
    # review fix: \' inside a Spark string literal must not close the
    # quote state in @param substitution
    df = small_local_df(spark, [("O'Brien @x", 1), ("Smith", 2)], "name string, n long")
    out = Frame(df).query("name == 'O\\'Brien @x' and n >= @lo", lo=1)
    assert [r["n"] for r in out.spark.collect()] == [1]


def test_frame_skyline(spark):
    df = small_local_df(
        spark, [(1, 10.0, 5.0), (2, 10.0, 4.0), (3, 9.0, 1.0), (4, 8.0, 2.0)],
        "id long, gain double, cost double",
    )
    out = Frame(df).skyline(maximize=["gain"], minimize=["cost"])
    assert sorted(r["id"] for r in out.spark.collect()) == [2, 3]


def test_frame_profile_and_weighted_sample(spark):
    from pandrs_spark.frame import Frame

    f = Frame(
        small_local_df(
            spark, [(1, "a", 2.0), (2, "b", 8.0), (3, None, 100.0)],
            "id long, s string, w double",
        )
    )
    prof = {r["column"]: r for r in f.profile().spark.collect()}
    assert prof["s"]["n_nulls"] == 1 and prof["id"]["n_distinct"] == 3
    samp = f.sample_weighted("w", ["id"], k=2).spark.collect()
    assert len(samp) == 2


def test_frame_cum_family_and_abs(spark):
    from pandrs_spark.frame import Frame

    f = Frame(
        small_local_df(
            spark, [(1, 2.0), (2, -3.0), (3, 1.5)], "id long, v double"
        )
    )
    out = (
        f.cummax("v")
        .cummin("v")
        .cumprod("v")
        .abs("v")
        .spark.orderBy("id")
        .collect()
    )
    assert [r["v_cummax"] for r in out] == [2.0, 2.0, 2.0]
    assert [r["v_cummin"] for r in out] == [2.0, -3.0, -3.0]
    got_prod = [round(r["v_cumprod"], 9) for r in out]
    assert got_prod == [2.0, -6.0, -9.0]
    assert [r["v_abs"] for r in out] == [2.0, 3.0, 1.5]


def test_frame_mode_and_idxmax(spark):
    from pandrs_spark.frame import Frame

    f = Frame(
        small_local_df(
            spark, [(1, "a"), (2, "b"), (3, "a"), (4, "b"), (5, "c")],
            "id long, s string",
        )
    )
    modes = sorted(r["s"] for r in f.mode("s").spark.collect())
    assert modes == ["a", "b"]  # tie -> both, like pandas

    g = Frame(
        small_local_df(
            spark, [(10, 5.0), (11, 9.0), (12, 9.0)], "id long, v double"
        )
    )
    top = g.idxmax("v", "id").spark.collect()
    assert len(top) == 1 and top[0]["id"] == 11 and top[0]["v"] == 9.0


def test_check_constraints_one_pass_report(spark):
    from pandrs_spark.operators.quality import (
        accepted_values,
        check_constraints,
        in_range,
        not_null,
        satisfies,
        unique,
    )
    import pyspark.sql.functions as F

    df = small_local_df(
        spark, [(1, "a", 5.0), (2, "b", -1.0), (2, "z", 50.0), (None, "a", 10.0)],
        "k long, s string, v double",
    )
    rep = {
        r["check_name"]: (r["violations"], r["passed"])
        for r in check_constraints(
            df,
            [
                not_null("k"),
                unique("k"),
                accepted_values("s", ["a", "b"]),
                in_range("v", 0, 100),
                satisfies("v_under_40", F.col("v") < 40),
            ],
        ).collect()
    }
    assert rep["not_null(k)"] == (1, False)
    assert rep["unique(k)"] == (1, False)        # duplicate k=2
    assert rep["accepted_values(s)"] == (1, False)  # 'z'
    assert rep["in_range(v)"] == (1, False)      # -1.0
    assert rep["v_under_40"] == (1, False)       # 50.0


def test_unique_constraint_null_positional_encoding(spark):
    # ADVICE r4: ('a', NULL) and (NULL, 'a') are DISTINCT keys; the
    # old concat_ws key skipped null elements and conflated them.
    from pandrs_spark.operators.quality import check_constraints, unique

    df = small_local_df(
        spark, [("a", None), (None, "a")], "x string, y string"
    )
    rep = check_constraints(df, [unique("x", "y")]).collect()
    assert rep[0]["violations"] == 0 and rep[0]["passed"]
    # and true duplicates (with nulls) are still caught
    df2 = small_local_df(
        spark, [("a", None), ("a", None)], "x string, y string"
    )
    rep2 = check_constraints(df2, [unique("x", "y")]).collect()
    assert rep2[0]["violations"] == 1 and not rep2[0]["passed"]


def test_concat_columns_pandas_parity_unequal_lengths(spark):
    # pandas.concat(axis=1) with default RangeIndexes aligns
    # positionally and pads the shorter frame with NaN; the Spark
    # concat must agree value-for-value including the NULL tail.
    import pandas as pd

    from pandrs_spark.frame import Frame, concat_columns

    pa = pd.DataFrame({"x": [3.0, 1.0, 2.0, 9.0]})
    pb = pd.DataFrame({"y": [30.0, 10.0]})
    expected = pd.concat([pa, pb], axis=1)

    a = Frame(spark.createDataFrame(pa))
    b = Frame(spark.createDataFrame(pb))
    out = concat_columns([a, b])
    got = (
        out._df.orderBy(out._order)
        .drop(out._order)
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), expected.reset_index(drop=True)
    )
