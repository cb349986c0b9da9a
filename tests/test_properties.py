"""Property-based tests (hypothesis): the reference's example-based
suites (SURVEY §5) hand-pick values; these generate them. Two invariant
families:

1. determinism — quantized aggregation is partition-count-invariant and
   matches an exact Python model;
2. pandas parity — rank/rolling/ffill agree with pandas on arbitrary
   data including ties, NaN-free floats and duplicates.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from pandrs_spark.functions.deterministic import dsum
from pandrs_spark.operators.util import small_local_df
from pandrs_spark.operators.windows import ordered_window, rank_method, rolling

# Bounded, NaN/inf-free doubles: the deterministic layer quantizes at
# scale 2, so generate values that stay far from the int64 envelope.
floats = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


def _model_dsum(vals, scale=2):
    m = 10**scale
    total = sum(
        int(math.copysign(math.floor(abs(v) * m + 0.5), v)) for v in vals
    )
    return total / m


@settings(max_examples=12, deadline=None)
@given(st.lists(floats, min_size=1, max_size=40), st.integers(1, 6))
def test_dsum_partition_invariant_and_exact(spark, vals, nparts):
    df = small_local_df(spark, [(v,) for v in vals], "v double").repartition(nparts)
    got = df.agg(dsum("v").alias("s")).first()["s"]
    assert got == pytest.approx(_model_dsum(vals), abs=1e-9)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(-5, 5), min_size=1, max_size=30))
def test_rank_methods_match_pandas(spark, vals):
    df = small_local_df(
        spark, [(i, float(v)) for i, v in enumerate(vals)], "i bigint, v double"
    )
    out = df.select(
        "i",
        rank_method("v", None, "average").alias("avg_r"),
        rank_method("v", None, "min").alias("min_r"),
        rank_method("v", None, "max").alias("max_r"),
        rank_method("v", None, "dense").alias("dense_r"),
    ).orderBy("i")
    got = out.collect()
    s = pd.Series(vals, dtype=float)
    for method, col in (("average", "avg_r"), ("min", "min_r"), ("max", "max_r"), ("dense", "dense_r")):
        ref = s.rank(method=method).tolist()
        for r, e in zip(got, ref):
            assert float(r[col]) == pytest.approx(e), (method, vals)


@settings(max_examples=10, deadline=None)
@given(st.lists(floats, min_size=1, max_size=30), st.integers(1, 5))
def test_rolling_mean_matches_pandas(spark, vals, window):
    df = small_local_df(
        spark, [(i, v) for i, v in enumerate(vals)], "i bigint, v double"
    )
    w = ordered_window("i")
    got = [
        r["m"]
        for r in df.select("i", rolling("v", window, w, "mean").alias("m"))
        .orderBy("i")
        .collect()
    ]
    ref = pd.Series(vals).rolling(window).mean().tolist()
    for g, e in zip(got, ref):
        if e != e:  # NaN
            assert g is None
        else:
            assert g == pytest.approx(e, rel=1e-9, abs=1e-9)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.one_of(st.none(), st.integers(-100, 100)), min_size=1, max_size=30)
)
def test_ffill_matches_pandas(spark, vals):
    from pandrs_spark.operators.timeseries import ffill

    df = small_local_df(
        spark, [(i, float(v) if v is not None else None) for i, v in enumerate(vals)],
        "i bigint, v double",
    )
    from pyspark.sql import Window

    w = Window.orderBy("i")
    got = [
        r["f"] for r in df.select("i", ffill("v", w).alias("f")).orderBy("i").collect()
    ]
    ref = pd.Series([float(v) if v is not None else None for v in vals]).ffill().tolist()
    for g, e in zip(got, ref):
        if e != e:
            assert g is None
        else:
            assert g == e


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.text("ab", min_size=1, max_size=3), st.integers(1, 5)),
        min_size=1,
        max_size=25,
    )
)
def test_upsert_latest_is_idempotent(spark, rows):
    from pandrs_spark.operators.joins import upsert_latest

    df = small_local_df(spark, rows, "k int, v string, version int")
    updates = df.limit(0)
    once = upsert_latest(df, updates, ["k"], "version")
    twice = upsert_latest(once, updates, ["k"], "version")
    assert sorted(once.collect()) == sorted(twice.collect())
    # exactly one row per key
    keys = [r["k"] for r in once.collect()]
    assert len(keys) == len(set(keys))


@settings(max_examples=8, deadline=None)
@given(st.integers(1, 400), st.integers(1, 16))
def test_deterministic_sample_partition_invariant(spark, n, parts):
    from pandrs_spark.operators.sampling import deterministic_sample

    df = small_local_df(spark, [(i,) for i in range(n)], "id long")
    a = {r["id"] for r in deterministic_sample(df.repartition(1), ["id"], 0.5).collect()}
    b = {r["id"] for r in deterministic_sample(df.repartition(parts), ["id"], 0.5).collect()}
    assert a == b


@settings(max_examples=10, deadline=None)
@given(st.text(min_size=0, max_size=12), st.integers(0, 6), st.integers(0, 8))
def test_slice_replace_matches_pandas(spark, s, start, stop):
    from pandrs_spark.frame import str_

    if stop < start:
        stop = start
    df = small_local_df(spark, [(s,)], "t string")
    got = df.select(str_("t").slice_replace(start, stop, "XY").alias("r")).first()["r"]
    expected = pd.Series([s]).str.slice_replace(start, stop, "XY").iloc[0]
    assert got == expected


@given(
    vals=st.lists(floats, min_size=1, max_size=60),
    nparts=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=8, deadline=None)
def test_sort_values_partition_invariant_dense_order(spark, vals, nparts):
    """sort_values' partition-offset order derivation must produce a
    dense 1..n permutation in sorted order regardless of the input
    partitioning (it replaced a single-partition Window.orderBy)."""
    from pandrs_spark.frame import Frame

    df = small_local_df(spark, [(i, v) for i, v in enumerate(vals)], "i long, v double")
    f = Frame(df.repartition(nparts)).sort_values("v")
    rows = f._df.select("v", f._order).collect()
    orders = sorted(r[f._order] for r in rows)
    assert orders == list(range(1, len(vals) + 1))  # dense total order
    by_order = [r["v"] for r in sorted(rows, key=lambda r: r[f._order])]
    assert by_order == sorted(vals)


# --- query() @param substitution: quote-state machine ----------------------
@settings(max_examples=40, deadline=None)
@given(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters=" @'\"_."
        ),
        max_size=25,
    ),
    st.integers(-1000, 1000),
)
def test_query_param_substitution_properties(literal, val):
    """Pure-function properties of Frame._substitute_params:
    1. text inside quotes is NEVER altered;
    2. a supplied @name outside quotes always becomes its literal;
    3. unknown @name outside quotes raises KeyError."""
    from pandrs_spark.frame import Frame

    # property 1: any content inside a quoted literal survives verbatim
    quoted = literal.replace("'", "''")
    expr = f"col == '{quoted}' and x > @p"
    out = Frame._substitute_params(expr, {"p": val})
    assert f"'{quoted}'" in out
    assert out.endswith(f"x > {val}")
    # property 3
    with pytest.raises(KeyError):
        Frame._substitute_params("x > @unknown", {"p": 1})


# --- skyline: partition invariance + brute-force parity --------------------
@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=30,
    ),
    st.integers(1, 5),
)
def test_skyline_matches_bruteforce_any_partitioning(spark, pts, nparts):
    from pandrs_spark.operators.skyline import skyline

    rows = [(i, float(a), float(b)) for i, (a, b) in enumerate(pts)]
    df = small_local_df(spark, rows, "id long, x double, y double").repartition(nparts)
    got = sorted(
        r["id"] for r in skyline(df, maximize=["x"], minimize=["y"]).collect()
    )
    expect = sorted(
        i
        for i, (a, b) in enumerate(pts)
        if not any(
            (c >= a and d <= b and (c > a or d < b)) for c, d in pts
        )
    )
    assert got == expect, (pts, nparts)


# --- EWM mean: pandas parity on arbitrary series ----------------------------
@settings(max_examples=10, deadline=None)
@given(
    st.lists(floats, min_size=2, max_size=25),
    st.floats(min_value=0.05, max_value=0.95),
    st.booleans(),
)
def test_ewm_mean_matches_pandas(spark, vals, alpha, adjust):
    from pandrs_spark.operators.windows import ewm_mean

    rows = [(i, float(v)) for i, v in enumerate(vals)]
    df = small_local_df(spark, rows, "i long, v double").repartition(3)
    out = ewm_mean(df, "v", ["i"], [], alpha=alpha, adjust=adjust)
    got = {r["i"]: r["ewm"] for r in out.collect()}
    exp = pd.Series(vals).ewm(alpha=alpha, adjust=adjust).mean()
    for i in range(len(vals)):
        assert abs(got[i] - exp.iloc[i]) < 1e-9, (i, alpha, adjust)


# --- rolling quantile: pandas parity ----------------------------------------
@settings(max_examples=10, deadline=None)
@given(
    st.lists(floats, min_size=3, max_size=25),
    st.integers(2, 6),
    st.floats(min_value=0.0, max_value=1.0),
)
def test_rolling_quantile_matches_pandas(spark, vals, window, q):
    from pandrs_spark.operators.windows import ordered_window, rolling

    rows = [(i, float(v)) for i, v in enumerate(vals)]
    df = small_local_df(spark, rows, "i long, v double").repartition(3)
    w = ordered_window(order_by=["i"])
    out = df.withColumn(
        "rq", rolling("v", window, w, agg="quantile", q=q)
    )
    got = {r["i"]: r["rq"] for r in out.collect()}
    exp = pd.Series(vals).rolling(window).quantile(q, interpolation="linear")
    for i in range(len(vals)):
        e = exp.iloc[i]
        g = got[i]
        if pd.isna(e):
            assert g is None, (i, g)
        else:
            assert g is not None and abs(g - e) < 1e-9, (i, window, q)


def test_global_prefix_sum_partition_invariant(spark):
    """The running total must not depend on the physical partitioning
    — the property that makes the partition-offset scheme safe on a
    cluster of any size."""
    from pandrs_spark.frame import release_persisted
    from pandrs_spark.operators.windows import global_prefix_sum

    import pyspark.sql.functions as F

    rows = [(i, float((i * 13) % 29)) for i in range(300)]
    outs = []
    for parts in (1, 3, 17):
        df = small_local_df(spark, rows, "id long, v double").repartition(parts)
        out = (
            global_prefix_sum(df, [F.asc("id")], "v", "rt")
            .orderBy("id")
            .select("id", "rt")
            .collect()
        )
        outs.append([(r["id"], r["rt"]) for r in out])
    assert outs[0] == outs[1] == outs[2]
    release_persisted()


def test_weighted_sample_partition_invariant(spark):
    from pandrs_spark.operators.sampling import weighted_sample

    rows = [(i, float(1 + i % 9)) for i in range(200)]
    picks = []
    for parts in (1, 8):
        df = small_local_df(spark, rows, "id long, w double").repartition(parts)
        picks.append(
            sorted(r["id"] for r in weighted_sample(df, "w", ["id"], 25).collect())
        )
    assert picks[0] == picks[1]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(0, 9), min_size=1, max_size=40),
    st.integers(1, 7),
)
def test_global_prefix_counts_partition_invariant(spark, keys, nparts):
    """global_prefix_counts == the driver-side cumulative fold under
    the same total order, for ANY input partitioning (the partition-
    offset scheme must be invisible)."""
    from pandrs_spark.frame import release_persisted
    from pandrs_spark.operators.windows import global_prefix_counts

    rows = [(i, k, 1, k % 3) for i, k in enumerate(keys)]
    df = small_local_df(
        spark, rows, "id long, v long, one long, w long"
    ).repartition(nparts)
    out = global_prefix_counts(
        df, [F.asc("v"), F.asc("id")], {"cum1": "one", "cumw": "w"}
    )
    got = {
        r["id"]: (r["cum1"], r["cumw"])
        for r in out.collect()
    }
    release_persisted()
    acc1 = accw = 0
    for i, k in sorted(enumerate(keys), key=lambda t: (t[1], t[0])):
        acc1 += 1
        accw += k % 3
        assert got[i] == (acc1, accw), (i, got[i], (acc1, accw))


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(-20, 20), min_size=2, max_size=40),
    st.integers(1, 7),
    st.integers(2, 6),
)
def test_global_row_number_and_ntile_partition_invariant(
    spark, vals, nparts, k
):
    from pandrs_spark.frame import release_persisted
    from pandrs_spark.operators.windows import (
        global_row_number,
        ntile_from_rank,
    )

    rows = [(i, v) for i, v in enumerate(vals)]
    df = small_local_df(spark, rows, "id long, v long").repartition(nparts)
    n = len(vals)
    out = global_row_number(df, [F.asc("v"), F.asc("id")], "rn").select(
        "id", "rn", ntile_from_rank(F.col("rn"), n, k).alias("nt")
    )
    got = {r["id"]: (r["rn"], r["nt"]) for r in out.collect()}
    release_persisted()
    order = sorted(range(n), key=lambda i: (vals[i], i))
    base, rem = divmod(n, k)
    # model NTILE: first `rem` buckets get base+1 rows
    expect_bucket = []
    for b in range(k):
        expect_bucket += [b + 1] * ((base + 1) if b < rem else base)
    for rank0, i in enumerate(order):
        assert got[i][0] == rank0 + 1
        assert got[i][1] == expect_bucket[rank0], (
            n, k, rank0, got[i][1], expect_bucket[rank0],
        )


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
        min_size=1,
        max_size=30,
    ),
    st.integers(2, 8),
)
def test_croston_partition_invariant_and_matches_pure_fold(spark, xs, parts):
    """croston_forecast must equal the pure-Python Croston fold
    regardless of how the input rows are partitioned (the fold happens
    after a per-series shuffle + in-group sort)."""
    from pandrs_spark.operators.timeseries import croston_forecast

    df = small_local_df(
        spark, [("k", i, float(x)) for i, x in enumerate(xs)],
        "k string, t int, qty double",
    ).repartition(parts)
    got = croston_forecast(
        df, "qty", order_by=["t"], partition_by=["k"], alpha=0.3
    ).collect()[0]

    z = p = None
    q = 1.0
    for x in xs:
        if x > 0:
            if z is None:
                z, p = float(x), q
            else:
                z = 0.3 * x + 0.7 * z
                p = 0.3 * q + 0.7 * p
            q = 1.0
        else:
            q += 1.0
    if z is None:
        assert got["croston_fc"] is None
    else:
        assert abs(got["croston_size"] - z) < 1e-12
        assert abs(got["croston_interval"] - p) < 1e-12


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
        min_size=1,
        max_size=30,
    ),
    st.integers(2, 8),
)
def test_reorder_sim_partition_invariant(spark, xs, parts):
    from pandrs_spark.operators.timeseries import reorder_policy_sim

    df = small_local_df(
        spark, [("k", i, float(x)) for i, x in enumerate(xs)],
        "k string, t int, qty double",
    ).repartition(parts)
    got = reorder_policy_sim(
        df, "qty", order_by=["t"], partition_by=["k"],
        reorder_point=20.0, order_up_to=80.0,
    ).collect()[0]

    oh, orders, so = 80.0, 0, 0
    for x in xs:
        if x > oh:
            so += 1
        oh = max(oh - x, 0.0)
        if oh < 20.0:
            orders += 1
            oh = 80.0
    assert got["n_stockouts"] == so
    assert got["n_orders"] == orders
    assert abs(got["final_on_hand"] - oh) < 1e-12


@settings(max_examples=8, deadline=None)
@given(
    st.lists(floats, min_size=1, max_size=25),
    st.integers(1, 6),
    st.integers(1, 6),
)
def test_concat_columns_partition_invariant(spark, vals, pa, pb):
    # concat(axis=1) pairs the i-th row (under each frame's ORDER
    # column) with the i-th row regardless of how either side is
    # physically partitioned: positions come from the partition-offset
    # scheme over a deterministic order column, so any repartitioning
    # must yield the identical pairing. (A fresh Frame with no order
    # column falls back to physical arrival order — Spark DataFrames
    # carry no inherent row order — so the invariance contract is
    # stated over explicit order columns.)
    from pandrs_spark.frame import Frame, concat_columns

    left = Frame(
        small_local_df(
            spark, [(i, v) for i, v in enumerate(vals)], "i bigint, x double"
        ).repartition(pa),
        order_col="i",
    )
    right = Frame(
        small_local_df(
            spark, [(i, v * 2) for i, v in enumerate(vals)], "j bigint, y double"
        ).repartition(pb),
        order_col="j",
    )
    out = concat_columns([left, right])
    rows = out._df.orderBy(out._order).drop(out._order).collect()
    assert [r["x"] for r in rows] == vals
    for r in rows:
        assert r["y"] == pytest.approx(r["x"] * 2)
