"""Partition-invariance property tests for the round-6 stateful folds
(round-7 task #5): EM trajectory (q414), mSPRT (q403), RANSAC consensus
(q426), LMDI waterfall (q427) — in the style of the Croston ones.

The load-bearing assertion is BITWISE equality of the operator output
across different physical partitionings of the same rows (that is the
partition-order-invariance contract the quantized sums exist to
provide). A loose pure-Python sanity check accompanies it where the
model is small enough to fold independently (exp/sqrt ULP differences
between Python and the JVM make exact cross-language comparison
inappropriate; cross-partitioning comparison has no such caveat).
"""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st

from pandrs_spark.operators.util import small_local_df

vals_strategy = st.lists(
    st.floats(min_value=0.1, max_value=20.0, allow_nan=False),
    min_size=6,
    max_size=30,
)


def _rows(df, cols):
    return [tuple(r[c] for c in cols) for r in df.collect()]


def _same(a, b):
    """Bitwise tuple-list equality, NaN-aware (degenerate inputs — e.g.
    zero variance — legitimately produce NaN params; NaN != NaN would
    fail an otherwise identical trajectory)."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                if math.isnan(va) and math.isnan(vb):
                    continue
            if va != vb:
                return False
    return True


@settings(max_examples=6, deadline=None)
@given(vals_strategy, st.integers(1, 7), st.integers(1, 7))
def test_em_gmm_trajectory_partition_invariant(spark, xs, pa, pb):
    from pandrs_spark.operators.ml import em_gmm_1d

    cols = ["n", "mu1", "s1", "mu2", "s2", "pi"]
    outs = []
    for parts in (pa, pb):
        df = small_local_df(spark, [(v,) for v in xs], "x double").repartition(
            parts
        )
        outs.append(
            _rows(em_gmm_1d(df, "x", init=(1.0, 2.0, 8.0, 2.0, 0.5), n_iter=3), cols)
        )
    # bitwise (NaN-aware): quantized sums make the whole 3-round
    # trajectory partition-order independent
    assert _same(outs[0], outs[1])
    n, mu1, s1, mu2, s2, pi = outs[0][0]
    assert n == len(xs)
    if pi is not None and not math.isnan(pi):
        assert 0.0 <= pi <= 1.0


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 1), st.integers(0, 1)), min_size=4, max_size=60)
    .filter(lambda rs: {a for a, _ in rs} == {0, 1}),
    st.integers(1, 7),
    st.integers(1, 7),
)
def test_msprt_partition_invariant_and_matches_formula(spark, rows, pa, pb):
    from pandrs_spark.operators.hypothesis import msprt_two_proportion

    cols = ["n1", "c1", "n0", "c0", "theta", "v", "lambda_stat"]
    outs = []
    for parts in (pa, pb):
        df = small_local_df(spark, rows, "arm int, conv int").repartition(parts)
        outs.append(_rows(msprt_two_proportion(df, "arm", "conv"), cols))
    assert outs[0] == outs[1]
    n1, c1, n0, c0, theta, v, lam = outs[0][0]
    # exact integer sums match Python
    assert n1 == sum(a for a, _ in rows)
    assert c1 == sum(c for a, c in rows if a == 1)
    assert n0 == len(rows) - n1
    assert c0 == sum(c for a, c in rows if a == 0)
    assert theta == pytest.approx(c1 / n1 - c0 / n0, abs=1e-12)
    p = (c1 + c0) / (n1 + n0)
    v_py = p * (1 - p) * (1 / n1 + 1 / n0)
    assert v == pytest.approx(v_py, abs=1e-12)
    if v_py > 0:
        tau2 = 1e-4
        lam_py = math.sqrt(v_py / (v_py + tau2)) * math.exp(
            theta * theta * tau2 / (2 * v_py * (v_py + tau2))
        )
        assert lam == pytest.approx(lam_py, rel=1e-9)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.floats(min_value=1.0, max_value=1000.0, allow_nan=False),
        min_size=9,
        max_size=25,
        unique=True,
    ),
    st.integers(1, 7),
    st.integers(1, 7),
)
def test_ransac_consensus_partition_invariant(spark, ys, pa, pb):
    from pandrs_spark.operators.ml import ransac_line_consensus

    cols = ["t1", "t2", "slope", "icept", "n_inliers", "n_total"]
    outs = []
    for parts in (pa, pb):
        df = small_local_df(
            spark, [(i, y) for i, y in enumerate(ys)], "t long, y double"
        ).repartition(parts)
        outs.append(_rows(ransac_line_consensus(df, "t", "y", sample_n=8), cols))
    # the md5-keyed sample and exact integer inlier counts make the
    # winning model identical under any partitioning
    assert outs[0] == outs[1]
    (t1, t2, slope, icept, n_in, n_tot) = outs[0][0]
    assert n_tot == len(ys)
    assert 0 <= n_in <= n_tot
    assert t1 < t2


@settings(max_examples=10, deadline=None)
@given(
    st.tuples(
        st.floats(min_value=0.05, max_value=0.95),
        st.floats(min_value=0.05, max_value=0.95),
        st.floats(min_value=0.05, max_value=0.95),
        st.floats(min_value=0.05, max_value=0.95),
    )
)
def test_lmdi_contributions_sum_to_delta_cvr(spark, rates):
    """LMDI's defining exactness property: stage contributions sum to
    ΔCVR by construction, for any stage rates (CVR = r1·r2)."""
    from pyspark.sql import functions as F

    from pandrs_spark.operators.hypothesis import lmdi_contribution

    r1a, r1b, r2a, r2b = rates
    cvra, cvrb = r1a * r2a, r1b * r2b
    df = small_local_df(
        spark, [("s1", r1a, r1b, cvra, cvrb), ("s2", r2a, r2b, cvra, cvrb)],
        "stage string, rate_a double, rate_b double, cvra double, cvrb double",
    )
    out = df.select(
        lmdi_contribution("rate_a", "rate_b", "cvra", "cvrb").alias("c")
    ).agg(F.sum("c").alias("total")).first()
    assert out["total"] == pytest.approx(cvrb - cvra, abs=1e-9)


# --- Round-8: the round-7 folds (judge task #4) ------------------------------


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.floats(-3.0, 3.0, allow_nan=False)),
        min_size=8,
        max_size=40,
    ),
    st.integers(1, 7),
    st.integers(1, 7),
)
def test_poisson_irls_partition_invariant(spark, rows, pa, pb):
    from pandrs_spark.operators.ml import poisson_irls_1d

    cols = ["n", "b0", "b1", "mean_y"]
    outs = []
    for parts in (pa, pb):
        df = small_local_df(spark, rows, "y int, x double").repartition(parts)
        outs.append(_rows(poisson_irls_1d(df, "y", "x", n_iter=3), cols))
    assert _same(outs[0], outs[1])
    assert outs[0][0][0] == len(rows)


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3), st.integers(0, 3), st.integers(1, 50)
        ),
        min_size=4,
        max_size=30,
    ).filter(lambda rs: len({(r, c) for r, c, _ in rs}) == len(rs)),
    st.integers(1, 7),
    st.integers(1, 7),
)
def test_ipf_rake_partition_invariant(spark, cells, pa, pb):
    from pyspark.sql import functions as F

    from pandrs_spark.operators.hypothesis import ipf_rake

    total = float(sum(n for _, _, n in cells))
    rows_ = sorted({r for r, _, _ in cells})
    cols_ = sorted({c for _, c, _ in cells})
    rt = [(r, total / len(rows_)) for r in rows_]
    ct = [(c, total / len(cols_)) for c in cols_]
    outs = []
    for parts in (pa, pb):
        df = small_local_df(spark, cells, "r int, c int, n long").repartition(
            parts
        )
        row_t = small_local_df(spark, rt, "r int, target_r double")
        col_t = small_local_df(spark, ct, "c int, target_c double")
        w = ipf_rake(df, "r", "c", "n", row_t, col_t, n_rounds=3)
        outs.append(
            sorted(_rows(w.select("r", "c", "n", "w"), ["r", "c", "n", "w"]))
        )
    assert _same(outs[0], outs[1])
    # after a full pass ending on the column margin, the weighted column
    # totals hit their targets (IPF invariant) up to double rounding
    by_c = {}
    for r, c, n, w in outs[0]:
        by_c[c] = by_c.get(c, 0.0) + n * w
    for c, tot_c in by_c.items():
        assert abs(tot_c - total / len(cols_)) < 1e-3


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.floats(0.5, 50.0, allow_nan=False), min_size=4, max_size=40),
    st.integers(1, 7),
    st.integers(1, 7),
)
def test_holt_damped_partition_invariant(spark, xs, pa, pb):
    from pandrs_spark.operators.timeseries import holt_damped_forecast

    rows = [("s", i, float(v)) for i, v in enumerate(xs)]
    outs = []
    for parts in (pa, pb):
        df = small_local_df(spark, rows, "k string, t int, x double").repartition(
            parts
        )
        fc = holt_damped_forecast(
            df, "x", ["t"], ["k"], alpha=0.4, beta=0.3, phi=0.9, horizon=2
        )
        outs.append(sorted(_rows(fc, ["t", "holt_damped_fc"])))
    assert _same(outs[0], outs[1])
    # the fold replays the Gardner-McKenzie recursion exactly
    phi, alpha, beta = 0.9, 0.4, 0.3
    phi_h = phi + phi * phi
    if len(xs) >= 2:
        level, trend = xs[0], xs[1] - xs[0]
        expect = [level + phi_h * trend]
        for t in range(1, len(xs)):
            prev = level
            level = alpha * xs[t] + (1 - alpha) * (level + phi * trend)
            trend = beta * (level - prev) + (1 - beta) * phi * trend
            expect.append(level + phi_h * trend)
        got = [v for _, v in outs[0]]
        for g, e in zip(got, expect):
            assert abs(g - e) < 1e-9 * max(1.0, abs(e))


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.floats(-5.0, 5.0, allow_nan=False), min_size=3, max_size=40),
    st.integers(1, 7),
    st.integers(1, 7),
)
def test_page_hinkley_partition_invariant(spark, xs, pa, pb):
    from pandrs_spark.operators.timeseries import page_hinkley

    rows = [(i, float(v)) for i, v in enumerate(xs)]
    cols = ["n_days", "ph_max", "n_alarm_days", "first_alarm_idx"]
    outs = []
    for parts in (pa, pb):
        df = small_local_df(spark, rows, "d int, x double").repartition(parts)
        outs.append(_rows(page_hinkley(df, "x", "d", delta=0.01, lam=0.5), cols))
    assert _same(outs[0], outs[1])
    assert outs[0][0][0] == len(xs)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.floats(-3.0, 3.0, allow_nan=False)),
        min_size=8,
        max_size=40,
    ).filter(lambda rs: {y for y, _ in rs} == {0, 1}),
    st.integers(1, 7),
    st.integers(1, 7),
)
def test_logistic_irls_partition_invariant(spark, rows, pa, pb):
    from pandrs_spark.operators.ml import logistic_irls_1d

    cols = ["n", "b0", "b1", "mean_y"]
    outs = []
    for parts in (pa, pb):
        df = small_local_df(spark, rows, "y int, x double").repartition(parts)
        outs.append(_rows(logistic_irls_1d(df, "y", "x", n_iter=3), cols))
    assert _same(outs[0], outs[1])
    assert outs[0][0][0] == len(rows)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=0.0, max_value=50.0, allow_nan=False),
            st.sampled_from(["a", "b"]),
        ),
        min_size=8,
        max_size=40,
    ).filter(
        lambda rows: len({g for _, g in rows}) == 2
        and min(sum(1 for _, g in rows if g == s) for s in ("a", "b")) >= 3
    ),
    st.integers(1, 7),
    st.integers(1, 7),
)
def test_ansari_bradley_partition_invariant(spark, rows, pa, pb):
    from pandrs_spark.operators.hypothesis import ansari_bradley_test

    cols = ["n1", "n2", "ab_t_norm", "z"]
    outs = []
    for parts in (pa, pb):
        df = small_local_df(spark, rows, "value double, grp string").repartition(
            parts
        )
        outs.append(_rows(ansari_bradley_test(df, "value", "grp", "a", "b"), cols))
    assert _same(outs[0], outs[1])


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=0.0, max_value=50.0, allow_nan=False),
            st.sampled_from(["a", "b"]),
        ),
        min_size=8,
        max_size=40,
    ).filter(
        lambda rows: len({g for _, g in rows}) == 2
        and min(sum(1 for _, g in rows if g == s) for s in ("a", "b")) >= 3
    ),
    st.integers(1, 7),
    st.integers(1, 7),
)
def test_cucconi_partition_invariant(spark, rows, pa, pb):
    from pandrs_spark.operators.hypothesis import cucconi_test

    cols = ["n1", "n2", "u", "v", "c"]
    outs = []
    for parts in (pa, pb):
        df = small_local_df(spark, rows, "value double, grp string").repartition(
            parts
        )
        outs.append(_rows(cucconi_test(df, "value", "grp", "a", "b"), cols))
    assert _same(outs[0], outs[1])
