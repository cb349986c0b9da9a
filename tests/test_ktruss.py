"""k-truss unit tests against hand-computed small graphs."""

from pandrs_spark.operators.graph import k_truss
from pandrs_spark.operators.util import small_local_df


def _edges(spark, pairs):
    return small_local_df(spark, pairs, "src long, dst long")


def test_ktruss_keeps_clique_drops_tail(spark):
    # K4 on {1,2,3,4} plus a pendant path 4-5-6: every K4 edge closes
    # 2 triangles (3-truss with support 2 => k=4 truss), the tail closes none.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    g = k4 + [(4, 5), (5, 6)]
    out = k_truss(_edges(spark, g), k=4, n_iter=3).collect()
    got = sorted((r["u"], r["v"]) for r in out)
    assert got == sorted(k4)
    assert all(r["support"] == 2 for r in out)


def test_ktruss_cascading_peel(spark):
    # two triangles sharing edge (1,2): (1,2) has support 2, others 1.
    # k=4 requires support>=2: round 1 keeps only (1,2); but then (1,2)
    # closes no triangle alone -> round 2 empties the graph. A
    # single-pass support filter would wrongly keep (1,2).
    g = [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)]
    out = k_truss(_edges(spark, g), k=4, n_iter=3).collect()
    assert out == []


def test_ktruss_convergence_certificate(spark):
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    out = k_truss(_edges(spark, k4), k=4, n_iter=2, emit_convergence=True)
    rows = out.collect()
    assert rows and all(r["converged"] for r in rows)


def test_ktruss_k2_keeps_triangle_free_edges(spark):
    # k=2 threshold is support >= 0: a path with no triangles must be
    # kept whole, each edge surfacing with support 0 (the inner-join
    # shape silently dropped zero-support edges — ADVICE r6 fix).
    g = [(1, 2), (2, 3), (3, 4)]
    out = k_truss(_edges(spark, g), k=2, n_iter=2).collect()
    assert sorted((r["u"], r["v"]) for r in out) == g
    assert all(r["support"] == 0 for r in out)


def test_ktruss_n_iter_zero_certificate(spark):
    # n_iter=0 with emit_convergence must not dereference an unset
    # previous round (ADVICE r6 fix: prev initializes to cur).
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    rows = k_truss(
        _edges(spark, k4), k=4, n_iter=0, emit_convergence=True
    ).collect()
    assert rows and all(r["converged"] for r in rows)
