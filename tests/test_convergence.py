"""Convergence certificates for the iterative graph family (round-7
task: SCC/CC/label-prop/PageRank previously truncated silently at
their iteration budget; ``check_convergence=True`` now raises
:class:`ConvergenceError` instead — the k-truss certificate pattern
family-wide). Each operator gets one test on a graph that does NOT
converge within the budget and one asserting the flag stays silent
when the fixpoint IS reached."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pandrs_spark.operators.graph import (
    ConvergenceError,
    bfs_hops,
    closeness_centrality,
    connected_components,
    eigenvector_centrality,
    hits,
    katz_centrality,
    kcore,
    label_propagation,
    pagerank,
    personalized_pagerank,
    shortest_paths,
    strongly_connected_components,
    weighted_pagerank,
)
from pandrs_spark.operators.util import small_local_df


def _path_graph(spark, n):
    # 0-1-2-...-n path: min-label propagation needs ~n rounds
    return small_local_df(
        spark, [(i, i + 1) for i in range(n)], "src bigint, dst bigint"
    )


def test_cc_raises_when_diameter_exceeds_budget(spark):
    e = _path_graph(spark, 10)
    with pytest.raises(ConvergenceError, match="connected_components"):
        connected_components(e, max_iter=2, check_convergence=True)


def test_cc_certificate_silent_on_fixpoint(spark):
    e = _path_graph(spark, 4)
    comp = {
        r["id"]: r["component"]
        for r in connected_components(
            e, max_iter=10, check_convergence=True
        ).collect()
    }
    assert set(comp.values()) == {0}


def test_scc_raises_on_truncation(spark):
    # one long directed cycle: coloring needs ~n rounds to reach the
    # min id; max_iter=2 truncates the inner coloring pass
    n = 12
    e = small_local_df(
        spark, [(i, (i + 1) % n) for i in range(n)], "src bigint, dst bigint"
    )
    with pytest.raises(ConvergenceError, match="strongly_connected"):
        strongly_connected_components(e, max_iter=2, check_convergence=True)


def test_scc_certificate_silent_on_fixpoint(spark):
    # two 3-cycles bridged one-way: clean SCC structure within budget
    e = small_local_df(
        spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4)],
        "src bigint, dst bigint",
    )
    comp = {
        r["id"]: r["component"]
        for r in strongly_connected_components(
            e, max_iter=10, check_convergence=True
        ).collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == comp[5] == comp[6] == 4


def test_label_prop_raises_when_still_changing(spark):
    # long path: labels keep flowing inward for ~n/2 rounds, so after
    # 1 round the second round would still change labels
    e = _path_graph(spark, 10)
    with pytest.raises(ConvergenceError, match="label_propagation"):
        label_propagation(e, iterations=1, check_convergence=True)


def test_label_prop_certificate_silent_on_fixpoint(spark):
    # a triangle stabilizes immediately (everyone adopts label 1)
    e = small_local_df(
        spark, [(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint"
    )
    labels = {
        r["id"]: r["label"]
        for r in label_propagation(
            e, iterations=4, check_convergence=True
        ).collect()
    }
    assert set(labels.values()) == {1}


def test_pagerank_raises_below_tol_budget(spark):
    # star graph, 1 iteration: ranks move a lot on the first round
    e = small_local_df(
        spark, [(0, i) for i in range(1, 8)] + [(i, 0) for i in range(1, 8)],
        "src bigint, dst bigint",
    )
    with pytest.raises(ConvergenceError, match="pagerank"):
        pagerank(e, iterations=1, check_convergence=True, tol=1e-9)


def test_pagerank_certificate_silent_when_converged(spark):
    # symmetric triangle starts AT the stationary distribution
    # (uniform), so even one iteration changes nothing
    e = small_local_df(
        spark, [(1, 2), (2, 3), (3, 1), (2, 1), (3, 2), (1, 3)],
        "src bigint, dst bigint",
    )
    ranks = {
        r["id"]: r["rank"]
        for r in pagerank(
            e, iterations=2, check_convergence=True, tol=1e-9
        ).collect()
    }
    for v in (1, 2, 3):
        assert ranks[v] == pytest.approx(1 / 3, abs=1e-9)


def _star(spark):
    # hub 0 <-> leaves 1..7: the first round moves every score a lot
    return small_local_df(
        spark, [(0, i) for i in range(1, 8)] + [(i, 0) for i in range(1, 8)],
        "src bigint, dst bigint",
    )


def _sym_triangle(spark, weighted=False):
    rows = [(1, 2), (2, 3), (3, 1), (2, 1), (3, 2), (1, 3)]
    if weighted:
        return small_local_df(
            spark, [(s, d, 2.0) for s, d in rows], "src bigint, dst bigint, weight double"
        )
    return small_local_df(spark, rows, "src bigint, dst bigint")


def test_bfs_hops_raises_when_frontier_outlives_budget(spark):
    with pytest.raises(ConvergenceError, match="bfs_hops"):
        bfs_hops(_path_graph(spark, 6), [0], max_iter=2, check_convergence=True)


def test_bfs_hops_certificate_silent_on_fixpoint(spark):
    hops = {
        r["id"]: r["hops"]
        for r in bfs_hops(
            _path_graph(spark, 3), [0], max_iter=5, check_convergence=True
        ).collect()
    }
    assert hops == {0: 0, 1: 1, 2: 2, 3: 3}


def test_closeness_raises_when_frontier_outlives_budget(spark):
    with pytest.raises(ConvergenceError, match="closeness_centrality"):
        closeness_centrality(
            _path_graph(spark, 4), max_iter=1, check_convergence=True
        )


def test_closeness_certificate_silent_on_fixpoint(spark):
    rows = closeness_centrality(
        _sym_triangle(spark), max_iter=3, check_convergence=True
    ).collect()
    assert {r["id"]: r["closeness"] for r in rows} == {1: 1.0, 2: 1.0, 3: 1.0}


def _costed_path(spark):
    # 0 -> 1 -> 2 -> 3 at cost 1 each, plus a costly 0 -> 3 shortcut
    return small_local_df(
        spark, [(0, 1, 1), (1, 2, 1), (2, 3, 1), (0, 3, 9)],
        "src bigint, dst bigint, cost bigint",
    )


def test_shortest_paths_raises_while_still_relaxing(spark):
    with pytest.raises(ConvergenceError, match="shortest_paths"):
        shortest_paths(_costed_path(spark), 0, iterations=1, check_convergence=True)


def test_shortest_paths_certificate_silent_on_fixpoint(spark):
    dist = {
        r["id"]: r["dist"]
        for r in shortest_paths(
            _costed_path(spark), 0, iterations=5, check_convergence=True
        ).collect()
    }
    assert dist == {0: 0, 1: 1, 2: 2, 3: 3}


def test_katz_raises_below_tol_budget(spark):
    e = small_local_df(spark, [(1, 2)], "src bigint, dst bigint")
    with pytest.raises(ConvergenceError, match="katz_centrality"):
        katz_centrality(e, iterations=1, check_convergence=True, tol=1e-9)


def test_katz_certificate_silent_at_fixpoint(spark):
    # one edge: the alpha-series is exact after two rounds (A² = 0)
    e = small_local_df(spark, [(1, 2)], "src bigint, dst bigint")
    scores = {
        r["id"]: r["score"]
        for r in katz_centrality(
            e, iterations=3, check_convergence=True, tol=1e-9
        ).collect()
    }
    assert scores[1] == pytest.approx(1.0) and scores[2] == pytest.approx(1.1)


def test_hits_raises_below_tol_budget(spark):
    e = small_local_df(spark, [(1, 2)], "src bigint, dst bigint")
    with pytest.raises(ConvergenceError, match="hits"):
        hits(e, iterations=1, check_convergence=True, tol=1e-9)


def test_hits_certificate_silent_at_fixpoint(spark):
    # one edge: 1 is the pure hub and 2 the pure authority from round 1
    e = small_local_df(spark, [(1, 2)], "src bigint, dst bigint")
    rows = {
        r["id"]: (r["authority"], r["hub"])
        for r in hits(e, iterations=3, check_convergence=True, tol=1e-9).collect()
    }
    assert rows == {1: (0.0, 1.0), 2: (1.0, 0.0)}


def test_eigenvector_raises_below_tol_budget(spark):
    with pytest.raises(ConvergenceError, match="eigenvector_centrality"):
        eigenvector_centrality(
            _star(spark), iterations=1, check_convergence=True, tol=1e-9
        )


def test_eigenvector_certificate_silent_at_fixpoint(spark):
    # symmetric triangle: the uniform start IS the principal eigenvector
    scores = eigenvector_centrality(
        _sym_triangle(spark), iterations=2, check_convergence=True, tol=1e-9
    ).collect()
    for r in scores:
        assert r["score"] == pytest.approx(3 ** -0.5, abs=1e-9)


def test_personalized_pagerank_raises_below_tol_budget(spark):
    with pytest.raises(ConvergenceError, match="personalized_pagerank"):
        personalized_pagerank(
            _star(spark), 0, iterations=1, check_convergence=True, tol=1e-9
        )


def test_personalized_pagerank_certificate_silent_when_converged(spark):
    # restart 0.9 contracts the error tenfold per round: 10 rounds
    # settle far below tol
    ranks = personalized_pagerank(
        _sym_triangle(spark),
        1,
        restart=0.9,
        iterations=10,
        check_convergence=True,
        tol=1e-6,
    ).collect()
    assert sum(r["rank"] for r in ranks) == pytest.approx(1.0, abs=1e-9)


def test_weighted_pagerank_raises_below_tol_budget(spark):
    e = _star(spark).withColumn("weight", F.col("src") + F.col("dst"))
    with pytest.raises(ConvergenceError, match="weighted_pagerank"):
        weighted_pagerank(e, iterations=1, check_convergence=True, tol=1e-9)


def test_weighted_pagerank_certificate_silent_when_converged(spark):
    # equal weights on a symmetric triangle: uniform is stationary
    ranks = weighted_pagerank(
        _sym_triangle(spark, weighted=True),
        iterations=2,
        check_convergence=True,
        tol=1e-9,
    ).collect()
    for r in ranks:
        assert r["rank"] == pytest.approx(1 / 3, abs=1e-9)


def _lpa_graph(spark):
    # two triangles joined by one edge, plus a two-edge tail: round 4
    # is the last round that changes a label, so budget 4 lands exactly
    # on the fixpoint
    return small_local_df(
        spark,
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (1, 7), (7, 8)],
        "src bigint, dst bigint",
    )


def _triangle(spark):
    return small_local_df(spark, [(0, 1), (1, 2), (2, 0)], "src bigint, dst bigint")


def _fan_cycle(spark):
    # cycle 0->1->2->3->4->0 plus chords 0->2, 0->3, 0->4: the forward
    # coloring reaches every vertex in one round, but the backward
    # collect from root 0 needs four hops (4, 3, 2, then 1)
    return small_local_df(
        spark,
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (0, 2), (0, 3), (0, 4)],
        "src bigint, dst bigint",
    )


def _two_cycle_tail(spark):
    # 2-cycle 0<->1 feeding the chain 1->9->8->7->6 (with chords out of
    # 0): one outer round retires the cycle and the trimmed sink 6, and
    # the leftover chain 9->8->7 is acyclic, so its own-id labels are
    # already the converged answer
    return small_local_df(
        spark,
        [(0, 1), (1, 0), (1, 9), (9, 8), (8, 7), (7, 6), (0, 9), (0, 8), (0, 7)],
        "src bigint, dst bigint",
    )


# name -> (graph, run(edges, budget, check_convergence), budgets)
EXACTNESS_CASES = {
    "cc_path10": (
        lambda spark: _path_graph(spark, 10),
        lambda e, b, check: connected_components(
            e, max_iter=b, check_convergence=check
        ),
        range(6),
    ),
    "lpa_two_triangles_tail": (
        _lpa_graph,
        lambda e, b, check: label_propagation(
            e, iterations=b, check_convergence=check
        ),
        range(6),
    ),
    # path 0-1-...-9 with k=2: every round peels both endpoints
    "kcore_path9": (
        lambda spark: _path_graph(spark, 9),
        lambda e, b, check: kcore(e, k=2, n_iter=b, check_convergence=check),
        range(7),
    ),
    # a triangle is its own 2-core: converged at any budget
    "kcore_triangle": (
        _triangle,
        lambda e, b, check: kcore(e, k=2, n_iter=b, check_convergence=check),
        range(3),
    ),
    # path 0-1-2-3-4 from 0: hop 4 is the last that finds a vertex
    "bfs_path4": (
        lambda spark: _path_graph(spark, 4),
        lambda e, b, check: bfs_hops(e, [0], max_iter=b, check_convergence=check),
        range(7),
    ),
    # the end vertices need four hops to reach each other
    "closeness_path4": (
        lambda spark: _path_graph(spark, 4),
        lambda e, b, check: closeness_centrality(
            e, max_iter=b, check_convergence=check
        ),
        range(6),
    ),
    "scc_fan_cycle": (
        _fan_cycle,
        lambda e, b, check: strongly_connected_components(
            e, max_iter=b, check_convergence=check
        ),
        range(7),
    ),
    "scc_two_cycle_tail": (
        _two_cycle_tail,
        lambda e, b, check: strongly_connected_components(
            e, max_iter=b, check_convergence=check
        ),
        range(5),
    ),
    "sssp_costed_path": (
        _costed_path,
        lambda e, b, check: shortest_paths(
            e, 0, iterations=b, check_convergence=check
        ),
        range(5),
    ),
}


@pytest.mark.parametrize("case", sorted(EXACTNESS_CASES))
def test_fixpoint_certificate_is_exact(spark, case):
    """For every budget, ``check_convergence=True`` raises iff that
    budget's answer (flag off) differs from the converged answer — no
    false alarm when a budget lands exactly on the fixpoint, and no
    silent truncation."""
    graph, run, budgets = EXACTNESS_CASES[case]
    e = graph(spark)

    def answer(budget):
        return sorted(tuple(r) for r in run(e, budget, False).collect())

    converged = answer(50)
    wrong = []
    for b in budgets:
        truncated = answer(b) != converged
        try:
            run(e, b, True).collect()
            raised = False
        except ConvergenceError:
            raised = True
        if raised != truncated:
            wrong.append((b, truncated, raised))
    assert not wrong, f"(budget, truncated, raised): {wrong}"
