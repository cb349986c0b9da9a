"""Graph operators (SURVEY.md §2.14) on hand-checked synthetic graphs."""

from __future__ import annotations

import pytest

from pandrs_spark.operators.graph import (
    _frontier_walk,
    bfs_hops,
    connected_components,
    degrees,
    pagerank,
    symmetrize,
    triangle_count,
)
from pandrs_spark.operators.util import scoped_conf, small_local_df


@pytest.fixture()
def two_component_graph(spark):
    # component A: 1-2-3 triangle; component B: 4-5 edge; 6 isolated via self-loop
    return small_local_df(
        spark, [(1, 2), (2, 3), (3, 1), (4, 5), (6, 6)], "src bigint, dst bigint"
    )


def test_degrees(spark):
    e = small_local_df(spark, [(1, 2), (1, 3), (2, 3)], "src bigint, dst bigint")
    rows = {r["id"]: r for r in degrees(e).collect()}
    assert rows[1]["out_degree"] == 2 and rows[1]["in_degree"] == 0
    assert rows[3]["in_degree"] == 2 and rows[3]["degree"] == 2
    assert rows[2]["degree"] == 2


def test_symmetrize_drops_self_loops(two_component_graph):
    und = symmetrize(two_component_graph)
    pairs = {(r["src"], r["dst"]) for r in und.collect()}
    assert (6, 6) not in pairs
    assert (2, 1) in pairs and (1, 2) in pairs


def test_connected_components(two_component_graph):
    comp = {r["id"]: r["component"] for r in connected_components(two_component_graph).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == comp[5] == 4
    assert 6 not in comp  # self-loop-only vertex has no edges after closure


def test_frontier_walk_leaves_aqe_setting_unchanged(spark):
    """The walk plans its rounds with AQE off and puts the session's
    setting back on return, and also when a hop fails to plan (here:
    edges without a ``dst`` column)."""
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    e = small_local_df(spark, [(1, 2), (2, 3)], "src bigint, dst bigint")
    assert {r["id"]: r["hops"] for r in bfs_hops(e, [1]).collect()} == {
        1: 0,
        2: 1,
        3: 2,
    }
    assert spark.conf.get(key) == before
    no_dst = small_local_df(spark, [(1, 2)], "src bigint, nbr bigint")
    seeds = small_local_df(spark, [(1,)], "id bigint")
    with pytest.raises(Exception, match="dst"):
        _frontier_walk(no_dst, seeds, ["id"], 3)
    assert spark.conf.get(key) == before


def test_scoped_conf_unsets_a_key_it_found_unset(spark):
    key = "spark.pandrs.test.scoped"
    assert spark.conf.get(key, None) is None
    with pytest.raises(ValueError):
        with scoped_conf(spark, key, "on"):
            assert spark.conf.get(key) == "on"
            raise ValueError
    assert spark.conf.get(key, None) is None


def test_scoped_conf_overlapping_scopes_restore_the_original(spark):
    """Nested scopes restore the enclosing scope's value; scopes that
    close out of order (two threads sharing the session) leave the
    latest open value, and the last to close restores the original."""
    key = "spark.pandrs.test.overlap"
    with scoped_conf(spark, key, "outer"):
        with scoped_conf(spark, key, "inner"):
            assert spark.conf.get(key) == "inner"
        assert spark.conf.get(key) == "outer"
    assert spark.conf.get(key, None) is None
    first, second = scoped_conf(spark, key, "a"), scoped_conf(spark, key, "b")
    first.__enter__()
    second.__enter__()
    first.__exit__(None, None, None)
    assert spark.conf.get(key) == "b"
    second.__exit__(None, None, None)
    assert spark.conf.get(key, None) is None


def test_pagerank_uniform_on_symmetric_cycle(spark):
    # symmetric triangle: stationary distribution is uniform
    e = symmetrize(
        small_local_df(spark, [(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint")
    )
    ranks = {r["id"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
    for v in (1, 2, 3):
        assert ranks[v] == pytest.approx(1 / 3, abs=1e-9)


def test_pagerank_mass_conserved(two_component_graph):
    ranks = pagerank(symmetrize(two_component_graph), iterations=4).collect()
    assert sum(r["rank"] for r in ranks) == pytest.approx(1.0, abs=1e-9)


def test_bfs_hops_chain(spark):
    e = small_local_df(spark, [(1, 2), (2, 3), (3, 4)], "src bigint, dst bigint")
    hops = {r["id"]: r["hops"] for r in bfs_hops(e, [1]).collect()}
    assert hops == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_unreachable_absent(two_component_graph):
    hops = {r["id"]: r["hops"] for r in bfs_hops(two_component_graph, [1]).collect()}
    assert set(hops) == {1, 2, 3}  # component B never reached


def test_triangle_count(spark):
    # one triangle + one dangling edge
    e = small_local_df(
        spark, [(1, 2), (2, 3), (3, 1), (3, 4)], "src bigint, dst bigint"
    )
    assert triangle_count(e).first()["n_triangles"] == 1


def test_triangle_count_k4(spark):
    # K4 has 4 triangles
    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    e = small_local_df(spark, edges, "src bigint, dst bigint")
    assert triangle_count(e).first()["n_triangles"] == 4


def test_clustering_coefficient(spark):
    from pandrs_spark.operators.graph import clustering_coefficient

    # triangle 1-2-3 plus pendant 4 attached to 3
    e = small_local_df(
        spark, [(1, 2), (2, 3), (3, 1), (3, 4)], "src bigint, dst bigint"
    )
    rows = {r["id"]: r for r in clustering_coefficient(e).collect()}
    assert rows[1]["lcc"] == 1.0 and rows[2]["lcc"] == 1.0
    assert rows[3]["deg"] == 3 and rows[3]["lcc"] == pytest.approx(1 / 3)
    assert rows[4]["lcc"] == 0.0


def test_label_propagation_two_cliques(spark):
    from pandrs_spark.operators.graph import label_propagation

    # two disjoint triangles: each converges to its min vertex id
    # (synchronous rounds; min tie-break makes the result deterministic)
    e = small_local_df(
        spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)],
        "src bigint, dst bigint",
    )
    rows = {r["id"]: r["label"] for r in label_propagation(e, iterations=4).collect()}
    assert rows[1] == rows[2] == rows[3] == 1
    assert rows[10] == rows[11] == rows[12] == 10


def test_modularity_two_components(spark):
    from pandrs_spark.operators.graph import modularity, symmetrize

    # two disjoint triangles; perfect partition: Q = sum_c 1/2 - 1/4 = 1/2
    e = small_local_df(
        spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)],
        "src bigint, dst bigint",
    )
    und = symmetrize(e)
    comm = small_local_df(
        spark, [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10)], "id bigint, community bigint"
    )
    rows = {r["community"]: r for r in modularity(und, comm).collect()}
    assert rows[1]["intra_edges"] == 6 and rows[1]["degree_sum"] == 6
    assert rows[1]["contribution"] == pytest.approx(0.25)
    assert rows[10]["contribution"] == pytest.approx(0.25)


def test_modularity_single_community_is_zero(spark):
    from pandrs_spark.operators.graph import modularity, symmetrize

    e = small_local_df(spark, [(1, 2), (2, 3)], "src bigint, dst bigint")
    und = symmetrize(e)
    comm = small_local_df(spark, [(1, 0), (2, 0), (3, 0)], "id bigint, community bigint")
    row = modularity(und, comm).first()
    assert row["contribution"] == pytest.approx(0.0)


# -- closeness / eigenvector / Katz / HITS / weighted SSSP --------------------
def test_closeness_path_graph(spark):
    # path 1-2-3: center is closer to everyone
    from pandrs_spark.operators.graph import closeness_centrality

    e = small_local_df(spark, [(1, 2), (2, 3)], "src bigint, dst bigint")
    rows = {r["id"]: r for r in closeness_centrality(e).collect()}
    assert rows[2]["closeness"] == pytest.approx(1.0)       # 2/(1+1)
    assert rows[1]["closeness"] == pytest.approx(2 / 3)     # 2/(1+2)
    assert rows[1]["n_reached"] == 2


def test_closeness_landmark_roots(spark):
    from pandrs_spark.operators.graph import closeness_centrality

    e = small_local_df(spark, [(1, 2), (2, 3)], "src bigint, dst bigint")
    roots = small_local_df(spark, [(2,)], "id bigint")
    rows = closeness_centrality(e, roots=roots).collect()
    assert len(rows) == 1 and rows[0]["id"] == 2


def test_eigenvector_star_center_dominates(spark):
    from pandrs_spark.operators.graph import eigenvector_centrality

    e = small_local_df(spark, [(0, 1), (0, 2), (0, 3)], "src bigint, dst bigint")
    s = {r["id"]: r["score"] for r in eigenvector_centrality(e, iterations=8).collect()}
    assert s[0] > s[1] and s[1] == pytest.approx(s[2]) == pytest.approx(s[3])
    # L2 norm 1
    assert sum(v * v for v in s.values()) == pytest.approx(1.0, abs=1e-9)


def test_katz_in_degree_ordering(spark):
    from pandrs_spark.operators.graph import katz_centrality

    # 1->3, 2->3, 3->4: vertex 4 inherits 3's mass, 3 has two in-edges
    e = small_local_df(spark, [(1, 3), (2, 3), (3, 4)], "src bigint, dst bigint")
    s = {r["id"]: r["score"] for r in katz_centrality(e, iterations=8).collect()}
    assert s[3] > s[1] == pytest.approx(s[2]) == pytest.approx(1.0)
    assert s[4] > s[1]


def test_hits_bipartite_hubs_vs_authorities(spark):
    from pandrs_spark.operators.graph import hits

    # 1,2 point at 3,4: 1,2 are pure hubs; 3,4 pure authorities
    e = small_local_df(
        spark, [(1, 3), (1, 4), (2, 3), (2, 4)], "src bigint, dst bigint"
    )
    rows = {r["id"]: r for r in hits(e, iterations=5).collect()}
    assert rows[1]["hub"] == pytest.approx(rows[2]["hub"])
    assert rows[1]["hub"] > 0.5
    assert rows[3]["authority"] == pytest.approx(rows[4]["authority"])
    assert rows[3]["authority"] > 0.5
    assert rows[1]["authority"] == pytest.approx(0.0)
    assert rows[3]["hub"] == pytest.approx(0.0)


def test_shortest_paths_weighted(spark):
    from pandrs_spark.operators.graph import shortest_paths

    # direct 1->3 costs 10; detour 1->2->3 costs 3; 4 unreachable
    e = small_local_df(
        spark, [(1, 3, 10), (1, 2, 1), (2, 3, 2), (4, 1, 5)],
        "src bigint, dst bigint, cost bigint",
    )
    d = {r["id"]: r["dist"] for r in shortest_paths(e, 1, iterations=5).collect()}
    assert d[1] == 0 and d[2] == 1 and d[3] == 3
    assert d[4] is None


def test_scc_two_cycles_and_bridge(spark):
    from pandrs_spark.operators.graph import strongly_connected_components

    # cycle {1,2,3}, cycle {4,5}, one-way bridge 3->4
    e = small_local_df(
        spark, [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4), (3, 4)],
        "src bigint, dst bigint",
    )
    comp = {r["id"]: r["component"] for r in strongly_connected_components(e).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[4] == comp[5] == 4
    assert comp[1] != comp[4]  # the bridge is one-way: separate SCCs


def test_betweenness_path_and_star(spark):
    from pandrs_spark.operators.graph import betweenness_centrality

    # path 1-2-3: only the middle vertex lies between others
    path = small_local_df(spark, [(1, 2), (2, 3)], "src bigint, dst bigint")
    b = {r["id"]: r["betweenness"] for r in betweenness_centrality(path).collect()}
    assert b[2] == pytest.approx(1.0)
    assert b[1] == pytest.approx(0.0) and b[3] == pytest.approx(0.0)

    # star with center 0 and 3 leaves: center carries all 3 leaf pairs
    star = small_local_df(spark, [(0, 1), (0, 2), (0, 3)], "src bigint, dst bigint")
    b = {r["id"]: r["betweenness"] for r in betweenness_centrality(star).collect()}
    assert b[0] == pytest.approx(3.0)
    assert b[1] == pytest.approx(0.0)


def test_betweenness_bridge_graph(spark):
    from pandrs_spark.operators.graph import betweenness_centrality

    # two triangles joined by bridge 3-4: bridge endpoints score highest
    e = small_local_df(
        spark, [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)],
        "src bigint, dst bigint",
    )
    b = {r["id"]: r["betweenness"] for r in betweenness_centrality(e).collect()}
    # vertex 3: all paths from {1,2} to {4,5,6} (6 ordered pairs / 2 = 3... )
    # pairs through 3: (1,4),(1,5),(1,6),(2,4),(2,5),(2,6) -> 6; plus none inside
    assert b[3] == pytest.approx(b[4])
    assert b[3] > b[1] and b[3] > b[5]


def test_louvain_two_triangles(spark):
    from pandrs_spark.operators.graph import louvain

    # two triangles joined by one bridge: Louvain splits at the bridge
    e = small_local_df(
        spark, [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)],
        "src bigint, dst bigint",
    )
    comm = {r["id"]: r["community"] for r in louvain(e).collect()}
    assert comm[1] == comm[2] == comm[3]
    assert comm[4] == comm[5] == comm[6]
    assert comm[1] != comm[4]


def test_louvain_improves_modularity(spark):
    from pandrs_spark.operators.graph import louvain, modularity, symmetrize

    e = small_local_df(
        spark, [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (1, 4), (2, 5)],
        "src bigint, dst bigint",
    )
    und = symmetrize(e)
    comm = louvain(e)
    from pyspark.sql import functions as F

    q = modularity(und, comm).agg(F.sum("contribution")).first()[0]
    # singleton partition has Q < 0; any sane clustering is positive
    assert q > 0.2


def test_from_adjacency(spark):
    from pandrs_spark.operators.graph import connected_components, from_adjacency

    m = small_local_df(
        spark, [(1, 2, 1.0), (2, 3, 2.0), (3, 3, 9.0), (4, 5, 0.0), (5, 6, 3.0)],
        "row bigint, col bigint, w double",
    )
    e = from_adjacency(m, directed=False)
    got = {(r["src"], r["dst"], r["weight"]) for r in e.collect()}
    assert (1, 2, 1.0) in got and (2, 1, 1.0) in got  # symmetric closure
    assert not any(s == d for s, d, _ in got)  # self-loop dropped
    assert not any((s, d) == (4, 5) for s, d, _ in got)  # zero weight dropped
    comp = {r["id"]: r["component"] for r in connected_components(e).collect()}
    assert comp[1] == comp[2] == comp[3]
    assert comp[5] == comp[6] != comp[1]


def test_dfs_preorder_deterministic(spark):
    from pandrs_spark.operators.graph import dfs_preorder

    # component A: 1-2, 1-3, 2-4 (tree); component B: 10-11
    edges = small_local_df(
        spark, [(1, 2), (1, 3), (2, 4), (10, 11)], "src long, dst long"
    )
    rows = {r["id"]: r for r in dfs_preorder(edges).collect()}
    # preorder from 1, ascending neighbors: 1, 2, 4 (deep first), 3
    assert [rows[i]["dfs_order"] for i in (1, 2, 4, 3)] == [0, 1, 2, 3]
    assert rows[10]["dfs_order"] == 0 and rows[11]["dfs_order"] == 1
    assert rows[10]["component"] == 10 and rows[4]["component"] == 1


def test_kcore_peels_below_k(spark):
    from pandrs_spark.operators.graph import kcore

    # clique {1,2,3,4} (deg 3 each) + pendant chain 4-5-6
    edges = small_local_df(
        spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "src long, dst long",
    )
    core = {r["id"]: r["core_degree"] for r in kcore(edges, k=3, n_iter=6).collect()}
    assert set(core) == {1, 2, 3, 4}
    assert all(v == 3 for v in core.values())
    assert kcore(edges, k=4, n_iter=6).count() == 0


def test_neighborhood_jaccard_exact(spark):
    from pandrs_spark.operators.graph import neighborhood_jaccard

    # 1 and 2 share both neighbors {3,4}; union = {3,4,(each other? no)}
    edges = small_local_df(
        spark, [(1, 3), (1, 4), (2, 3), (2, 4), (5, 3)], "src long, dst long"
    )
    got = {
        (r["id_a"], r["id_b"]): (r["common"], r["jaccard"])
        for r in neighborhood_jaccard(edges).collect()
    }
    assert got[(1, 2)] == (2, 1.0)  # N(1)=N(2)={3,4}
    assert got[(1, 5)][0] == 1 and abs(got[(1, 5)][1] - 1 / 2) < 1e-6


def test_scc_coloring_matches_allpairs_on_random_digraph(spark):
    """The coloring/trim default and the exact_small_graph all-pairs
    path must agree vertex-for-vertex on an arbitrary digraph."""
    import random

    from pandrs_spark.operators.graph import strongly_connected_components

    rng = random.Random(20260814)
    edges = list({(rng.randrange(15), rng.randrange(15)) for _ in range(40)})
    e = small_local_df(spark, edges, "src bigint, dst bigint")
    color = {
        r["id"]: r["component"]
        for r in strongly_connected_components(e).collect()
    }
    exact = {
        r["id"]: r["component"]
        for r in strongly_connected_components(
            e, exact_small_graph=True
        ).collect()
    }
    assert color == exact


def test_scc_coloring_scales_past_allpairs(spark):
    """VERDICT r5 #1: the default SCC must carry O(V+E) state, not the
    all-pairs O(V^2) visited set. Two 5k-vertex star SCCs (all-pairs
    would materialize ~50M (root,id) rows; coloring state stays ~10k)
    plus a one-way bridge and a dangling chain, solved exactly."""
    from pandrs_spark.operators.graph import strongly_connected_components

    edges = []
    for hub, lo, n in ((0, 1, 4999), (10000, 10001, 4999)):
        for i in range(lo, lo + n):
            edges.append((hub, i))
            edges.append((i, hub))
    edges.append((5, 10005))  # one-way bridge: SCCs stay separate
    edges += [(20000, 20001), (20001, 20002), (20002, 0)]  # dangling chain
    e = small_local_df(spark, edges, "src bigint, dst bigint").repartition(8)
    comp = {
        r["id"]: r["component"]
        for r in strongly_connected_components(e, max_iter=12).collect()
    }
    assert len(comp) == 10003
    assert all(comp[i] == 0 for i in range(0, 5000))
    assert all(comp[i] == 10000 for i in range(10000, 15000))
    for v in (20000, 20001, 20002):
        assert comp[v] == v  # chain vertices are singleton SCCs


def test_personalized_pagerank_localizes_to_seed(spark):
    """Mass concentrates near the seed: on a path graph 1-2-3-4-5
    seeded at 1, rank decays monotonically with distance beyond the
    seed's neighborhood (the degree-1 seed itself can be out-ranked by
    its hub neighbor at low restart — that IS the stationary walk), and
    ranks sum to ~1 (no dangling on the symmetric closure)."""
    from pandrs_spark.operators.graph import personalized_pagerank, symmetrize

    edges = small_local_df(
        spark, [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    und = symmetrize(edges)
    out = {r["id"]: r["rank"] for r in personalized_pagerank(und, 1, iterations=20).collect()}
    assert out[2] > out[3] > out[4] > out[5]
    assert out[1] > out[3]  # seed beats everything outside its 1-hop
    assert abs(sum(out.values()) - 1.0) < 1e-6
    # at a high restart probability the seed itself dominates
    hi = {r["id"]: r["rank"] for r in personalized_pagerank(und, 1, restart=0.5, iterations=20).collect()}
    assert hi[1] > hi[2] > hi[3] > hi[4] > hi[5]


def test_personalized_pagerank_dangling_returns_to_seed(spark):
    """On a directed edge 1->2 (2 dangling), mass teleports back to the
    seed instead of leaking: ranks still sum to ~1."""
    from pandrs_spark.operators.graph import personalized_pagerank

    edges = small_local_df(spark, [(1, 2)], "src long, dst long")
    out = {r["id"]: r["rank"] for r in personalized_pagerank(edges, 1, iterations=15).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-3
    assert out[1] > out[2]


def test_rich_club_star_vs_clique(spark):
    from pandrs_spark.operators.graph import rich_club_coefficient

    # K5 clique (everyone degree 4) + pendant chain: at k=2 the rich
    # set is the clique, fully connected -> phi = 1
    k5 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    g = k5 + [(5, 6), (6, 7)]
    e = small_local_df(spark, g, "src long, dst long")
    rows = {r["k"]: r for r in rich_club_coefficient(e, ks=(2, 4)).collect()}
    assert rows[2]["n_rich"] == 5 and rows[2]["e_rich"] == 10
    assert rows[2]["phi"] == 1.0
    # k=4: nobody has degree > 4 except vertex 5 (degree 5) -> n_rich=1 -> NULL
    assert rows[4]["n_rich"] == 1 and rows[4]["phi"] is None


def test_edge_embeddedness_triangle_and_bridge(spark):
    from pandrs_spark.operators.graph import edge_embeddedness

    # triangle 1-2-3 plus bridge 3-4: triangle edges have 1 common
    # neighbor, the bridge has 0 (and must still appear)
    e = small_local_df(
        spark, [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    got = {(r["u"], r["v"]): r["embeddedness"] for r in edge_embeddedness(e).collect()}
    assert got[(1, 2)] == 1 and got[(2, 3)] == 1 and got[(1, 3)] == 1
    assert got[(3, 4)] == 0
