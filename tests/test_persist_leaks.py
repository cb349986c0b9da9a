"""Persist-leak fence (VERDICT r5 #8).

Operators may persist intermediates that the RETURNED DataFrame's
lineage still needs — those must be registered via
``operators.util.tracked_persist`` so ``release_persisted()`` frees
them after materialization. Operators whose persists are purely
internal must unpersist before returning. Either way, after

    materialize -> release_persisted()

the Spark CacheManager must be EMPTY, or a long-running session
accumulates cached partitions query after query (the check_oracle
sweep asserts the same invariant across the whole 325-query registry;
this fence localizes a failure to the operator that caused it).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandrs_spark.operators.util import small_local_df


def _cache_empty(spark) -> bool:
    return bool(spark._jsparkSession.sharedState().cacheManager().isEmpty())


def _edges(spark):
    return small_local_df(
        spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 4), (2, 5), (6, 1)],
        "src bigint, dst bigint",
    )


def _points(spark):
    return small_local_df(
        spark, [(i, float(i % 5), float((i * 3) % 7)) for i in range(30)],
        "id long, x double, y double",
    )


def _grouped(spark):
    return small_local_df(
        spark, [(float(i % 11), "abc"[i % 3]) for i in range(60)],
        "v double, g string",
    )


def _docs(spark):
    return small_local_df(
        spark, [(i, "alpha beta gamma delta epsilon zeta " * 3) for i in range(20)],
        "doc_id long, text string",
    )


def _graph_case(fn_name, *args, **kw):
    def build(spark):
        import pandrs_spark.operators.graph as G

        e = _edges(spark)
        if fn_name == "shortest_paths":
            e = e.withColumn("cost", (F.col("src") + F.col("dst")) % 3 + 1)
        if fn_name == "weighted_pagerank":
            e = e.withColumn("weight", (F.col("src") * F.col("dst")) % 4 + 1)
        return getattr(G, fn_name)(e, *args, **kw)

    return build


def _case_dbscan(spark):
    from pandrs_spark.operators.ml import dbscan_2d

    return dbscan_2d(_points(spark), "id", "x", "y", eps=2.0, min_pts=3)


def _case_lof(spark):
    from pandrs_spark.operators.ml import local_outlier_factor

    return local_outlier_factor(_points(spark), "id", "x", "y", k=3, method="grid", eps=10.0)


def _case_mwu(spark):
    from pandrs_spark.operators.hypothesis import mann_whitney_u

    two = _grouped(spark).filter(F.col("g") != "c")
    return mann_whitney_u(two, "v", "g", "a", "b")


def _case_kruskal(spark):
    from pandrs_spark.operators.hypothesis import kruskal_wallis

    return kruskal_wallis(_grouped(spark), "v", "g")


def _case_prefix_sum(spark):
    from pandrs_spark.operators.windows import global_prefix_sum

    return global_prefix_sum(_grouped(spark), [F.col("v"), F.col("g")], "v")


def _case_prefix_counts(spark):
    from pandrs_spark.operators.windows import global_prefix_counts

    df = _grouped(spark).withColumn("one", F.lit(1))
    return global_prefix_counts(df, [F.col("v"), F.col("g")], {"c1": "one"})


def _case_row_number(spark):
    from pandrs_spark.operators.windows import global_row_number

    return global_row_number(_grouped(spark), [F.col("v"), F.col("g")])


def _case_boilerplate(spark):
    from pandrs_spark.operators.text import remove_boilerplate_segments

    return remove_boilerplate_segments(_docs(spark))


def _case_unigram(spark):
    from pandrs_spark.operators.text import unigram_logprob_score

    return unigram_logprob_score(_docs(spark))


def _case_sort_positions(spark):
    from pandrs_spark.frame import Frame

    return Frame(_grouped(spark)).sort_values(["v", "g"]).spark


CASES = {
    "connected_components": _graph_case("connected_components"),
    "strongly_connected_components": _graph_case("strongly_connected_components"),
    "pagerank": _graph_case("pagerank", iterations=3),
    "personalized_pagerank": _graph_case("personalized_pagerank", 1, iterations=3),
    "weighted_pagerank": _graph_case("weighted_pagerank", iterations=3),
    "bfs_hops": _graph_case("bfs_hops", [1]),
    "triangle_count": _graph_case("triangle_count"),
    "clustering_coefficient": _graph_case("clustering_coefficient"),
    "label_propagation": _graph_case("label_propagation", iterations=3),
    "closeness_centrality": _graph_case("closeness_centrality"),
    "eigenvector_centrality": _graph_case("eigenvector_centrality", iterations=3),
    "katz_centrality": _graph_case("katz_centrality", iterations=3),
    "hits": _graph_case("hits", iterations=3),
    "shortest_paths": _graph_case("shortest_paths", 1, iterations=4),
    "betweenness_centrality": _graph_case("betweenness_centrality"),
    "louvain": _graph_case("louvain", iterations=2),
    "louvain_no_rounds": _graph_case("louvain", iterations=0),
    "kcore": _graph_case("kcore", k=2, n_iter=4),
    "k_truss": _graph_case("k_truss", k=3, n_iter=2),
    "dbscan_2d": _case_dbscan,
    "local_outlier_factor": _case_lof,
    "mann_whitney_u": _case_mwu,
    "kruskal_wallis": _case_kruskal,
    "global_prefix_sum": _case_prefix_sum,
    "global_prefix_counts": _case_prefix_counts,
    "global_row_number": _case_row_number,
    "remove_boilerplate_segments": _case_boilerplate,
    "unigram_logprob_score": _case_unigram,
    "frame_sort_positions": _case_sort_positions,
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_operator_releases_all_cache(spark, name):
    from pandrs_spark.frame import release_persisted

    spark.catalog.clearCache()
    release_persisted()
    assert _cache_empty(spark), "cache dirty before test — fixture bug"
    out = CASES[name](spark)
    out.collect()
    release_persisted()
    assert _cache_empty(spark), (
        f"{name}: CacheManager not empty after release_persisted() — "
        "an internal persist is neither unpersisted nor tracked"
    )
