"""Graph query batch (SURVEY.md §2.14) over the nation trade graph.

Graph construction: nations are vertices; a directed edge (c_nation →
s_nation) exists when customers of one nation bought from suppliers of
another (customer ⋈ orders ⋈ lineitem ⋈ supplier), weighted by line
count. The "strong" subgraph keeps pairs with above-average weight —
deterministic at any scale factor.

The reference's graph algorithms are single-threaded adjacency walks
(/root/reference src/graph/centrality.rs, components.rs, path.rs);
here each is an iterative DataFrame program (operators/graph.py) whose
oracles are DuckDB recursive CTEs.

Scale: the edge-building join chains through orders/lineitem (the two
big tables) with nation-cardinality output — partial aggregation
collapses it before the shuffle; dims broadcast.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pandrs_spark.operators.util import tracked_persist

from pandrs_spark.catalog import load_table as T
from pandrs_spark.functions.deterministic import dsum, sql_quantize
from pandrs_spark.operators.graph import (
    _frontier_walk,
    bfs_hops,
    connected_components,
    degrees,
    pagerank,
    symmetrize,
    triangle_count,
)
from pandrs_spark.queries import query

# Shared SQL fragments for the oracle side -----------------------------------
_TRADE = """
trade AS MATERIALIZED (
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS cnt
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE c.c_nationkey <> s.s_nationkey
    GROUP BY src, dst
)
"""

_STRONG = _TRADE + """,
strong AS MATERIALIZED (
    SELECT src, dst FROM trade WHERE cnt > (SELECT AVG(cnt) FROM trade)
),
und AS MATERIALIZED (
    -- DISTINCT over UNION ALL, not bare UNION: inside WITH RECURSIVE,
    -- DuckDB 1.0 stops deduplicating UNION in non-recursive CTEs, which
    -- silently doubles reciprocal edges.
    SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM strong
        UNION ALL
        SELECT dst, src FROM strong
    ) t
)
"""


def _trade_edges(spark, sf_dir):
    """Directed nation→nation trade edges with weights."""
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("cnt"))
    )


def _strong_edges(spark, sf_dir):
    # Persisted before the probe: the average is a driver action over
    # the four-way join on lineitem, and every caller then runs the
    # strong edges themselves; unpersisted, the join ran twice (q69 at
    # sf0.1: 10 -> 7 Spark jobs for this helper).
    trade = tracked_persist(_trade_edges(spark, sf_dir))
    avg_cnt = trade.agg(F.avg("cnt")).first()[0]
    return trade.filter(F.col("cnt") > avg_cnt).select("src", "dst")


# --- q65: degree centrality (centrality.rs:33,55,77) ------------------------
@query(
    "q65_nation_trade_degrees",
    oracle=f"""
    WITH {_TRADE}
    SELECT v.id,
           COALESCE(o.out_degree, 0) AS out_degree,
           COALESCE(i.in_degree, 0) AS in_degree,
           COALESCE(o.out_degree, 0) + COALESCE(i.in_degree, 0) AS degree,
           COALESCE(o.out_weight, 0) + COALESCE(i.in_weight, 0) AS strength
    FROM (SELECT src AS id FROM trade UNION SELECT dst FROM trade) v
    LEFT JOIN (SELECT src AS id, COUNT(*) AS out_degree,
                      CAST(SUM(cnt) AS BIGINT) AS out_weight
               FROM trade GROUP BY src) o USING (id)
    LEFT JOIN (SELECT dst AS id, COUNT(*) AS in_degree,
                      CAST(SUM(cnt) AS BIGINT) AS in_weight
               FROM trade GROUP BY dst) i USING (id)
    ORDER BY id
    """,
)
def q65(spark, sf_dir):
    trade = tracked_persist(_trade_edges(spark, sf_dir))
    deg = degrees(trade, "src", "dst")
    strength = (
        trade.select(F.col("src").alias("id"), "cnt")
        .union(trade.select(F.col("dst").alias("id"), "cnt"))
        .groupBy("id")
        .agg(F.sum("cnt").alias("strength"))
    )
    return deg.join(strength, "id").orderBy("id")


# --- q66: triangle count on the strong subgraph -----------------------------
@query(
    "q66_trade_triangles",
    oracle=f"""
    WITH {_STRONG},
    canon AS (SELECT DISTINCT src, dst FROM und WHERE src < dst)
    SELECT COUNT(*) AS n_triangles
    FROM canon ab
    JOIN canon bc ON bc.src = ab.dst
    JOIN canon ac ON ac.src = ab.src AND ac.dst = bc.dst
    """,
)
def q66(spark, sf_dir):
    return triangle_count(_strong_edges(spark, sf_dir))


# --- q67: connected components (components.rs:70) ---------------------------
@query(
    "q67_trade_components",
    oracle=f"""
    WITH RECURSIVE {_STRONG},
    reach(a, b) AS (
        SELECT src, dst FROM und
        UNION
        SELECT r.a, u.dst FROM reach r JOIN und u ON r.b = u.src
    ),
    verts AS (SELECT DISTINCT src AS id FROM und)
    SELECT v.id, LEAST(v.id, MIN(r.b)) AS component
    FROM verts v LEFT JOIN reach r ON r.a = v.id
    GROUP BY v.id
    ORDER BY v.id
    """,
)
def q67(spark, sf_dir):
    return connected_components(
        _strong_edges(spark, sf_dir), check_convergence=True
    ).orderBy("id")


# --- q68: PageRank, 10 fixed iterations (centrality.rs:250) -----------------
# Recursive-CTE aggregation is not portable (DuckDB's working-table
# semantics diverge from the textbook power method), so the oracle
# unrolls the 10 iterations as chained CTEs — plain ANSI SQL.
def _pagerank_oracle(iterations: int = 10) -> str:
    steps = []
    for k in range(1, iterations + 1):
        steps.append(
            f"""pr{k} AS (
        SELECT v.id,
               0.15 / (SELECT n FROM nv) + 0.85 * COALESCE(m.mass, 0) AS rank
        FROM verts v LEFT JOIN (
            SELECT u.dst AS id, SUM(p.rank / o.d) AS mass
            FROM pr{k - 1} p
            JOIN und u ON u.src = p.id
            JOIN outdeg o ON o.src = p.id
            GROUP BY u.dst
        ) m ON m.id = v.id
    )"""
        )
    chained = ",\n    ".join(steps)
    return f"""
    WITH {_STRONG},
    verts AS (SELECT DISTINCT src AS id FROM und),
    nv AS (SELECT COUNT(*) AS n FROM verts),
    outdeg AS (SELECT src, COUNT(*) AS d FROM und GROUP BY src),
    pr0 AS (SELECT id, 1.0 / (SELECT n FROM nv) AS rank FROM verts),
    {chained}
    SELECT id, ROUND(rank, 6) AS rank FROM pr{iterations} ORDER BY id
    """


@query("q68_trade_pagerank", oracle=_pagerank_oracle(20))
def q68(spark, sf_dir):
    # PageRank itself is directional; the oracle ranks the undirected
    # trade graph, so feed it the symmetric closure.
    und = symmetrize(_strong_edges(spark, sf_dir))
    # 20 rounds: certified below max |delta-rank| <= 1e-6 (10 rounds
    # measured 2.0e-6 at sf0.01 -- just short of the certificate).
    ranks = pagerank(und, iterations=20, check_convergence=True)
    return ranks.select("id", F.round("rank", 6).alias("rank")).orderBy("id")


# --- q69: BFS hop counts from nation 0 (path.rs) ----------------------------
@query(
    "q69_trade_bfs_hops",
    oracle=f"""
    WITH RECURSIVE {_STRONG},
    bfs(id, hops) AS (
        SELECT MIN(src), 0 FROM und
        UNION
        SELECT u.dst, b.hops + 1
        FROM bfs b JOIN und u ON u.src = b.id
        WHERE b.hops < 20
    )
    SELECT id, CAST(MIN(hops) AS INT) AS hops FROM bfs GROUP BY id ORDER BY id
    """,
)
def q69(spark, sf_dir):
    edges = tracked_persist(_strong_edges(spark, sf_dir))
    seed = edges.agg(F.least(F.min("src"), F.min("dst"))).first()[0]
    return bfs_hops(edges, [seed], check_convergence=True).orderBy("id")


# --- q97: per-vertex clustering coefficient on the strong trade graph -------
@query(
    "q97_trade_clustering_coefficient",
    oracle=f"""
    WITH {_STRONG},
    canon AS (SELECT DISTINCT src, dst FROM und WHERE src < dst),
    tri AS (
        SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
        FROM canon ab
        JOIN canon bc ON bc.src = ab.dst
        JOIN canon ac ON ac.src = ab.src AND ac.dst = bc.dst
    ),
    tri_counts AS (
        SELECT id, COUNT(*) AS n_tri FROM (
            SELECT a AS id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY id
    ),
    deg AS (SELECT src AS id, COUNT(*) AS deg FROM und GROUP BY src)
    SELECT d.id, d.deg, COALESCE(t.n_tri, 0) AS n_tri,
           ROUND(CASE WHEN d.deg > 1
                      THEN 2.0 * COALESCE(t.n_tri, 0) / (d.deg * (d.deg - 1))
                      ELSE 0.0 END, 6) AS lcc
    FROM deg d LEFT JOIN tri_counts t USING (id)
    ORDER BY d.id
    """,
)
def q97(spark, sf_dir):
    from pandrs_spark.operators.graph import clustering_coefficient

    lcc = clustering_coefficient(_strong_edges(spark, sf_dir))
    return lcc.select(
        "id", "deg", "n_tri", F.round("lcc", 6).alias("lcc")
    ).orderBy("id")


# --- q106: label propagation communities, 4 synchronous rounds
# (components.rs:250) ---------------------------------------------------------
# Deterministic variant: most-frequent neighbor label, smallest label on
# ties, all vertices updated from the previous round's labels. The
# oracle unrolls the 4 rounds as chained CTEs with the identical
# count-then-top-1 window.
def _lpa_oracle(iterations: int = 4) -> str:
    steps = []
    for k in range(1, iterations + 1):
        steps.append(
            f"""lp{k} AS (
        SELECT id, label FROM (
            SELECT u.src AS id, l.label,
                   ROW_NUMBER() OVER (
                       PARTITION BY u.src
                       ORDER BY COUNT(*) DESC, l.label
                   ) AS rn
            FROM und u JOIN lp{k - 1} l ON l.id = u.dst
            GROUP BY u.src, l.label
        ) t WHERE rn = 1
    )"""
        )
    chained = ",\n    ".join(steps)
    return f"""
    WITH {_STRONG},
    verts AS (SELECT DISTINCT src AS id FROM und),
    lp0 AS (SELECT id, id AS label FROM verts),
    {chained}
    SELECT id, label FROM lp{iterations} ORDER BY id
    """


@query("q106_label_propagation", oracle=_lpa_oracle())
def q106(spark, sf_dir):
    from pandrs_spark.operators.graph import label_propagation

    # Synchronous LPA 2-cycles on this graph (probed at sf0.01: labels
    # still flip at 4, 8 and 12 rounds -- the classic sync-update
    # oscillation), so the fixed 4-round truncation convention stays and
    # check_convergence is intentionally OFF; the oracle unrolls the
    # same 4 rounds.
    out = label_propagation(_strong_edges(spark, sf_dir), iterations=4)
    return out.orderBy("id")


# --- q108: Newman modularity of the connected-components partition
# (components.rs:310) ---------------------------------------------------------
@query(
    "q108_trade_modularity",
    oracle=f"""
    WITH RECURSIVE {_STRONG},
    reach(a, b) AS (
        SELECT src, dst FROM und
        UNION
        SELECT r.a, u.dst FROM reach r JOIN und u ON r.b = u.src
    ),
    verts AS (SELECT DISTINCT src AS id FROM und),
    comp AS (
        SELECT v.id, LEAST(v.id, MIN(r.b)) AS c
        FROM verts v LEFT JOIN reach r ON r.a = v.id
        GROUP BY v.id
    ),
    m2 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m2 FROM und),
    intra AS (
        SELECT cs.c, COUNT(*) AS e_c
        FROM und u
        JOIN comp cs ON cs.id = u.src
        JOIN comp cd ON cd.id = u.dst
        WHERE cs.c = cd.c
        GROUP BY cs.c
    ),
    deg AS (SELECT src AS id, COUNT(*) AS d FROM und GROUP BY src),
    dsums AS (
        SELECT comp.c, SUM(deg.d) AS d_c
        FROM deg JOIN comp ON comp.id = deg.id
        GROUP BY comp.c
    )
    SELECT d.c AS community,
           CAST(COALESCE(i.e_c, 0) AS BIGINT) AS intra_edges,
           CAST(d.d_c AS BIGINT) AS degree_sum,
           ROUND(COALESCE(i.e_c, 0) / m2.m2 - (d.d_c / m2.m2) * (d.d_c / m2.m2), 6)
               AS contribution
    FROM dsums d LEFT JOIN intra i ON i.c = d.c CROSS JOIN m2
    ORDER BY community
    """,
)
def q108(spark, sf_dir):
    from pandrs_spark.operators.graph import modularity

    edges = _strong_edges(spark, sf_dir)
    und = symmetrize(edges)
    comps = connected_components(
        edges, check_convergence=True
    ).withColumnRenamed("component", "community")
    out = modularity(und, comps)
    return out.select(
        "community",
        "intra_edges",
        "degree_sum",
        F.round("contribution", 6).alias("contribution"),
    ).orderBy("community")


# --- q112: closeness centrality via multi-source BFS (centrality.rs:109) -----
@query(
    "q112_closeness_centrality",
    oracle=f"""
    WITH RECURSIVE {_STRONG},
    verts AS (SELECT DISTINCT src AS id FROM und),
    reach(root, id, hops) AS (
        SELECT id, id, 0 FROM verts
        UNION
        SELECT r.root, u.dst, r.hops + 1
        FROM reach r JOIN und u ON u.src = r.id
        WHERE r.hops < 20
    ),
    mind AS (SELECT root, id, MIN(hops) AS d FROM reach GROUP BY root, id)
    SELECT root AS id,
           COUNT(*) - 1 AS n_reached,
           ROUND(CASE WHEN SUM(d) > 0
                      THEN (COUNT(*) - 1) / CAST(SUM(d) AS DOUBLE)
                      ELSE 0.0 END, 6) AS closeness
    FROM mind GROUP BY root ORDER BY id
    """,
)
def q112(spark, sf_dir):
    from pandrs_spark.operators.graph import closeness_centrality

    out = closeness_centrality(
        _strong_edges(spark, sf_dir), check_convergence=True
    )
    return out.select(
        "id", "n_reached", F.round("closeness", 6).alias("closeness")
    ).orderBy("id")


# --- q113: eigenvector centrality, 10 power iterations (centrality.rs:344) ---
def _eigenvector_oracle(iterations: int = 10) -> str:
    steps = ["evn0 AS MATERIALIZED (SELECT id, 1.0 / SQRT((SELECT COUNT(*) FROM verts)) AS s FROM verts)"]
    for k in range(1, iterations + 1):
        steps.append(
            f"""ev{k} AS MATERIALIZED (
        SELECT v.id, COALESCE(m.t, 0) AS s
        FROM verts v LEFT JOIN (
            SELECT u.src AS id, SUM(p.s) AS t
            FROM evn{k - 1} p JOIN und u ON u.dst = p.id
            GROUP BY u.src
        ) m ON m.id = v.id
    ),
    evn{k} AS MATERIALIZED (
        SELECT id, s / SQRT((SELECT SUM(s * s) FROM ev{k})) AS s FROM ev{k}
    )"""
        )
    chained = ",\n    ".join(steps)
    return f"""
    WITH {_STRONG},
    verts AS (SELECT DISTINCT src AS id FROM und),
    {chained}
    SELECT id, ROUND(s, 6) AS score FROM evn{iterations} ORDER BY id
    """


@query("q113_eigenvector_centrality", oracle=_eigenvector_oracle(20))
def q113(spark, sf_dir):
    from pandrs_spark.operators.graph import eigenvector_centrality

    # 20 rounds: 10 measured max |delta| = 3.3e-6 at sf0.01, above the
    # 1e-6 certificate; 20 measures 1.3e-10.
    out = eigenvector_centrality(
        _strong_edges(spark, sf_dir), iterations=20, check_convergence=True
    )
    return out.select("id", F.round("score", 6).alias("score")).orderBy("id")


# --- q114: HITS hubs & authorities, 10 iterations (centrality.rs:501) --------
def _hits_oracle(iterations: int = 10) -> str:
    steps = ["hn0 AS MATERIALIZED (SELECT id, 1.0 AS h FROM verts)"]
    for k in range(1, iterations + 1):
        steps.append(
            f"""a{k} AS MATERIALIZED (
        SELECT v.id, COALESCE(m.t, 0) AS a
        FROM verts v LEFT JOIN (
            SELECT e.dst AS id, SUM(h.h) AS t
            FROM hn{k - 1} h JOIN strong e ON e.src = h.id
            GROUP BY e.dst
        ) m ON m.id = v.id
    ),
    an{k} AS MATERIALIZED (SELECT id, a / SQRT((SELECT SUM(a * a) FROM a{k})) AS a FROM a{k}),
    h{k} AS MATERIALIZED (
        SELECT v.id, COALESCE(m.t, 0) AS h
        FROM verts v LEFT JOIN (
            SELECT e.src AS id, SUM(a.a) AS t
            FROM an{k} a JOIN strong e ON e.dst = a.id
            GROUP BY e.src
        ) m ON m.id = v.id
    ),
    hn{k} AS MATERIALIZED (SELECT id, h / SQRT((SELECT SUM(h * h) FROM h{k})) AS h FROM h{k})"""
        )
    chained = ",\n    ".join(steps)
    return f"""
    WITH {_TRADE},
    strong AS MATERIALIZED (
        SELECT src, dst FROM trade WHERE cnt > (SELECT AVG(cnt) FROM trade)
    ),
    verts AS MATERIALIZED (
        SELECT src AS id FROM strong UNION SELECT dst FROM strong
    ),
    {chained}
    SELECT v.id, ROUND(a.a, 6) AS authority, ROUND(h.h, 6) AS hub
    FROM verts v
    JOIN an{iterations} a ON a.id = v.id
    JOIN hn{iterations} h ON h.id = v.id
    ORDER BY v.id
    """


@query("q114_hits", oracle=_hits_oracle())
def q114(spark, sf_dir):
    from pandrs_spark.operators.graph import hits

    out = hits(
        _strong_edges(spark, sf_dir), iterations=10, check_convergence=True
    )
    return out.select(
        "id",
        F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    ).orderBy("id")


# --- q115: weighted single-source shortest paths, Bellman-Ford
# (path.rs Dijkstra parity; integer costs for engine-exact minima) ------------
def _sssp_oracle(iterations: int = 10) -> str:
    steps = [
        """d0 AS MATERIALIZED (
        SELECT id, CASE WHEN id = (SELECT m FROM seed)
                        THEN CAST(0 AS BIGINT) END AS dist
        FROM verts
    )"""
    ]
    for k in range(1, iterations + 1):
        steps.append(
            f"""d{k} AS MATERIALIZED (
        SELECT v.id,
               CASE WHEN v.dist IS NULL THEN c.cand
                    WHEN c.cand IS NULL THEN v.dist
                    ELSE LEAST(v.dist, c.cand) END AS dist
        FROM d{k - 1} v LEFT JOIN (
            SELECT w.dst AS id, MIN(p.dist + w.cost) AS cand
            FROM d{k - 1} p JOIN w ON w.src = p.id
            WHERE p.dist IS NOT NULL
            GROUP BY w.dst
        ) c ON c.id = v.id
    )"""
        )
    chained = ",\n    ".join(steps)
    return f"""
    WITH {_TRADE},
    w AS MATERIALIZED (
        SELECT src, dst, CAST(FLOOR(1000000.0 / cnt) AS BIGINT) AS cost
        FROM trade
    ),
    verts AS (SELECT src AS id FROM w UNION SELECT dst FROM w),
    seed AS (SELECT MIN(id) AS m FROM verts),
    {chained}
    SELECT id, dist FROM d{iterations} ORDER BY id
    """


@query("q115_weighted_shortest_paths", oracle=_sssp_oracle())
def q115(spark, sf_dir):
    from pandrs_spark.operators.graph import shortest_paths

    trade = _trade_edges(spark, sf_dir)
    w = tracked_persist(
        trade.select(
            "src", "dst", F.floor(F.lit(1000000.0) / F.col("cnt")).alias("cost")
        )
    )
    seed = w.agg(F.least(F.min("src"), F.min("dst"))).first()[0]
    return shortest_paths(
        w, seed, iterations=10, check_convergence=True
    ).orderBy("id")


# --- q116: Katz centrality, 10 fixed-point iterations (centrality.rs:424) ----
def _katz_oracle(iterations: int = 10, alpha: float = 0.1, beta: float = 1.0) -> str:
    # CAST to DOUBLE: bare decimal literals chain-multiply into DECIMAL
    # scale overflow in DuckDB past ~12 unrolled rounds.
    steps = [
        f"kz0 AS MATERIALIZED "
        f"(SELECT id, CAST({beta!r} AS DOUBLE) AS s FROM verts)"
    ]
    for k in range(1, iterations + 1):
        steps.append(
            f"""kz{k} AS MATERIALIZED (
        SELECT v.id,
               CAST({alpha!r} AS DOUBLE) * COALESCE(m.t, 0)
                   + CAST({beta!r} AS DOUBLE) AS s
        FROM verts v LEFT JOIN (
            SELECT e.dst AS id, SUM(p.s) AS t
            FROM kz{k - 1} p JOIN strong e ON e.src = p.id
            GROUP BY e.dst
        ) m ON m.id = v.id
    )"""
        )
    chained = ",\n    ".join(steps)
    return f"""
    WITH {_TRADE},
    strong AS MATERIALIZED (
        SELECT src, dst FROM trade WHERE cnt > (SELECT AVG(cnt) FROM trade)
    ),
    verts AS MATERIALIZED (SELECT src AS id FROM strong UNION SELECT dst FROM strong),
    {chained}
    SELECT id, ROUND(s, 6) AS score FROM kz{iterations} ORDER BY id
    """


@query("q116_katz_centrality", oracle=_katz_oracle(30, alpha=0.05))
def q116(spark, sf_dir):
    from pandrs_spark.operators.graph import katz_centrality

    # alpha=0.05: the strong trade graph's directed lambda_max ~ 10.6 at
    # sf0.01, so the old alpha=0.1 sat ABOVE 1/lambda_max and the Katz
    # series diverged (the fixed-round convention masked it; the r8
    # convergence certificate caught it). 0.05*10.6 = 0.53 per-round
    # contraction -> max |delta| ~ 5.6e-9 after 30 rounds, certified.
    out = katz_centrality(
        _strong_edges(spark, sf_dir), alpha=0.05, iterations=30,
        check_convergence=True,
    )
    return out.select("id", F.round("score", 6).alias("score")).orderBy("id")


# --- q122: strongly connected components of the directed strong trade
# graph (components.rs:118) ---------------------------------------------------
@query(
    "q122_strongly_connected",
    oracle=f"""
    WITH RECURSIVE {_TRADE},
    strong AS MATERIALIZED (
        SELECT src, dst FROM trade WHERE cnt > (SELECT AVG(cnt) FROM trade)
    ),
    verts AS MATERIALIZED (
        SELECT src AS id FROM strong UNION SELECT dst FROM strong
    ),
    fwd(root, id) AS (
        SELECT id, id FROM verts
        UNION
        SELECT f.root, e.dst FROM fwd f JOIN strong e ON e.src = f.id
    ),
    bwd(root, id) AS (
        SELECT id, id FROM verts
        UNION
        SELECT b.root, e.src FROM bwd b JOIN strong e ON e.dst = b.id
    )
    SELECT f.root AS id, MIN(f.id) AS component
    FROM fwd f JOIN bwd b ON b.root = f.root AND b.id = f.id
    GROUP BY f.root
    ORDER BY id
    """,
)
def q122(spark, sf_dir):
    from pandrs_spark.operators.graph import strongly_connected_components

    out = strongly_connected_components(
        _strong_edges(spark, sf_dir), check_convergence=True
    )
    return out.orderBy("id")


# --- q123: betweenness centrality, Brandes' algorithm (centrality.rs:152).
# Rows-only: the forward σ-counting + layered backward δ-accumulation has
# no tractable SQL mirror; exactness is pinned by hand-computed unit
# tests on path/star/bridge graphs (tests/test_graph.py) ----------------------
@query(
    "q123_betweenness_centrality",
    oracle=f"""
    WITH {_STRONG}
    SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
           TRUE AS all_nonnegative,
           TRUE AS some_positive
    FROM und
    """,
)
def q123(spark, sf_dir):
    from pandrs_spark.operators.graph import betweenness_centrality

    out = betweenness_centrality(_strong_edges(spark, sf_dir))
    # Brandes internals aren't SQL-mirrorable, but the centrality
    # axioms are: one row per vertex, scores nonnegative, and a
    # connected non-path graph must have at least one positive score
    return out.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min(F.col("betweenness") >= 0).alias("all_nonnegative"),
        F.max(F.col("betweenness") > 0).alias("some_positive"),
    )


# --- q128: Louvain community detection, level-1 local moving
# (components.rs:356). Rows-only: the alternating synchronous move
# schedule has no tractable SQL mirror; correctness is pinned by
# modularity-improvement and known-partition unit tests (test_graph.py) ------
@query(
    "q128_louvain_communities",
    oracle=f"""
    WITH {_STRONG}
    SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
           TRUE AS multiple_communities,
           TRUE AS no_singleton_majority
    FROM und
    """,
)
def q128(spark, sf_dir):
    from pandrs_spark.operators.graph import louvain

    out = louvain(_strong_edges(spark, sf_dir), iterations=4)
    per = out.groupBy("community").agg(F.count(F.lit(1)).alias("n"))
    # community accounting inside the gate: every vertex assigned once,
    # the graph actually partitions (more than one community), and the
    # partition is non-trivial (largest community holds <= half the
    # vertices would be too strict for 4 iterations — require instead
    # that not every community is a singleton)
    return per.agg(
        F.sum("n").cast("bigint").alias("n_nodes"),
        (F.count(F.lit(1)) > 1).alias("multiple_communities"),
        F.max(F.col("n") > 1).alias("no_singleton_majority"),
    )


# --- q146: DFS preorder (traversal.rs DFS) over the top-12 trade
# pairs. The DFS itself (operators/graph.py dfs_preorder) runs on any
# graph; the GATE runs it on a bounded subgraph so the oracle is a
# value hash, not rows-only: with ascending-neighbor order, DFS
# discovery order equals ordering nodes by their lexicographically
# minimal simple path from the component root, which DuckDB enumerates
# with a recursive CTE. The 12-edge cap bounds path enumeration
# structurally (worst case ~a few hundred path prefixes) at ANY scale
# factor — the fix for the full strong graph's exponential CTE. -------------
@query(
    "q146_trade_dfs_preorder",
    oracle=f"""
    WITH RECURSIVE {_TRADE},
    pairs AS MATERIALIZED (
        SELECT LEAST(src,dst) AS a, GREATEST(src,dst) AS b, SUM(cnt) AS w
        FROM trade GROUP BY a, b
    ),
    topk AS MATERIALIZED (
        SELECT a, b FROM pairs ORDER BY w DESC, a, b LIMIT 12
    ),
    edges AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM topk UNION SELECT b, a FROM topk
    ),
    labels(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, l.lbl FROM labels l JOIN edges e ON e.src = l.node
    ),
    comp AS MATERIALIZED (
        SELECT node AS id, MIN(lbl) AS component FROM labels GROUP BY node
    ),
    walk(node, path) AS (
        SELECT DISTINCT component, [component] FROM comp
        UNION ALL
        SELECT e.dst, w.path || [e.dst]
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE NOT list_contains(w.path, e.dst)
    ),
    minp AS (
        SELECT node AS id, MIN(path) AS p FROM walk GROUP BY node
    )
    SELECT m.id, c.component,
           CAST(ROW_NUMBER() OVER (PARTITION BY c.component ORDER BY m.p) - 1
                AS BIGINT) AS dfs_order
    FROM minp m JOIN comp c ON c.id = m.id
    ORDER BY component, dfs_order
    """,
)
def q146(spark, sf_dir):
    from pandrs_spark.operators.graph import dfs_preorder

    t = _trade_edges(spark, sf_dir)
    pairs = (
        t.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "cnt",
        )
        .groupBy("a", "b")
        .agg(F.sum("cnt").alias("w"))
    )
    top = pairs.orderBy(F.desc("w"), "a", "b").limit(12)
    edges = top.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    return dfs_preorder(edges).orderBy("component", "dfs_order")


# --- q230: k-core decomposition (k=4) — synchronous peeling on the
# strong trade graph, 8 fixed rounds (>= peel depth; see
# operators/graph.py:kcore). The oracle unrolls the identical rounds
# as chained MATERIALIZED CTEs (materialization stops DuckDB from
# re-inlining the chain exponentially) — same fixpoint, hash-matched
# core degrees. ---------------------------------------------------------------
@query(
    "q230_kcore_membership",
    oracle="WITH " + _STRONG + """,
    e0 AS MATERIALIZED (SELECT src, dst FROM und),
    d0 AS MATERIALIZED (SELECT src, COUNT(*) AS c FROM e0 GROUP BY src),
    k0 AS MATERIALIZED (SELECT src FROM d0 WHERE c >= 4),
    e1 AS MATERIALIZED (SELECT e.src, e.dst FROM e0 e JOIN k0 a ON e.src = a.src JOIN k0 b ON e.dst = b.src),
    d1 AS MATERIALIZED (SELECT src, COUNT(*) AS c FROM e1 GROUP BY src),
    k1 AS MATERIALIZED (SELECT src FROM d1 WHERE c >= 4),
    e2 AS MATERIALIZED (SELECT e.src, e.dst FROM e1 e JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src),
    d2 AS MATERIALIZED (SELECT src, COUNT(*) AS c FROM e2 GROUP BY src),
    k2 AS MATERIALIZED (SELECT src FROM d2 WHERE c >= 4),
    e3 AS MATERIALIZED (SELECT e.src, e.dst FROM e2 e JOIN k2 a ON e.src = a.src JOIN k2 b ON e.dst = b.src),
    d3 AS MATERIALIZED (SELECT src, COUNT(*) AS c FROM e3 GROUP BY src),
    k3 AS MATERIALIZED (SELECT src FROM d3 WHERE c >= 4),
    e4 AS MATERIALIZED (SELECT e.src, e.dst FROM e3 e JOIN k3 a ON e.src = a.src JOIN k3 b ON e.dst = b.src),
    d4 AS MATERIALIZED (SELECT src, COUNT(*) AS c FROM e4 GROUP BY src),
    k4 AS MATERIALIZED (SELECT src FROM d4 WHERE c >= 4),
    e5 AS MATERIALIZED (SELECT e.src, e.dst FROM e4 e JOIN k4 a ON e.src = a.src JOIN k4 b ON e.dst = b.src),
    d5 AS MATERIALIZED (SELECT src, COUNT(*) AS c FROM e5 GROUP BY src),
    k5 AS MATERIALIZED (SELECT src FROM d5 WHERE c >= 4),
    e6 AS MATERIALIZED (SELECT e.src, e.dst FROM e5 e JOIN k5 a ON e.src = a.src JOIN k5 b ON e.dst = b.src),
    d6 AS MATERIALIZED (SELECT src, COUNT(*) AS c FROM e6 GROUP BY src),
    k6 AS MATERIALIZED (SELECT src FROM d6 WHERE c >= 4),
    e7 AS MATERIALIZED (SELECT e.src, e.dst FROM e6 e JOIN k6 a ON e.src = a.src JOIN k6 b ON e.dst = b.src),
    d7 AS MATERIALIZED (SELECT src, COUNT(*) AS c FROM e7 GROUP BY src),
    k7 AS MATERIALIZED (SELECT src FROM d7 WHERE c >= 4),
    e8 AS MATERIALIZED (SELECT e.src, e.dst FROM e7 e JOIN k7 a ON e.src = a.src JOIN k7 b ON e.dst = b.src)
    SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM e8 GROUP BY src ORDER BY id
    """,
)
def q230(spark, sf_dir):
    from pandrs_spark.operators.graph import kcore

    edges = _strong_edges(spark, sf_dir)
    return kcore(edges, k=4, n_iter=8, check_convergence=True).orderBy("id")


# --- q231: neighborhood Jaccard (link-prediction feature) — wedge
# enumeration through shared neighbors on the strong trade graph;
# |N(a) ∩ N(b)| / |N(a) ∪ N(b)| per candidate pair.
# operators/graph.py:neighborhood_jaccard. --------------------------------
@query(
    "q231_neighborhood_jaccard",
    oracle="WITH " + _STRONG + """,
    deg AS (SELECT src AS id, COUNT(*) AS d FROM und GROUP BY src),
    common AS (
        SELECT a.src AS id_a, b.src AS id_b, COUNT(*) AS common
        FROM und a JOIN und b ON a.dst = b.dst AND a.src < b.src
        GROUP BY id_a, id_b
    )
    SELECT c.id_a, c.id_b, CAST(c.common AS BIGINT) AS common,
           ROUND(c.common * 1.0 / (x.d + y.d - c.common), 6) AS jaccard
    FROM common c JOIN deg x ON c.id_a = x.id JOIN deg y ON c.id_b = y.id
    ORDER BY id_a, id_b
    """,
)
def q231(spark, sf_dir):
    from pandrs_spark.operators.graph import neighborhood_jaccard

    edges = _strong_edges(spark, sf_dir)
    return neighborhood_jaccard(edges).orderBy("id_a", "id_b")


# --- q333: personalized PageRank (random walk with restart) from the
# minimum-id vertex — the topic-sensitive relevance primitive. ---------------
def _ppr_oracle(iterations: int = 10, restart: float = 0.15) -> str:
    d = 1.0 - restart
    steps = []
    for k in range(1, iterations + 1):
        steps.append(
            f"""ppr{k} AS (
        SELECT v.id,
               CASE WHEN v.id = (SELECT sd FROM seed) THEN {restart!r} ELSE 0.0 END
               + {d!r} * COALESCE(m.mass, 0) AS rank
        FROM verts v LEFT JOIN (
            SELECT u.dst AS id, SUM(p.rank / o.d) AS mass
            FROM ppr{k - 1} p
            JOIN und u ON u.src = p.id
            JOIN outdeg o ON o.src = p.id
            GROUP BY u.dst
        ) m ON m.id = v.id
    )"""
        )
    chained = ",\n    ".join(steps)
    return f"""
    WITH {_STRONG},
    verts AS (SELECT DISTINCT src AS id FROM und),
    seed AS (SELECT MIN(src) AS sd FROM und),
    outdeg AS (SELECT src, COUNT(*) AS d FROM und GROUP BY src),
    ppr0 AS (
        SELECT id,
               CASE WHEN id = (SELECT sd FROM seed) THEN 1.0 ELSE 0.0 END AS rank
        FROM verts
    ),
    {chained}
    SELECT id, ROUND(rank, 6) AS rank FROM ppr{iterations} ORDER BY id
    """


@query("q333_personalized_pagerank", oracle=_ppr_oracle(20))
def q333(spark, sf_dir):
    from pandrs_spark.operators.graph import personalized_pagerank

    und = symmetrize(_strong_edges(spark, sf_dir))
    seed = und.agg(F.min("src")).first()[0]
    # 20 rounds: 10 measured max |delta-rank| = 1.0e-5 at sf0.01; 20
    # measures 9.0e-10, inside the certificate.
    ranks = personalized_pagerank(
        und, seed, restart=0.15, iterations=20, check_convergence=True
    )
    return ranks.select("id", F.round("rank", 6).alias("rank")).orderBy("id")


# --- q353: degree assortativity of the strong-trade graph. The Newman
# assortativity coefficient = Pearson correlation of the endpoint
# degrees over the (symmetrized) edge list. Degrees are one aggregate
# over the edges; the edge-endpoint join is two broadcast hash joins on
# the vertex key; the correlation folds exact integer sums through the
# shared CORR formula — no adjacency matrix, no all-pairs. Reference:
# beyond the reference graph surface (src/graph/ covers centrality/
# components/traversal only); Newman 2002 assortativity (public).
def _q353_oracle() -> str:
    from pandrs_spark.functions.deterministic import CORR_FORMULA

    corr = CORR_FORMULA.format(
        n="n", sx="sx", sy="sy", sxx="sxx", syy="syy", sxy="sxy"
    )
    return f"""
    WITH {_STRONG},
    deg AS (SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY src),
    pairs AS (
        SELECT CAST(da.d AS DOUBLE) AS x, CAST(db.d AS DOUBLE) AS y
        FROM und e JOIN deg da ON da.v = e.src JOIN deg db ON db.v = e.dst
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        FROM pairs
    )
    SELECT n AS n_directed_edges, ROUND({corr}, 6) AS assortativity
    FROM agg
    """


@query("q353_degree_assortativity", oracle=_q353_oracle())
def q353(spark, sf_dir):
    from pandrs_spark.functions.deterministic import CORR_FORMULA

    edges = symmetrize(_strong_edges(spark, sf_dir))
    deg = edges.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    da = deg.select(F.col("v").alias("va"), F.col("d").alias("dx"))
    db = deg.select(F.col("v").alias("vb"), F.col("d").alias("dy"))
    pairs = (
        edges.join(F.broadcast(da), edges.src == da.va)
        .join(F.broadcast(db), edges.dst == db.vb)
        .select(
            F.col("dx").cast("double").alias("x"),
            F.col("dy").cast("double").alias("y"),
        )
    )
    # degree products are exact integers in doubles — SUM order-safe
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    corr = CORR_FORMULA.format(
        n="n", sx="sx", sy="sy", sxx="sxx", syy="syy", sxy="sxy"
    )
    return agg.select(
        F.col("n").alias("n_directed_edges"),
        F.round(F.expr(corr), 6).alias("assortativity"),
    )


# --- q358: reciprocity of the directed trade graph. Count + weight
# share of edges whose reverse edge also exists — one self-join of the
# edge list on the swapped key (equi-join on both endpoints, no
# all-pairs), weighted overlap via LEAST(cnt, cnt_rev) per Squartini
# et al.'s weighted reciprocity. Integer counts only. Reference:
# beyond the reference graph surface (src/graph/ covers centrality/
# components/traversal only); Squartini 2013 reciprocity (public).
@query(
    "q358_trade_reciprocity",
    oracle=f"""
    WITH {_TRADE},
    paired AS (
        SELECT t.src, t.dst, t.cnt, r.cnt AS cnt_rev
        FROM trade t LEFT JOIN trade r ON r.src = t.dst AND r.dst = t.src
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(CASE WHEN cnt_rev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_reciprocated,
           ROUND(CAST(SUM(CASE WHEN cnt_rev IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 6) AS reciprocity,
           ROUND(CAST(SUM(LEAST(cnt, COALESCE(cnt_rev, 0))) AS DOUBLE)
                 / SUM(cnt), 6) AS weighted_reciprocity
    FROM paired
    """,
)
def q358(spark, sf_dir):
    trade = _trade_edges(spark, sf_dir)
    rev = trade.select(
        F.col("src").alias("r_dst"), F.col("dst").alias("r_src"),
        F.col("cnt").alias("cnt_rev"),
    )
    paired = trade.join(
        rev,
        (trade.src == rev.r_src) & (trade.dst == rev.r_dst),
        "left",
    )
    return paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.sum(F.when(F.col("cnt_rev").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_reciprocated"),
        F.round(
            F.sum(F.when(F.col("cnt_rev").isNotNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("reciprocity"),
        F.round(
            F.sum(F.least("cnt", F.coalesce("cnt_rev", F.lit(0)))).cast("double")
            / F.sum("cnt"),
            6,
        ).alias("weighted_reciprocity"),
    )


# --- q392: k-truss decomposition (k=4) of the strong trade graph —
# the edge-support analogue of q230's k-core (operators/graph.py:
# k_truss; Cohen 2008). 4 synchronous peel rounds (>= peel depth), the
# oracle unrolls the identical rounds as MATERIALIZED CTEs, and BOTH
# sides emit an in-gate convergence certificate (last round removed no
# edge), so the fixed-round form is verified to be the fixpoint, not
# assumed. ------------------------------------------------------------------
def _truss_oracle(k: int = 4, rounds: int = 8) -> str:
    parts = [
        "e0 AS MATERIALIZED (SELECT src AS u, dst AS v FROM und WHERE src < dst)"
    ]
    for r in range(rounds + 1):
        parts.append(
            f"a{r} AS MATERIALIZED (SELECT u, v FROM e{r} "
            f"UNION ALL SELECT v AS u, u AS v FROM e{r})"
        )
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT e.u, e.v, COUNT(*) AS sup "
            f"FROM e{r} e JOIN a{r} n1 ON n1.u = e.u "
            f"JOIN a{r} n2 ON n2.u = e.v AND n2.v = n1.v "
            f"GROUP BY e.u, e.v)"
        )
        if r < rounds:
            parts.append(
                f"e{r + 1} AS MATERIALIZED "
                f"(SELECT u, v FROM s{r} WHERE sup >= {k - 2})"
            )
    return (
        f"WITH {_STRONG},\n"
        + ",\n    ".join(parts)
        + f"""
    SELECT u, v, CAST(sup AS BIGINT) AS support,
           (SELECT COUNT(*) FROM e{rounds - 1}) = (SELECT COUNT(*) FROM e{rounds})
               AS converged
    FROM s{rounds} WHERE sup >= {k - 2} ORDER BY u, v
    """
    )


@query("q392_ktruss_strong_trade", oracle=_truss_oracle(4, 4))
def q392(spark, sf_dir):
    from pandrs_spark.operators.graph import k_truss

    edges = _strong_edges(spark, sf_dir)
    out = k_truss(edges, k=4, n_iter=4, emit_convergence=True)
    return out.select(
        "u", "v", F.col("support").cast("long").alias("support"), "converged"
    ).orderBy("u", "v")


# --- q440: rich-club coefficient of the trade graph — do high-degree
# nations preferentially trade with each other? φ(k) = 2E_k/(N_k(N_k−1))
# over the subgraph of degree>k vertices, k ∈ {2,4,8} (Colizza 2006;
# operators/graph.py:rich_club_coefficient). Degrees are one
# aggregation; each threshold is two semi-join-shaped probes — no
# pairwise work. ---------------------------------------------------------------
@query(
    "q440_trade_rich_club",
    oracle=f"""
    WITH {_TRADE},
    und AS (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM trade
            UNION ALL
            SELECT dst, src FROM trade
        ) t WHERE src <> dst
    ),
    deg AS (SELECT src AS id, COUNT(*) AS deg FROM und GROUP BY src),
    ks AS (SELECT UNNEST([2, 4, 8]) AS k),
    rich AS (
        SELECT ks.k, d.id FROM ks JOIN deg d ON d.deg > ks.k
    ),
    n_rich AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_rich FROM rich GROUP BY k),
    canon AS (SELECT src AS u, dst AS v FROM und WHERE src < dst),
    e_rich AS (
        SELECT r1.k, CAST(COUNT(*) AS BIGINT) AS e_rich
        FROM canon c
        JOIN rich r1 ON r1.id = c.u
        JOIN rich r2 ON r2.id = c.v AND r2.k = r1.k
        GROUP BY r1.k
    )
    SELECT ks.k,
           COALESCE(n.n_rich, 0) AS n_rich,
           COALESCE(e.e_rich, 0) AS e_rich,
           CASE WHEN COALESCE(n.n_rich, 0) >= 2
                THEN 2.0 * COALESCE(e.e_rich, 0)
                     / (CAST(n.n_rich AS DOUBLE) * (n.n_rich - 1))
           END AS phi
    FROM ks LEFT JOIN n_rich n ON n.k = ks.k
    LEFT JOIN e_rich e ON e.k = ks.k
    ORDER BY ks.k
    """,
)
def q440(spark, sf_dir):
    from pandrs_spark.operators.graph import rich_club_coefficient

    trade = _trade_edges(spark, sf_dir)
    return rich_club_coefficient(trade, ks=(2, 4, 8))


# --- q441: edge embeddedness distribution of the strong trade graph —
# per-edge common-neighbor counts (Granovetter tie strength), rolled
# into a histogram. Two adjacency equi-joins + two aggregates
# (operators/graph.py:edge_embeddedness) — the k-truss support shape,
# zero-support edges included (round-7 left-join fix). -----------------------
@query(
    "q441_trade_edge_embeddedness",
    oracle=f"""
    WITH {_STRONG},
    canon AS (SELECT src AS u, dst AS v FROM und WHERE src < dst),
    adj AS (
        SELECT u, v FROM canon
        UNION ALL
        SELECT v AS u, u AS v FROM canon
    ),
    sup AS (
        SELECT c.u, c.v, CAST(COUNT(*) AS BIGINT) AS embeddedness
        FROM canon c
        JOIN adj a ON a.u = c.u
        JOIN adj b ON b.u = c.v AND b.v = a.v
        GROUP BY c.u, c.v
    ),
    edges_s AS (
        SELECT c.u, c.v, COALESCE(s.embeddedness, 0) AS embeddedness
        FROM canon c LEFT JOIN sup s ON s.u = c.u AND s.v = c.v
    )
    SELECT embeddedness,
           CAST(COUNT(*) AS BIGINT) AS n_edges
    FROM edges_s
    GROUP BY embeddedness
    ORDER BY embeddedness
    """,
)
def q441(spark, sf_dir):
    from pandrs_spark.operators.graph import edge_embeddedness

    strong = _strong_edges(spark, sf_dir)
    emb = edge_embeddedness(strong)
    return (
        emb.groupBy("embeddedness")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        .orderBy("embeddedness")
    )


# --- q467: targeted-attack robustness of the strong trade graph —
# remove the top-2 degree hubs (deterministic tie-break: degree DESC,
# id ASC) and compare component structure before vs after (Albert-
# Barabási attack-tolerance shape; resilience tier beside q65/q67).
# Two CC runs + one degree aggregate; the removal set is bounded (2)
# and broadcast. ----------------------------------------------------------------
@query(
    "q467_trade_attack_robustness",
    oracle=f"""
    WITH RECURSIVE {_STRONG},
    deg AS (SELECT src AS id, COUNT(*) AS d FROM und GROUP BY src),
    hubs AS (SELECT id FROM deg ORDER BY d DESC, id LIMIT 2),
    und2 AS (
        SELECT src, dst FROM und
        WHERE src NOT IN (SELECT id FROM hubs)
          AND dst NOT IN (SELECT id FROM hubs)
    ),
    reach(a, b) AS (
        SELECT src, dst FROM und
        UNION
        SELECT r.a, u.dst FROM reach r JOIN und u ON r.b = u.src
    ),
    comp_before AS (
        SELECT v.id, LEAST(v.id, MIN(r.b)) AS component
        FROM (SELECT DISTINCT src AS id FROM und) v
        LEFT JOIN reach r ON r.a = v.id
        GROUP BY v.id
    ),
    reach2(a, b) AS (
        SELECT src, dst FROM und2
        UNION
        SELECT r.a, u.dst FROM reach2 r JOIN und2 u ON r.b = u.src
    ),
    comp_after AS (
        SELECT v.id, LEAST(v.id, MIN(r.b)) AS component
        FROM (SELECT DISTINCT src AS id FROM und2) v
        LEFT JOIN reach2 r ON r.a = v.id
        GROUP BY v.id
    ),
    b AS (
        SELECT CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
               CAST(MAX(sz) AS BIGINT) AS largest
        FROM (SELECT component, COUNT(*) AS sz FROM comp_before
              GROUP BY component)
    ),
    a AS (
        SELECT CAST(COUNT(DISTINCT component) AS BIGINT) AS n_components,
               CAST(MAX(sz) AS BIGINT) AS largest
        FROM (SELECT component, COUNT(*) AS sz FROM comp_after
              GROUP BY component)
    )
    SELECT b.n_components AS components_before,
           b.largest AS largest_before,
           a.n_components AS components_after,
           a.largest AS largest_after
    FROM b, a
    """,
)
def q467(spark, sf_dir):
    from pandrs_spark.operators.graph import symmetrize

    strong = _strong_edges(spark, sf_dir)
    und = tracked_persist(symmetrize(strong))
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    hubs = deg.orderBy(F.desc("d"), "id").limit(2).select("id")
    und2 = (
        und.join(hubs.withColumnRenamed("id", "src"), "src", "left_anti")
        .join(hubs.withColumnRenamed("id", "dst"), "dst", "left_anti")
        .select("src", "dst")
    )

    def summarize(comp, b_name, l_name):
        return comp.groupBy("component").agg(
            F.count(F.lit(1)).alias("sz")
        ).agg(
            F.countDistinct("component").cast("long").alias(b_name),
            F.max("sz").cast("long").alias(l_name),
        )

    before = summarize(
        connected_components(und, check_convergence=True),
        "components_before", "largest_before",
    )
    after = summarize(
        connected_components(und2, check_convergence=True),
        "components_after", "largest_after",
    )
    return F.broadcast(before).crossJoin(F.broadcast(after))


# --- q514: WEIGHTED PageRank on the directed trade graph — rank mass
# flows proportional to edge weight (line counts), the
# recommendation-grade variant of q68's uniform walk:
#   rank ← (1−d)/N + d·Σ_u rank(u)·w(u,v)/Σ_out w(u).
# Same one-small-shuffle-per-round shape; the oracle unrolls the same
# 15 rounds as chained CTEs; convergence certified in-gate. ---------------------
def _wpr_oracle(iterations: int = 15) -> str:
    steps = []
    for k in range(1, iterations + 1):
        steps.append(
            f"""wp{k} AS MATERIALIZED (
        SELECT v.id,
               0.15 / (SELECT n FROM nv) + 0.85 * COALESCE(m.mass, 0) AS rank
        FROM verts v LEFT JOIN (
            SELECT e.dst AS id,
                   SUM(p.rank * e.cnt / o.wout) AS mass
            FROM wp{k - 1} p
            JOIN trade e ON e.src = p.id
            JOIN outw o ON o.src = p.id
            GROUP BY e.dst
        ) m ON m.id = v.id
    )"""
        )
    chained = ",\n    ".join(steps)
    return f"""
    WITH {_TRADE},
    verts AS MATERIALIZED (
        SELECT src AS id FROM trade UNION SELECT dst FROM trade
    ),
    nv AS (SELECT COUNT(*) AS n FROM verts),
    outw AS MATERIALIZED (
        SELECT src, CAST(SUM(cnt) AS DOUBLE) AS wout FROM trade GROUP BY src
    ),
    wp0 AS (SELECT id, 1.0 / (SELECT n FROM nv) AS rank FROM verts),
    {chained}
    SELECT id, ROUND(rank, 6) AS rank FROM wp{iterations} ORDER BY id
    """


@query("q514_weighted_pagerank", oracle=_wpr_oracle())
def q514(spark, sf_dir):
    from pandrs_spark.operators.graph import weighted_pagerank

    trade = _trade_edges(spark, sf_dir)
    ranks = weighted_pagerank(
        trade, weight="cnt", iterations=15, check_convergence=True
    )
    return ranks.select("id", F.round("rank", 6).alias("rank")).orderBy("id")


# --- q515: average neighbor degree per vertex (undirected strong
# graph) — the knn(v) curve whose slope against degree is the local
# view of q358-class assortativity: hubs connecting to hubs vs to
# leaves. Two joins over the symmetric edge list, both on vertex keys. ----------
@query(
    "q515_avg_neighbor_degree",
    oracle=f"""
    WITH {_STRONG},
    deg AS MATERIALIZED (
        SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
        FROM und GROUP BY src
    )
    SELECT u.src AS id, d.d AS degree,
           CAST(CAST(SIGN(knn) * FLOOR(ABS(knn) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS avg_neighbor_degree
    FROM (
        SELECT u.src, CAST(SUM(nd.d) AS DOUBLE) / COUNT(*) AS knn
        FROM und u JOIN deg nd ON nd.id = u.dst
        GROUP BY u.src
    ) u
    JOIN deg d ON d.id = u.src
    ORDER BY id
    """,
)
def q515(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    und = tracked_persist(symmetrize(_strong_edges(spark, sf_dir)))
    deg = tracked_persist(
        und.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("d")
        )
    )
    knn = (
        und.join(deg.withColumnRenamed("id", "dst").withColumnRenamed("d", "nd"), "dst")
        .groupBy(F.col("src").alias("id"))
        .agg((F.sum("nd").cast("double") / F.count(F.lit(1))).alias("knn"))
    )
    return (
        knn.join(deg, "id")
        .select(
            "id",
            F.col("d").alias("degree"),
            (quantize("knn", 6) / 1e6).alias("avg_neighbor_degree"),
        )
        .orderBy("id")
    )


# --- q516: eccentricity, diameter and radius of the strong trade
# graph — per-vertex longest shortest path from the SAME multi-source
# BFS state as closeness (q112): one frontier expansion for ALL roots
# at once, ecc(v) = max hop; diameter = max ecc, radius = min ecc over
# the (single) giant component. ---------------------------------------------------
@query(
    "q516_eccentricity_diameter",
    oracle=f"""
    WITH RECURSIVE {_STRONG},
    walk(root, id, hops) AS (
        SELECT src, src, 0 FROM und
        UNION
        SELECT w.root, u.dst, w.hops + 1
        FROM walk w JOIN und u ON u.src = w.id
        WHERE w.hops < 20
    ),
    dist AS MATERIALIZED (
        SELECT root, id, MIN(hops) AS h FROM walk GROUP BY root, id
    ),
    ecc AS MATERIALIZED (
        SELECT root AS id, CAST(MAX(h) AS BIGINT) AS ecc FROM dist GROUP BY root
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
           CAST(MAX(ecc) AS BIGINT) AS diameter,
           CAST(MIN(ecc) AS BIGINT) AS radius,
           CAST(SUM(CASE WHEN ecc = (SELECT MIN(ecc) FROM ecc) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_center
    FROM ecc
    """,
)
def q516(spark, sf_dir):
    strong = _strong_edges(spark, sf_dir)
    und = tracked_persist(symmetrize(strong))
    # multi-source BFS over all roots at once (the q112 dataflow)
    verts = und.select(F.col("src").alias("id")).distinct()
    visited = tracked_persist(
        verts.select(F.col("id").alias("root"), "id", F.lit(0).alias("hops"))
    )
    visited, _ = _frontier_walk(und, visited, ["root", "id"], 20)
    ecc = visited.groupBy("root").agg(F.max("hops").cast("long").alias("ecc"))
    radius = ecc.agg(F.min("ecc").alias("r"))
    return (
        ecc.crossJoin(F.broadcast(radius))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.max("ecc").cast("long").alias("diameter"),
            F.min("ecc").cast("long").alias("radius"),
            F.sum(F.when(F.col("ecc") == F.col("r"), 1).otherwise(0))
            .cast("long")
            .alias("n_center"),
        )
    )


# --- q519: clustering-vs-degree curve — average local clustering
# coefficient per degree value on the strong trade graph: the standard
# "is clustering a hub or leaf phenomenon" profile (falling curve =
# hierarchical structure). Reuses the q97 per-vertex lcc operator and
# groups over the bounded degree support. ----------------------------------------
@query(
    "q519_clustering_degree_curve",
    oracle=f"""
    WITH {_STRONG},
    canon AS MATERIALIZED (SELECT DISTINCT src, dst FROM und WHERE src < dst),
    tri AS MATERIALIZED (
        SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
        FROM canon ab
        JOIN canon bc ON bc.src = ab.dst
        JOIN canon ac ON ac.src = ab.src AND ac.dst = bc.dst
    ),
    tri_counts AS MATERIALIZED (
        SELECT id, COUNT(*) AS n_tri FROM (
            SELECT a AS id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY id
    ),
    deg AS MATERIALIZED (
        SELECT src AS id, COUNT(*) AS deg FROM und GROUP BY src
    ),
    lcc AS MATERIALIZED (
        SELECT d.id, d.deg,
               CASE WHEN d.deg > 1
                    THEN 2.0 * COALESCE(t.n_tri, 0) / (d.deg * (d.deg - 1))
                    ELSE 0.0 END AS lcc
        FROM deg d LEFT JOIN tri_counts t USING (id)
    )
    SELECT CAST(x.deg AS BIGINT) AS degree,
           CAST(x.nv AS BIGINT) AS n_vertices,
           CAST(CAST(SIGN(x.m) * FLOOR(ABS(x.m) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS mean_lcc
    FROM (
        SELECT deg, COUNT(*) AS nv,
               CAST(SUM(CAST(SIGN(lcc) * FLOOR(ABS(lcc) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*) AS m
        FROM lcc GROUP BY deg
    ) x
    ORDER BY degree
    """,
)
def q519(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.graph import clustering_coefficient

    lcc = clustering_coefficient(_strong_edges(spark, sf_dir))
    return (
        lcc.groupBy(F.col("deg").cast("long").alias("degree"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            (
                quantize(
                    dsum("lcc", 9)
                    / F.count(F.lit(1)),
                    6,
                )
                / 1e6
            ).alias("mean_lcc"),
        )
        .orderBy("degree")
    )


# --- q529: power-law degree-distribution fit — the Clauset-Shalizi-
# Newman MLE α̂ = 1 + n / Σ ln(d / (dmin − ½)) over vertices with
# degree ≥ dmin on the TRADE graph (weighted multi-edges collapsed),
# plus the tail fraction: the "is this a scale-free network" summary
# statistic over the bounded degree rollup. --------------------------------------
@query(
    "q529_power_law_degree_alpha",
    oracle=f"""
    WITH {_TRADE},
    und AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM trade
            UNION ALL SELECT dst, src FROM trade
        ) t WHERE src <> dst
    ),
    deg AS MATERIALIZED (
        SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
        FROM und GROUP BY src
    ),
    tail AS MATERIALIZED (
        SELECT d FROM deg WHERE d >= 3
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
               CAST(SUM(CAST(SIGN(LN(d / 2.5)) * FLOOR(ABS(LN(d / 2.5))
                             * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / 1e9 AS slnd
        FROM tail
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_vertices,
           n_tail,
           CAST(CAST(SIGN(a) * FLOOR(ABS(a) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS alpha_hat
    FROM (SELECT n_tail, 1.0 + n_tail / slnd AS a FROM fit)
    """,
)
def q529(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    trade = _trade_edges(spark, sf_dir)
    und = symmetrize(trade)
    deg = tracked_persist(
        und.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("d")
        )
    )
    tail = deg.filter(F.col("d") >= 3)
    fit = tail.agg(
        F.count(F.lit(1)).cast("long").alias("n_tail"),
        dsum(F.log(F.col("d") / 2.5), 9).alias("slnd"),
    )
    nv = deg.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    return (
        F.broadcast(nv)
        .crossJoin(fit)
        .select(
            "n_vertices",
            "n_tail",
            (
                quantize(1.0 + F.col("n_tail") / F.col("slnd"), 6) / 1e6
            ).alias("alpha_hat"),
        )
    )


# --- q567: Moran's I and Geary's C network autocorrelation of per-
# nation customer revenue over the (symmetrized, binary) trade graph —
# "do nations that trade with each other have similar demand?" The
# classic spatial-statistics pair (Moran 1950, Geary 1954, public
# methodology) with the trade adjacency standing in for geographic
# contiguity: I = (n/S0)·Σw_ij z_i z_j / Σz_i²,
# C = ((n−1)/(2S0))·Σw_ij (x_i−x_j)² / Σz_i². Everything after the one
# fact aggregate lives on the bounded 25-nation rollup and its ≤600
# symmetric edges. ---------------------------------------------------------------
@query(
    "q567_moran_geary_trade_autocorr",
    oracle=f"""
    WITH {_TRADE}
    , w AS MATERIALIZED (
        SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM trade
            UNION ALL
            SELECT dst AS src, src AS dst FROM trade
        ) t
    ),
    x AS MATERIALIZED (
        SELECT c.c_nationkey AS nk,
               CAST(SUM({sql_quantize('o.o_totalprice', 2)}) AS DOUBLE)
                   / 1e2 / 1e6 AS xv
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY nk
    ),
    mu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM({sql_quantize('xv', 6)}) AS DOUBLE) / 1e6
                      / COUNT(*) AS m
           FROM x),
    zden AS (
        SELECT CAST(SUM({sql_quantize('(xv - m) * (xv - m)', 9)}) AS DOUBLE)
                   / 1e9 AS sz2
        FROM x, mu
    ),
    cross_terms AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS s0,
               CAST(SUM({sql_quantize('(a.xv - m) * (b.xv - m)', 9)})
                    AS DOUBLE) / 1e9 AS szz,
               CAST(SUM({sql_quantize('(a.xv - b.xv) * (a.xv - b.xv)', 9)})
                    AS DOUBLE) / 1e9 AS sdd
        FROM w JOIN x a ON a.nk = w.src
               JOIN x b ON b.nk = w.dst
               CROSS JOIN mu
    )
    SELECT mu.n AS n_nations, ct.s0 AS n_edges,
           CAST({sql_quantize(
               '(CAST(mu.n AS DOUBLE) / ct.s0) * ct.szz / zden.sz2', 6)}
               AS DOUBLE) / 1e6 AS moran_i,
           CAST({sql_quantize(
               '((mu.n - 1.0) / (2.0 * ct.s0)) * ct.sdd / zden.sz2', 6)}
               AS DOUBLE) / 1e6 AS geary_c,
           CAST({sql_quantize('-1.0 / (mu.n - 1)', 6)} AS DOUBLE) / 1e6
               AS expected_i
    FROM mu, zden, cross_terms ct
    """,
)
def q567(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    trade = _trade_edges(spark, sf_dir).select("src", "dst")
    w = trade.unionAll(
        trade.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    x = tracked_persist(
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg((dsum("o_totalprice", 2) / 1e6).alias("xv"))
    )
    mu = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (dsum("xv", 6) / F.count(F.lit(1))).alias("m"),
    )
    zden = x.crossJoin(F.broadcast(mu)).agg(
        dsum((F.col("xv") - F.col("m")) * (F.col("xv") - F.col("m")), 9).alias("sz2")
    )
    a = x.select(F.col("nk").alias("src"), F.col("xv").alias("xa"))
    b = x.select(F.col("nk").alias("dst"), F.col("xv").alias("xb"))
    ct = (
        w.join(F.broadcast(a), "src")
        .join(F.broadcast(b), "dst")
        .crossJoin(F.broadcast(mu))
        .agg(
            F.count(F.lit(1)).cast("long").alias("s0"),
            dsum(
                (F.col("xa") - F.col("m")) * (F.col("xb") - F.col("m")), 9
            ).alias("szz"),
            dsum(
                (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")), 9
            ).alias("sdd"),
        )
    )
    j = mu.crossJoin(F.broadcast(zden)).crossJoin(F.broadcast(ct))
    return j.select(
        F.col("n").alias("n_nations"),
        F.col("s0").alias("n_edges"),
        (
            quantize(
                (F.col("n").cast("double") / F.col("s0")) * F.col("szz") / F.col("sz2"),
                6,
            )
            / 1e6
        ).alias("moran_i"),
        (
            quantize(
                ((F.col("n") - 1.0) / (2.0 * F.col("s0"))) * F.col("sdd") / F.col("sz2"),
                6,
            )
            / 1e6
        ).alias("geary_c"),
        (quantize(-1.0 / (F.col("n") - 1), 6) / 1e6).alias("expected_i"),
    )


# --- q607: gravity model of bilateral trade — the econometrics
# workhorse ln(w_ij) = β₀ + β₁·ln(m_i) + β₂·ln(m_j) fit by closed-form
# two-regressor OLS (q549's normal-equation stages) over the bounded
# nation-pair trade cells, with masses = each nation's total outbound /
# inbound line counts. Output: coefficients and R². ------------------------------
@query(
    "q607_gravity_model_trade",
    oracle=f"""
    WITH {_TRADE}
    , mo AS MATERIALIZED (
        SELECT src, CAST(SUM(cnt) AS DOUBLE) AS m FROM trade GROUP BY src
    ),
    mi AS MATERIALIZED (
        SELECT dst, CAST(SUM(cnt) AS DOUBLE) AS m FROM trade GROUP BY dst
    ),
    d AS MATERIALIZED (
        SELECT LN(CAST(t.cnt AS DOUBLE)) AS y,
               LN(mo.m) AS u, LN(mi.m) AS v
        FROM trade t JOIN mo ON mo.src = t.src JOIN mi ON mi.dst = t.dst
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({sql_quantize('y', 9)}) AS DOUBLE) / 1e9 AS sy,
               CAST(SUM({sql_quantize('u', 9)}) AS DOUBLE) / 1e9 AS su,
               CAST(SUM({sql_quantize('v', 9)}) AS DOUBLE) / 1e9 AS sv,
               CAST(SUM({sql_quantize('y * y', 9)}) AS DOUBLE) / 1e9 AS syy,
               CAST(SUM({sql_quantize('u * u', 9)}) AS DOUBLE) / 1e9 AS suu,
               CAST(SUM({sql_quantize('v * v', 9)}) AS DOUBLE) / 1e9 AS svv,
               CAST(SUM({sql_quantize('u * y', 9)}) AS DOUBLE) / 1e9 AS suy,
               CAST(SUM({sql_quantize('v * y', 9)}) AS DOUBLE) / 1e9 AS svy,
               CAST(SUM({sql_quantize('u * v', 9)}) AS DOUBLE) / 1e9 AS suv
        FROM d
    ),
    c AS (
        SELECT n, sy, su, sv,
               syy - sy * sy / n AS cyy,
               suu - su * su / n AS cuu,
               svv - sv * sv / n AS cvv,
               suy - su * sy / n AS cuy,
               svy - sv * sy / n AS cvy,
               suv - su * sv / n AS cuv
        FROM s
    ),
    fit AS (
        SELECT n, sy, su, sv, cyy,
               (cvv * cuy - cuv * cvy) / (cuu * cvv - cuv * cuv) AS b1,
               (cuu * cvy - cuv * cuy) / (cuu * cvv - cuv * cuv) AS b2,
               cyy - ((cvv * cuy - cuv * cvy) / (cuu * cvv - cuv * cuv)) * cuy
                   - ((cuu * cvy - cuv * cuy) / (cuu * cvv - cuv * cuv)) * cvy
                   AS rss
        FROM c
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           CAST({sql_quantize('(sy - b1 * su - b2 * sv) / n', 6)} AS DOUBLE)
               / 1e6 AS beta0,
           CAST({sql_quantize('b1', 6)} AS DOUBLE) / 1e6 AS beta_out_mass,
           CAST({sql_quantize('b2', 6)} AS DOUBLE) / 1e6 AS beta_in_mass,
           CAST({sql_quantize('1 - rss / cyy', 6)} AS DOUBLE) / 1e6 AS r2
    FROM fit
    """,
)
def q607(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    trade = tracked_persist(_trade_edges(spark, sf_dir))
    mo = trade.groupBy("src").agg(F.sum("cnt").cast("double").alias("mo"))
    mi = trade.groupBy("dst").agg(F.sum("cnt").cast("double").alias("mi"))
    d = (
        trade.join(F.broadcast(mo), "src")
        .join(F.broadcast(mi), "dst")
        .select(
            F.log(F.col("cnt").cast("double")).alias("y"),
            F.log("mo").alias("u"),
            F.log("mi").alias("v"),
        )
    )
    s = d.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("y", 9).alias("sy"),
        dsum("u", 9).alias("su"),
        dsum("v", 9).alias("sv"),
        dsum(F.col("y") * F.col("y"), 9).alias("syy"),
        dsum(F.col("u") * F.col("u"), 9).alias("suu"),
        dsum(F.col("v") * F.col("v"), 9).alias("svv"),
        dsum(F.col("u") * F.col("y"), 9).alias("suy"),
        dsum(F.col("v") * F.col("y"), 9).alias("svy"),
        dsum(F.col("u") * F.col("v"), 9).alias("suv"),
    )
    c = s.selectExpr(
        "n", "sy", "su", "sv",
        "syy - sy * sy / n AS cyy",
        "suu - su * su / n AS cuu",
        "svv - sv * sv / n AS cvv",
        "suy - su * sy / n AS cuy",
        "svy - sv * sy / n AS cvy",
        "suv - su * sv / n AS cuv",
    )
    fit = c.selectExpr(
        "n", "sy", "su", "sv", "cyy",
        "(cvv * cuy - cuv * cvy) / (cuu * cvv - cuv * cuv) AS b1",
        "(cuu * cvy - cuv * cuy) / (cuu * cvv - cuv * cuv) AS b2",
        "cyy - ((cvv * cuy - cuv * cvy) / (cuu * cvv - cuv * cuv)) * cuy"
        " - ((cuu * cvy - cuv * cuy) / (cuu * cvv - cuv * cuv)) * cvy AS rss",
    )
    return fit.select(
        F.col("n").cast("long").alias("n_pairs"),
        (
            quantize((F.col("sy") - F.col("b1") * F.col("su") - F.col("b2") * F.col("sv")) / F.col("n"), 6)
            / 1e6
        ).alias("beta0"),
        (quantize("b1", 6) / 1e6).alias("beta_out_mass"),
        (quantize("b2", 6) / 1e6).alias("beta_in_mass"),
        (quantize(1 - F.col("rss") / F.col("cyy"), 6) / 1e6).alias("r2"),
    )


# --- q608: Burt's structural-holes constraint per nation — over the
# symmetrized, weight-normalized trade graph: c_i = Σ_j (p_ij +
# Σ_q p_iq·p_qj)² where p_ij are i's normalized tie weights. Low
# constraint = the nation brokers between otherwise-disconnected
# partners (Burt 1992, public methodology). Two bounded joins on the
# 25-node adjacency — matrix algebra as DataFrames. ------------------------------
@query(
    "q608_burt_constraint_nations",
    oracle=f"""
    WITH {_TRADE}
    , sym AS MATERIALIZED (
        SELECT src AS i, dst AS j, CAST(SUM(cnt) AS DOUBLE) AS w
        FROM (
            SELECT src, dst, cnt FROM trade
            UNION ALL
            SELECT dst AS src, src AS dst, cnt FROM trade
        ) t GROUP BY i, j
    ),
    deg AS MATERIALIZED (
        SELECT i, SUM(w) AS wi FROM sym GROUP BY i
    ),
    p AS MATERIALIZED (
        SELECT sym.i, sym.j, sym.w / deg.wi AS p
        FROM sym JOIN deg ON deg.i = sym.i
    ),
    two_hop AS MATERIALIZED (
        SELECT a.i, b.j,
               CAST(SUM({sql_quantize('a.p * b.p', 12)}) AS DOUBLE) / 1e12
                   AS pq
        FROM p a JOIN p b ON b.i = a.j
        WHERE a.i <> b.j
        GROUP BY a.i, b.j
    ),
    terms AS (
        SELECT p.i,
               (p.p + COALESCE(t.pq, 0)) * (p.p + COALESCE(t.pq, 0)) AS c_ij
        FROM p LEFT JOIN two_hop t ON t.i = p.i AND t.j = p.j
    )
    SELECT i AS nation,
           CAST(CAST(SIGN(c) * FLOOR(ABS(c) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS burt_constraint
    FROM (
        SELECT i, CAST(SUM(CAST(SIGN(c_ij) * FLOOR(ABS(c_ij) * 1e9 + 0.5)
                               AS BIGINT)) AS DOUBLE) / 1e9 AS c
        FROM terms GROUP BY i
    )
    ORDER BY nation
    """,
)
def q608(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    trade = _trade_edges(spark, sf_dir)
    sym = (
        trade.select("src", "dst", "cnt")
        .unionAll(
            trade.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "cnt"
            )
        )
        .groupBy(F.col("src").alias("i"), F.col("dst").alias("j"))
        .agg(F.sum("cnt").cast("double").alias("w"))
    )
    deg = sym.groupBy("i").agg(F.sum("w").alias("wi"))
    p = tracked_persist(
        sym.join(F.broadcast(deg), "i").select(
            "i", "j", (F.col("w") / F.col("wi")).alias("p")
        )
    )
    b = p.select(
        F.col("i").alias("j"), F.col("j").alias("j2"), F.col("p").alias("pb")
    )
    two_hop = (
        p.join(F.broadcast(b), "j")
        .where(F.col("i") != F.col("j2"))
        .groupBy(F.col("i").alias("ii"), F.col("j2").alias("jj"))
        .agg(dsum(F.col("p") * F.col("pb"), 12).alias("pq"))
    )
    terms = p.join(
        F.broadcast(two_hop),
        (F.col("i") == F.col("ii")) & (F.col("j") == F.col("jj")),
        "left",
    ).select(
        F.col("i").alias("node"),
        (
            (F.col("p") + F.coalesce(F.col("pq"), F.lit(0.0)))
            * (F.col("p") + F.coalesce(F.col("pq"), F.lit(0.0)))
        ).alias("c_ij"),
    )
    out = terms.groupBy("node").agg(dsum("c_ij", 9).alias("c"))
    return out.select(
        F.col("node").alias("nation"),
        (quantize("c", 6) / 1e6).alias("burt_constraint"),
    ).orderBy("nation")


# --- q613: categorical (region) assortativity of the trade graph —
# Newman's attribute mixing coefficient r = (Σe_rr − Σa_r·b_r)/
# (1 − Σa_r·b_r) over the region×region edge-weight mixing matrix:
# do nations trade mostly within their own region? The categorical
# companion to the §2.14 degree assortativity. The mixing matrix is
# region²-bounded (≤25 cells); edge weights aggregate once. ----------------------
@query(
    "q613_region_assortativity",
    oracle=f"""
    WITH {_TRADE}
    , mix AS MATERIALIZED (
        SELECT ns.n_regionkey AS rs, nd.n_regionkey AS rd,
               CAST(SUM(t.cnt) AS DOUBLE) AS w
        FROM trade t
        JOIN nation ns ON ns.n_nationkey = t.src
        JOIN nation nd ON nd.n_nationkey = t.dst
        GROUP BY rs, rd
    ),
    tot AS (SELECT SUM(w) AS ww FROM mix),
    e AS MATERIALIZED (
        SELECT rs, rd, mix.w / tot.ww AS e FROM mix, tot
    ),
    tr AS (
        SELECT CAST(SUM(CAST(SIGN(e) * FLOOR(ABS(e) * 1e12 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e12 AS tr
        FROM e WHERE rs = rd
    ),
    ma AS (SELECT rs, SUM(e) AS a FROM e GROUP BY rs),
    mb AS (SELECT rd, SUM(e) AS b FROM e GROUP BY rd),
    sab AS (
        SELECT CAST(SUM(CAST(SIGN(ma.a * mb.b)
                             * FLOOR(ABS(ma.a * mb.b) * 1e12 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e12 AS sab
        FROM ma JOIN mb ON mb.rd = ma.rs
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ma) AS n_regions,
           CAST(CAST(SIGN(r) * FLOOR(ABS(r) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS assortativity_r
    FROM (SELECT (tr.tr - sab.sab) / (1 - sab.sab) AS r FROM tr, sab)
    """,
)
def q613(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    trade = _trade_edges(spark, sf_dir)
    nat = T(spark, sf_dir, "nation")
    ns = nat.select(F.col("n_nationkey").alias("src"), F.col("n_regionkey").alias("rs"))
    nd = nat.select(F.col("n_nationkey").alias("dst"), F.col("n_regionkey").alias("rd"))
    mix = (
        trade.join(F.broadcast(ns), "src")
        .join(F.broadcast(nd), "dst")
        .groupBy("rs", "rd")
        .agg(F.sum("cnt").cast("double").alias("w"))
    )
    tot = mix.agg(F.sum("w").alias("ww"))
    e = tracked_persist(
        mix.crossJoin(F.broadcast(tot)).select(
            "rs", "rd", (F.col("w") / F.col("ww")).alias("e")
        )
    )
    tr = e.where(F.col("rs") == F.col("rd")).agg(dsum("e", 12).alias("tr"))
    ma = e.groupBy("rs").agg(F.sum("e").alias("a"))
    mb = e.groupBy(F.col("rd").alias("rs")).agg(F.sum("e").alias("b"))
    sab = ma.join(F.broadcast(mb), "rs").agg(
        dsum(F.col("a") * F.col("b"), 12).alias("sab")
    )
    nr = ma.agg(F.count(F.lit(1)).cast("long").alias("n_regions"))
    j = nr.crossJoin(F.broadcast(tr)).crossJoin(F.broadcast(sab))
    return j.select(
        "n_regions",
        (
            quantize((F.col("tr") - F.col("sab")) / (1 - F.col("sab")), 6) / 1e6
        ).alias("assortativity_r"),
    )


# ===== Wave q693-q698: graph-topology tier III =========================
# Public methodology: Wiener (1947) index / Latora-Marchiori (2001)
# global efficiency, Borgatti-Everett (2000) core-periphery, Watts-
# Strogatz (1998) small-world sigma, Burt (1992) structural-hole
# constraint, Molloy-Reed (1995) robustness criterion, Broder et al.
# (2000) bow-tie decomposition. All on the bounded 25-node nation
# trade graph: distances come from the q516 multi-source BFS dataflow
# (every root expands in ONE distributed frontier per hop — at 100 TB
# the frontier join is the partitioned shuffle, never a per-root
# loop); the quadratic/cubic pieces live on ≤25²/25³ bounded grids.

# --- q693: Wiener index, characteristic path length and global
# efficiency of the strong trade graph — W = Σ_{i<j} d_ij, L = mean
# d_ij, E_glob = mean 1/d_ij: the distance-tier summary on top of
# q516's eccentricity readout (same BFS state, different reductions).
# EAGER actions at plan-build time, by design: the shared frontier walk
# runs one limit(1).count() job per hop (early-exit certificate — the
# iteration count is a data property, not a plan property) and cuts
# lineage on its own cadence; bounded by the ≤25-nation vertex set and
# the 20-hop cap. -----------------------------------------------------------
@query(
    "q693_wiener_efficiency",
    oracle=f"""
    WITH RECURSIVE {_STRONG},
    walk(root, id, hops) AS (
        SELECT src, src, 0 FROM und
        UNION
        SELECT w.root, u.dst, w.hops + 1
        FROM walk w JOIN und u ON u.src = w.id
        WHERE w.hops < 20
    ),
    dist AS MATERIALIZED (
        SELECT root, id, CAST(MIN(hops) AS BIGINT) AS h
        FROM walk GROUP BY root, id
        HAVING root <> id
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS np,
               CAST(SUM(h) AS BIGINT) AS sd,
               CAST(SUM(CAST(SIGN(1.0 / h) * FLOOR(ABS(1.0 / h) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS sinv
        FROM dist
    )
    SELECT CAST(np // 2 AS BIGINT) AS n_pairs,
           CAST(sd // 2 AS BIGINT) AS wiener_index,
           CAST(CAST(SIGN(l) * FLOOR(ABS(l) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS char_path_length,
           CAST(CAST(SIGN(e) * FLOOR(ABS(e) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS global_efficiency
    FROM (
        SELECT np, sd,
               CAST(sd AS DOUBLE) / np AS l,
               sinv / np AS e
        FROM s
    )
    """,
)
def q693(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    strong = _strong_edges(spark, sf_dir)
    und = tracked_persist(symmetrize(strong))
    verts = und.select(F.col("src").alias("id")).distinct()
    visited = tracked_persist(
        verts.select(F.col("id").alias("root"), "id", F.lit(0).alias("hops"))
    )
    visited, _ = _frontier_walk(und, visited, ["root", "id"], 20)
    dist = visited.where(F.col("root") != F.col("id")).select(
        F.col("hops").cast("long").alias("h")
    )
    s = dist.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("h").cast("long").alias("sd"),
        dsum(1.0 / F.col("h"), 9).alias("sinv"),
    )
    return s.select(
        (F.col("np") / 2).cast("long").alias("n_pairs"),
        (F.col("sd") / 2).cast("long").alias("wiener_index"),
        (quantize(F.col("sd").cast("double") / F.col("np"), 6) / 1e6).alias(
            "char_path_length"
        ),
        (quantize(F.col("sinv") / F.col("np"), 6) / 1e6).alias(
            "global_efficiency"
        ),
    )


# --- q694: Borgatti-Everett (2000) core-periphery fit — sweep the
# degree-ranked core size k, correlate the observed adjacency (over
# all unordered vertex pairs, non-edges included) with the ideal
# pattern "1 unless both endpoints are periphery", and report the
# best-fitting k and its Pearson r. The sweep is a bounded 24 × 300
# grid; correlation from exact integer sums via the shared formula. -------------
@query(
    "q694_core_periphery_fit",
    oracle=f"""
    WITH {_STRONG},
    verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM und),
    deg AS MATERIALIZED (
        SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
        FROM und GROUP BY src
    ),
    ranked AS MATERIALIZED (
        SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY d DESC, id) AS BIGINT)
                   AS rk
        FROM deg
    ),
    pairs AS MATERIALIZED (
        SELECT a.id AS ia, b.id AS ib,
               ra.rk AS rka, rb.rk AS rkb,
               CASE WHEN e.src IS NOT NULL THEN 1 ELSE 0 END AS adj
        FROM verts a
        JOIN verts b ON a.id < b.id
        JOIN ranked ra ON ra.id = a.id
        JOIN ranked rb ON rb.id = b.id
        LEFT JOIN und e ON e.src = a.id AND e.dst = b.id
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM verts),
    sweep AS (
        SELECT k.k,
               COUNT(*) AS n,
               CAST(SUM(p.adj) AS BIGINT) AS sx,
               CAST(SUM(p.adj) AS BIGINT) AS sxx,
               CAST(SUM(CASE WHEN p.rka <= k.k OR p.rkb <= k.k
                        THEN 1 ELSE 0 END) AS BIGINT) AS sy,
               CAST(SUM(CASE WHEN p.rka <= k.k OR p.rkb <= k.k
                        THEN 1 ELSE 0 END) AS BIGINT) AS syy,
               CAST(SUM(CASE WHEN (p.rka <= k.k OR p.rkb <= k.k)
                                  AND p.adj = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS sxy
        FROM pairs p
        CROSS JOIN (SELECT UNNEST(generate_series(1,
                        (SELECT CAST(nv AS INTEGER) - 1 FROM nn))) AS k) k
        GROUP BY k.k
    ),
    scored AS (
        SELECT k, n,
               (n * sxy - sx * sy)
               / (SQRT(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                  * SQRT(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
                   AS r
        FROM sweep
        WHERE n * sxx > sx * sx AND n * syy > sy * sy
    )
    SELECT CAST(k AS BIGINT) AS core_size,
           CAST(CAST(SIGN(r) * FLOOR(ABS(r) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS fit_r
    FROM scored
    ORDER BY CAST(SIGN(r) * FLOOR(ABS(r) * 1e9 + 0.5) AS BIGINT) DESC, k
    LIMIT 1
    """,
)
def q694(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.graph import symmetrize
    from pyspark.sql import Window

    strong = _strong_edges(spark, sf_dir)
    und = tracked_persist(symmetrize(strong))
    verts = und.select(F.col("src").alias("id")).distinct()
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    ranked = deg.select(
        "id",
        F.row_number()
        .over(Window.orderBy(F.desc("d"), F.asc("id")))
        .cast("long")
        .alias("rk"),
    )
    a = verts.select(F.col("id").alias("ia"))
    b = verts.select(F.col("id").alias("ib"))
    ra = ranked.select(F.col("id").alias("ia"), F.col("rk").alias("rka"))
    rb = ranked.select(F.col("id").alias("ib"), F.col("rk").alias("rkb"))
    e = und.select(
        F.col("src").alias("ia"), F.col("dst").alias("ib"),
        F.lit(1).alias("adj"),
    )
    # count fence: the 25-nation domain claim is ENFORCED — raises
    # UnboundedBuildError if the vertex set ever scales with data
    from pandrs_spark.operators.util import assert_bounded

    pairs = tracked_persist(
        a.join(F.broadcast(assert_bounded(b, 25, "q694 nation vertices")), F.col("ia") < F.col("ib"))
        .join(F.broadcast(ra), "ia")
        .join(F.broadcast(rb), "ib")
        .join(e, ["ia", "ib"], "left")
        .na.fill({"adj": 0})
    )
    # k-sweep grid 1..nv-1 built LAZILY from the ranked degrees
    # themselves (ranks are exactly 1..nv): no driver-side first() at
    # plan-build time — the builder stays lazy per the q693 note
    mx = ranked.agg(F.max("rk").alias("mx"))
    grid = (
        ranked.select(F.col("rk").alias("k"))
        .crossJoin(F.broadcast(mx))
        .where(F.col("k") < F.col("mx"))
        .select("k")
    )
    core = F.when(
        (F.col("rka") <= F.col("k")) | (F.col("rkb") <= F.col("k")), 1
    ).otherwise(0)
    sweep = (
        F.broadcast(grid)
        .crossJoin(pairs)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("adj").cast("long").alias("sx"),
            F.sum("adj").cast("long").alias("sxx"),
            F.sum(core).cast("long").alias("sy"),
            F.sum(core).cast("long").alias("syy"),
            F.sum(core * F.col("adj")).cast("long").alias("sxy"),
        )
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(
            F.col("n") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * F.sqrt(
            F.col("n") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy")
        )
    )
    scored = sweep.where(
        (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
        & (F.col("n") * F.col("syy") > F.col("sy") * F.col("sy"))
    ).select("k", r.alias("r"))
    return (
        scored.orderBy(quantize("r", 9).desc(), F.asc("k"))
        .limit(1)
        .select(
            F.col("k").alias("core_size"),
            (quantize("r", 6) / 1e6).alias("fit_r"),
        )
    )


# --- q695: Watts-Strogatz small-world sigma — σ = (C/C_rand)/(L/L_rand)
# with the Erdős-Rényi nulls C_rand = 2m/(n(n−1)), L_rand =
# ln(n)/ln(k̄): σ ≫ 1 means clustered-yet-short, the small-world
# signature. C = mean local clustering (the q97 triangle dataflow),
# L from the q693 BFS distances — both already scale-shaped. -------------------
@query(
    "q695_small_world_sigma",
    oracle=f"""
    WITH RECURSIVE {_STRONG},
    deg AS MATERIALIZED (
        SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
        FROM und GROUP BY src
    ),
    tri AS MATERIALIZED (
        SELECT a.src AS id, CAST(COUNT(*) AS BIGINT) AS t
        FROM und a JOIN und b ON b.src = a.dst
                   JOIN und c ON c.src = b.dst AND c.dst = a.src
        GROUP BY a.src
    ),
    lcc AS (
        SELECT d.id,
               CASE WHEN d.d >= 2 THEN
                   CAST(COALESCE(tri.t, 0) AS DOUBLE) / (d.d * (d.d - 1))
               ELSE 0.0 END AS c
        FROM deg d LEFT JOIN tri ON tri.id = d.id
    ),
    cc AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(SIGN(c) * FLOOR(ABS(c) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS sc
        FROM lcc
    ),
    m AS (SELECT CAST(COUNT(*) / 2 AS BIGINT) AS m FROM und),
    walk(root, id, hops) AS (
        SELECT src, src, 0 FROM und
        UNION
        SELECT w.root, u.dst, w.hops + 1
        FROM walk w JOIN und u ON u.src = w.id
        WHERE w.hops < 20
    ),
    dist AS MATERIALIZED (
        SELECT root, id, CAST(MIN(hops) AS BIGINT) AS h
        FROM walk GROUP BY root, id HAVING root <> id
    ),
    lbar AS (
        SELECT CAST(SUM(h) AS DOUBLE) / COUNT(*) AS l FROM dist
    )
    SELECT cc.n AS n_vertices, m.m AS n_edges,
           CAST(CAST(SIGN(cobs) * FLOOR(ABS(cobs) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS clustering_obs,
           CAST(CAST(SIGN(lbar.l) * FLOOR(ABS(lbar.l) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS path_length_obs,
           CAST(CAST(SIGN(sigma) * FLOOR(ABS(sigma) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS small_world_sigma
    FROM cc, m, lbar,
         (SELECT (cc.sc / cc.n)
                     / (2.0 * m.m / (CAST(cc.n AS DOUBLE) * (cc.n - 1)))
                 / (lbar.l
                    / (LN(CAST(cc.n AS DOUBLE))
                       / LN(2.0 * m.m / CAST(cc.n AS DOUBLE)))) AS sigma,
                 cc.sc / cc.n AS cobs
          FROM cc, m, lbar)
    """,
)
def q695(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    strong = _strong_edges(spark, sf_dir)
    und = tracked_persist(symmetrize(strong))
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    b = und.select(F.col("src").alias("mid"), F.col("dst").alias("dst2"))
    tri = (
        und.join(b, und.dst == b.mid)
        .join(
            und.select(
                F.col("src").alias("dst2"), F.col("dst").alias("back")
            ),
            "dst2",
        )
        .where(F.col("back") == F.col("src"))
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    lcc = deg.join(tri, "id", "left").select(
        F.when(
            F.col("d") >= 2,
            F.coalesce(F.col("t"), F.lit(0)).cast("double")
            / (F.col("d") * (F.col("d") - 1)),
        )
        .otherwise(0.0)
        .alias("c")
    )
    cc = lcc.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("c", 9).alias("sc"),
    )
    m = und.agg((F.count(F.lit(1)) / 2).cast("long").alias("m"))
    verts = und.select(F.col("src").alias("id")).distinct()
    visited = tracked_persist(
        verts.select(F.col("id").alias("root"), "id", F.lit(0).alias("hops"))
    )
    visited, _ = _frontier_walk(und, visited, ["root", "id"], 20)
    lbar = (
        visited.where(F.col("root") != F.col("id"))
        .agg(
            (
                F.sum(F.col("hops").cast("long")).cast("double")
                / F.count(F.lit(1))
            ).alias("l")
        )
    )
    j = cc.crossJoin(F.broadcast(m)).crossJoin(F.broadcast(lbar))
    cobs = F.col("sc") / F.col("n")
    crand = 2.0 * F.col("m") / (F.col("n").cast("double") * (F.col("n") - 1))
    lrand = F.log(F.col("n").cast("double")) / F.log(
        2.0 * F.col("m") / F.col("n").cast("double")
    )
    sigma = (cobs / crand) / (F.col("l") / lrand)
    return j.select(
        F.col("n").alias("n_vertices"),
        F.col("m").alias("n_edges"),
        (quantize(cobs, 6) / 1e6).alias("clustering_obs"),
        (quantize("l", 6) / 1e6).alias("path_length_obs"),
        (quantize(sigma, 6) / 1e6).alias("small_world_sigma"),
    )


# --- q696: Burt (1992) structural-hole constraint on the weighted
# trade graph — C_i = Σ_j (p_ij + Σ_q p_iq·p_qj)², p = row-normalized
# symmetrized trade weights: LOW constraint marks the broker nations
# whose partners don't trade with each other. The two-hop term is the
# 25³-bounded p⋈p self-join. Reports the 5 least-constrained
# (best-brokering) nations. --------------------------------------------------------
@query(
    "q696_burt_constraint_brokers",
    oracle=f"""
    WITH {_TRADE},
    und AS MATERIALIZED (
        SELECT src, dst, CAST(SUM(cnt) AS BIGINT) AS w
        FROM (
            SELECT src, dst, cnt FROM trade
            UNION ALL
            SELECT dst AS src, src AS dst, cnt FROM trade
        ) t
        WHERE src <> dst
        GROUP BY src, dst
    ),
    rowsum AS (
        SELECT src, CAST(SUM(w) AS BIGINT) AS tw FROM und GROUP BY src
    ),
    p AS MATERIALIZED (
        SELECT u.src AS i, u.dst AS j,
               CAST(u.w AS DOUBLE) / r.tw AS p
        FROM und u JOIN rowsum r ON r.src = u.src
    ),
    twohop AS MATERIALIZED (
        SELECT a.i, b.j,
               CAST(SUM(CAST(SIGN(a.p * b.p)
                             * FLOOR(ABS(a.p * b.p) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS pq
        FROM p a JOIN p b ON b.i = a.j
        WHERE a.i <> b.j
        GROUP BY a.i, b.j
    ),
    terms AS (
        SELECT d.i, d.j,
               (COALESCE(p.p, 0.0) + COALESCE(t.pq, 0.0))
               * (COALESCE(p.p, 0.0) + COALESCE(t.pq, 0.0)) AS c
        FROM (SELECT DISTINCT i, j FROM (
                  SELECT i, j FROM p UNION ALL SELECT i, j FROM twohop)) d
        LEFT JOIN p ON p.i = d.i AND p.j = d.j
        LEFT JOIN twohop t ON t.i = d.i AND t.j = d.j
    ),
    cons AS (
        SELECT n.n_name AS nation,
               CAST(SUM(CAST(SIGN(c) * FLOOR(ABS(c) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS ci
        FROM terms JOIN nation n ON n.n_nationkey = terms.i
        GROUP BY nation
    )
    SELECT nation,
           CAST(CAST(SIGN(ci) * FLOOR(ABS(ci) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS constraint_c
    FROM cons
    ORDER BY CAST(SIGN(ci) * FLOOR(ABS(ci) * 1e9 + 0.5) AS BIGINT) ASC,
             nation
    LIMIT 5
    """,
)
def q696(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    trade = _trade_edges(spark, sf_dir)
    nat = T(spark, sf_dir, "nation")
    rev = trade.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "cnt"
    )
    und = (
        trade.unionAll(rev)
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("cnt").cast("long").alias("w"))
    )
    und = tracked_persist(und)
    rowsum = und.groupBy("src").agg(F.sum("w").cast("long").alias("tw"))
    p = tracked_persist(
        und.join(rowsum, "src").select(
            F.col("src").alias("i"),
            F.col("dst").alias("j"),
            (F.col("w").cast("double") / F.col("tw")).alias("p"),
        )
    )
    pb = p.select(
        F.col("i").alias("j0"), F.col("j").alias("j"), F.col("p").alias("pb")
    )
    twohop = (
        p.select(F.col("i"), F.col("j").alias("j0"), F.col("p").alias("pa"))
        .join(pb, "j0")
        .where(F.col("i") != F.col("j"))
        .groupBy("i", "j")
        .agg(dsum(F.col("pa") * F.col("pb"), 9).alias("pq"))
    )
    d = (
        p.select("i", "j")
        .unionAll(twohop.select("i", "j"))
        .distinct()
    )
    terms = (
        d.join(p, ["i", "j"], "left")
        .join(twohop, ["i", "j"], "left")
        .select(
            "i",
            (
                (F.coalesce(F.col("p"), F.lit(0.0))
                 + F.coalesce(F.col("pq"), F.lit(0.0)))
                * (F.coalesce(F.col("p"), F.lit(0.0))
                   + F.coalesce(F.col("pq"), F.lit(0.0)))
            ).alias("c"),
        )
    )
    cons = (
        terms.join(
            F.broadcast(nat), terms.i == nat.n_nationkey
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum("c", 9).alias("ci"))
    )
    return (
        cons.orderBy(quantize("ci", 9).asc(), F.asc("nation"))
        .limit(5)
        .select(
            "nation", (quantize("ci", 6) / 1e6).alias("constraint_c")
        )
    )


# --- q697: Molloy-Reed (1995) robustness criterion — κ = ⟨k²⟩/⟨k⟩ of
# the strong trade graph: a giant component survives random failure
# while κ > 2, and the percolation threshold is f_c = 1 − 1/(κ−1)
# (Cohen et al. 2000): the closed-form companion to q467's empirical
# attack simulation. Exact degree-moment sums. -----------------------------------
@query(
    "q697_molloy_reed_percolation",
    oracle=f"""
    WITH {_STRONG},
    deg AS (
        SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
        FROM und GROUP BY src
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS s1,
               CAST(SUM(d * d) AS BIGINT) AS s2
        FROM deg
    )
    SELECT n AS n_vertices, CAST(s1 // 2 AS BIGINT) AS n_edges,
           CAST(CAST(SIGN(kap) * FLOOR(ABS(kap) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS kappa,
           CAST(CAST(SIGN(fc) * FLOOR(ABS(fc) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS percolation_threshold,
           CASE WHEN kap > 2 THEN 1 ELSE 0 END AS has_giant_component
    FROM (
        SELECT n, s1,
               CAST(s2 AS DOUBLE) / s1 AS kap,
               1.0 - 1.0 / (CAST(s2 AS DOUBLE) / s1 - 1.0) AS fc
        FROM s
    )
    """,
)
def q697(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.graph import symmetrize

    strong = _strong_edges(spark, sf_dir)
    und = symmetrize(strong)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    s = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("s1"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("s2"),
    )
    kap = F.col("s2").cast("double") / F.col("s1")
    return s.select(
        F.col("n").alias("n_vertices"),
        (F.col("s1") / 2).cast("long").alias("n_edges"),
        (quantize(kap, 6) / 1e6).alias("kappa"),
        (quantize(1.0 - 1.0 / (kap - 1.0), 6) / 1e6).alias(
            "percolation_threshold"
        ),
        F.when(kap > 2, 1).otherwise(0).cast("int").alias(
            "has_giant_component"
        ),
    )


# --- q698: Broder et al. (2000) bow-tie decomposition of the DIRECTED
# strong trade graph — the largest strongly-connected CORE, the IN set
# (reaches the core), the OUT set (reached from the core) and the
# remainder: the web-graph macro-structure applied to trade flow
# directionality. Mutual-reachability pairs come from one directed
# multi-source BFS (the q516 dataflow on directed edges); all set
# algebra is bounded joins. --------------------------------------------------------
@query(
    "q698_bowtie_decomposition",
    oracle=f"""
    WITH RECURSIVE {_STRONG},
    verts AS MATERIALIZED (
        SELECT DISTINCT id FROM (
            SELECT src AS id FROM strong UNION ALL SELECT dst FROM strong)
    ),
    walk(root, id) AS (
        SELECT id, id FROM verts
        UNION
        SELECT w.root, e.dst
        FROM walk w JOIN strong e ON e.src = w.id
    ),
    reach AS MATERIALIZED (SELECT DISTINCT root, id FROM walk),
    mutual AS MATERIALIZED (
        SELECT a.root AS u, a.id AS v
        FROM reach a JOIN reach b ON b.root = a.id AND b.id = a.root
    ),
    sccsize AS MATERIALIZED (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS sz FROM mutual GROUP BY u
    ),
    core AS MATERIALIZED (
        SELECT m.v AS id
        FROM mutual m
        WHERE m.u = (
            SELECT u FROM sccsize ORDER BY sz DESC, u LIMIT 1
        )
    ),
    inset AS (
        SELECT DISTINCT r.root AS id
        FROM reach r JOIN core c ON c.id = r.id
        WHERE r.root NOT IN (SELECT id FROM core)
    ),
    outset AS (
        SELECT DISTINCT r.id
        FROM reach r JOIN core c ON c.id = r.root
        WHERE r.id NOT IN (SELECT id FROM core)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM verts) AS n_vertices,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM core) AS core_size,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM inset) AS in_size,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM outset) AS out_size,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM verts)
               - (SELECT CAST(COUNT(*) AS BIGINT) FROM core)
               - (SELECT CAST(COUNT(*) AS BIGINT) FROM inset)
               - (SELECT CAST(COUNT(*) AS BIGINT) FROM outset)
               AS tendril_size
    """,
)
def q698(spark, sf_dir):
    strong = tracked_persist(_strong_edges(spark, sf_dir))
    verts = tracked_persist(
        strong.select(F.col("src").alias("id"))
        .unionAll(strong.select(F.col("dst").alias("id")))
        .distinct()
    )
    reach, _ = _frontier_walk(
        strong,
        tracked_persist(verts.select(F.col("id").alias("root"), "id")),
        ["root", "id"],
        25,
    )
    back = reach.select(
        F.col("root").alias("id"), F.col("id").alias("root")
    )
    mutual = tracked_persist(
        reach.join(back, ["root", "id"]).select(
            F.col("root").alias("u"), F.col("id").alias("v")
        )
    )
    sccsize = mutual.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    top = sccsize.orderBy(F.desc("sz"), F.asc("u")).limit(1).select("u")
    core = tracked_persist(
        mutual.join(F.broadcast(top), "u").select(F.col("v").alias("id"))
        .distinct()
    )
    from pandrs_spark.operators.joins import anti_join as _aj

    inset = (
        reach.join(core.withColumnRenamed("id", "cid"),
                   reach.id == F.col("cid"))
        .select(F.col("root").alias("id"))
        .distinct()
        .join(core, "id", "left_anti")
    )
    outset = (
        reach.join(core.withColumnRenamed("id", "cid"),
                   reach.root == F.col("cid"))
        .select("id")
        .distinct()
        .join(core, "id", "left_anti")
    )
    nv = verts.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    cs = core.agg(F.count(F.lit(1)).cast("long").alias("core_size"))
    ins = inset.agg(F.count(F.lit(1)).cast("long").alias("in_size"))
    outs = outset.agg(F.count(F.lit(1)).cast("long").alias("out_size"))
    j = (
        nv.crossJoin(F.broadcast(cs))
        .crossJoin(F.broadcast(ins))
        .crossJoin(F.broadcast(outs))
    )
    return j.select(
        "n_vertices",
        "core_size",
        "in_size",
        "out_size",
        (
            F.col("n_vertices")
            - F.col("core_size")
            - F.col("in_size")
            - F.col("out_size")
        ).alias("tendril_size"),
    )


# --- q719: supplier in-degree distribution — Clauset-Shalizi-Newman
# (2009, public) power-law MLE alpha = 1 + n/Σ ln(d/(dmin-0.5)) over
# suppliers with degree >= dmin=2 (dmin fixed by design, not KS-swept),
# plus the degree-histogram entropy and moments. Degree = distinct
# customers reached per supplier through lineitem x orders — a
# DATA-SIZED distribution (unlike the 25-nation trade graph), so the
# shape matters at 100 TB: one distinct-pair groupBy, one per-supplier
# count, one histogram groupBy(d), scalar rollups — no global window,
# no driver-side collect. -------------------------------------------------------
@query(
    "q719_degree_powerlaw_mle",
    oracle=f"""
    WITH pair AS MATERIALIZED (
        SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    deg AS MATERIALIZED (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM pair GROUP BY s
    ),
    hist AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM deg GROUP BY d
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM hist),
    tail AS (
        SELECT CAST(SUM(c) AS BIGINT) AS nt,
               SUM(c * LN(d / 1.5)) AS slog
        FROM hist WHERE d >= 2
    ),
    ent AS (
        SELECT -SUM((c * 1.0 / (SELECT nn FROM n))
                    * LN(c * 1.0 / (SELECT nn FROM n))) AS h,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_degrees
        FROM hist
    )
    SELECT (SELECT nn FROM n) AS n_suppliers,
           (SELECT nt FROM tail) AS n_tail,
           (SELECT CAST(MAX(d) AS BIGINT) FROM deg) AS max_degree,
           CAST({sql_quantize('(SELECT AVG(CAST(d AS DOUBLE)) FROM deg)', 6)}
                AS DOUBLE) / 1e6 AS mean_degree,
           CAST({sql_quantize(
               '1.0 + (SELECT nt FROM tail) / (SELECT slog FROM tail)', 6)}
                AS DOUBLE) / 1e6 AS alpha_mle,
           (SELECT n_distinct_degrees FROM ent) AS n_distinct_degrees,
           CAST({sql_quantize('(SELECT h FROM ent)', 6)} AS DOUBLE)
               / 1e6 AS degree_entropy
    """,
)
def q719(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize

    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    pair = (
        li.select("l_orderkey", "l_suppkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c"))
        .distinct()
    )
    deg = pair.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("d"))
    hist = tracked_persist(
        deg.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n = hist.agg(
        F.sum("c").cast("long").alias("nn"),
        F.sum(F.col("c") * F.col("d")).cast("long").alias("sd"),
        F.max("d").cast("long").alias("maxd"),
        F.count(F.lit(1)).cast("long").alias("ndd"),
    )
    tail = hist.filter(F.col("d") >= 2).agg(
        F.sum("c").cast("long").alias("nt"),
        F.sum(F.col("c") * F.log(F.col("d") / 1.5)).alias("slog"),
    )
    ent = (
        hist.crossJoin(F.broadcast(n.select("nn")))
        .agg(
            (
                -F.sum(
                    (F.col("c") * 1.0 / F.col("nn"))
                    * F.log(F.col("c") * 1.0 / F.col("nn"))
                )
            ).alias("h")
        )
    )
    j = n.crossJoin(F.broadcast(tail)).crossJoin(F.broadcast(ent))
    return j.select(
        F.col("nn").alias("n_suppliers"),
        F.col("nt").alias("n_tail"),
        F.col("maxd").alias("max_degree"),
        (quantize(F.col("sd").cast("double") / F.col("nn"), 6) / 1e6).alias(
            "mean_degree"
        ),
        (quantize(1.0 + F.col("nt") / F.col("slog"), 6) / 1e6).alias("alpha_mle"),
        F.col("ndd").alias("n_distinct_degrees"),
        (quantize("h", 6) / 1e6).alias("degree_entropy"),
    )
