"""Graph operators (SURVEY.md §2.14) as iterative DataFrame programs.

The reference builds an adjacency-list graph in memory
(/root/reference src/graph/mod.rs:168, src/graph/core.rs) and walks it
single-threaded: centrality (src/graph/centrality.rs:33,55,77,250),
components (src/graph/components.rs:70,250), paths (src/graph/path.rs).

Spark-first re-expression: a graph IS two DataFrames (vertices, edges).
Degree-style centrality is one aggregation; traversal algorithms
(connected components, PageRank, BFS) are loops of joins where each
iteration is one shuffle. Scale posture:

- edges are repartitioned ONCE on the join key and persisted, so every
  iteration reuses the same partitioning (no repeated exchange of the
  big side); every loop-invariant table goes through
  ``operators/util.persist_right_sized``, which materializes it and
  shrinks a provably-small one to a size-derived partition count;
- per-iteration state (ranks/labels/frontier) is small relative to
  edges and is what moves;
- the iterative loops run their rounds through ``_iterate``, which
  has ONE cut placement: each round's new state is cut with a lazy
  ``localCheckpoint``, so every plan is one round deep and no round
  pays a checkpoint action of its own (eigenvector and hits also cut
  before each norm, inside ``_l2_normalize``). That covers the value
  loops (the PageRank family, katz, eigenvector, hits, label
  propagation, CC, SSSP, k-core, k-truss, the SCC forward coloring)
  and the frontier walks (``_frontier_walk``: BFS, closeness,
  reachability, the SCC collect and the distance queries built on
  them; betweenness's forward pass), whose state is the visited set
  stamped with the hop that found each row. A loop with a stopping
  rule passes an exact changed-count (``_moved`` for label and
  distance vectors, ``_peeled`` for shrinking edge sets, the rows a
  hop stamped for a walk); that count materializes the cut in the same job, and the
  first round that changes nothing ends the loop — every later round
  would be the identity, so the answer is the full budget's;
- left hand-rolled: ``louvain``, because its alternating parity makes
  a round that moves nothing no fixpoint (the other parity may still
  move), so it has no stopping count and keeps an eager cut; the SCC
  outer peel, because each of its rounds runs the coloring and the
  collect, two loops with their own budgets and certificates, and
  certifying it on the driver would replay a whole round of both only
  to learn what the empty remaining-vertex probe already says; the
  backward pass of betweenness, a fold over the forward layers rather
  than a fixpoint; ``dfs_preorder``'s stack walk, which runs inside one
  pandas group rather than as Spark rounds;
- convergence, with ``check_convergence=True``: a fixpoint loop whose
  budget ran out is certified by ONE exact rule — it raises
  :class:`ConvergenceError` iff one more round (a hop, for a walk)
  would still change the answer, so a budget that lands exactly on the
  fixpoint passes (``_assert_fixpoint``; ``_frontier_walk`` applies the
  same rule itself). The hand-rolled SCC outer peel certifies its
  leftovers directly: they keep their own ids, which is the answer iff
  the leftover graph has no cycle (``_has_cycle``). The fixed-round
  power methods certify their last round with ``_assert_settled``
  (max |Δ| over the final two iterates against ``tol``, one action).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, Window, functions as F

from pandrs_spark.operators.util import (
    persist_right_sized,
    right_size_keyed,
    right_sized_width,
    scoped_conf,
    small_local_df,
    tracked_persist,
)

__all__ = [
    "ConvergenceError",
    "degrees",
    "rich_club_coefficient",
    "edge_embeddedness",
    "k_truss",
    "symmetrize",
    "connected_components",
    "pagerank",
    "personalized_pagerank",
    "bfs_hops",
    "triangle_count",
    "clustering_coefficient",
    "label_propagation",
    "modularity",
    "closeness_centrality",
    "eigenvector_centrality",
    "katz_centrality",
    "hits",
    "shortest_paths",
    "strongly_connected_components",
    "betweenness_centrality",
    "louvain",
    "from_adjacency",
    "dfs_preorder",
]

class ConvergenceError(RuntimeError):
    """Raised by iterative graph operators when ``check_convergence=True``
    and the iteration budget (``max_iter`` / ``iterations``) was
    exhausted before the fixpoint — the k-truss certificate pattern
    (q392) generalized family-wide. Without the flag the operators keep
    their documented truncation conventions (label leftovers by own id,
    return the last iterate), which is what the fixed-round SQL oracles
    mirror; WITH it a truncated answer can never be mistaken for a
    converged one."""


def _assert_settled(
    cur: DataFrame, prev: DataFrame, cols: list, tol: float, what: str
) -> None:
    """Max-|Δ| convergence certificate of a fixed-round iteration: join
    the last two iterates on ``id`` and raise :class:`ConvergenceError`
    if any of ``cols`` moved by more than ``tol`` in max norm. One
    action, whatever the number of columns."""
    diffs = [F.abs(F.col(f"cur.{c}") - F.col(f"p.{c}")) for c in cols]
    delta = (
        cur.alias("cur")
        .join(prev.alias("p"), "id")
        .agg(F.max(diffs[0] if len(diffs) == 1 else F.greatest(*diffs)))
        .first()[0]
    )
    if delta is not None and delta > tol:
        raise ConvergenceError(
            f"{what}: max |Δ{'/'.join(cols)}| = {delta:.3e} > tol={tol} "
            "after the last iteration — raise iterations"
        )


def _endpoints(e: DataFrame) -> DataFrame:
    """The vertex set of an edge table: distinct ``src`` ∪ ``dst`` as
    ``id``."""
    return (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )


def _iterate(state: DataFrame, step, rounds: int, changed=None):
    """Round driver of the value loops and frontier walks: ``rounds``
    times, the state becomes ``step(state)`` cut by a lazy
    ``localCheckpoint``. Lineage then stays one round deep (a step that
    reads its state k times, like k-core's three, would otherwise replay
    k^r subtrees by round r), and the chain of pending checkpoint RDDs
    is computed by the first action that needs it in one submission
    instead of one eager (AQE-multiplied) job per round — q68 at sf0.1:
    109 scheduled jobs -> single-digit (see OPTIMIZATION_r11.md).

    ``changed(new, old)`` is an exact count, so its action computes
    every partition of the new state and materializes the cut in the
    same job; the first round that changes nothing stops the loop (the
    step is deterministic, so every later round would be the identity).
    Returns the last state, the state before it, and whether such a
    no-change round was seen.
    """
    prev = state
    for _ in range(rounds):
        prev, state = state, step(state).localCheckpoint(eager=False)
        if changed is not None and changed(state, prev) == 0:
            return state, prev, True
    return state, prev, False


def _assert_fixpoint(state: DataFrame, step, changed, message: str) -> None:
    """Fixpoint certificate of an :func:`_iterate` loop whose budget ran
    out before a no-change round: raise :class:`ConvergenceError` iff
    one more ``step`` still changes something. The step is
    deterministic, so an unchanged state is the answer of every larger
    budget; a changed one never comes back in the monotone loops, and
    in label propagation it either moves on or cycles without a
    fixpoint."""
    if changed(step(state), state) > 0:
        raise ConvergenceError(message)


def _moved(col: str):
    """``changed`` count of a label or distance vector: the vertices
    whose ``col`` differs, NULL-safe, between two states."""
    return lambda new, old: (
        new.alias("n")
        .join(old.alias("o"), "id")
        .filter(~F.col(f"n.{col}").eqNullSafe(F.col(f"o.{col}")))
        .count()
    )


def _peeled(new: DataFrame, old: DataFrame) -> int:
    """``changed`` count of a peeling loop, whose new state is a subset
    of the old: the rows one round dropped, |old| − |new|, in one
    aggregate over both."""
    return (
        old.select(F.lit(1).alias("d"))
        .union(new.select(F.lit(-1).alias("d")))
        .agg(F.sum("d"))
        .first()[0]
        or 0
    )


def _min_label_step(edges: DataFrame, col: str):
    """One min-label round along ``edges`` (src, dst): every vertex
    takes the least ``col`` among its own and its in-neighbors'."""

    def step(labels: DataFrame) -> DataFrame:
        nbr = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(col).alias("__nbr__"))
        )
        return labels.join(nbr, "id", "left").select(
            "id", F.least(col, F.coalesce("__nbr__", F.col(col))).alias(col)
        )

    return step


@contextmanager
def _static_plan(df: DataFrame):
    """Plan what runs in the ``with`` body without AQE and at ``df``'s
    right-sized shuffle width, when ``df`` is provably small
    (:func:`right_sized_width`); otherwise leave the session as it is.
    See :func:`_frontier_walk` for why."""
    width = right_sized_width(df)
    if width is None:
        yield
        return
    spark = df.sparkSession
    with scoped_conf(spark, "spark.sql.adaptive.enabled", "false"), scoped_conf(
        spark, "spark.sql.shuffle.partitions", str(width)
    ):
        yield


def _frontier_walk(
    edges: DataFrame, visited: DataFrame, keys: list, max_iter: int
) -> tuple[DataFrame, bool]:
    """Frontier BFS over ``edges`` (src, dst[, root]) from the seed set
    ``visited``, keyed by ``keys``: ``["id"]`` for one search,
    ``["root", "id"]`` for a multi-source walk where every root's
    frontier advances in the same join.

    The state is the visited set, each row stamped with the hop that
    found it: the ``hops`` column when the seed set has one, else an
    internal stamp dropped on return. A hop, run by :func:`_iterate`,
    joins the rows stamped with the last hop to the edges (on ``root``
    too when the edges carry one), keeps the vertices not yet visited
    (the anti-join) and adds them with the new stamp. Its stopping count
    is the number of rows it stamped, which also materializes the
    round's cut, so the returned set is always a plan leaf. Returns the
    visited set and whether it is the fixpoint: some hop found nothing,
    or, when the budget ran out first, one more hop would find nothing
    (an extra action only in that case).

    When the edge table is provably small (:func:`right_sized_width`),
    the rounds and the certificate are planned statically
    (:func:`_static_plan`): AQE off and the shuffle width set to the
    edges' right-sized width (``scoped_conf``; the session's settings
    are back on return, also after an exception). ``bfs_hops`` and
    ``closeness_centrality`` build their edge table the same way. Under
    AQE each query stage of a hop's count runs as its own job with a
    re-plan, and for tables this small the only thing AQE adds is
    coalescing the exchanges down to a few partitions, which the static
    width does up front: q69 at sf0.1 ran 13 Spark jobs in its walk with
    AQE and runs 6 without (its edge table: 5 and 1). AQE off alone
    would leave each hop's exchanges at the session's shuffle width
    (200 on a default session), and that width would pile up in the
    unioned state. Each lazy cut plans its physical RDD when it is
    created, inside the scope, and the returned set is a materialized
    leaf, so nothing planned under the scope runs after it. Edge tables
    not provably small keep the session's AQE sizing.
    """
    tags = keys[:-1]
    stamp = "hops" if "hops" in visited.columns else "__hop__"
    hop = 0

    def step(state: DataFrame) -> DataFrame:
        nonlocal hop
        hop += 1
        front = state.filter(F.col(stamp) == hop - 1).select(
            *tags, F.col("id").alias("src")
        )
        found = (
            edges.join(front, [c for c in front.columns if c in edges.columns])
            .select(*tags, F.col("dst").alias("id"))
            .distinct()
            .join(state, keys, "left_anti")
        )
        return state.unionByName(found.withColumn(stamp, F.lit(hop)))

    def stamped(new: DataFrame, _old: DataFrame) -> int:
        return new.filter(F.col(stamp) == hop).count()

    if stamp not in visited.columns:
        visited = visited.withColumn(stamp, F.lit(0))
    with _static_plan(edges):
        visited, _, settled = _iterate(visited, step, max_iter, stamped)
        converged = settled or stamped(step(visited), visited) == 0
    return visited.drop("__hop__"), converged


def _rank_walk(
    e: DataFrame,
    init,
    update,
    iterations: int,
    check_convergence: bool,
    tol: float,
    what: str,
    dangling: bool = True,
) -> DataFrame:
    """Power-method body of the PageRank family. ``e`` is the tracked
    (src, dst[, w]) edge table partitioned on ``src``; a ``w`` column
    splits each vertex's rank by edge weight over its out-weight
    instead of evenly over its out-degree. ``init(n)`` is the round-0
    rank over the ``n`` vertices and ``update(n, in_mass, dangling)``
    the next round's rank from the in-flowing mass and the mass sitting
    on vertices without out-edges (always 0.0 when ``dangling`` is
    False: the walk lets that mass decay).

    Edges are joined to their out-weight once, outside the loop (the
    division stays inside, so the float arithmetic is per round as
    written); each round shuffles only the |V|-row rank vector. The
    dangling reduction costs one Spark action per round, so it runs
    only when an up-front probe finds a vertex without out-edges
    (never for symmetrized graphs).
    """
    verts, n = persist_right_sized(_endpoints(e), "id")
    weighted = "w" in e.columns
    out = tracked_persist(
        e.groupBy("src").agg(
            (F.sum("w") if weighted else F.count("*")).alias("out")
        )
    )
    no_out = out.withColumnRenamed("src", "id")
    has_dangling = (
        dangling
        and verts.join(no_out, "id", "left_anti").limit(1).count() > 0
    )
    # sized from the join's estimate, not counted first: a count here
    # would add a Spark job to every PageRank query
    ew = tracked_persist(right_size_keyed(e.join(out, "src"), "src"))
    mass = F.col("rank") * F.col("w") if weighted else F.col("rank")

    def step(ranks: DataFrame) -> DataFrame:
        contribs = (
            ew.join(ranks.withColumnRenamed("id", "src"), "src")
            .select("dst", (mass / F.col("out")).alias("contrib"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("contrib").alias("in_mass"))
        )
        lost = (
            ranks.join(no_out, "id", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
            if has_dangling
            else 0.0
        )
        return verts.join(contribs, "id", "left").select(
            "id",
            update(n, F.coalesce("in_mass", F.lit(0.0)), lost).alias("rank"),
        )

    ranks, prev, _ = _iterate(
        verts.withColumn("rank", init(n)), step, iterations
    )
    if check_convergence and iterations > 0:
        _assert_settled(ranks, prev, ["rank"], tol, what)
    return ranks


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Out/in/total degree per vertex (centrality.rs:33,55,77).

    One aggregation per direction + an outer merge; no iteration.
    """
    out_d = edges.groupBy(F.col(src).alias("id")).agg(F.count("*").alias("out_degree"))
    in_d = edges.groupBy(F.col(dst).alias("id")).agg(F.count("*").alias("in_degree"))
    return (
        out_d.join(in_d, "id", "outer")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected closure: both directions, self-loops dropped, distinct.

    One explode pass instead of union-of-two-selects (round 11): the
    union form evaluated the ``edges`` subtree twice — for callers that
    pass a computed edge list (q143's all-pairs distance filter burned
    ~13 s of executor CPU per evaluation at sf0.1), the input is now
    scanned exactly once. Identical output rows.
    """
    both = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(src).alias("src"), F.col(dst).alias("dst")
                ),
                F.struct(
                    F.col(dst).alias("src"), F.col(src).alias("dst")
                ),
            )
        ).alias("e")
    )
    return (
        both.select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    check_convergence: bool = False,
) -> DataFrame:
    """Connected components via min-label propagation (components.rs:70).

    Each vertex starts with its own id as label; every round each vertex
    takes the min label among itself and its neighbors. Converges in
    O(graph diameter) rounds — each round is one join + one aggregation.
    Returns (id, component) with component = min vertex id reachable.

    ``check_convergence=True`` raises :class:`ConvergenceError` if
    ``max_iter`` rounds end short of the fixpoint, i.e. one more round
    would still change a label (graph diameter exceeds the budget); the
    default keeps the documented truncation convention (return the last
    iterate) that the fixed-round oracles mirror.
    """
    sym = symmetrize(edges, src, dst)
    und, _ = persist_right_sized(sym, "src")
    labels = tracked_persist(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    relax = _min_label_step(und, "component")

    def step(labels: DataFrame) -> DataFrame:
        # Path halving (round 11): every label value is itself a vertex
        # id in the SAME component (initially own id; the edge step
        # only adopts component-mates' labels; this step only adopts
        # the label OF a component-mate), so jumping each vertex to its
        # label's label is monotone non-increasing toward the same
        # min-id fixpoint while roughly halving the label-path length —
        # O(diameter) rounds become O(log diameter). A near-critical
        # eps-chain (q143, threshold 0.015) needed ~50 edge-only rounds
        # at sf0.1. The lazy checkpoint before the self-join keeps the
        # relaxed subtree from evaluating twice. (Round-11 negative
        # result, instrumented at sf0.1: a SECOND jump per round
        # converged no faster — changed-counts nearly identical — and
        # the extra pending lazy checkpoint chained per round blew the
        # per-round wall up 4×/round past round ~9; reverted.)
        relaxed = relax(labels).localCheckpoint(eager=False)
        hop = relaxed.select(
            F.col("id").alias("__t"), F.col("component").alias("__tc")
        )
        halved = relaxed.join(hop, relaxed["component"] == hop["__t"], "left")
        return halved.select(
            "id",
            F.least(
                "component", F.coalesce("__tc", F.col("component"))
            ).alias("component"),
        )

    moved = _moved("component")
    labels, _, settled = _iterate(labels, step, max_iter, moved)
    if check_convergence and not settled:
        _assert_fixpoint(
            labels,
            step,
            moved,
            f"connected_components: labels still changing after "
            f"{max_iter} rounds — raise max_iter (diameter exceeds "
            "the iteration budget)",
        )
    return labels


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
    check_convergence: bool = False,
    tol: float = 1e-6,
) -> DataFrame:
    """PageRank, fixed-iteration power method (centrality.rs:250).

    rank_{t+1}(v) = (1-d)/N + d * Σ_{u→v} rank_t(u)/outdeg(u).
    Dangling nodes' mass is redistributed uniformly each round (the
    standard formulation the reference uses). Edges are pre-partitioned
    on ``src`` and persisted; each iteration shuffles only the rank
    vector (|V| rows), not the edge set.

    ``check_convergence=True`` certifies the fixed-round answer: after
    the last round it compares against the previous iterate and raises
    :class:`ConvergenceError` if max |Δrank| > ``tol`` (one extra
    |V|-row join + aggregate, only when the flag is set).
    """
    e = tracked_persist(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .repartition("src")
    )
    return _rank_walk(
        e,
        init=lambda n: F.lit(1.0 / n),
        update=lambda n, in_mass, dangling: (
            F.lit((1.0 - damping) / n)
            + F.lit(damping) * (in_mass + F.lit(dangling / n))
        ),
        iterations=iterations,
        check_convergence=check_convergence,
        tol=tol,
        what="pagerank",
    )


def personalized_pagerank(
    edges: DataFrame,
    seed,
    src: str = "src",
    dst: str = "dst",
    restart: float = 0.15,
    iterations: int = 10,
    check_convergence: bool = False,
    tol: float = 1e-6,
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a single
    seed vertex): rank_{t+1}(v) = restart·1{v=seed} +
    (1-restart)·(Σ_{u→v} rank_t(u)/outdeg(u) + dangling·1{v=seed}) —
    the topic-sensitive variant of :func:`pagerank` (same power-method
    dataflow, centrality.rs:250 is the behavioral spec for the global
    walk), with dangling mass teleported back to the seed. The
    standard relevance/recommendation primitive: rank = probability a
    restarted random walker stands at v.

    Same scale shape as pagerank: edges deduped, partitioned once on
    src and persisted; each round shuffles only the |V|-row rank
    vector; lineage cut per iteration with localCheckpoint.

    ``check_convergence=True`` certifies the fixed-round answer the same
    way :func:`pagerank` does: after the last round it raises
    :class:`ConvergenceError` if max |Δrank| > ``tol``.
    """
    e = tracked_persist(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .repartition("src")
    )
    is_seed = F.col("id") == F.lit(seed)
    return _rank_walk(
        e,
        init=lambda n: F.when(is_seed, F.lit(1.0)).otherwise(F.lit(0.0)),
        update=lambda n, in_mass, dangling: (
            F.when(
                is_seed, F.lit(restart) + F.lit((1.0 - restart) * dangling)
            ).otherwise(F.lit(0.0))
            + F.lit(1.0 - restart) * in_mass
        ),
        iterations=iterations,
        check_convergence=check_convergence,
        tol=tol,
        what="personalized_pagerank",
    )


def bfs_hops(
    edges: DataFrame,
    start_ids: list,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    check_convergence: bool = False,
) -> DataFrame:
    """Minimum hop count from a start set (path.rs BFS / unweighted
    shortest path). Frontier-based: each round expands the frontier one
    hop and keeps newly discovered vertices only — the frontier (small)
    moves to the edges (big, partitioned once).

    ``check_convergence=True`` raises :class:`ConvergenceError` iff one
    more hop after ``max_iter`` would still discover a vertex (the BFS
    was truncated before exploring the reachable set); a budget that
    ends exactly on the last discovering hop passes."""
    visited = tracked_persist(
        small_local_df(
            edges.sparkSession,
            [(int(i), 0) for i in start_ids],
            "id bigint, hops int",
        )
    )
    with _static_plan(edges):
        und, _ = persist_right_sized(
            symmetrize(edges, src, dst).repartition("src"), "src"
        )
    visited, converged = _frontier_walk(und, visited, ["id"], max_iter)
    if check_convergence and not converged:
        raise ConvergenceError(
            f"bfs_hops: frontier still expanding after {max_iter} hops — "
            "raise max_iter (diameter exceeds the budget)"
        )
    return visited


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count (graph clustering primitive).

    Canonical-orientation join-join-join: orient every undirected edge
    small→large id, then count paths a<b<c with (a,b),(b,c),(a,c) all
    present. Each join shuffles on one endpoint; AQE broadcasts when a
    side is small. Returns a 1-row DataFrame (n_triangles).
    """
    und = symmetrize(edges, src, dst)
    canon = tracked_persist(
        und.filter(F.col("src") < F.col("dst")).distinct()
    )
    ab = canon.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = canon.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = canon.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    return tri.agg(F.count("*").alias("n_triangles"))


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex local clustering coefficient:
    lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) with T(v) = triangles through
    v (graph clustering parity for src/graph/ metrics).

    Triangles enumerate once over the canonical (a<b<c) orientation —
    three bucket-joins — then each triangle credits its three corners;
    degrees come from one aggregation. All shuffles key on vertex ids.
    """
    und = symmetrize(edges, src, dst)
    canon = tracked_persist(
        und.filter(F.col("src") < F.col("dst")).distinct()
    )
    ab = canon.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = canon.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = canon.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    tri_counts = (
        tri.select(F.col("a").alias("id"))
        .union(tri.select(F.col("b").alias("id")))
        .union(tri.select(F.col("c").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("n_tri"))
    )
    deg = und.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    return (
        deg.join(tri_counts, "id", "left")
        .select(
            "id",
            "deg",
            F.coalesce("n_tri", F.lit(0)).alias("n_tri"),
            F.when(
                F.col("deg") > 1,
                2.0 * F.coalesce("n_tri", F.lit(0)) / (F.col("deg") * (F.col("deg") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 4,
    check_convergence: bool = False,
) -> DataFrame:
    """Synchronous label propagation (components.rs:250) with a
    deterministic tie-break: every round each vertex adopts the most
    frequent label among its neighbors, smallest label winning ties.
    Labels start as vertex ids; all updates in a round read the previous
    round's labels (synchronous), so the result is partitioning- and
    engine-independent — unlike the usual async LPA. Each round is one
    join + one aggregation + one per-vertex top-1 window, plus a count
    of the labels it changed: the first round that changes none ends
    the loop with the full budget's answer.

    ``check_convergence=True`` raises :class:`ConvergenceError` if one
    more round would still change a label (sync LPA can also 2-cycle on
    bipartite structures — the check surfaces that too; it costs one
    extra round + count, only when the flag is set and the budget ran
    out).
    """
    sym = symmetrize(edges, src, dst)
    und, _ = persist_right_sized(sym, "dst")
    labels = tracked_persist(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    top1 = Window.partitionBy("id").orderBy(F.desc("c"), F.asc("label"))

    def step(labels: DataFrame) -> DataFrame:
        nbr = (
            und.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        return (
            nbr.withColumn("rn", F.row_number().over(top1))
            .filter(F.col("rn") == 1)
            .select("id", "label")
        )

    moved = _moved("label")
    labels, _, settled = _iterate(labels, step, iterations, moved)
    if check_convergence and not settled:
        _assert_fixpoint(
            labels,
            step,
            moved,
            f"label_propagation: labels still changing after "
            f"{iterations} rounds — raise iterations (or the "
            "graph oscillates under synchronous updates)",
        )
    return labels


def modularity(
    und_edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    community_col: str = "community",
) -> DataFrame:
    """Newman modularity of a vertex partition (components.rs:310):
    Q = sum_c [ E_c/(2m) − (D_c/(2m))² ] with E_c the directed-pair
    count inside community c, D_c its degree sum, and 2m the count of
    directed pairs in the symmetric edge set ``und_edges``. Returns one
    row per community with its contribution — three joins and two
    aggregations, all on the (small) vertex/community side after the
    edge table is reduced once.
    """
    comm = communities.select(F.col("id"), F.col(community_col).alias("__c__"))
    m2 = und_edges.count()  # 2m: symmetric edges count each pair twice
    intra = (
        und_edges.join(comm.withColumnRenamed("id", src), src)
        .withColumnRenamed("__c__", "__cs__")
        .join(comm.withColumnRenamed("id", dst), dst)
        .filter(F.col("__cs__") == F.col("__c__"))
        .groupBy(F.col("__cs__").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    deg = und_edges.groupBy(F.col(src).alias("id")).agg(F.count(F.lit(1)).alias("d"))
    dsum_c = (
        deg.join(comm, "id")
        .groupBy(F.col("__c__").alias("community"))
        .agg(F.sum("d").alias("degree_sum"))
    )
    return (
        dsum_c.join(intra, "community", "left")
        .select(
            "community",
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias("intra_edges"),
            F.col("degree_sum").cast("long").alias("degree_sum"),
            (
                F.coalesce("intra_edges", F.lit(0)) / F.lit(float(m2))
                - (F.col("degree_sum") / F.lit(float(m2))) ** 2
            ).alias("contribution"),
        )
    )


def closeness_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    roots: DataFrame | None = None,
    max_iter: int = 20,
    check_convergence: bool = False,
) -> DataFrame:
    """Closeness centrality (centrality.rs:109):
    closeness(v) = (reached(v) − 1) / Σ_u dist(v, u) over the vertices
    reachable from v, unweighted hops on the symmetric closure.

    Multi-source BFS: the state is (root, id, hops) pairs; every round
    the whole frontier (all roots at once) expands one hop through the
    edge table — one join + one anti-join per round, NOT one BFS per
    root. Exact closeness is inherently all-pairs (O(V·E) state); at
    scale pass ``roots`` (a DataFrame of ``id``) to compute landmark/
    pivot closeness over a sample of sources — the standard
    approximation — while the per-round dataflow stays identical.

    ``check_convergence=True`` raises :class:`ConvergenceError` iff one
    more hop after ``max_iter`` would still discover a (root, vertex)
    pair, the same exact rule as :func:`bfs_hops`.
    """
    sym = symmetrize(edges, src, dst).repartition("src")
    with _static_plan(edges):
        und, _ = persist_right_sized(sym, "src")
    verts = sym.select(F.col("src").alias("id")).distinct()
    start = (roots if roots is not None else verts).select("id")
    visited = tracked_persist(
        start.select(
            F.col("id").alias("root"), F.col("id"), F.lit(0).alias("hops")
        )
    )
    visited, converged = _frontier_walk(
        und, visited, ["root", "id"], max_iter
    )
    if check_convergence and not converged:
        raise ConvergenceError(
            f"closeness_centrality: multi-source BFS frontier still "
            f"expanding after {max_iter} hops — raise max_iter"
        )
    return visited.groupBy(F.col("root").alias("id")).agg(
        (F.count(F.lit(1)) - 1).alias("n_reached"),
        F.when(
            F.sum("hops") > 0, (F.count(F.lit(1)) - 1) / F.sum("hops")
        )
        .otherwise(F.lit(0.0))
        .alias("closeness"),
    )


def _l2_normalize(scores: DataFrame, col: str) -> DataFrame:
    """Divide ``col`` by its L2 norm via a broadcast scalar join (keeps
    the whole round inside one plan — no driver round-trip).

    The input is cut first (a lazy ``localCheckpoint``, materialized by
    the norm's broadcast build): the norm subplan reads ``scores`` a
    second time, and without the cut both reads replay the subtree that
    computed it. This cut before each norm is on top of the power
    methods' cut per round in :func:`_iterate`, and it pays: without it
    q113 scheduled 201 Spark jobs instead of 133 and q114 378 instead
    of 141 (sf0.1).
    """
    scores = scores.localCheckpoint(eager=False)
    norm = scores.agg(F.sqrt(F.sum(F.col(col) * F.col(col))).alias("__norm__"))
    return scores.crossJoin(F.broadcast(norm)).select(
        *[c for c in scores.columns if c != col],
        (F.col(col) / F.col("__norm__")).alias(col),
    )


def eigenvector_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    check_convergence: bool = False,
    tol: float = 1e-6,
) -> DataFrame:
    """Eigenvector centrality by power iteration (centrality.rs:344):
    x ← A·x / ‖A·x‖₂ on the symmetric closure, fixed iteration count
    for engine-independent results. Edges partition once on the join
    key; each round moves only the |V|-row score vector.

    ``check_convergence=True`` raises :class:`ConvergenceError` if the
    last two (normalized) iterates differ by more than ``tol`` in max
    norm — the power method has not settled on the principal
    eigenvector at this budget.
    """
    sym = symmetrize(edges, src, dst).repartition("dst")
    und, _ = persist_right_sized(sym, "dst")
    verts, _ = persist_right_sized(
        sym.select(F.col("src").alias("id")).distinct(), "id"
    )

    def step(scores: DataFrame) -> DataFrame:
        nbr_sum = (
            und.join(scores.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("score").alias("score"))
        )
        return _l2_normalize(
            verts.join(nbr_sum, "id", "left").select(
                "id", F.coalesce("score", F.lit(0.0)).alias("score")
            ),
            "score",
        )

    scores, prev, _ = _iterate(
        _l2_normalize(verts.withColumn("score", F.lit(1.0)), "score"),
        step,
        iterations,
    )
    if check_convergence and iterations > 0:
        _assert_settled(scores, prev, ["score"], tol, "eigenvector_centrality")
    return scores


def katz_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    alpha: float = 0.1,
    beta: float = 1.0,
    iterations: int = 10,
    check_convergence: bool = False,
    tol: float = 1e-6,
) -> DataFrame:
    """Katz centrality (centrality.rs:424), fixed-point iteration
    x ← α·Aᵀ·x + β over in-neighbors of the directed graph. α must be
    below 1/λ_max for convergence; fixed iterations keep it
    deterministic. Same one-small-shuffle-per-round shape as PageRank.

    ``check_convergence=True`` raises :class:`ConvergenceError` when the
    last two iterates differ by more than ``tol`` in max norm (the
    geometric α-series was truncated short of its fixpoint).
    """
    e0 = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .repartition("src")
    )
    e, _ = persist_right_sized(e0, "src")
    verts, _ = persist_right_sized(_endpoints(e0), "id")

    def step(scores: DataFrame) -> DataFrame:
        in_sum = (
            e.join(scores.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("score").alias("in_score"))
        )
        return verts.join(in_sum, "id", "left").select(
            "id",
            (
                F.lit(float(alpha)) * F.coalesce("in_score", F.lit(0.0))
                + F.lit(float(beta))
            ).alias("score"),
        )

    scores, prev, _ = _iterate(
        verts.withColumn("score", F.lit(float(beta))), step, iterations
    )
    if check_convergence and iterations > 0:
        _assert_settled(scores, prev, ["score"], tol, "katz_centrality")
    return scores


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 10,
    check_convergence: bool = False,
    tol: float = 1e-6,
) -> DataFrame:
    """HITS hubs & authorities (centrality.rs:501) on the directed
    graph, L2-normalized each half-step:
    auth(v) ← Σ_{u→v} hub(u);  hub(u) ← Σ_{u→v} auth(v).
    Two small shuffles per round (the |V|-row score vectors move; edges
    stay partitioned). Returns (id, authority, hub).

    ``check_convergence=True`` raises :class:`ConvergenceError` when
    either normalized vector moved more than ``tol`` in max norm over
    the final round.
    """
    e0 = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e, _ = persist_right_sized(e0, "src")
    verts, _ = persist_right_sized(_endpoints(e0), "id")

    def half_step(base, scores, frm: str, to: str, col: str, out: str):
        # ``base`` plus ``out``: per ``to`` endpoint, the normalized sum
        # of ``scores.col`` over its edges
        summed = (
            e.join(scores.select(F.col("id").alias(frm), col), frm)
            .groupBy(F.col(to).alias("id"))
            .agg(F.sum(col).alias(out))
        )
        return _l2_normalize(
            base.join(summed, "id", "left").select(
                *base.columns, F.coalesce(out, F.lit(0.0)).alias(out)
            ),
            out,
        )

    # the hub half extends the authority half's frame, so no round joins
    # the two vectors and the certificate stays one action
    def step(scores: DataFrame) -> DataFrame:
        auths = half_step(verts, scores, "src", "dst", "hub", "authority")
        return half_step(auths, auths, "dst", "src", "authority", "hub")

    scores, prev, _ = _iterate(
        verts.select(
            "id", F.lit(1.0).alias("authority"), F.lit(1.0).alias("hub")
        ),
        step,
        iterations,
    )
    if check_convergence and iterations > 0:
        _assert_settled(scores, prev, ["authority", "hub"], tol, "hits")
    return scores


def shortest_paths(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    cost: str = "cost",
    iterations: int = 10,
    check_convergence: bool = False,
) -> DataFrame:
    """Single-source weighted shortest paths (path.rs Dijkstra parity)
    by synchronous Bellman-Ford relaxation — the distributed-friendly
    formulation (Dijkstra's priority queue is inherently sequential):

        d_{k+1}(v) = min(d_k(v), min_{u→v}(d_k(u) + cost(u,v)))

    ``iterations`` bounds path length (≥ graph diameter for exactness).
    Integer costs keep results bit-identical across engines. Each round
    joins the |V|-row distance vector against the once-partitioned edge
    table. Unreachable vertices return NULL dist.

    ``check_convergence=True`` certifies the fixpoint: relaxation is
    monotone non-increasing, so two identical consecutive iterates mean
    no path can improve further; the check raises
    :class:`ConvergenceError` if one more round would still relax a
    vertex.
    """
    e0 = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(cost).cast("long").alias("cost"),
    ).repartition("src")
    e, _ = persist_right_sized(e0, "src")
    verts, _ = persist_right_sized(_endpoints(e0), "id")
    dist = verts.withColumn(
        "dist",
        F.when(F.col("id") == F.lit(source), F.lit(0).cast("long")).otherwise(
            F.lit(None).cast("long")
        ),
    )

    def relax(dist: DataFrame) -> DataFrame:
        cand = (
            e.join(
                dist.filter(F.col("dist").isNotNull()).withColumnRenamed(
                    "id", "src"
                ),
                "src",
            )
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("cost")).alias("cand"))
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        return dist.join(cand, "id", "left").select(
            "id",
            F.when(F.col("dist").isNull(), F.col("cand"))
            .when(F.col("cand").isNull(), F.col("dist"))
            .otherwise(F.least("dist", "cand"))
            .alias("dist"),
        )

    moved = _moved("dist")
    dist, _, settled = _iterate(dist, relax, iterations, moved)
    if check_convergence and not settled:
        _assert_fixpoint(
            dist,
            relax,
            moved,
            f"shortest_paths: distances still relaxing after "
            f"{iterations} rounds — raise iterations (longest "
            "shortest path exceeds the budget)",
        )
    return dist


def _directed_reach(edges: DataFrame, max_iter: int) -> DataFrame:
    """All-pairs directed reachability (root, id) via multi-source
    frontier expansion — every vertex's frontier advances together, one
    join + one anti-join per round."""
    e = tracked_persist(
        edges.select("src", "dst").distinct().repartition("src")
    )
    visited = (
        _endpoints(e)
        .select(F.col("id").alias("root"), "id")
        .localCheckpoint(eager=True)
    )
    visited, _ = _frontier_walk(e, visited, ["root", "id"], max_iter)
    e.unpersist()
    return visited


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    exact_small_graph: bool = False,
    check_convergence: bool = False,
) -> DataFrame:
    """Strongly connected components (components.rs:118).

    Default path: the **coloring/trim peeling algorithm** (Orzan-style
    FW-BW coloring) — O(V+E) state per round, the web-scale design:

    1. *Trim*: vertices with no remaining in-edges or no remaining
       out-edges are singleton SCCs; peel them.
    2. *Color*: propagate ``min(ancestor id)`` forward along edges to a
       fixpoint (same join-per-round dataflow as
       :func:`connected_components`, O(diameter) rounds).
    3. *Collect*: every vertex whose color equals its own id is a root
       — the minimum id OF its SCC (the min forward-ancestor of an SCC
       that lies inside the SCC is also its min member). A backward BFS
       from each root restricted to same-color edges collects exactly
       that root's SCC; every vertex joins at most one search, so the
       frontier state is O(V) total, never per-pair.
    4. Remove collected vertices and repeat. Each outer round retires
       at least the SCC holding the globally smallest remaining id, so
       the outer loop is bounded by the condensation's chain length
       (and in practice by a few rounds); ``max_iter`` caps the outer
       loop and every inner propagation, like every iterative operator
       in this module.

    ``exact_small_graph=True`` keeps the previous all-pairs mutual-
    reachability formulation: forward × backward multi-source BFS
    intersection. Its visited set is O(V²) worst case — only for
    analytic-scale graphs where the quadratic state is affordable and
    a single-pass (no outer peeling) plan is preferred.

    Returns (id, component) with component = min vertex id of the SCC,
    one row per vertex appearing in ``edges``.

    ``check_convergence=True`` raises :class:`ConvergenceError` whenever
    ANY bounded loop hit its budget before the fixpoint — the outer
    peel with a cycle left among the unpeeled vertices (leftovers that
    are all singleton SCCs are already labeled right), an inner coloring
    pass that one more round would still change, or a backward collect
    with a live frontier. A truncated
    coloring does not merely leave leftovers: it can split an SCC into
    several colors, so the certificate covers the inner loops too. The
    default keeps the documented truncation convention (leftovers
    labeled as singletons) that bounded oracles mirror.
    """
    e0 = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    if exact_small_graph:
        fwd = _directed_reach(e0, max_iter)
        bwd = _directed_reach(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            max_iter,
        )
        mutual = fwd.join(bwd, ["root", "id"])  # reaches AND is reached
        return mutual.groupBy(F.col("root").alias("id")).agg(
            F.min("id").alias("component")
        )

    rem_e = e0.repartition("src").localCheckpoint(eager=True)
    rem_v = _endpoints(rem_e).localCheckpoint(eager=True)
    done: list[DataFrame] = []
    truncated: list[str] = []

    def retire(peeled: DataFrame):
        # the vertices and edges that remain once ``peeled`` is removed
        left = rem_v.join(peeled, "id", "left_anti").localCheckpoint(eager=True)
        return left, (
            rem_e.join(left.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(left.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )

    for _outer in range(max_iter):
        if rem_v.limit(1).count() == 0:
            break
        # --- 1. trim: no in-edge or no out-edge => singleton SCC ---
        core = rem_e.select(F.col("src").alias("id")).distinct().join(
            rem_e.select(F.col("dst").alias("id")).distinct(), "id"
        )
        trimmed = rem_v.join(core, "id", "left_anti").withColumn(
            "component", F.col("id")
        )
        trimmed = trimmed.localCheckpoint(eager=True)
        if trimmed.limit(1).count() > 0:
            done.append(trimmed)
            rem_v, rem_e = retire(trimmed)
            if rem_v.limit(1).count() == 0:
                break
        # --- 2. forward coloring: min ancestor id to fixpoint ---
        color_step = _min_label_step(rem_e, "color")
        moved = _moved("color")
        colors, _, settled = _iterate(
            rem_v.withColumn("color", F.col("id")), color_step, max_iter, moved
        )
        if check_convergence and not settled:
            # a truncated coloring can split an SCC into several colors
            _assert_fixpoint(
                colors,
                color_step,
                moved,
                "strongly_connected_components: coloring still changing "
                f"after max_iter={max_iter} rounds (outer round "
                f"{_outer + 1}) — raise max_iter",
            )
        # --- 3. backward collect within color, from the color roots ---
        ce, _ = persist_right_sized(
            rem_e.join(
                colors.select(
                    F.col("id").alias("src"), F.col("color").alias("c_src")
                ),
                "src",
            )
            .join(
                colors.select(
                    F.col("id").alias("dst"), F.col("color").alias("c_dst")
                ),
                "dst",
            )
            .filter(F.col("c_src") == F.col("c_dst"))
            # reversed edge, tagged with the color's root
            .select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                F.col("c_src").alias("root"),
            ),
            "src",
        )
        roots = colors.filter(F.col("color") == F.col("id")).select(
            F.col("id").alias("root"), "id"
        )
        visited, collect_fixpoint = _frontier_walk(
            ce, roots, ["root", "id"], max_iter
        )
        if not collect_fixpoint:
            truncated.append(f"backward collect (outer round {_outer + 1})")
        scc = visited.select("id", F.col("root").alias("component"))
        done.append(scc)
        rem_v, rem_e = retire(scc)
    # max_iter exhausted with vertices still unpeeled: label the
    # leftovers by their own id (same truncation convention as every
    # bounded iterative operator here — raise max_iter for deeper
    # condensation chains). Peeled vertices leave as whole SCCs, so the
    # own-id labels are the converged answer iff the leftover graph has
    # no cycle; only then is the truncation silent under
    # check_convergence.
    if rem_v.limit(1).count() > 0:
        done.append(rem_v.withColumn("component", F.col("id")))
        if check_convergence and _has_cycle(rem_e):
            truncated.append("outer peel (a cycle left unpeeled)")
    if check_convergence and truncated:
        raise ConvergenceError(
            "strongly_connected_components: iteration budget "
            f"max_iter={max_iter} exhausted before fixpoint in: "
            + "; ".join(truncated)
        )
    out = done[0]
    for part in done[1:]:
        out = out.unionByName(part)
    return out


def _has_cycle(e: DataFrame) -> bool:
    """Whether the directed graph ``e`` (src, dst) has a cycle through
    two or more vertices. Trims, to the fixpoint, every vertex without
    an in-edge or without an out-edge (self-loops aside): a cycle
    survives every trim, and a nonempty graph in which every vertex
    keeps an out-edge has one. A round that is not the fixpoint drops at
    least one edge, so |E| rounds always reach it."""
    e = e.filter(F.col("src") != F.col("dst"))

    def trim(cur: DataFrame) -> DataFrame:
        has_in = cur.select(F.col("dst").alias("src")).distinct()
        has_out = cur.select(F.col("src").alias("dst")).distinct()
        return cur.join(has_in, "src", "left_semi").join(has_out, "dst", "left_semi")

    core, _, _ = _iterate(e, trim, e.count(), _peeled)
    return core.limit(1).count() > 0


def betweenness_centrality(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """Betweenness centrality, Brandes' algorithm (centrality.rs:152)
    re-expressed as layered DataFrame passes on the symmetric closure:

    forward: multi-source BFS records, per (root, v), the hop distance
    and σ(root, v) = number of shortest root→v paths (σ sums over
    predecessor frontier rows instead of counting distinct vertices);
    backward: dependencies accumulate layer by layer from the deepest
    hop toward the root,
        δ(root, v) = Σ_{w: succ on a shortest path} σ_v/σ_w · (1 + δ_w),
    and betweenness(v) = ½ Σ_root δ(root, v) (halved for the
    undirected double count).

    Every pass is a join keyed on vertex ids over the once-partitioned
    edge set; per-layer state is (root, vertex) rows. Exact betweenness
    is inherently all-pairs — at 100 TB scale feed a sampled root set
    (same dataflow, unbiased estimator) the way closeness does.
    """
    und = tracked_persist(symmetrize(edges, src, dst).repartition("src"))
    verts = und.select(F.col("src").alias("id")).distinct()
    # forward phase: (root, id, hops, sigma), the rows of one hop's
    # layer found together and stamped with it (as in _frontier_walk)
    hop = 0

    def expand(state: DataFrame) -> DataFrame:
        nonlocal hop
        hop += 1
        found = (
            und.join(
                state.filter(F.col("hops") == hop - 1).withColumnRenamed(
                    "id", "src"
                ),
                "src",
            )
            .select("root", F.col("dst").alias("id"), "sigma")
            .join(state, ["root", "id"], "left_anti")
            .groupBy("root", "id")
            .agg(F.sum("sigma").alias("sigma"))
        )
        return state.unionByName(found.withColumn("hops", F.lit(hop)))

    visited, _, settled = _iterate(
        tracked_persist(
            verts.select(
                F.col("id").alias("root"), "id", F.lit(0).alias("hops"),
                F.lit(1.0).alias("sigma"),
            )
        ),
        expand,
        max_iter,
        lambda new, _old: new.filter(F.col("hops") == hop).count(),
    )
    max_hop = hop - 1 if settled else hop

    def layer(h: int) -> DataFrame:
        return visited.filter(F.col("hops") == h)

    # backward phase: delta per (root, id), deepest layer first
    delta = layer(max_hop).select(
        "root", "id", F.lit(0.0).alias("delta")
    ) if max_hop > 0 else None
    acc = None
    for h in range(max_hop, 0, -1):
        cur = layer(h).join(
            delta.select("root", "id", "delta"), ["root", "id"], "left"
        ).select("root", "id", "sigma", F.coalesce("delta", F.lit(0.0)).alias("delta"))
        acc = cur if acc is None else acc.union(cur)
        # push dependency to hop-1 predecessors: pred p of w iff
        # hops(p) = hops(w) - 1 and (p, w) is an edge
        contrib = (
            cur.withColumnRenamed("id", "dst")
            .join(und, "dst")
            .select(
                "root",
                F.col("src").alias("id"),
                F.col("sigma").alias("w_sigma"),
                F.col("delta").alias("w_delta"),
            )
            .join(
                layer(h - 1).select("root", "id", F.col("sigma").alias("p_sigma")),
                ["root", "id"],
            )
            .groupBy("root", "id", "p_sigma")
            .agg(
                F.sum(
                    F.col("p_sigma") / F.col("w_sigma") * (1.0 + F.col("w_delta"))
                ).alias("delta")
            )
            .select("root", "id", "delta")
            .localCheckpoint(eager=True)
        )
        delta = contrib
    und.unpersist()
    if acc is None:
        return verts.withColumn("betweenness", F.lit(0.0))
    # root layer (hop 0) gets no credit; sum deltas of non-root rows
    per_vertex = (
        acc.filter(F.col("id") != F.col("root"))
        .groupBy("id")
        .agg((F.sum("delta") / 2.0).alias("betweenness"))
    )
    return verts.join(per_vertex, "id", "left").select(
        "id", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
    )


def louvain(
    edges: DataFrame, src: str = "src", dst: str = "dst", iterations: int = 6
) -> DataFrame:
    """Louvain community detection, level-1 local-moving phase
    (components.rs:356), as synchronous DataFrame rounds.

    Every vertex starts in its own community. Each round scores, for
    every vertex v with degree k_v and every candidate community c
    (its neighbors' communities plus its own),

        score(v→c) = k_{v,c} − k_v · tot'_c / 2m,

    the standard modularity-gain numerator with tot'_c the candidate
    community's degree total excluding v itself. The argmax wins with a
    smallest-community-id tie-break, and only vertices with
    id % 2 == round % 2 may move in a given round — the alternation
    breaks the two-cycle oscillation synchronous updates are prone to
    while keeping the result partitioning- and engine-independent.

    Each round is two joins + two aggregations + a per-vertex top-1
    window over (vertex, neighbor-community) rows — the same bounded
    dataflow as label_propagation, so it scales to edge sets that only
    fit shuffled. Returns (id, community).
    """
    und = tracked_persist(symmetrize(edges, src, dst).repartition("src"))
    m2 = float(und.count())  # 2m: each undirected pair counted twice
    deg = tracked_persist(
        und.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("k_v")
        )
    )
    labels = tracked_persist(deg.select("id", F.col("id").alias("community")))
    top1 = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("community"))
    for r in range(iterations):
        tot = (
            labels.join(deg, "id")
            .groupBy("community")
            .agg(F.sum("k_v").alias("tot_c"))
        )
        k_vc = (
            und.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"), "community")
            .agg(F.count(F.lit(1)).alias("k"))
        )
        stay = labels.select("id", "community", F.lit(0).alias("k"))
        cand = (
            k_vc.unionByName(stay)
            .groupBy("id", "community")
            .agg(F.max("k").alias("k_vc"))
            .join(deg, "id")
            .join(labels.withColumnRenamed("community", "own"), "id")
            .join(tot, "community")
            .withColumn(
                "score",
                F.col("k_vc")
                - F.col("k_v")
                * (
                    F.col("tot_c")
                    - F.when(F.col("community") == F.col("own"), F.col("k_v"))
                    .otherwise(F.lit(0))
                )
                / F.lit(m2),
            )
        )
        best = (
            cand.withColumn("rn", F.row_number().over(top1))
            .filter(F.col("rn") == 1)
            .select("id", F.col("community").alias("best"), "own")
        )
        updated = best.select(
            "id",
            F.when(F.col("id") % 2 == r % 2, F.col("best"))
            .otherwise(F.col("own"))
            .alias("community"),
        )
        # Each round stacks ~5 joins; truncate lineage every round or
        # Catalyst replans the whole history (plan depth, not data,
        # dominates wall-clock on small graphs and heap on big ones).
        updated = updated.localCheckpoint(eager=True)
        labels.unpersist()
        labels = updated
    und.unpersist()
    deg.unpersist()
    return labels


def from_adjacency(
    matrix: DataFrame,
    row_col: str = "row",
    col_col: str = "col",
    weight_col: str | None = "w",
    directed: bool = True,
) -> DataFrame:
    """Build an edge DataFrame from a (sparse, long-form) adjacency
    matrix (src/graph/mod.rs:289 — the reference takes a dense Vec<Vec>;
    long-form triplets are the only shape that survives 100 TB). Zero /
    NULL weights are non-edges; for undirected input only the upper
    triangle needs to be present and the symmetric closure is applied
    by the consuming algorithm. Returns (src, dst[, weight]).
    """
    out = matrix.filter(
        F.col(row_col).isNotNull() & F.col(col_col).isNotNull()
    )
    if weight_col is not None:
        out = out.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) != 0))
        cols = [
            F.col(row_col).alias("src"),
            F.col(col_col).alias("dst"),
            F.col(weight_col).alias("weight"),
        ]
    else:
        cols = [F.col(row_col).alias("src"), F.col(col_col).alias("dst")]
    edges = out.select(*cols)
    if not directed:
        back = edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            *([F.col("weight")] if weight_col is not None else []),
        )
        edges = edges.union(back).filter(F.col("src") != F.col("dst")).distinct()
    return edges


def dfs_preorder(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """Deterministic depth-first preorder (src/graph/traversal.rs DFS).

    A DFS order is sequential *within* a component by definition, so the
    distributed shape is: label components with the scalable min-label
    loop, then run the stack walk per component in parallel via
    ``applyInPandas`` — each group ships only its own component's edges,
    components process concurrently across executors. Start vertex =
    component min id; neighbors are visited in ascending id order, so
    the order is engine- and partitioning-independent. Undirected view
    of the edges (matching the reference's default traversal).
    Returns (id, component, dfs_order).
    """
    import pandas as pd

    und = symmetrize(edges, src, dst)
    comp = connected_components(edges, src, dst, max_iter=max_iter)
    e = und.join(comp.withColumnRenamed("id", "src"), "src").select(
        "src", "dst", "component"
    )

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        adj: dict = {}
        for s, d in zip(pdf["src"], pdf["dst"]):
            adj.setdefault(int(s), []).append(int(d))
        # push descending so the smallest id pops (is visited) first
        for v in adj:
            adj[v].sort(reverse=True)
        root = min(adj)
        component = int(pdf["component"].iloc[0])
        seen: set = set()
        out = []
        stack = [root]
        while stack:
            v = stack.pop()
            if v in seen:
                continue
            seen.add(v)
            out.append((v, component, len(out)))
            for n in adj.get(v, []):
                if n not in seen:
                    stack.append(n)
        return pd.DataFrame(out, columns=["id", "component", "dfs_order"])

    return e.groupBy("component").applyInPandas(
        walk, "id long, component long, dfs_order long"
    )


def kcore(
    edges: DataFrame,
    k: int,
    n_iter: int = 12,
    src: str = "src",
    dst: str = "dst",
    check_convergence: bool = False,
) -> DataFrame:
    """k-core decomposition by synchronous peeling: drop every vertex
    whose degree in the surviving subgraph is < k, repeat ``n_iter``
    rounds (fixed-iteration form so a SQL oracle can unroll the exact
    same rounds; n_iter >= the peel depth reaches the fixpoint — each
    round either removes a vertex or is already stable). Works on the
    undirected closure. Returns (id, core_degree) for the k-core
    members. ``check_convergence=True`` certifies the fixpoint: it
    raises :class:`ConvergenceError` if one more round would still
    peel (budget short of the peel depth).

    Each round is one degree aggregate + two broadcast semi-filters on
    the shrinking edge set — the standard distributed peeling shape
    (vertex-centric k-core, e.g. Quick et al.); no driver-side graph.
    Reference scope: graph algorithms tier (src/graph/).
    """

    def peel(cur: DataFrame) -> DataFrame:
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("__d__"))
        keep = deg.filter(F.col("__d__") >= k).select("src")
        return (
            cur.join(F.broadcast(keep), "src")
            .join(
                F.broadcast(keep.withColumnRenamed("src", "dst")), "dst"
            )
            .select("src", "dst")
        )

    cur, _, settled = _iterate(
        symmetrize(edges, src, dst), peel, n_iter, _peeled
    )
    if check_convergence and not settled:
        _assert_fixpoint(
            cur,
            peel,
            _peeled,
            f"kcore: peel still removing vertices after {n_iter} "
            "rounds — raise n_iter (peel depth exceeds the budget)",
        )
    return (
        cur.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )


def neighborhood_jaccard(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Jaccard similarity of vertex neighborhoods — the classic
    link-prediction feature: |N(a) ∩ N(b)| / |N(a) ∪ N(b)| for every
    pair sharing at least one neighbor. The common-neighbor join is
    an equi-join THROUGH the shared neighbor (wedge enumeration, cost
    = Σ deg(v)² — bounded by degree, never all vertex pairs).
    Returns (id_a, id_b, common, jaccard) with id_a < id_b.
    """
    und = symmetrize(edges, src, dst)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    a = und.select(F.col("dst").alias("via"), F.col("src").alias("id_a"))
    b = und.select(F.col("dst").alias("via"), F.col("src").alias("id_b"))
    common = (
        a.join(b, "via")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    da = deg.select(F.col("id").alias("id_a"), F.col("deg").alias("da"))
    db = deg.select(F.col("id").alias("id_b"), F.col("deg").alias("db"))
    return (
        common.join(F.broadcast(da), "id_a")
        .join(F.broadcast(db), "id_b")
        .select(
            "id_a",
            "id_b",
            "common",
            F.round(
                F.col("common")
                / (F.col("da") + F.col("db") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


def k_truss(
    edges: DataFrame,
    k: int,
    n_iter: int = 8,
    src: str = "src",
    dst: str = "dst",
    emit_convergence: bool = False,
) -> DataFrame:
    """k-truss decomposition by synchronous edge peeling (graph tier,
    src/graph/ — the reference ships vertex k-core; k-truss is its
    edge-support analogue, Cohen 2008): every surviving edge must close
    >= k-2 triangles WITHIN the surviving subgraph. Each round computes
    per-edge support with two adjacency joins on the shrinking
    canonical edge set and drops weak edges; ``n_iter`` rounds reach
    the fixpoint when n_iter >= the peel depth (peeling is monotone, so
    extra rounds are no-ops — the same fixed-round form as
    :func:`kcore`, unrollable by a SQL oracle).

    Returns (u, v, support) for truss edges with support recomputed on
    the final subgraph; ``emit_convergence=True`` appends a
    ``converged`` boolean certifying the last round removed nothing.

    Scale: the support join is the textbook distributed triangle
    enumeration (join on the lower-degree endpoint would halve wedge
    work; at the bounded analytic-graph sizes here the plain form
    keeps the oracle mirror exact). Every round is cut and counted; the
    first round that removes no edge ends the loop.
    """
    und = symmetrize(edges, src, dst)
    cur = (
        und.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
    )

    def _support(e: DataFrame) -> DataFrame:
        # Support is LEFT-joined back onto the edge set (coalesce 0):
        # a triangle-free edge must surface with support 0 so the
        # k=2 threshold (k-2=0) correctly keeps every edge — an
        # inner-join shape would silently drop it.
        adj = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        a = adj.select(F.col("u"), F.col("v").alias("w"))
        b = adj.select(F.col("u").alias("v"), F.col("v").alias("w"))
        sup = (
            e.join(a, "u")
            .join(b, ["v", "w"])
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        return e.join(sup, ["u", "v"], "left").select(
            "u", "v", F.coalesce("support", F.lit(0)).alias("support")
        )

    def peel(e: DataFrame) -> DataFrame:
        return _support(e).filter(F.col("support") >= k - 2).select("u", "v")

    # with n_iter=0, prev is cur: the certificate compares the edge set
    # against itself, as the fixed-round oracle does
    cur, prev, _ = _iterate(cur, peel, n_iter, _peeled)
    out = _support(cur).filter(F.col("support") >= k - 2)
    if emit_convergence:
        c_prev = prev.agg(F.count(F.lit(1)).alias("__n_prev__"))
        c_cur = cur.agg(F.count(F.lit(1)).alias("__n_cur__"))
        out = (
            out.crossJoin(F.broadcast(c_prev))
            .crossJoin(F.broadcast(c_cur))
            .withColumn("converged", F.col("__n_prev__") == F.col("__n_cur__"))
            .drop("__n_prev__", "__n_cur__")
        )
    return out


def rich_club_coefficient(
    edges: DataFrame,
    ks: tuple = (2, 4, 8),
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Rich-club coefficient φ(k) (Colizza et al. 2006 is the public
    spec; degree-correlation tier beside :func:`degrees` /
    assortativity): for each degree threshold k, restrict the
    undirected graph to vertices with degree > k and measure how
    densely they interconnect:

        φ(k) = 2·E_k / (N_k·(N_k − 1))

    Returns one row per k: (k, n_rich, e_rich, phi); phi NULL when
    N_k < 2.

    Scale: degrees are one aggregation; each threshold is two
    semi-joins of the edge list against the rich vertex set plus exact
    counts — k thresholds are a bounded explode, no pairwise work.
    """
    und = symmetrize(edges, src, dst)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    spark = edges.sparkSession
    kdf = small_local_df(spark, [(int(k),) for k in ks], "k int")
    rich = F.broadcast(kdf).join(
        deg, deg.deg > F.col("k")
    ).select("k", "id")
    n_rich = rich.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("n_rich"))
    # undirected edge canonical form, then require both endpoints rich
    canon = und.filter(F.col("src") < F.col("dst"))
    e_rich = (
        canon.join(rich.withColumnRenamed("id", "src"), "src")
        .join(
            rich.withColumnRenamed("id", "dst").withColumnRenamed("k", "k2"),
            "dst",
        )
        .filter(F.col("k") == F.col("k2"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("e_rich"))
    )
    out = (
        kdf.join(n_rich, "k", "left")
        .join(e_rich, "k", "left")
        .select(
            "k",
            F.coalesce("n_rich", F.lit(0)).alias("n_rich"),
            F.coalesce("e_rich", F.lit(0)).alias("e_rich"),
        )
    )
    return out.withColumn(
        "phi",
        F.when(
            F.col("n_rich") >= 2,
            2.0
            * F.col("e_rich")
            / (F.col("n_rich").cast("double") * (F.col("n_rich") - 1)),
        ),
    ).orderBy("k")


def edge_embeddedness(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-edge embeddedness = number of common neighbors of the two
    endpoints in the undirected graph (Granovetter tie-strength
    proxy; the edge-level analogue of :func:`clustering_coefficient`,
    same two-join distributed triangle enumeration as :func:`k_truss`
    support). Returns (u, v, embeddedness) for each canonical edge
    u < v, zero-support edges included.

    Scale: two adjacency equi-joins + one groupBy — never all-pairs.
    """
    und = symmetrize(edges, src, dst)
    e = und.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    )
    adj = e.select("u", "v").union(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    a = adj.select(F.col("u"), F.col("v").alias("w"))
    b = adj.select(F.col("u").alias("v"), F.col("v").alias("w"))
    sup = (
        e.join(a, "u")
        .join(b, ["v", "w"])
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("embeddedness"))
    )
    return e.join(sup, ["u", "v"], "left").select(
        "u",
        "v",
        F.coalesce("embeddedness", F.lit(0)).cast("long").alias("embeddedness"),
    )


def weighted_pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    damping: float = 0.85,
    iterations: int = 15,
    check_convergence: bool = False,
    tol: float = 1e-6,
) -> DataFrame:
    """Weighted PageRank: rank mass flows proportional to edge weight,
    rank_{t+1}(v) = (1−d)/N + d·Σ_{u→v} rank_t(u)·w(u,v)/W_out(u) — the
    recommendation-grade variant of :func:`pagerank` (centrality.rs:250
    is the unweighted behavioral spec). Dangling mass is NOT
    redistributed (it decays, matching the chained-CTE oracle); feed a
    graph where every vertex has out-weight for the conservative walk.

    Same scale shape as pagerank: weighted edges partitioned once on
    ``src`` and persisted, each round shuffles only the |V|-row rank
    vector, lineage cut per iteration. ``check_convergence=True``
    raises :class:`ConvergenceError` if the final round moved any rank
    by more than ``tol``.
    """
    e = tracked_persist(
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("double").alias("w"),
        )
        .repartition("src")
    )
    return _rank_walk(
        e,
        init=lambda n: F.lit(1.0 / n),
        update=lambda n, in_mass, _: (
            F.lit((1.0 - damping) / n) + F.lit(damping) * in_mass
        ),
        iterations=iterations,
        check_convergence=check_convergence,
        tol=tol,
        what="weighted_pagerank",
        dangling=False,
    )
