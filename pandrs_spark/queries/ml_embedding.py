"""Embedding-geometry diagnostics and ANN-certification queries
(SURVEY.md §2.13 / §beyond similarity-search) — split out of
queries/ml.py in round 10 (the file crossed the 6k-line cap; same
treatment as the round-9 text.py split). This module owns the
embedding-space audit tier (anisotropy, hubness, participation ratio,
cluster-validity indices, null-cosine baseline) and the ANN recall
certificates (IVF kNN recall, probe-sweep curve, linear-time MMD).
Model-evaluation and feature tiers stay in queries/ml.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pandrs_spark.catalog import load_table as T
from pandrs_spark.functions.deterministic import dsum
from pandrs_spark.operators.util import small_local_df
from pandrs_spark.queries import query

# ===== Wave q669-q674: embedding-geometry diagnostics =================
# Public methodology: Ethayarajh (2019) anisotropy / cone effect,
# Radovanović et al. (2010) hubness, the participation ratio
# (Gao et al. 2019 effective dimensionality), Calinski-Harabasz (1974)
# and Davies-Bouldin (1979) cluster-validity indices, and a
# deterministic null-cosine calibration baseline. Everything reduces to
# per-dimension quantized sums after ONE posexplode (d = 64 bounded),
# bounded label²/dim² grids, or the documented exact k-NN baseline —
# the shapes that survive a billion-vector corpus (the only explicit
# O(n²) is knn_topk_edges, whose docstring carries the LSH/IVF swap).

# --- q669: anisotropy (cone effect) of the embedding space — the mean
# pairwise cosine E[cos(u_i,u_j)], computed EXACTLY from the unit-sum
# identity Σ_{i≠j}⟨u_i,u_j⟩ = ‖Σu‖² − n (no pair join at any scale):
# isotropic spaces give ≈0, real contextual-embedding spaces are
# heavily coned (Ethayarajh 2019). Also reports the mean-vector norm
# ‖ū‖, the direct cone-axis magnitude. ------------------------------------------
@query(
    "q669_embedding_anisotropy",
    oracle="""
    WITH pos AS MATERIALIZED (
        SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    nrm AS (
        SELECT vec_id,
               SQRT(CAST(SUM(CAST(SIGN(x * x) * FLOOR(ABS(x * x) * 1e9 + 0.5)
                                  AS BIGINT)) AS DOUBLE) / 1e9) AS nr
        FROM pos GROUP BY vec_id
    ),
    s AS (
        SELECT p.dim,
               CAST(SUM(CAST(SIGN(p.x / n.nr)
                             * FLOOR(ABS(p.x / n.nr) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS sd
        FROM pos p JOIN nrm n ON n.vec_id = p.vec_id
        GROUP BY p.dim
    ),
    agg AS (
        SELECT CAST(SUM(CAST(SIGN(sd * sd) * FLOOR(ABS(sd * sd) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS ssq
        FROM s
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings)
    SELECT nn.n AS n_vectors,
           CAST(CAST(SIGN(mc) * FLOOR(ABS(mc) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS mean_pairwise_cos,
           CAST(CAST(SIGN(mn) * FLOOR(ABS(mn) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS mean_vector_norm
    FROM (
        SELECT nn.n,
               (agg.ssq - nn.n) / (CAST(nn.n AS DOUBLE) * (nn.n - 1)) AS mc,
               SQRT(agg.ssq) / nn.n AS mn
        FROM agg, nn
    ), nn
    """,
)
def q669(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    emb = T(spark, sf_dir, "embeddings")
    pos = tracked_persist(
        emb.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "x"
            ),
        )
    )
    nrm = pos.groupBy("vec_id").agg(
        F.sqrt(dsum(F.col("x") * F.col("x"), 9)).alias("nr")
    )
    s = (
        pos.join(nrm, "vec_id")
        .groupBy("dim")
        .agg(dsum(F.col("x") / F.col("nr"), 9).alias("sd"))
    )
    agg = s.agg(dsum(F.col("sd") * F.col("sd"), 9).alias("ssq"))
    nn = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = agg.crossJoin(F.broadcast(nn))
    mc = (F.col("ssq") - F.col("n")) / (
        F.col("n").cast("double") * (F.col("n") - 1)
    )
    return j.select(
        F.col("n").alias("n_vectors"),
        (quantize(mc, 6) / 1e6).alias("mean_pairwise_cos"),
        (quantize(F.sqrt(F.col("ssq")) / F.col("n"), 6) / 1e6).alias(
            "mean_vector_norm"
        ),
    )


# --- q670: hubness of the k-NN graph (Radovanović 2010) — the
# skewness of the k-occurrence (in-degree) distribution INCLUDING
# zero-in-degree antihubs, plus hub (d ≥ 2k) and antihub (d = 0)
# counts: high skew means a few "hub" vectors appear in everyone's
# neighbor list and ANN recall will be uneven. In-degree moments are
# exact integers. Round 9: the k-NN graph comes from the IVF bucketed
# path (knn_topk_edges method="ivf") — the oracle mirrors the
# deterministic inverted-file candidate generation (lowest-id
# centroids, round(sim,6)/id tie-breaks) CTE-for-CTE, and
# q711_ivf_knn_recall_certificate pins recall vs the exact graph. --------------
@query(
    "q670_knn_hubness_skew",
    oracle="""
    WITH emb AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent AS MATERIALIZED (
        SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8
    ),
    assign AS MATERIALIZED (
        SELECT id_c, cid FROM (
            SELECT e.vec_id AS id_c, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6)
                                DESC, c.cid) AS rn
            FROM emb e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probe AS MATERIALIZED (
        SELECT id_q, cid FROM (
            SELECT e.vec_id AS id_q, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6)
                                DESC, c.cid) AS rn
            FROM emb e CROSS JOIN cent c
        ) WHERE rn <= 2
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT p.id_q, a.id_c
        FROM probe p JOIN assign a USING (cid)
        WHERE p.id_q <> a.id_c
    ),
    knn AS MATERIALIZED (
        SELECT id_q AS ia, id_c AS ib FROM (
            SELECT cand.id_q, cand.id_c,
                   ROW_NUMBER() OVER (
                       PARTITION BY cand.id_q
                       ORDER BY ROUND(list_cosine_similarity(eq.v, ec.v), 6)
                                DESC, cand.id_c) AS rn
            FROM cand
            JOIN emb eq ON eq.vec_id = cand.id_q
            JOIN emb ec ON ec.vec_id = cand.id_c
        ) WHERE rn <= 5
    ),
    deg AS MATERIALIZED (
        SELECT e.vec_id, CAST(COALESCE(d.d, 0) AS BIGINT) AS d
        FROM embeddings e
        LEFT JOIN (SELECT ib, COUNT(*) AS d FROM knn GROUP BY ib) d
          ON d.ib = e.vec_id
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS s1,
               CAST(SUM(d * d) AS BIGINT) AS s2,
               CAST(SUM(d * d * d) AS BIGINT) AS s3,
               CAST(SUM(CASE WHEN d >= 10 THEN 1 ELSE 0 END) AS BIGINT)
                   AS hubs,
               CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS antihubs
        FROM deg
    )
    SELECT n AS n_vectors, hubs, antihubs,
           (SELECT CAST(MAX(d) AS BIGINT) FROM deg) AS max_k_occurrence,
           CAST(CAST(SIGN(sk) * FLOOR(ABS(sk) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS hubness_skew
    FROM (
        SELECT n, hubs, antihubs,
               (CAST(s3 AS DOUBLE) / n
                - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
                + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                  * (CAST(s1 AS DOUBLE) / n))
               / POW(CAST(s2 AS DOUBLE) / n
                     - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                     1.5) AS sk
        FROM s
    )
    """,
)
def q670(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.similarity import knn_topk_edges
    from pandrs_spark.operators.util import tracked_persist

    emb = T(spark, sf_dir, "embeddings")
    knn = tracked_persist(
        knn_topk_edges(emb, k=5, method="ivf").select("id_a", "id_b")
    )
    indeg = knn.groupBy("id_b").agg(F.count(F.lit(1)).alias("d"))
    deg = (
        emb.select("vec_id")
        .join(indeg, emb.vec_id == indeg.id_b, "left")
        .select(F.coalesce(F.col("d"), F.lit(0)).cast("long").alias("d"))
    )
    s = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("s1"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("s2"),
        F.sum(F.col("d") * F.col("d") * F.col("d")).cast("long").alias("s3"),
        F.sum(F.when(F.col("d") >= 10, 1).otherwise(0))
        .cast("long")
        .alias("hubs"),
        F.sum(F.when(F.col("d") == 0, 1).otherwise(0))
        .cast("long")
        .alias("antihubs"),
        F.max("d").cast("long").alias("max_k_occurrence"),
    )
    m1 = F.col("s1").cast("double") / F.col("n")
    m2c = F.col("s2").cast("double") / F.col("n") - m1 * m1
    m3c = (
        F.col("s3").cast("double") / F.col("n")
        - 3.0 * m1 * (F.col("s2").cast("double") / F.col("n"))
        + 2.0 * m1 * m1 * m1
    )
    return s.select(
        F.col("n").alias("n_vectors"),
        "hubs",
        "antihubs",
        "max_k_occurrence",
        (quantize(m3c / F.pow(m2c, 1.5), 6) / 1e6).alias("hubness_skew"),
    )


# --- q671: participation ratio PR = tr(C)²/tr(C²) of the embedding
# covariance — the eigen-free effective dimensionality (PR = d when
# all directions carry equal variance, → 1 when one direction
# dominates). tr(C²) = Σ_ij C_ij² needs the full covariance GRID, but
# the grid is dim² = 64² bounded — built by one within-row dim×dim
# self-join and a (i,j)-keyed partial-aggregated shuffle, never a
# vector-pair join. ----------------------------------------------------------------
@query(
    "q671_participation_ratio",
    oracle="""
    WITH pos AS MATERIALIZED (
        SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    mu AS MATERIALIZED (
        SELECT dim,
               CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 / COUNT(*) AS m
        FROM pos GROUP BY dim
    ),
    cells AS MATERIALIZED (
        SELECT a.dim AS i, b.dim AS j,
               CAST(SUM(CAST(SIGN(a.x * b.x)
                             * FLOOR(ABS(a.x * b.x) * 1e6 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e6 AS sxy
        FROM pos a JOIN pos b ON a.vec_id = b.vec_id
        GROUP BY i, j
    ),
    cov AS MATERIALIZED (
        SELECT c.i, c.j, c.sxy / nn.n - ma.m * mb.m AS cv
        FROM cells c
        JOIN mu ma ON ma.dim = c.i
        JOIN mu mb ON mb.dim = c.j
        CROSS JOIN nn
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN i = j THEN
                   CAST(SIGN(cv) * FLOOR(ABS(cv) * 1e9 + 0.5) AS BIGINT)
                   ELSE 0 END) AS DOUBLE) / 1e9 AS tr,
               CAST(SUM(CAST(SIGN(cv * cv) * FLOOR(ABS(cv * cv) * 1e12 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e12 AS fro2
        FROM cov
    )
    SELECT (SELECT n FROM nn) AS n_vectors,
           CAST(CAST(SIGN(tr) * FLOOR(ABS(tr) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS total_variance,
           CAST(CAST(SIGN(pr) * FLOOR(ABS(pr) * 1e4 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e4 AS participation_ratio,
           CAST(CAST(SIGN(pr / 64.0) * FLOOR(ABS(pr / 64.0) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS effective_dim_frac
    FROM (SELECT tr, tr * tr / fro2 AS pr FROM s)
    """,
)
def q671(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    emb = T(spark, sf_dir, "embeddings")
    pos = tracked_persist(
        emb.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "x"
            ),
        )
    )
    nn = emb.agg(F.count(F.lit(1)).cast("long").alias("n"))
    mu = pos.groupBy("dim").agg((dsum("x", 9) / F.count(F.lit(1))).alias("m"))
    b = pos.select(
        F.col("vec_id"), F.col("dim").alias("j"), F.col("x").alias("xb")
    )
    cells = (
        pos.join(b, "vec_id")
        .groupBy(F.col("dim").alias("i"), "j")
        .agg(dsum(F.col("x") * F.col("xb"), 6).alias("sxy"))
    )
    ma = mu.select(F.col("dim").alias("i"), F.col("m").alias("mi"))
    mb = mu.select(F.col("dim").alias("j"), F.col("m").alias("mj"))
    cov = (
        cells.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .crossJoin(F.broadcast(nn))
        .select(
            "i",
            "j",
            (F.col("sxy") / F.col("n") - F.col("mi") * F.col("mj")).alias(
                "cv"
            ),
            "n",
        )
    )
    s = cov.groupBy("n").agg(
        (
            F.sum(
                F.when(F.col("i") == F.col("j"), quantize("cv", 9)).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).cast("double")
            / 1e9
        ).alias("tr"),
        dsum(F.col("cv") * F.col("cv"), 12).alias("fro2"),
    )
    pr = F.col("tr") * F.col("tr") / F.col("fro2")
    return s.select(
        F.col("n").alias("n_vectors"),
        (quantize("tr", 6) / 1e6).alias("total_variance"),
        (quantize(pr, 4) / 1e4).alias("participation_ratio"),
        (quantize(pr / 64.0, 6) / 1e6).alias("effective_dim_frac"),
    )


# --- q672: Calinski-Harabasz index of the LABEL clustering — CH =
# (B/(k−1))/(W/(n−k)) with between-scatter B = Σ_l n_l·‖c_l − c‖² and
# within-scatter W = Σ‖x − c_{l(x)}‖²: the variance-ratio cluster
# validity that complements the silhouette (q-family). Centroids from
# one posexplode rollup; W is one quantized per-term sum; B lives on
# the bounded label×dim grid. -----------------------------------------------------
@query(
    "q672_calinski_harabasz_labels",
    oracle="""
    WITH pos AS MATERIALIZED (
        SELECT vec_id, label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    cent AS MATERIALIZED (
        SELECT label, dim,
               CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 / COUNT(*) AS m,
               CAST(COUNT(*) AS BIGINT) AS n_l
        FROM pos GROUP BY label, dim
    ),
    gcent AS MATERIALIZED (
        SELECT dim,
               CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 / COUNT(*) AS g
        FROM pos GROUP BY dim
    ),
    w AS (
        SELECT CAST(SUM(CAST(SIGN((p.x - c.m) * (p.x - c.m))
                             * FLOOR(ABS((p.x - c.m) * (p.x - c.m))
                                     * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS wss
        FROM pos p JOIN cent c ON c.label = p.label AND c.dim = p.dim
    ),
    b AS (
        SELECT CAST(SUM(CAST(SIGN(c.n_l * (c.m - g.g) * (c.m - g.g))
                             * FLOOR(ABS(c.n_l * (c.m - g.g) * (c.m - g.g))
                                     * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS bss
        FROM cent c JOIN gcent g ON g.dim = c.dim
    ),
    kn AS (
        SELECT CAST(COUNT(DISTINCT label) AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM embeddings
    )
    SELECT kn.n AS n_vectors, kn.k AS n_labels,
           CAST(CAST(SIGN(b.bss) * FLOOR(ABS(b.bss) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS between_ss,
           CAST(CAST(SIGN(w.wss) * FLOOR(ABS(w.wss) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS within_ss,
           CAST(CAST(SIGN(ch) * FLOOR(ABS(ch) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS ch_index
    FROM w, b, kn,
         (SELECT (b.bss / (kn.k - 1)) / (w.wss / (kn.n - kn.k)) AS ch
          FROM w, b, kn)
    """,
)
def q672(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    emb = T(spark, sf_dir, "embeddings")
    pos = tracked_persist(
        emb.select(
            "vec_id",
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "x"
            ),
        )
    )
    cent = tracked_persist(
        pos.groupBy("label", "dim").agg(
            (dsum("x", 9) / F.count(F.lit(1))).alias("m"),
            F.count(F.lit(1)).cast("long").alias("n_l"),
        )
    )
    glob = pos.groupBy("dim").agg((dsum("x", 9) / F.count(F.lit(1))).alias("g"))
    w = pos.join(cent, ["label", "dim"]).agg(
        dsum((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")), 9).alias("wss")
    )
    b = cent.join(F.broadcast(glob), "dim").agg(
        dsum(
            F.col("n_l") * (F.col("m") - F.col("g")) * (F.col("m") - F.col("g")), 9
        ).alias("bss")
    )
    kn = emb.agg(
        F.countDistinct("label").cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    j = w.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(kn))
    ch = (F.col("bss") / (F.col("k") - 1)) / (
        F.col("wss") / (F.col("n") - F.col("k"))
    )
    return j.select(
        F.col("n").alias("n_vectors"),
        F.col("k").alias("n_labels"),
        (quantize("bss", 6) / 1e6).alias("between_ss"),
        (quantize("wss", 6) / 1e6).alias("within_ss"),
        (quantize(ch, 6) / 1e6).alias("ch_index"),
    )


# --- q673: null-cosine calibration baseline — mean/std/max of cosine
# between DETERMINISTICALLY paired unrelated vectors (adjacent in
# md5(vec_id) order, the engine-reproducible stand-in for a random
# matching): the null distribution every near-dup / semantic-dedup
# threshold (q177/q194-class) should clear. One global_row_number +
# one shifted equi-join — no pair explosion. --------------------------------------
@query(
    "q673_null_cosine_baseline",
    oracle="""
    WITH ord_ AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) AS r
        FROM embeddings
    ),
    pairs AS MATERIALIZED (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               list_cosine_similarity(a.v, b.v) AS c
        FROM ord_ a JOIN ord_ b ON b.r = a.r + 1 AND a.r % 2 = 1
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(SIGN(c) * FLOOR(ABS(c) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 AS s1,
               CAST(SUM(CAST(SIGN(c * c) * FLOOR(ABS(c * c) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 AS s2,
               MAX(ROUND(c, 6)) AS mx
        FROM pairs
    )
    SELECT n AS n_pairs,
           CAST(CAST(SIGN(s1 / n) * FLOOR(ABS(s1 / n) * 1e6 + 0.5)
                     AS BIGINT) AS DOUBLE) / 1e6 AS null_cos_mean,
           CAST(CAST(SIGN(sd) * FLOOR(ABS(sd) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS null_cos_std,
           CAST(CAST(SIGN(mx) * FLOOR(ABS(mx) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS null_cos_max
    FROM (
        SELECT n, s1, mx,
               SQRT((s2 - s1 * s1 / n) / (n - 1)) AS sd
        FROM s
    )
    """,
)
def q673(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist
    from pandrs_spark.operators.windows import global_row_number

    emb = T(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.md5(F.col("vec_id").cast("string")).alias("h"),
    )
    ordd = tracked_persist(
        global_row_number(base, [F.asc("h"), F.asc("vec_id")], "r").select(
            "vec_id", "v", "r"
        )
    )
    a = ordd.where(F.col("r") % 2 == 1).select(
        F.col("r"), F.col("v").alias("va")
    )
    b = ordd.select((F.col("r") - 1).alias("r"), F.col("v").alias("vb"))
    dot = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> x * y), 0.0D, (a, x) -> a + x)"
    )
    na = F.sqrt(
        F.expr("aggregate(va, 0.0D, (a, x) -> a + x * x)")
    )
    nb = F.sqrt(
        F.expr("aggregate(vb, 0.0D, (a, x) -> a + x * x)")
    )
    pairs = a.join(b, "r").select((dot / (na * nb)).alias("c"))
    s = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("c", 9).alias("s1"),
        dsum(F.col("c") * F.col("c"), 9).alias("s2"),
        F.max(F.round("c", 6)).alias("mx"),
    )
    sd = F.sqrt(
        (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1)
    )
    return s.select(
        F.col("n").alias("n_pairs"),
        (quantize(F.col("s1") / F.col("n"), 6) / 1e6).alias("null_cos_mean"),
        (quantize(sd, 6) / 1e6).alias("null_cos_std"),
        (quantize("mx", 6) / 1e6).alias("null_cos_max"),
    )


# --- q674: Davies-Bouldin index of the label clustering — DB =
# (1/k)·Σ_l max_{m≠l} (S_l + S_m)/‖c_l − c_m‖ with S_l the mean
# point-to-centroid distance: the "worst-confusable-neighbor" validity
# score, lower = better separated (Davies & Bouldin 1979). Scatters
# are one quantized rollup; the pairwise part lives entirely on the
# bounded label² grid. -------------------------------------------------------------
@query(
    "q674_davies_bouldin_labels",
    oracle="""
    WITH pos AS MATERIALIZED (
        SELECT vec_id, label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ),
    cent AS MATERIALIZED (
        SELECT label, dim,
               CAST(SUM(CAST(SIGN(x) * FLOOR(ABS(x) * 1e9 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1e9 / COUNT(*) AS m
        FROM pos GROUP BY label, dim
    ),
    dist AS MATERIALIZED (
        SELECT p.vec_id, p.label,
               SQRT(CAST(SUM(CAST(SIGN((p.x - c.m) * (p.x - c.m))
                                  * FLOOR(ABS((p.x - c.m) * (p.x - c.m))
                                          * 1e9 + 0.5) AS BIGINT))
                         AS DOUBLE) / 1e9) AS dd
        FROM pos p JOIN cent c ON c.label = p.label AND c.dim = p.dim
        GROUP BY p.vec_id, p.label
    ),
    scat AS MATERIALIZED (
        SELECT label,
               CAST(SUM(CAST(SIGN(dd) * FLOOR(ABS(dd) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*) AS s
        FROM dist GROUP BY label
    ),
    cd AS MATERIALIZED (
        SELECT a.label AS la, b.label AS lb,
               SQRT(CAST(SUM(CAST(SIGN((a.m - b.m) * (a.m - b.m))
                                  * FLOOR(ABS((a.m - b.m) * (a.m - b.m))
                                          * 1e9 + 0.5) AS BIGINT))
                         AS DOUBLE) / 1e9) AS md
        FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <> b.label
        GROUP BY la, lb
    ),
    r AS (
        SELECT cd.la AS label, MAX((sa.s + sb.s) / cd.md) AS rmax
        FROM cd JOIN scat sa ON sa.label = cd.la
                JOIN scat sb ON sb.label = cd.lb
        GROUP BY cd.la
    )
    SELECT n_labels,
           CAST(CAST(SIGN(db) * FLOOR(ABS(db) * 1e6 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e6 AS db_index
    FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_labels,
               CAST(SUM(CAST(SIGN(rmax) * FLOOR(ABS(rmax) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*) AS db
        FROM r
    )
    """,
)
def q674(spark, sf_dir):
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    emb = T(spark, sf_dir, "embeddings")
    pos = tracked_persist(
        emb.select(
            "vec_id",
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "x"
            ),
        )
    )
    cent = tracked_persist(
        pos.groupBy("label", "dim").agg((dsum("x", 9) / F.count(F.lit(1))).alias("m"))
    )
    dist = (
        pos.join(cent, ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                dsum((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")), 9)
            ).alias("dd")
        )
    )
    scat = dist.groupBy("label").agg((dsum("dd", 9) / F.count(F.lit(1))).alias("s"))
    cb = cent.select(
        F.col("label").alias("lb"), F.col("dim"), F.col("m").alias("mb")
    )
    cd = (
        cent.join(cb, "dim")
        .where(F.col("label") != F.col("lb"))
        .groupBy(F.col("label").alias("la"), "lb")
        .agg(
            F.sqrt(
                dsum((F.col("m") - F.col("mb")) * (F.col("m") - F.col("mb")), 9)
            ).alias("md")
        )
    )
    sa = scat.select(F.col("label").alias("la"), F.col("s").alias("sa"))
    sb = scat.select(F.col("label").alias("lb"), F.col("s").alias("sb"))
    r = (
        cd.join(F.broadcast(sa), "la")
        .join(F.broadcast(sb), "lb")
        .groupBy("la")
        .agg(
            F.max((F.col("sa") + F.col("sb")) / F.col("md")).alias("rmax")
        )
    )
    out = r.agg(
        F.count(F.lit(1)).cast("long").alias("n_labels"),
        (dsum("rmax", 9) / F.count(F.lit(1))).alias("db"),
    )
    return out.select(
        "n_labels", (quantize("db", 6) / 1e6).alias("db_index")
    )


# ===== Wave q681-q686: model-evaluation & agreement tier II ===========
# Public methodology: cumulative gains/lift charts, Spearman (1904)
# footrule + Kendall (1938) distance, Cohen (1968) quadratic-weighted
# kappa, rank-biased overlap (Webber et al. 2010), group-level
# calibration slope (Cox 1958 recalibration, decile form), Gwet (2008)
# AC1. Scores reuse the q579 design (y = customer ever placed an
# URGENT order, s = account balance); every statistic reduces to
# distinct-value histograms + distributed prefix sums or bounded
# k×k / depth×rank grids.

# --- q711: IVF kNN-graph recall certificate — the in-gate proof that
# the bucketed path behind q142/q570/q670 is calibrated, the q88
# pattern upgraded from a boolean to a VALUE both engines compute
# independently: recall@5 of the IVF kNN edges (knn_topk_edges
# method="ivf", lowest-id centroids, n_probe=2 of 8 cells) against the
# exact 5-NN answer for a 20-query sample. The exact side is the
# sample × corpus broadcast join — linear in the corpus, never n².
# On this synthetic corpus the embeddings are near-isotropic random
# vectors, so recall ≈ the scanned candidate fraction (n_probe /
# n_centroids); real corpora with cluster structure concentrate true
# neighbors inside the probed cells and recall rises sharply at the
# same probe fraction — exactly the effect q670's hubness skew gauges. ---------
@query(
    "q711_ivf_knn_recall_certificate",
    oracle="""
    WITH emb AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent AS MATERIALIZED (
        SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8
    ),
    assign AS MATERIALIZED (
        SELECT id_c, cid FROM (
            SELECT e.vec_id AS id_c, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6)
                                DESC, c.cid) AS rn
            FROM emb e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probe AS MATERIALIZED (
        SELECT id_q, cid FROM (
            SELECT e.vec_id AS id_q, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6)
                                DESC, c.cid) AS rn
            FROM emb e CROSS JOIN cent c
            WHERE e.vec_id < 20
        ) WHERE rn <= 2
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT p.id_q, a.id_c
        FROM probe p JOIN assign a USING (cid)
        WHERE p.id_q <> a.id_c
    ),
    ivfknn AS MATERIALIZED (
        SELECT id_q, id_c FROM (
            SELECT cand.id_q, cand.id_c,
                   ROW_NUMBER() OVER (
                       PARTITION BY cand.id_q
                       ORDER BY ROUND(list_cosine_similarity(eq.v, ec.v), 6)
                                DESC, cand.id_c) AS rn
            FROM cand
            JOIN emb eq ON eq.vec_id = cand.id_q
            JOIN emb ec ON ec.vec_id = cand.id_c
        ) WHERE rn <= 5
    ),
    exact AS MATERIALIZED (
        SELECT id_q, id_c FROM (
            SELECT a.vec_id AS id_q, b.vec_id AS id_c,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6)
                                DESC, b.vec_id) AS rn
            FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
            WHERE a.vec_id < 20
        ) WHERE rn <= 5
    ),
    per_q AS (
        SELECT e.id_q,
               CAST(COUNT(i.id_c) AS DOUBLE) / COUNT(*) AS r
        FROM exact e
        LEFT JOIN ivfknn i ON i.id_q = e.id_q AND i.id_c = e.id_c
        GROUP BY e.id_q
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(CAST(SIGN(AVG(r)) * FLOOR(ABS(AVG(r)) * 1e4 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e4 AS recall5
    FROM per_q
    """,
)
def q711(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.similarity import cosine, knn_topk_edges

    emb = T(spark, sf_dir, "embeddings")
    # bucketed side: the SAME graph q570/q670 consume, restricted to
    # the sample (id_a is the window partition key, so Catalyst pushes
    # the filter through the rank into the probe side — candidate
    # volume is 20 × the probed lists, not the full graph)
    ivf = (
        knn_topk_edges(emb, k=5, method="ivf")
        .filter(F.col("id_a") < 20)
        .select("id_a", "id_b")
    )
    # exact side: 20-row broadcast sample × corpus — linear scan
    # (.limit(20) is exact — vec_id unique — and makes the bounded
    # broadcast build plan-visible, the q88 convention)
    q = emb.filter(F.col("vec_id") < 20).limit(20).select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").cast("array<double>").alias("vq"),
    )
    c = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").cast("array<double>").alias("vc"),
    )
    w = Window.partitionBy("id_a").orderBy(
        F.desc(F.round("sim", 6)), "id_b"
    )
    exact = (
        F.broadcast(q)
        .join(c, F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", cosine(F.col("vq"), F.col("vc")).alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("id_a", "id_b")
    )
    hits = exact.join(
        ivf.withColumn("hit", F.lit(1)), ["id_a", "id_b"], "left"
    )
    per_q = hits.groupBy("id_a").agg(
        (F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1))).alias("r")
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        (quantize(F.avg("r"), 4) / 1e4).alias("recall5"),
    )


# --- q720: IVF probe-sweep recall curve — q711's certificate swept
# over n_probe ∈ {1,2,4,8} of 8 cells IN ONE PLAN: the bounded 4-value
# probe grid joins the rank-filtered probe lists (pr.rn <= p), so the
# whole curve costs one pipeline, not four reruns. The recall/cost
# tradeoff table an ANN operator publishes before anyone trusts its
# buckets: recall ≈ scanned fraction on this isotropic synthetic
# corpus, and the curve pins exactly that. ------------------------------------
@query(
    "q720_ivf_probe_sweep_recall",
    oracle="""
    WITH emb AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent AS MATERIALIZED (
        SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8
    ),
    assign AS MATERIALIZED (
        SELECT id_c, cid FROM (
            SELECT e.vec_id AS id_c, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6)
                                DESC, c.cid) AS rn
            FROM emb e CROSS JOIN cent c
        ) WHERE rn = 1
    ),
    probe AS MATERIALIZED (
        SELECT id_q, cid, rn FROM (
            SELECT e.vec_id AS id_q, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY ROUND(list_cosine_similarity(e.v, c.cv), 6)
                                DESC, c.cid) AS rn
            FROM emb e CROSS JOIN cent c
            WHERE e.vec_id < 20
        ) WHERE rn <= 8
    ),
    grid AS (SELECT UNNEST([1, 2, 4, 8]) AS p),
    cand AS MATERIALIZED (
        SELECT DISTINCT g.p, pr.id_q, a.id_c
        FROM grid g
        JOIN probe pr ON pr.rn <= g.p
        JOIN assign a ON a.cid = pr.cid
        WHERE pr.id_q <> a.id_c
    ),
    ivfknn AS MATERIALIZED (
        SELECT p, id_q, id_c FROM (
            SELECT cand.p, cand.id_q, cand.id_c,
                   ROW_NUMBER() OVER (
                       PARTITION BY cand.p, cand.id_q
                       ORDER BY ROUND(list_cosine_similarity(eq.v, ec.v), 6)
                                DESC, cand.id_c) AS rn
            FROM cand
            JOIN emb eq ON eq.vec_id = cand.id_q
            JOIN emb ec ON ec.vec_id = cand.id_c
        ) WHERE rn <= 5
    ),
    exact AS MATERIALIZED (
        SELECT id_q, id_c FROM (
            SELECT a.vec_id AS id_q, b.vec_id AS id_c,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6)
                                DESC, b.vec_id) AS rn
            FROM emb a JOIN emb b ON a.vec_id <> b.vec_id
            WHERE a.vec_id < 20
        ) WHERE rn <= 5
    ),
    per_q AS (
        SELECT g.p, e.id_q, CAST(COUNT(i.id_c) AS DOUBLE) / COUNT(*) AS r
        FROM grid g
        JOIN exact e ON TRUE
        LEFT JOIN ivfknn i ON i.p = g.p AND i.id_q = e.id_q
                          AND i.id_c = e.id_c
        GROUP BY g.p, e.id_q
    )
    SELECT p AS n_probe,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(CAST(FLOOR(AVG(r) * 10000.0 + 0.5) AS BIGINT) AS DOUBLE)
               / 1e4 AS recall5
    FROM per_q
    GROUP BY p
    ORDER BY n_probe
    """,
)
def q720(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.operators.similarity import _as_double, cosine, fan_out

    emb = T(spark, sf_dir, "embeddings")
    cent = F.broadcast(
        emb.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("cid"), _as_double(F.col("embedding")).alias("cv"))
    )
    c = fan_out(emb).select(
        F.col("vec_id").alias("id_c"), _as_double(F.col("embedding")).alias("vc")
    )
    # .limit(20) is exact (vec_id unique) and makes the bounded
    # broadcast build plan-visible, the q88 convention
    q = emb.filter(F.col("vec_id") < 20).limit(20).select(
        F.col("vec_id").alias("id_q"), _as_double(F.col("embedding")).alias("vq")
    )
    w_assign = Window.partitionBy("id_c").orderBy(
        F.desc(F.round("__sim", 6)), "cid"
    )
    assign = (
        c.crossJoin(cent)
        .select("id_c", "cid", cosine(F.col("vc"), F.col("cv")).alias("__sim"))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("id_c", "cid")
    )
    w_probe = Window.partitionBy("id_q").orderBy(
        F.desc(F.round("__sim", 6)), "cid"
    )
    probe = (
        q.crossJoin(cent)
        .select("id_q", "cid", cosine(F.col("vq"), F.col("cv")).alias("__sim"))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= 8)
        .select("id_q", "cid", "rn")
    )
    grid = small_local_df(spark, [(1,), (2,), (4,), (8,)], "p int")
    cand = (
        probe.crossJoin(F.broadcast(grid))
        .filter(F.col("rn") <= F.col("p"))
        .join(assign, "cid")
        .filter(F.col("id_q") != F.col("id_c"))
        .select("p", "id_q", "id_c")
        .distinct()
    )
    scored = (
        cand.join(q, "id_q")
        .join(c, "id_c")
        .select("p", "id_q", "id_c", cosine(F.col("vq"), F.col("vc")).alias("__sim"))
    )
    w_top = Window.partitionBy("p", "id_q").orderBy(
        F.desc(F.round("__sim", 6)), "id_c"
    )
    ivf = (
        scored.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 5)
        .select("p", "id_q", "id_c")
    )
    w_ex = Window.partitionBy("id_q").orderBy(F.desc(F.round("sim", 6)), "id_c")
    exact = (
        F.broadcast(q)
        .join(c, F.col("id_q") != F.col("id_c"))
        .select("id_q", "id_c", cosine(F.col("vq"), F.col("vc")).alias("sim"))
        .withColumn("rn", F.row_number().over(w_ex))
        .filter(F.col("rn") <= 5)
        .select("id_q", "id_c")
    )
    hits = (
        exact.crossJoin(F.broadcast(grid))
        .join(ivf.withColumn("hit", F.lit(1)), ["p", "id_q", "id_c"], "left")
    )
    per_q = hits.groupBy("p", "id_q").agg(
        (F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1))).alias("r")
    )
    return (
        per_q.groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            (F.floor(F.avg("r") * 1e4 + 0.5).cast("long") / 1e4).alias("recall5"),
        )
        .select(F.col("p").alias("n_probe"), "n_queries", "recall5")
        .orderBy("n_probe")
    )


# --- q722: linear-time MMD² between label-0 and label-1 embeddings —
# Gretton et al. (2012) §6 streaming estimator: pair consecutive
# rank-ordered samples within each group and average
# h_i = k(x2i−1,x2i) + k(y2i−1,y2i) − k(x2i−1,y2i) − k(x2i,y2i−1)
# (RBF kernel, 2σ² = 4). THE two-sample test shaped for 100 TB: the
# quadratic U-statistic needs all pairs, the linear estimator needs
# only rank-adjacent ones — every join here is an equi-join on the
# pair index, squared distances fold through per-dimension scaled
# BIGINTs so both engines agree bit-for-bit before exp(). -------------------
@query(
    "q722_linear_mmd_two_sample",
    oracle="""
    WITH g AS MATERIALIZED (
        SELECT label, CAST(embedding AS DOUBLE[]) AS v,
               ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS r
        FROM embeddings WHERE label IN (0, 1)
    ),
    m AS (
        SELECT CAST(MIN(c) AS BIGINT) AS m FROM (
            SELECT label, COUNT(*) AS c FROM g GROUP BY label
        )
    ),
    px AS (
        SELECT CAST((a.r + 1) // 2 AS BIGINT) AS i, a.v AS x1, b.v AS x2
        FROM g a JOIN g b ON b.label = 0 AND b.r = a.r + 1
        WHERE a.label = 0 AND a.r % 2 = 1 AND b.r <= (SELECT m FROM m)
    ),
    py AS (
        SELECT CAST((a.r + 1) // 2 AS BIGINT) AS i, a.v AS y1, b.v AS y2
        FROM g a JOIN g b ON b.label = 1 AND b.r = a.r + 1
        WHERE a.label = 1 AND a.r % 2 = 1 AND b.r <= (SELECT m FROM m)
    ),
    h AS (
        SELECT px.i,
               EXP(-(list_sum(list_transform(generate_series(1, len(x1)),
                    k -> CAST(FLOOR((x1[k] - x2[k]) * (x1[k] - x2[k])
                                    * 1000000.0 + 0.5) AS BIGINT)))
                    / 1e6) / 4.0)
             + EXP(-(list_sum(list_transform(generate_series(1, len(y1)),
                    k -> CAST(FLOOR((y1[k] - y2[k]) * (y1[k] - y2[k])
                                    * 1000000.0 + 0.5) AS BIGINT)))
                    / 1e6) / 4.0)
             - EXP(-(list_sum(list_transform(generate_series(1, len(x1)),
                    k -> CAST(FLOOR((x1[k] - y2[k]) * (x1[k] - y2[k])
                                    * 1000000.0 + 0.5) AS BIGINT)))
                    / 1e6) / 4.0)
             - EXP(-(list_sum(list_transform(generate_series(1, len(x2)),
                    k -> CAST(FLOOR((x2[k] - y1[k]) * (x2[k] - y1[k])
                                    * 1000000.0 + 0.5) AS BIGINT)))
                    / 1e6) / 4.0) AS hv
        FROM px JOIN py ON py.i = px.i
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(CAST(SIGN(mn) * FLOOR(ABS(mn) * 1e9 + 0.5) AS BIGINT)
                AS DOUBLE) / 1e9 AS mmd2_linear
    FROM (
        SELECT COUNT(*) AS cnt,
               CAST(SUM(CAST(SIGN(hv) * FLOOR(ABS(hv) * 1e9 + 0.5)
                             AS BIGINT)) AS DOUBLE) / 1e9 / COUNT(*) AS mn
        FROM h
    ), h
    GROUP BY mn
    """,
)
def q722(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.functions.deterministic import quantize

    emb = T(spark, sf_dir, "embeddings").filter(F.col("label").isin(0, 1))
    w_r = Window.partitionBy("label").orderBy("vec_id")
    g = emb.select(
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
        F.row_number().over(w_r).alias("r"),
    )
    m = g.groupBy("label").agg(F.count(F.lit(1)).alias("c")).agg(
        F.min("c").cast("long").alias("m")
    )

    def _pairs(lbl, n1, n2):
        a = g.filter((F.col("label") == lbl) & (F.col("r") % 2 == 1)).select(
            F.floor((F.col("r") + 1) / 2).cast("long").alias("i"),
            F.col("v").alias(n1),
            F.col("r").alias("ra"),
        )
        b = g.filter(F.col("label") == lbl).select(
            F.col("r").alias("rb"), F.col("v").alias(n2)
        )
        return (
            a.join(b, F.col("rb") == F.col("ra") + 1)
            .crossJoin(F.broadcast(m))
            .filter(F.col("rb") <= F.col("m"))
            .select("i", n1, n2)
        )

    px = _pairs(0, "x1", "x2")
    py = _pairs(1, "y1", "y2")

    def _k(a, b):
        d2q = F.aggregate(
            F.zip_with(
                F.col(a),
                F.col(b),
                lambda x, y: F.floor((x - y) * (x - y) * 1e6 + 0.5).cast(
                    "long"
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return F.exp(-(d2q / 1e6) / 4.0)

    h = px.join(py, "i").select(
        (
            _k("x1", "x2") + _k("y1", "y2") - _k("x1", "y2") - _k("x2", "y1")
        ).alias("hv")
    )
    return h.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (
            quantize(
                dsum("hv", 9)
                / F.count(F.lit(1)),
                9,
            )
            / 1e9
        ).alias("mmd2_linear"),
    )




# --- q725: IVFADC recall certificate — the in-gate proof for the third
# ANN scale path as a FIRST-CLASS operator (knn_topk_edges
# method="ivfadc" -> operators/similarity.py ivfadc_topk): coarse cells
# + product-quantized residual codes + asymmetric-distance scan, Jégou
# et al. 2011's actual search pipeline (q712 built the codebook
# quality readout, q713 the raw-vector ADC scorer; this composes
# residual coding + IVF probing and certifies the dispatch path).
# Recall@5 of the IVFADC edges (8 cells, 4 probed, 8 subspaces x 32
# residual codewords, all deterministic: lowest-id centroids, lowest
# non-centroid-id codewords, scaled-BIGINT distance sums; production
# swaps in per-subspace k-means codebooks of 256 without changing the
# dataflow) against the
# exact quantized-L2 top-5 for a 10-query sample — both engines compute
# the VALUE independently, so approximation quality sits inside the
# hash gate. On this near-isotropic synthetic corpus recall (0.32)
# BEATS the probed fraction baseline; clustered real corpora
# concentrate neighbors in probed cells and recall rises sharply. ------------
@query(
    "q725_ivfadc_recall_certificate",
    oracle="""
    WITH emb AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pos AS MATERIALIZED (
        SELECT vec_id, i - 1 AS p, v[i] AS x
        FROM emb, UNNEST(generate_series(1, len(v))) AS t(i)
    ),
    cent AS MATERIALIZED (
        SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8
    ),
    cpos AS MATERIALIZED (
        SELECT cid, i - 1 AS p, cv[i] AS cx
        FROM cent, UNNEST(generate_series(1, len(cv))) AS t(i)
    ),
    adist AS MATERIALIZED (
        SELECT pos.vec_id, cpos.cid,
               SUM(CAST(FLOOR((pos.x - cpos.cx) * (pos.x - cpos.cx)
                              * 1000000.0 + 0.5) AS BIGINT)) AS d2
        FROM pos JOIN cpos USING (p)
        GROUP BY pos.vec_id, cpos.cid
    ),
    assign AS MATERIALIZED (
        SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM adist
        ) WHERE rn = 1
    ),
    train AS MATERIALIZED (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS code
        FROM (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 32 OFFSET 8)
    ),
    rpos AS MATERIALIZED (
        SELECT pos.vec_id, a.cell,
               CAST(pos.p // 8 AS INT) AS s, pos.p % 8 AS j,
               pos.x - cp.cx AS xr
        FROM pos
        JOIN assign a ON a.vec_id = pos.vec_id
        JOIN cpos cp ON cp.cid = a.cell AND cp.p = pos.p
    ),
    cb AS MATERIALIZED (
        SELECT r.s, r.j, t.code, r.xr AS cbx
        FROM rpos r JOIN train t ON t.vec_id = r.vec_id
    ),
    cdist AS MATERIALIZED (
        SELECT r.vec_id, r.cell, r.s, cb.code,
               SUM(CAST(FLOOR((r.xr - cb.cbx) * (r.xr - cb.cbx)
                              * 1000000.0 + 0.5) AS BIGINT)) AS cd
        FROM rpos r JOIN cb ON cb.s = r.s AND cb.j = r.j
        GROUP BY r.vec_id, r.cell, r.s, cb.code
    ),
    codes AS MATERIALIZED (
        SELECT vec_id, cell, s, code FROM (
            SELECT vec_id, cell, s, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY cd, code) AS rn
            FROM cdist
        ) WHERE rn = 1
    ),
    probe AS MATERIALIZED (
        SELECT vec_id AS qid, cid AS cell FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM adist WHERE vec_id < 10
        ) WHERE rn <= 4
    ),
    qres AS MATERIALIZED (
        SELECT pos.vec_id AS qid, pr.cell,
               CAST(pos.p // 8 AS INT) AS s, pos.p % 8 AS j,
               pos.x - cp.cx AS xr
        FROM pos
        JOIN probe pr ON pr.qid = pos.vec_id
        JOIN cpos cp ON cp.cid = pr.cell AND cp.p = pos.p
    ),
    lut AS MATERIALIZED (
        SELECT q.qid, q.cell, q.s, cb.code,
               SUM(CAST(FLOOR((q.xr - cb.cbx) * (q.xr - cb.cbx)
                              * 1000000.0 + 0.5) AS BIGINT)) AS dq
        FROM qres q JOIN cb ON cb.s = q.s AND cb.j = q.j
        GROUP BY q.qid, q.cell, q.s, cb.code
    ),
    adc AS MATERIALIZED (
        SELECT l.qid, c.vec_id AS bid, SUM(l.dq) AS dist
        FROM codes c
        JOIN lut l ON l.cell = c.cell AND l.s = c.s AND l.code = c.code
        WHERE c.vec_id <> l.qid
        GROUP BY l.qid, c.vec_id
    ),
    adc5 AS MATERIALIZED (
        SELECT qid, bid FROM (
            SELECT qid, bid,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY dist, bid) AS rn
            FROM adc
        ) WHERE rn <= 5
    ),
    ex AS MATERIALIZED (
        SELECT qp.vec_id AS qid, bp.vec_id AS bid,
               SUM(CAST(FLOOR((qp.x - bp.x) * (qp.x - bp.x) * 1000000.0
                              + 0.5) AS BIGINT)) AS d2
        FROM pos qp JOIN pos bp ON bp.p = qp.p
        WHERE qp.vec_id < 10 AND bp.vec_id <> qp.vec_id
        GROUP BY qp.vec_id, bp.vec_id
    ),
    ex5 AS MATERIALIZED (
        SELECT qid, bid FROM (
            SELECT qid, bid,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY d2, bid) AS rn
            FROM ex
        ) WHERE rn <= 5
    ),
    per_q AS (
        SELECT e.qid, CAST(COUNT(a.bid) AS DOUBLE) / COUNT(*) AS r
        FROM ex5 e LEFT JOIN adc5 a ON a.qid = e.qid AND a.bid = e.bid
        GROUP BY e.qid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(CAST(FLOOR(AVG(r) * 10000.0 + 0.5) AS BIGINT) AS DOUBLE)
               / 1e4 AS recall5
    FROM per_q
    """,
)
def q725(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.similarity import knn_topk_edges
    from pandrs_spark.operators.util import fan_out, tracked_persist

    emb = T(spark, sf_dir, "embeddings")
    # approximate side: the SAME dispatch path q570/q670-class consumers
    # would call with method="ivfadc"; the sample filter pushes through
    # the rank window into the probe side (id_q is the partition key)
    adc5 = (
        knn_topk_edges(emb, k=5, method="ivfadc", n_probe=4, k_sub=32)
        .filter(F.col("id_a") < 10)
        .select(F.col("id_a").alias("qid"), F.col("id_b").alias("bid"))
    )
    # exact side: 10-query broadcast sample x corpus, the SAME quantized
    # per-dimension integer L2 both engines fold (q713's ex shape)
    pos = tracked_persist(
        fan_out(emb).select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "p", "x"
            ),
        )
    )
    qpos = pos.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "p", F.col("x").alias("qx")
    )
    ex = (
        pos.join(F.broadcast(qpos), "p")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("bid"))
        .agg(
            F.sum(
                quantize(
                    (F.col("qx") - F.col("x")) * (F.col("qx") - F.col("x")),
                    6,
                )
            )
            .cast("long")
            .alias("d2")
        )
    )
    w_ex = Window.partitionBy("qid").orderBy("d2", "bid")
    ex5 = (
        ex.withColumn("rn", F.row_number().over(w_ex))
        .filter(F.col("rn") <= 5)
        .select("qid", "bid")
    )
    hits = ex5.join(adc5.withColumn("hit", F.lit(1)), ["qid", "bid"], "left")
    per_q = hits.groupBy("qid").agg(
        (F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1))).alias("r")
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        (F.floor(F.avg("r") * 1e4 + 0.5).cast("long") / 1e4).alias("recall5"),
    )


# --- q726: LSH depth-derivation certificate — the round-10 self-
# scaling config (operators/similarity.py derive_lsh_config, the
# defaults behind embedding_near_dup_pairs/q177) recomputed
# INDEPENDENTLY by both engines from the corpus: n_distinct ->
# n_planes = max(3, ceil(log2(n/64))) -> n_tables = max(32,
# OR-construction bound holding recall 0.9999 at the sim>=0.9 anchor).
# Any drift between the Python derivation, the Spark-SQL expression,
# and the DuckDB expression hash-mismatches — so the exact knob values
# the dedup family runs with at every SF sit inside the oracle gate
# (500 -> 3/32 byte-identical with the pre-round-10 calibration
# config; 20k -> 9/33; 1M -> 14/76). One countDistinct aggregate:
# map-side partial, any corpus size. ------------------------------------------
@query(
    "q726_lsh_depth_derivation",
    oracle="""
    WITH n AS (
        SELECT CAST(COUNT(DISTINCT embedding) AS BIGINT) AS n_distinct
        FROM embeddings
    ),
    pl AS (
        SELECT n_distinct,
               GREATEST(3, CAST(CEIL(LOG2(GREATEST(n_distinct / 64.0, 1.0)))
                                AS BIGINT)) AS n_planes
        FROM n
    )
    SELECT n_distinct, n_planes,
           GREATEST(32, CAST(CEIL(
               LN(0.0001)
               / LN(1.0 - POW(1.0 - ACOS(0.9) / PI(), n_planes))
           ) AS BIGINT)) AS n_tables
    FROM pl
    """,
)
def q726(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    n = emb.agg(F.countDistinct("embedding").cast("long").alias("n_distinct"))
    pl = n.select(
        "n_distinct",
        F.greatest(
            F.lit(3).cast("long"),
            F.ceil(
                F.log2(
                    F.greatest(F.col("n_distinct") / F.lit(64.0), F.lit(1.0))
                )
            ).cast("long"),
        ).alias("n_planes"),
    )
    return pl.select(
        "n_distinct",
        "n_planes",
        F.greatest(
            F.lit(32).cast("long"),
            F.ceil(
                F.log(F.lit(0.0001))
                / F.log(
                    F.lit(1.0)
                    - F.pow(
                        F.expr("1.0 - ACOS(0.9) / PI()"), F.col("n_planes")
                    )
                )
            ).cast("long"),
        ).alias("n_tables"),
    )


# --- q727: IVFADC probe-sweep recall curve — q725's certificate swept
# over n_probe ∈ {1,2,4,8} of 8 cells IN ONE PLAN (the q720 treatment
# applied to the compressed-domain path): probe ranks are computed once
# to depth 8, the per-(query, cell) ADC lookup tables are built once,
# and the bounded 4-value probe grid joins the rank-filtered lists —
# the whole recall/cost curve costs one pipeline, not four reruns. At
# p = 8 every cell is probed, so the last row isolates the PURE PQ
# ranking loss (IVF loss = 0): the curve separates "missed the cell"
# from "codebook too coarse", the two failure modes an IVFADC deploy
# tunes independently (n_probe vs k_sub). Measured at sf0.01:
# 0.30/0.30/0.32/0.30 — FLAT, i.e. on this isotropic synthetic corpus
# recall is codebook-bound (raise k_sub), not cell-miss-bound (n_probe
# buys nothing); a clustered real corpus shows the opposite signature,
# rising steeply with n_probe. Exactly the readout that decides which
# knob to spend memory on. ----------------------------------------------------
@query(
    "q727_ivfadc_probe_sweep",
    oracle="""
    WITH emb AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pos AS MATERIALIZED (
        SELECT vec_id, i - 1 AS p, v[i] AS x
        FROM emb, UNNEST(generate_series(1, len(v))) AS t(i)
    ),
    cent AS MATERIALIZED (
        SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8
    ),
    cpos AS MATERIALIZED (
        SELECT cid, i - 1 AS p, cv[i] AS cx
        FROM cent, UNNEST(generate_series(1, len(cv))) AS t(i)
    ),
    adist AS MATERIALIZED (
        SELECT pos.vec_id, cpos.cid,
               SUM(CAST(FLOOR((pos.x - cpos.cx) * (pos.x - cpos.cx)
                              * 1000000.0 + 0.5) AS BIGINT)) AS d2
        FROM pos JOIN cpos USING (p)
        GROUP BY pos.vec_id, cpos.cid
    ),
    assign AS MATERIALIZED (
        SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM adist
        ) WHERE rn = 1
    ),
    train AS MATERIALIZED (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS code
        FROM (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 32 OFFSET 8)
    ),
    rpos AS MATERIALIZED (
        SELECT pos.vec_id, a.cell,
               CAST(pos.p // 8 AS INT) AS s, pos.p % 8 AS j,
               pos.x - cp.cx AS xr
        FROM pos
        JOIN assign a ON a.vec_id = pos.vec_id
        JOIN cpos cp ON cp.cid = a.cell AND cp.p = pos.p
    ),
    cb AS MATERIALIZED (
        SELECT r.s, r.j, t.code, r.xr AS cbx
        FROM rpos r JOIN train t ON t.vec_id = r.vec_id
    ),
    cdist AS MATERIALIZED (
        SELECT r.vec_id, r.cell, r.s, cb.code,
               SUM(CAST(FLOOR((r.xr - cb.cbx) * (r.xr - cb.cbx)
                              * 1000000.0 + 0.5) AS BIGINT)) AS cd
        FROM rpos r JOIN cb ON cb.s = r.s AND cb.j = r.j
        GROUP BY r.vec_id, r.cell, r.s, cb.code
    ),
    codes AS MATERIALIZED (
        SELECT vec_id, cell, s, code FROM (
            SELECT vec_id, cell, s, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY cd, code) AS rn
            FROM cdist
        ) WHERE rn = 1
    ),
    prq AS MATERIALIZED (
        SELECT vec_id AS qid, cid AS cell, rn AS prn FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM adist WHERE vec_id < 10
        ) WHERE rn <= 8
    ),
    qres AS MATERIALIZED (
        SELECT pos.vec_id AS qid, pr.cell, pr.prn,
               CAST(pos.p // 8 AS INT) AS s, pos.p % 8 AS j,
               pos.x - cp.cx AS xr
        FROM pos
        JOIN prq pr ON pr.qid = pos.vec_id
        JOIN cpos cp ON cp.cid = pr.cell AND cp.p = pos.p
    ),
    lut AS MATERIALIZED (
        SELECT q.qid, q.cell, q.prn, q.s, cb.code,
               SUM(CAST(FLOOR((q.xr - cb.cbx) * (q.xr - cb.cbx)
                              * 1000000.0 + 0.5) AS BIGINT)) AS dq
        FROM qres q JOIN cb ON cb.s = q.s AND cb.j = q.j
        GROUP BY q.qid, q.cell, q.prn, q.s, cb.code
    ),
    grid AS (SELECT * FROM (VALUES (1), (2), (4), (8)) AS g(np)),
    adc AS MATERIALIZED (
        SELECT g.np, l.qid, c.vec_id AS bid, SUM(l.dq) AS dist
        FROM codes c
        JOIN lut l ON l.cell = c.cell AND l.s = c.s AND l.code = c.code
        JOIN grid g ON l.prn <= g.np
        WHERE c.vec_id <> l.qid
        GROUP BY g.np, l.qid, c.vec_id
    ),
    adc5 AS MATERIALIZED (
        SELECT np, qid, bid FROM (
            SELECT np, qid, bid,
                   ROW_NUMBER() OVER (PARTITION BY np, qid
                                      ORDER BY dist, bid) AS rn
            FROM adc
        ) WHERE rn <= 5
    ),
    ex AS MATERIALIZED (
        SELECT qp.vec_id AS qid, bp.vec_id AS bid,
               SUM(CAST(FLOOR((qp.x - bp.x) * (qp.x - bp.x) * 1000000.0
                              + 0.5) AS BIGINT)) AS d2
        FROM pos qp JOIN pos bp ON bp.p = qp.p
        WHERE qp.vec_id < 10 AND bp.vec_id <> qp.vec_id
        GROUP BY qp.vec_id, bp.vec_id
    ),
    ex5 AS MATERIALIZED (
        SELECT qid, bid FROM (
            SELECT qid, bid,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY d2, bid) AS rn
            FROM ex
        ) WHERE rn <= 5
    ),
    per_q AS (
        SELECT g.np, e.qid, CAST(COUNT(a.bid) AS DOUBLE) / COUNT(*) AS r
        FROM grid g
        CROSS JOIN ex5 e
        LEFT JOIN adc5 a ON a.np = g.np AND a.qid = e.qid AND a.bid = e.bid
        GROUP BY g.np, e.qid
    )
    SELECT CAST(np AS BIGINT) AS n_probe,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(CAST(FLOOR(AVG(r) * 10000.0 + 0.5) AS BIGINT) AS DOUBLE)
               / 1e4 AS recall5
    FROM per_q
    GROUP BY np
    ORDER BY n_probe
    """,
)
def q727(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import fan_out, tracked_persist

    emb = T(spark, sf_dir, "embeddings")
    pos = tracked_persist(
        fan_out(emb).select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "p", "x"
            ),
        )
    )
    cpos = F.broadcast(
        emb.orderBy("vec_id")
        .limit(8)
        .select(
            F.col("vec_id").alias("cid"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "p", "cx"
            ),
        )
    )
    dq2 = quantize((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx")), 6)
    adist = tracked_persist(
        pos.join(cpos, "p")
        .groupBy("vec_id", "cid")
        .agg(F.sum(dq2).cast("long").alias("d2"))
    )
    w_a = Window.partitionBy("vec_id").orderBy("d2", "cid")
    assign = (
        adist.withColumn("rn", F.row_number().over(w_a))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
    )
    train = (
        emb.select("vec_id")
        .orderBy("vec_id")
        .limit(40)
        .withColumn("__rn", F.row_number().over(Window.orderBy("vec_id")))
        .filter(F.col("__rn") > 8)
        .select("vec_id", (F.col("__rn") - 8).alias("code"))
    )
    rpos = (
        pos.join(assign, "vec_id")
        .join(cpos.withColumnRenamed("cid", "cell"), ["cell", "p"])
        .select(
            "vec_id",
            "cell",
            F.floor(F.col("p") / F.lit(8)).cast("int").alias("s"),
            (F.col("p") % F.lit(8)).alias("j"),
            (F.col("x") - F.col("cx")).alias("xr"),
        )
    )
    cb = F.broadcast(
        rpos.join(train, "vec_id").select(
            "s", "j", "code", F.col("xr").alias("cbx")
        )
    )
    cq2 = quantize(
        (F.col("xr") - F.col("cbx")) * (F.col("xr") - F.col("cbx")), 6
    )
    w_code = Window.partitionBy("vec_id", "s").orderBy("cd", "code")
    codes = (
        rpos.join(cb, ["s", "j"])
        .groupBy("vec_id", "cell", "s", "code")
        .agg(F.sum(cq2).cast("long").alias("cd"))
        .withColumn("rn", F.row_number().over(w_code))
        .filter(F.col("rn") == 1)
        .select(F.col("vec_id").alias("bid"), "cell", "s", "code")
    )
    prq = (
        adist.filter(F.col("vec_id") < 10)
        .withColumn("prn", F.row_number().over(w_a))
        .filter(F.col("prn") <= 8)
        .select(F.col("vec_id").alias("qid"), F.col("cid").alias("cell"), "prn")
    )
    qres = (
        pos.filter(F.col("vec_id") < 10)
        .withColumnRenamed("vec_id", "qid")
        .join(prq, "qid")
        .join(cpos.withColumnRenamed("cid", "cell"), ["cell", "p"])
        .select(
            "qid",
            "cell",
            "prn",
            F.floor(F.col("p") / F.lit(8)).cast("int").alias("s"),
            (F.col("p") % F.lit(8)).alias("j"),
            (F.col("x") - F.col("cx")).alias("xr"),
        )
    )
    lut = (
        qres.join(cb, ["s", "j"])
        .groupBy("qid", "cell", "prn", "s", "code")
        .agg(F.sum(cq2).cast("long").alias("dq"))
    )
    grid = F.broadcast(
        small_local_df(spark, [(1,), (2,), (4,), (8,)], "np int")
    )
    adc = (
        codes.join(lut, ["cell", "s", "code"])
        .filter(F.col("bid") != F.col("qid"))
        .join(grid, F.col("prn") <= F.col("np"))
        .groupBy("np", "qid", "bid")
        .agg(F.sum("dq").cast("long").alias("dist"))
    )
    w_adc = Window.partitionBy("np", "qid").orderBy("dist", "bid")
    adc5 = (
        adc.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= 5)
        .select("np", "qid", "bid")
    )
    qpos = pos.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "p", F.col("x").alias("qx")
    )
    ex = (
        pos.join(F.broadcast(qpos), "p")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("bid"))
        .agg(
            F.sum(
                quantize(
                    (F.col("qx") - F.col("x")) * (F.col("qx") - F.col("x")),
                    6,
                )
            )
            .cast("long")
            .alias("d2")
        )
    )
    w_ex = Window.partitionBy("qid").orderBy("d2", "bid")
    ex5 = (
        ex.withColumn("rn", F.row_number().over(w_ex))
        .filter(F.col("rn") <= 5)
        .select("qid", "bid")
    )
    hits = (
        grid.crossJoin(ex5)
        .join(
            adc5.withColumn("hit", F.lit(1)),
            ["np", "qid", "bid"],
            "left",
        )
    )
    per_q = hits.groupBy("np", "qid").agg(
        (F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1))).alias("r")
    )
    return (
        per_q.groupBy("np")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            (F.floor(F.avg("r") * 1e4 + 0.5).cast("long") / 1e4).alias(
                "recall5"
            ),
        )
        .select(
            F.col("np").cast("long").alias("n_probe"), "n_queries", "recall5"
        )
        .orderBy("n_probe")
    )


# ===== Round 11: self-scaling coarse-quantizer certificates ===========

# --- q729: grid depth-derivation certificate — the round-11 self-
# scaling semantic-dedup config (operators/similarity.py
# derive_grid_config, the None-defaults behind semantic_dedup/q195)
# recomputed INDEPENDENTLY by both engines at FOUR operating points in
# one plan: the actual corpus COUNT(DISTINCT) plus three synthetic
# scale points (20k, 1M, 1e9). n_distinct -> grid_dims = max(4,
# ceil(ln(n/64)/ln(3))) -> cells = 3^dims -> occupancy_bound = n/cells.
# Any drift between the Python derivation, the Spark-SQL expression,
# and the DuckDB expression hash-mismatches — so the exact knob
# semantic_dedup runs with at every SF sits inside the oracle gate
# (500/2000 -> 4 dims byte-identical with the pre-round-11 calibration
# grid; 20k -> 6; 1M -> 9; 1e9 -> 16), and the occupancy_bound column
# IS the scale claim: it stays <= 64·3 at every point, i.e. the
# quadratic in-cell pair term is bounded per cell as n grows — the
# q726 treatment for the registry's last fixed-partitioning knob. ------------
@query(
    "q729_grid_depth_derivation",
    oracle="""
    WITH u AS (
        SELECT 'corpus' AS src,
               CAST(COUNT(DISTINCT embedding) AS BIGINT) AS n
        FROM embeddings
        UNION ALL
        SELECT * FROM (VALUES ('n20k', CAST(20000 AS BIGINT)),
                              ('n1m', CAST(1000000 AS BIGINT)),
                              ('n1g', CAST(1000000000 AS BIGINT))) t(src, n)
    ),
    d AS (
        SELECT src, n,
               GREATEST(4, CAST(CEIL(
                   LN(GREATEST(n / 64.0, 1.0)) / LN(3.0)) AS BIGINT))
                   AS grid_dims
        FROM u
    )
    SELECT src, n, grid_dims,
           CAST(POW(3.0, grid_dims) AS BIGINT) AS cells,
           CAST(FLOOR(n / POW(3.0, grid_dims) * 1e4 + 0.5) AS BIGINT)
               AS occupancy_bound_q4
    FROM d ORDER BY src
    """,
)
def q729(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    actual = emb.agg(
        F.countDistinct("embedding").cast("long").alias("n")
    ).select(F.lit("corpus").alias("src"), "n")
    synth = small_local_df(
        spark, [("n20k", 20000), ("n1m", 1000000), ("n1g", 1000000000)],
        "src string, n long",
    )
    d = actual.union(synth).select(
        "src",
        "n",
        F.greatest(
            F.lit(4).cast("long"),
            F.ceil(
                F.log(F.greatest(F.col("n") / F.lit(64.0), F.lit(1.0)))
                / F.log(F.lit(3.0))
            ).cast("long"),
        ).alias("grid_dims"),
    )
    return d.select(
        "src",
        "n",
        "grid_dims",
        F.pow(F.lit(3.0), F.col("grid_dims")).cast("long").alias("cells"),
        F.floor(
            F.col("n") / F.pow(F.lit(3.0), F.col("grid_dims")) * 1e4 + 0.5
        )
        .cast("long")
        .alias("occupancy_bound_q4"),
    ).orderBy("src")


# --- q730: semantic-dedup cell census — the MEASURED side of q729's
# bound: run the derived grid over the actual corpus and certify the
# realized cell-size distribution (n_cells, max cell, Σ c·(c-1)/2 —
# the exact within-cluster candidate-pair count the operator's
# self-join executes) plus the kept count semantic_dedup produces with
# the SAME derived knobs. The oracle recomputes grid_dims from
# COUNT(DISTINCT) and builds the bucket over a computed-length slice,
# so both the derivation AND its realized pair volume are value-
# certified at every SF — the "in-cell pair counts bounded" claim as a
# hash-gated number, not a docstring. -----------------------------------------
@query(
    "q730_semantic_dedup_cell_census",
    oracle="""
    WITH nd AS (
        SELECT GREATEST(4, CAST(CEIL(
                   LN(GREATEST(COUNT(DISTINCT embedding) / 64.0, 1.0))
                   / LN(3.0)) AS BIGINT)) AS dims
        FROM embeddings
    ),
    v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               array_to_string(
                   list_transform(
                       list_slice(CAST(embedding AS DOUBLE[]), 1,
                                  (SELECT dims FROM nd)),
                       x -> CAST(CAST(floor(x * 4.0) AS BIGINT) AS VARCHAR)
                   ), '|') AS b
        FROM embeddings
    ),
    cells AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY b
    ),
    census AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(MAX(c) AS BIGINT) AS max_cell,
               CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS candidate_pairs
        FROM cells
    ),
    dropped AS (
        SELECT DISTINCT y.vec_id
        FROM v x JOIN v y ON x.b = y.b AND x.vec_id < y.vec_id
        WHERE ROUND(list_dot_product(x.e, y.e)
                    / (SQRT(list_dot_product(x.e, x.e))
                       * SQRT(list_dot_product(y.e, y.e))), 4) >= 0.9
    )
    SELECT (SELECT dims FROM nd) AS grid_dims,
           census.n_cells, census.max_cell, census.candidate_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v)
               - (SELECT CAST(COUNT(*) AS BIGINT) FROM dropped) AS n_kept
    FROM census
    """,
)
def q730(spark, sf_dir):
    from pandrs_spark.operators.similarity import semantic_dedup

    emb = T(spark, sf_dir, "embeddings")
    flags = semantic_dedup(emb, threshold=0.9)
    cells = flags.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    census = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max("c").cast("long").alias("max_cell"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2)
        .cast("long")
        .alias("candidate_pairs"),
    )
    kept = flags.agg(
        F.sum(F.col("kept").cast("long")).cast("long").alias("n_kept")
    )
    # grid_dims recomputed via the same Spark-SQL expression the
    # operator's Python derivation uses (q726 pattern: the formula
    # itself sits in the hash gate, not just its effect)
    dims = emb.agg(
        F.greatest(
            F.lit(4).cast("long"),
            F.ceil(
                F.log(
                    F.greatest(
                        F.countDistinct("embedding") / F.lit(64.0),
                        F.lit(1.0),
                    )
                )
                / F.log(F.lit(3.0))
            ).cast("long"),
        ).alias("grid_dims")
    )
    return dims.crossJoin(census).crossJoin(kept)


# --- q731: ANN-LSH derived-config certificate — round 11 wired
# derive_lsh_config into ann_lsh_topk's None-defaults (the q177/q726
# treatment for the operator's pinned (6, 10)); this pins BOTH halves
# at once: (a) the exact derived knobs, recomputed independently by
# Spark-SQL and DuckDB from COUNT(DISTINCT embedding) at the sim>=0.9
# anchor (500 -> planes 3/tables 32; 2000 -> 5/32 — the second-SF
# operating point the full-registry sf0.1 sweep exercises), and
# (b) the MEASURED recall@5 of the operator running with those derived
# defaults against the exact brute-force top-5 over 20 query vectors
# (the q88 pattern — seeded planes can't be mirrored in SQL, so the
# calibration value is the hash-gated claim: drift below 0.9 mean
# recall mismatches). ----------------------------------------------------------
@query(
    "q731_ann_lsh_derived_config",
    oracle="""
    WITH n AS (
        SELECT CAST(COUNT(DISTINCT embedding) AS BIGINT) AS n_distinct
        FROM embeddings
    ),
    pl AS (
        SELECT n_distinct,
               GREATEST(3, CAST(CEIL(LOG2(GREATEST(n_distinct / 64.0, 1.0)))
                                AS BIGINT)) AS n_planes
        FROM n
    )
    SELECT n_distinct, n_planes,
           GREATEST(32, CAST(CEIL(
               LN(0.0001)
               / LN(1.0 - POW(1.0 - ACOS(0.9) / PI(), n_planes))
           ) AS BIGINT)) AS n_tables,
           CAST(20 AS BIGINT) AS n_queries,
           TRUE AS recall_ge_090
    FROM pl
    """,
)
def q731(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.operators.similarity import ann_lsh_topk, cosine

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).limit(20)
    # None knobs -> the operator derives (n_planes, n_tables) from the
    # corpus countDistinct at the 0.9 anchor
    approx = ann_lsh_topk(emb, queries, k=5, dim=64)
    q = queries.select(
        F.col("vec_id").alias("id_q"),
        F.col("embedding").cast("array<double>").alias("vq"),
    )
    c = emb.select(
        F.col("vec_id").alias("id_c"),
        F.col("embedding").cast("array<double>").alias("vc"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("id_q") != F.col("id_c"))
        .select("id_q", "id_c", cosine(F.col("vq"), F.col("vc")).alias("sim"))
    )
    w = Window.partitionBy("id_q").orderBy(F.desc(F.round("sim", 6)), "id_c")
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("id_q", F.col("id_c").alias("nn_id"))
    )
    hits = exact.join(
        approx.select("id_q", "nn_id").withColumn("hit", F.lit(1)),
        ["id_q", "nn_id"],
        "left",
    )
    per_query = hits.groupBy("id_q").agg(
        (F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1))).alias(
            "recall5"
        )
    )
    recall = per_query.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        (F.avg("recall5") >= 0.9).alias("recall_ge_090"),
    )
    # derived knobs recomputed via the same Spark-SQL expressions the
    # operator's Python derivation uses (q726 formula at the 0.9
    # anchor — identical because q726's max(threshold, 0.9) anchor is
    # 0.9 for any threshold <= 0.9)
    n = emb.agg(
        F.countDistinct("embedding").cast("long").alias("n_distinct")
    )
    cfg = n.select(
        "n_distinct",
        F.greatest(
            F.lit(3).cast("long"),
            F.ceil(
                F.log2(
                    F.greatest(F.col("n_distinct") / F.lit(64.0), F.lit(1.0))
                )
            ).cast("long"),
        ).alias("n_planes"),
    ).select(
        "n_distinct",
        "n_planes",
        F.greatest(
            F.lit(32).cast("long"),
            F.ceil(
                F.log(F.lit(0.0001))
                / F.log(
                    F.lit(1.0)
                    - F.pow(
                        F.expr("1.0 - ACOS(0.9) / PI()"), F.col("n_planes")
                    )
                )
            ).cast("long"),
        ).alias("n_tables"),
    )
    return cfg.crossJoin(recall)


# --- q732: PQ-Lloyd training certificate — the round-11 answer to
# "would training the quantizer help?" measured, not guessed, and both
# halves hash-gated in ONE row: recall@5 of the IVFADC path (k_sub=4,
# n_probe=4, 10-query sample vs the exact quantized-L2 top-5) with the
# round-10 SEED codebook next to the same pipeline after TWO rounds of
# the deterministic quantized Lloyd fold (operators/similarity.py
# ivfadc_topk train="lloyd": encode residual subvectors by scaled-
# BIGINT L2, recompute codewords as sign(Σq)·floor(|Σq|/n + 0.5)/1e6
# quantized means, empty codes keep their codeword). The oracle
# replays the identical fold as unrolled CTEs (the q414 fixed-
# iteration-EM pattern) and ALSO pins the fold's objective: the total
# quantized distortion of the seed codebook and after each round —
# three exact BIGINTs plus the monotone-descent flag Lloyd guarantees.
# Measured at sf0.01: recall 0.06 → 0.14 at fixed capacity, distortion
# 886,262,462 → 559,855,283 → 539,495,327; at sf0.1 recall is
# noise-bound (0.06 → 0.00 — 10 queries over 2000 isotropic vectors
# through a 4-codeword PQ is at chance either way, honestly recorded)
# but distortion still descends 3.73B → 2.28B, which is why the
# certificate leads with the objective: training pays where the
# system is CODEBOOK-bound (q727's flat probe curve), while
# coarse-centroid Lloyd moves q711's 0.64 by noise only (measured
# ±0.02) — the knob that works, pinned; the one that doesn't,
# recorded. Cost: each fold iteration is the same (n·n_sub·k_sub)-row
# quantized-distance aggregate the ADC scan itself runs; codebook
# stays a bounded broadcast at any n. ------------------------------------------
def _q732_lloyd_iter_sql(prev: str, t: int) -> str:
    return f"""
    fitd{t} AS MATERIALIZED (
        SELECT r.vec_id, r.s, cb.code,
               SUM(CAST(FLOOR((r.xr - cb.cbx) * (r.xr - cb.cbx)
                              * 1000000.0 + 0.5) AS BIGINT)) AS cd
        FROM rpos r JOIN {prev} cb ON cb.s = r.s AND cb.j = r.j
        GROUP BY r.vec_id, r.s, cb.code
    ),
    fita{t} AS MATERIALIZED (
        SELECT vec_id, s, code FROM (
            SELECT vec_id, s, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY cd, code) AS rn
            FROM fitd{t}
        ) WHERE rn = 1
    ),
    upd{t} AS MATERIALIZED (
        SELECT r.s, r.j, a.code,
               SIGN(SUM(CAST(SIGN(r.xr) * FLOOR(ABS(r.xr) * 1000000.0 + 0.5)
                             AS BIGINT)))
               * FLOOR(ABS(SUM(CAST(SIGN(r.xr) * FLOOR(ABS(r.xr) * 1000000.0
                                              + 0.5) AS BIGINT)))
                       / COUNT(*) + 0.5) / 1e6 AS cbx_new
        FROM rpos r JOIN fita{t} a ON a.vec_id = r.vec_id AND a.s = r.s
        GROUP BY r.s, r.j, a.code
    ),
    cb{t} AS MATERIALIZED (
        SELECT p.s, p.j, p.code, COALESCE(u.cbx_new, p.cbx) AS cbx
        FROM {prev} p
        LEFT JOIN upd{t} u ON u.s = p.s AND u.j = p.j AND u.code = p.code
    )"""


def _q732_adc_sql(cb: str, tag: str) -> str:
    return f"""
    cdist{tag} AS MATERIALIZED (
        SELECT r.vec_id, r.cell, r.s, cb.code,
               SUM(CAST(FLOOR((r.xr - cb.cbx) * (r.xr - cb.cbx)
                              * 1000000.0 + 0.5) AS BIGINT)) AS cd
        FROM rpos r JOIN {cb} cb ON cb.s = r.s AND cb.j = r.j
        GROUP BY r.vec_id, r.cell, r.s, cb.code
    ),
    codes{tag} AS MATERIALIZED (
        SELECT vec_id, cell, s, code FROM (
            SELECT vec_id, cell, s, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY cd, code) AS rn
            FROM cdist{tag}
        ) WHERE rn = 1
    ),
    lut{tag} AS MATERIALIZED (
        SELECT q.qid, q.cell, q.s, cb.code,
               SUM(CAST(FLOOR((q.xr - cb.cbx) * (q.xr - cb.cbx)
                              * 1000000.0 + 0.5) AS BIGINT)) AS dq
        FROM qres q JOIN {cb} cb ON cb.s = q.s AND cb.j = q.j
        GROUP BY q.qid, q.cell, q.s, cb.code
    ),
    adc{tag} AS MATERIALIZED (
        SELECT l.qid, c.vec_id AS bid, SUM(l.dq) AS dist
        FROM codes{tag} c
        JOIN lut{tag} l ON l.cell = c.cell AND l.s = c.s
                        AND l.code = c.code
        WHERE c.vec_id <> l.qid
        GROUP BY l.qid, c.vec_id
    ),
    adc5{tag} AS MATERIALIZED (
        SELECT qid, bid FROM (
            SELECT qid, bid,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY dist, bid) AS rn
            FROM adc{tag}
        ) WHERE rn <= 5
    ),
    perq{tag} AS (
        SELECT e.qid, CAST(COUNT(a.bid) AS DOUBLE) / COUNT(*) AS r
        FROM ex5 e LEFT JOIN adc5{tag} a ON a.qid = e.qid AND a.bid = e.bid
        GROUP BY e.qid
    )"""


@query(
    "q732_pq_lloyd_certificate",
    oracle=f"""
    WITH emb AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pos AS MATERIALIZED (
        SELECT vec_id, i - 1 AS p, v[i] AS x
        FROM emb, UNNEST(generate_series(1, len(v))) AS t(i)
    ),
    cent AS MATERIALIZED (
        SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 8
    ),
    cpos AS MATERIALIZED (
        SELECT cid, i - 1 AS p, cv[i] AS cx
        FROM cent, UNNEST(generate_series(1, len(cv))) AS t(i)
    ),
    adist AS MATERIALIZED (
        SELECT pos.vec_id, cpos.cid,
               SUM(CAST(FLOOR((pos.x - cpos.cx) * (pos.x - cpos.cx)
                              * 1000000.0 + 0.5) AS BIGINT)) AS d2
        FROM pos JOIN cpos USING (p)
        GROUP BY pos.vec_id, cpos.cid
    ),
    assign AS MATERIALIZED (
        SELECT vec_id, cid AS cell FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM adist
        ) WHERE rn = 1
    ),
    train AS MATERIALIZED (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS code
        FROM (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 4 OFFSET 8)
    ),
    rpos AS MATERIALIZED (
        SELECT pos.vec_id, a.cell,
               CAST(pos.p // 8 AS INT) AS s, pos.p % 8 AS j,
               pos.x - cp.cx AS xr
        FROM pos
        JOIN assign a ON a.vec_id = pos.vec_id
        JOIN cpos cp ON cp.cid = a.cell AND cp.p = pos.p
    ),
    cb0 AS MATERIALIZED (
        SELECT r.s, r.j, t.code, r.xr AS cbx
        FROM rpos r JOIN train t ON t.vec_id = r.vec_id
    ),
    {_q732_lloyd_iter_sql('cb0', 1)},
    {_q732_lloyd_iter_sql('cb1', 2)},
    probe AS MATERIALIZED (
        SELECT vec_id AS qid, cid AS cell FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM adist WHERE vec_id < 10
        ) WHERE rn <= 4
    ),
    qres AS MATERIALIZED (
        SELECT pos.vec_id AS qid, pr.cell,
               CAST(pos.p // 8 AS INT) AS s, pos.p % 8 AS j,
               pos.x - cp.cx AS xr
        FROM pos
        JOIN probe pr ON pr.qid = pos.vec_id
        JOIN cpos cp ON cp.cid = pr.cell AND cp.p = pos.p
    ),
    ex AS MATERIALIZED (
        SELECT qp.vec_id AS qid, bp.vec_id AS bid,
               SUM(CAST(FLOOR((qp.x - bp.x) * (qp.x - bp.x) * 1000000.0
                              + 0.5) AS BIGINT)) AS d2
        FROM pos qp JOIN pos bp ON bp.p = qp.p
        WHERE qp.vec_id < 10 AND bp.vec_id <> qp.vec_id
        GROUP BY qp.vec_id, bp.vec_id
    ),
    ex5 AS MATERIALIZED (
        SELECT qid, bid FROM (
            SELECT qid, bid,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY d2, bid) AS rn
            FROM ex
        ) WHERE rn <= 5
    ),
    {_q732_adc_sql('cb0', '_seed')},
    {_q732_adc_sql('cb2', '_lloyd')},
    fitd3 AS MATERIALIZED (
        SELECT r.vec_id, r.s, cb.code,
               SUM(CAST(FLOOR((r.xr - cb.cbx) * (r.xr - cb.cbx)
                              * 1000000.0 + 0.5) AS BIGINT)) AS cd
        FROM rpos r JOIN cb2 cb ON cb.s = r.s AND cb.j = r.j
        GROUP BY r.vec_id, r.s, cb.code
    ),
    dists AS (
        SELECT
            (SELECT CAST(SUM(mcd) AS BIGINT) FROM (
                SELECT MIN(cd) AS mcd FROM fitd1 GROUP BY vec_id, s)) AS d0,
            (SELECT CAST(SUM(mcd) AS BIGINT) FROM (
                SELECT MIN(cd) AS mcd FROM fitd2 GROUP BY vec_id, s)) AS d1,
            (SELECT CAST(SUM(mcd) AS BIGINT) FROM (
                SELECT MIN(cd) AS mcd FROM fitd3 GROUP BY vec_id, s)) AS d2
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM perq_seed) AS n_queries,
           (SELECT CAST(CAST(FLOOR(AVG(r) * 10000.0 + 0.5) AS BIGINT)
                        AS DOUBLE) / 1e4 FROM perq_seed) AS recall5_seed,
           (SELECT CAST(CAST(FLOOR(AVG(r) * 10000.0 + 0.5) AS BIGINT)
                        AS DOUBLE) / 1e4 FROM perq_lloyd) AS recall5_lloyd,
           dists.d0 AS distortion_seed,
           dists.d1 AS distortion_lloyd1,
           dists.d2 AS distortion_lloyd2,
           (dists.d2 <= dists.d1 AND dists.d1 <= dists.d0)
               AS lloyd_monotone
    FROM dists
    """,
)
def q732(spark, sf_dir):
    from pyspark.sql import Window

    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.similarity import ivfadc_topk
    from pandrs_spark.operators.util import fan_out, tracked_persist

    emb = T(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    # exact side: quantized per-dimension integer L2, the q725 shape
    pos = tracked_persist(
        fan_out(emb).select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "p", "x"
            ),
        )
    )
    qpos = pos.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "p", F.col("x").alias("qx")
    )
    ex = (
        pos.join(F.broadcast(qpos), "p")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("bid"))
        .agg(
            F.sum(
                quantize(
                    (F.col("qx") - F.col("x")) * (F.col("qx") - F.col("x")),
                    6,
                )
            )
            .cast("long")
            .alias("d2")
        )
    )
    w_ex = Window.partitionBy("qid").orderBy("d2", "bid")
    ex5 = (
        ex.withColumn("rn", F.row_number().over(w_ex))
        .filter(F.col("rn") <= 5)
        .select("qid", "bid")
    )

    def _recall(mode: str, iters: int):
        adc5 = ivfadc_topk(
            emb,
            queries,
            k=5,
            n_probe=4,
            k_sub=4,
            train=mode,
            train_iters=iters,
        ).select(
            F.col("id_q").alias("qid"), F.col("nn_id").alias("bid")
        )
        hits = ex5.join(
            adc5.withColumn("hit", F.lit(1)), ["qid", "bid"], "left"
        )
        per_q = hits.groupBy("qid").agg(
            (F.sum(F.coalesce("hit", F.lit(0))) / F.count(F.lit(1))).alias(
                "r"
            )
        )
        return per_q.agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            (F.floor(F.avg("r") * 1e4 + 0.5).cast("long") / 1e4).alias(
                f"recall5_{mode}"
            ),
        )

    seed = _recall("seed", 0)
    lloyd = _recall("lloyd", 2).select("recall5_lloyd")
    # the fold's OBJECTIVE, hash-gated: total quantized distortion of
    # the seed codebook and after each Lloyd round — Lloyd descends
    # this monotonically at ANY corpus size (recall on an isotropic
    # synthetic corpus is noise-bound at sf>=0.1, so the distortion
    # trajectory is the SF-robust half of the certificate)
    from pandrs_spark.operators.similarity import (
        ivf_residuals,
        pq_distortion,
        pq_lloyd_fold,
        pq_seed_codebook,
    )

    _, rpos = ivf_residuals(emb)
    cb0 = pq_seed_codebook(emb, rpos, k_sub=4)
    cb1 = pq_lloyd_fold(rpos, cb0, 1)
    cb2 = pq_lloyd_fold(rpos, cb1, 1)
    d0 = pq_distortion(rpos, cb0).withColumnRenamed(
        "distortion", "distortion_seed"
    )
    d1 = pq_distortion(rpos, cb1).withColumnRenamed(
        "distortion", "distortion_lloyd1"
    )
    d2 = pq_distortion(rpos, cb2).withColumnRenamed(
        "distortion", "distortion_lloyd2"
    )
    dists = (
        d0.crossJoin(d1)
        .crossJoin(d2)
        .withColumn(
            "lloyd_monotone",
            (F.col("distortion_lloyd2") <= F.col("distortion_lloyd1"))
            & (F.col("distortion_lloyd1") <= F.col("distortion_seed")),
        )
    )
    return seed.crossJoin(lloyd).crossJoin(dists)
