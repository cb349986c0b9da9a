"""Embedding similarity search over ``array<float>`` columns.

LLM-pipeline operator family (BASELINE.json north star). Brute-force
cosine top-k is the exactness baseline; the scale path buckets vectors
(IVF-style coarse quantization) so each query probes a small fraction
of the corpus.

Scale design: the dot product is a single ``aggregate(zip_with(...))``
expression — JVM-side, no Python, no shuffle. Top-k per query is
``row_number`` over a window (or global TakeOrdered), so a 1B-vector
corpus shards naturally by vector partition; the query side is
broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pandrs_spark.functions.deterministic import dsum
from pandrs_spark.operators.util import fan_out

__all__ = ["dot", "l2_norm", "cosine", "cosine_topk", "nearest_neighbors", "knn_topk_edges", "ivf_topk", "ivfadc_topk", "derive_lsh_config", "quantize_embeddings_int8", "semantic_dedup", "mmr_rerank", "embedding_decontaminate", "dimension_energy"]


def dot(a: Column, b: Column) -> Column:
    """Deterministic left-fold dot product of two numeric arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def quantize_embeddings_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Max-abs int8 quantization per vector — the standard 4x storage
    compression for 100 TB vector stores (float32 -> int8 + one scale).

    scale = max|x|; q_i = round(x_i * 127 / scale) (|q_i| <= 127 by
    construction); rms_err = sqrt(mean((x_i - q_i*scale/127)^2)) is the
    per-vector reconstruction certificate. Pure array HOFs over the
    doubled vector: map-only, zero shuffle, codegen'd end to end —
    exactly linear at any corpus size. Returns (id, scale, q, rms_err).
    """
    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(emb, lambda x: F.abs(x)))
    # zero-vector guard: scale=0 would make x*127/scale = 0/0 = NaN
    # (and diverge from the SQL oracle's NULL). Dividing by 1 instead
    # quantizes the all-zero vector to all-zero codes with zero error.
    safe = F.when(scale > 0.0, scale).otherwise(F.lit(1.0))
    q = F.transform(emb, lambda x: F.round(x * 127.0 / safe).cast("int"))
    rms = F.sqrt(
        F.aggregate(
            F.zip_with(
                emb,
                q,
                lambda x, qq: (x - qq * safe / 127.0)
                * (x - qq * safe / 127.0),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / F.size(emb)
    )
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        q.alias("q"),
        rms.alias("rms_err"),
    )


def cosine_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k of each corpus vector against a single
    broadcast query vector. Returns (vec_id, sim) with sim rounded to 4
    decimals; ordering ties broken by id for determinism."""
    corpus = fan_out(corpus)
    # .limit(1) makes the single-query-vector CONTRACT plan-visible:
    # the broadcast build is provably bounded (census-classifiable) and
    # a caller passing a data-sized frame can't silently explode the
    # crossJoin
    q = F.broadcast(
        query.select(_as_double(F.col(vec_col)).alias("__qv"))
        .limit(1)
        .withColumn("__nq", l2_norm(F.col("__qv")))
    )
    # hoisted-norm form of cosine(): identical arithmetic, the query
    # norm folds once instead of once per corpus row (round 11)
    sim = dot(_as_double(F.col(vec_col)), F.col("__qv")) / (
        l2_norm(_as_double(F.col(vec_col))) * F.col("__nq")
    )
    # Rank on the 6-decimal rounding with an id tie-break: engines may
    # disagree on the last ulp of a float fold, never on round(sim, 6).
    return (
        corpus.crossJoin(q)
        .select(F.col(id_col), sim.alias("__sim"))
        .orderBy(F.desc(F.round(F.col("__sim"), 6)), id_col)
        .limit(k)
        .select(id_col, F.round("__sim", 4).alias("sim"))
    )


def nearest_neighbors(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Exact 1-NN (self excluded) against the full corpus.

    With ``queries=None`` this is the all-pairs self-join — O(n²), the
    small-n calibration baseline only. Pass ``queries`` (a BOUNDED
    sample of the same schema — make it plan-provably bounded with a
    ``.limit``, the q88/q711 convention) and the join becomes
    broadcast-sample × corpus: linear in the corpus, exact for every
    sampled query, which is the shape that survives 100 TB. For the
    full-corpus 1B-vector regime, swap to the LSH/IVF bucket join
    (:func:`ivf_topk`) with the same downstream ranking."""
    from pyspark.sql import Window

    extra = [label_col] if label_col else []
    corpus = fan_out(corpus)
    src = corpus if queries is None else queries
    a = src.select(
        F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("va"), *extra
    ).withColumn("__na", l2_norm(F.col("va")))
    if queries is not None:
        a = F.broadcast(a)
    b = corpus.select(
        F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("vb")
    ).withColumn("__nb", l2_norm(F.col("vb")))
    # hoisted-norm cosine (round 11): dot/(na·nb) is the arithmetic
    # cosine() expands to, with both norm folds below the join — once
    # per vector instead of once per n² pair (A/B: 2.4× on 1M pairs)
    sim = dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))
    pairs = (
        a.join(b, F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", sim.alias("__sim"), *extra)
    )
    w = Window.partitionBy("id_a").orderBy(
        F.desc(F.round(F.col("__sim"), 6)), "id_b"
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("id_a").alias(id_col),
            F.col("id_b").alias("nn_id"),
            F.round("__sim", 4).alias("nn_sim"),
            *extra,
        )
    )


def _hyperplanes(n_tables: int, n_planes: int, dim: int, seed: int) -> list[list[list[float]]]:
    """Seeded random hyperplanes: n_tables independent banks of
    n_planes vectors. Deterministic across runs/cluster sizes. Bucket
    ids pack one bit per plane into an int32, so at most 31 planes."""
    import numpy as np

    if n_planes > 31:
        raise ValueError(f"n_planes={n_planes} > 31 wraps the int32 bucket id")

    rng = np.random.RandomState(seed)
    return rng.randn(n_tables, n_planes, dim).round(6).tolist()


def _bucket_array_expr(vec_ref: str, banks_ref: str) -> str:
    """The all-tables bucket expression over two SQL references (a
    vector column and an array<array<array<double>>> of banks): element
    t is the sign-pattern bucket id of the vector under bank t,
    bit_i = [vec · plane_i >= 0], bucket = Σ bit_i << i, as a left-fold
    dot (zip_with/aggregate). The JVM fold that tests/test_similarity.py
    certifies :func:`lsh_bucket_explode` against."""
    return (
        f"transform({banks_ref}, tb -> aggregate(sequence(0, size(tb) - 1), 0, "
        f"(acc, i) -> acc + IF(aggregate(zip_with({vec_ref}, tb[i], "
        f"(x, y) -> x * y), CAST(0.0 AS DOUBLE), (a2, x2) -> a2 + x2) "
        f">= CAST(0.0 AS DOUBLE), shiftleft(1, i), 0)))"
    )


def lsh_bucket_explode(
    df: DataFrame,
    vec_col: str,
    banks: list[list[list[float]]],
    *keep: str,
) -> DataFrame:
    """``(keep..., t, bucket)`` — one row per (vector, table), bucket =
    the sign-pattern id of the vector under bank t. Row set is identical
    to a ``posexplode`` of :func:`_bucket_array_expr` over the vector
    and the banks.

    Round 12 (guide §4.2, VERDICT r11 item 4): the bucket projection is
    a dense (n_vectors × n_tables·n_planes) matrix of 64-dim dot
    products — exactly the shape a vectorized native library computes
    orders of magnitude faster than the interpreted per-row array-HOF
    fold (round 11 measured the fold at 88 s of executor CPU for q177's
    132×5 bank at sf0.1). This is ``mapInArrow`` + one numpy matmul per
    batch, with a **sign-margin certificate** that keeps every bucket
    id bit-identical to the JVM fold:

    - Each elementwise product x_i·y_i rounds identically everywhere
      (IEEE754 double multiply); the two implementations differ only in
      SUMMATION ORDER (Spark: strict left-to-right fold; numpy: blocked
      pairwise, possibly FMA). Standard error analysis bounds any
      summation order's distance from the exact real dot by
      γ_d·Σ|x_i·y_i| with γ_d ≈ d·2⁻⁵³, so the two results differ by at
      most 2γ_d·Σ|x_i·y_i|.
    - The only consumer of the dot is its SIGN (bit = [dot ≥ 0]). For
      every (vector, plane) pair we therefore check
      |dot_np| > 4·d·2⁻⁵³·(|x|·|y|) — twice the two-sided bound, the
      slack covering the abs-product matrix's own rounding — and where
      the margin holds, sign(dot_np) provably equals sign(dot_fold).
    - Pairs that FAIL the margin (a dot within ~1e-14 relative of
      zero, or any non-finite intermediate) are recomputed with the
      exact left-to-right Python fold — bit-identical to the JVM fold
      by IEEE754 — so the certificate never rejects, it only routes
      the rare near-tie off the fast path.
    - Batches with NULL/ragged/NaN vectors take a per-row Python fold
      that replicates the zip_with/aggregate NULL semantics of the
      expression form (any null product ⇒ null dot ⇒ bit 0; NaN dot ⇒
      bit 1, Spark's nan-safe ``>=``).

    Net: bucket ids are bit-identical to the fold expression for every
    input (pinned by tests/test_similarity.py's cross-form equality on
    random + adversarial vectors), while the per-row cost drops from
    n_tables·n_planes interpreted HOF folds to one BLAS matmul row.
    """
    import numpy as np
    from pyspark.sql.types import IntegerType, StructField, StructType

    n_tables = len(banks)
    n_planes = len(banks[0]) if n_tables else 0
    if n_planes > 31:
        raise ValueError(f"n_planes={n_planes} > 31 wraps the int32 bucket id")
    dim = len(banks[0][0]) if n_planes else 0
    sel = df.select(*keep, vec_col)
    out_schema = StructType(
        [sel.schema[c] for c in keep]
        + [
            StructField("t", IntegerType(), False),
            StructField("bucket", IntegerType(), False),
        ]
    )
    bmat = np.asarray(banks, dtype=np.float64).reshape(
        n_tables * n_planes, dim
    )
    banks_py = [[list(map(float, p)) for p in tb] for tb in banks]
    keep_n = len(keep)
    # two-sided summation-order bound (see docstring); NumPy abs/matmul
    # of the bound matrix adds its own rounding, covered by the 2× slack
    ulp_factor = 4.0 * dim * 2.0**-53

    def _fold_exact(vec, plane):
        # the JVM fold, literally: acc = ((0 + p_0) + p_1) + ... with
        # p_i = vec[i]*plane[i] — Python floats are IEEE754 doubles, so
        # this is bit-identical to aggregate(zip_with(...)) on the JVM
        acc = 0.0
        for x, y in zip(vec, plane):
            acc = acc + x * y
        return acc

    def _fold_nullsafe(vec, plane):
        # zip_with pads the shorter side with NULL; any null product
        # nulls the running sum permanently — so: None iff vec is NULL,
        # shorter/longer than the plane, or has a null element
        if vec is None or len(vec) != len(plane):
            return None
        acc = 0.0
        for x, y in zip(vec, plane):
            if x is None:
                return None
            acc = acc + x * y
        return acc

    def _bucket_batches(it):
        import math

        import numpy as np
        import pyarrow as pa

        pow2 = 1 << np.arange(n_planes, dtype=np.int64)
        abs_b = np.abs(bmat)
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            lv = batch.column(keep_n)
            buckets = None
            if lv.null_count == 0:
                values = lv.flatten()
                if values.null_count == 0 and len(values) == n * dim:
                    offs = lv.offsets.to_numpy(zero_copy_only=False)
                    if bool(np.all(np.diff(offs) == dim)):
                        v = values.to_numpy(
                            zero_copy_only=False
                        ).reshape(n, dim)
                        d = v @ bmat.T  # (n, n_tables*n_planes)
                        bound = (np.abs(v) @ abs_b.T) * ulp_factor
                        # margin certificate: entries NOT provably
                        # sign-stable under summation reorder (incl.
                        # NaN/inf, where the comparison is False) get
                        # the exact fold
                        risky = ~(np.abs(d) > bound)
                        if risky.any():
                            ri, rj = np.nonzero(risky)
                            for i, j in zip(ri.tolist(), rj.tolist()):
                                d[i, j] = _fold_exact(
                                    v[i].tolist(), bmat[j].tolist()
                                )
                        bits = (d >= 0.0) | np.isnan(d)  # NaN ≥ 0 on JVM
                        buckets = (
                            bits.reshape(n, n_tables, n_planes).astype(
                                np.int64
                            )
                            @ pow2
                        ).astype(np.int32)
            if buckets is None:
                # NULL/ragged/null-element vectors: per-row fold with
                # the expression form's zip_with/aggregate semantics
                buckets = np.zeros((n, n_tables), dtype=np.int32)
                for i, vec in enumerate(lv.to_pylist()):
                    for t in range(n_tables):
                        b = 0
                        for p in range(n_planes):
                            dd = _fold_nullsafe(vec, banks_py[t][p])
                            if dd is not None and (
                                math.isnan(dd) or dd >= 0.0
                            ):
                                b += 1 << p
                        buckets[i, t] = b
            idx = pa.array(np.repeat(np.arange(n, dtype=np.int64), n_tables))
            t_tile = np.tile(np.arange(n_tables, dtype=np.int32), n)
            out_cols = [
                batch.column(k).take(idx) for k in range(keep_n)
            ] + [pa.array(t_tile), pa.array(buckets.reshape(-1))]
            yield pa.RecordBatch.from_arrays(
                out_cols, names=[*batch.schema.names[:keep_n], "t", "bucket"]
            )

    return sel.mapInArrow(_bucket_batches, out_schema)


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_tables: int | None = None,
    n_planes: int | None = None,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate nearest neighbors via multi-table hyperplane LSH —
    the scale path next to brute-force :func:`nearest_neighbors`.

    Each vector gets one bucket id per table; candidates are pairs
    sharing a bucket in ANY table (union over tables, dedup), then exact
    cosine ranks candidates per query. Cost: `n_tables` equi-joins on
    bucket keys instead of an O(n·m) cross join — at 1B corpus vectors
    the bucket join shuffles by bucket id and each task only compares
    within-bucket, while recall is tuned with (n_tables, n_planes).

    **Self-scaling config (round 11)**: when ``n_tables`` /
    ``n_planes`` are None (the default) they are DERIVED from a
    first-pass distinct-vector count via :func:`derive_lsh_config` at
    the sim ≥ 0.9 near-neighbor anchor — the identical derivation
    embedding_near_dup_pairs adopted in round 10 (q726 pins the
    formula in the hash gate; q731_ann_lsh_derived_config certifies
    THIS operator's derived knobs plus measured recall). The pinned
    (6, 10) the operator shipped with before round 11 was the same
    fixed-partitioning defect q177 had: depth 10 = 1024 buckets/table
    regardless of corpus size, so a 500-vector corpus scattered to
    ~0.5 occupancy (recall paid for by 6 tables of noise) while a 1B
    corpus would pack ~1M vectors per bucket (candidate volume
    quadratic). The derived depth tracks log2(n/64), holding bucket
    occupancy — and per-task compare cost — flat at any SF. Callers
    certifying a specific operating point pass both knobs explicitly
    (q88's calibration gate pins (16, 3) and is unchanged).
    """
    from pyspark.sql import Window

    if n_tables is None or n_planes is None:
        n_distinct = int(
            corpus.agg(
                F.countDistinct(F.col(vec_col)).cast("long").alias("n")
            ).first()[0]
            or 0
        )
        d_planes, d_tables = derive_lsh_config(max(1, n_distinct), 0.9)
        n_planes = d_planes if n_planes is None else n_planes
        n_tables = d_tables if n_tables is None else n_tables
    banks = _hyperplanes(n_tables, n_planes, dim, seed)
    # Norms are computed once per vector here and reused per candidate
    # pair below (sim = dot / (nq * nc) — the identical arithmetic
    # cosine() produces, relocated so the two l2 folds run |corpus| +
    # |queries| times instead of once per candidate pair; guide §1.2
    # "per-task work" after the candidate shape is right).
    c = fan_out(corpus).select(
        F.col(id_col).alias("id_c"), _as_double(F.col(vec_col)).alias("vc")
    ).withColumn("nc", l2_norm(F.col("vc")))
    q = queries.select(
        F.col(id_col).alias("id_q"), _as_double(F.col(vec_col)).alias("vq")
    ).withColumn("nq", l2_norm(F.col("vq")))
    # one posexplode emits (table, bucket) per bank; candidates come
    # from ONE equi-join on the composite key (round 11 — replaces the
    # per-table join-union loop, whose plan grew linearly with
    # n_tables and scheduled n_tables shuffles; same semantics: union
    # over tables + dedup == join on (t, bucket) + distinct). This is
    # the embedding_near_dup_pairs candidate shape. lsh_bucket_explode
    # computes all n_tables bucket ids in one pass with the banks
    # attached as a one-row broadcast (the py4j-per-node build cost,
    # then the giant-literal analysis cost, was the q88/q177 wall-time
    # floor).
    cb = lsh_bucket_explode(c, "vc", banks, "id_c")
    qb = lsh_bucket_explode(q, "vq", banks, "id_q")
    cand = (
        qb.join(cb, ["t", "bucket"])
        .select("id_q", "id_c")
        .distinct()
        .filter(F.col("id_q") != F.col("id_c"))
    )
    scored = (
        cand.join(q, "id_q")
        .join(c, "id_c")
        .select(
            "id_q",
            "id_c",
            (dot(F.col("vq"), F.col("vc")) / (F.col("nq") * F.col("nc"))).alias(
                "__sim"
            ),
        )
    )
    w = Window.partitionBy("id_q").orderBy(F.desc(F.round("__sim", 6)), "id_c")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id_q", "rank", F.col("id_c").alias("nn_id"), F.round("__sim", 4).alias("sim"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_rank: bool = False,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors — the second
    scale path for §beyond similarity search, complementing the LSH
    variant (ann_lsh_topk):

    1. coarse quantizer: ``n_centroids`` centroid vectors (here the
       lowest-id corpus vectors, a deterministic choice so the whole
       pipeline is SQL-mirrorable; production would plug in seeded
       kmeans_fit_predict centers without changing the dataflow);
    2. build: every corpus vector joins its nearest centroid → inverted
       lists, ONE |corpus|×|centroids| broadcast cross join;
    3. probe: each query scores only the lists of its ``n_probe``
       nearest centroids — a bucket equi-join on centroid id replaces
       the O(|corpus|·|queries|) cross join; raising n_centroids keeps
       each list task-sized as the corpus grows, n_probe buys recall.

    Returns (id_q, nn_id, sim) — top-k per query, self-matches
    excluded, ties broken on round(sim, 6) then id.
    """
    # Per-vector L2 norms are hoisted out of the per-pair cosine
    # (round 11, same change as ann_lsh_topk): dot/(na·nb) is the
    # identical arithmetic cosine() expands to, but the two norm folds
    # run once per VECTOR below the join instead of once per candidate
    # PAIR (array HOFs evaluate interpreted — the candidate scan was
    # 3× the flops it needed; q570 stage CPU 62 s before).
    cent = F.broadcast(
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("cid"), _as_double(F.col(vec_col)).alias("cv")
        )
        .withColumn("__ncv", l2_norm(F.col("cv")))
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("id_c"), _as_double(F.col(vec_col)).alias("vc")
    ).withColumn("__nc", l2_norm(F.col("vc")))
    q = queries.select(
        F.col(id_col).alias("id_q"), _as_double(F.col(vec_col)).alias("vq")
    ).withColumn("__nq", l2_norm(F.col("vq")))
    w_assign = Window.partitionBy("id_c").orderBy(
        F.desc(F.round("__sim", 6)), "cid"
    )
    assign = (
        c.crossJoin(cent)
        .select(
            "id_c",
            "cid",
            (dot(F.col("vc"), F.col("cv")) / (F.col("__nc") * F.col("__ncv"))).alias("__sim"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("id_c", "cid")
    )
    w_probe = Window.partitionBy("id_q").orderBy(
        F.desc(F.round("__sim", 6)), "cid"
    )
    probe = (
        q.crossJoin(cent)
        .select(
            "id_q",
            "cid",
            (dot(F.col("vq"), F.col("cv")) / (F.col("__nq") * F.col("__ncv"))).alias("__sim"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= n_probe)
        .select("id_q", "cid")
    )
    cand = (
        probe.join(assign, "cid")
        .filter(F.col("id_q") != F.col("id_c"))
        .select("id_q", "id_c")
        .distinct()
    )
    scored = (
        cand.join(q, "id_q")
        .join(c, "id_c")
        .select(
            "id_q",
            "id_c",
            (dot(F.col("vq"), F.col("vc")) / (F.col("__nq") * F.col("__nc"))).alias("__sim"),
        )
    )
    w_top = Window.partitionBy("id_q").orderBy(F.desc(F.round("__sim", 6)), "id_c")
    ranked = scored.withColumn("rank", F.row_number().over(w_top)).filter(
        F.col("rank") <= k
    )
    cols = ["id_q", F.col("id_c").alias("nn_id"), F.round("__sim", 4).alias("sim")]
    if with_rank:
        cols.insert(1, "rank")
    return ranked.select(*cols)


def derive_lsh_config(
    n_distinct: int,
    threshold: float,
    recall_target: float = 0.9999,
    anchor: float | None = None,
) -> tuple[int, int]:
    """The deterministic (n_planes, n_tables) derivation behind
    :func:`embedding_near_dup_pairs`'s self-scaling defaults (round
    10) — a pure function of the distinct-vector count and threshold so
    a SQL oracle can recompute the exact values per SF
    (q726_lsh_depth_derivation pins this formula in the hash gate):

    - ``n_planes = max(3, ceil(log2(n_distinct / 64)))`` — buckets per
      table 2^planes track n/64, holding per-table bucket occupancy
      (and with it the candidate volume per task) ~flat as n grows;
    - ``n_tables = max(32, ceil(ln(1 - recall_target) /
      ln(1 - p_anchor^planes)))`` with ``p_anchor = 1 -
      acos(max(threshold, 0.9))/π`` — the OR-construction table count
      holding ``recall_target`` at the true near-dup regime
      (sim ≥ 0.9), which keeps tables O(10) as depth grows instead of
      the n^ρ blow-up that certifying a low exploratory threshold
      would cost.

    ``anchor`` (round 11): callers that DO need certified recall at a
    low threshold pass it explicitly (e.g. ``anchor=threshold``) and
    consciously pay the table growth — q177 certifies its exploratory
    0.4 threshold against an exact all-pairs oracle this way
    (anchor 0.4, recall_target 1-1e-6 → 48 tables at 500 distinct,
    132 at 2000). None keeps the default max(threshold, 0.9) near-dup
    anchor.
    """
    import math

    n_planes = max(3, math.ceil(math.log2(max(1.0, n_distinct / 64))))
    anchor = (
        min(1.0, max(threshold, 0.9))
        if anchor is None
        else min(1.0, max(-1.0, anchor))
    )
    p_anchor = 1.0 - math.acos(anchor) / math.pi
    miss = 1.0 - p_anchor**n_planes
    t_req = (
        math.ceil(math.log(1.0 - recall_target) / math.log(miss))
        if 0.0 < miss < 1.0
        else 1
    )
    return n_planes, max(32, t_req)


def derive_grid_config(
    n_distinct: int,
    target_occupancy: int = 64,
    branching: float = 3.0,
    floor_dims: int = 4,
    scale: float = 4.0,
    max_dims: int = 64,
) -> tuple[int, float]:
    """The deterministic (grid_dims, grid_scale) derivation behind
    :func:`semantic_dedup`'s self-scaling coarse quantizer (round 11 —
    the q177/derive_lsh_config treatment applied to the LAST fixed-
    partitioning knob in the registry; q729_grid_depth_derivation pins
    this formula in the hash gate):

    - ``grid_dims = max(floor_dims, ceil(ln(n_distinct /
      target_occupancy) / ln(branching)))``, capped at the embedding
      dimensionality. Each grid dimension multiplies the number of
      OCCUPIED cells by ~``branching`` (isotropic unit vectors in
      d=64 have per-component std 1/√64 = 0.125, so v[i]·scale at
      scale 4 spans ≈(-1.5, 1.5) → 3-4 occupied floor cells per
      axis), so cells ≈ branching^dims tracks n/target_occupancy and
      the expected in-cell pair term stays ~n·target_occupancy/2
      (LINEAR in n) instead of the n²/cells a pinned 4-dim grid
      costs at fixed cell count.
    - ``grid_scale`` stays fixed: scale sets per-axis resolution
      (recall — finer cells split true near-dup pairs across
      boundaries), dims set cell COUNT; growing dims is the knob that
      adds cells without changing the per-axis split probability.

    n_distinct ≤ 4096 reproduces the pre-round-11 calibration config
    (4, 4.0) exactly, so the sf0.01 (500 vectors) and sf0.1 (2000)
    exact-oracle hash gates are byte-identical; 20k → 6 dims, 1M → 9,
    1e9 → 16. Pure double libm arithmetic (ln/division/ceil) mirrored
    verbatim by the DuckDB oracle: GREATEST(floor, CEIL(LN(GREATEST(
    n/occ, 1.0)) / LN(branching))).
    """
    import math

    dims = max(
        floor_dims,
        math.ceil(
            math.log(max(1.0, n_distinct / float(target_occupancy)))
            / math.log(branching)
        ),
    )
    return min(dims, max_dims), scale


def ivf_residuals(
    corpus: DataFrame,
    n_centroids: int = 8,
    n_sub: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[Column, DataFrame]:
    """IVF build stage shared by :func:`ivfadc_topk` and the PQ
    training certificates (round 11 — extracted so q732 can audit the
    fold without duplicating the pipeline): assign every corpus vector
    to its nearest coarse cell by quantized squared L2 (lowest-id
    centroids, bit-identical across engines) and emit residuals in
    subspace coordinates.

    Returns ``(cpos, rpos)``: the broadcastable centroid-coordinate
    frame (cid, p, cx) and the residual frame
    (id_c, cell, s, j, xr) with s the subspace index and j the
    within-subspace coordinate.
    """
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    if dim % n_sub:
        raise ValueError("ivf_residuals: dim must be a multiple of n_sub")
    sub_dim = dim // n_sub
    cent = corpus.orderBy(id_col).limit(n_centroids)
    cpos = F.broadcast(
        cent.select(
            F.col(id_col).alias("cid"),
            F.posexplode(_as_double(F.col(vec_col))).alias("p", "cx"),
        )
    )
    pos = tracked_persist(
        fan_out(corpus).select(
            F.col(id_col).alias("id_c"),
            F.posexplode(_as_double(F.col(vec_col))).alias("p", "x"),
        )
    )
    dq2 = quantize((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx")), 6)
    adist = (
        pos.join(cpos, "p")
        .groupBy("id_c", "cid")
        .agg(F.sum(dq2).cast("long").alias("d2"))
    )
    w_assign = Window.partitionBy("id_c").orderBy("d2", "cid")
    assign = tracked_persist(
        adist.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("id_c", F.col("cid").alias("cell"))
    )
    rpos = (
        pos.join(assign, "id_c")
        .join(cpos.withColumnRenamed("cid", "cell"), ["cell", "p"])
        .select(
            "id_c",
            "cell",
            F.floor(F.col("p") / F.lit(sub_dim)).cast("int").alias("s"),
            (F.col("p") % F.lit(sub_dim)).alias("j"),
            (F.col("x") - F.col("cx")).alias("xr"),
        )
    )
    return cpos, rpos


def pq_seed_codebook(
    corpus: DataFrame,
    rpos: DataFrame,
    n_centroids: int = 8,
    k_sub: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Round-10 seed PQ codebook: per subspace, the residual
    subvectors of the ``k_sub`` lowest NON-centroid ids (centroid
    residuals are ~0 — useless codewords — hence the offset;
    deterministic: ORDER BY id LIMIT k_sub OFFSET n_centroids).
    Returns (s, j, code, cbx)."""
    w_id = Window.orderBy(id_col)
    train_ids = (
        corpus.select(id_col)
        .orderBy(id_col)
        .limit(n_centroids + k_sub)
        .withColumn("__rn", F.row_number().over(w_id))
        .filter(F.col("__rn") > n_centroids)
        .select(
            F.col(id_col).alias("id_c"),
            (F.col("__rn") - n_centroids).alias("code"),
        )
    )
    return rpos.join(train_ids, "id_c").select(
        "s", "j", "code", F.col("xr").alias("cbx")
    )


def pq_lloyd_fold(
    rpos: DataFrame, cb_df: DataFrame, train_iters: int = 2
) -> DataFrame:
    """Deterministic quantized Lloyd fold per subspace (round 11,
    VERDICT r10 #6 — the q414 fixed-iteration-EM pattern applied to PQ
    codebook training): each iteration encodes every residual
    subvector against the current codebook (scaled-BIGINT squared L2,
    tie → lowest code) and recomputes each codeword as the quantized
    mean of its members — sign(Σq) · floor(|Σq|/n + 0.5) / 10^6 over
    scale-6 quantized coordinates — so the update is order-independent
    and bit-identical across engines/partitionings; empty codes keep
    their previous codeword. Returns the trained (s, j, code, cbx).
    q732_pq_lloyd_certificate replays this exact fold as unrolled SQL
    CTEs and certifies the monotone distortion decrease in-gate."""
    from pandrs_spark.functions.deterministic import quantize

    cq2 = quantize(
        (F.col("xr") - F.col("cbx")) * (F.col("xr") - F.col("cbx")), 6
    )
    w_fit = Window.partitionBy("id_c", "s").orderBy("cd", "code")
    for _ in range(train_iters):
        fit_d = (
            rpos.join(F.broadcast(cb_df), ["s", "j"])
            .groupBy("id_c", "s", "code")
            .agg(F.sum(cq2).cast("long").alias("cd"))
        )
        fit_asg = (
            fit_d.withColumn("rn", F.row_number().over(w_fit))
            .filter(F.col("rn") == 1)
            .select("id_c", "s", "code")
        )
        upd = (
            rpos.join(fit_asg, ["id_c", "s"])
            .groupBy("s", "code", "j")
            .agg(
                F.sum(quantize(F.col("xr"), 6)).cast("long").alias("sq"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .select(
                "s",
                "j",
                "code",
                (
                    F.signum(F.col("sq"))
                    * F.floor(F.abs(F.col("sq")) / F.col("n") + 0.5)
                    / F.lit(1e6)
                ).alias("cbx_new"),
            )
        )
        cb_df = (
            cb_df.withColumnRenamed("cbx", "cbx_prev")
            .join(upd, ["s", "j", "code"], "left")
            .select(
                "s",
                "j",
                "code",
                F.coalesce("cbx_new", "cbx_prev").alias("cbx"),
            )
        )
        # The next iteration (and any distortion audit) references the
        # codebook in several subplans; persist the (n_sub × k_sub ×
        # sub_dim)-row frame so each round's broadcast builds read the
        # computed codebook instead of replaying the whole training
        # chain (round 11 — q732 scheduled 206 jobs re-deriving it).
        from pandrs_spark.operators.util import tracked_persist

        cb_df = tracked_persist(cb_df)
    return cb_df


def pq_distortion(rpos: DataFrame, cb_df: DataFrame) -> DataFrame:
    """Total PQ quantization distortion of a codebook over the
    residual frame: Σ over (vector, subspace) of the MINIMUM quantized
    squared L2 to any codeword — the exact objective the Lloyd fold
    descends, as a single BIGINT both engines compute identically.
    Returns a 1-row (distortion) frame."""
    from pandrs_spark.functions.deterministic import quantize

    cq2 = quantize(
        (F.col("xr") - F.col("cbx")) * (F.col("xr") - F.col("cbx")), 6
    )
    per = (
        rpos.join(F.broadcast(cb_df), ["s", "j"])
        .groupBy("id_c", "s", "code")
        .agg(F.sum(cq2).cast("long").alias("cd"))
        .groupBy("id_c", "s")
        .agg(F.min("cd").alias("mcd"))
    )
    return per.agg(F.sum("mcd").cast("long").alias("distortion"))


def ivfadc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    n_sub: int = 8,
    k_sub: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_rank: bool = False,
    self_exclude: bool = True,
    train: str = "seed",
    train_iters: int = 2,
) -> DataFrame:
    """IVFADC — inverted file + asymmetric distance computation over
    PRODUCT-QUANTIZED RESIDUALS, Jégou/Douze/Schmid 2011's actual
    search path (public; the reference's nearest surface is the ANN
    re-exports at src/lib.rs:219-244). The third, fully-composed scale
    path beside LSH (ann_lsh_topk) and plain IVF (ivf_topk); q712/q713
    built the codebook and ADC scorer as query-local patterns — this
    is the first-class operator.

    1. **Coarse quantizer**: ``n_centroids`` lowest-id corpus vectors
       (deterministic, SQL-mirrorable — production plugs in seeded
       KMeans centers without changing the dataflow). Every vector is
       assigned to its nearest cell by QUANTIZED squared L2 (scaled-
       BIGINT per-dimension sums, so assignment is bit-identical
       across engines/partitionings).
    2. **Residual PQ codebook**: residuals r = v − centroid are split
       into ``n_sub`` subvectors; per subspace the codebook is the
       residual subvectors of the ``k_sub`` lowest NON-centroid ids
       (centroid residuals are ~0 — useless codewords — hence the
       offset; deterministic: ORDER BY id LIMIT k_sub OFFSET
       n_centroids). Every vector encodes to n_sub one-byte-class
       codes by per-subspace argmin (tie → lowest code id).
    3. **ADC search**: a query probes its ``n_probe`` nearest cells;
       PER PROBED CELL it computes its own residual and a
       (n_sub × k_sub) lookup table of quantized subvector→codeword
       distances; every db vector in the probed cells is scored by
       summing n_sub table lookups over its CODES — one equi-join on
       (cell, subspace, code) against the n×n_sub code table, a linear
       scan of codes, never raw floats.

    Distances are squared L2 (the classic IVFADC metric — rankings
    match cosine on unit-normalized embeddings); ties break on
    (distance asc, id asc). Returns (id_q, nn_id[, rank]).

    Scale: code table is n×n_sub rows of integers; the scoring
    equi-join's key space is n_centroids·n_sub·k_sub, so with the
    n_centroids ≈ √n growth rule both the per-cell list length AND the
    join parallelism scale with the corpus (AQE skew-join splits any
    hot cell). No data-sized broadcast: the only broadcast frames are
    the n_centroids-row quantizer and the (k_sub·dim)-entry codebook.
    Recall vs the exact ranking is certified in-gate by
    q725_ivfadc_recall_certificate (the q711/q713 pattern).

    ``self_exclude`` (ADVICE r10): the id_c != id_q filter assumes
    queries and corpus share an id space where equal id means "the
    same vector asked about itself" (the certificate queries pass the
    corpus as its own query set). When the query frame is a SEPARATE
    id space whose ids coincidentally overlap corpus ids, that filter
    would silently drop legitimate matches — pass
    ``self_exclude=False`` there.

    ``train`` (round 11, VERDICT r10 #6): how the PQ codebooks are
    fitted. ``"seed"`` keeps the round-10 behavior (codewords = the
    k_sub lowest non-centroid residuals — zero training cost, fully
    deterministic). ``"lloyd"`` runs ``train_iters`` rounds of a
    DETERMINISTIC QUANTIZED LLOYD FOLD per subspace (the q414
    fixed-iteration-EM pattern): encode every residual subvector
    against the current codebook (quantized scaled-BIGINT squared L2,
    tie → lowest code), then recompute each codeword as the quantized
    mean of its members — sign(Σq) · floor(|Σq|/n + 0.5) / 10^6 over
    the scale-6 quantized coordinates, so the update is
    order-independent and bit-identical across engines/partitionings;
    empty codes keep their previous codeword. Measured at sf0.01
    (k_sub=4, 2 iters): recall@5 vs the exact ranking rises 0.06 →
    0.14 (cosine-exact variant 0.04 → 0.11) and the fold's objective —
    total quantized distortion — drops 886M → 539M (39%; sf0.1:
    3.73B → 2.28B), monotone per iteration as Lloyd guarantees. The
    capacity-bound codebook (q727's flat probe curve) is exactly where
    training pays, while coarse-CENTROID training buys nothing on
    isotropic data (measured: Lloyd on the 8 cells moves q711's 0.64
    by ±0.02 = noise, as q711's docstring predicted). Certified
    in-gate by q732_pq_lloyd_certificate, whose oracle replays the
    identical fold as unrolled SQL CTEs and pins the recall values,
    the three distortion integers, and the monotone flag. Cost per
    iteration: one (n·n_sub·k_sub)-row quantized-distance aggregate +
    one (n_sub·k_sub·sub_dim)-row mean — the same join shapes as the
    ADC scan itself; the codebook stays a bounded broadcast at any
    corpus size.
    """
    from pandrs_spark.functions.deterministic import quantize
    from pandrs_spark.operators.util import tracked_persist

    if dim % n_sub:
        raise ValueError("ivfadc_topk: dim must be a multiple of n_sub")
    sub_dim = dim // n_sub

    def _pos(df, idc):
        return df.select(
            F.col(id_col).alias(idc),
            F.posexplode(_as_double(F.col(vec_col))).alias("p", "x"),
        )

    cpos, rpos = ivf_residuals(
        corpus,
        n_centroids=n_centroids,
        n_sub=n_sub,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
    )
    # The residual frame fans into the seed codebook, every Lloyd
    # iteration (2 joins each) and the encode pass — up to ~6
    # references per call on the trained path. Persist it here (n·dim
    # narrow rows; spills at scale) so consumers scan computed
    # residuals instead of replaying the pos ⋈ assign ⋈ centroid
    # pipeline per reference (round 11, guide §2.4/§5; measured at
    # sf0.1: q727 5.66 → 4.66 s, q570 2.51 → 1.96 s). Left
    # UNpersisted inside ivf_residuals itself: q732's certificate
    # chain builds three residual frames and the extra cache fills
    # measured SLOWER there (12.2 → 13.9 s) — the recompute is a
    # fused scan of the already-cached pos table.
    rpos = tracked_persist(rpos)
    dq2 = quantize((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx")), 6)
    cb_df = pq_seed_codebook(
        corpus, rpos, n_centroids=n_centroids, k_sub=k_sub, id_col=id_col
    )
    if train == "lloyd":
        cb_df = pq_lloyd_fold(rpos, cb_df, train_iters)
    elif train != "seed":
        raise ValueError(f"ivfadc_topk: unknown train mode {train!r}")
    cq2 = quantize(
        (F.col("xr") - F.col("cbx")) * (F.col("xr") - F.col("cbx")), 6
    )
    cb = F.broadcast(cb_df)
    cdist = (
        rpos.join(cb, ["s", "j"])
        .groupBy("id_c", "cell", "s", "code")
        .agg(F.sum(cq2).cast("long").alias("cd"))
    )
    w_code = Window.partitionBy("id_c", "s").orderBy("cd", "code")
    codes = (
        cdist.withColumn("rn", F.row_number().over(w_code))
        .filter(F.col("rn") == 1)
        .select("id_c", "cell", "s", "code")
    )
    # query side: probe lists + per-(query, probed-cell) LUT
    qpos = tracked_persist(_pos(queries, "id_q"))
    qdist = (
        qpos.join(cpos, "p")
        .groupBy("id_q", "cid")
        .agg(F.sum(dq2).cast("long").alias("d2"))
    )
    w_probe = Window.partitionBy("id_q").orderBy("d2", "cid")
    probe = (
        qdist.withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= n_probe)
        .select("id_q", F.col("cid").alias("cell"))
    )
    qres = (
        qpos.join(probe, "id_q")
        .join(cpos.withColumnRenamed("cid", "cell"), ["cell", "p"])
        .select(
            "id_q",
            "cell",
            F.floor(F.col("p") / F.lit(sub_dim)).cast("int").alias("s"),
            (F.col("p") % F.lit(sub_dim)).alias("j"),
            (F.col("x") - F.col("cx")).alias("xr"),
        )
    )
    lut = (
        qres.join(cb, ["s", "j"])
        .groupBy("id_q", "cell", "s", "code")
        .agg(F.sum(cq2).cast("long").alias("dq"))
    )
    adc = (
        codes.join(lut, ["cell", "s", "code"])
        .filter(
            (F.col("id_c") != F.col("id_q"))
            if self_exclude
            else F.lit(True)
        )
        .groupBy("id_q", "id_c")
        .agg(F.sum("dq").cast("long").alias("dist"))
    )
    w_top = Window.partitionBy("id_q").orderBy("dist", "id_c")
    ranked = adc.withColumn("rank", F.row_number().over(w_top)).filter(
        F.col("rank") <= k
    )
    cols = ["id_q", F.col("id_c").alias("nn_id")]
    if with_rank:
        cols.insert(1, "rank")
    return ranked.select(*cols)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_tables: int | None = None,
    n_planes: int | None = None,
    dim: int = 64,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    recall_anchor: float | None = None,
    recall_target: float = 0.9999,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection — the semantic member
    of the dedup family (exact / MinHash-LSH / SimHash / n-gram Jaccard
    live in operators/dedup.py; reference dedup surface
    src/dataframe/apply.rs drop_duplicates + the LLM-pipeline
    north star in BASELINE.json).

    Shape is LSH-bucket-join, NOT all-pairs, in three stages:

    1. **Exact-identical collapse.** Vectors are fingerprinted and
       deduplicated BEFORE hashing: LSH runs on distinct vectors only,
       and member pairs are expanded back afterwards. Identical copies
       hash to identical buckets, so this changes nothing about recall
       — it only removes the quadratic in-bucket blow-up that exact
       duplicates cause (measured: a 10×-duplicated corpus paid ~100×
       in candidate pairs; real crawl corpora are exactly that shape).
    2. **Bucketed candidate generation.** Each distinct vector emits
       one (table, bucket) key per table (posexplode), candidates come
       from ONE equi-join on that composite key. High-similarity pairs
       collide with probability 1-(1-p^planes)^tables, p = 1-angle/pi;
       ``n_planes`` is the corpus-size knob — buckets per table is
       2^planes, so planes must grow ~log2(n_distinct) to keep
       per-bucket occupancy (and the n²/2^planes candidate volume)
       bounded, with ``n_tables`` buying recall back.

       **Self-scaling config (round 10)**: when ``n_planes`` /
       ``n_tables`` are None (the default) they are DERIVED from a
       first-pass distinct-vector count — deterministic, so the output
       is stable across partitionings and re-runs at any SF:

       - ``n_planes = max(3, ceil(log2(n_distinct / 64)))`` — target
         per-table bucket occupancy ~64, so candidate volume per table
         is ~64·n instead of the n²/8 a pinned depth-3 costs (the
         round-9 sf1u measurement: 240 s at 20k unique vectors with
         planes=3, 44.8 s at planes=10).
       - ``n_tables = max(32, tables holding recall 0.9999 at
         sim >= max(threshold, 0.9))`` — the OR-construction bound
         ceil(ln(1e-4) / ln(1 - p_anchor^planes)). Anchoring the
         recall contract at the true near-duplicate regime (0.9+)
         rather than a low exploratory threshold is what keeps tables
         ~O(10) as depth grows; in the borderline band
         [threshold, 0.9) recall decays as 1-(1-p^planes)^tables —
         callers needing certified borderline recall at scale pass
         explicit knobs (total work then grows as n^(1+rho),
         rho = ln(1/p_thresh)/ln 2, the classic LSH exponent).

       At small corpora the derivation reproduces the calibration
       config exactly — n_distinct <= 512 gives (planes=3, tables=32),
       where collision probability at sim=0.40 is 0.9999, so the
       sf0.01 exact-oracle hash gate is byte-identical. The extra
       ``count()`` runs on the already-persisted distinct-vector frame
       (one map + one shuffle-less agg — negligible next to hashing).
    3. **Exact verify.** One cosine per distinct candidate pair,
       against ``threshold`` on the 4-decimal rounding (engine-
       reproducible accept/reject).

    Returns (id_a, id_b, sim) with id_a < id_b, including the
    within-cluster pairs of exact duplicates (cosine 1).
    """
    from pandrs_spark.operators.util import tracked_persist

    corpus = fan_out(corpus)
    keyed = tracked_persist(
        corpus.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
        ).withColumn("__fp__", F.md5(F.col("v").cast("string")))
    )
    reps = tracked_persist(
        keyed.groupBy("__fp__").agg(F.first("v").alias("v"))
    )
    if n_planes is None or n_tables is None:
        # recall_anchor / recall_target (round 11): callers certifying
        # recall at a LOW threshold (q177's exact all-pairs oracle)
        # pass anchor=threshold and a tight target, consciously paying
        # the table growth; the default anchors at max(threshold, 0.9)
        d_planes, d_tables = derive_lsh_config(
            max(1, reps.count()),
            threshold,
            recall_target=recall_target,
            anchor=recall_anchor,
        )
        n_planes = d_planes if n_planes is None else n_planes
        n_tables = d_tables if n_tables is None else n_tables
        # ADVICE r10 (medium): the derivation anchors its 0.9999
        # recall contract at sim >= max(threshold, 0.9); when the
        # caller's threshold sits BELOW the anchor, recall at the
        # threshold itself decays as 1-(1-p^planes)^tables and large
        # corpora (deep planes) can silently collapse it (~0.41 at
        # threshold 0.4 with 20k distinct vectors). Make that regime
        # audible: compute the OR-construction collision probability
        # at the caller's actual threshold and warn with the number
        # when it falls below the anchor target, so default callers
        # get a runtime signal instead of a docstring caveat.
        import math
        import warnings

        p_thresh = 1.0 - math.acos(min(1.0, max(-1.0, threshold))) / math.pi
        recall_at_thresh = 1.0 - (1.0 - p_thresh**n_planes) ** n_tables
        if recall_at_thresh < recall_target:
            warnings.warn(
                "embedding_near_dup_pairs: derived LSH config "
                f"(n_planes={n_planes}, n_tables={n_tables}) holds "
                f"recall {recall_target} at the anchor regime, but "
                f"expected recall at threshold={threshold} is only "
                f"{recall_at_thresh:.4f}. Pass recall_anchor="
                "threshold (or explicit n_planes/n_tables) to certify "
                "borderline-band recall (cost grows as n^(1+rho)).",
                stacklevel=2,
            )
    banks = _hyperplanes(n_tables, n_planes, dim, seed)
    # The bucket projection (n_tables × n_planes interpreted HOF dots
    # per row) is the most expensive per-row map work in the operator;
    # persist it so the self-join's two sides (and a broadcast build,
    # when the planner picks one) read the computed buckets instead of
    # re-evaluating the projection per reference (round 11, measured at
    # sf0.1/(5,132): the two candidate stages burned 1,593 s of
    # executor CPU, dominated by re-evaluated bucket/cosine folds).
    rb = tracked_persist(lsh_bucket_explode(reps, "v", banks, "__fp__"))
    cand = (
        rb.alias("a")
        .join(rb.alias("b"), ["t", "bucket"])
        .filter(F.col("a.__fp__") < F.col("b.__fp__"))
        .select(
            F.col("a.__fp__").alias("fa"), F.col("b.__fp__").alias("fb")
        )
        .distinct()
    )
    # Per-vector norms computed once on the (persisted) distinct-vector
    # frame; the per-pair verify is then a single dot fold —
    # dot/(na*nb) is the identical arithmetic cosine() expands to,
    # relocated from once-per-pair to once-per-vector.
    nv = l2_norm(F.col("v"))
    va = reps.select(
        F.col("__fp__").alias("fa"), F.col("v").alias("va"), nv.alias("na")
    )
    vb = reps.select(
        F.col("__fp__").alias("fb"), F.col("v").alias("vb"), nv.alias("nb")
    )
    verified = (
        cand.join(va, "fa")
        .join(vb, "fb")
        .select(
            "fa",
            "fb",
            # threshold applies to the 4-decimal rounding so the
            # accept/reject decision is engine-reproducible at the
            # boundary (same policy as the oracle SQL)
            F.round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                4,
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
    membership = keyed.select("__fp__", "id")
    cross = (
        verified.join(
            membership.select(
                F.col("__fp__").alias("fa"), F.col("id").alias("ia")
            ),
            "fa",
        )
        .join(
            membership.select(
                F.col("__fp__").alias("fb"), F.col("id").alias("ib")
            ),
            "fb",
        )
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "sim",
        )
    )
    within = (
        membership.alias("x")
        .join(membership.alias("y"), "__fp__")
        .filter(F.col("x.id") < F.col("y.id"))
        .join(reps, "__fp__")
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.round(cosine(F.col("v"), F.col("v")), 4).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
    return cross.union(within)


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    grid_dims: int | None = None,
    grid_scale: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    carry: tuple = (),
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding
    space coarsely, then inside each cluster keep one representative
    per near-duplicate group (drop every vector that has a LOWER-id
    neighbor with cosine >= threshold in its cluster — a deterministic,
    engine-reproducible pruning rule, unlike "keep closest to
    centroid", which ties on float noise).

    The coarse quantizer is a deterministic grid over the first
    ``grid_dims`` embedding dimensions (floor(v[i] * grid_scale)) so
    the DuckDB oracle can replay it exactly.

    **Self-scaling config (round 11)**: when ``grid_dims`` /
    ``grid_scale`` are None (the default) they are DERIVED from a
    first-pass distinct-vector count via :func:`derive_grid_config` —
    grid_dims = max(4, ceil(log_3(n_distinct / 64))), grid_scale
    fixed at 4.0. Cell count then tracks n/64 (each added dimension
    multiplies occupied cells by the ~3-4 per-axis branching of
    isotropic unit vectors), holding expected in-cell occupancy —
    and with it the quadratic within-cluster pair term — ~flat as the
    corpus grows, instead of the n²/cells blow-up the pre-round-11
    PINNED 4-dim grid cost (the same defect class q177's LSH depth
    had before round 10). n_distinct ≤ 4096 reproduces (4, 4.0), so
    the sf0.01/sf0.1 hash gates are byte-identical. The derivation is
    certified in-gate by q729_grid_depth_derivation (both engines
    recompute the formula from COUNT(DISTINCT)) and the resulting
    cell census by q730_semantic_dedup_cell_census. The extra
    countDistinct is one map-side-partial aggregate over the corpus —
    negligible next to the within-cluster join it bounds. Callers
    pinning explicit knobs (the pre-round-11 behavior) pass both.

    Downstream shape is unchanged at any dims: map-side cluster
    assignment, within-cluster self-join (cost bounded by cluster
    size, never all-pairs), one distinct + one left anti-style join.
    Returns (id_col, *carry, cluster, kept).
    """
    if grid_dims is None or grid_scale is None:
        n_distinct = int(
            corpus.agg(
                F.countDistinct(F.col(vec_col)).cast("long").alias("n")
            ).first()[0]
            or 0
        )
        d_dims, d_scale = derive_grid_config(max(1, n_distinct))
        grid_dims = d_dims if grid_dims is None else grid_dims
        grid_scale = d_scale if grid_scale is None else grid_scale
    v = fan_out(corpus).select(
        F.col(id_col), *carry, _as_double(F.col(vec_col)).alias("__v__")
    )
    bucket = F.concat_ws(
        "|",
        *[
            F.floor(F.try_element_at(F.col("__v__"), F.lit(i + 1)) * grid_scale)
            .cast("long")
            .cast("string")
            for i in range(grid_dims)
        ],
    )
    vb = v.withColumn("__bucket__", bucket)
    a = vb.select(
        F.col(id_col).alias("id_a"),
        F.col("__bucket__").alias("__b__"),
        F.col("__v__").alias("va"),
    ).withColumn("__na", l2_norm(F.col("va")))
    b = vb.select(
        F.col(id_col).alias("id_b"),
        F.col("__bucket__").alias("__b__"),
        F.col("__v__").alias("vb"),
    ).withColumn("__nb", l2_norm(F.col("vb")))
    dropped = (
        a.join(b, "__b__")
        .filter(F.col("id_a") < F.col("id_b"))
        # hoisted-norm cosine (round 11): identical arithmetic, norm
        # folds run per vector below the join, not per bucket pair
        .filter(
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("__na") * F.col("__nb")),
                4,
            )
            >= threshold
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__drop__", F.lit(1))
    )
    return vb.join(dropped, id_col, "left").select(
        F.col(id_col),
        *carry,
        F.col("__bucket__").alias("cluster"),
        F.col("__drop__").isNull().alias("kept"),
    )


def mmr_rerank(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 3,
    top_n: int = 8,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: greedily pick ``k`` docs
    maximizing lam*sim(query,d) - (1-lam)*max_{s in S} sim(d,s) — the
    standard diversity re-rank between retrieval and a RAG context
    window.

    Scale shape: the EXPENSIVE part (scoring the corpus against the
    query and taking top_n) is fully distributed; the greedy itself is
    inherently sequential but only ever touches the top_n candidate
    set (top_n^2 pairwise sims), so it runs driver-side on a bounded
    collect — the same bounded-sample pattern as the AutoML
    leaderboard. All sims round to 6 decimals BEFORE the greedy so any
    engine (the q284 DuckDB oracle unrolls the same k steps as CTEs)
    picks identical docs.

    Returns (rank, doc id, mmr score rounded to 6).
    """
    import pandas as pd

    def _r6(x: float) -> float:
        # ROUND half away from zero, mirroring SQL ROUND (Python's
        # built-in round is banker's and would diverge on .5 ties).
        import math

        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x) / 1e6

    qv = query.select(_as_double(F.col(vec_col)).alias("__qv")).withColumn(
        "__nq", l2_norm(F.col("__qv"))
    )
    # hoisted query norm (round 11): identical arithmetic to cosine()
    sim_q = dot(_as_double(F.col(vec_col)), F.col("__qv")) / (
        l2_norm(_as_double(F.col(vec_col))) * F.col("__nq")
    )
    cand = (
        corpus.crossJoin(F.broadcast(qv))
        .select(
            F.col(id_col).alias("id"),
            F.round(sim_q, 6).alias("s"),
            _as_double(F.col(vec_col)).alias("v"),
        )
        .orderBy(F.desc("s"), "id")
        .limit(top_n)
    )
    a = cand.select(F.col("id").alias("ia"), F.col("v").alias("va"))
    b = cand.select(F.col("id").alias("ib"), F.col("v").alias("vb"))
    pair = (
        a.join(F.broadcast(b), F.col("ia") != F.col("ib"))
        .select(
            "ia", "ib",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("ps"),
        )
    )
    cand_rows = {r["id"]: r["s"] for r in cand.select("id", "s").collect()}
    psim = {(r["ia"], r["ib"]): r["ps"] for r in pair.collect()}
    selected: list[tuple[int, int, float]] = []
    chosen: list[int] = []
    remaining = dict(cand_rows)
    for rank in range(1, k + 1):
        best = None
        for d in sorted(remaining):
            div = max((psim[(d, s)] for s in chosen), default=0.0)
            score = _r6(lam * remaining[d] - (1 - lam) * div)
            if best is None or score > best[2] or (
                score == best[2] and d < best[1]
            ):
                best = (rank, d, score)
        if best is None:
            break
        selected.append(best)
        chosen.append(best[1])
        del remaining[best[1]]
    spark = corpus.sparkSession
    pdf = pd.DataFrame(selected, columns=["rank", "doc_id", "mmr_score"])
    return spark.createDataFrame(pdf, "rank int, doc_id long, mmr_score double")


def embedding_decontaminate(
    train: DataFrame,
    test: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space benchmark decontamination — flag every training
    vector whose cosine similarity to ANY held-out evaluation vector
    reaches ``threshold`` (the semantic-leakage sibling of the n-gram
    :func:`~pandrs_spark.operators.text.decontaminate`: paraphrased or
    reformatted benchmark items that share no 8-gram still land next to
    the original in embedding space).

    Shape for 100 TB: the TEST side is the benchmark suite — thousands
    of vectors against billions of training rows — so it is broadcast
    whole and the scan stays map-only: per training row, one fused
    max-over-test-vectors expression (broadcast nested-loop, no
    shuffle, no candidate blow-up; the train side never moves). This is
    the exact-answer design, not an ANN shortcut: decontamination is a
    recall-critical gate where a missed near-dup poisons an eval, so
    the full test sweep per row is the point. The comparison runs on
    round(sim, 6) — engines can disagree on the last ulp of a float
    fold, never on the 6th decimal — so the flag is engine-portable.

    Returns (id_col, max_sim, contaminated) — one row per training
    vector, max_sim rounded to 6.
    """
    # hoisted norms (round 11): each test vector's norm folds once into
    # the broadcast struct and each training row's norm once into a
    # column — the fused max-over-tests sweep then does one dot per
    # (row, test) instead of dot + two norm folds (identical floats:
    # dot/(na·nb) is the arithmetic cosine() expands to)
    tv = test.agg(
        F.collect_list(
            F.struct(
                F.col(id_col),
                _as_double(F.col(vec_col)).alias("v"),
                l2_norm(_as_double(F.col(vec_col))).alias("n"),
            )
        ).alias("__tests__")
    )
    train = fan_out(train).withColumn(
        "__ntr", l2_norm(_as_double(F.col(vec_col)))
    )
    sims = F.transform(
        F.col("__tests__"),
        lambda t: F.round(
            dot(_as_double(F.col(vec_col)), t["v"]) / (F.col("__ntr") * t["n"]),
            6,
        ),
    )
    return (
        train.crossJoin(F.broadcast(tv))
        .select(
            id_col,
            F.array_max(sims).alias("max_sim"),
        )
        .withColumn("contaminated", F.col("max_sim") >= F.lit(float(threshold)))
    )


def dimension_energy(
    df: DataFrame,
    vec_col: str = "embedding",
    q_scale: int = 12,
) -> DataFrame:
    """Per-dimension variance ("energy") profile of an embedding
    column — the certificate behind Matryoshka-style truncation and
    PCA-free dimensionality budgeting (the reference's nearest surface
    is dimension reduction, src/ml/dimension/mod.rs; truncation
    analysis per Kusupati et al. 2022, public). One output row per dimension:

    - ``var_pop`` — population variance from quantized exact long sums
      (partition-order invariant);
    - ``energy_share`` / ``cum_share`` — this dim's share of total
      variance and the running share when dims are ranked by variance
      (exact integer prefix sums over the quantized variances, so the
      ranking and ratios are deterministic);
    - ``var_rank`` — 1 = highest-variance dimension.

    Scale: one explode (fan_out-widened) + one groupBy(dim) shuffle;
    the per-dim frame is bounded by the embedding dimensionality, so
    the ranking window is fixed-cardinality — never data-sized.
    """
    from pandrs_spark.functions.deterministic import quantize

    dims = fan_out(df).select(F.posexplode(vec_col).alias("pos", "vf")).select(
        (F.col("pos") + 1).alias("dim"), F.col("vf").cast("double").alias("v")
    )
    stats = dims.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("v", 6).alias("sx"),
        dsum(F.col("v") * F.col("v"), 6).alias("sxx"),
    )
    stats = stats.withColumn(
        "var_pop", F.expr("(sxx - sx * sx / n) / n")
    ).withColumn("qv", quantize("var_pop", q_scale))
    w_rank = Window.orderBy(F.desc("qv"), "dim")
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    return stats.select(
        "dim",
        "n",
        "var_pop",
        (F.col("qv") / F.sum("qv").over(w_all)).alias("energy_share"),
        (F.sum("qv").over(w_cum) / F.sum("qv").over(w_all)).alias("cum_share"),
        F.row_number().over(w_rank).alias("var_rank"),
    )


def knn_topk_edges(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    method: str,
    n_centroids: int = 8,
    n_probe: int = 2,
    n_sub: int = 8,
    k_sub: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Directed k-NN graph edges (id_a → id_b, rank 1..k by cosine,
    ties broken by (round(sim, 6) DESC, id_b)). Feeds the reciprocity /
    hubness diagnostics (mutual-edge rate, in-degree concentration)
    that flag when an ANN index will misbehave.

    ``method`` picks the candidate-generation plan (round 9 — this used
    to be exact-only, the last data-sized all-pairs family in the
    registry). It is keyword-REQUIRED with no default: the two plans
    differ in SEMANTICS (exact vs approximate edges), not just speed,
    so a caller must opt into the approximation explicitly rather than
    inherit it silently.

    - ``"ivf"`` (the scale path): candidates come from
      :func:`ivf_topk`'s inverted-file bucket equi-join — the only
      cross join touches the ``n_centroids``-row coarse quantizer, so
      no data-sized broadcast build exists in the plan. Fully
      deterministic (lowest-id centroids, round(sim,6)/id tie-breaks),
      so a SQL oracle can mirror the candidate set bit-for-bit; recall
      vs the exact graph is certified in-gate by
      q711_ivf_knn_recall_certificate (the q88 pattern). At 1B vectors
      n_centroids grows ~sqrt(n) to keep each inverted list task-sized.
    - ``"ivfadc"``: coarse cells + product-quantized residual codes +
      asymmetric-distance scan (:func:`ivfadc_topk`) — the compressed-
      domain scale path (codes, not raw floats, are scanned). Ranks by
      approximate squared L2; recall certified in-gate by
      q725_ivfadc_recall_certificate.
    - ``"exact"``: the O(n²) self-join calibration baseline with the
      same ranking tail — kept for recall certificates and small-n
      calibration only, never the scale path.
    """
    from pyspark.sql import Window

    if method == "ivf":
        edges = ivf_topk(
            corpus,
            corpus,
            k=k,
            n_centroids=n_centroids,
            n_probe=n_probe,
            id_col=id_col,
            vec_col=vec_col,
            with_rank=True,
        )
        return edges.select(
            F.col("id_q").alias("id_a"),
            F.col("nn_id").alias("id_b"),
            F.col("rank"),
        )
    if method == "ivfadc":
        # the compressed-domain scale path: coarse cells + PQ residual
        # codes + ADC scan (ranks by approximate squared L2 — matches
        # the cosine ranking on unit-normalized embeddings); recall
        # certified in-gate by q725_ivfadc_recall_certificate
        edges = ivfadc_topk(
            corpus,
            corpus,
            k=k,
            n_centroids=n_centroids,
            n_probe=n_probe,
            n_sub=n_sub,
            k_sub=k_sub,
            dim=dim,
            id_col=id_col,
            vec_col=vec_col,
            with_rank=True,
        )
        return edges.select(
            F.col("id_q").alias("id_a"),
            F.col("nn_id").alias("id_b"),
            F.col("rank"),
        )
    if method != "exact":
        raise ValueError(f"knn_topk_edges: unknown method {method!r}")
    corpus = fan_out(corpus)
    a = corpus.select(
        F.col(id_col).alias("id_a"), _as_double(F.col(vec_col)).alias("va")
    ).withColumn("__na", l2_norm(F.col("va")))
    b = corpus.select(
        F.col(id_col).alias("id_b"), _as_double(F.col(vec_col)).alias("vb")
    ).withColumn("__nb", l2_norm(F.col("vb")))
    # hoisted-norm cosine (round 11): norm folds per vector, not per
    # O(n²) pair — identical arithmetic
    pairs = a.join(b, F.col("id_a") != F.col("id_b")).select(
        "id_a",
        "id_b",
        (dot(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb"))).alias("__sim"),
    )
    w = Window.partitionBy("id_a").orderBy(
        F.desc(F.round(F.col("__sim"), 6)), "id_b"
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("id_a", "id_b", F.col("__rn").alias("rank"))
    )
