"""Deterministic sampling operators (reference src/stats/mod.rs sample
:310, ml train_test_split re-export src/lib.rs:219-244).

``rand(seed)`` is engine- and partitioning-specific; every sampler here
derives its coin flip from a content hash of the row key (md5 prefix),
so the SAME rows are selected on any engine, any partitioning, any
cluster size — reproducible experiment splits at 100 TB, and the
DuckDB oracle can replay the exact predicate. Selection is a map-side
filter: no shuffle, pushes below joins, and composes with column
pruning.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "export_shards",
    "dsir_importance_weights",
    "temperature_mixture_shares",
    "hash_bucket",
    "deterministic_sample",
    "stratified_sample",
    "train_test_split_hash",
    "weighted_sample",
    "resample_to_mixture",
]

_BUCKETS = 65536  # 4 hex chars of md5


def _threshold_hex(frac: float) -> str:
    """Largest 4-hex-char bucket kept for a sampling fraction."""
    k = int(round(frac * _BUCKETS))
    return format(max(k - 1, -1), "04x") if k > 0 else ""


def hash_bucket(*key_cols: str | Column) -> Column:
    """First 4 md5 hex chars of the concatenated key — a uniform
    16-bit bucket string, comparable in any engine."""
    cols = [F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in key_cols]
    return F.substring(F.md5(F.concat_ws("|", *cols)), 1, 4)


def deterministic_sample(df: DataFrame, key_cols: Sequence[str], frac: float) -> DataFrame:
    """Keep ~``frac`` of rows, chosen by content hash of the key."""
    thr = _threshold_hex(frac)
    if not thr:
        return df.limit(0)
    return df.filter(hash_bucket(*key_cols) <= thr)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: Mapping[str, float],
    key_cols: Sequence[str],
) -> DataFrame:
    """Per-stratum sampling rates (``df.stat.sampleBy`` semantics but
    reproducible across engines): strata not listed get rate 0. The
    class-rebalancing primitive for training-data pipelines — e.g.
    downsample the majority label, keep all of the rare one."""
    bucket = hash_bucket(*key_cols)
    cond = F.lit(False)
    for stratum, frac in rates.items():
        thr = _threshold_hex(frac)
        if thr:
            cond = cond | ((F.col(strata_col) == stratum) & (bucket <= thr))
    return df.filter(cond)


def train_test_split_hash(
    df: DataFrame, key_cols: Sequence[str], test_frac: float = 0.25
) -> tuple[DataFrame, DataFrame]:
    """Split by content hash of a stable key: the same entity always
    lands on the same side — across runs, engines, cluster sizes, and
    (unlike ``randomSplit``) across re-partitioning, which is what
    prevents train/test leakage when the pipeline is re-run on grown
    data. Hash the GROUPING entity (user id, document id), not the row
    id, to keep correlated rows on one side."""
    thr = _threshold_hex(test_frac)
    bucket = hash_bucket(*key_cols)
    test = df.filter(bucket <= thr) if thr else df.limit(0)
    train = df.filter(bucket > thr) if thr else df
    return train, test


def _uniform01(*key_cols: str | Column) -> Column:
    """Deterministic uniform draw in (0, 1) from a content hash: first
    6 md5 hex chars -> integer x in [0, 16^6), u = (x + 0.5) / 16^6.
    Same value on any engine/partitioning; never exactly 0 or 1."""
    cols = [
        F.col(c).cast("string") if isinstance(c, str) else c.cast("string")
        for c in key_cols
    ]
    x = F.conv(F.substring(F.md5(F.concat_ws("|", *cols)), 1, 6), 16, 10).cast(
        "double"
    )
    return (x + 0.5) / F.lit(float(16**6))


def weighted_sample(
    df: DataFrame,
    weight_col: str | Column,
    key_cols: Sequence[str],
    k: int,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES): each row draws a deterministic uniform u from its content
    hash and competes on the key u^(1/w); the k largest keys win —
    inclusion probability proportional to weight, reproducible across
    engines and cluster sizes.

    Distributed shape: the key is a map-side expression; global top-k
    compiles to TakeOrdered (per-partition heap + driver merge of k
    rows, no full sort) and the per-group form is one window shuffle.
    Keys are rounded to 12 decimals with an id tie-break so ranking
    never depends on sub-ULP libm differences between engines.
    Non-positive weights are excluded (pandas sample(weights<=0)
    semantics).
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = _uniform01(*key_cols)
    key = F.round(F.pow(u, 1.0 / w.cast("double")), 12)
    # filter BEFORE the key: over a LocalRelation the optimizer folds the
    # projection eagerly, so 1/w would raise on a zero weight under ANSI
    scored = df.filter(w.cast("double") > 0).withColumn("__es_key__", key)
    order = [F.col("__es_key__").desc()] + [F.col(c).asc() for c in key_cols]
    if group_by:
        win = Window.partitionBy(*group_by).orderBy(*order)
        return (
            scored.withColumn("__rn__", F.row_number().over(win))
            .filter(F.col("__rn__") <= k)
            .drop("__rn__", "__es_key__")
        )
    return scored.orderBy(*order).limit(k).drop("__es_key__")


def resample_to_mixture(
    df: DataFrame,
    domain_col: str,
    shares: Mapping[str, float],
    budget: int,
    key_cols: Sequence[str],
) -> DataFrame:
    """Resample a corpus toward a target domain mixture (the
    data-mixing step of training-data pipelines: e.g. 40% web, 30%
    code, 30% books out of a fixed token/doc budget).

    Per-domain keep rate = budget * share / n_domain, capped at 1, and
    quantized to an integer md5-bucket threshold with FLOOR so the
    exact same predicate replays on any engine. The domain counts join
    back as a broadcast dimension — no collect, the whole thing is one
    plan: count-aggregate, broadcast-join, map-side hash filter.
    Domains not in ``shares`` are dropped.
    """
    buckets = F.conv(hash_bucket(*key_cols), 16, 10).cast("long")
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n__"))
    share_map = F.create_map(
        *[F.lit(v) for kv in shares.items() for v in kv]
    )
    thr = F.least(
        F.lit(_BUCKETS),
        F.floor(
            F.lit(float(budget)) * share_map[F.col(domain_col)] / F.col("__n__") * _BUCKETS
        ),
    )
    return (
        df.join(F.broadcast(counts), domain_col)
        .filter(share_map[F.col(domain_col)].isNotNull())
        .filter(buckets < thr)
        .drop("__n__")
    )


def temperature_mixture_shares(
    df: DataFrame, domain_col: str, alpha: float = 0.5
) -> DataFrame:
    """Temperature-based mixture shares (the T5/mT5 sampling rule):
    share_d ∝ n_d^alpha. alpha=1 keeps natural proportions, alpha→0
    approaches uniform — the standard knob for up-weighting low-resource
    domains/languages in a training mixture. One tiny aggregate
    (domain-bounded output); feed the result into
    :func:`resample_to_mixture` to materialize the sample.

    Returns (domain, n_docs, share) with Σ share = 1.
    """
    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    powed = counts.withColumn(
        "__w__", F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
    )
    total = powed.agg(F.sum("__w__").alias("__t__"))
    return (
        powed.crossJoin(F.broadcast(total))
        .select(
            "domain",
            "n_docs",
            (F.col("__w__") / F.col("__t__")).alias("share"),
        )
    )


def dsir_importance_weights(
    docs,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    scale: int = 9,
):
    """DSIR-style importance weights for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): score every raw document by how target-like its
    hashed-unigram feature distribution is,

        log w(x) = sum_tokens [ ln p_target(b(w)) - ln p_raw(b(w)) ]

    where b(w) is an md5-derived feature bucket (engine-portable, so
    the DuckDB oracle replays it bit-for-bit) and both distributions
    are Laplace-smoothed bucket frequencies: p(b) = (c_b + 1)/(N + B).
    ``is_target`` marks the in-domain exemplar docs (e.g. a quality
    source or language); raw = the whole corpus. High log-weight docs
    are the ones importance resampling keeps.

    Shape for 100 TB: the feature table is FIXED-size (B buckets —
    the whole point of hashed DSIR), built by one partial-aggregated
    groupBy and broadcast; scoring is a map-side join + one per-doc
    aggregate of quantized log-ratios (scaled-BIGINT fold, partition-
    order independent). Returns (id_col, n_tokens, log_weight).
    """
    from pyspark import StorageLevel

    from pandrs_spark.functions.deterministic import dsum
    from pandrs_spark.operators.text import fan_out, tokens
    from pandrs_spark.operators.util import tracked_persist

    b = int(n_buckets)
    tok = tracked_persist(
        fan_out(docs)
        .select(
            F.col(id_col),
            is_target.alias("__t__"),
            F.explode(tokens(F.col(text_col))).alias("w"),
        )
        .filter(F.col("w") != "")
        .select(
            id_col,
            "__t__",
            F.pmod(
                F.conv(F.substring(F.md5(F.col("w")), 1, 6), 16, 10).cast(
                    "long"
                ),
                F.lit(b),
            ).alias("__b__"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    feat = tok.groupBy("__b__").agg(
        F.sum(F.when(F.col("__t__"), 1).otherwise(0)).alias("__ct__"),
        F.count(F.lit(1)).alias("__cr__"),
    )
    totals = tok.agg(
        F.sum(F.when(F.col("__t__"), 1).otherwise(0)).alias("__nt__"),
        F.count(F.lit(1)).alias("__nr__"),
    )
    # ln((ct+1)/(nt+B)) - ln((cr+1)/(nr+B)), spelled as ln(ct+1) -
    # ln(nt+B) - ln(cr+1) + ln(nr+B): each term is ln of an INTEGER, the
    # same engine-stable form q323 relies on, rather than ln of a ratio
    # whose division could round differently before the log.
    lr = (
        F.log(F.col("__ct__").cast("double") + 1.0)
        - F.log(F.col("__nt__").cast("double") + float(b))
        - F.log(F.col("__cr__").cast("double") + 1.0)
        + F.log(F.col("__nr__").cast("double") + float(b))
    )
    return (
        tok.join(F.broadcast(feat), "__b__")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            dsum(lr, scale).alias("log_weight"),
        )
    )


def export_shards(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic shard assignment + within-shard order — the write
    path of a training-data exporter (beyond-reference LLM-pipeline
    surface; the reference's nearest op is sampled export,
    src/stats/mod.rs:310). Every row gets:

    - ``fp``    — md5 of the row key (the export fingerprint);
    - ``shard`` — first-6-hex-chars of fp mod ``n_shards``: a CONTENT
      hash, so the assignment is identical on any engine, partitioning
      or cluster size (``rand``/``spark_partition_id`` are neither),
      and a SQL oracle can replay it;
    - ``pos``   — row_number within the shard ordered by (fp, id): the
      deterministic within-shard order that makes exports resumable
      and byte-identical across reruns.

    Physical shape: ONE hash shuffle on ``shard`` into ``n_shards``
    write tasks + a per-shard sort — exactly what
    ``df.repartition(n, shard).sortWithinPartitions(...)`` hands to a
    parquet/tfrecord writer at 100 TB. Per-shard volume is n/n_shards
    by md5 uniformity, so shard skew is bounded without salting.
    """
    fp = F.md5(F.col(id_col).cast("string"))
    hx = F.conv(F.substring(fp, 1, 6), 16, 10).cast("long")
    out = (
        df.withColumn("fp", fp)
        .withColumn("shard", (hx % F.lit(n_shards)).cast("int"))
    )
    w = Window.partitionBy("shard").orderBy("fp", id_col)
    out = out.withColumn("pos", F.row_number().over(w))
    return out.repartition(n_shards, "shard").sortWithinPartitions(
        "shard", "pos"
    )
