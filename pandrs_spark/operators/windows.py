"""Moving-window and row-offset operators (SURVEY.md §2.5).

pandas-style rolling/expanding/EWM plus shift/diff/pct_change/cum* and
rank methods, expressed as Spark window functions so they distribute:
partitioned by group keys, ordered by an explicit order column
(pandas' implicit row order does not exist at scale — callers must
say what "previous row" means). Two shapes are not window
expressions: EWM is recursive, so it is a pandas fold per series
(``operators.util._per_series_fold``); the global prefix operators
(``global_*``) share one ordered scan over per-partition offsets
(:func:`_partition_offset_scan`), so no window runs without a partition.

Reference parity: src/series/window.rs (Rolling :12, Expanding :25,
EWM :35), src/dataframe/enhanced_window.rs, compat shift/diff/
pct_change/cumsum (functions.rs:328,531,514,280).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from pandrs_spark.operators.util import _field_ddl, _per_series_fold, tracked_persist

__all__ = [
    "ordered_window",
    "global_prefix_sum",
    "global_prefix_counts",
    "global_prefix_max",
    "global_row_number",
    "ntile_from_rank",
    "rolling",
    "rolling_corr",
    "expanding",
    "shift",
    "diff",
    "pct_change",
    "cumsum",
    "cumcount",
    "cumprod",
    "cummax",
    "cummin",
    "rank_method",
    "ewm_mean",
    "ewm_stat",
]


def ordered_window(
    order_by: str | Sequence[str],
    partition_by: str | Sequence[str] | None = None,
) -> WindowSpec:
    ob = [order_by] if isinstance(order_by, str) else list(order_by)
    if partition_by:
        pb = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        return Window.partitionBy(*pb).orderBy(*ob)
    return Window.orderBy(*ob)


def rolling(
    col: Column | str,
    window: int,
    w: WindowSpec,
    agg: str = "avg",
    min_periods: int | None = None,
    center: bool = False,
    closed: str = "right",
    q: float | None = None,
) -> Column:
    """Rolling aggregate over ``window`` rows (pandas Rolling parity,
    src/series/window.rs:12,111-140; median/quantile per
    src/dataframe/enhanced_window.rs:249-294).

    min_periods (pandas): NULL until at least that many non-null
    observations are in the frame. ``center=True`` shifts the frame so
    the label row sits in the middle. ``closed`` ('right'|'left'|
    'both'|'neither') trims the frame boundary rows the way pandas'
    WindowClosed does (src/series/window.rs:49). ``agg='quantile'``
    takes the quantile in ``q`` (linear interpolation — matches
    pandas/DuckDB quantile_cont).
    """
    if center:
        # pandas: label at the window center; offset = (n-1)//2, so the
        # frame is [i-n+1+offset, i+offset] (even windows lean left).
        offset = (window - 1) // 2
        lo, hi = -(window - 1) + offset, offset
    else:
        lo, hi = -(window - 1), 0
    if closed == "left":
        lo, hi = lo - 1, hi - 1
    elif closed == "both":
        lo = lo - 1
    elif closed == "neither":
        hi = hi - 1
    frame = w.rowsBetween(lo, hi)
    c = F.col(col) if isinstance(col, str) else col
    if agg in ("median", "quantile"):
        # F.median rejects window frames; exact interpolated percentile
        # accepts them and percentile(0.5) == median.
        if agg == "median":
            q = 0.5
        elif q is None:
            raise ValueError("rolling(agg='quantile') requires q=")
        out = F.percentile(c, F.lit(float(q))).over(frame)
    else:
        fn = {
            "avg": F.avg,
            "mean": F.avg,
            "sum": F.sum,
            "min": F.min,
            "max": F.max,
            "count": F.count,
            "stddev": F.stddev_samp,
            "var": F.var_samp,
        }[agg]
        out = fn(c).over(frame)
    mp = window if min_periods is None else min_periods
    if mp > 1:
        out = F.when(F.count(c).over(frame) >= mp, out)
    return out


def expanding(col: Column | str, w: WindowSpec, agg: str = "avg", min_periods: int = 1) -> Column:
    frame = w.rowsBetween(Window.unboundedPreceding, 0)
    c = F.col(col) if isinstance(col, str) else col
    fn = {
        "avg": F.avg,
        "mean": F.avg,
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "count": F.count,
        "stddev": F.stddev_samp,
        "var": F.var_samp,
    }[agg]
    out = fn(c).over(frame)
    if min_periods > 1:
        out = F.when(F.count(c).over(frame) >= min_periods, out)
    return out


def shift(col: Column | str, n: int, w: WindowSpec) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.lag(c, n).over(w) if n >= 0 else F.lead(c, -n).over(w)


def diff(col: Column | str, w: WindowSpec, n: int = 1) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c - F.lag(c, n).over(w)


def pct_change(col: Column | str, w: WindowSpec, n: int = 1) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    prev = F.lag(c, n).over(w)
    return (c - prev) / prev


def cumsum(col: Column | str, w: WindowSpec) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c).over(w.rowsBetween(Window.unboundedPreceding, 0))


def cumcount(w: WindowSpec) -> Column:
    return F.row_number().over(w) - 1


def cumprod(col: Column | str, w: WindowSpec) -> Column:
    """Running product (compat :280-327) via the PRODUCT aggregate over
    an expanding frame — stays in codegen, handles zeros/negatives
    exactly (unlike exp-sum-log)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.product(c).over(w.rowsBetween(Window.unboundedPreceding, 0))


def cummax(col: Column | str, w: WindowSpec) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.max(c).over(w.rowsBetween(Window.unboundedPreceding, 0))


def cummin(col: Column | str, w: WindowSpec) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.min(c).over(w.rowsBetween(Window.unboundedPreceding, 0))


def rank_method(
    col: Column | str,
    w_part: Sequence[str] | None,
    method: str = "average",
    ascending: bool = True,
    tiebreak: Sequence[str] = (),
) -> Column:
    """pandas rank() with method=average|min|max|first|dense.

    average/min/max derive from min-rank plus the per-value duplicate
    count — no extra shuffle beyond the ranking window itself.
    ``tiebreak`` columns make method='first' deterministic (pandas uses
    physical row order, which doesn't exist distributed).
    Reference: RankMethod, compat functions.rs:193.
    """
    c = F.col(col) if isinstance(col, str) else col
    ordered = c.asc() if ascending else c.desc()
    base = Window.partitionBy(*w_part) if w_part else Window.partitionBy()
    if method == "first":
        # Tie-break applies only here: it emulates pandas' physical row
        # order; for the tie-aware methods it would split tied groups.
        return F.row_number().over(base.orderBy(ordered, *tiebreak))
    w = base.orderBy(ordered)
    if method == "dense":
        return F.dense_rank().over(w)
    min_r = F.rank().over(w)
    if method == "min":
        return min_r
    cnt = F.count(F.lit(1)).over(
        Window.partitionBy(*(list(w_part) if w_part else []), c)
    )
    if method == "max":
        return min_r + cnt - 1
    # average
    return (min_r + (min_r + cnt - 1)) / 2


def ewm_mean(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[str],
    partition_by: Sequence[str],
    alpha: float,
    adjust: bool = True,
    ignore_na: bool = False,
    out_col: str = "ewm",
) -> DataFrame:
    """Exponentially-weighted mean per group (pandas semantics,
    src/series/window.rs:555-640 is the spec; ignore_na :602 — when
    False, intervening NAs still decay the weights of older points).
    Same as :func:`ewm_stat` with ``stat="mean"``."""
    return ewm_stat(
        df, value_col, order_by, partition_by, alpha, "mean", adjust, ignore_na,
        out_col=out_col,
    )


def ewm_stat(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[str],
    partition_by: Sequence[str],
    alpha: float,
    stat: str = "mean",
    adjust: bool = True,
    ignore_na: bool = False,
    bias: bool = False,
    out_col: str = "ewm",
) -> DataFrame:
    """EWM mean/std/var per group (src/series/window.rs:555,:640,:673,
    :715).

    Inherently recursive → no closed-form window expression, so this is
    a per-series pandas fold (:func:`_per_series_fold`) over pandas' own
    ewm for exact parity; ``bias=False`` matches the reference's
    sample-weighted variance. Groups are independent → scales
    horizontally; within-group is sequential, as the definition requires.
    """
    if stat not in ("mean", "std", "var"):
        raise ValueError("stat must be mean|std|var")

    def _ewm(pdf):
        e = pdf[value_col].ewm(alpha=alpha, adjust=adjust, ignore_na=ignore_na)
        if stat == "mean":
            pdf[out_col] = e.mean()
        elif stat == "std":
            pdf[out_col] = e.std(bias=bias)
        else:
            pdf[out_col] = e.var(bias=bias)
        return pdf

    schema = f"{_field_ddl(df)}, {out_col} double"
    return _per_series_fold(df, partition_by, order_by, _ewm, schema)


def _add(acc, total):
    return acc + (total or 0)


def _max(acc, total):
    if total is None:
        return acc
    return total if acc is None or total > acc else acc


def _partition_offset_scan(
    df: DataFrame,
    order_exprs: Sequence[Column],
    totals: dict[str, Column],
    fold=_add,
    start=0,
    tags: dict[str, Column] | None = None,
) -> tuple[DataFrame, WindowSpec, list[Column | None]]:
    """The ordered scan behind every GLOBAL prefix operator here, without
    the single-partition ``Window.orderBy`` collapse.

    One range sort keeps every core busy. Each row is tagged with its
    partition id ``__pid__`` (then with the ``tags`` columns), and the
    tagged frame is persisted, so the offset job and the downstream plan
    see the SAME partition layout (spark_partition_id is only stable on
    a materialized partitioning). One collect brings back each
    partition's ``totals`` — one row per partition. The driver folds
    them in partition order: partition p's offset is ``start`` folded
    with the totals of partitions 0..p-1, and a partition whose offset
    is still None gets no map entry (a NULL offset).

    Returns the persisted frame (the caller drops ``__pid__``), the
    partition-local running window (rows up to the current one) and,
    per total, its offset column: a map lookup on ``__pid__``, or None
    when no partition has an offset (empty input; for max, also when no
    earlier partition holds a non-null value).
    """
    from pyspark import StorageLevel

    sdf = df.orderBy(*order_exprs).withColumn("__pid__", F.spark_partition_id())
    for name, col in (tags or {}).items():
        sdf = sdf.withColumn(name, col)
    sdf = tracked_persist(sdf, StorageLevel.MEMORY_AND_DISK)
    rows = sdf.groupBy("__pid__").agg(
        *[c.alias(name) for name, c in totals.items()]
    ).collect()
    rows.sort(key=lambda r: r["__pid__"])
    offsets: list[Column | None] = []
    for name in totals:
        pairs: list = []
        acc = start
        for row in rows:
            if acc is not None:
                pairs += [F.lit(row["__pid__"]), F.lit(acc)]
            acc = fold(acc, row[name])
        offsets.append(F.create_map(*pairs)[F.col("__pid__")] if pairs else None)
    w = (
        Window.partitionBy("__pid__")
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return sdf, w, offsets


def global_prefix_sum(
    df: DataFrame,
    order_exprs: Sequence[Column],
    value_col: str | Column,
    out_col: str = "running_total",
    scale: int = 2,
) -> DataFrame:
    """Distributed GLOBAL running total under a total order, through
    :func:`_partition_offset_scan`: each partition computes its own
    quantized prefix sum, and the per-partition totals supply the
    additive offsets.

    Values are quantized to scaled BIGINT for the cross-partition
    fold, so the running total is EXACT and order-independent within a
    partition — the float sum never leaves one task. Returns the frame
    sorted by ``order_exprs`` with ``out_col`` (double) appended.
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    m = 10**scale
    q = (v * m + F.when(v < 0, -0.5).otherwise(0.5)).cast("long")
    sdf, w, [offset] = _partition_offset_scan(
        df, order_exprs, {"t": F.sum("__q__")}, tags={"__q__": q}
    )
    if offset is None:
        return sdf.drop("__pid__", "__q__").withColumn(
            out_col, F.lit(None).cast("double")
        )
    return (
        sdf.withColumn(
            out_col,
            ((offset + F.sum("__q__").over(w)) / float(m)).cast("double"),
        )
        .drop("__pid__", "__q__")
    )


def global_prefix_counts(
    df: DataFrame,
    order_exprs: Sequence[Column],
    counts: dict[str, str],
) -> DataFrame:
    """EXACT global running sums of integer columns under a total
    order — the distributed-ECDF primitive (rank histograms, CDF
    differences). One :func:`_partition_offset_scan`, like
    global_prefix_sum, but (a) BIGINT-exact with no quantization
    (inputs are counts) and (b) several columns in ONE sort + ONE offset
    collect: ``counts={"cum1": "c1", "cum2": "c2"}`` appends both
    running totals. This replaces the partitionless
    ``Window.orderBy(value)`` over a distinct-value histogram, whose
    cardinality for continuous measures approaches the ROW count — the
    one-task collapse the registry plan fence forbids.
    """
    sdf, w, offsets = _partition_offset_scan(
        df, order_exprs, {out: F.sum(src) for out, src in counts.items()}
    )
    if offsets[0] is None:
        return sdf.drop("__pid__").withColumns(
            {out: F.lit(None).cast("long") for out in counts}
        )
    for (out, src), offset in zip(counts.items(), offsets):
        sdf = sdf.withColumn(out, (offset + F.sum(src).over(w)).cast("long"))
    return sdf.drop("__pid__")


def global_row_number(
    df: DataFrame,
    order_exprs: Sequence[Column],
    out_col: str = "rn",
) -> DataFrame:
    """Distributed GLOBAL 1-based row number under a total order,
    through :func:`_partition_offset_scan`: each partition numbers its
    own rows, and the per-partition row counts supply the additive
    offsets.

    With a TOTAL order (include a unique tiebreak column) the result
    equals ``row_number() OVER (ORDER BY ...)`` exactly, and global
    rank statistics follow arithmetically: percent_rank =
    (rn−1)/(n−1), cume_dist = rn/n, ntile(k) from (rn, n, k) — see
    queries/windows.py q53 for the derivation.
    """
    sdf, w, [offset] = _partition_offset_scan(
        df, order_exprs, {"c": F.count(F.lit(1))}
    )
    if offset is None:
        return sdf.drop("__pid__").withColumn(out_col, F.lit(None).cast("long"))
    return (
        sdf.withColumn(
            out_col, (offset + F.row_number().over(w)).cast("long")
        )
        .drop("__pid__")
    )


def _long_div(a: Column, b: int) -> Column:
    """Exact floor division of a non-negative long column by a positive
    int literal. ``/`` on Columns is DOUBLE division — exact only while
    the operands stay within 2^53, so at extreme row counts a boundary
    rank could truncate into the adjacent bucket. Subtracting the
    remainder first (long arithmetic, exact at any magnitude) makes the
    numerator an exact multiple of ``b``; the decimal(38,0) division of
    that multiple is then exact for the full long range."""
    a = a.cast("long")
    exact = (a - F.pmod(a, F.lit(b))).cast("decimal(38,0)")
    return (exact / F.lit(b)).cast("long")


def ntile_from_rank(rn: Column, n: int, k: int) -> Column:
    """SQL NTILE(k) bucket (1-based) from a global 1-based rank and the
    total row count — pure arithmetic (exact long/decimal division, no
    double rounding), no window: the first ``n % k`` buckets hold
    ``n//k + 1`` rows, the rest ``n//k``."""
    base, rem = divmod(n, k)
    big = rem * (base + 1)
    return (
        F.when(rn <= big, _long_div(rn - 1, base + 1) + 1)
        .otherwise(rem + _long_div(rn - F.lit(big) - 1, base) + 1)
        .cast("int")
        if base
        else rn.cast("int")
    )


def rolling_corr(
    x: Column | str,
    y: Column | str,
    window: int,
    w: WindowSpec,
    scale: int = 4,
    min_periods: int | None = None,
) -> Column:
    """Rolling Pearson correlation of two columns (pandas
    Rolling.corr parity; reference enhanced window surface,
    src/dataframe/enhanced_window.rs). Computed from five quantized
    rolling sufficient statistics over the SAME frame — exact,
    order-independent, one window pass, no self-join — so the result
    is engine-reproducible and the plan stays a single window node.
    """
    from pandrs_spark.functions.deterministic import dsum_over

    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    frame = w.rowsBetween(-(window - 1), 0)
    # All five sums must come from the SAME (pairwise-complete) row
    # set as n, else a row where exactly one of x/y is null skews the
    # statistics (pandas Rolling.corr drops the pair entirely).
    both = cx.isNotNull() & cy.isNotNull()
    cxm = F.when(both, cx)
    cym = F.when(both, cy)
    n = F.count(cxm).over(frame)
    sx = dsum_over(cxm, frame, scale)
    sy = dsum_over(cym, frame, scale)
    sxx = dsum_over(cxm * cxm, frame, scale)
    syy = dsum_over(cym * cym, frame, scale)
    sxy = dsum_over(cxm * cym, frame, scale)
    mp = window if min_periods is None else min_periods
    denom = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    r = (n * sxy - sx * sy) / denom
    # Spark orders NaN above all doubles, so `denom > 0` alone lets
    # NaN through — gate both the denominator and the result on it.
    return F.when(
        (n >= mp) & ~F.isnan(denom) & (denom > 0) & ~F.isnan(r), r
    ).otherwise(F.lit(None).cast("double"))


def global_prefix_max(
    df: DataFrame,
    order_exprs: Sequence[Column],
    src_col: str,
    out_col: str = "cummax",
) -> DataFrame:
    """EXACT global running MAX of an integer/orderable column under a
    total order — the skyline/frontier primitive, completing the
    :func:`_partition_offset_scan` family (global_prefix_counts sums,
    global_row_number numbers; this one folds max). Each partition
    computes its local running max, and the per-partition maxes supply
    each partition's prefix offset (max is associative+commutative, so
    the per-partition prefix combine is order-safe). NO partitionless
    window anywhere. NULLs are ignored (like SQL MAX); rows before the
    first non-null get a NULL running max."""
    sdf, w, [offset] = _partition_offset_scan(
        df, order_exprs, {"m": F.max(src_col)}, fold=_max, start=None
    )
    local = F.max(src_col).over(w)
    out = local if offset is None else F.greatest(offset, local)
    return sdf.withColumn(out_col, out).drop("__pid__")
