"""Join operators: pandas-style merge, semi/anti, and a scalable as-of join.

Reference parity:
- hash joins inner/left/right/outer — /root/reference
  src/optimized/split_dataframe/join.rs:32-130 (single-node hash build).
  Here: ``df.join`` — Catalyst picks broadcast / shuffled-hash /
  sort-merge, and AQE re-plans at runtime. We only *hint* broadcast for
  known-small dims.
- pandas ``merge`` with suffixes — src/dataframe/pandas_compat/merge.rs:34.
- as-of join — absent in the reference (SURVEY §2.3); built here as a
  union+window pass (one shuffle, no range-explosion), the standard
  scalable formulation for 100 TB event streams.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pandrs_spark.operators.util import small_local_df

__all__ = [
    "merge",
    "semi_join",
    "anti_join",
    "asof_join",
    "range_join",
    "interval_overlap_join",
    "upsert_latest",
]


def _as_list(x) -> list[str]:
    if x is None:
        return []
    if isinstance(x, str):
        return [x]
    return list(x)


def merge(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] | None = None,
    how: str = "inner",
    left_on: str | Sequence[str] | None = None,
    right_on: str | Sequence[str] | None = None,
    suffixes: tuple[str, str] = ("_x", "_y"),
    broadcast_right: bool = False,
) -> DataFrame:
    """pandas.merge semantics on Spark DataFrames.

    Multi-matches fan out (join semantics), key columns are coalesced
    for outer joins, and colliding non-key columns get pandas-style
    suffixes (merge.rs:34 in the reference).
    """
    how = {"outer": "full", "full_outer": "full"}.get(how, how)
    if on is not None:
        lk = rk = _as_list(on)
    else:
        lk, rk = _as_list(left_on), _as_list(right_on)
        if len(lk) != len(rk):
            raise ValueError("left_on and right_on must have equal length")

    lsuf, rsuf = suffixes
    # Rename colliding non-key columns up front (deterministic plan).
    shared = (set(left.columns) & set(right.columns)) - (set(lk) & set(rk))
    l_renamed = left
    r_renamed = right
    for c in sorted(shared):
        l_renamed = l_renamed.withColumnRenamed(c, c + lsuf)
        r_renamed = r_renamed.withColumnRenamed(c, c + rsuf)

    r_in = F.broadcast(r_renamed) if broadcast_right else r_renamed
    if on is not None:
        joined = l_renamed.join(r_in, on=lk, how=how)
        return joined
    cond = None
    for a, b in zip(lk, rk):
        piece = l_renamed[a] == r_in[b]
        cond = piece if cond is None else (cond & piece)
    return l_renamed.join(r_in, on=cond, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str] | Column) -> DataFrame:
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | Sequence[str] | Column) -> DataFrame:
    return left.join(right, on=on, how="left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str | Sequence[str],
    right_on: str | None = None,
    right_by: str | Sequence[str] | None = None,
    value_cols: Sequence[str] | None = None,
    direction: str = "backward",
    tolerance: float | None = None,
    keep_match_ts: bool = False,
) -> DataFrame:
    """As-of join (pandas ``merge_asof`` parity): for each left row,
    the latest right row with ``right.ts <= left.ts`` (backward), the
    earliest with ``right.ts >= left.ts`` (forward), or whichever is
    closer (nearest; backward wins ties, as pandas does) within the
    same key group. ``tolerance`` drops matches farther than the given
    gap (seconds for timestamps, plain delta for numerics).

    Scalable formulation: tag and union both sides, sort within each
    key partition by (ts, side), and carry the right side's values
    across with ``last/first(..., ignorenulls=True)`` — exactly one
    shuffle on the key, no per-row range scan, no broadcast of either
    side. This survives 100 TB because cost is O(n log n) within
    partitions and skew is handled by AQE.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be backward|forward|nearest")
    by = _as_list(by)
    rby = _as_list(right_by) if right_by is not None else by
    r_on = right_on or on
    value_cols = list(value_cols or [c for c in right.columns if c not in (*rby, r_on)])

    lhs = left.select(
        *[F.col(b).alias(f"__k{i}") for i, b in enumerate(by)],
        F.col(on).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*left.columns).alias("__l"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__v_{c}") for c in value_cols],
        F.lit(None).cast(right.schema[r_on].dataType).alias("__v___rts"),
    )
    rhs = right.select(
        *[F.col(b).alias(f"__k{i}") for i, b in enumerate(rby)],
        F.col(r_on).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(lhs.schema["__l"].dataType).alias("__l"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
        F.col(r_on).alias("__v___rts"),
    )
    keys = [f"__k{i}" for i in range(len(by))]
    unioned = lhs.unionByName(rhs)
    fill_cols = value_cols + ["__rts"]

    # Right rows sort before left rows at equal ts → inclusive match.
    wb = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__is_left").desc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    proj = ["__is_left", "__l", "__ts"]
    if direction in ("backward", "nearest"):
        proj += [
            F.last(f"__v_{c}", ignorenulls=True).over(wb).alias(f"__b_{c}")
            for c in fill_cols
        ]
    if direction in ("forward", "nearest"):
        proj += [
            F.first(f"__v_{c}", ignorenulls=True).over(wf).alias(f"__f_{c}")
            for c in fill_cols
        ]
    annotated = unioned.select(*proj).filter(F.col("__is_left") == 1)

    def _gap(ts_a, ts_b):
        if "timestamp" in str(left.schema[on].dataType).lower():
            return F.abs(ts_a.cast("double") - ts_b.cast("double"))
        return F.abs(ts_a - ts_b)

    if direction == "nearest":
        b_gap = _gap(F.col("__ts"), F.col("__b___rts"))
        f_gap = _gap(F.col("__ts"), F.col("__f___rts"))
        use_backward = F.col("__f___rts").isNull() | (
            F.col("__b___rts").isNotNull() & (b_gap <= f_gap)
        )
        picked = [
            F.when(use_backward, F.col(f"__b_{c}"))
            .otherwise(F.col(f"__f_{c}"))
            .alias(f"__p_{c}")
            for c in fill_cols
        ]
        annotated = annotated.select("__l", "__ts", *picked)
        prefix = "__p_"
    else:
        prefix = "__b_" if direction == "backward" else "__f_"
    out_cols = list(value_cols)
    if keep_match_ts:
        # the matched right-side timestamp, pandas merge_asof's
        # right-on column; tolerance-filtered like the values
        out_cols.append("__rts")
    if tolerance is not None:
        in_tol = _gap(F.col("__ts"), F.col(f"{prefix}__rts")) <= F.lit(tolerance)
        values = [
            F.when(in_tol, F.col(f"{prefix}{c}")).alias(
                f"{r_on}_matched" if c == "__rts" else c
            )
            for c in out_cols
        ]
    else:
        values = [
            F.col(f"{prefix}{c}").alias(
                f"{r_on}_matched" if c == "__rts" else c
            )
            for c in out_cols
        ]
    return annotated.select(
        *[F.col("__l")[c].alias(c) for c in left.columns], *values
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    point: str,
    lower: str,
    upper: str,
    bucket_width: float,
    extra_on: str | Sequence[str] | None = None,
) -> DataFrame:
    """Interval/range join: match each left row to every right interval
    with ``lower <= point < upper`` (absent in the reference —
    SURVEY §2.3; pandas has no scalable equivalent either).

    A naive inequality join has no equi-key, so Spark would plan a
    broadcast-nested-loop (or worse, a cartesian product) — O(n*m) and
    a non-starter at 100 TB. The scale path here is the standard
    bucketing rewrite: quantize the domain into ``bucket_width`` cells,
    explode each right interval into the cells it overlaps, map each
    left point to its single cell, equi-join on the cell id (plus any
    ``extra_on`` keys), then re-check the exact predicate. Each point
    lands in exactly one cell and each (interval, cell) pair is unique,
    so no dedup pass is needed. Catalyst plans a plain shuffled/broadcast
    hash join; cost is O(n + m * cells_per_interval).

    Pick ``bucket_width`` near the typical interval length: wider
    buckets explode fewer cells but refine-filter more candidates.
    """
    extra = _as_list(extra_on)
    cell = lambda c: F.floor(F.col(c) / F.lit(bucket_width)).cast("long")  # noqa: E731
    r_cells = right.withColumn(
        "__cell__",
        F.explode(F.sequence(cell(lower), cell(upper))),
    )
    l_cells = left.withColumn("__cell__", cell(point))
    joined = l_cells.join(r_cells, ["__cell__", *extra], "inner").filter(
        (F.col(point) >= F.col(lower)) & (F.col(point) < F.col(upper))
    )
    return joined.drop("__cell__")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_width: float,
    extra_on: str | Sequence[str] | None = None,
) -> DataFrame:
    """Interval x interval overlap join: pair every left interval
    [l_start, l_end] with every right interval [r_start, r_end] they
    overlap (closed-interval predicate l_start <= r_end AND
    r_start <= l_end). The interval-interval sibling of
    :func:`range_join` (point-in-interval).

    Scale shape: both sides explode onto a ``bucket_width`` grid and
    equi-join on the cell id — never an inequality-only join (which
    Catalyst would plan as a nested loop). A pair overlapping several
    shared cells would duplicate, so instead of a dedup shuffle the
    join keeps ONLY the pair's canonical first shared cell:
    cell == greatest(floor(l_start/w), floor(r_start/w)). Each
    overlapping pair survives exactly once, no distinct needed.

    Cost: O(n * cells_per_left + m * cells_per_right) exploded rows;
    pick ``bucket_width`` near the typical interval length.
    """
    extra = _as_list(extra_on)
    cell = lambda c: F.floor(F.col(c) / F.lit(bucket_width)).cast("long")  # noqa: E731
    l_cells = left.withColumn(
        "__cell__", F.explode(F.sequence(cell(l_start), cell(l_end)))
    )
    r_cells = right.withColumn(
        "__cell__", F.explode(F.sequence(cell(r_start), cell(r_end)))
    )
    joined = (
        l_cells.join(r_cells, ["__cell__", *extra], "inner")
        .filter(
            (F.col(l_start) <= F.col(r_end))
            & (F.col(r_start) <= F.col(l_end))
        )
        .filter(
            F.col("__cell__")
            == F.greatest(cell(l_start), cell(r_start))
        )
    )
    return joined.drop("__cell__")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    salt_from: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigated equi-join: salt the big (left) side, replicate the
    small (right) side.

    AQE's skew-join split (enabled in session.py) handles most skew at
    runtime; this is the explicit fallback for the pathological key that
    AQE can't split finer (one key >> one task) or for non-AQE engines.
    ``salt_from`` is a left-side column whose hash spreads the hot key's
    rows across ``n_salts`` sub-partitions; the right side is replicated
    ``n_salts`` times, so every (key, salt) pair still finds its match.
    Join output is row-identical to the unsalted join — including
    right/full outer, which naive salting breaks: a right-row salt copy
    that finds no left row with that exact salt value would surface as
    a spurious unmatched row (even when ANOTHER copy of the same row
    matched). Those join types therefore decompose into the skew-safe
    salted INNER join unioned with anti-join unmatched parts, where
    each anti join runs against the other side's DISTINCT key set — an
    aggregation that collapses the hot key to one row, so no piece of
    the decomposition re-creates the skew.
    """
    keys = _as_list(on)
    hn = how.replace("_", "").lower()
    if hn in ("inner", "left", "leftouter"):
        # left carries one salt per row → every left row appears with
        # exactly its plain-join multiplicity; correct as-is.
        salted_left = left.withColumn(
            "__salt__", F.pmod(F.hash(F.col(salt_from)), F.lit(n_salts))
        )
        salted_right = right.withColumn(
            "__salt__", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
        )
        return salted_left.join(
            salted_right, keys + ["__salt__"], how
        ).drop("__salt__")
    if hn not in ("right", "rightouter", "full", "outer", "fullouter"):
        raise ValueError(f"salted_join: unsupported how={how!r}")
    lcols = [c for c in left.columns if c not in keys]
    rcols = [c for c in right.columns if c not in keys]
    # The decomposition below reassembles columns by NAME, so a non-key
    # column present on both sides would make inner.select ambiguous at
    # runtime (plain join returns both copies; a union-by-name
    # decomposition can't). Fail fast with an actionable message.
    overlap = sorted(set(lcols) & set(rcols))
    if overlap:
        raise ValueError(
            "salted_join: right/full outer decomposition cannot carry "
            f"non-key columns present on BOTH sides: {overlap}. Rename "
            "or drop the duplicates (e.g. withColumnRenamed) before the "
            "join, or add them to the join keys."
        )
    inner = salted_join(left, right, keys, salt_from, n_salts, "inner")
    parts = [inner.select(*keys, *lcols, *rcols)]
    # No broadcast hints: the distinct key sets may themselves be huge
    # (every key of a 100 TB fact table); the distinct() has already
    # collapsed the hot keys, so the anti joins are skew-safe either
    # way and AQE picks broadcast when a side is actually small.
    if hn in ("full", "outer", "fullouter"):
        lk = right.select(*keys).distinct()
        parts.append(
            left.join(lk, keys, "left_anti").select(
                *keys,
                *lcols,
                *[
                    F.lit(None).cast(right.schema[c].dataType).alias(c)
                    for c in rcols
                ],
            )
        )
    rk = left.select(*keys).distinct()
    parts.append(
        right.join(rk, keys, "left_anti").select(
            *keys,
            *[
                F.lit(None).cast(left.schema[c].dataType).alias(c)
                for c in lcols
            ],
            *rcols,
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def upsert_latest(
    base: DataFrame, updates: DataFrame, keys, version_col: str
) -> DataFrame:
    """MERGE-style upsert without a table format: union base and
    updates, keep the highest-``version_col`` row per key (ties break
    toward the updates side). The SCD-1 maintenance shape — one
    shuffle on the keys; at warehouse scale you would bucket both
    sides on ``keys`` to make the window co-located.

    Reference analogue: pandas_compat ``update`` (:3110) and
    ``combine`` (:3160) only patch matching rows; upsert also APPENDS
    unmatched update rows, which those can't express.
    """
    from pyspark.sql import Window

    kb = list(keys)
    tagged = base.withColumn("__side__", F.lit(0)).unionByName(
        updates.withColumn("__side__", F.lit(1))
    )
    w = Window.partitionBy(*kb).orderBy(
        F.col(version_col).desc(), F.col("__side__").desc()
    )
    return (
        tagged.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__", "__side__")
    )


def scd2_history(
    df: DataFrame,
    keys,
    attr_col: str,
    ts_col: str,
    order_cols=(),
) -> DataFrame:
    """Slowly-changing-dimension Type-2 history build: collapse each
    key's timeline into versioned validity intervals — one row per run
    of consecutive identical ``attr_col`` values, with
    (valid_from, valid_to, is_current, version, n_rows). valid_to is
    the next version's valid_from (half-open intervals), NULL on the
    current version.

    The warehouse dimension-maintenance primitive the reference's
    update/combine surface can't express (SCD-1 sibling:
    upsert_latest above). Two window passes partitioned by the key —
    change detection (null-safe lag compare) and interval close
    (lead) — plus one run-collapse aggregate: all three shuffle on the
    SAME key columns, so AQE/bucketing co-locates them into one
    exchange at scale. ``order_cols`` breaks ts ties deterministically
    (pass the row's unique id).
    """
    from pyspark.sql import Window

    kb = list(keys)
    order = [F.col(ts_col)] + [F.col(c) for c in order_cols]
    w = Window.partitionBy(*kb).orderBy(*order)
    chg = F.when(
        F.lag(attr_col).over(w).eqNullSafe(F.col(attr_col)), 0
    ).otherwise(1)
    ver = (
        df.withColumn("__chg__", chg)
        .withColumn(
            "version",
            F.sum("__chg__").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    runs = ver.groupBy(*kb, "version").agg(
        F.first(attr_col).alias(attr_col),
        F.min(ts_col).alias("valid_from"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    wv = Window.partitionBy(*kb).orderBy("version")
    return runs.withColumn(
        "valid_to", F.lead("valid_from").over(wv)
    ).withColumn("is_current", F.col("valid_to").isNull())


def table_diff(
    old: DataFrame, new: DataFrame, keys, compare_cols=None
) -> DataFrame:
    """Snapshot changelog: classify every key as inserted / deleted /
    changed / unchanged between two table versions — the CDC-style
    diff that seeds an incremental downstream refresh (ship only
    inserted+changed+deleted instead of re-processing the snapshot).

    One full outer join on the keys; change detection compares an md5
    over the compared columns (computed map-side on each side, so the
    join carries two hash columns instead of 2x the row width).
    Returns (keys..., change) with change in
    {inserted, deleted, changed, unchanged}.
    """
    kb = list(keys)
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in kb]
    fp = F.md5(
        F.concat_ws(
            "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in compare_cols]
        )
    )
    o = old.select(*kb, fp.alias("__h_old__"))
    n = new.select(*kb, fp.alias("__h_new__"))
    change = (
        F.when(F.col("__h_old__").isNull(), F.lit("inserted"))
        .when(F.col("__h_new__").isNull(), F.lit("deleted"))
        .when(F.col("__h_old__") != F.col("__h_new__"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return o.join(n, kb, "full_outer").select(*kb, change.alias("change"))


def auto_salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    salt_from: str,
    skew_threshold: int = 100_000,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Differentiated salting: measure the left side's key histogram
    first, salt ONLY the keys whose row count exceeds
    ``skew_threshold``, and join the long tail un-salted. Full salting
    (salted_join above) replicates the entire right side n_salts
    times; at 100 TB that multiplies shuffle volume by n_salts to fix
    a handful of hot keys. Here the right side is replicated only for
    the hot-key subset (usually a few rows), so the cost of the fix is
    proportional to the skew, not to the table.

    The hot-key list is collected to the driver (bounded: keys above a
    row-count threshold are few by definition) and broadcast back as a
    literal filter. Output is row-identical to the plain join.
    """
    keys = _as_list(on)
    hot = [
        tuple(r[k] for k in keys)
        for r in left.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__c__"))
        .filter(F.col("__c__") > skew_threshold)
        .select(*keys)
        .collect()
    ]
    # Null-key rows can never equi-match, so salting them is pointless;
    # keep them in the cold branch (where outer joins preserve them).
    hot = [t for t in hot if all(v is not None for v in t)]
    if not hot:
        return left.join(right, keys, how)
    # Route via broadcast semi/anti joins against the (bounded, by
    # definition of skew_threshold) hot-key table: one hash-set probe
    # per row regardless of hot count — a literal OR-chain predicate
    # would grow the Catalyst expression tree linearly in the number of
    # hot keys. Hotness matches on the FULL key tuple; null-key rows
    # never equi-match the hot table, so anti-join routing lands them
    # cold, where outer joins preserve them — row-identical to the
    # plain join.
    hot_df = F.broadcast(
        small_local_df(left.sparkSession, hot, left.select(*keys).schema)
    )
    cold = left.join(hot_df, keys, "left_anti").join(
        right.join(hot_df, keys, "left_anti"), keys, how
    )
    hot_join = salted_join(
        left.join(hot_df, keys, "left_semi"),
        right.join(hot_df, keys, "left_semi"),
        keys,
        salt_from,
        n_salts,
        how,
    )
    return cold.unionByName(hot_join)


def skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
    ref_parallelism: int = 32,
) -> DataFrame:
    """Pre-join skew diagnosis — the measurement step in front of
    :func:`salted_join`'s AUTO mode. One partial-combined aggregation
    collapses the table to per-key counts; the report ranks the
    ``top_k`` hottest keys with their row share and an integer
    recommended salt fan-out ``ceil(share · ref_parallelism)`` (how
    many buckets spread that key across so no task exceeds the average
    share at the reference parallelism). All counts and the fan-out
    are exact integer arithmetic; ordering is total
    (count desc, key). Reference: skew handling around
    src/dataframe/join.rs (behavioral spec only).
    """
    keys = df.groupBy(F.col(key_col).cast("string").alias("key_value")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    tot = keys.agg(
        F.sum("n_rows").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return (
        keys.crossJoin(F.broadcast(tot))
        .select(
            "key_value",
            "n_rows",
            "n_total",
            "n_keys",
            F.round(
                F.col("n_rows").cast("double") / F.col("n_total"), 6
            ).alias("share"),
            F.expr(
                f"CAST((n_rows * {int(ref_parallelism)} + n_total - 1)"
                " DIV n_total AS BIGINT)"
            ).alias("salt_factor"),
        )
        .orderBy(F.desc("n_rows"), "key_value")
        .limit(top_k)
    )
