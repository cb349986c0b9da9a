"""Shared operator utilities."""

from __future__ import annotations

import functools
import threading
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = [
    "UnboundedBuildError",
    "assert_bounded",
    "fan_out",
    "persist_right_sized",
    "right_size_keyed",
    "right_sized_width",
    "scoped_conf",
    "small_local_df",
    "tracked_persist",
]


def tracked_persist(df: DataFrame, level=None) -> DataFrame:
    """Persist ``df`` and register it for ``release_persisted()``.

    For intermediates that the RETURNED DataFrame's lineage still
    references: unpersisting before return would force a recompute on
    the caller's first action, while a bare ``.persist()`` leaks cache
    entries across queries. Registration defers the unpersist to after
    materialization — check_oracle, bench.py, and the leak fence all
    call ``release_persisted()`` per query, so the cache-manager count
    returns to zero between queries.
    """
    from pandrs_spark.frame import _persisted

    df = df.persist(level) if level is not None else df.persist()
    _persisted().append(df)
    return df


# (session, key) -> (value before the first open scope, open scopes as
# [token, value], oldest first); see scoped_conf
_SCOPES: dict[tuple[str, str], tuple[str | None, list]] = {}
_SCOPES_LOCK = threading.Lock()


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set the session conf ``key`` to ``value`` for the body of a
    ``with`` block, then put back what was there before: the previous
    value, or no value at all (the key is unset) when it had none. The
    restore also runs when the body raises, so no scoped setting ever
    leaks into the rest of the session.

    Scopes of one key that overlap, nested or in threads sharing the
    session, are restored together: closing one reinstates the value of
    the latest scope still open, and the last to close puts back the
    value from before the first. A plain save-and-restore would let two
    overlapping threads each restore the other's setting and leave it
    behind. While scopes overlap, the latest one's value holds."""
    slot = (spark._jsparkSession.sessionUUID(), key)
    token = object()
    with _SCOPES_LOCK:
        before, scopes = _SCOPES.setdefault(slot, (spark.conf.get(key, None), []))
        scopes.append([token, value])
        spark.conf.set(key, value)
    try:
        yield
    finally:
        with _SCOPES_LOCK:
            scopes[:] = [s for s in scopes if s[0] is not token]
            if scopes:
                spark.conf.set(key, scopes[-1][1])
            else:
                del _SCOPES[slot]
                if before is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, before)


def small_local_df(
    spark: SparkSession, rows: list, schema: str | StructType
) -> DataFrame:
    """A small driver-side frame (a ``LocalRelation``) from Python rows.

    ``schema`` is a DDL string or a ``StructType``; nothing is inferred.
    The rows go to the JVM as one Arrow table, the way Spark Connect
    builds a frame from a list, so no action on the result starts a
    Python worker — a list handed to classic ``createDataFrame`` becomes
    a pickled ``LogicalRDD`` that costs one worker round-trip per slice.

    Every row first passes classic ``createDataFrame``'s type check:
    the Arrow converter alone would silently store 1.5 in an ``int``
    column, where ``createDataFrame`` raises ``PySparkTypeError``.
    """
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    table = (
        LocalDataToArrowConversion.convert(rows, schema, False)
        if rows
        else to_arrow_schema(schema).empty_table()
    )
    return spark.createDataFrame(table, schema)


# Logical operators that cannot change a plan's partition count on
# their own: a plan built ONLY of these above its leaves keeps the
# leaf scan/cache partitioning, so df.rdd.getNumPartitions() resolves
# WITHOUT materializing any AQE query stage. Anything else (Join,
# Aggregate, Window, Sort, ...) makes the width shuffle-governed — and,
# decisive for cost, asking .rdd for it under AQE EXECUTES the whole
# subtree as stage-materialization jobs (round 12, measured: q714's
# candidate-pair semi-join input ran a 92 s-CPU bands pass inside
# fan_out's .rdd probe, before the query's real action).
_NARROW_NODES = frozenset(
    {
        "Project",
        "Filter",
        "Generate",
        "SubqueryAlias",
        "Sample",
        "Union",
        "LogicalRelation",
        "Relation",
        "InMemoryRelation",
        "LogicalRDD",
        "LocalRelation",
        "DataSourceV2Relation",
        "DataSourceV2ScanRelation",
        "HiveTableRelation",
    }
)


def _width_is_leaf_governed(df: DataFrame) -> bool:
    """True when the optimized logical plan contains only narrow
    operators over its leaves (InMemoryRelation counts as a leaf), so
    the partition count is the leaf's and ``df.rdd`` is free. Unknown
    node names conservatively return False."""
    try:
        def walk(p) -> bool:
            if p.nodeName() not in _NARROW_NODES:
                return False
            if p.nodeName() == "InMemoryRelation":
                return True  # cached leaf: its own plan is materialized
            it = p.children().iterator()
            while it.hasNext():
                if not walk(it.next()):
                    return False
            return True

        return walk(df._jdf.queryExecution().optimizedPlan())
    except Exception:  # noqa: BLE001 — plan introspection unavailable
        return False


def fan_out(df: DataFrame, bytes_per_task: int = 128 * 1024) -> DataFrame:
    """Widen under-partitioned inputs before compute-heavy map work.

    Scan partition counts are sized from FILE BYTES
    (``spark.sql.files.maxPartitionBytes``), which underestimates the
    parallelism needed when per-row work amplifies past the scan:
    explode/shingle text operators (10-100× row blow-up), per-row
    minhash/simhash signatures, embedding dot products over array
    columns. Measured at the synthesized sf1: documents scans into 2
    partitions and embeddings into ONE, leaving 30+ of 32 cores idle
    through a 30 s shingle explode (2.5 s after widening).

    The target is scaled to the input's optimizer-estimated size —
    one task per ``bytes_per_task`` of input, clamped to the cluster's
    default parallelism — so tiny inputs are NOT shattered into 32
    near-empty partitions (A/B-measured: unconditional widening cost
    +50% on a 200 KB embedding join whose branches re-read the
    exchange, while skipping sub-task-sized inputs keeps the 12×
    sf1 win). No-op when the input is already at least that wide — at
    100 TB scans are thousands of partitions and this never fires.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        if size >= (1 << 62):
            # Long.MaxValue sentinel: the optimizer does NOT know the
            # size (e.g. behind a coalesce/RDD-backed plan). No
            # evidence of under-partitioning beats an unconditional
            # shuffle — production scan plans (parquet/csv/json)
            # always carry real stats, which is where the measured
            # starvation lived; a user's explicit coalesce(1) is
            # deliberate and must not be silently undone.
            return df
        target = max(1, min(target, size // bytes_per_task))
    except Exception:  # noqa: BLE001 — stats unavailable: widen fully
        pass
    if target <= 1:
        return df
    # Round 12: only consult the actual partition count when the plan's
    # width is leaf-governed (narrow chain over scans/caches), where
    # .rdd is free. For shuffle-shaped inputs (joins/aggregates/...),
    # .rdd under AQE EXECUTES the subtree (q714: a 92 s-CPU pass ran
    # inside this probe); their width is set by shuffle.partitions/AQE
    # coalescing at runtime, which is the cluster-scaled sizing this
    # helper must not fight — leave them unchanged. Operators that need
    # a widened map pass after a broadcast join hoist fan_out to the
    # probe side BEFORE the join (ngram_jaccard_pairs).
    if not _width_is_leaf_governed(df):
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(int(target))
    return df


def right_size_keyed(
    df: DataFrame, *key_cols: str, bytes_per_task: int = 1 << 22
) -> DataFrame:
    """Hash-repartition a provably SMALL frame to a size-derived
    partition count before it is persisted as an iterative loop's
    invariant table.

    Iterative operators scan their persisted edge/vertex tables once
    per round. The cache freezes whatever partitioning the build had —
    ``repartition(key)`` inherits ``spark.sql.shuffle.partitions`` (200
    on a default session) and AQE does NOT re-coalesce cached plans
    (``canChangeCachedPlanOutputPartitioning`` is false) — so a 25-row
    nation graph pays 200 near-empty tasks per cache scan, every round
    (measured round 11: a 20-round PageRank over 25 vertices spent
    2/3 of its wall in those scans on a default session).

    Sizing is only as good as ``df``'s optimizer stats, which are exact
    once ``df`` is a materialized cache (``InMemoryRelation`` carries
    real bytes): a loop table goes through :func:`persist_right_sized`,
    which materializes it first. The explicit count is only applied
    when the whole frame is provably smaller than one task per core —
    anything bigger, or with unknown stats, returns ``df`` unchanged
    and keeps the shuffle-partition/AQE sizing, so production-scale
    tables are never squeezed.
    """
    target = right_sized_width(df, bytes_per_task)
    if target is None:
        return df
    return df.repartition(target, *[F.col(c) for c in key_cols])


def persist_right_sized(df: DataFrame, *key_cols: str) -> tuple[DataFrame, int]:
    """Persist a table that a query re-reads (a loop's edge or vertex
    table, a kNN table scanned several times) and return it with its
    row count.

    The count materializes the cache, so its size stats are exact; when
    they prove the table small (:func:`right_size_keyed`), the returned
    table is a hash-partitioned copy on ``key_cols`` at the right-sized
    width, persisted as well, so every later scan runs a few tasks
    instead of a stage at the session's shuffle width. Both persists go
    through :func:`tracked_persist`. ``df`` itself is persisted in
    place: a table derived from it afterwards (a loop's vertex set from
    its edges) reads its materialized cache, not the right-sized copy,
    which is built on first use."""
    df = tracked_persist(df)
    n = df.count()
    rs = right_size_keyed(df, *key_cols)
    return (df if rs is df else tracked_persist(rs)), n


def right_sized_width(df: DataFrame, bytes_per_task: int = 1 << 22) -> int | None:
    """The partition count :func:`right_size_keyed` gives ``df``, from
    its optimizer size estimate; None when ``df`` is not provably
    smaller than one task per core, or its size is unknown."""
    sc = df.sparkSession.sparkContext
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 — stats unavailable: not provably small
        return None
    if size >= (1 << 62):
        return None
    # Floor at 2 partitions: hashpartitioning(k, 1) canonicalizes to
    # Exchange SinglePartition in the physical plan, which the
    # registry-wide census (tools/plan_report.py) rightly treats as a
    # bottleneck signature when it feeds a join — a provably-small
    # right-sized table must stay distinguishable from a data-sized
    # single-partition mistake. Two near-empty tasks cost the same as
    # one at this size, and the plan stays honestly multi-partition.
    target = max(2, size // bytes_per_task + 1)
    # ADVICE r11 (low): on sessions with defaultParallelism <= 2 the
    # plain `target >= defaultParallelism` guard disabled right-sizing
    # entirely — a provably-TINY loop table (target at the 2-partition
    # floor) kept the 200-partition shuffle default, the exact
    # per-round-scan pathology this function exists to fix. Floor-sized
    # frames therefore always collapse to 2; anything larger keeps the
    # one-task-per-core proof requirement (and AQE sizing) as before.
    if target >= max(sc.defaultParallelism, 3):
        return None
    return int(target)


def _field_ddl(df: DataFrame, names=None) -> str:
    """DDL of ``df``'s columns, in frame order; only those in ``names``
    when given."""
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if names is None or f.name in names
    )


def _per_series_fold(
    df: DataFrame, keys: Sequence[str], order: Sequence[str], fold, schema: str
) -> DataFrame:
    """Run ``fold`` once per series — per distinct ``keys`` value — over
    that series' rows stably sorted by ``order`` (mergesort, with a fresh
    0..n-1 index), and return the union of the frames it returns, typed
    by the DDL ``schema``. The distributed shape of every recursion that
    has no closed-form window expression (EWM, SES, Holt, ARIMA, BOCPD,
    Croston): series are independent and spread across tasks, while each
    one runs sequentially in one pandas frame, so a series must fit one
    worker.

    Keyed input is first hash-partitioned by ``keys`` with an explicit
    count. AQE sizes post-shuffle partitions by BYTES; a grouped Python
    recursion carries kilobytes but burns seconds per group, so the
    advisory-size coalescing collapses thousands of series onto one task
    (measured: q155's 7 s single-task stage while 31 cores idled). An
    explicit repartition with an explicit partition count is exempt from
    AQE coalescing, and because it already produces the HashPartitioning
    the grouped-map operator needs, NO extra exchange is added — the plan
    has the same single shuffle, just with a CPU-sized partition count.
    ``defaultParallelism`` scales with the cluster. A keyless fold is one
    global series: nothing to spread.

    The sorting wrapper carries ``fold``'s name, which is what the plan's
    FlatMapGroupsInPandas node prints.
    """
    keys, order = list(keys), list(order)

    @functools.wraps(fold)
    def run(pdf):
        return fold(pdf.sort_values(order, kind="mergesort").reset_index(drop=True))

    if keys:
        width = df.sparkSession.sparkContext.defaultParallelism
        df = df.repartition(width, *[F.col(k) for k in keys])
    return df.groupBy(*keys).applyInPandas(run, schema=schema)


class UnboundedBuildError(RuntimeError):
    """Raised by :func:`assert_bounded` when a frame claimed to be
    bounded-by-assumption (e.g. a classifier's label set about to be
    broadcast) turns out to be data-sized."""


def assert_bounded(df: DataFrame, max_rows: int, what: str) -> DataFrame:
    """Runtime fence for broadcast/crossJoin build sides whose
    boundedness is a DOMAIN assumption rather than a structural one
    (scalar aggregates and Limits are plan-provably bounded; a
    grouped aggregate on a label column is only bounded because label
    spaces are small). Persists ``df``, counts it once (the frame is
    about to be reused anyway), and raises :class:`UnboundedBuildError`
    if the assumption is violated — failing LOUDLY at the fence instead
    of dying opaquely at the broadcast build on a 100 TB corpus.

    The registry-wide plan census (tools/plan_report.py) whitelists
    nested-loop builds that pass through this fence by query name, with
    this function as the enforcement backing the whitelist entry.
    """
    df = tracked_persist(df)
    n = df.limit(max_rows + 1).count()
    if n > max_rows:
        raise UnboundedBuildError(
            f"{what}: build side exceeds the bounded-broadcast fence "
            f"(> {max_rows} rows) — this frame scales with the data and "
            "must not be broadcast/nested-loop joined"
        )
    return df
