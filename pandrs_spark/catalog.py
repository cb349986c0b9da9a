"""Table catalog over the driver-provided TPC-H-ish parquet layout.

Mirrors the reference's table-registration entry points
(``register_dataframe/csv/parquet`` — /root/reference
src/distributed/core/context.rs:91,110,118) with Spark temp views.
Reads are ``spark.read.parquet`` scans, so Catalyst gets predicate
pushdown, column pruning and partition pruning for free at any scale.

Table metadata is resolved once per file, not once per load: a bare
``spark.read.parquet`` launches a one-task Spark job only to infer the
schema (0.09–0.14 s on a warm sf0.1 session), so
:func:`read_parquet_raw` memoises each file's (TIMESTAMP(NANOS) columns,
raw Spark schema) at its first read, and every later read hands that
schema to ``spark.read.schema(...)``, which plans the same scan with no
job. The memo holds metadata only (the in-memory data cache is
:func:`enable_cache`, the bench's separate path); an entry is reused
only while the file's (mtime, size) is unchanged, so a rewritten file is
inferred again; it is guarded by a lock, so loads in threads can share
it.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pandrs_spark.operators.util import scoped_conf

__all__ = [
    "TABLES",
    "disable_cache",
    "enable_cache",
    "load_table",
    "load_tables",
    "register_views",
    "default_sf_dir",
    "ensure_nanos_readable",
    "read_parquet_raw",
]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Optional in-memory table cache. The reference's published numbers
# (BASELINE.md) time operators over already-loaded in-memory frames, so
# the bench enables this for an apples-to-apples comparison; correctness
# runs leave it off and scan parquet directly.
_CACHE_ENABLED = False
_CACHE: dict[tuple[str, str], DataFrame] = {}


def enable_cache(warm: bool = False, spark: SparkSession | None = None, sf_dir: str | None = None) -> None:
    global _CACHE_ENABLED
    _CACHE_ENABLED = True
    if warm and spark is not None and sf_dir is not None:
        # Small parquet files arrive as 1-3 scan partitions (one per
        # ~128MB split), which would cap every downstream stage at that
        # parallelism. Repartition the cache by row volume so warm-cache
        # scans use the whole machine — the in-memory analogue of tuning
        # spark.sql.files.maxPartitionBytes for the cluster.
        # ~40k rows/task keeps task-launch overhead amortized while the
        # largest table still fans out to half the cores (measured: 16
        # partitions beat 30 by ~10% and 64 by ~30% on the cached
        # 600k-row groupBy — task overhead dominates below ~40k rows).
        target_rows_per_partition = 40_000
        max_parts = spark.sparkContext.defaultParallelism
        for t in TABLES:
            key = (sf_dir, t)
            if key in _CACHE:
                _CACHE[key].count()
                continue
            df = _load_table_uncached(spark, sf_dir, t)
            parts = max(1, min(max_parts, df.count() // target_rows_per_partition))
            if parts > df.rdd.getNumPartitions():
                df = df.repartition(parts)
            _CACHE[key] = df.cache()
            _CACHE[key].count()


def disable_cache() -> None:
    """Drop the in-memory table cache and return to direct parquet
    scans (bench.py's cold companion pass; tests)."""
    global _CACHE_ENABLED
    _CACHE_ENABLED = False
    for df in _CACHE.values():
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — session may already be gone
            pass
    _CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if _CACHE_ENABLED:
        key = (sf_dir, name)
        if key not in _CACHE:
            _CACHE[key] = _load_table_uncached(spark, sf_dir, name).cache()
        return _CACHE[key]
    return _load_table_uncached(spark, sf_dir, name)


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table and normalize dtype drift.

    The scan is planned from the memoised schema
    (:func:`read_parquet_raw`), so only the first load of a file in a
    process pays Spark's schema-inference job; later loads of an
    unchanged file launch no job at all.

    The driver has regenerated the testdata with different physical
    types between rounds (events.ts shipped as TIMESTAMP(NANOS) in one
    round and timestamp[us] the next), so the loader dispatches on the
    ARRIVING dtype instead of assuming a layout:

    - raw nanos (bigint under ``nanosAsLong``) → rebuild a truncating
      microsecond timestamp (the value DuckDB produces);
    - TIMESTAMP_NTZ (Spark 4's native read of timestamp[us]) → cast to
      session-TZ TIMESTAMP. The session timezone is pinned to UTC
      (session.py), so the cast is wall-clock-preserving and matches
      DuckDB's naive read, while restoring the full timestamp function
      surface (unix_micros etc. reject NTZ inputs);
    - anything else passes through unchanged.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos_cols, df = read_parquet_raw(spark, path)
    if nanos_cols is None:
        # footer unreadable: convert known timestamp-named bigints
        nanos_cols = _NANOS_TS_COLS
    from pyspark.sql import functions as F

    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
        elif dtype == "bigint" and col in nanos_cols:
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"CAST({col} DIV 1000 AS BIGINT)"))
            )
    return df


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# path -> (stamp, (nanos columns or None, raw Spark schema))
_SCHEMAS: dict[str, tuple[tuple, tuple[set[str] | None, StructType]]] = {}
_SCHEMAS_LOCK = threading.Lock()


def _stamp(path: str) -> tuple | None:
    """What a rewrite of ``path`` alters: (mtime_ns, size) of the file,
    or of every file under a dataset directory. None when ``path`` is
    not local (then nothing is memoised)."""
    try:
        if os.path.isdir(path):
            files = sorted(
                os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            )
        else:
            files = [path]
        return tuple(
            (f, st.st_mtime_ns, st.st_size) for f in files for st in [os.stat(f)]
        )
    except OSError:
        return None


def _memo_hit(path: str, stamp: tuple | None):
    """The memoised (nanos columns, raw schema) of ``path`` if its stamp
    still matches, else None."""
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(path)
    if stamp is None or hit is None or hit[0] != stamp:
        return None
    return hit[1]


def read_parquet_raw(
    spark: SparkSession, path: str
) -> tuple[set[str] | None, DataFrame]:
    """(TIMESTAMP(NANOS) columns or None, raw DataFrame) of the parquet
    file or dataset at ``path``, with the schema memoised per path.

    The first read of a file infers its schema (one Spark job) and
    memoises it with the footer's nanos columns
    (:func:`_nanos_timestamp_cols`); later reads hand the schema to
    ``spark.read.schema``, which plans the same scan with no job. Both
    read under the ``nanosAsLong`` setting the footer calls for. An
    entry is reused only while its stamp (:func:`_stamp`: the file's
    mtime and size) still matches. Thread-safe: concurrent first reads
    each infer, and store the same entry."""
    stamp = _stamp(path)
    meta = _memo_hit(path, stamp)
    if meta is not None:
        nanos_cols, raw = meta
        return nanos_cols, _read(spark, spark.read.schema(raw), path, nanos_cols)
    nanos_cols = _nanos_timestamp_cols(path)
    df = _read(spark, spark.read, path, nanos_cols)
    if stamp is not None:
        with _SCHEMAS_LOCK:
            _SCHEMAS[path] = (stamp, (nanos_cols, df.schema))
    return nanos_cols, df


def _read(spark: SparkSession, reader, path: str, nanos_cols) -> DataFrame:
    """``reader.parquet(path)`` under the ``nanosAsLong`` setting the
    footer's ``nanos_cols`` call for."""
    if nanos_cols is None:
        # Footer inspection unavailable (no pyarrow / unreadable
        # footer): fall back to the name-based heuristic — set the conf
        # (harmless when no nanos columns exist); the loader converts
        # known timestamp-named bigints.
        spark.conf.set(_NANOS_AS_LONG, "true")
        return reader.parquet(path)
    if nanos_cols:
        # TIMESTAMP(NANOS) only surfaces as a readable type under
        # nanosAsLong. Scope the conf to this read: the hadoop conf is
        # captured when the DataFrame is created, so restoring right
        # after spark.read.parquet does not disturb the (lazy) scan,
        # and unrelated reads in the session are unaffected.
        with scoped_conf(spark, _NANOS_AS_LONG, "true"):
            return reader.parquet(path)
    return reader.parquet(path)


# Name-based fallback when the parquet footer can't be inspected:
# bigint columns with these names are assumed TIMESTAMP(NANOS).
_NANOS_TS_COLS = {"ts", "o_orderdate", "l_shipdate", "l_commitdate", "l_receiptdate"}


def _nanos_timestamp_cols(path: str) -> set[str] | None:
    """Columns whose parquet footer logical type is TIMESTAMP(NANOS),
    or None when the footer can't be inspected.

    Dispatching on the footer (via pyarrow) instead of column NAME means
    a genuine bigint column — even one named ``ts`` carrying epoch
    millis/seconds — passes through untouched rather than being silently
    divided into 1970 dates. Footer-only, so cost is O(files), not
    O(rows)."""
    try:
        import pyarrow as pa
        import pyarrow.dataset as ds

        schema = ds.dataset(path, format="parquet").schema
        return {
            name
            for name, typ in zip(schema.names, schema.types)
            if pa.types.is_timestamp(typ) and typ.unit == "ns"
        }
    except Exception:
        return None


def ensure_nanos_readable(spark: SparkSession, path: str) -> bool:
    """For RAW or STREAMING parquet reads outside :func:`load_table`
    (which cannot scope the conf — a streaming query plans and executes
    asynchronously): if the footer carries TIMESTAMP(NANOS) columns (or
    can't be inspected), set ``nanosAsLong`` for the session and return
    True. Leaving it set is safe for this engine — the loader dispatches
    on the footer, not the conf — and is required for the stream's whole
    lifetime. No-op (returns False) for non-nanos layouts, so the common
    case never touches session state. The footer's nanos columns come
    from the :func:`read_parquet_raw` memo when the file was read
    before."""
    meta = _memo_hit(path, _stamp(path))
    nanos = meta[0] if meta is not None else _nanos_timestamp_cols(path)
    if nanos is None or nanos:
        spark.conf.set(_NANOS_AS_LONG, "true")
        return True
    return False


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (SQL entry point parity)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
