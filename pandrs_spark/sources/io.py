"""Sources & sinks (SURVEY.md §2.1) — Spark-first IO surface.

Covers the reference's IO inventory with idiomatic Spark readers/writers:

- CSV read/write            (/root/reference src/io/csv.rs:11,74;
                             src/optimized/split_dataframe/io.rs:82,222)
- Parquet read/write        (src/io/parquet.rs:175,369) incl. compression,
  metadata/row-group/column stats (:582,:622,:666), chunked reading
  (:1350), schema evolution (:1440), predicate pushdown (:1502)
- JSON read/write, records/columns orient (src/io/json.rs:13,103)
- SQL/JDBC read/write       (src/io/sql/operations.rs:118,224)
- Cloud object storage      (src/connectors/cloud.rs:198,380,492) — in
  Spark this is just a path scheme (``s3a://``, ``gs://``, ``abfss://``)
  plus Hadoop connector config; no connector classes needed.

Scale posture: every reader returns a lazy DataFrame whose scan
participates in Catalyst pushdown — filters and column pruning reach the
parquet footer (row-group skipping) automatically. The reference's
"chunked reader" and "advanced" variants exist because it is a
single-process engine; on Spark, chunking IS partitioning
(``spark.sql.files.maxPartitionBytes``), exposed here as an option.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "read_csv",
    "commit_table_version",
    "read_table_version",
    "expire_table_versions",
    "write_csv",
    "read_json",
    "write_json",
    "read_parquet",
    "write_parquet",
    "parquet_metadata",
    "parquet_row_groups",
    "parquet_column_stats",
    "read_parquet_chunked",
    "read_jdbc",
    "write_jdbc",
    "read_excel",
    "write_excel",
    "list_excel_sheets",
    "write_excel_multi",
    "write_bucketed_table",
    "read_table",
    "schema_drift",
    "drop_managed_table",
]


# --- CSV ---------------------------------------------------------------------
def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    schema: Any | None = None,
    sep: str = ",",
    null_value: str | None = None,
    infer_schema: bool = True,
    **options: str | bool,
) -> DataFrame:
    """``read_csv(path, has_header)`` parity (src/io/csv.rs:11).

    Prefer an explicit ``schema`` at scale: ``inferSchema`` triggers an
    extra full pass over the data. Extra dialect options (multiLine,
    escape, quote, comment, ...) pass straight through to the Spark
    CSV reader.
    """
    reader = spark.read.option("header", header).option("sep", sep)
    for k, v in options.items():
        reader = reader.option(k, v)
    if null_value is not None:
        reader = reader.option("nullValue", null_value)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", infer_schema)
    return reader.csv(path)


def write_csv(
    df: DataFrame,
    path: str,
    header: bool = True,
    sep: str = ",",
    mode: str = "overwrite",
    single_file: bool = False,
) -> None:
    """``write_csv`` parity (src/io/csv.rs:74). ``single_file`` mimics the
    reference's one-file output (coalesce(1) — driver-scale only; leave
    False for cluster-scale multi-part output)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", header).option("sep", sep).csv(path)


# --- JSON --------------------------------------------------------------------
def read_json(
    spark: SparkSession, path: str, orient: str = "records", multiline: bool = False
) -> DataFrame:
    """``read_json`` parity (src/io/json.rs:13).

    ``records`` orient = JSON-lines, Spark-native and distributed.
    ``columns`` orient ({col: {row_label: value}}) is a driver-side
    format by construction (one object spanning the whole dataset) — we
    transpose it on the driver and parallelize, matching the reference's
    single-node behavior.
    """
    if orient == "records":
        return spark.read.option("multiLine", multiline).json(path)
    if orient == "columns":
        with open(path) as fh:
            payload = json.load(fh)
        cols = list(payload)
        labels: list[str] = sorted({k for col in payload.values() for k in col})
        rows = [
            {"__index__": lbl, **{c: payload[c].get(lbl) for c in cols}}
            for lbl in labels
        ]
        return spark.createDataFrame(rows)  # type: ignore[arg-type]
    raise ValueError(f"unsupported orient: {orient!r}")


def write_json(
    df: DataFrame, path: str, orient: str = "records", mode: str = "overwrite"
) -> None:
    """``write_json`` with records/columns orient (src/io/json.rs:103)."""
    if orient == "records":
        df.write.mode(mode).json(path)
        return
    if orient == "columns":
        # Whole-frame transpose is inherently driver-side; guarded use only.
        pdf = df.toPandas()
        payload = {c: {str(i): v for i, v in pdf[c].items()} for c in pdf.columns}
        with open(path, "w") as fh:
            json.dump(payload, fh, default=str)
        return
    raise ValueError(f"unsupported orient: {orient!r}")


# --- Parquet -----------------------------------------------------------------
def read_parquet(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    predicate: str | None = None,
    merge_schema: bool = False,
    recursive: bool = False,
) -> DataFrame:
    """Parquet scan with explicit pushdown hooks.

    ``predicate``/``columns`` compile into the scan (check
    ``plans.pushed_filters`` / ``ReadSchema``) — the reference needs
    bespoke ``read_parquet_with_predicates`` (src/io/parquet.rs:1502) and
    schema-evolution (:1440) entry points; here they are reader options.
    """
    df = (
        spark.read.option("mergeSchema", merge_schema)
        .option("recursiveFileLookup", recursive)
        .parquet(path)
    )
    if predicate:
        df = df.filter(predicate)
    if columns:
        df = df.select(*columns)
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    compression: str = "snappy",
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """``write_parquet(df, path, compression)`` parity (src/io/parquet.rs:369).

    ``partition_by`` adds hive-style partitioning — the scale feature the
    single-node reference lacks; downstream reads get partition pruning.
    """
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def _parquet_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def parquet_metadata(path: str) -> dict[str, Any]:
    """Footer metadata (src/io/parquet.rs:582): rows, row groups, schema."""
    import pyarrow.parquet as pq

    files = _parquet_files(path)
    metas = [pq.ParquetFile(f).metadata for f in files]
    return {
        "num_files": len(files),
        "num_rows": sum(m.num_rows for m in metas),
        "num_row_groups": sum(m.num_row_groups for m in metas),
        "num_columns": metas[0].num_columns if metas else 0,
        "columns": list(pq.read_schema(files[0]).names) if files else [],
        "created_by": metas[0].created_by if metas else None,
    }


def parquet_row_groups(path: str) -> list[dict[str, Any]]:
    """Per-row-group info (src/io/parquet.rs:622)."""
    import pyarrow.parquet as pq

    out = []
    for f in _parquet_files(path):
        meta = pq.ParquetFile(f).metadata
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            out.append(
                {
                    "file": os.path.basename(f),
                    "row_group": i,
                    "num_rows": rg.num_rows,
                    "total_byte_size": rg.total_byte_size,
                }
            )
    return out


def parquet_column_stats(path: str, column: str) -> dict[str, Any]:
    """Footer column statistics (src/io/parquet.rs:666) — min/max/nulls
    straight from row-group stats, no data scan (this is exactly what
    Spark's row-group skipping consults when a filter is pushed down)."""
    import pyarrow.parquet as pq

    mins: list[Any] = []
    maxs: list[Any] = []
    nulls = 0
    for f in _parquet_files(path):
        meta = pq.ParquetFile(f).metadata
        idx = list(pq.read_schema(f).names).index(column)
        for i in range(meta.num_row_groups):
            st = meta.row_group(i).column(idx).statistics
            if st is not None:
                if st.has_min_max:
                    mins.append(st.min)
                    maxs.append(st.max)
                nulls += st.null_count or 0
    return {
        "column": column,
        "min": min(mins) if mins else None,
        "max": max(maxs) if maxs else None,
        "null_count": nulls,
    }


def read_parquet_chunked(path: str, chunk_size: int = 65536) -> Iterator[Any]:
    """``ParquetChunkedReader`` parity (src/io/parquet.rs:1350) — yields
    pandas chunks. Single-node convenience only: the distributed
    equivalent is ordinary partitioned reading (``maxPartitionBytes``)."""
    import pyarrow.parquet as pq

    for f in _parquet_files(path):
        for batch in pq.ParquetFile(f).iter_batches(batch_size=chunk_size):
            yield batch.to_pandas()


# --- JDBC --------------------------------------------------------------------
def read_jdbc(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """``read_sql`` parity (src/io/sql/operations.rs:118) over JDBC.

    ``partition_column`` + bounds split the read into ``num_partitions``
    parallel range queries — the distributed upgrade over the
    reference's single-connection reader. Integration-tested end-to-end
    against embedded Derby (on Spark's classpath; see
    tests/test_sources.py::test_jdbc_roundtrip_embedded_derby); for
    external engines callers add the driver via ``spark.jars.packages``.
    """
    reader = spark.read.format("jdbc").option("url", url)
    q = table_or_query.strip()
    if q.lower().startswith("select"):
        reader = reader.option("query", q)
    else:
        reader = reader.option("dbtable", q)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound or 0)
            .option("upperBound", upper_bound or 1_000_000)
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
) -> None:
    """``write_to_sql`` parity (src/io/sql/operations.rs:224)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


# --- Excel (src/io/excel.rs:185,378 — 1.3k LoC in the reference) -------------
def read_excel(
    spark: SparkSession,
    path: str,
    sheet_name: str | int = 0,
    header: int | None = 0,
) -> DataFrame:
    """Excel ingest via pandas on the driver → ``createDataFrame``.

    Excel files are driver-scale by nature (xlsx is a zipped XML DOM —
    no splittable columnar layout), so driver-side parsing + parallelize
    is the honest distributed story; the cluster path is "convert to
    parquet upstream". Requires ``openpyxl``; raises a clear error when
    the engine is missing (not shipped in this container).
    """
    import pandas as pd

    try:
        pdf = pd.read_excel(path, sheet_name=sheet_name, header=header)
    except ImportError:  # openpyxl/xlrd missing → stdlib fallback engine
        from pandrs_spark.sources.xlsx_lite import read_xlsx

        cols, rows = read_xlsx(
            path, sheet=sheet_name, header=header is not None
        )
        pdf = pd.DataFrame(rows, columns=cols)
    return spark.createDataFrame(pdf)


def list_excel_sheets(path: str) -> list[str]:
    """Sheet names in workbook order (reference src/io/excel.rs:480)."""
    from pandrs_spark.sources.xlsx_lite import list_sheets

    return list_sheets(path)


def write_excel_multi(dfs: "dict[str, DataFrame]", path: str) -> None:
    """Write several DataFrames as one multi-sheet workbook
    (driver-scale, like all Excel IO here)."""
    from pandrs_spark.sources.xlsx_lite import write_xlsx_multi

    sheets = {}
    for name, df in dfs.items():
        pdf = df.toPandas()
        sheets[name] = (
            [str(c) for c in pdf.columns],
            list(pdf.itertuples(index=False, name=None)),
        )
    write_xlsx_multi(path, sheets)


def write_excel(df: DataFrame, path: str, sheet_name: str = "Sheet1") -> None:
    """Excel export via toPandas on the driver (small frames only)."""
    pdf = df.toPandas()
    try:
        pdf.to_excel(path, sheet_name=sheet_name, index=False)
    except ImportError:  # openpyxl missing → stdlib fallback engine
        from pandrs_spark.sources.xlsx_lite import write_xlsx

        write_xlsx(
            path,
            [str(c) for c in pdf.columns],
            list(pdf.itertuples(index=False, name=None)),
            sheet_name=sheet_name,
        )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (Hive bucketing): rows are hash-split on
    ``bucket_cols`` into ``n_buckets`` files per partition at WRITE
    time, so a later equi-join or aggregation on those columns reads
    co-located data and skips its shuffle entirely — the pre-shuffle
    half of the scale playbook (broadcast covers small dims; bucketing
    covers fact-to-fact joins the reference's single-node engine never
    needs). ``sort_cols`` additionally sorts within each bucket, which
    upgrades the shuffle-free join to a shuffle-AND-sort-free merge
    join."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a managed (possibly bucketed) table back."""
    return spark.table(table)


def schema_drift(path_a: str, path_b: str) -> list[dict[str, Any]]:
    """Detect schema drift between two parquet datasets (the
    pipeline-evolution guard: a producer silently adding, dropping, or
    retyping a column should fail loudly BEFORE a 100 TB backfill, not
    as a midnight cast error). Footer-only comparison via pyarrow — no
    data is read.

    Returns one dict per drifted column:
    {column, change: added|removed|type_changed, type_a, type_b}.
    Empty list = schemas compatible (column order is ignored; parquet
    is name-addressed).
    """
    import pyarrow.parquet as pq

    def _merged_fields(path: str) -> dict[str, str]:
        # Union field/type maps across ALL footer schemas in the path:
        # producer evolution typically drifts BETWEEN files of one
        # dataset, and relying on a single "first" file would make the
        # result depend on directory listing order. A column seen with
        # conflicting types within one path is reported as the sorted
        # "|"-join of those types (which then compares unequal to any
        # single type on the other side — drift surfaces, not hides).
        types: dict[str, set[str]] = {}
        for f in _parquet_files(path):
            for field in pq.read_schema(f):
                types.setdefault(field.name, set()).add(str(field.type))
        return {name: "|".join(sorted(ts)) for name, ts in types.items()}

    fa = _merged_fields(path_a)
    fb = _merged_fields(path_b)
    out: list[dict[str, Any]] = []
    for name in sorted(fa.keys() | fb.keys()):
        ta, tb = fa.get(name), fb.get(name)
        if ta is None:
            out.append({"column": name, "change": "added", "type_a": None, "type_b": tb})
        elif tb is None:
            out.append({"column": name, "change": "removed", "type_a": ta, "type_b": None})
        elif ta != tb:
            out.append({"column": name, "change": "type_changed", "type_a": ta, "type_b": tb})
    return out


def drop_managed_table(spark: SparkSession, table: str) -> None:
    """Drop a managed table AND its warehouse directory. A fresh
    session's in-memory catalog does not know about a previous run's
    table, so ``saveAsTable`` hits LOCATION_ALREADY_EXISTS on the
    leftover directory — this clears both sides idempotently."""
    import re
    import shutil
    from urllib.parse import urlparse

    # Validate BEFORE interpolating into SQL / rmtree: the table name
    # is the only user input that reaches a destructive filesystem op.
    parts = table.split(".")
    if len(parts) > 2 or not all(
        re.fullmatch(r"[A-Za-z0-9_]+", p) for p in parts
    ):
        raise ValueError(
            f"drop_managed_table: invalid table name {table!r} "
            "(expected [db.]table with [A-Za-z0-9_]+ parts)"
        )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    root = wh.path or wh.geturl()
    # Warehouse layout: default-db tables live at <wh>/<tbl>; qualified
    # names at <wh>/<db>.db/<tbl> ('db.tbl' does NOT map to <wh>/db.tbl).
    if len(parts) == 2:
        path = os.path.join(root, f"{parts[0].lower()}.db", parts[1].lower())
    else:
        path = os.path.join(root, parts[0].lower())
    shutil.rmtree(path, ignore_errors=True)


def read_orc(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    predicate: str | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """ORC scan (beyond the reference's format registry,
    src/io/format_traits.rs:438 — its enum carries only streaming wire
    formats; ORC is the other columnar format a Spark warehouse will
    actually hold). Same pushdown contract as :func:`read_parquet`:
    ``predicate``/``columns`` compile into the scan (ORC supports
    predicate pushdown + column pruning natively in Spark)."""
    df = spark.read.option("mergeSchema", merge_schema).orc(path)
    if predicate:
        df = df.filter(predicate)
    if columns:
        df = df.select(*columns)
    return df


def write_orc(
    df: DataFrame,
    path: str,
    compression: str = "zstd",
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC writer with hive-style partitioning (parity twin of
    :func:`write_parquet`)."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_feather(spark: SparkSession, path: str) -> DataFrame:
    """Arrow IPC / Feather ingest (src/io/format_traits.rs:444 lists
    Arrow as a wire format). Spark has no native Feather source, so the
    file is read DRIVER-SIDE via pyarrow and distributed with
    createDataFrame — the same driver-hop contract as :func:`read_excel`,
    for interchange files, not 100 TB fact tables (those are
    parquet/ORC). Arrow-backed createDataFrame keeps the hop zero-copy
    per batch."""
    import pyarrow.feather as feather

    table = feather.read_table(path)
    return spark.createDataFrame(table.to_pandas())


def write_feather(df: DataFrame, path: str, compression: str = "zstd") -> None:
    """Arrow IPC / Feather export via the driver (collect → Arrow
    table). Same small-file contract as :func:`read_feather`."""
    import pyarrow as pa
    import pyarrow.feather as feather

    table = pa.Table.from_pandas(df.toPandas())
    feather.write_feather(table, path, compression=compression)


def list_data_files(spark, path: str) -> list[tuple[str, int]]:
    """Recursive (path, bytes) listing of a table directory through the
    Hadoop FileSystem API — scheme-agnostic (file://, s3a://, …), the
    same listing the scan planner uses. Metadata sidecars (_SUCCESS,
    checksums, hidden files) are excluded."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    out: list[tuple[str, int]] = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        out.append((status.getPath().toString(), int(status.getLen())))
    return sorted(out)


def compact_files(
    spark,
    src_path: str,
    dest_path: str,
    target_bytes: int = 128 << 20,
    fmt: str = "parquet",
) -> dict[str, int]:
    """Small-file compaction — the lakehouse table-maintenance job
    (Delta OPTIMIZE / Iceberg rewrite_data_files shape). Small files
    are the classic scan-planning killer at scale: per-file open cost
    and per-file listing dominate once files ≪
    spark.sql.files.maxPartitionBytes.

    One pass: list via the Hadoop FS API, size the output file count
    as ceil(total_bytes / target_bytes), rewrite through a round-robin
    ``repartition(n)`` (even output sizes; ``coalesce`` would skip the
    shuffle but inherits input skew). Returns
    {files_before, bytes_before, files_after} — ``files_after`` equals
    the computed target exactly because repartition(n) writes one file
    per partition. Reference: file-maintenance surface of
    src/io/parquet.rs (behavioral spec only).
    """
    import math

    before = list_data_files(spark, src_path)
    total = sum(b for _, b in before)
    n_target = max(1, math.ceil(total / target_bytes))
    df = spark.read.format(fmt).load(src_path)
    df.repartition(n_target).write.format(fmt).mode("overwrite").save(
        dest_path
    )
    after = list_data_files(spark, dest_path)
    return {
        "files_before": len(before),
        "bytes_before": total,
        "files_after": len(after),
    }


def _require_local_table_dir(table_dir: str, op: str) -> None:
    """Manifest IO for the versioned-table trio goes through the local
    filesystem (os.listdir/open/os.remove) while the DATA files go
    through Spark's scheme-agnostic writers — so on a remote scheme
    (s3a://, hdfs://, gs://, abfss://) manifests would silently land
    in the wrong place or expiry would delete nothing while reporting
    success. Fail fast instead of corrupting: the contract is
    local-filesystem table dirs only (a production port would route
    manifest IO through the Hadoop FileSystem API like
    :func:`list_data_files` does)."""
    if "://" in table_dir and not table_dir.startswith("file://"):
        raise ValueError(
            f"{op} manages manifests via local-filesystem IO; "
            f"got non-local table_dir {table_dir!r}. Use a local path "
            "(or file://) — remote schemes are not supported by the "
            "manifest layer."
        )


def commit_table_version(
    spark,
    df,
    table_dir: str,
    mode: str = "append",
    fmt: str = "parquet",
) -> int:
    """Manifest-based snapshot commit — the minimal lakehouse
    time-travel shape (Delta/Iceberg transaction-log semantics;
    reference's versioned-write surface around src/io/parquet.rs is
    the behavioral spec). LOCAL-FILESYSTEM table dirs only (manifests
    are managed with local IO — see :func:`_require_local_table_dir`).
    Each commit writes its data files into a
    PRIVATE subdirectory ``data/commit-N/`` and then records the full
    LIVE file list in ``_versions/vN.json``:

    - ``append``  — previous version's live files + this commit's
    - ``overwrite`` — this commit's files only

    Readers resolve a manifest, never a directory listing, so commits
    are atomic-by-last-write and old snapshots stay readable (data
    files are immutable; nothing is deleted). Returns the new version
    number. Scale: the manifest holds file paths only — O(files), not
    O(rows) — and the data write is an ordinary distributed write.
    """
    import json
    import os

    _require_local_table_dir(table_dir, "commit_table_version")
    vdir = os.path.join(table_dir, "_versions")
    os.makedirs(vdir, exist_ok=True)
    versions = sorted(
        int(f[1:-5]) for f in os.listdir(vdir)
        if f.startswith("v") and f.endswith(".json")
    )
    new_v = (versions[-1] + 1) if versions else 1
    commit_dir = os.path.join(table_dir, "data", f"commit-{new_v}")
    df.write.format(fmt).mode("errorifexists").save(commit_dir)
    new_files = [p for p, _ in list_data_files(spark, commit_dir)]
    if mode == "append" and versions:
        with open(os.path.join(vdir, f"v{versions[-1]}.json")) as fh:
            prev = json.load(fh)["files"]
    elif mode in ("append", "overwrite"):
        prev = []
    else:
        raise ValueError(f"unknown mode: {mode!r}")
    live = (prev + new_files) if mode == "append" else new_files
    with open(os.path.join(vdir, f"v{new_v}.json"), "w") as fh:
        json.dump({"version": new_v, "mode": mode, "files": live}, fh)
    return new_v


def read_table_version(spark, table_dir: str, version: int | None = None, fmt: str = "parquet"):
    """Snapshot read of a :func:`commit_table_version` table: resolve
    the requested (or latest) manifest and scan exactly its live file
    set. Time travel = pass an older version number. Local-filesystem
    table dirs only (see :func:`_require_local_table_dir`)."""
    import json
    import os

    _require_local_table_dir(table_dir, "read_table_version")
    vdir = os.path.join(table_dir, "_versions")
    versions = sorted(
        int(f[1:-5]) for f in os.listdir(vdir)
        if f.startswith("v") and f.endswith(".json")
    )
    if not versions:
        raise FileNotFoundError(f"no versions committed under {table_dir}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(f"version {v} not in {versions}")
    with open(os.path.join(vdir, f"v{v}.json")) as fh:
        manifest = json.load(fh)
    return spark.read.format(fmt).load(manifest["files"])


def expire_table_versions(table_dir: str, keep_last: int = 1) -> dict[str, int]:
    """Snapshot expiry for :func:`commit_table_version` tables — the
    Delta VACUUM / Iceberg expire_snapshots shape: drop all but the
    newest ``keep_last`` manifests, then delete data files no surviving
    manifest references. Metadata-only bookkeeping plus file deletes —
    O(files), never O(rows). Returns
    {versions_removed, files_deleted, versions_kept}.

    Readers of an expired version get a clean FileNotFoundError from
    :func:`read_table_version` (its manifest is gone) rather than a
    partial scan: manifests are removed BEFORE their now-orphaned data
    files. Local-filesystem table dirs only (see
    :func:`_require_local_table_dir` — on a remote scheme expiry would
    delete nothing while still removing manifests)."""
    import json
    import os

    _require_local_table_dir(table_dir, "expire_table_versions")
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vdir = os.path.join(table_dir, "_versions")
    versions = sorted(
        int(f[1:-5]) for f in os.listdir(vdir)
        if f.startswith("v") and f.endswith(".json")
    )
    drop, keep = versions[:-keep_last], versions[-keep_last:]
    live: set[str] = set()
    for v in keep:
        with open(os.path.join(vdir, f"v{v}.json")) as fh:
            live.update(json.load(fh)["files"])
    doomed: set[str] = set()
    for v in drop:
        p = os.path.join(vdir, f"v{v}.json")
        with open(p) as fh:
            doomed.update(json.load(fh)["files"])
        os.remove(p)
    n_deleted = 0
    for f in sorted(doomed - live):
        path = f[len("file:"):] if f.startswith("file:") else f
        if os.path.exists(path):
            os.remove(path)
            n_deleted += 1
    return {
        "versions_removed": len(drop),
        "files_deleted": n_deleted,
        "versions_kept": len(keep),
    }
