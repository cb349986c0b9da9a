"""Sources/sinks (SURVEY.md §2.1): CSV/JSON/Parquet roundtrips, orient
variants, schema evolution, footer metadata, chunked reads."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pandrs_spark.sources import io as pio
from pandrs_spark.operators.util import small_local_df


@pytest.fixture()
def small_df(spark):
    return small_local_df(
        spark, [(1, "a", 1.5), (2, "b", None), (3, None, 3.0)],
        "id bigint, name string, score double",
    )


def _sorted_rows(df):
    return [tuple(r) for r in df.orderBy("id").collect()]


def test_csv_roundtrip(spark, small_df, tmp_path):
    path = str(tmp_path / "csv_out")
    pio.write_csv(small_df, path)
    back = pio.read_csv(spark, path, schema="id bigint, name string, score double")
    assert _sorted_rows(back) == _sorted_rows(small_df)


def test_csv_options(spark, small_df, tmp_path):
    path = str(tmp_path / "csv_opts")
    pio.write_csv(small_df, path, sep=";", single_file=True)
    files = [f for f in os.listdir(path) if f.endswith(".csv")]
    assert len(files) == 1  # single_file coalesces
    back = pio.read_csv(spark, path, sep=";")
    assert back.count() == 3


def test_json_records_roundtrip(spark, small_df, tmp_path):
    path = str(tmp_path / "json_out")
    pio.write_json(small_df, path)
    back = pio.read_json(spark, path).select("id", "name", "score")
    assert _sorted_rows(back) == _sorted_rows(small_df)


def test_json_columns_orient(spark, small_df, tmp_path):
    path = str(tmp_path / "cols.json")
    pio.write_json(small_df, path, orient="columns")
    back = pio.read_json(spark, path, orient="columns")
    assert back.count() == 3
    assert set(back.columns) == {"__index__", "id", "name", "score"}
    assert {r["name"] for r in back.collect()} == {"a", "b", None}


def test_parquet_roundtrip_compression(spark, small_df, tmp_path):
    for comp in ("snappy", "zstd", "gzip"):
        path = str(tmp_path / f"pq_{comp}")
        pio.write_parquet(small_df, path, compression=comp)
        assert _sorted_rows(pio.read_parquet(spark, path)) == _sorted_rows(small_df)


def test_parquet_partition_by_prunes(spark, small_df, tmp_path):
    path = str(tmp_path / "pq_part")
    pio.write_parquet(small_df.withColumn("part", F.col("id") % 2), path, partition_by=["part"])
    back = pio.read_parquet(spark, path, predicate="part = 1")
    assert sorted(r["id"] for r in back.collect()) == [1, 3]


def test_parquet_schema_evolution(spark, small_df, tmp_path):
    path = str(tmp_path / "pq_evo")
    pio.write_parquet(small_df, path + "/v1")
    pio.write_parquet(small_df.withColumn("extra", F.lit("x")), path + "/v2")
    back = pio.read_parquet(spark, path, merge_schema=True, recursive=True)
    assert "extra" in back.columns
    assert back.count() == 6


def test_parquet_metadata_and_stats(small_df, tmp_path, spark):
    path = str(tmp_path / "pq_meta")
    pio.write_parquet(small_df.coalesce(1), path)
    meta = pio.parquet_metadata(path)
    assert meta["num_rows"] == 3
    assert set(meta["columns"]) == {"id", "name", "score"}
    rgs = pio.parquet_row_groups(path)
    assert sum(rg["num_rows"] for rg in rgs) == 3
    stats = pio.parquet_column_stats(path, "id")
    assert (stats["min"], stats["max"]) == (1, 3)
    sstats = pio.parquet_column_stats(path, "score")
    assert sstats["null_count"] == 1


def test_parquet_chunked(small_df, tmp_path, spark):
    path = str(tmp_path / "pq_chunk")
    pio.write_parquet(small_df.coalesce(1), path)
    chunks = list(pio.read_parquet_chunked(path, chunk_size=2))
    assert sum(len(c) for c in chunks) == 3
    assert len(chunks) >= 2


def test_read_testdata_csv_like(spark, sf_dir, tmp_path):
    # full loop against driver testdata: parquet -> csv -> parquet
    nation = pio.read_parquet(spark, os.path.join(sf_dir, "nation.parquet"))
    csv_path = str(tmp_path / "nation_csv")
    pio.write_csv(nation, csv_path)
    back = pio.read_csv(spark, csv_path)
    assert back.count() == nation.count()


def test_excel_roundtrip_or_clear_error(spark, small_df, tmp_path):
    """Excel IO round-trips on any engine: pandas+openpyxl when present,
    else the stdlib xlsx_lite fallback (sources/xlsx_lite.py)."""
    path = str(tmp_path / "t.xlsx")
    pio.write_excel(small_df, path)
    back = pio.read_excel(spark, path)
    assert back.count() == 3
    assert set(back.columns) == set(small_df.columns)


def test_xlsx_lite_types_and_escaping(tmp_path):
    from pandrs_spark.sources.xlsx_lite import read_xlsx, write_xlsx

    path = str(tmp_path / "lite.xlsx")
    write_xlsx(
        path,
        ["s", "i", "f", "b"],
        [("a<>&'\"", 1, 2.5, True), (None, -3, float("nan"), False)],
    )
    cols, rows = read_xlsx(path)
    assert cols == ["s", "i", "f", "b"]
    assert rows[0] == ["a<>&'\"", 1, 2.5, True]
    assert rows[1] == [None, -3, None, False]  # NaN written as blank


def test_events_loader_handles_both_ts_layouts(spark, tmp_path):
    """The driver has shipped events.ts as parquet TIMESTAMP(NANOS) and
    as timestamp[us] in different rounds; the loader must produce the
    same session-TZ TIMESTAMP values from either layout."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pandrs_spark.catalog import _load_table_uncached

    ts = [
        datetime.datetime(2024, 1, 1, 12, 0, 0, 123456),
        datetime.datetime(2024, 1, 2, 13, 30, 0, 654321),
    ]
    for unit in ("ns", "us"):
        d = tmp_path / f"layout_{unit}"
        d.mkdir()
        table = pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ts, pa.timestamp(unit)),
            }
        )
        pq.write_table(table, str(d / "events.parquet"))
        df = _load_table_uncached(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (unit, df.dtypes)
        got = sorted(r["ts"] for r in df.collect())
        assert got == ts, (unit, got)


def test_loader_footer_dispatch_leaves_real_bigint_ts_alone(spark, tmp_path):
    """ADVICE r3: dispatch on the parquet footer's logical type, not
    column NAME — a genuine bigint column named ``ts`` (e.g. epoch
    millis) must pass through untouched, and the nanosAsLong conf must
    not be left set on the session."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pandrs_spark.catalog import _load_table_uncached

    d = tmp_path / "real_bigint"
    d.mkdir()
    millis = [1_704_110_400_000, 1_704_196_800_000]  # genuine epoch millis
    pq.write_table(
        pa.table({"event_id": pa.array([1, 2], pa.int64()),
                  "ts": pa.array(millis, pa.int64())}),
        str(d / "events.parquet"),
    )
    df = _load_table_uncached(spark, str(d), "events")
    assert dict(df.dtypes)["ts"] == "bigint", df.dtypes
    assert sorted(r["ts"] for r in df.collect()) == millis
    # conf must not linger after a nanos read either
    import datetime

    d2 = tmp_path / "nanos2"
    d2.mkdir()
    ts = [datetime.datetime(2024, 1, 1, 12, 0, 0, 123456)]
    pq.write_table(
        pa.table({"event_id": pa.array([1], pa.int64()),
                  "ts": pa.array(ts, pa.timestamp("ns"))}),
        str(d2 / "events.parquet"),
    )
    # the loader must RESTORE the conf to whatever it was before the
    # read (ensure_nanos_readable may legitimately have set it for a
    # streaming query elsewhere in the session — scoped means
    # "unchanged", not "unset")
    before = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    df2 = _load_table_uncached(spark, str(d2), "events")
    after = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    assert after == before
    assert dict(df2.dtypes)["ts"] == "timestamp"
    assert [r["ts"] for r in df2.collect()] == ts


def test_xlsx_multi_sheet_roundtrip(spark, tmp_path):
    """Multi-sheet workbook surface (reference src/io/excel.rs:480,823):
    list sheets in workbook order, read by name and by index, per-sheet
    info."""
    from pandrs_spark.sources.xlsx_lite import (
        list_sheets,
        read_xlsx,
        sheet_info,
        write_xlsx_multi,
    )

    path = str(tmp_path / "multi.xlsx")
    write_xlsx_multi(
        path,
        {
            "orders": (["id", "amount"], [(1, 10.5), (2, 20.0), (3, 7.25)]),
            "refs": (["code", "label"], [("a", "Alpha <&>"), ("b", "Beta")]),
        },
    )
    assert list_sheets(path) == ["orders", "refs"]
    info = sheet_info(path)
    assert info[0] == {"name": "orders", "n_rows": 4, "n_cols": 2}
    assert info[1] == {"name": "refs", "n_rows": 3, "n_cols": 2}
    cols, rows = read_xlsx(path, sheet="refs")
    assert cols == ["code", "label"]
    assert rows[0] == ["a", "Alpha <&>"]
    # by index still works and matches by-name
    assert read_xlsx(path, sheet=1) == (cols, rows)
    with pytest.raises(KeyError):
        read_xlsx(path, sheet="missing")

    # io-level wrappers: write several frames, read one back by name
    import pandrs_spark.sources.io as pio

    df1 = small_local_df(spark, [(1, "x"), (2, "y")], "k long, s string")
    df2 = small_local_df(spark, [(9.5,)], "v double")
    path2 = str(tmp_path / "multi2.xlsx")
    pio.write_excel_multi({"first": df1, "second": df2}, path2)
    assert pio.list_excel_sheets(path2) == ["first", "second"]
    back = pio.read_excel(spark, path2, sheet_name="second")
    assert [r["v"] for r in back.collect()] == [9.5]


def test_xlsx_many_sheets_order_not_filename_sort(tmp_path):
    # 11 sheets: filename sort would put sheet10 before sheet2
    from pandrs_spark.sources.xlsx_lite import list_sheets, read_xlsx, write_xlsx_multi

    path = str(tmp_path / "many.xlsx")
    sheets = {f"s{i:02d}": (["n"], [(i,)]) for i in range(11)}
    write_xlsx_multi(path, sheets)
    assert list_sheets(path) == [f"s{i:02d}" for i in range(11)]
    for i in (0, 1, 9, 10):
        cols, rows = read_xlsx(path, sheet=f"s{i:02d}")
        assert rows == [[i]]


def test_xlsx_absolute_rel_targets_and_quoted_sheet_names(tmp_path):
    """Review fixes: OPC-valid absolute relationship targets
    ('/xl/worksheets/sheetN.xml') must resolve, and double quotes in
    sheet names must be escaped in the workbook attribute."""
    import re
    import zipfile

    from pandrs_spark.sources.xlsx_lite import list_sheets, read_xlsx, write_xlsx_multi

    path = str(tmp_path / "quoted.xlsx")
    write_xlsx_multi(path, {'say "hi"': (["n"], [(1,)])})
    assert list_sheets(path) == ['say "hi"']
    cols, rows = read_xlsx(path, sheet='say "hi"')
    assert rows == [[1]]

    # rewrite the rels with absolute targets; reader must still resolve
    src = str(tmp_path / "abs_src.xlsx")
    write_xlsx_multi(src, {"one": (["a"], [(1,)]), "two": (["b"], [(2,)])})
    dst = str(tmp_path / "abs.xlsx")
    with zipfile.ZipFile(src) as zin, zipfile.ZipFile(dst, "w") as zout:
        for item in zin.namelist():
            data = zin.read(item)
            if item == "xl/_rels/workbook.xml.rels":
                data = re.sub(
                    rb'Target="worksheets/', rb'Target="/xl/worksheets/', data
                )
            zout.writestr(item, data)
    assert list_sheets(dst) == ["one", "two"]
    assert read_xlsx(dst, sheet="two")[1] == [[2]]


def test_schema_drift_detects_add_remove_retype(spark, tmp_path):
    from pandrs_spark.sources.io import schema_drift

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    small_local_df(
        spark, [(1, "x", 1.0)], "id long, s string, v double"
    ).coalesce(1).write.parquet(a)
    small_local_df(
        spark, [(1, 2.5, True)], "id long, v float, flag boolean"
    ).coalesce(1).write.parquet(b)
    drift = {d["column"]: d for d in schema_drift(a, b)}
    assert drift["s"]["change"] == "removed"
    assert drift["flag"]["change"] == "added"
    assert drift["v"]["change"] == "type_changed"
    assert "id" not in drift
    # no drift against itself
    assert schema_drift(a, a) == []


def test_read_csv_quoted_multiline_and_escapes(spark, tmp_path):
    from pandrs_spark.sources.io import read_csv, write_csv

    p = str(tmp_path / "dialect.csv")
    with open(p, "w") as f:
        f.write('id,name,notes\n')
        f.write('1,"Smith, Jo","line one\nline two"\n')
        f.write('2,"Quote "" inside",plain\n')
    df = read_csv(spark, p, header=True, multiLine=True, escape='"')
    rows = {int(r["id"]): r for r in df.collect()}
    assert rows[1]["name"] == "Smith, Jo"
    assert rows[1]["notes"] == "line one\nline two"
    assert rows[2]["name"] == 'Quote " inside'


def test_json_corrupt_record_capture(spark, tmp_path):
    """PERMISSIVE mode with a corrupt-record column: malformed lines
    land in _corrupt_record instead of failing the 100 TB job."""
    p = str(tmp_path / "mixed.jsonl")
    with open(p, "w") as f:
        f.write('{"id": 1, "v": "ok"}\n')
        f.write('{"id": 2, "v": BROKEN\n')
        f.write('{"id": 3, "v": "fine"}\n')
    df = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema("id long, v string, _corrupt_record string")
        .json(p)
    )
    rows = df.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["id"] for r in good} == {1, 3}
    assert len(bad) == 1 and "BROKEN" in bad[0]["_corrupt_record"]


def test_schema_drift_within_path_across_files(spark, tmp_path):
    # ADVICE r4: drift BETWEEN files of one dataset (producer
    # evolution) must be visible — footer union, not first-file-only.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pandrs_spark.sources.io import schema_drift

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    import os

    os.makedirs(a)
    os.makedirs(b)
    t1 = pa.table({"id": pa.array([1, 2], pa.int64())})
    t2 = pa.table(
        {"id": pa.array([3], pa.int64()), "extra": pa.array(["x"])}
    )
    pq.write_table(t1, os.path.join(a, "part-0.parquet"))
    pq.write_table(t2, os.path.join(a, "part-1.parquet"))
    pq.write_table(t1, os.path.join(b, "part-0.parquet"))
    drift = {d["column"]: d for d in schema_drift(a, b)}
    # 'extra' exists only in a's SECOND file — invisible to a
    # first-file-only comparison
    assert drift["extra"]["change"] == "removed"
    assert schema_drift(a, a) == []


def test_drop_managed_table_rejects_bad_names(spark):
    import pytest

    from pandrs_spark.sources.io import drop_managed_table

    for bad in ("../../etc", "a;b", "a.b.c", "t name", ""):
        with pytest.raises(ValueError):
            drop_managed_table(spark, bad)
    # valid names (qualified or not) don't raise even when absent
    drop_managed_table(spark, "no_such_table_xyz")
    drop_managed_table(spark, "default.no_such_table_xyz")


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """REAL JDBC execution against an embedded database (reference
    exercises SQLite/PostgreSQL, src/io/sql/operations.rs:118-485).
    Derby ships on the Spark classpath, so the full surface runs
    in-process: overwrite/append writes, table + query reads, and the
    partitioned parallel range read (the distributed upgrade over the
    reference's single-connection reader). Gated: skips cleanly if no
    embedded driver is available."""
    import pytest

    from pandrs_spark.sources.io import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    df = spark.range(20).selectExpr("id", "id * 3 AS v")
    try:
        write_jdbc(df, url, "t_round", mode="overwrite", properties=props)
    except Exception as e:  # noqa: BLE001
        if "derby" in str(e).lower() or "driver" in str(e).lower():
            pytest.skip(f"no embedded JDBC driver: {e}")
        raise
    # append doubles the row count
    write_jdbc(df, url, "t_round", mode="append", properties=props)
    back = read_jdbc(spark, url, "t_round", properties=props)
    assert back.count() == 40
    assert {f.name.lower() for f in back.schema.fields} == {"id", "v"}
    # query-mode read with pushdown-style SQL (Derby uppercases
    # unquoted identifiers; Spark created the columns quoted-lowercase)
    q = read_jdbc(
        spark, url, 'SELECT "id", "v" FROM t_round WHERE "id" < 5',
        properties=props,
    )
    assert q.count() == 10  # 5 ids × 2 (append)
    # partitioned parallel range read
    part = read_jdbc(
        spark,
        url,
        "t_round",
        partition_column="id",
        num_partitions=4,
        lower_bound=0,
        upper_bound=20,
        properties=props,
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 40
    total = part.agg(F.sum("v").alias("s")).first()["s"]
    assert total == 2 * sum(i * 3 for i in range(20))


def test_excel_analyze_workbook(tmp_path):
    """Per-sheet analysis tier (reference src/io/excel.rs:823,1094):
    dimensions, inferred types, null/distinct counts, numeric ranges
    over a 3-sheet workbook."""
    from pandrs_spark.sources.xlsx_lite import (
        analyze_sheet,
        analyze_workbook,
        write_xlsx_multi,
    )

    p = str(tmp_path / "wb.xlsx")
    write_xlsx_multi(
        p,
        {
            "nums": (["a", "b"], [(1, 1.5), (2, None), (3, 2.5)]),
            "text": (["s"], [("x",), ("y",), ("x",)]),
            "empty": (["e"], []),
        },
    )
    wb = analyze_workbook(p)
    assert list(wb) == ["nums", "text", "empty"]
    a = {c["column"]: c for c in wb["nums"]}
    assert a["a"]["dtype"] == "int" and (a["a"]["min"], a["a"]["max"]) == (1, 3)
    assert a["b"]["dtype"] == "float" and a["b"]["n_null"] == 1
    assert a["b"]["n_valid"] == 2 and a["b"]["n_distinct"] == 2
    s = wb["text"][0]
    assert s["dtype"] == "str" and s["n_distinct"] == 2 and s["n_rows"] == 3
    assert wb["empty"] == analyze_sheet(p, "empty")
    assert wb["empty"][0]["dtype"] == "empty" if wb["empty"] else True


def test_orc_round_trip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC write → read round-trips values; predicate + column pruning
    reach the ORC scan (PushedFilters / ReadSchema), same contract as
    parquet."""
    from pandrs_spark import plans
    from pandrs_spark.catalog import load_table
    from pandrs_spark.sources.io import read_orc, write_orc

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path, partition_by=["o_orderpriority"])
    back = read_orc(spark, path, columns=["o_orderkey", "o_totalprice"],
                    predicate="o_totalprice > 100000")
    expect = orders.filter("o_totalprice > 100000").count()
    assert back.count() == expect
    assert set(back.columns) == {"o_orderkey", "o_totalprice"}
    text = plans.plan_text(back)
    assert "PushedFilters: [" in text and "o_totalprice" in text.split(
        "PushedFilters"
    )[1][:200]


def test_feather_round_trip(spark, sf_dir, tmp_path):
    """Feather (Arrow IPC) driver-side round trip preserves values and
    dtypes for an interchange-sized frame."""
    from pandrs_spark.catalog import load_table
    from pandrs_spark.sources.io import read_feather, write_feather

    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation.feather")
    write_feather(nation, path)
    back = read_feather(spark, path)
    assert sorted(back.collect()) == sorted(nation.collect())


def test_compact_files_reduces_count_preserves_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from pandrs_spark.sources.io import compact_files, list_data_files

    src, dest = str(tmp_path / "src"), str(tmp_path / "dest")
    spark.range(10000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartition(25).write.parquet(src)
    assert len(list_data_files(spark, src)) == 25
    stats = compact_files(spark, src, dest, target_bytes=1 << 30)
    assert stats["files_before"] == 25
    assert stats["files_after"] == 1  # everything fits one target file
    back = spark.read.parquet(dest)
    assert back.count() == 10000
    assert back.agg(F.sum("v")).first()[0] == 2 * sum(range(10000))


def _jobs_launched(spark, fn) -> int:
    """Spark jobs that ``fn()`` launches, counted in a job group of its
    own. A one-job marker then runs in a second group; the listener bus
    delivers events in order, so once the marker is visible every job
    of ``fn`` is too."""
    import time
    import uuid

    sc = spark.sparkContext
    group, marker = (f"{tag}-{uuid.uuid4().hex}" for tag in ("probe", "marker"))
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(marker, marker)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reported"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_second_load_of_a_table_launches_no_job(spark, tmp_path):
    """The first load of a file infers its schema with a Spark job; a
    second load of the unchanged file takes the memoised schema and
    launches none."""
    import shutil

    from pandrs_spark.catalog import default_sf_dir, load_table

    shutil.copy(
        os.path.join(default_sf_dir(), "nation.parquet"), tmp_path / "nation.parquet"
    )
    first = _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert first >= 1
    assert _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "nation")) == 0


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pandrs_spark.catalog import load_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(
        pa.table({"a": pa.array([3], pa.int64()), "b": pa.array(["x"])}), path
    )
    df = load_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "bigint"), ("b", "string")]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_concurrent_loads_share_one_schema(spark, sf_dir):
    """8 threads loading every table at once, from an empty memo, get
    the schema a single-threaded load gets."""
    from concurrent.futures import ThreadPoolExecutor

    from pandrs_spark import catalog

    with catalog._SCHEMAS_LOCK:
        catalog._SCHEMAS.clear()

    def load_all(_):
        return {t: catalog.load_table(spark, sf_dir, t).schema for t in catalog.TABLES}

    with ThreadPoolExecutor(8) as pool:
        seen = list(pool.map(load_all, range(8)))
    expected = load_all(None)
    assert all(s == expected for s in seen)


def test_session_puts_the_package_on_the_workers_path(spark):
    """Python workers unpickle UDFs that import pandrs_spark, so the
    session hands them the directory that holds the package, whatever
    the driver's working directory."""
    import os

    import pandrs_spark

    root = os.path.dirname(os.path.dirname(os.path.abspath(pandrs_spark.__file__)))
    path = spark.sparkContext.environment.get("PYTHONPATH", "")
    assert root in path.split(os.pathsep)
