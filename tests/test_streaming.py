"""Structured Streaming tests: file source → windowed aggregation with
watermark → memory sink, checked against the identical batch query
(reference: tests/streaming_test.rs)."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pandrs_spark.streaming.windows import (
    session,
    sliding,
    stream_from_directory,
    stream_to_memory,
    tumbling,
    windowed_agg,
)
from pandrs_spark.operators.util import small_local_df

SCHEMA = "ts timestamp, key string, v double"


@pytest.fixture(scope="module")
def stream_dir(spark):
    d = tempfile.mkdtemp(prefix="pandrs_stream_")
    rows = [
        (dt.datetime(2024, 1, 1, 0, 1), "a", 1.0),
        (dt.datetime(2024, 1, 1, 0, 2), "b", 2.0),
        (dt.datetime(2024, 1, 1, 0, 59), "a", 3.0),
        (dt.datetime(2024, 1, 1, 1, 5), "a", 4.0),
        (dt.datetime(2024, 1, 1, 2, 30), "b", 5.0),
    ]
    small_local_df(spark, rows, SCHEMA).coalesce(1).write.parquet(f"{d}/batch1")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(spark, stream_dir, window_col, name, keys=("key",)):
    src = stream_from_directory(spark, f"{stream_dir}/batch1", SCHEMA)
    assert src.isStreaming
    agg = windowed_agg(
        src,
        window_col,
        [F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")],
        keys=keys,
        watermark=("ts", "10 minutes"),
    )
    q = stream_to_memory(agg, name, output_mode="complete")
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_stream_matches_batch(spark, stream_dir):
    got = _run_stream(spark, stream_dir, tumbling("ts", "1 hour"), "t_tumble")
    rows = {(r.key, r.w.start.hour): (r.n, r.s) for r in got.collect()}
    assert rows[("a", 0)] == (2, 4.0)
    assert rows[("a", 1)] == (1, 4.0)
    assert rows[("b", 2)] == (1, 5.0)
    # batch twin over the same files produces identical aggregates
    batch = spark.read.schema(SCHEMA).parquet(f"{stream_dir}/batch1")
    b = windowed_agg(
        batch, tumbling("ts", "1 hour"),
        [F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")], keys=("key",),
    )
    brows = {(r.key, r.w.start.hour): (r.n, r.s) for r in b.collect()}
    assert brows == rows


def test_sliding_stream(spark, stream_dir):
    got = _run_stream(spark, stream_dir, sliding("ts", "2 hours", "1 hour"), "t_slide")
    rows = {(r.key, r.w.start.hour if r.w.start.day == 1 else -1): r.n for r in got.collect()}
    # event at 00:59 for 'a' appears in windows starting 23:00(prev day) and 00:00
    assert rows[("a", 0)] == 3  # 00:01, 00:59, 01:05 all in [00:00,02:00)


def test_session_stream(spark, stream_dir):
    got = _run_stream(spark, stream_dir, session("ts", "30 minutes"), "t_session")
    a_sessions = [r for r in got.collect() if r.key == "a"]
    # a: events at 00:01 | 00:59+01:05 (6-min gap) -> 2 sessions
    assert len(a_sessions) == 2
    ns = sorted(r.n for r in a_sessions)
    assert ns == [1, 2]


# --- stateful count windows (applyInPandasWithState, §2.10) -----------------
def test_count_window_stateful(spark, stream_dir):
    from pandrs_spark.streaming.windows import count_window_stateful, stream_to_memory

    src = stream_from_directory(spark, f"{stream_dir}/batch1", SCHEMA)
    out = count_window_stateful(src, "key", "v", size=2)
    q = stream_to_memory(out, "t_count_state", output_mode="append")
    q.awaitTermination(120)
    rows = {
        (r["key"], r["window_id"]): (r["n"], r["total"])
        for r in spark.sql("SELECT * FROM t_count_state").collect()
    }
    # key a has values 1,3,4 -> one full window of 2 (1+3); 4 stays buffered
    assert rows[("a", 0)] == (2, 4.0)
    # key b has 2,5 -> one full window
    assert rows[("b", 0)] == (2, 7.0)
    assert len(rows) == 2


# --- observable metrics (§2.10 RealTimeAnalytics) ---------------------------
def test_observed_metrics_and_progress(spark, stream_dir):
    from pandrs_spark.streaming.windows import (
        query_progress,
        stream_to_memory,
        with_observed_metrics,
    )

    src = stream_from_directory(spark, f"{stream_dir}/batch1", SCHEMA)
    observed = with_observed_metrics(
        src, "ingest", n_rows=F.count(F.lit(1)), total_v=F.sum("v")
    )
    agg = observed.groupBy("key").agg(F.count(F.lit(1)).alias("n"))
    q = stream_to_memory(agg, "t_observe", output_mode="complete")
    q.awaitTermination(120)
    prog = query_progress(q)
    assert prog["num_input_rows"] == 5
    obs = prog["observed"].get("ingest")
    assert obs is not None and obs["n_rows"] == 5 and obs["total_v"] == 15.0


# --- allowed lateness beyond watermark (§2.10, window.rs:67,:133) -----------
def _write_flat_parquet(spark, rows, schema, dest_file):
    """Write one flat parquet FILE (the file-stream source does not
    recurse into the nested dirs df.write.parquet creates)."""
    import glob
    import os
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp()
    small_local_df(spark, rows, schema).coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    os.makedirs(os.path.dirname(dest_file), exist_ok=True)
    shutil.copy(part, dest_file)
    shutil.rmtree(tmp, ignore_errors=True)


def test_tumbling_with_lateness_merges_late_rows(spark, tmp_path):
    import datetime as dtm

    from pandrs_spark.streaming.windows import (
        stream_to_memory,
        tumbling_with_lateness,
    )

    d = str(tmp_path / "late_stream")
    base = dtm.datetime(2024, 1, 1, 0, 0)
    # batch1: two rows in the 00:00 window, one at 01:01 (advances watermark)
    _write_flat_parquet(
        spark,
        [(base + dtm.timedelta(minutes=1), "a", 1.0),
         (base + dtm.timedelta(minutes=2), "a", 2.0),
         (base + dtm.timedelta(hours=1, minutes=1), "a", 10.0)],
        SCHEMA,
        f"{d}/f1.parquet",
    )
    # batch2: a late row for the 00:00 window — behind the watermark
    # (01:01 − 10min delay) but inside the 2h allowed lateness
    _write_flat_parquet(
        spark,
        [(base + dtm.timedelta(minutes=30), "a", 5.0),
         (base + dtm.timedelta(hours=2, minutes=1), "a", 20.0)],
        SCHEMA,
        f"{d}/f2.parquet",
    )

    src = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withWatermark("ts", "10 minutes")
    )
    out = tumbling_with_lateness(
        src, "ts", "key", "v", window_seconds=3600, lateness_seconds=7200
    )
    q = stream_to_memory(out, "t_lateness", output_mode="update")
    q.awaitTermination(180)
    rows = spark.sql(
        "SELECT window_start, MAX(n) AS n, MAX(total) AS total "
        "FROM t_lateness GROUP BY window_start ORDER BY window_start"
    ).collect()
    by_win = {r["window_start"]: (r["n"], r["total"]) for r in rows}
    w0 = int(base.timestamp())
    # late 00:30 row merged into the 00:00 window -> n=3, total=8
    assert by_win[w0] == (3, 8.0)
    assert by_win[w0 + 3600] == (1, 10.0)
    assert by_win[w0 + 7200] == (1, 20.0)


def test_global_window_complete_mode(spark, stream_dir):
    from pandrs_spark.streaming.windows import global_agg

    src = stream_from_directory(spark, f"{stream_dir}/batch1", SCHEMA)
    agg = global_agg(
        src, [F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")], keys=["key"]
    )
    q = stream_to_memory(agg, "t_global", output_mode="complete")
    q.awaitTermination(120)
    got = {r.key: (r.n, r.s) for r in spark.sql("SELECT * FROM t_global").collect()}
    batch = {
        r.key: (r.n, r.s)
        for r in spark.read.schema(SCHEMA)
        .parquet(f"{stream_dir}/batch1")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == batch  # stream global agg == batch global agg


def test_stream_dedup_within_watermark(spark, tmp_path):
    from pandrs_spark.streaming.windows import dedup_within_watermark

    d = str(tmp_path / "dedup_src")
    rows = [
        (dt.datetime(2024, 1, 1, 0, 1), "k1", 1.0),
        (dt.datetime(2024, 1, 1, 0, 2), "k1", 99.0),  # duplicate key
        (dt.datetime(2024, 1, 1, 0, 3), "k2", 2.0),
        (dt.datetime(2024, 1, 1, 0, 4), "k2", 98.0),  # duplicate key
        (dt.datetime(2024, 1, 1, 0, 5), "k3", 3.0),
    ]
    small_local_df(spark, rows, SCHEMA).coalesce(1).write.parquet(d)
    src = stream_from_directory(spark, d, SCHEMA)
    deduped = dedup_within_watermark(src, ["key"], "ts", "10 minutes")
    q = stream_to_memory(deduped, "dedup_sink", output_mode="append")
    q.awaitTermination(60)
    got = spark.sql("SELECT key FROM dedup_sink ORDER BY key").collect()
    assert [r["key"] for r in got] == ["k1", "k2", "k3"]


def test_stream_dedup_batch_fallback(spark):
    from pandrs_spark.streaming.windows import dedup_within_watermark

    df = small_local_df(
        spark, [(dt.datetime(2024, 1, 1), "a", 1.0), (dt.datetime(2024, 1, 2), "a", 2.0)],
        SCHEMA,
    )
    assert dedup_within_watermark(df, ["key"], "ts", "1 hour").count() == 1


def test_stream_static_enrich_broadcast(spark, tmp_path):
    from pandrs_spark.streaming.windows import stream_static_enrich

    d = str(tmp_path / "enrich_src")
    rows = [
        (dt.datetime(2024, 1, 1, 0, 1), "a", 1.0),
        (dt.datetime(2024, 1, 1, 0, 2), "b", 2.0),
        (dt.datetime(2024, 1, 1, 0, 3), "zzz", 3.0),  # no dim match
    ]
    small_local_df(spark, rows, SCHEMA).coalesce(1).write.parquet(d)
    dim = small_local_df(
        spark, [("a", "alpha"), ("b", "beta")], "key string, label string"
    )
    src = stream_from_directory(spark, d, SCHEMA)
    joined = stream_static_enrich(src, dim, on=["key"])
    q = stream_to_memory(joined, "enrich_sink", output_mode="append")
    q.awaitTermination(60)
    got = {r["key"]: r["label"] for r in spark.sql("SELECT * FROM enrich_sink").collect()}
    assert got == {"a": "alpha", "b": "beta", "zzz": None}


# --- sliding count windows (WindowType::Count{size, slide}, window.rs:44) ---
@pytest.fixture(scope="module")
def count_stream_dir(spark):
    import os
    import time

    d = tempfile.mkdtemp(prefix="pandrs_cstream_")
    os.makedirs(f"{d}/files")
    f1 = [(dt.datetime(2024, 1, 1, 0, i), "x", float(i + 1)) for i in range(4)]
    f2 = [(dt.datetime(2024, 1, 1, 1, i), "x", float(i + 5)) for i in range(3)]
    _write_flat_parquet(spark, f1, SCHEMA, f"{d}/files/a_first.parquet")
    time.sleep(1.1)  # distinct mtimes: the file source orders batches by mtime
    _write_flat_parquet(spark, f2, SCHEMA, f"{d}/files/b_second.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_count_window_slide_overlapping(spark, count_stream_dir):
    from pandrs_spark.streaming.windows import count_window_stateful, stream_to_memory

    src = stream_from_directory(spark, f"{count_stream_dir}/files", SCHEMA)
    out = count_window_stateful(src, "key", "v", size=3, slide=1)
    q = stream_to_memory(out, "t_count_slide", output_mode="append")
    q.awaitTermination(120)
    rows = {
        r["window_id"]: r["total"]
        for r in spark.sql("SELECT * FROM t_count_slide").collect()
    }
    # x arrives as 1..7 across two micro-batches; overlapping windows of
    # 3 sliding by 1: [1,2,3] [2,3,4] [3,4,5] [4,5,6] [5,6,7]
    assert rows == {0: 6.0, 1: 9.0, 2: 12.0, 3: 15.0, 4: 18.0}

    # batch twin: the same overlapping windows from a plain batch plan —
    # explode each row into the count-windows it belongs to
    from pyspark.sql import Window

    size, slide = 3, 1
    batch = spark.read.schema(SCHEMA).parquet(f"{count_stream_dir}/files")
    w = Window.partitionBy("key").orderBy("ts")
    idx = batch.withColumn("rn", F.row_number().over(w) - 1)
    wins = (
        idx.withColumn(
            "k",
            F.explode(
                F.sequence(
                    F.greatest(
                        F.lit(0), F.ceil((F.col("rn") - size + 1) / slide)
                    ),
                    F.floor(F.col("rn") / slide),
                )
            ),
        )
        .groupBy("key", "k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("total"))
        .filter(F.col("n") == size)
    )
    brows = {r["k"]: r["total"] for r in wins.collect()}
    assert brows == rows


def test_count_window_slide_gap(spark, count_stream_dir):
    """slide > size: sample every slide-th window start; the dropped-gap
    bookkeeping must survive a micro-batch boundary mid-gap."""
    from pandrs_spark.streaming.windows import count_window_stateful, stream_to_memory

    src = stream_from_directory(spark, f"{count_stream_dir}/files", SCHEMA)
    out = count_window_stateful(src, "key", "v", size=1, slide=2)
    q = stream_to_memory(out, "t_count_gap", output_mode="append")
    q.awaitTermination(120)
    rows = {
        r["window_id"]: r["total"]
        for r in spark.sql("SELECT * FROM t_count_gap").collect()
    }
    # windows at absolute indexes 0,2,4,6 -> values 1,3,5,7
    assert rows == {0: 1.0, 1: 3.0, 2: 5.0, 3: 7.0}


def test_q180_q181_survive_nanos_events_layout(spark, tmp_path):
    """Review fix: the scoped-conf loader must not strand q180/q181's
    RAW + STREAMING reads when the driver ships events.ts as
    TIMESTAMP(NANOS) — ensure_nanos_readable covers the stream's whole
    lifetime."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pandrs_spark.queries.events import q180, q181

    ts = pd.to_datetime(
        ["2024-01-01 00:10:00", "2024-01-01 00:40:00",
         "2024-01-01 01:10:00", "2024-01-02 05:00:00"]
    )
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array([7, 7, 8, 7], pa.int64()),
            "event_type": pa.array(["view", "view", "buy", "view"]),
            "value": pa.array([1.0, 2.0, 3.0, 4.0], pa.float64()),
            "props": pa.array(["{}"] * 4),
        }
    )
    d = tmp_path / "nanos_sf"
    d.mkdir()
    pq.write_table(table, str(d / "events.parquet"))

    out180 = {(r["hour_start"].isoformat(), r["event_type"]): r["n"]
              for r in q180(spark, str(d)).collect()}
    assert out180[("2024-01-01T00:00:00", "view")] == 2
    assert out180[("2024-01-01T01:00:00", "buy")] == 1
    assert out180[("2024-01-02T05:00:00", "view")] == 1

    out181 = {r["event_type"]: r["n_users"] for r in q181(spark, str(d)).collect()}
    # user 7 'view' appears 3x spanning >1 day -> span-sized delay must
    # still dedup it to one
    assert out181 == {"view": 1, "buy": 1}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    import datetime as dt

    from pandrs_spark.streaming.windows import (
        stream_from_directory,
        stream_stream_interval_join,
        stream_to_memory,
    )

    vs = "ts timestamp, user_id long"
    views = [
        (dt.datetime(2024, 1, 1, 10, 0), 1),
        (dt.datetime(2024, 1, 1, 12, 0), 1),
        (dt.datetime(2024, 1, 1, 10, 0), 2),
    ]
    buys = [
        (dt.datetime(2024, 1, 1, 10, 30), 1),   # within 1h of view 10:00
        (dt.datetime(2024, 1, 1, 12, 45), 1),   # within 1h of view 12:00 only
        (dt.datetime(2024, 1, 1, 15, 0), 2),    # outside any window
    ]
    small_local_df(spark, views, vs).coalesce(1).write.parquet(
        str(tmp_path / "views")
    )
    small_local_df(spark, buys, vs).coalesce(1).write.parquet(
        str(tmp_path / "buys")
    )
    sv = stream_from_directory(spark, str(tmp_path / "views"), vs).select(
        "user_id", F.col("ts").alias("view_ts")
    )
    sb = stream_from_directory(spark, str(tmp_path / "buys"), vs).select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    joined = stream_stream_interval_join(
        sv, sb, "user_id", "view_ts", "purchase_ts", "1 hour", "7 days"
    )
    q = stream_to_memory(joined, "ssj_sink", output_mode="append")
    assert q.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["view_ts"].hour, r["purchase_ts"].hour)
        for r in spark.table("ssj_sink").collect()
    )
    assert got == [(1, 10, 10), (1, 12, 12)]


def test_incremental_aggregate_sink_matches_batch(spark, tmp_path):
    import datetime as dt

    from pandrs_spark.streaming.windows import (
        incremental_aggregate_sink,
        stream_from_directory,
    )

    from pandrs_spark.frame import release_persisted

    release_persisted()
    sch = "ts timestamp, key string, v double"
    rows = [
        (dt.datetime(2024, 1, 1, 0, i % 50, i % 60 if i % 60 != i % 50 else (i + 1) % 60), ["a", "b", "c"][i % 3], float(i))
        for i in range(90)
    ]
    small_local_df(spark, rows, sch).repartition(4).write.parquet(
        str(tmp_path / "src")
    )
    src = stream_from_directory(
        spark, str(tmp_path / "src"), sch, max_files_per_trigger=1
    )
    q = incremental_aggregate_sink(
        src, ["key"], sum_cols=["v"], table="inc_agg_test"
    )
    assert q.awaitTermination(120)
    got = {
        r["key"]: (r["n"], r["sum_v"])
        for r in spark.table("global_temp.inc_agg_test").collect()
    }
    # matches the batch aggregate over all files, across micro-batches
    assert got["a"] == (30, float(sum(i for i in range(90) if i % 3 == 0)))
    assert got["b"] == (30, float(sum(i for i in range(90) if i % 3 == 1)))
    assert got["c"] == (30, float(sum(i for i in range(90) if i % 3 == 2)))
    # foreachBatch persisted each batch's aggregate on a callback
    # thread; they are still the caller's to release
    assert release_persisted() >= 1


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    import datetime as dt

    from pandrs_spark.streaming.windows import (
        stream_from_directory,
        stream_stream_interval_join,
        stream_to_memory,
    )

    vs = "ts timestamp, user_id long"
    views = [
        (dt.datetime(2024, 1, 1, 10, 0), 1),   # matched by 10:30 buy
        (dt.datetime(2024, 1, 1, 10, 0), 2),   # NO buy within 1h → null
    ]
    buys = [
        (dt.datetime(2024, 1, 1, 10, 30), 1),
        (dt.datetime(2024, 1, 1, 15, 0), 2),   # outside the 1h window
    ]
    # Sentinel events far past the data push the watermark beyond every
    # real row's join window so the outer side flushes before the
    # availableNow query terminates (see stream_stream_interval_join
    # docstring). maxFilesPerTrigger=1 makes them a LATER micro-batch.
    sentinel = [(dt.datetime(2024, 1, 5, 0, 0), 99)]
    for side, batch1 in (("views", views), ("buys", buys)):
        small_local_df(spark, batch1, vs).coalesce(1).write.parquet(
            str(tmp_path / side / "b1")
        )
        small_local_df(spark, sentinel, vs).coalesce(1).write.parquet(
            str(tmp_path / side / "b2")
        )
    sv = stream_from_directory(spark, str(tmp_path / "views/*"), vs).select(
        "user_id", F.col("ts").alias("view_ts")
    )
    sb = stream_from_directory(spark, str(tmp_path / "buys/*"), vs).select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    joined = stream_stream_interval_join(
        sv, sb, "user_id", "view_ts", "purchase_ts", "1 hour", "1 hour",
        how="leftOuter",
    )
    q = stream_to_memory(joined, "ssj_outer_sink", output_mode="append")
    assert q.awaitTermination(120)
    got = sorted(
        (
            r["user_id"],
            r["view_ts"].hour,
            r["purchase_ts"].hour if r["purchase_ts"] else None,
        )
        for r in spark.table("ssj_outer_sink").collect()
        if r["user_id"] != 99
    )
    # user 1 matched; user 2 emitted with NULL purchase after watermark
    assert got == [(1, 10, 10), (2, 10, None)]


# --- ingestion breadth: rate source + kafka contract (§2.10) ---------------
def test_rate_source_demo(spark):
    """rate-micro-batch source: deterministic rows per trigger, schema
    (timestamp, value) — the generator-ingestion surface
    (reference src/streaming/mod.rs:171,218)."""
    import time

    from pandrs_spark.streaming.windows import stream_from_rate

    src = stream_from_rate(spark, micro_batch=True, rows_per_batch=25)
    assert src.isStreaming
    assert [f.name for f in src.schema.fields] == ["timestamp", "value"]
    q = (
        src.writeStream.format("memory")
        .queryName("t_rate_demo")
        .outputMode("append")
        .start()
    )
    try:
        deadline = time.time() + 90
        n = 0
        while time.time() < deadline:
            n = spark.sql("SELECT COUNT(*) AS n FROM t_rate_demo").first()["n"]
            if n >= 25:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert n >= 25
    vals = [
        r["value"]
        for r in spark.sql(
            "SELECT value FROM t_rate_demo ORDER BY value LIMIT 25"
        ).collect()
    ]
    assert vals == list(range(25))  # monotone synthetic payload


def test_kafka_contract(spark):
    """Kafka-shaped contract: the reader builds with the documented
    options, and parse_kafka_json decodes the fixed wire schema —
    verified on a batch mimic so no broker/package is needed. The
    real source load() is attempted and skipped cleanly when the
    kafka package is absent from the classpath."""
    import datetime as dt

    import pytest

    from pandrs_spark.streaming.windows import (
        KAFKA_WIRE_SCHEMA,
        parse_kafka_json,
        stream_from_kafka,
    )

    try:
        src = stream_from_kafka(spark, "localhost:9092", "events_topic",
                                max_offsets_per_trigger=1000)
        have_kafka = True
    except Exception as e:  # noqa: BLE001
        assert "kafka" in str(e).lower(), e
        have_kafka = False
    if have_kafka:
        assert src.isStreaming
        assert [f.name for f in src.schema.fields] == [
            c.split()[0] for c in KAFKA_WIRE_SCHEMA.split(", ")
        ]
    # wire-schema decode works without a broker (batch mimic)
    mimic = small_local_df(
        spark,
        [
            (
                b"k1",
                b'{"user": "u1", "amount": 12.5}',
                "events_topic",
                0,
                7,
                dt.datetime(2024, 1, 1, 0, 0, 5),
                0,
            )
        ],
        KAFKA_WIRE_SCHEMA,
    )
    got = parse_kafka_json(
        mimic, "user string, amount double", watermark="10 minutes"
    ).collect()[0]
    assert got["kafka_key"] == "k1" and got["user"] == "u1"
    assert got["amount"] == 12.5 and got["kafka_offset"] == 7
    # payload fields that shadow wire names must NOT collide
    clash = parse_kafka_json(
        mimic, "key string, timestamp string", watermark="10 minutes"
    )
    assert clash.columns.count("kafka_timestamp") == 1
    assert set(clash.columns) >= {"key", "timestamp", "kafka_key", "kafka_timestamp"}
    clash.collect()  # analyzes without AMBIGUOUS_REFERENCE
    if not have_kafka:
        pytest.skip("kafka package not on classpath — contract checked on mimic")


def test_kafka_reader_option_matrix():
    """The full option contract of the Kafka source, testable without a
    broker or the spark-sql-kafka package: kafka_reader_options is the
    exact map stream_from_kafka hands to the reader (it iterates this
    function's output), so pinning it here pins the wire-level options.
    Covers the startingOffsets forms (earliest/latest/JSON offset map),
    the maxOffsetsPerTrigger backpressure knob (present only when set,
    rendered as a string, positive-validated), and failOnDataLoss
    lowercase rendering."""
    import pytest

    from pandrs_spark.streaming.windows import kafka_reader_options

    base = kafka_reader_options("b1:9092,b2:9092", "t1,t2")
    assert base == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "t1,t2",
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
    }
    # startingOffsets matrix: both keywords + per-partition JSON map
    for so in ("earliest", "latest", '{"t1":{"0":23,"1":-1}}'):
        got = kafka_reader_options("b:9092", "t1", starting_offsets=so)
        assert got["startingOffsets"] == so
    # backpressure knob: only present when set, always a string
    capped = kafka_reader_options("b:9092", "t1", max_offsets_per_trigger=1000)
    assert capped["maxOffsetsPerTrigger"] == "1000"
    assert "maxOffsetsPerTrigger" not in base
    # failOnDataLoss renders lowercase (Spark option values are strings)
    assert kafka_reader_options("b:9092", "t1", fail_on_data_loss=True)[
        "failOnDataLoss"
    ] == "true"
    # invalid values rejected at construction, not at stream start
    with pytest.raises(ValueError, match="starting_offsets"):
        kafka_reader_options("b:9092", "t1", starting_offsets="beginning")
    with pytest.raises(ValueError, match="positive"):
        kafka_reader_options("b:9092", "t1", max_offsets_per_trigger=0)


# --- state-size audits (§2.10): state is O(keys), not O(rows) ---------------
def test_count_window_state_bounded_by_keys(spark, tmp_path):
    """Adversarial key count: 200 keys × 25 values through the stateful
    count window must leave exactly ONE state row per key (the claimed
    O(max(size, slide)) buffer per key), never per value."""
    import datetime as dt

    from pandrs_spark.streaming.windows import (
        count_window_stateful,
        query_progress,
        stream_from_directory,
        stream_to_memory,
    )

    rows = [
        (dt.datetime(2024, 1, 1, 0, 0, i % 60), f"k{k}", float(i))
        for k in range(200)
        for i in range(25)
    ]
    d = str(tmp_path / "many_keys")
    small_local_df(spark, rows, SCHEMA).coalesce(2).write.parquet(d)
    src = stream_from_directory(spark, d, SCHEMA)
    out = count_window_stateful(src, "key", "v", size=10)
    q = stream_to_memory(out, "t_state_audit", output_mode="append")
    q.awaitTermination(180)
    prog = query_progress(q)
    assert prog["state_rows"] == 200, prog
    # 25 values / size 10 -> 2 complete windows per key
    n = spark.sql("SELECT COUNT(*) AS n FROM t_state_audit").first()["n"]
    assert n == 400


def test_stateful_drawdown_state_bounded_by_keys(spark, tmp_path):
    import datetime as dt

    from pandrs_spark.streaming.windows import (
        query_progress,
        stateful_drawdown,
        stream_from_directory,
        stream_to_memory,
    )

    schema = "ts timestamp, key long, v double"
    rows = [
        (dt.datetime(2024, 1, 1, 0, 0, i % 60), k, float((i * 7) % 13))
        for k in range(150)
        for i in range(20)
    ]
    d = str(tmp_path / "dd_keys")
    small_local_df(spark, rows, schema).coalesce(2).write.parquet(d)
    src = stream_from_directory(spark, d, schema)
    out = stateful_drawdown(src, "key", "ts", "v", "v")
    q = stream_to_memory(out, "t_dd_audit", output_mode="update")
    q.awaitTermination(180)
    prog = query_progress(q)
    assert prog["state_rows"] == 150, prog


def test_checkpoint_restart_exactly_once_file_sink(spark, tmp_path):
    """Restarting a checkpointed stream must process ONLY newly arrived
    source files (no reprocessing, no loss) — the exactly-once file-sink
    contract that production recovery relies on."""
    from pyspark.sql import functions as F

    from pandrs_spark.streaming.windows import stream_to_files

    src = tmp_path / "src"
    src.mkdir()
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    spark.range(100).select(
        F.col("id"), (F.col("id") * 3).alias("v")
    ).coalesce(1).write.parquet(str(src / "batch_a"))

    schema = "id bigint, v bigint"

    def run_once():
        sdf = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        q = stream_to_files(sdf.filter(F.col("v") % 2 == 0), sink, ckpt)
        assert q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(sink)
    assert first.count() == 50  # even v = even id -> half of 100

    spark.range(100, 160).select(
        F.col("id"), (F.col("id") * 3).alias("v")
    ).coalesce(1).write.parquet(str(src / "batch_b"))

    run_once()  # SAME checkpoint: resumes, processes only batch_b
    both = spark.read.parquet(sink)
    assert both.count() == 50 + 30
    # no duplicates: every id exactly once
    assert both.select("id").distinct().count() == 80


def test_stateful_ewma_anomaly_matches_batch_fold(spark, tmp_path):
    """Pin the EWMA-anomaly state machine against an independent
    Python fold: a constant series with one injected spike must flag
    exactly that spike, and the final (ewma, ew_std) must equal the
    adjust=False West recursion."""
    import datetime as dt

    from pandrs_spark.streaming.windows import (
        stateful_ewma_anomaly,
        stream_from_directory,
        stream_to_memory,
    )

    vals = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.1, 50.0, 10.0, 9.9]
    rows = [
        (dt.datetime(2024, 1, 1, 0, 0, i), 1, i, float(v))
        for i, v in enumerate(vals)
    ]
    schema = "ts timestamp, key long, ord long, v double"
    d = str(tmp_path / "ewma_src")
    small_local_df(spark, rows, schema).coalesce(1).write.parquet(d)
    src = stream_from_directory(spark, d, schema)
    out = stateful_ewma_anomaly(
        src, "key", "ts", "v", "ord", alpha=0.2, z_thresh=3.0, warmup=5
    )
    q = stream_to_memory(out, "t_ewma_anom", output_mode="update")
    q.awaitTermination(180)
    got = (
        spark.table("t_ewma_anom")
        .orderBy("n_events", ascending=False)
        .limit(1)
        .collect()[0]
    )

    m = v = None
    n = anom = 0
    for x in vals:
        if n == 0:
            m, v = x, 0.0
        else:
            dev = x - m
            if n >= 5 and abs(dev) > 3.0 * v**0.5:
                anom += 1
            m = 0.2 * x + 0.8 * m
            v = 0.8 * (v + 0.2 * dev * dev)
        n += 1
    assert got["n_events"] == len(vals)
    assert got["n_anomalies"] == 1 == anom
    assert abs(got["ewma"] - m) < 1e-12
    assert abs(got["ew_std"] - v**0.5) < 1e-12


def test_stateful_ewma_anomaly_string_key(spark, tmp_path):
    """The output key field's type follows the input schema (ADVICE
    r6: a hardcoded `long` key type failed at runtime for string
    keys). Two string keys fold independently."""
    import datetime as dt

    from pandrs_spark.streaming.windows import (
        stateful_ewma_anomaly,
        stream_from_directory,
        stream_to_memory,
    )

    rows = []
    for i in range(6):
        rows.append((dt.datetime(2024, 1, 1, 0, 0, i), "sensor-a", i, 10.0))
        rows.append((dt.datetime(2024, 1, 1, 0, 0, i), "sensor-b", i, 5.0))
    schema = "ts timestamp, key string, ord long, v double"
    d = str(tmp_path / "ewma_str_src")
    small_local_df(spark, rows, schema).coalesce(1).write.parquet(d)
    src = stream_from_directory(spark, d, schema)
    out = stateful_ewma_anomaly(
        src, "key", "ts", "v", "ord", alpha=0.2, z_thresh=3.0, warmup=3
    )
    q = stream_to_memory(out, "t_ewma_str", output_mode="update")
    q.awaitTermination(180)
    final = {
        r["key"]: r
        for r in spark.table("t_ewma_str")
        .orderBy("n_events", ascending=False)
        .collect()
    }
    assert final["sensor-a"]["n_events"] == 6
    assert final["sensor-a"]["ewma"] == 10.0
    assert final["sensor-b"]["ewma"] == 5.0
    assert final["sensor-a"]["n_anomalies"] == 0
