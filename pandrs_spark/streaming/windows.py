"""Structured Streaming operators (SURVEY.md §2.10).

The reference hand-rolls a streaming engine (DataStream, window
aggregators, watermark bookkeeping — /root/reference/src/streaming/
mod.rs:136, window.rs:25-51,200,391,453; backpressure.rs). On Spark,
all of that is Structured Streaming itself: micro-batch execution,
state store, watermark-driven window eviction, and source-side rate
control (``maxFilesPerTrigger``/``maxOffsetsPerTrigger``) replace
the reference's custom channel/backpressure machinery.

This module provides the window builders shared by streaming and batch
(same F.window/session_window expressions), so every streaming
aggregation has a batch twin that the DuckDB oracle can verify.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandrs_spark.frame import persist_context
from pandrs_spark.operators.util import scoped_conf, tracked_persist

__all__ = [
    "scoped_state_partitions",
    "run_available_now",
    "stream_stream_interval_join",
    "incremental_aggregate_sink",
    "stateful_drawdown",
    "stateful_ewma_anomaly",
    "tumbling",
    "sliding",
    "session",
    "windowed_agg",
    "stream_from_directory",
    "stream_from_rate",
    "kafka_reader_options",
    "stream_from_kafka",
    "parse_kafka_json",
    "KAFKA_WIRE_SCHEMA",
    "stream_to_memory",
    "global_agg",
    "dedup_within_watermark",
    "stream_static_enrich",
]


def tumbling(ts_col: str, size: str) -> Column:
    """Tumbling window (reference WindowType::Tumbling, window.rs:25)."""
    return F.window(ts_col, size)


def sliding(ts_col: str, size: str, slide: str) -> Column:
    """Sliding window (WindowType::Sliding, window.rs:30)."""
    return F.window(ts_col, size, slide)


def session(ts_col: str, gap: str) -> Column:
    """Session window with inactivity gap (WindowType::Session, :37)."""
    return F.session_window(ts_col, gap)


def windowed_agg(
    df: DataFrame,
    window_col: Column,
    aggs: Sequence[Column],
    keys: Sequence[str] = (),
    watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """Windowed aggregation, batch or streaming.

    On a streaming DataFrame pass ``watermark=(ts_col, delay)`` so the
    state store can evict closed windows (reference: watermark_delay
    window.rs:74, update_watermark :453 — here it's one line).
    """
    if watermark is not None and df.isStreaming:
        df = df.withWatermark(*watermark)
    return df.groupBy(*keys, window_col.alias("w")).agg(*aggs)


def stream_from_directory(
    spark, path: str, schema: str, fmt: str = "parquet", max_files_per_trigger: int = 1
) -> DataFrame:
    """File-based streaming source (reference read_from_csv :171 — the
    file source is the scalable equivalent; rate control via
    maxFilesPerTrigger is the backpressure knob)."""
    return (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def stream_from_rate(
    spark,
    rows_per_second: int = 100,
    num_partitions: int | None = None,
    micro_batch: bool = False,
    rows_per_batch: int | None = None,
) -> DataFrame:
    """Generator streaming source (reference iterator/channel ingestion,
    src/streaming/mod.rs:171,218 — a driver-side generator feeding the
    stream). Spark's built-in ``rate`` source is the distributed
    equivalent: each partition synthesizes ``(timestamp, value)`` rows
    at a controlled rate, so ingestion scales with partitions instead of
    a single driver channel.

    ``micro_batch=True`` switches to ``rate-micro-batch``: exactly
    ``rows_per_batch`` rows per trigger regardless of wall time —
    deterministic batch sizes for tests and backpressure experiments
    (the knob the reference exposes as channel capacity,
    backpressure.rs).
    """
    if micro_batch:
        reader = spark.readStream.format("rate-micro-batch").option(
            "rowsPerBatch", rows_per_batch or rows_per_second
        )
    else:
        reader = spark.readStream.format("rate").option(
            "rowsPerSecond", rows_per_second
        )
    if num_partitions is not None:
        reader = reader.option("numPartitions", num_partitions)
    return reader.load()


# Kafka's fixed wire schema — every Kafka source batch/stream has
# exactly these columns (Spark kafka integration docs).
KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, "
    "offset long, timestamp timestamp, timestampType int"
)


def kafka_reader_options(
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """Build the exact option map :func:`stream_from_kafka` hands to the
    Kafka reader. Pure (no SparkSession), so the option contract —
    names, value rendering, validation — is testable without the
    spark-sql-kafka package on the classpath.

    ``starting_offsets`` accepts the three documented forms:
    ``"earliest"``, ``"latest"``, or a per-partition JSON offset map
    (``{"topic":{"0":23}}``); anything else is rejected here rather
    than at stream start. ``max_offsets_per_trigger`` must be a
    positive int when given."""
    so = starting_offsets.strip()
    if so not in ("earliest", "latest") and not so.startswith("{"):
        raise ValueError(
            "starting_offsets must be 'earliest', 'latest', or a JSON "
            f"per-partition offset map; got {starting_offsets!r}"
        )
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topics,
        "startingOffsets": so,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        if int(max_offsets_per_trigger) <= 0:
            raise ValueError(
                f"max_offsets_per_trigger must be positive; got {max_offsets_per_trigger}"
            )
        opts["maxOffsetsPerTrigger"] = str(int(max_offsets_per_trigger))
    return opts


def stream_from_kafka(
    spark,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """Kafka streaming source (reference channel ingestion,
    src/streaming/mod.rs:218 — a message-bus feed). Requires the
    ``spark-sql-kafka`` package on the classpath; the wire schema the
    source emits is :data:`KAFKA_WIRE_SCHEMA`, decode it with
    :func:`parse_kafka_json`. ``max_offsets_per_trigger`` is the
    backpressure knob (caps rows per micro-batch, the analogue of
    maxFilesPerTrigger on the file source)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(
        bootstrap_servers,
        topics,
        starting_offsets,
        max_offsets_per_trigger,
        fail_on_data_loss,
    ).items():
        reader = reader.option(k, v)
    return reader.load()


def parse_kafka_json(
    df: DataFrame,
    value_schema: str,
    watermark: str | None = None,
) -> DataFrame:
    """Decode Kafka wire rows: cast the binary value to string, parse it
    as JSON with ``value_schema``, keep the source coordinates for
    exactly-once bookkeeping, and optionally apply a watermark (a delay
    string like ``"10 minutes"``) on the broker timestamp. The wire
    columns are exposed with a ``kafka_`` prefix (kafka_key,
    kafka_topic, kafka_partition, kafka_offset, kafka_timestamp) so
    payload fields named ``key``/``timestamp``/... — extremely common
    in real event streams — never collide with them. Pure column
    expressions, so the SAME function works on a batch DataFrame with
    :data:`KAFKA_WIRE_SCHEMA` — which is how the contract is tested
    without a broker."""
    out = df.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("__j__"),
        F.col("topic").alias("kafka_topic"),
        F.col("partition").alias("kafka_partition"),
        F.col("offset").alias("kafka_offset"),
        F.col("timestamp").alias("kafka_timestamp"),
    ).select(
        "kafka_key",
        "__j__.*",
        "kafka_topic",
        "kafka_partition",
        "kafka_offset",
        "kafka_timestamp",
    )
    if watermark is not None:
        out = out.withWatermark("kafka_timestamp", watermark)
    return out


@contextmanager
def scoped_state_partitions(spark, source_path: str, bytes_per_partition: int = 32 << 20):
    """Size ``spark.sql.shuffle.partitions`` to the stream's SOURCE
    bytes for the duration of an availableNow micro-batch run, then
    restore the session conf.

    Stateful streaming operators freeze the shuffle-partition count
    into the state layout at query start, AQE never applies to
    streaming plans, and every micro-batch pays a per-partition
    state-store open/commit — so the session default (200 on a plain
    driver session) spends seconds per batch on empty state files when
    the source is megabytes (measured round 11, q203 at sf0.1: 7.6 s →
    2.3 s with identical output). One partition per 32 MB of source,
    clamped to [2, defaultParallelism]: production-sized sources
    saturate the cluster default again, so this never shrinks a real
    deployment's state parallelism.

    The streaming query must START and RUN inside the scope (plan +
    every batch read the conf captured at query start).
    """
    sc = spark.sparkContext
    try:
        if os.path.isdir(source_path):
            size = sum(
                os.path.getsize(os.path.join(source_path, f))
                for f in os.listdir(source_path)
            )
        else:
            size = os.path.getsize(source_path)
        target = max(2, min(sc.defaultParallelism, int(size // bytes_per_partition) + 1))
    except OSError:
        target = None
    if target is None:
        yield
        return
    with scoped_conf(spark, "spark.sql.shuffle.partitions", str(target)):
        yield


def run_available_now(spark, source_path: str, start, name: str) -> None:
    """Run an availableNow stream to completion: ``start()`` starts it
    inside :func:`scoped_state_partitions` sized to ``source_path``, and
    the call returns once the stream has drained its source. A stream
    still running after 300 s is stopped and raises ``TimeoutError``
    naming ``name``."""
    with scoped_state_partitions(spark, source_path):
        q = start()
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(f"{name} streaming query did not finish in 300s")


def stream_to_memory(df: DataFrame, name: str, output_mode: str = "update"):
    """Run a streaming query into an in-memory sink (test harness;
    reference's collector sinks, io/streaming.rs:258)."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def count_window_stateful(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    size: int,
    slide: int | None = None,
    out_schema: str | None = None,
):
    """Count-based windows via arbitrary stateful processing
    (reference WindowType::Count {size, slide}, src/streaming/window.rs:44).

    Spark has no built-in count window; this is the
    ``applyInPandasWithState`` path (SURVEY §2.10): per key, buffer
    values in state and emit one row per completed window of ``size``
    elements. ``slide`` (default ``size`` = tumbling) emits overlapping
    windows: window k covers elements [k·slide, k·slide + size) in each
    key's arrival order, exactly the reference's sliding count window.
    State is the (possibly partial) trailing buffer — O(max(size,
    slide)) per key, so a million keys stream in bounded memory, and a
    partial window carries across micro-batches.
    """
    if slide is None:
        slide = size
    if slide <= 0 or size <= 0:
        raise ValueError("size and slide must be positive")
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    output_type = StructType(
        [
            StructField("key", StringType()),
            StructField("window_id", LongType()),
            StructField("n", LongType()),
            StructField("total", DoubleType()),
        ]
    )
    state_type = StructType(
        [
            StructField("emitted", LongType()),
            StructField("buf_start", LongType()),  # absolute idx of buffer[0]
            StructField("buffer", StringType()),  # csv of pending values
        ]
    )

    def _update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            emitted, buf_start, buffer = state.get
            pending = [float(x) for x in buffer.split(",") if x]
        else:
            emitted, buf_start, pending = 0, 0, []
        for pdf in pdfs:
            pending.extend(float(v) for v in pdf[value_col])
        out = []
        # window k covers absolute element indexes [k*slide, k*slide+size)
        while emitted * slide + size <= buf_start + len(pending):
            off = emitted * slide - buf_start
            chunk = pending[off : off + size]
            out.append((key[0], emitted, size, sum(chunk)))
            emitted += 1
            # cap: with slide > size the next window's start may not
            # have arrived yet — only drop what's actually buffered so
            # buf_start stays equal to (total seen − len(pending))
            drop = min(emitted * slide - buf_start, len(pending))
            if drop > 0:
                pending = pending[drop:]
                buf_start += drop
        state.update(
            (emitted, buf_start, ",".join(str(v) for v in pending))
        )
        if out:
            yield pd.DataFrame(out, columns=["key", "window_id", "n", "total"])

    return stream_df.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=output_type,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def with_observed_metrics(df: DataFrame, name: str, **metrics):
    """Attach observable metrics to a (streaming or batch) DataFrame
    (reference RealTimeAnalytics, src/streaming/mod.rs:719).

    Spark evaluates the aggregate expressions on every micro-batch and
    reports them in each StreamingQueryProgress under
    ``observedMetrics[name]`` — executor-side accumulation, no extra
    pass over the data, which is the 100 TB-safe way to watch a stream
    (contrast with the reference's in-process metric maps).
    """
    from pyspark.sql import functions as F

    cols = [expr.alias(alias) for alias, expr in metrics.items()]
    return df.observe(name, *cols) if cols else df


def query_progress(query) -> dict:
    """Condensed last-progress snapshot of a StreamingQuery: input rate,
    processing rate, batch duration, state-store rows and any observed
    metrics — the surface the reference exposes as RealTimeAnalytics."""
    p = query.lastProgress
    if p is None:
        return {}
    return {
        "batch_id": p.get("batchId"),
        "num_input_rows": p.get("numInputRows"),
        "input_rows_per_second": p.get("inputRowsPerSecond"),
        "processed_rows_per_second": p.get("processedRowsPerSecond"),
        "duration_ms": p.get("durationMs", {}),
        "state_rows": sum(
            op.get("numRowsTotal", 0) for op in p.get("stateOperators", [])
        ),
        "observed": p.get("observedMetrics", {}),
    }


def tumbling_with_lateness(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    window_seconds: int,
    lateness_seconds: int,
):
    """Tumbling-window aggregation with allowed lateness BEYOND the
    watermark (reference allowed_lateness, src/streaming/window.rs:67,
    :133) — the one lateness policy plain watermarked aggregation can't
    express, via ``applyInPandasWithState``.

    Spark drops watermark-late rows before a built-in windowed
    aggregation; an arbitrary stateful operator receives them and
    decides. Here a row is merged into its window as long as
    ``ts >= watermark − lateness``; windows older than that horizon are
    finalized and pruned from state. Each trigger emits the updated
    (key, window_start, n, total) rows it touched — update-mode
    semantics, O(open windows per key) state.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    output_type = StructType(
        [
            StructField("key", StringType()),
            StructField("window_start", LongType()),
            StructField("n", LongType()),
            StructField("total", DoubleType()),
        ]
    )
    state_type = StructType([StructField("windows", StringType())])
    win_ms = window_seconds * 1000
    late_ms = lateness_seconds * 1000

    def _update(key, pdfs, state: GroupState):
        import json as _json

        import pandas as pd

        wins = _json.loads(state.get[0]) if state.exists else {}
        horizon = state.getCurrentWatermarkMs() - late_ms
        touched = set()
        for pdf in pdfs:
            ts_ms = (pdf[ts_col].astype("int64") // 1_000_000).tolist()
            vals = pdf[value_col].tolist()
            for t, v in zip(ts_ms, vals):
                if t < horizon:
                    continue  # beyond allowed lateness: dropped
                start = (t // win_ms) * win_ms
                slot = wins.setdefault(str(start), [0, 0.0])
                slot[0] += 1
                slot[1] += float(v)
                touched.add(str(start))
        # prune fully-closed windows (their end is past the horizon)
        wins = {
            s: agg for s, agg in wins.items() if int(s) + win_ms >= horizon
        }
        state.update((_json.dumps(wins),))
        out = [
            (key[0], int(s) // 1000, wins[s][0], wins[s][1])
            for s in sorted(touched)
            if s in wins
        ]
        if out:
            yield pd.DataFrame(
                out, columns=["key", "window_start", "n", "total"]
            )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=output_type,
        stateStructType=state_type,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def global_agg(df: DataFrame, aggs: Sequence[Column], keys: Sequence[str] = ()) -> DataFrame:
    """Global (unwindowed) streaming aggregation
    (WindowType::Global, src/streaming/window.rs:51): a plain grouped
    aggregate run in complete output mode — state is one row per key,
    updated every micro-batch, no watermark needed because nothing ever
    closes. Use ``stream_to_memory(out, name, "complete")`` as the sink.
    """
    return df.groupBy(*keys).agg(*aggs)


def dedup_within_watermark(
    df: DataFrame, keys: Sequence[str], ts_col: str, delay: str
) -> DataFrame:
    """Streaming exact dedup with bounded state: keep the first arrival
    per key, expiring per-key state once the watermark passes ``delay``
    (the training-data-pipeline dedup shape — the reference's batch
    drop_duplicates compat :1141 has no streaming analogue; Spark's
    dropDuplicatesWithinWatermark gives it with O(active keys) state
    instead of O(all keys ever seen))."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, delay)
        return df.dropDuplicatesWithinWatermark(list(keys))
    return df.dropDuplicates(list(keys))


def stream_static_enrich(
    stream_df: DataFrame, dim_df: DataFrame, on: Sequence[str], how: str = "left"
) -> DataFrame:
    """Stream-static dimension join: the static side is broadcast to
    every task, so enrichment adds NO shuffle and no streaming state
    (each micro-batch re-reads the dim — at 100 TB/day stream scale the
    dim stays a map-side hash lookup)."""
    return stream_df.join(F.broadcast(dim_df), on=list(on), how=how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str,
    watermark_delay: str,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval: match right
    rows whose timestamp lands in [left_ts, left_ts + within] for the
    same key — the view→purchase conversion-attribution shape.

    Both sides carry a watermark so the join state is BOUNDED: Spark
    buffers each side only until watermark + interval passes, then
    evicts — the property that makes a stream-stream join runnable
    forever at 100 TB/day (an unwatermarked join would buffer both
    streams in state indefinitely). The interval condition must
    reference the two event-time columns directly for the state-
    cleanup analysis to prove the bound.

    ``how="leftOuter"`` additionally emits unmatched left rows (with a
    NULL right timestamp) — but only once the watermark passes the
    row's join window, because until then a match could still arrive.
    Consequence for finite backlogs: rows inside the final watermark
    window stay unemitted unless later events advance the watermark
    past them (tests append a sentinel event for exactly this).
    """
    lw = left.withWatermark(left_ts, watermark_delay)
    rw = right.withWatermark(right_ts, watermark_delay)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= F.expr(f"{left_ts} + interval {within}"))
    )
    return lw.join(rw, cond, how).select(
        lw[key].alias(key),
        lw[left_ts].alias(left_ts),
        rw[right_ts].alias(right_ts),
    )


def incremental_aggregate_sink(
    df: DataFrame,
    keys: Sequence[str],
    count_col: str = "n",
    sum_cols: Sequence[str] = (),
    table: str = "incremental_agg",
):
    """Incremental materialized-aggregate maintenance: each micro-batch
    folds its partial counts/sums into a running per-key aggregate via
    foreachBatch — the pattern for keeping a rollup table fresh against
    an unbounded stream WITHOUT 'complete' output mode (whose state and
    re-emit cost grow with total key cardinality; here state lives in
    the sink table and each batch touches only its own keys).

    The merge is sum-of-partials (count and sum are decomposable), so
    the maintained table equals the batch aggregate over everything
    seen — exactly-once per availableNow run. Registers the running
    aggregate as global temp view ``table``; returns the streaming
    query handle.
    """
    sums = list(sum_cols)
    cached: list[DataFrame] = []  # previous batch's materialized agg

    def _fold(batch_df: DataFrame):
        spark = batch_df.sparkSession
        aggs = [F.count(F.lit(1)).cast("long").alias(count_col)] + [
            F.sum(c).alias(f"sum_{c}") for c in sums
        ]
        part = batch_df.groupBy(*keys).agg(*aggs)
        full_name = f"global_temp.{table}"
        try:
            prev = spark.table(full_name)
            merged = (
                prev.unionByName(part)
                .groupBy(*keys)
                .agg(
                    F.sum(count_col).cast("long").alias(count_col),
                    *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sums],
                )
            )
        except Exception:
            merged = part
        # materialize before replacing the view the plan reads from,
        # then release the PREVIOUS batch's cache (its rows are folded
        # into the new aggregate) so state stays O(distinct keys). The
        # FINAL batch's cache intentionally outlives the stream (it backs
        # the live rollup view); tracking it lets release_persisted()
        # reclaim it once the caller is done with the table
        tracked_persist(merged).count()
        merged.createOrReplaceGlobalTempView(table)
        while cached:
            cached.pop().unpersist(False)
        cached.append(merged)

    # foreachBatch calls back on a Py4J thread: fold in the context the
    # stream started from, so the final batch's persist is the caller's
    # to release
    ctx = persist_context()
    return (
        df.writeStream.foreachBatch(lambda batch_df, _id: ctx.run(_fold, batch_df))
        .trigger(availableNow=True)
        .start()
    )


def stateful_drawdown(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_col: str,
):
    """Per-key maximum drawdown (largest peak-to-trough drop of a
    cumulative series) as a CUSTOM stateful streaming operator — the
    class of order-dependent per-entity computations Spark's built-in
    windowed aggregates can't express (SURVEY §2.10 custom state).

    State per key = (running_peak, max_drawdown, last_emitted) as
    three doubles — O(1) per key regardless of stream length. Each
    micro-batch sorts its slice by (ts, order_col) before folding, so
    results are deterministic for in-order sources; out-of-order
    ACROSS micro-batches follows arrival order, the documented
    streaming semantics of any order-dependent fold.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            peak, dd = state.get
        else:
            peak, dd = float("-inf"), 0.0
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, order_col])
            vals = pdf[value_col].to_numpy(dtype=np.float64)
            if len(vals):
                # vectorized fold, bit-identical to the row loop: the
                # loop's peak at step i is max(peak₀, max(v₀..vᵢ)) — a
                # cumulative max seeded with the carried state — and
                # dd = max(dd₀, maxᵢ(peakᵢ - vᵢ)). max and subtraction
                # are exact IEEE ops (no accumulation error), so
                # numpy's accumulate reproduces the Python loop value
                # for value. ~10⁴ rows/group-batch at Python speed was
                # the q238 wall (round 11).
                run_peak = np.maximum.accumulate(
                    np.concatenate(([peak], vals))
                )[1:]
                dd = max(dd, float(np.max(run_peak - vals)))
                peak = float(run_peak[-1])
        state.update((float(peak), float(dd)))
        yield pd.DataFrame(
            {key_col: [key[0]], "peak": [peak], "max_drawdown": [dd]}
        )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=f"{key_col} long, peak double, max_drawdown double",
        stateStructType="peak double, dd double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_to_files(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
    output_mode: str = "append",
):
    """Run a streaming query into a fault-tolerant FILE sink with a
    write-ahead checkpoint (offset log + sink commit log) — the
    production durability shape (reference file sinks,
    io/streaming.rs:258). Restarting with the SAME checkpoint_dir
    resumes from the recorded offsets: already-committed batches are
    never re-emitted (the file sink's exactly-once contract), newly
    arrived source data is processed exactly once. availableNow drains
    the current backlog then stops, so batch-style reruns compose with
    the checkpoint for incremental pipelines.
    """
    return (
        df.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def stateful_ewma_anomaly(
    stream_df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_col: str,
    alpha: float = 0.2,
    z_thresh: float = 3.0,
    warmup: int = 5,
):
    """Per-key streaming EWMA anomaly detector as a custom stateful
    operator (SURVEY §2.10 custom state; composes the reference's EWM
    recursion src/series/window.rs:35 with streaming control-chart
    monitoring). State per key is O(1): the exponentially-weighted
    mean/variance (adjust=False West form)

        m_t = a*x_t + (1-a)*m_{t-1}            (m_1 = x_1)
        v_t = (1-a) * (v_{t-1} + a*(x_t - m_{t-1})^2)   (v_1 = 0)

    and an observation counter. A point is anomalous when its
    deviation from the PRIOR state exceeds ``z_thresh`` prior EW
    standard deviations, after ``warmup`` observations — the
    prior-state form keeps a genuine outlier from masking itself by
    inflating the variance it is judged against.

    Emits (key, n_events, ewma, ew_std, n_anomalies) per micro-batch
    in update mode; ``n_events`` is monotone, so the final state per
    key is the max_by(n_events) row. Each batch slice is sorted by
    (ts, order) before folding — deterministic for in-order sources,
    arrival-order across batches (standard streaming fold semantics).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            m, v, n, anom = state.get
        else:
            m, v, n, anom = 0.0, 0.0, 0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values([ts_col, order_col])
            for x in pdf[value_col].astype(float):
                if n == 0:
                    m, v = x, 0.0
                else:
                    dev = x - m
                    if n >= warmup and abs(dev) > z_thresh * (v**0.5):
                        anom += 1
                    m = alpha * x + (1.0 - alpha) * m
                    v = (1.0 - alpha) * (v + alpha * dev * dev)
                n += 1
        state.update((float(m), float(v), int(n), int(anom)))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_events": [n],
                "ewma": [m],
                "ew_std": [v**0.5],
                "n_anomalies": [anom],
            }
        )

    # The key field's type follows the input schema (a hardcoded
    # `long` would fail at runtime for string or other key types).
    key_type = stream_df.schema[key_col].dataType.simpleString()
    return stream_df.groupBy(key_col).applyInPandasWithState(
        _update,
        outputStructType=(
            f"{key_col} {key_type}, n_events long, ewma double, "
            "ew_std double, n_anomalies long"
        ),
        stateStructType="m double, v double, n long, anom long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
