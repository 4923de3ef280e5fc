"""Structured Streaming operators (engine extension; the reference has no
streaming surface — SURVEY.md §2.10).

Batch/stream parity design: every streaming job here has a batch
equivalent in queries/events.py computing the same aggregation with
``date_trunc``/window functions, and the tests drive the stream over the
same parquet and diff the results. Watermarks bound state; session
windows use the native ``session_window`` operator.

For local smoke, streams read the driver corpus parquet with
``format('memory')`` sinks + ``processAllAvailable()`` (synchronous
drain); in production the same plans attach to Kafka/files unchanged.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import session_conf
from ..sources.readers import parquet_schema

# Most shuffle partitions of a replay drain; ``run_to_completion`` caps
# it at the core count. Not 1: the drains with per-key Python or session
# work then run on one core (at sf0.1, 1 partition took
# streaming_stateful_totals_replay from 4.3 to 8.2 s on 4 cores).
STATE_PARTITIONS = 8


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet, ts normalized to a
    session-UTC ``timestamp`` exactly like the batch reader.

    The corpus's ts physical type has shipped as both TIMESTAMP(NANOS)
    (read as long under ``nanosAsLong``) and TIMESTAMP(MICROS) NTZ, so
    the stream schema takes ts's type from the file's footer, through
    the batch reader's once-per-session ``parquet_schema``, rather than
    hardcoding it — a hardcoded long schema silently reinterprets micros
    as nanos and compresses event time 1000×."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_type = parquet_schema(spark, f"{sf_dir}/events.parquet")["ts"].dataType
    # the file source requires a directory; pathGlobFilter selects only
    # the events table out of the corpus dir
    stream = (
        spark.readStream.schema(_events_schema(ts_type))
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return _normalize_ts(stream, ts_type)


def _normalize_ts(df: DataFrame, ts_type: T.DataType) -> DataFrame:
    if isinstance(ts_type, T.LongType):  # raw nanos → micros timestamp
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_rollup_stream(
    events: DataFrame, watermark: str | None = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour windowed counts/sums with a late-data watermark.

    ``watermark=None`` means the input already carries one (e.g. a
    ``dedup_stream`` upstream) — redefining a watermark between two
    stateful operators is disallowed by the engine."""
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_rollup_stream(events: DataFrame) -> DataFrame:
    """Sliding 1-hour window every 15 minutes (overlapping aggregates)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
    )


def session_stream(
    events: DataFrame, gap: str = "30 minutes", rounded: bool = True
) -> DataFrame:
    """Per-user sessionization with the native session_window operator
    (state bounded by the watermark). ``rounded=False`` keeps raw
    session sums for consumers that re-aggregate (double rounding would
    diverge from a single-rounding batch oracle)."""
    val = F.sum("value")
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.round(val, 2) if rounded else val).alias("session_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def stateful_user_totals_stream(events: DataFrame, rounded: bool = True) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count / value total maintained in explicit state across
    micro-batches (the escape hatch for operators ``window``/
    ``session_window`` can't express). Arrow-batched; state is one tiny
    row per user. ``rounded=False`` emits the raw running total for
    consumers that round once downstream (a Python-side ``round`` is
    banker's rounding — not the engines' shared half-away rule)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2) if rounded else total],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: drop events whose key re-appears within the
    watermark horizon (``dropDuplicatesWithinWatermark`` — state is
    bounded by event time, unlike a plain ``dropDuplicates`` whose state
    grows forever on an unbounded stream). The streaming dual of
    ``llm/dedup.py::exact_dedup``'s keep-first semantics: at-least-once
    sources (Kafka replays, file re-lists) become effectively-once."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def attribution_join_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join (click→purchase attribution): each
    purchase joins every click by the same user in the preceding
    ``horizon``. Both sides carry watermarks and the join condition
    bounds event-time distance, so Spark can expire join state — an
    unbounded stream-stream join without a time bound would buffer both
    streams forever. Output: one row per (click, purchase) pair with
    the attribution lag in seconds."""
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "purchase_value",
        (
            F.unix_micros(F.col("purchase_ts").cast("timestamp"))
            - F.unix_micros(F.col("click_ts").cast("timestamp"))
        ).alias("lag_us"),
    )


def enrich_events_stream(
    events: DataFrame,
    user_dim: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STATIC enrichment join + windowed per-segment rollup: the
    event stream left-joins a static user→segment dimension, then
    aggregates hourly counts/values per segment. Stream-static joins
    are STATELESS (the static side is re-read/planned per micro-batch,
    so slowly-changing dims pick up updates between batches) — the
    pattern for enriching a 100 TB/day event firehose with dimension
    attributes without any join state. The dim side is broadcast; the
    watermark bounds the windowed-aggregation state, not the join.

    ``user_dim`` columns: ``dim_user_id``, ``segment``."""
    e = events.withWatermark("ts", watermark)
    joined = e.join(
        F.broadcast(user_dim),
        e["user_id"] == user_dim["dim_user_id"],
        "left",
    ).withColumn("segment", F.coalesce("segment", F.lit("UNKNOWN")))
    return (
        joined.groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "segment",
            "n",
            "total_value",
        )
    )


def run_foreach_batch_sink(
    stream_df: DataFrame, out_dir: str, name: str = "fb_sink"
) -> list[str]:
    """foreachBatch sink: per-micro-batch idempotent parquet writes keyed
    by batch id (the exactly-once pattern for sinks without transactional
    support). Returns written batch directories."""
    written: list[str] = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        path = f"{out_dir}/batch={batch_id}"
        batch_df.write.mode("overwrite").parquet(path)  # idempotent on retry
        written.append(path)

    q = stream_df.writeStream.outputMode("update").foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return written


def _sweep_dead_checkpoints(base: str) -> None:
    """Remove the ``{pid}-...`` checkpoint dirs under ``base`` whose
    process no longer exists (a killed replay never reaches its own
    cleanup). A live process's dirs are never touched: several drivers
    (parallel test sessions, benchmark probes) share one base."""
    try:
        names = os.listdir(base)
    except FileNotFoundError:
        return
    for name in names:
        pid = name.split("-", 1)[0]
        if not pid.isdigit():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by another user


def run_to_completion(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming plan over the currently-available input and
    return the materialized result (memory sink + processAllAvailable —
    the documented local smoke pattern).

    The drain runs with ``min(STATE_PARTITIONS, defaultParallelism)``
    shuffle partitions (``session_conf``): a streaming query keeps one
    state store per shuffle partition per stateful operator (a
    stream-stream join keeps four per partition), each micro-batch
    commits a delta file per store, and each partition of an
    ``applyInPandasWithState`` drain is one Python task. So at a
    32-partition session width the attribution replay pays 128 store
    commits per batch of pure fixture overhead, and more partitions
    than cores only queue. Fewer than the cores would leave cores idle
    in the drains with real per-key work. Results do not depend on the
    partition count. On a real cluster the same plans run with shuffle
    partitions sized to the stream volume.

    The checkpoint (offset WAL, commit log, state-store deltas) is
    ephemeral replay state, so it goes to a RAM-backed dir when one
    exists: its small synced writes on a disk-backed /tmp made the
    replay times noisy (probe: first-rep outliers 4.7-12.8 s on /tmp,
    flat 2.0-3.3 s on tmpfs). ``SPARK_GRAFT_STREAM_CKPT_DIR`` overrides
    the base; with neither, Spark's default temp checkpoint is used.
    Each drain writes ``{base}/{pid}-{name}-{uuid}`` and removes it
    after the drain; dirs left by dead processes are swept on entry.
    In production the same plans run with a reliable checkpointLocation
    (object store)."""
    spark = stream_df.sparkSession
    ckpt_base = os.environ.get("SPARK_GRAFT_STREAM_CKPT_DIR")
    if ckpt_base is None and os.access("/dev/shm", os.W_OK):
        ckpt_base = "/dev/shm/spark_graft_stream_ckpt"
    ckpt: str | None = None
    writer = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
    )
    if ckpt_base:
        _sweep_dead_checkpoints(ckpt_base)
        ckpt = f"{ckpt_base}/{os.getpid()}-{name}-{uuid.uuid4().hex}"
        writer = writer.option("checkpointLocation", ckpt)
    try:
        width = min(STATE_PARTITIONS, spark.sparkContext.defaultParallelism)
        with session_conf(spark, {"spark.sql.shuffle.partitions": str(width)}):
            q = writer.start()
            try:
                q.processAllAvailable()
            finally:
                q.stop()
    finally:
        if ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.sql(f"SELECT * FROM {name}")
