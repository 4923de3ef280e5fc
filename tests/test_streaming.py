"""Stream/batch parity: the streaming jobs must produce the same
aggregates as their batch duals over the same parquet input."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_carprice_assignment_spark.queries.events import hourly_event_rollup
from bigdata_carprice_assignment_spark.sources.readers import load_table
from bigdata_carprice_assignment_spark.streaming import jobs


def test_hourly_stream_matches_batch(spark, sf_smoke):
    stream = jobs.read_event_stream(spark, sf_smoke)
    out = jobs.run_to_completion(
        jobs.hourly_rollup_stream(stream), "t_hourly", "complete"
    )
    got = {
        (r["hour"], r["event_type"]): (r["n"], r["total_value"])
        for r in out.collect()
    }
    want = {
        (r["hour"], r["event_type"]): (r["n"], r["total_value"])
        for r in hourly_event_rollup(spark, sf_smoke).collect()
    }
    assert got == want and len(want) > 0


def test_session_stream_total_events_conserved(spark, sf_smoke):
    stream = jobs.read_event_stream(spark, sf_smoke)
    out = jobs.run_to_completion(jobs.session_stream(stream), "t_sessions", "complete")
    total = out.agg(F.sum("n_events")).first()[0]
    n_events = load_table(spark, sf_smoke, "events").count()
    assert total == n_events
    # session_window(30m) count per user must match the batch lag-gap
    # sessionizer (same gap semantics)
    from bigdata_carprice_assignment_spark.queries.events import user_sessionization

    stream_sessions = {
        r["user_id"]: r["n"]
        for r in out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    batch_sessions = {
        r["user_id"]: r["n_sessions"]
        for r in user_sessionization(spark, sf_smoke).collect()
    }
    assert stream_sessions == batch_sessions


def test_stateful_user_totals_matches_batch(spark, sf_smoke, tmp_path):
    """applyInPandasWithState totals over one micro-batch == batch
    groupBy (exercises explicit state plumbing end-to-end)."""
    stream = jobs.read_event_stream(spark, sf_smoke)
    stateful = jobs.stateful_user_totals_stream(stream)
    paths = jobs.run_foreach_batch_sink(stateful, str(tmp_path / "out"))
    assert paths
    got_df = spark.read.parquet(*paths)
    # latest state per user (update mode may emit once per batch)
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in got_df.orderBy("user_id").collect()
    }
    ev = load_table(spark, sf_smoke, "events")
    want = {
        r["user_id"]: (r["n"], round(r["v"], 2))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert got == want


def test_sliding_windows_overlap(spark, sf_smoke):
    stream = jobs.read_event_stream(spark, sf_smoke)
    out = jobs.run_to_completion(jobs.sliding_rollup_stream(stream), "t_sliding", "complete")
    n_events = load_table(spark, sf_smoke, "events").count()
    # each event falls in 4 sliding windows (60min window / 15min slide)
    assert out.agg(F.sum("n")).first()[0] == 4 * n_events


def test_dedup_stream_drops_replayed_events(spark, sf_smoke, tmp_path):
    """Replay the same events file twice through the file source (the
    at-least-once shape); dropDuplicatesWithinWatermark must keep each
    event_id once."""
    import shutil

    src = tmp_path / "replay"
    src.mkdir()
    shutil.copy(f"{sf_smoke}/events.parquet", src / "events_a.parquet")
    shutil.copy(f"{sf_smoke}/events.parquet", src / "events_b.parquet")
    ts_type = spark.read.parquet(f"{sf_smoke}/events.parquet").schema["ts"].dataType
    stream = jobs._normalize_ts(
        spark.readStream.schema(jobs._events_schema(ts_type))
        .format("parquet")
        .load(str(src)),
        ts_type,
    )
    out = jobs.run_to_completion(
        jobs.dedup_stream(stream), "t_dedup", "append"
    )
    n_unique = load_table(spark, sf_smoke, "events").count()
    got = out.count()
    assert got == n_unique, (got, n_unique)
    assert out.select("event_id").distinct().count() == n_unique


def test_stream_stream_attribution_join_matches_batch(spark, sf_smoke):
    """Stream-stream click→purchase join must produce exactly the batch
    inner-join pairs under the same time-bound condition."""
    clicks = jobs.read_event_stream(spark, sf_smoke).filter(
        F.col("event_type") == "click"
    )
    purchases = jobs.read_event_stream(spark, sf_smoke).filter(
        F.col("event_type") == "purchase"
    )
    out = jobs.run_to_completion(
        jobs.attribution_join_stream(clicks, purchases), "t_attr", "append"
    )
    ev = load_table(spark, sf_smoke, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 hour")),
    )
    got = {(r["click_id"], r["purchase_id"]) for r in out.collect()}
    want = {(r["click_id"], r["purchase_id"]) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_stream_static_enrichment_matches_batch(spark, sf_smoke):
    """Stream-static left join + hourly per-segment rollup must equal
    the same join/agg run in batch (stateless join, windowed agg)."""
    dim = (
        load_table(spark, sf_smoke, "customer")
        .select(
            F.col("c_custkey").alias("dim_user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    stream = jobs.read_event_stream(spark, sf_smoke)
    out = jobs.run_to_completion(
        jobs.enrich_events_stream(stream, dim), "t_enrich", "complete"
    )
    got = {
        (r["hour"], r["segment"]): (r["n"], r["total_value"])
        for r in out.collect()
    }
    ev = load_table(spark, sf_smoke, "events")
    batch = (
        ev.join(F.broadcast(dim), ev["user_id"] == dim["dim_user_id"], "left")
        .withColumn("segment", F.coalesce("segment", F.lit("UNKNOWN")))
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "segment",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    want = {
        (r["hour"], r["segment"]): (r["n"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_replay_sweeps_dead_process_checkpoints_only(
    spark, sf_smoke, tmp_path, monkeypatch
):
    """A replay removes checkpoint dirs left by dead processes under the
    checkpoint base, keeps a live process's dirs, and removes its own."""
    import os
    import subprocess
    import sys

    finished = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True,
        text=True,
        check=True,
    )
    dead_pid = int(finished.stdout)
    dead = tmp_path / f"{dead_pid}-t_leaked-0123456789abcdef"
    live = tmp_path / f"{os.getpid()}-t_running-fedcba9876543210"
    for d in (dead, live):
        (d / "offsets").mkdir(parents=True)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT_DIR", str(tmp_path))

    stream = jobs.read_event_stream(spark, sf_smoke)
    out = jobs.run_to_completion(
        jobs.hourly_rollup_stream(stream), "t_sweep", "complete"
    )
    assert out.count() > 0
    assert sorted(p.name for p in tmp_path.iterdir()) == [live.name]
