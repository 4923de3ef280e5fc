"""Parquet schemas inferred once per session: a repeated ``load_table``
or ``read_event_stream`` runs no Spark job, a file rewritten in place
is inferred again, ``events.ts`` keeps its values, and a missing table
still fails the way a plain Spark read does."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from bigdata_carprice_assignment_spark.sources.readers import load_table
from bigdata_carprice_assignment_spark.streaming import jobs as SJ

from .test_driver_finish import job_group


@pytest.mark.parametrize("name", ["lineitem", "part", "orders", "events"])
def test_repeated_load_table_runs_no_job(spark, sf_smoke, name):
    load_table(spark, sf_smoke, name)
    with job_group(spark) as jobs:
        df = load_table(spark, sf_smoke, name)
    assert jobs == []
    assert df.columns == pq.read_schema(f"{sf_smoke}/{name}.parquet").names


def test_rewritten_file_is_inferred_again(spark, sf_smoke, tmp_path):
    path = tmp_path / "part.parquet"
    table = pq.read_table(f"{sf_smoke}/part.parquet").replace_schema_metadata(None)
    pq.write_table(table, path)
    assert load_table(spark, str(tmp_path), "part").columns == table.column_names

    wider = table.append_column("p_extra", pa.array(range(table.num_rows), pa.int64()))
    pq.write_table(wider, path)
    df = load_table(spark, str(tmp_path), "part")
    assert df.columns == wider.column_names
    assert df.agg(F.sum("p_extra")).first()[0] == sum(range(table.num_rows))

    # same byte size, new mtime: a renamed column of the same length
    renamed = wider.rename_columns([*table.column_names, "p_other"])
    before = path.stat()
    pq.write_table(renamed, path)
    os.utime(path, ns=(before.st_mtime_ns + 10**9,) * 2)
    assert path.stat().st_size == before.st_size
    assert load_table(spark, str(tmp_path), "part").columns == renamed.column_names


def test_events_match_schemaless_read(spark, sf_smoke):
    """The sf0.001 corpus stores ts as TIMESTAMP(MICROS), which Spark
    reads as is (``timestamp_ntz``)."""
    events = load_table(spark, sf_smoke, "events")
    raw = spark.read.parquet(f"{sf_smoke}/events.parquet")
    assert events.dtypes == raw.dtypes
    assert dict(events.dtypes)["ts"] == "timestamp_ntz"
    assert sorted(events.collect()) == sorted(raw.collect())


def test_events_nanos_ts_reads_as_timestamp(spark, sf_smoke, tmp_path):
    """A TIMESTAMP(NANOS) ts is inferred as ``bigint`` under
    ``nanosAsLong`` and floored to microseconds."""
    table = pq.read_table(f"{sf_smoke}/events.parquet").replace_schema_metadata(None)
    micros = table["ts"].cast(pa.int64())
    nanos = pc.add(pc.multiply(micros, 1000), 999).cast(pa.timestamp("ns", tz="UTC"))
    table = table.set_column(table.schema.get_field_index("ts"), "ts", nanos)
    pq.write_table(table, tmp_path / "events.parquet")
    events = load_table(spark, str(tmp_path), "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    raw = spark.read.parquet(str(tmp_path / "events.parquet"))
    assert dict(raw.dtypes)["ts"] == "bigint"
    got = events.select("event_id", F.unix_micros("ts").alias("us"))
    want = raw.select("event_id", F.expr("ts div 1000").alias("us"))
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.filter(F.col("us").isNotNull()).count() > 0


def test_repeated_event_stream_builds_with_no_job(spark, sf_smoke):
    SJ.read_event_stream(spark, sf_smoke)
    with job_group(spark) as jobs:
        stream = SJ.read_event_stream(spark, sf_smoke)
    assert jobs == []
    assert stream.isStreaming and dict(stream.dtypes)["ts"] == "timestamp"


def test_missing_table_raises_analysis_exception(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "lineitem")
