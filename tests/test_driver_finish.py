"""Small statistics finished on the driver: the capped collect, the
local-relation frame, the two k-cell finishers, their empty-input
parity with the DuckDB oracle, their job budget, and a guard that no
Python list reaches ``createDataFrame`` outside ``local_frame``."""

from __future__ import annotations

import ast
import datetime as dt
import random
import uuid
from contextlib import contextmanager
from decimal import Decimal
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigdata_carprice_assignment_spark import registry
from bigdata_carprice_assignment_spark.plans.materialize import (
    collect_small,
    local_frame,
)
from bigdata_carprice_assignment_spark.queries.events import _conditional_entropy
from bigdata_carprice_assignment_spark.queries.statistics import _mutual_information
from bigdata_carprice_assignment_spark.sources.readers import TESTDATA_TABLES

from .oracle_harness import compare, run_oracle

PACKAGE = Path(__file__).resolve().parents[1] / "bigdata_carprice_assignment_spark"
DRIVER_FINISHED = ("flag_status_mutual_information", "event_conditional_entropy")


@contextmanager
def job_group(spark):
    """Tag the block's Spark jobs with a fresh group; yields the list
    that holds the group's job ids once the block exits."""
    sc = spark.sparkContext
    gid = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    ids: list[int] = []
    try:
        yield ids
    finally:
        # job events reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        ids.extend(sc.statusTracker().getJobIdsForGroup(gid))
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)


def test_collect_small_caps_rows(spark):
    assert [r.id for r in collect_small(spark.range(10), cap=10)] == list(range(10))
    assert [r.id for r in collect_small(spark.range(3), cap=10)] == [0, 1, 2]
    assert collect_small(spark.range(0), cap=0) == []
    with pytest.raises(ValueError, match="more than 9 rows"):
        collect_small(spark.range(10), cap=9)


def test_local_frame_round_trips_types(spark):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    ddl = "x double, d date, ts timestamp, m decimal(18,2), xs array<long>, s string"
    rows = [
        (None, dt.date(2024, 2, 29), dt.datetime(2024, 3, 1, 23, 59, 59, 123456),
         Decimal("-12345678901234.56"), [1, None, 2**62], "a"),
        (float("nan"), None, None, None, [], None),
        (1.5, dt.date(1970, 1, 1), dt.datetime(1970, 1, 1), Decimal("0.01"), None, ""),
    ]
    df = local_frame(spark, rows, ddl)
    assert df.schema.simpleString() == (
        "struct<x:double,d:date,ts:timestamp,m:decimal(18,2),xs:array<bigint>,s:string>"
    )
    got = [tuple(r) for r in df.collect()]
    assert got[0] == rows[0]
    assert got[2] == rows[2]
    assert got[1][0] != got[1][0] and got[1][1:] == rows[1][1:]  # NaN stays NaN
    assert df.filter(F.col("x").isNull()).count() == 1
    assert df.filter(F.isnan("x")).count() == 1
    empty = local_frame(spark, [], ddl)
    assert empty.collect() == [] and empty.schema == df.schema


def test_local_frame_collect_runs_no_job(spark):
    df = local_frame(spark, [(1, 2.345), (2, None)], "k long, v double")
    with job_group(spark) as jobs:
        rows = df.select("k", F.round("v", 2).alias("v")).collect()
    assert [tuple(r) for r in rows] == [(1, 2.35), (2, None)]
    assert jobs == []
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_finishers_bit_identical_under_cell_order():
    rng = random.Random(7)
    mi_cells = [(a, b, rng.randint(1, 10**6)) for a in "ANR" for b in "FO"]
    mi_cells.append((None, "F", 17))  # NULL key: in n and h_a, not in the MI sum
    markov = [(p, rng.randint(1, 10**5)) for p in "abcdef" for _ in range(6)]
    mi0, h0 = _mutual_information(mi_cells), _conditional_entropy(markov)
    for _ in range(20):
        rng.shuffle(mi_cells)
        rng.shuffle(markov)
        assert _mutual_information(mi_cells) == mi0
        assert _conditional_entropy(markov) == h0
    n, mi, h_a, h_b = mi0[0]
    assert n == sum(c for _, _, c in mi_cells) and mi >= 0 and h_a > 0 and h_b > 0
    assert h0[0] == sum(c for _, c in markov) and h0[1] >= h0[2] >= 0


def test_finishers_empty_shape():
    assert _mutual_information([]) == []
    assert _mutual_information([(None, "F", 3)]) == []
    assert _conditional_entropy([]) == (None, None, None)


@pytest.fixture(scope="module")
def sf_empty(sf_smoke, tmp_path_factory) -> str:
    """sf0.001 with ``lineitem`` and ``events`` emptied (same parquet
    schema, zero rows); the other tables link to the originals."""
    out = tmp_path_factory.mktemp("sf_empty")
    for t in TESTDATA_TABLES:
        src = Path(sf_smoke) / f"{t}.parquet"
        if t in ("lineitem", "events"):
            pq.write_table(pq.read_table(src).schema.empty_table(), out / src.name)
        else:
            (out / src.name).symlink_to(src)
    return str(out)


@pytest.mark.parametrize("name,n_rows", [(DRIVER_FINISHED[0], 0), (DRIVER_FINISHED[1], 1)])
def test_driver_finished_ops_match_oracle_on_empty_input(spark, sf_empty, name, n_rows):
    registry.load_all()
    df = registry.QUERIES[name](spark, sf_empty)
    rows = df.collect()
    assert len(rows) == n_rows
    assert all(v is None for r in rows for v in r)
    problems = compare(df, run_oracle(registry.ORACLES[name], sf_empty), name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", DRIVER_FINISHED)
def test_driver_finished_ops_job_budget(spark, sf_smoke, name):
    """Second call, collect included: the grouped count's jobs only
    (the chained pinned-cells + broadcast-crossJoin form ran 19 / 14)."""
    registry.load_all()
    fn = registry.QUERIES[name]
    fn(spark, sf_smoke).collect()
    with job_group(spark) as jobs:
        fn(spark, sf_smoke).collect()
    assert 1 <= len(jobs) <= 5, jobs


def _create_dataframe_calls(src: str) -> list[tuple[str, int]]:
    """(enclosing top-level name, line) of each ``.createDataFrame(`` call."""
    return [
        (getattr(top, "name", "<module>"), node.lineno)
        for top in ast.parse(src).body
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_create_dataframe_matcher():
    src = (
        "def f(spark):\n"
        "    return spark.createDataFrame([(1,)], 'a long')\n"
        "class C:\n"
        "    def g(self, df):\n"
        "        return df.sparkSession.createDataFrame(\n"
        "            rows, 'a long')\n"
    )
    assert _create_dataframe_calls(src) == [("f", 2), ("C", 5)]


def test_no_create_dataframe_over_python_lists():
    """Driver-built rows go through ``local_frame`` (a LocalRelation, no
    job on collect). Every other ``createDataFrame`` call is treated as
    one over a Python list. ``queries/carprice.py`` is exempt. A site
    whose list can be data-sized with no size guard may keep the call:
    add its (file, top-level function) to ``allowed`` and name it in
    CHANGES.md."""
    allowed = {("plans/materialize.py", "local_frame")}
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "queries/carprice.py":
            continue
        for name, line in _create_dataframe_calls(path.read_text()):
            if (rel, name) not in allowed:
                offenders.append(f"{rel}:{line} in {name}")
    assert not offenders, "use plans.materialize.local_frame:\n" + "\n".join(offenders)
