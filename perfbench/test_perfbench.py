"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import math
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import stats  # noqa: E402
from run import check_ops, end_to_end  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(1000) == 99.0
    def beyond(n, p):  # samples above the nearest-rank p-th percentile
        return n - math.ceil(p / 100 * n)

    for n in (11, 23, 57, 250):
        p = stats.tail_percentile(n)
        assert beyond(n, p) >= 10
        assert beyond(n, p + 0.5) < 10


def test_op_tail_value_and_small_sample_fallback():
    values = [float(i) for i in range(1, 41)]  # 40 samples
    assert stats.op_tail(values) == (75.0, 30.0)
    few = [3.0, 1.0, 9.0, 2.0]
    assert stats.op_tail(few) == (100.0, 9.0)
    assert stats.op_tail([float(i) for i in range(15)]) == (100.0, 14.0)


def test_failed_frac_counts_exceptions_and_wrong_results():
    assert stats.failed_frac(20, 1, 2) == pytest.approx(0.15)
    assert stats.failed_frac(5, 0, 0) == 0.0
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0, 0)


def _result(*passes):
    return {
        "passes": [
            {"pass": i + 1, "ops": [dict(op=o, rows=r, hash=h, error=e) for o, r, h, e in ops]}
            for i, ops in enumerate(passes)
        ]
    }


def test_check_ops_gate():
    oracle = {"a": [3, "h3"], "b": [1, "hb"]}
    res = _result(
        [("a", 3, "h3", None), ("b", 1, "xx", None), ("c", 2, "hc", None), ("d", None, None, "Boom: x")],
        [("a", 3, "h3", None), ("b", 1, "hb", None), ("c", 2, "other", None), ("d", 0, "h0", None)],
    )
    counts, problems = check_ops(res, oracle)
    # a ok twice; b wrong in pass 1; c unstable in pass 2; d raised, then no rows
    assert counts == {"attempted": 8, "exceptions": 1, "wrong": 3}
    assert sorted(problems) == ["b", "c", "d"]
    assert stats.failed_frac(counts["attempted"], counts["exceptions"], counts["wrong"]) == 0.5


def test_end_to_end_metrics_from_cold_and_warm_passes():
    def op(name, wall, cpu):
        return dict(op=name, rows=1, hash="h", error=None, latency_s=wall, cpu_s=cpu)

    passes = [
        [op("a", 2.0, 6.0), op("b", 1.0, 2.0), op("c", 0.5, 1.0)],
        [op("c", 0.25, 0.5), op("a", 1.0, 3.0), op("b", 0.5, 1.0)],
        [op("b", 0.5, 1.5), op("c", 0.25, 0.5), op("a", 1.5, 4.0)],
    ]
    res = {
        "passes": [
            {
                "pass": i + 1,
                "ops": ops,
                "wall_s": sum(r["latency_s"] for r in ops),
                "cpu_s": sum(r["cpu_s"] for r in ops),
            }
            for i, ops in enumerate(passes)
        ],
        "ready": 106.0,
        "setup": {"session_ready": 105.0, "session_cpu_s": 8.0, "cpu_s": 9.0},
        "peak_rss_mb": 1500.0,
    }
    counts, problems = check_ops(res, {"a": [1, "h"]})
    assert problems == {}
    probes = [
        ({"setup": {"session_ready": 53.0, "session_cpu_s": 7.0}}, 50.0),
        ({"setup": {"session_ready": 88.0, "session_cpu_s": 12.0}}, 80.0),
    ]
    metrics, wall, notes = end_to_end(res, 100.0, counts, probes)
    assert {k: v for k, (v, _) in metrics.items()} == pytest.approx({
        "setup_s": 9.0,  # median session start 8.0 of 7, 8, 12, plus 1.0 of workers
        "cold_pass_cpu_s": 9.0,
        "warm_pass_cpu_s": 5.25,  # per-op medians over the warm passes: 3.5 + 1.25 + 0.5
        "op_p50_cpu_s": 1.5,
        "op_tail_cpu_s": 6.0,  # 9 samples: too few for a percentile, the max
        "ops_per_cpu_s": 9 / 19.5,
        "ok_frac": 1.0,
        "peak_rss_mb": 1500.0,
    })
    assert wall["setup_wall_s"][0] == 6.0  # median 5 of 3, 5, 8, plus 1 of workers
    assert wall["cold_pass_s"][0] == 3.5 and wall["warm_pass_s"][0] == 2.0
    assert wall["op_p50_s"][0] == 0.5 and wall["ops_per_s"][0] == pytest.approx(9 / 7.5)
    assert notes["op_tail_percentile"] == 100.0 and notes["op_samples"] == 9
    assert notes["setup_samples"] == 3


def test_union_and_driver_gap_with_overlapping_jobs():
    jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.5, 12.0)]
    # op window [0, 10]: jobs cover [1,4] + [6,7] + [9.5,10] = 4.5
    assert stats.union_length(jobs, 0.0, 10.0) == pytest.approx(4.5)
    assert stats.driver_gap(0.0, 10.0, jobs) == pytest.approx(5.5)
    assert stats.driver_gap(0.0, 10.0, []) == pytest.approx(10.0)
    assert stats.driver_gap(4.0, 6.0, jobs) == pytest.approx(2.0)


def test_self_times_subtract_overlapping_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 5.0},
        {"id": 2, "parent": 0, "start": 4.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(5.0)  # 10 - union([1,5],[4,6]) = 10 - 5
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_result_hash_is_order_and_column_order_insensitive():
    a = stats.result_hash(["x", "y"], [(1, 2.5), (3, None)])
    b = stats.result_hash(["y", "x"], [(None, 3), (2.5, 1)])
    assert a == b == (2, a[1])
    assert stats.result_hash(["x"], [(1,)]) == stats.result_hash(["x"], [(1.0,)])
    assert stats.result_hash(["x"], [(1,)]) != stats.result_hash(["x"], [(2,)])


def test_seeded_inputs_keep_rows_and_physical_types(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    ca = datagen.write_inputs(str(a), 1, 0.001)
    cb = datagen.write_inputs(str(b), 2, 0.001)
    assert ca == cb
    assert set(ca) == set(datagen.TABLES)
    permuted = 0
    for t in datagen.TABLES:
        pa_, pb_ = a / f"{t}.parquet", b / f"{t}.parquet"
        assert datagen.physical_schema(str(pa_)) == datagen.physical_schema(str(pb_))
        ta, tb = pq.read_table(pa_), pq.read_table(pb_)
        cols = ta.column_names
        key = stats.result_hash(cols, zip(*(ta.column(c).to_pylist() for c in cols)))
        assert key == stats.result_hash(cols, zip(*(tb.column(c).to_pylist() for c in cols)))
        permuted += ta.to_pylist() != tb.to_pylist()
    assert permuted >= 5
    ts = dict((c, (phys, logical)) for c, phys, logical in datagen.physical_schema(str(a / "events.parquet")))
    assert ts["ts"][0] == "INT64" and "nanoseconds" in ts["ts"][1]
