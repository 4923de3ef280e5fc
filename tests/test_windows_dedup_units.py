"""Unit tests for the as-of join corner cases and the distributed
connected-components branch (the adaptive local path is covered by the
LLM pipeline tests; here we force the propagation loop)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from bigdata_carprice_assignment_spark.llm.dedup import connected_components
from bigdata_carprice_assignment_spark.operators.windows import asof_join_backward


def _ts(s: str):
    return datetime.datetime.fromisoformat(s)


def test_asof_backward_semantics(spark):
    """Most recent right row with ts <= left ts; equal ts is inclusive;
    no prior right row → null."""
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), "o1"),
            (1, _ts("2024-01-01 12:00:00"), "o2"),
            (2, _ts("2024-01-01 09:00:00"), "o3"),
        ],
        "k long, lts timestamp, oid string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 09:30:00"), "e1"),
            (1, _ts("2024-01-01 12:00:00"), "e2"),  # ties with o2 → inclusive
            (1, _ts("2024-01-01 13:00:00"), "e3"),  # after everything
            (2, _ts("2024-01-01 09:30:00"), "e4"),  # after o3 → not matched
        ],
        "k long, rts timestamp, ev string",
    )
    out = {
        r["oid"]: r["asof_ev"]
        for r in asof_join_backward(
            left, right, on="k", left_ts="lts", right_ts="rts", right_cols=["ev"]
        ).collect()
    }
    assert out == {"o1": "e1", "o2": "e2", "o3": None}


def test_connected_components_distributed_branch(spark):
    """Force the distributed min-id propagation (local_threshold=0):
    a 6-node chain plus a separate pair must resolve to 2 components."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)], "a long, b long"
    )
    labels = {
        r["node"]: r["component"]
        for r in connected_components(edges, max_iter=10, local_threshold=0).collect()
    }
    assert {labels[n] for n in (1, 2, 3, 4, 5, 6)} == {1}
    assert {labels[n] for n in (10, 11)} == {10}


def test_connected_components_local_matches_distributed(spark):
    import random

    rng = random.Random(5)
    edges_py = {(rng.randrange(40), rng.randrange(40)) for _ in range(30)}
    edges_py = [(a, b) for a, b in edges_py if a != b]
    edges = spark.createDataFrame(edges_py, "a long, b long")
    local = {
        r["node"]: r["component"]
        for r in connected_components(edges, local_threshold=10**6).collect()
    }
    dist = {
        r["node"]: r["component"]
        for r in connected_components(edges, max_iter=20, local_threshold=0).collect()
    }
    assert local == dist


def test_pool_get_reuses_within_session(spark):
    """pool_get must hand back the same entry within one session
    (build-once semantics) for string and tuple keys, and miss for
    unknown keys and for another session; pinned replaces the
    generation under the same name; memo stores a non-DataFrame value
    as is; release_all drops pinned frames and stored values alike."""
    from bigdata_carprice_assignment_spark.plans import materialize as M

    other = spark.newSession()
    keys = ["unit_pool_x", ("unit_pool", "x", 1)]
    for i, key in enumerate(keys):
        assert M.pool_get(key, spark) is None
        pinned1 = M.pinned(spark.range(1010 + i), key)
        assert M.pool_get(key, spark) is pinned1
        assert M.pool_get(key, other) is None
        # new generation evicts the old one but stays retrievable
        pinned2 = M.pinned(spark.range(505 + i), key)
        assert M.pool_get(key, spark) is pinned2
        assert pinned2.count() == 505 + i
    stats = {"n_docs": 3}
    keys.append(("unit_stats", "x"))
    assert M.memo(spark, keys[-1], lambda: stats) is stats
    assert M.memo(spark, keys[-1], lambda: {"n_docs": 4}) is stats
    assert M.pool_get(keys[-1], other) is None
    M.release_all()
    for key in keys:
        assert M.pool_get(key, spark) is None


def test_pinned_leaves_already_persisted_frame_to_its_pool(spark):
    """Pinning a frame another pool already persisted, under a second
    name, must not alias its storage: evicting the second name leaves
    the first pool's blocks cached."""
    from bigdata_carprice_assignment_spark.plans import materialize as M

    first = M.pinned(spark.range(1021), "unit_alias_a")
    M.pinned(first, "unit_alias_b")
    M.pinned(spark.range(1022), "unit_alias_b")  # evicts "unit_alias_b"
    level = first.storageLevel
    assert level.useMemory or level.useDisk


def test_minhash_band_pairs_memo_key_carries_banding(spark):
    """Two calls with the same caller key and different ``bands`` must
    each return the candidates of their own banding."""
    from bigdata_carprice_assignment_spark.llm.dedup import minhash_band_pairs

    sigs = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [1, 2, 9, 9]), (3, [7, 7, 3, 4])],
        "doc_id long, signature array<long>",
    )

    def pairs(bands: int) -> list[tuple]:
        out = minhash_band_pairs(
            sigs, "doc_id", bands=bands, num_hashes=4, key=("unit_band_sigs",)
        )
        return sorted(map(tuple, out.collect()))

    assert pairs(1) == []  # one 4-wide band: no two signatures agree
    assert pairs(2) == [(1, 2), (1, 3)]


def test_burst_dedup_gap_boundary(spark, tmp_path):
    """The 5-minute gap test is STRICTLY greater-than: an event exactly
    300s after its predecessor is still a burst duplicate; 300s + 1µs
    starts a new burst. Exercised through the registered query on a
    constructed parquet corpus."""
    from bigdata_carprice_assignment_spark import registry

    registry.load_all()
    rows = [
        # user 1, type click: head, +299s (dup), +300s from head? No —
        # gaps are vs the PREVIOUS event: head, +299s dup, then exactly
        # +300.000000s after the second (dup), then +300.000001s (head)
        (1, _ts("2024-01-01 10:00:00"), 1, "click", 1.0, None),
        (2, _ts("2024-01-01 10:04:59"), 1, "click", 2.0, None),
        (3, _ts("2024-01-01 10:09:59"), 1, "click", 4.0, None),
        (4, _ts("2024-01-01 10:14:59.000001"), 1, "click", 8.0, None),
        # other type interleaved: independent stream, its own head
        (5, _ts("2024-01-01 10:00:30"), 1, "view", 16.0, None),
        # other user: own head
        (6, _ts("2024-01-01 10:00:00"), 2, "click", 32.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/events.parquet")
    out = {
        r["event_type"]: r
        for r in registry.QUERIES["event_burst_dedup"](spark, d).collect()
    }
    click = out["click"]
    assert click["n_events"] == 5
    # heads: event 1, event 4 (gap > 300s), event 6 (other user)
    assert click["n_kept"] == 3
    assert click["n_suppressed"] == 2
    assert abs(click["kept_value"] - (1.0 + 8.0 + 32.0)) < 1e-9
    assert out["view"]["n_kept"] == 1
