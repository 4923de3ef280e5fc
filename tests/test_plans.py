"""Plan-quality gates (SURVEY.md §4): the physical plans the engine
produces must have the scale properties we designed for — pushdown,
pruning, broadcast dims, codegen fusion. These tests fail if a refactor
regresses the plan even when results stay correct."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from bigdata_carprice_assignment_spark.plans import explain as X
from bigdata_carprice_assignment_spark.queries.pricing import flagship_price_band_summary
from bigdata_carprice_assignment_spark.queries.relational import (
    pricing_summary_report,
    region_revenue,
)
from bigdata_carprice_assignment_spark.sources.readers import load_table


def test_filter_pushdown_reaches_parquet_scan(spark, sf_smoke):
    df = pricing_summary_report(spark, sf_smoke)
    assert X.has_pushed_filter(df, "l_shipdate"), X.formatted_plan(df)


def test_column_pruning_on_projection(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem").select("l_orderkey", "l_quantity")
    cols = X.scan_read_columns(li)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_dimension_joins_broadcast(spark, sf_smoke):
    df = region_revenue(spark, sf_smoke)
    assert X.uses_broadcast_join(df), X.formatted_plan(df)


def test_flagship_plan_shape(spark, sf_smoke):
    """Flagship: ≤ a handful of shuffles (join + agg + orderBy), codegen
    fused, and the orders projection pruned to 2 columns."""
    df = flagship_price_band_summary(spark, sf_smoke)
    assert X.count_exchanges(df) <= 4, X.formatted_plan(df)
    # codegen ids are only assigned once AQE finalizes the plan
    df.collect()
    assert X.codegen_stage_count(df) >= 1, X.formatted_plan(df)


def test_narrow_clean_chain_single_codegen(spark, sf_smoke):
    """A clean→cast→derive chain of narrow ops must not shuffle at all."""
    from bigdata_carprice_assignment_spark.operators import cleaning

    li = load_table(spark, sf_smoke, "lineitem")
    chain = cleaning.lowercase_columns(li)
    chain = cleaning.cast_columns(chain, ["l_quantity", "l_tax"], "double")
    chain = chain.withColumn("rev", F.col("l_extendedprice") * (1 - F.col("l_discount")))
    assert X.count_exchanges(chain) == 0, X.formatted_plan(chain)


def test_partitioned_write_prunes_partitions(spark, sf_smoke, tmp_path):
    """write_parquet(partition_by=day) + day filter → the scan reads only
    matching partitions (PartitionFilters, not a full-scan + filter)."""
    from bigdata_carprice_assignment_spark.sources.writers import write_parquet

    ev = load_table(spark, sf_smoke, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
    )
    out = str(tmp_path / "events_by_day")
    write_parquet(ev, out, partition_by=["day"])
    pruned = spark.read.parquet(out).filter(F.col("day") == "2024-01-02")
    plan = X.formatted_plan(pruned)
    assert "PartitionFilters" in plan and "2024-01-02" in plan, plan
    # partition values are type-inferred on read (string → date here)
    days = {str(r["day"]) for r in pruned.select("day").distinct().collect()}
    assert days == {"2024-01-02"}


def test_semi_join_filter_is_broadcast(spark, sf_smoke):
    from bigdata_carprice_assignment_spark.operators import joins, topk

    cust = load_table(spark, sf_smoke, "customer")
    orders = load_table(spark, sf_smoke, "orders")
    top = topk.top_n_by_count(cust, "c_mktsegment", 1).select("c_mktsegment")
    semi = joins.semi_filter(cust, top, "c_mktsegment")
    plan = X.formatted_plan(semi)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert orders is not None


def test_q3_pushes_filters_and_takes_ordered(spark, sf_smoke):
    """Q3 shape: date + segment filters reach the scans; top-10 compiles
    to TakeOrderedAndProject, not a global Sort."""
    from bigdata_carprice_assignment_spark.queries.analytics import top_unshipped_orders

    df = top_unshipped_orders(spark, sf_smoke)
    assert X.has_pushed_filter(df, "o_orderdate"), X.formatted_plan(df)
    assert X.has_pushed_filter(df, "l_shipdate"), X.formatted_plan(df)
    assert X.has_pushed_filter(df, "c_mktsegment"), X.formatted_plan(df)
    assert "TakeOrderedAndProject" in X.formatted_plan(df), X.formatted_plan(df)


def test_q7_broadcasts_dims_and_pushes_range(spark, sf_smoke):
    from bigdata_carprice_assignment_spark.queries.analytics import nation_trade_flows

    df = nation_trade_flows(spark, sf_smoke)
    assert X.uses_broadcast_join(df), X.formatted_plan(df)
    assert X.has_pushed_filter(df, "l_shipdate"), X.formatted_plan(df)


def test_grouping_sets_single_expand(spark, sf_smoke):
    """GROUPING SETS: one Expand node, not one aggregation per set."""
    from bigdata_carprice_assignment_spark.queries.analytics import grouping_sets_revenue

    df = grouping_sets_revenue(spark, sf_smoke)
    plan = X.formatted_plan(df)
    assert plan.count(") Expand") == 1, plan


def test_unpivot_has_no_extra_shuffle(spark, sf_smoke):
    """Unpivot is an Expand projection; the agg is the only shuffle
    (plus the presentation orderBy's range exchange)."""
    from bigdata_carprice_assignment_spark.queries.analytics import (
        lineitem_unpivot_measure_stats,
    )

    df = lineitem_unpivot_measure_stats(spark, sf_smoke)
    assert X.count_exchanges(df) <= 2, X.formatted_plan(df)


def test_q10_pushes_returnflag_and_broadcasts_nation(spark, sf_smoke):
    from bigdata_carprice_assignment_spark.queries.analytics import (
        top_returned_customers,
    )

    df = top_returned_customers(spark, sf_smoke)
    assert X.has_pushed_filter(df, "l_returnflag"), X.formatted_plan(df)
    assert X.uses_broadcast_join(df), X.formatted_plan(df)


def test_q5_broadcasts_region_pruned_dims(spark, sf_smoke):
    from bigdata_carprice_assignment_spark.queries.analytics import (
        regional_same_nation_revenue,
    )

    df = regional_same_nation_revenue(spark, sf_smoke)
    plan = X.formatted_plan(df)
    assert X.uses_broadcast_join(df), plan
    # the same-nation predicate rides the supplier broadcast join — no
    # extra exchange beyond the two fact shuffles + final agg/sort
    assert X.count_exchanges(df) <= 4, plan


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_smoke):
    """100 TB regime check: when a selective dim side CANNOT broadcast
    (the fact-fact case), Spark injects a runtime Bloom filter from the
    filtered creation side into the application side's scan — rows that
    can't join are dropped BEFORE the shuffle. Locally the fact scan is
    far below the 10 GB application-side threshold, so the test lowers
    it to emulate the big-fact regime and disables broadcast to get the
    shuffle join; at scale both conditions hold naturally (the conf is
    on by default in our session factory's Spark version). The inverse
    is asserted too: a broadcast join gets NO bloom filter — broadcast
    already prunes at the probe, so the filter would be pure overhead."""
    from pyspark.sql import functions as F

    def build():
        # rebuilt per conf change — a Dataset caches its QueryExecution,
        # so a plan constructed before conf changes never re-optimizes
        orders = load_table(spark, sf_smoke, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_smoke, "lineitem")
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString().lower()

    assert "bloom" not in optimized(build())  # broadcast path: no filter
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    try:
        plan = optimized(build())
        assert "bloom" in plan, plan[:2000]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


@pytest.fixture
def collected_frames(monkeypatch) -> list:
    """Records every frame handed to ``collect_small`` during the test."""
    from bigdata_carprice_assignment_spark.plans import materialize

    frames: list = []
    real = materialize.collect_small

    def recording(df, cap):
        frames.append(df)
        return real(df, cap)

    monkeypatch.setattr(materialize, "collect_small", recording)
    return frames


def _window_specs(spark, sf_dir, name, collected_frames) -> list[str]:
    """First argument of every ``windowspecdefinition`` in the ANALYZED
    plans a registered query builds: the plan it returns, plus every
    frame it hands to ``collect_small``. A driver-finished query returns
    a LocalRelation, so its upstream windows only show in the frames it
    collected."""
    from bigdata_carprice_assignment_spark import registry

    collected_frames.clear()
    df = registry.QUERIES[name](spark, sf_dir)
    return [
        m.group(1)
        for frame in (df, *collected_frames)
        for m in re.finditer(
            r"windowspecdefinition\(([^,]*),",
            frame._jdf.queryExecution().analyzed().toString(),
        )
    ]


def _is_partitionless(first_arg: str) -> bool:
    # Partitionless = first arg is a sort spec (orderBy with no
    # partition) OR the frame itself (empty `OVER ()` spec: a
    # `min(...) OVER ()` runs as a single-task WindowExec just like the
    # ordered variant).
    return bool(re.search(r"(ASC NULLS|DESC NULLS)", first_arg)) or (
        "specifiedwindowframe" in first_arg
    )


def test_no_partitionless_windows_in_registered_queries(spark, sf_smoke, collected_frames):
    """Scale gate: every window in EVERY registered query (oracle-backed
    and rows-only alike) declares a partition spec. A partitionless ``Window.orderBy`` funnels
    the whole input through ONE task — global ntile, pooled rank and
    ECDF cumsum are range-partitioned two-pass cumsums instead.
    Deliberate bounded single-partition windows (offsets over a
    num_ranges-row aggregate, a LIMIT-k candidate frame) are marked in
    code with ``partitionBy(F.lit(0))``, which the analyzed plan shows as
    a constant partition key — so this gate scans the ANALYZED plan,
    where the convention is visible before constant folding erases it.
    Frames a query collects through ``collect_small`` are scanned too."""
    from bigdata_carprice_assignment_spark import registry

    registry.load_all()
    offenders = [
        f"{name}: windowspecdefinition({first_arg}, ..."
        for name in sorted(registry.QUERIES)
        for first_arg in _window_specs(spark, sf_smoke, name, collected_frames)
        if _is_partitionless(first_arg)
    ]
    assert not offenders, "\n".join(offenders)


def test_scale_gate_sees_driver_finished_windows(spark, sf_smoke, collected_frames):
    """``event_conditional_entropy`` returns a LocalRelation; the gate
    still sees the (user)-partitioned lag window of the cells it
    collected on the driver."""
    from bigdata_carprice_assignment_spark import registry

    registry.load_all()
    specs = _window_specs(spark, sf_smoke, "event_conditional_entropy", collected_frames)
    assert specs, "the lag window is not visible to the scale gate"
    assert not [s for s in specs if _is_partitionless(s)], specs
    assert any("user_id" in s for s in specs), specs


def test_partitioned_roundtrip_query_prunes(spark, sf_smoke):
    """The registered partitioned_parquet_roundtrip query's own plan must
    show PartitionFilters on the read-back scan (5 of 30 day dirs), not a
    full scan + post-filter."""
    from bigdata_carprice_assignment_spark.queries.sourcesio import (
        partitioned_parquet_roundtrip,
    )

    df = partitioned_parquet_roundtrip(spark, sf_smoke)
    plan = X.formatted_plan(df)
    assert "PartitionFilters" in plan and "day" in plan, plan
