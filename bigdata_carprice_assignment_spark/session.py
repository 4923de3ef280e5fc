"""SparkSession factory with scale-aware defaults.

Local test posture: one JVM, ``local[N]`` threads. Cluster posture (the
design target — 100 TB on ~1000 executors) is reached by the same code:
every knob here is safe to override via ``spark-submit --conf`` and no
operator in this package assumes single-JVM execution (no ``collect()``
on data-sized results, no driver-side loops over rows).

``plans.materialize.collect_small`` is the one sanctioned small driver
collect: it brings a grouped result of at most ``cap`` rows (contingency
cells, per-group sufficient statistics) to the driver and raises above
the cap, so it can never become a data-sized collect. A finisher then
computes the statistic in Python and returns it through
``plans.materialize.local_frame``, a ``LocalRelation`` whose collect
runs no Spark job.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(app_name: str = "bigdata_carprice_assignment_spark") -> SparkSession:
    """Build (or reuse) a SparkSession.

    Env knobs (driver harness contract):
      SPARK_GRAFT_CPUS — local parallelism and shuffle width (default 32)
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime coalescing, skew-join splitting, broadcast demotion —
        # the first line of defense at 100 TB where static planning misses.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        # UTC pinned so timestamp semantics match the DuckDB oracle
        # (duckdb TIMESTAMP is tz-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # Long-lived sessions accumulate broadcast/shuffle/cache refs that
        # the ContextCleaner only releases after a driver GC; the default
        # 30min periodic GC lets hundreds of jobs' debt pile up first
        # (observed as later identical queries running slower than
        # earlier ones). 5min bounds the debt on any long-running app.
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The driver corpus writes events.ts as TIMESTAMP(NANOS); Spark has
        # no nanos type — read as long, normalized in sources.readers.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Constraint propagation is exponential on wide CASE-WHEN
        # projection chains (winsorize/bucketing over 26 columns) — the
        # optimizer OOMs inferring filters from constraints. Cost outweighs
        # benefit for this workload at any scale.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # Test corpus tables are single parquet files well under the
        # default 128 MB split size — one task per scan, serializing the
        # whole pipeline. Smaller splits parallelize local scans; at
        # cluster scale data arrives as many files and this is a no-op.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # The generated-class cache defaults to 100 entries; an analytics
        # session running hundreds of distinct queries evicts every class
        # between two executions of the same query, so re-runs re-pay
        # Janino compilation — worst for the big tokenize/higher-order-
        # lambda expression trees (~5s each, plan- not data-sized;
        # round-5 bench: keyword_search_tfidf 0.94s cold -> 7.5s WARM).
        # Static conf: takes effect on first session build.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def session_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set runtime SQL confs for the block, restoring each key on exit.

    Each key's prior value is restored in ``finally``, also when the
    body raises; a key that was unset before the block is unset again.

    Two conditions for callers:

    - The override is session-global: every thread sharing ``spark``
      sees it while the block runs, and two threads overriding the same
      key restore in whatever order they exit. It is not reentrant
      across threads.
    - A conf only affects plans that are planned inside the block. A
      DataFrame built inside but first executed after it is planned
      under the restored values; ``localCheckpoint(eager=False)`` plans
      when it is called, so a loop of lazy checkpoints is planned
      wholly inside.
    """
    prior = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
