"""The traced run: spans around each call into a layer, per-job spans and
stage counters from Spark's status store, and streaming progress from a
``StreamingQueryListener``.

Spans live in memory and are written out when the run ends. A span is
``{"id", "name", "start", "end", "parent", "op"}`` with wall-clock
seconds (``time.time``), so they line up with the millisecond job and
stage times of the status store; ``op`` is the op execution's Spark job
group, which its jobs in the status store carry too.

Layer wrappers replace module attributes. They are installed before
``registry.load_all`` imports the query modules, so the names those
modules bind at import time -- ``from ..plans.materialize import pinned``
in ``operators/graphs.py`` and ``llm/dedup.py``, ``from
..sources.readers import load_table`` in every query module -- resolve to
the wrappers too. A module imported before the wrappers go in keeps the
original function and is not traced.
"""

from __future__ import annotations

import contextlib
import time
from collections import Counter


class Tracer:
    """Span and counter recorder for one driver process (the benchmark's
    driver thread makes every call it wraps). While ``enabled`` is false
    it records nothing and the wrappers only pass calls through."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter[str] = Counter()
        self.op: str | None = None
        self.enabled = True
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a wrapper recording a ``name`` span
        and a ``name`` count per call."""
        fn = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            self.counts[name] += self.enabled
            return out

        wrapped.__wrapped__ = fn
        setattr(module, attr, wrapped)


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the package's layer entry points that have a module-level
    function: the pool lifecycle in ``plans.materialize`` and the table
    reader in ``sources.readers``."""
    from bigdata_carprice_assignment_spark.plans import materialize
    from bigdata_carprice_assignment_spark.sources import readers

    tracer.wrap(materialize, "pinned", "plans.pin")
    tracer.wrap(readers, "load_table", "sources.load_table")
    lookup = materialize.pool_get

    def pool_get(*args, **kwargs):
        with tracer.span("plans.pool_lookup"):
            df = lookup(*args, **kwargs)
        tracer.counts["plans.pool_lookup"] += tracer.enabled
        tracer.counts["plans.pool_hits"] += tracer.enabled and df is not None
        return df

    pool_get.__wrapped__ = lookup
    materialize.pool_get = pool_get


class StreamingProgress:
    """Totals of the micro-batch progress events of every streaming query
    in the session."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs
                progress.batches += 1
                progress.planning_s += d.get("queryPlanning", 0) / 1000.0
                progress.add_batch_s += d.get("addBatch", 0) / 1000.0

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.batches = 0
        self.planning_s = 0.0
        self.add_batch_s = 0.0
        spark.streams.addListener(_Listener())


def drain_listener_bus(spark, timeout_ms: int = 10_000) -> None:
    """Wait until Spark has delivered every queued listener event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def harvest_status_store(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) of the application from Spark's status store, as
    plain dicts. Jobs carry their group (the benchmark tags one group per
    op execution); stages carry their job ids and task metrics."""
    jvm = spark.sparkContext._jvm
    kv = spark.sparkContext._jsc.sc().statusStore().store()

    def view(cls_name: str):
        it = kv.view(jvm.java.lang.Class.forName(cls_name)).iterator()
        while it.hasNext():
            yield it.next()

    jobs = []
    for w in view("org.apache.spark.status.JobDataWrapper"):
        j = w.info()
        group = j.jobGroup()
        jobs.append(
            {
                "job": j.jobId(),
                "group": group.get() if group.isDefined() else None,
                "start": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
            }
        )
    stages = []
    for w in view("org.apache.spark.status.StageDataWrapper"):
        s = w.info()
        stages.append(
            {
                "stage": s.stageId(),
                "attempt": s.attemptId(),
                "jobs": [int(x) for x in w.jobIds().mkString(",").split(",") if x],
                "status": s.status().toString(),
                "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_s": s.executorRunTime() / 1000.0,
                "input_b": s.inputBytes(),
                "output_b": s.outputBytes(),
                "shuffle_read_b": s.shuffleReadBytes(),
                "shuffle_write_b": s.shuffleWriteBytes(),
                "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        )
    return jobs, stages


def jvm_gc_seconds(spark) -> float:
    """Total collection time of every garbage collector of the JVM."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1000.0
