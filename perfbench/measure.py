"""The measured driver process of one benchmark run.

Started by ``run.py`` as a fresh process with the environment pinned.
It brings the session up, runs the workload's op list as one closed-loop
client -- a cold pass in the listed order, then ``WARM_PASSES`` warm
passes in seeded orders -- and writes every op's wall and CPU time and
result hash to ``--out`` as JSON. With ``--trace 1`` it also records layer
spans, Spark job and stage data and streaming progress, and runs the last
warm pass once more with tracing off to measure what tracing costs. With
``--setup-only 1`` it only brings the session up (``get_spark`` and
``load_all``) and records what that cost: one more set-up sample.

Nothing is done between ops except tagging the next op's job group,
reading the session's CPU time and hashing the collected rows; all stay
outside the op's timed interval.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from contextlib import nullcontext

from stats import result_hash
from workloads import PYTHON_WORKER_WORKLOADS, WORKLOADS

# Warm passes after the cold pass. A constant, so every run of every
# machine covers the same samples.
WARM_PASSES = 3


def pass_order(ops: list[str], seed: int, n: int) -> list[str]:
    """The op order of pass ``n`` for workload seed ``seed``. The cold pass
    (n = 1) keeps the listed order: in a fresh JVM the first op of each
    kind pays shared first-use costs (3-8 s on 4 cores), so a seeded cold order
    moves seconds from op to op and the per-op tail follows the order, not
    the code. Warm passes run in seeded orders."""
    if n == 1:
        return list(ops)
    return random.Random(f"{seed}:{n}").sample(ops, len(ops))


def _vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process's session:
    the driver, its JVM and the JVM's Python workers, with exited
    processes counted through their reaped children's times."""
    sid = os.getsid(0)
    total = 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _jvm_pid(spark) -> int:
    """Pid of the driver JVM: the py4j gateway process pyspark launched
    (spark-submit execs into java)."""
    return spark.sparkContext._gateway.proc.pid


def bring_up(tracer, python_workers: bool):
    """get_spark + load_all, then, where the workload runs Python code,
    Python-worker bring-up; returns the session and the wall seconds spent
    in each step, with the session's CPU seconds after ``load_all``
    (``session_cpu_s``) and after the last step (``cpu_s``)."""

    def span(name):
        return tracer.span(name) if tracer else nullcontext()

    from bigdata_carprice_assignment_spark import registry
    from bigdata_carprice_assignment_spark.session import get_spark

    t0 = time.time()
    with span("session.start"):
        spark = get_spark("perfbench")
    t1 = time.time()
    if tracer:
        from tracing import install_layer_wrappers

        install_layer_wrappers(tracer)
    with span("session.load"):
        registry.load_all()
    t2 = time.time()
    session_cpu_s = tree_cpu_s()
    if python_workers:
        with span("session.workers"):
            # One task per core: a pandas map imports pandas and Arrow in
            # every worker at once. Started lazily by the ops instead, the
            # workers cost the cold pass 12 s of wall time on 4 cores
            # rather than 8 s here.
            cores = spark.sparkContext.defaultParallelism
            spark.range(0, cores, 1, cores).mapInPandas(lambda it: it, "id long").collect()
    t3 = time.time()
    return spark, registry, {
        "start_s": t1 - t0,
        "load_s": t2 - t1,
        "workers_s": t3 - t2,
        "session_ready": t2,
        "session_cpu_s": session_cpu_s,
        "cpu_s": tree_cpu_s(),
    }


def run_op(spark, registry, name: str, group: str, sf_dir: str, tracer) -> dict:
    """One op: the registry callable (plan build plus any eager driver
    actions), then ``collect``, its Spark jobs tagged with ``group``.
    Returns its wall and CPU time and its result hash."""
    fn = registry.QUERIES[name]
    rec = {"op": name, "group": group, "error": None, "rows": None, "hash": None}
    span = tracer.span if tracer else (lambda _name: nullcontext())
    if tracer:
        tracer.op = group
    spark.sparkContext.setJobGroup(group, name)
    df = rows = t1 = None
    c0 = tree_cpu_s()
    t0 = time.time()
    try:
        with span("op"):
            with span("queries.build"):
                df = fn(spark, sf_dir)
            t1 = time.time()
            with span("queries.collect"):
                rows = df.collect()
    except Exception as e:  # an op failure is a result, not a crash
        msg = str(e).strip().splitlines()
        rec["error"] = f"{type(e).__name__}: {msg[0][:300] if msg else ''}"
    t2 = time.time()
    c1 = tree_cpu_s()
    t1 = t2 if t1 is None else t1
    rec.update(start=t0, end=t2, build_s=t1 - t0, collect_s=t2 - t1, latency_s=t2 - t0, cpu_s=c1 - c0)
    if rec["error"] is None:
        rec["rows"], rec["hash"] = result_hash(df.columns, rows)
        if tracer and tracer.enabled:
            from bigdata_carprice_assignment_spark.plans.explain import count_exchanges

            rec["exchanges"] = count_exchanges(df)
    return rec


def run_pass(spark, registry, ops, n: int, order_of: int, args, tracer) -> dict:
    """Pass ``n``: every op once, in the order of pass ``order_of``."""
    recs = [
        run_op(spark, registry, name, f"p{n}:{i}:{name}", args.inputs, tracer)
        for i, name in enumerate(pass_order(ops, args.seed, order_of))
    ]
    return {
        "pass": n,
        "wall_s": sum(r["latency_s"] for r in recs),
        "cpu_s": sum(r["cpu_s"] for r in recs),
        "ops": recs,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    if args.setup_only:
        spark, _, setup = bring_up(None, False)
        with open(args.out, "w") as f:
            json.dump({"setup": setup}, f)
        spark.stop()
        return
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
    spark, registry, setup = bring_up(tracer, args.workload in PYTHON_WORKER_WORKLOADS)
    ready = time.time()
    sc = spark.sparkContext
    progress = gc0 = None
    if tracer:
        from tracing import StreamingProgress, jvm_gc_seconds

        progress = StreamingProgress(spark)
        gc0 = jvm_gc_seconds(spark)

    ops = list(WORKLOADS[args.workload])
    passes = [run_pass(spark, registry, ops, n, n, args, tracer) for n in range(1, WARM_PASSES + 2)]
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "ready": ready,
        "setup": setup,
        "passes": passes,
        "cores": sc.defaultParallelism,
        "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
    }
    if tracer:
        from tracing import drain_listener_bus, harvest_status_store

        drain_listener_bus(spark)
        out["gc_s"] = jvm_gc_seconds(spark) - gc0
        out["streaming"] = {
            "batches": progress.batches,
            "planning_s": progress.planning_s,
            "add_batch_s": progress.add_batch_s,
        }
        out["counts"] = dict(tracer.counts)
        out["spans"] = tracer.spans
        # The tracing overhead: the last warm pass again, in the same
        # order with tracing switched off, against its traced run
        tracer.enabled = False
        last = len(passes)
        out["untraced_warm"] = run_pass(spark, registry, ops, last + 1, last, args, tracer)
        out["jobs"], out["stages"] = harvest_status_store(spark)
    out["peak_rss_mb"] = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(_jvm_pid(spark))
    with open(args.out, "w") as f:
        json.dump(out, f)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
