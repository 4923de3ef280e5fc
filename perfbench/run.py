"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 35 --trace 0

Run from the repository root. The run generates the seeded inputs,
computes the DuckDB oracle hashes on them, then starts one fresh driver
process (``measure.py``) with a pinned environment and times it. It
prints the environment, every metric with its unit and every op's
correctness, and as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). Everything it
writes goes under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.metadata
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import stats  # noqa: E402
from workloads import SCALE_FACTOR, WORKLOADS  # noqa: E402

ROOT = HERE.parent
PACKAGE = "bigdata_carprice_assignment_spark"
WORK = ROOT / ".perfbench"
# A run must end within 180 s. The measured process gets what is left of
# this deadline after input generation and the oracle; the rest is the
# margin for reaping its process group and printing the report.
RUN_DEADLINE_S = 165
# Driver JVM heap cap. The inputs are small. The package default (16g)
# exceeds a 15 GB machine, and with 3g the JVM's heap-growth decisions
# moved peak resident memory by 1.4-2.4 GB between runs of the same code.
DRIVER_MEM = "1g"
# Driver JVM flags: a fixed heap, the serial collector and the C1 JIT
# only. With the default parallel collector and C2 compiler threads the
# same analytics run spent 50 CPU seconds in its cold pass and 17 in a
# warm one; with these, 21 and 6 on 4 cores. At these input sizes C2's
# code does not pay back its compile time within a run.
JVM_OPTIONS = f"-Xms{DRIVER_MEM} -XX:+UseSerialGC -XX:TieredStopAtLevel=1"
# Fresh processes that only set the session up, besides the measured one:
# setup_s is the median of these samples and the measured process's. Each
# costs 7-8 s of wall time on 4 cores; with two, runs grew to 63 s
# (analytics) and 71 s (corpus), too long for 48 runs in 57 minutes.
SETUP_PROBES = 1


def pinned_env() -> tuple[dict[str, str], dict]:
    """The measured process's environment and the facts it was pinned to.
    Parallelism follows the CPUs this process may run on (the package
    default of 32 would oversubscribe a small machine); the driver heap
    is capped at ``DRIVER_MEM``."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = WORK / "tmp"
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # Python workers import the package from the repository root
        PYTHONPATH=os.pathsep.join([str(ROOT), str(HERE)]),
        TZ="UTC",
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(WORK / "local"),
        SPARK_GRAFT_STREAM_CKPT_DIR=str(tmp / "stream"),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} {JVM_OPTIONS}' "
            "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
            "pyspark-shell"
        ),
    )
    facts = {
        "cpus": cpus,
        "mem_gb": round(mem_gb, 1),
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "jvm_options": JVM_OPTIONS,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "pyspark": importlib.metadata.version("pyspark"),
        "python": platform.python_version(),
    }
    return env, facts


def oracle_hashes(ops, sf_dir: Path) -> dict[str, list | str]:
    """Order-insensitive hash of each op's DuckDB oracle on the inputs
    (an error string where the oracle itself fails).

    A seed only permutes rows, so every seed's inputs hold the same row
    multiset and an order-insensitive hash of an oracle is the same for
    all seeds. Hashes are cached under a key of the op, the generator and
    the package's source; DuckDB (and the registry import that supplies
    the oracle SQL) runs only on a cache miss."""
    cache_file = WORK / "oracle-cache.json"
    cache = json.loads(cache_file.read_text()) if cache_file.is_file() else {}
    h = hashlib.sha256((HERE / "datagen.py").read_bytes() + repr(SCALE_FACTOR).encode())
    for src in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(src.read_bytes())
    keys = {op: f"{op}:{h.hexdigest()}" for op in ops}
    if any(k not in cache for k in keys.values()):
        import duckdb

        from bigdata_carprice_assignment_spark import registry
        from bigdata_carprice_assignment_spark.sources.readers import TESTDATA_TABLES

        registry.load_all()
        con = duckdb.connect()
        try:
            for t in TESTDATA_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            for op, key in keys.items():
                sql = registry.ORACLES.get(op)
                if sql is None:
                    cache[key] = None
                    continue
                try:
                    cur = con.execute(sql)
                    rows = cur.fetchall()
                    cache[key] = list(stats.result_hash([d[0] for d in cur.description], rows))
                except duckdb.Error as e:
                    cache[key] = f"oracle error: {e}"
        finally:
            con.close()
        cache_file.write_text(json.dumps(cache))
    return {op: cache[k] for op, k in keys.items() if cache[k] is not None}


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the machine since boot, from
    /proc/stat: the share of steal over a run says how much a shared host
    took from it."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def run_child(
    args, env: dict[str, str], sf_dir: Path, out: Path, log: Path, timeout_s: float, setup_only: int = 0
) -> float:
    """Run a measured process to completion; returns its spawn time.
    The child leads its own process group (JVM and Python workers
    included), which is reaped before returning."""
    cmd = [
        sys.executable,
        str(HERE / "measure.py"),
        f"--workload={args.workload}",
        f"--seed={args.seed}",
        f"--trace={args.trace}",
        f"--setup-only={setup_only}",
        f"--inputs={sf_dir}",
        f"--out={out}",
    ]
    with open(log, "w") as logf:
        spawn = time.time()
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True
        )
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # timed out or interrupted: take the whole group down at once
            _reap_group(proc, grace_s=10.0 if proc.returncode is not None else 0.0)
    if code != 0:
        tail = log.read_text().splitlines()[-30:]
        reason = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"measured process {reason}; last log lines:\n" + "\n".join(tail))
    return spawn


def _group_alive(pgid: int) -> bool:
    """Whether any process of group ``pgid`` is still running (exited
    processes that no one has waited for yet do not count)."""
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap_group(proc: subprocess.Popen, grace_s: float = 10.0) -> None:
    """Wait for every process of the group ``proc`` leads to end, killing
    what is left after ``grace_s``, and reap ``proc``."""
    deadline = time.time() + grace_s
    while _group_alive(proc.pid):
        if time.time() > deadline:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    proc.wait()


def check_ops(result: dict, oracle: dict) -> tuple[dict, dict[str, list[str]]]:
    """Per-op correctness. Oracle ops must match the oracle hash; the
    others must return rows and the same hash in every pass. Returns
    counts and, per failing op, what went wrong."""
    problems: dict[str, list[str]] = defaultdict(list)
    first_hash: dict[str, tuple] = {}
    exceptions = wrong = attempted = 0
    for p in result["passes"]:
        for r in p["ops"]:
            attempted += 1
            op, got = r["op"], (r["rows"], r["hash"])
            r["ok"] = False
            if r["error"]:
                exceptions += 1
                problems[op].append(f"pass {p['pass']}: {r['error']}")
                continue
            want = oracle.get(op)
            if isinstance(want, str):
                problems[op].append(f"pass {p['pass']}: {want}")
            elif want is not None and list(got) != want:
                problems[op].append(f"pass {p['pass']}: rows/hash {got} != oracle {tuple(want)}")
            elif want is None and got[0] == 0:
                problems[op].append(f"pass {p['pass']}: no rows")
            elif want is None and first_hash.setdefault(op, got) != got:
                problems[op].append(f"pass {p['pass']}: hash {got} != pass 1 {first_hash[op]}")
            else:
                r["ok"] = True
                continue
            wrong += 1
    return {"attempted": attempted, "exceptions": exceptions, "wrong": wrong}, dict(problems)


def warm_pass(passes: list[dict], key: str) -> float:
    """A warm pass's time: the sum over ops of each op's median time over
    the warm passes."""
    per_op = defaultdict(list)
    for p in passes[1:]:
        for r in p["ops"]:
            per_op[r["op"]].append(r[key])
    return sum(statistics.median(v) for v in per_op.values())


def end_to_end(result: dict, spawn: float, counts: dict, probes: list[tuple[dict, float]]) -> tuple[dict, dict, dict]:
    """The end-to-end metrics, their wall-clock counterparts (printed and
    stored, not reported) and facts about how they were taken. Pass and
    op times are CPU seconds of the measured process tree. ``probes`` are
    the (result, spawn time) of the set-up-only processes."""
    passes = result["passes"]
    ops = [r for p in passes for r in p["ops"]]
    ok_ops = sum(r["ok"] for r in ops)
    failed = stats.failed_frac(counts["attempted"], counts["exceptions"], counts["wrong"])
    setup = result["setup"]
    sessions = [(setup, spawn)] + [(p["setup"], t) for p, t in probes]

    def times(op_key: str, pass_key: str, suffix: str) -> dict:
        per_op = [r[op_key] for r in ops]
        return {
            f"cold_pass{suffix}": (passes[0][pass_key], "s"),
            f"warm_pass{suffix}": (warm_pass(passes, op_key), "s"),
            f"op_p50{suffix}": (statistics.median(per_op), "s"),
            f"op_tail{suffix}": (stats.op_tail(per_op)[1], "s"),
            f"ops_per{suffix}": (ok_ops / sum(p[pass_key] for p in passes), "1/s"),
        }

    # The session start (get_spark + load_all) is sampled in every process;
    # Python-worker bring-up only in the measured one.
    metrics = {
        "setup_s": (
            statistics.median(s["session_cpu_s"] for s, _ in sessions) + setup["cpu_s"] - setup["session_cpu_s"],
            "s",
        ),
        **times("cpu_s", "cpu_s", "_cpu_s"),
        "ok_frac": (1.0 - failed, "frac"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }
    wall = {
        "setup_wall_s": (
            statistics.median(s["session_ready"] - t for s, t in sessions) + result["ready"] - setup["session_ready"],
            "s",
        ),
        **times("latency_s", "wall_s", "_s"),
    }
    notes = {
        "setup_samples": len(sessions),
        "op_tail_percentile": stats.op_tail([r["cpu_s"] for r in ops])[0],
        "op_samples": len(ops),
        "failed_frac": failed,
    }
    return metrics, wall, notes


def per_layer(result: dict, counts: dict) -> dict:
    """Per-layer metrics of a traced run."""
    ops = [r for p in result["passes"] for r in p["ops"]]
    groups = {r["group"]: r for r in ops}
    jobs_by_group = defaultdict(list)
    op_jobs = set()
    for j in result["jobs"]:
        if j["group"] in groups:
            op_jobs.add(j["job"])
            if j["start"] is not None and j["end"] is not None:
                jobs_by_group[j["group"]].append((j["start"], j["end"]))
    stages = [s for s in result["stages"] if op_jobs.intersection(s["jobs"])]
    op_wall = sum(r["latency_s"] for r in ops)
    busy = sum(s["run_s"] for s in stages)
    tc = result["counts"]
    lookups = tc.get("plans.pool_lookup", 0)
    spans = result["spans"]
    pin_s = sum(s["end"] - s["start"] for s in spans if s["name"] == "plans.pin")
    build_self = sum(
        r["build_s"] - stats.union_length(jobs_by_group[r["group"]], r["start"], r["start"] + r["build_s"])
        for r in ops
    )
    mb = 1e6
    return {
        "session.start_s": (result["setup"]["start_s"], "s"),
        "session.load_s": (result["setup"]["load_s"], "s"),
        "queries.build_s": (sum(r["build_s"] for r in ops), "s"),
        "queries.build_self_s": (build_self, "s"),
        "queries.collect_s": (sum(r["collect_s"] for r in ops), "s"),
        "queries.jobs": (len(op_jobs), "count"),
        "queries.driver_gap_s": (
            sum(stats.driver_gap(r["start"], r["end"], jobs_by_group[r["group"]]) for r in ops),
            "s",
        ),
        "queries.result_rows": (sum(r["rows"] or 0 for r in ops), "count"),
        "queries.failed_frac": (
            stats.failed_frac(counts["attempted"], counts["exceptions"], counts["wrong"]),
            "frac",
        ),
        "exec.stages": (len(stages), "count"),
        "exec.tasks": (sum(s["tasks"] for s in stages), "count"),
        "exec.task_busy_s": (busy, "s"),
        "exec.slot_utilization": (busy / (op_wall * result["cores"]), "frac"),
        "exec.shuffle_read_mb": (sum(s["shuffle_read_b"] for s in stages) / mb, "MB"),
        "exec.shuffle_write_mb": (sum(s["shuffle_write_b"] for s in stages) / mb, "MB"),
        "exec.spill_mb": (sum(s["spill_b"] for s in stages) / mb, "MB"),
        "exec.failed_tasks": (sum(s["failed_tasks"] for s in stages), "count"),
        "exec.gc_s": (result["gc_s"], "s"),
        "sources.scan_mb": (sum(s["input_b"] for s in stages) / mb, "MB"),
        "sources.write_mb": (sum(s["output_b"] for s in stages) / mb, "MB"),
        "sources.table_loads": (tc.get("sources.load_table", 0), "count"),
        "plans.pool_lookups": (lookups, "count"),
        "plans.pool_hits": (tc.get("plans.pool_hits", 0), "count"),
        "plans.pool_hit_ratio": (tc.get("plans.pool_hits", 0) / lookups if lookups else 0.0, "frac"),
        "plans.pins": (tc.get("plans.pin", 0), "count"),
        "plans.pin_s": (pin_s, "s"),
        "plans.exchanges": (sum(r.get("exchanges", 0) for r in ops), "count"),
        "streaming.batches": (result["streaming"]["batches"], "count"),
        "streaming.planning_s": (result["streaming"]["planning_s"], "s"),
        "streaming.add_batch_s": (result["streaming"]["add_batch_s"], "s"),
        "trace.overhead_cpu_s": (
            result["passes"][-1]["cpu_s"] - result["untraced_warm"]["cpu_s"],
            "s",
        ),
    }


def self_time_by_layer(result: dict) -> dict[str, float]:
    """Self time per span name, with one child span per Spark job of an
    op execution, parented to the innermost span of that execution the job
    started in (span ``op`` fields hold the execution's job group)."""
    spans = [dict(s) for s in result["spans"] if s["end"] is not None]
    by_op = defaultdict(list)
    for s in sorted(spans, key=lambda s: -s["start"]):
        if s["op"] is not None and s["name"] != "op":
            by_op[s["op"]].append(s)
    for j in result["jobs"]:
        op = j["group"]
        if op not in by_op or j["start"] is None or j["end"] is None:
            continue
        parent = next((s for s in by_op[op] if s["start"] <= j["start"] <= s["end"]), None)
        spans.append(
            {
                "id": len(spans),
                "name": "spark.job",
                "start": j["start"],
                "end": j["end"],
                "parent": parent["id"] if parent else None,
                "op": op,
            }
        )
    selfs = stats.self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += selfs[s["id"]]
    return dict(out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # Accepted for the automated runner; a run always measures the same
    # passes, so its samples do not depend on how fast the machine is.
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    # SIGTERM unwinds like Ctrl-C, so the measured process group is reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / PACKAGE / "registry.py").is_file():
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    env, facts = pinned_env()
    for d in ("tmp", "local", "results"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    shutil.rmtree(WORK / "inputs", ignore_errors=True)
    sf_dir = WORK / "inputs" / f"sf{SCALE_FACTOR}-seed{args.seed}"
    rows = datagen.write_inputs(str(sf_dir), args.seed, SCALE_FACTOR)
    gen_s = time.time() - started
    ops = WORKLOADS[args.workload]
    t = time.time()
    oracle = oracle_hashes(ops, sf_dir)
    oracle_s = time.time() - t

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = WORK / "results" / f"{tag}.json"
    steal0, total0 = cpu_times()
    probes = []
    try:
        for i in range(SETUP_PROBES):
            probe_out = WORK / "results" / f"{tag}-setup{i}.json"
            timeout_s = RUN_DEADLINE_S - (time.time() - started)
            t = run_child(args, env, sf_dir, probe_out, WORK / "results" / f"{tag}-setup{i}.log", timeout_s, 1)
            probes.append((json.loads(probe_out.read_text()), t))
        timeout_s = RUN_DEADLINE_S - (time.time() - started)
        spawn = run_child(args, env, sf_dir, out, WORK / "results" / f"{tag}.log", timeout_s)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    child_s = time.time() - spawn
    steal1, total1 = cpu_times()
    result = json.loads(out.read_text())
    facts["java"] = result["java_version"]
    facts["cpu_steal_share"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
    counts, problems = check_ops(result, oracle)
    metrics, wall, notes = end_to_end(result, spawn, counts, probes)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} sf={SCALE_FACTOR} "
          f"ops={len(ops)} inputs_s={gen_s:.2f} oracle_s={oracle_s:.2f} measured_process_s={child_s:.2f}")
    print("env " + json.dumps(facts))
    print("inputs " + json.dumps(rows))
    print(f"op_tail is p{notes['op_tail_percentile']} of {notes['op_samples']} op samples "
          f"(all passes); setup_s is the median of {notes['setup_samples']} set-ups; "
          f"failed_frac={notes['failed_frac']:.4f}")
    report = metrics
    if args.trace:
        report = per_layer(result, counts)
        for name, v in sorted(self_time_by_layer(result).items()):
            print(f"self_time {name:<24} {v:10.4f} s")
        traced, untraced = result["passes"][-1]["wall_s"], result["untraced_warm"]["wall_s"]
        print(f"tracing overhead on the warm pass wall: {traced - untraced:+.3f} s "
              f"({traced:.3f} traced, {untraced:.3f} untraced)")
    for name, (v, unit) in (metrics | wall | report).items():
        print(f"metric {name:<24} {v:14.6f} {unit}")
    for p in result["passes"]:
        for r in p["ops"]:
            status = "ok" if r["ok"] else "FAIL"
            print(f"op pass{p['pass']} {r['op']:<40} {r['latency_s']:8.4f} s {r['cpu_s']:8.3f} cpu-s "
                  f"{'oracle' if r['op'] in oracle else 'stable-hash'} {status}")
    for op, why in sorted(problems.items()):
        for line in why:
            print(f"failing {op}: {line}")
    result.update(env=facts, metrics=metrics | wall | report, notes=notes, problems=problems)
    out.write_text(json.dumps(result))
    print(json.dumps({
        "correct": counts["exceptions"] + counts["wrong"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["exceptions"] + counts["wrong"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
