"""Stage width: a Python stage runs one task per input split and a
replay drain keeps at most one state store per core, because every
Python task costs a fixed ~0.3 CPU-s whatever it computes; and Python
workers import the package whatever the driver's working directory."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest
from pyspark.sql.streaming import StreamingQueryListener

from bigdata_carprice_assignment_spark import registry

from .test_driver_finish import job_group

REPO_ROOT = Path(__file__).resolve().parents[1]
# name -> most tasks its warm call may run on sf0.001 (one per stage of
# its 3 or 4 jobs; a repartition to 8 before the decode ran 11 and 12)
PYTHON_STAGE_TASKS = {
    "multimodal_feature_extract": 4,
    "multimodal_frame_sample": 5,
}

REPLAYS = [
    "streaming_dedup_hourly_replay",
    "streaming_sessionization_replay",
    "streaming_attribution_replay",
    "streaming_stateful_totals_replay",
    "streaming_sliding_rollup_replay",
]


def _tasks_run(spark, job_ids: list[int]) -> int:
    """Tasks the jobs ran. A skipped stage reports its ``numTasks`` but
    runs none, so count completed tasks."""
    tracker = spark.sparkContext.statusTracker()
    stages = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
    return sum(tracker.getStageInfo(s).numCompletedTasks for s in stages)


@pytest.mark.parametrize("name", sorted(PYTHON_STAGE_TASKS))
def test_python_stage_task_budget(spark, sf_smoke, name):
    registry.load_all()
    fn = registry.QUERIES[name]
    fn(spark, sf_smoke).collect()  # cold call: schema memo, codegen
    with job_group(spark) as ids:
        fn(spark, sf_smoke).collect()
    assert _tasks_run(spark, ids) <= PYTHON_STAGE_TASKS[name]


class _StateWidths(StreamingQueryListener):
    def __init__(self):
        self.widths: dict[str, list[int]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.widths.setdefault(p.name, []).extend(
            op.numShufflePartitions for op in p.stateOperators
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def test_replay_drain_state_width_at_most_cores(spark, sf_smoke):
    """Every stateful operator of every replay drain keeps at most one
    state store per core."""
    registry.load_all()
    listener = _StateWidths()
    spark.streams.addListener(listener)
    try:
        for name in REPLAYS:
            registry.QUERIES[name](spark, sf_smoke).collect()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    finally:
        spark.streams.removeListener(listener)
    widths = [w for ws in listener.widths.values() for w in ws]
    assert len(listener.widths) == len(REPLAYS) and all(listener.widths.values())
    assert max(widths) <= spark.sparkContext.defaultParallelism


def test_worker_imports_do_not_depend_on_cwd(tmp_path, sf_smoke):
    """The decode UDF imports the package on a Python worker; a driver
    started outside the repo, with no PYTHONPATH, must still run it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    script = (
        f"import sys; sys.path.insert(0, {str(REPO_ROOT)!r})\n"
        "from bigdata_carprice_assignment_spark.queries.llmdata import "
        "multimodal_feature_extract\n"
        "from bigdata_carprice_assignment_spark.session import get_spark\n"
        f"rows = multimodal_feature_extract(get_spark('cwd'), {sf_smoke!r}).collect()\n"
        "assert rows[0]['n_decoded'] == rows[0]['n_media'] > 0\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
