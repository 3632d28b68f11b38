"""Fixed cost of one Python task: an 8-task ``mapInPandas`` over 8 rows.

    python scripts/python_task_cost.py [n_jobs]

Runs one warm-up job, then ``n_jobs`` (default 6) timed jobs on ``local[4]``,
and prints one JSON line with three medians over the timed jobs' tasks:

- ``task_ms``: launch to finish, from Spark's event log;
- ``executor_run_ms``: the task's executor run time, from the same log;
- ``setup_spark_files_ms``: time inside the worker in PySpark's per-task
  ``setup_spark_files`` (where ``importlib.invalidate_caches()`` runs),
  taken by wrapping it from inside the first task each worker runs.

The UDF imports ``dsm2dtm_spark`` like every engine operator does.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def probe(batches):
    import time

    import pandas as pd
    from pyspark import worker

    import dsm2dtm_spark  # noqa: F401

    if not hasattr(worker, "_setup_files_s"):
        # worker.main looks the function up per task: later tasks are timed
        setup, worker._setup_files_s = worker.setup_spark_files, []

        def timed_setup(infile):
            t0 = time.perf_counter()
            setup(infile)
            worker._setup_files_s.append(time.perf_counter() - t0)

        worker.setup_spark_files = timed_setup
    timings, worker._setup_files_s = worker._setup_files_s, []
    n = sum(len(b) for b in batches)
    yield pd.DataFrame({"n": [n], "setup_ms": [json.dumps([t * 1e3 for t in timings])]})


def main(n_jobs: int = 6) -> None:
    from dsm2dtm_spark.session import get_spark

    os.chdir(ROOT)  # local-mode workers import the engine from the cwd
    log_dir = tempfile.mkdtemp(prefix="task_cost_events_")
    spark = get_spark("python_task_cost", cores=4, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    walls, setup_ms = [], []
    for job in range(n_jobs + 1):
        t0 = time.perf_counter()
        out = (
            spark.range(0, 8, numPartitions=8)
            .mapInPandas(probe, "n long, setup_ms string")
            .toPandas()
        )
        walls.append(time.perf_counter() - t0)
        if job:
            setup_ms += [t for s in out["setup_ms"] for t in json.loads(s)]
    spark.stop()

    task_ms, run_ms = [], []
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                if ev.get("Event") == "SparkListenerTaskEnd" and ev["Stage ID"] > 0:
                    info = ev["Task Info"]
                    task_ms.append(info["Finish Time"] - info["Launch Time"])
                    run_ms.append(ev["Task Metrics"]["Executor Run Time"])
    shutil.rmtree(log_dir, ignore_errors=True)
    print(json.dumps({
        "python": sys.version.split()[0],
        "jobs": n_jobs,
        "tasks": len(task_ms),
        "job_wall_s": [round(w, 3) for w in walls[1:]],
        "task_ms": statistics.median(task_ms),
        "executor_run_ms": statistics.median(run_ms),
        "setup_spark_files_ms": round(statistics.median(setup_ms), 2) if setup_ms else None,
        "setup_spark_files_n": len(setup_ms),
    }))


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 6)
