"""Fixed cost of one Python task: a one-row, one-task ``mapInPandas``.

Times, on a warm ``local[<cores>]`` session, the min and median over
``--reps`` of
- ``jvm_job_s``: a one-partition JVM-only job (``range(1).collect()``);
- ``python_task_s``: a one-task ``mapInPandas`` whose function imports
  ``biobloom_spark``, from ``collect()`` to the row on the driver;
- ``entry_s``: from ``collect()`` until the task's function is entered
  (same host clock), which is the worker's per-task set-up.
Prints one JSON line.  The first ``--warmup`` Python jobs are untimed: a
freshly forked worker's first tasks pay extra (see
``biobloom_spark._zipcache``).

Usage: python tools/task_floor.py --cores 4 --reps 20
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _probe(batches):
    import pandas as pd

    import biobloom_spark  # noqa: F401  (what every library UDF does)

    entered = time.time()
    for _ in batches:
        pass
    yield pd.DataFrame({"entered": [entered]})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--reps", type=int, default=20)
    ap.add_argument("--warmup", type=int, default=8)
    args = ap.parse_args()

    from biobloom_spark.session import get_spark

    spark = get_spark("task_floor", cores=args.cores, driver_memory="1g")
    spark.sparkContext.setLogLevel("ERROR")
    one_row = spark.range(1, numPartitions=1)

    def python_task():
        t0 = time.time()
        row = one_row.mapInPandas(_probe, "entered double").collect()[0]
        return time.time() - t0, row.entered - t0

    def jvm_job():
        t0 = time.time()
        one_row.collect()
        return time.time() - t0

    for _ in range(args.warmup):
        python_task()
        jvm_job()
    py, entry, jvm = [], [], []
    for _ in range(args.reps):
        wall, enter = python_task()
        py.append(wall)
        entry.append(enter)
        jvm.append(jvm_job())
    spark.stop()

    def stats(xs):
        return {"min": round(min(xs), 4), "median": round(statistics.median(xs), 4)}

    print(json.dumps({
        "cores": args.cores,
        "reps": args.reps,
        "python": sys.version.split()[0],
        "jvm_job_s": stats(jvm),
        "python_task_s": stats(py),
        "entry_s": stats(entry),
    }))


if __name__ == "__main__":
    main()
