#!/usr/bin/env python
"""Python worker CPU per task, and what the worker imports pyspark from.

Usage: python tools/worker_task_cpu.py [--tasks 8] [--jobs 4]

Runs ``--jobs`` ``mapPartitions`` jobs of ``--tasks`` empty tasks on a
``get_spark`` session of ``min(4, cpus)`` cores. Each task reports its
worker's pid and ``os.times()`` user+system CPU; the cost of a task is the
CPU delta from the previous task on the same (reused) worker, so it counts
everything the worker does per task outside user code. Prints one JSON
line: the median per-task CPU, the wall of the first job (which starts
the workers) and of each later one, and the worker's ``pyspark.__file__``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zonal_datacube_spark.session import get_spark


def _report(_):
    import os

    import pyspark

    t = os.times()
    yield os.getpid(), t.user + t.system, pyspark.__file__


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--tasks", type=int, default=8)
    p.add_argument("--jobs", type=int, default=4)
    args = p.parse_args(argv)
    spark = get_spark("zds-worker-cpu", str(min(4, os.cpu_count() or 1)))
    sc = spark.sparkContext
    last: dict[int, float] = {}
    deltas, walls, files = [], [], set()
    for job in range(args.jobs):
        t0 = time.perf_counter()
        reports = sc.parallelize(range(args.tasks), args.tasks).mapPartitions(_report).collect()
        walls.append(round(time.perf_counter() - t0, 3))
        # a worker's CPU only grows, so sorting by it gives its task order
        for pid, cpu, file in sorted(reports, key=lambda r: (r[0], r[1])):
            if pid in last:
                deltas.append(cpu - last[pid])
            last[pid] = cpu
            files.add(file)
    print(json.dumps({
        "task_cpu_s_median": round(statistics.median(deltas), 4) if deltas else None,
        "task_cpu_samples": len(deltas),
        "first_job_s": walls[0],
        "job_wall_s": walls[1:],
        "pyspark_file": sorted(files),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
