"""Profile the fixed per-task cost of a reused Spark Python worker.

Runs N one-partition tasks of a package pandas UDF
(``explicit.variant_from_json``) on ``local[1]``, so one daemon-forked
worker serves them all. Inside the worker a cProfile profiler is turned
on by one pandas UDF (``_arm``) before the first measured task, and
each measured task evaluates a second pandas UDF (``_dump``) after the
package UDF: it stops the profiler, reports what it saw since the last
one was started -- the task's own ``setup_spark_files`` included --
and starts the next.

Prints one line per task: the worker pid, how many times
``zipimport._read_directory`` ran, the cumulative time of
``pyspark.worker_util.setup_spark_files``, the time of the daemon's
``gc.collect()`` after the previous task, how many objects the worker
has frozen out of the collector's reach (``gc.get_freeze_count()``,
see ``vendor.freeze_worker_heap``), and which
``zipimporter.invalidate_caches`` the worker had installed. Times are
under cProfile, which inflates them; the counts are exact.

Usage, from the root of the checkout (the workers resolve the package
from their working directory before ``PYTHONPATH``):
  python scripts/worker_task_profile.py [--tasks N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _arm(s):
    import cProfile

    prof = cProfile.Profile()
    # worker-global: the profile must outlive the task that started it
    cProfile._worker_task_profile = prof
    prof.enable()
    return s


def _dump(s):
    import cProfile
    import gc
    import zipimport

    prof = getattr(cProfile, "_worker_task_profile", None)
    reads, setup_s, gc_s = -1, -1.0, -1.0
    if prof is not None:
        prof.disable()
        prof.create_stats()
        reads, setup_s, gc_s = 0, 0.0, 0.0
        for (path, _line, name), (_cc, nc, _tt, ct, _callers) in prof.stats.items():
            if name == "_read_directory" and "zipimport" in path:
                reads += nc
            elif name == "setup_spark_files":
                setup_s += ct
            elif name == "<built-in method gc.collect>":
                gc_s += ct
    fn = zipimport.zipimporter.invalidate_caches
    report = json.dumps(
        {
            "pid": os.getpid(),
            "read_directory": reads,
            "setup_spark_files_s": setup_s,
            "gc_collect_s": gc_s,
            "freeze_count": gc.get_freeze_count(),
            "invalidate_caches": f"{fn.__module__}.{fn.__qualname__}",
        }
    )
    _arm(s)
    return s.map(lambda _: report)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tasks", type=int, default=8)
    args = ap.parse_args()

    os.environ.setdefault("PYTHONPATH", REPO)
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    from datafusion_functions_variant_spark.functions import explicit
    from datafusion_functions_variant_spark.plans.session import get_session

    spark = get_session(app_name="worker_task_profile", master="local[1]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rows = spark.range(200, numPartitions=1).select(
            F.format_string('{"k": %d, "tag": "t%d"}', "id", F.col("id") % 7).alias("j")
        )
        arm = pandas_udf(_arm, "string")
        dump = pandas_udf(_dump, "string")
        rows.select(arm("j")).collect()
        print(
            "task  pid      read_directory  setup_spark_files_ms  gc_collect_ms  "
            "freeze_count  invalidate_caches"
        )
        for task in range(1, args.tasks + 1):
            # count("v") keeps the package UDF from being pruned
            out, _ = rows.select(
                explicit.variant_from_json("j").alias("v"), dump("j").alias("r")
            ).select(F.first("r"), F.count("v")).collect()[0]
            r = json.loads(out)
            print(
                f"{task:>4}  {r['pid']:<7}  {r['read_directory']:>14}  "
                f"{r['setup_spark_files_s'] * 1e3:>20.1f}  {r['gc_collect_s'] * 1e3:>13.1f}  "
                f"{r['freeze_count']:>12}  {r['invalidate_caches']}"
            )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
