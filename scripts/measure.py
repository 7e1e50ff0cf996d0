"""Isolated per-query measurement for an optimization round.

Times a subset of registry queries with the SAME warmup+median
protocol as bench.py (one untimed warmup, N timed samples, median +
min reported), on a session built exactly like the bench's. Two
consume modes:

* ``checksum`` (default) — bench.py's value-consuming CRC32 fold, so
  numbers are directly comparable with BENCH.json columns.
* ``noop``     — guide §1.4's noop sink (computes every column of
  every row, discards; no JVM-side checksum arithmetic).

Usage:
  python scripts/measure.py [--runs N] [--dir D] [--noop] name...

Prints one line per query: name, wall-clock median, min and samples,
the median process-tree CPU seconds (``time_samples``), which load on
the box does not inflate the way it inflates wall clock, and the number
of Spark jobs the last timed sample started (build and consume; each
sample runs under its own job group).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import time_samples  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--noop", action="store_true")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.plans.session import get_session
    from datafusion_functions_variant_spark.queries import load_all_queries

    spark = get_session(
        app_name="measure",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    registry = load_all_queries()
    spark.read.parquet(os.path.join(args.dir, "region.parquet")).count()

    if args.noop:
        def consume(df) -> None:
            df.write.format("noop").mode("overwrite").save()
    else:
        def consume(df) -> None:
            df.select(
                F.sum(F.crc32(F.to_json(F.struct(*df.columns)).cast("binary")))
            ).collect()

    for name in args.names:
        spec = registry.get(name)
        if spec is None:
            print(f"{name}: NOT IN REGISTRY", file=sys.stderr)
            continue
        samples = iter(range(args.runs + 1))  # the warm-up, then the timed ones

        def grouped_build(spark, dir_):
            group = f"measure:{name}#{next(samples)}"
            spark.sparkContext.setJobGroup(group, group)
            return spec.build(spark, dir_)

        try:
            walls, cpu_s = time_samples(spark, grouped_build, args.dir, args.runs, consume)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: FAIL {type(e).__name__}: {e}".splitlines()[0][:200])
            continue
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker late
        jobs = len(sc.statusTracker().getJobIdsForGroup(f"measure:{name}#{args.runs}"))
        med = sorted(walls)[len(walls) // 2]
        cpu = sorted(cpu_s)[len(cpu_s) // 2]
        print(
            f"{name}: median={med:.3f} min={min(walls):.3f} "
            f"samples={[round(s, 3) for s in walls]} cpu_s={cpu:.2f} jobs={jobs}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
