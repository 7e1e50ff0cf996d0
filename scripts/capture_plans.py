"""Capture ``.explain("formatted")`` for every headline query into
plans/<round>/<query>_<tag>.txt — an optimization round's plan evidence
(the judge checks plan claims against these files).

Usage: python scripts/capture_plans.py --round rNN <tag> [name ...]
  rNN:  the round (output dir plans/rNN, Spark app plans_rNN_<tag>)
  tag:  'before' | 'after' (file suffix)
  name: optional subset of query names (default: all HEADLINE +
        HEADLINE_ISOLATED from bench.py)

Plans are captured at sf0.1 (the driver's bench point). Streaming
queries whose builder RUNS the stream (stream_transform_with_state,
dedup index capstones) capture the executed micro-batch plan via
streaming/core.LAST_EXECUTED_PLAN when the DataFrame explain would
only show the memory-sink read.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, HEADLINE_ISOLATED  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", required=True, help="round tag, e.g. r17")
    ap.add_argument("tag", nargs="?", default="before")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    tag = args.tag
    subset = args.names or None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    from datafusion_functions_variant_spark.plans.session import get_session
    from datafusion_functions_variant_spark.queries import load_all_queries
    from datafusion_functions_variant_spark.streaming import core as score

    spark = get_session(
        app_name=f"plans_{args.round}_{tag}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all_queries()

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        args.round,
    )
    os.makedirs(out_dir, exist_ok=True)

    names = subset or (HEADLINE + HEADLINE_ISOLATED)
    for name in names:
        spec = registry.get(name)
        if spec is None:
            print(f"skip {name}: not in registry", file=sys.stderr)
            continue
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        try:
            score.LAST_EXECUTED_PLAN[0] = ""
            df = spec.build(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            # builders that RUN a stream leave the executed micro-batch
            # plan here — that's the plan that did the work, append it
            streamed = score.LAST_EXECUTED_PLAN[0]
            with open(path, "w") as fh:
                fh.write(f"== {name} @ {sf_dir} ({tag}) ==\n\n")
                fh.write(plan)
                if streamed:
                    fh.write(
                        "\n\n== executed streaming micro-batch plan "
                        "(streaming/core.LAST_EXECUTED_PLAN) ==\n\n"
                    )
                    fh.write(streamed)
            print(f"wrote {path}")
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {type(e).__name__}: {e}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
