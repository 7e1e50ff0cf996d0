"""Round-13 SCALE probe: per-batch probe+append cost of the
GenerationalHistoryIndex as a function of GENERATION COUNT (VERDICT
r12 #3 — 'flag_members/anti_members scale linearly in generation
count with no probe-side sort reuse pin ... SCALE.md should carry one
probe point at n_generations=5+').

Method: same per-batch transaction as the round-12 tiered probe (one
fixed ~sf0.1 document batch, bloom-sentinel-routed verdicts via
``dup_flags``, novel append via ``novel_keys``), but the sweep
variable is ``n_generations`` at a FIXED index size: the same salted
seed keys are driven through the normal append/promote flow so the 5-
and 7-generation indexes spread their keys across more (smaller)
tiers than the 3-generation one. Budgets are chosen so every depth
actually populates its deeper tiers. The claim under test: the chained
probe's per-batch cost is FLAT in generation count — the probe side
shuffles and sorts ONCE (plan-pinned in tests/test_history.py) and
each extra generation adds one Exchange-free in-place bucketed scan
of data that would otherwise sit in a bigger sibling generation.

Prints one JSON line per depth and a summary line; paste into
SCALE.md. Run on a QUIET box (this is a measurement, not a test).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
RUNS = int(os.environ.get("PROBE_RUNS", "3"))
DEPTHS = (3, 5, 7)
#: seed size multiplier: how many salted copies of the base batch the
#: index holds before the timed steady-state batches run
SEED_K = int(os.environ.get("PROBE_SEED_K", "8"))


def main() -> None:
    import shutil

    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.operators.dedup import normalize_text
    from datafusion_functions_variant_spark.plans.session import get_session
    from datafusion_functions_variant_spark.streaming.history import (
        GenerationalHistoryIndex,
    )

    spark = get_session(
        app_name="gen_depth_probe",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    batch_fp = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .where(F.col("doc_id") % 3 == 0)
        .select("doc_id", F.md5(normalize_text("text")).alias("h"))
        .localCheckpoint(eager=True)
    )
    n_base = batch_fp.count()
    base_dir = os.path.join(REPO, ".tmp_bench", "gen_depth_probe")
    results = {}
    for depth in DEPTHS:
        tbl = f"gen_depth_probe_d{depth}"
        tdir = os.path.join(base_dir, tbl)
        shutil.rmtree(tdir, ignore_errors=True)
        # budgets sized so the SEED_K x n_base seed populates the deep
        # tiers at every depth: gen0 budget = n_base keeps promotions
        # firing roughly once per seed append
        idx = GenerationalHistoryIndex(
            spark,
            tbl,
            "h",
            path=tdir,
            expected_keys=(SEED_K + RUNS + 2) * n_base,
            budget_rows=n_base,
            growth=2,
            n_generations=depth,
            overwrite=True,
        )
        for k in range(1, SEED_K + 1):  # untimed: the accumulated history
            seed = batch_fp.select(
                F.md5(F.concat_ws("#", "h", F.lit(str(k)))).alias("h")
            )
            idx.append(seed, batch_id=0)
        gens_populated = sum(1 for r in idx._gen_rows if r > 0)
        samples = []
        for i in range(RUNS + 1):
            t0 = time.perf_counter()
            idx.dup_flags(batch_fp, "doc_id").agg(
                F.count(F.lit(1)), F.sum("is_dup")
            ).collect()
            idx.append(idx.novel_keys(batch_fp), batch_id=i + 1)
            if i:
                samples.append(time.perf_counter() - t0)
        results[depth] = {
            "median_s": round(sorted(samples)[len(samples) // 2], 3),
            "min_s": round(min(samples), 3),
            "gens_populated": gens_populated,
            "gen_rows": list(idx._gen_rows),
        }
        print(
            json.dumps({"case": "gen_depth", "depth": depth, **results[depth]}),
            flush=True,
        )
    summary = {
        "metric": "gen_depth_probe",
        "sf": SF_DIR,
        "n_base": n_base,
        "seed_k": SEED_K,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "per_depth": {str(d): results[d]["median_s"] for d in DEPTHS},
        "growth_3_to_7": round(
            results[DEPTHS[-1]]["median_s"] / results[DEPTHS[0]]["median_s"], 2
        ),
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
