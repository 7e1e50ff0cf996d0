"""Round-15 payload-skew A/B (r14 verdict "next" #6): shredded vs
parse-per-batch ingest dedup on a FAT-envelope feed, phases timed
separately.

The r14 A/B measured 0.66x end-to-end at sf0.1 where the envelope was
barely larger than the body. The 100 TB argument predicts the
STEADY-STATE gap widens when payload bytes >> key-path bytes (crawl
reality: markup, headers, outlinks dwarf the body) — but the landing
phase moves the OTHER way: writing a lossless shredded residual means
re-serializing the bulk once at ingest, while a raw-JSON landing just
copies bytes. So this script times the two phases separately per rep,
interleaved (A,B,A,B,...) so machine weather hits both arms equally:

* ``land_s``   — write the 3-batch feed (raw JSON vs shredded store).
  Paid ONCE per corpus at production; the honest cost of shredding.
* ``stream_s`` — stream + probe + index build + verdict writes over
  the landed feed. Paid on EVERY replay/restart/downstream probe;
  the cost that multiplies at production batch counts.

Run:
    PYTHONPATH=/root/repo python3 scripts/ab_shredded_fat_envelope.py \
        [sf_dir] [reps] [bulk_factor]

Prints one JSON line; results belong in SCALE.md with load stamps.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def _dirs(io_dir, tag):
    split_dir = os.path.join(io_dir, f"ab_fat_{tag}_split")
    idx_dir = os.path.join(io_dir, f"ab_fat_{tag}_idx")
    out_dir = os.path.join(io_dir, f"ab_fat_{tag}_verdicts")
    return split_dir, idx_dir, out_dir, out_dir + "_ckpt"


def land_variant(spark, sf_dir, io_dir, bulk_factor):
    from datafusion_functions_variant_spark.streaming import core

    split_dir, idx_dir, out_dir, ckpt = _dirs(io_dir, "vkey")
    for d in (split_dir, idx_dir, out_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    core.write_documents_json_split(
        spark, sf_dir, split_dir, bulk_factor=bulk_factor
    )
    return None  # no sidecar spec for the raw-JSON landing


def land_shredded(spark, sf_dir, io_dir, bulk_factor):
    from datafusion_functions_variant_spark.streaming import core

    split_dir, idx_dir, out_dir, ckpt = _dirs(io_dir, "skey")
    for d in (split_dir, idx_dir, out_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    return core.write_documents_shredded_split(
        spark, sf_dir, split_dir, bulk_factor=bulk_factor
    )


def stream_variant(spark, sf_dir, io_dir, spec):
    from datafusion_functions_variant_spark.queries.streaming_queries import (
        _variant_keyed_ingest,
    )
    from datafusion_functions_variant_spark.sources.tables import load_table
    from datafusion_functions_variant_spark.streaming import core
    from datafusion_functions_variant_spark.streaming.history import (
        GenerationalHistoryIndex,
    )

    split_dir, idx_dir, out_dir, ckpt = _dirs(io_dir, "vkey")
    idx = GenerationalHistoryIndex(
        spark, "ab_fat_vkey_idx", "h", path=idx_dir,
        expected_keys=load_table(spark, sf_dir, "documents").count(),
        budget_rows=120, growth=4, overwrite=True,
    )
    core.run_foreach_batch(
        core.documents_json_split_stream(spark, split_dir),
        _variant_keyed_ingest(spark, idx, out_dir),
        ckpt,
    )
    return spark.read.parquet(out_dir).count()


def stream_shredded(spark, sf_dir, io_dir, spec):
    from datafusion_functions_variant_spark.queries.streaming_queries import (
        _shredded_keyed_ingest,
    )
    from datafusion_functions_variant_spark.sources.tables import load_table
    from datafusion_functions_variant_spark.streaming import core
    from datafusion_functions_variant_spark.streaming.history import (
        GenerationalHistoryIndex,
    )

    split_dir, idx_dir, out_dir, ckpt = _dirs(io_dir, "skey")
    idx = GenerationalHistoryIndex(
        spark, "ab_fat_skey_idx", "h", path=idx_dir,
        expected_keys=load_table(spark, sf_dir, "documents").count(),
        budget_rows=120, growth=4, overwrite=True,
    )
    core.run_foreach_batch(
        core.documents_shredded_split_stream(spark, split_dir),
        _shredded_keyed_ingest(spark, idx, out_dir, spec),
        ckpt,
    )
    return spark.read.parquet(out_dir).count()


ARMS = {
    "variant": (land_variant, stream_variant),
    "shredded": (land_shredded, stream_shredded),
}


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    bulk_factor = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from datafusion_functions_variant_spark.plans.session import get_session

    spark = get_session()
    io_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp_io", "ab_fat",
    )
    os.makedirs(io_dir, exist_ok=True)

    # untimed warmup of both arms (JIT, shuffle service, Python workers)
    for land, stream in ARMS.values():
        stream(spark, sf_dir, io_dir, land(spark, sf_dir, io_dir, bulk_factor))

    res = {a: {"land": [], "stream": []} for a in ARMS}
    rows, load = {}, []
    for _ in range(reps):
        for name, (land, stream) in ARMS.items():
            t0 = time.perf_counter()
            spec = land(spark, sf_dir, io_dir, bulk_factor)
            t1 = time.perf_counter()
            rows[name] = stream(spark, sf_dir, io_dir, spec)
            t2 = time.perf_counter()
            res[name]["land"].append(round(t1 - t0, 2))
            res[name]["stream"].append(round(t2 - t1, 2))
            load.append(round(os.getloadavg()[0], 2))

    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    out = {"sf_dir": sf_dir, "reps": reps, "bulk_factor": bulk_factor,
           "rows": rows, "load_after_each": load}
    for name in ARMS:
        for ph in ("land", "stream"):
            xs = res[name][ph]
            out[f"{name}_{ph}_s"] = xs
            out[f"{name}_{ph}_median"] = med(xs)
            out[f"{name}_{ph}_min"] = min(xs)
    for ph in ("land", "stream"):
        out[f"ratio_{ph}_median"] = round(
            out[f"shredded_{ph}_median"] / out[f"variant_{ph}_median"], 3
        )
        out[f"ratio_{ph}_min"] = round(
            out[f"shredded_{ph}_min"] / out[f"variant_{ph}_min"], 3
        )
    out["ratio_e2e_median"] = round(
        (out["shredded_land_median"] + out["shredded_stream_median"])
        / (out["variant_land_median"] + out["variant_stream_median"]), 3
    )
    print(json.dumps(out))
    shutil.rmtree(io_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
