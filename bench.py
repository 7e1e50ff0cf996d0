"""Benchmark harness — runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Timed action: a value-consuming checksum — ``SUM(CRC32(TO_JSON(
STRUCT(*))))`` over the query's full result. ``count()`` is NOT used:
Catalyst prunes aggregate/window expressions whose values a bare count
never reads, so count-based timings understate real cost. The checksum
forces every output column of every row to be materialized while
keeping the consumption JVM-side (one scalar returns to the driver).

Each query is timed ``BENCH_RUNS`` times (default 5) after one untimed
warm-up, and the median wall clock is reported with the min-of-N
floor; sub-second queries at sf0.1 are dominated by harness noise (page
cache, JIT), which a 3-run median did not bound. Each key also gets
its median process-tree CPU seconds (``queries_cpu_s``), which load on
a shared box does not inflate the way it inflates wall clock. A scaled
column replays the same queries over a K×-replicated copy of the data
(``ensure_scaled_dir``). Totals compare between runs ONLY on shared
keys.

The full-precision artifact goes to ``BENCH.json`` (and the
core-count-stamped ``BENCH_c{cpus}.json``) after every set; the
printed line is ``compact_stdout_line``'s hard-capped summary.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.procstat import tree_cpu_seconds  # noqa: E402

HEADLINE = [
    # one per operator family: variant parse+extract, explicit codec,
    # scan-agg, broadcast join, multi-join, window, rollup, distinct,
    # as-of join, theta join, minhash dedup, embedding dedup,
    # similarity top-k, text analysis
    "variant_events_agg",
    "variant_explicit_codec",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_top3_orders_per_customer",
    "window_lag_lead_events",
    "rollup_order_status",
    "distinct_agg_suppliers",
    "asof_join_events_orders",
    "theta_join_late_shipments",
    "dedup_minhash_lsh",
    "dedup_minhash_xxhash",
    "dedup_embedding_cosine",
    "similarity_dot_topk",
    "text_token_counts",
    # broadcast-model classifier inference
    "text_quality_classifier",
    # continuous ingest
    "dedup_incremental_index",
    "similarity_knn_graph",
    # the production shape of the incremental index — index persisted
    # bucketBy(8) so only the batch side shuffles. Timed end-to-end
    # here (build+probe, comparable with the unbucketed twin) AND
    # probe-only as dedup_incremental_bucketed_probe (the steady-state
    # per-batch cost, measured after one untimed build).
    "dedup_incremental_bucketed_index",
    # duplicate-proof 1-NN graph (exact canonicalize first) — at the
    # 10x all-duplicates scaled point this collapses the graph back to
    # 1x size before the bucket join
    "similarity_knn_graph_canonical",
    # distributed total-order ranking: length-curriculum quartiles via
    # global_rank (literal range buckets, no single-partition window);
    # the scaled point shows whether exact global ranking stays flat
    # when the corpus grows
    "dataset_curriculum_stages",
    # the canonicalize-first twin of dedup_embedding_cosine — on the
    # 10x all-dup replica corpus the pair-enumerating twin's OUTPUT
    # grows ~K² per cluster; this one collapses duplicate mass in one
    # groupBy(embedding) and emits each canonical pair once with its
    # multiplicity, so its scaled curve stays flat
    "dedup_embedding_cosine_canonical",
    # the capstone crawl→clean→dedup→shard pipeline — the most
    # representative 100 TB workload in the repo (SCALE.md)
    "pipeline_crawl_to_shards",
    # explicit bloom prefilter — build side and m auto-size with the
    # corpus, probe stays map-side; expected ~linear in both columns
    "join_bloom_prefilter",
    # the embeddings capstone (gate → exact canonicalize → bucketed
    # near-dup flag → per-label report). The 10x replica corpus makes
    # every vector 10x-duplicated — the canonicalize stage absorbs the
    # whole inflation before the bucket join, so the scaled point
    # should stay near-flat
    "pipeline_embeddings_curation",
    # bucketed snapshot reconciliation. NOTE the in-query drift is
    # PROPORTIONAL (okey % 97/101/103), so at the 10x point the diff
    # itself is 10x and most buckets are dirty — this measures the
    # operator under linear drift (expected ~linear); the FIXED-drift
    # flat curve (512 rows at every K) is SCALE.md's
    # snapshot_diff_fixed_drift probe
    "snapshot_diff_bucketed",
    # incremental view maintenance — changelog delta partials merged
    # into the stored rollup. The fixture's changelog is PROPORTIONAL
    # (event_id % 10 / % 17), so both columns measure linear-drift
    # maintenance; the delta-sized-exchange claim is the test_plans.py
    # pin
    "rollup_incremental_maintenance",
]

#: Keys timed LAST, after BOTH query sets have completed, each with
#: one fresh-session retry (``run_set``'s ``new_session``).
#: ``stream_transform_with_state`` (a typed ValueState per user via the
#: RocksDB state server over the vendored protobuf wire codec; the
#: scaled point is 10× rows AND 10× distinct users, so it measures
#: state-store growth) spins up the state-store provider and per-key
#: Python state workers for every run. Placed before scan-heavy TPC-H
#: keys it drove their times up; after everything else, JVM heap /
#: GC / state-server residue can only follow the scan keys. Timings
#: merge into the same per-column maps.
HEADLINE_ISOLATED = [
    "stream_transform_with_state",
]

#: Self-calibration: a fixed, deterministic, CPU-bound probe — a
#: 2B-row codegen range with a double-xxhash64 fold into ONE bit_xor
#: scalar (no shuffle, no disk, no Python; the result is constant, so
#: an engine change that altered it would be visible). It is timed
#: with the same warm-up+median protocol as the headline queries,
#: immediately before each query set. Ambient load moves every query
#: and this probe by the same factor, a plan regression moves the
#: queries but not the probe, so the cross-round gate compares
#: (query_total / calibration) (policy in BASELINE.md).
CALIBRATION_N = 2_000_000_000


def calibration_times(spark, cpus: int, runs: int) -> tuple[float, float, float]:
    """(median, min, spread) wall-clock of the calibration probe over
    ``runs`` timed samples after one untimed JIT warm-up.

    ``spread`` = max - min over the timed samples: a quiet box keeps it
    within a few percent of the median, a contended one blows it up."""
    from pyspark.sql import functions as F

    samples = []
    for i in range(runs + 1):
        t0 = time.perf_counter()
        (
            spark.range(0, CALIBRATION_N, 1, numPartitions=cpus)
            .select(F.expr("bit_xor(xxhash64(xxhash64(id) ^ id))").alias("s"))
            .collect()
        )
        if i:
            samples.append(time.perf_counter() - t0)
    return (
        _median(samples),
        round(min(samples), 3),
        round(max(samples) - min(samples), 3),
    )


def _median(samples: list[float]) -> float:
    return round(sorted(samples)[len(samples) // 2], 3)


#: reported per-query but EXCLUDED from the summed total: the probe is
#: a subset re-measurement of dedup_incremental_bucketed_index's
#: already-counted work (steady-state per-batch cost after one untimed
#: index build) — summing both would double-count the probe
NOT_IN_TOTAL = {"dedup_incremental_bucketed_probe"}

#: Hard byte cap for the ONE printed JSON line. The driver records
#: only a ~2 KB stdout tail; a line longer than that loses its leading
#: ``{`` and the round's official number becomes unparseable
#: (BENCH_r07 sf0.1 column, then BENCH_r10 entirely — ``parsed: null``
#: — when the 29th headline key pushed the two per-query maps past the
#: window). 1900 leaves headroom for the driver's own framing bytes.
STDOUT_LINE_LIMIT = 1900


def artifact_paths(cpus: int) -> list[str]:
    """Both write targets of the full-precision artifact: the
    driver-contract ``BENCH.json`` AND a core-count-stamped twin
    ``BENCH_c{cpus}.json``. The driver runs the bench twice per window
    (full cores, then reduced cores for the scaling block) and bench.py
    always wrote the one fixed path — so the second run OVERWROTE the
    first's per-key data (the r15 32-core scaled column was lost this
    way, VERDICT r15 "What's wrong" #1). The stamped twin survives a
    later run at a different core count; BENCH.json keeps the
    last-run-wins contract every existing reader expects."""
    base = os.path.dirname(os.path.abspath(__file__))
    return [
        os.path.join(base, "BENCH.json"),
        os.path.join(base, f"BENCH_c{cpus}.json"),
    ]


def _err_text(e: BaseException) -> str:
    """One-line, bounded rendering of a per-key failure for the
    artifact (full tracebacks go to stderr, which the driver's tail
    may or may not keep — the artifact only needs the headline)."""
    return f"{type(e).__name__}: {e}".splitlines()[0][:200]


def compact_stdout_line(out: dict, limit: int = STDOUT_LINE_LIMIT) -> str:
    """The driver-facing summary line for a full ``out`` artifact,
    GUARANTEED ≤ ``limit`` bytes. Full precision (3-decimal medians +
    min-of-N floors, both columns) always lives in the committed
    BENCH.json; the printed line degrades stepwise as headline keys
    accumulate — never silently overflows:

    1. both per-query maps at 2 decimals (the r9 shape);
    2. drop the scaled map (totals/calibrations keep the scaled
       column comparable; per-key detail is in BENCH.json);
    3. drop both maps — totals + calibrations only.

    Raises AssertionError if even the minimal form exceeds ``limit``
    (would mean the fixed fields themselves outgrew the tail — a
    structural bug, not a data-volume one)."""

    def compact(d):
        # NOT_IN_TOTAL entries stay in the committed BENCH.json only
        return {k: round(v, 2) for k, v in d.items() if k not in NOT_IN_TOTAL}

    line = {
        "metric": out["metric"],
        "value": round(out["value"], 2),
        "unit": "sec",
        "sf": out["sf"],
        "full": "BENCH.json",
        "queries": compact(out.get("queries", {})),
    }
    # a crash before the calibration probe leaves no divisor — the
    # line must still print (fault-isolated main prints in a finally)
    if out.get("calibration") is not None:
        line["calib"] = round(out["calibration"], 2)
    if "scaled_total" in out:
        line["scale_k"] = out["scale_k"]
        line["scaled_total"] = round(out["scaled_total"], 2)
        line["s_calib"] = round(out["scaled_calibration"], 2)
        line["scaled_queries"] = compact(out.get("scaled_queries", {}))
    # per-key failures: NAMES always ride on the line (a key that errs
    # must be visibly absent-with-cause, not silently missing); the
    # bounded error texts live in BENCH.json's errors/scaled_errors
    errs = sorted(set(out.get("errors", {})) | set(out.get("scaled_errors", {})))
    if errs:
        # bounded: an errs list long enough to overflow the minimal
        # form would turn the AssertionError below into the failure
        # mode it guards against (ADVICE r12)
        if len(errs) > 12:
            errs = errs[:12] + [f"+{len(errs) - 12} more"]
        line["errs"] = errs
    for drop in ((), ("scaled_queries",), ("scaled_queries", "queries")):
        cand = {k: v for k, v in line.items() if k not in drop}
        s = json.dumps(cand, separators=(",", ":"))
        if len(s) <= limit:
            return s
    raise AssertionError(
        f"bench stdout line irreducibly exceeds {limit} bytes: {len(s)}"
    )


# --- scaled bench point -----------------------------------------------------
#
# At sf0.1 every headline query is sub-second and harness-noise
# dominated (BASELINE.md documents ±30% swings on byte-identical
# code). The scaled point replays the same queries at ~sf1: the sf0.1
# tables replicated SCALE_K× on disk with re-keyed ids (consistent
# offsets per key domain, so each replica joins within itself —
# region/nation stay fixed, like TPC-H scaling). documents/embeddings
# replicate as exact copies, which makes the dedup queries
# deliberately ADVERSARIAL (every doc has SCALE_K-1 duplicates — the
# regime where an uncapped LSH bucket join would go quadratic).

#: key-domain offset per replica; each is a power of two comfortably
#: above the sf0.1 max key (orderkey max 149,999 < 2^18, etc.)
_KEY_SHIFTS = {
    "order": 1 << 18,
    "cust": 1 << 14,
    "part": 1 << 15,
    "supp": 1 << 10,
    "event": 1 << 17,
    "user": 1 << 11,
    "doc": 1 << 13,
    "vec": 1 << 11,
}

#: table → {key column → key domain}; keys in the same domain shift by
#: the same offset so fk relationships hold within each replica.
#: nationkey/regionkey columns are NOT shifted (dims stay fixed).
_SCALED_KEYS = {
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}


def ensure_scaled_dir(spark, sf_dir: str, k: int, out_dir: str) -> None:
    """Write the K×-replicated copy of ``sf_dir`` under ``out_dir``
    (cached: a meta sidecar records (src, k) and the write is skipped
    when it matches). One Spark write per table; the union of K offset
    projections also multiplies the split count by K, so the scaled
    read gets proportionally more tasks — the cluster scenario."""
    import json as _json

    from pyspark.sql import functions as F

    from datafusion_functions_variant_spark.sources.tables import (
        TABLE_NAMES,
        load_table,
    )

    meta_path = os.path.join(out_dir, "_scale_meta.json")
    # v4: order-preserving read-parallel layout (maxRecordsPerFile)
    want = {"src": os.path.abspath(sf_dir), "k": k, "v": 4}
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            if _json.load(fh) == want:
                return
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLE_NAMES:
        base = load_table(spark, sf_dir, name)
        shifts = _SCALED_KEYS.get(name)
        if shifts is None:  # region / nation: fixed dimensions
            out = base
        else:
            # fail loudly if the source's keys outgrow the offsets
            # (replica ranges would silently overlap and every join
            # would fan out across replicas — a corrupted "scaled"
            # corpus with no error)
            maxima = base.select(
                *[F.max(c).alias(c) for c in shifts]
            ).collect()[0]
            for col, domain in shifts.items():
                if maxima[col] is not None and maxima[col] >= _KEY_SHIFTS[domain]:
                    raise ValueError(
                        f"{name}.{col} max {maxima[col]} >= replica "
                        f"offset {_KEY_SHIFTS[domain]} — raise "
                        f"_KEY_SHIFTS['{domain}'] for this source dir"
                    )
            copies = []
            for r in range(k):
                c = base
                for col, domain in shifts.items():
                    c = c.withColumn(
                        col, F.col(col) + F.lit(r * _KEY_SHIFTS[domain])
                    )
                copies.append(c)
            out = copies[0]
            for c in copies[1:]:
                out = out.unionByName(c)
        # Write a READ-PARALLEL layout WITHOUT reordering rows. The
        # union writes one file per copy, and when the source table is
        # a single row group (the driver's testdata generator does
        # that) each output file is one giant row group too — parquet
        # byte-range splits beyond the row-group count are no-ops, so
        # the scaled lineitem scan had K=10 effective readers on a
        # 32-core box. That was the round-10/11 "scaled TPC-H drift":
        # q1 stalled at 10 running tasks of 31 while 21 finished
        # instantly; q1 sf0.1 stayed flat the whole time. A 100 TB
        # corpus is thousands of files with many row groups per
        # executor — the scaled fixture must model that (this
        # function's contract: "the scaled read gets proportionally
        # more tasks").
        #
        # maxRecordsPerFile (not repartition) because HOW the files
        # are cut matters as much as how many there are: interleaved
        # A/Bs showed a round-robin repartition to 60-64 files fixes
        # q1 (1.61→0.96 s min floor) but regresses q3 ~1.2-1.5× —
        # the shuffle destroys the source's natural key/date
        # clustering, so parquet row-group and page statistics stop
        # skipping anything under q3's selective date predicates.
        # maxRecordsPerFile splits each write task's output into
        # order-preserving 100k-row files: same 60 readers for
        # lineitem, zero extra shuffle, clustering (and therefore
        # stat-based skipping) intact. Tables smaller than 100k rows
        # per copy keep the one-file-per-copy layout unchanged.
        (
            out.write.mode("overwrite")
            .option("maxRecordsPerFile", 100_000)
            .parquet(os.path.join(out_dir, f"{name}.parquet"))
        )
    with open(meta_path, "w") as fh:
        _json.dump(want, fh)


def time_samples(
    spark, build, dir_: str, runs: int, consume
) -> tuple[list[float], list[float]]:
    """(wall seconds, CPU seconds) of ``runs`` timed samples of
    build+consume, after one untimed warm-up (JIT + page cache +
    shuffle-file reuse otherwise land in the first timed sample and
    skew a short median upward by ~2x on the UDF-heavy queries). The
    timer starts BEFORE build(): builders that do eager work (persist
    an index table, collect model/bucket state) must pay for it in
    their end-to-end number.

    CPU seconds are the process tree's (this driver, the JVM it
    launched and the JVM's Python workers), read from /proc before and
    after each sample, outside the wall timer. Unlike wall clock they
    do not grow when other load on the box delays the run."""
    walls: list[float] = []
    cpus: list[float] = []
    for i in range(runs + 1):
        c0 = tree_cpu_seconds(os.getpid())
        t0 = time.perf_counter()
        df = build(spark, dir_)
        consume(df)
        wall = time.perf_counter() - t0
        if i:
            walls.append(wall)
            cpus.append(tree_cpu_seconds(os.getpid()) - c0)
    return walls, cpus


def run_set(
    sess: list,
    registry,
    dir_: str,
    runs: int,
    names: list[str],
    consume,
    with_probe: bool = True,
    new_session=None,
) -> tuple[
    dict[str, float], dict[str, float], dict[str, float],
    dict[str, str], dict[str, str],
]:
    """Times ``names`` on ``sess[0]`` and returns (median, min, median
    CPU seconds, errors, retried) per query. The min-of-N rides along
    as the noise floor: sub-second sf0.1 medians swing ±30-40% with
    ambient load (BASELINE.md), a plan regression moves the min too.
    The CPU seconds (``time_samples``) settle whether a move is the
    code's or the box's.

    FAULT-ISOLATED per key: a key whose build/consume raises records
    ``errors[name]`` and the set continues, so no single key can
    vaporize the others' numbers. With a ``new_session`` factory a
    failed key gets ONE retry in a fresh session (fresh state server,
    fresh pythonExec wrapper, empty worker pool — a worker that missed
    PythonWorkerFactory's 10 s connect-back under load fails a key
    that runs green everywhere else): the old session is stopped, the
    new one replaces it in the 1-element holder ``sess`` (so the
    caller keeps it), and success records the numbers plus a
    ``retried`` note; a double failure records both errors.

    ``with_probe`` adds ``dedup_incremental_bucketed_probe``
    (NOT_IN_TOTAL) after the named keys."""
    timings: dict[str, float] = {}
    minimums: dict[str, float] = {}
    cpu_s: dict[str, float] = {}
    errors: dict[str, str] = {}
    retried: dict[str, str] = {}

    def record(name: str, build) -> None:
        walls, cpus = time_samples(sess[0], build, dir_, runs, consume)
        timings[name] = _median(walls)
        minimums[name] = round(min(walls), 3)
        cpu_s[name] = _median(cpus)

    for name in names:
        spec = registry.get(name)
        if spec is None:
            continue
        try:
            record(name, spec.build)
            continue
        except Exception as e:  # noqa: BLE001 — isolate, record, continue
            first = _err_text(e)
        if new_session is None:
            errors[name] = first
            print(f"bench: {name} failed: {first}", file=sys.stderr)
            continue
        print(f"bench: {name} failed ({first}); retrying in a fresh session",
              file=sys.stderr)
        try:
            try:
                sess[0].stop()
            except Exception:  # noqa: BLE001
                pass
            sess[0] = new_session()
            record(name, spec.build)
            retried[name] = first
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{first} | retry: {_err_text(e)}"
            print(f"bench: {name} retry failed: {errors[name]}", file=sys.stderr)
    if not with_probe:
        return timings, minimums, cpu_s, errors, retried
    # steady-state probe of the persisted bucketed index: one untimed
    # build, then the probe alone per run — the recurring per-batch
    # cost a continuous pipeline pays (the end-to-end twin above
    # re-pays the index build every run). Reported but NOT summed into
    # the total (NOT_IN_TOTAL).
    try:
        from datafusion_functions_variant_spark.queries.ingestion import (
            bucketed_index_build,
            bucketed_index_probe,
        )

        bucketed_index_build(sess[0], dir_)
        record(
            "dedup_incremental_bucketed_probe",
            lambda s, d: bucketed_index_probe(s, d),
        )
    except Exception as e:  # noqa: BLE001
        errors["dedup_incremental_bucketed_probe"] = _err_text(e)
        print(
            f"bench: dedup_incremental_bucketed_probe failed: {_err_text(e)}",
            file=sys.stderr,
        )
    return timings, minimums, cpu_s, errors, retried


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    os.environ.setdefault("PYTHONPATH", os.path.dirname(os.path.abspath(__file__)))

    from datafusion_functions_variant_spark.plans.session import get_session
    from datafusion_functions_variant_spark.queries import load_all_queries

    def new_session():
        s = get_session(
            app_name="bench",
            master=f"local[{cpus}]",
            shuffle_partitions=max(cpus, 16),
        )
        s.sparkContext.setLogLevel("ERROR")
        return s

    # mutable holder: the isolated-key retry path swaps in a FRESH
    # session (fresh state-store server, fresh pythonExec wrapper)
    sess = [new_session()]
    registry = load_all_queries()

    # warm up the JVM + parquet footers once with a trivial action
    sess[0].read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    from pyspark.sql import functions as F

    def consume(df) -> None:
        # Materialize EVERY output column of EVERY row: checksum the
        # row struct and fold to one scalar. Unlike count(), Catalyst
        # cannot prune any expression feeding the result.
        df.select(
            F.sum(F.crc32(F.to_json(F.struct(*df.columns)).cast("binary")))
        ).collect()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out: dict = {
        "metric": "headline_queries_total_wall_clock",
        "value": 0.0,
        "unit": "sec",
        "queries": {},
        "queries_min": {},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    out["cpus"] = cpus
    bench_paths = artifact_paths(cpus)

    def flush() -> None:
        """(Re)write the full-precision artifact from what's measured
        SO FAR — called after EVERY set, so a run that dies in a later
        set keeps the earlier sets' numbers. Totals/derived fields are
        recomputed idempotently on each call."""
        out["value"] = round(
            sum(v for k, v in out["queries"].items() if k not in NOT_IN_TOTAL), 3
        )
        if out.get("calibration"):
            out["value_per_calib"] = round(out["value"] / out["calibration"], 3)
        if "scaled_queries" in out:
            out["scaled_total"] = round(
                sum(
                    v
                    for k, v in out["scaled_queries"].items()
                    if k not in NOT_IN_TOTAL
                ),
                3,
            )
            if out.get("scaled_calibration"):
                out["scaled_total_per_calib"] = round(
                    out["scaled_total"] / out["scaled_calibration"], 3
                )
        for p in bench_paths:
            with open(p, "w") as fh:
                json.dump(out, fh, indent=1, sort_keys=True)
                fh.write("\n")

    def merge(pre: str, t: dict, m: dict, cpu_s: dict, e: dict, retried: dict) -> None:
        out.setdefault(f"{pre}queries", {}).update(t)
        out.setdefault(f"{pre}queries_min", {}).update(m)
        # per-key CPU seconds: BENCH.json only, never printed
        out.setdefault(f"{pre}queries_cpu_s", {}).update(cpu_s)
        if e:
            out.setdefault(f"{pre}errors", {}).update(e)
        if retried:
            out.setdefault("retried", {}).update(retried)

    runs = int(os.environ.get("BENCH_RUNS", "5"))
    scale_k = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE_K", "10"))
    scaled_runs = int(os.environ.get("SPARK_GRAFT_BENCH_SCALE_RUNS", "3"))

    try:
        try:
            calib, calib_min, calib_spread = calibration_times(sess[0], cpus, runs)
            # machine-load divisor measured just before this set; the
            # cross-round gate compares value/calibration, not raw
            out["calibration"] = calib
            out["calibration_min"] = calib_min
            out["calibration_spread"] = calib_spread
        except Exception as e:  # noqa: BLE001
            out.setdefault("errors", {})["__calibration__"] = _err_text(e)
        merge("", *run_set(sess, registry, sf_dir, runs, HEADLINE, consume))
        flush()

        # scaled point (~sf1): same queries over the K×-replicated
        # copy. 3 runs by default — at 10× the data the queries are no
        # longer overhead-dominated, so the median stabilizes with
        # fewer samples.
        scaled_dir = None
        if scale_k > 1:
            scaled_dir = os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                ".tmp_bench",
                f"scaled{scale_k}x",
            )
            try:
                ensure_scaled_dir(sess[0], sf_dir, scale_k, scaled_dir)
                s_calib, s_calib_min, s_calib_spread = calibration_times(
                    sess[0], cpus, scaled_runs
                )
                out["scale_k"] = scale_k
                out["scaled_calibration"] = s_calib
                out["scaled_calibration_min"] = s_calib_min
                out["scaled_calibration_spread"] = s_calib_spread
                merge(
                    "scaled_",
                    *run_set(
                        sess, registry, scaled_dir, scaled_runs, HEADLINE, consume
                    ),
                )
            except Exception as e:  # noqa: BLE001 — corpus/calibration
                out.setdefault("scaled_errors", {})["__scaled_set__"] = _err_text(e)
                scaled_dir = None
            flush()

        # HEADLINE_ISOLATED keys run LAST — after every scan/join/agg
        # key in both columns — so stateful-streaming residue (RocksDB
        # state server, Python state workers, JVM heap growth) cannot
        # precede the scan-heavy keys. They alone get the fresh-session
        # retry. Calibration divisors are the ones measured before each
        # column's main set: these keys are Python-state-bound, not
        # scan-bound, so the column's load matters less.
        for pre, dir_, n in (("", sf_dir, runs), ("scaled_", scaled_dir, scaled_runs)):
            if dir_ is None:
                continue
            merge(pre, *run_set(
                sess, registry, dir_, n, HEADLINE_ISOLATED, consume,
                with_probe=False, new_session=new_session,
            ))
            flush()
    finally:
        # Self-contained full-precision artifact: the driver's stdout
        # capture keeps only a ~2 KB tail, which truncated BENCH_r07's
        # sf0.1 column and BENCH_r10 entirely. Everything (3-decimal
        # medians AND min-of-N floors, both columns, per-key errors)
        # goes to the committed BENCH.json; the printed line is built
        # by compact_stdout_line, which degrades stepwise and
        # HARD-CAPS at STDOUT_LINE_LIMIT. Printed in this finally so
        # whatever WAS measured reaches the driver even if a set blew
        # past the per-key isolation.
        try:
            flush()
        except Exception:  # noqa: BLE001 — the print below still runs
            pass
        try:
            print(compact_stdout_line(out))
        except Exception:  # noqa: BLE001 — never mask the original
            # exception or skip the session stop below: fall back to a
            # hand-built minimal line (fixed fields only, hard-sliced)
            minimal = {
                "metric": out.get("metric"),
                "value": round(out.get("value", 0.0), 2),
                "unit": "sec",
                "sf": out.get("sf"),
                "full": "BENCH.json",
            }
            print(json.dumps(minimal, separators=(",", ":"))[:STDOUT_LINE_LIMIT])
        try:
            sess[0].stop()
        except Exception:  # noqa: BLE001
            pass


if __name__ == "__main__":
    main()
