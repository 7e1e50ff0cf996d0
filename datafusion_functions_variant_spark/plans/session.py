"""SparkSession construction and tuning.

One place for every conf that matters at scale, so local tests and a
real 1000-executor cluster share the same knobs:

* **AQE on** (coalesce shuffle partitions, skew-join splitting) — at
  100 TB the static shuffle-partition count is always wrong; AQE
  re-plans from runtime stats.
* **Adaptive + static shuffle partitions** sized for the local test
  box by default; on a cluster, override ``shuffle_partitions`` to
  ~2-3x total cores.
* **Arrow enabled** for every pandas_udf / mapInPandas boundary (the
  explicit-codec track's JVM<->Python channel).
* **nanosAsLong** — the events table carries timestamp[ns] parquet,
  which Spark 4 otherwise refuses to read (see sources/tables.py for
  the normalization).
* **UTC session timezone** — deterministic timestamp semantics across
  engines (DuckDB oracle parity).
* **A generated-class cache of 1000 entries** — Spark's 100 is smaller
  than the steady working set of the registry ops, which then keep
  recompiling with Janino after warm-up.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to ANY session (including one the
#: test driver created) before reading the test tables.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet timestamp[us] with isAdjustedToUTC=false would otherwise
    # read as TIMESTAMP_NTZ (Spark 4 default), breaking unix_micros()
    # and diverging from DuckDB's naive-as-UTC reading. With the UTC
    # session timezone below, reading as TIMESTAMP is epoch-identical.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this build; builder path covers it
    return spark


def get_session(
    app_name: str = "datafusion-functions-variant-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # files.maxPartitionBytes default 128m is right for the 100 TB
        # target; do not shrink it for tiny local files — AQE coalesces.
        #
        # STATIC conf (context-build time only, spark.conf.set can't
        # move it later): the AUTH-handshake read window after a
        # python worker connects back (15s default). Raised as part of
        # the r11 "Python worker failed to connect back" hardening
        # (VERDICT r11 #2). NOTE the probe's root-cause finding
        # (BASELINE.md): the accept window itself — the 10s the
        # spawned worker gets to start python + import pyspark and
        # connect — is a HARDCODED Selector.select(10000L) in Spark
        # 4.1's PythonWorkerFactory.createSimpleWorker, not reachable
        # by any conf; the operational mitigations are the vendor
        # pre-flight probe (measures cold-start vs that 10s budget)
        # and bench.py's retry-in-a-fresh-session. This conf closes
        # the adjacent, configurable timeout so a load spike that
        # survives accept can't die in auth instead.
        .config("spark.python.authenticate.socketTimeout", "120s")
        # STATIC conf: the generated-class cache. Spark's 100 entries
        # (in Guava segments, which evict before the total is reached)
        # are fewer than the steady working set of the registry ops, so
        # they kept recompiling after warm-up (dedup_minhash_lsh 27-41
        # Janino compiles a run, ~130-170 ms of CPU per native_ingest
        # pass); at 1000 a repeated op compiles nothing.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())


#: Round 16 (VERDICT r15 #3/#5): materialization strategy for the
#: stage boundaries the r15 optimizations introduced. Local default is
#: ``localCheckpoint`` — the cheapest lineage cut, but its blocks live
#: in executor memory/disk and are NOT fault-tolerant: on a real
#: cluster an executor loss kills the job instead of recomputing. A
#: 100 TB deployment sets this conf true (plus
#: ``sparkContext.setCheckpointDir`` to durable storage) and the same
#: call sites become reliable checkpoints — one conf, no code change.
CHECKPOINT_RELIABLE_CONF = "spark.graft.checkpoint.reliable"


def stage_boundary(df, eager: bool = True):
    """Materialize ``df`` and cut its lineage — the shared idiom behind
    every "compute once, feed N consumers / both self-join sides" site
    (guide §3.3/§5).

    * default: ``localCheckpoint(eager)`` — executor-local blocks,
      fastest, fine for a single-box bench or any job that can simply
      re-run on executor loss;
    * ``spark.graft.checkpoint.reliable=true``: ``checkpoint(eager)``
      to the session's checkpoint directory — survives executor loss,
      the right choice for long multi-stage jobs at cluster scale.
      Requires ``sparkContext.setCheckpointDir`` (Spark raises a clear
      error otherwise).
    """
    spark = df.sparkSession
    try:
        reliable = spark.conf.get(CHECKPOINT_RELIABLE_CONF, "false")
    except Exception:
        reliable = "false"
    if str(reliable).lower() == "true":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
