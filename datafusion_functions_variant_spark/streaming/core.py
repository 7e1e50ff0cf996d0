"""Structured Streaming layer (SURVEY.md §2 Part B row 11 — the
reference has no streaming at all; this is the Spark-first capability
the never-written DataFusion crate could not have had).

Pattern: every streaming operator is a transformation over an
event-time stream; for the driver's batch-comparison gate we execute
the stream with ``Trigger.AvailableNow`` into a memory sink and hand
back the materialized result. Semantics that matter:

* Event time = events.ts normalized to TIMESTAMP (micros) whatever
  the physical parquet encoding (see sources.tables).
* Watermark delay bounds state: append-mode windows emit only once
  the watermark (max event time - delay) passes the window end —
  windows still inside the delay at end-of-input are withheld. The
  oracles reproduce this cutoff condition in SQL.
* One input file → one data micro-batch + a final watermark-flush
  batch, so results are deterministic.

At scale the same code runs on Kafka/file streams with real triggers;
nothing here is test-only except run_to_batch's memory sink.
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_SINK_COUNTER = [0]
_SINK_LOCK = threading.Lock()


def _write_single_file_split(df: DataFrame, path: str) -> None:
    """Write ``df`` as ONE parquet file at ``path``, executor-side.

    The multi-batch stream fixtures need exactly one file per
    micro-batch (FileStreamSource + maxFilesPerTrigger=1 defines batch
    membership by file). The pre-round-11 version materialized each
    split driver-side (``toPandas`` + pyarrow write) — fine at test
    scale, a driver-memory stall at a 100× fixture (VERDICT r10
    "What's wrong" #4). Here the split is a normal distributed write
    funneled through ``coalesce(1)``: one task streams the rows to
    disk, nothing passes through the driver, and the single part-file
    is renamed to the stable ``path`` the mtime-ordering step expects.
    """
    import shutil

    tmp = path + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    _promote_single_part(tmp, path, df.schema)
    shutil.rmtree(tmp)


def _promote_single_part(tmp: str, path: str, schema) -> None:
    """Promote the exactly-one ``part-*.parquet`` a ``coalesce(1)``
    write left in ``tmp`` to the stable ``path`` the mtime-ordering
    step expects. Spark writes NO part file for an empty task (e.g. a
    split predicate like doc_id%3==p matching nothing on a tiny
    corpus) — then materialize an empty, schema-carrying parquet so
    the downstream file stream still sees its batch file instead of
    the old opaque unpack ValueError (r11 ADVICE). Shared by
    ``_write_single_file_split`` and the shredded landing writer
    (r14 verdict optional #8: one copy of the one-file-per-batch
    idiom, one place its contract lives)."""
    import glob

    parts = glob.glob(os.path.join(tmp, "part-*.parquet"))
    if parts:
        (part,) = parts  # exactly one by coalesce(1); >1 is a real bug
        os.replace(part, path)
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        pq.write_table(
            pa.Table.from_pylist([], schema=to_arrow_schema(schema)), path
        )


#: The executed (micro-batch) physical plan of the most recent
#: ``run_to_batch`` call — explainInternal on the terminated query.
#: Plan-pin tests read this to assert streaming join topology (e.g.
#: no BroadcastExchange on a history-index side) against the plan
#: that actually ran, not a batch reconstruction.
LAST_EXECUTED_PLAN: list[str] = [""]

#: The formatted plan of the most recent foreachBatch PROBE frame
#: (set by callbacks that compose their own per-batch actions, e.g.
#: ``stream_dedup_index_update``'s probe-then-append transaction,
#: where there is no terminated query object to explainInternal).
LAST_INGEST_PLAN: list[str] = [""]


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A test table as a file stream, schema-normalized like the batch
    catalog.

    FileStreamSource needs an explicit schema; take it from the table's
    parquet footer (``tables.parquet_schema``, cached) so the stream
    adapts to whichever physical encoding (e.g. events.ts as
    NANOS→bigint or micros→timestamp) the test driver generated, then
    apply the same normalization as the batch catalog
    (``tables.normalize_timestamps``).
    """
    from ..plans.session import tune
    from ..sources.tables import normalize_timestamps, parquet_schema

    tune(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    file_schema = parquet_schema(spark, path)
    if os.path.isdir(path):
        # Spark-written table (e.g. the K×-replicated bench corpus):
        # stream the directory itself. The glob branch below would
        # match NOTHING here — part files are nested one level down
        # and named part-*.parquet — silently yielding an empty
        # stream (root-caused round 10).
        raw = spark.readStream.schema(file_schema).format("parquet").load(path)
    else:
        # single-file testdata table: FileStreamSource requires a
        # directory, so load the dir with pathGlobFilter narrowing it
        # to the one table file.
        raw = (
            spark.readStream.schema(file_schema)
            .format("parquet")
            .option("pathGlobFilter", f"{name}.parquet")
            .load(sf_dir)
        )
    return normalize_timestamps(raw)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file stream with a proper event-time col."""
    return read_table_stream(spark, sf_dir, "events")


def run_to_batch(
    stream_df: DataFrame, output_mode: str = "append", confs: dict | None = None
) -> DataFrame:
    """Execute a streaming plan to completion (AvailableNow) into a
    memory sink; return the materialized rows as a batch DataFrame.
    ``confs`` are session confs this query alone runs with: they are
    set for its ``.start()`` only (``scoped_confs``)."""
    spark = stream_df.sparkSession
    with _SINK_LOCK:
        _SINK_COUNTER[0] += 1
        name = f"stream_sink_{_SINK_COUNTER[0]}"
    with scoped_confs(spark, confs or {}):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    try:
        LAST_EXECUTED_PLAN[0] = q._jsq.explainInternal(True)
    except Exception:
        LAST_EXECUTED_PLAN[0] = ""  # plan capture is best-effort
    return spark.table(name)


def run_foreach_batch(
    stream_df: DataFrame, fn, checkpoint: str, keep_checkpoint: bool = False
) -> None:
    """Execute a streaming plan to completion (AvailableNow) through the
    foreachBatch callback ``fn(batch_df, batch_id)``. A failing callback
    re-raises here with the query stopped. The checkpoint is removed
    once the query is done, unless ``keep_checkpoint`` — a restart
    scenario resumes a second run on it."""
    import shutil

    q = (
        stream_df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
        if not keep_checkpoint:
            shutil.rmtree(checkpoint, ignore_errors=True)


def tumbling_counts(stream: DataFrame, window: str = "1 hour", delay: str = "1 minute") -> DataFrame:
    """Watermarked tumbling-window counts per event_type."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    stream: DataFrame, window: str = "1 hour", slide: str = "30 minutes", delay: str = "1 minute"
) -> DataFrame:
    """Watermarked sliding-window event counts."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", window, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
        )
    )


def session_windows(stream: DataFrame, gap: str = "30 minutes", delay: str = "1 minute") -> DataFrame:
    """Session windows per user: merge events within `gap`."""
    return (
        stream.withWatermark("ts", delay)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("win.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup_count(stream: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Stateful exact dedup on content within the watermark horizon:
    dropDuplicatesWithinWatermark keyed by the normalized content
    hash, then a global count (update mode)."""
    hashed = stream.withWatermark("ts", delay).withColumn(
        "content_hash", F.md5(F.regexp_replace(F.trim(F.lower("props")), r"\s+", " "))
    )
    deduped = hashed.dropDuplicatesWithinWatermark(["content_hash"])
    return deduped.groupBy().agg(F.count(F.lit(1)).alias("n_unique"))


def stateful_running_max(stream: DataFrame, delay: str = "1 minute") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running max(value) and event count, emitted on every update."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_seen", LongType()),
            StructField("max_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n_seen", LongType()),
            StructField("max_value", DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, mx = (state.get if state.exists else (0, float("-inf")))
        import pandas as pd

        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame({"user_id": [key[0]], "n_seen": [n], "max_value": [mx]})

    return (
        stream.withWatermark("ts", delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


#: ``stateful_shuffle_width``'s one override; otherwise the width is
#: one partition per ``_STATE_WIDTH_TARGET_ROWS`` input rows, capped at
#: the session's shuffle partitions. A stateful exchange pays a
#: PER-PARTITION fixed toll every micro-batch (state store open/commit
#: + one Python state-runner handshake), so width beyond what the keyed
#: work needs is pure overhead — but width BELOW the keyed work's
#: parallelism need serializes the per-key processing. Measured on the
#: transformWithState key (process-tree CPU, 4 vCPUs): at 1k rows width
#: 1 takes 27% less than width 8 (3.98 vs 5.48 s); at 100k rows width 4
#: is no worse than 8 (37.9 vs 39.4 s); at 1M rows width 32 beat 8
#: (7.06 vs 16.42 s wall — 15k users × 8 state round-trips each, with
#: the two state variables of then, need every core).
STATE_WIDTH_CONF = "spark.graft.streaming.stateWidth"
_STATE_WIDTH_TARGET_ROWS = 25_000


def _input_rows(path: str) -> int | None:
    """Row count of a parquet file/directory from footers only (no
    Spark job, no data read); None when unreadable."""
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                        continue
                    total += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
            return total
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:  # noqa: BLE001 — fall back to the session width
        return None


def stateful_shuffle_width(spark: SparkSession, input_path: str) -> int:
    """Scale-adaptive shuffle width for a STATEFUL streaming query.

    A stateful exchange is not a plain shuffle: every micro-batch pays
    a fixed per-partition toll (state store open + commit, and for
    Python processors one state-server runner per partition) on top of
    the row work, and AQE cannot coalesce it — the width is frozen
    into the checkpoint at first batch. The session default
    (~core count, right for scan/join exchanges) over-pays whenever
    the keyed work is small, yet narrowing a LARGE keyed input
    serializes the per-key state round-trips. Width therefore derives
    from the input ROW COUNT, read from parquet footers before the
    stream starts: ceil(rows / 25k), at least 1 and capped at the
    session's shuffle-partition setting — a 100 TB feed saturates the
    cap, i.e. behaves exactly as the session width; the derivation only
    narrows SMALL states. ``spark.graft.streaming.stateWidth``
    overrides outright; deployments that know their key cardinality
    should set it."""
    explicit = spark.conf.get(STATE_WIDTH_CONF, None)
    if explicit:
        return max(1, int(explicit))
    session_width = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    rows = _input_rows(input_path)
    if rows is None:
        return session_width
    derived = -(-rows // _STATE_WIDTH_TARGET_ROWS)
    return max(min(derived, session_width), 1)


#: Hadoop FileSystem-API checkpoint manager (the Spark 4.1 package).
#: Spark's default, the FileContext manager, is there for HDFS's atomic
#: rename; on a local disk its permission and link calls shell out to
#: ``chmod``/``readlink``/``rm`` dozens of times per query.
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def local_checkpoint_confs(spark: SparkSession) -> dict[str, str]:
    """The checkpoint-manager conf for one stream query: the FileSystem
    manager when the checkpoint root — ``spark.sql.streaming.
    checkpointLocation``, else the JVM's temp dir, where Spark puts a
    memory sink's checkpoint — resolves to a ``file:`` path; nothing
    otherwise (HDFS keeps the FileContext default and its atomic
    rename)."""
    jvm = spark.sparkContext._jvm
    root = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    if not root:
        root = jvm.java.lang.System.getProperty("java.io.tmpdir")
    scheme = jvm.org.apache.hadoop.fs.Path(root).toUri().getScheme()
    if scheme is None:  # a bare path lives on the default file system
        hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
        scheme = jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(hadoop_conf).getScheme()
    if scheme == "file":
        return {_CHECKPOINT_MANAGER_CONF: _FS_CHECKPOINT_MANAGER}
    return {}


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set the session confs ``confs`` for the body and put back each
    one's prior value (unset when it had none) on exit, raised or not.
    Scope it to a stream query's ``.start()``: ``StreamExecution``
    clones the session before ``start()`` returns, so the running query
    keeps these values while every query planned meanwhile, or later,
    sees the session's own."""
    prev = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)


def _fold_profile_batch(pdf) -> tuple[int, int, dict]:
    """Fold ONE per-user input frame of ``transform_with_state_profile``
    locally: (row count, exact value cents, per-event-type counts).

    handleInputRows runs once per USER, so ``pdf`` is tiny (~tens of
    rows) and pandas per-group machinery (Series.mul/round/astype +
    groupby().size()) costs ~1 ms of pure overhead per call —
    wall-clock-visible at 15k users/batch. The raw-numpy + Counter
    fold is ~4x cheaper and numerically identical: Series.round IS
    np.round (same half-to-even ufunc), and the None/NaN guard
    mirrors groupby's default dropna=True. Equivalence to the pandas
    formulation is pinned by test_streaming_state.py::
    test_fold_profile_batch_matches_pandas_formulation."""
    from collections import Counter

    import numpy as np

    k = len(pdf)
    if not k:
        return 0, 0, {}
    v = np.round(pdf["value"].to_numpy() * 100.0)
    if not np.isfinite(v).all():
        # ndarray.astype('int64') on NaN/inf silently yields INT64_MIN
        # garbage where the pandas formulation raised
        # IntCastingNaNError — a null-bearing stream must stay a loud
        # failure, not silent sum_value corruption (ADVICE r15)
        raise ValueError(
            "transform_with_state_profile: non-finite 'value' in batch"
        )
    cents = int(v.astype("int64").sum())
    inc: dict = {}
    for et, c in Counter(pdf["event_type"].to_list()).items():
        if et is None or et != et:  # match groupby dropna
            continue
        inc[et] = int(c)
    return k, cents, inc


def transform_with_state_profile(stream: DataFrame) -> DataFrame:
    """Per-user profile via Spark 4's transformWithStateInPandas — the
    successor API to applyInPandasWithState with TYPED state variables:
    one ValueState ``profile`` per user holding (event count, exact
    value cents, event_type → running count).

    Each batch updates the state and re-emits the full per-user
    profile (one row per event_type seen so far, carrying the user
    totals). Counts are monotonic, so the last emission per
    (user, type) equals the batch aggregate — that's the oracle.
    Money is accumulated as integer cents (each value rounded to 2
    decimals exactly like a DECIMAL(18,2) cast) so the emitted double
    is bit-deterministic across engines.

    Requires the RocksDB state store provider (the only provider
    transformWithState supports) — callers set
    ``spark.sql.streaming.stateStore.providerClass`` — and the Python
    ``protobuf`` package (the state-server wire protocol); where the
    real wheel is absent the vendored miniproto runtime supplies it
    (``vendor.ensure_protobuf_for_session``). The registry query
    ``stream_transform_with_state`` runs this operator. At scale:
    state is partitioned by the grouping key across executors and
    checkpointed incrementally by RocksDB — this exact code runs
    unbounded with a TTL on the state handle."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("n_type", LongType()),
            StructField("n_total", LongType()),
            StructField("sum_value", DoubleType()),
        ]
    )

    class ProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.profile = handle.getValueState(
                "profile", "n BIGINT, cents BIGINT, by_type MAP<STRING, BIGINT>"
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            # Every state call is one synchronous round-trip to the
            # JVM state server (request + blocking response through
            # the protobuf wire codec), and with one key per user the
            # round-trips ARE the operator's cost. So the batch is
            # folded locally and the whole profile lives in ONE value:
            # one get (None when absent — no separate exists() probe)
            # and one update per user, whatever the number of event
            # types (a MapState of per-type counts would add an
            # iterator read and one updateValue per type seen). The
            # local fold itself is the raw-numpy form (see
            # _fold_profile_batch).
            got = self.profile.get()
            n, cents, counts = (got[0], got[1], dict(got[2])) if got is not None else (0, 0, {})
            for pdf in rows:
                k, c_add, type_counts = _fold_profile_batch(pdf)
                n += k
                cents += c_add
                for et, c in type_counts.items():
                    counts[et] = counts.get(et, 0) + c
            self.profile.update((n, cents, counts))
            ets = sorted(counts.items())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(ets),
                    "event_type": [e for e, _ in ets],
                    "n_type": [c for _, c in ets],
                    "n_total": [n] * len(ets),
                    "sum_value": [cents / 100.0] * len(ets),
                }
            )

        def close(self) -> None:
            pass

    return (
        stream.select("user_id", "event_type", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=ProfileProcessor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    )


#: FileStreamSource orders a split's batch files by modification time;
#: batch p's file is pinned to ``_SPLIT_MTIME_BASE + 10 * p``.
_SPLIT_MTIME_BASE = 1_700_000_000


def _pin_batch_mtime(path: str, p: int) -> None:
    t = _SPLIT_MTIME_BASE + p * 10
    os.utime(path, (t, t))


def _split_file_stream(spark: SparkSession, schema: str, split_dir: str) -> DataFrame:
    """Stream a split dir one batch file per trigger
    (``maxFilesPerTrigger=1``) under the DDL ``schema``."""
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(split_dir)
    )


def read_multibatch_events_stream(
    spark: SparkSession, sf_dir: str, split_dir: str
) -> DataFrame:
    """Events as a MULTI-micro-batch stream: the table is split into
    THREE time-interleaved single-file batches (even event_ids, then
    odd ids % 4 == 1, then odd ids % 4 == 3) streamed with
    maxFilesPerTrigger=1 — the only way to exercise genuine late-row
    dropping (a single-file AvailableNow run never drops anything).

    Three batches because Spark's late-row filter lags one batch: the
    watermark applied in batch N derives from max event time through
    batch N-1 (verified: batch 1's stale rows merge with dropped=0;
    batch 2's are dropped). Events are time-ordered by event_id, so
    each later batch interleaves the whole time range already covered
    — nearly all its windows sit behind the advanced watermark.
    The split write is harness setup, not an operator; file order is
    pinned via mtimes (FileStreamSource orders by modification time)."""
    from ..sources.tables import load_table

    os.makedirs(split_dir, exist_ok=True)
    full = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    selectors = [
        F.col("event_id") % 2 == 0,
        F.col("event_id") % 4 == 1,
        F.col("event_id") % 4 == 3,
    ]
    for p, sel in enumerate(selectors):
        path = os.path.join(split_dir, f"batch{p}.parquet")
        _write_single_file_split(full.where(sel), path)
        _pin_batch_mtime(path, p)
    return _split_file_stream(
        spark,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
        split_dir,
    )


def read_multibatch_dedup_stream(
    spark: SparkSession, sf_dir: str, split_dir: str
) -> DataFrame:
    """Events as THREE content-deduped micro-batches for exercising
    dropDuplicatesWithinWatermark's cross-batch state lifecycle
    (emit → drop-as-dup → evict-on-watermark → re-emit).

    Batch p keeps ONE row per content hash — the max-event_id (latest)
    occurrence within parity class p (even ids / ids%4==1 / ids%4==3).
    The per-batch pre-dedup is harness setup, not the operator: with
    multiple same-key rows in one micro-batch, which row wins (and
    therefore the state's expiry anchor) depends on shuffle arrival
    order, which no oracle can reproduce; one row per (key, batch)
    makes the whole state machine deterministic. File order is pinned
    via mtimes (FileStreamSource orders by modification time)."""
    from ..sources.tables import load_table

    os.makedirs(split_dir, exist_ok=True)
    full = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        # composite (content, user) key: the 100 recurring payloads
        # alone never leave the watermark window, so no state would
        # ever expire — the sparser key makes every lifecycle branch
        # (dup / evict / re-emit) actually occur at test scale
        F.md5(
            F.concat(
                F.regexp_replace(F.trim(F.lower(F.col("props"))), r"\s+", " "),
                F.lit(":"),
                F.col("user_id").cast("string"),
            )
        ).alias("h"),
        F.when(F.col("event_id") % 2 == 0, 0)
        .when(F.col("event_id") % 4 == 1, 1)
        .otherwise(2)
        .alias("b"),
    )
    w = Window.partitionBy("h", "b").orderBy(F.col("event_id").desc())
    cand = (
        full.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("event_id", "ts", "h", "b")
    )
    for p in range(3):
        path = os.path.join(split_dir, f"batch{p}.parquet")
        _write_single_file_split(
            cand.where(F.col("b") == p).select("event_id", "ts", "h"), path
        )
        _pin_batch_mtime(path, p)
    return _split_file_stream(
        spark, "event_id long, ts timestamp, h string", split_dir
    )


def _split_documents(
    spark: SparkSession, sf_dir: str, split_dir: str, with_replicas: bool
) -> DataFrame:
    """(doc_id, text) of the documents table for a doc_id % 3 split
    into ``split_dir`` (created).

    ``with_replicas`` adds deterministic cross-batch duplicates: every
    10th doc gets an exact-content replica at doc_id + 1,000,000,
    which lands in a DIFFERENT batch ((id + 1e6) % 3 == (id + 1) % 3,
    wrapping 2→0, so for doc_id % 3 == 2 the replica precedes the
    original and is itself the non-dup under the min-batch rule both
    stream and oracle apply). Without it the test corpora have zero
    duplicate texts at the sf0.001/0.01 gates and an ingest-dedup
    capstone would hash-green on an all-zero verdict column, proving
    exactly-once replay but never an actual dedup hit. The enrichment
    is plain SQL over the same table, so the oracles replay it
    verbatim."""
    from ..sources.tables import load_table

    os.makedirs(split_dir, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if with_replicas:
        docs = docs.unionByName(
            docs.where(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    return docs


def _envelope(docs: DataFrame, bulk_factor: int) -> DataFrame:
    """(doc_id, payload, b): each doc as the raw JSON envelope
    ``{"id": doc_id, "body": {"text": ...}}`` of a crawl feed, with its
    batch ``b = doc_id % 3``. ``bulk_factor > 0`` adds a ``bulk`` field
    of ``bulk_factor`` repetitions of the text — a FAT envelope whose
    payload bytes ≫ the key path's bytes."""
    return docs.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.col("doc_id").alias("id"),
                F.struct(F.col("text").alias("text")).alias("body"),
                *(
                    [F.repeat(F.col("text"), bulk_factor).alias("bulk")]
                    if bulk_factor
                    else []
                ),
            )
        ).alias("payload"),
        (F.col("doc_id") % 3).alias("b"),
    )


def _write_split_batches(
    full: DataFrame, split_dir: str, batches: tuple[int, ...]
) -> None:
    """Write batch files ``batches`` of ``full`` (split on its ``b``
    column, which is dropped) as single parquet files, mtime-pinned."""
    for p in batches:
        path = os.path.join(split_dir, f"batch{p}.parquet")
        _write_single_file_split(full.where(F.col("b") == p).drop("b"), path)
        _pin_batch_mtime(path, p)


def write_documents_split(
    spark: SparkSession,
    sf_dir: str,
    split_dir: str,
    batches: tuple[int, ...] = (0, 1, 2),
    with_replicas: bool = False,
) -> None:
    """Write the (doc_id, content-hash) batch files ``batches`` of the
    doc_id % 3 split into ``split_dir`` (mtime-pinned to batch order).
    The narrow projection is computed ONCE at split-write time with the
    same normalize→md5 convention the dedup oracles replay, so batch
    membership and content keys are engine-reproducible. Restart
    scenarios stage files in phases: write batches (0, 1), run a
    stream to completion, then write (2,) and RESUME on the same
    checkpoint — the file source's log already holds batches 0-1, so
    only batch 2 forms a new micro-batch, exactly a production ingest
    picking up where the crashed driver stopped. Replica enrichment:
    see ``_split_documents``."""
    from ..operators.dedup import normalize_text

    docs = _split_documents(spark, sf_dir, split_dir, with_replicas)
    full = docs.select(
        "doc_id",
        F.md5(normalize_text("text")).alias("h"),
        (F.col("doc_id") % 3).alias("b"),
    )
    _write_split_batches(full, split_dir, batches)


def documents_split_stream(spark: SparkSession, split_dir: str) -> DataFrame:
    return _split_file_stream(spark, "doc_id long, h string", split_dir)


def write_documents_json_split(
    spark: SparkSession,
    sf_dir: str,
    split_dir: str,
    batches: tuple[int, ...] = (0, 1, 2),
    with_replicas: bool = True,
    bulk_factor: int = 0,
) -> None:
    """Like :func:`write_documents_split` but each batch row carries a
    raw JSON ENVELOPE instead of a precomputed content hash:
    ``payload = {"id": doc_id, "body": {"text": ...}}``. The ingest
    callback must therefore derive its dedup key by variant-path
    extraction (``parse_json`` → ``variant_get('$.body.text')``) —
    the shape of a real crawl feed, where documents arrive as
    semi-structured blobs and the key is buried in the payload.
    Replica enrichment defaults ON so the dedup verdicts are
    non-trivial; batch membership (doc_id % 3) and mtime pinning match
    the hash split so oracles share the strictly-earlier-batch spec.

    ``bulk_factor > 0`` makes the envelope FAT (the 100 TB crawl
    shape: headers, markup, outlinks dwarfing the body). The dedup
    semantics are unchanged (the key path stays ``$.body.text``);
    only the bytes a parse-per-batch consumer must chew through
    grow. Used by the round-15 payload-skew A/B (SCALE.md)."""
    docs = _split_documents(spark, sf_dir, split_dir, with_replicas)
    _write_split_batches(_envelope(docs, bulk_factor), split_dir, batches)


def documents_json_split_stream(spark: SparkSession, split_dir: str) -> DataFrame:
    return _split_file_stream(spark, "doc_id long, payload string", split_dir)


def write_documents_shredded_split(
    spark: SparkSession,
    sf_dir: str,
    split_dir: str,
    batches: tuple[int, ...] = (0, 1, 2),
    with_replicas: bool = True,
    bulk_factor: int = 0,
) -> dict:
    """Round 14: the SHREDDED landing of the JSON-envelope feed — same
    corpus, batch membership (doc_id % 3), replica enrichment, and
    mtime pinning as :func:`write_documents_json_split`, but each
    batch is stored via ``sources/shredded.py`` with the dedup key
    path ``$.body.text`` materialized as a typed ``body_text`` column
    AT WRITE TIME (plus the residual of the remaining envelope
    fields). Downstream probes and replays then read a plain typed
    parquet column — parquet-native predicate pushdown and column
    pruning, zero per-row variant walks — instead of re-running
    ``parse_json`` over payload bytes every restart. Returns the shred
    spec (also persisted as the sidecar for spec-blind readers).

    ``bulk_factor`` mirrors :func:`write_documents_json_split`'s fat
    envelope — here the bulk lands in the RESIDUAL at write time, so
    every later probe/replay column-prunes it away (the payload-skew
    A/B's whole point)."""
    import shutil

    from ..sources.shredded import SPEC_FILE, write_shredded

    docs = _split_documents(spark, sf_dir, split_dir, with_replicas)
    full = _envelope(docs, bulk_factor)
    spec = {"body_text": ("$.body.text", "string")}
    for p in batches:
        tmp = os.path.join(split_dir, f"_tmp_b{p}")
        write_shredded(
            full.where(F.col("b") == p)
            .select("doc_id", "payload")
            .coalesce(1),
            "payload",
            spec,
            tmp,
        )
        path = os.path.join(split_dir, f"batch{p}.parquet")
        _promote_single_part(
            tmp,
            path,
            StructType.fromDDL(
                "doc_id long, body_text string, _residual string"
            ),
        )
        if p == batches[0]:
            os.replace(
                os.path.join(tmp, SPEC_FILE),
                os.path.join(split_dir, SPEC_FILE),
            )
        shutil.rmtree(tmp, ignore_errors=True)
        _pin_batch_mtime(path, p)
    return spec


def documents_shredded_split_stream(
    spark: SparkSession, split_dir: str
) -> DataFrame:
    """Stream the shredded landing one batch-file per trigger, declaring
    only ``(doc_id, body_text)``: the key path is already a typed
    column, and ``_shred_spec.json`` is invisible to the file source
    (underscore-prefixed files are ignored by Spark's listing).

    The residual is left out of the DECLARED schema — the round-14
    scale point: a FileStreamSource materializes every declared column
    into each micro-batch (the foreachBatch frame is a ``Scan
    ExistingRDD``, so pruning can't happen after the fact), and the
    residual is payload-sized. Declaring the shredded columns alone
    lets the source's parquet read skip the envelope bytes entirely —
    the streaming counterpart of the batch-read path's column
    pruning."""
    return _split_file_stream(
        spark, "doc_id long, body_text string", split_dir
    )
