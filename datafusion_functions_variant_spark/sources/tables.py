"""Test-table catalog: parquet sources with schema normalization.

The reference has no sources at all (SURVEY.md §2 Part B: Arrow arrays
in-memory only); in our engine the scan layer is Spark's parquet
DataSource — predicate pushdown, column pruning and partition pruning
come for free as long as we keep the plan declarative.

The one normalization: ``events.ts`` is physically parquet
timestamp[NANOS], which Spark 4 reads only as a raw BIGINT (with
``spark.sql.legacy.parquet.nanosAsLong=true``). We expose ``ts`` as a
proper TIMESTAMP (microsecond, floor-truncated from nanos — matching
what DuckDB does when it reads the same file) plus ``ts_ns`` with the
raw value.

Every read takes its schema from ``parquet_schema``, so reading a table
whose footer was seen before launches no Spark job (see its docstring).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..plans.session import tune

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Normalize the two physical timestamp encodings the test driver
    has generated over time to one logical shape:

    * ``ts`` as parquet NANOS → Spark reads a raw BIGINT (with
      ``nanosAsLong``); expose TIMESTAMP (micros, floor-truncated like
      DuckDB) and keep the raw value as ``ts_ns``.
    * any TIMESTAMP_NTZ (parquet micros, isAdjustedToUTC=false, read
      before the session conf disabled NTZ inference) → cast to
      TIMESTAMP, epoch-identical under the UTC session timezone.
    """
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts", F.expr("timestamp_micros(ts_ns div 1000)")
        )
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


#: Session confs that change the schema Spark infers from a footer.
INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

_SCHEMA_CACHE_SIZE = 256
#: (footer digest, inference conf values) -> schema JSON, least
#: recently used first.
_schema_cache: OrderedDict[tuple, str] = OrderedDict()
_schema_lock = threading.Lock()

#: A URI scheme (``hdfs:``, ``s3a:``, also ``file:``) or a glob
#: character, which Spark expands even when a file has that name.
_NOT_A_PLAIN_NAME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:|[*?\[{]")


def _is_local_file(path: str) -> bool:
    """Whether Spark reads ``path`` as exactly the one local file of
    that name (not a directory, a glob or another file system)."""
    return not _NOT_A_PLAIN_NAME.search(path) and os.path.isfile(path)


def _footer_digest(path: str) -> bytes | None:
    """Digest of a parquet file's footer: its last 8 bytes (the footer
    length and the ``PAR1`` magic) and the footer they point to. None
    when the file does not end like a plain parquet file."""
    with open(path, "rb") as fh:
        size = fh.seek(0, os.SEEK_END)
        if size < 12:
            return None
        fh.seek(size - 8)
        tail = fh.read(8)
        n = int.from_bytes(tail[:4], "little")
        if tail[4:] != b"PAR1" or n > size - 12:
            return None
        fh.seek(size - 8 - n)
        footer = fh.read(n)
    return hashlib.blake2b(footer + tail, digest_size=16).digest()


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, without its
    inference job when the footer was seen before.

    Inference runs a one-task Spark job to read the footer. For a local
    single file the schema is cached under a digest of the footer bytes
    and the values of ``INFERENCE_CONFS``: the footer holds the whole
    parquet schema (and the Spark schema a Spark writer stores), so a
    file rewritten in place with the same mtime and size cannot get a
    stale schema, and identical bytes at a new path hit. The cache holds
    JSON, so a caller that mutates the returned ``StructType`` changes
    nothing the next caller gets. Directories, globs and URIs infer
    every time."""
    digest = _footer_digest(path) if _is_local_file(path) else None
    if digest is None:
        return spark.read.parquet(path).schema
    key = (digest, tuple(spark.conf.get(k) for k in INFERENCE_CONFS))
    with _schema_lock:
        cached = _schema_cache.get(key)
        if cached is not None:
            _schema_cache.move_to_end(key)
    if cached is None:
        cached = spark.read.parquet(path).schema.json()
        with _schema_lock:
            _schema_cache[key] = cached
            while len(_schema_cache) > _SCHEMA_CACHE_SIZE:
                _schema_cache.popitem(last=False)
    return StructType.fromJson(json.loads(cached))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)  # the driver's session may lack nanosAsLong etc.
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_timestamps(df)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view for spark.sql queries."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
