"""The parquet schema cache (``sources.tables.parquet_schema``): a read
whose footer was seen before launches no Spark job, and the cache can
never hand back a schema the file no longer has."""

from __future__ import annotations

import contextlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_functions_variant_spark.sources import shredded, tables

from .conftest import SF_DIR


@pytest.fixture(autouse=True)
def _empty_cache():
    tables._schema_cache.clear()
    yield
    tables._schema_cache.clear()


@contextlib.contextmanager
def _jobs(spark, group: str):
    """Yields a list that holds, after the block, the ids of the Spark
    jobs the block started."""
    sc = spark.sparkContext
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setJobGroup("schema-cache-done", "")
        # job-start events reach the status tracker through the
        # listener bus; drain it so a late job is not missed
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_the_same_bytes_starts_no_job(spark, tmp_path):
    # the same bytes at a new path: the key is the footer, not the path
    for d in ("a", "b"):
        os.makedirs(tmp_path / d)
        shutil.copy(os.path.join(SF_DIR, "events.parquet"), tmp_path / d)
    with _jobs(spark, "schema-cache-first") as first:
        df1 = tables.load_table(spark, str(tmp_path / "a"), "events")
    with _jobs(spark, "schema-cache-second") as second:
        df2 = tables.load_table(spark, str(tmp_path / "b"), "events")
    assert len(first) == 1  # the inference job, which the cache saves
    assert second == []
    assert df1.schema == df2.schema
    assert df2.count() == df1.count() > 0


def _write(path, name: str) -> None:
    pq.write_table(pa.table({name: pa.array([1, 2, 3], pa.int64())}), path)


def test_rewrite_in_place_with_same_mtime_and_size_reads_the_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, "aaa")
    st = os.stat(path)
    assert tables.parquet_schema(spark, path).names == ["aaa"]
    _write(path, "bbb")
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    st2 = os.stat(path)
    assert (st2.st_size, st2.st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    assert tables.parquet_schema(spark, path).names == ["bbb"]


def test_changing_an_inference_conf_infers_again(spark, tmp_path):
    path = str(tmp_path / "b.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf)
    assert tables.parquet_schema(spark, path)["b"].dataType.typeName() == "binary"
    spark.conf.set(conf, "true")
    try:
        with _jobs(spark, "schema-cache-conf") as jobs:
            dtype = tables.parquet_schema(spark, path)["b"].dataType.typeName()
    finally:
        spark.conf.set(conf, before)
    assert dtype == "string" and len(jobs) == 1
    assert tables.parquet_schema(spark, path)["b"].dataType.typeName() == "binary"


def test_mutating_a_returned_schema_does_not_reach_the_cache(spark, tmp_path):
    path = str(tmp_path / "m.parquet")
    _write(path, "a")
    got = tables.parquet_schema(spark, path)
    got.fields[0].name = "changed"
    got.add("extra", "string")
    assert tables.parquet_schema(spark, path).names == ["a"]


def test_a_directory_still_infers(spark, tmp_path):
    d = str(tmp_path / "dir.parquet")
    spark.range(3).write.parquet(d)
    for group in ("schema-cache-dir1", "schema-cache-dir2"):
        with _jobs(spark, group) as jobs:
            assert tables.parquet_schema(spark, d).names == ["id"]
        assert len(jobs) == 1
    assert not tables._schema_cache


def test_cache_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMA_CACHE_SIZE", 2)
    paths = [str(tmp_path / f"{n}.parquet") for n in ("a", "bb", "ccc")]
    for p, n in zip(paths, ("a", "bb", "ccc")):
        _write(p, n)
        tables.parquet_schema(spark, p)
    assert len(tables._schema_cache) == 2
    # the least recently used entry went: the first file infers again
    with _jobs(spark, "schema-cache-lru") as jobs:
        assert tables.parquet_schema(spark, paths[0]).names == ["a"]
    assert len(jobs) == 1


def test_read_shredded_takes_the_recorded_schema(spark, tmp_path):
    from pyspark.sql import functions as F

    src = spark.range(6).select(
        "id",
        (F.col("id") % 2).alias("part"),
        F.to_json(F.struct(F.col("id").alias("k"), F.lit("x").alias("s"))).alias("j"),
    )
    out = str(tmp_path / "store")
    shredded.write_shredded(src, "j", {"k": ("$.k", "bigint")}, out, partition_by=["part"])
    with _jobs(spark, "schema-cache-shredded") as jobs:
        df, spec = shredded.read_shredded(spark, out)
    assert jobs == []
    assert df.schema == spark.read.parquet(out).schema
    assert spec == {"k": ("$.k", "bigint")}
    assert sorted(r.k for r in df.collect()) == list(range(6))
