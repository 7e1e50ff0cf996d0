"""Catalog-level capabilities: bucketed co-located joins (the
zero-shuffle join layout for 100 TB), the SQL-registered codec
function surface, and the JSON source connector."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.registry import register_sql_functions
from ..sources.tables import load_table, register_views
from . import dsum, dsum_sql, query

_IO_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), ".tmp_io")


@query(
    "bucketed_colocated_join",
    oracle=f"""
    SELECT o.o_orderpriority, COUNT(*) AS n_lines,
           {dsum_sql("l.l_extendedprice", "sum_price")}
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed tables joined WITHOUT a shuffle: both sides written
    bucketBy(8, orderkey) + sortBy, so the sort-merge join reads
    co-located buckets directly — zero Exchange in the plan. At 100 TB
    this turns the biggest recurring join from a full shuffle into a
    local merge per bucket (tests/test_plans.py asserts no Exchange)."""
    base = os.path.join(_IO_DIR, "bucketed")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    for name, df, key in (
        ("orders_b", o, "o_orderkey"),
        ("lineitem_b", li, "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", os.path.join(base, name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    lb = spark.table("lineitem_b")
    ob = spark.table("orders_b")
    return (
        lb.hint("merge")
        .join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum("l_extendedprice", "sum_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "sql_codec_surface",
    oracle="""
    SELECT event_id,
           json_extract(props, '$.k')::BIGINT AS k,
           'object' AS t,
           regexp_replace(props, ' ', '', 'g') AS j,
           json_extract_string(props, '$.missing') AS absent
    FROM events
    WHERE event_id < 1000
    ORDER BY event_id
    """,
)
def sql_codec_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit codec reached purely through SQL names
    (spark.udf.register): parse → typed get → typeof → to_json, plus a
    missing-path probe. Same kernels as the Python API; the SQL layer
    is only name binding. The ORDER BY wraps the raw ``events`` read:
    an outer one would make its range exchange's sample job run the
    UDFs a second time (and Spark drops an inner sort below an outer
    one)."""
    register_sql_functions(spark)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_id,
               codec_get_bigint(v, '$.k') AS k,
               codec_typeof(v) AS t,
               codec_to_json(v) AS j,
               codec_get_string(v, '$.missing') AS absent
        FROM (SELECT event_id, codec_parse_json(props) AS v
              FROM (SELECT event_id, props FROM events ORDER BY event_id))
        WHERE event_id < 1000
        """
    )


@query(
    "python_datasource_scan",
    oracle="""
    WITH rows AS (
      SELECT i AS id,
             (('0x' || substr(md5('row:' || i), 1, 2))::INT) % 8 AS bucket,
             (('0x' || substr(md5('row:' || i), 3, 8))::UBIGINT)::DOUBLE
               / 4294967296.0 AS score,
             (['alpha','beta','gamma','delta'])
               [(('0x' || substr(md5('row:' || i), 11, 1))::INT) % 4 + 1] AS tag
      FROM range(0, 5000) t(i)
    )
    SELECT bucket, tag, COUNT(*) AS n,
           MIN(score) AS min_score, MAX(score) AS max_score
    FROM rows GROUP BY bucket, tag ORDER BY bucket, tag
    """,
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 connector API): a
    deterministic generator source with real partition planning — each
    task emits its id-range slice independently, so the source scales
    horizontally like any file format. The oracle regenerates the same
    md5-derived rows in SQL."""
    from ..sources import pysource

    pysource.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", 5000)
        .option("n_partitions", 8)
        .load()
    )
    return (
        df.groupBy("bucket", "tag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("bucket", "tag")
    )


@query(
    "source_json_roundtrip",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {dsum_sql("value", "sum_value")}
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema-explicit JSON source: events go out as
    newline-delimited JSON and come back without an inference pass
    (at 100 TB, schema inference is a full extra scan — never pay it)."""
    path = os.path.join(_IO_DIR, "events_json")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.write.mode("overwrite").json(path)
    back = spark.read.schema(ev.schema).json(path)
    return (
        back.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .orderBy("event_type")
    )


@query(
    "stream_python_datasource",
    oracle="""
    WITH rows AS (
      SELECT i AS id,
             (('0x' || substr(md5('row:' || i), 1, 2))::INT) % 8 AS bucket,
             (('0x' || substr(md5('row:' || i), 3, 8))::UBIGINT)::DOUBLE
               / 4294967296.0 AS score,
             (['alpha','beta','gamma','delta'])
               [(('0x' || substr(md5('row:' || i), 11, 1))::INT) % 4 + 1] AS tag
      FROM range(0, 2000) t(i)
    )
    SELECT tag, COUNT(*) AS n, MIN(score) AS min_score, MAX(score) AS max_score
    FROM rows GROUP BY tag ORDER BY tag
    """,
)
def stream_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING source (SimpleDataSourceStreamReader):
    the deterministic generator replayed as micro-batches of 500 rows.
    Offsets are id positions, so exactly-once replay after failure is
    just regeneration (readBetweenOffsets). The stream drains its 2000
    rows into a memory sink, then the batch aggregate runs on the
    drained table — the oracle regenerates the identical rows in SQL.
    """
    import time as _time

    from ..sources import pysource
    from ..streaming.core import _SINK_COUNTER, _SINK_LOCK

    pysource.register(spark)
    with _SINK_LOCK:
        _SINK_COUNTER[0] += 1
        name = f"pysrc_sink_{_SINK_COUNTER[0]}"
    st = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", 2000)
        .option("batch_rows", 500)
        .load()
    )
    q = (
        st.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = _time.time() + 120
    while _time.time() < deadline:
        if spark.table(name).count() >= 2000:
            break
        _time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("tag")
    )


@query(
    "python_datasource_sink",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE o_orderkey % 7 = 0
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITER (Spark 4 connector API),
    completing the connector story next to the custom reader: a JSONL
    sink with staged-commit (write to _staging, rename on driver
    commit) exactly-once semantics. Orders subset → custom sink →
    read-back → aggregate, checked against the orders oracle."""
    import os

    from ..sources import pysource

    pysource.register_sink(spark)
    path = os.path.join(_IO_DIR, "orders_jsonl_sink")
    os.makedirs(path, exist_ok=True)
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 7 == 0)
    (
        o.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.format("jsonl_sink")
        .mode("overwrite")
        .option("path", path)
        .save()
    )
    back = spark.read.json(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), dsum("o_totalprice", "sum_price"))
        .orderBy("o_orderstatus")
    )


@query(
    "source_csv_permissive",
    oracle="""
    WITH rows AS (
      SELECT doc_id, lang, n_chars, (doc_id % 7 = 0) AS corrupt
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN NOT corrupt THEN n_chars ELSE 0 END) AS BIGINT)
             AS sum_chars
    FROM rows
    GROUP BY lang
    ORDER BY lang
    """,
)
def source_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on the CSV source: a CSV written with
    a deterministic corruption (every 7th doc's numeric field is the
    string 'xx') is read back under PERMISSIVE mode with an explicit
    schema and a ``columnNameOfCorruptRecord`` — bad rows surface as
    NULL fields plus the raw line in the corrupt column instead of
    failing the job (at 100 TB there is ALWAYS a bad record; FAILFAST
    is not an option and silent DROPMALFORMED hides data loss). The
    aggregate proves both populations: corrupt counts per lang and the
    exact sum over the rows that parsed."""
    from ..sources.tables import load_table

    path = os.path.join(_IO_DIR, "docs_csv_permissive")
    docs = load_table(spark, sf_dir, "documents")
    line = F.concat_ws(
        ",",
        F.col("doc_id"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("xx")).otherwise(
            F.col("n_chars").cast("string")
        ),
        F.col("lang"),
    )
    docs.select(line.alias("value")).write.mode("overwrite").text(path)
    parsed = (
        spark.read.schema("doc_id LONG, n_chars LONG, lang STRING, _bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(path)
    )
    return (
        parsed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_bad").isNotNull().cast("long")).alias("n_corrupt"),
            F.sum(F.coalesce("n_chars", F.lit(0))).alias("sum_chars"),
        )
        .orderBy("lang")
    )


@query(
    "source_json_single_variant",
    oracle=f"""
    SELECT events.event_type, COUNT(*) AS n, {dsum_sql("value", "sum_value")},
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def source_json_single_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's ``singleVariantColumn`` JSON ingestion — the
    variant-native ingest path: every JSON line lands as ONE variant
    value with no schema inference pass and no fixed struct (new fields
    appear without a schema change; at 100 TB an inference pass is a
    full extra scan and a fixed struct is a migration). Events are
    re-serialized as JSON lines with the semi-structured ``props``
    spliced in as a RAW nested object, read back as variant, and all
    typed access happens through ``variant_get`` paths — including a
    typed extraction from inside the nested props object (sum_k). The double survives
    the JSON round trip bit-exactly (shortest-repr print, exact
    parse), so the oracle aggregates the original table directly."""
    from ..sources.tables import load_table

    path = os.path.join(_IO_DIR, "events_single_variant")
    ev = load_table(spark, sf_dir, "events")
    line = F.concat(
        F.lit('{"event_id":'),
        F.col("event_id"),
        F.lit(',"event_type":"'),
        F.col("event_type"),
        F.lit('","value":'),
        F.col("value").cast("string"),
        F.lit(',"props":'),
        F.col("props"),
        F.lit("}"),
    )
    ev.select(line.alias("value")).write.mode("overwrite").text(path)
    v = spark.read.option("singleVariantColumn", "v").json(path)
    return (
        v.select(
            F.expr("variant_get(v, '$.event_type', 'string')").alias("event_type"),
            F.expr("variant_get(v, '$.value', 'double')").alias("value"),
            F.expr("variant_get(v, '$.props.k', 'bigint')").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.sum("k").cast("long").alias("sum_k"),
        )
        .orderBy("event_type")
    )


@query(
    "source_xml_roundtrip",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {dsum_sql("value", "sum_value")}
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in XML source (native in Spark 4): events go out as
    row-tagged XML and come back under an EXPLICIT schema (no
    inference scan), completing the interchange-format family next to
    CSV, JSON, ORC and the custom Python DataSource. Doubles survive
    the text round trip exactly (shortest-repr print, exact parse), so
    the oracle aggregates the original table."""
    from ..sources.tables import load_table

    path = os.path.join(_IO_DIR, "events_xml")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.write.mode("overwrite").format("xml").option("rowTag", "event").save(path)
    back = (
        spark.read.schema("event_id LONG, event_type STRING, value DOUBLE")
        .format("xml")
        .option("rowTag", "event")
        .load(path)
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "table_analyze_stats",
    oracle="""
    SELECT 'l_orderkey' AS col_name,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS ndv,
           CAST(COUNT(*) - COUNT(l_orderkey) AS BIGINT) AS n_nulls,
           CAST(MIN(l_orderkey) AS VARCHAR) AS min_val,
           CAST(MAX(l_orderkey) AS VARCHAR) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_suppkey', CAST(COUNT(DISTINCT l_suppkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(l_suppkey) AS BIGINT),
           CAST(MIN(l_suppkey) AS VARCHAR), CAST(MAX(l_suppkey) AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
           CAST(COUNT(*) - COUNT(l_returnflag) AS BIGINT),
           MIN(l_returnflag), MAX(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', CAST(COUNT(DISTINCT l_shipdate) AS BIGINT),
           CAST(COUNT(*) - COUNT(l_shipdate) AS BIGINT),
           strftime(MIN(l_shipdate), '%Y-%m-%d'),
           strftime(MAX(l_shipdate), '%Y-%m-%d')
    FROM lineitem
    ORDER BY col_name
    """,
)
def table_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-pass column statistics — exact NDV, null count, min,
    max per column — the stats a cost-based optimizer (join ordering,
    broadcast decisions) and a data-quality gate both need, computed in
    ONE scan of the fact table. Multiple exact COUNT(DISTINCT)s in one
    aggregate compile to a single Expand pass (one scan fanned out per
    distinct-column, partially de-duplicated map-side BEFORE the
    shuffle — the standard multi-distinct plan); the oracle re-scans
    per column instead (four scans), so agreement cross-checks the
    Expand rewrite. The single stats row is then unpivoted driver-free
    with stack(). At 100 TB you'd swap exact NDV for
    approx_count_distinct (one pass, no Expand — `approx_distinct_users`
    pins that path) or run per-partition ANALYZE incrementally; min/max
    and null counts come from parquet footers for free
    (`source_parquet_stats_audit` proves the footer path)."""
    li = load_table(spark, sf_dir, "lineitem")
    one = li.agg(
        F.count_distinct("l_orderkey").alias("ndv_ok"),
        (F.count(F.lit(1)) - F.count("l_orderkey")).alias("nn_ok"),
        F.min("l_orderkey").cast("string").alias("mn_ok"),
        F.max("l_orderkey").cast("string").alias("mx_ok"),
        F.count_distinct("l_suppkey").alias("ndv_sk"),
        (F.count(F.lit(1)) - F.count("l_suppkey")).alias("nn_sk"),
        F.min("l_suppkey").cast("string").alias("mn_sk"),
        F.max("l_suppkey").cast("string").alias("mx_sk"),
        F.count_distinct("l_returnflag").alias("ndv_rf"),
        (F.count(F.lit(1)) - F.count("l_returnflag")).alias("nn_rf"),
        F.min("l_returnflag").alias("mn_rf"),
        F.max("l_returnflag").alias("mx_rf"),
        F.count_distinct("l_shipdate").alias("ndv_sd"),
        (F.count(F.lit(1)) - F.count("l_shipdate")).alias("nn_sd"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("mn_sd"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("mx_sd"),
    )
    return one.select(
        F.expr(
            "stack(4,"
            " 'l_orderkey', ndv_ok, nn_ok, mn_ok, mx_ok,"
            " 'l_suppkey', ndv_sk, nn_sk, mn_sk, mx_sk,"
            " 'l_returnflag', ndv_rf, nn_rf, mn_rf, mx_rf,"
            " 'l_shipdate', ndv_sd, nn_sd, mn_sd, mx_sd)"
            " AS (col_name, ndv, n_nulls, min_val, max_val)"
        )
    ).orderBy("col_name")


@query(
    "source_corrupt_file_resilience",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_orderkey % 3 = 0
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def source_corrupt_file_resilience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-file resilience: a dataset directory holding three good
    parquet files AND one garbage file (not parquet at all) must still
    serve every good row under ``ignoreCorruptFiles=true`` — the
    bit-rot / partial-write reality of a 100 TB table, where failing
    the whole 10k-file scan for one bad object is an outage and the
    default fail-fast is only right for pipelines that can quarantine.
    The aggregate proves BOTH properties: every good-file row arrived
    (the oracle computes the same aggregate from the logical content)
    and the garbage contributed nothing. The corrupt file is written
    with a .parquet name and magic-free bytes so the footer read
    itself fails, not just a schema check."""
    path = os.path.join(_IO_DIR, "orders_corrupt_resilience")
    good = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(3)
    )
    good.write.mode("overwrite").parquet(path)
    with open(os.path.join(path, "part-junk.snappy.parquet"), "wb") as fh:
        fh.write(b"this is not a parquet file " * 64)
    back = (
        spark.read.option("ignoreCorruptFiles", "true")
        .schema(good.schema)
        .parquet(path)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            dsum("o_totalprice", "sum_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "join_cardinality_estimate",
    oracle="""
    -- the textbook equi-join estimator |A|*|B| / max(ndv_a, ndv_b),
    -- integer arithmetic, scored against the measured join size
    WITH pairs AS (
      SELECT 'orders_lineitem' AS join_pair,
             (SELECT COUNT(*) FROM orders) AS rows_a,
             (SELECT COUNT(*) FROM lineitem) AS rows_b,
             (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS ndv_a,
             (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS ndv_b,
             (SELECT COUNT(*) FROM orders o
              JOIN lineitem l ON l.l_orderkey = o.o_orderkey) AS actual_rows
      UNION ALL
      SELECT 'customer_events',
             (SELECT COUNT(*) FROM customer),
             (SELECT COUNT(*) FROM events),
             (SELECT COUNT(DISTINCT c_custkey) FROM customer),
             (SELECT COUNT(DISTINCT user_id) FROM events),
             (SELECT COUNT(*) FROM customer c
              JOIN events e ON e.user_id = c.c_custkey)
      UNION ALL
      SELECT 'orders_selfkey',
             (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(*) FROM orders),
             (SELECT COUNT(DISTINCT o_custkey) FROM orders),
             (SELECT COUNT(DISTINCT o_custkey) FROM orders),
             (SELECT COUNT(*) FROM orders a
              JOIN orders b ON b.o_custkey = a.o_custkey))
    SELECT join_pair,
           CAST(rows_a AS BIGINT) AS rows_a,
           CAST(rows_b AS BIGINT) AS rows_b,
           CAST(ndv_a AS BIGINT) AS ndv_a,
           CAST(ndv_b AS BIGINT) AS ndv_b,
           CAST(rows_a * rows_b // GREATEST(ndv_a, ndv_b) AS BIGINT)
             AS est_rows,
           CAST(actual_rows AS BIGINT) AS actual_rows,
           CAST(ABS(rows_a * rows_b // GREATEST(ndv_a, ndv_b) - actual_rows)
                * 1000 // GREATEST(actual_rows, 1) AS BIGINT) AS err_permille
    FROM pairs ORDER BY join_pair
    """,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimizer-infrastructure audit: the textbook equi-join
    cardinality estimator est = |A|·|B| / max(ndv(a.k), ndv(b.k))
    (uniformity + containment assumptions — what every cost-based
    optimizer, Catalyst's CBO included, computes from ANALYZE stats)
    scored against the MEASURED join size, in integer arithmetic so
    both engines hash identically. Three regimes on purpose: the
    orders⋈lineitem FK join and customer⋈events (PK on the max-ndv
    side), where containment + uniformity hold and the estimator is
    exact (err_permille 0 — the case that justifies trusting stats),
    and the orders self-join on the NON-unique o_custkey, where
    actual = Σ c(k)² while the estimator assumes uniform (n/ndv)² per
    key — Jensen's inequality makes it UNDER-estimate under any
    per-key variance, and err_permille records by how much on this
    corpus. The inputs are the numbers
    `table_analyze_stats` materializes — this query is the
    check-before-trust step between ANALYZE and a join-order
    decision. Fully declarative — per pair, three 1-row aggregates
    (side stats and the count-only join probe, no payload columns
    survive pruning) combined via the repo's 1-row-broadcast-cross
    pattern; nothing ever reaches the driver but the final 2 rows."""
    def stats(pair: str, a, ka: str, b, kb: str):
        sa = a.agg(
            F.count(F.lit(1)).alias("rows_a"),
            F.countDistinct(ka).alias("ndv_a"),
        )
        sb = b.agg(
            F.count(F.lit(1)).alias("rows_b"),
            F.countDistinct(kb).alias("ndv_b"),
        )
        actual = (
            a.select(F.col(ka).alias("k"))
            .join(b.select(F.col(kb).alias("k")), "k")
            .agg(F.count(F.lit(1)).alias("actual_rows"))
        )
        est = F.expr("rows_a * rows_b div greatest(ndv_a, ndv_b)")
        return (
            sa.crossJoin(F.broadcast(sb))
            .crossJoin(F.broadcast(actual))
            .select(
                F.lit(pair).alias("join_pair"),
                "rows_a",
                "rows_b",
                "ndv_a",
                "ndv_b",
                est.alias("est_rows"),
                "actual_rows",
                # greatest(actual_rows, 1): on an empty probed join
                # Spark's div returns NULL while DuckDB raises on
                # division by zero — guard BOTH sides identically so
                # the query stays fixture-independent (r8 ADVICE)
                F.expr(
                    "abs(rows_a * rows_b div greatest(ndv_a, ndv_b)"
                    " - actual_rows) * 1000 div greatest(actual_rows, 1)"
                ).alias("err_permille"),
            )
        )

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    return (
        stats("customer_events", cust, "c_custkey", ev, "user_id")
        .unionByName(
            stats("orders_lineitem", orders, "o_orderkey", li, "l_orderkey")
        )
        .unionByName(
            stats("orders_selfkey", orders, "o_custkey", orders, "o_custkey")
        )
        .orderBy("join_pair")
    )


@query(
    "quality_expectations_report",
    oracle="""
    WITH o AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN CAST(o_totalprice AS DOUBLE) <= 0
                      THEN 1 ELSE 0 END) AS v_price,
             COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_dup,
             SUM(CASE WHEN CAST(o_orderdate AS DATE) > DATE '1998-08-01'
                      THEN 1 ELSE 0 END) AS v_date
      FROM orders),
    l AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN l_quantity < 1 OR l_quantity > 49
                      THEN 1 ELSE 0 END) AS v_qty,
             SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                      THEN 1 ELSE 0 END) AS v_disc
      FROM lineitem),
    e AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS v_null
      FROM events),
    c AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN c_mktsegment NOT IN ('AUTOMOBILE', 'BUILDING',
                        'FURNITURE', 'MACHINERY', 'HOUSEHOLD')
                      THEN 1 ELSE 0 END) AS v_dom
      FROM customer),
    fk AS (
      SELECT (SELECT COUNT(*) FROM orders) AS n,
             (SELECT COUNT(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)) AS v
    )
    SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
           CAST(n_violations AS BIGINT) AS n_violations,
           n_violations = 0 AS passed
    FROM (
      SELECT 'customer_segment_domain' AS rule, n AS n_checked,
             v_dom AS n_violations FROM c
      UNION ALL SELECT 'events_user_nonnull', n, v_null FROM e
      UNION ALL SELECT 'lineitem_discount_0_to_10pct', n, v_disc FROM l
      UNION ALL SELECT 'lineitem_qty_1_to_49', n, v_qty FROM l
      UNION ALL SELECT 'orders_custkey_fk', n, v FROM fk
      UNION ALL SELECT 'orders_date_le_1998_08_01', n, v_date FROM o
      UNION ALL SELECT 'orders_key_unique', n, v_dup FROM o
      UNION ALL SELECT 'orders_price_positive', n, v_price FROM o)
    ORDER BY rule
    """,
)
def quality_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract EXPECTATIONS report — the dbt-test / Delta Live
    Tables "expectations" primitive: a battery of declarative rules
    (range, domain, uniqueness, not-null, referential integrity)
    evaluated into one (rule, n_checked, n_violations, passed) table
    the pipeline gates deploys on. Two rules are deliberately tight
    enough to FIRE on this corpus (qty <= 49, date cutoff) so the
    report exercises both verdicts.

    Scale shape: all same-table rules FUSE into one scan — a single
    conditional-count aggregate per table (orders: 3 rules, one pass;
    uniqueness is n - approx-free exact countDistinct in the same
    aggregate), so adding a rule adds a column, not a scan. The FK
    rule is a broadcast LEFT ANTI count against the dimension. Each
    table contributes one 1-row aggregate, exploded into its rule
    rows — at 100 TB this is exactly one pass over each fact table
    regardless of how many rules the contract carries."""
    def explode_rules(one_row, rules):
        return one_row.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(nm).alias("rule"),
                            F.col(n).cast("long").alias("n_checked"),
                            F.col(v).cast("long").alias("n_violations"),
                        )
                        for nm, n, v in rules
                    ]
                )
            ).alias("r")
        ).select("r.*")

    orders = load_table(spark, sf_dir, "orders")
    o = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("o_totalprice").cast("double") <= 0).cast("int")
        ).alias("v_price"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_dup"),
        F.sum(
            (F.col("o_orderdate").cast("date") > F.lit("1998-08-01")).cast(
                "int"
            )
        ).alias("v_date"),
    )
    li = load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 49)).cast("int")
        ).alias("v_qty"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).cast(
                "int"
            )
        ).alias("v_disc"),
    )
    ev = load_table(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("user_id").isNull().cast("int")).alias("v_null"),
    )
    cust = load_table(spark, sf_dir, "customer").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (
                ~F.col("c_mktsegment").isin(
                    "AUTOMOBILE", "BUILDING", "FURNITURE",
                    "MACHINERY", "HOUSEHOLD",
                )
            ).cast("int")
        ).alias("v_dom"),
    )
    dim = load_table(spark, sf_dir, "customer").select("c_custkey")
    # the FK violation count joins onto the fused orders aggregate as
    # a 1-row broadcast, and ALL four orders rules explode from that
    # single branch — orders is scanned exactly twice overall (the
    # fused agg pass + the anti-join probe), no matter the rule count
    o_all = o.crossJoin(
        F.broadcast(
            orders.select("o_custkey")
            .join(
                F.broadcast(dim),
                orders.o_custkey == dim.c_custkey,
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("v_fk"))
        )
    )
    report = (
        explode_rules(cust, [("customer_segment_domain", "n", "v_dom")])
        .unionByName(explode_rules(ev, [("events_user_nonnull", "n", "v_null")]))
        .unionByName(
            explode_rules(
                li,
                [
                    ("lineitem_discount_0_to_10pct", "n", "v_disc"),
                    ("lineitem_qty_1_to_49", "n", "v_qty"),
                ],
            )
        )
        .unionByName(
            explode_rules(
                o_all,
                [
                    ("orders_custkey_fk", "n", "v_fk"),
                    ("orders_date_le_1998_08_01", "n", "v_date"),
                    ("orders_key_unique", "n", "v_dup"),
                    ("orders_price_positive", "n", "v_price"),
                ],
            )
        )
    )
    return report.withColumn(
        "passed", F.col("n_violations") == 0
    ).orderBy("rule")
