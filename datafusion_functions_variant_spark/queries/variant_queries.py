"""Variant-surface queries — the reference's core capability expressed
as Spark queries over the events table (props is a JSON string column).

Track N queries use native parse_json/variant_get (Catalyst-optimized,
whole-stage codegen). Track C queries run the explicit pandas-UDF codec
end-to-end so its correctness is gated by the same DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import explicit
from ..operators.dedup import fan_out
from ..sources import shredded
from ..sources.tables import load_table
from . import davg_sql, dsum, dsum_sql, isum, isum_sql, query
from .catalog import _IO_DIR


@query(
    "variant_events_agg",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {isum_sql("CAST(props->>'$.k' AS BIGINT)", "sum_k")},
           {dsum_sql("value", "sum_value")}
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def variant_events_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: JSON ingestion → variant path extraction → aggregation.

    The end-to-end slice of the reference's purpose: parse_json is its
    ``variant_from_json`` kernel (json.rs:38-81), variant_get its
    dictionary-lookup + tree-walk read path (metadata.rs:162-184,
    read.rs:87-93). Scale: parse+extract are per-row, shuffle only
    carries the 5 grouping keys' partial aggregates (map-side combine).
    fan_out spreads the per-row parse across cores when the source
    arrives in fewer splits than the cluster has slots (a no-op once
    the input is already wide, as a 100 TB scan is).
    """
    ev = fan_out(load_table(spark, sf_dir, "events"))
    return (
        ev.withColumn("k", F.variant_get(F.parse_json("props"), "$.k", "bigint"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            isum("k", "sum_k"),
            dsum("value", "sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "variant_get_typed",
    oracle="""
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT) AS k_big,
           CAST(props->>'$.k' AS DOUBLE) AS k_dbl,
           props->>'$.k' AS k_str,
           CAST(props->>'$.missing' AS BIGINT) AS k_missing
    FROM events
    ORDER BY event_id
    """,
)
def variant_get_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed getters (reference A15-A19): one extraction per target
    type, plus absent-path → NULL semantics (read.rs:156-171 None)."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_big"),
        F.variant_get(v, "$.k", "double").alias("k_dbl"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.missing", "bigint").alias("k_missing"),
    ).orderBy("event_id")


@query(
    "variant_filter_pushdown",
    oracle="""
    SELECT event_id, user_id, CAST(props->>'$.k' AS BIGINT) AS k
    FROM events
    WHERE CAST(props->>'$.k' AS BIGINT) > 90 AND event_type = 'purchase'
    ORDER BY event_id
    """,
)
def variant_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate over an extracted variant field + a pushable column
    predicate (event_type reaches the parquet scan as PushedFilters)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type") == "purchase")
        .withColumn("k", F.variant_get(F.parse_json("props"), "$.k", "bigint"))
        .where(F.col("k") > 90)
        .select("event_id", "user_id", "k")
        .orderBy("event_id")
    )


@query(
    "variant_explicit_codec",
    oracle="""
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT) AS k,
           props->>'$.k' AS k_str,
           json_type(props) = 'OBJECT' AS root_is_obj
    FROM events
    ORDER BY event_id
    """,
)
def variant_explicit_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Track C end-to-end: pandas-UDF JSON→variant kernel with a
    per-row dictionary (codec.encode_batch), then fused typed path
    extraction + typeof through OUR binary codec (one decode UDF for
    all three outputs — one Arrow transfer of the variant struct, one
    buffer walk per row) — gated by the same SQL oracle.

    The sort on ``event_id`` sits below the UDFs: a sort above them
    would make its range exchange's sample job run the whole Python
    chain a second time. The projection keeps the sorted order.
    fan_out stays below the sort: where a consumer drops the sort
    (an order-free aggregate over this query), it still spreads the
    Python kernels of a narrow local input over the cores, and the
    sample job reads only its shuffle output."""
    ev = fan_out(load_table(spark, sf_dir, "events")).orderBy("event_id")
    v = ev.withColumn("var", explicit.variant_from_json(F.col("props")))
    ex = explicit.variant_extract(
        "var",
        {"k": ("$.k", "bigint"), "k_str": ("$.k", "string"), "t": ("$", "typeof")},
    )
    return v.select(
        "event_id",
        ex["k"].alias("k"),
        ex["k_str"].alias("k_str"),
        (ex["t"] == F.lit("object")).alias("root_is_obj"),
    )


@query(
    "variant_tolerant_parse",
    oracle="""
    SELECT CAST(COUNT(*) FILTER (WHERE json_valid(props)) AS BIGINT) AS n_valid,
           CAST(COUNT(*) FILTER (WHERE NOT json_valid(props)) AS BIGINT) AS n_invalid
    FROM events
    """,
)
def variant_tolerant_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_parse_json semantics: malformed rows → NULL instead of the
    reference's batch-fail (json.rs:42-48 documents the strict mode)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(F.try_parse_json("props").alias("v"))
    return parsed.agg(
        F.count("v").cast("long").alias("n_valid"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).cast("long").alias("n_invalid"),
    )


@query(
    "variant_events_daily",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           COUNT(*) AS n,
           {davg_sql("value", "avg_value")}
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def variant_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed rollup over the event stream table (ts arrives as
    raw parquet NANOS; sources/tables.py normalizes to timestamp)."""
    from . import davg

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), davg("value", "avg_value"))
        .orderBy("day", "event_type")
    )


@query(
    "variant_shredded_storage",
    oracle=f"""
    SELECT event_type AS etype, COUNT(*) AS n, {dsum_sql("value", "sum_val")}
    FROM events
    WHERE CAST(props->>'$.k' AS BIGINT) BETWEEN 10 AND 49
    GROUP BY 1 ORDER BY 1
    """,
)
def variant_shredded_storage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shredded-variant STORAGE roundtrip (sources/shredded.py): a
    variant payload is written with $.k and $.val shredded into typed
    parquet columns plus a residual of the rest, then queried back —
    the $.k range predicate lands in PushedFilters of the read-back
    scan (plan-pinned in tests/test_plans.py) and $.etype is served
    from the residual via the shredded_col fallback. This is the
    storage layer the reference planned but never built
    (/root/reference/README.md:13-16), expressed as plain typed
    parquet columns so pushdown/pruning are native scan mechanics.
    """
    ev = load_table(spark, sf_dir, "events")
    payload = F.to_json(
        F.struct(
            F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k"),
            F.col("event_type").alias("etype"),
            F.col("value").alias("val"),
        )
    )
    src = ev.select("event_id", payload.alias("payload"))
    out_dir = os.path.join(_IO_DIR, "events_shredded")
    shredded.write_shredded(
        src, "payload", {"k": ("$.k", "bigint"), "val": ("$.val", "double")}, out_dir
    )
    df, spec = shredded.read_shredded(spark, out_dir)
    return (
        df.where(F.col("k").between(10, 49))
        .select(
            shredded.shredded_col(spec, "$.etype", "string").alias("etype"),
            shredded.shredded_col(spec, "$.val", "double").alias("val"),
        )
        .groupBy("etype")
        .agg(F.count(F.lit(1)).alias("n"), dsum("val", "sum_val"))
        .orderBy("etype")
    )


@query(
    "variant_shredded_array",
    oracle=f"""
    WITH src AS (
      SELECT event_type,
             'p' || (CAST(props->>'$.k' AS BIGINT) % 3) AS tag1,
             value
      FROM events
    )
    SELECT tag1, COUNT(*) AS n, {dsum_sql("value * 3", "sum_scores")}
    FROM src
    WHERE event_type IN ('click', 'error')
    GROUP BY tag1 ORDER BY tag1
    """,
)
def variant_shredded_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shredded ARRAY paths (reference A27-A29 array read path,
    read.rs:216-280): a variant payload whose hot paths are an indexed
    element (``$.tags[0]`` → typed string column) and a whole array
    (``$.scores`` → typed ``array<double>`` column, removed from the
    residual). The ``$.tags[0]`` IN-filter lands in PushedFilters of
    the read-back parquet scan (plan-pinned in tests/test_plans.py) —
    an indexed variant path enjoying native row-group pruning.
    ``$.tags[1]`` was NOT shredded and is served from the residual via
    the shredded_col fallback (partial array shredding keeps the array
    in the residual; only the whole-array shred removes it). The
    per-row score total folds the typed array JVM-side (aggregate HOF)
    — no re-parse of the variant at query time.
    """
    ev = load_table(spark, sf_dir, "events")
    payload = F.to_json(
        F.struct(
            F.array(
                F.col("event_type"),
                F.concat(
                    F.lit("p"),
                    (
                        F.variant_get(F.parse_json("props"), "$.k", "bigint") % 3
                    ).cast("string"),
                ),
            ).alias("tags"),
            F.array(F.col("value"), F.col("value") * 2).alias("scores"),
        )
    )
    src = ev.select("event_id", payload.alias("payload"))
    out_dir = os.path.join(_IO_DIR, "events_shredded_array")
    shredded.write_shredded(
        src,
        "payload",
        {"tag0": ("$.tags[0]", "string"), "scores": ("$.scores", "array<double>")},
        out_dir,
    )
    df, spec = shredded.read_shredded(spark, out_dir)
    score_sum = F.aggregate(
        F.col("scores"), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        df.where(F.col("tag0").isin("click", "error"))
        .select(
            shredded.shredded_col(spec, "$.tags[1]", "string").alias("tag1"),
            score_sum.alias("row_score"),
        )
        .groupBy("tag1")
        .agg(F.count(F.lit(1)).alias("n"), dsum("row_score", "sum_scores"))
        .orderBy("tag1")
    )


@query(
    "variant_shredded_wildcard",
    oracle=f"""
    WITH src AS (
      SELECT event_type,
             value,
             CAST(props->>'$.k' AS BIGINT) % 5 + 1 AS qty1
      FROM events
    )
    SELECT event_type AS first_sku, COUNT(*) AS n,
           {dsum_sql("value * qty1 + value * 2 * 2", "sum_revenue")}
    FROM src
    WHERE qty1 >= 2
    GROUP BY 1 ORDER BY 1
    """,
)
def variant_shredded_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard array-of-object shredding (``$.items[*].price``): one
    field extracted from EVERY element of a variant array into a typed
    ``array<double>`` column at WRITE time — the composition the
    reference reads per element (ArrayRef read.rs:216-280 walking
    ObjectRef read.rs:99-211) becomes a single ``transform`` over
    ``array<variant>`` inside codegen, no per-row Python anywhere
    (plan-pinned in tests/test_plans.py). ``$.items[*].qty`` shreds
    alongside; per-row revenue folds the two typed arrays JVM-side
    (``zip_with`` + ``aggregate``) without touching the variant at
    query time. ``$.items[0].sku`` was NOT shredded and is served from
    the residual via the shredded_col wildcard-aware fallback.
    """
    ev = load_table(spark, sf_dir, "events")
    qty1 = (
        F.variant_get(F.parse_json("props"), "$.k", "bigint") % 5 + 1
    )
    payload = F.to_json(
        F.struct(
            F.array(
                F.struct(
                    F.col("event_type").alias("sku"),
                    F.col("value").alias("price"),
                    qty1.alias("qty"),
                ),
                F.struct(
                    F.lit("restock").alias("sku"),
                    (F.col("value") * 2).alias("price"),
                    F.lit(2).cast("bigint").alias("qty"),
                ),
            ).alias("items"),
        )
    )
    src = ev.select("event_id", payload.alias("payload"))
    out_dir = os.path.join(_IO_DIR, "events_shredded_wildcard")
    shredded.write_shredded(
        src,
        "payload",
        {
            "prices": ("$.items[*].price", "array<double>"),
            "qtys": ("$.items[*].qty", "array<bigint>"),
        },
        out_dir,
    )
    df, spec = shredded.read_shredded(spark, out_dir)
    revenue = F.aggregate(
        F.zip_with("prices", "qtys", lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        df.where(F.element_at("qtys", 1) >= 2)
        .select(
            shredded.shredded_col(spec, "$.items[0].sku", "string").alias(
                "first_sku"
            ),
            revenue.alias("row_revenue"),
        )
        .groupBy("first_sku")
        .agg(F.count(F.lit(1)).alias("n"), dsum("row_revenue", "sum_revenue"))
        .orderBy("first_sku")
    )


@query(
    "variant_array_paths",
    oracle="""
    WITH src AS (
      SELECT event_id,
             '[' || event_id || ',' || event_id * 2
                 || ',{"a":' || event_id % 7 || '}]' AS js
      FROM events WHERE event_id < 3000
    )
    SELECT event_id,
           CAST(js->>'$[0]' AS BIGINT) AS e0,
           CAST(js->>'$[1]' AS BIGINT) AS e1,
           CAST(js->>'$[2].a' AS BIGINT) AS nested_a,
           CAST(js->>'$[9]' AS BIGINT) AS oob
    FROM src ORDER BY event_id
    """,
)
def variant_array_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-index path access (reference A21 get_array / A28
    get_element, read.rs:78-80,260-267): variant_get with ``$[i]``
    steps, a nested ``$[i].key`` walk, and the out-of-bounds → NULL
    contract (read.rs:267 returns None OOB). The JSON array is
    constructed per row so every element branch is exercised; all
    expressions stay in whole-stage codegen.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 3000)
    js = F.concat(
        F.lit("["),
        F.col("event_id").cast("string"),
        F.lit(","),
        (F.col("event_id") * 2).cast("string"),
        F.lit(',{"a":'),
        (F.col("event_id") % 7).cast("string"),
        F.lit("}]"),
    )
    v = F.parse_json(js)
    return ev.select(
        "event_id",
        F.variant_get(v, "$[0]", "bigint").alias("e0"),
        F.variant_get(v, "$[1]", "bigint").alias("e1"),
        F.variant_get(v, "$[2].a", "bigint").alias("nested_a"),
        F.variant_get(v, "$[9]", "bigint").alias("oob"),
    ).orderBy("event_id")


@query(
    "variant_shredded_multikey",
    oracle=r"""
    -- the shredded MULTI-KEY landing is invisible to results: per
    -- language, doc count / distinct normalized-content-hash count /
    -- total body length over the en+de slice of the corpus
    WITH d AS (
      SELECT lang,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
             length(text) AS blen
      FROM documents
      WHERE lang IN ('en', 'de') AND text IS NOT NULL
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
           CAST(SUM(blen) AS BIGINT) AS sum_len
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def variant_shredded_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-KEY write-time shredding (round 15, r14 verdict optional
    #7): a multi-tenant JSON feed landed with TWO hot paths
    materialized at write time — ``$.body.text`` as a typed
    ``body_text`` column (the dedup key) and ``$.lang`` as a hive
    PARTITION column (the tenant/routing key, ``partition_by`` on
    ``sources/shredded.py``'s writer). The probe then gets BOTH
    parquet-native prune mechanics at once: the language slice never
    LISTS the other languages' files (PartitionFilters — at 100 TB a
    per-language probe reads ~1/n_lang of the store before a single
    row is decoded), and the body-text guard reaches the scan as a
    PushedFilter with the envelope residual column-pruned away
    (plan-pinned in tests/test_plans.py::
    test_shredded_multikey_partition_and_pushed_filters). The
    reference walks ``$.lang`` and ``$.body.text`` per row per query
    (ObjectRef field lookup, read.rs:113-210); shredding pays both
    walks once at ingest and stores them where the scanner can skip
    whole files.

    Results are oracle-identical to computing straight off the raw
    corpus — storage layout is invisible to semantics."""
    from ..operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    payload = F.to_json(
        F.struct(
            F.col("doc_id").alias("id"),
            F.col("lang"),
            F.struct(F.col("text").alias("text")).alias("body"),
            F.col("source"),
            F.col("n_chars"),
        )
    )
    src = docs.select("doc_id", payload.alias("payload"))
    out_dir = os.path.join(_IO_DIR, "documents_shredded_multikey")
    shredded.write_shredded(
        src,
        "payload",
        {
            "lang_s": ("$.lang", "string"),
            "body_text": ("$.body.text", "string"),
        },
        out_dir,
        partition_by=["lang_s"],
    )
    df, spec = shredded.read_shredded(spark, out_dir)
    body = shredded.shredded_col(spec, "$.body.text", "string")
    return (
        df.where(F.col("lang_s").isin("en", "de") & body.isNotNull())
        .select(F.col("lang_s").alias("lang"),
                F.md5(normalize_text(body)).alias("h"),
                F.length(body).alias("blen"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h").cast("long").alias("n_distinct"),
            F.sum("blen").cast("long").alias("sum_len"),
        )
        .orderBy("lang")
    )
