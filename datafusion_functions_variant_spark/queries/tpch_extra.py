"""Wider TPC-H-shape relational coverage (adapted to the synthetic
schema: lineitem has no commit/receipt dates or ship modes, so Q4/Q12
shapes use shipdate lag instead), plus the grouped-map applyInPandas
surface and a variant parquet sink roundtrip."""

from __future__ import annotations

import os

import pandas as pd  # noqa: F401  (resolves stringified UDF type hints)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import davg_sql, dsum, dsum_sql, query
from .catalog import _IO_DIR


@query(
    "q4_priority_with_late_lines",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q4_priority_with_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): orders in a quarter
    having at least one slow lineitem — EXISTS becomes a left-semi
    join on orderkey with the date residual evaluated in the join."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    semi = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > F.date_add(o.o_orderdate.cast("date"), 30).cast("timestamp")),
        "left_semi",
    )
    return (
        semi.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change): pure scan-filter-aggregate.
    All four predicates push to the parquet scan; the agg is one
    map-side partial + one exchange of a single row."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue", 4),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue", 4)}
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= DATE '1997-01-01'
      AND o.o_orderdate < DATE '1997-07-01'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned item reporting): 4-way join with
    selective date + returnflag filters, revenue agg, top-20. Customer
    and nation broadcast (dimensions); the 6-month orders slice is a
    constant FRACTION of a fact table, so it shuffle-joins lineitem on
    orderkey — AQE may promote it to broadcast at small SF, but hinting
    it would pin an unbounded build side at 100 TB."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 4))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                    THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
                    ELSE 0 END) AS DOUBLE) * 100.0
           / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS promo_revenue_pct,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01'
      AND l.l_shipdate < TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional aggregation over a
    broadcast part join — the month filter prunes lineitem at the
    scan, part is the small build side."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        (F.sum(promo).cast("double") * 100.0 / F.sum(rev).cast("double")).alias(
            "promo_revenue_pct"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q18_large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 150
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate, b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY b.total_qty DESC, o.o_orderkey
    LIMIT 25
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): HAVING over a
    groupBy feeds a join back to orders/customer. The aggregate runs
    FIRST so only qualifying orderkeys (few) join onward — never the
    full lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(25)
    )


@query(
    "variant_arrow_kernel",
    oracle="""
    SELECT event_type,
           CAST(SUM(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def variant_arrow_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInArrow codec track (reference json.rs:38-81 at the
    Arrow level): RecordBatches cross the JVM boundary zero-copy, one
    dictionary of its own keys per row, StructArray out — then typed
    extraction and aggregation on the result."""
    from ..functions import explicit
    from ..functions.arrow_kernel import variant_from_json_arrow

    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    enc = variant_from_json_arrow(ev, "props", "v")
    k = explicit.variant_get(F.col("v"), "$.k", "bigint")
    return (
        enc.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").cast("long").alias("sum_k"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


@query(
    "q9_part_profit_by_nation",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS o_year,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", "sum_profit", 4)}
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    ORDER BY 1, 2 DESC
    """,
)
def q9_part_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): a part-name filter drives
    a 5-way star join, profit grouped by supplier nation x order year.
    The filtered part dim broadcasts first so lineitem shrinks before
    any other join."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").contains("red"))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        # orders is fact-sized: shuffle join on orderkey, never broadcast
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_profit", 4))
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(strftime(l.l_shipdate, '%Y') AS BIGINT) AS l_year,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)", "revenue", 4)}
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
      AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): lineitem resolves BOTH its
    supplier nation and (via orders→customer) its customer nation —
    two independent dimension chains joined to one fact. Every dim
    broadcasts; lineitem is shuffled at most once for the final agg."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ns = n.select(F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation"))
    nc = n.select(F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation"))
    joined = (
        # orders/customer are fact-sized at scale: shuffle joins; only
        # the true dims (nation, supplier) broadcast
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), c.c_nationkey == F.col("nc_key"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), s.s_nationkey == F.col("ns_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue", 4))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                  AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): argmax via scalar-subquery max joined
    back to the aggregate — the max (one row) broadcasts, so no second
    shuffle of the revenue table. Decimal-exact sums make the equality
    join engine-portable."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue", 4)
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(mx), revenue.total_revenue == mx.mx)
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "grouped_map_top2_per_type",
    oracle="""
    SELECT event_type, event_id, value FROM (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rn
      FROM events
    ) WHERE rn <= 2
    ORDER BY event_type, event_id
    """,
)
def grouped_map_top2_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (the reference's planned UDF surface,
    grouped flavor): each event_type group arrives as one pandas
    DataFrame; the function keeps its top-2 rows by value. Arrow moves
    whole groups — at scale, bound group size or pre-aggregate first."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")

    def top2(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.sort_values(
            ["value", "event_id"], ascending=[False, True]
        ).head(2)

    out = ev.groupBy("event_type").applyInPandas(
        top2, schema="event_type string, event_id long, value double"
    )
    return out.orderBy("event_type", "event_id")


@query(
    "variant_parquet_sink",
    oracle=f"""
    SELECT json_extract(props, '$.k')::BIGINT % 10 AS k_mod,
           COUNT(*) AS n, {davg_sql("value", "avg_value")}
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def variant_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variant column through a parquet sink and back: ingest JSON →
    explicit variant struct (each row's metadata holds its own keys) →
    write parquet (rows with the same key set carry identical blobs,
    which parquet dictionary encoding stores once per row group) →
    read back → typed extraction + aggregate."""
    from ..functions import explicit

    path = os.path.join(_IO_DIR, "events_variant")
    ev = load_table(spark, sf_dir, "events")
    enc = ev.select(
        "event_id",
        "value",
        explicit.variant_from_json(F.col("props")).alias("v"),
    )
    enc.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    k = explicit.variant_get(F.col("v"), "$.k", "bigint")
    return (
        back.select("value", (k % 10).alias("k_mod"))
        .groupBy("k_mod")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
             / F.count(F.lit(1))).alias("avg_value"),
        )
        .orderBy("k_mod")
    )
