"""Graph-style and multi-pass pipeline operators: connected-component
dedup clustering (iterative DataFrame fixpoint), the global two-pass
variant dictionary (SURVEY.md §7 "cross-batch dictionaries need a
two-pass job"), a shred-early variant pipeline, and a stream-static
join."""

from __future__ import annotations

import pandas as pd  # noqa: F401  (resolves stringified UDF type hints)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import variant as vfn
from ..operators import graph
from ..sources.tables import load_table
from ..streaming import core as stream_core
from . import dsum, dsum_sql, query


@query(
    "dedup_connected_components",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT a.event_id AS src, b.event_id AS dst
      FROM events a JOIN events b
        ON md5(regexp_replace(trim(lower(a.props)), '\\s+', ' ', 'g'))
         = md5(regexp_replace(trim(lower(b.props)), '\\s+', ' ', 'g'))
       AND a.event_id < b.event_id
      WHERE a.event_id < 2000 AND b.event_id < 2000
    ),
    edges AS (  -- undirected
      SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
    ),
    verts AS (SELECT DISTINCT src AS v FROM edges),
    walk(v, lbl) AS (
      SELECT v, v FROM verts
      UNION
      SELECT e.src, w.lbl
      FROM walk w JOIN edges e ON e.dst = w.v AND w.lbl < e.src
    ),
    labels AS (SELECT v, MIN(lbl) AS component FROM walk GROUP BY v)
    SELECT component, COUNT(*) AS n_members, MAX(v) AS max_member
    FROM labels GROUP BY component
    HAVING COUNT(*) > 1
    ORDER BY component
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster assembly: duplicate-pair edges → connected
    components by iterative min-label propagation (the DataFrame
    fixpoint loop large-scale dedup pipelines run after pair mining —
    operators/graph.py). The oracle walks the same graph with a
    recursive CTE."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") < 2000)
        .select(
            "event_id",
            F.md5(
                F.regexp_replace(F.trim(F.lower("props")), r"\s+", " ")
            ).alias("h"),
        )
    )
    a = ev.select(F.col("event_id").alias("src"), "h")
    b = ev.select(F.col("event_id").alias("dst"), "h")
    pairs = a.join(b, "h").where(F.col("src") < F.col("dst")).select("src", "dst")
    labels = graph.min_label_components(pairs)
    return (
        labels.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"), F.max("v").alias("max_member"))
        .where(F.col("n_members") > 1)
        .orderBy("component")
    )


@query(
    "variant_global_dictionary",
    oracle="""
    WITH keys AS (
      SELECT DISTINCT unnest(json_keys(props)) AS k FROM events
    ),
    dict AS (SELECT string_agg(k, ',' ORDER BY k) AS key_list,
                    COUNT(*) AS n_keys
             FROM keys)
    SELECT d.key_list, d.n_keys, COUNT(*) AS n_rows,
           CAST(SUM(json_extract(e.props, '$.k')::BIGINT) AS BIGINT) AS sum_k
    FROM events e, dict d
    GROUP BY d.key_list, d.n_keys
    """,
)
def variant_global_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's batch-shared dictionary taken GLOBAL (SURVEY.md
    §7: two-pass encode): pass 1 collects the distinct key universe
    (one distinct-agg, tiny result), pass 2 encodes every row against
    the single broadcast dictionary — all rows share ONE metadata blob,
    where Track C's ingest gives each row a blob of its own keys.
    Output proves the invariant: one dictionary, every row decodable."""
    from .. import codec
    from ..functions import explicit
    from ..functions.explicit import VARIANT_STRUCT

    from pyspark.sql.pandas.functions import pandas_udf

    ev = load_table(spark, sf_dir, "events")
    # pass 1: key universe (JVM-side JSON key extraction, distinct agg).
    # The global dict IS driver state, but it must be BOUNDED: collect
    # at most cap+1 keys and refuse beyond that — an unbounded key
    # space (e.g. ids-as-keys) should use the per-row dictionaries of
    # Track C (functions/explicit.py), not a global one.
    cap = 1 << 16
    keys_rows = (
        ev.select(F.explode(F.json_object_keys("props")).alias("k"))
        .distinct()
        .limit(cap + 1)
        .collect()
    )
    if len(keys_rows) > cap:
        raise ValueError(
            f"global dictionary key universe exceeds {cap} keys; "
            "use per-row dictionaries (explicit.variant_from_json) instead"
        )
    key_universe = sorted(r["k"] for r in keys_rows)
    meta = codec.build_metadata(key_universe)

    # pass 2: encode against the broadcast dictionary (closure-captured
    # bytes — Spark ships them once per executor, not per row)
    @pandas_udf(VARIANT_STRUCT)
    def encode_global(texts: pd.Series) -> pd.DataFrame:
        import json as _json

        m = codec.Metadata(meta)
        values = []
        for t in texts:
            if t is None:
                values.append(None)
                continue
            buf = bytearray()
            codec.convert_value(_json.loads(t), buf, m)
            values.append(bytes(buf))
        return pd.DataFrame({"metadata": [meta] * len(values), "value": values})

    enc = ev.select("event_id", encode_global(F.col("props")).alias("v"))
    return enc.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(explicit.variant_get(F.col("v"), "$.k", "bigint"))
        .cast("long")
        .alias("sum_k"),
    ).select(
        F.lit(",".join(key_universe)).alias("key_list"),
        F.lit(len(key_universe)).cast("long").alias("n_keys"),
        "n_rows",
        "sum_k",
    )


@query(
    "variant_global_dictionary_wide",
    oracle="""
    WITH d AS (
      SELECT (e.event_id * 8 + g.i) AS kid
      FROM events e
      CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) g
    )
    SELECT CAST(COUNT(DISTINCT kid) AS BIGINT) AS n_keys,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(kid) AS BIGINT) AS sum_kid,
           CAST(SUM(kid % 97) AS BIGINT) AS sum_v
    FROM d
    """,
)
def variant_global_dictionary_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``variant_global_dictionary`` beyond its 2^16-key refusal
    (VERDICT r10 ask #7): the TWO-PASS DISTRIBUTED dictionary. The
    synthetic corpus fans every event into 8 one-key JSON objects with
    globally unique keys ('k' + event_id*8+i), so the key universe is
    8x the events table — 80,000 keys at the sf0.01 driver gate,
    clearing 2^16 by design.

    Pass 1 extracts the key universe JVM-side (json_object_keys →
    explode → distinct; one narrow distinct-agg shuffle), builds ONE
    metadata blob driver-side from the sorted keys, and ships it with
    ``sc.broadcast`` — per-executor, fetched once, NOT closure-pickled
    per task and NOT materialized per row. Pass 2 encodes each row
    against the shared dictionary; encoded rows carry ONLY their
    ~10-byte value (field ids reference the broadcast dictionary),
    which is the global extension of the reference's batch-shared
    design (json.rs:165-170 shares the dictionary per Arrow batch
    through a dictionary-encoded column; Track C's ingest gives each
    row a blob of its own keys instead). The
    verification decode walks every value back through the same
    broadcast dictionary (codec.to_python) and re-derives key ids and
    values — one dictionary, every row decodable.

    Driver state is O(distinct keys) during the blob build — bounded
    and refused loudly past 2^24 keys (~hundreds of MB of strings; at
    THAT point the key space is data, not schema, and the per-row
    dictionaries of Track C are the right tool)."""
    from .. import codec

    from pyspark.sql.pandas.functions import pandas_udf

    ev = load_table(spark, sf_dir, "events")
    corpus = (
        ev.select(
            F.explode(F.expr("sequence(0, 7)")).alias("i"), "event_id"
        )
        .select((F.col("event_id") * 8 + F.col("i")).alias("kid"))
        .select(
            F.to_json(
                F.create_map(
                    F.concat(F.lit("k"), F.col("kid").cast("string")),
                    (F.col("kid") % 97).cast("long"),
                )
            ).alias("js")
        )
    )

    # pass 1: distributed distinct over the key universe; only the
    # DISTINCT keys ever reach the driver
    keys_df = corpus.select(
        F.explode(F.json_object_keys("js")).alias("k")
    ).distinct()
    cap = 1 << 24
    key_universe = sorted(r["k"] for r in keys_df.limit(cap + 1).collect())
    if len(key_universe) > cap:
        raise ValueError(
            f"global dictionary key universe exceeds {cap} keys; "
            "use per-row dictionaries (explicit.variant_from_json) instead"
        )
    n_keys = len(key_universe)
    meta_bc = spark.sparkContext.broadcast(
        bytes(codec.build_metadata(key_universe))
    )

    # pass 2: encode against the broadcast dictionary — rows keep only
    # their value bytes, never a per-row copy of the metadata blob
    @pandas_udf("binary")
    def encode_wide(texts: pd.Series) -> pd.Series:
        import json as _json

        m = codec.Metadata(meta_bc.value)
        values = []
        for t in texts:
            buf = bytearray()
            codec.convert_value(_json.loads(t), buf, m)
            values.append(bytes(buf))
        return pd.Series(values)

    @pandas_udf("struct<key: string, v: long>")
    def decode_wide(vals: pd.Series) -> pd.DataFrame:
        m = codec.Metadata(meta_bc.value)
        ks, vs = [], []
        for b in vals:
            ((k, vv),) = tuple(codec.Variant(b).get_object().items(m))
            ks.append(k)
            vs.append(int(codec.to_python(vv, m)))
        return pd.DataFrame({"key": ks, "v": vs})

    dec = (
        corpus.select(encode_wide(F.col("js")).alias("value"))
        .select(decode_wide(F.col("value")).alias("d"))
        .select("d.key", "d.v")
    )
    return dec.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.expr("cast(substr(key, 2) as bigint)")).alias("sum_kid"),
        F.sum("v").alias("sum_v"),
    ).select(
        F.lit(n_keys).cast("long").alias("n_keys"),
        F.col("n_rows").cast("long"),
        F.col("sum_kid").cast("long"),
        F.col("sum_v").cast("long"),
    )


@query(
    "variant_shred_pipeline",
    oracle=f"""
    SELECT e.event_type, o.o_orderpriority, COUNT(*) AS n,
           {dsum_sql("e.value", "sum_value")}
    FROM (SELECT event_type, value, user_id,
                 json_extract(props, '$.k')::BIGINT AS k
          FROM events) e
    JOIN orders o ON o.o_custkey = e.user_id AND (o.o_orderkey % 100) = e.k
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def variant_shred_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shred-early discipline end-to-end (SURVEY.md §4): the variant
    field $.k becomes a typed column BEFORE the join, so the join
    condition, filters, and agg all run on native columns — no per-row
    variant walk inside the join loop, full pushdown/pruning below it."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", F.parse_json("props")
    )
    shredded = vfn.shred(ev, "v", {"k": ("$.k", "bigint")})
    o = load_table(spark, sf_dir, "orders")
    return (
        shredded.join(
            o,
            (o.o_custkey == shredded.user_id)
            & ((o.o_orderkey % 100) == shredded.k),
        )
        .groupBy("event_type", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "sum_value"))
        .orderBy("event_type", "o_orderpriority")
    )


@query(
    "stream_static_join",
    oracle=f"""
    WITH mx AS (SELECT max(ts) AS mt FROM events)
    SELECT c.c_mktsegment,
           strftime(time_bucket(INTERVAL '1 hour', e.ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           COUNT(*) AS n, {dsum_sql("e.value", "sum_value")}
    FROM events e JOIN customer c ON c.c_custkey = e.user_id, mx
    WHERE time_bucket(INTERVAL '1 hour', e.ts) + INTERVAL '1 hour'
          <= mt - INTERVAL '1 minute'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriches against the
    static customer dim (broadcast per micro-batch — no stream state),
    then a watermarked tumbling aggregate. The standard streaming
    enrichment topology; dim updates are picked up per batch."""
    st = stream_core.read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = st.join(F.broadcast(cust), st.user_id == cust.c_custkey)
    agg = (
        joined.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("win"), "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "c_mktsegment",
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n",
            "sum_value",
        )
    )
    out = stream_core.run_to_batch(agg, "append")
    return out.orderBy("c_mktsegment", "window_start")
