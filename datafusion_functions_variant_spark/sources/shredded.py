"""Shredded-variant parquet storage: write, read, and path pushdown.

The storage-side counterpart of the query-side shred() discipline
(functions/variant.py:83). Follows the public Parquet variant
shredding design (apache/parquet-format VariantShredding.md): hot
variant paths are materialized as plain typed parquet columns at WRITE
time, with a residual carrying the non-shredded fields. Neither the
reference repo nor its planned DataFusion layer ever built storage
(/root/reference/README.md:13-16) — this is a beyond-reference
component, expressed Spark-first:

* A shredded path is just a typed column, so predicate pushdown,
  row-group min/max pruning, dictionary filtering, and column pruning
  on variant paths are parquet's NATIVE mechanics — no custom reader,
  no per-row variant walk at scan time. ``.explain`` shows the path
  filter under ``PushedFilters`` (plan-pinned in tests/test_plans.py).
* The residual holds only the top-level fields NOT shredded away
  (built via ``from_json → map<string,variant> → map_filter →
  to_variant_object``, all JVM expressions), stored as JSON text and
  NULL when the object was fully shredded. At 100 TB this is the
  difference between scanning bytes for every query and scanning only
  the typed columns a query touches.
* The path→column mapping is recorded in a ``_shred_spec.json``
  sidecar so readers resolve paths without out-of-band knowledge —
  ``shredded_col`` serves a shredded path from its typed column and
  transparently falls back to the residual for everything else. The
  sidecar also records the schema of the written data columns, so
  ``read_shredded`` hands it to the reader instead of running Spark's
  footer-inference job (partition columns are still inferred from the
  directory names, as before).

Nested shredded paths (``$.a.b``) get typed columns too, but residual
removal only applies to top-level keys — removing a leaf from a nested
object server-side would force a recursive rebuild per row; the spec
handles this with nested shredding groups, which map naturally onto
re-running write_shredded on an exploded child column if ever needed.

Wildcard paths (``$.items[*].price``) shred one field out of EVERY
element of an array-of-objects into a typed ``array<T>`` column (a
``transform`` over ``array<variant>`` at write time — the composition
the reference's reader walks per element, ArrayRef read.rs:216-280
over ObjectRef read.rs:99-211, done once at ingest). The parent array
stays in the residual (partial element shredding), so non-shredded
element fields remain reachable through the shredded_col fallback.
"""

from __future__ import annotations

import json
import os
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Sidecar file name recording the shred spec inside a shredded dir.
SPEC_FILE = "_shred_spec.json"

#: Residual column name (JSON text of non-shredded top-level fields).
RESIDUAL_COL = "_residual"


def _wildcard_parts(path: str) -> tuple[str, str] | None:
    """``$.items[*].price`` → (``$.items``, ``$.price``): the array
    prefix and the per-element path. ``$.items[*]`` → (``$.items``,
    ``$``) (elements themselves). None for non-wildcard paths. One
    ``[*]`` step is supported — the reference's read path composes
    ArrayRef over ObjectRef one level at a time too
    (read.rs:216-280 over read.rs:99-211)."""
    if "[*]" not in path:
        return None
    prefix, _, suffix = path.partition("[*]")
    if "[*]" in suffix:
        raise ValueError(f"only one [*] step supported: {path}")
    return prefix, ("$" + suffix) if suffix else "$"


def _shred_expr(v: Column, path: str, dtype: str) -> Column:
    """The write-time extraction for one shred-spec entry. Plain paths
    are a single ``try_variant_get``; wildcard paths extract one field
    from EVERY element of an array-of-objects into a typed array
    column (``$.items[*].price`` + ``array<double>`` → per-row
    ``array<double>`` of all the prices) via ``transform`` over
    ``array<variant>`` — all JVM expressions, no per-row Python."""
    wc = _wildcard_parts(path)
    if wc is None:
        return F.try_variant_get(v, path, dtype)
    if not (dtype.startswith("array<") and dtype.endswith(">")):
        raise ValueError(f"wildcard path {path} needs an array<...> dtype, got {dtype}")
    elem_type = dtype[len("array<") : -1]
    prefix, elem_path = wc
    arr = F.try_variant_get(v, prefix, "array<variant>")
    return F.transform(arr, lambda e: F.try_variant_get(e, elem_path, elem_type))


def _top_level_key(path: str) -> str | None:
    """``$.k`` → ``k``; nested / indexed paths → None (not removable
    from the residual, see module docstring)."""
    if not path.startswith("$."):
        return None
    rest = path[2:]
    if not rest or "." in rest or "[" in rest:
        return None
    return rest


def write_shredded(
    df: DataFrame,
    json_col: str,
    spec: Mapping[str, tuple[str, str]],
    out_dir: str,
    partition_by: Sequence[str] = (),
) -> None:
    """Write ``df`` with ``json_col`` (JSON text or variant) shredded
    into typed columns per ``spec`` (new column name → (json_path,
    spark_type)), plus a residual of the remaining top-level fields.

    All other columns of ``df`` pass through unchanged. The write is a
    single projection over the scan — no shuffle is introduced; pass
    ``partition_by`` to lay out hive partitions for partition pruning.
    """
    src = F.col(json_col)
    is_string = dict(df.dtypes).get(json_col) == "string"
    v = F.try_parse_json(src) if is_string else src

    typed = [
        _shred_expr(v, path, dtype).alias(name)
        for name, (path, dtype) in spec.items()
    ]

    removable = {k for _, (p, _) in spec.items() if (k := _top_level_key(p))}
    # Residual: the source object minus the shredded top-level keys —
    # kept as a map<string,variant> filter so the whole construction
    # stays inside codegen. NULL when nothing remains.
    as_map = F.from_json(
        F.to_json(v) if not is_string else src, "map<string, variant>"
    )
    kept = F.map_filter(
        as_map, lambda k, _: ~k.isin(*removable) if removable else F.lit(True)
    )
    residual = F.when(
        F.size(F.map_keys(kept)) > 0, F.to_json(F.to_variant_object(kept))
    ).alias(RESIDUAL_COL)

    passthrough = [c for c in df.columns if c != json_col]
    out = df.select(*passthrough, *typed, residual)
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_dir)

    data_schema = StructType([f for f in out.schema if f.name not in partition_by])
    with open(os.path.join(out_dir, SPEC_FILE), "w") as fh:
        json.dump(
            {
                "columns": {n: list(pt) for n, pt in spec.items()},
                "schema": data_schema.jsonValue(),
            },
            fh,
            separators=(",", ":"),
        )


def read_shredded(spark: SparkSession, in_dir: str) -> tuple[DataFrame, dict]:
    """Open a shredded dir: returns (DataFrame, spec). The DataFrame
    is a plain parquet scan — filters on shredded columns push down —
    read with the data schema the sidecar recorded, so opening the
    store launches no Spark job."""
    with open(os.path.join(in_dir, SPEC_FILE)) as fh:
        sidecar = json.load(fh)
    spec = {n: tuple(pt) for n, pt in sidecar["columns"].items()}
    schema = StructType.fromJson(sidecar["schema"])
    return spark.read.schema(schema).parquet(in_dir), spec


def shredded_col(spec: Mapping[str, tuple[str, str]], path: str, dtype: str) -> Column:
    """Resolve a variant path against a shredded store: the typed
    column when the path was shredded (cast if a different type is
    asked for), else an extraction from the residual. Queries written
    against this helper are storage-layout independent — re-shredding
    with more paths only makes them faster."""
    for name, (spath, sdtype) in spec.items():
        if spath == path:
            c = F.col(name)
            return c if sdtype == dtype else c.cast(dtype)
    return _shred_expr(F.try_parse_json(F.col(RESIDUAL_COL)), path, dtype)
